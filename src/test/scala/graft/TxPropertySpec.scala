package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import graft.lake.LakeCatalog

/** Property tests for transactional invariants (SURVEY.md §5): under any
  * random interleaving of commits, failed transactions and concurrent
  * writers, the demo-1 invariant holds — every committed order has
  * decremented inventory exactly once, and failed transactions leave no
  * partial state. */
class TxPropertySpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): LakeCatalog = {
    val cat = new LakeCatalog(spark, tmpDir("lakeprop"))
    cat.createTable("inv", StructType(Seq(
      StructField("pid", IntegerType), StructField("qty", IntegerType))),
      primaryKey = Seq("pid"))
    cat.createTable("ord", StructType(Seq(
      StructField("oid", IntegerType), StructField("pid", IntegerType),
      StructField("n", IntegerType))), primaryKey = Seq("oid"))
    cat.insert("inv", Seq((1, 100), (2, 100), (3, 100)).toDF("pid", "qty"))
    cat
  }

  // an op: (orderId, productId, amount, failAfterInsert)
  private val opGen: Gen[(Int, Int, Int, Boolean)] = for {
    oid <- Gen.choose(1, 1000000)
    pid <- Gen.choose(1, 3)
    n <- Gen.choose(1, 5)
    fail <- Gen.frequency(3 -> false, 1 -> true)
  } yield (oid, pid, n, fail)

  test("random txn interleavings keep inventory+orders consistent") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(6, opGen)) { ops =>
      val cat = freshCat()
      val deduped = ops.zipWithIndex.map { case ((_, p, n, f), i) => (i + 1, p, n, f) }
      deduped.foreach { case (oid, pid, n, fail) =>
        try cat.transaction { tx =>
          tx.insert("ord", Seq((oid, pid, n)).toDF("oid", "pid", "n"))
          tx.update("inv", col("pid") === pid, Map("qty" -> (col("qty") - n)))
          if (fail) throw new RuntimeException("injected failure")
        } catch { case _: RuntimeException => () }
      }
      // invariant: for each product, 100 - committed order quantity == qty
      val ordered = cat.read("ord").groupBy("pid")
        .agg(sum("n").as("total")).as[(Int, Long)].collect().toMap
      val inv = cat.read("inv").as[(Int, Int)].collect().toMap
      val committed = deduped.filterNot(_._4)
      val ok = (1 to 3).forall { p =>
        inv(p) == 100 - ordered.getOrElse(p, 0L) &&
          ordered.getOrElse(p, 0L) ==
            committed.filter(_._2 == p).map(_._3.toLong).sum
      }
      // and no partial state from failed txns
      val failedOids = deduped.filter(_._4).map(_._1).toSet
      val leaked = cat.read("ord").select("oid").as[Int].collect()
        .count(failedOids.contains)
      ok && leaked == 0
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("tableChanges equals a reference multiset diff over every window of random DML") {
    // the O(churn) fast paths (append-only, churned-files, additive
    // evolution) must be OBSERVATIONALLY IDENTICAL to the definition:
    // diff the two snapshots' rows on their common columns, classify by
    // key. The reference here is re-derived in plain Scala on collected
    // rows — independent of the production plan entirely.
    // Each op runs on two tables in one commit: keyed `ord`, and keyless
    // `dup`, whose rows come in identical pairs (multiplicity 2 on both
    // sides of a diff) and half of whose oids are NULL; `dup` is diffed
    // keyless and with keyCols = oid (a key that holds NULLs).
    // ops: 0=insert 1=update 2=CoW delete 3=compact 4=MoR delete
    //      5=ADD COLUMN 6=DROP latest added column
    val dmlGen: Gen[Int] = Gen.choose(0, 6)
    val tables = Seq("ord", "dup")
    val prop = Prop.forAllNoShrink(Gen.listOfN(6, dmlGen)) { ops =>
      val cat = freshCat()
      cat.createTable("dup", StructType(Seq(StructField("oid", IntegerType),
        StructField("pid", IntegerType), StructField("n", IntegerType))))
      var nextOid = 1000
      var added = List.empty[String]
      var colN = 0
      def dupRows(oid: Int, pid: Int, n: Int) = {
        val r = Seq((Option(oid), pid, n), (Option.empty[Int], pid, n))
        (r ++ r).toDF("oid", "pid", "n")
      }
      cat.transaction { tx =>
        tx.insert("ord", Seq((1, 1, 1), (2, 2, 2), (3, 3, 3))
          .toDF("oid", "pid", "n"))
        tx.insert("dup", dupRows(1, 1, 1).union(dupRows(2, 2, 2)))
      }
      val vStart = cat.currentVersion
      // the metadata row count must track the rows a read returns (MoR
      // deletes keep it as rowCount - dvRows) after every op
      val countsOk = ops.map { op =>
        cat.transaction { tx =>
          op match {
            case 0 =>
              tx.insert("ord", Seq((nextOid, 1, 1), (nextOid + 1, 2, 2))
                .toDF("oid", "pid", "n"))
              tx.insert("dup", dupRows(nextOid, 1, 1))
              nextOid += 2
            case 1 => tables.foreach(tx.update(_, col("pid") === 1, Map("n" -> lit(9))))
            case 2 => tables.foreach(tx.delete(_, col("oid") % 3 === 0))
            case 3 => tables.foreach(tx.compact(_, 1L << 20))
            case 4 => tables.foreach(tx.deleteMor(_, col("oid") % 3 === 1))
            case 5 =>
              tables.foreach(tx.addColumn(_, s"x$colN", LongType, Some("0")))
              added ::= s"x$colN"; colN += 1
            case 6 => added match {
              case c :: rest =>
                tables.foreach(tx.dropColumn(_, c)); added = rest
              case Nil =>
                tx.insert("ord", Seq((nextOid, 3, 3)).toDF("oid", "pid", "n"))
                tx.insert("dup", dupRows(nextOid, 3, 3))
                nextOid += 1
            }
          }
        }
        tables.forall { t =>
          val meta = cat.statsAgg(t).head().getLong(0)
          val live = cat.read(t).count()
          if (meta != live) System.err.println(
            s"$t after op $op (ops=$ops): statsAgg n=$meta, read count=$live")
          meta == live
        }
      }
      val vEnd = cat.currentVersion
      def rows(t: String, v: Long, cols: Seq[String]): Map[Seq[String], Int] =
        cat.readAt(t, v).select(cols.map(col): _*).collect()
          .map(_.toSeq.map(String.valueOf)).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
      val windows = (vStart until vEnd).map(v => (v, v + 1)) :+
        ((vStart, vEnd))
      // (table, keyCols passed, the key the reference pairs updates on)
      val feeds = Seq(("ord", Nil, Some("oid")), ("dup", Nil, None),
        ("dup", Seq("oid"), Some("oid")))
      val diffsOk = windows.forall { case (f, to) => feeds.forall {
        case (t, keyCols, key) =>
          val common = cat.readAt(t, f).columns
            .intersect(cat.readAt(t, to).columns).toSeq
          val b = rows(t, f, common); val a = rows(t, to, common)
          def minus(x: Map[Seq[String], Int], y: Map[Seq[String], Int]) =
            x.flatMap { case (r, nx) =>
              val d = nx - y.getOrElse(r, 0)
              if (d > 0) Some(r -> d) else None
            }
          val appeared = minus(a, b); val vanished = minus(b, a)
          // a key (NULL included) with rows on both sides is an update
          val ki = key.map(common.indexOf)
          val updKeys = ki.toSet.flatMap((i: Int) =>
            appeared.keySet.map(_(i)).intersect(vanished.keySet.map(_(i))))
          def classify(m: Map[Seq[String], Int], hit: String, miss: String) =
            m.map { case (r, c) =>
              ((if (ki.exists(i => updKeys.contains(r(i)))) hit else miss) +: r) -> c }
          val expected = classify(appeared, "update_postimage", "insert") ++
            classify(vanished, "update_preimage", "delete")
          val got = cat.tableChanges(t, f, to, keyCols)
            .select(("change_type" +: common).map(col): _*).collect()
            .map(_.toSeq.map(String.valueOf)).toSeq
            .groupBy(identity).view.mapValues(_.size).toMap
          val ok = got == expected
          if (!ok) System.err.println(
            s"$t keys=$keyCols window ($f,$to) ops=$ops\n got=$got\n exp=$expected")
          ok
      }}
      countsOk.forall(identity) && diffsOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("CDC stream keeps a replica equal to the source under random DML and passes") {
    // the change-feed STREAM composed end to end: random DML on the
    // source, checkpointed applyPass at random points (each pass
    // re-anchors at the then-current schema), additive evolution
    // mirrored onto the replica — after every pass and at the end the
    // replica must equal the source ROW FOR ROW on the full current
    // schema. Exercises: multi-commit batches (net-per-key apply),
    // MoR tombstones read through the merged view, compaction windows
    // skipped, anchor default-fill for pre-evolution rows, batch-id
    // dedup across passes sharing one checkpoint.
    // ops: 0=insert 1=update 2=CoW delete 3=compact 4=MoR delete
    //      5=ADD COLUMN (mirrored on replica) 6=applyPass
    val dmlGen: Gen[Int] = Gen.frequency(
      3 -> 0, 2 -> 1, 1 -> 2, 1 -> 3, 1 -> 4, 1 -> 5, 3 -> 6)
    val prop = Prop.forAllNoShrink(Gen.listOfN(7, dmlGen)) { ops =>
      val cat = freshCat()
      val ckpt = tmpDir("cdcprop_ckpt")
      cat.createTable("rep", StructType(Seq(
        StructField("oid", IntegerType), StructField("pid", IntegerType),
        StructField("n", IntegerType))))
      cat.insert("ord", Seq((1, 1, 1), (2, 2, 2), (3, 3, 3))
        .toDF("oid", "pid", "n"))
      var nextOid = 1000
      var colN = 0
      def equalNow(): Boolean = {
        val src = cat.read("ord"); val rep = cat.read("rep")
        rep.exceptAll(src).isEmpty && src.exceptAll(rep).isEmpty
      }
      val stepsOk = ops.map {
        case 0 =>
          cat.insert("ord", Seq((nextOid, 1, 1), (nextOid + 1, 2, 2))
            .toDF("oid", "pid", "n"))
          nextOid += 2; true
        case 1 => cat.update("ord", col("pid") === 1, Map("n" -> lit(9))); true
        case 2 => cat.delete("ord", col("oid") % 3 === 0); true
        case 3 => cat.compact("ord", 1L << 20); true
        case 4 => cat.deleteMor("ord", col("oid") % 3 === 1); true
        case 5 =>
          cat.transaction(_.addColumn("ord", s"x$colN", LongType, Some("7")))
          cat.transaction(_.addColumn("rep", s"x$colN", LongType, Some("7")))
          colN += 1; true
        case 6 =>
          graft.streaming.ChangeFeed.applyPass(
            cat, "ord", "rep", Seq("oid"), ckpt)
          val ok = equalNow()
          if (!ok) System.err.println(s"replica diverged mid-run ops=$ops")
          ok
      }
      graft.streaming.ChangeFeed.applyPass(cat, "ord", "rep", Seq("oid"), ckpt)
      val finalOk = equalNow()
      if (!finalOk) System.err.println(s"replica diverged at end ops=$ops")
      stepsOk.forall(identity) && finalOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("MV refresh equals a full recompute after any random churn sequence") {
    // the MV routing (insert-only fast fold vs exact recompute vs full
    // reload, manifest-gated noops, the one-pass merge) must be
    // invisible: after every refresh each MV is row-identical to
    // recomputing its aggregate from scratch. One op stream maintains a
    // min/max MV, a sum-only MV (emptied groups delete) and a min/max
    // join MV over a dim whose rows move between groups (the join legs).
    // ops: 0=insert 1=update 2=CoW delete 3=MoR delete
    //      4=unrelated-table commit 5=refresh now 6=vacuum(keepLast=2)
    //      7=dim update
    val dmlGen: Gen[Int] = Gen.frequency(
      3 -> 0, 2 -> 1, 2 -> 2, 2 -> 3, 2 -> 4, 3 -> 5, 1 -> 6, 2 -> 7)
    val prop = Prop.forAllNoShrink(Gen.listOfN(8, dmlGen)) { ops =>
      val cat = new LakeCatalog(spark, tmpDir("lakemvprop"))
      cat.createTableAs("other", spark.range(3).toDF("id"))
      cat.createTableAs("base", spark.range(0, 120)
        .selectExpr("id", "id % 5 AS k",
          "CASE WHEN id % 11 = 0 THEN NULL ELSE id * 3 END AS v"))
      cat.createTableAs("dm", spark.range(5).selectExpr("id AS k", "id % 2 AS grp"))
      graft.lake.Mv.create(cat, "base_by_k", "base", Seq("k"),
        sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
      graft.lake.Mv.create(cat, "base_sum", "base", Seq("k"), Seq("v"))
      graft.lake.Mv.createJoin(cat, "base_by_grp", "base", "dm", "k", "k",
        None, Seq("grp"), sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
      val mvs = Seq("base_by_k", "base_sum", "base_by_grp")
      var nextId = 1000L
      def recompute(mv: String) = {
        val (src, key) =
          if (mv == "base_by_grp") (cat.read("base").join(cat.read("dm"), "k"), "grp")
          else (cat.read("base"), "k")
        val aggs = Seq(count(lit(1)).as("n_rows"),
          coalesce(sum("v"), lit(0L)).as("sum_v")) ++
          (if (mv == "base_sum") Nil else Seq(min("v").as("min_v"), max("v").as("max_v")))
        src.groupBy(key).agg(aggs.head, aggs.tail: _*)
          .orderBy(key).collect().map(_.toString).toSeq
      }
      def mvState(mv: String) = {
        val cols = (if (mv == "base_by_grp") "grp" else "k") +:
          (Seq("n_rows", "sum_v") ++
            (if (mv == "base_sum") Nil else Seq("min_v", "max_v")))
        cat.read(mv).select(cols.map(col): _*).orderBy(cols.head)
          .collect().map(_.toString).toSeq
      }
      def refreshAll(): Boolean = mvs.forall { mv =>
        val mode = graft.lake.Mv.refresh(cat, mv)
        val ok = mvState(mv) == recompute(mv)
        if (!ok) System.err.println(s"$mv after $mode refresh (ops=$ops)\n" +
          s" got=${mvState(mv)}\n exp=${recompute(mv)}")
        ok
      }
      var midOk = true
      ops.foreach {
        case 0 =>
          cat.insert("base", spark.range(nextId, nextId + 30)
            .selectExpr("id", "id % 5 AS k",
              "CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS v"))
          nextId += 30
        case 1 => cat.update("base", col("id") % 4 === 1,
          Map("v" -> (col("v") - 100L)))
        case 2 => cat.delete("base", col("id") % 9 === 2)
        case 3 => cat.deleteMor("base", col("id") % 13 === 3)
        case 4 => cat.insert("other",
          spark.range(nextId, nextId + 1).toDF("id")); nextId += 1
        case 5 => if (!refreshAll()) midOk = false
        case 6 =>
          try cat.vacuum(keepLast = 2)
          catch { case _: RuntimeException => () } // nothing to expire
        case 7 => cat.update("dm", col("k") === nextId % 5,
          Map("grp" -> (col("grp") + 1L) % 3L)); nextId += 1
      }
      refreshAll() && midOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental manifests replay identically from a cold catalog") {
    // the delta/blob/merge layer must be invisible: after any random DML
    // sequence, a FRESH catalog (cold caches, state rebuilt purely from
    // stored documents + blobs) sees byte-identical tables at EVERY
    // version as the catalog that wrote them
    // 0=insert 1=update 2=delete 3=compact 4=cluster 5=zorder
    // 6=MoR delete 7=restore-to-previous 8=clone+replace (WAP round)
    // 9=truncate 10=partition-spec toggle 11=retention delete
    // 12=zero-copy external import 13=clause merge
    val dmlGen: Gen[Int] = Gen.choose(0, 13)
    val prop = Prop.forAllNoShrink(Gen.listOfN(8, dmlGen)) { ops =>
      val cat = freshCat()
      val v0 = cat.currentVersion // ord exists from here on
      var nextOid = 1
      ops.foreach {
        case 0 =>
          cat.insert("ord", Seq((nextOid, 1, 1), (nextOid + 1, 2, 2))
            .toDF("oid", "pid", "n"))
          nextOid += 2
        case 1 => cat.update("ord", col("pid") === 1, Map("n" -> lit(9)))
        case 2 => cat.delete("ord", col("oid") % 3 === 0)
        case 3 => cat.compact("ord", 1L << 20)
        case 4 => cat.cluster("ord", Seq("oid"), 8L << 10)
        case 5 => cat.zorder("ord", Seq("oid", "n"), 8L << 10)
        case 6 => cat.deleteMor("ord", col("oid") % 3 === 1)
        case 7 =>
          val back = math.max(v0, cat.currentVersion - 1)
          cat.restoreTable("ord", back)
        case 8 => cat.transaction { tx =>
          tx.cloneTable("ord", "ord_stage")
          tx.insert("ord_stage", Seq((8000 + nextOid, 3, 1))
            .toDF("oid", "pid", "n"))
          tx.replaceTable("ord", "ord_stage")
          tx.dropTable("ord_stage")
        }; nextOid += 1
        case 9 => cat.truncateTable("ord")
        case 10 =>
          val cur = cat.current.tables("ord").partitionBy
          cat.setPartitionBy("ord", if (cur == Seq("pid")) Nil else Seq("pid"))
        case 11 => cat.deletePartitions("ord", Map("pid" -> "2"))
        case 12 =>
          val ext = java.nio.file.Files
            .createTempDirectory("graft_prop_ext_").toString
          Seq((9000 + nextOid, 4, 1), (9001 + nextOid, 4, 2))
            .toDF("oid", "pid", "n").coalesce(1)
            .write.mode("overwrite").parquet(ext)
          cat.addDataFiles("ord", ext)
          nextOid += 2
        case 13 =>
          // fresh key offset 20000: keeps the generated row disjoint from
          // the fixed oid=1 probe (at nextOid=1 they'd collide and the
          // engine would — correctly — refuse the non-unique source)
          cat.mergeClauses("ord",
            Seq((20000 + nextOid, 5, 1), (1, 1, 7)).toDF("oid", "pid", "n"),
            Seq("oid"), graft.lake.MergeClauses(
              matchedDelete = Some("t.n > 8"),
              matchedUpdate = Some("s.n > t.n"),
              notMatchedInsert = Some("n > 0"),
              bySourceDelete = Some("t.pid = 99")))
          nextOid += 1
        case _ => ()
      }
      val cold = new LakeCatalog(spark, cat.root)
      (v0 to cat.currentVersion).forall { v =>
        val warm = cat.readAt("ord", v).orderBy("oid")
          .as[(Int, Int, Int)].collect().toSeq
        val replay = cold.readAt("ord", v).orderBy("oid")
          .as[(Int, Int, Int)].collect().toSeq
        warm == replay
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("auto-compaction under random DML is data-invisible and replays cold") {
    // the byte-aware policy (maybeAutoCompact -> Tx.compactSmall) fires
    // nondeterministically between operations as file counts drift; it
    // must never change WHAT the table contains — only the layout. Run
    // the same random op sequence against a policy-armed catalog and an
    // unarmed twin: every intermediate read and the cold replay must
    // agree row-for-row.
    val dmlGen: Gen[Int] = Gen.choose(0, 4)
    val prop = Prop.forAllNoShrink(Gen.listOfN(8, dmlGen)) { ops =>
      val a = freshCat(); val b = freshCat()
      // tiny cap + tiny target: the policy fires often in the sequence
      a.autoCompact("ord", maxFiles = 2, targetFileBytes = 1L << 20)
      def apply(cat: LakeCatalog, op: Int, i: Int): Unit = op match {
        case 0 | 1 =>
          cat.insert("ord", Seq((i * 10 + 1, 1, 1), (i * 10 + 2, 2, 2))
            .toDF("oid", "pid", "n"))
        case 2 => cat.update("ord", col("pid") === 1, Map("n" -> lit(5)))
        case 3 => cat.delete("ord", col("oid") % 4 === 0)
        case 4 => cat.deleteMor("ord", col("oid") % 5 === 1)
        case _ => ()
      }
      val agree = ops.zipWithIndex.forall { case (op, i) =>
        apply(a, op, i); apply(b, op, i)
        a.read("ord").orderBy("oid").as[(Int, Int, Int)].collect().toSeq ==
          b.read("ord").orderBy("oid").as[(Int, Int, Int)].collect().toSeq
      }
      val cold = new LakeCatalog(spark, a.root)
      agree &&
        cold.read("ord").orderBy("oid").as[(Int, Int, Int)].collect().toSeq ==
          b.read("ord").orderBy("oid").as[(Int, Int, Int)].collect().toSeq
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("concurrent writers during schema evolution stay isolated (demo 3)") {
    // ref demos/03_schema_evolution/demo.py:32-72: a background thread
    // keeps inserting while the main thread evolves the schema
    val cat = freshCat()
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    val writer = Future {
      (1 to 10).foreach { i =>
        cat.insert("ord", Seq((9000 + i, 1, 1)).toDF("oid", "pid", "n"))
      }
    }
    val evolver = Future {
      cat.transaction(_.addColumn("ord", "src", StringType, Some("'legacy'")))
      cat.transaction(_.renameColumn("ord", "src", "origin"))
    }
    Await.result(Future.sequence(Seq(writer, evolver)), 180.seconds)
    val rows = cat.read("ord")
    assert(rows.count() === 10)
    assert(rows.columns.contains("origin"))
    // every row reads a value for the evolved column (default applied to
    // files written before the ADD COLUMN)
    assert(rows.filter(col("origin").isNull).count() === 0)
  }

  test("K racing writers x M commits land exactly once; disjoint writers rebase") {
    // K writer threads released together, each committing M single-row
    // transactions into one shared table (true write-write conflicts:
    // losers re-run their body) or into a table of its own (losers
    // REBASE: republish on the new head without re-running the body).
    // Body runs are counted locally — LakeCatalog.occRetries is one
    // JVM-wide counter that concurrently running suites share.
    val caseGen = for {
      k <- Gen.choose(2, 4)
      m <- Gen.choose(1, 3)
      disjoint <- Gen.oneOf(false, true)
    } yield (k, m, disjoint)
    val prop = Prop.forAllNoShrink(caseGen) { case (k, m, disjoint) =>
      val cat = new LakeCatalog(spark, tmpDir("lakerace"))
      val tableOf = (w: Int) => if (disjoint) s"w$w" else "shared"
      val tables = (0 until k).map(tableOf).distinct
      tables.foreach(t =>
        cat.createTable(t, StructType(Seq(StructField("id", LongType)))))
      val v0 = cat.currentVersion
      val bodies = new java.util.concurrent.atomic.AtomicInteger()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writers = (0 until k).map { w =>
        new Thread(() => try {
          gate.await()
          (0 until m).foreach { i =>
            val id = w * 1000L + i
            cat.transaction { tx =>
              bodies.incrementAndGet()
              tx.insert(tableOf(w), spark.range(id, id + 1).toDF("id"))
            }
          }
        } catch { case e: Throwable => errors.add(e) })
      }
      writers.foreach(_.start()); gate.countDown(); writers.foreach(_.join())
      val ids = tables.flatMap(t => cat.read(t).as[Long].collect()).sorted
      val expected = (0 until k).flatMap(w => (0 until m).map(w * 1000L + _))
      val versions = cat.currentVersion - v0
      Prop.all(
        errors.isEmpty :| s"writer failed: ${errors.peek()}",
        (ids == expected) :| s"${ids.size} rows landed for K·M = ${k * m}",
        (versions == k * m) :| s"$versions new versions for K·M = ${k * m}",
        (!disjoint || bodies.get == k * m) :|
          s"disjoint writers re-ran bodies: ${bodies.get} runs, ${k * m} commits")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("deletePartitions is semantics-equal to delete on random layouts and probes") {
    // random writes of >= 64 rows (so the harvest records value sets and
    // stats), each over one or two days plus NULL days; each trial runs
    // every partition layout (on the probed column, on another column,
    // none) at a random shuffle width (1: a write is one file; 2: a day
    // may share a file with the NULL bucket) and a random probe (mostly
    // a present day): the fast path must produce exactly what the
    // generic CoW predicate delete produces
    val writeGen = for {
      days <- Gen.frequency(2 -> 1, 1 -> 2).flatMap(Gen.pick(_, 0 to 5))
      n <- Gen.choose(64, 90)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.frequency(3 -> Gen.oneOf(days.toSeq).map(d => s"d$d"),
          1 -> Gen.const(null: String)),
        Gen.choose(0, 2).map(k => s"k$k")))
    } yield rows
    val trialGen = for {
      writes <- Gen.listOfN(2, writeGen)
      width <- Gen.frequency(2 -> 1, 1 -> 2)
      probe <- Gen.frequency( // d6 never exists
        4 -> Gen.oneOf(writes.flatten.flatMap(r => Option(r._1))),
        1 -> Gen.const("d6"))
    } yield (writes, width, probe)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("day", StringType),
      StructField("k", StringType)))
    val widthKey = "spark.sql.shuffle.partitions"
    val prop = Prop.forAllNoShrink(trialGen) { case (writes, width, probe) =>
      val priorWidth = spark.conf.get(widthKey)
      spark.conf.set(widthKey, width.toString)
      try {
        val starts = writes.scanLeft(0)(_ + _.size)
        val batches = writes.zip(starts).map { case (rows, s) =>
          rows.zipWithIndex.map { case ((d, k), i) => (s + i, d, k) }
            .toDF("id", "day", "k")
        }
        def lake(layout: Seq[String]): LakeCatalog = {
          val c = new LakeCatalog(spark, tmpDir("dprop"))
          c.createTable("t", schema, partitionBy = layout)
          batches.foreach(c.insert("t", _))
          c
        }
        val slow = lake(Nil)
        slow.delete("t", col("day") === probe)
        val want = slow.read("t").orderBy("id").collect().toSeq
        Seq(Seq("day"), Seq("k"), Nil).forall { layout =>
          val fast = lake(layout)
          fast.deletePartitions("t", Map("day" -> probe))
          fast.read("t").orderBy("id").collect().toSeq == want
        }
      } finally spark.conf.set(widthKey, priorWidth)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("mergeClauses matches the clause-semantics model on random tables") {
    // random base/source tables + threshold-parameterized clauses vs an
    // in-memory model of the MERGE semantics (delete-before-update order,
    // by-source delete, conditional insert)
    val rowGen = for {
      id <- Gen.choose(1, 12); v <- Gen.choose(-10, 10)
    } yield (id, v)
    def uniq(rows: List[(Int, Int)]): List[(Int, Int)] =
      rows.groupBy(_._1).map(_._2.head).toList
    val tblGen = Gen.listOfN(8, rowGen).map(uniq)
    val prop = Prop.forAllNoShrink(
      tblGen, tblGen, Gen.choose(-5, 5), Gen.choose(-5, 5)) {
      (base, src, dThr, iThr) =>
        val cat = new LakeCatalog(spark, tmpDir("mrgprop"))
        cat.createTable("t", StructType(Seq(
          StructField("id", IntegerType), StructField("v", IntegerType))),
          primaryKey = Seq("id"))
        if (base.nonEmpty) cat.insert("t", base.toDF("id", "v"))
        cat.mergeClauses("t", src.toDF("id", "v"), Seq("id"),
          graft.lake.MergeClauses(
            matchedDelete = Some(s"t.v < $dThr"),
            matchedUpdate = Some("s.v > t.v"),
            notMatchedInsert = Some(s"v > $iThr"),
            bySourceDelete = Some(s"t.v < ${dThr - 3}")))
        val got = cat.read("t").as[(Int, Int)].collect().toMap
        val b = base.toMap; val sm = src.toMap
        val expect = scala.collection.mutable.Map[Int, Int]()
        for ((id, tv) <- b) {
          if (sm.contains(id)) {
            if (!(tv < dThr)) expect(id) = if (sm(id) > tv) sm(id) else tv
          } else if (!(tv < dThr - 3)) expect(id) = tv
        }
        for ((id, sv) <- sm if !b.contains(id) && sv > iThr) expect(id) = sv
        got == expect.toMap
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("manifest file skipping equals the unpruned scan under random predicates") {
    // the worst possible pruning bug is silent: a file wrongly skipped
    // drops matching rows with no error. Fixture: a multi-file lake
    // table (partition layout + bloom index + nulls + several schema-
    // identical batches) vs the SAME rows in plain parquet; any
    // generated predicate must return identical row sets through both.
    val root = tmpDir("pruneprop")
    val cat = new LakeCatalog(spark, root)
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("day", LongType),
      StructField("cat", StringType), StructField("v", DoubleType),
      StructField("d", DateType))),
      primaryKey = Seq("id"), partitionBy = Seq("day"))
    cat.bloomIndex("t", "cat")
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
      "id",
      "id % 11 AS day",
      "IF(id % 17 = 0, NULL, concat('c', CAST(id % 23 AS STRING))) AS cat",
      "IF(id % 13 = 0, NULL, CAST(id AS DOUBLE) / 7.0) AS v",
      "date_add(DATE'2024-01-01', CAST(id % 400 AS INT)) AS d")
    // several commits -> several file groups; an update forces a CoW
    // rewrite so stats are re-harvested on a different code path too
    cat.insert("t", batch(0, 4000))
    cat.insert("t", batch(4000, 7000))
    cat.update("t", col("id") === 123L, Map("v" -> lit(999.5)))
    cat.insert("t", batch(7000, 9000))
    assert(cat.current.tables("t").files.size >= 8,
      "fixture must be multi-file for skipping to matter")
    val plainDir = tmpDir("pruneprop_plain")
    cat.read("t").write.mode("overwrite").parquet(plainDir)
    val plain = spark.read.parquet(plainDir)
    val lake = cat.read("t")
    // predicate generator: random column x op x value (in- and
    // out-of-range on purpose), combined 1-3 deep with AND/OR/NOT
    val leafGen: Gen[org.apache.spark.sql.Column] = for {
      pick <- Gen.choose(0, 15)
      idV <- Gen.choose(-100L, 10000L)
      dayV <- Gen.choose(-2L, 13L)
      catV <- Gen.choose(-3, 26)
      vV <- Gen.choose(-10.0, 1500.0)
      dOff <- Gen.choose(-30, 450)
    } yield pick match {
      case 0 => col("id") < idV
      case 1 => col("id") >= idV
      case 2 => col("day") === dayV
      case 3 => col("day").isin(dayV, dayV + 3, 7L)
      case 4 => col("cat") === s"c$catV"
      case 5 => col("cat").isNull
      case 6 => col("v") > vV
      case 7 => col("v").isNotNull
      case 8 => col("d") <= date_add(lit(java.sql.Date.valueOf("2024-01-01")), dOff)
      case 9 => col("d") > date_add(lit(java.sql.Date.valueOf("2024-01-01")), dOff)
      case 10 => col("cat").startsWith(s"c${math.abs(catV) % 3}")
      // null-safe equality and NOT-equals: prunable arms in
      // GraftFileIndex.keep (EqualNullSafe / Not(EqualTo) /
      // Not(EqualNullSafe)), including the NULL-literal forms
      case 11 => col("cat") <=> s"c$catV"
      case 12 => col("cat") <=> lit(null).cast("string")
      case 13 => col("day") =!= dayV
      case 14 => !(col("cat") <=> s"c$catV")
      case _ => !(col("v") <=> lit(null).cast("double"))
    }
    val predGen: Gen[org.apache.spark.sql.Column] = for {
      a <- leafGen; b <- leafGen; c <- leafGen
      shape <- Gen.choose(0, 4)
    } yield shape match {
      case 0 => a
      case 1 => a && b
      case 2 => a || b
      case 3 => (a && b) || c
      case 4 => a && !b
    }
    val prop = Prop.forAll(predGen) { p =>
      val viaLake = lake.filter(p)
      val viaPlain = plain.filter(p)
      val missing = viaPlain.exceptAll(viaLake).count()
      val extra = viaLake.exceptAll(viaPlain).count()
      Prop(missing == 0L && extra == 0L) :| s"pred=$p missing=$missing extra=$extra"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
