package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{ConstraintViolation, LakeCatalog, Manifest, MergeClauses}
import org.apache.spark.graftshim.ListenerDrain

/** LakeCatalog core semantics: transactions, rollback, time travel,
  * copy-on-write DML, schema evolution — re-enacting the reference demos
  * (demos/01,02,03 of /root/reference) plus the SQL edge cases from the
  * round-1 advisory (NULL-predicate DELETE, PK-preserving type change,
  * PK-colliding UPDATE). */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def newLake(): LakeCatalog = new LakeCatalog(spark, tmpDir("lake"))

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsIn[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try f finally sc.clearJobGroup()
    ListenerDrain.drain(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** A DATE value as a scan returns it (java.sql.Date, or LocalDate
    * under the Java 8 datetime API). */
  private def day(v: Any): java.time.LocalDate = v match {
    case d: java.sql.Date => d.toLocalDate
    case d: java.time.LocalDate => d
  }

  private val invSchema = StructType(Seq(
    StructField("product_id", IntegerType),
    StructField("product_name", StringType),
    StructField("quantity", IntegerType),
    StructField("price", DoubleType)))

  test("create/insert/read round-trip with snapshot per commit") {
    val cat = newLake()
    cat.createTable("inventory", invSchema, primaryKey = Seq("product_id"))
    assert(cat.currentVersion === 1)
    cat.insert("inventory",
      Seq((1, "widget", 10, 9.99), (2, "gadget", 5, 19.5))
        .toDF("product_id", "product_name", "quantity", "price"))
    assert(cat.currentVersion === 2)
    assert(cat.read("inventory").count() === 2)
    assert(cat.readAt("inventory", 1).count() === 0)
  }

  test("multi-table transaction is atomic; rollback discards staged writes") {
    val cat = newLake()
    cat.createTable("inventory", invSchema, primaryKey = Seq("product_id"))
    cat.createTable("orders", StructType(Seq(
      StructField("order_id", IntegerType),
      StructField("product_id", IntegerType),
      StructField("qty", IntegerType))), primaryKey = Seq("order_id"))
    cat.insert("inventory",
      Seq((1, "widget", 10, 9.99)).toDF("product_id", "product_name", "quantity", "price"))
    val v = cat.currentVersion

    // demo-1 scenario: order + stock decrement in ONE transaction
    cat.transaction { tx =>
      tx.insert("orders", Seq((100, 1, 3)).toDF("order_id", "product_id", "qty"))
      tx.update("inventory", col("product_id") === 1,
        Map("quantity" -> (col("quantity") - 3)))
    }
    assert(cat.currentVersion === v + 1) // ONE snapshot for both tables
    assert(cat.read("orders").count() === 1)
    assert(cat.read("inventory").select("quantity").as[Int].head() === 7)

    // failed txn (duplicate PK mid-txn) rolls everything back
    intercept[ConstraintViolation] {
      cat.transaction { tx =>
        tx.insert("orders", Seq((101, 1, 1)).toDF("order_id", "product_id", "qty"))
        tx.insert("orders", Seq((100, 1, 9)).toDF("order_id", "product_id", "qty"))
      }
    }
    assert(cat.currentVersion === v + 1)
    assert(cat.read("orders").count() === 1) // order 101 rolled back too
  }

  test("time travel by version and timestamp; tableChanges diff") {
    val cat = newLake()
    cat.createTable("c", StructType(Seq(
      StructField("id", IntegerType), StructField("email", StringType))))
    cat.insert("c", Seq((1, "a@x"), (2, "b@x")).toDF("id", "email"))
    val v2 = cat.currentVersion
    cat.update("c", col("id") === 2, Map("email" -> lit("b2@x")))
    cat.delete("c", lit(true)) // demo-2 "accidental full delete"
    assert(cat.read("c").count() === 0)
    // recovery from history (demo 2): reinsert the last good version
    cat.insert("c", cat.readAt("c", cat.currentVersion - 1))
    assert(cat.read("c").count() === 2)
    assert(cat.readAt("c", v2).orderBy("id").as[(Int, String)].collect()
      === Array((1, "a@x"), (2, "b@x")))
    val ch = cat.tableChanges("c", v2, v2 + 1)
    assert(ch.filter($"change_type" === "insert").as[(Int, String, String)]
      .collect().map(r => (r._1, r._2)) === Array((2, "b2@x")))
    // timestamp travel: snapshot live "now" is the current one
    assert(cat.versionAsOf(System.currentTimeMillis() + 1000) === cat.currentVersion)
  }

  test("tableChanges pairs delete+insert on the PK as update pre/postimage") {
    val cat = newLake()
    cat.createTable("u", StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))),
      primaryKey = Seq("id"))
    cat.insert("u", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val v1 = cat.currentVersion
    cat.update("u", col("id") === 2, Map("v" -> lit("b2")))
    cat.delete("u", col("id") === 3)
    cat.insert("u", Seq((4, "d")).toDF("id", "v"))
    val got = cat.tableChanges("u", v1, cat.currentVersion)
      .select("change_type", "id", "v").as[(String, Int, String)]
      .collect().sorted
    assert(got === Array(
      ("delete", 3, "c"), ("insert", 4, "d"),
      ("update_postimage", 2, "b2"), ("update_preimage", 2, "b")))
    // default keyCols falls back to the table's primary key
    val dflt = cat.tableChanges("u", v1, cat.currentVersion, keyCols = Nil)
    assert(dflt.filter($"change_type".startsWith("update")).count() === 2)
  }

  test("footer-harvested manifest stats are byte-identical to the Spark cast-to-string harvest") {
    // the write path trusts parquet footer statistics for integral/date
    // stat columns (zero Spark jobs) — manifest stats serve statsAgg as
    // ANSWERS, so they must render exactly as the old distributed
    // harvest did: negative values, epoch-boundary dates, all-NULL and
    // mixed-NULL columns included
    val cat = newLake()
    cat.createTable("ft", StructType(Seq(
      StructField("id", LongType), StructField("neg", LongType),
      StructField("sm", IntegerType), StructField("d", DateType),
      StructField("allnull", LongType))), primaryKey = Seq("id"))
    cat.insert("ft", spark.range(0, 500).selectExpr(
      "id",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id - 250 END AS neg",
      "cast(id % 13 AS int) AS sm",
      "date_add(date'1969-12-01', cast(id AS int)) AS d",
      "cast(NULL AS bigint) AS allnull"))
    val entries = cat.current.tables("ft").files
    assert(entries.nonEmpty)
    // recompute every per-file stat with the SQL engine and compare
    entries.foreach { e =>
      val df = spark.read.parquet(
        new java.io.File(cat.root, e.path).toString)
      Seq("id", "neg", "sm", "d").foreach { c =>
        val r = df.agg(min(col(c)).cast("string"),
          max(col(c)).cast("string")).head()
        val st = e.stats(c)
        assert(st.min === r.getString(0) && st.max === r.getString(1),
          s"footer stat for $c diverges from the SQL harvest")
      }
      assert(!e.stats.contains("allnull"),
        "an all-NULL column must carry no stat, like the old harvest")
    }
    // and the metadata-only aggregate over them answers exactly
    val m = cat.statsAgg("ft", Seq("neg")).head()
    assert(m.getLong(1) === -249L && m.getLong(2) === 249L)
  }

  /** Whether the analyzed plan holds an Aggregate: the change feed's
    * multiset diff is one, and its fast paths plan none at all. */
  private def hasAggregate(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.find(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]).isDefined

  test("tableChanges is O(churn): append-only windows skip the diff; evolution keeps the fast path; renames fall back") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))),
      primaryKey = Seq("id"))
    cat.insert("t", spark.range(0, 200).selectExpr("id", "id * 2 AS v"))
    val v1 = cat.currentVersion
    cat.insert("t", spark.range(200, 300).selectExpr("id", "id * 2 AS v"))
    // append-only: the feed is the new files read directly — NO
    // multiset diff in the plan at all (the O(delta) pin)
    val ap = cat.tableChanges("t", v1, cat.currentVersion)
    assert(!hasAggregate(ap), "append-only window must not plan a diff aggregate")
    assert(ap.filter(col("change_type") =!= "insert").isEmpty)
    assert(ap.count() === 100)
    // ADD COLUMN inside the window: still fast (common columns align
    // by stable id), the new column simply doesn't ride the feed
    val v2 = cat.currentVersion
    cat.transaction(_.addColumn("t", "w", LongType, Some("0")))
    cat.insert("t", spark.range(300, 350)
      .selectExpr("id", "id * 2 AS v", "id AS w"))
    val ev = cat.tableChanges("t", v2, cat.currentVersion)
    assert(!hasAggregate(ev),
      "additive-evolution window must keep the no-diff fast path")
    assert(ev.columns.toSet === Set("id", "v", "change_type"))
    assert(ev.count() === 50)
    // MoR delete window: the churned entries are diffed (old entry vs
    // entry-with-DV), vanished rows surface as deletes
    val v3 = cat.currentVersion
    cat.deleteMor("t", col("id") < 10)
    val mor = cat.tableChanges("t", v3, cat.currentVersion)
      .select("change_type", "id").as[(String, Long)].collect()
    assert(mor.forall(_._1 == "delete") && mor.length === 10)
    // compaction window: physical churn, empty logical feed
    val v4 = cat.currentVersion
    cat.compact("t", targetFileBytes = 128L << 20)
    assert(cat.tableChanges("t", v4, cat.currentVersion).isEmpty)
    // rename inside the window: the renamed column is outside the
    // common-by-name set at both ends — exactly like the slow path's
    // name-intersection — so the fast path REMAINS valid: the feed
    // diffs the survivors and the new rows ride as inserts, no diff op
    val v5 = cat.currentVersion
    cat.transaction(_.renameColumn("t", "w", "w2"))
    cat.insert("t", spark.range(350, 360)
      .selectExpr("id", "id * 2 AS v", "id AS w2"))
    val rn = cat.tableChanges("t", v5, cat.currentVersion)
    assert(!hasAggregate(rn))
    assert(rn.columns.toSet === Set("id", "v", "change_type"))
    assert(rn.filter(col("change_type") === "insert").count() === 10)
    // drop + RE-ADD under the same name (new stable id, default 7):
    // the name now aliases two different columns across the window —
    // the fast path must fall back to the full multiset diff, which
    // honestly reports every surviving row's w2 flip to the new
    // column's default as an update
    val v6 = cat.currentVersion
    cat.transaction { tx =>
      tx.dropColumn("t", "w2")
      tx.addColumn("t", "w2", LongType, Some("7"))
    }
    val ra = cat.tableChanges("t", v6, cat.currentVersion)
    assert(hasAggregate(ra),
      "same-name re-add must fall back to the full multiset diff")
    val live = cat.read("t").count()
    assert(ra.filter(col("change_type") === "update_postimage")
      .filter(col("w2") === 7L).count() === live)
  }

  test("UPDATE still refuses NULL into NOT NULL, a CHECK violation and a duplicated PK") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("v", IntegerType),
      StructField("w", IntegerType))), primaryKey = Seq("id"))
    cat.insert("t", Seq((1, 1, 1), (2, 2, 2), (3, 3, 3)).toDF("id", "v", "w"))
    cat.transaction(_.setNotNull("t", "v"))
    cat.addCheck("t", "w_small", "w < 100")
    val v0 = cat.currentVersion
    intercept[ConstraintViolation] {
      cat.update("t", col("id") === 1, Map("v" -> lit(null).cast(IntegerType)))
    }
    intercept[ConstraintViolation] {
      cat.update("t", col("id") === 2, Map("w" -> lit(500)))
    }
    // both rows are rewritten, so the clash is inside the rewrite itself
    intercept[ConstraintViolation] {
      cat.update("t", col("id") <= 2, Map("id" -> lit(7)))
    }
    assert(cat.currentVersion === v0)
    // an update assigning none of the constrained columns goes through
    cat.update("t", col("id") === 3, Map("w" -> lit(30)))
    assert(cat.read("t").orderBy("id").as[(Int, Int, Int)].collect()
      === Array((1, 1, 1), (2, 2, 2), (3, 3, 30)))
  }

  test("DELETE with NULL-evaluating predicate keeps NULL rows (SQL semantics)") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("v", IntegerType))))
    cat.insert("t", Seq((1, Some(5)), (2, None), (3, Some(20)))
      .toDF("id", "v"))
    cat.delete("t", col("v") > 10) // NULL > 10 => NULL => keep row 2
    assert(cat.read("t").orderBy("id").select("id").as[Int].collect()
      === Array(1, 2))
  }

  test("UPDATE that moves a PK onto a key in an untouched file is rejected") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))),
      primaryKey = Seq("id"))
    cat.insert("t", Seq((1, "a")).toDF("id", "v")) // file 1
    cat.insert("t", Seq((2, "b")).toDF("id", "v")) // file 2
    intercept[ConstraintViolation] {
      cat.update("t", col("id") === 1, Map("id" -> lit(2)))
    }
    // state unchanged after failed commit
    assert(cat.read("t").orderBy("id").as[(Int, String)].collect()
      === Array((1, "a"), (2, "b")))
  }

  test("MERGE on a non-PK key that moves a PK onto a key in an untouched file is rejected") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("code", StringType),
      StructField("v", IntegerType))), primaryKey = Seq("id"))
    cat.insert("t", Seq((1, "a", 10), (2, "b", 20)).toDF("id", "code", "v"))
    cat.insert("t", Seq((3, "c", 30)).toDF("id", "code", "v")) // kept file
    val v0 = cat.currentVersion
    // matched on code 'a': only the first file rewrites, and its row's
    // new id 3 already lives in the second, untouched file
    val ex = intercept[ConstraintViolation] {
      cat.merge("t", Seq((3, "a", 99)).toDF("id", "code", "v"), Seq("code"))
    }
    assert(ex.getMessage.contains("duplicate key after merge"))
    assert(cat.currentVersion === v0)
    assert(cat.read("t").orderBy("id").as[(Int, String, Int)].collect()
      === Array((1, "a", 10), (2, "b", 20), (3, "c", 30)))
  }

  test("schema evolution: add-with-default / backfill / drop / rename / type change") {
    val cat = newLake()
    cat.createTable("events", StructType(Seq(
      StructField("id", IntegerType), StructField("etype", StringType))),
      primaryKey = Seq("id"))
    cat.insert("events", Seq((1, "login"), (2, "purchase")).toDF("id", "etype"))

    // D4: add with default — OLD files read the default back, no rewrite
    cat.transaction(_.addColumn("events", "priority", IntegerType, Some("5")))
    assert(cat.read("events").select("priority").as[Int].collect().toSet === Set(5))

    // D5 backfill via UPDATE
    cat.update("events", col("etype") === "purchase", Map("priority" -> lit(1)))
    assert(cat.read("events").orderBy("id").select("priority").as[Int].collect()
      === Array(5, 1))

    // D7 rename — old files still readable through stable column ids
    cat.transaction(_.renameColumn("events", "etype", "event_type"))
    assert(cat.read("events").columns.toSeq === Seq("id", "event_type", "priority"))

    // D9 type change on the PK column: constraint survives and re-validates
    cat.transaction(_.changeColumnType("events", "id", LongType))
    val st = cat.current.tables("events")
    assert(st.primaryKey === Seq("id"))
    assert(st.notNull.contains("id"))
    intercept[ConstraintViolation] {
      cat.insert("events", Seq((1L, "x", 9)).toDF("id", "event_type", "priority"))
    }

    // D6 drop — metadata only; time travel still sees the old shape
    cat.transaction(_.dropColumn("events", "priority"))
    assert(cat.read("events").columns.toSeq === Seq("id", "event_type"))
    assert(cat.readAt("events", 3).columns.contains("priority"))
  }

  test("views resolve in an isolated session (no temp-view clobbering)") {
    val cat = newLake()
    cat.createTable("p", StructType(Seq(
      StructField("id", IntegerType), StructField("price", DoubleType))))
    cat.insert("p", Seq((1, 10.0), (2, 20.0)).toDF("id", "price"))
    cat.createView("v_total", "SELECT CAST(SUM(price) AS DOUBLE) AS total FROM p")
    // user's own temp view named "p" must survive readView
    Seq(99).toDF("marker").createOrReplaceTempView("p")
    assert(cat.readView("v_total").as[Double].head() === 30.0)
    assert(spark.table("p").columns.toSeq === Seq("marker"))
    spark.catalog.dropTempView("p")
  }

  test("concurrent writers: optimistic commits all land, none lost") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    val futs = (1 to 8).map { i =>
      Future(cat.insert("t", Seq(i).toDF("id")))
    }
    Await.result(Future.sequence(futs), 120.seconds)
    assert(cat.read("t").count() === 8)
    assert(cat.currentVersion === 9) // 1 create + 8 inserts
  }

  test("compaction folds files; history keeps pre-compaction layout") {
    val cat = newLake()
    cat.createTable("iot", StructType(Seq(
      StructField("sensor_id", StringType), StructField("temp", DoubleType))))
    (1 to 10).foreach(i =>
      cat.insert("iot", Seq((s"s$i", i * 1.0)).toDF("sensor_id", "temp")))
    val filesBefore = cat.tableInfo().filter($"table_name" === "iot")
      .select("file_count").as[Long].head()
    assert(filesBefore >= 10)
    val vPre = cat.currentVersion
    cat.compact("iot")
    val filesAfter = cat.tableInfo().filter($"table_name" === "iot")
      .select("file_count").as[Long].head()
    assert(filesAfter < filesBefore)
    assert(cat.read("iot").count() === 10)
    assert(cat.readAt("iot", vPre).count() === 10)
  }

  test("inlined inserts: zero files, full visibility, constraints, flush") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))),
      primaryKey = Seq("id"))
    cat.insert("t", Seq((1, "a")).toDF("id", "v"))
    cat.insertInlined("t", Seq((2, "b"), (3, "c")).toDF("id", "v"))
    // zero new data files, but rows fully visible to reads and diffs
    assert(cat.tableInfo().filter($"table_name" === "t")
      .select("file_count").as[Long].head() === 1)
    assert(cat.read("t").count() === 3)
    // PK enforced across files AND inline rows
    intercept[ConstraintViolation] {
      cat.insertInlined("t", Seq((1, "dup")).toDF("id", "v"))
    }
    intercept[ConstraintViolation] {
      cat.insert("t", Seq((3, "dup")).toDF("id", "v"))
    }
    // UPDATE flushes inline rows then rewrites: result correct
    cat.update("t", $"id" === 3, Map("v" -> lit("c2")))
    assert(cat.read("t").orderBy("id").as[(Int, String)].collect()
      === Array((1, "a"), (2, "b"), (3, "c2")))
    // time travel still sees the inline-rows snapshot
    assert(cat.readAt("t", 3).count() === 3)
    // schema evolution over inline rows: flushed, default applies
    cat.insertInlined("t", Seq((4, "d")).toDF("id", "v"))
    cat.transaction(_.addColumn("t", "tag", StringType, Some("'x'")))
    assert(cat.read("t").filter($"id" === 4).select("tag").as[String].head() === "x")
    // compaction clears any remaining inline batches
    cat.insertInlined("t", Seq((5, "e"), (6, "f")).toDF("id", "v"))
    cat.compact("t")
    val info = cat.tableInfo().filter($"table_name" === "t")
      .select("inlined_rows", "row_count").as[(Long, Long)].head()
    assert(info === ((0L, 6L)))
  }

  test("file stats: harvested on write, prune the PK-uniqueness scan") {
    import graft.lake.{ColStat, ColumnDef, Stats}
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      primaryKey = Seq("id"))
    cat.insert("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    cat.insert("t", (1000L to 1100L).map(i => (i, s"v$i")).toDF("id", "v"))
    // stats exposed as the ducklake_table_stats analog
    val stats = cat.tableStats()
      .filter($"table_name" === "t" && $"column_name" === "id")
      .select("min_value", "max_value").as[(String, String)].collect()
    assert(stats.length >= 2)
    assert(stats.map(_._1.toLong).min === 1L)
    assert(stats.map(_._2.toLong).max === 1100L)
    // no file spans the gap between the two disjoint batches
    assert(stats.forall(s => s._2.toLong <= 100L || s._1.toLong >= 1000L))
    // overlapping insert still rejected, disjoint insert accepted
    intercept[ConstraintViolation] {
      cat.insert("t", Seq((1050L, "dup")).toDF("id", "v"))
    }
    cat.insert("t", Seq((500L, "gap")).toDF("id", "v"))
    assert(cat.read("t").count() === 202)
    // the range predicate itself
    val c = ColumnDef(0, "id", "\"long\"", None)
    assert(!Stats.overlaps(Some(ColStat("1", "100")), c, "101", "999"))
    assert(Stats.overlaps(Some(ColStat("1", "100")), c, "100", "999"))
    assert(Stats.overlaps(None, c, "0", "0")) // no stats -> must scan
    // copy-on-write rewrites regenerate stats for the new files
    cat.update("t", $"id" === 1000L, Map("v" -> lit("x")))
    val afterRewrite = cat.tableStats()
      .filter($"column_name" === "id").count()
    assert(afterRewrite >= 3)
    // readRange prunes by manifest stats and filters exactly
    val ranged = cat.readRange("t", "id", "40", "60")
    assert(ranged.select("id").as[Long].collect().sorted
      === (40L to 60L).filterNot(_ > 100).toArray ++
        (if (500L >= 40L && 500L <= 60L) Seq(500L) else Nil))
    // non-PK column stats are harvested too (v is a string column)
    assert(cat.tableStats().filter($"column_name" === "v").count() > 0)
  }

  test("cluster rewrites the layout so range pruning is surgical") {
    val cat = newLake()
    // worst-case layout: ids interleaved across 6 files — every file
    // overlaps every range, so stats pruning can skip nothing
    val src = spark.range(0, 3000).selectExpr("id", "id * 2 AS v")
    cat.createTableAs("t", src.repartition(6))
    val before = cat.current.tables("t").files
    assert(before.size === 6)
    val beforeOverlap = before.count(e =>
      graft.lake.Stats.overlaps(e.stats.get("id"),
        graft.lake.ColumnDef(0, "id", "\"long\"", None), "100", "200"))
    assert(beforeOverlap === 6, "interleaved layout overlaps everywhere")
    cat.cluster("t", Seq("id"), targetFileBytes = 4L << 10)
    val after = cat.current.tables("t").files
    assert(after.size > 2, "small target must yield several files")
    // ranges are (near-)disjoint: only a bounded few files overlap a
    // narrow range, and the data comes back exact
    val afterOverlap = after.count(e =>
      graft.lake.Stats.overlaps(e.stats.get("id"),
        graft.lake.ColumnDef(0, "id", "\"long\"", None), "100", "200"))
    assert(afterOverlap <= 2,
      s"clustered layout should prune to <=2 of ${after.size} files")
    assert(cat.readRange("t", "id", "100", "200").count() === 101)
    assert(cat.read("t").count() === 3000)
    // previous (unclustered) version still time-travels
    assert(cat.readAt("t", cat.currentVersion - 1).count() === 3000)
  }

  test("ad-hoc SQL runs over the lake snapshot, views included") {
    val cat = newLake()
    cat.createTable("p", StructType(Seq(
      StructField("id", IntegerType), StructField("price", DoubleType))))
    cat.insert("p", Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "price"))
    cat.createView("v_cheap", "SELECT id FROM p WHERE price < 25.0")
    val out = cat.sql(
      "SELECT count(*) AS n, CAST(sum(price) AS DOUBLE) AS total FROM p " +
        "WHERE id IN (SELECT id FROM v_cheap)")
      .as[(Long, Double)].head()
    assert(out === ((2L, 30.0)))
    // a view over a view resolves whatever the order of the stored views
    // (past four entries they are a hash map), in sql() and readView()
    cat.createView("v1", "SELECT id, price FROM p WHERE price > 10.0")
    cat.createView("v2", "SELECT count(*) AS n FROM v1")
    (3 to 5).foreach(i => cat.createView(s"v$i", s"SELECT id FROM p WHERE id < $i"))
    assert(cat.current.views.size === 6)
    assert(cat.sql("SELECT count(*) AS n FROM p").as[Long].head() === 3L)
    assert(cat.sql("SELECT n FROM v2").as[Long].head() === 2L)
    assert(cat.readView("v2").as[Long].head() === 2L)
    // a CTE shadows a lake table or view of the same name
    assert(cat.sql("WITH t AS (SELECT 42 AS id) SELECT id FROM t")
      .as[Int].head() === 42)
    assert(cat.sql("WITH p AS (SELECT 42 AS id) SELECT id FROM p")
      .as[Int].collect().toSeq === Seq(42))
  }

  test("AT (VERSION/TIMESTAMP/tag) SQL syntax resolves time travel") {
    // the reference's headline syntax (ref README.md:215-220): version
    // number, tag name, and wall-clock timestamp must all resolve to the
    // same snapshots the readAt/readAsOf API returns, and the rewrite
    // must compose (two versions of one table in one statement)
    val cat = newLake()
    cat.createTableAs("t", Seq(1, 2, 3, 4).toDF("id"))        // v1
    cat.delete("t", col("id") % 2 === 0)                      // v2
    cat.tag("keep", 1L)                                       // v3
    assert(cat.sql("SELECT count(*) AS n FROM t AT (VERSION => 1)")
      .as[Long].head() === 4L)
    assert(cat.sql("SELECT count(*) AS n FROM t AT (VERSION => 'keep')")
      .as[Long].head() === 4L)
    // cross-version diff in ONE statement
    assert(cat.sql(
      "SELECT count(*) AS n FROM t AT (VERSION => 1) x WHERE NOT EXISTS " +
        "(SELECT 1 FROM t AT (VERSION => 2) y WHERE y.id = x.id)")
      .as[Long].head() === 2L)
    // timestamp form: the v1 commit's own wall-clock instant (exact-ms
    // boundary is inclusive, like readAsOf)
    val t1 = cat.current.history.find(_.snapshotId == 1L).get.timestampMs
    val iso = java.time.Instant.ofEpochMilli(t1)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    assert(cat.sql(s"SELECT count(*) AS n FROM t AT (TIMESTAMP => '$iso')")
      .as[Long].head() ===
      cat.readAsOf("t", t1).count())
  }

  test("MERGE INTO statement routes all four clause branches atomically") {
    val cat = newLake()
    cat.createTableAs("t", Seq((1L, 10L), (2L, 20L), (3L, 30L), (9L, 90L))
      .toDF("id", "v"))
    cat.execute("""
      MERGE INTO t AS tgt USING (
        SELECT * FROM VALUES (2, 21), (3, 99), (5, 50), (6, 61) AS x(id, v)
      ) src ON tgt.id = src.id
      WHEN MATCHED AND src.v > 50 THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND v % 2 = 0 THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND tgt.v >= 90 THEN DELETE""")
    // id=2 updated (21), id=3 deleted (99>50), id=5 inserted (50 even),
    // id=6 not inserted (61 odd), id=9 by-source-deleted, id=1 untouched
    val out = cat.read("t").orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L), (2L, 21L), (5L, 50L)))
    // the whole statement was ONE commit
    assert(cat.currentVersion === 2L)
    // malformed ON (non-equi) is refused loudly, nothing committed
    intercept[IllegalArgumentException] {
      cat.execute("MERGE INTO t USING (SELECT 1 AS id, 2 AS v) s " +
        "ON t.id < s.id WHEN MATCHED THEN DELETE")
    }
    assert(cat.currentVersion === 2L)
  }

  test("MERGE keeps references straight under adversarial t/s aliases") {
    // the engine canonicalizes clause conditions onto reserved "t."/"s."
    // prefixes; a statement whose SOURCE alias is literally "t" (and
    // target "s") used to have pass 2 re-rewrite pass 1's output, turning
    // target references into source references with no error
    val cat = newLake()
    cat.createTableAs("m2", Seq((1L, 10L), (2L, 200L)).toDF("id", "v"))
    cat.execute(
      "MERGE INTO m2 AS s USING (SELECT * FROM VALUES (1, 100), (2, 2), " +
        "(3, 300) AS x(id, v)) t ON s.id = t.id " +
        "WHEN MATCHED AND s.v < t.v THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    // id=1: target 10 < source 100 → updated; id=2: 200 > 2 → untouched
    val out = cat.read("m2").orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 100L), (2L, 200L), (3L, 300L)))
    // identical aliases are ambiguous → refused
    intercept[IllegalArgumentException] {
      cat.execute("MERGE INTO m2 AS a USING (SELECT 1 AS id, 2 AS v) a " +
        "ON a.id = a.id WHEN MATCHED THEN DELETE")
    }
  }

  test("MERGE clause conditions may contain CASE WHEN expressions") {
    // the clause list splits on CLAUSE-level WHEN only — a WHEN inside a
    // CASE expression (or a string literal) belongs to the condition
    val cat = newLake()
    cat.createTableAs("m3",
      Seq((1L, 10L), (2L, 60L), (3L, 99L)).toDF("id", "v"))
    cat.execute(
      "MERGE INTO m3 AS tgt USING (SELECT * FROM VALUES (2, 0), (3, 0), " +
        "(4, 40) AS x(id, v)) src ON tgt.id = src.id " +
        "WHEN MATCHED AND (CASE WHEN tgt.v > 90 THEN 'drop' " +
        "ELSE 'keep' END) = 'drop' THEN DELETE " +
        "WHEN NOT MATCHED AND (CASE WHEN v >= 40 THEN true " +
        "ELSE false END) THEN INSERT *")
    // id=3 deleted (99>90), id=2 matched-but-kept, id=4 inserted (40>=40)
    val out = cat.read("m3").orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L), (2L, 60L), (4L, 40L)))
  }

  test("AT clause inside a string literal is data, not syntax") {
    val cat = newLake()
    cat.createTableAs("t", Seq(1, 2, 3, 4).toDF("id"))        // v1
    cat.delete("t", col("id") % 2 === 0)                      // v2
    val (lit0, n) = cat.sql(
      "SELECT 't AT (VERSION => 1)' AS lit, count(*) AS n FROM t GROUP BY 1")
      .as[(String, Long)].head()
    assert(lit0 === "t AT (VERSION => 1)")  // untouched by the rewrite
    assert(n === 2L)                        // and the scan is CURRENT t
  }

  test("backslash-escaped quote does not terminate a literal for the rewriter") {
    val cat = newLake()
    cat.createTableAs("t", Seq(1, 2, 3, 4).toDF("id"))        // v1
    cat.delete("t", col("id") % 2 === 0)                      // v2
    // the escaped quote must NOT read as the literal's end — otherwise
    // the AT clause inside the string becomes "syntax" and gets rewritten
    val (lit0, n) = cat.sql(
      "SELECT 'it\\'s t AT (VERSION => 1) here' AS lit, count(*) AS n " +
        "FROM t GROUP BY 1")
      .as[(String, Long)].head()
    assert(lit0 === "it's t AT (VERSION => 1) here")
    assert(n === 2L)                        // the scan is CURRENT t
  }

  test("unquoted AT TIMESTAMP operand resolves as epoch millis") {
    val cat = newLake()
    cat.createTableAs("t", Seq(1, 2, 3, 4).toDF("id"))        // v1
    cat.delete("t", col("id") % 2 === 0)                      // v2
    val t1 = cat.current.history.find(_.snapshotId == 1L).get.timestampMs
    assert(cat.sql(s"SELECT count(*) AS n FROM t AT (TIMESTAMP => $t1)")
      .as[Long].head() === cat.readAsOf("t", t1).count())
  }

  test("metadata-fn temp views are dropped once the statement resolves") {
    val cat = newLake()
    cat.createTableAs("t", Seq(1, 2).toDF("id"))
    assert(cat.sql("SELECT count(*) AS n FROM graft_snapshots()")
      .as[Long].head() >= 1L)
    val leftover = spark.catalog.listTables("global_temp").collect()
      .map(_.name).filter(_.startsWith("graft_"))
    assert(leftover.isEmpty,
      s"metadata views must not accumulate: ${leftover.mkString(",")}")
  }

  test("interactive BEGIN/COMMIT/ROLLBACK: staged visibility, atomicity, guards") {
    val root = tmpDir("lake")
    val cat = new LakeCatalog(spark, root)
    cat.execute("CREATE TABLE t (id INTEGER, v INTEGER)")
    cat.execute("BEGIN TRANSACTION")
    cat.execute("INSERT INTO t VALUES (1, 10), (2, 20)")
    // read-your-writes inside the open transaction: read() keeps the SAME
    // contract as the SQL surface — it sees staged rows while a txn is open
    assert(cat.execute("SELECT count(*) AS n FROM t").as[Long].head() === 2L)
    assert(cat.read("t").count() === 2L)
    // but nothing is COMMITTED yet: a second catalog over the same store
    // sees the empty table, and no snapshot has been published
    val vPre = cat.currentVersion
    assert(new LakeCatalog(spark, root).read("t").count() === 0L)
    assert(cat.currentVersion === vPre)
    // a second BEGIN while one is open is refused
    intercept[IllegalArgumentException] { cat.execute("BEGIN") }
    cat.execute("COMMIT")
    assert(cat.read("t").count() === 2L)
    intercept[IllegalStateException] { cat.execute("COMMIT") }
    // rollback leaves no rows and no snapshot
    val v = cat.currentVersion
    cat.execute("BEGIN")
    cat.execute("DELETE FROM t WHERE id = 1")
    assert(cat.execute("SELECT count(*) AS n FROM t").as[Long].head() === 1L)
    cat.execute("ROLLBACK")
    assert(cat.read("t").count() === 2L)
    assert(cat.currentVersion === v)
    // losing the OCC race to a commit on a table the txn touched aborts
    // it instead of retrying (its statements cannot be replayed); the
    // concurrent write — from a SECOND catalog instance over the same
    // store (this instance's Scala mutators stage into the open txn, see
    // the mixed-API test) — survives
    cat.execute("BEGIN")
    cat.execute("INSERT INTO t VALUES (3, 30)")
    val cat2 = new LakeCatalog(spark, root)
    cat2.insert("t", Seq((9, 90)).toDF("id", "v")) // concurrent writer
    intercept[IllegalStateException] { cat.execute("COMMIT") }
    assert(cat.read("t").select("id").as[Int].collect().toSet === Set(1, 2, 9))
    // a commit on a table the transaction neither read nor wrote does not
    // conflict: COMMIT rebases onto it
    def ids(t: String) = cat.read(t).select("id").as[Int].collect().toSet
    cat.execute("CREATE TABLE a (id INTEGER)")
    cat.execute("BEGIN")
    cat.execute("INSERT INTO a VALUES (1)")
    cat2.insert("t", Seq((10, 100)).toDF("id", "v"))
    cat.execute("COMMIT")
    assert(ids("a") === Set(1) && ids("t") === Set(1, 2, 9, 10))
    // nor does maintenance this catalog commits on another table inside
    // the open transaction (compact runs its own commit)
    cat.execute("BEGIN")
    cat.execute("INSERT INTO a VALUES (4)")
    cat.compact("t")
    cat.execute("COMMIT")
    assert(ids("a") === Set(1, 4) && ids("t") === Set(1, 2, 9, 10))
    assert(cat.current.tables("t").files.size === 1)
    // a table a statement only READ is in the conflict set too: the
    // INSERT below was computed from a t that a concurrent write changed
    cat.execute("BEGIN")
    cat.execute("INSERT INTO a SELECT max(id) FROM t")
    cat2.delete("t", col("id") === 10)
    intercept[IllegalStateException] { cat.execute("COMMIT") }
    assert(ids("a") === Set(1, 4) && ids("t") === Set(1, 2, 9))
    // vacuum's expiry commit could never rebase: refused while open
    cat.execute("BEGIN")
    intercept[IllegalArgumentException] { cat.vacuum(keepLast = 1) }
    cat.execute("ROLLBACK")
    cat.vacuum(keepLast = 1)
    assert(ids("a") === Set(1, 4) && ids("t") === Set(1, 2, 9))
  }

  test("metadata readers see the open interactive transaction's staged writes") {
    val cat = newLake()
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id", "id * 10 AS k")
    cat.createTableAs("t", rows(1, 101))
    cat.execute("BEGIN")
    cat.insert("t", rows(101, 201)) // staged: ids 101..200
    assert(cat.read("t").count() === 200L)
    val agg = cat.statsAgg("t", Seq("id")).head()
    assert(agg.getAs[Long]("n") === 200L && agg.getAs[Long]("max_id") === 200L)
    assert(agg.getAs[Boolean]("meta_only"), "fixture: the metadata path")
    assert(cat.readRange("t", "id", "95", "105").count() === 11L)
    assert(cat.readPoint("t", "id", "150").count() === 1L)
    assert(cat.pointScanFiles("t", "id", "150") >= 1L)
    assert(cat.readPartition("t", Map("k" -> "1500")).count() === 1L)
    assert(cat.approxDistinct("t", "id")._1 === 200L)
    // staged DDL shows in DESCRIBE, listColumns and SHOW TABLES
    def names(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).as[String].collect().toSeq
    def described = names(cat.execute("DESCRIBE t"), "column_name")
    def listed = names(cat.listColumns().filter(col("table_name") === "t"), "column_name")
    def tables = names(cat.execute("SHOW TABLES"), "table_name")
    cat.execute("ALTER TABLE t ADD COLUMN v INTEGER")
    cat.execute("CREATE TABLE u (x INTEGER)")
    assert(described === Seq("id", "k", "v") && listed === Seq("id", "k", "v"))
    assert(tables === Seq("t", "u"))
    cat.execute("ROLLBACK")
    assert(described === Seq("id", "k") && listed === Seq("id", "k"))
    assert(tables === Seq("t"))
    assert(cat.statsAgg("t").head().getAs[Long]("n") === 100L)
    assert(cat.readPoint("t", "id", "150").count() === 0L)
    assert(cat.pointScanFiles("t", "id", "150") === 0L)
  }

  test("Scala mutators stage into an open interactive transaction") {
    val cat = newLake()
    cat.createTableAs("t", Seq(1, 2).toDF("id"))
    val v = cat.currentVersion
    cat.execute("BEGIN")
    cat.insert("t", Seq(3).toDF("id"))          // stages, not autocommit
    assert(cat.currentVersion === v)            // nothing published yet
    assert(cat.read("t").count() === 3L)        // read-your-writes
    assert(cat.execute("SELECT count(*) AS n FROM t").as[Long].head() === 3L)
    cat.execute("COMMIT")                       // ONE snapshot for all of it
    assert(cat.currentVersion === v + 1)
    assert(cat.read("t").count() === 3L)
    // rollback discards staged Scala-API writes too
    cat.beginTransaction()
    cat.delete("t", col("id") === 1)
    assert(cat.read("t").count() === 2L)
    cat.rollbackTransaction()
    assert(cat.read("t").count() === 3L)
    assert(cat.currentVersion === v + 1)
  }

  test("mergeClauses, createView, addCheck and dropCheck stage into an open interactive transaction") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("v", IntegerType))),
      primaryKey = Seq("id"))
    cat.insert("t", Seq((1, 10), (2, 20)).toDF("id", "v"))
    cat.addCheck("t", "non_neg", "v >= 0")
    val v = cat.currentVersion
    cat.beginTransaction()
    cat.mergeClauses("t", Seq((2, 25), (3, 30)).toDF("id", "v"), Seq("id"),
      MergeClauses(matchedUpdate = Some("true"), notMatchedInsert = Some("true")))
    cat.createView("big", "SELECT id FROM t WHERE v > 20")
    cat.addCheck("t", "lt_100", "v < 100")
    cat.dropCheck("t", "non_neg")
    assert(cat.currentVersion === v, "nothing publishes before COMMIT")
    cat.commitTransaction()
    assert(cat.currentVersion === v + 1)
    assert(cat.read("t").orderBy("id").as[(Int, Int)].collect().toSeq ===
      Seq((1, 10), (2, 25), (3, 30)))
    assert(cat.execute("SELECT count(*) AS n FROM big").as[Long].head() === 2L)
    assert(cat.current.tables("t").props.keySet.filter(_.startsWith("check.")) ===
      Set("check.lt_100"))
    intercept[ConstraintViolation] {
      cat.insert("t", Seq((4, 100)).toDF("id", "v"))
    }
  }

  test("router: column-list INSERT and PARTITIONED BY create") {
    val cat = newLake()
    cat.execute("CREATE TABLE m (id INTEGER PRIMARY KEY, " +
      "name VARCHAR, score DOUBLE, day VARCHAR) PARTITIONED BY (day)")
    assert(cat.current.tables("m").partitionBy === Seq("day"))
    // listed columns map positionally; unlisted fill NULL
    cat.execute("INSERT INTO m (id, day) VALUES (1, 'mon'), (2, 'tue')")
    cat.execute("INSERT INTO m (day, id, score) " +
      "SELECT 'wed', 3, 9.5e0")
    val rows = cat.read("m").orderBy("id")
      .selectExpr("id", "coalesce(name, '-')", "coalesce(score, -1.0)", "day")
      .as[(Int, String, Double, String)].collect().toSeq
    assert(rows === Seq((1, "-", -1.0, "mon"), (2, "-", -1.0, "tue"),
      (3, "-", 9.5, "wed")))
    // arity mismatch against the LIST (not the table) is refused
    intercept[IllegalArgumentException] {
      cat.execute("INSERT INTO m (id, day) VALUES (4, 'thu', 'extra')")
    }
    // CTAS still routes as CTAS, not column-def CREATE
    cat.execute("CREATE TABLE m2 AS SELECT id, day FROM m WHERE id >= 2")
    assert(cat.read("m2").count() === 2L)
  }

  test("nested types round-trip through the lake (array columns)") {
    val cat = newLake()
    // embeddings-shaped table: vec_id + array<float>
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" < 50)
    cat.createTableAs("emb", emb)
    val back = cat.read("emb")
    assert(back.count() === 50)
    assert(back.schema("embedding").dataType.typeName === "array")
    // still computable: norms over the stored vectors
    val n = cat.sql(
      "SELECT count(*) AS n FROM emb WHERE " +
        "aggregate(cast(embedding AS array<double>), cast(0 AS double), " +
        "(a, x) -> a + x * x) > 0").as[Long].head()
    assert(n === 50)
    // inline path also carries nested types (JSON round-trip)
    cat.insertInlined("emb",
      emb.limit(2).selectExpr("vec_id + 1000 AS vec_id", "embedding", "label"))
    assert(cat.read("emb").count() === 52)
    assert(cat.read("emb").filter($"vec_id" >= 1000)
      .selectExpr("size(embedding)").as[Int].collect().toSet === Set(64))
  }

  test("vacuum expires old snapshots and collects orphan files") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    (1 to 6).foreach(i => cat.insert("t", Seq(i).toDF("id")))
    cat.delete("t", $"id" <= 2) // rewrites files; old ones stay for travel
    val cur = cat.currentVersion // 8 snapshots
    assert(cat.readAt("t", 3).count() === 2) // history readable pre-vacuum
    cat.vacuum(keepLast = 2)
    // expired version gone, kept + current intact; the expiry decision
    // itself committed one extra snapshot
    intercept[Exception] { cat.readAt("t", 3).count() }
    // the snapshot feed hides expired versions (they are unreadable)
    assert(cat.snapshots().count() === 3)
    assert(cat.snapshots().agg(org.apache.spark.sql.functions.min("snapshot_id"))
      .head().getLong(0) === cur - 1)
    assert(cat.readAt("t", cur - 1).count() === 6)
    assert(cat.read("t").orderBy("id").as[Int].collect() === Array(3, 4, 5, 6))
    // orphaned data files physically removed: every remaining parquet is
    // referenced by a kept snapshot
    val live = (cur - 1 to cur + 1).map(cat.snapshot)
      .flatMap(_.tables.values.flatMap(_.files.map(_.path))).toSet
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(cat.root), true)
    var onDisk = Set.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      if (p.endsWith(".parquet")) onDisk += p.stripPrefix(cat.root).stripPrefix("/")
    }
    assert(onDisk === live)
  }

  test("zorder prunes on every clustered dimension; lexicographic only on the first") {
    def overlap(cat: LakeCatalog, c: String, lo: Double, hi: Double): Long =
      cat.tableStats()
        .filter(col("table_name") === "t" && col("column_name") === c &&
          col("min_value").cast("double") <= hi &&
          col("max_value").cast("double") >= lo).count()
    def files(cat: LakeCatalog): Long =
      cat.tableStats().filter(col("column_name") === "a").count()
    def load(cat: LakeCatalog): Unit = {
      // deterministic 2-d grid: a and b independent, both uniform
      val df = spark.range(4096)
        .selectExpr("id AS a", "cast((id * 2654435761L) % 4096 AS bigint) AS b")
      cat.createTableAs("t", df.repartition(4))
    }
    val lex = newLake(); load(lex)
    lex.cluster("t", Seq("a", "b"), targetFileBytes = 8L << 10)
    val zed = newLake(); load(zed)
    zed.zorder("t", Seq("a", "b"), targetFileBytes = 8L << 10)
    assert(files(zed) > 2, "need several files for the pruning claim")
    // query on the SECOND dimension: lexicographic layout leaves every
    // file spanning b's full range (no pruning); z-order boxes it
    val (bLo, bHi) = (100.0, 500.0)
    assert(overlap(lex, "b", bLo, bHi) === files(lex),
      "lexicographic files all overlap a b-range")
    assert(overlap(zed, "b", bLo, bHi) < files(zed),
      "z-order must prune on the second dimension")
    // both dimensions prune on the z-ordered table
    assert(overlap(zed, "a", 100.0, 500.0) < files(zed))
    // and results are identical to a full-scan filter, on random ranges
    // over both dimensions (pruning must never change answers)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3; c <- Seq("a", "b")) {
      val lo = rnd.nextInt(3000); val hi = lo + 200 + rnd.nextInt(1000)
      val viaRange = zed.readRange("t", c, lo.toString, hi.toString)
        .agg(coalesce(sum(col("a")), lit(0L))).head().getLong(0)
      val viaScan = zed.read("t")
        .filter(col(c) >= lo && col(c) <= hi)
        .agg(coalesce(sum(col("a")), lit(0L))).head().getLong(0)
      assert(viaRange === viaScan, s"range [$lo,$hi] on $c")
    }
  }

  test("tags pin snapshots through vacuum; dropTag releases them") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    (1 to 4).foreach(i => cat.insert("t", Seq(i).toDF("id")))   // v2..v5
    cat.tag("trained-on", 3)                                    // v6
    (5 to 6).foreach(i => cat.insert("t", Seq(i).toDF("id")))   // v7,v8
    cat.vacuum(keepLast = 2)
    // untagged old versions are gone, the tagged one survives the sweep
    intercept[Exception] { cat.readAt("t", 2).count() }
    intercept[Exception] { cat.readAt("t", 4).count() }
    assert(cat.readTag("t", "trained-on").as[Int].collect().sorted === Array(1, 2))
    assert(cat.resolveRef("trained-on") === 3)
    // the snapshot feed lists exactly the readable set (with the hole;
    // v9 is the vacuum's own expiry commit)
    assert(cat.snapshots().select("snapshot_id").as[Long].collect().sorted
      === Array(3L, 7L, 8L, 9L))
    // its data files survived blob/file GC too: the tagged read scans
    assert(cat.readAt("t", 3).count() === 2)
    // tagging INTO the retention hole is refused (v4 is expired even
    // though v3 below it survives — membership, not a min bound)
    intercept[IllegalArgumentException] { cat.tag("in-hole", 4) }
    // releasing the tag lets the next vacuum expire it
    cat.dropTag("trained-on")
    cat.vacuum(keepLast = 2)
    intercept[Exception] { cat.readAt("t", 3).count() }
    intercept[Exception] { cat.resolveRef("trained-on") }
    // tagging an expired version is refused
    intercept[IllegalArgumentException] { cat.tag("too-late", 2) }
  }

  test("tag names never silently re-point; replaceTag is the explicit verb") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    (1 to 3).foreach(i => cat.insert("t", Seq(i).toDF("id")))   // v2..v4
    cat.tag("baseline", 2)
    // accidental reuse would release v2's vacuum pin — refused
    intercept[IllegalArgumentException] { cat.tag("baseline", 3) }
    assert(cat.resolveRef("baseline") === 2)
    // the deliberate verb re-points (and the pin moves with it)
    cat.replaceTag("baseline", 3)
    assert(cat.resolveRef("baseline") === 3)
    cat.vacuum(keepLast = 1)
    assert(cat.readTag("t", "baseline").count() === 2) // v3 survived
    intercept[Exception] { cat.readAt("t", 2).count() } // old target expired
    // replaceTag on a missing tag is refused too
    intercept[IllegalArgumentException] { cat.replaceTag("nope", 3) }
  }

  test("a tag committed during vacuum is never left dangling (OCC serializes)") {
    // Interleave tag() and vacuum() across threads many times: whatever
    // the timing, a tag that COMMITS must resolve to a readable snapshot
    // — the expiry decision rides the same OCC chain, so either the
    // vacuum retries and honors the pin, or the tag is refused outright.
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    for (round <- 1 to 4) {
      (1 to 3).foreach(i => cat.insert("t", Seq(round * 10 + i).toDF("id")))
      val target = cat.currentVersion - 1
      val tagger = new Thread(() => {
        try cat.tag(s"pin-$round", target)
        catch { case _: IllegalArgumentException => () } // refused = fine
      })
      val sweeper = new Thread(() => cat.vacuum(keepLast = 1))
      tagger.start(); sweeper.start(); tagger.join(); sweeper.join()
      // if the tag landed, its snapshot must be fully readable
      cat.current.refs.get(s"pin-$round").foreach { v =>
        assert(cat.readAt("t", v).count() >= 0)
        assert(!cat.current.versionExpired(v),
          s"round $round: tagged v$v is in the expiry ledger")
      }
    }
  }

  test("partitioned tables: exact file pruning, layout survives DML and compaction") {
    val cat = newLake()
    val mk = (lo: Int, hi: Int) => spark.range(lo, hi)
      .selectExpr("id", "concat('s', id % 8) AS src", "id * 3 AS v")
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("src", StringType),
      StructField("v", LongType))), partitionBy = Seq("src"))
    cat.insert("t", mk(0, 800))
    cat.insert("t", mk(800, 1600))
    val st = cat.current.tables("t")
    // every file recorded its partition-value set; each value lands in
    // exactly one file PER INSERT BATCH (2 batches -> <= 2 files)
    assert(st.files.forall(_.pvals.contains("src")))
    val hit = st.files.count(_.pvals("src").contains("s3"))
    assert(hit >= 1 && hit <= 2 && hit < st.files.size)
    // readPartition answers exactly and scans only the pruned set
    val part = cat.readPartition("t", Map("src" -> "s3"))
    assert(part.count() === 200)
    assert(part.agg(sum("v")).head().getLong(0) ===
      (0L until 1600L).filter(_ % 8 == 3).map(_ * 3).sum)
    // copy-on-write DML keeps the layout metadata on rewritten files
    cat.update("t", col("src") === "s3" && col("id") < 100,
      Map("v" -> lit(0L)))
    val st2 = cat.current.tables("t")
    assert(st2.files.forall(_.pvals.contains("src")))
    assert(cat.readPartition("t", Map("src" -> "s3")).count() === 200)
    // compaction folds files but respects the partition clustering
    cat.compact("t")
    val st3 = cat.current.tables("t")
    assert(st3.files.size < st2.files.size)
    assert(cat.readPartition("t", Map("src" -> "s3")).count() === 200)
    assert(cat.read("t").count() === 1600)
    // partition column is protected from DROP; rename follows
    intercept[IllegalArgumentException] {
      cat.transaction(_.dropColumn("t", "src"))
    }
    cat.transaction(_.renameColumn("t", "src", "origin"))
    assert(cat.current.tables("t").partitionBy === Seq("origin"))
    assert(cat.readPartition("t", Map("origin" -> "s3")).count() === 200)
    // migration carries the partition spec
    val dst = newLake()
    cat.migrateTo(dst)
    assert(dst.current.tables("t").partitionBy === Seq("origin"))
  }

  test("materialized view: incremental refresh equals recompute; expiry falls back to full") {
    val cat = newLake()
    cat.createTable("sales", StructType(Seq(
      StructField("id", LongType), StructField("k", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    val mk = (lo: Int, hi: Int) => spark.range(lo, hi)
      .selectExpr("id", "id % 7 AS k", "id * 10 AS v")
    cat.insert("sales", mk(0, 500))
    graft.lake.Mv.create(cat, "sales_by_k", "sales", Seq("k"), Seq("v"))
    def recompute() = cat.read("sales").groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    def mvState() = cat.read("sales_by_k")
      .select(col("k"), col("n_rows"), col("sum_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    assert(mvState() === recompute())
    // noop when already fresh
    assert(graft.lake.Mv.refresh(cat, "sales_by_k") === "noop")
    // inserts, updates and deletes all flow through the delta path
    cat.insert("sales", mk(500, 650))
    cat.update("sales", col("id") < 50, Map("v" -> (col("v") + 5L)))
    cat.delete("sales", col("id") >= 600)
    assert(graft.lake.Mv.refresh(cat, "sales_by_k") === "incremental")
    assert(mvState() === recompute())
    // a group emptied by deletes vanishes from the MV
    cat.delete("sales", col("k") === 3L)
    assert(graft.lake.Mv.refresh(cat, "sales_by_k") === "incremental")
    assert(!cat.read("sales_by_k").select("k").as[Long].collect().contains(3L))
    assert(mvState() === recompute())
    // expire the watermark version: refresh must fall back to full reload
    cat.insert("sales", mk(650, 700))
    cat.vacuum(keepLast = 1)
    assert(graft.lake.Mv.refresh(cat, "sales_by_k") === "full")
    assert(mvState() === recompute())
  }

  test("MV refresh: commits to UNRELATED tables are manifest-detected noops") {
    // catalog versions advance on every commit, so a refresh after
    // activity on other tables used to run the whole (empty) delta path
    // and publish an empty snapshot — the manifest check must make it a
    // pure noop: same mode, NO new version, watermark untouched, and a
    // later real delta still applies correctly from the old watermark
    val cat = newLake()
    cat.createTable("sales", StructType(Seq(
      StructField("id", LongType), StructField("k", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    cat.createTableAs("other", spark.range(10).toDF("id"))
    cat.insert("sales", spark.range(0, 300)
      .selectExpr("id", "id % 5 AS k", "id * 2 AS v"))
    graft.lake.Mv.create(cat, "s_by_k", "sales", Seq("k"), Seq("v"))
    cat.insert("other", spark.range(10, 20).toDF("id"))
    cat.delete("other", col("id") < 5)
    val vBefore = cat.currentVersion
    assert(graft.lake.Mv.refresh(cat, "s_by_k") === "noop")
    assert(cat.currentVersion === vBefore, "a noop refresh must not commit")
    // the stale watermark still yields a correct incremental apply
    cat.insert("sales", spark.range(300, 400)
      .selectExpr("id", "id % 5 AS k", "id * 2 AS v"))
    assert(graft.lake.Mv.refresh(cat, "s_by_k") === "incremental")
    val got = cat.read("s_by_k").select("k", "n_rows", "sum_v")
      .orderBy("k").collect().map(_.toString).toSeq
    val want = cat.read("sales").groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    assert(got === want)
  }

  test("MV min/max refresh: a group born and fully emptied inside one window leaves no trace") {
    // the one-pass recompute apply routes such a group as: present in
    // delKeys (its delta has negative signs), absent from the MV
    // (never refreshed in), absent from the recompute (no surviving
    // rows) — the merge source row carries the -1 sentinel but matches
    // nothing, so NO clause fires; the group must not appear, and the
    // other groups' minima must still be exact
    val cat = newLake()
    cat.createTableAs("g", spark.range(0, 60)
      .selectExpr("id", "id % 3 AS k", "id * 10 AS v"))
    graft.lake.Mv.create(cat, "g_by_k", "g", Seq("k"),
      sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    // window: new group k=7 appears and is wholly deleted; k=0 loses
    // its minimum (retires the running min -> exact recompute path)
    cat.insert("g", spark.range(1000, 1010)
      .selectExpr("id", "7L AS k", "id AS v"))
    cat.delete("g", col("k") === 7L)
    cat.delete("g", col("id") === 0L) // v=0 was k=0's min
    assert(graft.lake.Mv.refresh(cat, "g_by_k") === "incremental")
    val got = cat.read("g_by_k")
      .select("k", "n_rows", "sum_v", "min_v", "max_v")
      .orderBy("k").collect().map(_.toString).toSeq
    val want = cat.read("g").groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    assert(got === want)
    assert(!cat.read("g_by_k").select("k").as[Long].collect().contains(7L))
  }

  test("MV refresh: a far-drifted watermark is renewed by a property-only commit and survives vacuum") {
    // an MV whose base never changes must not degrade to a full
    // recompute just because unrelated commits pushed the catalog head
    // past the vacuum retention — once the gap reaches
    // Mv.WatermarkRenewGap, a noop refresh renews the watermark with a
    // property-only commit (no schema/file change, so stacked readers
    // still see the MV as unchanged)
    val cat = newLake()
    cat.createTableAs("sales", spark.range(0, 100)
      .selectExpr("id", "id % 5 AS k", "id * 2 AS v"))
    cat.createTableAs("other", spark.range(10).toDF("id"))
    graft.lake.Mv.create(cat, "s_by_k", "sales", Seq("k"), Seq("v"))
    val mvStateBefore = cat.read("s_by_k").orderBy("k")
      .collect().map(_.toString).toSeq
    // drift: WatermarkRenewGap unrelated commits
    (1L to graft.lake.Mv.WatermarkRenewGap).foreach { i =>
      cat.insert("other", spark.range(i * 100, i * 100 + 5).toDF("id")) }
    val vBefore = cat.currentVersion
    assert(graft.lake.Mv.refresh(cat, "s_by_k") === "noop")
    assert(cat.currentVersion === vBefore + 1,
      "a renewal noop commits exactly once (property-only)")
    // the renewal is invisible to manifest-gated readers of the MV
    assert(!cat.tableChangedBetween("s_by_k", vBefore, cat.currentVersion))
    // vacuum away everything older than the renewed watermark: a fresh
    // refresh stays a commit-free noop (NOT "full"), and the MV is intact
    cat.vacuum(keepLast = 1)
    val vAfterVacuum = cat.currentVersion
    assert(graft.lake.Mv.refresh(cat, "s_by_k") === "noop")
    assert(cat.currentVersion === vAfterVacuum,
      "a small-gap noop after renewal must not commit")
    assert(cat.read("s_by_k").orderBy("k").collect().map(_.toString).toSeq
      === mvStateBefore)
    // and a later real delta still applies incrementally
    cat.insert("sales", spark.range(100, 150)
      .selectExpr("id", "id % 5 AS k", "id * 2 AS v"))
    assert(graft.lake.Mv.refresh(cat, "s_by_k") === "incremental")
    val want = cat.read("sales").groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    assert(cat.read("s_by_k").select("k", "n_rows", "sum_v").orderBy("k")
      .collect().map(_.toString).toSeq === want)
  }

  test("MV refresh refuses loudly when a referenced base column is dropped or renamed; added columns are benign") {
    val cat = newLake()
    cat.createTableAs("b", spark.range(0, 100)
      .selectExpr("id", "id % 4 AS k", "id AS v"))
    graft.lake.Mv.create(cat, "b_by_k", "b", Seq("k"), Seq("v"))
    // additive evolution composes: new column never referenced by the spec
    cat.transaction(_.addColumn("b", "extra", LongType, Some("7")))
    cat.insert("b", spark.range(100, 120)
      .selectExpr("id", "id % 4 AS k", "id AS v", "id AS extra"))
    assert(graft.lake.Mv.refresh(cat, "b_by_k") === "incremental")
    assert(cat.read("b_by_k").agg(sum("n_rows")).head().getLong(0) === 120L)
    // renaming the aggregated column breaks the spec → named refusal
    cat.transaction(_.renameColumn("b", "v", "v2"))
    cat.insert("b", spark.range(120, 130)
      .selectExpr("id", "id % 4 AS k", "id AS v2", "id AS extra"))
    val e = intercept[IllegalStateException] {
      graft.lake.Mv.refresh(cat, "b_by_k") }
    assert(e.getMessage.contains("v") &&
      e.getMessage.contains("no longer present"))
    // the failed refresh rolled back: MV state and watermark intact,
    // and restoring the column heals the spec (rename back)
    cat.transaction(_.renameColumn("b", "v2", "v"))
    assert(graft.lake.Mv.refresh(cat, "b_by_k") === "incremental")
    val want = cat.read("b").groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    assert(cat.read("b_by_k").select("k", "n_rows", "sum_v").orderBy("k")
      .collect().map(_.toString).toSeq === want)
  }

  test("join MV refresh: a dim-only churn takes the dim-delta leg and stays exact") {
    // bChanged=false / dChanged=true is the leg the manifest gating
    // builds alone (F0 ⋈ ΔD over time travel) — pin its arithmetic:
    // remap and delete dim rows without touching the fact side
    val cat = newLake()
    cat.createTableAs("f", spark.range(0, 400)
      .selectExpr("id", "id % 10 AS k", "id AS v"))
    cat.createTableAs("dm", spark.range(10)
      .selectExpr("id AS k", "id % 3 AS grp"))
    graft.lake.Mv.createJoin(cat, "f_by_grp", "f", "dm", "k", "k",
      None, Seq("grp"), sums = Seq("v"))
    def recompute() = cat.read("f").join(cat.read("dm"), "k")
      .groupBy("grp").agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    def mv() = cat.read("f_by_grp").select("grp", "n_rows", "sum_v")
      .orderBy("grp").collect().map(_.toString).toSeq
    cat.update("dm", col("k") === 7L, Map("grp" -> lit(0L)))
    cat.delete("dm", col("k") === 9L)
    assert(graft.lake.Mv.refresh(cat, "f_by_grp") === "incremental")
    assert(mv() === recompute())
  }

  test("MV min/max maintenance: insert-only fold, delete-retired min, emptied + all-NULL groups, UPDATE") {
    val cat = newLake()
    cat.createTable("m", StructType(Seq(
      StructField("id", LongType), StructField("k", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    // k=0..3 populated; v carries NULLs for k=3 (all-NULL group)
    cat.insert("m", spark.range(0, 40).selectExpr(
      "id", "id % 4 AS k", "CASE WHEN id % 4 = 3 THEN NULL ELSE id * 10 END AS v"))
    graft.lake.Mv.create(cat, "m_by_k", "m", Seq("k"), sums = Seq("v"),
      mins = Seq("v"), maxs = Seq("v"))
    def recompute() = cat.read("m").groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum("v"), lit(0L)).as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    def mvState() = cat.read("m_by_k")
      .select(col("k"), col("n_rows"), col("sum_v"), col("min_v"), col("max_v"))
      .orderBy("k").collect().map(_.toString).toSeq
    // create path: all-NULL group (k=3) reports NULL min/max, sum 0
    assert(mvState() === recompute())
    assert(cat.read("m_by_k").filter(col("k") === 3L)
      .select("min_v").head().isNullAt(0))
    // 1) insert-only delta → fast least/greatest fold (incremental),
    //    including new values both above the max and below the min
    cat.insert("m", Seq((100L, 0L, -5L), (101L, 1L, 99999L))
      .toDF("id", "k", "v"))
    assert(graft.lake.Mv.refresh(cat, "m_by_k") === "incremental")
    assert(mvState() === recompute())
    assert(cat.read("m_by_k").filter(col("k") === 0L)
      .select("min_v").as[Long].head() === -5L)
    // 2) delete retires a group's current min → recompute path restores
    //    the true second-smallest, matching a full recompute
    cat.delete("m", col("id") === 100L) // removes k=0's min (-5)
    assert(graft.lake.Mv.refresh(cat, "m_by_k") === "incremental")
    assert(mvState() === recompute())
    assert(cat.read("m_by_k").filter(col("k") === 0L)
      .select("min_v").as[Long].head() === 0L)
    // 3) UPDATE (pre+postimage in one delta) moves a group's max
    cat.update("m", col("id") === 101L, Map("v" -> lit(7L)))
    assert(graft.lake.Mv.refresh(cat, "m_by_k") === "incremental")
    assert(mvState() === recompute())
    // 4) a group emptied by deletes vanishes (not a stale min/max row)
    cat.delete("m", col("k") === 2L)
    assert(graft.lake.Mv.refresh(cat, "m_by_k") === "incremental")
    assert(!cat.read("m_by_k").select("k").as[Long].collect().contains(2L))
    assert(mvState() === recompute())
    // 5) inserting a NULL into the all-NULL group keeps min/max NULL
    cat.insert("m", Seq((200L, 3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "k", "v"))
    assert(graft.lake.Mv.refresh(cat, "m_by_k") === "incremental")
    assert(mvState() === recompute())
    assert(cat.read("m_by_k").filter(col("k") === 3L)
      .select("max_v").head().isNullAt(0))
    // 6) first non-NULL value arriving in the all-NULL group folds in
    cat.insert("m", Seq((201L, 3L, 42L)).toDF("id", "k", "v"))
    assert(graft.lake.Mv.refresh(cat, "m_by_k") === "incremental")
    assert(mvState() === recompute())
    assert(cat.read("m_by_k").filter(col("k") === 3L)
      .select("min_v").as[Long].head() === 42L)
  }

  test("MV min/max on a JOIN MV: fast fold, delete-retired min via join recompute, dim churn") {
    val cat = newLake()
    cat.createTable("f", StructType(Seq(
      StructField("id", LongType), StructField("k", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    cat.insert("f", spark.range(0, 40).selectExpr(
      "id", "id % 4 AS k", "id * 10 AS v"))
    cat.createTableAs("dm", spark.range(4).selectExpr(
      "id AS k", "id % 2 AS grp"))
    graft.lake.Mv.createJoin(cat, "f_by_grp", "f", "dm", "k", "k",
      Some("id % 2 = 0"), Seq("grp"), sums = Seq("v"),
      mins = Seq("v"), maxs = Seq("v"))
    def recompute() = cat.read("f").filter(expr("id % 2 = 0"))
      .join(cat.read("dm"), Seq("k")).groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum("v"), lit(0L)).as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    def mvState() = cat.read("f_by_grp")
      .select(col("grp"), col("n_rows"), col("sum_v"),
        col("min_v"), col("max_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    assert(mvState() === recompute())
    // 1) insert-only fact delta → least/greatest fast fold
    cat.insert("f", Seq((100L, 0L, -5L), (102L, 1L, 99999L))
      .toDF("id", "k", "v"))
    assert(graft.lake.Mv.refresh(cat, "f_by_grp") === "incremental")
    assert(mvState() === recompute())
    assert(cat.read("f_by_grp").filter(col("grp") === 0L)
      .select("min_v").as[Long].head() === -5L)
    // 2) fact delete retires grp 0's min → recompute re-runs the
    //    filter+join for the touched groups only
    cat.delete("f", col("id") === 100L)
    assert(graft.lake.Mv.refresh(cat, "f_by_grp") === "incremental")
    assert(mvState() === recompute())
    assert(cat.read("f_by_grp").filter(col("grp") === 0L)
      .select("min_v").as[Long].head() === 0L)
    // 3) dim churn: remapping k=1 to grp 0 moves its max across groups —
    //    both donor and recipient groups must match a full recompute
    cat.update("dm", col("k") === 1L, Map("grp" -> lit(0L)))
    assert(graft.lake.Mv.refresh(cat, "f_by_grp") === "incremental")
    assert(mvState() === recompute())
    // 4) UPDATE on the fact (pre+postimage) moving a group's max
    cat.update("f", col("id") === 102L, Map("v" -> lit(7L)))
    assert(graft.lake.Mv.refresh(cat, "f_by_grp") === "incremental")
    assert(mvState() === recompute())
    // 5) emptied group vanishes: delete every even id of one dim key...
    cat.delete("f", col("k") === 2L)
    assert(graft.lake.Mv.refresh(cat, "f_by_grp") === "incremental")
    assert(mvState() === recompute())
  }

  test("join MV refresh: a group that nets to zero inside one window is never inserted") {
    // grp 1 is born by a dim update (k = 1 moves to it) and loses its
    // only fact row (id = 1) in the same window: its legs sum to a count
    // and sum of 0, so it must not land in the MV as a zero-count row
    val cat = newLake()
    cat.createTableAs("f", Seq((1L, 1L, 10L), (5L, 5L, 50L)).toDF("id", "k", "v"))
    cat.createTableAs("dm", Seq((1L, 0L), (3L, 0L), (5L, 2L)).toDF("k", "grp"))
    graft.lake.Mv.createJoin(cat, "m", "f", "dm", "k", "k", None,
      Seq("grp"), Seq("v"))
    cat.update("dm", col("k") === 1L, Map("grp" -> lit(1L)))
    cat.delete("f", col("id") === 1L)
    cat.insert("f", Seq((2L, 3L, 20L)).toDF("id", "k", "v"))
    assert(graft.lake.Mv.refresh(cat, "m") === "incremental")
    val want = cat.read("f").join(cat.read("dm"), "k").groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    assert(want === Seq("[0,1,20]", "[2,1,50]"))
    assert(cat.read("m").select("grp", "n_rows", "sum_v").orderBy("grp")
      .collect().map(_.toString).toSeq === want)
    assert(!cat.read("m").select("grp").as[Long].collect().contains(1L))
  }

  test("MV refresh writes each path as one merge: the commit header lists the MV under tables_merged only") {
    // sum-only deletes (an emptied group), a min/max recompute, and the
    // full reload after vacuum each apply through one MERGE — no
    // separate delete or insert pass over the MV
    def kv(): LakeCatalog = {
      val cat = newLake()
      cat.createTable("t", StructType(Seq(StructField("id", LongType),
        StructField("k", LongType), StructField("v", LongType))),
        primaryKey = Seq("id"))
      cat.insert("t", spark.range(0, 2000)
        .selectExpr("id", "id % 50 AS k", "id * 3 AS v"))
      cat
    }
    def refreshed(cat: LakeCatalog, mode: String, minMax: Boolean): Unit = {
      assert(graft.lake.Mv.refresh(cat, "m") === mode)
      val changes = cat.current.history.last.changes
      assert(changes.getOrElse("tables_merged", Nil) === Seq("m"))
      assert(!changes.contains("tables_deleted_from"))
      assert(!changes.contains("tables_inserted_into"))
      val aggs = Seq(count(lit(1)).as("n_rows"), sum("v").as("sum_v")) ++
        (if (minMax) Seq(min("v").as("min_v"), max("v").as("max_v")) else Nil)
      val cols = Seq("k", "n_rows", "sum_v") ++
        (if (minMax) Seq("min_v", "max_v") else Nil)
      assert(cat.read("m").select(cols.map(col): _*).orderBy("k")
        .collect().map(_.toString).toSeq ===
        cat.read("t").groupBy("k").agg(aggs.head, aggs.tail: _*)
          .orderBy("k").collect().map(_.toString).toSeq)
    }
    val sumOnly = kv()
    graft.lake.Mv.create(sumOnly, "m", "t", Seq("k"), Seq("v"))
    sumOnly.update("t", col("id") % 97 === 0, Map("v" -> (col("v") + 1L)))
    sumOnly.delete("t", col("k") === 3L)
    refreshed(sumOnly, "incremental", minMax = false)
    val minMax = kv()
    graft.lake.Mv.create(minMax, "m", "t", Seq("k"), Seq("v"),
      mins = Seq("v"), maxs = Seq("v"))
    minMax.insert("t", spark.range(100000, 101000)
      .selectExpr("id", "id % 50 AS k", "id AS v"))
    minMax.delete("t", col("id") < 10L)
    refreshed(minMax, "incremental", minMax = true)
    val full = kv()
    graft.lake.Mv.create(full, "m", "t", Seq("k"), Seq("v"))
    full.insert("t", spark.range(100000, 100010)
      .selectExpr("id", "id % 50 AS k", "id AS v"))
    full.vacuum(keepLast = 1)
    refreshed(full, "full", minMax = false)
  }

  test("Mv Scala API refuses to run inside an open interactive transaction") {
    val cat = newLake()
    cat.createTableAs("b", Seq((1L, 10L)).toDF("k", "v"))
    graft.lake.Mv.create(cat, "b_by_k", "b", Seq("k"), Seq("v"))
    cat.beginTransaction()
    try {
      intercept[IllegalArgumentException] {
        graft.lake.Mv.create(cat, "b2", "b", Seq("k"), Seq("v"))
      }
      intercept[IllegalArgumentException] {
        graft.lake.Mv.refresh(cat, "b_by_k")
      }
      intercept[IllegalArgumentException] {
        graft.lake.Mv.createJoin(cat, "b3", "b", "b", "k", "k", None,
          Seq("k"), Seq("v"))
      }
    } finally cat.rollbackTransaction()
  }

  test("join+filter MV: incremental under fact AND dim churn; expiry falls back") {
    val cat = newLake()
    cat.createTable("fact", StructType(Seq(
      StructField("id", LongType), StructField("k", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    val mk = (lo: Int, hi: Int) => spark.range(lo, hi)
      .selectExpr("id", "id % 7 AS k", "id * 10 AS v")
    cat.insert("fact", mk(0, 500))
    cat.createTableAs("dm",
      spark.range(7).selectExpr("id AS k", "id % 3 AS grp"))
    graft.lake.Mv.createJoin(cat, "fact_by_grp", "fact", "dm",
      "k", "k", Some("id % 2 = 0"), Seq("grp"), Seq("v"))
    def recompute() = cat.read("fact").filter("id % 2 = 0")
      .join(cat.read("dm"), Seq("k"))
      .groupBy("grp").agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    def mvState() = cat.read("fact_by_grp")
      .select(col("grp"), col("n_rows"), col("sum_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    assert(mvState() === recompute())
    assert(graft.lake.Mv.refresh(cat, "fact_by_grp") === "noop")
    // fact-side churn (insert/update/delete) → incremental, one leg
    cat.insert("fact", mk(500, 650))
    cat.update("fact", col("id") < 50, Map("v" -> (col("v") + 5L)))
    cat.delete("fact", col("id") >= 600)
    assert(graft.lake.Mv.refresh(cat, "fact_by_grp") === "incremental")
    assert(mvState() === recompute())
    // dim-side churn (a k moves groups) → incremental, all three legs
    cat.update("dm", col("k") === 5L, Map("grp" -> lit(0L)))
    assert(graft.lake.Mv.refresh(cat, "fact_by_grp") === "incremental")
    assert(mvState() === recompute())
    // simultaneous fact+dim churn in the same refresh window
    cat.insert("fact", mk(650, 680))
    cat.update("dm", col("k") === 1L, Map("grp" -> lit(2L)))
    cat.delete("fact", col("k") === 2L)
    assert(graft.lake.Mv.refresh(cat, "fact_by_grp") === "incremental")
    assert(mvState() === recompute())
    // expired watermark → full reload, same answer
    cat.insert("fact", mk(680, 700))
    cat.vacuum(keepLast = 1)
    assert(graft.lake.Mv.refresh(cat, "fact_by_grp") === "full")
    assert(mvState() === recompute())
  }

  test("bloom index: point lookups skip files stats can't; sidecars ride vacuum") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))),
      primaryKey = Seq("id"))
    cat.bloomIndex("t", "id")
    // interleaved batches: every file spans the FULL id range, so min/max
    // stats cannot prune a point lookup — only the bloom can
    val mk = (r: Int) => spark.range(4000)
      .selectExpr(s"id * 4 + $r AS id", "id AS v")
    (0 until 4).foreach(r => cat.insert("t", mk(r)))
    val st = cat.current.tables("t")
    assert(st.files.size >= 4)
    assert(st.files.forall(_.blooms.contains("id")))
    // 6001 = 4*1500+1 lives in batch 1 only; stats keep all files
    assert(cat.pointScanFiles("t", "id", "6001") < st.files.size)
    assert(cat.readPoint("t", "id", "6001").count() === 1)
    assert(cat.readPoint("t", "id", "99999").count() === 0)
    // copy-on-write rewrite re-indexes the new file
    cat.update("t", col("id") === 6001L, Map("v" -> lit(42L)))
    assert(cat.current.tables("t").files.forall(_.blooms.contains("id")))
    assert(cat.readPoint("t", "id", "6001").select("v").head().getLong(0) === 42L)
    // vacuum collects the sidecars of expired-only files along with them
    cat.vacuum(keepLast = 1)
    val liveBlooms = cat.current.tables("t").files
      .flatMap(_.blooms.values)
      .map(p => cat.root.stripSuffix("/") + "/" + p).toSet
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(cat.root), true)
    var onDisk = Set.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      if (p.endsWith(".bloom")) onDisk += p
    }
    assert(onDisk === liveBlooms)
    // and the lookups still work post-vacuum
    assert(cat.readPoint("t", "id", "6001").count() === 1)
  }

  test("CHECK constraints: validated on add, enforced on writes, NULL passes") {
    val cat = newLake()
    cat.createTableAs("t", Seq((1, 10.0), (2, 20.0)).toDF("id", "price"))
    cat.addCheck("t", "price_pos", "price >= 0")
    // adding a check existing rows violate is refused
    intercept[ConstraintViolation] { cat.addCheck("t", "big", "price > 15") }
    // a violating multi-statement transaction rolls back atomically
    val v = cat.currentVersion
    intercept[ConstraintViolation] {
      cat.transaction { tx =>
        tx.insert("t", Seq((3, 30.0)).toDF("id", "price"))
        tx.insert("t", Seq((4, -1.0)).toDF("id", "price"))
      }
    }
    assert(cat.currentVersion === v)
    assert(cat.read("t").count() === 2)
    // NULL predicate passes (SQL CHECK semantics)
    cat.insert("t", Seq((5, Option.empty[Double])).toDF("id", "price"))
    assert(cat.read("t").count() === 3)
    // an update that would violate is refused
    intercept[ConstraintViolation] {
      cat.update("t", col("id") === 1, Map("price" -> lit(-5.0)))
    }
    // checks migrate with the table
    val dst = newLake()
    cat.migrateTo(dst)
    intercept[ConstraintViolation] {
      dst.insert("t", Seq((7, -3.0)).toDF("id", "price"))
    }
    // dropCheck lifts enforcement
    cat.dropCheck("t", "price_pos")
    cat.insert("t", Seq((6, -2.0)).toDF("id", "price"))
    assert(cat.read("t").count() === 4)
  }

  test("deletion vectors: MoR delete tombstones rows without rewriting files") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(10000).selectExpr("id", "id % 7 AS v"))
    val filesBefore = cat.current.tables("t").files.map(_.path)
    val v1 = cat.currentVersion
    cat.deleteMor("t", col("id") % 10 === 3)
    val st = cat.current.tables("t")
    // the data files are EXACTLY the same paths — only dv pointers changed
    assert(st.files.map(_.path) === filesBefore)
    assert(st.files.exists(_.dv.isDefined))
    assert(st.files.map(_.dvRows).sum === 1000L)
    assert(cat.read("t").count() === 9000L)
    assert(cat.read("t").filter(col("id") % 10 === 3).count() === 0L)
    // time travel still sees the pre-delete rows through the same files
    assert(cat.readAt("t", v1).count() === 10000L)
    // second MoR delete folds tombstones (re-matched rows don't double)
    cat.deleteMor("t", col("id") % 5 === 3)
    assert(cat.read("t").count() === 8000L)
    assert(cat.current.tables("t").files.map(_.dvRows).sum === 2000L)
    // a delete matching only already-deleted rows writes no sidecar
    val dvBefore = cat.current.tables("t").files.map(_.dv)
    cat.deleteMor("t", col("id") % 10 === 3)
    assert(cat.current.tables("t").files.map(_.dv) === dvBefore)
    assert(cat.current.tables("t").files.map(_.dvRows).sum === 2000L)
    // the change feed reports the deletes row-accurately
    val ch = cat.tableChanges("t", v1, cat.currentVersion)
    assert(ch.filter(col("change_type") === "delete").count() === 2000L)
    // deleted keys are re-insertable (PK sees live rows only)
    val cat2 = newLake()
    cat2.createTable("u", StructType(Seq(StructField("id", LongType),
      StructField("s", StringType))), primaryKey = Seq("id"))
    cat2.insert("u", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    cat2.deleteMor("u", col("id") === 2L)
    cat2.insert("u", Seq((2L, "b2")).toDF("id", "s"))
    assert(cat2.read("u").filter(col("id") === 2L).select("s").head().getString(0) === "b2")
  }

  test("deletion vectors: CoW rewrite and compaction materialize + clear them") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(5000).selectExpr("id", "id AS v"))
    cat.deleteMor("t", col("id") < 100)
    // an update rewrites affected files from their LIVE rows only
    cat.update("t", col("id") === 200L, Map("v" -> lit(-1L)))
    assert(cat.read("t").count() === 4900L)
    assert(cat.read("t").filter(col("id") < 100).count() === 0L)
    // compaction folds the whole table: no entry keeps a dv afterwards
    cat.compact("t", targetFileBytes = 1L << 20)
    val st = cat.current.tables("t")
    assert(st.files.forall(_.dv.isEmpty))
    assert(st.files.map(_.rowCount).sum === 4900L)
    assert(cat.read("t").count() === 4900L)
    // vacuum GCs the now-unreferenced dv sidecars along with old files
    cat.vacuum(keepLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(cat.root), true)
    var dvOnDisk = 0
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      if (p.contains("/dv/") && p.endsWith(".parquet")) dvOnDisk += 1
    }
    assert(dvOnDisk === 0)
  }

  test("restore re-points a table at a past version as a new commit") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(100).toDF("id"))
    val vOrig = cat.currentVersion
    cat.update("t", col("id") < 10, Map("id" -> (col("id") + 1000L)))
    cat.delete("t", col("id") >= 50 && col("id") < 1000)
    assert(cat.read("t").count() === 50L)
    cat.restoreTable("t", vOrig)
    // restored content = the original, bit for bit
    assert(cat.read("t").exceptAll(cat.readAt("t", vOrig)).isEmpty)
    assert(cat.read("t").count() === 100L)
    // history is intact: the intermediate versions still time-travel
    assert(cat.readAt("t", vOrig + 2).count() === 50L)
    // restore is a NEW version, not history surgery
    assert(cat.currentVersion === vOrig + 3)
    // restored table stays writable and a restore can be undone
    cat.insert("t", Seq(9999L).toDF("id"))
    assert(cat.read("t").count() === 101L)
    cat.restoreTable("t", vOrig + 2)
    assert(cat.read("t").count() === 50L)
    // restoring to a vacuumed version is refused
    cat.vacuum(keepLast = 1)
    intercept[IllegalArgumentException] { cat.restoreTable("t", vOrig) }
  }

  test("statsAgg answers count/min/max from the manifest, falls back when inexact") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(1000).selectExpr("id", "id * 2 AS v",
      "date_add(DATE'2024-01-01', CAST(id % 366 AS INT)) AS d",
      "CAST(id AS STRING) AS s"))
    cat.insertInlined("t", Seq((5000L, 42L, java.sql.Date.valueOf("2023-12-31"), "zz"))
      .toDF("id", "v", "d", "s"))
    val (rows, aggJobs) = jobsIn(cat.statsAgg("t", Seq("id", "v", "d", "s")).collect())
    val r = rows.head
    assert(aggJobs === 0, "the metadata path runs no Spark job")
    assert(r.getLong(0) === 1001L)                 // n
    assert(r.getLong(1) === 0L && r.getLong(2) === 5000L)  // min/max id
    assert(r.getLong(3) === 0L && r.getLong(4) === 1998L)  // min/max v... inlined 42 < 1998
    // dates come back typed; the inlined row holds the minimum
    assert(day(r.get(5)) === java.time.LocalDate.of(2023, 12, 31))
    assert(day(r.get(6)) === java.time.LocalDate.of(2024, 12, 31))
    assert(r.getString(7) === "0" && r.getString(8) === "zz")
    assert(r.getBoolean(9))                        // meta_only
    // MoR tombstones make MIN/MAX inexact from metadata -> scan fallback,
    // same answer shape; count-only stays metadata-exact
    cat.deleteMor("t", col("id") === 0L)
    val r2 = cat.statsAgg("t", Seq("id")).head()
    assert(!r2.getBoolean(3) && r2.getLong(1) === 1L)
    val cnt = cat.statsAgg("t").head()
    assert(cnt.getLong(0) === 1000L && cnt.getBoolean(1))
    // a tiny write skips the stats harvest but keeps its footer min/max
    // (exact on integral columns), so it still answers from metadata
    val cat2 = newLake()
    cat2.createTableAs("s", Seq((1L, 9L), (2L, 8L)).toDF("id", "v"))
    val r3 = cat2.statsAgg("s", Seq("v")).head()
    assert(r3.getBoolean(3) && r3.getLong(1) === 8L && r3.getLong(2) === 9L)
    // a tiny double column has neither footer stats nor a harvest: it
    // falls back to a scan — same values
    cat2.createTableAs("f", Seq((1L, 9.5), (2L, 8.5)).toDF("id", "v"))
    val r4 = cat2.statsAgg("f", Seq("v")).head()
    assert(!r4.getBoolean(3) && r4.getDouble(1) === 8.5 && r4.getDouble(2) === 9.5)
    // a tiny DATE column keeps exact footer stats too
    cat2.createTableAs("dt", Seq((1L, java.sql.Date.valueOf("2024-01-05")),
      (2L, java.sql.Date.valueOf("2024-03-01"))).toDF("id", "d"))
    val r5 = cat2.statsAgg("dt", Seq("d")).head()
    assert(r5.getBoolean(3) && day(r5.get(1)) === java.time.LocalDate.of(2024, 1, 5) &&
      day(r5.get(2)) === java.time.LocalDate.of(2024, 3, 1))
  }

  test("non-finite doubles never poison stats: reads, CBO fold and pruning survive NaN/Infinity") {
    val cat = newLake()
    cat.createTable("m", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))),
      primaryKey = Seq("id"))
    // clears the 64-row harvest gate; Spark's min/max order NaN LARGEST,
    // so one NaN row would fold the file's max to the string "NaN" — the
    // harvest must drop the column's stats instead (safeValue), or the
    // BigDecimal fold in manifestCatalogStats (every read!) throws
    def rows = spark.range(0, 500).selectExpr("id",
      """CASE WHEN id = 7 THEN double('NaN')
              WHEN id = 8 THEN double('Infinity')
              WHEN id = 9 THEN double('-Infinity')
              ELSE CAST(id AS DOUBLE) END AS v""")
    cat.insert("m", rows)
    assert(cat.read("m").count() === 500) // the read IS the regression
    // files whose extrema fold to NaN/Infinity drop the column's stats;
    // all-finite files keep theirs — but no recorded value is non-finite
    assert(cat.current.tables("m").files.forall(_.stats.get("v").forall(s =>
      java.lang.Double.isFinite(s.min.toDouble) &&
        java.lang.Double.isFinite(s.max.toDouble))),
      "non-finite extrema must not be recorded")
    // no stats -> no pruning on v, but never lost rows (expected counts
    // from the same expressions over the unstored frame, so Spark's own
    // NaN ordering is the arbiter)
    assert(cat.read("m").filter(col("v") > 100.0).count() ===
      rows.filter(col("v") > 100.0).count())
    assert(cat.read("m").filter(isnan(col("v"))).count() === 1L)
    // finite-valued commits in the same table keep their stats
    def rows2 = spark.range(1000, 1500)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v")
    cat.insert("m", rows2)
    assert(cat.current.tables("m").files.exists(_.stats.contains("v")))
    // NaN orders LARGEST in Spark comparisons, so the NaN/Infinity rows
    // of the first commit also pass v >= 1000 — the unstored frame is
    // again the arbiter (502, not 500)
    assert(cat.read("m").filter(col("v") >= 1000.0).count() ===
      rows.unionByName(rows2).filter(col("v") >= 1000.0).count())
  }

  test("zero-copy clone: shared files, independent divergence, safe vacuum") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(5000).selectExpr("id", "id AS v"))
    cat.cloneTable("t", "c")
    // the clone references the SAME files — nothing was copied
    val tf = cat.current.tables("t").files.map(_.path)
    assert(cat.current.tables("c").files.map(_.path) === tf)
    // divergence is copy-on-write: each side's writes leave the other alone
    cat.update("c", col("id") < 100, Map("v" -> lit(-1L)))
    cat.delete("t", col("id") >= 4000)
    assert(cat.read("t").count() === 4000L)
    assert(cat.read("c").count() === 5000L)
    assert(cat.read("c").filter(col("v") === -1L).count() === 100L)
    assert(cat.read("t").filter(col("v") === -1L).count() === 0L)
    // vacuum: files still referenced by EITHER table's kept snapshot live
    cat.vacuum(keepLast = 1)
    assert(cat.read("t").count() === 4000L)
    assert(cat.read("c").count() === 5000L)
    // write-audit-publish in ONE transaction: a failing audit rolls back
    // the stage table, the insert, and the swap together
    val v = cat.currentVersion
    intercept[RuntimeException] {
      cat.transaction { tx =>
        tx.cloneTable("t", "stage")
        tx.insert("stage", Seq((-1L, -99L)).toDF("id", "v"))
        if (!tx.read("stage").filter(col("id") < 0).isEmpty)
          throw new RuntimeException("audit failed: negative ids")
        tx.replaceTable("t", "stage")
        tx.dropTable("stage")
      }
    }
    assert(cat.currentVersion === v)
    assert(!cat.current.tables.contains("stage"))
    assert(cat.read("t").count() === 4000L)
    // and a passing audit publishes atomically
    cat.transaction { tx =>
      tx.cloneTable("t", "stage")
      tx.insert("stage", Seq((90000L, 1L)).toDF("id", "v"))
      require(tx.read("stage").filter(col("id") < 0).isEmpty)
      tx.replaceTable("t", "stage")
      tx.dropTable("stage")
    }
    assert(cat.currentVersion === v + 1)
    assert(cat.read("t").count() === 4001L)
  }

  test("NDV sketches fold from the manifest; fallback stays exact") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(20000).selectExpr("id", "id % 997 AS k"))
    // pre-index writes have no sketch -> exact fallback
    val (exact0, meta0) = cat.approxDistinct("t", "k")
    assert(!meta0 && exact0 === 997L)
    cat.ndvIndex("t", "k")
    cat.compact("t", targetFileBytes = 64L << 10) // backfills sketches
    assert(cat.current.tables("t").files.forall(_.ndv.contains("k")))
    val ((est, meta), ndvJobs) = jobsIn(cat.approxDistinct("t", "k"))
    assert(meta && math.abs(est - 997L) <= 997L * 0.05)
    assert(ndvJobs === 0, "the sketches union on the driver")
    // new inserts keep the table fully sketched; estimate tracks growth
    cat.insert("t", spark.range(5000).selectExpr("id + 100000 AS id",
      "id % 997 + 2000 AS k"))
    val (est2, meta2) = cat.approxDistinct("t", "k")
    assert(meta2 && math.abs(est2 - 1994L) <= 1994L * 0.05)
    // MoR tombstones would overcount -> exact fallback kicks in
    cat.deleteMor("t", col("k") >= 2000L)
    val (est3, meta3) = cat.approxDistinct("t", "k")
    assert(!meta3 && est3 === 997L)
  }

  test("deletion vectors compose with partitioning, blooms, and evolution") {
    val cat = newLake()
    // partitioned + bloom-indexed table
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("src", StringType),
      StructField("v", LongType))), partitionBy = Seq("src"))
    cat.bloomIndex("t", "id")
    cat.insert("t", spark.range(3000).selectExpr("id",
      "concat('s', id % 3) AS src", "id AS v"))
    // a no-match MoR delete adds no tombstones
    cat.deleteMor("t", col("id") === -1L)
    assert(cat.current.tables("t").files.forall(_.dv.isEmpty))
    cat.deleteMor("t", col("id") % 10 === 4)
    // partition pruning still works and excludes tombstoned rows
    val p0 = cat.readPartition("t", Map("src" -> "s0"))
    assert(p0.count() === 900L)
    assert(p0.filter(col("id") % 10 === 4).count() === 0L)
    // point lookup through the bloom index: a tombstoned key reads empty,
    // a live key reads through the same pruned file set
    assert(cat.readPoint("t", "id", "4").count() === 0L)
    assert(cat.readPoint("t", "id", "5").count() === 1L)
    // schema evolution on top: old files (with DVs) read the new column's
    // default, and the tombstones still apply
    cat.transaction(_.addColumn("t", "flag", StringType, Some("'old'")))
    assert(cat.read("t").count() === 2700L)
    assert(cat.read("t").filter(col("flag") === "old").count() === 2700L)
    cat.insert("t", Seq((50000L, "s0", 1L, "new")).toDF("id", "src", "v", "flag"))
    assert(cat.read("t").filter(col("flag") === "new").count() === 1L)
    assert(cat.read("t").count() === 2701L)
  }

  test("zorder on a (string, numeric) pair prunes on both dimensions") {
    // real lakes z-order on (domain, hash) / (id, date) pairs: the string
    // key buckets by its first bytes (UTF8 byte order = Spark string
    // order), so manifest stats box BOTH dimensions
    val cat = newLake()
    // 16 domains × 512 rows, domain and v independent; small target files
    // so the curve splits fine enough to box a 2-domain probe
    val df = spark.range(8192).selectExpr(
      "concat('domain_', lpad(cast(id % 16 AS string), 2, '0')) AS dom",
      "cast((id * 2654435761L) % 8192 AS bigint) AS v")
    cat.createTableAs("t", df.repartition(4))
    cat.zorder("t", Seq("dom", "v"), targetFileBytes = 2L << 10)
    val nf = cat.tableStats().filter(col("column_name") === "v").count()
    assert(nf > 8, "need several files for the pruning claim")
    // string-range probe prunes files...
    val domOverlap = cat.tableStats()
      .filter(col("table_name") === "t" && col("column_name") === "dom" &&
        col("min_value") <= "domain_03" && col("max_value") >= "domain_02")
      .count()
    assert(domOverlap < nf, "z-order must prune on the string dimension")
    // ...and the numeric dimension still prunes too
    val vOverlap = cat.tableStats()
      .filter(col("table_name") === "t" && col("column_name") === "v" &&
        col("min_value").cast("double") <= 500.0 &&
        col("max_value").cast("double") >= 100.0).count()
    assert(vOverlap < nf, "z-order must prune on the numeric dimension")
    // pruned reads return exactly what a full scan would
    val viaRange = cat.readRange("t", "dom", "domain_02", "domain_03")
      .agg(count(lit(1))).head().getLong(0)
    val viaScan = cat.read("t")
      .filter(col("dom") >= "domain_02" && col("dom") <= "domain_03")
      .agg(count(lit(1))).head().getLong(0)
    assert(viaRange === viaScan && viaRange === 1024L) // 2 domains x 512
  }

  test("SQL materialized views: join+filter form maintains; bad shapes reject") {
    val cat = newLake()
    cat.execute("CREATE TABLE f (k INTEGER, v INTEGER)")
    cat.execute("CREATE TABLE dim (k INTEGER, grp VARCHAR)")
    cat.execute("INSERT INTO dim SELECT * FROM VALUES (1, 'a'), (2, 'b') AS x(k, grp)")
    cat.execute("INSERT INTO f SELECT * FROM VALUES " +
      "(1, 10), (1, 11), (2, 20), (2, 21) AS x(k, v)")
    cat.execute("CREATE MATERIALIZED VIEW m AS " +
      "SELECT grp, COUNT(*) AS n_rows, SUM(v) AS sum_v " +
      "FROM f JOIN dim ON k = k WHERE v % 2 = 0 GROUP BY grp")
    assert(cat.sql("SELECT grp, n_rows, sum_v FROM m ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    // churn the fact side; REFRESH must take the incremental path
    cat.execute("INSERT INTO f SELECT * FROM VALUES (2, 22) AS x(k, v)")
    val path = cat.execute("REFRESH MATERIALIZED VIEW m")
      .head().getString(1)
    assert(path === "incremental")
    assert(cat.sql("SELECT sum_v FROM m WHERE grp = 'b'")
      .head().getLong(0) === 42L)
    // MIN/MAX on a join MV maintains as Mv.createJoin does: a dim update
    // moves k = 2 into group a, group b empties, and the max stays exact
    cat.execute("CREATE MATERIALIZED VIEW mx AS " +
      "SELECT grp, COUNT(*) AS n_rows, MAX(v) AS max_v " +
      "FROM f JOIN dim ON k = k GROUP BY grp")
    cat.update("dim", col("k") === 2, Map("grp" -> lit("a")))
    assert(cat.execute("REFRESH MATERIALIZED VIEW mx").head().getString(1)
      === "incremental")
    val mxWant = cat.read("f").join(cat.read("dim"), "k").groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), max("v").as("max_v"))
      .orderBy("grp").collect().map(_.toString).toSeq
    assert(mxWant === Seq("[a,5,22]"))
    assert(cat.sql("SELECT grp, n_rows, max_v FROM mx ORDER BY grp")
      .collect().map(_.toString).toSeq === mxWant)
    // the maintainer's subset is enforced loudly, not silently mangled:
    // COUNT(*) AS n_rows is mandatory (retires emptied groups)
    intercept[IllegalArgumentException] {
      cat.execute("CREATE MATERIALIZED VIEW bad1b AS " +
        "SELECT k, MAX(v) AS max_v FROM f GROUP BY k")
    }
    intercept[IllegalArgumentException] {
      cat.execute("CREATE MATERIALIZED VIEW bad2 AS " +
        "SELECT k, COUNT(*) AS n_rows FROM f WHERE v > 0 GROUP BY k")
    }
    intercept[IllegalArgumentException] {
      cat.execute("CREATE MATERIALIZED VIEW bad3 AS " +
        "SELECT k, COUNT(*) AS n_rows FROM f GROUP BY v")
    }
    // SQL ON is order-insensitive: the reversed clause resolves by
    // schema, and same-name-on-both-sides ambiguity is rejected
    cat.execute("CREATE TABLE dim2 (dk INTEGER, grp2 VARCHAR)")
    cat.execute("INSERT INTO dim2 SELECT * FROM VALUES (1, 'z') AS x(dk, grp2)")
    cat.execute("CREATE MATERIALIZED VIEW m2 AS " +
      "SELECT grp2, COUNT(*) AS n_rows FROM f JOIN dim2 ON dk = k GROUP BY grp2")
    assert(cat.sql("SELECT n_rows FROM m2").head().getLong(0) === 2L)
    intercept[IllegalArgumentException] {
      // f and dim both have a column k: ON k = k is the USING form (fine),
      // but a cross-named pair where both orientations resolve must reject
      cat.execute("CREATE TABLE dboth (k INTEGER, v INTEGER)")
      cat.execute("CREATE MATERIALIZED VIEW bad4 AS " +
        "SELECT k, COUNT(*) AS n_rows FROM f JOIN dboth ON k = v GROUP BY k")
    }
    // MV statements refuse to run inside an open interactive transaction
    cat.execute("BEGIN")
    try {
      intercept[IllegalArgumentException] {
        cat.execute("CREATE MATERIALIZED VIEW m3 AS " +
          "SELECT k, COUNT(*) AS n_rows FROM f GROUP BY k")
      }
      intercept[IllegalArgumentException] {
        cat.execute("REFRESH MATERIALIZED VIEW m")
      }
    } finally cat.execute("ROLLBACK")
  }

  test("files() lists per-file manifest bookkeeping; graft_files() serves SQL") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(2000).selectExpr("id", "id % 7 AS v")
      .repartition(3))
    cat.insert("t", spark.range(2000, 2500).selectExpr("id", "id % 7 AS v"))
    val f = cat.files()
    // one row per live file, consistent with tableInfo's ledger
    val info = cat.tableInfo().filter(col("table_name") === "t").head()
    assert(f.count() === info.getAs[Long]("file_count"))
    assert(f.agg(sum("live_rows")).head().getLong(0) === 2500L)
    assert(f.filter(col("has_dv")).count() === 0L)
    // MoR delete: tombstones appear as dv bookkeeping, live counts drop
    cat.deleteMor("t", col("id") < 100)
    val f2 = cat.files()
    assert(f2.filter(col("has_dv")).count() > 0L)
    assert(f2.agg(sum("live_rows")).head().getLong(0) === 2400L)
    assert(f2.agg(sum("dv_rows")).head().getLong(0) === 100L)
    // and the SQL surface resolves the same ledger
    val viaSql = cat.sql(
      "SELECT CAST(SUM(live_rows) AS BIGINT) AS lr FROM graft_files()")
      .head().getLong(0)
    assert(viaSql === 2400L)
  }

  test("auto-compaction folds the layout once inserts exceed the file cap") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(100).selectExpr("id").repartition(2))
    cat.autoCompact("t", maxFiles = 4, targetFileBytes = 4L << 20)
    def fileCount: Long = cat.tableInfo()
      .filter(col("table_name") === "t").head().getAs[Long]("file_count")
    // each insert appends files; crossing the cap triggers a follow-on
    // compaction commit, so the count never stays above the cap
    (0 until 6).foreach { i =>
      cat.insert("t", spark.range(100 * (i + 1), 100 * (i + 2))
        .selectExpr("id").repartition(2))
      assert(fileCount <= 4,
        s"auto-compact must hold the cap after insert $i, got $fileCount")
    }
    // data intact, and the history records the maintenance commits
    assert(cat.read("t").count() === 700L)
    assert(cat.read("t").agg(sum("id")).head().getLong(0) ===
      (0L until 700L).sum)
    val compactions = cat.snapshots()
      .filter(expr("changes['tables_compacted'] IS NOT NULL")).count()
    assert(compactions > 0L, "compaction commits must appear in history")
    // the policy rides the snapshot: still enforced after reopening
    val cat2 = new LakeCatalog(spark, cat.root)
    cat2.insert("t", spark.range(700, 800).selectExpr("id").repartition(6))
    assert(cat2.tableInfo().filter(col("table_name") === "t")
      .head().getAs[Long]("file_count") <= 4)
    // SQL-routed INSERTs enforce the same cap (not just the Scala API)
    (0 until 6).foreach { i =>
      cat2.execute(s"INSERT INTO t SELECT * FROM VALUES (${9000 + i}) AS x(id)")
    }
    assert(cat2.tableInfo().filter(col("table_name") === "t")
      .head().getAs[Long]("file_count") <= 4,
      "SQL INSERT path must trigger auto-compaction too")
    // once the data outgrows maxFiles*targetFileBytes the cap is
    // unachievable: the policy must go DORMANT (no O(table) rewrite per
    // insert), not thrash
    val cat3 = newLake()
    cat3.createTableAs("u", spark.range(50000).selectExpr("id").repartition(2))
    cat3.autoCompact("u", maxFiles = 2, targetFileBytes = 16L << 10)
    val nCompact0 = cat3.snapshots()
      .filter(expr("changes['tables_compacted'] IS NOT NULL")).count()
    (0 until 3).foreach { i =>
      cat3.insert("u", spark.range(50000 + i * 100, 50100 + i * 100)
        .selectExpr("id").repartition(2))
    }
    val nCompact1 = cat3.snapshots()
      .filter(expr("changes['tables_compacted'] IS NOT NULL")).count()
    assert(nCompact1 === nCompact0,
      "an unachievable cap must not trigger per-insert rewrites")
  }

  test("auto-compaction is byte-aware: near-target files decline, small tails fold selectively") {
    // (a) DECLINE: the count overage comes from near-target files (each
    // >= target/2) — the count-cap alone would fold them (a full
    // compaction reaches ceil(total/target) <= maxFiles), but rewriting
    // healthy files to satisfy a count cap is churn; the byte policy
    // must decline
    val cat = newLake()
    def filesOf(c: LakeCatalog, t: String) =
      c.files().filter(col("table_name") === t)
    val mk = (lo: Int, hi: Int, n: Int) => spark.range(lo, hi)
      .selectExpr("id", "sha2(cast(id AS string), 256) AS pad")
      .repartition(n)
    cat.createTableAs("t", mk(0, 60000, 6))
    // derive the target from the MEASURED file sizes (absolute parquet
    // sizes swing with encoder/compression versions): target = 2x the
    // smallest file makes every existing file "near-target" (>= target/2)
    // while a full fold of 7 similar files would reach ceil(7/2)=4 <= cap
    // — i.e. the pre-round-11 count-only policy WOULD have rewritten
    val sizes = filesOf(cat, "t").select("size_bytes").as[Long].collect()
    val target = sizes.min * 2
    cat.autoCompact("t", maxFiles = 6, targetFileBytes = target)
    val nCompact0 = cat.snapshots()
      .filter(expr("changes['tables_compacted'] IS NOT NULL")).count()
    cat.insert("t", mk(60000, 70000, 1)) // 7th near-target file, cap 6
    assert(cat.snapshots()
      .filter(expr("changes['tables_compacted'] IS NOT NULL")).count()
      === nCompact0, "near-target overage must not trigger a rewrite")
    assert(filesOf(cat, "t").count() === 7L)
    // (b) SELECTIVE: a tail of tiny files beside healthy big ones folds
    // the TAIL only — the big files' paths survive the compaction commit
    val cat2 = newLake()
    cat2.createTableAs("u", mk(0, 40000, 2)) // 2 healthy files
    val bigSizes = filesOf(cat2, "u").select("size_bytes").as[Long].collect()
    cat2.autoCompact("u", maxFiles = 4, targetFileBytes = bigSizes.min)
    val bigPaths = filesOf(cat2, "u")
      .select("file_path").as[String].collect().toSet
    assert(bigPaths.size === 2)
    (0 until 4).foreach { i =>
      cat2.insert("u", mk(40000 + i * 10, 40010 + i * 10, 1)) // tiny appends
    }
    val after = filesOf(cat2, "u")
      .select("file_path").as[String].collect().toSet
    assert(filesOf(cat2, "u").count() <= 4L,
      "small tail must fold back under the cap")
    assert(bigPaths.subsetOf(after),
      "near-target files must NOT be rewritten when folding the tail")
    assert(cat2.read("u").count() === 40040L)
  }

  test("zorder accepts date keys; date stats prune ISO-string ranges") {
    val cat = newLake()
    val df = spark.range(4096).selectExpr(
      "date_add(date'2024-01-01', cast(id % 64 AS int)) AS d",
      "cast((id * 2654435761L) % 4096 AS bigint) AS v")
    cat.createTableAs("t", df.repartition(4))
    cat.zorder("t", Seq("d", "v"), targetFileBytes = 2L << 10)
    val nf = cat.tableStats().filter(col("column_name") === "v").count()
    assert(nf > 8, "need several files for the pruning claim")
    val dOverlap = cat.tableStats()
      .filter(col("table_name") === "t" && col("column_name") === "d" &&
        col("min_value") <= "2024-01-08" && col("max_value") >= "2024-01-05")
      .count()
    assert(dOverlap < nf, "z-order must prune on the date dimension")
    val viaRange = cat.readRange("t", "d", "2024-01-05", "2024-01-08").count()
    assert(viaRange === 4 * 64L) // 4 dates x 64 rows
  }

  test("zorder refuses unsupported key types instead of degenerating") {
    val cat = newLake()
    cat.createTableAs("t", spark.range(100)
      .selectExpr("id AS a", "array(id, id + 1) AS arr"))
    intercept[IllegalArgumentException] {
      cat.zorder("t", Seq("a", "arr"))
    }
  }

  test("4-column zorder keeps the key inside the signed-bit budget") {
    // With 16 bits/key the 4th column's MSB would land on bit 63 (the
    // BIGINT sign bit) and invert ordering for its top half; at 15
    // bits/key the layout must still prune on the 4th dimension.
    val cat = newLake()
    val df = spark.range(4096).selectExpr(
      "id AS a",
      "cast((id * 2654435761L) % 4096 AS bigint) AS b",
      "cast((id * 40503L) % 4096 AS bigint) AS c",
      "cast(4095 - id AS bigint) AS d") // full-range dimension, MSB active
    cat.createTableAs("t", df.repartition(4))
    cat.zorder("t", Seq("a", "b", "c", "d"), targetFileBytes = 8L << 10)
    val nFiles = cat.tableStats()
      .filter(col("column_name") === "a").count()
    assert(nFiles > 2, "need several files for the pruning claim")
    // the 4th dimension prunes: files overlapping a d-range are a strict
    // subset (sign-bit aliasing would smear d across every file)
    val overlapping = cat.tableStats()
      .filter(col("column_name") === "d" &&
        col("min_value").cast("double") <= 700.0 &&
        col("max_value").cast("double") >= 300.0).count()
    assert(overlapping < nFiles, "d-dimension must prune")
    // and answers stay exact vs a full scan
    val viaRange = cat.readRange("t", "d", "300", "700")
      .agg(sum(col("a"))).head().getLong(0)
    val viaScan = cat.read("t").filter(col("d") >= 300 && col("d") <= 700)
      .agg(sum(col("a"))).head().getLong(0)
    assert(viaRange === viaScan)
  }

  test("multi-environment config pattern (demo 5): per-env catalogs + migrate") {
    // ref demos/05_catalog_portability/demo.py:369-428: the same config
    // table shape per environment, promoted dev -> prod
    val envs = Seq("dev", "staging", "prod").map(e => e -> newLake()).toMap
    envs.foreach { case (env, cat) =>
      cat.createTable("config", StructType(Seq(
        StructField("key", StringType), StructField("value", StringType),
        StructField("environment", StringType))), primaryKey = Seq("key"))
      cat.insert("config", Seq(
        ("batch_size", if (env == "prod") "10000" else "100", env),
        ("debug", (env != "prod").toString, env)).toDF("key", "value", "environment"))
    }
    assert(envs("prod").sql(
      "SELECT value FROM config WHERE key = 'batch_size'")
      .as[String].head() === "10000")
    // promote dev catalog contents into a fresh env
    val qa = newLake()
    envs("dev").migrateTo(qa)
    assert(qa.read("config").count() === 2)
    assert(qa.sql("SELECT value FROM config WHERE key = 'debug'")
      .as[String].head() === "true")
  }

  test("incremental manifests: appends cost O(delta) metadata; snapshots() is one read") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    val n = 34 // crosses the blob-merge threshold (32) once
    (1 to n).foreach(i => cat.insert("t", Seq(i).toDF("id")))
    val cur = cat.currentVersion
    assert(cur === n + 1)
    // every version's blob fan-out stays bounded; appends extend the
    // previous blob list by exactly one O(1)-sized delta blob
    (2L to cur).foreach { v =>
      val st = cat.snapshot(v).tables("t")
      val prev = cat.snapshot(v - 1).tables("t")
      assert(st.blobs.size <= Manifest.BlobMergeThreshold)
      assert(st.files.size === prev.files.size + 1)
      if (st.blobs.size > 1) { // non-merge commit: strict delta
        assert(st.blobs.startsWith(prev.blobs))
        assert(st.blobs.size === prev.blobs.size + 1)
      }
    }
    // the manifest document never re-embeds file entries (they live in
    // blobs): no parquet path appears in the current document's JSON
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val docPath = new org.apache.hadoop.fs.Path(cat.root, s"_manifest/v$cur.json")
    val doc = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
      fs.open(docPath)), java.nio.charset.StandardCharsets.UTF_8)
    assert(!doc.contains(".parquet"))
    // time travel across the merge boundary still resolves every version
    assert(cat.readAt("t", 10).count() === 9)
    assert(cat.readAt("t", 33).count() === 32)
    assert(cat.read("t").count() === n)
    // a FRESH catalog resolves the whole snapshot feed from ONE document
    val cat2 = new LakeCatalog(spark, cat.root)
    val before = Manifest.manifestFileReads.get()
    assert(cat2.snapshots().count() === n + 1)
    assert(Manifest.manifestFileReads.get() - before === 1)
    val again = Manifest.manifestFileReads.get()
    cat2.snapshots().count() // cached — zero further document reads
    assert(Manifest.manifestFileReads.get() === again)
  }

  test("publish is first-writer-wins; concurrent commits serialize without loss") {
    val cat1 = newLake()
    cat1.createTable("t", StructType(Seq(StructField("id", IntegerType))))
    // raw seam: two publishes of the same version — exactly one lands
    val store = new graft.lake.FileManifestStore(
      cat1.root, spark.sessionState.newHadoopConf())
    val base = cat1.current
    val v = cat1.currentVersion + 1
    val s1 = base.copy(snapshotId = v, views = Map("a" -> "SELECT 1"))
    val s2 = base.copy(snapshotId = v, views = Map("b" -> "SELECT 2"))
    val r1 = store.publish(v, s1, base)
    val r2 = store.publish(v, s2, base)
    assert(r1.isDefined && r2.isEmpty)
    // optimistic retry: two catalogs on one root commit concurrently;
    // both writes land, on distinct serialized versions
    val cat2 = new LakeCatalog(spark, cat1.root)
    val t1 = new Thread(() => cat1.insert("t", Seq(1).toDF("id")))
    val t2 = new Thread(() => cat2.insert("t", Seq(2).toDF("id")))
    t1.start(); t2.start(); t1.join(); t2.join()
    val fresh = new LakeCatalog(spark, cat1.root)
    assert(fresh.currentVersion === v + 2)
    assert(fresh.read("t").as[Int].collect().sorted === Array(1, 2))
  }

  test("migrate recreates tables, constraints and views in a second catalog") {
    val src = newLake()
    src.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))),
      primaryKey = Seq("id"))
    src.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    src.createView("vw", "SELECT count(*) AS n FROM t")
    val dst = newLake()
    src.migrateTo(dst)
    assert(dst.read("t").count() === 2)
    assert(dst.current.tables("t").primaryKey === Seq("id"))
    assert(dst.readView("vw").as[Long].head() === 2L)
  }

  test("merge upserts copy-on-write: matched replaced, unmatched inserted, untouched files kept") {
    val cat = newLake()
    cat.createTable("inventory", invSchema, primaryKey = Seq("product_id"))
    // two separate inserts -> two file sets; the merge only touches keys
    // from the second one, so the first one's files must survive verbatim
    cat.insert("inventory",
      Seq((1, "widget", 10, 9.99), (2, "gadget", 5, 19.5))
        .toDF("product_id", "product_name", "quantity", "price"))
    cat.insert("inventory",
      Seq((3, "doohickey", 2, 3.25)).toDF("product_id", "product_name", "quantity", "price"))
    val filesBefore = cat.current.tables("inventory").files
    val vPre = cat.currentVersion
    cat.merge("inventory",
      Seq((3, "doohickey2", 20, 4.0), (4, "brandnew", 1, 5.0))
        .toDF("product_id", "product_name", "quantity", "price"),
      Seq("product_id"))
    val m = cat.read("inventory").collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(m.size === 4)
    assert(m(3) === (("doohickey2", 20)), "matched row replaced")
    assert(m(4) === (("brandnew", 1)), "unmatched source row inserted")
    assert(m(1) === (("widget", 10)) && m(2) === (("gadget", 5)), "others untouched")
    // CoW: the file(s) holding keys 1,2 carry over unrewritten
    val filesAfter = cat.current.tables("inventory").files
    val keyOneFile = filesBefore.head // insert order: first file set = keys 1,2
    assert(filesAfter.exists(_.path == keyOneFile.path), "untouched file kept")
    // time travel: the pre-merge snapshot still reads 3 rows
    assert(cat.readAt("inventory", vPre).count() === 3)
    // change summary tags the merge
    val tagged = cat.current.history.last.changes
      .getOrElse("tables_merged", Nil)
    assert(tagged.contains("inventory"))
    // SQL MERGE cardinality rule: duplicate source keys refuse
    intercept[ConstraintViolation] {
      cat.merge("inventory",
        Seq((7, "a", 1, 1.0), (7, "b", 2, 2.0))
          .toDF("product_id", "product_name", "quantity", "price"),
        Seq("product_id"))
    }
    // and the failed merge left no trace
    assert(cat.read("inventory").count() === 4)
  }

  test("execute: SQL DML/DDL statement router, one atomic commit per statement") {
    val cat = newLake()
    cat.createTable("inv", invSchema, primaryKey = Seq("product_id"))
    cat.execute(
      "INSERT INTO inv VALUES (1, 'widget', 10, 9.99), (2, 'gadget', 5, 19.5)")
    assert(cat.read("inv").count() === 2)
    // SET list with a comma inside a function call must not mis-split
    cat.execute("UPDATE inv SET quantity = quantity - greatest(1, 2), " +
      "price = price * 2 WHERE product_id = 1")
    val r1 = cat.read("inv").filter(col("product_id") === 1)
      .select("quantity", "price").as[(Int, Double)].head()
    assert(r1 === ((8, 19.98)))
    // string literals are single lexer tokens: an escaped quote, a
    // `where` or a comma inside one is data, not syntax
    cat.execute("UPDATE inv SET product_name = 'it\\'s where x' WHERE product_id = 1")
    cat.execute("UPDATE inv SET product_name = 'x\\', y' WHERE product_id = 2")
    assert(cat.read("inv").orderBy("product_id").select("product_name")
      .as[String].collect().toSeq === Seq("it's where x", "x', y"))
    // a leading comment is not part of the statement head
    cat.execute("-- fix\nDELETE FROM inv WHERE product_id = 2")
    assert(cat.read("inv").count() === 1)
    cat.execute("CREATE TABLE kept AS SELECT * FROM inv WHERE quantity > 0")
    cat.execute("CREATE VIEW v_ids AS SELECT product_id FROM inv")
    assert(cat.execute("SELECT count(*) AS n FROM v_ids")
      .as[Long].head() === 1)
    cat.execute("ALTER TABLE kept RENAME TO kept2")
    cat.execute("TRUNCATE TABLE kept2")
    assert(cat.read("kept2").count() === 0)
    cat.execute("DROP VIEW v_ids")
    cat.execute("DROP TABLE kept2")
    intercept[NoSuchElementException] { cat.read("kept2").count() }
    // a failing statement rolls back atomically (PK violation)
    intercept[ConstraintViolation] {
      cat.execute("INSERT INTO inv VALUES (1, 'dup', 1, 1.0)")
    }
    assert(cat.read("inv").count() === 1)
    // INSERT INTO ... SELECT resolves lake tables
    cat.execute("INSERT INTO inv SELECT product_id + 100, product_name, " +
      "quantity, price FROM inv")
    assert(cat.read("inv").count() === 2)
    cat.execute("DELETE FROM `inv` WHERE product_id = 1")
    assert(cat.read("inv").count() === 1)
    // DuckDB type names are rewritten in type position only: a column
    // named `text`, and a DEFAULT literal holding a paren, stay as written
    cat.execute("CREATE TABLE d (id INTEGER, text TEXT)")
    cat.execute("INSERT INTO d VALUES (1, 'a')")
    cat.execute("ALTER TABLE d ADD COLUMN note VARCHAR DEFAULT 'a (b'")
    assert(cat.read("d").as[(Int, String, String)].collect().toSeq ===
      Seq((1, "a", "a (b")))
    // a parsed write or DDL node the router does not handle is refused
    // by name, never run as a query
    val v = cat.currentVersion
    Seq("INSERT OVERWRITE inv SELECT * FROM inv" -> "InsertIntoStatement",
      "MERGE INTO inv USING (SELECT 101 AS product_id) s " +
        "ON inv.product_id = s.product_id " +
        "WHEN MATCHED THEN UPDATE SET quantity = 0" -> "UpdateAction",
      "ALTER TABLE inv SET TBLPROPERTIES ('a' = 'b')" -> "SetTableProperties")
      .foreach { case (q, node) =>
        assert(intercept[IllegalArgumentException](cat.execute(q))
          .getMessage.contains(node), q)
      }
    assert(cat.currentVersion === v)
  }

  test("deletePartitions: pure files drop metadata-only, mixed files rewrite CoW, time travel intact") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType),
      StructField("day", StringType),
      StructField("k", StringType))), partitionBy = Seq("day"))
    def rows(lo: Int, hi: Int) = spark.range(lo, hi).selectExpr(
      "cast(id AS int) AS id",
      "CASE WHEN id % 2 = 0 THEN 'd0' ELSE 'd1' END AS day",
      "CASE WHEN id % 4 < 2 THEN 'k0' ELSE 'k1' END AS k")
    cat.insert("t", rows(0, 100)) // day-clustered: one file per day
    val vPre = cat.currentVersion
    val pre = cat.current.tables("t").files
    // pure-partition drop: no new files, one fewer entry
    cat.deletePartitions("t", Map("day" -> "d0"))
    val post = cat.current.tables("t").files
    assert(post.size === pre.size - 1)
    assert(post.map(_.path).toSet.subsetOf(pre.map(_.path).toSet),
      "metadata-only: nothing rewritten")
    assert(cat.read("t").filter(col("day") === "d0").count() === 0)
    assert(cat.read("t").count() === 50)
    assert(cat.readAt("t", vPre).count() === 100, "time travel intact")
    // non-partition key: files mix k values, so the delete rewrites CoW
    cat.deletePartitions("t", Map("k" -> "k0"))
    assert(cat.read("t").filter(col("k") === "k0").count() === 0)
    assert(cat.read("t").count() === 25)
    // semantics match plain delete on the same predicate
    val cat2 = newLake()
    cat2.createTable("t", StructType(Seq(
      StructField("id", IntegerType),
      StructField("day", StringType),
      StructField("k", StringType))), partitionBy = Seq("day"))
    cat2.insert("t", rows(0, 100))
    cat2.delete("t", col("day") === "d0")
    cat2.delete("t", col("k") === "k0")
    assert(cat2.read("t").orderBy("id").collect().toSeq ===
      cat.read("t").orderBy("id").collect().toSeq)
    // a file whose value set is the probe alone but which also holds
    // NULL days (collect_set skips NULLs) rewrites, keeping the NULLs
    val ext = tmpDir("ext_nulls")
    spark.range(200).selectExpr("cast(id AS int) AS id",
      "CASE WHEN id < 100 THEN 'd55' END AS day", "'k1' AS k")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    cat2.addDataFiles("t", ext)
    assert(cat2.current.tables("t").files.exists(_.pvals.get("day")
      .contains(Seq("d55"))), "fixture")
    cat2.deletePartitions("t", Map("day" -> "d55"))
    assert(cat2.read("t").filter(col("day").isNull).count() === 100L)
    assert(cat2.read("t").filter(col("day") === "d55").count() === 0L)
  }

  test("partition and point probes key the manifest in Spark's cast-string form") {
    val cat = newLake()
    // >= 64 rows per write, so the harvest records sidecars and value sets
    val ids = spark.range(1, 201)
    cat.createTable("t", StructType(Seq(
      StructField("x", DoubleType), StructField("n", LongType))))
    cat.bloomIndex("t", "x")
    cat.insert("t", ids.selectExpr("cast(id AS double) AS x", "id AS n"))
    cat.createTable("u", StructType(Seq(StructField("n", LongType))))
    cat.bloomIndex("u", "n")
    cat.insert("u", ids.toDF("n"))
    cat.createTable("p", StructType(Seq(
      StructField("n", LongType), StructField("d", LongType))),
      partitionBy = Seq("d"))
    cat.insert("p", ids.selectExpr("id AS n", "id % 5 AS d"))
    assert(cat.current.tables("t").files.forall(_.blooms.contains("x")) &&
      cat.current.tables("u").files.forall(_.blooms.contains("n")) &&
      cat.current.tables("p").files.forall(_.pvals.contains("d")),
      "fixture: bloom sidecars and partition value sets recorded")
    // the manifest holds "7.0", "7" and "2"; the probes "7", "07" and
    // "02" must still find the rows the typed row filter matches
    assert(cat.readPartition("t", Map("x" -> "7")).count() === 1L)
    assert(cat.readPoint("t", "x", "7").count() === 1L)
    assert(cat.readPartition("u", Map("n" -> "07")).count() === 1L)
    assert(cat.pointScanFiles("u", "n", "07") ===
      cat.pointScanFiles("u", "n", "7"))
    assert(cat.readPartition("p", Map("d" -> "02")).count() === 40L)
    cat.deletePartitions("t", Map("x" -> "7"))
    cat.deletePartitions("u", Map("n" -> "07"))
    cat.deletePartitions("p", Map("d" -> "02"))
    def ns(t: String) = cat.read(t).select("n").as[Long].collect().sorted.toSeq
    assert(ns("t") === (1L to 200L).filterNot(_ == 7L))
    assert(ns("u") === (1L to 200L).filterNot(_ == 7L))
    assert(ns("p") === (1L to 200L).filterNot(_ % 5 == 2L))
  }

  test("probes, deletePartitions, the PK check and the metadata answers key each file by its write-time column name") {
    // a column renamed away and a new one added under its old name: the
    // files written before hold stats, blooms and sketches under that
    // name for the OLD column, while every row reads the new one's 5
    val cat = newLake()
    cat.createTable("t", StructType(Seq(StructField("id", LongType))))
    cat.bloomIndex("t", "id")
    cat.ndvIndex("t", "id")
    cat.insert("t", spark.range(100, 200).toDF("id"))
    cat.transaction { tx =>
      tx.renameColumn("t", "id", "old_id")
      tx.addColumn("t", "id", LongType, Some("5"))
    }
    val want = cat.read("t").filter(col("id") === 5L).count()
    assert(want === 100L)
    assert(cat.readPoint("t", "id", "5").count() === want)
    assert(cat.readRange("t", "id", "5", "5").count() === want)
    assert(cat.readPartition("t", Map("id" -> "5")).count() === want)
    // pointScanFiles only plans: no Spark job
    val (scanned, scanJobs) = jobsIn(cat.pointScanFiles("t", "id", "5"))
    assert(scanned > 0L)
    assert(scanJobs === 0)
    val agg = cat.statsAgg("t", Seq("id")).head()
    assert(agg.getAs[Long]("min_id") === 5L && agg.getAs[Long]("max_id") === 5L)
    assert(cat.approxDistinct("t", "id")._1 === 1L)
    cat.deletePartitions("t", Map("id" -> "5"))
    assert(cat.read("t").count() === 0L)
    // the PK check against existing rows: after the swap the key is k,
    // its files record it as a, and their stats under the name k belong
    // to k_old (1000..1099)
    cat.createTable("p", StructType(Seq(
      StructField("a", LongType), StructField("k", LongType))),
      primaryKey = Seq("a"))
    cat.insert("p", spark.range(100).selectExpr("id AS a", "id + 1000 AS k"))
    cat.transaction { tx =>
      tx.renameColumn("p", "k", "k_old")
      tx.renameColumn("p", "a", "k")
    }
    intercept[ConstraintViolation] {
      cat.insert("p", Seq((5L, 0L)).toDF("k", "k_old"))
    }
    assert(cat.read("p").filter(col("k") === 5L).count() === 1L)
  }

  test("addDataFiles: zero-copy import, CoW rewrite drops the reference, vacuum never touches external files") {
    val cat = newLake()
    cat.createTable("inventory", invSchema, primaryKey = Seq("product_id"))
    cat.insert("inventory",
      Seq((1, "widget", 10, 9.99)).toDF("product_id", "product_name", "quantity", "price"))
    // external parquet, written outside the lake root
    val ext = tmpDir("ext_files")
    Seq((2, "gadget", 5, 19.5), (3, "doohickey", 2, 3.25))
      .toDF("product_id", "product_name", "quantity", "price")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    cat.addDataFiles("inventory", ext)
    assert(cat.read("inventory").count() === 3)
    val imported = cat.current.tables("inventory").files
      .filter(_.path.startsWith(new java.io.File(ext).getAbsolutePath))
    assert(imported.nonEmpty, "imported entries reference the external dir")
    // schema contract: a file set with an extra column refuses
    val bad = tmpDir("ext_bad")
    Seq((9, "x", 1, 1.0, "extra"))
      .toDF("product_id", "product_name", "quantity", "price", "surprise")
      .write.mode("overwrite").parquet(bad)
    intercept[IllegalArgumentException] { cat.addDataFiles("inventory", bad) }
    // CoW update of an imported row: reference dropped, external file intact
    cat.update("inventory", col("product_id") === 2, Map("quantity" -> lit(99)))
    val afterUpdate = cat.current.tables("inventory").files
    assert(cat.read("inventory").filter(col("product_id") === 2)
      .select("quantity").as[Int].head() === 99)
    val extFile = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(extFile.isFile, "external file still on disk after CoW rewrite")
    // vacuum with aggressive expiry: external file survives physically
    (1 to 3).foreach(i => cat.insert("inventory",
      Seq((100 + i, "n", 1, 1.0)).toDF("product_id", "product_name", "quantity", "price")))
    cat.vacuum(keepLast = 1, orphanGraceMs = 0L)
    assert(extFile.isFile, "vacuum never deletes files outside the lake root")
    assert(cat.read("inventory").count() === 6)
  }

  test("addDataFiles: imported entries carry the bloom and NDV sidecars; external zero-row files stay on disk") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("k", LongType))),
      primaryKey = Seq("id"))
    cat.bloomIndex("t", "id")
    cat.ndvIndex("t", "k")
    // four interleaved files (each spans the FULL id range, so min/max
    // cannot prune a point lookup — only the bloom can) and an empty one
    val ext = tmpDir("ext_idx")
    (0 until 4).foreach(r => spark.range(1000)
      .selectExpr(s"id * 4 + $r AS id", "id % 97 AS k")
      .coalesce(1).write.mode("append").parquet(ext))
    spark.range(0).selectExpr("id", "id AS k")
      .coalesce(1).write.mode("append").parquet(ext)
    val onDisk = () => new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = onDisk()
    assert(before.size === 5)
    cat.addDataFiles("t", ext)
    val files = cat.current.tables("t").files
    assert(files.forall(_.blooms.contains("id")))
    assert(files.forall(_.ndv.contains("k")))
    assert(files.size === 4, "the zero-row file gets no entry")
    assert(files.forall(e => e.rowCount === 1000L && e.stats.contains("id")))
    // 2001 = 4*500+1 lives in the r = 1 file only
    assert(cat.pointScanFiles("t", "id", "2001") < files.size)
    assert(cat.readPoint("t", "id", "2001").count() === 1)
    val (est, metaOnly) = cat.approxDistinct("t", "k")
    assert(metaOnly && math.abs(est - 97L) <= 5L)
    assert(onDisk() === before, "external files, empty ones included, are never deleted")
  }

  test("an NDV-indexed insert sketches inside the stats aggregate: no extra Spark job") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val batch = spark.range(1000).selectExpr("id", "cast(id % 50 AS string) AS s")
    // the string stat column keeps the insert off the footer-only path,
    // so its stats come from the per-file harvest aggregate
    def insertJobs(ndv: Boolean): Int = {
      val cat = newLake()
      cat.createTable("t", schema, primaryKey = Seq("id"))
      if (ndv) cat.ndvIndex("t", "s")
      val (_, jobs) = jobsIn(cat.insert("t", batch))
      if (ndv) assert(cat.current.tables("t").files.forall(_.ndv.contains("s")))
      jobs
    }
    assert(insertJobs(ndv = true) === insertJobs(ndv = false))
  }

  test("rename/truncate/dropView: metadata-only DDL verbs, time travel intact") {
    val cat = newLake()
    cat.createTable("inventory", invSchema, primaryKey = Seq("product_id"))
    cat.insert("inventory",
      Seq((1, "widget", 10, 9.99)).toDF("product_id", "product_name", "quantity", "price"))
    cat.renameTable("inventory", "stock")
    val vRenamed = cat.currentVersion
    assert(cat.read("stock").count() === 1)
    intercept[NoSuchElementException] { cat.read("inventory").count() }
    // a stored view naming the table blocks the rename (it would break)
    cat.createView("v_stock", "SELECT * FROM stock")
    intercept[IllegalArgumentException] { cat.renameTable("stock", "s2") }
    cat.dropView("v_stock")
    // truncate: rows gone, schema kept, history still readable
    cat.truncateTable("stock")
    assert(cat.read("stock").count() === 0)
    assert(cat.readAt("stock", vRenamed).count() === 1)
    cat.insert("stock",
      Seq((2, "gadget", 5, 19.5)).toDF("product_id", "product_name", "quantity", "price"))
    assert(cat.read("stock").select("product_name").as[String].head() === "gadget")
    // change summaries tag each verb
    val hist = cat.current.history
    assert(hist.exists(_.changes.contains("tables_renamed")))
    assert(hist.exists(_.changes.contains("tables_truncated")))
    assert(hist.exists(_.changes.contains("views_dropped")))
  }

  test("partition-spec evolution: metadata-only, per-file pruning under each spec, compaction unifies") {
    val cat = newLake()
    cat.createTable("t", StructType(Seq(
      StructField("id", IntegerType),
      StructField("a", StringType),
      StructField("b", StringType))), partitionBy = Seq("a"))
    def slice(lo: Int, hi: Int) = spark.range(lo, hi).selectExpr(
      "cast(id AS int) AS id",
      "CASE WHEN id % 2 = 0 THEN 'a0' ELSE 'a1' END AS a",
      "CASE WHEN id % 4 < 2 THEN 'b0' ELSE 'b1' END AS b")
    cat.insert("t", slice(0, 100))
    val filesOld = cat.current.tables("t").files.map(_.path)
    cat.setPartitionBy("t", Seq("b"))
    // evolution is metadata-only: the file set is untouched
    assert(cat.current.tables("t").files.map(_.path) === filesOld)
    cat.insert("t", slice(100, 200))
    val st = cat.current.tables("t")
    // old files carry old-spec value sets, new files new-spec ones
    assert(st.files.count(_.pvals.get("a").exists(_.contains("a0"))) === 1)
    assert(st.files.count(_.pvals.get("b").exists(_.contains("b0"))) === 1)
    // probes under BOTH specs stay exact (pruning can only skip work)
    assert(cat.readPartition("t", Map("a" -> "a0")).count() === 100)
    assert(cat.readPartition("t", Map("b" -> "b0")).count() === 100)
    // a partition column of the CURRENT spec cannot be dropped
    intercept[IllegalArgumentException] {
      cat.transaction(_.dropColumn("t", "b"))
    }
    // compaction re-lays every file onto the current spec and re-harvests
    cat.compact("t", 1L << 20)
    val st2 = cat.current.tables("t")
    assert(st2.files.forall(_.pvals.contains("b")))
    assert(cat.readPartition("t", Map("b" -> "b1")).count() === 100)
    assert(cat.read("t").count() === 200)
  }

  test("mergeClauses: full MERGE surface — conditional update/delete, insert filter, by-source delete, NULL conds") {
    val cat = newLake()
    cat.createTable("acct", StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("bal", DoubleType))), primaryKey = Seq("id"))
    cat.insert("acct", Seq(
      (1, "a", Some(100.0)),  // matched, src higher  -> updated
      (2, "b", Some(50.0)),   // matched, src lower   -> kept unchanged
      (3, "c", Some(-600.0)), // matched, delete cond -> deleted (beats update)
      (4, "d", Some(20.0)),   // unmatched            -> kept
      (5, "e", Some(-950.0)), // unmatched, by-source -> deleted
      (8, "h", Some(30.0)))   // matched, NULL cond   -> kept unchanged
      .toDF("id", "name", "bal"))
    val src = Seq(
      (1, "A2", Some(200.0)),
      (2, "B2", Some(10.0)),
      (3, "C2", Some(999.0)), // update cond satisfied too — delete must win
      (6, "F", Some(5.0)),    // insert cond passes
      (7, "G", Some(-5.0)),   // insert cond fails
      (8, "H2", None: Option[Double])) // s.bal NULL -> no clause satisfied
      .toDF("id", "name", "bal")
    cat.mergeClauses("acct", src, Seq("id"), graft.lake.MergeClauses(
      matchedDelete = Some("t.bal < -500.0"),
      matchedUpdate = Some("s.bal > t.bal"),
      notMatchedInsert = Some("bal > 0.0"),
      bySourceDelete = Some("t.bal < -900.0")))
    val m = cat.read("acct").collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(m === Map(
      1 -> (("A2", 200.0)), 2 -> (("b", 50.0)),
      4 -> (("d", 20.0)), 6 -> (("F", 5.0)), 8 -> (("h", 30.0))))
    // change summary tags it like a merge
    assert(cat.current.history.last.changes
      .getOrElse("tables_merged", Nil).contains("acct"))

    // without a by-source clause the CoW keeps untouched files verbatim
    val filesBefore = cat.current.tables("acct").files
    cat.insert("acct", Seq((20, "z", Some(1.0))).toDF("id", "name", "bal"))
    cat.mergeClauses("acct", Seq((20, "z2", Some(2.0))).toDF("id", "name", "bal"),
      Seq("id"), graft.lake.MergeClauses(matchedUpdate = Some("true")))
    val filesAfter = cat.current.tables("acct").files
    assert(filesBefore.forall(f => filesAfter.exists(_.path == f.path)),
      "files untouched by the clause merge carry over unrewritten")
    assert(cat.read("acct").filter(col("id") === 20)
      .select("name").as[String].head() === "z2")
  }

  test("materialized view AVG: sum+count maintenance matches recompute through churn") {
    import graft.lake.Mv
    val cat = newLake()
    cat.createTable("b", StructType(Seq(
      StructField("k", IntegerType), StructField("v", IntegerType))))
    def ins(rows: (Int, Option[Int])*): Unit = cat.insert("b",
      rows.map { case (k, v) => (k, v) }.toDF("k", "v"))
    ins((1, Some(10)), (1, None), (2, Some(5)))
    Mv.create(cat, "m", "b", Seq("k"), sums = Nil, avgs = Seq("v"))
    assert(cat.read("m").columns.toSeq ===
      Seq("k", "n_rows", "sum_v", "cnt_v", "avg_v"))
    def avgOf(k: Int): Option[Double] = {
      val r = cat.read("m").filter(col("k") === k).select("avg_v").head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(avgOf(1) === Some(10.0), "NULL must not dilute the average")
    assert(avgOf(2) === Some(5.0))
    // churn: inserts (one all-NULL group), a group-killing delete, an
    // update — then the incremental refresh must equal a recompute
    ins((1, Some(30)), (3, None))
    cat.delete("b", col("v") === 5)
    cat.update("b", col("v") === 10, Map("v" -> lit(40)))
    assert(Mv.refresh(cat, "m") === "incremental")
    assert(avgOf(1) === Some(35.0)) // (40 + 30) / 2 non-NULLs
    assert(avgOf(3) === None, "an all-NULL group has SQL AVG = NULL")
    val expect = cat.read("b").groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum("v"), lit(0L)).as("sum_v"),
        count(col("v")).as("cnt_v"))
      .withColumn("avg_v", when(col("cnt_v") > 0,
        col("sum_v").cast("double") / col("cnt_v")))
    assert(cat.read("m").exceptAll(expect)
      .union(expect.exceptAll(cat.read("m"))).isEmpty,
      "incremental AVG maintenance must equal the recompute")
    // noop + second wave keeps agreeing
    ins((2, Some(7)), (2, Some(9)))
    assert(Mv.refresh(cat, "m") === "incremental")
    assert(avgOf(2) === Some(8.0))
    // the SQL surface: AVG with a shared SUM on a join MV
    cat.createTable("dm", StructType(Seq(
      StructField("k", IntegerType), StructField("grp", IntegerType))))
    cat.insert("dm", Seq((1, 0), (2, 0), (3, 1)).toDF("k", "grp"))
    cat.execute("CREATE MATERIALIZED VIEW m2 AS " +
      "SELECT grp, COUNT(*) AS n_rows, SUM(v) AS sum_v, AVG(v) AS avg_v " +
      "FROM b JOIN dm ON k = k GROUP BY grp")
    ins((1, Some(100)))
    cat.execute("REFRESH MATERIALIZED VIEW m2")
    val g0 = cat.read("m2").filter(col("grp") === 0)
      .select("sum_v", "avg_v").head()
    // grp 0 = all of groups 1,2: values 40,30,100,7,9 -> sum 186, avg 37.2
    assert(g0.getLong(0) === 186L)
    assert(math.abs(g0.getDouble(1) - 37.2) < 1e-9)
  }

  test("manifest header compaction: bounded history, exact ledgers, loud timestamp refusal") {
    import graft.lake.Manifest
    val cat = newLake()
    cat.createTable("g", StructType(Seq(StructField("id", LongType))))
    // an early exactly-once stream batch — its tag must survive compaction
    assert(cat.insertStreamBatch("g", spark.range(0, 1).toDF("id"), 0L))
    var tsEarly = 0L
    var tagV = 0L
    (1 to 300).foreach { i =>
      cat.transaction(_.insertInlined("g",
        spark.range(i.toLong, i.toLong + 1).toDF("id")))
      if (i == 5) {
        Thread.sleep(5); tsEarly = System.currentTimeMillis(); Thread.sleep(5)
        tagV = cat.currentVersion
        cat.tag("early", tagV) // pin: stays live through the vacuum
      }
    }
    val headBefore = cat.current
    assert(headBefore.history.size > Manifest.HeaderRetain,
      "fixture must exceed the retained tail")
    cat.vacuum(keepLast = 10, orphanGraceMs = 0L)
    val head = cat.current
    // tail bounded: expired headers beyond the retain window dropped,
    // live versions (the pinned tag, the kept tail) keep theirs
    assert(head.history.size <= Manifest.HeaderRetain + 16,
      s"history must be bounded, got ${head.history.size}")
    assert(head.history.exists(_.snapshotId == tagV),
      "a live (tag-pinned) version keeps its header")
    assert(head.historyFloor > tagV, "compaction recorded its floor")
    // the expiry ledger is COMPLETE despite dropped headers
    assert((1L to head.snapshotId).count(head.versionExpired) > 250)
    assert(head.versionExpired(tagV - 1))
    // exactly-once dedup survives: a replay of the early batch is a no-op
    assert(!cat.insertStreamBatch("g", spark.range(0, 1).toDF("id"), 0L))
    // timestamp time travel into the dropped range refuses LOUDLY
    // (resolves to the pinned early version, below the floor)
    val ex = intercept[NoSuchElementException] { cat.versionAsOf(tsEarly) }
    assert(ex.getMessage.contains("vacuumed"))
    // version time travel to live versions still exact
    assert(cat.readAt("g", tagV).count() === 6L) // batch 0 + inlined 1..5
    assert(cat.read("g").count() === 301L)
    // the change feed still streams the (mostly-expired-history) table:
    // offset comes from the lastDataVersion stamp, not the dropped headers
    cat.createTable("rg", StructType(Seq(StructField("id", LongType))))
    val n = graft.streaming.ChangeFeed.applyPass(
      cat, "g", "rg", Seq("id"), tmpDir("hdrcompact_ck"))
    assert(n === 1L)
    assert(cat.read("rg").exceptAll(cat.read("g"))
      .union(cat.read("g").exceptAll(cat.read("rg"))).isEmpty)
    assert(cat.current.tables("g").lastDataVersion > 0L)
  }

  test("OCC rebase: disjoint commits republish without re-running the body; conflicts re-run") {
    val root = tmpDir("rebase")
    val cat = new LakeCatalog(spark, root)
    val cat2 = new LakeCatalog(spark, root) // an independent writer
    val sch = StructType(Seq(StructField("id", IntegerType)))
    cat.createTable("x", sch)
    cat.createTable("y", sch)
    def df(i: Int) = Seq(i).toDF("id")
    // 1) DISJOINT: mid-body a concurrent commit lands on x; our txn only
    // touches y -> the commit REBASES (no body re-run)
    var runs = 0
    cat.transaction { tx =>
      runs += 1
      if (runs == 1) cat2.insert("x", df(100))
      tx.insert("y", df(1))
    }
    assert(runs === 1, "disjoint concurrent commit must rebase, not re-run")
    assert(cat.read("x").count() === 1 && cat.read("y").count() === 1,
      "both the concurrent and the rebased commit must survive")
    // 2) READ-WRITE conflict: our txn READ x through the tx, then a
    // concurrent write to x lands -> the body must re-run (its read is
    // stale), and the re-run sees the new row
    runs = 0
    var seen = Seq.empty[Long]
    cat.transaction { tx =>
      runs += 1
      seen = seen :+ tx.read("x").count()
      if (runs == 1) cat2.insert("x", df(101))
      tx.insert("y", df(2))
    }
    assert(runs === 2, "a read-write conflict must re-run the body")
    assert(seen === Seq(1L, 2L), "the re-run must see the concurrent write")
    // 3) WRITE-WRITE conflict on the same table: serialized via re-run
    runs = 0
    cat.transaction { tx =>
      runs += 1
      if (runs == 1) cat2.insert("y", df(200))
      tx.insert("y", df(3))
    }
    assert(runs === 2, "a write-write conflict must re-run the body")
    assert(cat.read("y").count() === 4)
    // 4) DDL never rebases (schema versions ride a global counter)
    runs = 0
    cat.transaction { tx =>
      runs += 1
      if (runs == 1) cat2.insert("x", df(102))
      tx.createTable(s"z$runs", sch)
    }
    assert(runs === 2, "DDL must take the re-run path")
    assert(cat.current.tables.contains("z2") && !cat.current.tables.contains("z1"))
    // 5) stream-tag work never rebases (tags are catalog-global)
    runs = 0
    cat.transaction { tx =>
      runs += 1
      if (runs == 1) cat2.insert("x", df(103))
      tx.insert("y", df(4))
      tx.markStreamBatch(s"rebase-test:$runs")
    }
    assert(runs === 2, "stream tags must take the re-run path")
    assert(cat.current.history.last.changes("stream_batches_exact") === Seq("rebase-test:2"))
    // 6) reading commitVersion never rebases: a rebase would publish at
    // a HIGHER version than the body recorded, so anything stamped from
    // it (an MV watermark) would name a different transaction's snapshot
    runs = 0
    var recorded = 0L
    cat.transaction { tx =>
      runs += 1
      if (runs == 1) cat2.insert("x", df(104))
      recorded = tx.commitVersion
      tx.insert("y", df(5))
    }
    assert(runs === 2, "a commitVersion read must take the re-run path")
    assert(recorded === cat.currentVersion,
      "the recorded commit version must equal the published one")
  }

  test("stream-tag ledger: user tags are exact-match; engine paths keep the high-water") {
    val cat = newLake()
    cat.createTable("g", StructType(Seq(StructField("id", LongType))))
    // a USER tag with a numeric suffix must not earn high-water
    // semantics: committing user:5 says nothing about user:3 — a
    // non-monotone user tag (or a second stream's restarted counter)
    // must never be swallowed as a replay
    cat.transaction { tx =>
      tx.insert("g", spark.range(0, 1).toDF("id"))
      tx.markStreamBatch("user:5")
    }
    assert(cat.current.streamTagApplied("user:5"))
    assert(!cat.current.streamTagApplied("user:3"),
      "a never-committed lower user tag must not read as applied")
    assert(!cat.current.streamTagApplied("user:6"))
    // lower user tags still commit (exact-match, not high-water)
    cat.transaction { tx =>
      tx.insert("g", spark.range(1, 2).toDF("id"))
      tx.markStreamBatch("user:3")
    }
    assert(cat.current.streamTagApplied("user:3"))
    // the ENGINE's monotone checkpoint path keeps high-water dedup:
    // batch ids are monotone per (table, stream) by the Structured
    // Streaming checkpoint contract, so id <= high-water IS a replay
    assert(cat.insertStreamBatch("g", spark.range(2, 3).toDF("id"), 5L))
    assert(!cat.insertStreamBatch("g", spark.range(2, 3).toDF("id"), 3L),
      "engine batch ids below the high-water are replays by contract")
    // distinct streamIds namespace the high-water apart: a fresh
    // checkpoint's batch 0 lands instead of deduping against the first
    // stream's counter
    assert(cat.insertStreamBatch("g", spark.range(3, 4).toDF("id"), 0L,
      streamId = "second"))
  }

  test("timestamp time travel below the history floor resolves when it predates every dropped header") {
    val cat = newLake()
    cat.createTable("g", StructType(Seq(StructField("id", LongType)))) // v1
    cat.insert("g", spark.range(0, 3).toDF("id")) // v2
    val pinnedV = cat.currentVersion
    Thread.sleep(5)
    val tsAtPin = System.currentTimeMillis() // strictly after v2 …
    Thread.sleep(5) // … and strictly before v3
    // pin EVERYTHING at or below the probe, so every header the vacuum
    // drops is newer than it (the "old tagged corpus" shape: history
    // before the pin is retained, churn after it is expired)
    cat.tag("t1", 1L) // v3
    cat.tag("t2", pinnedV) // v4
    // pile up cheap metadata commits past the header-retain window
    (1 to 300).foreach(i =>
      cat.transaction(_.setProperty("g", "pad", i.toString)))
    cat.vacuum(keepLast = 10, orphanGraceMs = 0L)
    val head = cat.current
    assert(head.historyFloor > pinnedV, "fixture must have compacted tails")
    assert(head.minDroppedTsMs > tsAtPin,
      "every dropped header is NEWER than the probe — resolution is exact")
    // v2 is below the floor, but no dropped header can be the true
    // target of tsAtPin, so the pinned-old resolution stays available
    assert(cat.versionAsOf(tsAtPin) === pinnedV)
    assert(cat.readAsOf("g", tsAtPin).count() === 3L)
    // a timestamp INSIDE the dropped range still refuses loudly
    val ex = intercept[NoSuchElementException] {
      cat.versionAsOf(head.minDroppedTsMs + 1)
    }
    assert(ex.getMessage.contains("vacuumed"))
  }

  test("a document below format 2 is refused at load") {
    val root = tmpDir("lakeold")
    val cat = new LakeCatalog(spark, root)
    cat.createTable("g", StructType(Seq(StructField("id", LongType)))) // v1
    cat.insert("g", spark.range(0, 3).toDF("id")) // v2
    val docPath = java.nio.file.Paths.get(root, "_manifest", "v2.json")
    val doc = new String(java.nio.file.Files.readAllBytes(docPath), "UTF-8")
    def refusal(forged: String): String = {
      assert(forged != doc, "fixture: the doc must carry its format")
      java.nio.file.Files.write(docPath, forged.getBytes("UTF-8"))
      intercept[IllegalStateException](new LakeCatalog(spark, root).current)
        .getMessage
    }
    val m1 = refusal(doc.replaceFirst(""""aggV"\s*:\s*\d+""", "\"aggV\":1"))
    assert(m1.contains("v2") && m1.contains("format 1") && m1.contains("predates"), m1)
    // a document written before the format field existed reads as 0
    val m0 = refusal(doc.replaceFirst(""""aggV"\s*:\s*\d+,""", ""))
    assert(m0.contains("format 0") && m0.contains("predates"), m0)
    // the refusal is per document: the untouched v1 still loads
    assert(new LakeCatalog(spark, root).snapshot(1L).tables.contains("g"))
  }

  test("the snapshot document round-trips every field on the file and JDBC stores") {
    import graft.lake._
    val cols = Seq(ColumnDef(1, "id", "\"long\"", None),
      ColumnDef(2, "day", "\"string\"", Some("'d0'")))
    val files = Seq(
      FileEntry("data/t/a.parquet", 100L, 10L, 1,
        Map("id" -> ColStat("1", "10", Some(0L))), Map("day" -> Seq("d1")),
        Map("id" -> "data/t/a.id.bloom"), Some("_dv/d1.parquet"), 2L,
        Map("id" -> "AAEC")),
      FileEntry("data/t/b.parquet", 50L, 5L, 1))
    val t = TableState(1, Map("1" -> cols), files, Seq("id"), Seq("id"), 3,
      inlined = Seq(InlineBatch(1, Seq("""{"id":11,"day":"d2"}"""))),
      blobs = Seq("stale"), partitionBy = Seq("day"),
      props = Map("index.bloom" -> "id"), lastDataVersion = 8L,
      lastNonAppendVersion = 6L)
    val ch = Map("tables_inserted_into" -> Seq("t"))
    val s = Snapshot(9L, 1700000000000L, 2L, ch, Map("t" -> t),
      Map("v" -> "SELECT id FROM t"), Seq(SnapHeader(9L, 1700000000000L, 2L, ch)),
      refs = Map("keep" -> 3L), aggV = Manifest.Format, expiredFloor = 5L,
      liveBelow = Set(3L), txnSeen = Map("sink:t" -> 4L),
      tagsResidual = Set("user:x"), historyFloor = 4L,
      minDroppedTsMs = 1600000000000L, identityBreaks = Map("old" -> 2L))
    // fixture: every field differs from its default, so a field the
    // document drops cannot hide behind a default on the way back in
    def allSet(p: Product, dflt: Product): Unit =
      p.productElementNames.zip(p.productIterator.zip(dflt.productIterator))
        .foreach { case (n, (a, b)) => assert(a != b, s"fixture: $n is default") }
    allSet(s, Manifest.empty)
    allSet(t, TableState(0, Map.empty, Nil, Nil, Nil, 0))

    def check(stored: Snapshot, doc: String, fresh: () => LakeCatalog,
        cold: () => LakeCatalog): Unit = {
      assert(stored === s.copy(tables = Map("t" -> t.copy(
        blobs = stored.tables("t").blobs))))
      assert(stored.tables("t").blobs.nonEmpty)
      assert(!doc.contains(".parquet") && !doc.contains("\"files\""),
        s"file entries belong in the blobs: $doc")
      assert(fresh().current === stored)
      // another namespace misses the process-wide blob cache, so the
      // files must come back from the stored blobs themselves
      assert(cold().current === stored)
    }

    val fileRoot = tmpDir("rtfile")
    val fstored = new FileManifestStore(fileRoot, spark.sparkContext.hadoopConfiguration)
      .publish(9L, s, Manifest.empty).get
    val coldRoot = tmpDir("rtcold")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(fileRoot, "_manifest"), new java.io.File(coldRoot, "_manifest"))
    check(fstored, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fileRoot, "_manifest", "v9.json")), "UTF-8"),
      () => new LakeCatalog(spark, fileRoot), () => new LakeCatalog(spark, coldRoot))

    val dbRoot = tmpDir("rtjdbc")
    val dsn = s"jdbc:derby:$dbRoot/catalog_db;create=true"
    val jstored = new JdbcManifestStore(dsn).publish(9L, s, Manifest.empty).get
    val conn = java.sql.DriverManager.getConnection(dsn)
    val jdoc = try {
      val rs = conn.createStatement()
        .executeQuery("SELECT doc FROM graft_manifests WHERE version = 9")
      assert(rs.next()); rs.getString(1)
    } finally conn.close()
    check(jstored, jdoc, () => new LakeCatalog(spark, dbRoot, Some(dsn)),
      () => new LakeCatalog(spark, dbRoot,
        Some(s"jdbc:derby:directory:$dbRoot/catalog_db")))
  }

  test("DESCRIBE and SHOW TABLES route through the SQL surface") {
    import spark.implicits._
    val cat = newLake()
    cat.execute("CREATE TABLE d1 (id BIGINT PRIMARY KEY, v DOUBLE)")
    cat.execute("CREATE TABLE d2 (k VARCHAR)")
    assert(cat.execute("SHOW TABLES").as[String].collect().sorted
      === Array("d1", "d2"))
    val desc = cat.execute("DESCRIBE d1")
      .select("column_name", "column_type", "null").as[(String, String, String)]
      .collect().toSeq
    assert(desc === Seq(("id", "bigint", "NO"), ("v", "double", "YES")))
    // short form too
    assert(cat.execute("DESC d2").count() === 1L)
  }

  test("EXPLAIN [ANALYZE] through the SQL surface returns the plan (and static CBO stats)") {
    import spark.implicits._
    val cat = newLake()
    cat.createTable("e", StructType(Seq(StructField("id", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    cat.insert("e", spark.range(0, 1000).selectExpr("id", "id * 2 AS v"))
    val plan = cat.execute("EXPLAIN SELECT v FROM e WHERE id < 10")
      .as[String].collect().mkString("\n")
    assert(plan.contains("Physical Plan"), plan.take(500))
    assert(plan.toLowerCase.contains("scan"), plan.take(500))
    // the lake relation's manifest statistics (exact rowCount) are
    // visible in the cost-mode plan — static CBO, no execution needed
    val costed = cat.sql("SELECT count(*) AS n FROM e").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("cost"))
    assert(costed.contains("rowCount=1.00E+3"), // exact manifest rowCount
      costed.take(800))
    // ANALYZE executes the statement's OWN plan and appends the runtime
    // metrics walked off the executed tree (not a second execution of a
    // derived count() whose metrics die with it)
    val analyzed = cat.execute("EXPLAIN ANALYZE SELECT count(*) AS n FROM e")
      .as[String].collect().mkString("\n")
    assert(analyzed.contains("== Runtime Metrics =="), analyzed.take(800))
    assert(analyzed.contains("numOutputRows="), analyzed.take(800))
    assert(analyzed.contains("Scan parquet graft_lake_scan:"),
      analyzed.take(800))
    // and EXPLAIN is read-only: no snapshot published
    val v = cat.currentVersion
    cat.execute("EXPLAIN SELECT * FROM e")
    assert(cat.currentVersion === v)
  }

  test("CALL graft_* routes maintenance verbs; refuses inside an open interactive txn") {
    import spark.implicits._
    val cat = newLake()
    cat.execute("CREATE TABLE c1 (id BIGINT PRIMARY KEY, v BIGINT)")
    (0 until 3).foreach(i => cat.execute(s"INSERT INTO c1 VALUES ($i, $i)"))
    val r = cat.execute("CALL graft_compact('c1')").head()
    assert(r.getString(0) === "c1" && r.getLong(1) === 1L &&
      r.getLong(2) === 3L)
    // unknown procedure and malformed args refuse loudly
    assert(intercept[IllegalArgumentException](
      cat.execute("CALL graft_frobnicate()"))
      .getMessage.contains("unknown procedure"))
    assert(intercept[IllegalArgumentException](
      cat.execute("CALL graft_compact(42)"))
      .getMessage.contains("quoted string"))
    // maintenance never runs inside an open interactive transaction
    cat.execute("BEGIN")
    assert(intercept[IllegalArgumentException](
      cat.execute("CALL graft_vacuum(2)"))
      .getMessage.contains("interactive"))
    cat.execute("ROLLBACK")
    // vacuum's after-facts come from the statement itself
    val v = cat.execute("CALL graft_vacuum(10, 0)").head()
    assert(v.getLong(0) === cat.currentVersion)
    assert(v.getLong(1) >= 1L)
  }

  test("cross-PROCESS concurrent writers: the conditional put serializes across JVMs") {
    // l52 races threads inside one JVM; this spawns two SEPARATE JVMs
    // (own SparkSession, own catalog instance, own fs handles) racing
    // this process on one lake root — the invariant set is l52's:
    // linear history, no lost update, every commit exactly one txn.
    val root = tmpDir("xjvm")
    val cat = new LakeCatalog(spark, root)
    cat.createTable("log", StructType(Seq(
      StructField("writer", LongType), StructField("seq", LongType),
      StructField("payload", LongType))), primaryKey = Seq("writer", "seq"))
    val base = cat.currentVersion
    val M = 3; val R = 2
    def spawn(writer: Long): Process = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      // inherit the forked test JVM's --add-opens / -D flags (Spark on
      // JDK17 needs them) but not its memory setting
      jvmArgs.forEach(a =>
        if (a.startsWith("--add-opens") || a.startsWith("-Dspark"))
          cmd.add(a))
      cmd.add("-Xmx2g")
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.tools.WriterProc")
      Seq(root, "log", writer.toString, M.toString, R.toString)
        .foreach(cmd.add)
      new ProcessBuilder(cmd).redirectErrorStream(true)
        .redirectOutput(new java.io.File(s"$root/writer$writer.log"))
        .start()
    }
    val p1 = spawn(1L); val p2 = spawn(2L)
    // this JVM races them with the same workload as writer 0
    import spark.implicits._
    (0 until M).foreach { i =>
      cat.transaction(_.insert("log",
        (0 until R).map(j => (0L, (i * R + j).toLong,
          (i * R + j).toLong)).toDF("writer", "seq", "payload")))
    }
    assert(p1.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      p1.exitValue() == 0, s"writer 1 failed — see $root/writer1.log")
    assert(p2.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      p2.exitValue() == 0, s"writer 2 failed — see $root/writer2.log")
    // re-open from disk (this process's snapshot cache is stale)
    val cat2 = new LakeCatalog(spark, root)
    assert(cat2.currentVersion - base === 3L * M,
      "every transaction across the three processes published exactly once")
    val headers = cat2.current.history.filter(_.snapshotId > base)
    assert(headers.size === 3 * M && headers.forall(
      _.changes.getOrElse("tables_inserted_into", Nil).contains("log")),
      "linear history: one writer transaction per version")
    assert(cat2.read("log").count() === 3L * M * R)
    assert(cat2.read("log").select("writer", "seq").distinct().count()
      === 3L * M * R, "no lost updates across processes")
  }
}
