package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import org.apache.spark.sql.Row

/** Structured Streaming semantics: the streaming windowed aggregation over
  * a finite replay must agree with its batch equivalent (for all windows
  * the final watermark closed), and keyed state accumulates correctly. */
class StreamingSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("streaming windowed agg agrees with the batch plan on closed windows") {
    val streamed = EventStream.windowedProfile(spark, d)
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    import spark.implicits._
    val sm = streamed.select("win_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    val bm = batch
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    assert(sm.nonEmpty, "stream emitted no closed windows")
    // append-mode stream emits only watermark-closed windows; each must
    // match the batch count exactly
    sm.foreach { case (k, n) => assert(bm(k) === n, s"window $k") }
    // and the stream must have closed all but the trailing lateness bound
    assert(sm.size >= bm.size - 3)
  }

  test("sliding windows: every event in 4 overlaps; closed windows match batch") {
    val streamed = EventStream.slidingProfile(spark, d)
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    import spark.implicits._
    val sm = streamed.select("win_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    val bm = batch
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    assert(sm.nonEmpty, "stream emitted no closed windows")
    sm.foreach { case (k, n) => assert(bm(k) === n, s"window $k") }
    // overlap factor: total window-rows across the sliding agg = 4x the
    // event count (each event lands in exactly window/slide = 4 windows)
    val n_events = Tables.events(spark, d).count()
    assert(bm.values.sum === 4L * n_events)
  }

  test("streaming results are state-partition-count invariant") {
    // the stateful-operator partition count is a TUNING knob (store-commit
    // fixed cost vs scheduling), never a semantics knob: the drained
    // result at 2 and 8 state partitions must be row-identical. This pins
    // the invariance claim the bench tuning relies on — any state-store
    // keying or watermark bug that leaks partitioning into results fails
    // here, not in a round artifact.
    def runAt(n: String): Seq[Row] = {
      spark.conf.set("spark.graft.streaming.statePartitions", n)
      try EventStream.windowedProfile(spark, d).collect().toSeq
      finally spark.conf.unset("spark.graft.streaming.statePartitions")
    }
    val at2 = runAt("2")
    val at8 = runAt("8")
    assert(at2.nonEmpty)
    assert(at2 === at8, "state partition count changed the RESULT")
  }

  test("RocksDB state store: same results as the default provider") {
    // the state-bigger-than-memory scale path: at 100 TB the stateful
    // operators' keyed state outgrows executor heap, and the RocksDB
    // provider (ships with Spark) keeps it on local disk with
    // incremental checkpointing. Semantics must be provider-invariant —
    // this pins that swapping the provider is a pure deployment knob.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val default = EventStream.windowedProfile(spark, d).collect().toSeq
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val rocks = EventStream.windowedProfile(spark, d).collect().toSeq
      assert(rocks.nonEmpty, "RocksDB run emitted nothing")
      assert(rocks === default, "state store provider changed the RESULT")
    } finally spark.conf.unset(key)
  }

  test("stream lands in the lake exactly-once: one commit per batch, replay is a no-op") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // source: the events slice split into 3 files -> 3 micro-batches
    val srcDir = tmpDir("stream_src")
    val ev = Tables.events(spark, d).filter(col("event_id") <= 300)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(srcDir)
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("stream_lake"))
    cat.createTable("ev", ev.schema)
    val v0 = cat.currentVersion
    def stream() = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    EventStream.sinkToLake(stream(), cat, "ev", tmpDir("stream_ckpt"))
    // one lake snapshot per micro-batch, all rows landed atomically
    val nBatches = cat.currentVersion - v0
    assert(nBatches === 3, "expected one commit per micro-batch")
    assert(cat.read("ev").count() === ev.count())
    // time travel sees the ingestion history batch by batch
    assert(cat.readAt("ev", v0 + 1).count() < ev.count())
    // replay the whole stream (fresh checkpoint -> same batch ids):
    // every batch is recognized as applied; no snapshot, no rows
    EventStream.sinkToLake(stream(), cat, "ev", tmpDir("stream_ckpt2"))
    assert(cat.currentVersion === v0 + nBatches, "replay must be a no-op")
    assert(cat.read("ev").count() === ev.count())
  }

  test("flatMapGroupsWithState accumulates per-user session state") {
    import spark.implicits._
    val sess = EventStream.sessionProfile(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(sess.nonEmpty)
    val batch = Tables.events(spark, d).groupBy("user_id")
      .agg(count(lit(1)).as("n"), countDistinct("event_type").as("nt"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    sess.foreach { case (uid, n, nt, first, last) =>
      assert(batch(uid)._1 === n, s"user $uid event count")
      assert(batch(uid)._2 === nt, s"user $uid type count")
      assert(first <= last)
    }
  }

  test("stream-static enrichment join matches the batch join on closed windows") {
    import spark.implicits._
    val streamed = EventStream.enrichedWindowProfile(spark, d)
    val batch = Tables.events(spark, d)
      .withColumn("tier",
        expr("CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'bronze' " +
          "WHEN 1 THEN 'silver' WHEN 2 THEN 'gold' ELSE 'platinum' END"))
      .groupBy(window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("tier"), col("n"))
    val sm = streamed.select("win_start", "tier", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    val bm = batch.as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap
    assert(sm.nonEmpty, "stream emitted no closed windows")
    // every emitted (window, tier) count must equal the batch join's —
    // the static side joined identically in both worlds
    sm.foreach { case (k, n) => assert(bm(k) === n, s"window/tier $k") }
  }

  test("stream-stream interval join emits every qualifying pair exactly once") {
    import spark.implicits._
    val streamed = EventStream.streamJoinProfile(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty, "replay should produce attribution pairs")
    val ev = Tables.events(spark, d)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("pid"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR"))
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("cid")).as("n_clicks_converted"),
        countDistinct(col("pid")).as("n_purchases_attributed"))
      .orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed === batch)
  }

  test("stream outer join: matched rows = batch inner join; nulls obey the watermark") {
    import spark.implicits._
    val out = EventStream.outerJoinProfile(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val ev = Tables.events(spark, d)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("pid"))
    val cond = col("cu") === col("pu") && col("pts") >= col("cts") &&
      col("pts") <= col("cts") + org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR")
    val wm = {
      val Row(a: java.sql.Timestamp) = c.agg(max("cts")).head()
      val Row(b: java.sql.Timestamp) = p.agg(max("pts")).head()
      new java.sql.Timestamp(math.min(a.getTime, b.getTime) - 2L * 3600 * 1000)
    }
    val matched = c.join(p, cond).select(col("cu"), col("pid"))
    val unmatched = c.join(p, cond, "left_anti")
      // eviction rule: emitted iff watermark passed c_ts + 1h
      .filter(col("cts") + org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR") < lit(wm))
      .select(col("cu"), lit(null).cast("long").as("pid"))
    val batch = matched.union(unmatched)
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("pid")).as("n_converted"),
        sum(when(col("pid").isNull, 1L).otherwise(0L)).as("n_unconverted"))
      .orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === batch)
  }

  test("lake streaming source: each pass replicates exactly the new commits") {
    import spark.implicits._
    import graft.streaming.LakeStream
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("lakestream"))
    val ev = Tables.events(spark, d).filter(col("event_id") <= 900)
      .select("event_id", "ts", "user_id", "event_type", "value")
    cat.createTable("bronze", ev.schema)
    cat.createTable("silver", ev.schema)
    val ckpt = tmpDir("lakestream_ckpt")
    val slices = Seq(col("event_id") <= 300,
      col("event_id") > 300 && col("event_id") <= 600,
      col("event_id") > 600)
    slices.foreach { pred =>
      val before = cat.read("silver").count()
      val expectDelta = ev.filter(pred).count()
      cat.insert("bronze", ev.filter(pred))
      LakeStream.replicate(cat, "bronze", "silver", identity, ckpt)
      // the pass must add EXACTLY the newly committed rows — O(delta),
      // never a re-read of the table
      assert(cat.read("silver").count() - before === expectDelta)
    }
    // full equality, not just counts
    assert(cat.read("silver").exceptAll(cat.read("bronze")).isEmpty &&
      cat.read("bronze").exceptAll(cat.read("silver")).isEmpty)
    // no new upstream commits -> a pass commits NOTHING
    val v = cat.currentVersion
    LakeStream.replicate(cat, "bronze", "silver", identity, ckpt)
    assert(cat.currentVersion === v)
    // append-only contract ENFORCED: a CoW delete on bronze makes further
    // streaming reads unsound (rewritten files would replay) -> refuse
    cat.delete("bronze", col("event_id") === 1L)
    val ex = intercept[IllegalArgumentException] {
      LakeStream.replicate(cat, "bronze", "silver", identity, ckpt)
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("applyChangesStreamBatch: racing duplicates land exactly once") {
    // a foreachBatch retry (or two racing sink attempts after a driver
    // hiccup) re-applies the SAME batch id concurrently — exactly one
    // must commit, the other must see the tag after losing the OCC race
    // and no-op, and the replica must hold exactly one copy of the rows
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcdup"))
    val src = spark.range(1, 201).selectExpr("id", "id * 10 AS v")
    cat.createTable("src", src.schema, primaryKey = Seq("id"))
    cat.createTable("replica", src.schema)
    cat.insert("src", src)
    val changes = cat.tableChanges("src", 0L, cat.currentVersion, Seq("id"))
      .withColumn("_commit_version", lit(cat.currentVersion))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 2).map(_ => Future {
      cat.applyChangesStreamBatch("replica", changes, Seq("id"), 0L, "s0")
    })), Duration.Inf)
    assert(results.count(identity) === 1,
      s"exactly one of the racing applies must land, got $results")
    assert(cat.read("replica").count() === 200L)
    assert(cat.read("replica").exceptAll(cat.read("src")).isEmpty)
    // a later sequential replay of the same batch id is also a no-op
    val v = cat.currentVersion
    assert(!cat.applyChangesStreamBatch("replica", changes, Seq("id"), 0L, "s0"))
    assert(cat.currentVersion === v)
  }

  test("change-feed stream: full DML lifecycle applies net effects to a replica") {
    import graft.streaming.ChangeFeed
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcstream"))
    val src = spark.range(1, 301).selectExpr("id",
      "id % 10 AS k", "id * 100 AS v")
    cat.createTable("src", src.schema, primaryKey = Seq("id"))
    cat.createTable("replica", src.schema)
    val ckpt = tmpDir("cdcstream_ckpt")
    val typeCounts = scala.collection.mutable.Map[String, Long]()
    val versions = scala.collection.mutable.Set[Long]()
    def observe(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      b.groupBy("change_type").count().collect().foreach(r =>
        typeCounts(r.getString(0)) =
          typeCounts.getOrElse(r.getString(0), 0L) + r.getLong(1))
      versions ++= b.select("_commit_version").distinct()
        .collect().map(_.getLong(0))
    }
    // phase A: two inserts, a CoW update, a MoR delete, a compaction
    cat.insert("src", src.filter(col("id") <= 100))
    cat.insert("src", src.filter(col("id") > 100 && col("id") <= 200))
    cat.update("src", col("id") <= 50, Map("v" -> (col("v") + 7L)))
    cat.deleteMor("src", col("k") === 3L)
    val compactV = { cat.compact("src", targetFileBytes = 128L << 20)
      cat.currentVersion }
    assert(ChangeFeed.applyPass(cat, "src", "replica", Seq("id"), ckpt,
      observe) >= 1L)
    // net-effect replica equality, full rows (exercises update + delete)
    assert(cat.read("replica").exceptAll(cat.read("src")).isEmpty &&
      cat.read("src").exceptAll(cat.read("replica")).isEmpty)
    // exact per-type accounting: 200 inserts, 50 update pairs, 20 deletes
    assert(typeCounts("insert") === 200L)
    assert(typeCounts("update_preimage") === 50L)
    assert(typeCounts("update_postimage") === 50L)
    assert(typeCounts("delete") === 20L)
    // compaction is layout-only: its version is never consumed (and so
    // never read) — the Delta "no CDF for OPTIMIZE" contract
    assert(!versions.contains(compactV))
    assert(versions.size === 4)
    // phase B: only the NEW commits stream
    typeCounts.clear(); versions.clear()
    cat.insert("src", src.filter(col("id") > 200))
    cat.update("src", col("k") === 5L, Map("v" -> (col("v") * 2L)))
    assert(ChangeFeed.applyPass(cat, "src", "replica", Seq("id"), ckpt,
      observe) >= 1L)
    assert(typeCounts("insert") === 100L)
    // k=5 rows alive at the update: ids 5,15,...,295 -> 30 rows
    assert(typeCounts("update_postimage") === 30L)
    assert(versions.size === 2)
    assert(cat.read("replica").exceptAll(cat.read("src")).isEmpty &&
      cat.read("src").exceptAll(cat.read("replica")).isEmpty)
    // phase C: nothing new upstream -> no batch, no commit
    val vBefore = cat.currentVersion
    assert(ChangeFeed.applyPass(cat, "src", "replica", Seq("id"), ckpt) === 0L)
    assert(cat.currentVersion === vBefore)
  }

  test("change-feed stream: anchored schema survives evolution; restart adopts it") {
    import graft.streaming.ChangeFeed
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcevolve"))
    val src = spark.range(1, 101).selectExpr("id", "id * 10 AS v")
    cat.createTable("src", src.schema, primaryKey = Seq("id"))
    cat.createTable("replica", src.schema)
    val ckpt = tmpDir("cdcevolve_ckpt")
    cat.insert("src", src.filter(col("id") <= 40))
    // ONE long-lived query spans the evolution: the source object (and so
    // the anchor) lives across micro-batches
    val q = ChangeFeed.readChanges(spark, cat.root, "src", Seq("id"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          cat.applyChangesStreamBatch("replica", b.toDF(), Seq("id"), id, "s0"); ()
      }
      .start()
    try {
      q.processAllAvailable() // consumes the pre-evolution insert
      // evolve the base mid-stream: new column arrives WITH data, plus a
      // post-evolution plain insert
      cat.insertEvolve("src", src.filter(col("id") > 40 && col("id") <= 70)
        .withColumn("tag", concat(lit("t"), col("id") % 2)))
      cat.insert("src", src.filter(col("id") > 70).withColumn("tag", lit("x")))
      // the running (anchored) stream keeps applying EXACTLY, projected
      // through its start-time schema — no failure, no corruption
      q.processAllAvailable()
    } finally q.stop()
    val anchored = cat.read("src").select("id", "v")
    assert(cat.read("replica").exceptAll(anchored).isEmpty &&
      anchored.exceptAll(cat.read("replica")).isEmpty)
    // a FRESH stream re-anchors at the evolved schema: full history
    // replays with the new column (pre-evolution rows read its default)
    val ckpt2 = tmpDir("cdcevolve_ckpt2")
    cat.createTable("replica2", cat.read("src").schema)
    assert(ChangeFeed.applyPass(cat, "src", "replica2", Seq("id"), ckpt2) === 1L)
    assert(cat.read("replica2").exceptAll(cat.read("src")).isEmpty &&
      cat.read("src").exceptAll(cat.read("replica2")).isEmpty)
  }

  test("change-feed stream: vacuumed resume point and replace both refuse loudly") {
    import graft.streaming.ChangeFeed
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcvacuum"))
    val src = spark.range(1, 61).selectExpr("id", "id * 10 AS v")
    cat.createTable("src", src.schema, primaryKey = Seq("id"))
    cat.createTable("replica", src.schema)
    val ckpt = tmpDir("cdcvacuum_ckpt")
    cat.insert("src", src.filter(col("id") <= 20))
    assert(ChangeFeed.applyPass(cat, "src", "replica", Seq("id"), ckpt) === 1L)
    // pile up commits, then expire the stream's resume point
    (1 to 12).foreach(i => cat.insert("src",
      src.filter(col("id") === 20L + i)))
    cat.vacuum(keepLast = 3, orphanGraceMs = 0L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangeFeed.applyPass(cat, "src", "replica", Seq("id"), ckpt)
    }
    assert(ex.getCause.getMessage.contains("vacuumed"))
    // a REPLACE restarts column identity -> a fresh stream past it works,
    // but one whose window crosses it refuses
    val cat2 = new graft.lake.LakeCatalog(spark, tmpDir("cdcreplace"))
    cat2.createTable("t", src.schema, primaryKey = Seq("id"))
    cat2.createTable("r", src.schema)
    val ckpt3 = tmpDir("cdcreplace_ckpt")
    cat2.insert("t", src.filter(col("id") <= 10))
    assert(ChangeFeed.applyPass(cat2, "t", "r", Seq("id"), ckpt3) === 1L)
    cat2.transaction { tx =>
      tx.createTableAs("t_stage", src.filter(col("id") > 50))
      tx.replaceTable("t", "t_stage")
    }
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangeFeed.applyPass(cat2, "t", "r", Seq("id"), ckpt3)
    }
    assert(ex2.getCause.getMessage.contains("replaced"))
    // rename-AWAY + recreate under the old name: tables_renamed_from
    // marks the identity break at the rename commit itself, so the
    // stream refuses promptly — even when the recreated table's
    // ColumnDefs are BYTE-IDENTICAL (ids restart deterministically),
    // the case the schema-history merge alone cannot catch
    val cat3 = new graft.lake.LakeCatalog(spark, tmpDir("cdcrename"))
    cat3.createTable("t", src.schema, primaryKey = Seq("id"))
    cat3.createTable("r", src.schema)
    val ckpt4 = tmpDir("cdcrename_ckpt")
    cat3.insert("t", src.filter(col("id") <= 10))
    assert(ChangeFeed.applyPass(cat3, "t", "r", Seq("id"), ckpt4) === 1L)
    cat3.transaction(_.renameTable("t", "t_old"))
    cat3.createTable("t", src.schema, primaryKey = Seq("id")) // identical defs
    cat3.insert("t", src.filter(col("id") > 50))
    val ex3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangeFeed.applyPass(cat3, "t", "r", Seq("id"), ckpt4)
    }
    assert(ex3.getCause.getMessage.contains("renamed"))
    // a FRESH stream over the recreated name trips the same guard but
    // the message must hand the caller the actual remedy: the
    // startingVersion past the identity break ("start a fresh stream"
    // is exactly what they just did)
    val ex4 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangeFeed.applyPass(cat3, "t", "r", Seq("id"), tmpDir("cdcrename_f"))
    }
    assert(ex4.getCause.getMessage.contains("startingVersion ="))
    // ...and following that remedy works: streaming from past the break
    // replicates only the current incarnation
    val breakV = ex4.getCause.getMessage.split("startingVersion = ").last
      .takeWhile(_.isDigit).toLong
    cat3.truncateTable("r")
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = ChangeFeed.readChanges(spark, cat3.root, "t", Seq("id"),
        startingVersion = breakV)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("cdcrename_f2"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        // a NEW logical stream into the same replica: distinct streamId,
        // else batch 0 would dedupe against the first stream's batch 0
        if (cat3.applyChangesStreamBatch("r", b.toDF(), Seq("id"), id,
            streamId = "incarnation2"))
          applied.incrementAndGet()
        ()
      }.start()
    q.awaitTermination()
    assert(applied.get() === 1L)
    assert(cat3.read("r").count() === 10L) // ids 51..60, the new incarnation
  }

  test("change-feed: quiescent table whose last commit was vacuumed still streams (offset clamps to live)") {
    import graft.streaming.ChangeFeed
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcclamp"))
    val src = spark.range(1, 41).selectExpr("id", "id * 10 AS v")
    cat.createTable("a", src.schema, primaryKey = Seq("id"))
    cat.createTable("b", src.schema, primaryKey = Seq("id"))
    cat.createTable("ra", src.schema)
    // a's last data commit, then a long tail of commits touching only b,
    // then a vacuum that expires a's last-touching version
    cat.insert("a", src.filter(col("id") <= 20))
    (1 to 10).foreach(i => cat.insert("b", src.filter(col("id") === i.toLong)))
    cat.vacuum(keepLast = 3, orphanGraceMs = 0L)
    assert((1L to cat.currentVersion).exists(cat.current.versionExpired))
    // a BRAND-NEW checkpoint over the fully-readable quiescent table must
    // not die on the expiry check: the offset clamps up to a live version
    // and the live-to-live diff carries the same net rows
    val n = ChangeFeed.applyPass(cat, "a", "ra", Seq("id"), tmpDir("cdcclamp_ck"))
    assert(n === 1L)
    assert(cat.read("ra").exceptAll(cat.read("a"))
      .union(cat.read("a").exceptAll(cat.read("ra"))).isEmpty)
  }

  test("change-feed: 100-commit backlog resumes with a bounded plan and exact state") {
    import graft.streaming.ChangeFeed
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcfold"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    cat.createTable("t", schema, primaryKey = Seq("id"))
    cat.createTable("r", schema)
    // 100 commits: inserts + periodic updates so the fold must net
    // cross-commit churn correctly, not just concatenate inserts
    (1 to 100).foreach { i =>
      if (i % 10 == 0)
        cat.update("t", col("id") <= i.toLong / 10,
          Map("v" -> (col("v") + 1000L)))
      else cat.insert("t",
        spark.range(i.toLong, i.toLong + 1).selectExpr("id", "id * 10 AS v"))
    }
    var batches = 0L
    var maxLegs = 0L
    val q = ChangeFeed.readChanges(spark, cat.root, "t", Seq("id"),
        maxWindowsPerBatch = 8)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("cdcfold_ck"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val df = b.toDF().persist()
        // <= maxWindows distinct commit versions = <= maxWindows union legs
        val legs = df.select("_commit_version").distinct().count()
        batches += 1; maxLegs = math.max(maxLegs, legs)
        cat.applyChangesStreamBatch("r", df, Seq("id"), id, "fold")
        df.unpersist(blocking = false)
        ()
      }.start()
    q.awaitTermination()
    assert(batches >= 1L)
    assert(maxLegs <= 8L,
      s"backlog must fold to <= maxWindowsPerBatch union legs, saw $maxLegs")
    assert(cat.read("r").exceptAll(cat.read("t"))
      .union(cat.read("t").exceptAll(cat.read("r"))).isEmpty,
      "folded windows must apply the identical net state")
  }

  test("change-feed under AvailableNow: a restart replays the uncommitted batch, then drains to head") {
    import graft.streaming.ChangeFeed
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import org.apache.spark.sql.types._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcavail"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    cat.createTable("t", schema, primaryKey = Seq("id"))
    cat.createTable("r", schema)
    cat.insert("t", spark.range(0, 10).selectExpr("id", "id AS v"))
    val ckpt = tmpDir("cdcavail_ck")
    def run(sinkUp: Boolean): Seq[Long] = {
      val applied = scala.collection.mutable.ArrayBuffer[Long]()
      val q = ChangeFeed.readChanges(spark, cat.root, "t", Seq("id"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          if (!sinkUp) throw new RuntimeException("sink down")
          cat.applyChangesStreamBatch("r", b.toDF(), Seq("id"), id, "avail")
          applied += id
          ()
        }.start()
      if (sinkUp) q.awaitTermination()
      else intercept[StreamingQueryException](q.awaitTermination())
      applied.toSeq
    }
    // batch 0 is planned and its offset logged, but it never commits
    assert(run(sinkUp = false).isEmpty)
    // newer commits land while the query is down
    cat.update("t", col("id") < 3, Map("v" -> lit(-1L)))
    cat.insert("t", spark.range(10, 15).selectExpr("id", "id AS v"))
    // one run replays batch 0 at its logged end, then drains to head
    assert(run(sinkUp = true) === Seq(0L, 1L))
    assert(cat.read("r").exceptAll(cat.read("t"))
      .union(cat.read("t").exceptAll(cat.read("r"))).isEmpty)
  }

  test("CDC apply refuses non-row-identifying keys instead of collapsing multiset data") {
    import spark.implicits._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcdup"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    cat.createTable("r", schema)
    // two distinct rows share k=1 within one commit: by-key net-effect
    // apply would nondeterministically keep one — must refuse
    val batch = Seq((1L, 10L, "insert", 3L), (1L, 20L, "insert", 3L),
      (2L, 30L, "insert", 3L))
      .toDF("k", "v", "change_type", "_commit_version")
    val ex = intercept[IllegalArgumentException] {
      cat.applyChangesStreamBatch("r", batch, Seq("k"), 0L, "dup")
    }
    assert(ex.getMessage.contains("not unique"))
    // distinct keys pass
    val ok = Seq((1L, 10L, "insert", 3L), (2L, 30L, "insert", 3L))
      .toDF("k", "v", "change_type", "_commit_version")
    assert(cat.applyChangesStreamBatch("r", ok, Seq("k"), 0L, "dup"))
    assert(cat.read("r").count() === 2L)
    // catalog sync applies the same way: a keyless source holding a
    // duplicated sync key refuses, leaving replica and offset untouched
    import graft.streaming.{CatalogSync, TableSync}
    cat.createTable("s", schema)
    cat.createTable("rs", schema)
    val maps = Seq(TableSync("s", "rs", Seq("k")))
    cat.insert("s", Seq((1L, 10L), (2L, 30L)).toDF("k", "v"))
    assert(CatalogSync.pass(cat, cat, maps, "dup") === 1L)
    val offset = CatalogSync.lastOffset(cat, "dup")
    cat.insert("s", Seq((3L, 40L), (3L, 50L)).toDF("k", "v"))
    val ex2 = intercept[IllegalArgumentException] {
      CatalogSync.pass(cat, cat, maps, "dup")
    }
    assert(ex2.getMessage.contains("not unique"))
    assert(cat.read("rs").orderBy("k").as[(Long, Long)].collect()
      === Array((1L, 10L), (2L, 30L)))
    assert(CatalogSync.lastOffset(cat, "dup") === offset)
  }

  test("streaming dedup collapses a duplicated stream back to the batch profile") {
    import spark.implicits._
    val streamed = EventStream.dedupProfile(spark, d)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // the stream saw every event TWICE; after dropDuplicatesWithinWatermark
    // its per-type profile must equal the single-copy batch profile exactly
    val batch = Tables.events(spark, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === batch)
  }

  test("catalog sync: a multi-table source txn is never observable torn across replicas") {
    import graft.streaming.{CatalogSync, ChangeFeed, TableSync}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("catsync"))
    val invS = StructType(Seq(StructField("product_id", LongType),
      StructField("qty", LongType)))
    val ordS = StructType(Seq(StructField("order_id", LongType),
      StructField("product_id", LongType), StructField("q", LongType)))
    cat.createTable("inv", invS, primaryKey = Seq("product_id"))
    cat.createTable("ord", ordS, primaryKey = Seq("order_id"))
    cat.createTable("r_inv", invS)
    cat.createTable("r_ord", ordS)
    cat.insert("inv",
      (1L to 5L).map(i => (i, 100L)).toDF("product_id", "qty"))
    // demo-1's shape: order insert + inventory decrement, ONE commit —
    // unit conservation inv.qty + ord.q = 500 holds at every src version
    def order(id: Long, p: Long, q: Long): Unit = cat.transaction { tx =>
      tx.insert("ord", Seq((id, p, q)).toDF("order_id", "product_id", "q"))
      tx.update("inv", col("product_id") === p, Map("qty" -> (col("qty") - q)))
    }
    order(1, 1, 10); order(2, 2, 5)
    val maps = Seq(TableSync("inv", "r_inv", Seq("product_id")),
      TableSync("ord", "r_ord", Seq("order_id")))
    assert(CatalogSync.pass(cat, cat, maps, "s1") >= 1L)
    def eqTo(src: String, dst: String): Boolean =
      cat.read(dst).exceptAll(cat.read(src))
        .union(cat.read(src).exceptAll(cat.read(dst))).isEmpty
    assert(eqTo("inv", "r_inv") && eqTo("ord", "r_ord"))
    // phase 2: more multi-table txns; then audit EVERY destination
    // version the sync created — the conservation invariant must hold at
    // each one (a torn half-applied pair would break it)
    val syncStart = cat.currentVersion
    order(3, 3, 20); order(4, 4, 1); order(5, 5, 7)
    assert(CatalogSync.pass(cat, cat, maps, "s1") >= 1L)
    var audited = 0
    for (v <- (syncStart + 1) to cat.currentVersion
         if cat.snapshot(v).changes.getOrElse("stream_batches", Nil)
           .exists(_.startsWith("catsync:s1:"))) {
      val inv = cat.readAt("r_inv", v).agg(sum("qty")).head().getLong(0)
      val ord = cat.readAt("r_ord", v)
        .agg(coalesce(sum("q"), lit(0L))).head().getLong(0)
      assert(inv + ord === 500L,
        s"replica pair torn at destination v$v: inv=$inv ord=$ord")
      audited += 1
    }
    assert(audited >= 1, "audit must cover the sync's commits")
    assert(eqTo("inv", "r_inv") && eqTo("ord", "r_ord"))
    // idempotent: nothing new -> zero transactions
    assert(CatalogSync.pass(cat, cat, maps, "s1") === 0L)
    // NON-VACUOUS: the same history consumed by INDEPENDENT per-table
    // feeds IS observable torn — apply only ord's feed and the pair
    // breaks conservation (this is exactly what CatalogSync prevents)
    cat.createTable("t_inv", invS)
    cat.createTable("t_ord", ordS)
    ChangeFeed.applyPass(cat, "ord", "t_ord", Seq("order_id"),
      tmpDir("catsync_torn"))
    val tornInv = cat.read("t_inv").agg(coalesce(sum("qty"), lit(0L)))
      .head().getLong(0)
    val tornOrd = cat.read("t_ord").agg(coalesce(sum("q"), lit(0L)))
      .head().getLong(0)
    assert(tornInv + tornOrd !== 500L,
      "per-table feeds must exhibit the torn state the sync prevents")
  }

  test("catalog sync: deep backlog folds to bounded transactions; resume is exactly-once") {
    import graft.streaming.{CatalogSync, TableSync}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("catsync_fold"))
    val aS = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    cat.createTable("a", aS, primaryKey = Seq("id"))
    cat.createTable("b", aS, primaryKey = Seq("id"))
    cat.createTable("ra", aS)
    cat.createTable("rb", aS)
    // 30 commits across two tables incl. updates and a joint txn
    (1 to 30).foreach { i =>
      if (i % 7 == 0) cat.transaction { tx =>
        tx.insert("a", Seq((1000L + i, i.toLong)).toDF("id", "v"))
        tx.insert("b", Seq((1000L + i, i.toLong)).toDF("id", "v"))
      }
      else if (i % 5 == 0)
        cat.update("a", col("id") <= i.toLong, Map("v" -> (col("v") + 100L)))
      else cat.insert(if (i % 2 == 0) "a" else "b",
        Seq((i.toLong, i.toLong * 10)).toDF("id", "v"))
    }
    // pin every third data commit up to i = 24, then expire the rest:
    // the trailing data commits (i = 25..30) have no later live one to
    // merge into, so the pass must close with one live-to-live window at
    // head (the tables' lastDataVersion stamps or retained headers say so)
    val firstData = cat.currentVersion - 29
    (3 to 24 by 3).foreach(i => cat.tag(s"keep$i", firstData + i - 1))
    cat.createTable("pad", aS)
    (1 to 3).foreach(i =>
      cat.insert("pad", Seq((i.toLong, 0L)).toDF("id", "v")))
    cat.vacuum(keepLast = 2, orphanGraceMs = 0L)
    assert((firstData + 24 to firstData + 29).forall(cat.current.versionExpired))
    val srcHead = cat.currentVersion
    val maps = Seq(TableSync("a", "ra", Seq("id")),
      TableSync("b", "rb", Seq("id")))
    val n = CatalogSync.pass(cat, cat, maps, "f1", maxTxnsPerPass = 5)
    assert(n >= 1L && n <= 5L,
      s"backlog must fold to <= maxTxnsPerPass transactions, saw $n")
    assert(CatalogSync.lastOffset(cat, "f1") === srcHead)
    def eqTo(src: String, dst: String): Boolean =
      cat.read(dst).exceptAll(cat.read(src))
        .union(cat.read(src).exceptAll(cat.read(dst))).isEmpty
    assert(eqTo("a", "ra") && eqTo("b", "rb"),
      "folded sync must land the identical net state")
    assert(CatalogSync.pass(cat, cat, maps, "f1", maxTxnsPerPass = 5) === 0L)
    // an independent stream id starts from scratch without colliding
    cat.createTable("ra2", aS)
    cat.createTable("rb2", aS)
    val maps2 = Seq(TableSync("a", "ra2", Seq("id")),
      TableSync("b", "rb2", Seq("id")))
    assert(CatalogSync.pass(cat, cat, maps2, "f2", maxTxnsPerPass = 3) >= 1L)
    assert(eqTo("a", "ra2") && eqTo("b", "rb2"))
  }

  test("identity break stays visible after its header is compacted away (stamp, not header scan)") {
    import graft.streaming.{CatalogSync, ChangeFeed, TableSync}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcbreakc"))
    val src = spark.range(1, 11).selectExpr("id", "id * 10 AS v")
    cat.createTable("t", src.schema, primaryKey = Seq("id"))
    cat.createTable("r", src.schema)
    cat.insert("t", src)
    cat.dropTable("t")
    val breakV = cat.currentVersion
    cat.createTable("t", src.schema, primaryKey = Seq("id"))
    cat.insert("t", src)
    // churn past the header-retain window, then vacuum: the breaking
    // commit's header drops from every later snapshot's history
    cat.createTable("pad", StructType(Seq(StructField("id", LongType))))
    (1 to 300).foreach(i =>
      cat.transaction(_.setProperty("pad", "i", i.toString)))
    cat.vacuum(keepLast = 10, orphanGraceMs = 0L)
    cat.insert("t", src.selectExpr("id + 100 AS id", "v")) // post-vacuum data
    val head = cat.current
    assert(!head.history.exists(_.snapshotId == breakV),
      "precondition: the breaking header must be compacted away")
    assert(head.identityBreaks.get("t") === Some(breakV),
      "the per-name stamp must carry the break")
    // a fresh stream from 0 would diff across restarted column ids —
    // the stamp must refuse it even though no retained header says why
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangeFeed.applyPass(cat, "t", "r", Seq("id"), tmpDir("cdcbreakc_ck"))
    }
    assert(ex.getCause.getMessage.contains(s"v$breakV"))
    // the catalog-level sync sees the same stamp
    val ex2 = intercept[IllegalStateException] {
      CatalogSync.pass(cat, cat, Seq(TableSync("t", "r", Seq("id"))), "bc")
    }
    assert(ex2.getMessage.contains(s"v$breakV"))
    // the remedy works (break version itself was vacuumed, so the
    // startingVersion form is gone too): SEED the replica at a live
    // snapshot, then stream from there — only post-seed churn flows
    cat.transaction(tx => tx.insert("r", cat.read("t")))
    val seedV = cat.currentVersion
    cat.insert("t", src.selectExpr("id + 200 AS id", "v"))
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = ChangeFeed.readChanges(spark, cat.root, "t", Seq("id"),
        startingVersion = seedV)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("cdcbreakc_ck2"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        if (cat.applyChangesStreamBatch("r", b.toDF(), Seq("id"), id, "inc2"))
          applied.incrementAndGet()
        ()
      }.start()
    q.awaitTermination()
    assert(applied.get() === 1L)
    assert(cat.read("r").exceptAll(cat.read("t"))
      .union(cat.read("t").exceptAll(cat.read("r"))).isEmpty)
  }

  test("a fresh checkpoint is a new logical stream: its batch 0 lands instead of deduping") {
    import graft.streaming.ChangeFeed
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cdcfreshck"))
    val src = spark.range(1, 21).selectExpr("id", "id * 10 AS v")
    cat.createTable("src", src.schema, primaryKey = Seq("id"))
    cat.createTable("replica", src.schema)
    cat.insert("src", src)
    assert(ChangeFeed.applyPass(cat, "src", "replica", Seq("id"),
      tmpDir("cdcfreshck_a")) === 1L)
    assert(cat.read("replica").count() === 20L)
    // a SECOND logical stream over the same destination: fresh
    // checkpoint, so its batch ids restart at 0. The checkpoint-derived
    // streamId namespaces its idempotence tags apart from the first
    // stream's — without it this batch would be silently skipped as a
    // "replay" of the first stream's batch 0
    cat.truncateTable("replica")
    assert(ChangeFeed.applyPass(cat, "src", "replica", Seq("id"),
      tmpDir("cdcfreshck_b")) === 1L,
      "a fresh checkpoint's batch 0 must land, not dedupe")
    assert(cat.read("replica").exceptAll(cat.read("src"))
      .union(cat.read("src").exceptAll(cat.read("replica"))).isEmpty)
  }

  test("catalog sync persists its first-pass anchor: alignment survives source schema changes") {
    import graft.streaming.{CatalogSync, TableSync}
    import spark.implicits._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("catsyncanchor"))
    val s = spark.range(1, 6).selectExpr("id", "id * 10 AS v")
    cat.createTable("s", s.schema, primaryKey = Seq("id"))
    cat.createTable("rs", s.schema)
    cat.insert("s", s)
    val maps = Seq(TableSync("s", "rs", Seq("id")))
    assert(CatalogSync.pass(cat, cat, maps, "anc") >= 1L)
    val anchor0 = cat.current.tables("rs").props
      .getOrElse("catsync.anc.anchor",
        fail("first pass must persist its anchor on the replica")).toLong
    // evolve the SOURCE between passes, then commit more data
    cat.execute("ALTER TABLE s ADD COLUMN w BIGINT DEFAULT 7")
    cat.insert("s", spark.range(6, 9).selectExpr("id", "id * 10 AS v"))
    assert(CatalogSync.pass(cat, cat, maps, "anc") >= 1L)
    // the anchor did NOT silently re-point at the new head — window
    // alignment keeps the first pass's projection
    assert(cat.current.tables("rs").props("catsync.anc.anchor").toLong
      === anchor0, "the persisted anchor must not shift mid-stream")
    assert(!cat.read("rs").columns.contains("w"),
      "replica stays aligned at the pre-evolution anchor schema")
    assert(cat.read("rs").exceptAll(cat.read("s").select("id", "v"))
      .union(cat.read("s").select("id", "v").exceptAll(cat.read("rs")))
      .isEmpty)
  }

  test("a lost first-pass anchor race aborts in-transaction and realigns on the winner's anchor") {
    import graft.streaming.{CatalogSync, TableSync}
    val root = tmpDir("catsyncrace")
    val cat = new graft.lake.LakeCatalog(spark, root)
    val s = spark.range(1, 6).selectExpr("id", "id * 10 AS v")
    cat.createTable("s", s.schema, primaryKey = Seq("id"))
    cat.createTable("rs", s.schema)
    cat.insert("s", s)
    val maps = Seq(TableSync("s", "rs", Seq("id")))
    // the destination view a racing LOSER holds: captured BEFORE the
    // winner persisted its anchor (no offset tag, no stored anchor)
    val staleDst = cat.current
    // winner: a genuine first pass persists its anchor and offset
    assert(CatalogSync.pass(cat, cat, maps, "race") >= 1L)
    val anchorA = cat.current.tables("rs").props("catsync.race.anchor").toLong
    // the source evolves AND grows past the winner's window, so the
    // loser has real work left whose diff depends on the anchor schema
    cat.execute("ALTER TABLE s ADD COLUMN w BIGINT DEFAULT 7")
    cat.insert("s", spark.range(6, 9).selectExpr("id", "id * 10 AS v"))
    // loser: same streamId, but its PRE-transaction reads (lastOffset +
    // the anchors read) see the stale head, so it would anchor at the
    // current post-evolution source head; transactions read fresh state
    var staleReads = 2
    val loserDst = new graft.lake.LakeCatalog(spark, root) {
      override def current: graft.lake.Snapshot =
        if (staleReads > 0) { staleReads -= 1; staleDst }
        else super.current
    }
    assert(CatalogSync.pass(cat, loserDst, maps, "race") >= 1L)
    // the winner's anchor survived, and the loser's window was applied
    // diffed against IT: post-evolution columns stay projected away
    assert(cat.current.tables("rs").props("catsync.race.anchor").toLong
      === anchorA, "the loser must not overwrite or bypass the anchor")
    assert(!cat.read("rs").columns.contains("w"))
    assert(cat.read("rs").exceptAll(cat.read("s").select("id", "v"))
      .union(cat.read("s").select("id", "v").exceptAll(cat.read("rs")))
      .isEmpty)
  }
}
