package graft.streaming

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.13): the reference's closest
  * analogs are a concurrent per-row writer thread
  * (ref demos/03_schema_evolution/demo.py:32-72) and an IoT append feed
  * (ref demos/04_small_file_optimization/demo.py:238-249) — batch tables
  * cover the demonstrated semantics, and this module adds the genuinely
  * streaming half a large-scale pipeline needs: replay the events table as
  * a micro-batch stream, event-time watermark + tumbling-window
  * aggregation, and custom keyed state via flatMapGroupsWithState.
  *
  * Everything runs with Trigger.AvailableNow into a memory sink for
  * deterministic verification; swapping the source to kafka/file-tail and
  * the sink to the LakeCatalog writer changes no transform code — that is
  * the point of the unified Dataset API.
  */
object EventStream {

  /** Replay the driver events table as a file-source stream.
    *
    * The file has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    * across driver testdata generations, and a file stream source needs an
    * explicit schema — so take the file's own schema from a one-footer
    * batch read (ns surfaces as Long under the legacy conf, µs as a native
    * timestamp) and normalize ts exactly as the batch loader does
    * ([[graft.Tables.eventsTs]]). Assuming ns unconditionally silently
    * collapses a µs timeline 1000× (the round-7 streaming regression:
    * windows never closed, every click/purchase pair landed inside the
    * join interval). */
  // the schema probe is one driver-side footer read per call — st4/st7
  // build two stream sides each, and a benchmark session replays the st*
  // queries many times, so memoize the schema. It is a property of the
  // FILE, not the session, so key by (dir, mtime): no SparkSession is
  // retained (sessions come and go across test suites) and regenerating
  // events.parquet in the same dir invalidates the entry.
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]()

  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val mtime = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path).getModificationTime
    val schema = schemaMemo.computeIfAbsent((sfDir, mtime), _ =>
      spark.read.parquet(s"$sfDir/events.parquet").schema)
    graft.Tables.eventsTs(spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Watermarked tumbling-window aggregation (1-hour windows, 2-hour
    * lateness bound): counts + value sums per (window, event_type). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class UserSession(
      user_id: Long, n_events: Long, n_types: Int,
      first_us: Long, last_us: Long)

  final case class SessAcc(
      n: Long, types: Seq[String], firstUs: Long, lastUs: Long)

  /** Custom keyed state: per-user running session stats via
    * flatMapGroupsWithState (the mapGroupsWithState family — the Spark
    * primitive for reference-free stateful operators). */
  def userSessions(events: DataFrame): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val typed = events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .as[(Long, String, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessAcc, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String, Long)], st: GroupState[SessAcc]) =>
          val acc0 = st.getOption.getOrElse(SessAcc(0L, Nil, Long.MaxValue, Long.MinValue))
          val acc = it.foldLeft(acc0) { case (a, (_, tpe, us)) =>
            SessAcc(a.n + 1,
              if (a.types.contains(tpe)) a.types else a.types :+ tpe,
              math.min(a.firstUs, us), math.max(a.lastUs, us))
          }
          st.update(acc)
          // micros carried as raw longs end-to-end — a ms-precision
          // java.sql.Timestamp here would silently truncate event times
          Iterator.single(UserSession(uid, acc.n, acc.types.size,
            acc.firstUs, acc.lastUs))
      }
  }

  /** Drain a streaming DataFrame through a memory sink with AvailableNow
    * (process-everything-then-stop) and return the materialized result.
    *
    * The stateful-operator partition count is pinned from
    * `spark.graft.streaming.statePartitions` (default 4) for the duration
    * of the stream: every stateful exchange materializes one state store
    * PER shuffle partition PER operator (a stream-stream join keeps four),
    * and each store commits a delta file every micro-batch — so the
    * per-batch fixed cost is linear in the partition count regardless of
    * data volume. Measured on the sf0.1 replay, 4 partitions beat both 8
    * and 2 (the state here is a few thousand keys — store-commit fixed
    * cost dominates below 4, scheduling wins above it); on a
    * 1000-executor cluster set the conf to ~2x total cores so state
    * shards match the hardware (the count is pinned into the checkpoint
    * at first start, exactly like production Spark). The session's batch
    * `spark.sql.shuffle.partitions` is restored before the drained table
    * is read back, so downstream batch plans are unaffected. */
  def drainToTable(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val statePartitions =
      spark.conf.get("spark.graft.streaming.statePartitions", "4")
    val batchPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    // The file-stream source decodes each micro-batch at FILE-SPLIT
    // parallelism: a ~15 MB events.parquet is 1-2 splits at the 128 MB
    // default, so the 600k-row decode runs nearly single-threaded before
    // the stateful exchange fans it out. Split small during the drain
    // (restored after) — on a cluster the source is many files and this
    // knob is moot.
    val batchSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    // This replay is a drain-and-discard verification surface, not a
    // durable production checkpoint (a real deployment points this at
    // object storage and keeps it): the checkpoint lives in the driver's
    // scratch directory under spark.local.dir, which the context removes
    // when it stops, and its unique suffix keeps two sessions draining
    // the same query name apart.
    val ckpt = s"${SparkFiles.getRootDirectory()}/graft_ckpt_${name}_" +
      java.util.UUID.randomUUID()
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", batchPartitions)
      spark.conf.set("spark.sql.files.maxPartitionBytes", batchSplit)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.table(name)
  }

  /** Streaming → lake sink with exactly-once semantics: every micro-batch
    * lands as ONE atomic lake commit via foreachBatch, and the batch id is
    * recorded in the snapshot's change summary
    * (`LakeCatalog.insertStreamBatch`), so a replayed batch — restart from
    * checkpoint, speculative sink retry — is detected against the O(1)
    * header history and skipped. The reference's closest analog is the
    * concurrent writer thread landing rows mid-demo
    * (ref demos/03_schema_evolution/demo.py:32-72); this is the
    * Spark-native closing of that loop: stream in, transactional lake out,
    * time travel over the ingested history. */
  def sinkToLake(stream: DataFrame, cat: graft.lake.LakeCatalog,
      table: String, checkpointDir: String, streamId: String = ""): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // append-sink dedup stays (table[, streamId], batchId) — NOT
        // checkpoint-derived: a replay from a fresh checkpoint (same
        // source, same batch ids) must stay a no-op (the Delta txnAppId
        // model). The flip side: DISTINCT logical streams appending to
        // one table must pass distinct streamIds or the second stream's
        // early batches dedupe against the first's — the CDC path
        // (ChangeFeed.applyPass) differs deliberately: its net-effect
        // apply converges under re-delivery, so it derives the id from
        // the checkpoint and never skips a distinct stream.
        cat.insertStreamBatch(table, batch.toDF(), id, streamId); ()
      }
      .start()
    q.awaitTermination()
  }

  /** Judged query ST1: streaming windowed aggregation, drained and
    * totally ordered. Watermark semantics make "complete" unavailable —
    * append mode emits only windows the watermark has closed; with
    * AvailableNow over a finite replay the final watermark closes all but
    * the trailing 2h of windows, deterministically. */
  def windowedProfile(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(
      windowedCounts(readEvents(spark, sfDir)),
      s"st1_win_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .orderBy("win_start", "event_type")

  /** Watermarked SLIDING-window aggregation (2-hour windows advancing
    * every 30 minutes — each event lands in exactly 4 overlapping
    * windows; the moving-average/rates shape monitoring stacks use).
    * Overlap multiplies STATE, not input: the stream is read once and
    * the window generator fans each row to its 4 window keys before the
    * hash-agg, so the cost model is 4x keys, 1x scan. Same append-mode
    * emission rule as the tumbling windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  def slidingProfile(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(
      slidingCounts(readEvents(spark, sfDir)),
      s"st8_win_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .orderBy("win_start", "event_type")

  /** Judged query ST3: streaming exact deduplication. The replayed events
    * stream is unioned with a second replay of itself — every event now
    * arrives twice, the at-least-once delivery shape every real ingest
    * pipeline has — and `dropDuplicatesWithinWatermark` on event_id keeps
    * exactly one copy per key. The watermark bounds the dedup state: a
    * key's fingerprint is dropped once the event-time horizon passes it,
    * so state is O(keys per 2h window), not O(stream) — the property that
    * lets this run forever at ingest scale. The drained result is
    * profiled per event_type, which must hash-match the same profile over
    * the ORIGINAL single-copy table — the oracle never sees the
    * duplicates, proving the stream removed all of them. */
  def dedupProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val doubled = readEvents(spark, sfDir)
      .unionByName(readEvents(spark, sfDir))
    val deduped = doubled
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    drainToTable(deduped,
      s"st3_dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .orderBy("event_type")
  }

  /** Judged query ST4: stream-stream interval join — click→purchase
    * attribution within a 1-hour window, the canonical two-stream
    * pattern. Both sides carry event-time watermarks and the join
    * condition bounds the time range, so each side's state is evicted
    * once the other side's watermark passes the range — state stays
    * O(events per horizon), the property that lets this run forever at
    * ingest scale. Over the finite AvailableNow replay every qualifying
    * pair is emitted exactly once, so the drained per-user profile is
    * SQL-expressible and HASH-verified: the oracle replays the same
    * interval join as a batch self-join in DuckDB. */
  def streamJoinProfile(spark: SparkSession, sfDir: String): DataFrame = {
    // both sides branch from ONE stream source (a self-join): the batch
    // planner resolves a single file source per micro-batch instead of
    // two independent ones
    val ev = readEvents(spark, sfDir)
    def side(tpe: String, prefix: String) =
      ev.filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "2 hours")
    val joined = side("click", "c").join(side("purchase", "p"),
      expr("c_user = p_user AND p_ts >= c_ts AND " +
        "p_ts <= c_ts + INTERVAL 1 HOUR"))
    drainToTable(joined,
      s"st4_join_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("c_id")).as("n_clicks_converted"),
        countDistinct(col("p_id")).as("n_purchases_attributed"))
      .orderBy("user_id")
  }

  /** Judged query ST7: stream-stream LEFT OUTER interval join — st4's
    * attribution shape plus the OUTER half: a click with no purchase in
    * its 1-hour window must still come out, with NULLs, once the
    * watermark proves no match can arrive. That emission is the hard
    * part of streaming outer joins (state eviction, not just matching):
    * an unmatched left row is released only when the global watermark
    * passes its last possible match time (c_ts + 1h); later clicks stay
    * withheld — deterministically, under the AvailableNow finite replay.
    * The oracle replays BOTH halves in DuckDB: the interval join for the
    * matched rows, NOT EXISTS + the watermark rule for the null rows. */
  def outerJoinProfile(spark: SparkSession, sfDir: String): DataFrame = {
    def side(tpe: String, prefix: String) =
      readEvents(spark, sfDir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "2 hours")
    val joined = side("click", "c").join(side("purchase", "p"),
      expr("c_user = p_user AND p_ts >= c_ts AND " +
        "p_ts <= c_ts + INTERVAL 1 HOUR"), "left_outer")
    drainToTable(joined,
      s"st7_outer_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_id")).as("n_converted"),
        sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_unconverted"))
      .orderBy("user_id")
  }

  /** Judged query ST5: NATIVE session windows — `session_window(ts, gap)`
    * is Spark's built-in gap-based session operator (merging windows +
    * state eviction handled by the engine, unlike st2's hand-rolled
    * flatMapGroupsWithState state machine). Sessions close when the
    * event-time watermark passes last_event + gap; with AvailableNow
    * over the finite replay the final watermark (max ts - 2h) closes all
    * but the trailing sessions deterministically. Oracle: DuckDB
    * re-derives the same sessions with a lag/cumsum gap split (break at
    * gap >= 30min, matching Spark's exclusive session end) and applies
    * the same emission rule — so both the merge semantics and the
    * watermark behavior are HASH-verified. */
  def gapSessionProfile(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(
      readEvents(spark, sfDir)
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
            .as("sum_value"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("n"), col("sum_value")),
      s"st5_gap_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .orderBy("user_id", "s_start")

  /** Judged query ST6: stream-STATIC enrichment join — the most common
    * production stream topology: a high-volume stream decorated from a
    * slow dimension table. The static side needs no watermark and no
    * state store; Spark re-plans it into every micro-batch and (being
    * broadcast-sized) ships it map-side, so the stream side never
    * shuffles for the join — at ingest scale the enrichment is free
    * compared to the windowed aggregate behind it. The dim here is a
    * per-user tier derived from the batch table (deterministic, covers
    * every user at every SF); the enriched stream feeds the same
    * watermark + tumbling-window aggregate shape as st1, per tier. */
  def enrichedWindowProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("tier",
        expr("CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'bronze' " +
          "WHEN 1 THEN 'silver' WHEN 2 THEN 'gold' ELSE 'platinum' END"))
    val enriched = readEvents(spark, sfDir)
      .join(broadcast(dim), Seq("user_id"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("sum_value"))
      .select(col("window.start").as("win_start"), col("tier"),
        col("n"), col("sum_value"))
    drainToTable(enriched,
      s"st6_enrich_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .orderBy("win_start", "tier")
  }

  /** Judged query ST2: stateful per-user sessions (top users by events).
    * With AvailableNow over the single-file replay the state sees every
    * event exactly once, so the drained output is a pure per-user profile
    * of the events table — SQL-expressible, so the custom-state operator
    * is HASH-verified against DuckDB. */
  def sessionProfile(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(
      userSessions(readEvents(spark, sfDir)).toDF(),
      s"st2_sess_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      OutputMode.Append())
      .selectExpr("user_id", "n_events", "cast(n_types AS bigint) AS n_types",
        "first_us", "last_us")
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(50)
}
