package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2,
  ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.StreamFrame
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types._

import graft.lake.{LakeCatalog, Manifest, SnapHeader, Snapshot}

/** The table CHANGE FEED as a streaming source — streaming
  * `table_changes()` (ref utils/ducklake_utils.py:65-78 exposes the batch
  * feed; this is its incremental-consumption form, the Delta CDF
  * `readChangeFeed` analog). Where [[LakeStream.replicate]] tails an
  * APPEND-ONLY table's data files, this source follows ANY DML: each
  * micro-batch carries the table's per-commit change rows — `insert`,
  * `delete`, `update_preimage`/`update_postimage` — tagged with the
  * commit version, derived on demand from the manifest (no change files
  * are ever written; the O(churn) diff in [[LakeCatalog.tableChanges]]
  * reads only the file entries a commit touched).
  *
  * Offsets are catalog snapshot versions, so the checkpoint contract is
  * exact: a batch is the ordered union of the per-commit diffs in
  * `(startV, endV]`, one window per commit that changed the table's DATA.
  * Layout-only commits (compaction, clustering) rewrite files without
  * changing the logical table — their delta is empty by construction —
  * so the source skips them without reading a byte, exactly as Delta CDF
  * emits nothing for OPTIMIZE.
  *
  * Schema evolution: the stream is ANCHORED — every window is projected
  * through the table schema at stream start, aligned by stable column id
  * ([[LakeCatalog.tableChanges]]'s `schemaAtV`), so an ADD/DROP/RENAME on
  * the base neither breaks the stream nor corrupts it: pre-evolution
  * windows read exactly as history-through-the-anchor-schema, and a
  * column added after the anchor stays invisible until the consumer
  * restarts the query (a restart re-anchors at the then-current schema;
  * the checkpoint offset carries over). Delta fails the stream outright
  * here; the anchor keeps it exact AND running.
  *
  * Loud-failure edges (never silent corruption):
  *  - a vacuumed resume point (the feed below the offset is gone) —
  *    retention must outlive the stream's lag, the same rule Delta
  *    documents for CDF reads;
  *  - the table dropped, or REPLACED/renamed-over mid-stream (a
  *    replacement restarts column ids, so id-anchored alignment would
  *    be meaningless).
  *
  * Scale shape: getOffset is one manifest-head read (zero jobs); a batch
  * plans one O(churn) diff per consumed commit as ordinary DataFrame
  * scans/joins (executor-side, prunable, codegen'd) — nothing is
  * collected on the driver and no second copy of the data is stored.
  */
object ChangeFeed {
  val TypeCol = "change_type"
  val VersionCol = "_commit_version"

  /** Net-change batches at or under this row count are written as ONE
    * file (and one broadcastable delete-key partition) instead of at
    * shuffle width: a steady stream of small batches otherwise litters
    * the sink with a near-empty file per shuffle slot per batch, and
    * every later scan of the replica pays a per-file task constant.
    * Backfill-sized batches above it keep their write parallelism. */
  private[graft] val SmallNetRows = 100000L

  /** Stable stream identity derived from a checkpoint location: batch
    * ids are scoped to the checkpoint, so its (normalized) path is the
    * natural namespace for idempotence tags. Hashed to keep tags short
    * and free of path separators. */
  private[graft] def checkpointStreamId(checkpointDir: String): String = {
    val norm = new java.io.File(checkpointDir).getAbsolutePath
      .stripSuffix("/")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes("UTF-8"))
    "ckpt-" + d.take(6).map("%02x".format(_)).mkString
  }

  /** Feed schema of the source `parameters` name. The source itself
    * anchors at its construction-time version; this helper (used for
    * pre-construction schema queries) reads the current one when no
    * `anchorVersion` is pinned — the same thing up to a benign planning
    * race. */
  def feedSchema(spark: SparkSession, parameters: Map[String, String]): StructType = {
    val cat = new LakeCatalog(spark, parameters("root"))
    feedSchema(cat, parameters("table"),
      parameters.get("anchorVersion").fold(cat.currentVersion)(_.toLong))
  }

  /** Feed schema = the table's columns at `anchorV` + change_type +
    * commit version. */
  private[streaming] def feedSchema(cat: LakeCatalog, table: String,
      anchorV: Long): StructType =
    StructType(cat.readAt(table, anchorV).schema.fields.toSeq :+
      StructField(TypeCol, StringType, nullable = false) :+
      StructField(VersionCol, LongType, nullable = false))

  /** Does header `h` record a change to the DATA of any of `tables`?
    * Layout-only kinds (compaction, clustering) and pure DDL are not data
    * kinds: their logical delta under the stream's anchor projection is
    * empty by construction, so reading them would pay O(rewritten bytes)
    * to emit nothing. */
  private[streaming] def changesData(h: SnapHeader, tables: Seq[String]): Boolean =
    h.changes.exists { case (k, ts) =>
      Manifest.DataChangeKinds.contains(k) && ts.exists(tables.contains) }

  /** The change windows of `tables` over `(fromV, toV]`, as the ordered
    * end versions of consecutive windows (the first opens at `fromV`,
    * each next one at the previous end): one per live commit that
    * changed any table's DATA. Zero jobs — headers and stamps only.
    * `head` is the snapshot at `toV`; expiry is read from `headNow`, the
    * current head, since a vacuum that committed after `toV` expired
    * versions `toV`'s own ledger cannot know about.
    *
    * A window may not cross an identity break of any of `tables` (a
    * REPLACE, a rename in EITHER direction, a DROP — id-anchored
    * alignment across it would be meaningless): the refusal names the
    * first break and ends with `remedy(breaks)`, the table's break
    * versions in order. Two signals, both consulted: the retained-header
    * scan (every break inside a window younger than tail compaction) and
    * the per-name break stamp (only the LAST break of each name, but
    * exact even after the breaking commit's header was compacted away).
    *
    * Expired interior commits merge into the next live window (the diff
    * between live snapshots carries their net effect exactly). TRAILING
    * expired data commits have no later live one to merge into, so one
    * extra live-to-live window closes at `toV` (which the caller keeps
    * live) — detected from the lastDataVersion stamps (exact even when
    * the expired headers were compacted away) or the retained headers.
    *
    * FAN-OUT CAP: past `maxWindows` windows the oldest fold into ONE
    * coarse exact diff — the net effect per key over the span is the
    * same, only per-commit granularity coarsens — so a consumer resuming
    * after any backlog plans at most `maxWindows` windows. */
  private[streaming] def windowEnds(head: Snapshot, headNow: Snapshot,
      tables: Seq[String], fromV: Long, toV: Long, maxWindows: Int)
      (remedy: Seq[Long] => String): Seq[Long] = {
    val window = head.history
      .filter(h => h.snapshotId > fromV && h.snapshotId <= toV)
    for (t <- tables) {
      val headerBreaks = window.filter(h => Manifest.IdentityBreakKinds
        .exists(k => h.changes.getOrElse(k, Nil).contains(t))).map(_.snapshotId)
      val stampedBreak = head.identityBreaks.get(t)
        .filter(bv => bv > fromV && bv <= toV)
      val breaks = (headerBreaks ++ stampedBreak).distinct.sorted
      breaks.headOption.foreach { bv =>
        throw new IllegalStateException(
          s"table '$t' was dropped, replaced or renamed at " +
            s"v$bv — its column identity ended there" + remedy(breaks))
      }
    }
    val (expired, live) = window.filter(changesData(_, tables))
      .partition(h => headNow.versionExpired(h.snapshotId))
    val liveVs = live.map(_.snapshotId)
    val lastLive = liveVs.lastOption.getOrElse(fromV)
    val lastData = tables.flatMap(head.tables.get)
      .map(_.lastDataVersion).foldLeft(0L)(math.max)
    val hasTrailingExpired = (lastData > lastLive && lastData <= toV) ||
      expired.exists(_.snapshotId > lastLive)
    val ends = if (hasTrailingExpired) liveVs :+ toV else liveVs
    if (ends.size <= maxWindows) ends
    else ends(ends.size - maxWindows) +: ends.drop(ends.size - maxWindows + 1)
  }

  /** `spark.readStream` over the change feed of `table` in the lake at
    * `root`. `keys` drive update pre/post pairing (defaults to the
    * table's primary key inside tableChanges); `startingVersion` is the
    * exclusive lower bound of the first batch (0 = full history: the
    * table's creation commit streams as inserts). */
  def readChanges(spark: SparkSession, root: String, table: String,
      keys: Seq[String] = Nil, startingVersion: Long = 0L,
      anchorVersion: Option[Long] = None,
      maxWindowsPerBatch: Int = 32): DataFrame = {
    val r = spark.readStream
      .format(classOf[ChangeFeedProvider].getName)
      .option("root", root)
      .option("table", table)
      .option("keys", keys.mkString(","))
      .option("startingVersion", startingVersion.toString)
      .option("maxWindowsPerBatch", maxWindowsPerBatch.toString)
    anchorVersion.foreach(v => r.option("anchorVersion", v.toString))
    r.load()
  }

  /** One checkpointed incremental CDC pass: consume the change feed of
    * `src` committed since the last pass with this checkpoint and apply
    * its net effect to `dst` ([[LakeCatalog.applyChangesStreamBatch]]:
    * the net-change apply [[CatalogSync]] shares, atomic and
    * batch-id-deduped, so a replay or sink retry is exactly-once end to
    * end). `observe` sees each APPLIED batch (already persisted).
    * Returns the number of batches applied this pass — 0 when nothing
    * new was committed upstream.
    *
    * When the caller doesn't name a `streamId`, one is derived from the
    * checkpoint location: batch ids restart at 0 with every fresh
    * checkpoint, so the checkpoint IS the stream's identity — two
    * logical streams (distinct checkpoints) sharing a destination then
    * namespace their idempotence tags apart instead of the second
    * stream's early batches being skipped as replays of the first's. */
  def applyPass(cat: LakeCatalog, src: String, dst: String,
      keys: Seq[String], checkpointDir: String,
      observe: (DataFrame, Long) => Unit = (_, _) => (),
      anchorVersion: Option[Long] = None, streamId: String = ""): Long = {
    val sid = if (streamId.nonEmpty) streamId
      else checkpointStreamId(checkpointDir)
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = readChanges(cat.spark, cat.root, src, keys,
        anchorVersion = anchorVersion)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val df = b.toDF().persist()
        try {
          if (cat.applyChangesStreamBatch(dst, df, keys, id, sid)) {
            applied.incrementAndGet()
            observe(df, id)
          }
        } finally df.unpersist(blocking = false)
        ()
      }
      .start()
    q.awaitTermination()
    applied.get()
  }
}

class ChangeFeedProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-changes"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), ChangeFeed.feedSchema(ctx.sparkSession, parameters))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ChangeFeedSource(ctx.sparkSession, parameters)
}

class ChangeFeedSource(spark: SparkSession, parameters: Map[String, String])
    extends Source with SupportsTriggerAvailableNow {
  import ChangeFeed._

  private val root = parameters("root")
  private val table = parameters("table")
  private val keyCols = parameters.get("keys").toSeq
    .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  private val startV =
    parameters.get("startingVersion").map(_.toLong).getOrElse(0L)
  /** Per-batch plan-size bound: at most this many union legs (per-commit
    * windows); a deeper backlog folds its oldest commits into one coarse
    * exact diff. 32 legs is comfortably under Spark's plan-size pain
    * threshold while keeping per-commit tagging for any realistic lag. */
  private val maxWindows =
    parameters.get("maxWindowsPerBatch").map(_.toInt).getOrElse(32)
  require(maxWindows >= 1, "maxWindowsPerBatch must be >= 1")
  private val cat = new LakeCatalog(spark, root)

  /** The stream's schema ANCHOR: every window projects through the table
    * schema at this version, by stable column id. Defaults to the version
    * at stream start; pass `anchorVersion` to pin it explicitly — the
    * production story for SINK-schema stability: a restarted consumer
    * whose downstream table was built against an older schema keeps
    * consuming under that schema no matter how the base has evolved
    * since. */
  private val anchorV: Long = parameters.get("anchorVersion")
    .map(_.toLong).getOrElse(cat.currentVersion)
  require(anchorV == 0L || !cat.current.versionExpired(anchorV),
    s"anchorVersion v$anchorV of '$table' has been vacuumed — anchor at " +
      "a live version")

  override val schema: StructType = feedSchema(cat, table, anchorV)
  private val valueCols = schema.fields.dropRight(2).map(_.name).toSeq

  /** One manifest-head read; no Spark jobs and no O(versions) scan: the
    * raw offset is the table's `lastDataVersion` stamp (written at every
    * data/rename-over commit build, creation included — immune to
    * header-tail compaction). The offset is the last version TOUCHING the
    * table, not the catalog head: snapshots are catalog-level, so a head
    * offset would re-trigger on every unrelated commit, and a consumer
    * landing its batches in the same catalog would chase its own sink
    * commits forever. A table that is GONE at head (dropped or renamed
    * away) forces one batch at the head version so getBatch refuses
    * loudly instead of idling. If vacuum has expired the stamped
    * version itself (quiescent table, later commits all elsewhere), it
    * is clamped UP to the next live version — the diff between live
    * snapshots carries the same net rows, and without the clamp every
    * stream over the table (including a brand-new checkpoint) would hit
    * getBatch's expiry check forever on a fully-readable table. */
  override def getOffset: Option[Offset] = {
    val head = cat.current
    // gone: force a loud refusal
    val last = head.tables.get(table).fold(head.snapshotId)(_.lastDataVersion)
    val v = if (!head.versionExpired(last)) last
      else head.history.iterator.map(_.snapshotId)
        .find(s => s >= last && !head.versionExpired(s))
        .getOrElse(head.snapshotId)
    if (v <= startV) None
    else Some(LongOffset(v))
  }

  /** `Trigger.AvailableNow` end point: the table's offset when the query
    * starts. Every batch of the run stops there, so a restart first
    * replays an uncommitted batch and then drains to this head in further
    * batches; commits that land during the run wait for the next one. */
  @volatile private var availableNowEnd = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = getOffset.map(versionOf).getOrElse(startV)

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.map(o => if (versionOf(o) <= availableNowEnd) o
        else LongOffset(availableNowEnd))
      .filter(versionOf(_) > startV).orNull

  // LongOffset live, SerializedOffset after checkpoint recovery — both
  // render the version as their json
  private def versionOf(o: Offset): Long = o.json.trim.toLong

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromV = start.map(versionOf).getOrElse(startV)
    val toV = versionOf(end)
    // the expiry ledger must come from the CURRENT head — a vacuum that
    // committed after `toV` expired versions that toV's own ledger
    // cannot know about. Checked BEFORE any snapshot load: the engine's
    // restart recovery replays getBatch over checkpointed offsets, and an
    // expired one must fail with the retention message, not a raw
    // missing-manifest read.
    val headNow = cat.current
    Seq(fromV, toV).filter(_ != 0L).find(headNow.versionExpired).foreach { v =>
      throw new IllegalArgumentException(
        s"change-feed offset v$v of '$table' has been vacuumed — the " +
          "feed at it is gone; retention must outlive the stream's lag " +
          "(start a fresh checkpoint to resume from live history)")
    }
    // a FRESH stream (no checkpointed start) that trips the identity-
    // break guard did exactly what "start a fresh stream" asks — the
    // actual remedy is a startingVersion past the LAST break, so say so
    val endpoints = windowEnds(cat.snapshot(toV), headNow, Seq(table),
        fromV, toV, maxWindows) { breaks =>
      if (start.isEmpty)
        s"; to stream the name's current incarnation, pass " +
          s"startingVersion = ${breaks.max}"
      else "; start a fresh change stream"
    }
    val windows = (fromV +: endpoints).zip(endpoints).map {
      case (a, b) => changesAt(a, b)
    }
    val batch =
      if (windows.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), schema)
      else windows.reduce(_ union _)
    StreamFrame.asStreaming(batch)
  }

  /** The `(fromV, v]` window's change rows, projected through the anchor
    * schema, stamped with the data-changing commit's version. */
  private def changesAt(fromV: Long, v: Long): DataFrame = {
    if (!cat.snapshot(v).tables.contains(table))
      throw new IllegalStateException(
        s"table '$table' was dropped or renamed at v$v — the change " +
          "stream cannot continue; start a fresh stream")
    cat.tableChanges(table, fromV, v, keyCols, schemaAtV = Some(anchorV))
      .select(valueCols.map(col) :+ col(TypeCol): _*)
      .withColumn(VersionCol, lit(v))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
