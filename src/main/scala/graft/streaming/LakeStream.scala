package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.lake.{LakeCatalog, Manifest}

/** The lake as a STREAMING SOURCE — the other half of the streaming
  * lakehouse loop (EventStream.sinkToLake is stream→lake; this is
  * lake→stream→lake), the Spark-native analog of streaming reads over a
  * Delta/Iceberg table feeding a downstream "silver" table.
  *
  * Transport is Spark's file stream source over the table's data
  * directory (`<root>/<table>/data/<commit-uuid>/` parquet files): every lake
  * commit stages its rows as NEW immutable files under a fresh per-commit
  * directory, which is exactly the contract the file source's seen-files
  * log incrementalizes — a checkpointed run picks up precisely the files
  * committed since the last run, with no custom source code and full
  * engine support (checkpoints, AvailableNow, maxFilesPerTrigger
  * backpressure).
  *
  * Contract: the upstream table must be APPEND-ONLY (inserts only — the
  * same restriction Delta places on streaming table reads without
  * ignoreChanges): copy-on-write DML or compaction would re-stage
  * surviving rows as new files and the file source would replay them.
  * Inlined appends (`insertInlined`) live in the manifest, not in data
  * files, so they are invisible to this source — ingest with `insert`.
  *
  * Scale notes (100 TB / 1000 executors): the incremental pass reads ONLY
  * the new files (O(delta), never O(table)); the seen-files log is
  * O(files-per-retention) on the driver; each downstream batch lands as
  * one atomic lake commit with batch-id dedup, so a checkpoint replay or
  * sink retry is exactly-once end to end.
  */
object LakeStream {

  /** One incremental replication pass: stream the rows of `src` committed
    * since the last checkpointed pass through `transform` (row-level:
    * filter/project/derive — append mode) and land each micro-batch as an
    * atomic, batch-id-deduped commit into `dst`. Re-running with the same
    * checkpoint and no new upstream commits is a no-op. */
  def replicate(cat: LakeCatalog, src: String, dst: String,
      transform: DataFrame => DataFrame, checkpointDir: String,
      streamId: String = ""): Unit = {
    val spark = cat.spark
    // enforce the contract instead of silently double-counting: the
    // state-level lastNonAppendVersion stamp (immune to header-tail
    // compaction) names the most recent violation; the retained headers
    // add per-kind detail when available
    val head = cat.current
    val stamped = head.tables.get(src).map(_.lastNonAppendVersion)
      .filter(_ > 0L)
    val violations = head.history.flatMap { h =>
      Manifest.NonAppendKinds
        .filter(k => h.changes.getOrElse(k, Nil).contains(src))
        .map(k => s"v${h.snapshotId}:$k")
    } ++ stamped.filterNot(v =>
      head.history.exists(_.snapshotId == v)).map(v => s"v$v:<compacted>")
    require(violations.isEmpty,
      s"table '$src' is not append-only — streaming reads would replay " +
        s"rewritten rows or misread evolved files (${violations.mkString(", ")})")
    val schema = cat.read(src).schema
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(cat.tableDataDir(src) + "/*")
    val q = transform(stream).writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        // (dst[, streamId], batchId) dedup — see EventStream.sinkToLake
        // for why append sinks do NOT derive the id from the checkpoint
        cat.insertStreamBatch(dst, batch.toDF(), id, streamId); ()
      }
      .start()
    q.awaitTermination()
  }
}
