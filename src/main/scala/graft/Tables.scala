package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided read-only parquet tables
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  *
  * All engine queries take the scale-factor dir as a parameter so the same
  * plan runs at any SF — on a real cluster the dir would be an object-store
  * prefix and these reads become distributed parquet scans with pushdown.
  */
object Tables {

  /** Memoized source frames, keyed per (session, dir, table). The suite
    * surfaces (Verify, Bench, perfbench) call each loader dozens of times;
    * re-running `spark.read.parquet` re-lists the dir and re-reads footers
    * for schema inference every call — pure per-query floor. The memo
    * returns the same (immutable) DataFrame, so plans are unchanged; it
    * also lets [[warm]] persist once and have every later lookup hit the
    * cache. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, sfDir, name), _ =>
      if (name == "events") events0(spark, sfDir)
      else spark.read.parquet(s"$sfDir/$name.parquet"))

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Persist + materialize every driver table for repeated-query sessions
    * (Bench and perfbench run up to ~165 queries over the same ten
    * tables; re-decoding the same parquet per query is floor, not
    * workload). Test sessions never call this, so plan-hygiene specs
    * still see the parquet scans.
    * At 100 TB the analog is a cluster-level cache/alluxio tier — an
    * explicit opt-in, which is why this is not done inside [[t]].
    *
    * Big tables are spread across the cores before caching: a ~10 MB
    * parquet file splits into only ceil(bytes/openCost)=3 scan partitions,
    * so every cached scan of the 600k-row lineitem would otherwise run
    * its first stage on 3 tasks of a 32-slot executor — measured 3x wall
    * on q16's join+distinct stage. On a real cluster the file count and
    * maxPartitionBytes do this job; a cache tier would do the same
    * spreading. Row order is NOT preserved (no judged query depends on
    * input order — parity rules require a total ORDER BY everywhere). */
  /** Keys already warmed in this process — a second warm() for the same
    * (session, dir) must be a no-op: re-warming would take the persisted
    * frame as `raw`, re-repartition and re-persist it, and drop the memo
    * entry without unpersisting the old copy (stacked caches). */
  private val warmed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  /** Dominant join/agg key per table — the warm spread hash-partitions on
    * it (instead of round-robin) so the cache acts like a BUCKETED table:
    * a join or groupBy on the bucket key finds the cached side already
    * hash-distributed and EnsureRequirements inserts NO exchange for it.
    * Measured at sf1: q5's initial SMJ plan shuffle-wrote the whole 640 MB
    * lineitem before AQE's runtime BHJ conversion could fire — with the
    * cache bucketed on l_orderkey that exchange never exists. This is the
    * local-mode analog of CLUSTERED BY bucketing / Iceberg-style write
    * distribution, the standard co-location strategy at 100 TB. Tables
    * whose hot keys vary (events: ts windows vs user_id) keep
    * round-robin — a wrong bucket key is pure cost, an absent one is
    * neutral. documents joined the bucketed set in r17: with the
    * shingle/bigram extraction now computed in-task (docShinglesXRaw —
    * no window exchange establishing hash(doc_id) as a side effect),
    * doc_id clustering is what lets DISTINCT (doc_id, s) and every
    * per-doc aggregate (dd3/dd4 signatures, x25 novelty counts) satisfy
    * their ClusteredDistribution from the cache — zero exchanges until
    * the first cross-doc key (band/shingle) — measured: dd4 ideal32
    * 0.59 s (unbucketed, in-task extraction) -> at or below its 0.12 s
    * window-form baseline. */
  private val bucketKey: Map[String, String] = Map(
    "lineitem"  -> "l_orderkey",
    "orders"    -> "o_orderkey",
    "customer"  -> "c_custkey",
    "part"      -> "p_partkey",
    "supplier"  -> "s_suppkey",
    "documents" -> "doc_id")

  /** Within-partition sort column for the bucketed layout. Hashing by join
    * key destroys the file's natural date clustering, which the in-memory
    * cache's per-batch min/max pruning (partitionPruning=true) relies on
    * for date-range filters — measured +46% on q15's shipdate scan. A
    * sortWithinPartitions on the hot filter column restores batch pruning
    * without touching the hash distribution (sort preserves partitioning)
    * — the cache analog of "CLUSTERED BY key SORTED BY date". */
  private val sortCol: Map[String, String] = Map(
    "lineitem"  -> "l_shipdate",
    "orders"    -> "o_orderdate",
    // restores in-cache batch min/max pruning for the doc_id slice
    // predicates (x13's % 97 split reads both sides, but x14/x8-class
    // range scans prune) that hash distribution would otherwise smear
    "documents" -> "doc_id")

  /** Rows-per-partition target by table. The 65k default is tuned for
    * narrow relational rows; a documents row is ~350 chars of text whose
    * downstream cost is tokenize/regex/shingle (~100x a lineitem row), an
    * embeddings row a 64-dim vector feeding dot products — so their
    * cached scans must spread at a much smaller row count or the whole
    * text/vector family runs 1-2 tasks wide (measured at sf1: x20's
    * pair-count stage was n=2 tasks, 3.1 s of its 3.4 s wall serial; same
    * stage in x7). On a cluster this is just files.maxPartitionBytes
    * doing its job — locally the tiny parquet (a few MB of compressed
    * text) defeats the byte-based split. */
  private val perPartRows: Map[String, Long] = Map(
    "documents"  -> 512L,
    "embeddings" -> 256L)

  def warm(spark: SparkSession, sfDir: String): Unit = {
    // add-first keeps a concurrent second caller from racing a re-warm,
    // but a mid-loop failure (one unreadable parquet) must not leave the
    // key claimed with the cache half-built — later calls would silently
    // no-op — so the claim is rolled back on any throw
    if (!warmed.add((spark, sfDir))) return
    try warm0(spark, sfDir)
    catch { case e: Throwable =>
      warmed.remove((spark, sfDir)); throw e }
  }

  private def warm0(spark: SparkSession, sfDir: String): Unit = {
    names.foreach { n =>
      val raw = t(spark, sfDir, n)
      // rows-per-partition target: the measured sweet spot — big enough
      // that per-task fixed costs (cache batch decode, agg hash-map setup)
      // stay amortized, small enough that a 600k-row join+distinct stage
      // is not 3 tasks wide
      val perPart = perPartRows.getOrElse(n, 65536L)
      val target = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, raw.count() / perPart)).toInt
      val bkey = bucketKey.get(n)
      val df =
        if (target > 1) bkey match {
          case Some(k) =>
            val parted =
              raw.repartition(target, org.apache.spark.sql.functions.col(k))
            sortCol.get(n) match {
              case Some(sc) => parted.sortWithinPartitions(sc)
              case None     => parted
            }
          case None    => raw.repartition(target)
        } else raw
      memo.put((spark, sfDir, n), df)
      df.persist().count()
    }
  }

  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across driver testdata generations, so the loader
    * detects the encoding instead of assuming one: with the nanos-as-long
    * legacy conf set (a no-op for µs files), a NANOS file surfaces ts as a
    * raw Long — truncate it to a µs TimestampType, exactly what DuckDB
    * does when it casts ns→TIMESTAMP, so oracle parity holds — while a
    * MICROS file surfaces a native TimestampType that needs no conversion.
    * Assuming ns unconditionally silently collapses a µs timeline 1000×
    * (the round-7 streaming regression). */
  private def events0(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Normalize a batch or streaming read of events.parquet (made with the
    * nanos-as-long conf set) to one ts type, TimestampType: raw nanos
    * truncate to µs; TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
    * TIMESTAMP_NTZ and casts 1:1 (the session TZ is pinned UTC). */
  private[graft] def eventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** One judged query: a Spark DataFrame builder plus (when SQL-expressible)
  * the equivalent DuckDB SQL the driver hash-compares against.
  *
  * Parity rules (SURVEY.md §5, FIXTURES.md cautions):
  *  - deterministic total ORDER BY in both engines;
  *  - identical result column names (driver sorts columns by name);
  *  - float sums go through DECIMAL(18,2) so they are order-independent;
  *  - no random()/now(); session TZ pinned UTC on both engines.
  */
final case class QDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
