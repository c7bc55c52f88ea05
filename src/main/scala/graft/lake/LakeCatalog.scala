package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedIdentifier,
  UnresolvedProcedure, UnresolvedRelation, UnresolvedTable,
  UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo,
  Expression, Literal, PrimaryKeyConstraint, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, Aggregate,
  AlterColumnSpec, AlterColumns, Assignment, Call, Command,
  CreateMaterializedViewAsSelect, CreateTable, CreateTableAsSelect,
  CreateView, DeleteAction, DeleteFromTable, DescribeRelation, DropColumns,
  DropTable, DropView, Filter, InsertIntoStatement, InsertStarAction, Join,
  LogicalPlan, MergeIntoTable, ParsedStatement, RenameColumn,
  RenameTable, ShowTables, SubqueryAlias, TruncateTable, UnresolvedTableSpec,
  UnresolvedWith, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils.{replaceCharVarcharWithString => typeOf}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.SqlFront
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native lakehouse catalog with DuckLake's capability set
  * (ref README.md:13-31): numbered catalog-level snapshots, atomic
  * multi-table transactions with rollback, time travel by version or
  * timestamp, transactional schema evolution, copy-on-write UPDATE/DELETE,
  * and metadata exposed as DataFrames.
  *
  * Architecture (SURVEY.md §7): a thin coordination layer ABOVE the public
  * DataFrame API — all data movement is declarative Spark (scans, unions,
  * rewrites), so Catalyst keeps pushdown/pruning/codegen; only the
  * manifest bookkeeping is custom. Snapshot-scoped file pruning happens
  * before plan construction: `readAt` hands Spark the exact parquet file
  * list for that version, so no listing and no stale files are ever
  * scanned (ref exploration/benchmark_ducklake.sh:194-197).
  */
final class ConstraintViolation(msg: String) extends RuntimeException(msg)

class LakeCatalog(val spark: SparkSession, val root: String,
    catalogDsn: Option[String] = None) {
  private val conf = spark.sessionState.newHadoopConf()
  private[lake] def hadoopConf = conf
  private[lake] val fs = Manifest.fs(root, conf)

  /** Catalog backend (the reference's portability story, demo 5): file
    * manifests under the lake root by default; pass a JDBC DSN to keep
    * the catalog as rows in a transactional SQL database instead — data
    * files stay on `root` either way, so the same lake can migrate
    * between backends with `migrateTo`. */
  private[lake] val store: ManifestStore = catalogDsn match {
    case Some(dsn) => new JdbcManifestStore(dsn)
    case None => new FileManifestStore(root, conf)
  }

  def currentVersion: Long = store.currentVersion()

  /** Snapshots are immutable once published → cache by version, so time
    * travel / metadata calls stop re-reading manifest JSON per call. */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Snapshot]()
  def snapshot(v: Long): Snapshot =
    snapCache.computeIfAbsent(v, _ => store.load(v))
  def current: Snapshot = snapshot(currentVersion)

  // ------------------------------------------------------------------ reads

  /** Schema (all nullable on read; NOT NULL is enforced on write). */
  private[lake] def structOf(cols: Seq[ColumnDef]): StructType =
    StructType(cols.map(c =>
      StructField(c.name, DataType.fromJson(c.typeJson), nullable = true)))

  private[lake] def absPath(rel: String): Path =
    fs.makeQualified(new Path(new Path(root), rel))

  /** Qualified URI of a table's data directory (`<root>/<table>/data`) —
    * the append-only file namespace streaming readers incrementalize
    * (see graft.streaming.LakeStream). */
  def tableDataDir(table: String): String = absPath(s"$table/data").toString

  /** Catalyst statistics for one schema-version file group, built from
    * manifest metadata already in memory (zero file reads, zero jobs):
    * exact row count and byte size, per-column min/max for numeric
    * columns covered by EVERY file's footer stats (a partial range could
    * zero-out a filter estimate wrongly — all-or-nothing keeps the
    * estimate conservative), and NDV folded driver-side from the opt-in
    * per-file HLL sketches. With `spark.sql.cbo.enabled` +
    * `spark.sql.cbo.planStats.enabled` these flow into FilterEstimation/
    * JoinEstimation, so broadcast choice and join ordering on lake
    * tables are decided in the INITIAL plan instead of waiting for AQE
    * to repair them after the first (possibly huge) shuffle
    * materializes. */
  private def manifestCatalogStats(st: TableState, v: Int,
      entries: Seq[FileEntry]):
      org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog._
    val cols = st.columnsAt(v)
    val integralTypes = Set("\"integer\"", "\"long\"", "\"short\"", "\"byte\"")
    def integral(c: ColumnDef) = integralTypes(c.typeJson)
    def numeric(c: ColumnDef) =
      integral(c) || c.typeJson == "\"double\"" || c.typeJson == "\"float\""
    val totalRows = entries.map(_.rowCount).sum
    val colStats = cols.iterator.flatMap { c =>
      val ranges = entries.map(_.stats.get(c.name))
      val covered = entries.nonEmpty && ranges.forall(_.isDefined)
      // Legacy manifests (pre non-finite harvest guard) can still carry
      // "NaN"/"Infinity" min/max in double columns; those don't parse as
      // BigDecimal, and this fold runs on EVERY read — degrade that
      // column's stats to none instead of making the table unreadable.
      def dec(s: String): Option[BigDecimal] =
        scala.util.Try(BigDecimal(s)).toOption
      val minMax =
        if (numeric(c) && covered) {
          val mins = ranges.flatten.map(s => dec(s.min))
          val maxs = ranges.flatten.map(s => dec(s.max))
          if (mins.forall(_.isDefined) && maxs.forall(_.isDefined))
            (Some(mins.flatten.min.toString), Some(maxs.flatten.max.toString))
          else (None, None)
        } else (None, None)
      // exact null count only when EVERY file's harvest proved one —
      // a partial sum would misestimate IS NULL filters. NOT NULL
      // columns (which include every PRIMARY KEY column — createTable
      // folds the PK into notNull; setNotNull validates ALL existing
      // rows and writes enforce it after) are provably zero even when
      // the footers predate the null harvest. Matched by stable column
      // ID, not name — a rename must not alias an old file column onto
      // a different current column's constraint.
      val notNullNow = st.columns
        .find(_.id == c.id).exists(cur => st.notNull.contains(cur.name))
      val nulls =
        if (covered && ranges.flatten.forall(_.nulls.isDefined))
          Some(BigInt(ranges.flatten.flatMap(_.nulls).sum))
        else if (notNullNow) Some(BigInt(0))
        else None
      val ndvExact =
        if (entries.nonEmpty && entries.forall(_.ndv.contains(c.name))) {
          // driver-side sketch union: O(files) tiny deserializations,
          // no Spark job — the sketches are mergeable by design
          val u = new org.apache.datasketches.hll.Union(12)
          entries.foreach { e =>
            u.update(org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(e.ndv(c.name))))
          }
          Some(BigInt(math.max(1L, u.getEstimate.toLong)))
        } else None
      // FilterEstimation requires distinctCount+nullCount alongside
      // min/max. NDV sources in decreasing exactness: the HLL sketch;
      // a single-column PRIMARY KEY (unique by constraint, so ndv =
      // rows exactly); a partition column whose per-file VALUE SETS are
      // all recorded (their union is the exact distinct set); an
      // INTEGRAL column's provable upper bound min(rows, value span) —
      // exact for dense key ranges, an overestimate otherwise, which
      // only makes equality estimates conservative-small in the safe
      // direction for CBO (estimates shape plans, never answers).
      // Non-integral columns with none of these get no NDV (and hence
      // no estimate) rather than a guess.
      // current-schema identity of this file column (id-matched: renames
      // must not alias constraints across different columns)
      val curName = st.columns.find(_.id == c.id).map(_.name)
      val ndv = ndvExact
        .orElse {
          if (curName.exists(n => st.primaryKey == Seq(n)))
            Some(BigInt(totalRows)) // unique by constraint within the group
          else None
        }
        .orElse {
          // pvals are keyed by the name at WRITE time = this group's
          // schema-version name (the group key is the schema version)
          val sets = entries.map(_.pvals.get(c.name))
          if (curName.exists(st.partitionBy.contains) && entries.nonEmpty &&
              sets.forall(_.exists(_.nonEmpty)))
            Some(BigInt(sets.flatten.flatten.toSet.size.max(1)))
          else None
        }
        .orElse {
          if (integral(c) && minMax._1.isDefined && nulls.isDefined) {
            val span = BigDecimal(minMax._2.get) - BigDecimal(minMax._1.get) + 1
            Some(BigInt(totalRows).min(span.toBigInt).max(BigInt(1)))
          } else None
        }
      if (minMax._1.isEmpty && ndv.isEmpty) None
      else Some(c.name -> CatalogColumnStat(distinctCount = ndv,
        min = minMax._1, max = minMax._2, nullCount = nulls))
    }.toMap
    CatalogTable(
      identifier = TableIdentifier("graft_lake_scan"), // display-only
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = structOf(cols),
      provider = Some("parquet"),
      stats = Some(CatalogStatistics(
        sizeInBytes = BigInt(math.max(1L, entries.map(_.sizeBytes).sum)),
        rowCount = Some(BigInt(entries.map(_.rowCount).sum)),
        colStats = colStats)))
  }

  /** The (file name, row position) tombstones of deletion-vector
    * sidecar directories (manifest-relative). */
  private[lake] def readTombstones(dirs: Seq[String]): DataFrame =
    spark.read.schema(StructType(Seq(StructField("file", StringType),
      StructField("pos", LongType)))).parquet(dirs.map(d => absPath(d).toString): _*)

  /** Read a table state: per-schema-version file groups are each scanned
    * with their OWN written schema, then aligned to the current schema by
    * stable column id — add-with-default / drop / rename are pure metadata
    * (no file rewrites), exactly DuckLake's evolution semantics
    * (ref demos/03_schema_evolution/demo.py:112-198). With `tagCol`, a
    * string column of that name carries each row's source file path —
    * sourced from `_metadata.file_path` at SCAN level, so it stays
    * resolvable even when the plan gains joins (deletion-vector anti-joins
    * make `input_file_name()` illegal); inlined rows tag NULL. With
    * `positions`, `__dv_file`/`__dv_pos` carry each row's file name and
    * row index, the deletion-vector address (NULL for inlined rows). */
  private[lake] def readState(st: TableState,
      tagCol: Option[String] = None, positions: Boolean = false): DataFrame = {
    val cur = st.columns
    val extra = tagCol.map(StructField(_, StringType)).toSeq ++
      (if (positions) Seq(StructField("__dv_file", StringType),
        StructField("__dv_pos", LongType)) else Nil)
    val curSchema = StructType(structOf(cur).fields ++ extra)
    /** Align a frame written under schema version v to the current schema
      * by stable column id (renames follow, drops vanish, adds read their
      * DEFAULT). The `extra` columns, when present, ride along. */
    def align(df: DataFrame, v: Int): DataFrame = {
      val byId = st.columnsAt(v).map(c => c.id -> c).toMap
      df.select(cur.map { c =>
        byId.get(c.id) match {
          case Some(old) =>
            col(old.name).cast(DataType.fromJson(c.typeJson)).as(c.name)
          case None =>
            expr(c.default.getOrElse("NULL"))
              .cast(DataType.fromJson(c.typeJson)).as(c.name)
        }
      } ++ extra.map(f => col(f.name)): _*)
    }
    val fileParts = st.files.groupBy(e => (e.schemaVersion, e.dv.isDefined))
      .toSeq.map { case ((v, hasDv), entries) =>
        // manifest-backed scan: the FileIndex fabricates the file list
        // from manifest metadata (zero store listing) and prunes files
        // against pushed predicates via per-file min/max + partition
        // value sets + bloom sidecars (GraftFileIndex); the attached
        // CatalogTable carries exact statistics so CBO shapes the
        // INITIAL plan instead of waiting for AQE repair
        val index = new GraftFileIndex(
          fs.makeQualified(new Path(root)), entries, st.columnsAt(v),
          absPath, bloomHit)
        val raw0 = org.apache.spark.sql.graftshim.RelationStats.manifestScan(
          spark, index, structOf(st.columnsAt(v)),
          manifestCatalogStats(st, v, entries))
        val raw = tagCol match {
          case Some(t) => raw0.withColumn(t, col("_metadata.file_path"))
          case None => raw0
        }
        val tagged = if (!hasDv && !positions) raw else raw
          .withColumn("__dv_file", col("_metadata.file_name"))
          .withColumn("__dv_pos", col("_metadata.row_index"))
        if (!hasDv) align(tagged, v)
        else {
          // merge-on-read: anti-join the (broadcast, tiny) tombstone
          // sidecars on (file name, row position) BELOW the align
          // projection — the scan itself never widens, and files whose
          // positions aren't tombstoned stream through untouched
          val dv = readTombstones(entries.flatMap(_.dv).distinct)
          align(tagged.join(broadcast(dv),
            tagged("__dv_file") === dv("file") && tagged("__dv_pos") === dv("pos"),
            "left_anti"), v)
        }
      }
    val inlineParts = st.inlined.groupBy(_.schemaVersion).toSeq.map { case (v, batches) =>
      import spark.implicits._
      val raw = spark.read.schema(structOf(st.columnsAt(v)))
        .json(spark.createDataset(batches.flatMap(_.rows)))
      align(extra.foldLeft(raw)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))), v)
    }
    val parts = fileParts ++ inlineParts
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], curSchema)
    else parts.reduce(_ unionByName _)
  }

  private def stateOf(s: Snapshot, table: String): TableState =
    s.tables.getOrElse(table,
      throw new NoSuchElementException(s"table not found: $table"))

  private def columnOf(st: TableState, table: String, name: String): ColumnDef =
    st.columns.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no such column: $table.$name"))

  /** Zero-job manifest check: did `table`'s data-bearing state (schema,
    * file list, inlined batches) change between two catalog versions?
    * Snapshots are CATALOG-level — most commits touch other tables — so
    * incremental consumers (Mv.refresh) use this to skip whole
    * change-feed legs without running a Spark action. Conservative by
    * construction: a data-identical rewrite (compaction) reads as
    * changed and the consumer just computes an empty delta. A table
    * absent at either version also reads as changed. */
  def tableChangedBetween(table: String, fromV: Long, toV: Long): Boolean = {
    if (fromV == toV) return false
    def key(v: Long) = snapshot(v).tables.get(table).map(st =>
      (st.schemaVersion, st.schemas, st.files, st.inlined))
    val (a, b) = (key(fromV), key(toV))
    a.isEmpty || b.isEmpty || a != b
  }

  /** Table state as the SQL surface sees it: the staged state when an
    * interactive transaction is open (read-your-writes), else the
    * current committed snapshot. */
  private def liveState(table: String): TableState = activeTx match {
    case Some((tx, _)) => tx.stagedState(table)
    case None => stateOf(current, table)
  }
  /** Every table as [[liveState]] sees it. */
  private def liveTables: Map[String, TableState] = activeTx match {
    case Some((tx, _)) => tx.stagedTables
    case None => current.tables
  }

  /** Current-snapshot scan (S2) — read-your-writes when an interactive
    * transaction is open, matching the SQL surface (the Scala mutators
    * stage into the open transaction via inTx, so reads must see the
    * staged state too or the API would disagree with itself). */
  def read(table: String): DataFrame = readState(liveState(table))

  /** Time-travel scan by version (S3, `AT (VERSION => v)`). */
  def readAt(table: String, version: Long): DataFrame =
    readState(stateOf(snapshot(version), table))

  /** Range scan `lo <= colName <= hi`, values in the column's string
    * form. The scan's [[GraftFileIndex]] hands Spark only the files whose
    * manifest [min,max] can intersect the range — metadata-level skipping
    * before the scan runs, on top of parquet's row-group skipping. At
    * 100 TB this is the difference between listing 10^6 files and
    * scanning the 10^2 that overlap. */
  def readRange(table: String, colName: String, lo: String, hi: String): DataFrame = {
    val st = liveState(table)
    val c = columnOf(st, table, colName)
    readState(st).filter(col(colName).between(litOf(c, lo), litOf(c, hi)))
  }

  /** Partition-key equality scan, values in string form. The scan's
    * [[GraftFileIndex]] skips every file whose recorded partition-value
    * set, min/max or bloom sidecar excludes a requested value. With the
    * write path hash-clustering on the declared partition columns, a
    * partition read touches one file per batch — hive-style partition
    * pruning at file granularity, driven by manifest metadata instead of
    * directory layout. */
  def readPartition(table: String, eq: Map[String, String]): DataFrame = {
    val st = liveState(table)
    eq.foldLeft(readState(st)) { case (df, (cn, v)) =>
      df.filter(col(cn) === litOf(columnOf(st, table, cn), v))
    }
  }

  /** `v` (a caller's string) as a literal of column `c`'s type. */
  private[lake] def litOf(c: ColumnDef, v: String): Column =
    lit(v).cast(DataType.fromJson(c.typeJson))

  /** The manifest entries the planned lake scans of `df` read: each
    * [[GraftFileIndex]] applied to its scan's pushed data filters. The
    * tombstone-sidecar scans are not lake files and are skipped.
    * Planning only — no Spark job runs. */
  private[lake] def scannedEntries(df: DataFrame): Seq[FileEntry] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location match {
        case index: GraftFileIndex => index.kept(s.dataFilters)
        case _ => Nil
      }
    }.flatten

  /** Loaded bloom sidecars, cached process-wide by absolute path —
    * immutable once written (new files get new sidecars), so the cache
    * never needs invalidation; entries for vacuumed files are simply
    * never queried again. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.util.sketch.BloomFilter]()

  /** May the bloom sidecar at `rel` (relative to the root) hold `value`? */
  private[lake] def bloomHit(rel: String, value: String): Boolean =
    bloomCache.computeIfAbsent(absPath(rel).toUri.getPath, _ => {
      val in = fs.open(absPath(rel))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }).mightContainString(value)

  /** Column `c`'s name in the schema file `e` was written under — the
    * key of its stats and sketches there; None when `c` was added later. */
  private def writtenName(st: TableState, e: FileEntry, c: ColumnDef): Option[String] =
    st.columnsAt(e.schemaVersion).find(_.id == c.id).map(_.name)

  /** Enable per-file HLL NDV sketches on `colName`: every subsequent
    * write or import stores a mergeable distinct-count sketch in the
    * manifest entry (existing files stay unsketched until rewritten —
    * run [[compact]] to backfill). See [[approxDistinct]]. */
  def ndvIndex(table: String, colName: String): Unit =
    transaction(_.setProperty(table, "index.ndv", colName))

  /** Approximate COUNT(DISTINCT colName) folded from the manifest's
    * per-file HLL sketches — ZERO data files read (the cardinality input
    * every join planner wants, answered the way Iceberg/DuckDB answer it
    * from stats). The merge is one driver-local job over the sketch
    * bytes. Returns (estimate, metaOnly); when any file lacks a sketch
    * (written before [[ndvIndex]], or a tiny write), carries tombstones
    * (deleted rows would still be counted), or inlined rows exist, it
    * FALLS BACK to an exact distributed COUNT(DISTINCT) — correct,
    * never silently stale. */
  def approxDistinct(table: String, colName: String): (Long, Boolean) = {
    val st = liveState(table)
    val c = columnOf(st, table, colName)
    val sketched = st.files.map(e => writtenName(st, e, c).flatMap(e.ndv.get))
    val metaOk = st.files.nonEmpty && st.inlined.isEmpty &&
      st.files.forall(_.dvRows == 0L) && sketched.forall(_.isDefined)
    if (metaOk) {
      import spark.implicits._
      val sketches = sketched.flatten.map(java.util.Base64.getDecoder.decode(_: String))
      val est = spark.createDataset(sketches).toDF("s")
        .agg(expr("hll_sketch_estimate(hll_union_agg(s))"))
        .head().getLong(0)
      (est, true)
    } else {
      val exact = read(table).agg(countDistinct(col(colName)))
        .head().getLong(0)
      (exact, false)
    }
  }

  /** Enable a per-file BLOOM index on `colName` for point lookups: every
    * subsequent write or import builds a sidecar filter for its data files
    * (existing files stay unindexed until rewritten — run [[compact]] to
    * backfill). See [[readPoint]]. */
  def bloomIndex(table: String, colName: String): Unit =
    transaction { tx =>
      tx.setProperty(table, "index.bloom", colName)
    }

  /** POINT lookup `colName = value`: the scan's [[GraftFileIndex]]
    * passes the min/max gate, then probes each candidate's bloom sidecar
    * (lazily loaded, cached) and skips definite misses — at 100 TB the
    * difference between "scan the key's range stripe" and "read the one
    * file that can hold the key". Files without a sidecar stay
    * candidates; the exact row filter runs on top of whatever survives. */
  def readPoint(table: String, colName: String, value: String): DataFrame =
    readPartition(table, Map(colName -> value))

  /** Number of files a [[readPoint]] on (colName = value) would scan —
    * the pruning observable the bloom-index contract is judged on. */
  def pointScanFiles(table: String, colName: String, value: String): Long =
    scannedEntries(readPoint(table, colName, value)).size.toLong

  /** Time-travel scan by timestamp: newest snapshot at or before `tsMs`
    * (S3, `AT (TIMESTAMP => ts)` — ref demos/02_time_travel/demo.py:196). */
  def readAsOf(table: String, tsMs: Long): DataFrame =
    readAt(table, versionAsOf(tsMs))

  /** Time-travel scan by TAG — `AT (VERSION => v)` with a stable name. */
  def readTag(table: String, tagName: String): DataFrame =
    readAt(table, resolveRef(tagName))

  def resolveRef(tagName: String): Long =
    current.refs.getOrElse(tagName,
      throw new NoSuchElementException(s"no such tag: $tagName"))

  def versionAsOf(tsMs: Long): Long = {
    // the current snapshot embeds the retained headers — one read
    val head = current
    val live = head.history.filter(_.timestampMs <= tsMs)
    if (live.isEmpty)
      throw new NoSuchElementException(s"no snapshot at or before $tsMs")
    val v = live.map(_.snapshotId).max
    // header-tail compaction dropped EXPIRED headers above this floor —
    // a timestamp resolving at or below it might really belong to a
    // dropped version, so refuse (the expired target would have refused
    // anyway; this keeps the refusal loud instead of silently resolving
    // to an older live snapshot). EXCEPTION: when `tsMs` predates the
    // earliest dropped header's timestamp, no dropped header can be the
    // true target — the retained headers are complete for the range, so
    // a resolution onto an old tag-PINNED live snapshot is exact and
    // stays allowed.
    if (v < head.historyFloor && tsMs >= head.minDroppedTsMs)
      throw new NoSuchElementException(
        s"timestamp $tsMs resolves into vacuumed history (below " +
          s"v${head.historyFloor}) — the snapshot it names has been " +
          "expired; time-travel by VERSION to a live snapshot instead")
    v
  }

  /** SQL statement surface — the reference's interface is SQL end to end
    * (`conn.execute(...)` against the attached DuckLake), so the catalog
    * accepts the DML/DDL subset too, each statement one atomic commit
    * unless an interactive transaction is open. Mutating statements
    * return an empty frame, queries their result.
    *
    * Parsing is Spark's own. A pre-pass over Spark's SQL lexer rewrites
    * the DuckDB forms Spark 4.1 rejects: `t AT (VERSION|TIMESTAMP => x)`
    * becomes `t VERSION|TIMESTAMP AS OF x`; in CREATE/ALTER TABLE type
    * position `TEXT`, `VARCHAR`/`CHAR` without a length, `DATETIME`,
    * `BLOB`/`BYTEA` and `DOUBLE PRECISION` become Spark types and `SET
    * DATA TYPE` becomes `TYPE`. It also takes the heads Spark has no
    * grammar for: `BEGIN|COMMIT|ROLLBACK [TRANSACTION|WORK]` (interactive
    * transactions, ref demos/01:85-104 — while open, statements stage
    * into ONE pending commit and queries read the staged state; a losing
    * commit race aborts, no statement replay), `REFRESH MATERIALIZED VIEW
    * mv` (returns the refresh path taken) and `EXPLAIN ANALYZE q`.
    * Everything else is one match on the node `parsePlan` returns:
    *
    *  - `InsertIntoStatement` (`VALUES` or a query, mapped positionally
    *    onto the table's columns or onto the listed ones — the rest fill
    *    DEFAULT/NULL), `UpdateTable`, `DeleteFromTable`, `MergeIntoTable`
    *    (see [[executeMerge]]); conditions and assignments stay Catalyst
    *    expressions, so the full function surface works
    *  - `CreateTable` (`PRIMARY KEY`, `NOT NULL`, `PARTITIONED BY`),
    *    `CreateTableAsSelect`, `CreateView`, `AddColumns` (`DEFAULT`),
    *    `DropColumns`, `RenameColumn`, `AlterColumns` (`SET NOT NULL`,
    *    `TYPE`), `RenameTable`, `TruncateTable`, `DropTable`, `DropView`
    *  - `CreateMaterializedViewAsSelect`, the incrementally maintained
    *    subset only (see [[createMaterializedView]])
    *  - `DescribeRelation`, `ShowTables` — the metadata frames (D10/D11)
    *  - `ExplainCommand` — Spark's formatted plan, one row per line; under
    *    ANALYZE the statement's own plan runs and its runtime metrics
    *    follow (engine-specific text: spec-pinned, not oracle-compared)
    *  - `Call` — the `graft_*` maintenance verbs (see [[executeCall]])
    *  - a query runs via [[sql]]; any other write or DDL node is refused
    *    with an `IllegalArgumentException` naming it */
  def execute(statement: String): DataFrame = {
    val lx = new LakeCatalog.Lexed(statement)
    val txnOnly = lx.sig.size == 1 ||
      lx.sig.size == 2 && Set("TRANSACTION", "WORK")(lx.up(1))
    (lx.up(0), lx.up(1)) match {
      case ("BEGIN", _) if txnOnly => beginTransaction(); empty
      case ("COMMIT", _) if txnOnly => commitTransaction(); empty
      case ("ROLLBACK", _) if txnOnly => rollbackTransaction(); empty
      case ("REFRESH", "MATERIALIZED") if lx.up(2) == "VIEW" && lx.sig.size == 4 =>
        require(activeTx.isEmpty, "REFRESH MATERIALIZED VIEW is not " +
          "supported inside an open transaction — COMMIT first")
        val mv = lx.text(3).stripPrefix("`").stripSuffix("`")
        import spark.implicits._
        Seq((mv, Mv.refresh(this, mv))).toDF("mv", "refresh_path")
      case ("EXPLAIN", "ANALYZE") if lx.sig.size > 2 =>
        explain(parse(lx.all.drop(lx.sig(2)).mkString), analyze = true)
      case _ => run(spark.sessionState.sqlParser.parsePlan(LakeCatalog.prePass(lx)))
    }
  }

  private def empty: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Nil))

  private def parse(text: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(LakeCatalog.prePass(new LakeCatalog.Lexed(text)))

  /** The one lake name a parsed statement targets. */
  private def nameOf(p: LogicalPlan): String = p match {
    case UnresolvedIdentifier(Seq(n), _) => n
    case UnresolvedRelation(Seq(n), _, _) => n
    case UnresolvedTable(Seq(n), _, _) => n
    case UnresolvedTableOrView(Seq(n), _, _) => n
    case _ => throw new IllegalArgumentException(
      s"expected a single-part lake table or view name: ${p.simpleString(3)}")
  }

  private def run(plan: LogicalPlan): DataFrame = plan match {
    case InsertIntoStatement(t, part, cols, query, false, false, false) if part.isEmpty =>
      val (src, table) = (frame(query), nameOf(t))
      val names = if (cols.nonEmpty) cols else liveState(table).columns.map(_.name)
      require(src.columns.length == names.length, s"INSERT arity " +
        s"${src.columns.length} != ${if (cols.nonEmpty) "column list" else "table"} ${names.length}")
      inTx(_.insert(table, src.toDF(names: _*)))
      if (activeTx.isEmpty) maybeAutoCompact(table)
      empty
    case UpdateTable(t, assignments, cond) =>
      val sets = assignments.map {
        case Assignment(UnresolvedAttribute(k), v) => k.last -> SqlFront.column(v)
        case a => throw new IllegalArgumentException(s"bad assignment: ${a.sql}")
      }.toMap
      inTx(_.update(nameOf(t), cond.map(SqlFront.column).getOrElse(lit(true)), sets)); empty
    case DeleteFromTable(t, cond) => inTx(_.delete(nameOf(t), SqlFront.column(cond))); empty
    case m: MergeIntoTable => executeMerge(m)
    case CreateTable(t, cols, partitioning, spec, _) =>
      val pk = spec match {
        case u: UnresolvedTableSpec =>
          u.constraints.collect { case k: PrimaryKeyConstraint => k.columns }.flatten
        case _ => Nil
      }
      val parts = partitioning.map { p =>
        require(p.name == "identity", s"unsupported partition transform: ${p.describe}")
        p.references.head.fieldNames.mkString(".")
      }
      inTx(_.createTable(nameOf(t),
        StructType(cols.map(c => StructField(c.name, typeOf(c.dataType)))), pk,
        cols.filter(c => !c.nullable && !pk.contains(c.name)).map(_.name), parts))
      empty
    case c: CreateTableAsSelect => inTx(_.createTableAs(nameOf(c.name), frame(c.query))); empty
    case c: CreateView if c.userSpecifiedColumns.isEmpty && c.originalText.isDefined =>
      inTx(_.createView(nameOf(c.child), c.originalText.get)); empty
    case c: CreateMaterializedViewAsSelect =>
      // MV create/refresh are multi-commit workflows keyed to a
      // PUBLISHED base-version watermark — staging them into an open
      // interactive transaction would record a watermark the rollback
      // could orphan (and their own commit would make the interactive
      // COMMIT lose its OCC race). Reject loudly instead of silently
      // breaking the BEGIN/COMMIT contract.
      require(activeTx.isEmpty, "CREATE MATERIALIZED VIEW is not " +
        "supported inside an open transaction — COMMIT first")
      createMaterializedView(nameOf(c.name), c.query); empty
    case AddColumns(t, cols) => inTx(tx => cols.foreach(c => tx.addColumn(nameOf(t),
      c.colName, typeOf(c.dataType), c.default.map(_.originalSQL)))); empty
    case DropColumns(t, cols, _) =>
      inTx(tx => cols.foreach(c => tx.dropColumn(nameOf(t), c.name.last))); empty
    case RenameColumn(t, c, to) => inTx(_.renameColumn(nameOf(t), c.name.last, to)); empty
    case AlterColumns(t, specs) => inTx(tx => specs.foreach {
      case AlterColumnSpec(c, None, Some(false), None, None, None, false) =>
        tx.setNotNull(nameOf(t), c.name.last)
      case AlterColumnSpec(c, Some(dt), None, None, None, None, false) =>
        tx.changeColumnType(nameOf(t), c.name.last, typeOf(dt))
      case spec => throw new IllegalArgumentException(
        s"unsupported ALTER COLUMN: ${spec.sql} — supported: SET NOT NULL, TYPE")
    }); empty
    case RenameTable(t, to, _) => inTx(_.renameTable(nameOf(t), to.last)); empty
    case TruncateTable(t) => inTx(_.truncateTable(nameOf(t))); empty
    case DropTable(t, _, _) => inTx(_.dropTable(nameOf(t))); empty
    case DropView(v, _) => inTx(_.dropView(nameOf(v))); empty
    case d: DescribeRelation => describe(nameOf(d.relation))
    case _: ShowTables => listTables()
    case ExplainCommand(q, _) => explain(q, analyze = false)
    case Call(UnresolvedProcedure(fn), args, _) =>
      executeCall(fn.last.toLowerCase(java.util.Locale.ROOT), args)
    case q => frame(q)
  }

  private def explain(plan: LogicalPlan, analyze: Boolean): DataFrame = {
    import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val qe = frame(plan).queryExecution
    val formatted = qe.explainString(ExplainMode.fromString("formatted"))
    val text =
      if (analyze) {
        // Execute THIS DataFrame's own QueryExecution (df.count() would
        // build a separate one whose metrics die with it), then render
        // its formatted plan plus the runtime metrics walked off the
        // executed tree — AQE wraps the final plan in
        // AdaptiveSparkPlanExec/QueryStageExec leaf nodes, so the walk
        // unwraps them explicitly.
        qe.executedPlan.execute().count() // distributed; no row fetch
        def metricLines(p: SparkPlan): Seq[String] = p match {
          case a: AdaptiveSparkPlanExec => metricLines(a.executedPlan)
          case q: QueryStageExec => metricLines(q.plan)
          case _ =>
            val own =
              if (p.metrics.isEmpty) Nil
              else Seq(s"${p.nodeName}: " + p.metrics.toSeq.sortBy(_._1)
                .map { case (k, m) => s"$k=${m.value}" }.mkString(", "))
            own ++ p.children.flatMap(metricLines)
        }
        formatted + "\n== Runtime Metrics ==\n" +
          metricLines(qe.executedPlan).mkString("\n")
      } else formatted
    spark.createDataFrame(
      spark.sparkContext.parallelize(text.linesIterator.map(l => Row(l)).toSeq, 1),
      StructType(Seq(StructField("explain", StringType))))
  }

  /** `CREATE MATERIALIZED VIEW` — a declared-subset grammar mapped onto
    * [[Mv.create]]/[[Mv.createJoin]], the only aggregate shapes the
    * incremental maintainer supports:
    * {{{
    *   SELECT key[, key…], COUNT(*) AS n_rows[, SUM(col) AS sum_col…]
    *     [, MIN(col) AS min_col…][, MAX(col) AS max_col…]
    *   FROM base [JOIN dim ON fk = pk] [WHERE pred] GROUP BY key[, key…]
    * }}}
    * matched on the parsed `Aggregate` / `Filter` / `Join` nodes.
    * Sums are maintained NULL-safe (COALESCE(SUM(col),0): an all-NULL
    * group reports 0 where plain SQL SUM returns NULL — the convention
    * the incremental delta apply requires; see [[Mv]]). MIN/MAX keep SQL
    * semantics and are single-table-MV only.
    * Anything else is REJECTED loudly — silently materializing a shape
    * the refresher cannot maintain would corrupt on first refresh. The
    * WHERE predicate (base-side filter) is only part of the maintained
    * algebra in the join form, mirroring the Scala API. */
  private def createMaterializedView(mv: String, query: LogicalPlan): Unit = {
    def grammar = new IllegalArgumentException(
      "unsupported MATERIALIZED VIEW body (grammar: SELECT keys…, " +
        "COUNT(*) AS n_rows[, SUM(col) AS sum_col…][, MIN(col) AS " +
        "min_col…][, MAX(col) AS max_col…] FROM base " +
        s"[JOIN dim ON fk = pk] [WHERE pred] GROUP BY keys…): ${query.nodeName}")
    val (grouping, items, child) = query match {
      case Aggregate(g, i, c, _) => (g, i, c)
      case _ => throw grammar
    }
    val (where, from) = child match {
      case Filter(c, f) => (Some(c), f)
      case f => (None, f)
    }
    val (base, join) = from match {
      case UnresolvedRelation(Seq(b), _, _) => (b, None)
      case Join(UnresolvedRelation(Seq(b), _, _), UnresolvedRelation(Seq(d), _, _),
          Inner, Some(EqualTo(UnresolvedAttribute(Seq(fk)),
            UnresolvedAttribute(Seq(pk)))), _) => (b, Some((d, fk, pk)))
      case _ => throw grammar
    }
    val keys, sums, avgs, mins, maxs = scala.collection.mutable.ArrayBuffer.empty[String]
    var sawCount = false
    items.foreach { item =>
      def unsupported = new IllegalArgumentException(
        s"unsupported MV select item '${item.sql}' — supported: bare group " +
          "keys, COUNT(*) AS n_rows, SUM(col) AS sum_col, " +
          "AVG(col) AS avg_col, MIN(col) AS min_col, " +
          "MAX(col) AS max_col. Note: sums are " +
          "maintained NULL-safe as COALESCE(SUM(col),0) — an all-NULL " +
          "group reports 0, not NULL (avg/min/max keep SQL semantics: " +
          "an all-NULL group is NULL). An AVG materializes its sum_ " +
          "and cnt_ building blocks as MV columns alongside avg_")
      item match {
        case UnresolvedAttribute(Seq(k)) => keys += k
        case Alias(f: UnresolvedFunction, a) if f.arguments.size == 1 &&
            !f.isDistinct && f.filter.isEmpty =>
          (f.nameParts.last.toLowerCase(java.util.Locale.ROOT), f.arguments.head) match {
            case ("count", Literal(1, _)) if a.equalsIgnoreCase("n_rows") => sawCount = true
            case (fn @ ("sum" | "avg" | "min" | "max"), UnresolvedAttribute(Seq(c)))
                if a.toLowerCase(java.util.Locale.ROOT).startsWith(fn + "_") =>
              require(c.equalsIgnoreCase(a.drop(fn.length + 1)),
                s"${fn.toUpperCase}($c) must be aliased ${fn}_$c (the " +
                  s"maintainer's column naming), got $a")
              Map("sum" -> sums, "avg" -> avgs, "min" -> mins, "max" -> maxs)(fn) += c
            case _ => throw unsupported
          }
        case _ => throw unsupported
      }
    }
    require(sawCount,
      "MV select list must include COUNT(*) AS n_rows (the maintainer " +
        "needs the group cardinality to retire emptied groups)")
    val grpKeys = grouping.map {
      case UnresolvedAttribute(Seq(k)) => k
      case _ => throw grammar
    }
    require(grpKeys == keys.toSeq,
      s"GROUP BY (${grpKeys.mkString(",")}) must list exactly the " +
        s"selected keys (${keys.mkString(",")}) in order")
    join match {
      case None =>
        require(where.isEmpty,
          "WHERE without JOIN is outside the maintained subset " +
            "(the Scala API mirrors this: Mv.create has no filter)")
        Mv.create(this, mv, base, keys.toSeq, sums.toSeq,
          mins.toSeq, maxs.toSeq, avgs.toSeq)
      case Some((dim, fk, pk)) =>
        // SQL ON is order-insensitive but Mv.createJoin binds (fk, pk)
        // to (base, dim) — resolve each column to its actual side from
        // the table schemas, and reject when both orientations resolve
        // (same names on both tables: positional guessing would build
        // a silently wrong join)
        val baseCols = liveState(base).columns.map(_.name).toSet
        val dimCols = liveState(dim).columns.map(_.name).toSet
        val (fk2, pk2) =
          if (fk == pk) {
            require(baseCols(fk) && dimCols(fk),
              s"ON $fk = $pk: both tables need column $fk")
            (fk, pk)
          } else {
            val fwd = baseCols(fk) && dimCols(pk)
            val rev = baseCols(pk) && dimCols(fk)
            if (fwd && rev) throw new IllegalArgumentException(
              s"ON $fk = $pk is ambiguous: both columns exist on both " +
                "tables — rename one side (qualified names are not in " +
                "the MV grammar)")
            else if (fwd) (fk, pk)
            else if (rev) (pk, fk)
            else throw new IllegalArgumentException(
              s"ON $fk = $pk: cannot resolve sides (base $base has " +
                s"${baseCols.toSeq.sorted.mkString(",")}; dim $dim has " +
                s"${dimCols.toSeq.sorted.mkString(",")})")
          }
        Mv.createJoin(this, mv, base, dim, fk2, pk2, where.map(_.sql),
          keys.toSeq, sums.toSeq, mins.toSeq, maxs.toSeq, avgs.toSeq)
    }
  }

  /** `MERGE INTO` — the standard statement shape mapped onto
    * [[Tx.mergeClauses]] (one atomic copy-on-write commit, every clause
    * branch):
    *
    * {{{
    * MERGE INTO t [AS a] USING (select|values body) [AS b]
    *   ON a.k = b.k [AND ...]
    *   [WHEN MATCHED [AND cond] THEN DELETE]
    *   [WHEN MATCHED [AND cond] THEN UPDATE SET *]
    *   [WHEN NOT MATCHED [AND cond] THEN INSERT *]
    *   [WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE]
    * }}}
    *
    * ON must be a conjunction of same-name key equalities (the lake
    * merge is keyed); UPDATE/INSERT are whole-row (`SET *` / `INSERT *`
    * — Delta's star forms), since the source is schema-aligned first.
    * Clause conditions may reference both aliases; one pass over their
    * parsed attributes requalifies them to the engine's canonical
    * `t.`/`s.` (insert conditions see bare source columns, as in the API). */
  private def executeMerge(m: MergeIntoTable): DataFrame = {
    val (table, tAlias) = m.targetTable match {
      case SubqueryAlias(a, r) => (nameOf(r), a.name)
      case r => (nameOf(r), nameOf(r))
    }
    val (sAlias, source) = m.sourceTable match {
      case SubqueryAlias(a, q) => (a.name, q)
      case q => ("src", q)
    }
    require(!tAlias.equalsIgnoreCase(sAlias),
      s"MERGE target and source aliases must differ, both are '$tAlias'")
    def keys(e: Expression): Seq[String] = e match {
      case And(l, r) => keys(l) ++ keys(r)
      case EqualTo(UnresolvedAttribute(Seq(a1, k1)), UnresolvedAttribute(Seq(a2, k2)))
          if k1.equalsIgnoreCase(k2) && Set(a1, a2).map(_.toLowerCase) ==
            Set(tAlias, sAlias).map(_.toLowerCase) => Seq(k1)
      case other => throw new IllegalArgumentException(
        s"MERGE ON must be same-name key equalities over both aliases: ${other.sql}")
    }
    def canon(c: Option[Expression], bareSource: Boolean): Option[String] =
      Some(c.fold("true")(_.transform {
        case UnresolvedAttribute(Seq(q, n)) if q.equalsIgnoreCase(tAlias) =>
          UnresolvedAttribute(Seq("t", n))
        case UnresolvedAttribute(Seq(q, n)) if q.equalsIgnoreCase(sAlias) =>
          UnresolvedAttribute(if (bareSource) Seq(n) else Seq("s", n))
      }.sql))
    var cl = MergeClauses()
    (m.matchedActions.map("MATCHED" -> _) ++ m.notMatchedActions.map("NOT MATCHED" -> _) ++
        m.notMatchedBySourceActions.map("NOT MATCHED BY SOURCE" -> _)).foreach {
      case ("MATCHED", DeleteAction(c)) => cl = cl.copy(matchedDelete = canon(c, false))
      case ("MATCHED", UpdateStarAction(c)) => cl = cl.copy(matchedUpdate = canon(c, false))
      case ("NOT MATCHED", InsertStarAction(c)) => cl = cl.copy(notMatchedInsert = canon(c, true))
      case ("NOT MATCHED BY SOURCE", DeleteAction(c)) =>
        cl = cl.copy(bySourceDelete = canon(c, false))
      case (when, a) => throw new IllegalArgumentException(
        s"unsupported MERGE clause: WHEN $when … ${a.nodeName} — supported: MATCHED " +
          "DELETE / UPDATE SET *, NOT MATCHED INSERT *, NOT MATCHED BY SOURCE DELETE")
    }
    inTx(_.mergeClauses(table, frame(source), keys(m.mergeCondition), cl))
    empty
  }

  /** Ad-hoc SQL over the lake — the reference's user-facing query surface
    * (`ATTACH ...; SELECT ... FROM lake.t`, ref
    * demos/01_transaction_rollback/demo.py:30,74). Every table and stored
    * view of the catalog is visible by name (a CTE of the same name
    * shadows it); inside an open interactive transaction the STAGED state
    * is read (read-your-writes). Also accepted: `t AT (VERSION => v |
    * 'tag')` / `t AT (TIMESTAMP => 'wall-clock' | epochMillis)` time
    * travel (quoted wall-clocks resolve in the session time zone) and the
    * `graft_snapshots()` / `graft_table_info()` / `graft_files()` /
    * `graft_table_changes('t', v1, v2)` metadata table functions. Nothing
    * is registered in any session: lake names are bound in the parsed
    * plan (see [[bind]]). */
  def sql(query: String): DataFrame = frame(parse(query))

  /** Materialize a stored view (D3, ref
    * demos/03_schema_evolution/demo.py:273-288) over the current
    * snapshot; views over views resolve recursively. */
  def readView(name: String): DataFrame = {
    val s = current
    frame(parse(s.views.getOrElse(name,
      throw new NoSuchElementException(s"view not found: $name"))), s)
  }

  private def frame(plan: LogicalPlan): DataFrame = frame(plan, activeTx match {
    case Some((tx, v)) => tx.buildSnapshot(v + 1)
    case None => current
  })

  private def frame(plan: LogicalPlan, s: Snapshot): DataFrame = {
    require(!plan.isInstanceOf[Command] && !plan.isInstanceOf[ParsedStatement],
      s"unsupported statement: ${plan.nodeName}")
    SqlFront.ofRows(spark, bind(plan, s))
  }

  /** Bind a parsed query's lake references against snapshot `s`: time
    * travel to that version's exact file list (the [[readAt]] plan), the
    * metadata table functions to their frames, tables to their
    * [[readState]] plans and stored views to their own parsed, bound
    * plans — lazily, only what the query names, so a view over a view
    * resolves in any order. `ctes` holds the CTE names in scope (they
    * shadow lake names, as in any SQL database); `views` is the stack of
    * views being expanded (a cycle is refused). */
  private def bind(p: LogicalPlan, s: Snapshot, ctes: Set[String] = Set.empty,
      views: List[String] = Nil): LogicalPlan = {
    def in(q: LogicalPlan, scope: Set[String] = ctes) = bind(q, s, scope, views)
    def planOf(df: DataFrame) = df.queryExecution.analyzed
    def low(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    def lookup[V](m: Map[String, V], n: String): Option[V] =
      m.get(n).orElse(m.collectFirst { case (k, v) if k.equalsIgnoreCase(n) => v })
    p match {
      case w: UnresolvedWith =>
        var seen = ctes
        val defs = w.cteRelations.map { case (n, q, d) =>
          val scope = if (w.allowRecursion) seen + low(n) else seen
          seen += low(n)
          (n, in(q, scope).asInstanceOf[SubqueryAlias], d)
        }
        w.copy(child = in(w.child, seen), cteRelations = defs)
      case RelationTimeTravel(UnresolvedRelation(Seq(t), _, _), ts, ver) =>
        // a version is a number or a tag; a timestamp is epoch millis
        // unquoted, else a wall-clock in the SESSION time zone
        val v = ver.map(n => if (n.forall(_.isDigit)) n.toLong else resolveRef(n))
          .getOrElse(ts.get.eval() match {
            case wall: org.apache.spark.unsafe.types.UTF8String =>
              versionAsOf(java.time.LocalDateTime.parse(wall.toString.trim.replace(' ', 'T'))
                .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
                .toInstant.toEpochMilli)
            case ms => versionAsOf(ms.toString.toLong)
          })
        SubqueryAlias(t, planOf(readState(stateOf(snapshot(v), t))))
      case UnresolvedTableValuedFunction(Seq(fn), args, _) if low(fn).startsWith("graft_") =>
        planOf((low(fn), args.collect { case l: Literal => l.value.toString }) match {
          case ("graft_snapshots", Seq()) => snapshots()
          case ("graft_table_info", Seq()) => tableInfo()
          case ("graft_files", Seq()) => files()
          case ("graft_table_changes", Seq(t, v1, v2)) if args.size == 3 =>
            tableChanges(t, v1.toLong, v2.toLong)
          case _ => throw new IllegalArgumentException(
            s"bad lake table function call: $fn(${args.map(_.sql).mkString(", ")})")
        })
      case r @ UnresolvedRelation(Seq(n), _, _) if !ctes(low(n)) =>
        lookup(s.tables, n).map(st => SubqueryAlias(n, planOf(readState(st))))
          .orElse(lookup(s.views, n).map { text =>
            require(!views.contains(low(n)), s"view $n references itself")
            SubqueryAlias(n, bind(parse(text), s, Set.empty, low(n) :: views))
          }).getOrElse(r)
      case other => other.mapChildren(in(_)).transformExpressions {
        case e: SubqueryExpression => e.withNewPlan(in(e.plan))
      }
    }
  }

  // ------------------------------------------------- metadata as DataFrames

  /** `ducklake_snapshots()` analog (T1 — ref utils/ducklake_utils.py:58-62):
    * (snapshot_id, snapshot_time, schema_version, changes). Resolved from
    * the current snapshot's embedded header history — ONE manifest read
    * for the whole feed, not one per version. */
  def snapshots(): DataFrame = {
    import spark.implicits._
    // expired versions vanish from the feed too (they are unreadable —
    // listing them would be a lie). Resolved from the expiry LEDGER in
    // the current snapshot, so the feed is one metadata read and is
    // consistent even mid-vacuum (logically expired but not yet
    // physically deleted versions are already hidden). Membership, not a
    // min bound: tag retention leaves holes in the sequence.
    val head = current
    head.history.filterNot(h => head.versionExpired(h.snapshotId)).map { h =>
      (h.snapshotId, new java.sql.Timestamp(h.timestampMs), h.schemaVersion,
        h.changes.map { case (k, vs) => k -> vs.mkString(",") })
    }.toDF("snapshot_id", "snapshot_time", "schema_version", "changes")
  }

  /** `ducklake_table_info()` analog (T2 — ref exploration/benchmark_ducklake.sh:164-168). */
  def tableInfo(): DataFrame = {
    import spark.implicits._
    current.tables.toSeq.sortBy(_._1).map { case (name, st) =>
      (name, st.files.size.toLong, st.files.map(_.sizeBytes).sum,
        st.files.map(_.liveRows).sum + st.inlinedRowCount, st.schemaVersion,
        st.inlinedRowCount, st.partitionBy.mkString(","))
    }.toDF("table_name", "file_count", "total_size_bytes", "row_count",
      "schema_version", "inlined_rows", "partition_by")
  }

  /** Iceberg `files`-metadata-table analog: one row per live data file
    * with its manifest bookkeeping — the ops/debugging view of the
    * physical layout (file sizing, DV coverage, partition values, index
    * sidecars). One metadata read, zero data-file I/O; exposed to SQL as
    * `graft_files()`. */
  def files(): DataFrame = {
    import spark.implicits._
    current.tables.toSeq.sortBy(_._1).flatMap { case (name, st) =>
      st.files.map { e =>
        (name, e.path, e.sizeBytes, e.rowCount, e.dvRows, e.liveRows,
          e.schemaVersion,
          e.pvals.toSeq.sortBy(_._1)
            .map { case (k, vs) => s"$k=${vs.mkString("|")}" }.mkString(","),
          e.dv.isDefined, e.blooms.keys.toSeq.sorted.mkString(","),
          e.ndv.keys.toSeq.sorted.mkString(","))
      }
    }.toDF("table_name", "file_path", "size_bytes", "row_count", "dv_rows",
      "live_rows", "schema_version", "partition_values", "has_dv",
      "bloom_columns", "ndv_columns")
  }

  /** `ducklake_table_stats` analog (ref README.md:202-209,
    * exploration/benchmark_ducklake.sh:164-168): per-file column min/max
    * from the manifest — the pruning index, queryable as a DataFrame. */
  def tableStats(): DataFrame = {
    import spark.implicits._
    current.tables.toSeq.sortBy(_._1).flatMap { case (name, st) =>
      st.files.flatMap { e =>
        e.stats.toSeq.sortBy(_._1).map { case (c, cs) =>
          (name, e.path, c, cs.min, cs.max, e.rowCount)
        }
      }
    }.toDF("table_name", "file_path", "column_name", "min_value",
      "max_value", "row_count")
  }

  /** Metadata-only aggregate — `COUNT(*)` / `MIN` / `MAX` answered from
    * the manifest alone, ZERO data files read (DuckDB and Iceberg both
    * play this trick from their stats tables). At 100 TB the difference
    * is "one cached metadata document" vs "a full-table scan". COUNT is
    * always answerable: per-file footer row counts minus deletion-vector
    * tombstones plus manifest-inlined rows are all exact. MIN/MAX take
    * the metadata path only when it is provably exact — every file
    * carries stats for the column and none has tombstones (a deleted row
    * may have held the extreme) — and otherwise FALL BACK to a scan; the
    * `meta_only` column reports the path taken, so callers (and the
    * correctness gate) can pin when the optimization actually fires. */
  def statsAgg(table: String, cols: Seq[String] = Nil): DataFrame = {
    val st = liveState(table)
    val defs = cols.map(columnOf(st, table, _))
    val curV = st.schemaVersion
    // COUNT alone is ALWAYS metadata-exact (footer row counts, DV
    // tombstone counts, and inlined-row counts are all exact); MIN/MAX
    // additionally need every file to carry stats for the column and no
    // tombstones (a deleted row may have held the extreme)
    val fileStats = defs.map(d =>
      st.files.map(e => writtenName(st, e, d).flatMap(e.stats.get)))
    val metaOk = defs.isEmpty || (defs.forall(Stats.comparable) &&
      st.files.forall(_.dvRows == 0L) && fileStats.forall(_.forall(_.isDefined)) &&
      st.inlined.forall(_.schemaVersion == curV))
    val outSchema = StructType(
      StructField("n", LongType, nullable = false) +:
      defs.flatMap(d => Seq(
        StructField(s"min_${d.name}", DataType.fromJson(d.typeJson)),
        StructField(s"max_${d.name}", DataType.fromJson(d.typeJson)))) :+
      StructField("meta_only", BooleanType, nullable = false))
    if (metaOk) {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      // inlined rows live in the manifest document itself — folding them
      // is still a metadata-only read (no file I/O)
      val inlinedJson = st.inlined.flatMap(_.rows).map(JsonMethods.parse(_))
      def inlinedVals(name: String): Seq[String] = inlinedJson.flatMap { j =>
        j \ name match {
          case JNothing | JNull => None
          case JString(s) => Some(s)
          case JInt(i) => Some(i.toString)
          case JLong(l) => Some(l.toString)
          case JDouble(d) => Some(d.toString)
          case JDecimal(d) => Some(d.toString)
          case other => Some(JsonMethods.compact(JsonMethods.render(other)))
        }
      }
      def typed(d: ColumnDef, s: String): Any = d.typeJson match {
        case "\"integer\"" => s.toInt
        case "\"long\"" => s.toLong
        case "\"short\"" => s.toShort
        case "\"byte\"" => s.toByte
        case "\"double\"" => s.toDouble
        case "\"float\"" => s.toFloat
        case _ => s
      }
      val n = st.files.map(_.liveRows).sum + st.inlinedRowCount
      val vals = defs.zip(fileStats).flatMap { case (d, fs) =>
        val inl = inlinedVals(d.name)
        val mins = fs.flatten.map(_.min) ++ inl
        val maxs = fs.flatten.map(_.max) ++ inl
        Seq(
          if (mins.isEmpty) null else typed(d, mins.reduce(Stats.minOf(d, _, _))),
          if (maxs.isEmpty) null else typed(d, maxs.reduce(Stats.maxOf(d, _, _))))
      }
      spark.createDataFrame(
        java.util.List.of(Row.fromSeq(n +: vals :+ true)), outSchema)
    } else {
      val aggs = count(lit(1)).as("n") +: defs.flatMap(d => Seq(
        min(col(d.name)).as(s"min_${d.name}"),
        max(col(d.name)).as(s"max_${d.name}")))
      read(table).agg(aggs.head, aggs.tail: _*)
        .withColumn("meta_only", lit(false))
    }
  }

  /** `ducklake_table_changes()` analog (T3 — ref utils/ducklake_utils.py:65-78):
    * row-level diff between two versions. When the table has a primary key
    * (or the caller passes `keyCols`), a vanished row and an appeared row
    * with the SAME key are paired as one UPDATE and tagged
    * `update_preimage`/`update_postimage` — the change-type fidelity a CDC
    * consumer needs; keyless tables fall back to insert/delete. The diff
    * is one signed aggregation (before-rows -1, after-rows +1, summed per
    * distinct row) with exceptAll's multiset semantics, so duplicate rows
    * diff correctly.
    *
    * Scale shape: the diff reads only the churned file entries, not the
    * table, and update pairing is a window over the aggregate's output
    * that reuses its shuffle on the keys: one exchange per window.
    *
    * `schemaAtV` pins the OUTPUT schema: both window ends are read
    * through that version's schema — aligned by stable column id exactly
    * like any other read of older files (adds read their default, drops
    * vanish, renames follow) — so every window of a long-lived consumer
    * projects onto one fixed schema no matter what evolution it crosses.
    * This is the change-feed STREAM's anchor (see
    * [[graft.streaming.ChangeFeed]]). Default (None) keeps the original
    * contract: the window's own common columns.
    *
    * A `fromV` where the table does not exist yet diffs against the
    * empty table — the creation commit's rows stream as plain inserts. */
  def tableChanges(table: String, fromV: Long, toV: Long,
      keyCols: Seq[String] = Nil, schemaAtV: Option[Long] = None): DataFrame = {
    val (signed, appendOnly) = signedChanges(table, fromV, toV, schemaAtV)
    val common = signed.columns.toSeq.filterNot(_ == "__w")
    if (appendOnly)
      return signed.select(common.map(col): _*)
        .withColumn("change_type", lit("insert"))
    // each distinct row's net weight `__w` says how many copies appeared
    // (> 0) or vanished (< 0). This is Spark's own RewriteExceptAll done
    // once for a\b and b\a together, so NULL-safe grouping, NaN/-0.0
    // normalization and duplicate-row multiplicity mean exactly what
    // exceptAll means. With keys, the input is clustered on them first:
    // the aggregate (grouping on a superset of the keys) and the
    // update-pairing window then share that one shuffle. A key holding
    // both appeared and vanished rows is an update; the window groups
    // NULL keys together, as the diff's own grouping does.
    val keys = if (keyCols.nonEmpty) keyCols
      else stateOf(snapshot(toV), table).primaryKey.filter(common.contains)
    val net = (if (keys.isEmpty) signed else signed.repartition(keys.map(col): _*))
      .groupBy(common.map(col): _*).agg(sum("__w").as("__w"))
      .filter(col("__w") =!= 0L)
    val typed = if (keys.isEmpty)
      when(col("__w") > 0L, "insert").otherwise("delete")
    else {
      val byKey = Window.partitionBy(keys.map(col): _*)
      val upd = max("__w").over(byKey) > 0L && min("__w").over(byKey) < 0L
      when(col("__w") > 0L, when(upd, "update_postimage").otherwise("insert"))
        .otherwise(when(upd, "update_preimage").otherwise("delete"))
    }
    net.withColumn("change_type", typed)
      .withColumn("__w", explode(array_repeat(lit(1), abs(col("__w")).cast("int"))))
      .select(common.map(col) :+ col("change_type"): _*)
  }

  /** The signed rows of a change window, before any netting: the
    * window's common columns (see [[tableChanges]] for `schemaAtV`) plus
    * a weight column `__w`, −1 for each row of the before side and +1
    * for each row of the after side. Rows present at both ends cancel in
    * any sum over `__w`, so a consumer that only sums weights (the MV
    * maintainer) needs no per-row net aggregate. The flag is true for an
    * append-only window: only its new rows, each +1, and no diff. */
  private[lake] def signedChanges(table: String, fromV: Long, toV: Long,
      schemaAtV: Option[Long] = None): (DataFrame, Boolean) = {
    // APPEND-ONLY fast path: when the manifest says the window only
    // ADDED data — schema unchanged, every old file entry still present
    // verbatim (same deletion vector, so no MoR tombstones landed), old
    // inlined batches an untouched prefix — the change feed is exactly
    // the new files + new inlined rows, each +1. That's one scan
    // of O(delta) instead of two O(table) reads + a diff aggregate:
    // at 100 TB the difference between reading the day's appends and
    // diffing two full snapshots (the Delta CDF / Iceberg incremental
    // -scan model). Any other shape falls back to the exact
    // multiset-diff below.
    val sTo = stateOf(snapshot(toV), table)
    // a window opening before the table existed diffs against the empty
    // table: the creation commit's rows are plain inserts
    val sFrom = snapshot(fromV).tables.getOrElse(table,
      sTo.copy(files = Nil, inlined = Nil))
    // Anchor projection: read BOTH ends through schemaAtV's schema by
    // stable column id (the same align every read of older files does).
    // The anchor may predate the window, so the schema-version lookup is
    // widened with the window ends' (monotone) histories — and the merge
    // REFUSES on a conflicting entry: a table dropped/renamed-away and
    // re-created under the same name restarts its column ids and schema
    // versions, and id-anchored alignment across that boundary would be
    // silent garbage. (A re-creation with BYTE-IDENTICAL column defs
    // merges cleanly and diffs as the honest full replace:
    // delete-all + insert-new.)
    val anchor: Option[TableState] = schemaAtV.map { v =>
      val ps = stateOf(snapshot(v), table)
      val merged = scala.collection.mutable.Map[String, Seq[ColumnDef]]()
      Seq(sFrom.schemas, sTo.schemas, ps.schemas).foreach(_.foreach {
        case (k, cols) => merged.get(k) match {
          case Some(prev) if prev != cols =>
            throw new IllegalStateException(
              s"table '$table' schema history diverged at schema version " +
                s"$k across catalog versions $fromV/$toV/$v — the table " +
                "was replaced or recreated; an anchored change feed " +
                "cannot align across it, start a fresh stream")
          case _ => merged(k) = cols
        }
      })
      ps.copy(schemas = merged.toMap)
    }
    def readSub(st: TableState): DataFrame = anchor match {
      case Some(ps) => readState(ps.copy(files = st.files, inlined = st.inlined))
      case None => readState(st)
    }
    // The fast paths diff COMMON columns (the slow path's contract
    // too): valid when every column name present at both window ends
    // is the SAME column — same stable id, type, default — so an
    // untouched file projects identically onto the common set at
    // either end and its rows cancel. Purely ADDED or DROPPED columns
    // don't break this (they're outside the common set), so a window
    // containing a schema evolution still diffs O(churn): without
    // this, the refresh after a daily ADD COLUMN would silently pay
    // two full-table reads. A rename or type/default change falls
    // back to the full diff. Under an ANCHOR the projection is
    // version-invariant by construction (ids, types and defaults all
    // come from the one anchor state), so alignment always holds.
    val toByName = sTo.columns.map(c => c.name -> c).toMap
    val fromByName = sFrom.columns.map(c => c.name -> c).toMap
    val (commonNames, colsAligned) = anchor match {
      case Some(ps) => (ps.columns.map(_.name), true)
      case None =>
        val cn = sFrom.columns.map(_.name).filter(toByName.contains)
        (cn, cn.nonEmpty && cn.forall { n =>
          val x = fromByName(n); val y = toByName(n)
          x.id == y.id && x.typeJson == y.typeJson && x.default == y.default
        })
    }
    if (colsAligned && sFrom.files.toSet.subsetOf(sTo.files.toSet) &&
        sTo.inlined.startsWith(sFrom.inlined)) {
      val oldFiles = sFrom.files.toSet
      val sub = sTo.copy(files = sTo.files.filterNot(oldFiles),
        inlined = sTo.inlined.drop(sFrom.inlined.size))
      return (readSub(sub).select(commonNames.map(col): _*)
        .withColumn("__w", lit(1L)), true)
    }
    // CHURNED-FILES diff: with an unchanged schema, every file entry
    // present verbatim at both window ends (same path, same deletion
    // vector) contributes identical rows to both sides of the multiset
    // diff — they cancel. So diff only the entries that differ:
    // before' = files removed/rewritten (+ old inlined if touched),
    // after' = files added/rewritten (+ new inlined). A CoW update that
    // rewrote 3 of 10^6 files diffs 6 files' rows, not two table scans
    // — the change feed is O(churn), which is what lets an incremental
    // MV refresh stay O(delta) at 100 TB. A schema change falls back to
    // the full common-column diff below.
    val (b, a) =
      if (colsAligned) {
        val toSet = sTo.files.toSet; val fromSet = sFrom.files.toSet
        val inlEq = sFrom.inlined == sTo.inlined
        val bSub = sFrom.copy(files = sFrom.files.filterNot(toSet),
          inlined = if (inlEq) Nil else sFrom.inlined)
        val aSub = sTo.copy(files = sTo.files.filterNot(fromSet),
          inlined = if (inlEq) Nil else sTo.inlined)
        (readSub(bSub).select(commonNames.map(col): _*),
          readSub(aSub).select(commonNames.map(col): _*))
      } else {
        val before = readAt(table, fromV)
        val after = readAt(table, toV)
        val cs = before.columns.intersect(after.columns).toSeq
        (before.select(cs.map(col): _*), after.select(cs.map(col): _*))
      }
    (b.withColumn("__w", lit(-1L)).union(a.withColumn("__w", lit(1L))), false)
  }

  /** Tag ledger: (ref_name, snapshot_id), the `refs` metadata table. */
  def refs(): DataFrame = {
    import spark.implicits._
    current.refs.toSeq.sortBy(_._1).toDF("ref_name", "snapshot_id")
  }

  /** `information_schema.tables` analog (D11). */
  def listTables(): DataFrame = {
    import spark.implicits._
    liveTables.keys.toSeq.sorted.toDF("table_name")
  }

  /** `information_schema.columns` / DESCRIBE analog (D10/D11). */
  def listColumns(): DataFrame = {
    import spark.implicits._
    liveTables.toSeq.sortBy(_._1).flatMap { case (t, st) =>
      st.columns.zipWithIndex.map { case (c, i) =>
        (t, c.name, DataType.fromJson(c.typeJson).simpleString,
          i + 1, !st.notNull.contains(c.name), c.default)
      }
    }.toDF("table_name", "column_name", "data_type", "ordinal_position",
      "is_nullable", "column_default")
  }

  def describe(table: String): DataFrame = {
    import spark.implicits._
    val st = liveState(table)
    st.columns.map { c =>
      (c.name, DataType.fromJson(c.typeJson).simpleString,
        if (st.notNull.contains(c.name)) "NO" else "YES",
        c.default.getOrElse(""))
    }.toDF("column_name", "column_type", "null", "default")
  }

  // --------------------------------------- interactive SQL transactions

  /** Open interactive transaction, if any — the reference's BEGIN
    * TRANSACTION / COMMIT / ROLLBACK statement surface (ref
    * demos/01_transaction_rollback/demo.py:85-104,148-151). While open,
    * every DML/DDL statement routed through [[execute]] stages into it
    * and SELECTs read the STAGED state (read-your-writes); COMMIT
    * publishes ONE snapshot covering everything staged. Interactive
    * statements cannot be replayed, so on a losing OCC race COMMIT
    * aborts (discarding the staged files) instead of retrying — the
    * same observable behavior as a serialization failure in a SQL
    * database. One open transaction per catalog instance. Volatile:
    * statements may arrive from a thread other than the one that ran
    * BEGIN, and a stale read here would silently auto-commit a statement
    * that should have staged. */
  @volatile private var activeTx: Option[(Tx, Long)] = None

  /** Is an interactive transaction open on this catalog instance? Used
    * by composite operations (e.g. [[Mv]]) that run their own multi-step
    * `transaction` blocks and must fail loudly rather than read committed
    * state past staged writes and doom the open txn to an OCC abort. */
  private[lake] def hasOpenTransaction: Boolean = activeTx.nonEmpty

  def beginTransaction(): Unit = synchronized {
    require(activeTx.isEmpty, "transaction already open")
    val v = currentVersion
    activeTx = Some((new Tx(this, snapshot(v)), v))
  }

  // A bare BEGIN;COMMIT publishes an empty snapshot DELIBERATELY — the
  // reference records a snapshot per committed transaction whether or
  // not it changed anything (SURVEY §2 M7; judged by l7_snapshots_meta),
  // unlike Mv.refresh's AlreadyFresh short-circuit which models "nothing
  // to refresh" as not-a-transaction.
  def commitTransaction(): Unit = synchronized {
    val (tx, v) = activeTx.getOrElse(
      throw new IllegalStateException("COMMIT without an open transaction"))
    activeTx = None
    val next = tx.buildSnapshot(v + 1)
    store.publish(v + 1, next, snapshot(v)) match {
      case Some(stored) => snapCache.put(v + 1, stored)
      case None =>
        tx.cleanupStaged()
        throw new IllegalStateException("commit conflict: a concurrent " +
          "writer published first; transaction rolled back")
    }
  }

  def rollbackTransaction(): Unit = synchronized {
    activeTx.foreach(_._1.cleanupStaged())
    activeTx = None
  }

  /** Route a mutation into the open interactive transaction when one
    * exists, else auto-commit it as its own transaction. */
  private def inTx[T](f: Tx => T): T = activeTx match {
    case Some((tx, _)) => f(tx)
    case None => transaction(f)
  }

  /** Run `f` as one atomic multi-table transaction (M5/M6) under OCC.
    *
    * Publish failure takes one of two paths, in order:
    *  1. REBASE (the many-concurrent-writers fast path, Delta-style
    *     write-conflict detection): if this txn is pure table-scoped DML
    *     and every commit that landed since its base touched only
    *     DISJOINT tables, the commit document is rebuilt on the new head
    *     by overlaying this txn's table diffs — no Spark job re-runs, the
    *     staged files republish as-is. K writers on K different tables
    *     serialize only on the conditional put itself (microseconds), not
    *     on each other's bodies.
    *  2. RE-RUN: genuinely conflicting work (same tables, DDL, view/tag/
    *     stream-tag/vacuum) re-executes `f` on a fresh base — conflicting
    *     read-modify-write (e.g. a counter increment) is SERIALIZED, each
    *     committed body having seen the previous commit's state. Jittered
    *     exponential backoff desynchronizes the publish rounds so no
    *     writer starves.
    */
  def transaction[T](f: Tx => T): T = {
    var attempts = 0
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    while (attempts < 100) {
      val base = currentVersion
      val tx = new Tx(this, snapshot(base))
      val result =
        try f(tx)
        catch { case e: Throwable => tx.cleanupStaged(); throw e }
      var pubBase = base
      var rebasing = true
      while (rebasing) {
        val next = if (pubBase == base) tx.buildSnapshot(base + 1)
          else tx.buildSnapshotOn(snapshot(pubBase), pubBase + 1)
        store.publish(pubBase + 1, next, snapshot(pubBase)) match {
          case Some(stored) =>
            snapCache.put(pubBase + 1, stored)
            return result
          case None => ()
        }
        val headV = currentVersion
        val conc = snapshot(headV).history
          .filter(h => h.snapshotId > pubBase && h.snapshotId <= headV)
        val disjoint = tx.isRebaseSafe && conc.nonEmpty && conc.forall { h =>
          h.changes.forall { case (k, names) =>
            k.startsWith("tables_") &&
              names.forall(n => !tx.conflictNames.contains(n)) }
        }
        if (disjoint) pubBase = headV else rebasing = false
      }
      tx.cleanupStaged()
      attempts += 1
      LakeCatalog.occRetries.increment()
      Thread.sleep(rnd.nextLong(math.min(200L, 4L << math.min(attempts, 5))) + 1L)
    }
    throw new IllegalStateException(s"commit contention after $attempts attempts")
  }

  // --------------------------------------------- single-op convenience APIs

  // Each of these routes through inTx: with an interactive transaction
  // open (BEGIN via execute/sql) the mutation STAGES into it — mixing
  // the Scala API with SQL transactions composes instead of publishing
  // eagerly and dooming the later COMMIT to an OCC abort — and with no
  // transaction open it auto-commits exactly as before.
  def createTable(name: String, schema: StructType,
      primaryKey: Seq[String] = Nil, notNull: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Unit =
    inTx(_.createTable(name, schema, primaryKey, notNull, partitionBy))

  /** CTAS (D2 — ref utils/ducklake_utils.py:101-111). */
  def createTableAs(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit =
    inTx(_.createTableAs(name, df, partitionBy))

  def insert(table: String, df: DataFrame): Unit = {
    inTx(_.insert(table, df))
    // inside an open interactive txn the staged files aren't published
    // yet — the auto-compact check defers to the next direct insert
    if (activeTx.isEmpty) maybeAutoCompact(table)
  }

  /** Opt a table into AUTO-COMPACTION (the Delta `autoOptimize.autoCompact`
    * analog): after any direct file-appending insert — the DataFrame
    * [[insert]] or a routed SQL `INSERT` — if the table's live file count
    * exceeds `maxFiles`, a follow-on [[compact]] commit folds it back to
    * size-targeted files. Inserts staged inside an open interactive
    * transaction defer the check to the next direct insert (the staged
    * files aren't published yet); streaming/inlined ingestion is not
    * auto-compacted (inlined rows add no files; streams own their commit
    * cadence — run [[compact]] as maintenance there). The policy rides
    * the snapshot as table properties (survives restarts and
    * [[migrateTo]]); the compaction is its own commit, so readers see
    * either the pre- or post-layout table, never a half-folded one, and
    * history/time travel record the maintenance like any other write.
    * Once the data outgrows `maxFiles * targetFileBytes` no layout can
    * honor the cap, so the policy goes DORMANT (no per-insert O(table)
    * rewrites) until the cap or target is raised. */
  def autoCompact(table: String, maxFiles: Int,
      targetFileBytes: Long = 128L << 20): Unit =
    transaction { tx =>
      tx.setProperty(table, LakeCatalog.PropAutoCompactMaxFiles,
        maxFiles.toString)
      tx.setProperty(table, LakeCatalog.PropAutoCompactTargetBytes,
        targetFileBytes.toString)
    }

  private def maybeAutoCompact(table: String): Unit =
    current.tables.get(table).foreach { st =>
      st.props.get(LakeCatalog.PropAutoCompactMaxFiles)
        .map(_.toInt).foreach { maxFiles =>
          val target = st.props.get(LakeCatalog.PropAutoCompactTargetBytes)
            .map(_.toLong).getOrElse(128L << 20)
          // byte-aware trigger: only files under half the target count as
          // the SMALL tail worth folding; the rewrite is proportional to
          // that tail (Tx.compactSmall), never an O(table) churn of files
          // that are already near target size. Trigger only when over the
          // file-count cap AND folding just the tail can actually honor
          // it: a wide table whose count overage comes from near-target
          // files has no layout the cap admits without rewriting healthy
          // data, so the policy DECLINES (goes dormant) until the cap or
          // target is raised — the same dormancy rule as before, now
          // byte-aware so it also declines when a full fold could
          // technically reach the cap but only by churning healthy files.
          val (small, big) = st.files.partition(_.sizeBytes < target / 2)
          val folded = big.size + (if (small.isEmpty) 0
            else math.max(1, math.ceil(
              small.map(_.sizeBytes).sum.toDouble / target).toInt))
          if (st.files.size > maxFiles && small.size >= 2 &&
              folded <= maxFiles)
            transaction(_.compactSmall(table, target, target / 2))
        }
    }

  /** M8 inlined small-batch insert (rows live in the manifest). */
  def insertInlined(table: String, df: DataFrame): Unit =
    inTx(_.insertInlined(table, df))

  /** Exactly-once streaming ingestion: insert one micro-batch, idempotent
    * on (table, batchId). The batch id is recorded in the snapshot's
    * change summary, which rides the O(1) header history — so a replayed
    * batch (restart, sink retry) is detected with zero extra metadata
    * reads and becomes a no-op. Returns false when the batch had already
    * landed. The check runs inside the transaction against its base
    * snapshot, so a concurrent duplicate loses the publish race, re-runs,
    * and then sees the tag.
    *
    * `streamId` namespaces the idempotence key to (table, streamId,
    * batchId): batch ids come from the CHECKPOINT, so a second logical
    * stream (fresh checkpoint — ids restart at 0) inserting into the
    * same table must pass a distinct id or its early batches would be
    * skipped as "replays" of the first stream's. The streaming wrappers
    * ([[graft.streaming.EventStream.sinkToLake]],
    * [[graft.streaming.LakeStream.replicate]]) derive one from the
    * checkpoint location automatically. */
  def insertStreamBatch(table: String, df: DataFrame, batchId: Long,
      streamId: String = ""): Boolean = {
    val tag = if (streamId.isEmpty) s"$table:$batchId"
      else s"$table:$streamId:$batchId"
    commitStreamBatch(tag)(_.insert(table, df))
  }

  /** The one exactly-once commit of the streaming paths: run `body` and
    * record the monotone `tag` (see [[Tx.markStreamBatchMonotone]]) in ONE
    * transaction, unless the tag already landed — a replay, or a racing
    * duplicate that lost the publish race, re-ran and then saw the tag.
    * Returns whether this call committed; a skipped batch publishes no
    * empty snapshot. */
  private[graft] def commitStreamBatch(tag: String)(body: Tx => Unit): Boolean = {
    object AlreadyApplied extends Exception
    try transaction { tx =>
      if (tx.streamBatchApplied(tag)) throw AlreadyApplied
      body(tx)
      tx.markStreamBatchMonotone(tag)
      true
    } catch { case AlreadyApplied => false }
  }

  /** Exactly-once CDC apply: land one micro-batch of CHANGE-FEED rows
    * (`change_type` + `_commit_version` columns, the
    * [[graft.streaming.ChangeFeed]] shape) into `table`, idempotent on
    * (table, streamId, batchId) like [[insertStreamBatch]]. A batch may
    * span several upstream commits, so its NET effect per key is applied
    * ([[applyNetChanges]]). Returns false when the batch had already
    * landed or nets to nothing.
    *
    * PRECONDITION: `keyCols` must uniquely identify rows in the source
    * table. The change FEED itself supports keyless/multiset data (the
    * diff is an exact multiset diff), but this net-effect APPLY keeps one
    * surviving row per key — duplicate rows sharing a key within one
    * commit would be nondeterministically collapsed, silently diverging
    * the replica. The apply fails loudly instead; multiset data belongs
    * on [[graft.streaming.LakeStream.replicate]] (append-only) or a
    * bespoke multiset apply.
    *
    * `streamId` is REQUIRED: batch ids come from the CHECKPOINT, so a
    * different stream (fresh checkpoint — ids restart at 0) writing the
    * same table would otherwise collide with the first stream's tags
    * and silently skip its early batches as "replays". Distinct logical
    * streams over one destination must pass distinct ids;
    * [[graft.streaming.ChangeFeed.applyPass]] derives one from the
    * checkpoint location when the caller doesn't name one. */
  def applyChangesStreamBatch(table: String, changes: DataFrame,
      keyCols: Seq[String], batchId: Long, streamId: String): Boolean = {
    require(streamId.nonEmpty,
      "applyChangesStreamBatch requires a streamId — batch ids restart " +
        "at 0 with every fresh checkpoint, so without a per-stream " +
        "namespace a second logical stream's early batches would be " +
        "silently skipped as replays of the first's")
    applyNetChanges(s"$table:cdc:$streamId:$batchId",
      Seq(LakeCatalog.NetChange(table, changes, keyCols,
        s"CDC apply to '$table': key (${keyCols.mkString(", ")}) is not " +
          "unique within one source commit — net-effect apply requires " +
          "row-identifying keys; multiset data cannot be replicated " +
          "by key")),
      _ => ()).contains(true)
  }

  /** Net-effect apply of change-feed rows to one or more tables as ONE
    * exactly-once commit tagged `tag` ([[commitStreamBatch]], after
    * `prelude`). Per batch: preimages are dropped (their postimages
    * subsume them) and the latest change per key by `_commit_version`
    * wins. A key with more than one surviving row in one commit does not
    * identify a row upstream, so the collapse would be nondeterministic:
    * the batch's `notUnique` message is raised instead. Then each table
    * gets ONE copy-on-write merge: the carried `change_type` routes every
    * net row — a delete removes its target match and inserts nothing (a
    * delete for an absent key is a no-op), anything else upserts.
    * Batches that net to no rows are skipped; None when all of them do
    * (nothing committed), else whether this call committed. */
  private[graft] def applyNetChanges(tag: String,
      batches: Seq[LakeCatalog.NetChange], prelude: Tx => Unit): Option[Boolean] = {
    import graft.streaming.ChangeFeed.{SmallNetRows, TypeCol, VersionCol}
    // __rn ranks each key's rows newest first (one row per key and commit
    // survives the preimage filter, so version order alone picks the net
    // state); __n counts rows per (key, commit) for the guard. Both
    // windows cluster on the keys, so they share one exchange.
    val marked = batches.map { b =>
      val keys = b.keyCols.map(col)
      b.changes.filter(col(TypeCol) =!= "update_preimage")
        .withColumn("__rn", row_number().over(
          Window.partitionBy(keys: _*).orderBy(col(VersionCol).desc)))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(keys :+ col(VersionCol): _*)))
        .persist()
    }
    try {
      // the key guard and the net row count are one aggregate over the
      // cached windows. An empty net change is a deterministic no-op: no
      // commit at all — also what keeps a consumer writing into the SAME
      // catalog from generating commits for batches its own sink traffic
      // triggered. The count doubles as the write-width gate: a typical
      // micro-batch is TINY, and writing it at shuffle width litters the
      // replica with a near-empty file per shuffle slot per batch, which
      // every later scan pays a per-file task constant for — so small
      // ones collapse to one file (and one broadcastable key partition);
      // backfill-sized ones keep their parallelism.
      val nets = batches.zip(marked).flatMap { case (b, m) =>
        val r = m.agg(max(col("__n")), count(when(col("__rn") === 1, true)))
          .head()
        if (!r.isNullAt(0) && r.getLong(0) > 1L)
          throw new IllegalArgumentException(b.notUnique)
        val net = m.filter(col("__rn") === 1).drop("__rn", "__n", VersionCol)
        val n = r.getLong(1)
        if (n == 0L) None
        else Some(b -> (if (n <= SmallNetRows) net.coalesce(1) else net))
      }
      if (nets.isEmpty) None
      else Some(commitStreamBatch(tag) { tx =>
        prelude(tx)
        nets.foreach { case (b, net) =>
          tx.mergeClauses(b.table, net, b.keyCols, MergeClauses(
            matchedDelete = Some(s"s.$TypeCol = 'delete'"),
            matchedUpdate = Some(s"s.$TypeCol <> 'delete'"),
            notMatchedInsert = Some(s"$TypeCol <> 'delete'")),
            carry = Seq(TypeCol))
        }
      })
    } finally marked.foreach(_.unpersist(blocking = false))
  }

  /** Merge-on-read DELETE (deletion vectors) — see [[Tx.deleteMor]]. */
  def deleteMor(table: String, where: Column): Unit =
    inTx(_.deleteMor(table, where))

  /** RESTORE to a past version — see [[Tx.restoreTable]]. */
  def restoreTable(table: String, version: Long): Unit =
    inTx(_.restoreTable(table, version))

  /** Zero-copy clone — see [[Tx.cloneTable]]. */
  def cloneTable(src: String, dst: String): Unit =
    inTx(_.cloneTable(src, dst))

  def dropTable(name: String): Unit = inTx(_.dropTable(name))

  def dropView(name: String): Unit = inTx(_.dropView(name))

  /** Metadata-only rename — see [[Tx.renameTable]]. */
  def renameTable(from: String, to: String): Unit =
    inTx(_.renameTable(from, to))

  /** O(metadata) truncate — see [[Tx.truncateTable]]. */
  def truncateTable(name: String): Unit = inTx(_.truncateTable(name))

  def update(table: String, where: Column, sets: Map[String, Column]): Unit =
    inTx(_.update(table, where, sets))

  def delete(table: String, where: Column): Unit =
    inTx(_.delete(table, where))

  /** Distributed DELETE by a DataFrame of keys — see [[Tx.delete]]. */
  def delete(table: String, keys: DataFrame, keyCols: Seq[String]): Unit =
    inTx(_.delete(table, keys, keyCols))

  /** Partition-retention fast-path delete — see [[Tx.deletePartitions]]. */
  def deletePartitions(table: String, eq: Map[String, String]): Unit =
    inTx(_.deletePartitions(table, eq))

  def merge(table: String, source: DataFrame, keys: Seq[String]): Unit =
    inTx(_.merge(table, source, keys))

  /** Zero-copy registration of existing parquet files — see
    * [[Tx.addDataFiles]]. */
  def addDataFiles(table: String, dir: String): Unit =
    inTx(_.addDataFiles(table, dir))

  /** mergeSchema ingestion — see [[Tx.insertEvolve]]; the schema adds and
    * the data land in ONE atomic commit. */
  def insertEvolve(table: String, df: DataFrame): Unit =
    inTx(_.insertEvolve(table, df))

  /** Partition-spec evolution — see [[Tx.setPartitionBy]]. */
  def setPartitionBy(table: String, cols: Seq[String]): Unit =
    inTx(_.setPartitionBy(table, cols))

  /** Full MERGE with conditional matched / not-matched / not-matched-by-
    * source clauses — see [[Tx.mergeClauses]] and [[MergeClauses]]. */
  def mergeClauses(table: String, source: DataFrame, keys: Seq[String],
      clauses: MergeClauses): Unit =
    inTx(_.mergeClauses(table, source, keys, clauses))

  def createView(name: String, sql: String): Unit =
    inTx(_.createView(name, sql))

  /** CHECK constraint — see [[Tx.addCheck]]. */
  def addCheck(table: String, name: String, predicateSql: String): Unit =
    inTx(_.addCheck(table, name, predicateSql))

  def dropCheck(table: String, name: String): Unit =
    inTx(_.dropCheck(table, name))

  /** Tag `version` (default: the current snapshot) with a stable name —
    * see [[Tx.tag]]. Tagged snapshots survive [[vacuum]]. */
  def tag(name: String, version: Long = -1L): Unit =
    transaction(tx => tx.tag(name,
      if (version < 0) currentVersion else version))

  def dropTag(name: String): Unit = transaction(_.dropTag(name))

  /** Deliberately re-point an existing tag — see [[Tx.replaceTag]]. */
  def replaceTag(name: String, version: Long): Unit =
    transaction(_.replaceTag(name, version))

  /** `CALL graft_*(…)` dispatcher — the maintenance verbs routed through
    * the SQL surface (the reference's whole interface is
    * `conn.execute(sql)`; DuckLake exposes the same ops as
    * `ducklake_expire_snapshots()`-style procedure calls). Arguments are
    * positional literals: strings quoted, numbers bare. Maintenance runs
    * its own commits (vacuum also runs physical GC), so calls REFUSE
    * inside an open interactive transaction rather than doom it to an OCC
    * abort. Every verb returns ONE row of deterministic after-facts, so a
    * pure-SQL maintenance lifecycle is ledger-able (l53). */
  private def executeCall(fn: String, args: Seq[Expression]): DataFrame = {
    require(!hasOpenTransaction,
      s"$fn: maintenance procedures cannot run inside an open " +
        "interactive transaction — COMMIT or ROLLBACK first")
    def isStr(a: Expression) = a.foldable && a.dataType == StringType
    def str(a: Expression): String = {
      require(isStr(a), s"$fn: expected a quoted string argument, got: ${a.sql}")
      a.eval().toString
    }
    def num(a: Expression): Long = (if (a.foldable) a.eval() else a) match {
      case n: Int => n
      case n: Long => n
      case _ => throw new IllegalArgumentException(
        s"$fn: expected a numeric argument, got: ${a.sql}")
    }
    def oneRow(fields: Seq[(String, DataType)], vals: Seq[Any]): DataFrame =
      spark.createDataFrame(
        java.util.Collections.singletonList(Row(vals: _*)),
        StructType(fields.map { case (n, t) => StructField(n, t) }))
    def tableFacts(t: String): DataFrame = {
      require(current.tables.contains(t), s"no such table: $t")
      tableInfo().filter(col("table_name") === t)
        .select("table_name", "file_count", "row_count")
    }
    fn match {
      case "graft_vacuum" | "graft_expire_snapshots" =>
        val keep = if (args.nonEmpty) num(args(0)).toInt else 10
        val grace = if (args.size > 1) num(args(1)) else 60L * 60 * 1000
        vacuum(keep, grace)
        oneRow(Seq("current_version" -> LongType,
          "live_versions" -> LongType),
          Seq(currentVersion, store.availableVersions().size.toLong))
      case "graft_compact" =>
        val t = str(args.head)
        compact(t, if (args.size > 1) num(args(1)) else 128L << 20)
        tableFacts(t)
      case "graft_cluster" | "graft_zorder" =>
        val t = str(args.head)
        val (colArgs, numArgs) = args.tail.partition(isStr)
        val cols = colArgs.map(str)
        require(cols.nonEmpty, s"$fn: at least one column required")
        val target = numArgs.headOption.map(num).getOrElse(128L << 20)
        if (fn == "graft_cluster") cluster(t, cols, target)
        else zorder(t, cols, target)
        tableFacts(t)
      case "graft_restore" =>
        val t = str(args(0)); val v = num(args(1))
        restoreTable(t, v)
        oneRow(Seq("table_name" -> StringType, "restored_to" -> LongType,
          "current_version" -> LongType), Seq(t, v, currentVersion))
      case "graft_add_data_files" =>
        val t = str(args(0))
        val before = current.tables.get(t).map(_.files.size).getOrElse(0)
        addDataFiles(t, str(args(1)))
        oneRow(Seq("table_name" -> StringType, "files_added" -> LongType),
          Seq(t, (current.tables(t).files.size - before).toLong))
      case other =>
        throw new IllegalArgumentException(
          s"unknown procedure: $other — supported: graft_vacuum / " +
            "graft_expire_snapshots, graft_compact, graft_cluster, " +
            "graft_zorder, graft_restore, graft_add_data_files")
    }
  }

  /** Compaction: fold a table's many small files into size-targeted ones —
    * the maintenance half of the small-file story (M8 — ref
    * demos/04_small_file_optimization/FINDINGS.md:21-27). */
  def compact(table: String, targetFileBytes: Long = 128L << 20): Unit =
    transaction(_.compact(table, targetFileBytes))

  /** Cluster the table's data layout on `cols` (range-partition + sort) so
    * manifest-stats pruning becomes surgical — see [[Tx.cluster]]. */
  def cluster(table: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20): Unit =
    transaction(_.cluster(table, cols, targetFileBytes))

  /** Z-ORDER the layout on multiple columns so stats prune on each of
    * them independently — see [[Tx.zorder]]. */
  def zorder(table: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20): Unit =
    transaction(_.zorder(table, cols, targetFileBytes))

  /** Snapshot expiry + orphan cleanup (the `expire_snapshots`/vacuum
    * maintenance op), in two phases:
    *
    * 1. The expiry DECISION commits through the same OCC publish as any
    *    transaction (the Iceberg expire-snapshots model): which versions
    *    die is recorded in the new snapshot's change ledger. Tagged
    *    snapshots are PINNED — expiry skips them (the
    *    expire-snapshots-retains-refs contract). A racing tag() either
    *    commits first (this commit loses the publish race, re-runs, and
    *    honors the new pin) or re-runs on a base whose ledger already
    *    names the expired target and is refused — a snapshot can never
    *    be pinned and deleted at once.
    * 2. Physical GC then deletes exactly the ledger-expired versions:
    *    manifests first (crash mid-vacuum leaves orphan FILES — harmless,
    *    re-collected by the next run off the ledger — never dangling
    *    SNAPSHOTS), then unreferenced blobs and data files.
    *
    * Time travel to expired versions then fails (by design); current
    * reads are untouched. Data files referenced by NO snapshot at all
    * (staged by an in-flight or crashed transaction) are only collected
    * once older than `orphanGraceMs`, so a slow concurrent writer's
    * staged-but-unpublished files survive the sweep. */
  def vacuum(keepLast: Int = 10, orphanGraceMs: Long = 60L * 60 * 1000): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    if (currentVersion == 0) return
    val startMs = System.currentTimeMillis()
    // phase 1: commit the decision (skip the empty snapshot when there
    // is nothing new to expire — GC below still re-collects leftovers)
    object NothingToExpire extends Exception
    try transaction { tx =>
      if (tx.expireSnapshots(keepLast).isEmpty) throw NothingToExpire
    } catch { case NothingToExpire => () }
    // phase 2: physical GC, driven by the committed ledger
    val head = current
    val toDelete = store.availableVersions().filter(head.versionExpired).sorted
    // capture the dead snapshots' file sets before their manifests go:
    // those files are KNOWN garbage (committed, then expired) and are
    // deleted regardless of age; grace only protects never-referenced
    // paths. Normalized through absPath so relative and (legacy)
    // absolute manifest entries compare correctly.
    def referenced(snaps: Iterator[Snapshot]): Set[String] =
      snaps.flatMap(_.tables.values.flatMap(_.files.flatMap(e =>
        (e.path +: (e.blooms.values.toSeq ++ e.dv)).map(p =>
          absPath(p).toUri.getPath)))).toSet
    val deadFiles = referenced(toDelete.iterator.map(snapshot))
    toDelete.foreach { v =>
      store.deleteVersion(v)
      snapCache.remove(v)
    }
    // blobs only kept snapshots reference stay; expired-only blobs go
    // (bounded at this vacuum's head version so a concurrent writer's
    // staged blobs for a newer commit are never swept)
    val keptSnaps = store.availableVersions().sorted.map(snapshot)
    store.gcBlobs(keptSnaps, head.snapshotId)
    val live = referenced(keptSnaps.iterator)
    // walk <root>/<table>/{data,index,dv}/** and drop parquet files /
    // bloom sidecars / deletion-vector parts no kept snapshot references
    // (also catches dirs from dropped tables). DV entries in the manifest
    // point at the sidecar DIRECTORY, so dv parts match on their parent.
    val rootPath = fs.makeQualified(new Path(root))
    val rootStr = rootPath.toUri.getPath.stripSuffix("/")
    if (fs.exists(rootPath)) {
      val it = fs.listFiles(rootPath, true)
      while (it.hasNext) {
        val fst = it.next()
        val f = fst.getPath
        val abs = f.toUri.getPath
        val rel = abs.stripPrefix(rootStr).stripPrefix("/")
        val isDvPart = rel.contains("/dv/") && rel.endsWith(".parquet") &&
          !rel.startsWith("_manifest")
        val isData = (rel.contains("/data/") && rel.endsWith(".parquet") ||
          rel.contains("/index/") && rel.endsWith(".bloom")) &&
          !rel.startsWith("_manifest")
        val key = if (isDvPart) f.getParent.toUri.getPath else abs
        if ((isData || isDvPart) && !live.contains(key) &&
            (deadFiles.contains(key) ||
              fst.getModificationTime < startMs - orphanGraceMs))
          fs.delete(f, false)
      }
    }
  }

  /** Catalog migration (S8 — ref demos/05_catalog_portability/demo.py:199-252):
    * recreate every table (schema, constraints, rows) and view of `this`
    * in `dst`, atomically there. */
  def migrateTo(dst: LakeCatalog): Unit = {
    val snap = current
    dst.transaction { tx =>
      snap.tables.toSeq.sortBy(_._1).foreach { case (name, st) =>
        tx.createTable(name, structOf(st.columns), st.primaryKey, st.notNull,
          st.partitionBy)
        // properties carry CHECK constraints, MV specs, bloom-index
        // declarations — part of the table's contract, so they migrate
        st.props.foreach { case (k, v) => tx.setProperty(name, k, v) }
        val rows = readState(st)
        if (st.files.nonEmpty) tx.insert(name, rows)
      }
      snap.views.foreach { case (n, sql) => tx.createView(n, sql) }
    }
  }
}

object LakeCatalog {

  /** Auto-compaction policy table properties — see [[LakeCatalog.autoCompact]]. */
  val PropAutoCompactMaxFiles = "compact.auto.maxFiles"
  val PropAutoCompactTargetBytes = "compact.auto.targetBytes"

  /** JVM-wide count of OCC publish retries (a failed conditional put that
    * re-ran its transaction body). Diagnostic only — read it before and
    * after a workload to measure commit contention (perfbench's
    * `lake.occ_retries` does); concurrent workloads in one JVM share it. */
  val occRetries = new java.util.concurrent.atomic.LongAdder()

  /** One table's share of a [[LakeCatalog.applyNetChanges]] commit:
    * change-feed rows for `table`, the keys that identify its rows, and
    * the message that refuses keys which do not. */
  private[graft] final case class NetChange(table: String, changes: DataFrame,
      keyCols: Seq[String], notUnique: String)

  /** A statement as Spark's own SQL lexer splits it: `all` tokens
    * (concatenated they give back the text, whitespace and comments
    * included) and the indices of the significant ones (`sig`: no
    * whitespace, comments or `;`). String literals and quoted names are
    * single tokens, so nothing matched on tokens can fire inside one. */
  private[lake] final class Lexed(text: String) {
    import org.antlr.v4.runtime.{CharStreams, Token}
    import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    private val cps = text.codePoints.toArray
    private val tokens = {
      // keywords match in upper case only (Spark's parser feeds its
      // lexer an upper-casing stream too); token texts keep their case
      val upper = cps.map(Character.toUpperCase)
      val lexer = new SqlBaseLexer(CharStreams.fromString(new String(upper, 0, upper.length)))
      lexer.removeErrorListeners()
      scala.jdk.CollectionConverters.ListHasAsScala(lexer.getAllTokens).asScala.toIndexedSeq
    }
    val all: IndexedSeq[String] = tokens.map(t =>
      new String(cps, t.getStartIndex, t.getStopIndex - t.getStartIndex + 1))
    val sig: IndexedSeq[Int] = tokens.indices.filter(i =>
      tokens(i).getChannel == Token.DEFAULT_CHANNEL && tokens(i).getType != SqlBaseLexer.SEMICOLON)
    def text(k: Int): String = if (k >= 0 && k < sig.size) all(sig(k)) else ""
    def up(k: Int): String = text(k).toUpperCase(java.util.Locale.ROOT)
    def isName(k: Int): Boolean = text(k).headOption.exists(c =>
      c.isLetter || c == '_' || c == '`')
  }

  /** Rewrite the DuckDB forms Spark 4.1's `parsePlan` rejects into ones
    * it accepts, token by token (see [[LakeCatalog.execute]]): time travel
    * `AT (VERSION|TIMESTAMP => x)` anywhere, and in CREATE/ALTER TABLE
    * type position — the token after a column name, or after `TYPE` —
    * the DuckDB type names; plus `SET DATA TYPE` → `TYPE`. */
  private[lake] def prePass(lx: Lexed): String = {
    import lx.up
    val out = lx.all.toArray
    def put(k: Int, to: Int, s: String): Unit = {
      (lx.sig(k) to lx.sig(to)).foreach(out(_) = "")
      out(lx.sig(k)) = s
    }
    val ddl = Set("CREATE", "ALTER")(up(0)) && up(1) == "TABLE"
    var depth = 0; var body = false; var k = 0
    while (k < lx.sig.size) {
      up(k) match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case "AS" if depth == 0 => body = true
        case _ =>
      }
      val typePos = ddl && !body && (up(k - 1) == "TYPE" || lx.isName(k - 1) &&
        (depth == 0 && Set("COLUMN", "COLUMNS")(up(k - 2)) ||
          depth == 1 && Set("(", ",")(up(k - 2))))
      (up(k), up(k + 1)) match {
        case ("AT", "(") if Set("VERSION", "TIMESTAMP")(up(k + 2)) &&
            up(k + 3) == "=>" && up(k + 5) == ")" =>
          put(k, k + 5, s"${up(k + 2)} AS OF ${lx.text(k + 4)}"); k += 5
        case ("SET", "DATA") if ddl && up(k + 2) == "TYPE" => put(k, k + 1, "")
        case ("DOUBLE", "PRECISION") if typePos => put(k, k + 1, "DOUBLE")
        case ("TEXT" | "VARCHAR" | "CHAR", next) if typePos && next != "(" => put(k, k, "STRING")
        case ("DATETIME", _) if typePos => put(k, k, "TIMESTAMP")
        case ("BLOB" | "BYTEA", _) if typePos => put(k, k, "BINARY")
        case _ =>
      }
      k += 1
    }
    out.mkString
  }
}
