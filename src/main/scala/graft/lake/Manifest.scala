package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Paths, FileAlreadyExistsException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** Versioned catalog metadata — the Spark-native analog of DuckLake's
  * "metadata is just rows in a transactional store" design
  * (ref README.md:202-209, utils/ducklake_utils.py:58-78).
  *
  * One immutable JSON snapshot document per committed transaction; current
  * state = max version. A snapshot is CATALOG-level (covers every table),
  * which is what makes multi-table transactions atomic (ref
  * demos/01_transaction_rollback/demo.py:177-214, README.md:22-31) — one
  * document publish commits changes to any number of tables at once.
  *
  * Incremental layout (the Iceberg-manifest-style delta scheme):
  *  - A table's file list lives in immutable BLOBs (each a JSON array of
  *    FileEntry); the snapshot document stores only the ordered blob names
  *    per table.
  *  - An append commit writes ONE new blob holding just the added entries
  *    and re-references the previous blobs — per-commit metadata bytes are
  *    O(delta), not O(table files), and unchanged tables are O(1) (their
  *    blob list is copied by name). Copy-on-write DML / compaction replace
  *    the file set wholesale and write one consolidated blob (they already
  *    rewrote the data, so O(files) metadata is proportional work).
  *  - When a table accumulates > [[Manifest.BlobMergeThreshold]] blobs they
  *    are folded into one, bounding per-read fan-out; older snapshots keep
  *    referencing the original blobs (immutability = time travel).
  *  - Every snapshot document embeds the HEADER history (id, timestamp,
  *    schema version, change summary per version — O(1) bytes each), so
  *    `snapshots()` / `versionAsOf` resolve from ONE document read
  *    instead of loading every version. The tail is COMPACTED: headers
  *    of expired versions beyond [[Manifest.HeaderRetain]] drop at
  *    commit build, their expiry/stream-tag facts carried by
  *    eager O(current-state) aggregates on the snapshot — bounding
  *    document size and per-commit metadata writes at O(live + retain)
  *    instead of O(all versions ever) (measured unbounded at 154
  *    ms/commit by 4k commits before the fix).
  *  - Blob contents are immutable → cached process-wide; `LakeCatalog`
  *    additionally caches whole snapshots by version.
  *  - ONE document format ([[Manifest.Format]]): the stored document is
  *    the [[Snapshot]] itself, serialized directly with each table's
  *    `files` left to the blobs; a document below the format is refused
  *    at load, never read through a fallback.
  *
  * WHERE the documents live is the [[ManifestStore]] seam, with two
  * backends — the reference's catalog-portability story
  * (ref demos/05_catalog_portability/demo.py:195-252, README.md:227-245):
  *  - [[FileManifestStore]]: documents + blobs as files under
  *    `<root>/_manifest/` through the Hadoop FileSystem API (local, hdfs,
  *    s3a unchanged);
  *  - [[JdbcManifestStore]]: documents + blobs as ROWS in a transactional
  *    SQL database (any JDBC DSN; Derby embedded works out of the box) —
  *    DuckLake's headline "SQL database as lakehouse catalog": metadata
  *    access is one SQL query, and version claiming is a true conditional
  *    put (PRIMARY KEY insert), which is the coordination answer for
  *    object-store roots where create-exclusive doesn't exist.
  *
  * Scale notes (100 TB / 1000 executors): the manifest holds file-level
  * metadata only (path, size, rows, schema version, column min/max) —
  * O(files), never O(rows). Readers resolve a snapshot with one metadata
  * read + cached blob reads instead of object-store listing.
  */
final case class ColumnDef(
    id: Int,                 // stable identity — survives renames
    name: String,
    typeJson: String,        // Spark DataType JSON
    default: Option[String]) // SQL literal expr, for files predating the col

/** Per-file column statistics (values as strings for JSON; parse with
  * the column's declared type) — the `ducklake_table_stats` analog
  * (ref exploration/benchmark_ducklake.sh:164-168, README.md:202-209).
  * Used to prune file sets before scanning: a PK-uniqueness check against
  * a 100TB table only reads files whose key range overlaps the incoming
  * batch. Footer min/max (string form, see [[Stats]])
  * plus the exact NULL count when the harvest could prove it (parquet
  * footers carry per-chunk null counts; the distributed harvest counts
  * them in the same job). `nulls` is what lets the Catalyst cost model
  * estimate filters — Spark's FilterEstimation requires nullCount — and
  * None (older manifests, untrusted footers) degrades to no estimate,
  * never to a wrong one. */
final case class ColStat(min: String, max: String,
    nulls: Option[Long] = None)

final case class FileEntry(
    path: String,            // relative to lake root
    sizeBytes: Long,
    rowCount: Long,
    schemaVersion: Int,      // table schema version the file was written under
    stats: Map[String, ColStat] = Map.empty, // colName -> footer min/max
    // partition-column value SETS present in this file (string form,
    // sorted; the Iceberg partition-tuple analog, generalized to a small
    // set) — exact-membership pruning for partition-key equality, which
    // min/max ranges can't give for hash-clustered strings. Empty =
    // unknown -> the file is scanned (correct, never wrong).
    pvals: Map[String, Seq[String]] = Map.empty,
    // per-file BLOOM sidecars: colName -> sidecar path relative to the
    // lake root (the Hudi/Iceberg bloom-index shape: the filter itself
    // lives NEXT TO the data, only its pointer rides the manifest, so
    // manifest size stays O(files) regardless of key cardinality).
    // Point lookups load candidates' blooms lazily; a missing entry
    // degrades to stats pruning, never to wrong answers.
    blooms: Map[String, String] = Map.empty,
    // MERGE-ON-READ deletion vector (Iceberg v2 position-delete / Delta
    // DV analog): path (relative to the lake root) of a parquet sidecar
    // of (file, pos) tombstones covering this file; None = no deleted
    // rows. Reads anti-join the tombstones below the scan; any
    // copy-on-write rewrite (update/compact/cluster) materializes and
    // clears them. One sidecar dataset per delete commit is shared by
    // every file it touches, so commit metadata stays O(delta).
    dv: Option[String] = None,
    // tombstone count for this file inside `dv` — live rows =
    // rowCount - dvRows, kept exact so COUNT(*) stays answerable from
    // the manifest alone.
    dvRows: Long = 0L,
    // per-file HLL sketches (colName -> base64 bytes) for opt-in NDV
    // columns (table property `index.ndv`): mergeable distinct-count
    // state, so table-level approx NDV — the cardinality input every
    // join planner wants — folds from the manifest with zero file
    // reads. ~1-4 KB per file per column, opt-in like blooms.
    ndv: Map[String, String] = Map.empty) {
  def liveRows: Long = rowCount - dvRows
}

/** Rows stored INSIDE the manifest instead of parquet — DuckLake's
  * "optional inlining" for high-frequency small writes (ref README.md:58-63,
  * demos/04_small_file_optimization/demo.py:314-368): a 1-row insert costs
  * one metadata publish, zero data files. Compaction (and any DDL or
  * copy-on-write DML) flushes them to parquet. Rows are JSON objects in
  * the schema version they were written under. */
final case class InlineBatch(
    schemaVersion: Int,
    rows: Seq[String])

final case class TableState(
    schemaVersion: Int,
    schemas: Map[String, Seq[ColumnDef]], // version (as string for JSON) -> cols
    files: Seq[FileEntry],
    primaryKey: Seq[String],
    notNull: Seq[String],
    nextColId: Int,
    inlined: Seq[InlineBatch] = Nil,
    blobs: Seq[String] = Nil,            // blob names backing `files` (bookkeeping)
    partitionBy: Seq[String] = Nil,      // declared partition (clustering) columns
    props: Map[String, String] = Map.empty, // table properties (Iceberg-style)
    // Catalog version of the last commit that changed (or renamed over)
    // THIS table's logical data — stamped at commit build, starting with
    // the commit that created it. Lets the change feed compute its offset
    // from table state alone (O(1), no history scan), which is what keeps
    // streams correct after the header tail is compacted (see
    // Snapshot.history).
    lastDataVersion: Long = 0L,
    // Catalog version of the last NON-APPEND commit (CoW DML, layout
    // rewrite, schema change) — the append-only streaming contract's
    // state-level witness, immune to header compaction. 0 = never.
    lastNonAppendVersion: Long = 0L) {
  def columns: Seq[ColumnDef] = schemas(schemaVersion.toString)
  def columnsAt(v: Int): Seq[ColumnDef] = schemas(v.toString)
  def inlinedRowCount: Long = inlined.map(_.rows.size.toLong).sum
}

/** O(1)-sized per-version header carried in every snapshot document. */
final case class SnapHeader(
    snapshotId: Long,
    timestampMs: Long,
    schemaVersion: Long,
    changes: Map[String, Seq[String]])

final case class Snapshot(
    snapshotId: Long,
    timestampMs: Long,
    schemaVersion: Long,                  // catalog-global DDL counter
    changes: Map[String, Seq[String]],    // e.g. tables_deleted_from -> [t]
    tables: Map[String, TableState],
    views: Map[String, String],           // view name -> SQL text
    history: Seq[SnapHeader] = Nil,       // headers; compacted tail, see below
    refs: Map[String, Long] = Map.empty,  // tag name -> snapshot id
    // ---- EAGER AGGREGATES -------------------------------------------
    // The expiry ledger and stream-batch idempotence tags are carried as
    // O(current-state) aggregates, folded forward at every commit build,
    // so headers are purely informational and the tail can be compacted:
    // a header older than [[Manifest.HeaderRetain]] whose version is
    // EXPIRED is dropped (live versions always keep theirs —
    // snapshots()/time travel list only live versions). `aggV` is the
    // document format; [[ManifestStore.load]] refuses any document below
    // [[Manifest.Format]].
    aggV: Int = 0,
    // Expiry ledger in BOUNDED form: vacuum expires contiguous prefixes
    // (1 until cutoff, minus tag pins), so the ledger is a FLOOR plus
    // the live exceptions below it — O(pinned tags), not O(expired
    // versions). expired(v) = v <= expiredFloor && v not in liveBelow.
    expiredFloor: Long = 0L,
    liveBelow: Set[Long] = Set.empty,
    // stream-tag high-water marks: tag prefix -> max numeric suffix.
    // ONLY the engine's monotone-id paths write here (Structured
    // Streaming's checkpoint contract, same as Delta's txn appId ->
    // version map), so "applied" = suffix <= high-water is sound.
    // User tags via Tx.markStreamBatch land in `tagsResidual` with
    // exact-match semantics regardless of shape — a non-monotone user
    // tag must never be swallowed as a "replay" by a high-water it
    // didn't earn.
    txnSeen: Map[String, Long] = Map.empty,
    tagsResidual: Set[String] = Set.empty,
    // Highest header version ever DROPPED by tail compaction (0 =
    // none): timestamp time travel refuses to resolve at or below it
    // (the precise header is gone) UNLESS the requested timestamp
    // predates `minDroppedTsMs` (then the retained headers are complete
    // for the range and resolution is exact); version time travel is
    // unaffected (expiry is checked by number).
    historyFloor: Long = 0L,
    // Earliest timestamp among ALL headers ever dropped by tail
    // compaction; non-zero exactly when `historyFloor` is. Folded
    // monotonically at commit build — O(1) state.
    minDroppedTsMs: Long = 0L,
    // Per-NAME last identity-break version: the catalog version of the
    // most recent commit that REPLACED, RENAMED (either direction) or
    // DROPPED each name (see [[Manifest.IdentityBreakKinds]]). Change
    // feeds anchor column identity to a name; a break at v means
    // id-aligned diffs across v are garbage, and this stamp keeps the
    // guard exact even after the breaking commit's header is compacted
    // away (TableState stamps can't carry it — a drop leaves no state).
    // Bounded by distinct names ever broken, not by versions.
    identityBreaks: Map[String, Long] = Map.empty) {

  /** Is `v` expired (vacuumed)? The ledger rides the OCC snapshot chain
    * (not a live store listing), so tag() and expiry serialize instead
    * of racing. O(1). */
  def versionExpired(v: Long): Boolean =
    v >= 1L && v <= expiredFloor && !liveBelow.contains(v)

  /** Has `tag` been committed? High-water semantics for numeric-suffix
    * tags written by the engine's monotone paths (see `txnSeen`);
    * exact-match for user tags (which land in the residual set whatever
    * their shape — so a numeric-suffix tag is also looked up there). */
  def streamTagApplied(tag: String): Boolean =
    Manifest.splitTag(tag) match {
      case Some((prefix, id)) =>
        txnSeen.get(prefix).exists(id <= _) || tagsResidual.contains(tag)
      case None => tagsResidual.contains(tag)
    }
}

/** Typed comparisons over the string-encoded file stats. Only types whose
  * string casts order-compare safely are harvested (integral, double,
  * string); anything else simply gets no stats — pruning then degrades to
  * scanning, never to wrong answers. */
object Stats {
  def comparable(c: ColumnDef): Boolean = c.typeJson match {
    case "\"integer\"" | "\"long\"" | "\"short\"" | "\"byte\"" |
         "\"double\"" | "\"float\"" | "\"string\"" => true
    // dates cast to zero-padded ISO strings ("2024-06-01"), which are
    // timezone-independent and whose lexicographic order IS calendar
    // order — the string comparator below is exact for them. TIMESTAMPS
    // are deliberately NOT comparable: the string harvest renders them
    // in the writing session's timezone, so cross-session pruning could
    // silently drop matching files — pruning must never be wrong, only
    // conservative.
    case "\"date\"" => true
    case _ => false
  }

  /** Zero-padded 4-digit-year ISO date — the ONLY date rendering whose
    * lexicographic order is calendar order. Years ≥10000 render with
    * more digits (Spark prefixes '+') and BCE years with '-', and both
    * break string ordering ("9999-…" > "+10000-…"; "-0044" > "-0100"
    * as strings but is the LATER year). Out-of-range values are simply
    * not harvested and never compared — pruning degrades to scanning,
    * never to wrong answers. */
  private val SafeDate = java.util.regex.Pattern.compile("""\d{4}-\d{2}-\d{2}""")

  /** Is this stat/probe value safe to order-compare under the column's
    * string encoding? Dates must match the zero-padded ISO form.
    * STRINGS must be surrogate-free: the harvest's min/max fold orders
    * by UTF-8 bytes (Spark's UTF8String), while [[cmp]] uses UTF-16
    * `compareTo` — the two agree on every BMP-only string but can
    * DISAGREE when a supplementary character (surrogate pair) is
    * involved, and pruning must never be wrong, so such values simply
    * aren't compared (the file is kept). FLOATING-POINT values must be
    * finite: Spark's min/max order NaN as the LARGEST value, so a single
    * NaN row makes a file's max the string "NaN", and "NaN"/"Infinity"
    * don't parse as BigDecimal in the catalog-stats fold — one such
    * harvested value must never make a table unplannable or a prune
    * decision wrong. Non-finite extremes simply aren't recorded:
    * pruning (and CBO stats) degrade to scanning, never to a throw. */
  def safeValue(c: ColumnDef, v: String): Boolean = c.typeJson match {
    case "\"date\"" => SafeDate.matcher(v).matches()
    case "\"string\"" =>
      !v.exists(ch => ch >= '\uD800' && ch <= '\uDFFF')
    case "\"double\"" | "\"float\"" =>
      try java.lang.Double.isFinite(java.lang.Double.parseDouble(v))
      catch { case _: NumberFormatException => false }
    case _ => true
  }

  private def cmp(c: ColumnDef, a: String, b: String): Int = c.typeJson match {
    case "\"integer\"" | "\"long\"" | "\"short\"" | "\"byte\"" =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case "\"double\"" | "\"float\"" =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => a.compareTo(b)
  }

  /** Can [lo,hi] intersect this file's range?
    * Missing stats — or any value outside the safely-ordered encoding
    * (untrusted footers, exotic probe dates) — must assume yes. */
  def overlaps(st: Option[ColStat], c: ColumnDef, lo: String, hi: String): Boolean =
    st match {
      case Some(ColStat(mn, mx, _)) =>
        if (!safeValue(c, mn) || !safeValue(c, mx) ||
          !safeValue(c, lo) || !safeValue(c, hi)) true
        else cmp(c, mn, hi) <= 0 && cmp(c, lo, mx) <= 0
      case None => true
    }

  /** Safe typed comparison of two stat-encoded values: None when either
    * side is outside the safely-ordered encoding (then callers must NOT
    * prune). Sign of the result orders `a` against `b`. */
  def cmpValues(c: ColumnDef, a: String, b: String): Option[Int] =
    if (!safeValue(c, a) || !safeValue(c, b)) None
    else Some(cmp(c, a, b))

  /** Smaller / larger of two stat values under the column's type order —
    * for folding per-file min/max into a table-level answer
    * (metadata-only aggregates). */
  def minOf(c: ColumnDef, a: String, b: String): String =
    if (cmp(c, a, b) <= 0) a else b
  def maxOf(c: ColumnDef, a: String, b: String): String =
    if (cmp(c, a, b) >= 0) a else b

  /** Types whose parquet FOOTER statistics are exact and render
    * byte-identically to the Spark `cast(col AS string)` harvest:
    * integral types (footer min/max are true extrema, decimal
    * rendering) and dates (int32 epoch days → ISO). Strings are
    * excluded (writers may truncate binary stats — a truncated max
    * understates, and manifest stats must stay EXACT because statsAgg
    * serves them as ANSWERS, not just pruning bounds); float/double are
    * excluded (NaN-containing columns break the footer/SQL min-max
    * equivalence and NaN presence is not detectable from the footer). */
  def footerExact(c: ColumnDef): Boolean = c.typeJson match {
    case "\"integer\"" | "\"long\"" | "\"short\"" | "\"byte\"" |
         "\"date\"" => true
    case _ => false
  }

  /** Epoch-day window where `LocalDate.toString` and Spark's
    * date→string cast agree on the zero-padded 4-digit-year ISO form:
    * 0001-01-01 .. 9999-12-31. Outside it the renderings diverge
    * ('+10000-…') — the stat is dropped, pruning degrades to scanning. */
  private val MinSafeEpochDay = java.time.LocalDate.of(1, 1, 1).toEpochDay
  private val MaxSafeEpochDay = java.time.LocalDate.of(9999, 12, 31).toEpochDay

  private def renderFooterValue(c: ColumnDef, v: Long): Option[String] =
    c.typeJson match {
      case "\"date\"" =>
        if (v < MinSafeEpochDay || v > MaxSafeEpochDay) None
        else Some(java.time.LocalDate.ofEpochDay(v).toString)
      case _ => Some(v.toString)
    }

  /** Per-file min/max harvested from the parquet FOOTER the write path
    * already opens for row counts — zero Spark jobs, the Iceberg-style
    * write-time stats collection. Only called when every stat column is
    * [[footerExact]]; any absent/untrustworthy chunk statistic drops
    * that column's stat (pruning degrades to scanning, statsAgg to an
    * exact fallback scan — never to wrong answers). */
  def fromFooter(md: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      cols: Seq[ColumnDef]): Map[String, ColStat] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
    val blocks = md.getBlocks.asScala.toSeq
    cols.flatMap { c =>
      var lo = Long.MaxValue; var hi = Long.MinValue
      var seen = false; var trusted = true
      var nulls = 0L; var nullsKnown = true
      def foldNulls(s: org.apache.parquet.column.statistics.Statistics[_]): Unit =
        if (s.isNumNullsSet && s.getNumNulls >= 0) nulls += s.getNumNulls
        else nullsKnown = false
      blocks.foreach { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == c.name) match {
          case None => trusted = false
          case Some(cc) => cc.getStatistics match {
            case s: IntStatistics if s.hasNonNullValue =>
              lo = math.min(lo, s.getMin.toLong)
              hi = math.max(hi, s.getMax.toLong); seen = true; foldNulls(s)
            case s: LongStatistics if s.hasNonNullValue =>
              lo = math.min(lo, s.getMin)
              hi = math.max(hi, s.getMax); seen = true; foldNulls(s)
            case s if s != null && !s.hasNonNullValue && s.getNumNulls >= 0 =>
              foldNulls(s) // chunk holds no non-null values — only nulls
            case _ => trusted = false // stats absent or unexpected shape
          }
        }
      }
      if (!trusted || !seen) None
      else for (mn <- renderFooterValue(c, lo); mx <- renderFooterValue(c, hi))
        yield c.name -> ColStat(mn, mx,
          if (nullsKnown) Some(nulls) else None)
    }.toMap
  }
}

object Manifest {
  /** The stored document IS the snapshot; a table's `files` live in its
    * blobs, so they are never written into the document. */
  private[lake] implicit val fmts: Formats = Serialization.formats(NoTypeHints) +
    FieldSerializer[TableState](FieldSerializer.ignore("files"))

  /** The document format every commit writes (`Snapshot.aggV`). */
  val Format = 2

  /** Fold a table's blob list into one when it grows past this — bounds
    * read fan-out at O(threshold) blob fetches per table. */
  val BlobMergeThreshold = 32

  /** Header-history tail length every snapshot document retains
    * unconditionally. Beyond it, headers of EXPIRED versions are dropped
    * at commit build (their expiry/stream-tag facts live in the eager
    * aggregates; live versions always keep their header for
    * snapshots()/time travel). Bounds document size and cold-load time
    * at O(live versions + 256) instead of O(all versions ever). */
  val HeaderRetain = 256

  /** Commit kinds that change a table's LOGICAL rows (plus rename-over,
    * which re-points the name): the change feed's offset-advancing set,
    * stamped into TableState.lastDataVersion at commit build. */
  val DataChangeKinds: Set[String] = Set(
    "tables_created", "tables_inserted_into", "tables_updated",
    "tables_deleted_from", "tables_merged", "tables_replaced",
    "tables_restored", "tables_truncated", "tables_files_added",
    "tables_cloned")
  private[lake] val StampKinds: Set[String] =
    DataChangeKinds + "tables_renamed"

  /** Kinds that break the APPEND-ONLY streaming contract — stamped into
    * TableState.lastNonAppendVersion. CoW DML and layout rewrites
    * re-stage surviving rows as new files (a file stream would replay
    * them), MoR deletes leave tombstoned rows a raw file source cannot
    * subtract, and schema changes make the capture schema wrong for
    * files written before the change. */
  val NonAppendKinds: Set[String] = Set(
    "tables_updated", "tables_deleted_from", "tables_merged",
    "tables_replaced", "tables_restored", "tables_compacted",
    "tables_clustered", "tables_altered")

  /** Commit kinds that END a name's column identity: a replace restarts
    * column ids; a rename in either direction re-points what the name
    * denotes; a drop ends it outright. Folded into
    * [[Snapshot.identityBreaks]] at commit build so change-feed guards
    * survive header-tail compaction. */
  val IdentityBreakKinds: Seq[String] = Seq(
    "tables_replaced", "tables_renamed", "tables_renamed_from",
    "tables_dropped")

  /** Tag -> (prefix, numeric suffix) when the tag ends in `:<digits>`
    * (every engine-generated stream tag does); None keeps exact-match
    * residual semantics. */
  private[graft] def splitTag(tag: String): Option[(String, Long)] = {
    val i = tag.lastIndexOf(':')
    if (i <= 0 || i == tag.length - 1) None
    else {
      val suffix = tag.substring(i + 1)
      if (suffix.forall(_.isDigit) && suffix.length <= 18)
        Some((tag.substring(0, i), suffix.toLong))
      else None
    }
  }

  private[graft] def foldTags(seen0: Map[String, Long], residual0: Set[String],
      tags: Seq[String]): (Map[String, Long], Set[String]) = {
    var seen = seen0; var residual = residual0
    tags.foreach { t =>
      splitTag(t) match {
        case Some((p, id)) =>
          if (seen.get(p).forall(_ < id)) seen = seen.updated(p, id)
        case None => residual = residual + t
      }
    }
    (seen, residual)
  }

  val empty: Snapshot = Snapshot(0L, 0L, 0L, Map.empty, Map.empty, Map.empty)

  /** Immutable blob contents, cached process-wide; keys are namespaced by
    * store location. Entries are dropped when vacuum deletes the blob. */
  private[lake] val blobCache = new ConcurrentHashMap[String, Seq[FileEntry]]()

  /** Diagnostic: physical snapshot-document reads (cache misses at the
    * catalog layer) made by the calling thread. Tests assert
    * metadata-read complexity with this; counting per thread keeps the
    * reads of suites running concurrently in the same JVM out of it. */
  val manifestFileReads: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => 0L)

  def manifestDir(root: String) = new Path(root, "_manifest")

  def fs(root: String, conf: Configuration): FileSystem =
    new Path(root).getFileSystem(conf)
}

/** Storage seam for catalog metadata. Backends implement the raw
  * document/blob primitives; the incremental-delta logic (blob deltas,
  * merges, header history, race cleanup) is shared and identical across
  * backends, so a catalog migrates between them losslessly. */
trait ManifestStore {
  import Manifest._

  // ------------------------------------------------------ backend primitives
  def currentVersion(): Long
  /** Oldest version still materialized — vacuum moves this forward; the
    * visible snapshot history starts here (expired versions are listed
    * nowhere and refuse time travel). 1 when nothing was ever expired. */
  def minAvailableVersion(): Long
  /** Every version still materialized. Tag-retained vacuums leave HOLES
    * (an old tagged snapshot outlives its untagged neighbors), so the
    * snapshot feed filters on membership, not on a min bound. One
    * metadata listing — never O(versions) document reads. */
  def availableVersions(): Seq[Long]
  def deleteVersion(v: Long): Unit
  protected def readDoc(v: Long): String
  /** Atomically claim version `v`; false when another writer owns it. */
  protected def writeDocExclusive(v: Long, json: String): Boolean
  protected def readBlobRaw(name: String): String
  protected def writeBlobRaw(name: String, json: String): Unit
  protected def deleteBlobRaw(name: String): Unit
  protected def listBlobNames(): Seq[String]
  /** Namespace for the process-wide blob cache. */
  protected def cacheNs: String

  // ---------------------------------------------------------- shared logic
  private def loadBlob(name: String): Seq[FileEntry] =
    blobCache.computeIfAbsent(s"$cacheNs#$name", _ =>
      JsonMethods.parse(readBlobRaw(name)).extract[Seq[FileEntry]])

  private def writeBlob(v: Long, entries: Seq[FileEntry]): String = {
    val name = s"b$v-${java.util.UUID.randomUUID().toString.take(8)}.json"
    writeBlobRaw(name, Serialization.write(entries))
    blobCache.put(s"$cacheNs#$name", entries)
    name
  }

  private def dropBlob(name: String): Unit = {
    blobCache.remove(s"$cacheNs#$name")
    try deleteBlobRaw(name) catch { case _: Exception => }
  }

  final def load(v: Long): Snapshot = {
    if (v == 0L) return Manifest.empty
    manifestFileReads.set(manifestFileReads.get + 1)
    val doc = JsonMethods.parse(readDoc(v)).extract[Snapshot]
    if (doc.aggV < Format) throw new IllegalStateException(
      s"manifest v$v has document format ${doc.aggV}: it predates the " +
        s"current format $Format and cannot be read")
    // Cold loads parse every blob's JSON — measured ~12 µs/entry
    // single-threaded (12 s for a 10⁶-entry table, BASELINE.md), and
    // a long-lived table spreads its entries over MANY per-commit
    // blobs, so the parses are independent work. Load uncached blobs in
    // parallel (order restored by name afterwards); warm loads hit the
    // process-wide cache and never spawn a task.
    val allBlobs = doc.tables.values.flatMap(_.blobs).toSeq.distinct
    val cold = allBlobs.filterNot(b => blobCache.containsKey(s"$cacheNs#$b"))
    if (cold.size > 1) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.sequence(cold.map(b => Future { loadBlob(b); () })),
        Duration.Inf)
    }
    doc.copy(tables = doc.tables.map { case (name, st) =>
      name -> st.copy(files = st.blobs.flatMap(loadBlob)) })
  }

  /** Atomically publish `s` as version `v`, deltaing each table's file
    * list against `base` (the snapshot the transaction was built on):
    * unchanged file lists re-reference the base's blobs byte-free, pure
    * appends write one O(delta) blob, rewrites write one consolidated
    * blob. Returns the STORED snapshot (blob bookkeeping corrected) when
    * this writer wins, None when another writer took version `v` first
    * (caller retries on fresh state; this writer's blobs are deleted). */
  final def publish(v: Long, s: Snapshot, base: Snapshot): Option[Snapshot] = {
    var written = List.empty[String]
    def blobFor(entries: Seq[FileEntry]): String = {
      val n = writeBlob(v, entries)
      written ::= n
      n
    }
    val storedTables = s.tables.map { case (name, st) =>
      val baseSt = base.tables.get(name)
      val baseFiles = baseSt.map(_.files).getOrElse(Nil)
      val baseBlobs = baseSt.map(_.blobs).getOrElse(Nil)
      val blobs =
        if (st.files == baseFiles) baseBlobs
        else if (st.files.startsWith(baseFiles) && baseFiles.nonEmpty) {
          if (baseBlobs.size + 1 > BlobMergeThreshold) Seq(blobFor(st.files))
          else baseBlobs :+ blobFor(st.files.drop(baseFiles.size))
        }
        else if (st.files.isEmpty) Nil
        else Seq(blobFor(st.files))
      name -> st.copy(blobs = blobs)
    }
    val stored = s.copy(tables = storedTables)
    if (writeDocExclusive(v, Serialization.write(stored))) Some(stored)
    else {
      written.foreach(dropBlob)
      None
    }
  }

  /** Blob GC for vacuum: delete every blob not referenced by `kept`
    * snapshots (and evict it from the cache). Blob names embed the
    * version that wrote them (`b<v>-…`); only blobs from versions
    * <= `maxVersion` are candidates, so a concurrent writer staging
    * blobs for a NEWER commit can never have them swept mid-publish. */
  final def gcBlobs(kept: Seq[Snapshot], maxVersion: Long): Unit = {
    val live = kept.flatMap(_.tables.values.flatMap(_.blobs)).toSet
    listBlobNames().filter { n =>
      val v = n.stripPrefix("b").takeWhile(_.isDigit)
      v.nonEmpty && v.toLong <= maxVersion && !live.contains(n)
    }.foreach(dropBlob)
  }
}

/** File-backed store: documents under `<root>/_manifest/v{N}.json`, blobs
  * under `<root>/_manifest/blobs/`, all through the Hadoop FileSystem API
  * (local fs, hdfs://, s3a:// unchanged).
  *
  * Commit atomicity (the object-store seam, same class as Delta's
  * LogStore / Iceberg's commit lock): local fs uses a hard link (atomic +
  * EEXIST), HDFS uses create-exclusive (atomic). s3a has no
  * create-exclusive, so there exists()+create(false) is check-then-act —
  * concurrent commits to an object-store-rooted lake should use
  * [[JdbcManifestStore]] (or a conditional-PUT LogStore) as the catalog
  * instead; reads and single-writer pipelines are safe unchanged. */
final class FileManifestStore(root: String, conf: Configuration)
    extends ManifestStore {
  private val f = Manifest.fs(root, conf)
  private def dir = Manifest.manifestDir(root)
  private def blobDir = new Path(dir, "blobs")
  private def versionPath(v: Long) = new Path(dir, s"v$v.json")
  protected def cacheNs: String =
    f.makeQualified(new Path(root)).toUri.toString

  private def listVersions(): Seq[Long] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }.toSeq

  def currentVersion(): Long = {
    val vs = listVersions()
    if (vs.isEmpty) 0L else vs.max
  }

  def minAvailableVersion(): Long = {
    val vs = listVersions()
    if (vs.isEmpty) 1L else vs.min
  }

  def availableVersions(): Seq[Long] = listVersions()

  def deleteVersion(v: Long): Unit = f.delete(versionPath(v), false)

  private def readBytes(p: Path): String = {
    val in = f.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  protected def readDoc(v: Long): String = readBytes(versionPath(v))
  protected def readBlobRaw(name: String): String =
    readBytes(new Path(blobDir, name))

  protected def writeBlobRaw(name: String, json: String): Unit = {
    f.mkdirs(blobDir)
    val out = f.create(new Path(blobDir, name), false)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  protected def deleteBlobRaw(name: String): Unit =
    f.delete(new Path(blobDir, name), false)

  protected def listBlobNames(): Seq[String] =
    if (!f.exists(blobDir)) Nil
    else f.listStatus(blobDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))

  protected def writeDocExclusive(v: Long, json: String): Boolean = {
    f.mkdirs(dir)
    val target = versionPath(v)
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    if (f.getScheme == "file") {
      val tmp = new Path(dir, s".v$v.${java.util.UUID.randomUUID}.tmp")
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      val localTmp = Paths.get(tmp.toUri.getPath)
      val localTarget = Paths.get(target.toUri.getPath)
      try { Files.createLink(localTarget, localTmp); Files.delete(localTmp); true }
      catch { case _: FileAlreadyExistsException =>
        Files.delete(localTmp); false }
    } else {
      if (f.exists(target)) return false
      try {
        val out = f.create(target, false) // create-exclusive
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }
}

/** SQL-database-backed store — DuckLake's defining design choice
  * (ref README.md:227-245: "SQL database as lakehouse catalog",
  * demos/05_catalog_portability/demo.py:195): snapshot documents and
  * blobs are ROWS in a transactional database reached by a JDBC DSN
  * (Derby embedded ships with Spark; the same SQL works on
  * PostgreSQL/MySQL DSNs). Data files stay on the lake root — only the
  * catalog moves into the database.
  *
  * Version claiming is a PRIMARY KEY insert — a true conditional put with
  * database-grade atomicity, so many concurrent writers coordinate
  * through one transactional catalog (ref README.md:244) even when the
  * data lives on an object store with no create-exclusive. Metadata
  * access is one SQL query (ref README.md:245).
  *
  * == Derby ↔ PostgreSQL/MySQL dialect audit ==
  * (no network egress in this sandbox, so the wire-level smoke runs on
  * embedded Derby; this is the exact delta a Postgres/MySQL DSN needs)
  *
  *  1. '''Schema init''': Derby lacks `IF NOT EXISTS`, so init swallows
  *     SQLState `X0Y32` (table exists). PostgreSQL supports
  *     `CREATE TABLE IF NOT EXISTS` (or swallow `42P07`); MySQL likewise
  *     (or swallow errno 1050). The guard list, not the DDL, changes.
  *  2. '''Types''': `CLOB` → PostgreSQL `TEXT`, MySQL `LONGTEXT`;
  *     `VARCHAR(80)`/`BIGINT` are portable. Access is plain
  *     `setString`/`getString`, which every driver maps onto its text
  *     type — no LOB-locator API is used anywhere.
  *  3. '''Conditional put''': the duplicate-PK loser detection keys on
  *     SQLState `23505` — identical on Derby and PostgreSQL; MySQL
  *     reports `23000` (errno 1062), so the catch widens to
  *     `e.getSQLState.startsWith("23")`.
  *  4. '''Isolation''': every operation is a single auto-committed
  *     statement (one `INSERT`/`SELECT`/`DELETE` per connection lease);
  *     no multi-statement transaction is ever open, so default READ
  *     COMMITTED on Postgres/MySQL gives the same observable semantics
  *     as Derby's default.
  *  5. '''Driver loading''': `DriverManager.getConnection(dsn)` —
  *     JDBC 4 service discovery, no `Class.forName`; dropping the
  *     Postgres/MySQL driver jar on the classpath is the only install
  *     step. */
/** The dialect seam itself, selected from the DSN — every dialect-
  * sensitive decision from the audit above lives HERE as code, so adding
  * an engine is one case object and the Derby spec matrix exercises all
  * shared logic. Postgres/MySQL stay unprovable wire-level in this
  * zero-egress image (no server, no driver jar), but their dialect
  * objects are unit-tested directly (SqlCatalogSpec) so the seam cannot
  * silently rot. */
private[graft] sealed trait SqlDialect {
  def name: String
  /** Large-text column type for manifest documents. */
  def textType: String
  /** Idempotent create-table prefix; paired with [[tableExists]] when
    * the engine lacks IF NOT EXISTS. */
  def createTable: String
  /** Does this exception mean "table already exists" (schema-init
    * race / rerun)? Only consulted when [[createTable]] is not
    * conditional. */
  def tableExists(e: java.sql.SQLException): Boolean
}

private[graft] object SqlDialect {
  case object Derby extends SqlDialect {
    val name = "derby"; val textType = "CLOB"
    val createTable = "CREATE TABLE" // no IF NOT EXISTS on Derby
    def tableExists(e: java.sql.SQLException): Boolean =
      e.getSQLState == "X0Y32"
  }
  case object Postgres extends SqlDialect {
    val name = "postgresql"; val textType = "TEXT"
    val createTable = "CREATE TABLE IF NOT EXISTS"
    def tableExists(e: java.sql.SQLException): Boolean =
      e.getSQLState == "42P07" // belt for pre-9.1 servers
  }
  case object MySql extends SqlDialect {
    val name = "mysql"; val textType = "LONGTEXT"
    val createTable = "CREATE TABLE IF NOT EXISTS"
    def tableExists(e: java.sql.SQLException): Boolean =
      e.getErrorCode == 1050
  }
  /** JDBC DSNs name their driver in the subprotocol: `jdbc:<engine>:…`. */
  def fromDsn(dsn: String): SqlDialect =
    dsn.stripPrefix("jdbc:").takeWhile(_ != ':') match {
      case "postgresql" => Postgres
      case "mysql" | "mariadb" => MySql
      case _ => Derby
    }
  /** Duplicate-PK loser detection for the conditional put — the full
    * SQLState integrity class: 23505 on Derby/PostgreSQL, 23000 on
    * MySQL (errno 1062). Dialect-invariant by taking the class. */
  def duplicateKey(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).exists(_.startsWith("23"))
}

final class JdbcManifestStore(dsn: String) extends ManifestStore {
  import java.sql.{Connection, DriverManager}

  protected def cacheNs: String = dsn.takeWhile(_ != ';')

  private val dialect = SqlDialect.fromDsn(dsn)

  // keep Derby quiet (it writes derby.log into the cwd by default)
  System.setProperty("derby.stream.error.file",
    s"${System.getProperty("java.io.tmpdir")}/derby.log")

  private def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(dsn)
    try f(c) finally c.close()
  }

  // one-time schema init; engines without IF NOT EXISTS swallow their
  // own "exists" signal (the dialect knows which it is)
  withConn { c =>
    def tryDdl(sql: String): Unit =
      try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
      catch { case e: java.sql.SQLException if dialect.tableExists(e) => () }
    tryDdl(s"${dialect.createTable} graft_manifests " +
      s"(version BIGINT PRIMARY KEY, doc ${dialect.textType})")
    tryDdl(s"${dialect.createTable} graft_blobs " +
      s"(name VARCHAR(80) PRIMARY KEY, entries ${dialect.textType})")
  }

  def currentVersion(): Long = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT MAX(version) FROM graft_manifests")
      if (rs.next() && rs.getObject(1) != null) rs.getLong(1) else 0L
    } finally st.close()
  }

  def minAvailableVersion(): Long = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT MIN(version) FROM graft_manifests")
      if (rs.next() && rs.getObject(1) != null) rs.getLong(1) else 1L
    } finally st.close()
  }

  def availableVersions(): Seq[Long] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT version FROM graft_manifests")
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (rs.next()) out += rs.getLong(1)
      out.toSeq
    } finally st.close()
  }

  def deleteVersion(v: Long): Unit = withConn { c =>
    val ps = c.prepareStatement("DELETE FROM graft_manifests WHERE version = ?")
    try { ps.setLong(1, v); ps.executeUpdate() } finally ps.close()
  }

  private def selectOne(sql: String, set: java.sql.PreparedStatement => Unit): Option[String] =
    withConn { c =>
      val ps = c.prepareStatement(sql)
      try {
        set(ps)
        val rs = ps.executeQuery()
        if (rs.next()) Option(rs.getString(1)) else None
      } finally ps.close()
    }

  protected def readDoc(v: Long): String =
    selectOne("SELECT doc FROM graft_manifests WHERE version = ?", _.setLong(1, v))
      .getOrElse(throw new java.io.FileNotFoundException(s"no manifest version $v in $cacheNs"))

  protected def readBlobRaw(name: String): String =
    selectOne("SELECT entries FROM graft_blobs WHERE name = ?", _.setString(1, name))
      .getOrElse(throw new java.io.FileNotFoundException(s"no blob $name in $cacheNs"))

  protected def writeBlobRaw(name: String, json: String): Unit = withConn { c =>
    val ps = c.prepareStatement("INSERT INTO graft_blobs VALUES (?, ?)")
    try { ps.setString(1, name); ps.setString(2, json); ps.executeUpdate(); () }
    finally ps.close()
  }

  protected def deleteBlobRaw(name: String): Unit = withConn { c =>
    val ps = c.prepareStatement("DELETE FROM graft_blobs WHERE name = ?")
    try { ps.setString(1, name); ps.executeUpdate(); () } finally ps.close()
  }

  protected def listBlobNames(): Seq[String] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT name FROM graft_blobs")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) out += rs.getString(1)
      out.toSeq
    } finally st.close()
  }

  /** The conditional put: INSERT into a PRIMARY-KEY'd table — the
    * database serializes racing writers; the loser gets a duplicate-key
    * violation, never a torn or overwritten commit. */
  protected def writeDocExclusive(v: Long, json: String): Boolean = withConn { c =>
    val ps = c.prepareStatement("INSERT INTO graft_manifests VALUES (?, ?)")
    try { ps.setLong(1, v); ps.setString(2, json); ps.executeUpdate(); true }
    // integrity-violation class — see SqlDialect.duplicateKey
    catch { case e: java.sql.SQLException
        if SqlDialect.duplicateKey(e) => false }
    finally ps.close()
  }
}
