package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType}

/** Manifest-backed [[FileIndex]] — the scale piece that turns every lake
  * scan's pushed predicates into FILE-level skipping at plan time (the
  * Delta `TahoeFileIndex` shape):
  *
  *  - ZERO filesystem metadata calls: the manifest already knows every
  *    file's path and exact length, so `listFiles` fabricates the
  *    `FileStatus` list instead of listing the store — at 100 TB /
  *    10^6 files this deletes the object-store LIST/HEAD storm that
  *    `spark.read.parquet(paths*)` pays to build an InMemoryFileIndex.
  *  - Pushed data filters prune files BEFORE the scan is planned, from
  *    per-file min/max, partition value sets and bloom sidecars, for
  *    every predicate shape Catalyst pushes (conjunctions, disjunctions,
  *    comparisons, IN, null tests). This is the ONLY place that decides
  *    from manifest metadata whether a file may hold a row: the
  *    `readRange`/`readPartition`/`readPoint` APIs, `deletePartitions`
  *    and the PK check state a typed filter and take the files the
  *    planned scan lists ([[LakeCatalog.scannedEntries]]).
  *  - Pruning is CONSERVATIVE by construction: any expression shape or
  *    value encoding it doesn't understand keeps the file, and Spark
  *    re-applies the full predicate row-level — skipping can only save
  *    work, never change answers (same contract as [[Stats.overlaps]]).
  *
  * One index per (schema-version, has-deletion-vector) file group —
  * matching the scan grouping in `LakeCatalog.readState` — so
  * column names here are the group's write-time names, which is exactly
  * the namespace the pushed filters use (they are pushed below the
  * rename-align projection).
  */
final class GraftFileIndex(
    tableDir: Path,
    entries: Seq[FileEntry],
    cols: Seq[ColumnDef],
    abs: String => Path,
    bloomHit: (String, String) => Boolean) extends FileIndex {

  private val byName: Map[String, ColumnDef] = cols.map(c => c.name -> c).toMap

  override def rootPaths: Seq[Path] = Seq(tableDir)
  override def partitionSchema: StructType = StructType(Nil)
  override def refresh(): Unit = () // manifest snapshots are immutable
  override def sizeInBytes: Long = math.max(1L, entries.map(_.sizeBytes).sum)
  override def inputFiles: Array[String] =
    entries.map(e => abs(e.path).toString).toArray

  /** The entries that may hold a row passing every one of `dataFilters`. */
  def kept(dataFilters: Seq[Expression]): Seq[FileEntry] =
    dataFilters.foldLeft(entries)((es, f) => es.filter(keep(_, f)))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, kept(dataFilters).map { e =>
      // fabricated from manifest metadata — length must be EXACT (it is:
      // recorded at write), mtime/locality are unused by the reader
      FileStatusWithMetadata(new FileStatus(
        e.sizeBytes, false, 1, 128L * 1024 * 1024, 0L, abs(e.path)),
        Map.empty)
    }))

  private def colOf(e: Expression): Option[ColumnDef] = e match {
    case a: AttributeReference => byName.get(a.name).filter(Stats.comparable)
    case _ => None
  }

  /** May file `e` contain a row satisfying `f`? Unknown shapes → true. */
  private def keep(e: FileEntry, f: Expression): Boolean = f match {
    case And(l, r) => keep(e, l) && keep(e, r)
    case Or(l, r) => keep(e, l) || keep(e, r)
    case Not(IsNull(a)) => keep(e, IsNotNull(a))
    case Not(IsNotNull(a)) => keep(e, IsNull(a))
    case EqualTo(a, l: Literal) => point(e, a, l.value)
    case EqualTo(l: Literal, a) => point(e, a, l.value)
    // a <=> v: a NULL literal matches only null rows; a non-null
    // literal matches exactly the rows a = v does (nulls never match)
    case EqualNullSafe(a, l: Literal) =>
      if (l.value == null) mayHaveNull(e, a) else point(e, a, l.value)
    case EqualNullSafe(l: Literal, a) =>
      if (l.value == null) mayHaveNull(e, a) else point(e, a, l.value)
    // NOT (a = v): skippable when the file is provably CONSTANT v
    // (min == max == v) — null rows don't pass the filter either
    // (NOT NULL is NULL), so the null count is irrelevant here
    case Not(EqualTo(a, l: Literal)) => notPoint(e, a, l.value)
    case Not(EqualTo(l: Literal, a)) => notPoint(e, a, l.value)
    // NOT (a <=> v): null rows DO match a non-null v (false -> true),
    // so skipping additionally needs a known-zero null count; with a
    // NULL literal it matches every non-null row
    case Not(EqualNullSafe(a, l: Literal)) =>
      if (l.value == null) mayHaveNonNull(e, a)
      else notPoint(e, a, l.value) || mayHaveNull(e, a)
    case Not(EqualNullSafe(l: Literal, a)) =>
      if (l.value == null) mayHaveNonNull(e, a)
      else notPoint(e, a, l.value) || mayHaveNull(e, a)
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => point(e, a, v.asInstanceOf[Literal].value))
    case i: InSet => i.child match {
      case a: AttributeReference => i.hset.exists(v => point(e, a, v))
      case _ => true
    }
    case LessThan(a, l: Literal) => below(e, a, l.value)
    case LessThanOrEqual(a, l: Literal) => below(e, a, l.value)
    case GreaterThan(l: Literal, a) => below(e, a, l.value)
    case GreaterThanOrEqual(l: Literal, a) => below(e, a, l.value)
    case GreaterThan(a, l: Literal) => above(e, a, l.value)
    case GreaterThanOrEqual(a, l: Literal) => above(e, a, l.value)
    case LessThan(l: Literal, a) => above(e, a, l.value)
    case LessThanOrEqual(l: Literal, a) => above(e, a, l.value)
    case StartsWith(a, Literal(p, _)) if p != null =>
      colOf(a) match {
        case Some(c) if a.dataType == StringType =>
          val pre = p.toString
          // every string with this prefix sits in [pre, nextPrefix):
          // bump the last non-￿ char and drop the tail — when the
          // whole prefix is ￿ there is no upper bound (keep file)
          val bound = {
            val i = pre.lastIndexWhere(_ != '￿')
            if (i < 0) None
            else Some(pre.substring(0, i) + (pre.charAt(i) + 1).toChar)
          }
          bound match {
            case Some(hi) => Stats.overlaps(e.stats.get(c.name), c, pre, hi)
            case None => true
          }
        case _ => true
      }
    case IsNull(a) => mayHaveNull(e, a)
    case IsNotNull(a) => mayHaveNonNull(e, a)
    case _ => true
  }

  /** May the file contain a NULL row of `attr`? Prunable only when the
    * null count is known-zero; unknown shapes/columns keep the file. */
  private def mayHaveNull(e: FileEntry, attr: Expression): Boolean =
    attr match {
      case a: AttributeReference =>
        byName.get(a.name).isEmpty ||
          e.stats.get(a.name).flatMap(_.nulls).forall(_ > 0L)
      case _ => true
    }

  /** May the file contain a NON-null row of `attr`? An all-null file
    * (nulls == rows, known exactly) has none. */
  private def mayHaveNonNull(e: FileEntry, attr: Expression): Boolean =
    attr match {
      case a: AttributeReference =>
        byName.get(a.name).isEmpty ||
          e.stats.get(a.name).flatMap(_.nulls).forall(_ < e.rowCount)
      case _ => true
    }

  /** NOT-equals keep test: the file survives unless it is provably
    * CONSTANT at `value` (min == max == v under a safe typed compare —
    * then no non-null row can differ from v). */
  private def notPoint(e: FileEntry, attr: Expression, value: Any): Boolean =
    colOf(attr) match {
      case Some(c) =>
        !(for {
          v <- Stats.encode(c, value)
          st <- e.stats.get(c.name)
          lo <- Stats.cmpValues(c, st.min, v)
          hi <- Stats.cmpValues(c, st.max, v)
        } yield lo == 0 && hi == 0).getOrElse(false)
      case None => true
    }

  /** May file `e` hold `attr = value`? The min/max range, the partition
    * value set and the bloom sidecar must each admit the encoded value
    * (the harvest's `cast(col AS string)` form); every missing piece
    * admits it, so a file is only skipped on proof. */
  private def point(e: FileEntry, attr: Expression, value: Any): Boolean =
    colOf(attr).forall(c => Stats.encode(c, value).forall { v =>
      Stats.overlaps(e.stats.get(c.name), c, v, v) &&
        e.pvals.get(c.name).forall(vs => vs.isEmpty || vs.contains(v)) &&
        e.blooms.get(c.name).forall(bloomHit(_, v))
    })

  /** a <(=) v — the file may match iff its MIN does not exceed v.
    * Non-strict comparison on purpose: equality at the bound keeps the
    * file (conservative; strictness is re-checked row-level). */
  private def below(e: FileEntry, attr: Expression, value: Any): Boolean =
    colOf(attr) match {
      case Some(c) =>
        (for {
          v <- Stats.encode(c, value)
          st <- e.stats.get(c.name)
          r <- Stats.cmpValues(c, st.min, v)
        } yield r <= 0).getOrElse(true)
      case None => true
    }

  /** a >(=) v — the file may match iff its MAX is at least v. */
  private def above(e: FileEntry, attr: Expression, value: Any): Boolean =
    colOf(attr) match {
      case Some(c) =>
        (for {
          v <- Stats.encode(c, value)
          st <- e.stats.get(c.name)
          r <- Stats.cmpValues(c, st.max, v)
        } yield r >= 0).getOrElse(true)
      case None => true
    }
}
