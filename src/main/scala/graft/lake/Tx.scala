package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One in-flight transaction: staged multi-table mutations over a base
  * snapshot. Data files are written immediately (unreferenced until the
  * manifest publish makes them live), metadata changes accumulate in
  * memory; `LakeCatalog.transaction` publishes or rolls back.
  *
  * Every mutation is a declarative Spark job over the staged state, so the
  * engine work (scan, filter, rewrite, constraint checks) is distributed
  * and codegen'd; only bookkeeping runs on the driver.
  */
object Tx {
  /** Cap on driver-collected affected-file paths in copy-on-write DML;
    * beyond it the op rewrites the whole table (see affectedFiles). */
  val MaxAffectedPaths = 100000
}

/** Clause set for [[Tx.mergeClauses]] — the Delta/Iceberg full MERGE
  * surface. Each clause is an optional SQL boolean condition, `"true"`
  * for unconditional, `None` for clause absent:
  *
  *  - `matchedDelete` / `matchedUpdate`: WHEN MATCHED [AND cond] THEN
  *    DELETE / UPDATE SET * — conditions see BOTH rows via the aliases
  *    `s` (source) and `t` (target); delete evaluates BEFORE update (the
  *    fixed clause order — Delta's user-ordered clause list collapsed to
  *    the one ordering that is never lossy).
  *  - `notMatchedInsert`: WHEN NOT MATCHED [AND cond] THEN INSERT * —
  *    the condition sees the bare source columns.
  *  - `bySourceDelete`: WHEN NOT MATCHED BY SOURCE [AND cond] THEN
  *    DELETE — the condition sees the target via the `t` alias.
  *
  * A condition evaluating NULL is not satisfied (SQL MERGE semantics). */
final case class MergeClauses(
    matchedDelete: Option[String] = None,
    matchedUpdate: Option[String] = None,
    notMatchedInsert: Option[String] = None,
    bySourceDelete: Option[String] = None)

class Tx private[lake] (cat: LakeCatalog, base: Snapshot) {
  private val spark: SparkSession = cat.spark
  private val tables = mutable.LinkedHashMap.from(base.tables)
  private val views = mutable.LinkedHashMap.from(base.views)
  private val tagRefs = mutable.LinkedHashMap.from(base.refs)
  private val changes = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
  private val stagedDirs = mutable.ArrayBuffer.empty[Path]
  private var ddlCount = 0

  // ---- rebase bookkeeping (see LakeCatalog.transaction) --------------
  // Every table this txn READ or WROTE (its conflict set), and whether it
  // performed anything that is not table-scoped (view/tag DDL, stream
  // tags, vacuum) — those make a rebase unsafe and force a body re-run.
  private val touchedNames = mutable.LinkedHashSet.empty[String]
  private var rebaseUnsafe = false

  private def change(kind: String, table: String): Unit = {
    if (kind.startsWith("tables_")) touchedNames += table
    else rebaseUnsafe = true
    changes.getOrElseUpdate(kind, mutable.LinkedHashSet.empty) += table
  }

  private def state(table: String): TableState = {
    touchedNames += table
    tables.getOrElse(table,
      throw new NoSuchElementException(s"table not found: $table"))
  }

  /** Read a table as staged inside this transaction. */
  def read(table: String): DataFrame = cat.readState(state(table))

  /** Staged state lookup for the catalog's interactive-SQL surface
    * (read-your-writes SELECTs between BEGIN and COMMIT); like [[read]],
    * it adds the table to the conflict set. */
  private[lake] def stagedState(table: String): TableState = state(table)
  private[lake] def stagedTables: Map[String, TableState] = tables.toMap

  // ------------------------------------------------------------------- DDL

  /** D1 `CREATE TABLE` (ref demos/01_transaction_rollback/demo.py:33-55).
    *
    * `partitionBy` declares partition (clustering) columns: every write
    * hash-clusters rows on them, so each partition value lands in one
    * file per batch and the manifest's per-file min/max turn a
    * partition-key filter into an O(matching files) read — hive-style
    * partition pruning at file granularity, with no directory coupling
    * (the layout is metadata + stats, not paths). At 100 TB a scan of
    * one day/source touches that slice's files, never the table. */
  def createTable(name: String, schema: StructType,
      primaryKey: Seq[String] = Nil, notNull: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Unit = {
    require(!tables.contains(name), s"table already exists: $name")
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      ColumnDef(i, f.name, f.dataType.json, None)
    }.toSeq
    tables(name) = TableState(1, Map("1" -> cols), Nil,
      primaryKey, (notNull ++ primaryKey).distinct, cols.size,
      partitionBy = partitionBy)
    ddlCount += 1
    change("tables_created", name)
  }

  /** D2 CTAS (ref utils/ducklake_utils.py:101-111). */
  def createTableAs(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit = {
    createTable(name, df.schema, partitionBy = partitionBy)
    insert(name, df)
  }

  /** D4/D5 `ALTER TABLE ADD COLUMN [DEFAULT v]` — old files read the
    * default back without rewrite (ref demos/03_schema_evolution/demo.py:118-131). */
  def addColumn(table: String, name: String, dataType: DataType,
      defaultSql: Option[String] = None): Unit = {
    flushInlined(table)
    val st = state(table)
    require(!st.columns.exists(_.name == name), s"column exists: $name")
    val v2 = st.schemaVersion + 1
    val cols = st.columns :+ ColumnDef(st.nextColId, name, dataType.json, defaultSql)
    tables(table) = st.copy(schemaVersion = v2,
      schemas = st.schemas + (v2.toString -> cols), nextColId = st.nextColId + 1)
    ddlCount += 1
    change("tables_altered", table)
  }

  /** D6 `ALTER TABLE DROP COLUMN` — metadata only. */
  def dropColumn(table: String, name: String): Unit = {
    flushInlined(table)
    val st = state(table)
    require(st.columns.exists(_.name == name), s"no such column: $name")
    require(!st.partitionBy.contains(name),
      s"cannot drop partition column $table.$name")
    val v2 = st.schemaVersion + 1
    tables(table) = st.copy(schemaVersion = v2,
      schemas = st.schemas + (v2.toString -> st.columns.filterNot(_.name == name)),
      primaryKey = st.primaryKey.filterNot(_ == name),
      notNull = st.notNull.filterNot(_ == name))
    ddlCount += 1
    change("tables_altered", table)
  }

  /** Partition-SPEC evolution (Iceberg `REPLACE PARTITION FIELD` analog):
    * change the declared partition columns, metadata only. Files already
    * written keep the value sets / stats harvested under the OLD spec —
    * pruning is per-file, so old-spec probes keep pruning old files
    * exactly and new writes cluster + index on the NEW spec; no data
    * rewrite ever happens at evolution time (at 100 TB that is the whole
    * point — re-laying a table out is a separate, explicit `compact`/
    * `cluster`, which unifies everything onto the current spec). */
  def setPartitionBy(table: String, cols: Seq[String]): Unit = {
    flushInlined(table)
    val st = state(table)
    cols.foreach(c => require(st.columns.exists(_.name == c),
      s"no such column: $table.$c"))
    tables(table) = st.copy(partitionBy = cols)
    ddlCount += 1
    change("tables_altered", table)
  }

  /** D7 `ALTER TABLE RENAME COLUMN` — metadata only; stable column ids keep
    * old files readable. */
  def renameColumn(table: String, from: String, to: String): Unit = {
    flushInlined(table)
    val st = state(table)
    require(st.columns.exists(_.name == from), s"no such column: $from")
    require(!st.columns.exists(_.name == to), s"column exists: $to")
    val v2 = st.schemaVersion + 1
    val cols = st.columns.map(c => if (c.name == from) c.copy(name = to) else c)
    tables(table) = st.copy(schemaVersion = v2,
      schemas = st.schemas + (v2.toString -> cols),
      primaryKey = st.primaryKey.map(c => if (c == from) to else c),
      notNull = st.notNull.map(c => if (c == from) to else c),
      partitionBy = st.partitionBy.map(c => if (c == from) to else c))
    ddlCount += 1
    change("tables_altered", table)
  }

  /** D8 `ALTER COLUMN SET NOT NULL` — validates existing rows first
    * (ref demos/03_schema_evolution/demo.py:215-221). */
  def setNotNull(table: String, colName: String): Unit = {
    val st = state(table)
    require(st.columns.exists(_.name == colName), s"no such column: $colName")
    if (!read(table).filter(col(colName).isNull).isEmpty)
      throw new ConstraintViolation(
        s"$table.$colName contains NULLs; cannot SET NOT NULL")
    tables(table) = st.copy(notNull = (st.notNull :+ colName).distinct)
    ddlCount += 1
    change("tables_altered", table)
  }

  /** D9 type-change recipe = addColumn + update(copy) + dropColumn +
    * renameColumn composed in ONE transaction
    * (ref demos/03_schema_evolution/demo.py:181-198). PRIMARY KEY / NOT NULL
    * on the changed column survive the drop+rename and are re-validated
    * (the cast may introduce NULLs or collapse distinct values). */
  def changeColumnType(table: String, colName: String, to: DataType): Unit = {
    val st0 = state(table)
    val wasPk = st0.primaryKey.contains(colName)
    val wasNotNull = st0.notNull.contains(colName)
    val tmp = s"__${colName}_cast"
    addColumn(table, tmp, to, None)
    update(table, lit(true), Map(tmp -> col(colName).cast(to)))
    dropColumn(table, colName)
    renameColumn(table, tmp, colName)
    // restore the column's original position (the add/copy/drop/rename
    // recipe parks it at the end; ALTER COLUMN SET DATA TYPE shouldn't)
    locally {
      val st = state(table)
      val order = st0.columns.map(_.name)
      val reordered = st.columns.sortBy(c => order.indexOf(c.name))
      tables(table) = st.copy(
        schemas = st.schemas + (st.schemaVersion.toString -> reordered))
    }
    if (wasNotNull || wasPk) setNotNull(table, colName)
    if (wasPk) {
      val st = state(table)
      tables(table) = st.copy(primaryKey = st0.primaryKey)
      validate(table, state(table), read(table), checkPkAgainstExisting = false)
    }
  }

  /** CHECK constraint (Delta-style `ALTER TABLE ADD CONSTRAINT ... CHECK`;
    * the reference has none — DuckDB checks are table-local): a SQL
    * predicate every row must satisfy, validated against EXISTING rows
    * first (like [[setNotNull]]) and enforced on every subsequent
    * insert/update/merge as a distributed filter — SQL semantics: only
    * a row where the predicate is FALSE violates; NULL passes. Stored
    * as a `check.<name>` table property, so it rides the snapshot and
    * survives migration. */
  def addCheck(table: String, name: String, predicateSql: String): Unit = {
    val st = state(table)
    require(!st.props.contains(s"check.$name"), s"check exists: $name")
    if (!read(table)
        .filter(not(coalesce(expr(predicateSql), lit(true)))).isEmpty)
      throw new ConstraintViolation(
        s"existing rows violate CHECK $name: $predicateSql")
    tables(table) = st.copy(props = st.props + (s"check.$name" -> predicateSql))
    ddlCount += 1
    change("tables_altered", table)
  }

  def dropCheck(table: String, name: String): Unit = {
    val st = state(table)
    require(st.props.contains(s"check.$name"), s"no such check: $name")
    tables(table) = st.copy(props = st.props - s"check.$name")
    ddlCount += 1
    change("tables_altered", table)
  }

  /** D3 `CREATE OR REPLACE VIEW` (ref demos/03_schema_evolution/demo.py:273-288). */
  def createView(name: String, sql: String): Unit = {
    views(name) = sql
    ddlCount += 1
    change("views_created", name)
  }

  def dropTable(name: String): Unit = {
    state(name) // existence check
    tables.remove(name)
    ddlCount += 1
    change("tables_dropped", name)
  }

  def dropView(name: String): Unit = {
    require(views.contains(name), s"no such view: $name")
    views.remove(name)
    ddlCount += 1
    change("views_dropped", name)
  }

  /** `ALTER TABLE RENAME TO` — metadata-only re-key. Stored views are
    * raw SQL over table NAMES, so any view mentioning the table refuses
    * the rename (silently breaking a view at read time is worse). */
  def renameTable(from: String, to: String): Unit = {
    val st = state(from)
    require(!tables.contains(to), s"table already exists: $to")
    val token = s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
    views.collectFirst {
      case (v, sql) if token.findFirstIn(sql).isDefined => v
    }.foreach(v => throw new IllegalArgumentException(
      s"cannot rename $from: view $v references it"))
    tables.remove(from)
    tables(to) = st
    ddlCount += 1
    change("tables_renamed", to)
    // the SOURCE name too: a change stream over `from` must see its
    // identity end here — without this a rename-away is invisible to the
    // feed's offset/guard kinds, and a later re-create under `from` with
    // byte-identical ColumnDefs (ids restart deterministically) would
    // silently splice two tables' histories as a full replace
    change("tables_renamed_from", from)
  }

  /** `TRUNCATE TABLE` — drop every live file and inlined row, keep the
    * schema/constraints/layout; O(metadata) (files stay on disk for time
    * travel until vacuum expires the pre-truncate snapshots). */
  def truncateTable(name: String): Unit = {
    val st = state(name)
    tables(name) = st.copy(files = Nil, inlined = Nil)
    change("tables_truncated", name)
  }

  /** ZERO-COPY clone (Delta `SHALLOW CLONE`): `dst` starts as a new
    * table whose manifest re-references `src`'s files — no data copied,
    * O(table metadata) regardless of size. Copy-on-write keeps the two
    * independent afterwards: a rewrite on either side produces new files
    * while the other keeps the originals, and vacuum's liveness is the
    * union of all references, so shared files survive until NO kept
    * snapshot of either table needs them. Schema history, constraints,
    * properties, stats, bloom/DV sidecar pointers all ride along
    * (sidecars are immutable, so sharing them is safe). */
  def cloneTable(src: String, dst: String): Unit = {
    val st = state(src)
    require(!tables.contains(dst), s"table already exists: $dst")
    tables(dst) = st
    ddlCount += 1
    change("tables_cloned", dst)
  }

  /** Atomically swap `table`'s state for `from`'s (CREATE OR REPLACE ...
    * AS SELECT by reference) — the publish half of write-audit-publish:
    * stage into a clone, audit the staged state, then replace the
    * production table with it in the same transaction. O(metadata). */
  def replaceTable(table: String, from: String): Unit = {
    state(table) // must exist
    tables(table) = state(from)
    ddlCount += 1
    change("tables_replaced", table)
  }

  /** Delta-style `RESTORE TABLE ... VERSION AS OF v`: re-point the table
    * at its state in snapshot `version`, as a NEW commit — history stays
    * intact (every intermediate version remains time-travelable, and the
    * restore itself can be undone by another restore). The old files are
    * re-referenced, not copied, so the op is O(table metadata) regardless
    * of data size. The target snapshot must still be available (not
    * vacuumed); its files are guaranteed live because vacuum only deletes
    * files unreferenced by every kept snapshot — and once this commit
    * publishes, the restored files are referenced by the HEAD snapshot
    * itself. */
  def restoreTable(table: String, version: Long): Unit = {
    state(table) // must exist at current
    require(!versionExpired(version), s"version $version was vacuumed")
    val past = cat.snapshot(version).tables.getOrElse(table,
      throw new NoSuchElementException(s"$table does not exist at v$version"))
    tables(table) = past
    ddlCount += 1 // schema may revert with the data
    change("tables_restored", table)
  }

  /** Catalog version this transaction is built on (= the version the
    * commit will be OCC-validated against). */
  def baseVersion: Long = base.snapshotId

  /** The version this transaction will PUBLISH as (recomputed on every
    * OCC retry). A watermark recorded inside the transaction should use
    * this: the commit's own snapshot reflects everything the body read.
    * Reading it makes the transaction rebase-UNSAFE: a rebase publishes
    * at a higher version without re-running the body, so anything the
    * body recorded from this value (e.g. an MV's source-version
    * watermark) would name a different transaction's snapshot — force
    * the re-run path instead, mirroring [[streamBatchApplied]]. */
  def commitVersion: Long = {
    rebaseUnsafe = true
    base.snapshotId + 1
  }

  /** Has `v` been expired by a committed vacuum, as of this
    * transaction's base? (Pure ledger read — no store listing.) */
  def versionExpired(v: Long): Boolean = base.versionExpired(v)

  /** Set/overwrite a table property (Iceberg-style key/value metadata
    * riding the snapshot — machine-readable, versioned, transactional). */
  def setProperty(table: String, key: String, value: String): Unit = {
    val st = state(table)
    tables(table) = st.copy(props = st.props + (key -> value))
    change("tables_altered", table)
  }

  /** Table properties as staged in this transaction. */
  def properties(table: String): Map[String, String] = state(table).props

  /** Manifest file paths backing `table` as staged in this transaction —
    * the zero-copy observable (a clone shares its source's paths). */
  def fileList(table: String): Seq[String] = state(table).files.map(_.path)

  // --------------------------------------------------------- snapshot tags

  /** Tag a snapshot with a stable name (Iceberg-style ref): the tag rides
    * the catalog snapshot like views do, resolves in `readTag`, and — the
    * operational point — PINS its snapshot through vacuum, so "the corpus
    * we trained run 47 on" stays reproducible while untagged history is
    * expired. Membership (not a min bound) guards the target: tag-retained
    * vacuums leave HOLES in the version sequence, and a tag pointing into
    * a hole would be unreadable and would break later vacuums. */
  def tag(name: String, version: Long): Unit = {
    require(!tagRefs.contains(name),
      s"tag already exists: $name (dropTag it or use replaceTag — silent " +
        "re-pointing would release the old snapshot's vacuum pin)")
    tagTarget(name, version)
    change("tags_created", name)
  }

  /** Explicitly re-point an existing tag (the Iceberg replace-tag
    * contract): the OLD target loses its vacuum pin, so this is a
    * deliberate separate verb, never an accidental overwrite. */
  def replaceTag(name: String, version: Long): Unit = {
    require(tagRefs.contains(name), s"no such tag: $name")
    tagTarget(name, version)
    change("tags_replaced", name)
  }

  /** Shared target validation: committed range + the base snapshot's
    * expiry LEDGER (not a live store listing — the listing races vacuum's
    * physical deletion; the ledger serializes through OCC publish). */
  private def tagTarget(name: String, version: Long): Unit = {
    require(version >= 1 && version <= base.snapshotId,
      s"tag target $version outside committed range [1, ${base.snapshotId}]")
    require(!base.versionExpired(version),
      s"tag target $version already expired")
    tagRefs(name) = version
  }

  def dropTag(name: String): Unit = {
    require(tagRefs.contains(name), s"no such tag: $name")
    tagRefs.remove(name)
    change("tags_dropped", name)
  }

  /** The DECISION half of vacuum: record expiry of every unpinned
    * snapshot older than the `keepLast` most recent into this commit's
    * change ledger. Because the decision publishes through the same OCC
    * swap as every transaction, a racing tag() either commits first
    * (this commit loses the race, re-runs, and sees the new pin) or
    * re-runs on a base that already carries the expiry and refuses the
    * target — a snapshot can never be both pinned and expired. Physical
    * deletion happens AFTER the commit, in [[LakeCatalog.vacuum]]. */
  private[lake] def expireSnapshots(keepLast: Int): Seq[Long] = {
    val cutoff = math.max(1L, base.snapshotId - keepLast + 1)
    val pinned = tagRefs.values.toSet
    val es = (1L until cutoff)
      .filterNot(v => base.versionExpired(v) || pinned.contains(v))
    es.foreach(v => change("snapshots_expired", v.toString))
    es
  }

  // ------------------------------------------------- streaming exactly-once

  /** Has a stream batch tag already been committed in the base history?
    * O(1) metadata — headers ride in every snapshot document. */
  def streamBatchApplied(tag: String): Boolean = {
    // reads the GLOBAL tag ledger — a rebase would skip re-validating it
    // against commits that landed meanwhile, so force the re-run path
    rebaseUnsafe = true
    base.streamTagApplied(tag)
  }

  /** Record a stream batch tag in this commit's change summary — the
    * idempotence marker for exactly-once streaming ingestion. USER tags
    * get exact-match semantics whatever their shape: a non-monotone tag
    * (or a second stream's restarted counter) is never swallowed as a
    * "replay" by a high-water mark it didn't earn. Engine paths whose
    * ids are monotone by construction use [[markStreamBatchMonotone]]
    * so their ledger stays O(streams), not O(batches). */
  def markStreamBatch(tag: String): Unit = change("stream_batches_exact", tag)

  /** High-water variant for the engine's monotone-id paths ONLY
    * (checkpointed batch ids, catalog-sync source versions): the tag's
    * numeric suffix folds into a per-prefix high-water mark, so the
    * stored ledger is bounded by the number of STREAMS. Callers must
    * guarantee the suffix is monotone per prefix — that is exactly the
    * Structured Streaming checkpoint contract. */
  private[graft] def markStreamBatchMonotone(tag: String): Unit =
    change("stream_batches", tag)

  // ------------------------------------------------------------------- DML

  /** M1/M2 `INSERT INTO` from any DataFrame (VALUES, SELECT, time-travel
    * recovery — ref demos/02_time_travel/demo.py:228-235). Partial column
    * lists fill from column defaults, then NULL. */
  def insert(table: String, df: DataFrame): Unit = {
    val st = state(table)
    val aligned = alignToSchema(df, st)
    validate(table, st, aligned, checkPkAgainstExisting = true)
    val written = writeFiles(table, st, applyPartitionLayout(st, aligned))
    tables(table) = st.copy(files = st.files ++ written)
    change("tables_inserted_into", table)
  }

  /** mergeSchema ingestion (the Delta `mergeSchema=true` write analog):
    * source columns the table lacks are auto-ADDED (nullable, no
    * default — old files read NULL through the stable-column-id schema
    * machinery), then the batch inserts, all inside the one enclosing
    * transaction. Additive only: a type mismatch on an existing column
    * still fails loudly (silent widening would rewrite a data contract;
    * use changeColumnType deliberately). */
  def insertEvolve(table: String, df: DataFrame): Unit = {
    val st = state(table)
    df.schema.fields.filterNot(f => st.columns.exists(_.name == f.name))
      .foreach(f => addColumn(table, f.name, f.dataType))
    insert(table, df)
  }

  /** Register EXISTING parquet files as table data, zero rewrite — the
    * Iceberg `add_files` / Delta `CONVERT TO DELTA` migration primitive:
    * importing a directory costs metadata plus ONE distributed
    * validation/stats read, never a data copy — at 100 TB the difference
    * between registering a corpus and rewriting it. The files are
    * referenced IN PLACE by absolute path: the lake never rewrites or
    * GC's them (vacuum walks only the lake root, so external files
    * survive snapshot expiry and table drops — Iceberg's add_files
    * contract), and CoW DML touching their rows writes replacement files
    * under the root and simply drops the reference. Schema contract: the
    * files must carry every table column at the exact declared type
    * (name-matched, order-free); extra physical columns are rejected
    * (they would silently vanish after the first CoW cycle). Rows pass
    * the same distributed validation as an insert (PK uniqueness incl.
    * against existing rows, NOT NULL, CHECK constraints), and the entries
    * get the same metadata as written files ([[fileEntries]]). */
  def addDataFiles(table: String, dir: String): Unit = {
    flushInlined(table)
    val st = state(table)
    val dirPath = new Path(dir)
    require(cat.fs.globStatus(new Path(dirPath, "*.parquet")).nonEmpty,
      s"no parquet files under $dir")
    val declared = cat.structOf(st.columns).fields
      .map(f => f.name -> f.dataType).toMap
    val physical = spark.read.parquet(dir).schema
    val extra = physical.map(_.name).filterNot(declared.contains)
    require(extra.isEmpty,
      s"files carry columns the table lacks: ${extra.mkString(",")} " +
        "(evolve the schema first: addColumn / insertEvolve)")
    declared.foreach { case (n, t) =>
      val pf = physical.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"files lack column $n"))
      require(pf.dataType == t,
        s"type mismatch on $table.$n: table $t vs files ${pf.dataType}")
    }
    val rows = spark.read.schema(cat.structOf(st.columns)).parquet(dir)
    validate(table, st, rows, checkPkAgainstExisting = true)
    val entries = fileEntries(table, st, dirPath, rows.schema, external = true)
    tables(table) = st.copy(files = st.files ++ entries)
    change("tables_files_added", table)
  }

  /** M8 inlined insert — DuckLake's "optional inlining" (ref
    * README.md:58-63, demos/04_small_file_optimization/demo.py:314-368):
    * the rows are validated like any insert, then stored INSIDE the
    * manifest as a JSON batch — a single-row append costs one metadata
    * publish and zero data files (the small-file story's write half;
    * compaction is the fold half). Driver-side by design: inlining is for
    * small batches, so a hard cap guards against misuse. */
  def insertInlined(table: String, df: DataFrame, maxRows: Int = 1024): Unit = {
    val st = state(table)
    val aligned = alignToSchema(df, st)
    validate(table, st, aligned, checkPkAgainstExisting = true)
    val rows = aligned.toJSON.collect()
    require(rows.length <= maxRows,
      s"insertInlined is for small batches (${rows.length} > $maxRows rows); use insert")
    tables(table) = st.copy(
      inlined = st.inlined :+ InlineBatch(st.schemaVersion, rows.toSeq))
    change("tables_inserted_into", table)
  }

  /** Fold any inlined batches into parquet files (same table state). DDL
    * and copy-on-write DML flush first so they only reason about files. */
  private def flushInlined(table: String): Unit = {
    val st = state(table)
    if (st.inlined.isEmpty) return
    val df = cat.readState(st.copy(files = Nil))
    val written = writeFiles(table, st, df)
    tables(table) = st.copy(files = st.files ++ written, inlined = Nil)
  }

  /** M3 copy-on-write `UPDATE ... SET ... WHERE` (ref
    * demos/01_transaction_rollback/demo.py:96-102): ONLY files containing
    * matching rows are rewritten; untouched files carry over, so prior
    * snapshots keep their data and the write cost is proportional to the
    * affected fraction — the property that matters at 100 TB. */
  def update(table: String, where: Column, sets: Map[String, Column]): Unit = {
    val st = state(table)
    sets.keys.foreach(k =>
      require(st.columns.exists(_.name == k), s"no such column: $k"))
    rewriteAffectedBy(table, where, assigned = Some(sets.keySet)) { df =>
      df.select(st.columns.map { c =>
        sets.get(c.name) match {
          case Some(newVal) =>
            when(where, newVal.cast(DataType.fromJson(c.typeJson)))
              .otherwise(col(c.name)).as(c.name)
          case None => col(c.name)
        }
      }: _*)
    }
    change("tables_updated", table)
  }

  /** M4 copy-on-write `DELETE FROM ... WHERE` (ref
    * exploration/ducklake_analysis.sh:144-145). Bare delete: where=lit(true)
    * truncates the current snapshot while history stays queryable.
    *
    * SQL DELETE removes only rows where the predicate is TRUE; rows where
    * it evaluates NULL are kept — so the keep-filter is NOT(coalesce(where,
    * false)), consistent with affected-file discovery via filter(where). */
  def delete(table: String, where: Column): Unit = {
    rewriteAffectedBy(table, where, pureDelete = true)(
      _.filter(not(coalesce(where, lit(false)))))
    change("tables_deleted_from", table)
  }

  /** Retention delete by partition-key equality — the `DELETE WHERE
    * day = X` / `DROP PARTITION` fast path. The lake scan's
    * [[GraftFileIndex]] picks the files that may hold the tuple; among
    * them, a file it proves holds NO row to keep (min = max = the probed
    * value with zero nulls, on every probed column) is dropped from the
    * manifest with zero I/O, and only the rest rewrite copy-on-write. At
    * 100 TB a daily retention sweep on a day-partitioned table is pure
    * metadata — the shape Hive/Iceberg users express as dropping
    * partitions. The semantics are exactly [[delete]] with the
    * equivalent predicate; only the cost differs. */
  def deletePartitions(table: String, eq: Map[String, String]): Unit = {
    flushInlined(table)
    val st = state(table)
    require(eq.nonEmpty, "deletePartitions requires at least one key=value")
    val probes = eq.toSeq.map { case (cn, v) =>
      val c = st.columns.find(_.name == cn).getOrElse(
        throw new NoSuchElementException(s"no such column: $table.$cn"))
      (col(cn), cat.litOf(c, v))
    }
    val pred = probes.map { case (c, v) => c === v }.reduce(_ && _)
    // NOT coalesce(pred, false), in shapes the index prunes
    val keep = probes.map { case (c, v) => c =!= v || c.isNull }.reduce(_ || _)
    val hit = cat.scannedEntries(cat.readState(st).filter(pred))
    val mixed = cat.scannedEntries(cat.readState(st.copy(files = hit)).filter(keep))
    val rewritten = if (mixed.isEmpty) Nil else writeFiles(table, st,
      applyPartitionLayout(st, cat.readState(st.copy(files = mixed)).filter(keep)))
    tables(table) = st.copy(files = st.files.filterNot(hit.toSet) ++ rewritten)
    change("tables_deleted_from", table)
  }

  /** MERGE-ON-READ delete — deletion vectors (the Iceberg v2
    * position-delete / Delta DV shape; the reference's DuckLake also
    * ships delete files rather than rewriting parquet). Instead of
    * copy-on-write rewriting every affected file, the commit writes ONE
    * small parquet sidecar of (file, position) tombstones and re-points
    * the affected manifest entries at it: write cost is O(deleted rows),
    * not O(affected file bytes) — at 100 TB, deleting 0.001% of rows
    * scattered across the table writes kilobytes where CoW would rewrite
    * terabytes. Reads anti-join the broadcast tombstones below the align
    * projection (see LakeCatalog.readState); compaction or any CoW
    * rewrite materializes and clears them. Repeated MoR deletes on the
    * same file fold the old tombstones into the new sidecar, so each
    * file always points at exactly one sidecar dataset.
    *
    * Same NULL semantics as [[delete]]: only rows where the predicate is
    * TRUE are tombstoned. */
  def deleteMor(table: String, where: Column): Unit = {
    flushInlined(table)
    val st = state(table)
    if (st.files.nonEmpty) {
      // only LIVE rows match: the read anti-joins the existing sidecars,
      // so new tombstones are disjoint from every old one
      val matched = cat.readState(st, positions = true).filter(where)
        .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      // bounded driver set: one (name, tombstones) pair per AFFECTED file
      val newCounts = matched.groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (newCounts.nonEmpty) {
        val byName = st.files.map(e => new Path(e.path).getName -> e).toMap
        // fold prior tombstones of re-touched files into the new sidecar,
        // each file's read from its OWN sidecar (a sidecar may also hold
        // older tombstones of files that have since moved on), so the
        // union holds every (file, pos) once
        val prior = newCounts.keys.flatMap(byName.get).filter(_.dv.isDefined)
          .groupBy(_.dv.get).toSeq.map { case (d, es) =>
            cat.readTombstones(Seq(d)).filter(col("file").isin(
              es.map(e => new Path(e.path).getName).toSeq: _*))
          }
        val dvRel = s"$table/dv/${java.util.UUID.randomUUID().toString.take(12)}"
        val dvAbs = cat.absPath(dvRel)
        stagedDirs += dvAbs
        // repartition (not coalesce) keeps the scan+filter parallel while
        // bounding sidecar fan-out; tombstones are tiny, the shuffle is free
        prior.foldLeft(matched)(_ unionByName _)
          .repartition(4).write.mode("errorifexists").parquet(dvAbs.toString)
        tables(table) = st.copy(files = st.files.map { e =>
          newCounts.get(new Path(e.path).getName) match {
            case Some(n) => e.copy(dv = Some(dvRel), dvRows = e.dvRows + n)
            case None => e
          }
        })
      }
    }
    change("tables_deleted_from", table)
  }

  /** M9 MERGE (upsert): WHEN MATCHED replace the target row with the
    * source row, WHEN NOT MATCHED insert it — the lakehouse-standard
    * idempotent-ingestion primitive (the reference has no analog; DuckDB
    * spells it `INSERT ... ON CONFLICT DO UPDATE`). Copy-on-write like
    * update/delete: affected files are found with ONE file-tagged
    * left-semi join against the source keys (bounded driver path set,
    * same cap as affectedFiles), only those are rewritten, and the
    * write cost is proportional to the matched-file fraction — at 100 TB
    * a merge touching 0.1% of keys rewrites ~0.1% of files. The source
    * must be key-unique (SQL MERGE cardinality rule) and is aligned to
    * the table schema first (missing columns fill DEFAULT then NULL). */
  def merge(table: String, source: DataFrame, keys: Seq[String]): Unit =
    mergeClauses(table, source, keys, MergeClauses(
      matchedUpdate = Some("true"), notMatchedInsert = Some("true")))

  /** Full MERGE with the Delta/Iceberg clause set (see [[MergeClauses]]).
    * Copy-on-write like the plain upsert: affected files are found with
    * ONE file-tagged left-semi join against the source keys (bounded
    * driver path set, same cap as affectedFiles) and only those are
    * rewritten — EXCEPT when a `bySourceDelete` clause is present, where
    * any target row may be deleted, so the whole table rewrites (the
    * clause is inherently O(table), exactly as in Delta). The source must
    * be key-unique (SQL MERGE cardinality rule) and is aligned to the
    * table schema first (missing columns fill DEFAULT then NULL).
    *
    * `carry` names source columns that are NOT target columns but stay
    * visible to the clause predicates (e.g. a CDC `change_type` marker
    * routing each source row to delete/update/insert) — they are dropped
    * before anything is written. This is what lets a net-change batch
    * apply as ONE copy-on-write rewrite instead of a delete+insert pair
    * rewriting the same affected files twice. */
  def mergeClauses(table: String, source: DataFrame, keys: Seq[String],
      cl: MergeClauses, carry: Seq[String] = Nil): Unit = {
    flushInlined(table)
    val st = state(table)
    require(keys.nonEmpty, "merge requires at least one key column")
    keys.foreach(k =>
      require(st.columns.exists(_.name == k), s"no such column: $k"))
    carry.foreach(c => require(
      !st.columns.exists(_.name == c) && source.columns.contains(c),
      s"carry column '$c' must exist in the source and not in the target"))
    val src =
      if (carry.isEmpty) alignToSchema(source, st)
      else alignToSchema(source, st, carry)
    // source key-uniqueness (SQL MERGE cardinality rule) rides the same
    // single validation aggregate instead of its own scan
    validate(table, st, src, checkPkAgainstExisting = false,
      uniqueOn = keys)
    val keyCols = keys.map(col)
    // WHEN NOT MATCHED [AND cond] THEN INSERT — cond over bare src columns
    // (carry columns visible to the condition, dropped from the output)
    def insertRows(cur: DataFrame): DataFrame = (cl.notMatchedInsert match {
      case None => src.limit(0)
      case Some(c) =>
        src.join(cur.select(keyCols: _*), keys, "left_anti").filter(expr(c))
    }).drop(carry: _*)
    if (st.files.isEmpty) {
      val out = insertRows(src.limit(0))
      val written = writeFiles(table, st, applyPartitionLayout(st, out))
      tables(table) = st.copy(files = st.files ++ written)
    } else {
      val affected =
        if (cl.bySourceDelete.isDefined) st.files
        else affectedFiles(st,
          _.join(src.select(keyCols: _*), keys, "left_semi"))
      val kept = st.files.filterNot(affected.contains)
      // one left-outer pass decides every target row's fate (NULL keys
      // never match, as in SQL MERGE ON); a NULL clause condition is not
      // satisfied, so every predicate coalesces to false
      val tgt = cat.readState(st.copy(files = affected)).alias("t")
      val marked = src.withColumn("__m", lit(true)).alias("s")
      val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
      val matched = col("s.__m").isNotNull
      def sat(o: Option[String], gate: Column): Column =
        o.map(c => coalesce(gate && expr(c), lit(false))).getOrElse(lit(false))
      val mDel = sat(cl.matchedDelete, matched)
      val mUpd = cl.matchedUpdate
        .map(c => coalesce(matched && !mDel && expr(c), lit(false)))
        .getOrElse(lit(false))
      val sDel = sat(cl.bySourceDelete, !matched)
      val rewritten = tgt.join(marked, cond, "left_outer")
        .filter(!mDel && !sDel)
        .select(st.columns.map { c =>
          when(mUpd, col(s"s.${c.name}"))
            .otherwise(col(s"t.${c.name}")).as(c.name)
        }: _*)
      // NOT MATCHED is decidable against the AFFECTED files alone: every
      // source key present in the table lives in an affected file by
      // construction (affectedFiles is the semi-join of the full file-
      // tagged state against the source keys, and flushInlined put every
      // row in a file) — so the anti-join probes O(affected), never the
      // O(table) full state. At 100 TB that is the difference between a
      // merge reading the files it touches and re-scanning the table per
      // batch.
      val out = rewritten.unionByName(insertRows(tgt))
      // merging on non-PK keys can collide with rows in kept files
      if (st.primaryKey.nonEmpty && st.primaryKey != keys)
        checkKeptKeys(table, st, kept, out, "merge")
      val written = writeFiles(table, st, applyPartitionLayout(st, out))
      tables(table) = st.copy(files = kept ++ written)
    }
    change("tables_merged", table)
  }

  /** M8/compaction: rewrite all live files into ceil(bytes/target) files. */
  def compact(table: String, targetFileBytes: Long): Unit = {
    flushInlined(table)
    val st = state(table)
    if (st.files.nonEmpty)
      relayout(table, st, st.files, targetFileBytes, "tables_compacted")(
        compactLayout(st))
  }

  /** Selective compaction: fold ONLY files smaller than `smallBytes`
    * into target-sized files, leaving near-target files untouched. This
    * is what auto-compaction runs: a wide table whose file count drifts
    * over the cap because of a tail of tiny append files should pay a
    * rewrite proportional to the TAIL, not an O(table) rewrite that
    * churns every already-well-sized file (at 100 TB, rewriting healthy
    * files to fold a few KB of appends is pure write amplification). */
  def compactSmall(table: String, targetFileBytes: Long,
      smallBytes: Long): Unit = {
    flushInlined(table)
    val st = state(table)
    val small = st.files.filter(_.sizeBytes < smallBytes)
    if (small.size >= 2)
      relayout(table, st, small, targetFileBytes, "tables_compacted")(
        compactLayout(st))
  }

  // partitioned tables compact WITHIN the partition layout (each value
  // stays in one file) instead of round-robin across everything
  private def compactLayout(st: TableState)(df: DataFrame, n: Int): DataFrame =
    if (st.partitionBy.isEmpty) df.repartition(n)
    else df.repartition(n, st.partitionBy.map(col): _*)
      .sortWithinPartitions(st.partitionBy.map(col): _*)

  /** Data-layout maintenance — the OPTIMIZE ... ZORDER/cluster analog:
    * rewrite the live files RANGE-PARTITIONED + sorted on `cols`, so each
    * file's manifest min/max for the lead key becomes (near-)disjoint and
    * stats pruning (`readRange`, PK-overlap checks) skips every file
    * outside the queried range. At 100 TB this is what turns a key-range
    * query from "scan 10^6 files" into "scan the handful that overlap" —
    * the rewrite itself is one distributed range-shuffle + sorted write,
    * proportional work done once, amortized over every later read. */
  def cluster(table: String, cols: Seq[String], targetFileBytes: Long): Unit = {
    flushInlined(table)
    val st = state(table)
    require(cols.nonEmpty && cols.forall(c => st.columns.exists(_.name == c)),
      s"cluster columns must exist on $table")
    if (st.files.nonEmpty)
      relayout(table, st, st.files, targetFileBytes, "tables_clustered") {
        (df, n) => df.repartitionByRange(n, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
      }
  }

  /** Z-ORDER layout rewrite: multi-dimensional clustering so manifest
    * stats prune on EVERY clustered column, not just the first.
    * Lexicographic [[cluster]] gives tight per-file ranges on the leading
    * key only (each file spans the full range of the others); Z-order
    * interleaves the bits of all keys into one curve position, so a
    * file's rows are close in every dimension at once and a range query
    * on any single key skips most files.
    *
    * Mechanics: each key is normalized to 16 bits by uniform min-max
    * bucketing (one distributed agg for the bounds — the rewrite itself
    * dwarfs it), bits are interleaved round-robin into the z-key, and
    * the data is range-partitioned + sorted on that key, all map-side
    * integer math in codegen. Uniform bucketing keeps the op fully
    * declarative (no per-column global sort); heavily skewed keys would
    * want rank-based bucketing (range-partition ids per column) — same
    * plan shape, noted as the upgrade path. */
  def zorder(table: String, cols: Seq[String], targetFileBytes: Long): Unit = {
    flushInlined(table)
    val st = state(table)
    require(cols.size >= 2, "zorder needs >= 2 columns (use cluster for 1)")
    require(cols.size <= 4, "zorder supports at most 4 columns")
    require(cols.forall(c => st.columns.exists(_.name == c)),
      s"zorder columns must exist on $table")
    // z-bucketing is min-max arithmetic over a per-type NUMERIC key:
    //  - numerics cast directly;
    //  - dates/timestamps map to their epoch day/microsecond counts
    //    (order-preserving integers);
    //  - strings use truncated-byte bucketing (Delta's Z-ORDER accepts
    //    strings the same way; real lakes z-order on (domain, hash) and
    //    (id, date) pairs): the table's COMMON PREFIX — derivable from
    //    the string min/max the bounds agg fetches anyway, since every
    //    value shares exactly the prefix min and max share — is
    //    stripped first (think "domain_00".."domain_15": the leading
    //    bytes are identical and carry zero information), then the next
    //    6 bytes form a big-endian integer. UTF8 byte order is Spark's
    //    string order, and 48 bits stays exact in the double math.
    // An unsupported type (array/map/binary) would key to NULL for every
    // row and silently degenerate to one unordered partition — refuse.
    val types = cols.map(c => c ->
      DataType.fromJson(st.columns.find(_.name == c).get.typeJson)).toMap
    def numExpr(c: String): Option[String] = types(c) match {
      case _: NumericType => Some(s"cast(`$c` AS double)")
      case DateType => Some(s"cast(unix_date(`$c`) AS double)")
      case TimestampType => Some(s"cast(unix_micros(`$c`) AS double)")
      case StringType => None
      case other => throw new IllegalArgumentException(
        s"zorder column $table.$c must be numeric, string, date or " +
          s"timestamp (got ${other.simpleString})")
    }
    cols.foreach(numExpr) // validate every key type BEFORE any plan work
    if (st.files.isEmpty) return
    val df0 = read(table)
    // bounds per key, one distributed agg (strings fetch raw min/max;
    // their numeric key + bounds are finalized driver-side below)
    val aggs = cols.flatMap { c =>
      val e = numExpr(c).getOrElse(s"`$c`")
      Seq(min(expr(e)).as(s"mn_$c"), max(expr(e)).as(s"mx_$c"))
    }
    val row = df0.agg(aggs.head, aggs.tail: _*).head()
    val k = cols.size
    // the interleaved key must stay inside the SIGNED 63-bit budget of
    // the BIGINT sort key — bit 63 is the sign bit, and a bucket MSB
    // landing there would invert ordering for the top half of that
    // dimension. Max bit index is (bits-1)*k + (k-1): 16 bits/key is safe
    // for 2-3 keys (<= 47), 4 keys drop to 15 bits/key (= 59).
    val bits = if (k == 4) 15 else 16
    val bmax = (1L << bits) - 1
    // big-endian integer of 6 bytes starting at byte `off` (zero-padded)
    def strKey(s: String, off: Int): Double = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var v = 0L
      var i = 0
      while (i < 6) {
        v = (v << 8) | (if (off + i < b.length) b(off + i) & 0xffL else 0L)
        i += 1
      }
      v.toDouble
    }
    val bucketExprs = cols.zipWithIndex.map { case (c, i) =>
      val (ke, mn, mx) = numExpr(c) match {
        case Some(e) =>
          (e, row.getAs[Double](s"mn_$c"), row.getAs[Double](s"mx_$c"))
        case None =>
          val mnS = Option(row.getAs[String](s"mn_$c")).getOrElse("")
          val mxS = Option(row.getAs[String](s"mx_$c")).getOrElse("")
          val mnB = mnS.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mxB = mxS.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val off = mnB.zip(mxB).takeWhile { case (a, b) => a == b }.length
          val e = s"cast(conv(hex(rpad(substring(cast(`$c` AS binary), " +
            s"${off + 1}, 6), 6, x'00')), 16, 10) AS double)"
          (e, strKey(mnS, off), strKey(mxS, off))
      }
      val span = if (mx > mn) mx - mn else 1.0
      s"greatest(0L, least(${bmax}L, cast((($ke) - $mn) " +
        s"* $bmax.0 / $span AS bigint))) AS __b$i"
    }
    val zbits = (for (j <- 0 until bits; i <- 0 until k)
      yield s"(shiftleft(shiftright(__b$i, $j) & 1, ${j * k + i}))")
      .mkString(" + ")
    val cs = df0.columns.map(c => s"`$c`")
    relayout(table, st, st.files, targetFileBytes, "tables_clustered") {
      (df, n) => df.selectExpr((cs ++ bucketExprs): _*)
        .selectExpr((cs :+ s"$zbits AS __zkey"): _*)
        .repartitionByRange(n, col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    }
  }

  /** The rewrite tail of every layout op: read `rewrite` (files of `st`),
    * lay it out into ceil(bytes/target) files, write them, and replace
    * the rewritten entries. Each op supplies only its `layout`. */
  private def relayout(table: String, st: TableState, rewrite: Seq[FileEntry],
      targetFileBytes: Long, kind: String)(
      layout: (DataFrame, Int) => DataFrame): Unit = {
    val n = math.max(1,
      math.ceil(rewrite.map(_.sizeBytes).sum.toDouble / targetFileBytes).toInt)
    val written = writeFiles(table, st,
      layout(cat.readState(st.copy(files = rewrite)), n))
    val gone = rewrite.toSet
    tables(table) = st.copy(files = st.files.filterNot(gone) ++ written)
    change(kind, table)
  }

  // ------------------------------------------------------------- internals

  /** Partition layout for writes: hash-cluster on the declared partition
    * columns (each value maps to exactly one shuffle bucket → one file
    * per batch) and sort within, so per-file stats are tight on the
    * partition key and pruning is surgical. One shuffle, map-side
    * planned by Catalyst; tables without partitionBy pass through. */
  private def applyPartitionLayout(st: TableState, df: DataFrame): DataFrame =
    if (st.partitionBy.isEmpty) df
    else {
      val pcols = st.partitionBy.map(col)
      // explicit partition count: an expression-only repartition is a
      // coalesce TARGET for AQE, which would merge the buckets back into
      // one file and erase the value->file isolation the layout exists for
      val n = spark.sessionState.conf.numShufflePartitions
      df.repartition(n, pcols: _*).sortWithinPartitions(pcols: _*)
    }

  /** Align an incoming DataFrame to the table schema: by-name matching,
    * casts to declared types, missing columns filled from DEFAULT then NULL. */
  private def alignToSchema(df: DataFrame, st: TableState,
      carry: Seq[String] = Nil): DataFrame = {
    val in = df.columns.toSet
    df.select(st.columns.map { c =>
      val t = DataType.fromJson(c.typeJson)
      if (in.contains(c.name)) col(c.name).cast(t).as(c.name)
      else expr(c.default.getOrElse("NULL")).cast(t).as(c.name)
    } ++ carry.map(col): _*)
  }

  /** Write-side constraint enforcement (Spark has no declarative
    * constraints): NOT NULL scans, CHECK predicates, the in-batch PRIMARY
    * KEY duplicate test, and the lead-PK min/max (for file pruning) all
    * fold into ONE aggregate pass over the batch — at 100 TB each
    * separate action is a full re-scan of the input, and locally each is
    * 2-3 scheduled jobs (the lake scenarios' dominant cost was exactly
    * this: ~250 jobs per scenario, mostly per-constraint actions). The
    * PK-vs-existing check stays a distributed agg + left-semi join over
    * stats-pruned files — no driver collect. Its violation is demo 1's
    * rollback trigger (ref demos/01_transaction_rollback/demo.py:137-151).
    *
    * `assigned` names the columns an UPDATE set on already-committed
    * rows: every NOT NULL was checked on all rows when it was added, so
    * only assigned NOT NULL columns are re-checked, and key uniqueness
    * only when a PK column is assigned. CHECK predicates always run. */
  private def validate(table: String, st: TableState, df: DataFrame,
      checkPkAgainstExisting: Boolean,
      uniqueOn: Seq[String] = Nil,
      assigned: Option[Set[String]] = None): Unit = {
    val nnCols = st.notNull.filter(c =>
      df.columns.contains(c) && assigned.forall(_.contains(c)))
    val checks = st.props.toSeq.collect {
      case (k, pred) if k.startsWith("check.") => (k.stripPrefix("check."), pred)
    }
    val pkCols =
      if (assigned.forall(_.exists(st.primaryKey.contains))) st.primaryKey
      else Nil
    // the lead-PK range only prunes the check against existing rows
    val leadPk = st.columns.find(c => pkCols.headOption.contains(c.name))
      .filter(c => checkPkAgainstExisting && Stats.comparable(c))
    val aggs =
      nnCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")) ++
      checks.map { case (k, pred) =>
        sum(when(not(coalesce(expr(pred), lit(true))), 1L).otherwise(0L))
          .as(s"ck_$k") } ++
      (if (pkCols.nonEmpty || uniqueOn.nonEmpty)
        Seq(count(lit(1)).as("n_rows"))
       else Nil) ++
      (if (pkCols.nonEmpty)
        Seq(count_distinct(struct(pkCols.map(col): _*)).as("n_keys"))
       else Nil) ++
      (if (uniqueOn.nonEmpty && uniqueOn != pkCols)
        Seq(count_distinct(struct(uniqueOn.map(col): _*)).as("n_ukeys"))
       else Nil) ++
      leadPk.toSeq.flatMap(c => Seq(
        min(col(c.name)).as("pk_min"), max(col(c.name)).as("pk_max")))
    if (aggs.isEmpty) return
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    nnCols.foreach { c =>
      if (row.getAs[Long](s"nn_$c") > 0L)
        throw new ConstraintViolation(s"NOT NULL violated: $table.$c")
    }
    checks.foreach { case (k, pred) =>
      if (row.getAs[Long](s"ck_$k") > 0L)
        throw new ConstraintViolation(s"CHECK $k violated: $pred")
    }
    if (uniqueOn.nonEmpty) {
      val uk = if (uniqueOn == pkCols) row.getAs[Long]("n_keys")
               else row.getAs[Long]("n_ukeys")
      if (uk != row.getAs[Long]("n_rows"))
        throw new ConstraintViolation(
          s"merge source not unique on (${uniqueOn.mkString(",")})")
    }
    if (pkCols.nonEmpty) {
      if (row.getAs[Long]("n_keys") != row.getAs[Long]("n_rows"))
        throw new ConstraintViolation(
          s"duplicate key in inserted rows: $table(${pkCols.mkString(",")})")
      if (checkPkAgainstExisting && (st.files.nonEmpty || st.inlined.nonEmpty)) {
        // only files whose lead-PK range overlaps the incoming batch's
        // can hold a duplicate: the range filter lets the lake scan skip
        // the rest — at scale a full-table key scan becomes a ranged one
        val all = cat.readState(st)
        val ranged = leadPk.fold(all)(c => all.filter(col(c.name)
          .between(lit(row.getAs[Any]("pk_min")), lit(row.getAs[Any]("pk_max")))))
        val pk = pkCols.map(col)
        val existing = ranged.select(pk: _*)
        if (!existing.join(df.select(pk: _*), pkCols, "left_semi").isEmpty)
          throw new ConstraintViolation(
            s"duplicate key: $table(${pkCols.mkString(",")}) already exists")
      }
    }
  }

  /** Copy-on-write core of [[delete]]/[[update]]: the files holding a
    * row that passes `where` go through `transform`; the rest carry
    * over, and old files stay on disk for time travel. `assigned` is an
    * UPDATE's set columns (see [[validate]]); when it holds a PK column
    * the rewritten rows' keys are also checked against the kept files. */
  private def rewriteAffectedBy(table: String,
      where: Column,
      assigned: Option[Set[String]] = None,
      pureDelete: Boolean = false)
      (transform: DataFrame => DataFrame): Unit = {
    flushInlined(table)
    val st = state(table)
    if (st.files.isEmpty) return
    val affected = affectedFiles(st, _.filter(where))
    if (affected.isEmpty) return
    val kept = st.files.filterNot(affected.contains)
    // Rewrite affected files group-wise by their written schema version,
    // aligned to the current schema (same path as readState).
    val rewritten = transform(cat.readState(st.copy(files = affected)))
    // a pure delete keeps a SUBSET of already-committed rows — it cannot
    // introduce a NOT NULL / CHECK / duplicate-key violation, so the
    // validation scan is skipped (one fewer full pass over the rewrite)
    if (!pureDelete)
      validate(table, st, rewritten, checkPkAgainstExisting = false,
        assigned = assigned)
    if (assigned.exists(_.exists(st.primaryKey.contains)))
      checkKeptKeys(table, st, kept, rewritten, "update")
    val written = writeFiles(table, st, applyPartitionLayout(st, rewritten))
    tables(table) = st.copy(files = kept ++ written)
  }

  /** The files of `st` holding a row that `matcher` keeps from the
    * file-tagged scan. `_metadata.file_path` is a URL (file:///…,
    * possibly %-encoded) where Hadoop's Path.toUri renders file:/…, so
    * the two compare on the decoded path component. The collect is
    * BOUNDED: distinct paths up to MaxAffectedPaths+1; past the cap (a
    * predicate touching most of a 10^6-file table) every file counts as
    * affected — the work such a rewrite does anyway — instead of pulling
    * an unbounded path set to the driver. */
  private def affectedFiles(st: TableState,
      matcher: DataFrame => DataFrame): Seq[FileEntry] = {
    val affectedPaths = matcher(cat.readState(st, Some("__file")))
      .filter(col("__file").isNotNull)
      .select("__file").distinct().limit(Tx.MaxAffectedPaths + 1).collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet
    if (affectedPaths.size > Tx.MaxAffectedPaths) st.files
    else st.files.filter(e =>
      affectedPaths.contains(cat.absPath(e.path).toUri.getPath))
  }

  /** Refuses a rewrite whose `rows` carry a primary key that a `kept`
    * (unrewritten) file of `st` already holds: one distributed left-semi
    * join, skipped when every file is rewritten. */
  private def checkKeptKeys(table: String, st: TableState,
      kept: Seq[FileEntry], rows: DataFrame, op: String): Unit =
    if (kept.nonEmpty) {
      val pk = st.primaryKey.map(col)
      val keptKeys = cat.readState(st.copy(files = kept)).select(pk: _*)
      if (!keptKeys.join(rows.select(pk: _*), st.primaryKey, "left_semi").isEmpty)
        throw new ConstraintViolation(
          s"duplicate key after $op: $table(${st.primaryKey.mkString(",")})")
    }

  /** Stage parquet files for `df` under `<root>/<table>/data/<uuid>/` and
    * return their manifest entries ([[fileEntries]]). */
  private def writeFiles(table: String, st: TableState,
      df: DataFrame): Seq[FileEntry] = {
    val abs = cat.absPath(
      s"$table/data/${java.util.UUID.randomUUID().toString.take(12)}")
    stagedDirs += abs
    df.write.mode("errorifexists").parquet(abs.toString)
    fileEntries(table, st, abs, df.schema, external = false)
  }

  /** The one path from the parquet files under `dir` to manifest
    * entries, for files the table wrote and files it imports alike:
    * footer-exact row counts, per-file min/max stats and partition value
    * sets (the pruning index that keeps PK checks and range reads
    * O(overlapping files) instead of O(table)), plus the opt-in
    * `index.bloom` / `index.ndv` sidecars. `external` (imported) files
    * keep their absolute paths, are never deleted, and are harvested at
    * any size; the table's own files get root-relative paths. */
  private def fileEntries(table: String, st: TableState, dir: Path,
      schema: StructType, external: Boolean): Seq[FileEntry] = {
    // stat columns: partition columns first (their stats ARE the
    // partition index), then PK, then the rest, capped at 8 to bound
    // manifest size. When every one is footer-exact (integral/date) the
    // min/max come from the SAME footer open that yields the row count —
    // zero Spark jobs (the Iceberg write-time stats model); string/double
    // stats and partition value sets need the harvest aggregate below.
    val statCols = st.columns.sortBy(c =>
      (!st.partitionBy.contains(c.name), !st.primaryKey.contains(c.name)))
      .filter(Stats.comparable).take(8)
    val pvalCols = st.partitionBy
    val footerSafe = pvalCols.isEmpty && statCols.nonEmpty &&
      statCols.forall(Stats.footerExact)
    val scanned = cat.fs.globStatus(new Path(dir, "*.parquet")).toSeq.map { fst =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(fst.getPath, cat.hadoopConf))
      try (fst.getPath, fst.getLen, reader.getRecordCount,
        if (footerSafe) Stats.fromFooter(reader.getFooter, statCols)
        else Map.empty[String, ColStat])
      finally reader.close()
    }
    // zero-row files (empty shuffle buckets of a partition-layout write)
    // are pure manifest and scan bloat: their entries drop, and the files
    // the table wrote itself are deleted. One stays only when the WHOLE
    // set is empty so the table state stays representable.
    val parts =
      if (scanned.forall(_._3 == 0L)) scanned.take(1)
      else {
        if (!external)
          scanned.filter(_._3 == 0L).foreach(e => cat.fs.delete(e._1, false))
        scanned.filter(_._3 > 0L)
      }
    // tiny writes skip the harvest and sidecars (footer stats are kept,
    // they cost no job): missing stats degrade to scanning (always
    // correct) and a small file is cheap to scan — this keeps single-row
    // appends at one Spark job. Imports are rare and big, so they
    // harvest at any size.
    val harvested = external || parts.map(_._3).sum >= 64
    def indexCol(prop: String): Option[String] =
      st.props.get(prop).filter(c => st.columns.exists(_.name == c))
    val ndvCol = indexCol("index.ndv")
    val bloomCol = indexCol("index.bloom")
    lazy val files = spark.read.schema(schema).parquet(dir.toString)
    // ONE aggregate per file harvests what the footer cannot give:
    // string/double min/max + null counts, partition value sets (capped:
    // past MaxPvals the set drops and pruning falls back to min/max) and
    // the `index.ndv` HLL sketch, which rides the MANIFEST itself
    // (base64, ~1-4 KB/file) so LakeCatalog.approxDistinct folds with
    // zero file reads.
    val MaxPvals = 64
    val aggs = (if (footerSafe) Nil else statCols).flatMap { c =>
      Seq(min(col(c.name)).cast("string").as(s"min_${c.name}"),
        max(col(c.name)).cast("string").as(s"max_${c.name}"),
        count(col(c.name)).as(s"cnt_${c.name}"))
    } ++ pvalCols.map(c => collect_set(col(c).cast("string")).as(s"pv_$c")) ++
      ndvCol.map(c => expr(s"hll_sketch_agg(`$c`)").as("__sk")) :+
      count(lit(1)).as("__rows")
    val harvest: Map[String, Row] =
      if (!harvested || aggs.size == 1) Map.empty
      else files.groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.tail: _*).collect()
        .map(r => new java.net.URI(r.getAs[String]("__f")).getPath -> r).toMap
    def harvestedStats(r: Row): Map[String, ColStat] = statCols.flatMap { c =>
      val mn = r.getAs[String](s"min_${c.name}")
      val mx = r.getAs[String](s"max_${c.name}")
      if (mn == null || mx == null ||
        !Stats.safeValue(c, mn) || !Stats.safeValue(c, mx)) None
      else Some(c.name -> ColStat(mn, mx,
        Some(r.getAs[Long]("__rows") - r.getAs[Long](s"cnt_${c.name}"))))
    }.toMap
    def pvals(r: Row): Map[String, Seq[String]] = pvalCols.flatMap { c =>
      val vs = r.getAs[scala.collection.Seq[String]](s"pv_$c")
      if (vs == null || vs.size > MaxPvals) None
      else Some(c -> vs.toSeq.sorted)
    }.toMap
    def sketch(r: Row): Map[String, String] = ndvCol.flatMap(c =>
      Option(r.getAs[Array[Byte]]("__sk"))
        .map(sk => c -> java.util.Base64.getEncoder.encodeToString(sk))).toMap
    // opt-in BLOOM index sidecars (`index.bloom` = column): one more
    // distributed pass builds a per-file bloom over the indexed column,
    // written under <table>/index/ — the filter pointer rides the
    // manifest, the bytes don't.
    val bloomsByPath: Map[String, Map[String, String]] =
      if (bloomCol.isEmpty || !harvested) Map.empty
      else {
        import org.apache.spark.util.sketch.BloomFilter
        val c = bloomCol.get
        val idxRel =
          s"$table/index/${java.util.UUID.randomUUID().toString.take(12)}"
        val idxAbs = cat.absPath(idxRel)
        stagedDirs += idxAbs
        cat.fs.mkdirs(idxAbs)
        val rowsByPath = parts.map(p => (p._1.toUri.getPath, p._3)).toMap
        val bRows = spark.sparkContext.broadcast(rowsByPath)
        val merged = files
          .select(input_file_name().as("__f"), col(c).cast("string").as("k"))
          .filter(col("k").isNotNull)
          .rdd.mapPartitions { it =>
            val acc = mutable.HashMap.empty[String, BloomFilter]
            it.foreach { r =>
              val p = new java.net.URI(r.getString(0)).getPath
              val b = acc.getOrElseUpdate(p, BloomFilter.create(
                math.max(64L, bRows.value.getOrElse(p, 4096L)), 0.01))
              b.putString(r.getString(1))
            }
            acc.iterator.map { case (p, b) =>
              val bos = new java.io.ByteArrayOutputStream()
              b.writeTo(bos); (p, bos.toByteArray)
            }
          }
          .reduceByKey { (x, y) =>
            val bx = BloomFilter.readFrom(new java.io.ByteArrayInputStream(x))
            val by = BloomFilter.readFrom(new java.io.ByteArrayInputStream(y))
            bx.mergeInPlace(by)
            val bos = new java.io.ByteArrayOutputStream()
            bx.writeTo(bos); bos.toByteArray
          }.collect()
        merged.map { case (p, bytes) =>
          val base = new Path(p).getName.stripSuffix(".parquet")
          val sideRel = s"$idxRel/$base.bloom"
          val out = cat.fs.create(new Path(cat.absPath(sideRel).toString), true)
          try out.write(bytes) finally out.close()
          p -> Map(c -> sideRel)
        }.toMap
      }
    // scheme-free path components on both sides: URI renderings differ
    // (file:/ vs file:///) and a failed stripPrefix would silently store
    // an absolute path
    val rootQ = cat.fs.makeQualified(new Path(cat.root)).toUri.getPath
      .stripSuffix("/")
    parts.map { case (p, len, rows, footer) =>
      val key = p.toUri.getPath
      val r = harvest.get(key)
      FileEntry(if (external) key else key.stripPrefix(rootQ).stripPrefix("/"),
        len, rows, st.schemaVersion,
        stats = if (footerSafe) footer else r.map(harvestedStats).getOrElse(Map.empty),
        pvals = r.map(pvals).getOrElse(Map.empty),
        blooms = bloomsByPath.getOrElse(key, Map.empty),
        ndv = r.map(sketch).getOrElse(Map.empty))
    }
  }

  private[lake] def cleanupStaged(): Unit =
    stagedDirs.foreach(d => try cat.fs.delete(d, true) catch { case _: Exception => })

  /** Stamp per-table last-change versions for this commit's change set
    * (see TableState.lastDataVersion / lastNonAppendVersion). */
  private def stampVersions(ts: Map[String, TableState], id: Long): Map[String, TableState] = {
    val dataNames = changes.iterator.collect {
      case (k, ns) if Manifest.StampKinds.contains(k) => ns }.flatten.toSet
    val naNames = changes.iterator.collect {
      case (k, ns) if Manifest.NonAppendKinds.contains(k) => ns }.flatten.toSet
    if (dataNames.isEmpty && naNames.isEmpty) ts
    else ts.map { case (n, st) =>
      var s2 = st
      if (dataNames(n)) s2 = s2.copy(lastDataVersion = id)
      if (naNames(n)) s2 = s2.copy(lastNonAppendVersion = id)
      n -> s2
    }
  }

  /** The commit document for version `id` over `prior`: this commit's
    * changes, the given tables (stamped), views and refs, and the prior
    * aggregates with this commit's expiry/stream-tag changes folded in.
    * The header tail is compacted: beyond [[Manifest.HeaderRetain]]
    * headers, EXPIRED versions' headers drop (their facts live in the
    * aggregates; live versions keep theirs). The expiry ledger stays in
    * BOUNDED floor+exceptions form — the fold costs O(this vacuum's
    * range), the stored state O(pins). */
  private def snapshotOf(prior: Snapshot, id: Long,
      ts: Map[String, TableState], viewDefs: Map[String, String],
      refs: Map[String, Long]): Snapshot = {
    val now = System.currentTimeMillis()
    val sv = prior.schemaVersion + ddlCount
    val ch = changes.map { case (k, v) => k -> v.toSeq }.toMap
    val header = SnapHeader(id, now, sv, ch)
    val f0 = prior.expiredFloor
    val vs = changes.getOrElse("snapshots_expired", Nil)
      .iterator.map(_.toLong).toSet
    val (floor, live) =
      if (vs.isEmpty) (f0, prior.liveBelow)
      else {
        val nf = math.max(f0, vs.max)
        // versions newly under the floor that this vacuum did NOT
        // expire (tag pins, and anything already expired is <= f0)
        val newLive = ((f0 + 1) to nf).filterNot(vs.contains)
        (nf, (prior.liveBelow ++ newLive) -- vs)
      }
    def expired(v: Long): Boolean = v >= 1L && v <= floor && !live.contains(v)
    val (seen, residual0) = Manifest.foldTags(prior.txnSeen, prior.tagsResidual,
      changes.getOrElse("stream_batches", Nil).toSeq)
    // user tags keep exact-match semantics whatever their shape — they
    // fold straight into the residual set, never the high-water map
    val residual = residual0 ++ changes.getOrElse("stream_batches_exact", Nil)
    val hist0 = prior.history :+ header
    val (hist, hFloor, droppedTs) =
      if (hist0.size <= Manifest.HeaderRetain)
        (hist0, prior.historyFloor, 0L)
      else {
        val (old, tail) = hist0.splitAt(hist0.size - Manifest.HeaderRetain)
        val dropped = old.filter(h => expired(h.snapshotId))
        (old.filterNot(h => expired(h.snapshotId)) ++ tail,
          dropped.foldLeft(prior.historyFloor)((f, h) => math.max(f, h.snapshotId)),
          if (dropped.isEmpty) 0L else dropped.map(_.timestampMs).min)
      }
    // earliest dropped-header timestamp, folded monotonically (0 = none)
    val minDroppedTs =
      if (droppedTs == 0L) prior.minDroppedTsMs
      else if (prior.minDroppedTsMs == 0L) droppedTs
      else math.min(prior.minDroppedTsMs, droppedTs)
    val breaks = Manifest.IdentityBreakKinds.iterator
      .flatMap(k => changes.getOrElse(k, Nil))
      .foldLeft(prior.identityBreaks)((m, n) => m.updated(n, id))
    Snapshot(
      snapshotId = id,
      timestampMs = now,
      schemaVersion = sv,
      changes = ch,
      tables = stampVersions(ts, id),
      views = viewDefs,
      history = hist,
      refs = refs,
      aggV = Manifest.Format,
      expiredFloor = floor,
      liveBelow = live,
      txnSeen = seen,
      tagsResidual = residual,
      historyFloor = hFloor,
      minDroppedTsMs = minDroppedTs,
      identityBreaks = breaks)
  }

  private[lake] def buildSnapshot(id: Long): Snapshot =
    snapshotOf(base, id, tables.toMap, views.toMap, tagRefs.toMap)

  // ------------------------------------------------------ commit rebase

  /** Whether this transaction may be REBASED onto a newer head without
    * re-running its body (see [[LakeCatalog.transaction]]): pure DML
    * whose effects and reads are all table-scoped. DDL is excluded
    * because schema versions ride a catalog-global counter; view/tag/
    * stream-tag/vacuum work reads or writes catalog-global state. */
  private[lake] def isRebaseSafe: Boolean = !rebaseUnsafe && ddlCount == 0

  /** The tables this transaction read or wrote — its conflict set. */
  private[lake] def conflictNames: Set[String] = touchedNames.toSet

  /** Rebuild the commit document on top of `nb` (a head that advanced
    * past our base) by overlaying ONLY this txn's table diffs — the
    * staged data files are untouched and no Spark job re-runs. Callers
    * must have validated disjointness (isRebaseSafe + every concurrent
    * commit table-scoped and disjoint from conflictNames). */
  private[lake] def buildSnapshotOn(nb: Snapshot, id: Long): Snapshot = {
    val overlaid = touchedNames.foldLeft(nb.tables) { (acc, n) =>
      (tables.get(n), base.tables.get(n)) match {
        case (Some(st), b) if !b.contains(st) => acc + (n -> st)
        case (None, Some(_)) => acc - n
        case _ => acc // read-only touch
      }
    }
    // rebase-safe txns carry no expiry/tag changes (rebaseUnsafe would
    // have forced the re-run path), so folding against nb is exact
    snapshotOf(nb, id, overlaid, nb.views, nb.refs)
  }
}
