package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QDef, Tables => T}
import graft.lake.{ConstraintViolation, LakeCatalog}

/** SURVEY.md §2.9–§2.11 (DDL / DML / snapshot-metadata operators) exposed
  * through the judged `queries` surface as end-to-end scenarios: each query
  * builds a throwaway lake under java.io.tmpdir, drives the operators the
  * reference demos drive (transactions+rollback, time travel, schema
  * evolution, change feeds, migration, compaction), and returns a
  * DETERMINISTIC DataFrame of the observable outcome.
  *
  * Every scenario is HASH-verified against DuckDB, by one of two oracle
  * styles: DATA outcomes (l1/l2/l3-counts/l4/l5-view/l8/l10/l12/l13) are
  * recomputed by DuckDB replaying the same DML as CTEs over the identical
  * static slice; METADATA ledgers (schema shapes, file counts, snapshot
  * change summaries, vacuum history) are deterministic engine CONTRACTS
  * stated as literals — a regression in evolution, compaction, snapshot
  * accounting or expiry breaks the hash. All semantics are additionally
  * pinned by LakeSpec.
  */
object LakeScenarios {

  private def freshLake(spark: SparkSession): LakeCatalog =
    new LakeCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft_lake_").toString)

  /** Small deterministic slice of `part` as an inventory table. */
  private def inventoryDf(s: SparkSession, d: String): DataFrame =
    T.part(s, d).filter(col("p_partkey") <= 100)
      .selectExpr("cast(p_partkey AS int) AS product_id", "p_name AS product_name",
        "cast(p_size AS int) AS quantity", "p_retailprice AS price")

  val defs: Seq[QDef] = Seq(

    // M5/M6/M1/M3 — demo-1 re-enactment (ref demos/01_transaction_rollback/
    // demo.py:85-220): multi-table txn commits atomically; a second txn
    // violating the PK rolls back without a trace. Oracle: the committed
    // transaction replayed as CTEs over the identical static slice — the
    // rolled-back txn must leave NOTHING, so any trace of it (a 4th order
    // row, a phantom snapshot flipping rollback_clean) breaks the hash.
    QDef("l1_txn_atomic_rollback",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("inventory",
          StructType(Seq(
            StructField("product_id", IntegerType),
            StructField("product_name", StringType),
            StructField("quantity", IntegerType),
            StructField("price", DoubleType))),
          primaryKey = Seq("product_id"))
        cat.createTable("orders",
          StructType(Seq(
            StructField("order_id", IntegerType),
            StructField("product_id", IntegerType),
            StructField("qty", IntegerType))),
          primaryKey = Seq("order_id"))
        cat.insert("inventory", inventoryDf(s, d))
        cat.transaction { tx =>
          import s.implicits._
          tx.insert("orders",
            Seq((1, 5, 3), (2, 17, 2), (3, 42, 5)).toDF("order_id", "product_id", "qty"))
          tx.update("inventory", col("product_id").isin(5, 17, 42),
            Map("quantity" -> (col("quantity") - 2)))
        }
        val vGood = cat.currentVersion
        try cat.transaction { tx =>
          import s.implicits._
          tx.insert("orders", Seq((4, 9, 1)).toDF("order_id", "product_id", "qty"))
          tx.insert("orders", Seq((1, 9, 9)).toDF("order_id", "product_id", "qty")) // dup PK
        } catch { case _: ConstraintViolation => () }
        val o = cat.read("orders")
        val i = cat.read("inventory")
        o.join(i, "product_id")
          .select(col("order_id"), col("product_id"), col("qty"),
            col("quantity").as("stock_after"),
            lit(cat.currentVersion == vGood).as("rollback_clean"))
          .orderBy("order_id")
      }, Some("""
        WITH inv AS (SELECT CAST(p_partkey AS INT) AS product_id,
                            CAST(p_size AS INT) AS quantity
                     FROM part WHERE p_partkey <= 100),
             ord AS (SELECT * FROM (VALUES (1, 5, 3), (2, 17, 2), (3, 42, 5))
                     t(order_id, product_id, qty))
        SELECT o.order_id, o.product_id, o.qty,
               CAST(i.quantity - 2 AS INT) AS stock_after,
               TRUE AS rollback_clean
        FROM ord o JOIN inv i USING (product_id) ORDER BY order_id""")),

    // S3/A8/T1 — time travel: COUNT + key-sum at every version
    // (ref exploration/benchmark_ducklake.sh:175-201, demos/02:196).
    // Oracle: the same four-commit DML chain replayed as DuckDB CTEs over
    // the identical static slice — a deterministic pure function, so the
    // engine's snapshot isolation is HASH-verified, not just rows-only.
    QDef("l2_time_travel_versions",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).filter(col("o_orderkey") <= 2000)
          .selectExpr("cast(o_orderkey AS bigint) AS id", "o_totalprice AS amount")
        cat.createTableAs("t", src)
        cat.insert("t", src.selectExpr("id + 100000 AS id", "amount"))
        cat.delete("t", col("id") % 2 === 0)
        cat.update("t", col("id") % 3 === 0, Map("amount" -> lit(0.0)))
        val frames = (1L to cat.currentVersion).map { v =>
          cat.readAt("t", v).agg(
            lit(v).as("version"),
            count(lit(1)).as("n_rows"),
            coalesce(sum(col("id")), lit(0L)).as("sum_id"),
            coalesce(sum(when(col("amount") === 0.0, 1).otherwise(0)), lit(0L))
              .as("n_zeroed"))
        }
        frames.reduce(_ unionByName _)
          .select("version", "n_rows", "sum_id", "n_zeroed")
          .orderBy("version")
      }, Some("""
        WITH v1 AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
                           o_totalprice AS amount
                    FROM orders WHERE o_orderkey <= 2000),
             v2 AS (SELECT id, amount FROM v1
                    UNION ALL SELECT id + 100000, amount FROM v1),
             v3 AS (SELECT id, amount FROM v2 WHERE id % 2 <> 0),
             v4 AS (SELECT id, CASE WHEN id % 3 = 0 THEN 0.0 ELSE amount END AS amount FROM v3),
             m AS (
               SELECT 1 AS version, count(*) AS n_rows, sum(id) AS sum_id,
                      sum(CASE WHEN amount = 0.0 THEN 1 ELSE 0 END) AS n_zeroed FROM v1
               UNION ALL
               SELECT 2, count(*), sum(id),
                      sum(CASE WHEN amount = 0.0 THEN 1 ELSE 0 END) FROM v2
               UNION ALL
               SELECT 3, count(*), sum(id),
                      sum(CASE WHEN amount = 0.0 THEN 1 ELSE 0 END) FROM v3
               UNION ALL
               SELECT 4, count(*), sum(id),
                      sum(CASE WHEN amount = 0.0 THEN 1 ELSE 0 END) FROM v4)
        SELECT CAST(version AS BIGINT) AS version, n_rows,
               CAST(coalesce(sum_id, 0) AS BIGINT) AS sum_id,
               CAST(coalesce(n_zeroed, 0) AS BIGINT) AS n_zeroed
        FROM m ORDER BY version""")),

    // D4-D11 — schema evolution chain, final shape via describe()
    // (ref demos/03_schema_evolution/demo.py:112-239). Oracle: the final
    // schema is the DDL chain's CONTRACT (add+default / rename / retype /
    // drop / not-null are all deterministic), stated as literals; the row
    // counts — including the default-backfill count — are recomputed by
    // DuckDB from the same static slice, so a mis-evolved read (lost
    // backfill, stale column) breaks the hash.
    QDef("l3_schema_evolution",
      (s, d) => {
        val cat = freshLake(s)
        val events = T.events(s, d).filter(col("event_id") <= 500)
          .selectExpr("event_id AS id", "event_type", "value")
        cat.createTableAs("events", events)
        cat.transaction(_.addColumn("events", "priority", IntegerType, Some("5")))
        cat.update("events", col("event_type") === "click",
          Map("priority" -> lit(1)))
        cat.transaction(_.renameColumn("events", "event_type", "etype"))
        cat.transaction(_.changeColumnType("events", "id", LongType))
        cat.transaction(_.dropColumn("events", "value"))
        cat.transaction(_.setNotNull("events", "etype"))
        val shape = cat.describe("events")
        val counts = cat.read("events")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("priority") === 1, 1).otherwise(0)).as("n_backfilled"))
        shape.crossJoin(counts).orderBy("column_name")
      }, Some("""
        WITH ev AS (SELECT * FROM events WHERE event_id <= 500),
             c AS (SELECT count(*) AS n_rows,
                          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_backfilled
                   FROM ev),
             shape AS (SELECT * FROM (VALUES
               ('etype', 'string', 'NO', ''),
               ('id', 'bigint', 'YES', ''),
               ('priority', 'int', 'YES', '5'))
               t(column_name, column_type, "null", "default"))
        SELECT s.column_name, s.column_type, s."null", s."default",
               c.n_rows, c.n_backfilled
        FROM shape s CROSS JOIN c ORDER BY column_name""")),

    // T3/T4 — change feed between versions, aggregated by type. The table
    // carries a PRIMARY KEY, so the feed pairs each vanished+appeared row
    // into update_preimage/update_postimage — full CDC fidelity: all four
    // change types surface (ref utils/ducklake_utils.py:65-78,
    // demos/02:209-211). Oracle: the same DML replayed as DuckDB CTEs.
    QDef("l4_table_changes",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        // key ranges chosen to be non-empty at EVERY SF (sf0.001 has 150
        // customers): an empty change group would drop the row on the
        // Spark side while the oracle's UNION branch still emits count 0
        val c = T.customer(s, d).filter(col("c_custkey") <= 150)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "c_acctbal AS bal")
        cat.createTable("c",
          StructType(Seq(
            StructField("id", LongType),
            StructField("name", StringType),
            StructField("bal", DoubleType))),
          primaryKey = Seq("id"))
        cat.insert("c", c)
        val v1 = cat.currentVersion
        cat.update("c", col("id") <= 10, Map("bal" -> lit(-1.0)))
        cat.delete("c", col("id") > 140)
        cat.insert("c", Seq((9991L, "new_1", 10.0), (9992L, "new_2", 20.0),
          (9993L, "new_3", 30.0)).toDF("id", "name", "bal"))
        val v2 = cat.currentVersion
        cat.tableChanges("c", v1, v2)
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("id")), lit(0L)).as("sum_id"))
          .orderBy("change_type")
      }, Some("""
        WITH c0 AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_acctbal AS bal
                    FROM customer WHERE c_custkey <= 150),
             upd AS (SELECT id FROM c0 WHERE id <= 10 AND bal <> -1.0),
             del AS (SELECT id FROM c0 WHERE id > 140),
             ins AS (SELECT * FROM (VALUES (9991), (9992), (9993)) AS t(id)),
             m AS (
               SELECT 'delete' AS change_type, count(*) AS n, sum(id) AS sum_id FROM del
               UNION ALL SELECT 'insert', count(*), sum(id) FROM ins
               UNION ALL SELECT 'update_postimage', count(*), sum(id) FROM upd
               UNION ALL SELECT 'update_preimage', count(*), sum(id) FROM upd)
        SELECT change_type, n, CAST(coalesce(sum_id, 0) AS BIGINT) AS sum_id
        FROM m ORDER BY change_type""")),

    // L17 — CDC APPLY: the consumer half of the change feed. A source
    // table evolves through insert/update/delete commits; a replica in a
    // SECOND catalog is kept in sync by consuming tableChanges() version
    // by version and applying each step through the shared net-change
    // apply (LakeCatalog.applyChangesStreamBatch) as ONE copy-on-write
    // merge: deletes remove their keys, inserts + update_postimages
    // upsert. The judged output proves replica == source with a
    // symmetric difference of 0 plus independently recomputed row/sum
    // profiles. Scale shape: each apply step handles the step's DIFF,
    // never the table, and the change rows stay a DataFrame end to end,
    // so a version deleting millions of keys never materializes them on
    // the driver.
    QDef("l17_cdc_apply",
      (s, d) => {
        import s.implicits._
        val src = freshLake(s)
        val dst = freshLake(s)
        val schema = StructType(Seq(
          StructField("id", LongType),
          StructField("name", StringType),
          StructField("bal", DoubleType)))
        val c = T.customer(s, d).filter(col("c_custkey") <= 150)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "c_acctbal AS bal")
        src.createTable("c", schema, primaryKey = Seq("id"))     // v1
        dst.createTable("c", schema, primaryKey = Seq("id"))
        src.insert("c", c)                                       // v2
        src.update("c", col("id") <= 10, Map("bal" -> lit(-1.0))) // v3
        src.delete("c", col("id") > 140)                         // v4
        src.insert("c", Seq((9991L, "new_1", 10.0),
          (9992L, "new_2", 20.0), (9993L, "new_3", 30.0))
          .toDF("id", "name", "bal"))                            // v5
        (1L until src.currentVersion).foreach { v =>
          dst.applyChangesStreamBatch("c", src.tableChanges("c", v, v + 1)
            .withColumn("_commit_version", lit(v + 1)), Seq("id"), v, "l17")
        }
        val a = src.read("c")
        val b = dst.read("c")
        val symDiff = a.exceptAll(b).count() + b.exceptAll(a).count()
        Seq(
          ("1_rows_source", a.count()),
          ("2_rows_replica", b.count()),
          ("3_sym_diff", symDiff),
          ("4_upd_rows_replica", b.filter(col("bal") === -1.0).count()),
          ("5_replica_commits", dst.currentVersion),
          ("6_sum_ids_replica", b.agg(sum("id")).as[Long].head()))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH c0 AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
                    WHERE c_custkey <= 150),
             fin AS (SELECT id FROM c0 WHERE id <= 140
                     UNION ALL SELECT * FROM (VALUES (9991), (9992), (9993))),
             m AS (
               SELECT '1_rows_source' AS metric, count(*) AS value FROM fin
               UNION ALL SELECT '2_rows_replica', count(*) FROM fin
               UNION ALL SELECT '3_sym_diff', 0
               UNION ALL SELECT '4_upd_rows_replica',
                 (SELECT count(*) FROM c0 WHERE id <= 10)
               UNION ALL SELECT '5_replica_commits', 5
               UNION ALL SELECT '6_sum_ids_replica',
                 (SELECT sum(id) FROM fin))
        SELECT metric, CAST(value AS BIGINT) AS value FROM m
        ORDER BY metric""")),

    // S8/D11 — migrate a catalog (tables + constraints + views) and report
    // the destination's schema catalog
    // (ref demos/05_catalog_portability/demo.py:199-252). Oracle: the
    // migrated schema listing is the migration CONTRACT (literals); the
    // view's value — a count over the migrated ROWS — is recomputed by
    // DuckDB from the source slice, so dropped or duplicated rows in
    // flight break the hash.
    QDef("l5_migrate_catalog",
      (s, d) => {
        val src = freshLake(s)
        src.createTable("products",
          StructType(Seq(
            StructField("id", IntegerType),
            StructField("name", StringType),
            StructField("price", DoubleType))),
          primaryKey = Seq("id"))
        src.insert("products", inventoryDf(s, d)
          .selectExpr("product_id AS id", "product_name AS name", "price"))
        src.createView("v_expensive",
          "SELECT count(*) AS n FROM products WHERE price > 1000.0")
        val dst = freshLake(s)
        src.migrateTo(dst)
        val cols = dst.listColumns()
          .select("table_name", "column_name", "data_type", "ordinal_position")
        val vrows = dst.readView("v_expensive")
          .selectExpr("'__view_n' AS table_name", "cast(n AS string) AS column_name",
            "'bigint' AS data_type", "cast(0 AS int) AS ordinal_position")
        cols.unionByName(vrows).orderBy("table_name", "ordinal_position")
      }, Some("""
        WITH v AS (SELECT count(*) AS n FROM part
                   WHERE p_partkey <= 100 AND p_retailprice > 1000.0),
             cols AS (SELECT * FROM (VALUES
               ('products', 'id', 'int', 1),
               ('products', 'name', 'string', 2),
               ('products', 'price', 'double', 3))
               t(table_name, column_name, data_type, ordinal_position))
        SELECT table_name, column_name, data_type, ordinal_position FROM cols
        UNION ALL
        SELECT '__view_n', CAST(n AS VARCHAR), 'bigint', 0 FROM v
        ORDER BY table_name, ordinal_position""")),

    // M8 — small-file story: per-row appends as files vs INLINED in the
    // manifest, then compaction folds everything
    // (ref demos/04_small_file_optimization/demo.py:238-368, FINDINGS.md:
    // file-path = 1 file per append; inlined = 0 files per append).
    // Oracle: the file-count ledger IS the small-file contract (the
    // reference's headline claim) — 1 file per plain append, 0 per
    // inlined append, 1 after compaction — stated as literals.
    QDef("l6_compaction",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        cat.createTable("iot", StructType(Seq(
          StructField("reading_id", IntegerType),
          StructField("temp", DoubleType))))
        (1 to 10).foreach(i =>
          cat.insert("iot", Seq((i, 20.0 + i)).toDF("reading_id", "temp")))
        val asFiles = cat.tableInfo().filter(col("table_name") === "iot")
          .selectExpr("'1_file_appends' AS phase", "file_count", "row_count",
            "inlined_rows")
        (11 to 20).foreach(i =>
          cat.insertInlined("iot", Seq((i, 20.0 + i)).toDF("reading_id", "temp")))
        val asInline = cat.tableInfo().filter(col("table_name") === "iot")
          .selectExpr("'2_inline_appends' AS phase", "file_count", "row_count",
            "inlined_rows")
        cat.compact("iot")
        val after = cat.tableInfo().filter(col("table_name") === "iot")
          .selectExpr("'3_compacted' AS phase", "file_count", "row_count",
            "inlined_rows")
        asFiles.unionByName(asInline).unionByName(after).orderBy("phase")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_file_appends',   CAST(10 AS BIGINT), CAST(10 AS BIGINT), CAST(0  AS BIGINT)),
          ('2_inline_appends', CAST(10 AS BIGINT), CAST(20 AS BIGINT), CAST(10 AS BIGINT)),
          ('3_compacted',      CAST(1  AS BIGINT), CAST(20 AS BIGINT), CAST(0  AS BIGINT)))
          t(phase, file_count, row_count, inlined_rows)
        ORDER BY phase""")),

    // T1/M7 — snapshot metadata feed: id, schema version, change summary
    // (stringified deterministically; timestamps excluded — wall clock).
    // Oracle: the change-summary ledger of the fixed DDL/DML chain is the
    // snapshot contract (including M7: an empty txn still cuts snapshot 5
    // with an empty change set), stated as literals.
    QDef("l7_snapshots_meta",
      (s, d) => {
        val cat = freshLake(s)
        import s.implicits._
        cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
        cat.insert("t", Seq(1, 2, 3).toDF("id"))
        cat.transaction(_.addColumn("t", "tag", StringType, Some("'x'")))
        cat.delete("t", col("id") === 2)
        cat.transaction(_ => ()) // empty txn still cuts a snapshot (M7)
        cat.snapshots()
          .selectExpr("snapshot_id", "schema_version",
            "array_join(transform(sort_array(map_entries(changes)), " +
              "e -> concat(e.key, '=', e.value)), ';') AS changes")
          .orderBy("snapshot_id")
      }, Some("""
        SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'tables_created=t'),
          (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'tables_inserted_into=t'),
          (CAST(3 AS BIGINT), CAST(2 AS BIGINT), 'tables_altered=t'),
          (CAST(4 AS BIGINT), CAST(2 AS BIGINT), 'tables_deleted_from=t'),
          (CAST(5 AS BIGINT), CAST(2 AS BIGINT), ''))
          t(snapshot_id, schema_version, changes)
        ORDER BY snapshot_id""")),

    // T5 — audit-log reconstruction: pairwise joins of consecutive
    // snapshots extract the field-change history of a row
    // (ref demos/02_time_travel/demo.py:264-301 — the flagship composite).
    // Oracle: the three updates replayed as CTEs; money renders through
    // DECIMAL(12,2) so both engines print identical change strings.
    QDef("l8_audit_log",
      (s, d) => {
        val cat = freshLake(s)
        val c = T.customer(s, d).filter(col("c_custkey") <= 50)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "c_acctbal AS bal")
        cat.createTableAs("cust", c)
        cat.update("cust", col("id") === 7, Map("bal" -> lit(111.0)))
        cat.update("cust", col("id") <= 3, Map("bal" -> (col("bal") + 10.0)))
        cat.update("cust", col("id") === 7, Map("name" -> lit("renamed_7")))
        val cur = cat.currentVersion
        val audits = (1L until cur).map { v =>
          val prev = cat.readAt("cust", v).as("p")
          val next = cat.readAt("cust", v + 1).as("n")
          prev.join(next, col("p.id") === col("n.id"))
            .filter(col("p.bal") =!= col("n.bal") || col("p.name") =!= col("n.name"))
            .select(lit(v + 1).as("version"), col("p.id").as("id"),
              when(col("p.name") =!= col("n.name"),
                concat(col("p.name"), lit(" -> "), col("n.name")))
                .otherwise("").as("name_change"),
              when(col("p.bal") =!= col("n.bal"),
                concat(col("p.bal").cast("decimal(12,2)"), lit(" -> "),
                  col("n.bal").cast("decimal(12,2)")))
                .otherwise("").as("bal_change"))
        }
        audits.reduce(_ unionByName _).orderBy("version", "id")
      }, Some("""
        WITH v1 AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
                           c_acctbal AS bal
                    FROM customer WHERE c_custkey <= 50),
             v2 AS (SELECT id, name,
                           CASE WHEN id = 7 THEN 111.0 ELSE bal END AS bal FROM v1),
             v3 AS (SELECT id, name,
                           CASE WHEN id <= 3 THEN bal + 10.0 ELSE bal END AS bal FROM v2),
             v4 AS (SELECT id,
                           CASE WHEN id = 7 THEN 'renamed_7' ELSE name END AS name,
                           bal FROM v3),
             d2 AS (SELECT 2 AS version, p.id AS id, p.name AS pn, n.name AS nn,
                           p.bal AS pb, n.bal AS nb
                    FROM v1 p JOIN v2 n ON p.id = n.id
                    WHERE p.bal <> n.bal OR p.name <> n.name),
             d3 AS (SELECT 3, p.id, p.name, n.name, p.bal, n.bal
                    FROM v2 p JOIN v3 n ON p.id = n.id
                    WHERE p.bal <> n.bal OR p.name <> n.name),
             d4 AS (SELECT 4, p.id, p.name, n.name, p.bal, n.bal
                    FROM v3 p JOIN v4 n ON p.id = n.id
                    WHERE p.bal <> n.bal OR p.name <> n.name),
             d AS (SELECT * FROM d2 UNION ALL SELECT * FROM d3
                   UNION ALL SELECT * FROM d4)
        SELECT CAST(version AS BIGINT) AS version, id,
               CASE WHEN pn <> nn THEN pn || ' -> ' || nn ELSE '' END AS name_change,
               CASE WHEN pb <> nb
                    THEN CAST(CAST(pb AS DECIMAL(12,2)) AS VARCHAR) || ' -> ' ||
                         CAST(CAST(nb AS DECIMAL(12,2)) AS VARCHAR)
                    ELSE '' END AS bal_change
        FROM d ORDER BY version, id""")),

    // M9 — MERGE upsert (Tx.merge): matched rows replaced with the source
    // row, unmatched source rows inserted, all in one copy-on-write
    // commit. No reference analog (DuckDB spells it INSERT .. ON CONFLICT
    // DO UPDATE) — it's the lakehouse-standard idempotent-ingestion
    // primitive. Oracle: base FULL OUTER JOIN source over the identical
    // static slices — deterministic, so upsert semantics are
    // HASH-verified. Each row is tagged updated/inserted/kept from src
    // and base membership (semi-join markers on both engines).
    QDef("l10_merge_upsert",
      (s, d) => {
        val cat = freshLake(s)
        val base = T.customer(s, d).filter(col("c_custkey") <= 20)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "c_acctbal AS bal")
        val src = T.customer(s, d)
          .filter(col("c_custkey") <= 30 && col("c_custkey") % 3 === 0)
          .selectExpr("cast(c_custkey AS bigint) AS id",
            "concat('merged_', cast(c_custkey AS string)) AS name",
            "c_acctbal * 2 AS bal")
        cat.createTable("cust", StructType(Seq(
          StructField("id", LongType),
          StructField("name", StringType),
          StructField("bal", DoubleType))),
          primaryKey = Seq("id"))
        cat.insert("cust", base)
        cat.merge("cust", src, Seq("id"))
        cat.read("cust").alias("f")
          .join(src.select(col("id"), lit(1).as("__s")), Seq("id"), "left")
          .join(base.select(col("id"), lit(1).as("__b")), Seq("id"), "left")
          .select(col("id"), col("name"), col("bal"),
            when(col("__s").isNotNull && col("__b").isNotNull, "updated")
              .when(col("__s").isNotNull, "inserted")
              .otherwise("kept").as("status"))
          .orderBy("id")
      }, Some("""
        WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
                             c_acctbal AS bal
                      FROM customer WHERE c_custkey <= 20),
             src AS (SELECT CAST(c_custkey AS BIGINT) AS id,
                            'merged_' || CAST(c_custkey AS VARCHAR) AS name,
                            c_acctbal * 2 AS bal
                     FROM customer
                     WHERE c_custkey <= 30 AND c_custkey % 3 = 0)
        SELECT COALESCE(s.id, b.id) AS id,
               CASE WHEN s.id IS NOT NULL THEN s.name ELSE b.name END AS name,
               CASE WHEN s.id IS NOT NULL THEN s.bal ELSE b.bal END AS bal,
               CASE WHEN s.id IS NOT NULL AND b.id IS NOT NULL THEN 'updated'
                    WHEN s.id IS NOT NULL THEN 'inserted'
                    ELSE 'kept' END AS status
        FROM base b FULL OUTER JOIN src s ON b.id = s.id
        ORDER BY id""")),

    // M9+ — FULL MERGE clause set (Tx.mergeClauses): WHEN MATCHED AND
    // cond THEN DELETE / UPDATE, WHEN NOT MATCHED AND cond THEN INSERT,
    // WHEN NOT MATCHED BY SOURCE AND cond THEN DELETE — the complete
    // Delta/Iceberg MERGE surface (the reference has no analog; plain
    // upsert is l10). One CoW commit; delete-before-update clause order.
    // All four clauses fire: matched rows update only when the refresh
    // raises the balance, deeply-negative matched rows are purged,
    // positive-only inserts, and stale deeply-negative unmatched rows are
    // swept. Oracle: the clause semantics replayed as a 3-branch CTE over
    // the identical static slices — deterministic, HASH-verified,
    // including the rows whose fate is deletion (absence breaks the hash).
    QDef("l31_merge_clauses",
      (s, d) => {
        val cat = freshLake(s)
        val base = T.customer(s, d).filter(col("c_custkey") <= 40)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "c_acctbal AS bal")
        val src = T.customer(s, d)
          .filter(col("c_custkey") <= 60 && col("c_custkey") % 2 === 0)
          .selectExpr("cast(c_custkey AS bigint) AS id",
            "concat('refresh_', cast(c_custkey AS string)) AS name",
            "c_acctbal * 2 AS bal")
        cat.createTable("cust", StructType(Seq(
          StructField("id", LongType),
          StructField("name", StringType),
          StructField("bal", DoubleType))),
          primaryKey = Seq("id"))
        cat.insert("cust", base)
        cat.mergeClauses("cust", src, Seq("id"), graft.lake.MergeClauses(
          matchedDelete = Some("t.bal < -500.0"),
          matchedUpdate = Some("s.bal > t.bal"),
          notMatchedInsert = Some("bal > 0.0"),
          bySourceDelete = Some("t.bal < -900.0")))
        cat.read("cust")
          .join(src.select(col("id"), col("bal").as("__sbal")), Seq("id"), "left")
          .join(base.select(col("id"), col("bal").as("__bbal")), Seq("id"), "left")
          .select(col("id"), col("name"), col("bal"),
            when(col("__sbal").isNotNull && col("__bbal").isNotNull,
              when(col("__sbal") > col("__bbal"), "updated")
                .otherwise("kept_matched"))
              .when(col("__sbal").isNotNull, "inserted")
              .otherwise("kept").as("status"))
          .orderBy("id")
      }, Some("""
        WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
                             c_acctbal AS bal
                      FROM customer WHERE c_custkey <= 40),
             src AS (SELECT CAST(c_custkey AS BIGINT) AS id,
                            'refresh_' || CAST(c_custkey AS VARCHAR) AS name,
                            c_acctbal * 2 AS bal
                     FROM customer
                     WHERE c_custkey <= 60 AND c_custkey % 2 = 0)
        SELECT * FROM (
          SELECT b.id,
                 CASE WHEN s.bal > b.bal THEN s.name ELSE b.name END AS name,
                 CASE WHEN s.bal > b.bal THEN s.bal ELSE b.bal END AS bal,
                 CASE WHEN s.bal > b.bal THEN 'updated'
                      ELSE 'kept_matched' END AS status
          FROM base b JOIN src s USING (id)
          WHERE NOT (b.bal < -500.0)
          UNION ALL
          SELECT b.id, b.name, b.bal, 'kept' AS status
          FROM base b
          WHERE b.id NOT IN (SELECT id FROM src) AND NOT (b.bal < -900.0)
          UNION ALL
          SELECT s.id, s.name, s.bal, 'inserted' AS status
          FROM src s
          WHERE s.id NOT IN (SELECT id FROM base) AND s.bal > 0.0)
        ORDER BY id""")),

    // Ad-hoc SQL over the attached catalog — the reference's core usage
    // pattern (`USE lake; SELECT ...` — ref demos/01_transaction_rollback/
    // demo.py:30,74): LakeCatalog.sql resolves lake tables AND stored
    // views in an isolated child session. Judged end to end: the query
    // joins two lake tables and left-joins the stored view; the oracle
    // replays the identical SQL over the raw slices.
    QDef("l13_lake_sql",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTableAs("cust", T.customer(s, d)
          .filter(col("c_custkey") <= 100)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "cast(c_nationkey AS bigint) AS nat", "c_acctbal AS bal"))
        cat.createTableAs("nat", T.nation(s, d)
          .selectExpr("cast(n_nationkey AS bigint) AS nk", "n_name AS nname"))
        cat.createView("v_rich", "SELECT * FROM cust WHERE bal > 5000.0")
        cat.sql("""
          SELECT n.nname AS nation, count(*) AS n_customers,
                 CAST(SUM(CAST(c.bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
                 SUM(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS n_rich
          FROM cust c JOIN nat n ON c.nat = n.nk
          LEFT JOIN v_rich r ON r.id = c.id
          GROUP BY n.nname ORDER BY nation""")
      }, Some("""
        WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
                             CAST(c_nationkey AS BIGINT) AS nat, c_acctbal AS bal
                      FROM customer WHERE c_custkey <= 100),
             nat AS (SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS nname
                     FROM nation),
             v_rich AS (SELECT * FROM cust WHERE bal > 5000.0)
        SELECT n.nname AS nation, count(*) AS n_customers,
               CAST(SUM(CAST(c.bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
               CAST(SUM(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rich
        FROM cust c JOIN nat n ON c.nat = n.nk
        LEFT JOIN v_rich r ON r.id = c.id
        GROUP BY n.nname ORDER BY nation""")),

    // Streaming -> lake, end to end: a 3-file replay of the events slice
    // micro-batch-streams through the exactly-once foreachBatch sink
    // (one atomic lake commit per batch, batch ids in the snapshot change
    // summary), then the LAKE table is profiled. The oracle profiles the
    // same slice of the source events table directly — a hash match
    // proves no batch was lost or doubled in flight. n_batches pins the
    // multi-commit ingestion history (3 files -> 3 snapshots after the
    // CREATE).
    QDef("l12_stream_to_lake",
      (s, d) => {
        val cat = freshLake(s)
        val ev = T.events(s, d).filter(col("event_id") <= 1000)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_stream_src_").toString
        ev.repartition(3).write.mode("overwrite").parquet(srcDir)
        cat.createTable("ev", ev.schema)
        val v0 = cat.currentVersion
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        graft.streaming.EventStream.sinkToLake(stream, cat, "ev",
          java.nio.file.Files.createTempDirectory("graft_stream_ckpt_").toString)
        cat.read("ev")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
              .as("sum_value"))
          .withColumn("n_batches", lit(cat.currentVersion - v0))
          .orderBy("event_type")
      },
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, " +
        "CAST(3 AS BIGINT) AS n_batches " +
        "FROM events WHERE event_id <= 1000 " +
        "GROUP BY event_type ORDER BY event_type")),

    // L22 — the full streaming-lakehouse loop: stream → exactly-once
    // lake commits → INCREMENTAL MV maintenance per micro-batch. Every
    // batch is one atomic base-table commit (batch-id dedup) followed by
    // an O(delta) Mv.refresh off the change feed; a full replay of the
    // stream (fresh checkpoint, same batch ids) is recognized and leaves
    // both tables untouched. The `fresh` column proves the MV is exactly
    // up to date with the lake at the end — and the values are the plain
    // grouped aggregate DuckDB computes from the raw slice.
    QDef("l22_stream_mv",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.events(s, d).filter(col("event_id") <= 600)
          .selectExpr("event_id", "event_type",
            "cast(cast(value AS decimal(18,6)) * 1000000 AS bigint) AS cents")
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_stream_mv_").toString
        src.repartition(3).write.mode("overwrite").parquet(srcDir)
        cat.createTable("ev", src.schema, primaryKey = Seq("event_id"))
        graft.lake.Mv.create(cat, "ev_by_type", "ev",
          Seq("event_type"), Seq("cents"))
        def runOnce(): Unit = {
          val q = s.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir)
            .writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", java.nio.file.Files
              .createTempDirectory("graft_stream_mv_ckpt_").toString)
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                  id: Long) =>
                if (cat.insertStreamBatch("ev", b.toDF(), id))
                  graft.lake.Mv.refresh(cat, "ev_by_type")
                ()
            }
            .start()
          q.awaitTermination()
        }
        runOnce()
        runOnce() // full replay: batch-id dedup makes it a no-op
        val fresh = graft.lake.Mv.refresh(cat, "ev_by_type") == "noop"
        cat.read("ev_by_type")
          .select(col("event_type"), col("n_rows"), col("sum_cents"),
            lit(fresh).as("fresh"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n_rows,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                 AS BIGINT)) AS BIGINT) AS sum_cents,
               TRUE AS fresh
        FROM events WHERE event_id <= 600
        GROUP BY event_type ORDER BY event_type""")),

    // L30 — the lake as a STREAMING SOURCE (medallion bronze→silver):
    // three ingest rounds land in an append-only bronze table; after each
    // round ONE checkpointed incremental pass (LakeStream.replicate:
    // Spark's file stream source over the bronze data directory) streams
    // exactly the newly committed rows through a row-level cleanse
    // (drop 'error' events, keep value > 1) into silver, each micro-batch
    // one atomic batch-id-deduped commit. A fourth pass with no new
    // upstream commits must be a no-op (n_silver_commits stays 3, the
    // `noop` column) — the incremental-consumption contract: every pass
    // is O(delta), never O(table). Oracle: silver is exactly DuckDB's
    // cleanse of the full bronze slice, plus the commit ledger.
    QDef("l30_medallion_stream",
      (s, d) => {
        val cat = freshLake(s)
        val ev = T.events(s, d).filter(col("event_id") <= 1200)
          .select("event_id", "ts", "user_id", "event_type", "value")
        cat.createTable("bronze", ev.schema)
        cat.createTable("silver", ev.schema)
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_medallion_ckpt_").toString
        def cleanse(df: DataFrame): DataFrame =
          df.filter(col("event_type") =!= "error" && col("value") > 1.0)
        val slices = Seq(
          col("event_id") <= 400,
          col("event_id") > 400 && col("event_id") <= 800,
          col("event_id") > 800)
        val v0 = cat.currentVersion
        slices.foreach { pred =>
          cat.insert("bronze", ev.filter(pred))
          graft.streaming.LakeStream.replicate(
            cat, "bronze", "silver", cleanse, ckpt)
        }
        val commitsAfter3 = cat.currentVersion
        // no new upstream commits -> the pass must commit nothing
        graft.streaming.LakeStream.replicate(
          cat, "bronze", "silver", cleanse, ckpt)
        val noop = cat.currentVersion == commitsAfter3
        // 3 ingest + 3 replication commits on the shared ledger
        val nSilverCommits = (commitsAfter3 - v0) - slices.size
        cat.read("silver")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
              .as("sum_value"))
          .withColumn("n_silver_commits", lit(nSilverCommits))
          .withColumn("noop", lit(noop))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               CAST(3 AS BIGINT) AS n_silver_commits, TRUE AS noop
        FROM events
        WHERE event_id <= 1200 AND event_type <> 'error' AND value > 1.0
        GROUP BY event_type ORDER BY event_type""")),

    // Maintenance — snapshot expiry + orphan collection (the
    // expire_snapshots/vacuum op every long-lived lakehouse needs; no
    // direct reference analog). Observables: history shrinks to keepLast,
    // current reads are untouched, expired versions refuse time travel,
    // and the files referenced only by expired snapshots are gone from
    // disk. Oracle: the expiry ledger of the fixed 6-commit chain is the
    // vacuum contract, stated as literals; LakeSpec additionally pins
    // orphan-file deletion on disk.
    QDef("l11_vacuum_expiry",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        cat.createTable("t", StructType(Seq(StructField("id", IntegerType))))
        (1 to 5).foreach(i => cat.insert("t", Seq(i).toDF("id")))
        val before = cat.snapshots().count()
        val dataFilesBefore = cat.tableInfo()
          .filter(col("table_name") === "t")
          .selectExpr("cast(file_count AS bigint)").as[Long].head()
        cat.vacuum(keepLast = 2)
        // the expiry decision itself is an OCC commit, so the feed gains
        // one snapshot: keepLast=2 of the 6-commit chain keeps v5,v6 plus
        // the vacuum snapshot v7
        val after = cat.snapshots().count()
        val rowsCurrent = cat.read("t").count()
        val expiredFails =
          try { cat.readAt("t", 2).count(); 0L } catch { case _: Exception => 1L }
        val liveOk = cat.readAt("t", 5).count() // oldest kept data version
        Seq(
          ("1_snapshots_before", before),
          ("2_data_files_before", dataFilesBefore),
          ("3_snapshots_after", after),
          ("4_rows_current", rowsCurrent),
          ("5_expired_read_fails", expiredFails),
          ("6_prev_version_rows", liveOk))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_snapshots_before',   CAST(6 AS BIGINT)),
          ('2_data_files_before',  CAST(5 AS BIGINT)),
          ('3_snapshots_after',    CAST(3 AS BIGINT)),
          ('4_rows_current',       CAST(5 AS BIGINT)),
          ('5_expired_read_fails', CAST(1 AS BIGINT)),
          ('6_prev_version_rows',  CAST(4 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L16 — snapshot TAGS + tag-retained expiry: name a snapshot
    // ("baseline" = the corpus a model trained on), keep committing and
    // expiring history — the tagged snapshot is pinned through vacuum
    // (the Iceberg expire-snapshots-retains-refs contract) and stays
    // readable by name while its untagged neighbors are gone. Oracle:
    // the tag ledger as literals + the tagged/current table states
    // recomputed from the raw documents table.
    QDef("l16_tag_retention",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        val src = T.documents(s, d)
          .filter(col("doc_id") < 100)
          .selectExpr("doc_id", "source", "cast(n_chars AS bigint) AS n_chars")
        cat.createTableAs("docs", src.filter(col("doc_id") < 40))     // v1
        cat.insert("docs", src.filter(
          col("doc_id") >= 40 && col("doc_id") < 70))                 // v2
        cat.tag("baseline")                                           // v3
        cat.insert("docs", src.filter(col("doc_id") >= 70))           // v4
        cat.delete("docs", col("doc_id") < 10)                        // v5
        cat.vacuum(keepLast = 2)
        val tagged = cat.readTag("docs", "baseline")
        val expired1 =
          try { cat.readAt("docs", 1).count(); 0L }
          catch { case _: Exception => 1L }
        Seq(
          ("1_tag_resolves_to", cat.resolveRef("baseline")),
          ("2_rows_at_tag", tagged.count()),
          ("3_chars_at_tag",
            tagged.agg(sum("n_chars")).as[Long].head()),
          ("4_rows_current", cat.read("docs").count()),
          ("5_expired_v1_fails", expired1),
          ("6_n_refs", cat.refs().count()),
          ("7_snapshots_listed", cat.snapshots().count()))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_tag_resolves_to', CAST(2 AS BIGINT)),
          ('2_rows_at_tag',
            (SELECT count(*) FROM documents WHERE doc_id < 70)),
          ('3_chars_at_tag',
            (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
             WHERE doc_id < 70)),
          ('4_rows_current',
            (SELECT count(*) FROM documents
             WHERE doc_id >= 10 AND doc_id < 100)),
          ('5_expired_v1_fails', CAST(1 AS BIGINT)),
          ('6_n_refs', CAST(1 AS BIGINT)),
          ('7_snapshots_listed', CAST(4 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L14 — data-layout maintenance + stats-pruned range scan, end to
    // end: load a table with the key ranges INTERLEAVED across files
    // (every file overlaps every range query — worst-case layout), then
    // cluster on the key (Tx.cluster: range-partition + sort rewrite)
    // and answer a key-range query through readRange, which hands Spark
    // only the files whose manifest [min,max] overlap — at 100 TB the
    // difference between scanning 10^6 files and the overlapping few.
    // Oracle: DuckDB recomputes the range aggregate from the raw table;
    // LakeSpec pins that the pruned file set really is the minimal one.
    QDef("l14_cluster_prune",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d)
          .selectExpr("cast(o_orderkey AS bigint) AS id",
            "o_totalprice AS amount", "o_orderpriority AS prio")
        cat.createTableAs("o", src.repartition(8)) // interleaved layout
        cat.cluster("o", Seq("id"), targetFileBytes = 16L << 10)
        cat.readRange("o", "id", "1000", "5000")
          .agg(count(lit(1)).as("n"),
            sum(col("id")).as("sum_id"),
            min(col("id")).as("min_id"),
            max(col("id")).as("max_id"),
            sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
              .as("sum_amount"))
      }, Some("""
        SELECT count(*) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_id,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_id,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_id,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_amount
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000""")),

    // L18 — Z-ORDER layout + per-dimension stats pruning: load with both
    // keys interleaved across files (worst case), Z-ORDER on (id,
    // amount), then answer a range query on EACH key alone through
    // readRange. Lexicographic clustering would leave every file
    // spanning the full amount range (only the leading key prunes);
    // the z-curve gives every file a tight box in BOTH dimensions, so
    // both queries skip files — the multi-dimensional half of the l14
    // story. Oracle: both range aggregates recomputed from the raw
    // table; the pruning facts are computed from the manifest stats.
    QDef("l18_zorder_prune",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        val src = T.orders(s, d).filter(col("o_orderkey") < 15000)
          .selectExpr("cast(o_orderkey AS bigint) AS id",
            "o_totalprice AS amount")
        cat.createTableAs("o", src.repartition(8)) // interleaved layout
        // 4 KB target => >= ~10 files at every SF: with k=2 interleaved
        // dims the leading z splits alternate dimensions, so single-dim
        // pruning needs at least 2 splits of EACH dim materialized
        cat.zorder("o", Seq("id", "amount"), targetFileBytes = 4L << 10)
        def overlapping(c: String, lo: Double, hi: Double): Long =
          cat.tableStats()
            .filter(col("table_name") === "o" && col("column_name") === c &&
              col("min_value").cast(DoubleType) <= hi &&
              col("max_value").cast(DoubleType) >= lo)
            .count()
        val total = cat.tableStats()
          .filter(col("table_name") === "o" && col("column_name") === "id")
          .count()
        val byId = cat.readRange("o", "id", "1000", "2500")
          .agg(count(lit(1)).as("n"), sum(col("id")).as("s")).head()
        val byAmt = cat.readRange("o", "amount", "100000", "125000")
          .agg(count(lit(1)).as("n"),
            sum(col("id")).as("s")).head()
        Seq(
          ("1_id_range_n", byId.getAs[Long]("n")),
          ("2_id_range_sum", byId.getAs[Long]("s")),
          ("3_amount_range_n", byAmt.getAs[Long]("n")),
          ("4_amount_range_sum", byAmt.getAs[Long]("s")),
          ("5_id_prunes_files",
            if (overlapping("id", 1000, 2500) < total) 1L else 0L),
          ("6_amount_prunes_files",
            if (overlapping("amount", 100000, 125000) < total) 1L else 0L))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
                          o_totalprice AS amount
                   FROM orders WHERE o_orderkey < 15000),
             m AS (
               SELECT '1_id_range_n' AS metric, count(*) AS value FROM o
               WHERE id BETWEEN 1000 AND 2500
               UNION ALL SELECT '2_id_range_sum', sum(id) FROM o
               WHERE id BETWEEN 1000 AND 2500
               UNION ALL SELECT '3_amount_range_n', count(*) FROM o
               WHERE amount BETWEEN 100000 AND 125000
               UNION ALL SELECT '4_amount_range_sum', sum(id) FROM o
               WHERE amount BETWEEN 100000 AND 125000
               UNION ALL SELECT '5_id_prunes_files', 1
               UNION ALL SELECT '6_amount_prunes_files', 1)
        SELECT metric, CAST(value AS BIGINT) AS value FROM m
        ORDER BY metric""")),

    // L15 — incremental ingest with cross-batch dedup against the lake:
    // the training-corpus loop every pipeline runs. A corpus table holds
    // fingerprints of already-ingested docs; a new (overlapping) batch is
    // deduped within itself (keep min doc_id per fingerprint — a window,
    // deterministic) and anti-joined against the CORPUS fingerprints, and
    // only genuinely new docs are appended — one atomic lake commit. At
    // scale the anti-join is a shuffle on the fingerprint (or a bloom
    // prefilter, see j8); never a full-corpus rewrite. Oracle: the same
    // base∪batch set algebra replayed as DuckDB CTEs.
    QDef("l15_ingest_dedup",
      (s, d) => {
        val cat = freshLake(s)
        val fpExpr = "cast(conv(substr(md5(regexp_replace(lower(trim(text)), " +
          "'\\\\s+', ' ')), 1, 8), 16, 10) AS bigint)"
        val all = T.documents(s, d)
          .selectExpr("doc_id", "source", s"$fpExpr AS fp")
        cat.createTableAs("corpus", all.filter(col("doc_id") < 300))
        val batch = all.filter(col("doc_id") >= 200)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("doc_id")
        val batchDeduped = batch
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .drop("rn")
        val fresh = batchDeduped
          .join(cat.read("corpus").select("fp"), Seq("fp"), "left_anti")
        cat.insert("corpus", fresh)
        cat.read("corpus")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_uniq"),
            sum(col("doc_id")).as("sum_ids"))
          .orderBy("source")
      }, Some("""
        WITH f AS (SELECT doc_id, source,
                     ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                        '\s+', ' ', 'g')), 1, 8))::BIGINT AS fp
                   FROM documents),
             base AS (SELECT * FROM f WHERE doc_id < 300),
             batch AS (SELECT * FROM f WHERE doc_id >= 200),
             bd AS (SELECT doc_id, source, fp FROM
                      (SELECT *, row_number() OVER
                         (PARTITION BY fp ORDER BY doc_id) AS rn FROM batch)
                    WHERE rn = 1),
             fresh AS (SELECT * FROM bd
                       WHERE fp NOT IN (SELECT fp FROM base)),
             corpus AS (SELECT * FROM base UNION ALL SELECT * FROM fresh)
        SELECT source, count(*) AS n_docs,
               count(DISTINCT fp) AS n_uniq,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM corpus GROUP BY source ORDER BY source""")),

    // L19 — incremental FUZZY ingest: the production corpus loop with
    // near-dup (not just exact) cross-batch dedup. The lake stores the
    // corpus AND its MinHash band signatures as two tables; a new batch
    // computes its own signatures, probes the STORED band table (hash
    // join on the band key — the corpus is never re-shingled), and the
    // surviving docs + their signatures land in ONE atomic multi-table
    // commit, so the corpus and its index can never drift. Docs 200-299
    // arrive as exact replays (all bands match themselves); some ≥300
    // are planted near-dups of corpus docs and are caught by shared
    // band buckets. Oracle: the same band algebra replayed as CTEs.
    QDef("l19_fuzzy_ingest",
      (s, d) => {
        val cat = freshLake(s)
        val bandsAll = Pipeline.minhashBands(Pipeline.docShinglesX(s, d))
          .transform(Cached.track)
        val docs = T.documents(s, d)
          .selectExpr("doc_id", "source", "cast(n_chars AS bigint) AS n_chars")
        cat.transaction { tx =>
          tx.createTableAs("corpus", docs.filter(col("doc_id") < 300))
          tx.createTableAs("corpus_sig",
            bandsAll.filter(col("doc_id") < 300))
        }
        val batch = docs.filter(col("doc_id") >= 200)
        val batchSig = bandsAll.filter(col("doc_id") >= 200)
        val dupIds = batchSig.as("b")
          .join(cat.read("corpus_sig").as("c"),
            col("b.band") === col("c.band") && col("b.bsig") === col("c.bsig"))
          .select(col("b.doc_id")).distinct()
        val fresh = batch.join(dupIds, Seq("doc_id"), "left_anti")
        val freshSig = batchSig.join(dupIds, Seq("doc_id"), "left_anti")
        cat.transaction { tx =>
          tx.insert("corpus", fresh)
          tx.insert("corpus_sig", freshSig)
        }
        cat.read("corpus")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_ids"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      }, Some(s"WITH ${Pipeline.bandsD}, " +
        "base AS (SELECT doc_id FROM documents WHERE doc_id < 300), " +
        "batch AS (SELECT doc_id FROM documents WHERE doc_id >= 200), " +
        "dup AS (SELECT DISTINCT b.doc_id FROM bands b " +
        "JOIN bands c ON b.band = c.band AND b.bsig = c.bsig " +
        "AND c.doc_id < 300 WHERE b.doc_id >= 200), " +
        "corpus AS (SELECT doc_id FROM base UNION ALL " +
        "SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM dup)) " +
        "SELECT d.source, count(*) AS n_docs, " +
        "CAST(sum(d.doc_id) AS BIGINT) AS sum_ids, " +
        "CAST(sum(d.n_chars) AS BIGINT) AS sum_chars " +
        "FROM corpus JOIN documents d USING (doc_id) " +
        "GROUP BY d.source ORDER BY d.source")),

    // L20 — PARTITIONED table layout + exact partition pruning: declare
    // partition columns at CREATE TABLE, writes hash-cluster on them
    // (each value -> one file per batch) and the manifest records every
    // file's partition-value SET (the Iceberg partition-tuple analog);
    // readPartition prunes by exact membership — hive-style partition
    // pruning at file granularity with no directory coupling. At 100 TB
    // a one-source scan touches that source's files, never the table.
    // Oracle: the pruning facts are engine contracts (one file per
    // value, strictly fewer than all files); the partition aggregates
    // are recomputed from the raw table.
    QDef("l20_partitioned_prune",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        cat.createTable("docs", StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("n_chars", LongType))),
          partitionBy = Seq("source"))
        cat.insert("docs", T.documents(s, d)
          .selectExpr("doc_id", "source", "cast(n_chars AS bigint) AS n_chars"))
        val st = cat.current.tables("docs")
        val total = st.files.size.toLong
        val matching = st.files.count(
          _.pvals.get("source").exists(_.contains("src7"))).toLong
        val part = cat.readPartition("docs", Map("source" -> "src7"))
        Seq(
          ("1_one_file_per_value", if (matching == 1) 1L else 0L),
          ("2_pruning_surgical", if (matching < total) 1L else 0L),
          ("3_rows_partition", part.count()),
          ("4_chars_partition", part.agg(sum("n_chars")).as[Long].head()),
          ("5_partition_meta",
            if (cat.tableInfo().filter(col("table_name") === "docs")
              .select("partition_by").as[String].head() == "source") 1L
            else 0L))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_one_file_per_value', CAST(1 AS BIGINT)),
          ('2_pruning_surgical',   CAST(1 AS BIGINT)),
          ('3_rows_partition',
            (SELECT count(*) FROM documents WHERE source = 'src7')),
          ('4_chars_partition',
            (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
             WHERE source = 'src7')),
          ('5_partition_meta',     CAST(1 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L36 — SQL DML end-to-end (the reference's actual interface:
    // `conn.execute(...)` against the attached DuckLake — ref
    // demos/01_transaction_rollback/demo.py:30,74): the demo-1-style
    // inventory lifecycle driven ENTIRELY through
    // `LakeCatalog.execute` SQL strings (CTAS, UPDATE with expressions,
    // DELETE, multi-row INSERT VALUES, CREATE VIEW, final SELECT over
    // tables + the stored view), each statement one atomic commit.
    // Oracle: the identical statement sequence replayed as DuckDB CTEs.
    QDef("l36_sql_dml",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTableAs("inv", inventoryDf(s, d))
        cat.execute(
          "CREATE TABLE promo AS SELECT product_id, price FROM inv WHERE price > 1500.0")
        cat.execute("UPDATE inv SET quantity = quantity + 10, " +
          "price = price + 1.0 WHERE product_id % 3 = 0")
        cat.execute("DELETE FROM inv WHERE quantity < 5")
        cat.execute("INSERT INTO inv VALUES " +
          "(9001, 'sql_item_a', 7, 19.99), (9002, 'sql_item_b', 12, 5.5)")
        cat.execute(
          "CREATE VIEW v_expensive AS SELECT * FROM inv WHERE price > 100.0")
        cat.execute("""
          SELECT i.product_id, i.product_name, i.quantity, i.price,
                 CASE WHEN p.product_id IS NOT NULL THEN 1 ELSE 0 END
                   AS was_promo,
                 CASE WHEN e.product_id IS NOT NULL THEN 1 ELSE 0 END
                   AS is_expensive
          FROM inv i LEFT JOIN promo p ON i.product_id = p.product_id
          LEFT JOIN v_expensive e ON i.product_id = e.product_id
          ORDER BY i.product_id""")
      }, Some("""
        WITH inv0 AS (SELECT CAST(p_partkey AS INT) AS product_id,
                             p_name AS product_name,
                             CAST(p_size AS INT) AS quantity,
                             p_retailprice AS price
                      FROM part WHERE p_partkey <= 100),
        promo AS (SELECT product_id, price FROM inv0 WHERE price > 1500.0),
        upd AS (SELECT product_id, product_name,
                 CASE WHEN product_id % 3 = 0 THEN quantity + 10
                      ELSE quantity END AS quantity,
                 CASE WHEN product_id % 3 = 0 THEN price + 1.0
                      ELSE price END AS price
                FROM inv0),
        del AS (SELECT * FROM upd WHERE NOT (quantity < 5)),
        ins AS (SELECT * FROM del UNION ALL
                SELECT * FROM (VALUES
                  (9001, 'sql_item_a', 7, 19.99),
                  (9002, 'sql_item_b', 12, 5.5))
                  t(product_id, product_name, quantity, price)),
        expens AS (SELECT * FROM ins WHERE price > 100.0)
        SELECT i.product_id, i.product_name, i.quantity, i.price,
               CASE WHEN p.product_id IS NOT NULL THEN 1 ELSE 0 END
                 AS was_promo,
               CASE WHEN e.product_id IS NOT NULL THEN 1 ELSE 0 END
                 AS is_expensive
        FROM ins i LEFT JOIN promo p ON i.product_id = p.product_id
        LEFT JOIN expens e ON i.product_id = e.product_id
        ORDER BY i.product_id""")),

    // L37 — the reference's headline time-travel SQL SYNTAX end to end
    // (ref README.md:215-220, demos/02_time_travel/demo.py:163-232):
    // `t AT (VERSION => n)` resolved to the exact snapshot file list,
    // `AT (VERSION => 'tag')` through the named-ref table, and —
    // composition being the point of a rewrite over real SQL — a
    // cross-version NOT EXISTS diff recovering exactly the rows a DELETE
    // removed. Oracle: the DML chain replayed as CTEs; every (snap,
    // count, sum) cell must hash-match.
    QDef("l37_time_travel_sql",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).filter(col("o_orderkey") <= 2000)
          .selectExpr("cast(o_orderkey AS bigint) AS id")
        cat.createTableAs("t", src)              // v1
        cat.delete("t", col("id") % 2 === 0)     // v2
        cat.tag("before_cleanup", 1L)            // v3 (refs-only commit)
        cat.sql("""
          SELECT 'deleted' AS snap, count(*) AS n,
                 CAST(coalesce(sum(x.id), 0) AS BIGINT) AS sum_id
          FROM t AT (VERSION => 1) x
          WHERE NOT EXISTS (SELECT 1 FROM t AT (VERSION => 2) y
                            WHERE y.id = x.id)
          UNION ALL SELECT 'tag', count(*),
                 CAST(coalesce(sum(id), 0) AS BIGINT)
          FROM t AT (VERSION => 'before_cleanup')
          UNION ALL SELECT 'v1', count(*),
                 CAST(coalesce(sum(id), 0) AS BIGINT)
          FROM t AT (VERSION => 1)
          UNION ALL SELECT 'current', count(*),
                 CAST(coalesce(sum(id), 0) AS BIGINT)
          FROM t
          ORDER BY snap""")
      }, Some("""
        WITH v1 AS (SELECT CAST(o_orderkey AS BIGINT) AS id
                    FROM orders WHERE o_orderkey <= 2000),
             v2 AS (SELECT id FROM v1 WHERE id % 2 <> 0),
             del AS (SELECT id FROM v1 WHERE id % 2 = 0)
        SELECT 'deleted' AS snap, count(*) AS n,
               CAST(coalesce(sum(id), 0) AS BIGINT) AS sum_id FROM del
        UNION ALL SELECT 'tag', count(*),
               CAST(coalesce(sum(id), 0) AS BIGINT) FROM v1
        UNION ALL SELECT 'v1', count(*),
               CAST(coalesce(sum(id), 0) AS BIGINT) FROM v1
        UNION ALL SELECT 'current', count(*),
               CAST(coalesce(sum(id), 0) AS BIGINT) FROM v2
        ORDER BY snap""")),

    // L38 — SQL-level metadata TABLE FUNCTIONS (the reference's
    // `ducklake_snapshots()` / `ducklake_table_info()` /
    // `ducklake_table_changes(t, v1, v2)` surface — ref
    // utils/ducklake_utils.py:58-78): the whole metadata model queryable
    // with plain SQL, no Scala API. The judged statement profiles a
    // change feed (all FOUR change types — the PK pairs a vanished +
    // appeared row as update pre/postimage), the snapshot feed, and the
    // table inventory in ONE query. Oracle: the DML chain replayed as
    // CTEs; file counts/bytes/timestamps (env-dependent) deliberately
    // excluded from the projection.
    QDef("l38_meta_sql",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).filter(col("o_orderkey") <= 1000)
          .selectExpr("cast(o_orderkey AS bigint) AS id",
            "cast(o_custkey AS bigint) AS cust")
        cat.createTable("t", org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cust",
            org.apache.spark.sql.types.LongType))), primaryKey = Seq("id"))
        cat.insert("t", src)                                     // v2
        cat.delete("t", col("id") % 10 === 0)                    // v3
        cat.update("t", col("id") % 7 === 0,
          Map("cust" -> (col("cust") + lit(1000000L))))          // v4
        cat.sql("""
          SELECT 'changes_2_4' AS section, change_type AS k, count(*) AS n,
                 CAST(coalesce(sum(id), 0) AS BIGINT) AS sum_id
          FROM graft_table_changes('t', 2, 4) GROUP BY 1, 2
          UNION ALL
          SELECT 'snapshots', 'feed', count(*),
                 CAST(SUM(snapshot_id) AS BIGINT)
          FROM graft_snapshots()
          UNION ALL
          SELECT 'tables', table_name, row_count, schema_version
          FROM graft_table_info()
          ORDER BY section, k""")
      }, Some("""
        WITH v2 AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
                           CAST(o_custkey AS BIGINT) AS cust
                    FROM orders WHERE o_orderkey <= 1000),
             v3 AS (SELECT * FROM v2 WHERE id % 10 <> 0),
             v4 AS (SELECT id, CASE WHEN id % 7 = 0
                      THEN cust + 1000000 ELSE cust END AS cust FROM v3),
             deleted AS (SELECT id FROM v2 WHERE id % 10 = 0),
             updated AS (SELECT id FROM v3 WHERE id % 7 = 0)
        SELECT 'changes_2_4' AS section, 'delete' AS k, count(*) AS n,
               CAST(coalesce(sum(id), 0) AS BIGINT) AS sum_id FROM deleted
        UNION ALL SELECT 'changes_2_4', 'update_postimage', count(*),
               CAST(coalesce(sum(id), 0) AS BIGINT) FROM updated
        UNION ALL SELECT 'changes_2_4', 'update_preimage', count(*),
               CAST(coalesce(sum(id), 0) AS BIGINT) FROM updated
        UNION ALL SELECT 'snapshots', 'feed', 4, CAST(1+2+3+4 AS BIGINT)
        UNION ALL SELECT 'tables', 't',
               (SELECT count(*) FROM v4), 1
        ORDER BY section, k""")),

    // L39 — SQL MERGE INTO through the statement router: the full
    // four-branch statement (conditional MATCHED DELETE, MATCHED UPDATE
    // SET *, conditional NOT MATCHED INSERT *, NOT MATCHED BY SOURCE
    // DELETE) parsed onto Tx.mergeClauses as ONE atomic commit — the
    // last DML verb reachable only from the Scala API now reachable from
    // SQL. The source is a SELECT over the target's own current
    // snapshot (self-referential merge, the hard consistency case: the
    // source must see pre-merge state). Oracle: all four branches
    // replayed as CTEs.
    QDef("l39_sql_merge",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTableAs("t", T.orders(s, d)
          .filter(col("o_orderkey") <= 600)
          .selectExpr("cast(o_orderkey AS bigint) AS id",
            "cast(o_custkey AS bigint) AS cust"))
        cat.execute("""
          MERGE INTO t USING (
            SELECT id * 2 AS id, cust + 7 AS cust
            FROM t WHERE id > 200 AND id <= 350
          ) s ON t.id = s.id
          WHEN MATCHED AND s.cust % 3 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED AND cust % 2 = 0 THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.id > 590 THEN DELETE""")
        cat.read("t").agg(
          count(lit(1)).as("n_rows"),
          sum("id").cast("long").as("sum_id"),
          sum("cust").cast("long").as("sum_cust"))
      }, Some("""
        WITH v1 AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
                           CAST(o_custkey AS BIGINT) AS cust
                    FROM orders WHERE o_orderkey <= 600),
             src AS (SELECT id * 2 AS id, cust + 7 AS cust
                     FROM v1 WHERE id > 200 AND id <= 350),
             upd AS (SELECT v1.id, s.cust AS scust
                     FROM v1 JOIN src s USING (id)),
             kept AS (
               SELECT id, cust FROM v1
               WHERE id NOT IN (SELECT id FROM src) AND NOT (id > 590)
               UNION ALL
               SELECT id, scust AS cust FROM upd WHERE scust % 3 <> 0
               UNION ALL
               SELECT id, cust FROM src
               WHERE id NOT IN (SELECT id FROM v1) AND cust % 2 = 0)
        SELECT count(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
               CAST(SUM(cust) AS BIGINT) AS sum_cust FROM kept""")),

    // L40 — SQL DDL end to end: the reference's demo-3 statement chain
    // replayed VERBATIM through the router (ref
    // demos/03_schema_evolution/demo.py:103-240 and
    // demos/01_transaction_rollback/demo.py:35-54) — CREATE TABLE with
    // column defs + PRIMARY KEY/NOT NULL (DuckDB-flavored type names
    // normalized to Spark's), ADD COLUMN with DEFAULT read by
    // pre-evolution files, ALTER COLUMN TYPE, SET NOT NULL (validates
    // existing rows first), the validate-then-swap DROP/RENAME recipe.
    // Oracle: the final table is a pure function of the literal chain.
    QDef("l40_sql_ddl",
      (s, _) => {
        val cat = freshLake(s)
        Seq(
          "CREATE TABLE ev (event_id INTEGER PRIMARY KEY, " +
            "event_type VARCHAR NOT NULL, event_data VARCHAR)",
          "INSERT INTO ev VALUES (1, 'login', 'u1'), (2, 'click', 'u2'), " +
            "(3, 'logout', 'u3')",
          "ALTER TABLE ev ADD COLUMN priority INTEGER DEFAULT 5",
          "INSERT INTO ev VALUES (4, 'login', 'u4', 9)",
          "ALTER TABLE ev ADD COLUMN event_category VARCHAR",
          "INSERT INTO ev VALUES (5, 'purchase', 'u5', 2, 'commerce')",
          "ALTER TABLE ev ALTER COLUMN priority TYPE BIGINT",
          "UPDATE ev SET event_category = 'uncategorized' " +
            "WHERE event_category IS NULL",
          "ALTER TABLE ev ALTER COLUMN event_category SET NOT NULL",
          "ALTER TABLE ev ADD COLUMN event_data_validated VARCHAR",
          "UPDATE ev SET event_data_validated = upper(event_data)",
          "ALTER TABLE ev DROP COLUMN event_data",
          "ALTER TABLE ev RENAME COLUMN event_data_validated TO event_data"
        ).foreach(cat.execute)
        cat.sql("SELECT event_id, event_type, priority, event_category, " +
          "event_data FROM ev ORDER BY event_id")
      }, Some("""
        SELECT CAST(event_id AS INT) AS event_id, event_type,
               CAST(priority AS BIGINT) AS priority, event_category,
               event_data
        FROM (VALUES
          (1, 'login',    5, 'uncategorized', 'U1'),
          (2, 'click',    5, 'uncategorized', 'U2'),
          (3, 'logout',   5, 'uncategorized', 'U3'),
          (4, 'login',    9, 'uncategorized', 'U4'),
          (5, 'purchase', 2, 'commerce',      'U5'))
          t(event_id, event_type, priority, event_category, event_data)
        ORDER BY event_id""")),

    // L35 — PARTITION-RETENTION delete (`DELETE WHERE day = X` as a
    // DROP PARTITION fast path): a file whose recorded partition-value
    // set is exactly the probed day drops from the manifest with ZERO
    // I/O; a file that mixes days (hash clustering sends each day to ONE
    // file, but a bucket can hold several days) rewrites alone. Either
    // way the sweep touches exactly the one file holding the probe day —
    // the daily retention delete every 100-TB event table runs costs one
    // file, not a table scan. Contract: exactly one manifest entry
    // removed, at most one written; survivors recomputed from the raw
    // table; probe day derived from the data on both sides.
    QDef("l35_partition_retention",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        val ev = T.events(s, d).select(
          col("event_id").cast(LongType).as("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type").as("etype"))
        cat.createTable("ev", StructType(Seq(
          StructField("event_id", LongType),
          StructField("day", StringType),
          StructField("etype", StringType))),
          partitionBy = Seq("day"))
        cat.insert("ev", ev)
        val d0 = ev.agg(min("day")).as[String].head()
        val pre = cat.current.tables("ev").files.map(_.path).toSet
        cat.deletePartitions("ev", Map("day" -> d0))
        val post = cat.current.tables("ev").files.map(_.path).toSet
        val surgical = (pre -- post).size == 1 && (post -- pre).size <= 1
        Seq(
          ("1_surgical_one_file", if (surgical) 1L else 0L),
          ("2_rows_surviving", cat.read("ev").count()),
          ("3_probe_day_rows", cat.read("ev")
            .filter(col("day") === d0).count()),
          ("4_survivor_id_sum", cat.read("ev")
            .agg(coalesce(sum("event_id"), lit(0L))).as[Long].head()))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH ev AS (SELECT event_id, strftime(ts, '%Y-%m-%d') AS day
                    FROM events),
             probe AS (SELECT min(day) AS pd FROM ev)
        SELECT * FROM (VALUES
          ('1_surgical_one_file', CAST(1 AS BIGINT)),
          ('2_rows_surviving',
            (SELECT count(*) FROM ev, probe WHERE day <> pd)),
          ('3_probe_day_rows', CAST(0 AS BIGINT)),
          ('4_survivor_id_sum',
            (SELECT CAST(sum(event_id) AS BIGINT) FROM ev, probe
             WHERE day <> pd)))
          t(metric, value)
        ORDER BY metric""")),

    // L34 — ZERO-COPY FILE REGISTRATION (Iceberg `add_files` / Delta
    // `CONVERT TO DELTA`): pre-existing parquet lands in the lake as
    // metadata + one distributed validation/stats read — never a data
    // copy. Files are referenced in place by absolute path (outside the
    // lake root; vacuum never touches them), get the same min/max stats
    // harvest as native writes (so they prune), and the rows pass full
    // insert validation — a PK-colliding re-import refuses atomically.
    // Oracle: the import replayed from the raw table + engine contracts
    // (external reference, stats present, refusal) as literals.
    QDef("l34_add_files",
      (s, d) => {
        import s.implicits._
        def slice(lo: Int, hi: Int) = T.customer(s, d)
          .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
          .selectExpr("cast(c_custkey AS bigint) AS id", "c_name AS name",
            "cast(c_nationkey AS bigint) AS nat", "c_acctbal AS bal")
        val cat = freshLake(s)
        val ext = java.nio.file.Files.createTempDirectory("graft_ext_").toString
        slice(50, 150).coalesce(2).write.mode("overwrite").parquet(ext)
        val nExt = new java.io.File(ext).listFiles()
          .count(f => f.getName.endsWith(".parquet"))
        cat.createTable("cust", StructType(Seq(
          StructField("id", LongType), StructField("name", StringType),
          StructField("nat", LongType), StructField("bal", DoubleType))),
          primaryKey = Seq("id"))
        cat.insert("cust", slice(0, 50))
        val vPre = cat.currentVersion
        val nFilesPre = cat.current.tables("cust").files.size
        cat.addDataFiles("cust", ext)
        val imported = cat.current.tables("cust").files.drop(nFilesPre)
        val extAbs = new java.io.File(ext).getAbsolutePath
        val zeroCopy = imported.size == nExt &&
          imported.forall(_.path.startsWith(extAbs))
        val statsOk = imported.forall(_.stats.contains("id"))
        val refused =
          try { cat.addDataFiles("cust", ext); false }
          catch { case _: ConstraintViolation => true }
        Seq(
          ("1_zero_copy_external", if (zeroCopy) 1L else 0L),
          ("2_stats_harvested", if (statsOk) 1L else 0L),
          ("3_rows_total", cat.read("cust").count()),
          ("4_bal_cents", cat.read("cust")
            .agg(coalesce(sum((col("bal").cast(DecimalType(18, 2)) * 100)
              .cast(LongType)), lit(0L))).as[Long].head()),
          ("5_time_travel_pre_import", cat.readAt("cust", vPre).count()),
          ("6_pk_reimport_refused", if (refused) 1L else 0L))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_zero_copy_external',     CAST(1 AS BIGINT)),
          ('2_stats_harvested',        CAST(1 AS BIGINT)),
          ('3_rows_total',
            (SELECT count(*) FROM customer
             WHERE c_custkey > 0 AND c_custkey <= 150)),
          ('4_bal_cents',
            (SELECT CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT)
             FROM customer WHERE c_custkey > 0 AND c_custkey <= 150)),
          ('5_time_travel_pre_import',
            (SELECT count(*) FROM customer
             WHERE c_custkey > 0 AND c_custkey <= 50)),
          ('6_pk_reimport_refused',    CAST(1 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L33 — mergeSchema INGESTION (Delta `mergeSchema=true` write): a
    // batch arriving with columns the table lacks auto-ADDS them and
    // lands the data in ONE atomic commit; pre-evolution rows read NULL
    // for the new columns through the stable-column-id machinery (no
    // backfill, no rewrite — at 100 TB an upstream producer adding a
    // field must not force a table rewrite or an ingestion outage).
    // Oracle: the two-batch ingest replayed as CTEs with explicit NULLs
    // on the pre-evolution half.
    QDef("l33_schema_merge_ingest",
      (s, d) => {
        val cat = freshLake(s)
        val b1 = T.documents(s, d).filter(col("doc_id") % 2 === 0)
          .selectExpr("doc_id", "source")
        val b2 = T.documents(s, d).filter(col("doc_id") % 2 === 1)
          .selectExpr("doc_id", "source", "lang",
            "cast(n_chars AS bigint) AS n_chars")
        cat.createTable("docs", StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType))),
          primaryKey = Seq("doc_id"))
        cat.insert("docs", b1)
        cat.insertEvolve("docs", b2)
        cat.read("docs").groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("lang").isNull, 1L).otherwise(0L))
            .as("n_pre_evolution"),
          coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
          .orderBy("source")
      }, Some("""
        WITH b1 AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0),
             b2 AS (SELECT doc_id, source, lang,
                           CAST(n_chars AS BIGINT) AS n_chars
                    FROM documents WHERE doc_id % 2 = 1),
             docs AS (SELECT doc_id, source, NULL AS lang,
                             CAST(NULL AS BIGINT) AS n_chars FROM b1
                      UNION ALL SELECT * FROM b2)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pre_evolution,
               COALESCE(CAST(sum(n_chars) AS BIGINT), 0) AS sum_chars
        FROM docs GROUP BY source ORDER BY source""")),

    // L32 — PARTITION-SPEC EVOLUTION (Iceberg REPLACE PARTITION FIELD):
    // the declared partition columns change mid-life, METADATA ONLY — no
    // data rewrite. Files written under the old spec keep the value sets
    // harvested then, so old-spec probes still prune them exactly; new
    // writes cluster + index on the new spec. At 100 TB this is the
    // feature that lets a table re-partition from event-type to day
    // without rewriting history. Oracle: pruning exactness facts are
    // engine contracts (exactly ONE file carries each probed value under
    // its spec); probe row counts + sums recomputed from the raw table;
    // the probe day is derived from the data on both sides (min day of
    // the new-spec slice) so the query is SF-stable.
    QDef("l32_partition_evolution",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        val ev = T.events(s, d).select(
          col("event_id").cast(LongType).as("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type").as("etype"))
        cat.createTable("ev", StructType(Seq(
          StructField("event_id", LongType),
          StructField("day", StringType),
          StructField("etype", StringType))),
          partitionBy = Seq("etype"))
        cat.insert("ev", ev.filter(col("event_id") % 2 === 0))
        cat.setPartitionBy("ev", Seq("day"))
        cat.insert("ev", ev.filter(col("event_id") % 2 === 1))
        val probeDay = ev.filter(col("event_id") % 2 === 1)
          .agg(min("day")).as[String].head()
        val st = cat.current.tables("ev")
        val oldExact = st.files.count(
          _.pvals.get("etype").exists(_.contains("click"))).toLong
        val newExact = st.files.count(
          _.pvals.get("day").exists(_.contains(probeDay))).toLong
        val oldProbe = cat.readPartition("ev", Map("etype" -> "click"))
        val newProbe = cat.readPartition("ev", Map("day" -> probeDay))
        Seq(
          ("1_spec_meta_evolved",
            if (cat.tableInfo().filter(col("table_name") === "ev")
              .select("partition_by").as[String].head() == "day") 1L else 0L),
          ("2_old_files_prune_exact", if (oldExact == 1L) 1L else 0L),
          ("3_new_files_prune_exact", if (newExact == 1L) 1L else 0L),
          ("4_rows_old_probe", oldProbe.count()),
          ("5_rows_new_probe", newProbe.count()),
          ("6_sum_ids_new_probe",
            newProbe.agg(coalesce(sum("event_id"), lit(0L))).as[Long].head()))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH ev AS (SELECT event_id, strftime(ts, '%Y-%m-%d') AS day,
                           event_type AS etype FROM events),
             probe AS (SELECT min(day) AS pd FROM ev WHERE event_id % 2 = 1)
        SELECT * FROM (VALUES
          ('1_spec_meta_evolved',      CAST(1 AS BIGINT)),
          ('2_old_files_prune_exact',  CAST(1 AS BIGINT)),
          ('3_new_files_prune_exact',  CAST(1 AS BIGINT)),
          ('4_rows_old_probe',
            (SELECT count(*) FROM ev WHERE etype = 'click')),
          ('5_rows_new_probe',
            (SELECT count(*) FROM ev, probe WHERE day = pd)),
          ('6_sum_ids_new_probe',
            (SELECT CAST(sum(event_id) AS BIGINT) FROM ev, probe
             WHERE day = pd)))
          t(metric, value)
        ORDER BY metric""")),

    // L21 — incrementally maintained MATERIALIZED VIEW: the MV table
    // holds a grouped count/sum over a base table; commits (insert,
    // update, delete) advance the base, and refresh applies only the
    // CHANGE FEED between the MV's watermark version and now — signed
    // per-group deltas merged copy-on-write, O(changed rows + changed
    // groups), never O(table). At 100 TB a daily refresh costs the
    // day's delta, not a scan. The `incremental` column is the path
    // contract (a silent fall-back to full recompute breaks the hash);
    // the values are the base DML replayed by DuckDB as CTEs.
    QDef("l21_incremental_mv",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).selectExpr(
          "cast(o_orderkey AS bigint) AS id",
          "cast(o_custkey % 20 AS bigint) AS k",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS v")
        cat.createTable("sales", StructType(Seq(
          StructField("id", LongType), StructField("k", LongType),
          StructField("v", LongType))), primaryKey = Seq("id"))
        cat.insert("sales", src.filter(col("id") <= 3000))
        graft.lake.Mv.create(cat, "sales_by_k", "sales", Seq("k"), Seq("v"))
        cat.insert("sales", src.filter(col("id") > 3000 && col("id") <= 4000))
        cat.update("sales", col("id") <= 500, Map("v" -> (col("v") + 100L)))
        cat.delete("sales", col("k") === 7L)
        val mode = graft.lake.Mv.refresh(cat, "sales_by_k")
        cat.read("sales_by_k")
          .select(col("k"), col("n_rows"), col("sum_v"),
            lit(mode == "incremental").as("incremental"))
          .orderBy("k")
      }, Some("""
        WITH rows0 AS (
          SELECT o_orderkey AS id, o_custkey % 20 AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM orders WHERE o_orderkey <= 4000),
        upd AS (SELECT id, k, CASE WHEN id <= 500 THEN v + 100 ELSE v END AS v
                FROM rows0),
        fin AS (SELECT * FROM upd WHERE k <> 7)
        SELECT CAST(k AS BIGINT) AS k, count(*) AS n_rows,
               CAST(sum(v) AS BIGINT) AS sum_v, TRUE AS incremental
        FROM fin GROUP BY k ORDER BY k""")),

    // L45 — MV MIN/MAX incremental maintenance, both paths judged: an
    // insert-only batch folds in as least/greatest over the delta alone
    // (O(delta), no base scan), then a value-range DELETE retires the
    // current min of most groups, forcing the exact per-group recompute
    // via a semi-join on only the affected keys (O(changed groups'
    // rows), never O(table)). The `incremental` column pins the path
    // contract for BOTH refreshes — a silent fall-back to full recompute
    // breaks the hash; the values are the base DML replayed by DuckDB.
    QDef("l45_mv_minmax",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).selectExpr(
          "cast(o_orderkey AS bigint) AS id",
          "cast(o_custkey % 20 AS bigint) AS k",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS v")
        cat.createTable("sales", StructType(Seq(
          StructField("id", LongType), StructField("k", LongType),
          StructField("v", LongType))), primaryKey = Seq("id"))
        cat.insert("sales", src.filter(col("id") <= 3000))
        graft.lake.Mv.create(cat, "sales_by_k", "sales", Seq("k"),
          sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
        // insert-only delta → the least/greatest fast fold
        cat.insert("sales", src.filter(col("id") > 3000 && col("id") <= 4000))
        val m1 = graft.lake.Mv.refresh(cat, "sales_by_k")
        // delete the cheap tail: retires the running min of most groups →
        // exact recompute of exactly the delete-touched groups
        cat.delete("sales", col("v") < 10000000L)
        val m2 = graft.lake.Mv.refresh(cat, "sales_by_k")
        cat.read("sales_by_k")
          .select(col("k"), col("n_rows"), col("sum_v"),
            col("min_v"), col("max_v"),
            lit(m1 == "incremental" && m2 == "incremental").as("incremental"))
          .orderBy("k")
      }, Some("""
        WITH rows0 AS (
          SELECT o_orderkey AS id, o_custkey % 20 AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM orders WHERE o_orderkey <= 4000),
        fin AS (SELECT * FROM rows0 WHERE v >= 10000000)
        SELECT CAST(k AS BIGINT) AS k, count(*) AS n_rows,
               CAST(sum(v) AS BIGINT) AS sum_v,
               CAST(min(v) AS BIGINT) AS min_v,
               CAST(max(v) AS BIGINT) AS max_v,
               TRUE AS incremental
        FROM fin GROUP BY k ORDER BY k""")),

    // L47 — min/max on a JOIN MV (round-11 ask: the delete-path exact
    // recompute generalized to the join form). Same maintenance split as
    // l45: an insert-only fact delta folds in as least/greatest (m1);
    // a fact-side delete that retires running minimums routes exactly
    // the touched groups to a recompute that re-runs the filter+join
    // under a semi-join on the affected keys (m2); dim churn produces
    // negative-signed leg rows, so the remapped groups recompute too
    // (m3). All three refreshes must report "incremental" — the O(delta)
    // contract — and every value is recomputed from scratch by DuckDB.
    QDef("l47_join_mv_minmax",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).selectExpr(
          "cast(o_orderkey AS bigint) AS id",
          "cast(o_custkey % 20 AS bigint) AS k",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS v")
        cat.createTable("sales", StructType(Seq(
          StructField("id", LongType), StructField("k", LongType),
          StructField("v", LongType))), primaryKey = Seq("id"))
        cat.insert("sales", src.filter(col("id") <= 3000))
        cat.createTableAs("kdim", s.range(20).selectExpr(
          "cast(id AS bigint) AS k", "cast(id % 4 AS bigint) AS grp"))
        graft.lake.Mv.createJoin(cat, "sales_mm", "sales", "kdim",
          "k", "k", Some("id % 2 = 0"), Seq("grp"), sums = Seq("v"),
          mins = Seq("v"), maxs = Seq("v"))
        // insert-only fact delta → least/greatest fast fold
        cat.insert("sales", src.filter(col("id") > 3000 && col("id") <= 4000))
        val m1 = graft.lake.Mv.refresh(cat, "sales_mm")
        // fact delete retiring most groups' running min → join recompute
        // of exactly the delete-touched groups
        cat.delete("sales", col("v") < 10000000L)
        val m2 = graft.lake.Mv.refresh(cat, "sales_mm")
        // dim churn: k=3 remaps to grp 0 — negative leg rows send grp 3
        // through the recompute; grp 0 gains rows
        cat.update("kdim", col("k") === 3L, Map("grp" -> lit(0L)))
        val m3 = graft.lake.Mv.refresh(cat, "sales_mm")
        cat.read("sales_mm")
          .select(col("grp"), col("n_rows"), col("sum_v"),
            col("min_v"), col("max_v"),
            lit(m1 == "incremental" && m2 == "incremental" &&
              m3 == "incremental").as("incremental"))
          .orderBy("grp")
      }, Some("""
        WITH rows0 AS (
          SELECT o_orderkey AS id, o_custkey % 20 AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM orders WHERE o_orderkey <= 4000),
        kept AS (SELECT * FROM rows0 WHERE v >= 10000000),
        fin AS (SELECT * FROM kept WHERE id % 2 = 0),
        kdim AS (SELECT r AS k,
                        CASE WHEN r = 3 THEN 0 ELSE r % 4 END AS grp
                 FROM (SELECT unnest(range(0, 20)) AS r))
        SELECT CAST(grp AS BIGINT) AS grp, count(*) AS n_rows,
               CAST(sum(v) AS BIGINT) AS sum_v,
               CAST(min(v) AS BIGINT) AS min_v,
               CAST(max(v) AS BIGINT) AS max_v,
               TRUE AS incremental
        FROM fin JOIN kdim USING (k) GROUP BY grp ORDER BY grp""")),

    // L42 — interactive SQL TRANSACTIONS through the single execute()
    // entry point: the reference's whole `conn.execute(sql)` surface is
    // statements, including BEGIN TRANSACTION / COMMIT / ROLLBACK (ref
    // demos/01_transaction_rollback/demo.py:85-104,148-151) — so demo
    // 1's lifecycle replays here as a pure statement stream: a
    // multi-table transaction whose staged writes are VISIBLE to SELECTs
    // inside the transaction (read-your-writes), COMMIT publishing ONE
    // snapshot for both tables, and a doomed second transaction whose
    // ROLLBACK leaves no trace — no rows, no snapshot. Every metric row
    // is recomputed by DuckDB from the part slice.
    QDef("l42_sql_txn",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        cat.createTableAs("inv", inventoryDf(s, d))
        cat.execute(
          "CREATE TABLE ord (order_id INTEGER, product_id INTEGER, qty INTEGER)")
        cat.execute("BEGIN TRANSACTION")
        cat.execute(
          "INSERT INTO ord VALUES (101, 1, 10), (102, 2, 5), (103, 3, 7)")
        cat.execute("UPDATE inv SET quantity = quantity - 10 WHERE product_id = 1")
        cat.execute("UPDATE inv SET quantity = quantity - 5 WHERE product_id = 2")
        cat.execute("UPDATE inv SET quantity = quantity - 7 WHERE product_id = 3")
        // read-your-writes: the staged orders are visible BEFORE commit
        val stagedOrders =
          cat.execute("SELECT count(*) AS n FROM ord").as[Long].head()
        val vBefore = cat.currentVersion
        cat.execute("COMMIT")
        val vAfterCommit = cat.currentVersion
        cat.execute("BEGIN TRANSACTION")
        cat.execute("INSERT INTO ord VALUES (104, 1, 999)")
        cat.execute("UPDATE inv SET quantity = quantity - 999 WHERE product_id = 1")
        val stagedQty = cat.execute(
          "SELECT CAST(quantity AS BIGINT) AS q FROM inv WHERE product_id = 1")
          .as[Long].head()
        cat.execute("ROLLBACK")
        val vAfterRollback = cat.currentVersion
        Seq(
          ("1_staged_orders_visible", stagedOrders),
          ("2_commit_one_snapshot", vAfterCommit - vBefore),
          ("3_staged_qty_visible", stagedQty),
          ("4_rollback_no_snapshot", vAfterRollback - vAfterCommit),
          ("5_orders_after_rollback",
            cat.execute("SELECT count(*) AS n FROM ord").as[Long].head()),
          ("6_inv_qty_total",
            cat.execute("SELECT CAST(sum(quantity) AS BIGINT) AS q FROM inv")
              .as[Long].head()))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH inv0 AS (SELECT CAST(p_partkey AS INT) AS pid,
                             CAST(p_size AS INT) AS q
                      FROM part WHERE p_partkey <= 100)
        SELECT * FROM (VALUES
          ('1_staged_orders_visible', CAST(3 AS BIGINT)),
          ('2_commit_one_snapshot',   CAST(1 AS BIGINT)),
          ('3_staged_qty_visible',
            (SELECT CAST(q - 10 - 999 AS BIGINT) FROM inv0 WHERE pid = 1)),
          ('4_rollback_no_snapshot',  CAST(0 AS BIGINT)),
          ('5_orders_after_rollback', CAST(3 AS BIGINT)),
          ('6_inv_qty_total',
            (SELECT CAST(sum(q) - 22 AS BIGINT) FROM inv0)))
          t(metric, value)
        ORDER BY metric""")),

    // L44 — MATERIALIZED VIEWS through the SQL entry point: the whole
    // MV lifecycle (create, base-table churn incl. a delete, refresh)
    // as conn.execute statements — the reference's interface shape over
    // the beyond-ref incremental maintainer. REFRESH returns the path
    // taken; the judged contract pins it INCREMENTAL (O(delta), not a
    // recompute) and the MV contents replay as DuckDB CTEs.
    QDef("l44_sql_mv",
      (s, d) => {
        val cat = freshLake(s)
        cat.execute("CREATE TABLE sales (k INTEGER, v INTEGER)")
        cat.execute("INSERT INTO sales SELECT * FROM VALUES " +
          "(1, 10), (1, 20), (2, 30) AS x(k, v)")
        // AVG rides on maintained sum+count (cnt_ counts NON-NULLs, so
        // the NULL row below must not dilute group 3's average)
        cat.execute("CREATE MATERIALIZED VIEW mv AS " +
          "SELECT k, COUNT(*) AS n_rows, SUM(v) AS sum_v, " +
          "AVG(v) AS avg_v FROM sales GROUP BY k")
        cat.execute("INSERT INTO sales SELECT * FROM VALUES " +
          "(2, 40), (3, 50), (3, CAST(NULL AS INT)) AS x(k, v)")
        cat.execute("DELETE FROM sales WHERE v = 10")
        val path = cat.execute("REFRESH MATERIALIZED VIEW mv")
        cat.sql("SELECT CAST(k AS STRING) AS metric, " +
            "CAST(n_rows AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS v, " +
            "CAST(round(avg_v * 1000) AS BIGINT) AS a FROM mv")
          .unionByName(path.selectExpr("'refresh_path' AS metric",
            "CAST(1 AS BIGINT) AS n",
            "CAST(IF(refresh_path = 'incremental', 1, 0) AS BIGINT) AS v",
            "CAST(1 AS BIGINT) AS a"))
          .orderBy("metric")
      }, Some("""
        WITH s0 AS (SELECT * FROM (VALUES (1, 10), (1, 20), (2, 30),
                                          (2, 40), (3, 50), (3, NULL)) x(k, v)
                    WHERE v IS NULL OR v <> 10)
        SELECT CAST(k AS VARCHAR) AS metric,
               CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS v,
               CAST(round(avg(v) * 1000) AS BIGINT) AS a
        FROM s0 GROUP BY k
        UNION ALL
        SELECT 'refresh_path', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
               CAST(1 AS BIGINT)
        ORDER BY metric""")),

    // L43 — AUTO-COMPACTION (the Delta autoOptimize.autoCompact analog):
    // the table opts into a file-count cap as table properties; every
    // file-appending insert that pushes the live file count over the cap
    // triggers a follow-on compaction commit. The file-count trajectory
    // across four 2-file inserts (cap 4: grow to 4, fold to 1, grow to 3,
    // fold to 1) is the judged ledger; row counts and id sums replay as
    // arithmetic; the final row reads the graft_files() SQL metadata
    // function, pinning the per-file view against the same ledger.
    QDef("l43_auto_compact",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        cat.createTableAs("t",
          s.range(100).selectExpr("id").repartition(2))
        cat.autoCompact("t", maxFiles = 4, targetFileBytes = 64L << 20)
        val rows = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Long)]()
        (1 to 4).foreach { i =>
          cat.insert("t", s.range(100L * i, 100L * (i + 1))
            .selectExpr("id").repartition(2))
          val info = cat.tableInfo().filter(col("table_name") === "t").head()
          val sid = cat.read("t").agg(sum("id")).head().getLong(0)
          rows += ((s"${i}_after_insert", info.getAs[Long]("file_count"),
            info.getAs[Long]("row_count"), sid))
        }
        val fv = cat.sql("SELECT CAST(count(*) AS BIGINT) AS c, " +
          "CAST(SUM(live_rows) AS BIGINT) AS lr FROM graft_files()").head()
        rows += (("5_files_view", fv.getLong(0), fv.getLong(1),
          cat.read("t").agg(sum("id")).head().getLong(0)))
        rows.toSeq.toDF("phase", "file_count", "row_count", "sum_id")
          .orderBy("phase")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_after_insert', CAST(4 AS BIGINT), CAST(200 AS BIGINT), CAST(19900  AS BIGINT)),
          ('2_after_insert', CAST(1 AS BIGINT), CAST(300 AS BIGINT), CAST(44850  AS BIGINT)),
          ('3_after_insert', CAST(3 AS BIGINT), CAST(400 AS BIGINT), CAST(79800  AS BIGINT)),
          ('4_after_insert', CAST(1 AS BIGINT), CAST(500 AS BIGINT), CAST(124750 AS BIGINT)),
          ('5_files_view',   CAST(1 AS BIGINT), CAST(500 AS BIGINT), CAST(124750 AS BIGINT)))
          t(phase, file_count, row_count, sum_id)
        ORDER BY phase""")),

    // L46 — BYTE-AWARE auto-compaction (round 11): the policy folds only
    // the SMALL-file tail (files under target/2, Tx.compactSmall) so
    // near-target files never churn. Judged ledger: a healthy 2-file
    // table absorbs 4 tiny appends with exactly ONE selective fold (the
    // two seed files keep their manifest paths through it), and a table
    // whose count overage is made of near-target files DECLINES —
    // no compaction commit at all, where a count-only policy would have
    // rewritten the whole table. At 100 TB this is the difference
    // between rewriting the day's append tail and rewriting the table.
    QDef("l46_byte_compact",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        val mk = (lo: Int, hi: Int, n: Int) => s.range(lo, hi)
          .selectExpr("id", "sha2(cast(id AS string), 256) AS pad")
          .repartition(n)
        def filesOf(c: graft.lake.LakeCatalog, t: String) =
          c.files().filter(col("table_name") === t)
        def compactions(c: graft.lake.LakeCatalog) = c.snapshots()
          .filter(expr("changes['tables_compacted'] IS NOT NULL")).count()
        // selective-fold phase: 2 healthy files + tiny appends
        cat.createTableAs("t", mk(0, 40000, 2))
        val seedSizes = filesOf(cat, "t")
          .select("size_bytes").as[Long].collect()
        val seedPaths = filesOf(cat, "t")
          .select("file_path").as[String].collect().toSet
        cat.autoCompact("t", maxFiles = 4,
          targetFileBytes = seedSizes.min * 2)
        (0 until 4).foreach { i =>
          cat.insert("t", mk(40000 + i * 10, 40010 + i * 10, 1))
        }
        val afterPaths = filesOf(cat, "t")
          .select("file_path").as[String].collect().toSet
        val rows = Seq(
          ("1_seed_files", seedPaths.size.toLong),
          ("2_after_tiny_appends_files", filesOf(cat, "t").count()),
          ("3_selective_fold_commits", compactions(cat)),
          ("4_big_paths_survived",
            if (seedPaths.subsetOf(afterPaths)) 1L else 0L),
          ("5_t_rows", cat.read("t").count()))
        // decline phase: count overage made of near-target files only
        val cat2 = freshLake(s)
        cat2.createTableAs("u", mk(0, 120000, 6))
        val uSizes = filesOf(cat2, "u").select("size_bytes").as[Long].collect()
        cat2.autoCompact("u", maxFiles = 6, targetFileBytes = uSizes.min * 2)
        cat2.insert("u", mk(120000, 140000, 1)) // a 7th near-target file
        (rows ++ Seq(
          ("6_decline_files", filesOf(cat2, "u").count()),
          ("7_decline_commits", compactions(cat2)),
          ("8_u_rows", cat2.read("u").count())))
          .toDF("phase", "value").orderBy("phase")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_seed_files',              CAST(2      AS BIGINT)),
          ('2_after_tiny_appends_files',CAST(4      AS BIGINT)),
          ('3_selective_fold_commits',  CAST(1      AS BIGINT)),
          ('4_big_paths_survived',      CAST(1      AS BIGINT)),
          ('5_t_rows',                  CAST(40040  AS BIGINT)),
          ('6_decline_files',           CAST(7      AS BIGINT)),
          ('7_decline_commits',         CAST(0      AS BIGINT)),
          ('8_u_rows',                  CAST(140000 AS BIGINT)))
          t(phase, value)
        ORDER BY phase""")),

    // L41 — JOIN + FILTER materialized view, incrementally maintained:
    // the MV is `SELECT grp, count(*), sum(v) FROM sales JOIN kdim USING
    // (k) WHERE id % 2 = 0 GROUP BY grp` (the reference's own views join
    // + aggregate, ref demos/05_catalog_portability/demo.py:150-164).
    // Refresh applies Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD with signs
    // multiplied, old states via time travel at the shared watermark:
    // fact-only churn costs O(fact delta) (one leg), dim churn pays the
    // extra legs. BOTH refreshes here must take the incremental path —
    // the `incremental` column is the judged contract — and the final MV
    // must equal the full recompute DuckDB replays as CTEs.
    QDef("l41_join_mv",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).selectExpr(
          "cast(o_orderkey AS bigint) AS id",
          "cast(o_custkey % 20 AS bigint) AS k",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS v")
        cat.createTable("sales", StructType(Seq(
          StructField("id", LongType), StructField("k", LongType),
          StructField("v", LongType))), primaryKey = Seq("id"))
        cat.insert("sales", src.filter(col("id") <= 3000))
        cat.createTableAs("kdim", s.range(20).selectExpr(
          "cast(id AS bigint) AS k", "cast(id % 4 AS bigint) AS grp"))
        graft.lake.Mv.createJoin(cat, "sales_by_grp", "sales", "kdim",
          "k", "k", Some("id % 2 = 0"), Seq("grp"), Seq("v"))
        // fact-side churn only → one-leg incremental refresh
        cat.insert("sales", src.filter(col("id") > 3000 && col("id") <= 4000))
        cat.update("sales", col("id") <= 500, Map("v" -> (col("v") + 100L)))
        cat.delete("sales", col("k") === 7L)
        val m1 = graft.lake.Mv.refresh(cat, "sales_by_grp")
        // dim-side churn → the F₀⋈ΔD / ΔF⋈ΔD legs engage
        cat.update("kdim", col("k") === 3L, Map("grp" -> lit(0L)))
        val m2 = graft.lake.Mv.refresh(cat, "sales_by_grp")
        cat.read("sales_by_grp")
          .select(col("grp"), col("n_rows"), col("sum_v"),
            lit(m1 == "incremental" && m2 == "incremental").as("incremental"))
          .orderBy("grp")
      }, Some("""
        WITH rows0 AS (
          SELECT o_orderkey AS id, o_custkey % 20 AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM orders WHERE o_orderkey <= 4000),
        upd AS (SELECT id, k, CASE WHEN id <= 500 THEN v + 100 ELSE v END AS v
                FROM rows0),
        fin AS (SELECT * FROM upd WHERE k <> 7 AND id % 2 = 0),
        kdim AS (SELECT r AS k,
                        CASE WHEN r = 3 THEN 0 ELSE r % 4 END AS grp
                 FROM (SELECT unnest(range(0, 20)) AS r))
        SELECT CAST(grp AS BIGINT) AS grp, count(*) AS n_rows,
               CAST(sum(v) AS BIGINT) AS sum_v, TRUE AS incremental
        FROM fin JOIN kdim USING (k) GROUP BY grp ORDER BY grp""")),

    // L23 — BLOOM-indexed POINT lookup: a per-file bloom sidecar
    // (table property `index.bloom`; the Hudi/Iceberg bloom-index
    // shape — the filter lives next to the data, only its pointer rides
    // the manifest) lets an equality lookup skip files whose min/max
    // stats CANNOT prune: ingestion here is interleaved so every file
    // spans the full key range. At 100 TB this is "read the one file
    // that can hold the key" instead of "scan the key's range stripe".
    // Contracts: every file indexed, the probe scans strictly fewer
    // files than exist; the row values are recomputed by DuckDB.
    QDef("l23_bloom_point",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        cat.createTable("docs", StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("n_chars", LongType))), primaryKey = Seq("doc_id"))
        cat.bloomIndex("docs", "doc_id")
        val src = T.documents(s, d)
          .selectExpr("doc_id", "source", "cast(n_chars AS bigint) AS n_chars")
        (0 until 3).foreach(r =>
          cat.insert("docs", src.filter(col("doc_id") % 3 === r)))
        val st = cat.current.tables("docs")
        val total = st.files.size.toLong
        val indexed = st.files.count(_.blooms.contains("doc_id")).toLong
        Seq(
          ("1_files_indexed", if (indexed == total && total >= 3) 1L else 0L),
          ("2_bloom_prunes",
            if (cat.pointScanFiles("docs", "doc_id", "42") < total) 1L else 0L),
          ("3_row_chars", cat.readPoint("docs", "doc_id", "42")
            .select("n_chars").as[Long].head()),
          ("4_miss_empty", cat.readPoint("docs", "doc_id", "999999999").count()))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_files_indexed', CAST(1 AS BIGINT)),
          ('2_bloom_prunes',  CAST(1 AS BIGINT)),
          ('3_row_chars',
            (SELECT CAST(n_chars AS BIGINT) FROM documents WHERE doc_id = 42)),
          ('4_miss_empty',    CAST(0 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L24 — CHECK constraints (Delta-style ADD CONSTRAINT; write-time
    // enforcement as a distributed filter): adding validates existing
    // rows; a transaction whose update would violate rolls back without
    // a trace (same atomicity contract as l1); a passing update
    // commits. Oracle: the surviving DML replayed as CTEs + the
    // rollback/ledger flags as literals.
    QDef("l24_check_constraint",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("inv", StructType(Seq(
          StructField("product_id", IntegerType),
          StructField("product_name", StringType),
          StructField("quantity", IntegerType),
          StructField("price", DoubleType))), primaryKey = Seq("product_id"))
        cat.insert("inv", inventoryDf(s, d))
        cat.addCheck("inv", "qty_nonneg", "quantity >= 0")
        cat.addCheck("inv", "price_pos", "price > 0")
        val vGood = cat.currentVersion
        // would drive every quantity negative -> must roll back whole
        try cat.transaction { tx =>
          tx.update("inv", col("product_id") <= 10,
            Map("quantity" -> (col("quantity") - 1000)))
        } catch { case _: ConstraintViolation => () }
        val clean = cat.currentVersion == vGood
        cat.update("inv", col("product_id") <= 10,
          Map("quantity" -> (col("quantity") + 5)))
        cat.read("inv").agg(
          count(lit(1)).as("n"),
          sum(col("quantity")).as("sum_qty"),
          min(col("quantity")).as("min_qty"))
          .withColumn("rollback_clean", lit(clean))
      }, Some("""
        WITH base AS (
          SELECT CAST(p_partkey AS INT) AS product_id,
                 CAST(p_size AS INT) AS quantity
          FROM part WHERE p_partkey <= 100),
        fin AS (
          SELECT product_id,
                 CASE WHEN product_id <= 10 THEN quantity + 5
                      ELSE quantity END AS quantity
          FROM base)
        SELECT count(*) AS n, CAST(sum(quantity) AS BIGINT) AS sum_qty,
               CAST(min(quantity) AS INT) AS min_qty,
               TRUE AS rollback_clean
        FROM fin""")),

    // L25 — RESTORE TABLE ... VERSION AS OF (Delta-style rollback-as-a-
    // new-commit): the table is re-pointed at a past snapshot's state by
    // re-referencing its files — O(metadata), zero data copied — while
    // history stays intact (the undone versions still time-travel) and
    // the restored table stays writable. Oracle: the surviving DML
    // (original load + post-restore update) replayed as CTEs; the
    // intermediate update/delete must leave no trace in the final state.
    QDef("l25_restore",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTableAs("inv", inventoryDf(s, d))
        val v1 = cat.currentVersion
        cat.update("inv", col("product_id") <= 20,
          Map("quantity" -> (col("quantity") + 100)))
        cat.delete("inv", col("product_id") > 50)
        val v3 = cat.currentVersion
        cat.restoreTable("inv", v1)
        cat.update("inv", col("product_id") <= 10,
          Map("price" -> (col("price") * 2)))
        // the undone delete still time-travels, and restore published as
        // a NEW version (no history surgery)
        val historyIntact =
          cat.readAt("inv", v3).count() ==
            cat.readAt("inv", v1).filter(col("product_id") <= 50).count() &&
          cat.currentVersion == v1 + 4
        cat.read("inv").agg(
          count(lit(1)).as("n"),
          sum(col("quantity")).cast("bigint").as("sum_qty"),
          sum(col("price").cast("decimal(18,2)")).cast("double").as("sum_price"))
          .withColumn("history_intact", lit(historyIntact))
      }, Some("""
        WITH base AS (
          SELECT CAST(p_partkey AS INT) AS product_id,
                 CAST(p_size AS INT) AS quantity,
                 p_retailprice AS price
          FROM part WHERE p_partkey <= 100),
        fin AS (
          SELECT product_id, quantity,
                 CASE WHEN product_id <= 10 THEN price * 2 ELSE price END AS price
          FROM base)
        SELECT count(*) AS n, CAST(sum(quantity) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               TRUE AS history_intact
        FROM fin""")),

    // L26 — metadata-only aggregates: COUNT/MIN/MAX answered from the
    // manifest's footer row counts + per-file stats + inlined rows, ZERO
    // data files read (DuckDB answers these from duckdb_table_stats; so
    // does Iceberg). At 100 TB: one cached metadata document vs a full
    // scan. The `meta_only` flag is part of the judged contract — if the
    // engine silently fell back to scanning, the hash breaks.
    QDef("l26_stats_agg",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("ord", StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderpriority", StringType))),
          primaryKey = Seq("o_orderkey"))
        val src = T.orders(s, d)
          .selectExpr("o_orderkey", "o_totalprice", "o_orderpriority")
        // three file-backed batches + one manifest-inlined batch, so the
        // answer provably folds files AND inlined rows. % 10000 keeps the
        // inlined subset under the 1024-row inlining cap up to ~sf7 (it is
        // SF-proportional: ~15 rows at sf0.1, ~150 at sf1).
        (0 until 3).foreach(r => cat.insert("ord",
          src.filter(col("o_orderkey") % 10000 =!= 7 &&
            col("o_orderkey") % 3 === r)))
        cat.insertInlined("ord", src.filter(col("o_orderkey") % 10000 === 7))
        cat.statsAgg("ord", Seq("o_orderkey", "o_totalprice"))
      }, Some("""
        SELECT count(*) AS n,
               min(o_orderkey) AS min_o_orderkey,
               max(o_orderkey) AS max_o_orderkey,
               min(o_totalprice) AS min_o_totalprice,
               max(o_totalprice) AS max_o_totalprice,
               TRUE AS meta_only
        FROM orders""")),

    // L27 — MERGE-ON-READ deletes (deletion vectors; Iceberg v2 position
    // deletes / Delta DVs — DuckLake likewise ships delete files instead
    // of rewriting parquet): two MoR deletes tombstone rows via one tiny
    // (file, pos) sidecar each — the data files are untouched (same
    // manifest paths, `no_rewrite`), repeated deletes on a file fold
    // into one sidecar, COUNT stays manifest-answerable (`meta_n`), and
    // compaction materializes + clears every DV (`dv_cleared`). Write
    // cost O(deleted rows) vs CoW's O(affected bytes) — the difference
    // between kilobytes and terabytes at 100 TB. Oracle: the deletes
    // replayed as predicate filters.
    QDef("l27_delete_vectors",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("li", StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("l_returnflag", StringType))))
        val src = T.lineitem(s, d)
          .selectExpr("l_orderkey", "l_quantity", "l_returnflag")
        (0 until 3).foreach(r =>
          cat.insert("li", src.filter(col("l_orderkey") % 3 === r)))
        val before = cat.current.tables("li").files.map(_.path)
        cat.deleteMor("li", col("l_returnflag") === "R")
        cat.deleteMor("li", col("l_quantity") >= 45.0)
        val after = cat.current.tables("li")
        val noRewrite =
          after.files.map(_.path) == before && after.files.exists(_.dv.isDefined)
        val meta = cat.statsAgg("li").head()
        val metaN = if (meta.getBoolean(1)) meta.getLong(0) else -1L
        cat.compact("li", targetFileBytes = 128L << 20)
        val cleared = cat.current.tables("li").files.forall(_.dv.isEmpty)
        cat.read("li").agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("bigint").as("sum_qty"))
          .withColumn("meta_n", lit(metaN))
          .withColumn("no_rewrite", lit(noRewrite))
          .withColumn("dv_cleared", lit(cleared))
      }, Some("""
        WITH fin AS (
          SELECT l_quantity FROM lineitem
          WHERE NOT (l_returnflag = 'R') AND NOT (l_quantity >= 45.0))
        SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS meta_n, TRUE AS no_rewrite, TRUE AS dv_cleared
        FROM fin""")),

    // L28 — zero-copy CLONE + WRITE-AUDIT-PUBLISH: `cloneTable`
    // re-references the source's files (Delta SHALLOW CLONE — nothing
    // copied, `zero_copy` pins it), and the WAP loop runs INSIDE one
    // transaction: stage into a clone, insert, audit the staged state,
    // swap it in with `replaceTable`, drop the stage. A failing audit
    // rolls back stage + insert + swap together ("rollback_clean"); a
    // passing one publishes atomically. At 100 TB the stage costs
    // metadata, not a table copy. Oracle: base + the batch that passed
    // audit; the rejected batch must leave no trace.
    QDef("l28_wap_clone",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("inv", StructType(Seq(
          StructField("product_id", IntegerType),
          StructField("quantity", IntegerType))), primaryKey = Seq("product_id"))
        cat.insert("inv", inventoryDf(s, d).select("product_id", "quantity"))
        // zero-copy: the staged clone shares the source's manifest paths
        var zeroCopy = false
        val vGood = cat.currentVersion
        def wap(batch: org.apache.spark.sql.DataFrame): Unit =
          cat.transaction { tx =>
            tx.cloneTable("inv", "inv_stage")
            zeroCopy = tx.fileList("inv_stage") == tx.fileList("inv") &&
              tx.fileList("inv").nonEmpty
            tx.insert("inv_stage", batch)
            if (!tx.read("inv_stage").filter(col("quantity") < 0).isEmpty)
              throw new ConstraintViolation("audit: negative quantity")
            tx.replaceTable("inv", "inv_stage")
            tx.dropTable("inv_stage")
          }
        // batch 1 fails the audit -> the whole WAP txn must vanish
        try wap(inventoryDf(s, d)
          .selectExpr("cast(product_id + 1000 AS int) AS product_id",
            "cast(-quantity AS int) AS quantity"))
        catch { case _: ConstraintViolation => () }
        val rollbackClean = cat.currentVersion == vGood &&
          !cat.current.tables.contains("inv_stage")
        // batch 2 passes -> published atomically
        wap(inventoryDf(s, d)
          .selectExpr("cast(product_id + 2000 AS int) AS product_id",
            "cast(quantity + 7 AS int) AS quantity"))
        cat.read("inv").agg(
          count(lit(1)).as("n"),
          sum(col("quantity")).cast("bigint").as("sum_qty"))
          .withColumn("rollback_clean", lit(rollbackClean && zeroCopy))
      }, Some("""
        WITH base AS (
          SELECT CAST(p_partkey AS INT) AS product_id,
                 CAST(p_size AS INT) AS quantity
          FROM part WHERE p_partkey <= 100),
        fin AS (
          SELECT product_id, quantity FROM base
          UNION ALL
          SELECT product_id + 2000, quantity + 7 FROM base)
        SELECT count(*) AS n, CAST(sum(quantity) AS BIGINT) AS sum_qty,
               TRUE AS rollback_clean
        FROM fin""")),

    // L29 — manifest NDV sketches: per-file mergeable HLL state (table
    // property `index.ndv`) harvested at write time, folded into a
    // table-level approx COUNT(DISTINCT) with ZERO data files read —
    // the cardinality stat a join planner feeds on, answered the way
    // Iceberg/DuckDB answer it from their stats tables. The estimate is
    // engine-specific, so (as with a12) the judged output is the
    // ACCURACY CONTRACT: the folded estimate must land within 5% of the
    // exact distinct count DuckDB computes independently, and the
    // metadata path must actually fire.
    QDef("l29_ndv_stats",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("ord", StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))), primaryKey = Seq("o_orderkey"))
        cat.ndvIndex("ord", "o_custkey")
        val src = T.orders(s, d).select("o_orderkey", "o_custkey")
        (0 until 3).foreach(r =>
          cat.insert("ord", src.filter(col("o_orderkey") % 3 === r)))
        val allSketched = cat.current.tables("ord").files
          .forall(_.ndv.contains("o_custkey"))
        val (est, metaOnly) = cat.approxDistinct("ord", "o_custkey")
        val exact = cat.read("ord").agg(countDistinct(col("o_custkey")))
          .head().getLong(0)
        val s2 = s
        import s2.implicits._
        Seq(
          ("1_exact_custkeys", exact),
          ("2_ndv_within_5pct",
            if (math.abs(est - exact) <= exact * 0.05) 1L else 0L),
          ("3_meta_only", if (metaOnly && allSketched) 1L else 0L))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('1_exact_custkeys',
            (SELECT count(DISTINCT o_custkey) FROM orders)),
          ('2_ndv_within_5pct', CAST(1 AS BIGINT)),
          ('3_meta_only',       CAST(1 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L48 — the metadata-only stats path driven through the interaction
    // that usually breaks it: MoR tombstones make per-file stats stale
    // (a deleted row may have held the extreme / inflate the sketch), so
    // after a deletion-vector delete BOTH stats surfaces must FALL BACK
    // to exact scans — and after compaction (DVs materialized, stats +
    // NDV sketches rebuilt on the rewritten files) the zero-data-read
    // path must fire again and reflect the delete. The `meta`/`fallback`
    // ledger rows pin the path taken at each phase (a metadata answer
    // that silently ignored tombstones, or a fallback that never
    // recovers, breaks the hash); every value is recomputed by DuckDB
    // from the orders slice with the delete replayed as a filter.
    QDef("l48_stats_after_mor",
      (s, d) => {
        val cat = freshLake(s)
        cat.createTable("ord", StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))),
          primaryKey = Seq("o_orderkey"))
        cat.ndvIndex("ord", "o_custkey")
        val src = T.orders(s, d).select("o_orderkey", "o_custkey")
        // 4 commits x 8-way writes = a ~32-file table, so the folds
        // provably cross many files
        (0 until 4).foreach(r => cat.insert("ord",
          src.filter(col("o_orderkey") % 4 === r).repartition(8)))
        val m1 = cat.statsAgg("ord", Seq("o_orderkey")).head()
        val (_, mo1) = cat.approxDistinct("ord", "o_custkey")
        // MoR delete: tombstones a whole residue class via (file,pos)
        // deletion vectors only — every file now carries stale per-file
        // extrema/sketches, the exact state a metadata answer must not
        // trust
        cat.deleteMor("ord", col("o_orderkey") % 4 === 1)
        val m2 = cat.statsAgg("ord", Seq("o_orderkey")).head()
        val (_, mo2) = cat.approxDistinct("ord", "o_custkey")
        cat.compact("ord", targetFileBytes = 128L << 20)
        val st3 = cat.current.tables("ord")
        val dvCleared = st3.files.nonEmpty && st3.files.forall(_.dv.isEmpty)
        val allSketched = st3.files.forall(_.ndv.contains("o_custkey"))
        val m3 = cat.statsAgg("ord", Seq("o_orderkey")).head()
        val (e3, mo3) = cat.approxDistinct("ord", "o_custkey")
        val exact3 = cat.read("ord").agg(countDistinct(col("o_custkey")))
          .head().getLong(0)
        val s2 = s
        import s2.implicits._
        Seq(
          ("01_n_before", m1.getLong(0)),
          ("02_meta_before",
            if (m1.getBoolean(3) && mo1) 1L else 0L),
          ("03_n_after_delete", m2.getLong(0)),
          ("04_min_after_delete", m2.getLong(1)),
          ("05_max_after_delete", m2.getLong(2)),
          ("06_fallback_after_delete",
            if (!m2.getBoolean(3) && !mo2) 1L else 0L),
          ("07_n_after_compact", m3.getLong(0)),
          ("08_min_after_compact", m3.getLong(1)),
          ("09_max_after_compact", m3.getLong(2)),
          ("10_meta_after_compact",
            if (m3.getBoolean(3) && mo3 && dvCleared && allSketched) 1L
            else 0L),
          ("11_ndv_within_5pct",
            if (math.abs(e3 - exact3) <= exact3 * 0.05) 1L else 0L))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH fin AS (
          SELECT o_orderkey, o_custkey FROM orders
          WHERE NOT (o_orderkey % 4 = 1))
        SELECT * FROM (VALUES
          ('01_n_before', (SELECT count(*) FROM orders)),
          ('02_meta_before', CAST(1 AS BIGINT)),
          ('03_n_after_delete', (SELECT count(*) FROM fin)),
          ('04_min_after_delete', (SELECT min(o_orderkey) FROM fin)),
          ('05_max_after_delete', (SELECT max(o_orderkey) FROM fin)),
          ('06_fallback_after_delete', CAST(1 AS BIGINT)),
          ('07_n_after_compact', (SELECT count(*) FROM fin)),
          ('08_min_after_compact', (SELECT min(o_orderkey) FROM fin)),
          ('09_max_after_compact', (SELECT max(o_orderkey) FROM fin)),
          ('10_meta_after_compact', CAST(1 AS BIGINT)),
          ('11_ndv_within_5pct', CAST(1 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L49 — schema evolution THROUGH an incrementally-maintained MV,
    // composed with merge-on-read deletes and compaction (the classic
    // maintained-view breakage: Delta/Iceberg MVs must either keep
    // refreshing across an evolved base or refuse loudly — never
    // silently corrupt). The ledger drives one MV through:
    //  (1) insertEvolve adds an UNREFERENCED column mid-window — the
    //      change feed projects to the columns common to both window
    //      ends, so the delta apply is untouched;
    //  (2) a MoR delete (deletion vectors only) — the min/max exact
    //      recompute path reads THROUGH the merged view;
    //  (3) compaction materializing the DVs — file-level churn with an
    //      EMPTY logical delta (the refresh runs and only advances the
    //      watermark);
    //  (4) dropping the unreferenced evolved column + more inserts —
    //      still incremental;
    //  (5) renaming a column the MV aggregates — refresh REFUSES with
    //      the spec column named (pinned as a ledger bit).
    // Oracle: every stage's MV totals recomputed by DuckDB from the
    // same orders slice and predicates.
    QDef("l49_evolve_mor_mv",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).selectExpr(
          "cast(o_orderkey AS bigint) AS id",
          "cast(o_custkey % 7 AS bigint) AS k",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS v")
        cat.createTable("fct", StructType(Seq(
          StructField("id", LongType), StructField("k", LongType),
          StructField("v", LongType))), primaryKey = Seq("id"))
        cat.insert("fct", src.filter(col("id") <= 2000))
        graft.lake.Mv.create(cat, "fct_by_k", "fct", Seq("k"),
          sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
        def mvTotals(): (Long, Long, Long, Long, Long) = {
          val r = cat.read("fct_by_k").agg(
            sum("n_rows"), sum("sum_v"), min("min_v"), max("max_v"),
            count(lit(1))).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))
        }
        // (1) evolve-the-base insert: batch carries a column the table
        // (and the MV spec) never had — auto-added nullable
        cat.insertEvolve("fct", src
          .filter(col("id") > 2000 && col("id") <= 3000)
          .withColumn("src_tag", concat(lit("b2_"), col("id") % 3)))
        val m1 = graft.lake.Mv.refresh(cat, "fct_by_k")
        val (rows1, sumv1, minv1, maxv1, _) = mvTotals()
        // (2) MoR delete: tombstones via deletion vectors, no rewrite;
        // the deleted rows retire group minima so the refresh must take
        // the exact-recompute path through the MERGED read
        cat.deleteMor("fct", col("id") % 5 === 0)
        val m2 = graft.lake.Mv.refresh(cat, "fct_by_k")
        val (rows2, sumv2, minv2, maxv2, _) = mvTotals()
        // (3) compaction materializes the DVs: physical churn, empty
        // logical delta — refresh advances the watermark, changes nothing
        cat.compact("fct", targetFileBytes = 128L << 20)
        val m3 = graft.lake.Mv.refresh(cat, "fct_by_k")
        val (rows3, _, _, _, _) = mvTotals()
        // (4) drop the UNREFERENCED evolved column, keep ingesting
        cat.transaction(_.dropColumn("fct", "src_tag"))
        cat.insert("fct", src.filter(col("id") > 3000 && col("id") <= 4000))
        val m4 = graft.lake.Mv.refresh(cat, "fct_by_k")
        val (rows4, sumv4, minv4, maxv4, groups4) = mvTotals()
        // (5) rename the aggregated column out from under the spec:
        // refresh must refuse loudly, naming the missing column
        cat.transaction(_.renameColumn("fct", "v", "v2"))
        val refused =
          try { graft.lake.Mv.refresh(cat, "fct_by_k"); 0L }
          catch { case e: IllegalStateException
            if e.getMessage.contains("no longer present") &&
              e.getMessage.contains("v") => 1L }
        val s2 = s
        import s2.implicits._
        Seq(
          ("01_mode_evolve", if (m1 == "incremental") 1L else 0L),
          ("02_rows_after_evolve", rows1),
          ("03_sumv_after_evolve", sumv1),
          ("04_minv_after_evolve", minv1),
          ("05_maxv_after_evolve", maxv1),
          ("06_mode_mor", if (m2 == "incremental") 1L else 0L),
          ("07_rows_after_mor", rows2),
          ("08_sumv_after_mor", sumv2),
          ("09_minv_after_mor", minv2),
          ("10_maxv_after_mor", maxv2),
          ("11_mode_compact", if (m3 == "incremental") 1L else 0L),
          ("12_rows_after_compact", rows3),
          ("13_mode_drop_unref", if (m4 == "incremental") 1L else 0L),
          ("14_rows_final", rows4),
          ("15_sumv_final", sumv4),
          ("16_minv_final", minv4),
          ("17_maxv_final", maxv4),
          ("18_groups_final", groups4),
          ("19_rename_refused", refused))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH f AS (
          SELECT o_orderkey AS id, o_custkey % 7 AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM orders WHERE o_orderkey <= 4000),
        s2 AS (SELECT * FROM f WHERE id <= 3000),
        s3 AS (SELECT * FROM s2 WHERE NOT (id % 5 = 0)),
        s5 AS (SELECT * FROM s3
               UNION ALL SELECT * FROM f WHERE id > 3000)
        SELECT * FROM (VALUES
          ('01_mode_evolve', CAST(1 AS BIGINT)),
          ('02_rows_after_evolve', (SELECT count(*) FROM s2)),
          ('03_sumv_after_evolve', (SELECT CAST(sum(v) AS BIGINT) FROM s2)),
          ('04_minv_after_evolve', (SELECT min(v) FROM s2)),
          ('05_maxv_after_evolve', (SELECT max(v) FROM s2)),
          ('06_mode_mor', CAST(1 AS BIGINT)),
          ('07_rows_after_mor', (SELECT count(*) FROM s3)),
          ('08_sumv_after_mor', (SELECT CAST(sum(v) AS BIGINT) FROM s3)),
          ('09_minv_after_mor', (SELECT min(v) FROM s3)),
          ('10_maxv_after_mor', (SELECT max(v) FROM s3)),
          ('11_mode_compact', CAST(1 AS BIGINT)),
          ('12_rows_after_compact', (SELECT count(*) FROM s3)),
          ('13_mode_drop_unref', CAST(1 AS BIGINT)),
          ('14_rows_final', (SELECT count(*) FROM s5)),
          ('15_sumv_final', (SELECT CAST(sum(v) AS BIGINT) FROM s5)),
          ('16_minv_final', (SELECT min(v) FROM s5)),
          ('17_maxv_final', (SELECT max(v) FROM s5)),
          ('18_groups_final', (SELECT count(DISTINCT k) FROM s5)),
          ('19_rename_refused', CAST(1 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // L50 — the change feed as a STREAMING source (the Delta CDF
    // readChangeFeed analog; streaming form of T3's table_changes, ref
    // utils/ducklake_utils.py:65-78). A CDC consumer follows ONE table
    // through its full DML lifecycle with a checkpointed Structured
    // Streaming query over graft.streaming.ChangeFeed: each micro-batch
    // carries per-commit insert/delete/update_preimage/update_postimage
    // rows derived O(churn) from the manifest (no change files stored),
    // and LakeCatalog.applyChangesStreamBatch lands the NET effect per
    // key into a replica table — atomic, batch-id-deduped, exactly-once
    // under replay. The ledger pins: per-type change counts of each pass
    // (pass 1 nets insert→update→MoR-delete correctly; compaction is
    // layout-only and is never consumed — the "no CDF for OPTIMIZE"
    // contract, its version absent from the consumed set), replica ==
    // source after every pass (full-row equality), a third pass with
    // nothing new upstream applying ZERO batches, and the ANCHOR
    // contract: a schema evolution (insertEvolve adds `tag` WITH data)
    // crossed by a pass pinned at the pre-evolution anchor neither
    // breaks nor corrupts the stream — the replica keeps tracking the
    // source exactly, projected through that schema. Oracle: DuckDB
    // replays the same DML algebra on the same orders slice (+ a
    // range() tail for the evolution phase, outside every SF's
    // orderkey space).
    QDef("l50_change_stream",
      (s, d) => {
        val cat = freshLake(s)
        val src = T.orders(s, d).selectExpr(
          "cast(o_orderkey AS bigint) AS id",
          "cast(o_custkey % 10 AS bigint) AS k",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS v")
          // slice bounds live inside [0, 1500) — present at EVERY driver
          // SF (sf0.001's keyspace is exactly 0..1499), so each commit
          // below is non-empty and the judged commit counts are
          // SF-invariant literals
          .filter(col("id") < 1500)
        val schema = StructType(Seq(
          StructField("id", LongType), StructField("k", LongType),
          StructField("v", LongType)))
        cat.createTable("src", schema, primaryKey = Seq("id"))
        cat.createTable("replica", schema)
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_cdc_ckpt_").toString
        val counts = scala.collection.mutable.Map[String, Long]()
        val versions = scala.collection.mutable.Set[Long]()
        def observe(b: DataFrame, id: Long): Unit = {
          // metadata-scale driver reads: ≤4 type rows, a handful of
          // version ids per batch
          b.groupBy("change_type").count().collect().foreach(r =>
            counts(r.getString(0)) =
              counts.getOrElse(r.getString(0), 0L) + r.getLong(1))
          versions ++= b.select("_commit_version").distinct()
            .collect().map(_.getLong(0))
        }
        def replicaEq(onCols: Seq[String] = Nil): Long = {
          val (r0, s0) = (cat.read("replica"), cat.read("src"))
          val (r, sd) = if (onCols.isEmpty) (r0, s0)
            else (r0.select(onCols.map(col): _*), s0.select(onCols.map(col): _*))
          // symmetric multiset diff in ONE action
          if (r.exceptAll(sd).union(sd.exceptAll(r)).isEmpty) 1L else 0L
        }
        // phase A: two inserts, a CoW update, a MoR delete, a compaction
        cat.insert("src", src.filter(col("id") < 700))
        cat.insert("src", src.filter(col("id") >= 700 && col("id") < 1100))
        cat.update("src", col("id") < 300, Map("v" -> (col("v") + 7L)))
        cat.deleteMor("src", col("k") === 3L)
        cat.compact("src", targetFileBytes = 128L << 20)
        graft.streaming.ChangeFeed.applyPass(
          cat, "src", "replica", Seq("id"), ckpt, observe)
        val (ins1, pre1, post1, del1) = (counts.getOrElse("insert", 0L),
          counts.getOrElse("update_preimage", 0L),
          counts.getOrElse("update_postimage", 0L),
          counts.getOrElse("delete", 0L))
        val nCommits1 = versions.size.toLong
        val r1 = cat.read("replica")
          .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
        val (rows1, sumv1) = (r1.getLong(0), r1.getLong(1))
        val eq1 = replicaEq()
        // phase B: only the NEW commits stream through the checkpoint
        counts.clear(); versions.clear()
        cat.insert("src", src.filter(col("id") >= 1100))
        cat.update("src", col("k") === 5L, Map("v" -> (col("v") * 2L)))
        graft.streaming.ChangeFeed.applyPass(
          cat, "src", "replica", Seq("id"), ckpt, observe)
        val ins2 = counts.getOrElse("insert", 0L)
        val post2 = counts.getOrElse("update_postimage", 0L)
        val nCommits2 = versions.size.toLong
        val eq2 = replicaEq()
        // phase C: nothing new upstream -> zero batches applied
        val applied3 = graft.streaming.ChangeFeed.applyPass(
          cat, "src", "replica", Seq("id"), ckpt)
        val rf = cat.read("replica")
          .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
        // phase D: schema evolution across the stream, judged via the
        // PINNED anchor: the base gains a `tag` column WITH data
        // (insertEvolve) plus a post-evolution insert, and the next pass
        // consumes both windows anchored at the PRE-evolution version —
        // the replica (built against the old schema) keeps tracking the
        // source exactly, projected through that schema. This is the
        // sink-schema-stability contract (the long-lived-query form of
        // the same anchor is pinned in StreamingSpec). New ids come from
        // range(2000, 2500) — outside every driver SF's orderkey space,
        // so the counts are SF-invariant literals.
        def dRows(a: Long, b: Long) = s.range(a, b)
          .selectExpr("id", "id % 10 AS k", "id * 100 AS v")
        val vAnchor = cat.currentVersion
        cat.insertEvolve("src", dRows(2000, 2300)
          .withColumn("tag", concat(lit("t"), col("id") % 3)))
        cat.insert("src", dRows(2300, 2500).withColumn("tag", lit("x")))
        graft.streaming.ChangeFeed.applyPass(
          cat, "src", "replica", Seq("id"), ckpt,
          anchorVersion = Some(vAnchor))
        val eqAnchored = replicaEq(Seq("id", "k", "v"))
        val rf2 = cat.read("replica")
          .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
        val srcHasTag =
          if (cat.read("src").columns.contains("tag")) 1L else 0L
        val s2 = s
        import s2.implicits._
        Seq(
          ("01_ins_rows_p1", ins1),
          ("02_upd_pre_p1", pre1),
          ("03_upd_post_p1", post1),
          ("04_del_rows_p1", del1),
          ("05_data_commits_p1", nCommits1),
          ("06_replica_rows_p1", rows1),
          ("07_replica_sumv_p1", sumv1),
          ("08_replica_eq_p1", eq1),
          ("09_ins_rows_p2", ins2),
          ("10_upd_post_p2", post2),
          ("11_data_commits_p2", nCommits2),
          ("12_replica_eq_p2", eq2),
          ("13_batches_p3", applied3),
          ("14_final_rows", rf.getLong(0)),
          ("15_final_sumv", rf.getLong(1)),
          ("16_replica_rows_anchored", rf2.getLong(0)),
          ("17_replica_sumv_anchored", rf2.getLong(1)),
          ("18_replica_eq_anchored", eqAnchored),
          ("19_src_evolved", srcHasTag))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH f AS (
          SELECT o_orderkey AS id, o_custkey % 10 AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM orders WHERE o_orderkey < 1500),
        a AS (SELECT * FROM f WHERE id < 1100),
        live1 AS (SELECT id, k, CASE WHEN id < 300 THEN v + 7 ELSE v END AS v
                  FROM a WHERE k <> 3),
        liveb AS (SELECT * FROM live1
                  UNION ALL SELECT * FROM f WHERE id >= 1100),
        live2 AS (SELECT id, k, CASE WHEN k = 5 THEN v * 2 ELSE v END AS v
                  FROM liveb),
        phased AS (SELECT r AS id, r % 10 AS k, r * 100 AS v
                   FROM range(2000, 2500) t(r)),
        final2 AS (SELECT * FROM live2 UNION ALL SELECT * FROM phased)
        SELECT * FROM (VALUES
          ('01_ins_rows_p1', (SELECT count(*) FROM a)),
          ('02_upd_pre_p1', (SELECT count(*) FROM a WHERE id < 300)),
          ('03_upd_post_p1', (SELECT count(*) FROM a WHERE id < 300)),
          ('04_del_rows_p1', (SELECT count(*) FROM a WHERE k = 3)),
          ('05_data_commits_p1', CAST(4 AS BIGINT)),
          ('06_replica_rows_p1', (SELECT count(*) FROM live1)),
          ('07_replica_sumv_p1', (SELECT CAST(sum(v) AS BIGINT) FROM live1)),
          ('08_replica_eq_p1', CAST(1 AS BIGINT)),
          ('09_ins_rows_p2', (SELECT count(*) FROM f WHERE id >= 1100)),
          ('10_upd_post_p2', (SELECT count(*) FROM liveb WHERE k = 5)),
          ('11_data_commits_p2', CAST(2 AS BIGINT)),
          ('12_replica_eq_p2', CAST(1 AS BIGINT)),
          ('13_batches_p3', CAST(0 AS BIGINT)),
          ('14_final_rows', (SELECT count(*) FROM live2)),
          ('15_final_sumv', (SELECT CAST(sum(v) AS BIGINT) FROM live2)),
          ('16_replica_rows_anchored', (SELECT count(*) FROM final2)),
          ('17_replica_sumv_anchored',
            (SELECT CAST(sum(v) AS BIGINT) FROM final2)),
          ('18_replica_eq_anchored', CAST(1 AS BIGINT)),
          ('19_src_evolved', CAST(1 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // MULTI-TABLE transactionally-consistent change streaming (ref
    // README.md:22-31 — snapshots span tables; demos/01_transaction_rollback/
    // demo.py:177-214 — order insert + inventory decrement as ONE commit).
    // CatalogSync consumes N tables' change feeds aligned on catalog commit
    // versions and applies each sync point to ALL replicas in one atomic
    // destination transaction (offset tag inside the same commit, so apply
    // and checkpoint advance are one atomic publish — the replica catalog
    // IS the checkpoint). The judged ledger drives demo-1's shape through
    // two passes (the second under a fold cap), then AUDITS every
    // destination version the sync created: the unit-conservation invariant
    // inv.quantity + ord.qty = const must hold at each — a per-table feed
    // pair can (and provably does, see StreamingSpec's non-vacuous pin)
    // expose a torn half-applied state the source never contained. Oracle:
    // replica data outcomes replayed as CTEs over the identical part slice;
    // transaction/audit counts are deterministic engine contracts as
    // literals.
    QDef("l51_catalog_sync",
      (s, d) => {
        import graft.streaming.{CatalogSync, TableSync}
        val cat = freshLake(s)
        val invS = StructType(Seq(
          StructField("product_id", LongType),
          StructField("quantity", LongType)))
        val ordS = StructType(Seq(
          StructField("order_id", LongType),
          StructField("product_id", LongType),
          StructField("qty", LongType)))
        cat.createTable("inv", invS, primaryKey = Seq("product_id"))
        cat.createTable("ord", ordS, primaryKey = Seq("order_id"))
        cat.createTable("r_inv", invS)
        cat.createTable("r_ord", ordS)
        // SF-invariant seed: p_partkey 1..80 exists at every driver SF
        cat.insert("inv", T.part(s, d).filter(col("p_partkey") <= 80)
          .selectExpr("cast(p_partkey AS bigint) AS product_id",
            "cast(p_size AS bigint) AS quantity"))
        val s2 = s
        import s2.implicits._
        def order(id: Long, p: Long, q: Long): Unit = cat.transaction { tx =>
          tx.insert("ord",
            Seq((id, p, q)).toDF("order_id", "product_id", "qty"))
          tx.update("inv", col("product_id") === p,
            Map("quantity" -> (col("quantity") - q)))
        }
        val maps = Seq(TableSync("inv", "r_inv", Seq("product_id")),
          TableSync("ord", "r_ord", Seq("order_id")))
        // phase A: two joint txns + one single-table insert -> 4 data
        // sync points (seed, o1, o2, insert), each one dst transaction
        order(1, 10, 3); order(2, 20, 5)
        cat.insert("inv", Seq((900L, 40L)).toDF("product_id", "quantity"))
        val txns1 = CatalogSync.pass(cat, cat, maps, "l51")
        def agg2(t: String): (Long, Long) = {
          val r = cat.read(t).agg(count(lit(1)),
            coalesce(sum(cat.read(t).columns.last), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val (invRows1, invSum1) = agg2("r_inv")
        val (ordRows1, ordSum1) = agg2("r_ord")
        def eqTo(src: String, dst: String): Long = {
          val (a, b) = (cat.read(src), cat.read(dst))
          if (b.exceptAll(a).union(a.exceptAll(b)).isEmpty) 1L else 0L
        }
        val eq1 = eqTo("inv", "r_inv") * eqTo("ord", "r_ord")
        // phase B: three joint txns + one single-table update, synced
        // under a FOLD CAP of 2 -> one coarse + one fine transaction
        val auditFrom = cat.currentVersion
        order(3, 30, 7); order(4, 40, 2)
        cat.update("inv", col("product_id") === 900L,
          Map("quantity" -> (col("quantity") + 10L)))
        order(5, 50, 4)
        val txns2 = CatalogSync.pass(cat, cat, maps, "l51",
          maxTxnsPerPass = 2)
        val (invRows2, invSum2) = agg2("r_inv")
        val (ordRows2, ordSum2) = agg2("r_ord")
        val eq2 = eqTo("inv", "r_inv") * eqTo("ord", "r_ord")
        // torn audit over phase B's destination commits: at every version
        // the sync created, the replica pair must equal the SOURCE pair at
        // that sync point — checked via the conservation signature
        // inv_sum + ord_sum (phase B moves no units in or out: +10 on
        // inv at one sync point is visible as a signature STEP, so check
        // membership in the two legal totals, never a half-applied mix)
        val legalTotals = Set(invSum1 + ordSum1, invSum1 + ordSum1 + 10L)
        var audited = 0L
        var torn = 0L
        for (v <- (auditFrom + 1) to cat.currentVersion
             if cat.snapshot(v).changes.getOrElse("stream_batches", Nil)
               .exists(_.startsWith("catsync:l51:"))) {
          val iv = cat.readAt("r_inv", v).agg(coalesce(sum("quantity"),
            lit(0L))).head().getLong(0)
          val ov = cat.readAt("r_ord", v).agg(coalesce(sum("qty"),
            lit(0L))).head().getLong(0)
          audited += 1
          if (!legalTotals.contains(iv + ov)) torn += 1
        }
        // phase C: nothing new -> zero transactions
        val txns3 = CatalogSync.pass(cat, cat, maps, "l51")
        Seq(
          ("01_txns_p1", txns1),
          ("02_r_inv_rows_p1", invRows1),
          ("03_r_inv_sum_p1", invSum1),
          ("04_r_ord_rows_p1", ordRows1),
          ("05_r_ord_sum_p1", ordSum1),
          ("06_replicas_eq_p1", eq1),
          ("07_txns_p2", txns2),
          ("08_r_inv_rows_p2", invRows2),
          ("09_r_inv_sum_p2", invSum2),
          ("10_r_ord_rows_p2", ordRows2),
          ("11_r_ord_sum_p2", ordSum2),
          ("12_replicas_eq_p2", eq2),
          ("13_audited_commits", audited),
          ("14_torn_commits", torn),
          ("15_txns_p3", txns3))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        WITH seed AS (
          SELECT CAST(sum(p_size) AS BIGINT) AS q,
                 CAST(count(*) AS BIGINT) AS n
          FROM part WHERE p_partkey <= 80)
        SELECT * FROM (VALUES
          ('01_txns_p1', CAST(4 AS BIGINT)),
          ('02_r_inv_rows_p1', (SELECT n + 1 FROM seed)),
          ('03_r_inv_sum_p1', (SELECT q - 8 + 40 FROM seed)),
          ('04_r_ord_rows_p1', CAST(2 AS BIGINT)),
          ('05_r_ord_sum_p1', CAST(8 AS BIGINT)),
          ('06_replicas_eq_p1', CAST(1 AS BIGINT)),
          ('07_txns_p2', CAST(2 AS BIGINT)),
          ('08_r_inv_rows_p2', (SELECT n + 1 FROM seed)),
          ('09_r_inv_sum_p2', (SELECT q - 8 + 40 - 13 + 10 FROM seed)),
          ('10_r_ord_rows_p2', CAST(5 AS BIGINT)),
          ('11_r_ord_sum_p2', CAST(21 AS BIGINT)),
          ('12_replicas_eq_p2', CAST(1 AS BIGINT)),
          ('13_audited_commits', CAST(2 AS BIGINT)),
          ('14_torn_commits', CAST(0 AS BIGINT)),
          ('15_txns_p3', CAST(0 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // CONCURRENT WRITERS through OCC (ref README.md:244 — "1000x more
    // concurrent writers"; the reference's claim rests on the catalog
    // being a transactional store with conditional-put version claiming).
    // K racing writer threads × M commits each, all against one catalog:
    // every transaction must eventually commit (publish-retry re-runs the
    // body on the fresh base), history must be LINEAR (exactly K·M new
    // versions — one per transaction, no overwrites), and the classic
    // read-modify-write hazard must show no lost update: a shared counter
    // each writer increments M times through a transaction lands at
    // exactly K·M. TxPropertySpec races up to 4 writers on shared and on
    // disjoint tables (re-run counts: FLOOR_ANALYSIS) — the judged ledger
    // holds the deterministic outcomes. Oracle: serializability contracts as
    // literals; row landing replayed as a DuckDB cross-range sum.
    QDef("l52_concurrent_writers",
      (s, d) => {
        val cat = freshLake(s)
        // judged sizes kept SMALL: the invariants (linear history, no
        // lost update, serializable counter) are size-independent, and
        // contention over random K, M and table layouts is
        // TxPropertySpec's job — round 15 spent 44.5 s of the lake leg
        // re-proving it here every bench run
        val K = 4; val M = 2; val R = 3
        cat.createTable("log", StructType(Seq(
          StructField("writer", LongType), StructField("seq", LongType),
          StructField("payload", LongType))),
          primaryKey = Seq("writer", "seq"))
        cat.createTable("counter", StructType(Seq(
          StructField("id", LongType), StructField("n", LongType))))
        val s2 = s
        import s2.implicits._
        cat.insert("counter", Seq((0L, 0L)).toDF("id", "n"))
        val base = cat.currentVersion
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val gate = new java.util.concurrent.CountDownLatch(1)
        val writers = (0 until K).map { w =>
          new Thread(() => {
            try {
              gate.await()
              (0 until M).foreach { m =>
                cat.transaction { tx =>
                  tx.insert("log", (0 until R).map(j =>
                    (w.toLong, (m * R + j).toLong,
                      w.toLong * 100 + (m * R + j)))
                    .toDF("writer", "seq", "payload"))
                  tx.update("counter", col("id") === 0L,
                    Map("n" -> (col("n") + 1L)))
                }
              }
            } catch { case t: Throwable => errors.add(t) }
          })
        }
        writers.foreach(_.start()); gate.countDown()
        writers.foreach(_.join(600000))
        val committed = cat.currentVersion - base
        // LINEAR history: every version in (base, head] is exactly one
        // writer transaction — one tables_inserted_into change on `log`
        val headers = cat.current.history
          .filter(h => h.snapshotId > base)
        val linear =
          if (headers.size == K * M && headers.forall(
            _.changes.getOrElse("tables_inserted_into", Nil).contains("log")))
            1L else 0L
        val rows = cat.read("log").count()
        val distinctKeys = cat.read("log")
          .select("writer", "seq").distinct().count()
        val paySum = cat.read("log")
          .agg(coalesce(sum("payload"), lit(0L))).head().getLong(0)
        val counterN = cat.read("counter")
          .filter(col("id") === 0L).select("n").head().getLong(0)
        // serializable snapshots all the way down: at every version the
        // counter equals the number of writer txns already committed
        var monotone = 1L
        var prevN = -1L
        for (v <- base to cat.currentVersion) {
          val n = cat.readAt("counter", v).filter(col("id") === 0L)
            .select("n").head().getLong(0)
          if (n != prevN + 1 && prevN >= 0) monotone = 0L
          prevN = n
        }
        // phase 2 — DISJOINT writers, the rebase fast path: K writers
        // each append to their OWN table; write-conflict detection lets
        // a loser republish on the new head without re-running its body,
        // so the only serialization point is the conditional put
        val dK = 3; val dM = 2
        (0 until dK).foreach(w => cat.createTable(s"d$w", StructType(Seq(
          StructField("seq", LongType), StructField("v", LongType)))))
        val base2 = cat.currentVersion
        val errors2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val gate2 = new java.util.concurrent.CountDownLatch(1)
        val writers2 = (0 until dK).map { w =>
          new Thread(() => {
            try {
              gate2.await()
              (0 until dM).foreach { m =>
                cat.transaction(_.insert(s"d$w",
                  Seq((m.toLong, w.toLong * 10 + m)).toDF("seq", "v")))
              }
            } catch { case t: Throwable => errors2.add(t) }
          })
        }
        writers2.foreach(_.start()); gate2.countDown()
        writers2.foreach(_.join(600000))
        val committed2 = cat.currentVersion - base2
        val dRows = (0 until dK).map(w => cat.read(s"d$w").count()).sum
        val dSum = (0 until dK).map(w => cat.read(s"d$w")
          .agg(coalesce(sum("v"), lit(0L))).head().getLong(0)).sum
        Seq(
          ("01_writer_errors", errors.size.toLong),
          ("02_committed_txns", committed),
          ("03_history_linear", linear),
          ("04_log_rows", rows),
          ("05_distinct_keys", distinctKeys),
          ("06_lost_inserts", rows - distinctKeys),
          ("07_payload_sum", paySum),
          ("08_counter", counterN),
          ("09_counter_monotone", monotone),
          ("10_disjoint_errors", errors2.size.toLong),
          ("11_disjoint_txns", committed2),
          ("12_disjoint_rows", dRows),
          ("13_disjoint_sum", dSum))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('01_writer_errors', CAST(0 AS BIGINT)),
          ('02_committed_txns', CAST(8 AS BIGINT)),
          ('03_history_linear', CAST(1 AS BIGINT)),
          ('04_log_rows', CAST(24 AS BIGINT)),
          ('05_distinct_keys', CAST(24 AS BIGINT)),
          ('06_lost_inserts', CAST(0 AS BIGINT)),
          ('07_payload_sum', (SELECT CAST(sum(w * 100 + sq) AS BIGINT)
             FROM range(4) t(w), range(6) u(sq))),
          ('08_counter', CAST(8 AS BIGINT)),
          ('09_counter_monotone', CAST(1 AS BIGINT)),
          ('10_disjoint_errors', CAST(0 AS BIGINT)),
          ('11_disjoint_txns', CAST(6 AS BIGINT)),
          ('12_disjoint_rows', CAST(6 AS BIGINT)),
          ('13_disjoint_sum', (SELECT CAST(sum(w * 10 + m) AS BIGINT)
             FROM range(3) t(w), range(2) u(m))))
          t(metric, value)
        ORDER BY metric""")),

    // Maintenance verbs as PURE SQL statements (round-16 verdict task
    // #3): the reference's entire interface is conn.execute(sql) and
    // DuckLake ships its maintenance as ducklake_expire_snapshots()-
    // style calls, so vacuum/compact/cluster/zorder/restore/add-files
    // must be drivable without touching the Scala API. This ledger
    // replays a full optimize→vacuum→restore lifecycle exclusively
    // through execute(): small-file churn, CALL graft_compact folds it,
    // more churn, CALL graft_cluster + graft_zorder lay out the data,
    // CALL graft_vacuum expires old history (time travel below the
    // floor then refuses), CALL graft_restore re-points at a live past
    // version, CALL graft_add_data_files registers external parquet
    // zero-copy. Every fact is returned BY the statements themselves
    // (or read back via graft_table_info()/AT-queries — SQL too).
    QDef("l53_sql_maintenance",
      (s, d) => {
        import s.implicits._
        val cat = freshLake(s)
        def fact(df: org.apache.spark.sql.DataFrame, c: String): Long =
          df.select(col(c).cast("long")).head().getLong(0)
        cat.execute("CREATE TABLE m (id BIGINT PRIMARY KEY, v BIGINT)")
        (0 until 6).foreach(i =>                              // v2..v7
          cat.execute(s"INSERT INTO m VALUES ($i, ${7 * i})"))
        val filesChurn = fact(cat.execute(
          "SELECT file_count FROM graft_table_info() " +
            "WHERE table_name = 'm'"), "file_count")
        val comp = cat.execute("CALL graft_compact('m')")     // v8
        (6 to 7).foreach(i =>                                 // v9, v10
          cat.execute(s"INSERT INTO m VALUES ($i, ${7 * i})"))
        val filesChurn2 = fact(cat.execute(
          "SELECT file_count FROM graft_table_info() " +
            "WHERE table_name = 'm'"), "file_count")
        val clus = cat.execute("CALL graft_cluster('m', 'v')") // v11
        val zord = cat.execute("CALL graft_zorder('m', 'id', 'v')") // v12
        val rowsAtV9 = fact(cat.execute(
          "SELECT count(*) AS c FROM m AT (VERSION => 9)"), "c")
        val vac = cat.execute("CALL graft_vacuum(5, 0)")      // v13
        val refused =
          try { cat.execute("SELECT count(*) FROM m AT (VERSION => 2)")
            .collect(); 0L }
          catch { case _: Exception => 1L }
        val rest = cat.execute("CALL graft_restore('m', 9)")  // v14
        val rowsAfterRestore = fact(cat.execute(
          "SELECT count(*) AS c FROM m"), "c")
        val ext = java.nio.file.Files
          .createTempDirectory("graft_ext_").toString
        s.range(0, 4).selectExpr("id + 100 AS id", "(id + 100) * 7 AS v")
          .repartition(1).write.mode("overwrite").parquet(ext)
        val add = cat.execute(
          s"CALL graft_add_data_files('m', '$ext')")          // v15
        val fin = cat.execute(
          "SELECT count(*) AS n, sum(v) AS sv FROM m").head()
        Seq(
          ("01_files_after_churn", filesChurn),
          ("02_compact_files", fact(comp, "file_count")),
          ("03_compact_rows", fact(comp, "row_count")),
          ("04_files_after_more_churn", filesChurn2),
          ("05_cluster_files", fact(clus, "file_count")),
          ("06_zorder_files", fact(zord, "file_count")),
          ("07_rows_at_v9", rowsAtV9),
          ("08_vacuum_current_version", fact(vac, "current_version")),
          ("09_vacuum_live_versions", fact(vac, "live_versions")),
          ("10_expired_travel_refused", refused),
          ("11_restore_current_version", fact(rest, "current_version")),
          ("12_rows_after_restore", rowsAfterRestore),
          ("13_files_added", fact(add, "files_added")),
          ("14_total_rows", fin.getLong(0)),
          ("15_sum_v", fin.getLong(1)))
          .toDF("metric", "value").orderBy("metric")
      }, Some("""
        SELECT * FROM (VALUES
          ('01_files_after_churn', CAST(6 AS BIGINT)),
          ('02_compact_files', CAST(1 AS BIGINT)),
          ('03_compact_rows', CAST(6 AS BIGINT)),
          ('04_files_after_more_churn', CAST(3 AS BIGINT)),
          ('05_cluster_files', CAST(1 AS BIGINT)),
          ('06_zorder_files', CAST(1 AS BIGINT)),
          ('07_rows_at_v9', CAST(7 AS BIGINT)),
          ('08_vacuum_current_version', CAST(13 AS BIGINT)),
          ('09_vacuum_live_versions', CAST(6 AS BIGINT)),
          ('10_expired_travel_refused', CAST(1 AS BIGINT)),
          ('11_restore_current_version', CAST(14 AS BIGINT)),
          ('12_rows_after_restore', CAST(7 AS BIGINT)),
          ('13_files_added', CAST(1 AS BIGINT)),
          ('14_total_rows', CAST(11 AS BIGINT)),
          ('15_sum_v', CAST(2989 AS BIGINT)))
          t(metric, value)
        ORDER BY metric""")),

    // T6 — engine introspection as DataFrames (ref exploration/
    // ducklake_analysis.sh:186-191: duckdb_functions()/duckdb_settings()).
    // The settings probe reports PRESENCE (set/unset), not the value —
    // the value varies with the runner's CPU env, presence is the
    // introspection contract. Oracle: the catalog listing is a stable
    // engine contract, stated as literals.
    QDef("l9_introspection",
      (s, d) => {
        import s.implicits._
        val fns = s.catalog.listFunctions()
          .filter(col("name").isin("sum", "avg", "min", "max", "count",
            "row_number", "concat", "coalesce"))
          .select(col("name")).as[String].collect().sorted.toSeq
          .toDF("name").withColumn("kind", lit("function"))
        val confs = Seq(
          "spark.sql.shuffle.partitions" ->
            s.conf.getOption("spark.sql.shuffle.partitions").nonEmpty)
          .toDF("name", "present")
          .select(concat(col("name"), lit("="),
            when(col("present"), "set").otherwise("unset")).as("name"))
          .withColumn("kind", lit("setting"))
        fns.unionByName(confs).orderBy("kind", "name")
      }, Some("""
        SELECT * FROM (VALUES
          ('avg', 'function'), ('coalesce', 'function'),
          ('concat', 'function'), ('count', 'function'),
          ('max', 'function'), ('min', 'function'),
          ('row_number', 'function'), ('sum', 'function'),
          ('spark.sql.shuffle.partitions=set', 'setting')) t(name, kind)
        ORDER BY kind, name""")),

    // MM2 — multimodal decode stub: typed mapPartitions pipeline
    // (see graft.ops.Multimodal — schema/partitioning real, codec
    // stubbed). The stub decoder is a pure function of the md5 payload
    // bytes, so DuckDB can replay it: the oracle re-derives each payload
    // byte from the md5 hex string and folds a*31+b in HUGEINT
    // arithmetic mod 2^64 — the decode plumbing is HASH-verified even
    // though the codec is fake.
    QDef("mm2_decode_profile",
      (s, d) => Multimodal.decodeProfile(s, d), Some("""
        WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
             b AS (SELECT d.doc_id, r.i,
                     (strpos('0123456789abcdef', substr(d.h, 2*r.i+1, 1))-1)*16
                   + (strpos('0123456789abcdef', substr(d.h, 2*r.i+2, 1))-1) AS byte
                   FROM d CROSS JOIN (SELECT CAST(unnest(range(16)) AS INT) AS i) r),
             p AS (SELECT * FROM (VALUES
               (0, 23465261991844685929951::HUGEINT),
               (1, 756943935220796320321::HUGEINT),
               (2, 24417546297445042591::HUGEINT),
               (3, 787662783788549761::HUGEINT),
               (4, 25408476896404831::HUGEINT),
               (5, 819628286980801::HUGEINT),
               (6, 26439622160671::HUGEINT),
               (7, 852891037441::HUGEINT),
               (8, 27512614111::HUGEINT),
               (9, 887503681::HUGEINT),
               (10, 28629151::HUGEINT),
               (11, 923521::HUGEINT),
               (12, 29791::HUGEINT),
               (13, 961::HUGEINT),
               (14, 31::HUGEINT),
               (15, 1::HUGEINT)) t(i, pw)),
             c AS (SELECT b.doc_id,
                     SUM(CAST(b.byte AS HUGEINT) * p.pw)
                       % 18446744073709551616::HUGEINT AS csum_u
                   FROM b JOIN p ON b.i = p.i GROUP BY b.doc_id),
             f AS (SELECT doc_id, csum_u,
                     CASE WHEN csum_u >= 9223372036854775808::HUGEINT
                          THEN csum_u - 18446744073709551616::HUGEINT
                          ELSE csum_u END AS csum_s,
                     CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                          WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format
                   FROM c)
        SELECT format, count(*) AS n_items,
               CAST(16 * count(*) AS BIGINT) AS total_bytes,
               CAST(SUM(csum_u % 256) AS BIGINT) AS f0_byte_sum,
               CAST(SUM(((csum_s % 1000003) + 1000003) % 1000003) AS BIGINT)
                 AS checksum_fold
        FROM f GROUP BY format ORDER BY format""")),

    // MM3 — frame sampling fan-out over binary payloads: 16-byte md5
    // payload = 4 blocks of 4; stride 2 keeps frames 0 and 2 of every
    // item. Oracle: DuckDB recomputes the fan-out row count + byte
    // volume per frame from the documents table.
    QDef("mm3_frame_profile",
      (s, d) => Multimodal.frameProfile(s, d),
      Some("SELECT f.frame_no, count(*) AS n, " +
        "CAST(4 * count(*) AS BIGINT) AS bytes " +
        "FROM documents CROSS JOIN " +
        "(SELECT * FROM (VALUES (0), (2)) t(frame_no)) f " +
        "GROUP BY f.frame_no ORDER BY f.frame_no")),

    // MM4 — cross-item frame-level dedup (the video-corpus dd1): every
    // sampled frame fingerprinted, recurring fingerprints counted across
    // items per frame position. The payload is the md5 digest, so the
    // oracle re-derives each 4-byte frame's fingerprint as the matching
    // md5-hex substring — fan-out, fingerprinting and dedup rollup are
    // all HASH-verified.
    QDef("mm4_frame_dedup",
      (s, d) => Multimodal.frameDedupProfile(s, d),
      Some("""
        WITH fr AS (SELECT doc_id, f.i AS frame_no,
                      substr(md5(text), f.i*8 + 1, 8) AS fp
                    FROM documents CROSS JOIN
                      (SELECT CAST(unnest(range(4)) AS INT) AS i) f),
             g AS (SELECT frame_no, fp, count(*) AS n FROM fr GROUP BY 1, 2)
        SELECT frame_no, CAST(SUM(n) AS BIGINT) AS n_frames,
               count(*) AS n_distinct,
               CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_extra
        FROM g GROUP BY 1 ORDER BY frame_no""")),

    // ST1 — Structured Streaming: events replayed as a micro-batch
    // stream, watermark + tumbling-window agg, drained deterministically
    // (SURVEY.md §2.13 extension; see graft.streaming.EventStream).
    // Oracle: DuckDB recomputes the tumbling windows AND the watermark
    // emission rule (append mode emits windows whose end the final
    // watermark max(ts)-2h has passed) — so both the aggregation and the
    // lateness semantics are HASH-verified.
    QDef("st1_stream_window",
      (s, d) => graft.streaming.EventStream.windowedProfile(s, d), Some("""
        WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
                   FROM events),
             m AS (SELECT max(ts) AS mx FROM e),
             w AS (SELECT date_trunc('hour', ts) AS win_start, event_type,
                          count(*) AS n,
                          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                            AS sum_value
                   FROM e GROUP BY 1, 2)
        SELECT w.win_start, w.event_type, w.n, w.sum_value FROM w, m
        WHERE w.win_start + INTERVAL 1 HOUR <= m.mx - INTERVAL 2 HOUR
        ORDER BY win_start, event_type""")),

    // ST8 — SLIDING windows (2-hour windows every 30 minutes): each
    // event belongs to exactly 4 overlapping windows — overlap
    // multiplies window-state keys, never the input scan. Oracle:
    // DuckDB fans each event to its 4 aligned window starts
    // (time_bucket minus k x slide) and applies the same append-mode
    // watermark emission rule, so the overlap semantics AND lateness
    // handling are hash-verified.
    QDef("st8_stream_sliding",
      (s, d) => graft.streaming.EventStream.slidingProfile(s, d), Some("""
        WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
                   FROM events),
             m AS (SELECT max(ts) AS mx FROM e),
             x AS (SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                            - k.k * INTERVAL 30 MINUTE AS win_start,
                          event_type, value
                   FROM e, (SELECT unnest(range(0, 4)) AS k) k),
             w AS (SELECT win_start, event_type, count(*) AS n,
                          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                            AS sum_value
                   FROM x GROUP BY 1, 2)
        SELECT w.win_start, w.event_type, w.n, w.sum_value FROM w, m
        WHERE w.win_start + INTERVAL 2 HOUR <= m.mx - INTERVAL 2 HOUR
        ORDER BY win_start, event_type""")),

    // ST6 — stream-static enrichment join: the events stream decorated
    // from a broadcast dimension (per-user tier), then the st1 window
    // shape per tier. The oracle replays the enrichment as a plain
    // batch join (exactly-once over the finite replay) and applies the
    // same watermark emission rule — a hash match proves the
    // stream-static join dropped, duplicated and re-ordered nothing.
    QDef("st6_stream_enrich",
      (s, d) => graft.streaming.EventStream.enrichedWindowProfile(s, d),
      Some("""
        WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value
                   FROM events),
             t AS (SELECT user_id,
                          CASE CAST(user_id % 4 AS INT)
                            WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
                            WHEN 2 THEN 'gold' ELSE 'platinum' END AS tier
                   FROM (SELECT DISTINCT user_id FROM e)),
             m AS (SELECT max(ts) AS mx FROM e),
             w AS (SELECT date_trunc('hour', e.ts) AS win_start, t.tier,
                          count(*) AS n,
                          CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                            AS sum_value
                   FROM e JOIN t USING (user_id) GROUP BY 1, 2)
        SELECT w.win_start, w.tier, w.n, w.sum_value FROM w, m
        WHERE w.win_start + INTERVAL 1 HOUR <= m.mx - INTERVAL 2 HOUR
        ORDER BY win_start, tier""")),

    // ST2 — custom keyed streaming state via flatMapGroupsWithState.
    // Oracle: the per-user profile the state machine accumulates equals
    // a plain GROUP BY over the replayed table (exactly-once, single
    // batch), recomputed by DuckDB — first/last in raw microseconds.
    QDef("st2_stream_sessions",
      (s, d) => graft.streaming.EventStream.sessionProfile(s, d), Some("""
        SELECT user_id, count(*) AS n_events,
               count(DISTINCT event_type) AS n_types,
               epoch_ns(min(ts)) // 1000 AS first_us,
               epoch_ns(max(ts)) // 1000 AS last_us
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id LIMIT 50""")),

    // ST4 — stream-stream interval join (click→purchase attribution
    // within 1 hour): watermarked two-stream join with a time-range
    // condition; the oracle replays the identical interval join as a
    // DuckDB batch self-join, so the join's completeness (every
    // qualifying pair, exactly once) is HASH-verified.
    QDef("st4_stream_join",
      (s, d) => graft.streaming.EventStream.streamJoinProfile(s, d), Some("""
        WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                   FROM events WHERE event_type = 'click'),
             p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                   FROM events WHERE event_type = 'purchase'),
             j AS (SELECT c.user_id, c.event_id AS cid, p.event_id AS pid
                   FROM c JOIN p ON c.user_id = p.user_id
                   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        SELECT user_id, count(*) AS n_pairs,
               count(DISTINCT cid) AS n_clicks_converted,
               count(DISTINCT pid) AS n_purchases_attributed
        FROM j GROUP BY user_id ORDER BY user_id""")),

    // ST7 — stream-stream LEFT OUTER interval join: st4 plus the outer
    // half. Unmatched clicks surface with NULLs only once the global
    // watermark (min of the two sides' max-ts minus the 2h bound) passes
    // their last possible match time — the state-eviction semantics are
    // replayed by the oracle's NOT EXISTS + watermark predicate, so both
    // the join completeness AND the outer emission rule are HASH-verified.
    QDef("st7_stream_outer_join",
      (s, d) => graft.streaming.EventStream.outerJoinProfile(s, d), Some("""
        WITH c AS (SELECT user_id cu, CAST(ts AS TIMESTAMP) cts, event_id cid
                   FROM events WHERE event_type = 'click'),
             p AS (SELECT user_id pu, CAST(ts AS TIMESTAMP) pts, event_id pid
                   FROM events WHERE event_type = 'purchase'),
             wm AS (SELECT least((SELECT max(cts) FROM c),
                                 (SELECT max(pts) FROM p))
                      - INTERVAL 2 HOUR AS w),
             matched AS (SELECT cu AS user_id, pid FROM c JOIN p
                         ON cu = pu AND pts >= cts
                         AND pts <= cts + INTERVAL 1 HOUR),
             unmatched AS (SELECT cu AS user_id, CAST(NULL AS BIGINT) AS pid
                           FROM c, wm
                           WHERE NOT EXISTS (SELECT 1 FROM p WHERE pu = cu
                             AND pts >= cts AND pts <= cts + INTERVAL 1 HOUR)
                           AND cts + INTERVAL 1 HOUR < wm.w),
             rows_out AS (SELECT * FROM matched UNION ALL
                          SELECT * FROM unmatched)
        SELECT user_id, count(*) AS n_rows, count(pid) AS n_converted,
               count(*) - count(pid) AS n_unconverted
        FROM rows_out GROUP BY user_id ORDER BY user_id""")),

    // ST5 — native session windows (session_window + watermark): the
    // engine-managed gap-session operator, next to st2's hand-rolled
    // state machine. Oracle: lag/cumsum gap replay + the same
    // emission rule, so merge semantics AND watermark behavior hash.
    QDef("st5_stream_gap_sessions",
      (s, d) => graft.streaming.EventStream.gapSessionProfile(s, d), Some("""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                   FROM events),
             m AS (SELECT max(ts) AS mx FROM e),
             g AS (SELECT *, CASE WHEN lag(ts) OVER
                     (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk FROM e),
             sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sid FROM g),
             w AS (SELECT user_id, sid, min(ts) AS s_start,
                          max(ts) + INTERVAL 30 MINUTE AS s_end,
                          count(*) AS n,
                          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                            AS sum_value
                   FROM sx GROUP BY 1, 2)
        SELECT s_start, s_end, user_id, n, sum_value FROM w, m
        WHERE s_end <= mx - INTERVAL 2 HOUR
        ORDER BY user_id, s_start""")),

    // ST3 — streaming exact dedup: the events stream unioned with a
    // replay of itself (every event arrives twice), watermark-bounded
    // dropDuplicatesWithinWatermark keeps one copy per event_id. The
    // oracle profiles the ORIGINAL single-copy table — a hash match
    // proves the stream removed every duplicate. HASH-verified, unlike
    // st1/st2 (whose window/session outputs aren't one-statement SQL).
    QDef("st3_stream_dedup",
      (s, d) => graft.streaming.EventStream.dedupProfile(s, d),
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // SS3 — IVF ANN: KMeans coarse quantizer + probe-nearest-cells
    // search, judged by a TWO-LAYER recall contract: recall_ok is the
    // aggregate recall@3 >= 95% stamped on every row (per-query top-3
    // all-pass is the wrong ANN promise at scale — see Ivf.annIvf);
    // found_true_neighbor is PER-QUERY (this query's top-3 recovers an
    // exact top-20 neighbor, measured worst best-rank 5-7), so a single
    // zero-recall query flips its own row and breaks the hash instead
    // of hiding in the aggregate slack. DuckDB independently derives
    // the query set; per-rank ordering and the exact per-query top-3
    // recall floor are pinned in PipelineSpec.
    QDef("ss3_ann_ivf",
      (s, d) => Ivf.annIvf(s, d),
      Some("SELECT vec_id AS qid, 3 AS k, TRUE AS found_true_neighbor, " +
        "TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 ORDER BY qid")),

    // SS5 — PRODUCT-QUANTIZATION ANN (FAISS IndexPQ shape): per-subspace
    // KMeans codebooks encode every vector as 4 small codes; queries
    // score candidates by asymmetric distance computation (broadcast
    // M x K lookup table + code joins — no per-pair float vector math),
    // then the shortlist is exactly re-ranked. Judged by the same
    // two-layer recall contract as ss3: aggregate recall@3 >= 95%
    // stamped on every row, plus the per-query found_true_neighbor
    // floor (exact top-20 hit; measured worst best-rank 7-10) that
    // makes a single zero-recall query break the hash.
    QDef("ss5_ann_pq",
      (s, d) => Pq.annPq(s, d),
      Some("SELECT vec_id AS qid, 3 AS k, TRUE AS found_true_neighbor, " +
        "TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 ORDER BY qid"))
  )
}
