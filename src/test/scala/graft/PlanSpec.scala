package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

/** Physical-plan audits: the properties that decide whether these plans
  * survive a 100TB / 1000-executor scale-up. A query that is correct but
  * scans all columns, shuffles a broadcastable dim, or goes cartesian is
  * a bug here even when its result matches the oracle. */
class PlanSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def planString(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString()

  test("filters push down to the parquet scan") {
    val s = planString("p3_filter_compare")
    assert(s.contains("PushedFilters: ["), s)
    assert(s.contains("GreaterThanOrEqual(l_quantity"), s)
  }

  test("projection prunes the read schema to selected columns") {
    val s = planString("s2_scan_project")
    // region has 2 cols; both referenced — but lineitem projections must
    // not read all 11 columns
    val s2 = planString("p10_cast")
    assert(s2.contains("ReadSchema"), s2)
    assert(!s2.contains("l_comment") && !s2.contains("l_discount"),
      "p10 must not read unprojected lineitem columns\n" + s2)
    assert(s.contains("ReadSchema"), s)
  }

  test("MoR reads broadcast-anti-join tombstones; DV-free reads plan no join") {
    import org.apache.spark.sql.types._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("planlake"))
    cat.createTableAs("t", spark.range(10000).selectExpr("id", "id AS v"))
    // no deletion vectors -> the scan is a bare FileScan, ZERO join
    // overhead (the fast path must stay fast)
    val clean = cat.read("t").queryExecution.executedPlan.toString()
    assert(!clean.toLowerCase.contains("join"), clean)
    cat.deleteMor("t", col("id") % 10 === 0)
    // with DVs: LEFT ANTI against the tombstones, BROADCAST (tombstones
    // are tiny), never a shuffled join of the data side
    val mor = cat.read("t").queryExecution.executedPlan.toString()
    assert(mor.contains("BroadcastHashJoin") && mor.contains("LeftAnti"), mor)
    assert(!mor.contains("SortMergeJoin"), mor)
  }

  test("a keyed churned change-feed window plans exactly one shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types._
    import spark.implicits._
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("plancdc"))
    cat.createTable("t", StructType(Seq(StructField("id", LongType),
      StructField("v", LongType))), primaryKey = Seq("id"))
    cat.insert("t", spark.range(0, 1000).selectExpr("id", "id % 7 AS v"))
    val v1 = cat.currentVersion
    cat.update("t", col("id") < 10, Map("v" -> (col("v") + 100L)))
    cat.deleteMor("t", col("id") >= 990)
    // the signed diff aggregate and the update-pairing window both run
    // on the one exchange that clusters the churned rows by key
    val ch = cat.tableChanges("t", v1, cat.currentVersion)
    val plan = ch.queryExecution.executedPlan
    assert(walk(plan).count(_.isInstanceOf[ShuffleExchangeExec]) === 1, plan)
    assert(ch.groupBy("change_type").count().as[(String, Long)].collect().toMap ===
      Map("update_preimage" -> 10L, "update_postimage" -> 10L, "delete" -> 10L))
  }

  test("hive-partitioned source prunes partitions in the scan") {
    val s = planString("s11_hive_partitions")
    assert(s.contains("PartitionFilters"), s)
    assert(s.contains("event_type"), s)
    // the partition predicate must be a partition filter, not a row filter
    assert(!s.contains("PushedFilters: [IsNotNull(event_type)"), s)
  }

  test("dpp join injects a runtime pruning subquery into the fact scan") {
    val s = planString("j13_dpp_join")
    // the partitions to read are only known after the dim filter runs, so
    // the fact scan must carry a DYNAMIC pruning expression (reusing the
    // dim broadcast), not just static partition filters
    assert(s.contains("dynamicpruning"), s)
    assert(s.contains("PartitionFilters"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), "7-row dim must broadcast\n" + s)
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val s = planString("j1_join_inner")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), "dims must broadcast, not SMJ\n" + s)
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val s = planString("o3_topk_desc")
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("aggregations are partial+final hash aggregates") {
    val s = planString("q1_pricing_summary")
    assert(s.contains("HashAggregate"), s)
    assert(!s.contains("SortAggregate"), s)
  }

  test("q3: filters reach every scan, top-k never global-sorts") {
    val s = planString("q3_shipping_priority")
    assert(s.contains("TakeOrderedAndProject"), s)
    // segment + both date bounds must be pushed, not post-join filters
    assert(s.contains("EqualTo(c_mktsegment,BUILDING)"), s)
    assert(s.contains("LessThan(o_orderdate"), s)
    assert(s.contains("GreaterThan(l_shipdate"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q5: dim seed broadcasts; co-nation constraint rides the hash join") {
    val s = planString("q5_local_supplier_volume")
    assert(s.contains("BroadcastHashJoin"), s)
    // the c_nationkey = s_nationkey condition must be a join KEY, not a
    // post-join row filter over a wider join product
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"), s)
    assert(s.contains("HashAggregate"), s)
  }

  test("q7: nation filters push to scans, supplier side broadcasts, no cartesian") {
    val s = planString("q7_nation_trade")
    // the nation-pair restriction must reach the nation scans as an IN
    // filter, shrinking supplier/customer BEFORE the fact joins
    assert(s.contains("In(n_name"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"), s)
    // shipdate range is pushed to the lineitem scan
    assert(s.contains("GreaterThanOrEqual(l_shipdate"), s)
  }

  test("q19: single-side implications factor out of the disjunction to both scans") {
    val s = planString("q19_disjunctive")
    // the p_brand disjunction reaches the part scan and the l_quantity
    // envelope reaches the lineitem scan — both BEFORE the join
    assert(s.contains("EqualTo(p_brand") || s.contains("In(p_brand"), s)
    assert(s.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q16: non-null-qualified NOT IN plans a plain broadcast anti join, not NAAJ") {
    val s = planString("q16_supplier_diversity")
    // with both sides IS NOT NULL-qualified, Catalyst degrades the
    // null-aware anti join to a plain LeftAnti broadcast hash join —
    // a hash probe instead of per-row null bookkeeping
    assert(s.contains("LeftAnti"), s)
    assert(!s.contains("NAAJ"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q16: distinct-count is a bitmap aggregate, not a row-level DISTINCT") {
    val s = planString("q16_supplier_diversity")
    // the fact-side exchange must carry fixed-size bitmaps per
    // (combo, bucket) group, never ~|lineitem| distinct rows: no Expand
    // (count-distinct rewrite) and no aggregate keyed by the raw
    // suppkey may appear
    assert(s.contains("bitmap_construct_agg"), s)
    assert(!s.contains("Expand"), s)
    val hotAgg = s.linesIterator
      .filter(l => l.contains("bitmap_construct_agg") && l.contains("keys="))
    assert(hotAgg.forall(l => l.contains("cid#") && !l.contains("p_brand#")),
      "the hot aggregate must be keyed by the dense combo id, not the " +
        "brand string\n" + s)
  }

  test("j14: interval-overlap join is a bucket equi-join, never a nested loop") {
    val s = planString("j14_overlap_join")
    assert(!s.contains("CartesianProduct") && !s.contains("NestedLoop"), s)
    // overlap verification is a residual filter over the bucket join
    assert(s.contains("Join"), s)
  }

  test("q18: the HAVING aggregate reduces lineitem BEFORE any join") {
    val plan = SparkEntry.queries("q18_large_orders")(spark, d)
      .queryExecution.executedPlan
    // walk down from each join: the lineitem side below the first join
    // must already contain a HashAggregate (agg pushed under the join)
    val s = plan.toString()
    val aggIdx = s.indexOf("HashAggregate")
    val joinIdx = s.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0, s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("w7: range frame is one shuffle on the partition key, no global sort") {
    val s = planString("w7_range_frame")
    assert(s.contains("Window"), s)
    // exactly one exchange: hashpartitioning on o_custkey (plus the
    // final presentation sort's range exchange)
    assert(s.contains("hashpartitioning(o_custkey"), s)
  }

  test("no dedup/similarity query degenerates to a cartesian product") {
    Seq("dd2_ngram_jaccard", "dd3_minhash_lsh", "dd4_simhash",
      "dd5_embed_neardup", "dd6_dedup_clusters", "dd7_survivor_select",
      "ss2_ann_lsh", "ss4_sq_rerank", "ss7_filtered_ann", "ss8_knn_classify",
      "x13_decontaminate").foreach { q =>
      val s = planString(q)
      assert(!s.contains("CartesianProduct"),
        s"$q must stay band/bucket-local\n" + s.take(2000))
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"$q must use hash joins on band keys\n" + s.take(2000))
    }
  }

  test("range join buckets to an equi-join: no nested loop, no cartesian") {
    val s = planString("j9_range_join")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "interval containment must ride the bucket equi-join\n" + s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
    // the exploded bucket column is the join key
    assert(s.contains("Generate") || s.contains("explode"), s.take(2000))
  }

  test("salted skew join spreads hot keys over the salt sub-keys") {
    val s = planString("j6_skew_salted")
    // the join key must include the deterministic salt column, so one hot
    // event_type's rows hash over `salt` partitions instead of one task
    assert(s.contains("__salt"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("brute-force topk is the ONLY intentional nested-loop pair join") {
    // ss1 compares a tiny query set against the table — BNLJ with a
    // broadcast side is the right plan there
    val s = planString("ss1_cosine_topk")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("CartesianProduct"))
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // the pre-partitioning story for repeated big-big joins at scale:
    // bucket both sides on the join key once, and every subsequent join
    // skips its shuffle entirely
    val db = s"bucketdemo_${System.nanoTime()}"
    val loc = tmpDir("bucketwh")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    try {
      Tables.orders(spark, d)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"$db.o_bucketed")
      Tables.customer(spark, d)
        .selectExpr("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"$db.c_bucketed")
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table(s"$db.o_bucketed")
          .join(spark.table(s"$db.c_bucketed"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").count()
        val plan = joined.queryExecution.executedPlan.toString()
        assert(plan.contains("SortMergeJoin"), plan.take(1500))
        // the only exchange allowed is the one for the final groupBy —
        // neither join input may reshuffle
        val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(!joinPart.contains("Exchange hashpartitioning(o_custkey") &&
          !joinPart.contains("Exchange hashpartitioning(c_custkey"),
          "bucketed join inputs must not reshuffle\n" + joinPart.take(1500))
        assert(joined.count() > 0)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("TPC-H remainder: no fact join degenerates to a nested loop") {
    // q11/q15/q22 are exempt from the BNLJ check ONLY for their broadcast
    // 1-row scalar (total / max / avg threshold) — the fact joins
    // themselves must still hash
    Seq("q2_min_cost_supplier", "q4_order_priority", "q6_forecast_revenue",
      "q8_market_share", "q9_product_profit", "q13_order_distribution",
      "q17_small_qty_revenue", "q20_part_promotion",
      "q21_waiting_suppliers").foreach { q =>
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q\n" + s.take(2000))
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"$q joins must stay hash/sort-merge\n" + s.take(2000))
    }
    Seq("q11_important_parts", "q15_top_supplier", "q22_global_sales")
      .foreach { q =>
        val s = planString(q)
        assert(!s.contains("CartesianProduct"), s"$q\n" + s.take(2000))
      }
  }

  test("q4/q20/q22: subqueries decorrelate to semi/anti joins") {
    // q4's EXISTS is deliberately inner-join→distinct (a left-semi could
    // only broadcast the FACT side); the date-shrunk orders side must
    // broadcast, never a two-sided shuffle
    val s4 = planString("q4_order_priority")
    assert(s4.contains("BroadcastHashJoin") && !s4.contains("SortMergeJoin"),
      s4.take(2000))
    val s20 = planString("q20_part_promotion")
    // the HAVING agg must run BEFORE the semi join probes supplier: in
    // the printed tree the join's build subtree renders below the join
    // line, so an aggregate feeding the semi join appears AFTER it
    val semiIdx = s20.indexOf("LeftSemi")
    assert(semiIdx >= 0, s20.take(2000))
    assert(s20.indexOf("HashAggregate", semiIdx) > semiIdx,
      "the HAVING agg must sit below the semi join\n" + s20.take(2000))
    assert(planString("q22_global_sales").contains("LeftAnti"))
  }

  test("q6/q8: filters reach the parquet scans") {
    // the rendered PushedFilters list truncates, so pin the scan-adjacent
    // Filter node (proves the predicates sit on the scan, not post-join)
    // plus the head of the pushed list
    val s6 = planString("q6_forecast_revenue")
    assert(s6.contains("PushedFilters: [IsNotNull(l_shipdate)"), s6.take(2000))
    assert(s6.contains("< 24.0)"), s6.take(2000))
    assert(s6.contains(">= 1996-01-01"), s6.take(2000))
    val s8 = planString("q8_market_share")
    assert(s8.contains("EqualTo(p_type,PROMO)"), s8.take(3000))
  }

  test("whole-stage codegen covers the relational hot paths") {
    Seq("q1_pricing_summary", "a3_multi_agg", "j2_join_left_agg").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      df.collect() // finalize the adaptive plan so codegen spans materialize
      val s = df.queryExecution.executedPlan.toString()
      assert(s.contains("*("), s"$q should have WholeStageCodegen spans\n" + s.take(1000))
    }
  }

  test("as-of join is one union + window, never a range join") {
    val s = planString("j7_asof_join")
    // the tag-union + running-last shape: a point-in-time range join as
    // one shuffle on user_id; a nested-loop/cartesian range join here
    // would be O(clicks x purchases) at scale
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s.take(2000))
    assert(s.contains("Window"), s.take(2000))
    assert(s.contains("Union"), s.take(2000))
  }

  test("EXISTS/NOT EXISTS decorrelate to semi/anti joins, filters pushed") {
    val s = planString("j11_exists_subquery")
    // no per-row subquery re-execution: one semi + one anti join, and the
    // correlated predicates reach the orders parquet scan
    assert(s.contains("LeftSemi") && s.contains("LeftAnti"), s.take(2000))
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s.take(2000))
    assert(s.contains("EqualTo(o_orderpriority,1-URGENT)"), s.take(2000))
    assert(s.contains("GreaterThan(o_totalprice,300000.0)"), s.take(2000))
  }

  test("LATERAL top-k compiles to a group-limit window, not a row loop") {
    val s = planString("j12_lateral_topk")
    // the correlated ORDER BY..LIMIT becomes WindowGroupLimit (partial on
    // the map side, final after one shuffle) + a hash join — never a
    // nested-loop per outer row
    assert(s.contains("WindowGroupLimit"), s.take(2000))
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s.take(2000))
  }

  test("recursive CTE spine joins the PRE-AGGREGATED fact side") {
    val s = planString("u7_recursive_cte")
    // recursion executes natively (UnionLoop), and the orders aggregation
    // sits BELOW the join: the join input is per-month rows, never the
    // raw fact table against an 80-row spine
    assert(s.contains("UnionLoop"), s.take(2000))
    val join = s.indexOf("Join")
    val agg = s.indexOf("HashAggregate")
    assert(join >= 0 && agg > join,
      "orders must aggregate below the spine join\n" + s.take(2000))
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s.take(2000))
  }

  test("tf-idf broadcasts the corpus count, keeps term joins hash-based") {
    val s = planString("x7_tfidf_topterms")
    assert(!s.contains("CartesianProduct"), s.take(2000))
    // the 1-row corpus-count frame must arrive via broadcast, not shuffle
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      "corpus count must broadcast\n" + s.take(2000))
  }

  test("sequence packing is one shuffle on source + per-partition window") {
    val df = SparkEntry.queries("x8_seq_pack")(spark, d)
    df.collect()
    val s = df.queryExecution.executedPlan.toString()
    // one hashpartitioning(source) exchange feeds both the window and the
    // final agg (same key) — no second data shuffle
    val n = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(n <= 2, s"expected <=2 exchanges (window + tiny agg), got $n\n" + s.take(2000))
    assert(s.contains("Window"), s.take(1000))
  }

  test("grouping sets plan ONE Expand + hash aggregate (single input pass)") {
    val s = planString("a14_grouping_sets")
    assert("Expand".r.findAllIn(s).size >= 1, s.take(2000))
    // one expand, not one scan per grouping set: the orders scan appears once
    assert("Scan parquet".r.findAllIn(s).size === 1,
      "grouping sets must read the input once\n" + s.take(2000))
    assert(s.contains("HashAggregate"), s.take(1000))
  }

  test("pivot compiles to one hash aggregate over the static value list") {
    val s = planString("a13_pivot")
    assert("Scan parquet".r.findAllIn(s).size === 1,
      "pivot must read the input once\n" + s.take(2000))
    assert(s.contains("HashAggregate"), s.take(1000))
  }

  test("explode runs as a Generate inside the scan stage (no pre-shuffle)") {
    val s = planString("f17_explode_words")
    assert(s.contains("Generate"), s.take(1000))
    // fan-out happens map-side: EVERY exchange must print above (before)
    // the Generate in the root-first tree — lastIndexOf, so a shuffle
    // inserted between scan and fan-out can't hide behind the agg's
    val gen = s.indexOf("Generate")
    val exch = s.lastIndexOf("Exchange")
    assert(exch < gen || exch === -1,
      "Generate must sit below every exchange (map-side fan-out)\n" +
        s.take(2000))
  }

  test("tf-idf computes df as a window over tf — no self-join, no recompute") {
    val s = planString("x7_tfidf_topterms")
    // the documents corpus is read for tokens + the 1-row count: 2 scans,
    // never 3 (the old two-branch shape recomputed the explode+agg)
    assert("Scan parquet".r.findAllIn(s).size <= 2,
      "df branch must reuse the tf shuffle\n" + s.take(2000))
  }

  test("bloom semi-join tests the filter map-side, below every exchange") {
    val s = planString("j8_bloom_semi")
    assert(s.contains("might_contain"), s.take(1000))
    // the bloom test must sit in the fact scan stage (printed deeper than
    // the first exchange), so the shuffle carries only probable matches
    val exch = s.indexOf("Exchange")
    val bloom = s.indexOf("might_contain")
    assert(exch === -1 || bloom > exch,
      "bloom filter must run below the shuffle\n" + s.take(2000))
  }

  test("mixture sampling broadcasts the rates table to a map-side filter") {
    val s = planString("x12_mixture_sample")
    // the O(sources) rates ledger must broadcast; the corpus-side sample
    // filter then runs in the scan stage, not behind a rates shuffle
    assert(s.contains("BroadcastExchange"), s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("dedup clustering: NO executed job goes cartesian (listener audit)") {
    // the returned frame's plan is truncated by localCheckpoint, so the
    // per-round propagation joins are invisible to a plan-string check —
    // capture EVERY query execution during the run instead (checkpoint
    // materialization goes through withAction, so each round reports)
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString())
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("dd6_dedup_clusters")(spark, d).collect()
      // listener delivery is async: wait for the plan feed to go quiet
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (System.currentTimeMillis() < deadline && plans.size() != last) {
        last = plans.size(); Thread.sleep(300)
      }
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size() > 0, "listener captured no executed plans")
    import scala.jdk.CollectionConverters._
    plans.asScala.foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "a dd6 job went cartesian/nested-loop\n" + p.take(1500))
    }
  }

  test("chunking fans out map-side: Generate below every exchange") {
    val s = planString("x14_chunk_windows")
    val gen = s.indexOf("Generate")
    val exch = s.lastIndexOf("Exchange")
    assert(gen >= 0, s.take(1000))
    assert(exch === -1 || exch < gen,
      "chunk fan-out must run in the scan stage\n" + s.take(2000))
  }

  test("unigram scoring broadcasts the vocab table, never goes cartesian") {
    val s = planString("x15_unigram_logprob")
    assert(s.contains("BroadcastHashJoin"),
      "vocab-bounded frequency table must broadcast\n" + s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("stratified sampling is map-only until the final aggregate") {
    val s = planString("x9_stratified_sample")
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 1,
      "sampling filter must run map-side, one agg exchange only\n" +
        s.take(2000))
  }

  test("retention cohorts: one event pass, cohort sizes broadcast back") {
    val s = planString("t13_retention_cohorts")
    // the grid self-join for cohort sizes must broadcast (the grid is
    // O(weeks²) rows), never sort-merge; and the events parquet is read
    // exactly once — sizes come from the persisted grid, not a second
    // scan of the raw events
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    assert(!s.contains("SortMergeJoin"), s.take(2000))
    // both the output rows AND the size lookup must read the persisted
    // grid (the plan-string embeds the cached lineage under each
    // InMemoryRelation; what matters is that both consumers hit it)
    assert("InMemoryTableScan".r.findAllIn(s).size >= 2,
      "cohort sizes must derive from the persisted grid, not a second " +
        "event scan\n" + s.take(2000))
  }

  test("interval merge: one user_id sort serves both windows") {
    val s = planString("t14_interval_merge")
    // prev-end max and island running sum share partitioning AND order,
    // so the plan needs ONE hash shuffle on user_id + one sort feeding
    // both Window operators; the two shrinking hash-aggs reuse the same
    // partitioning, and the only other sort is the final presentation
    // ORDER BY
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 1,
      "both windows + aggs must share the user_id shuffle\n" + s.take(2000))
    assert("Sort \\[".r.findAllIn(s).size <= 2,
      "one sort must serve both windows\n" + s.take(2000))
    assert("Window".r.findAllIn(s).size >= 2, s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("cross-source overlap joins stay shingle-keyed, never cartesian") {
    val s = planString("x21_cross_source_overlap")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      "pair generation must stay bounded by the shingle cap\n" + s.take(2000))
  }

  /** Physical-plan OPERATOR names, walked from the plan tree itself (not
    * substring-matched on the formatted string, where an expression or
    * column name containing "Window"/"Generate" would false-match). */
  private def planNodeNames(name: String): Seq[String] =
    walk(SparkEntry.queries(name)(spark, d).queryExecution.executedPlan)
      .map(_.nodeName)

  /** `x` and every node below it, looking through adaptive wrappers and
    * into the plans of cached frames the query scans. */
  private def walk(x: SparkPlan): Seq[SparkPlan] = x match {
    case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
    case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan)
    case o => o +: o.children.flatMap(walk)
  }

  test("shingle extraction runs in-task: no window exchange, posting-array pairs") {
    // r17 shape pin: the extraction is explode(arrays_zip(slices)) inside
    // the scan task — no WindowExec (the old lead-over-tokens form) may
    // reappear anywhere in dd2/dd3/dd4/x21 (none of them needs any other
    // window), and dd2/x21 generate candidate pairs from collect_set
    // posting arrays (Generate over the sorted set), not a self-join.
    Seq("dd2_ngram_jaccard", "dd3_minhash_lsh", "dd4_simhash",
      "x21_cross_source_overlap").foreach { q =>
      val nodes = planNodeNames(q)
      assert(!nodes.exists(_.startsWith("Window")),
        s"$q must not pay the window-lead extraction exchange, got: " +
          nodes.distinct.mkString(", "))
    }
    Seq("dd2_ngram_jaccard", "x21_cross_source_overlap").foreach { q =>
      val s = planString(q)
      val nodes = planNodeNames(q)
      assert(s.contains("collect_set"),
        s"$q pairs must come from the posting-list aggregate\n" + s.take(2000))
      assert(nodes.contains("Generate"),
        s"$q pairs must expand in-task from the posting array, got: " +
          nodes.distinct.mkString(", "))
    }
    // r18 scale-safety pin (verdict item 3): dd2's df cap must run BEFORE
    // the posting-list collect_set — a count aggregate (constant per-key
    // state) feeding a semi-join, so no aggregation buffer ever holds an
    // uncapped posting set. The shape is: some aggregate computes the df
    // count, and the collect_set aggregate sits above a semi join.
    val dd2 = walk(SparkEntry.queries("dd2_ngram_jaccard")(spark, d)
      .queryExecution.executedPlan)
    val postingAggs = dd2.collect {
      case a: ObjectHashAggregateExec if a.aggregateExpressions
          .exists(_.aggregateFunction.isInstanceOf[CollectSet]) => a
    }
    assert(postingAggs.nonEmpty, "dd2 must build posting lists with an " +
      "ObjectHashAggregate over collect_set, got: " +
      dd2.map(_.nodeName).distinct.mkString(", "))
    postingAggs.foreach { a =>
      assert(walk(a).exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, "dd2's df<=64 cap must pre-filter shingles via a semi-join " +
        "BELOW the collect_set aggregate\n" + a.treeString.take(2000))
    }
  }

  test("quality buckets: tercile window partitions by source, no global sort") {
    val s = planString("x23_quality_buckets")
    // the ntile window must be partitioned (shuffle-on-source), never a
    // single global ordering; the only loop join is the 1-row corpus
    // total broadcast
    assert(s.contains("Window"), s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert("windowspecdefinition\\(source".r.findAllIn(s).nonEmpty,
      "ntile must partition by source\n" + s.take(2000))
  }

  test("nested round-trip prunes the struct to the referenced leaf") {
    // the scan of the array<struct<ln,qty,price>> column must decode
    // ONLY items.qty — on a wide document table nested-schema pruning is
    // the difference between one column chunk and the whole payload
    val s = planString("s13_nested_roundtrip")
    val read = s.split("ReadSchema").last
    assert(read.contains("qty"), s.take(2000))
    assert(!read.contains("price") && !read.contains("ln:"),
      "scan must not decode unreferenced struct fields\n" + s.take(2000))
  }

  test("hybrid search: both legs bucket/term-keyed; only the 1-row count loops") {
    val s = planString("ss6_hybrid_search")
    // the keyword inverted-index self-join is an equi-join on the term and
    // the vector leg is the ss4 LSH-bucketed shortlist (equi-joins on the
    // band key) — the ONLY allowed loop join is the broadcast of the 1-row
    // corpus-count frame; nothing may go full cartesian
    assert(!s.contains("CartesianProduct"), s.take(2000))
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(loops <= 1,
      s"only the 1-row corpus-count broadcast may loop, got $loops\n" + s.take(2000))
    assert(s.contains("HashJoin") || s.contains("SortMergeJoin"),
      "keyword + vector legs must be hash/merge equi-joins\n" + s.take(2000))
  }

  test("manifest-backed FileIndex: pushed predicates skip files at plan time, zero store listing") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("fidx"))
    cat.createTable("t", StructType(Seq(
      StructField("day", LongType), StructField("v", LongType))),
      partitionBy = Seq("day"))
    // partition-layout write at a pinned width: the layout hash-buckets
    // day values into shuffle.partitions buckets, so the file count
    // follows the width (3 files at 4, 7 at 32); pinning it gives the
    // same multi-file layout on every host
    val width = "spark.sql.shuffle.partitions"
    val priorWidth = spark.conf.get(width)
    spark.conf.set(width, "32")
    try cat.insert("t", spark.range(0, 8000)
      .selectExpr("id % 8 AS day", "id AS v"))
    finally spark.conf.set(width, priorWidth)
    val total = cat.current.tables("t").files.size
    // hash clustering may co-locate a couple of day values — the test
    // only needs a multi-file layout with day-disjoint files
    assert(total >= 4, s"fixture needs a multi-file layout, got $total")
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val scan = df.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f
      }.orElse(df.queryExecution.executedPlan.collectFirst {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collectFirst { case f: FileSourceScanExec => f }.get
      }).get
      scan.metrics("numFiles").value
    }
    // equality on the partition column: pvals + min/max skip to ~1 file
    val eq = cat.read("t").filter(col("day") === 3)
    assert(filesScanned(eq) < total / 2,
      "pushed equality must prune files from manifest metadata")
    assert(eq.count() === 1000L) // pruning never changes answers
    // range on a stats column: v is globally hash-clustered so ranges
    // may not prune — but an impossible range must prune to zero files
    val none = cat.read("t").filter(col("day") > 100)
    assert(filesScanned(none) === 0L, "impossible predicate scans nothing")
    assert(none.count() === 0L)
    // disjunctions prune per-branch and union conservatively
    val or = cat.read("t").filter(col("day") === 1 || col("day") === 5)
    assert(filesScanned(or) < total)
    assert(or.count() === 2000L)
  }

  test("manifest NDV/null sources: PK=rows, partition=value-set union, span bound, notNull=0") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cbondv"))
    cat.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("day", LongType),
      StructField("g", LongType))),
      primaryKey = Seq("id"), partitionBy = Seq("day"))
    cat.insert("t", spark.range(0, 1000)
      .selectExpr("id", "id % 7 AS day", "id % 3 AS g"))
    val stats = cat.read("t").queryExecution.optimizedPlan
      .collectLeaves().head.stats
    val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
    assert(stats.rowCount.contains(BigInt(1000)))
    // PK: unique by constraint -> ndv = rows exactly; notNull -> 0 nulls
    assert(byName("id").distinctCount.contains(BigInt(1000)), byName("id"))
    assert(byName("id").nullCount.contains(BigInt(0)))
    // partition column: exact union of per-file value sets
    assert(byName("day").distinctCount.contains(BigInt(7)), byName("day"))
    // plain integral column: provable span bound min(rows, max-min+1)=3
    assert(byName("g").distinctCount.contains(BigInt(3)), byName("g"))
    assert(byName("g").nullCount.contains(BigInt(0))) // exact footer nulls
  }

  test("lake manifest stats drive the INITIAL plan: selective filter broadcasts statically") {
    // the scale story this pins: at 100 TB a wrong initial join plan
    // materializes a huge shuffle before AQE can repair it. The manifest
    // carries exact rowCount/size/min-max, grafted onto the scan relation
    // as catalog statistics — FilterEstimation must shrink the filtered
    // fact side below the broadcast threshold in the STATIC plan
    // (queryExecution.sparkPlan = pre-adaptive), no runtime feedback.
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("cbostats"))
    // hashed second column keeps parquet from delta-encoding the file
    // under the broadcast threshold
    val rows = spark.range(0, 200000)
      .selectExpr("id AS k", "id * 2654435761 % 1000000007 AS g")
    cat.createTable("fact", rows.schema)
    cat.insert("fact", rows)
    cat.createTable("dim", rows.schema)
    cat.insert("dim", rows)
    val threshold = 256 * 1024
    val fileBytes = cat.current.tables("fact").files.map(_.sizeBytes).sum
    assert(fileBytes > threshold,
      s"fixture: files ($fileBytes B) must exceed the threshold")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, threshold.toString)
    try {
      // 0.1%-selective filter: est rows ~200 -> ~5 KB, WAY below the
      // threshold — but only if the stats flow into FilterEstimation
      val filtered = cat.read("fact").filter(col("k") < 200)
      // the estimate itself: ~201 rows / ~5 KB from min-max + span-NDV +
      // exact null counts, against a 4.6 MiB relation
      val est = filtered.queryExecution.optimizedPlan.stats
      assert(est.rowCount.exists(_ < BigInt(1000)),
        s"filter estimate must shrink from manifest stats, got $est")
      val j = filtered.join(cat.read("dim"), "k")
      val initial = j.queryExecution.sparkPlan.toString()
      assert(initial.contains("BroadcastHashJoin"),
        "manifest stats must broadcast the filtered side in the initial " +
          "plan\n" + initial.take(2000))
      // negative control: unfiltered join — both sides' stats exceed the
      // threshold, so the static plan must NOT broadcast (proves the
      // positive leg is the filter ESTIMATE, not a blanket hint)
      val j2 = cat.read("fact").join(cat.read("dim"), "k")
      val initial2 = j2.queryExecution.sparkPlan.toString()
      assert(!initial2.contains("BroadcastHashJoin"),
        "unfiltered sides must not broadcast\n" + initial2.take(2000))
      // and the result is right (stats shape plans, never answers)
      assert(j.count() === 200L)
    } finally spark.conf.set(key, prior)
  }
}
