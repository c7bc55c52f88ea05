package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregate MATERIALIZED VIEWS over lake
  * tables (no direct reference analog — the reference's views,
  * demos/03_schema_evolution/demo.py:273-288, recompute on read; this is
  * the lakehouse-standard maintained-aggregate pattern on top of the
  * same snapshot machinery).
  *
  * An MV is a real lake table holding
  * `SELECT keys…, count(*) AS n_rows, sum(col) AS sum_<col>…` over a
  * base table, plus table properties recording its spec and the base
  * catalog version it reflects. `refresh` advances it by applying the
  * CHANGE FEED between that watermark and now:
  *
  *  - the delta rows ([[LakeCatalog.tableChanges]]) are aggregated per
  *    group with a +1/−1 sign (insert/update_postimage vs
  *    delete/update_preimage), one shuffle over the DELTA;
  *  - changed groups join the current MV on the group key (delta-sized
  *    build side) and merge back copy-on-write; groups whose count
  *    reaches zero are deleted.
  *
  * Work is O(changed rows + changed groups), never O(base table) — at
  * 100 TB a daily refresh costs the day's delta, not a table scan. When
  * the watermark version has been vacuumed away the change feed is
  * unreadable, so refresh falls back to a full recompute (correct,
  * proportional to the table — the documented cost of expiring history
  * an MV still needed). count/sum (and anything derivable: avg) are
  * maintained purely from the delta. min/max are maintained with the
  * standard split: an INSERT-ONLY delta folds in as
  * least/greatest(old, delta-min/max) — still O(delta) — while a group
  * touched by any delete/update-preimage recomputes from the base via a
  * semi-join on exactly the affected group keys (O(changed groups'
  * rows); when deletes are rare, almost every refresh takes the fast
  * path). Join MVs accept min/max with the same split: the fast fold
  * applies when every delta leg is insert-only, and any negative-signed
  * row (fact delete OR dim churn — dim legs multiply signs in) routes
  * its groups to the exact recompute, which re-runs the filter+join for
  * just those groups via a semi-join on the affected keys — O(changed
  * groups' fact rows), the same bound as the base-table delete path.
  *
  * Counts and sums ride integer/decimal arithmetic end-to-end when the
  * summed columns are integral; for floating columns the caller should
  * pre-scale to integers (cents) if cross-engine exactness matters.
  */
object Mv {
  private val PBase = "mv.base"
  private val PKeys = "mv.keys"
  private val PSums = "mv.sums"
  private val PAvgs = "mv.avgs"
  private val PMins = "mv.mins"
  private val PMaxs = "mv.maxs"
  private val PVersion = "mv.version"
  private val PFilter = "mv.filter"
  private val PDim = "mv.join.dim"
  private val PFk = "mv.join.fk"
  private val PPk = "mv.join.pk"

  /** How far (in catalog versions) a fresh MV's watermark may drift
    * behind the head before a noop refresh renews it with a
    * property-only commit. Below the default vacuum retention
    * (keepLast = 10) so a steadily-refreshed MV over a never-changing
    * base keeps a live watermark and never degrades to a full
    * recompute. */
  private[graft] val WatermarkRenewGap = 8L

  // sums are NULL-safe (COALESCE(SUM(x),0)) so the create/full-recompute
  // paths agree with the incremental delta apply, which must treat an
  // all-NULL delta as +0 rather than clobbering the group sum to NULL.
  // min/max keep SQL semantics (NULLs skipped; all-NULL group → NULL),
  // which least/greatest in the fast path match (both skip NULLs).
  private def aggExprs(sums: Seq[String], mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil, avgs: Seq[String] = Nil): Seq[Column] =
    count(lit(1)).as("n_rows") +:
      (sums.map(c => coalesce(sum(col(c)), lit(0L)).as(s"sum_$c")) ++
        avgs.map(c => count(col(c)).as(s"cnt_$c")) ++
        mins.map(c => min(col(c)).as(s"min_$c")) ++
        maxs.map(c => max(col(c)).as(s"max_$c")))

  /** AVG is derived, never independently maintained: `avg_<c>` is
    * materialized as `sum_<c> / cnt_<c>` (NULL when the group has no
    * non-NULL values — SQL AVG semantics; `cnt_` counts non-NULLs, so
    * NULL-bearing groups divide correctly where sum/n_rows would not).
    * Every write path (create, incremental merge, exact recompute, full
    * reload) re-derives it from the two maintained columns. */
  private def withAvgs(df: DataFrame, avgs: Seq[String]): DataFrame =
    avgs.foldLeft(df)((d, c) => d.withColumn(s"avg_$c",
      when(col(s"cnt_$c") > 0L,
        col(s"sum_$c").cast("double") / col(s"cnt_$c"))))

  private def joinFrames(f: DataFrame, dm: DataFrame,
      fk: String, pk: String): DataFrame =
    if (fk == pk) f.join(dm, Seq(fk))
    else f.join(dm, f(fk) === dm(pk)).drop(dm(pk))

  // MV operations run their own multi-step transaction blocks: invoked
  // while an interactive BEGIN is open they would read COMMITTED (not
  // staged) state and publish an intermediate snapshot that dooms the
  // later COMMIT to an OCC abort. The SQL router already rejects MV
  // statements inside a txn (LakeCatalog.execute); mirror that guard on
  // the Scala API so it fails loudly instead of silently wedging the txn.
  private def requireNoOpenTx(cat: LakeCatalog, what: String): Unit =
    require(!cat.hasOpenTransaction,
      s"$what is not allowed inside an open interactive transaction: " +
        "it commits its own snapshot, which would conflict with COMMIT")

  /** Create `mv` as the materialized grouped aggregate of `base`,
    * atomically with its spec + watermark properties. */
  def create(cat: LakeCatalog, mv: String, base: String,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      avgs: Seq[String] = Nil): Unit =
    createWith(cat, "Mv.create", mv, base, keys, sums, mins, maxs, avgs,
      Nil)(_.read(base))

  /** The create transaction of both MV shapes: they differ only in the
    * `source` frame and the extra spec `props`. */
  private def createWith(cat: LakeCatalog, what: String, mv: String,
      base: String, keys: Seq[String], sums: Seq[String], mins: Seq[String],
      maxs: Seq[String], avgs: Seq[String], props: Seq[(String, String)])(
      source: Tx => DataFrame): Unit = {
    requireNoOpenTx(cat, what)
    cat.transaction { tx =>
      require(keys.nonEmpty, "mv needs at least one group key")
      // an AVG rides on sum+count: its sum_ column joins the maintained
      // sums (shared when the user also asked for the SUM), its cnt_
      // column is maintained alongside, and avg_ is derived at write
      val sumsAll = (sums ++ avgs).distinct
      val aggs = aggExprs(sumsAll, mins, maxs, avgs)
      val df = withAvgs(source(tx).groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*), avgs)
      tx.createTable(mv, df.schema, primaryKey = keys)
      tx.insert(mv, df)
      tx.setProperty(mv, PBase, base)
      tx.setProperty(mv, PKeys, keys.mkString(","))
      tx.setProperty(mv, PSums, sumsAll.mkString(","))
      if (avgs.nonEmpty) tx.setProperty(mv, PAvgs, avgs.mkString(","))
      if (mins.nonEmpty) tx.setProperty(mv, PMins, mins.mkString(","))
      if (maxs.nonEmpty) tx.setProperty(mv, PMaxs, maxs.mkString(","))
      props.foreach { case (k, v) => tx.setProperty(mv, k, v) }
      tx.setProperty(mv, PVersion, tx.commitVersion.toString)
    }
  }

  /** Create `mv` as a FILTER + single equi-JOIN + grouped aggregate over
    * two lake tables — the reference's own views join and aggregate
    * (ref demos/05_catalog_portability/demo.py:150-164); this is that
    * shape, maintained incrementally. `filter` (optional SQL predicate
    * over base columns) applies before the join; `keys`/`sums` may draw
    * from either side of the join.
    *
    * Refresh algebra (signed multiset semantics): with base/dim deltas
    * ΔF/ΔD between the watermark and now,
    * Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD, each row signed by the product
    * of its inputs' change signs. Both "old" sides come from TIME TRAVEL
    * at the watermark version (snapshots are catalog-level, so one
    * watermark covers both tables). When the dim did not change — the
    * overwhelmingly common refresh — only the ΔF⋈D₀ leg runs and the
    * cost is O(fact delta); a changed dim pays one fact-side pass for
    * the F₀⋈ΔD leg (the documented price every incremental-MV framework
    * charges for dimension churn). */
  def createJoin(cat: LakeCatalog, mv: String, base: String, dim: String,
      fk: String, pk: String, filter: Option[String],
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      avgs: Seq[String] = Nil): Unit =
    createWith(cat, "Mv.createJoin", mv, base, keys, sums, mins, maxs, avgs,
      Seq(PDim -> dim, PFk -> fk, PPk -> pk) ++ filter.map(PFilter -> _)) {
      tx =>
        val f0 = tx.read(base)
        joinFrames(filter.map(f0.filter).getOrElse(f0), tx.read(dim), fk, pk)
    }

  /** Advance `mv` to the base table's current state. Returns "noop"
    * (already fresh), "incremental" (delta applied) or "full"
    * (watermark expired → recompute) — the path actually taken, so
    * callers and tests can assert the O(delta) contract. A "noop" is
    * usually commit-free; when the watermark has drifted ≥
    * [[WatermarkRenewGap]] versions behind the head it is renewed with
    * a property-only commit (zero Spark jobs) so that later vacuums
    * don't expire it and force a full recompute of a never-changed
    * MV. */
  def refresh(cat: LakeCatalog, mv: String): String = {
    requireNoOpenTx(cat, "Mv.refresh")
    object AlreadyFresh extends Exception
    var mode = "noop"
    try cat.transaction { tx =>
      val props = tx.properties(mv)
      val base = props.getOrElse(PBase,
        throw new IllegalArgumentException(s"$mv is not a materialized view"))
      val keys = props(PKeys).split(",").toSeq.filter(_.nonEmpty)
      val sums = props(PSums).split(",").toSeq.filter(_.nonEmpty)
      val avgs = props.get(PAvgs).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      val mins = props.get(PMins).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      val maxs = props.get(PMaxs).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      val joinSpec = props.get(PDim).map(dim => (dim, props(PFk), props(PPk)))
      val filt = props.get(PFilter)
      def withFilter(df: DataFrame): DataFrame =
        filt.map(df.filter).getOrElse(df)
      val lastV = props(PVersion).toLong
      val curV = tx.baseVersion
      if (lastV == curV) throw AlreadyFresh // no empty snapshot
      // spec-vs-base validation BEFORE any delta work: dropping or
      // renaming a column the MV aggregates is the classic
      // schema-evolution breakage for maintained views — fail with the
      // spec columns named instead of letting the change-feed plan die
      // with a resolution error deep in the apply (added base columns
      // are benign: the spec never references them and the change feed
      // projects to columns common to both window ends). Schema-only
      // reads — no Spark job.
      val available = tx.read(base).columns.toSet ++
        joinSpec.map { case (dim, _, _) => tx.read(dim).columns.toSet }
          .getOrElse(Set.empty)
      val referenced = keys ++ sums ++ mins ++ maxs ++
        joinSpec.toSeq.flatMap { case (_, fk, pk) => Seq(fk, pk) }
      val missing = referenced.distinct.filterNot(available)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"materialized view $mv references column(s) " +
          s"${missing.mkString(", ")} no longer present in its source " +
          s"(dropped or renamed after the MV was created) — drop and " +
          s"recreate the MV against the evolved schema")
      // catalog versions advance on EVERY commit, so lastV != curV says
      // nothing about THIS MV's sources — check them in the manifest
      // (zero Spark jobs; only when the watermark snapshot still exists,
      // an expired one may not load). Untouched sources → the MV is
      // already fresh; the watermark stays put (correct: the next
      // refresh diffs from the same unchanged state) and no empty
      // snapshot is published.
      val watermarkLive = !tx.versionExpired(lastV)
      val bChanged = !watermarkLive ||
        cat.tableChangedBetween(base, lastV, curV)
      val dChanged = joinSpec.exists { case (dim, _, _) =>
        !watermarkLive || cat.tableChangedBetween(dim, lastV, curV) }
      if (watermarkLive && !bChanged && !dChanged) {
        // sources untouched — but a watermark left behind forever would
        // eventually be vacuumed out from under a never-changed MV, and
        // the NEXT refresh would silently pay a full recompute. Renew it
        // once it drifts ≥ [[WatermarkRenewGap]] catalog versions
        // behind: fall through to the final watermark setProperty — a
        // property-only commit, zero Spark jobs, and invisible to
        // tableChangedBetween (schema/files/inlined untouched), so MVs
        // stacked on THIS table still see it as unchanged. Small gaps —
        // the common refresh — stay commit-free; a vacuum keeping fewer
        // versions than the gap can still expire a live watermark,
        // which remains the documented full-recompute cost of expiring
        // history an MV needed.
        if (curV - lastV < WatermarkRenewGap) throw AlreadyFresh
      } else if (tx.versionExpired(lastV)) {
        // watermark vacuumed: the feed below it is gone — full reload
        mode = "full"
        tx.delete(mv, lit(true))
        val f = withFilter(tx.read(base))
        val src = joinSpec match {
          case Some((dim, fk, pk)) => joinFrames(f, tx.read(dim), fk, pk)
          case None => f
        }
        val aggs = aggExprs(sums, mins, maxs, avgs)
        tx.insert(mv, withAvgs(src.groupBy(keys.map(col): _*)
          .agg(aggs.head, aggs.tail: _*), avgs))
      } else {
        mode = "incremental"
        val sign = when(
          col("change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L)
        // signed delta rows carrying keys + summed columns + `__sgn`
        val delta: DataFrame = joinSpec match {
          case None =>
            withFilter(cat.tableChanges(base, lastV, curV))
              .withColumn("__sgn", sign)
          case Some((dim, fk, pk)) =>
            // Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD (signs multiply); old
            // states via time travel at the shared watermark. The
            // manifest check above already said which sides moved, so
            // only the legs with a changed input are BUILT — a dim-only
            // churn never scans the fact change feed and vice versa
            // (each tableChanges leg is a two-version diff aggregate —
            // real jobs, not free)
            val sel = (keys ++ sums ++ mins ++ maxs).distinct.map(col) :+
              col("__sgn")
            def dF = withFilter(cat.tableChanges(base, lastV, curV))
              .withColumn("__sf", sign).drop("change_type")
            def dD = cat.tableChanges(dim, lastV, curV)
              .withColumn("__sd", sign).drop("change_type")
            if (!dChanged) {
              // unchanged dim (the common refresh): one O(fact-delta) leg
              joinFrames(dF, cat.readAt(dim, lastV), fk, pk)
                .withColumn("__sgn", col("__sf")).select(sel: _*)
            } else if (!bChanged) {
              // dim-only churn: one O(dim-delta) leg over the old facts
              joinFrames(withFilter(cat.readAt(base, lastV)), dD, fk, pk)
                .withColumn("__sgn", col("__sd")).select(sel: _*)
            } else {
              val dFv = dF; val dDv = dD
              val leg1 = joinFrames(dFv, cat.readAt(dim, lastV), fk, pk)
                .withColumn("__sgn", col("__sf")).select(sel: _*)
              val fOld = withFilter(cat.readAt(base, lastV))
              val leg2 = joinFrames(fOld, dDv, fk, pk)
                .withColumn("__sgn", col("__sd")).select(sel: _*)
              val leg3 = joinFrames(dFv, dDv, fk, pk)
                .withColumn("__sgn", col("__sf") * col("__sd"))
                .select(sel: _*)
              leg1.unionByName(leg2).unionByName(leg3)
            }
        }
        // __hasneg flags groups touched by a delete/update_preimage —
        // the only rows that can invalidate a running min/max
        val dAggs = (sum(col("__sgn")).as("__dn") +:
          sums.map(c => sum(col("__sgn") * col(c)).as(s"__d_$c"))) ++
          // signed NON-NULL count — the avg denominators' delta
          avgs.map(c => sum(col("__sgn") *
            when(col(c).isNotNull, 1L).otherwise(0L)).as(s"__dc_$c")) ++
          mins.map(c => min(when(col("__sgn") > 0, col(c))).as(s"__dmin_$c")) ++
          maxs.map(c => max(when(col("__sgn") > 0, col(c))).as(s"__dmax_$c")) :+
          max(when(col("__sgn") < 0, lit(1)).otherwise(lit(0))).as("__hasneg")
        // the per-group delta is consumed up to three times (merge,
        // zero-group gate, min/max recompute keys) and each consumer
        // would otherwise replay the whole change-feed plan — persist
        // the changed-groups-sized frame and read its two routing flags
        // in ONE action (which also materializes the cache)
        val deltaAgg = delta.groupBy(keys.map(col): _*)
          .agg(dAggs.head, dAggs.tail: _*).persist()
        try {
        val flags = deltaAgg.agg(
          count(lit(1)).as("__g"),
          max(col("__hasneg")).as("__hn"),
          min(col("__dn")).as("__mindn")).head()
        val nGroups = flags.getLong(0)
        val anyNeg = nGroups > 0 && flags.getInt(1) == 1
        val mayEmpty = nGroups > 0 && flags.getLong(2) < 0L
        if (nGroups > 0) {
        // join changed groups against their CURRENT MV row (delta-sized)
        val cur = tx.read(mv)
        // insert-only groups fold in purely from the delta: sums add,
        // min/max fold as least/greatest(old, delta) — both NULL-skipping,
        // matching SQL MIN/MAX semantics
        val fastGroups =
          if (mins.isEmpty && maxs.isEmpty) deltaAgg
          else deltaAgg.filter(col("__hasneg") === 0)
        val joined = fastGroups.join(cur, keys, "left_outer")
        // NULL-safe delta apply: a delta batch whose summed values are
        // all NULL aggregates to a NULL __d_ — adding that raw would
        // clobber the existing group sum to NULL. Sums here follow the
        // COALESCE(SUM(x),0) convention (a group with only NULL values
        // reports 0), stated in the object scaladoc.
        def newSum(c: String): Column = {
          val t = cur.schema(s"sum_$c").dataType
          coalesce(col(s"sum_$c"), lit(0L).cast(t)) +
            coalesce(col(s"__d_$c"), lit(0L).cast(t))
        }
        def newCnt(c: String): Column =
          coalesce(col(s"cnt_$c"), lit(0L)) +
            coalesce(col(s"__dc_$c"), lit(0L))
        val updated = joined.select(
          (keys.map(col) ++
            Seq((coalesce(col("n_rows"), lit(0L)) + col("__dn")).as("n_rows")) ++
            sums.map(c => newSum(c).as(s"sum_$c")) ++
            avgs.map(c => newCnt(c).as(s"cnt_$c")) ++
            mins.map(c => least(col(s"min_$c"), col(s"__dmin_$c")).as(s"min_$c")) ++
            maxs.map(c =>
              greatest(col(s"max_$c"), col(s"__dmax_$c")).as(s"max_$c")) ++
            // avg re-derived from the merged sum+count (write-path rule)
            avgs.map(c => when(newCnt(c) > 0L,
              newSum(c).cast("double") / newCnt(c)).as(s"avg_$c"))): _*)
        tx.merge(mv, updated, keys)
        // a group can only hit zero if some group's row-delta is
        // negative — insert-only refreshes (the common case) skip the
        // delete pass entirely. With min/max maintained the pass is
        // dead even then: a negative sign sets __hasneg, which routes
        // the group OUT of the fast fold and into the exact recompute
        // below (delete(delKeys) covers its emptied groups), so every
        // merged group here had a strictly positive row-delta.
        if (mayEmpty && mins.isEmpty && maxs.isEmpty)
          tx.delete(mv, col("n_rows") <= 0L)
        if ((mins.nonEmpty || maxs.nonEmpty) && anyNeg) {
          // delete-touched groups: the retired value may have BEEN the
          // min/max, so recompute exactly those groups from the source —
          // for a join MV that means re-running the filter+join, still
          // restricted by a semi-join on the affected keys (the keys may
          // come from either side, so the cut applies after the join):
          // O(changed groups' fact rows), the bound the scaladoc states
          val delKeys = deltaAgg.filter(col("__hasneg") === 1)
            .select(keys.map(col): _*)
          val aggs = aggExprs(sums, mins, maxs, avgs)
          val src = joinSpec match {
            case Some((dim, fk, pk)) =>
              joinFrames(withFilter(tx.read(base)), tx.read(dim), fk, pk)
            case None => withFilter(tx.read(base))
          }
          val recomputed = withAvgs(src
            .join(delKeys, keys, "left_semi")
            .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*), avgs)
          // ONE copy-on-write pass applies the whole recompute: groups
          // that vanished from the source carry an n_rows = -1 sentinel
          // and DELETE; surviving groups UPDATE; a group born inside
          // this window INSERTs (count(*) can never be negative, so the
          // sentinel is unambiguous). Replaces the former
          // delete(delKeys) + insert(recomputed) pair — two file
          // rewrites of the same MV rows — with a single one.
          val applySrc = delKeys.join(recomputed, keys, "left_outer")
            .withColumn("n_rows", coalesce(col("n_rows"), lit(-1L)))
          tx.mergeClauses(mv, applySrc, keys, MergeClauses(
            matchedDelete = Some("s.n_rows < 0"),
            matchedUpdate = Some("s.n_rows >= 0"),
            notMatchedInsert = Some("n_rows >= 0")))
        }
        }
        } finally deltaAgg.unpersist(blocking = false)
      }
      tx.setProperty(mv, PVersion, tx.commitVersion.toString)
    } catch { case AlreadyFresh => () }
    mode
  }
}
