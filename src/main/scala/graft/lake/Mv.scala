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
  *  - the delta is the window's SIGNED rows
  *    ([[LakeCatalog.signedChanges]]: −1 for a before-side row, +1 for
  *    an after-side row), and each group's delta is Σ weight·row — one
  *    shuffle over the DELTA, no per-row netting: a row re-staged
  *    unchanged by a copy-on-write rewrite cancels in the sums, and a
  *    group whose deltas all net to zero is left alone;
  *  - changed groups join the current MV on the group key (delta-sized
  *    build side) and apply in ONE copy-on-write MERGE: a group with
  *    rows left updates or inserts, a group whose count reaches zero is
  *    deleted, and a group never seen that nets to zero inserts nothing.
  *
  * Work is O(changed rows + changed groups), never O(base table) — at
  * 100 TB a daily refresh costs the day's delta, not a table scan. When
  * the watermark version has been vacuumed away the change feed is
  * unreadable, so refresh falls back to a full recompute, applied by
  * the same MERGE with a not-matched-by-source delete (correct,
  * proportional to the table — the documented cost of expiring history
  * an MV still needed). count/sum (and anything derivable: avg) are
  * maintained purely from the delta. min/max are maintained with the
  * standard split: a group whose delta rows all weigh +1 folds in as
  * least/greatest(old, delta-min/max) — still O(delta) — while a group
  * holding any negative-weight row recomputes from the base via a
  * semi-join on exactly the affected group keys (O(changed groups'
  * rows); when deletes are rare, almost every refresh takes the fast
  * path; a copy-on-write rewrite's re-staged rows count as negative
  * there, so their groups recompute too). Join MVs accept min/max with
  * the same split: join legs multiply their inputs' weights, and any
  * negative-weight row (fact delete OR dim churn) routes its groups to
  * the exact recompute, which re-runs the filter+join for just those
  * groups via a semi-join on the affected keys — O(changed groups' fact
  * rows), the same bound as the base-table delete path. The recomputed
  * rows ride the same MERGE as the folded ones.
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
    * Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD, each row weighted by the product
    * of its inputs' weights. Both "old" sides come from TIME TRAVEL
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
      } else {
        // a vacuumed watermark leaves no change feed below it: full reload
        val full = !watermarkLive
        mode = if (full) "full" else "incremental"
        val aggs = aggExprs(sums, mins, maxs, avgs)
        def recompute(src: DataFrame): DataFrame = withAvgs(src
          .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*), avgs)
        def current: DataFrame = joinSpec.foldLeft(withFilter(tx.read(base))) {
          case (f, (dim, fk, pk)) => joinFrames(f, tx.read(dim), fk, pk) }
        // ONE copy-on-write pass writes every path: a row with n_rows > 0
        // updates or inserts its group, n_rows <= 0 deletes it (a group
        // emptied by the delta, or the -1 sentinel of a recomputed group
        // that vanished), and a group never seen that nets to zero
        // inserts nothing. The full reload also deletes every group the
        // recompute no longer has.
        def apply(rows: DataFrame): Unit =
          tx.mergeClauses(mv, rows, keys, MergeClauses(
            matchedDelete = Some("s.n_rows <= 0"),
            matchedUpdate = Some("s.n_rows > 0"),
            notMatchedInsert = Some("n_rows > 0"),
            bySourceDelete = Option.when(full)("true")))
        if (full) apply(recompute(current))
        else {
          val minMax = mins.nonEmpty || maxs.nonEmpty
          // signed delta rows carrying keys + aggregated columns + `__w`
          // (−1 before-side, +1 after-side; see LakeCatalog.signedChanges)
          def signed(t: String): DataFrame = cat.signedChanges(t, lastV, curV)._1
          val delta: DataFrame = joinSpec match {
            case None => withFilter(signed(base))
            case Some((dim, fk, pk)) =>
              // Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD, each row weighted by the
              // product of its inputs' weights (old states weigh 1, via
              // time travel at the shared watermark). The manifest check
              // above already said which sides moved, so only the legs
              // with a changed input are BUILT — a dim-only churn never
              // scans the fact change feed and vice versa
              lazy val dF = withFilter(signed(base))
                .withColumnRenamed("__w", "__wf")
              lazy val dD = signed(dim).withColumnRenamed("__w", "__wd")
              def f0 = withFilter(cat.readAt(base, lastV)).withColumn("__wf", lit(1L))
              def d0 = cat.readAt(dim, lastV).withColumn("__wd", lit(1L))
              val sel = (keys ++ sums ++ mins ++ maxs).distinct.map(col) :+
                (col("__wf") * col("__wd")).as("__w")
              Seq(Option.when(bChanged)((dF, d0)),
                Option.when(dChanged)((f0, dD)),
                Option.when(bChanged && dChanged)((dF, dD))).flatten
                .map { case (f, d) => joinFrames(f, d, fk, pk).select(sel: _*) }
                .reduce(_ unionByName _)
          }
          // Δ per group = Σ weight·row: the count, sums and non-NULL
          // counts (the avg denominators) sum the weight; rows re-staged
          // unchanged by a copy-on-write rewrite cancel here. `__hasneg`
          // flags a group holding a negative-weight row — one that may
          // have retired its running min/max
          val w = col("__w")
          val dAggs = (sum(w).as("__dn") +:
            sums.map(c => sum(w * col(c)).as(s"__d_$c"))) ++
            avgs.map(c => sum(when(col(c).isNotNull, w).otherwise(0L)).as(s"__dc_$c")) ++
            mins.map(c => min(when(w > 0, col(c))).as(s"__dmin_$c")) ++
            maxs.map(c => max(when(w > 0, col(c))).as(s"__dmax_$c")) :+
            max(when(w < 0, lit(1)).otherwise(lit(0))).as("__hasneg")
          // a group whose deltas all net to zero keeps its MV row as is,
          // unless a negative row sends it to the min/max recompute
          val changed = ((col("__dn") =!= 0L) +:
            (sums.map(c => coalesce(col(s"__d_$c") =!= 0, lit(false))) ++
              avgs.map(c => col(s"__dc_$c") =!= 0L))) ++
            Option.when(minMax)(col("__hasneg") === 1)
          // the per-group delta feeds the routing flags, the fast fold and
          // the recompute keys, and each would otherwise replay the whole
          // change-feed plan — persist the changed-groups-sized frame and
          // read its two routing flags in ONE action (which also
          // materializes the cache)
          val deltaAgg = delta.groupBy(keys.map(col): _*)
            .agg(dAggs.head, dAggs.tail: _*).filter(changed.reduce(_ || _))
            .persist()
          try {
            val flags = deltaAgg.agg(count(lit(1)), max(col("__hasneg"))).head()
            if (flags.getLong(0) > 0) {
              // groups with no negative row fold in purely from the delta
              // against their CURRENT MV row (delta-sized): sums add,
              // min/max fold as least/greatest(old, delta) — both
              // NULL-skipping, matching SQL MIN/MAX semantics
              val cur = tx.read(mv)
              val fastGroups =
                if (minMax) deltaAgg.filter(col("__hasneg") === 0) else deltaAgg
              // NULL-safe delta apply: a delta batch whose summed values
              // are all NULL aggregates to a NULL __d_ — adding that raw
              // would clobber the existing group sum to NULL. Sums here
              // follow the COALESCE(SUM(x),0) convention (a group with
              // only NULL values reports 0), stated in the object scaladoc.
              def newSum(c: String): Column = {
                val t = cur.schema(s"sum_$c").dataType
                coalesce(col(s"sum_$c"), lit(0L).cast(t)) +
                  coalesce(col(s"__d_$c"), lit(0L).cast(t))
              }
              def newCnt(c: String): Column =
                coalesce(col(s"cnt_$c"), lit(0L)) + col(s"__dc_$c")
              val folded = fastGroups.join(cur, keys, "left_outer").select(
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
              // groups with a negative row: the retired value may have
              // BEEN the min/max, so recompute exactly those groups from
              // the source — for a join MV that re-runs the filter+join,
              // still cut by a semi-join on the affected keys (the keys
              // may come from either side, so the cut applies after the
              // join): O(changed groups' rows). A group gone from the
              // source carries the n_rows = -1 sentinel (count(*) is never
              // negative, so it is unambiguous)
              val rows = if (!minMax || flags.getInt(1) == 0) folded else {
                val delKeys = deltaAgg.filter(col("__hasneg") === 1)
                  .select(keys.map(col): _*)
                folded.unionByName(delKeys.join(
                  recompute(current.join(delKeys, keys, "left_semi")),
                  keys, "left_outer")
                  .withColumn("n_rows", coalesce(col("n_rows"), lit(-1L))))
              }
              apply(rows)
            }
          } finally deltaAgg.unpersist(blocking = false)
        }
      }
      tx.setProperty(mv, PVersion, tx.commitVersion.toString)
    } catch { case AlreadyFresh => () }
    mode
  }
}
