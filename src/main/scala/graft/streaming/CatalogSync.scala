package graft.streaming

import org.apache.spark.sql.functions.lit

import graft.lake.LakeCatalog

/** One table's replication mapping in a multi-table sync: `src` in the
  * source catalog streams into `dst` in the destination catalog; `keys`
  * must uniquely identify rows (the precondition of the net-effect apply,
  * [[LakeCatalog.applyNetChanges]], shared with
  * [[LakeCatalog.applyChangesStreamBatch]]). */
final case class TableSync(src: String, dst: String, keys: Seq[String])

/** MULTI-TABLE transactionally-consistent change streaming — the catalog-
  * level form of [[ChangeFeed]] (ref README.md:22-31: snapshots span
  * tables; demos/01_transaction_rollback/demo.py:177-214 commits an order
  * insert + inventory update as ONE snapshot).
  *
  * Why per-table feeds are not enough: two independent `ChangeFeed`
  * streams over tables committed in the SAME source transaction apply to
  * their replicas at independent offsets, so a downstream join can observe
  * a torn state — order rows landed, inventory decrement not yet — that
  * the source catalog never contained. The fix is alignment on the one
  * thing the catalog already serializes: the snapshot version counter.
  *
  * [[CatalogSync.pass]] consumes the change feeds of N tables in ONE
  * coordinated pass whose batches are SYNC POINTS — source snapshot
  * versions at which any synced table's data changed. Each sync point
  * applies every touched table's `(prev, v]` net diff to its replica in a
  * single destination transaction, and the stream OFFSET (an idempotence
  * tag naming `v`) commits inside that same transaction. Consequences,
  * each pinned by StreamingSpec:
  *  - never torn: a multi-table source txn is one sync point, so its
  *    effects reach all replicas in one atomic destination commit —
  *    between destination versions the replicas always equal the source
  *    pair at some single source version;
  *  - exactly-once without a side checkpoint: apply and offset advance
  *    are one commit, so a crashed pass resumes at the last committed
  *    sync point and a racing duplicate pass loses the tag check and
  *    skips (the destination catalog IS the checkpoint);
  *  - bounded plans: a deep backlog folds its oldest sync points into one
  *    coarse live-to-live diff per table (exact net effect; the planner,
  *    [[ChangeFeed.windowEnds]], is the one the per-table feed's
  *    `maxWindowsPerBatch` uses), so a pass is at most `maxTxnsPerPass`
  *    destination transactions regardless of lag.
  *
  * Scale shape: sync-point discovery is one manifest-head read plus an
  * in-memory header scan (zero jobs); each applied window is the same
  * O(churn) [[LakeCatalog.tableChanges]] diff the per-table feed plans —
  * executor-side scans/joins, nothing collected on the driver beyond one
  * row per table (the key guard and net row count). Replicating K tables
  * costs the sum of their churn, never a function of table size.
  */
object CatalogSync {

  /** The last committed sync point for `streamId`, read from the
    * destination catalog's stream-tag high-water marks (O(1), immune to
    * header-tail compaction). 0 = never synced. */
  def lastOffset(dstCat: LakeCatalog, streamId: String): Long =
    dstCat.current.txnSeen.getOrElse(s"catsync:$streamId", 0L)

  /** One incremental multi-table pass: replicate every `tables` mapping
    * from `srcCat` into `dstCat`, aligned on source commit versions.
    * Returns the number of destination transactions committed (0 when
    * nothing new). `anchorVersions` optionally pins a per-SOURCE-table
    * schema anchor (same contract as [[ChangeFeed]]'s `anchorVersion`);
    * unpinned tables anchor at their first-pass source head, and that
    * anchor is PERSISTED as a destination-table property keyed by
    * `streamId`, so later passes keep the same window alignment even
    * across source schema changes (re-anchoring mid-stream would
    * silently shift what the replicated columns mean). */
  def pass(srcCat: LakeCatalog, dstCat: LakeCatalog, tables: Seq[TableSync],
      streamId: String, maxTxnsPerPass: Int = 32,
      anchorVersions: Map[String, Long] = Map.empty): Long =
    try passOnce(srcCat, dstCat, tables, streamId, maxTxnsPerPass,
      anchorVersions)
    catch { case AnchorShifted =>
      // a concurrent first pass persisted a DIFFERENT anchor after this
      // pass read none — restart so the diffs realign on the stored
      // anchor. Each table's anchor transitions none->stored exactly
      // once, so retries are bounded by the table count.
      pass(srcCat, dstCat, tables, streamId, maxTxnsPerPass, anchorVersions)
    }

  /** Raised inside a destination transaction when the anchor persisted
    * on a replica differs from the anchor this pass's window diffs were
    * computed against (two concurrent FIRST passes of the same streamId
    * read different source heads before either persisted). Applying the
    * loser's remaining windows would shift window alignment by one pass
    * — exactly what the persisted anchor exists to prevent — so the
    * transaction aborts and the pass restarts on the winner's anchor. */
  private object AnchorShifted extends Exception

  private def passOnce(srcCat: LakeCatalog, dstCat: LakeCatalog,
      tables: Seq[TableSync], streamId: String, maxTxnsPerPass: Int,
      anchorVersions: Map[String, Long]): Long = {
    require(tables.nonEmpty, "nothing to sync")
    require(tables.map(_.dst).distinct.size == tables.size,
      "destination tables must be distinct")
    require(maxTxnsPerPass >= 1, "maxTxnsPerPass must be >= 1")
    val head = srcCat.current
    val from = lastOffset(dstCat, streamId)
    if (head.snapshotId <= from) return 0L
    // sync points: the live versions in (from, head] where ANY synced
    // table's data changed, closed and folded like the per-table feed
    val points = ChangeFeed.windowEnds(head, head, tables.map(_.src), from,
        head.snapshotId, maxTxnsPerPass) { _ =>
      if (from == 0L)
        "; sync only the name's current incarnation by seeding the " +
          "replica and offset past the break"
      else "; re-seed the replica and start a fresh sync stream"
    }
    // per-table schema anchors: pinned wins; else the anchor PERSISTED
    // on the replica at first pass; else this pass's head (first pass —
    // persisted below inside the pass's first destination transaction,
    // so the anchor never shifts once any window has been applied)
    val anchorKey = s"catsync.$streamId.anchor"
    val dstHead = dstCat.current
    val anchors = tables.map { t =>
      val stored = dstHead.tables.get(t.dst)
        .flatMap(_.props.get(anchorKey)).map(_.toLong)
      t.src -> anchorVersions.getOrElse(t.src,
        stored.getOrElse(head.snapshotId))
    }.toMap
    // persist first-pass anchors for unpinned tables (no-op once stored;
    // pinned tables stay caller-owned — an explicit pin is not sticky).
    // The stored anchor is re-read INSIDE the transaction: if a racing
    // first pass persisted a different one since this pass's pre-txn
    // read, applying diffs computed against OUR anchor would misalign —
    // abort and let pass() restart on the winner's anchor.
    def persistAnchors(tx: graft.lake.Tx): Unit = tables.foreach { t =>
      if (!anchorVersions.contains(t.src)) {
        val stored = tx.properties(t.dst).get(anchorKey).map(_.toLong)
        if (stored.exists(_ != anchors(t.src))) throw AnchorShifted
        if (stored.isEmpty)
          tx.setProperty(t.dst, anchorKey, anchors(t.src).toString)
      }
    }
    val headersByV = head.history.map(h => h.snapshotId -> h).toMap
    var committed = 0L
    var lastTagged = from
    var prev = from
    for (v <- points) {
      // which synced tables changed in (prev, v]? A coarse fold spans
      // many headers; expired interiors still count — their net effect
      // rides this window's live-to-live diff. The lastDataVersion
      // stamp backstops headers that tail compaction dropped.
      val touched = tables.filter { t =>
        ((prev + 1) to v).exists(i =>
          headersByV.get(i).exists(ChangeFeed.changesData(_, Seq(t.src)))) ||
        srcCat.snapshot(v).tables.get(t.src)
          .exists(st => st.lastDataVersion > prev && st.lastDataVersion <= v)
      }
      // every touched table's window lands in ONE destination commit with
      // the sync point's tag; stamped with v like a feed window, so the
      // net-effect reduction is the per-table feed's
      val changes = touched.map { t =>
        LakeCatalog.NetChange(t.dst,
          srcCat.tableChanges(t.src, prev, v, t.keys,
              schemaAtV = Some(anchors(t.src)))
            .withColumn(ChangeFeed.VersionCol, lit(v)),
          t.keys,
          s"catalog sync '${t.src}' -> '${t.dst}': key " +
            s"(${t.keys.mkString(", ")}) is not unique within one " +
            "sync window — net-effect apply requires row-identifying " +
            "keys")
      }
      dstCat.applyNetChanges(s"catsync:$streamId:$v", changes, persistAnchors)
        .foreach { applied =>
          if (applied) committed += 1
          lastTagged = v
        }
      prev = v
    }
    // every window since the last tag netted to zero rows (e.g. an UPDATE
    // writing identical values): advance the offset with one metadata-only
    // commit so future passes stop re-diffing the dead window. At most one
    // such commit per pass, and only when something was consumed; a racing
    // pass that already tagged it wins.
    if (points.nonEmpty && lastTagged != points.last)
      dstCat.commitStreamBatch(s"catsync:$streamId:${points.last}")(persistAnchors)
    committed
  }
}
