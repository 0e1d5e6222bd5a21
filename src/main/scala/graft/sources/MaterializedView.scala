package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregate view over a graft-log table
  * [EXT] — the materialized-view side of the change-data story
  * (Delta Live Tables / Materialize-style IVM, restricted to the
  * distributive aggregates COUNT + SUM for which increment = combine).
  *
  * The view `GROUP BY key → (n_rows, sum_<c>...)` lives as an ordinary
  * graft-log table, so it is itself queryable, time-travelable, and
  * vacuum/compaction-safe. Refresh contract:
  *
  *  - **Bootstrap** (no view yet, or its txn marker is gone): full
  *    aggregate of the source snapshot, written with `overwrite`, then
  *    a [[LogEntry.txn]] marker commit recording the source version it
  *    covers. A crash between write and marker re-bootstraps — the
  *    overwrite makes that idempotent.
  *  - **Incremental**: the delta is the source's change feed
  *    ([[GraftLog.changedEntriesBetween]]) between the view's
  *    applied-through marker and the source head — the refresh scan is
  *    bounded by those delta FILES (`pickFiles`), never the source
  *    size. Per-group deltas combine with the current view rows for
  *    exactly the touched keys (stats/bloom-bounded read), and the
  *    result lands through [[GraftLog.mergeUpsert]] WITH the txn
  *    marker in the same commit — marker and merged data become
  *    visible atomically, so a crashed refresh retried from the top
  *    re-reads the marker and applies each source span exactly once
  *    (the Delta SetTransaction idempotent-writer pattern).
  *  - **No-op**: marker already at the source head — a metadata read,
  *    zero scans.
  *
  * At 100 TB the refresh cost is O(append since last refresh) +
  * O(view files holding touched groups), plus a compaction amortized
  * over many refreshes once the merges' batch files and deletion
  * vectors pile up ([[GraftLog.compactIfFragmented]]): a derived
  * aggregate maintained at delta cost. Limits (documented, loud):
  * NULL group keys are excluded from the view (a NULL key can never
  * merge — SQL equality would re-insert it every refresh), and the
  * source feed must be append-only between refreshes — a source whose
  * retained log no longer covers the marker span (expired history)
  * re-bootstraps rather than silently missing changes. */
object MaterializedAgg {

  /** What a refresh did: `mode` ∈ bootstrap | incremental | noop;
    * `deltaFiles` = source part files scanned; `srcFilesTotal` = live
    * source files at the head (the bound a full recompute would pay);
    * `rewrittenMvFiles` = the view files the merge touched (a DV
    * each, or a rewrite over the DV position cap);
    * `mvFilesTotal` = the MV's live file count: bootstrap counts the
    * files the overwrite wrote and noop the current snapshot, both
    * after the refresh; incremental reports mergeUpsert's filesTotal,
    * the view snapshot the merge planned against, BEFORE its batch
    * files land (no second manifest parse). That is the base
    * `rewrittenMvFiles` is bounded against; the post-refresh count is
    * higher by the merge's batch files. */
  case class Refresh(srcVersion: Long, mode: String, deltaFiles: Int,
      srcFilesTotal: Int, rewrittenMvFiles: Int, mvFilesTotal: Int)

  private val Fmt = "graft.sources.GraftLogSource"

  /** Stable writer identity for the marker: one view table has one
    * maintainer. */
  private val AppId = "materialized-agg"

  private def aggOf(src: DataFrame, keyCol: String,
      sumCols: Seq[String], minMaxCols: Seq[String],
      distinctCols: Seq[String]): DataFrame =
    src.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
          minMaxCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"))) ++
          distinctCols.map(c => graft.functions.HllSketchStr
            .toColumn(col(c).cast("string")).as(s"hll_$c")): _*)

  /** Bring the view at `mvDir` up to date with the source at `srcDir`.
    * `mvBuckets` controls the bootstrap's range layout (disjoint key
    * ranges per view file — what lets the incremental merge's stat
    * targeting rewrite only the files holding touched groups).
    * `minMaxCols` adds per-group MIN/MAX — incrementally correct here
    * BECAUSE the feed is insert-only (the change feed carries adds
    * only): a min/max can tighten with every delta but never needs to
    * be re-derived from retracted rows. AVG needs no slot: it is
    * sum/n_rows, derivable at read time. `distinctCols` adds per-group
    * APPROXIMATE COUNT DISTINCT via a stored HLL sketch
    * ([[graft.functions.HllSketchStr]], zero-run hex in an ordinary
    * string column): exact distinct is the classic non-incremental
    * aggregate (it needs the full value set as state), but the sketch
    * is a 512-byte mergeable summary whose union is lossless, so the
    * view maintains `hll_<c>` at delta cost and a reader estimates
    * `ndv(c)` per group without ever rescanning the source. */
  def refresh(spark: SparkSession, srcDir: String, mvDir: String,
      keyCol: String, sumCols: Seq[String],
      mvBuckets: Int = 4, minMaxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil): Refresh = {
    val head = GraftLog.currentVersion(srcDir)
    val srcTotal = GraftLog.entriesAsOf(srcDir, Long.MaxValue).size
    val last = GraftLog.lastTxnVersion(mvDir, AppId)
    // A marker below the source's retained horizon means the change
    // feed can no longer prove completeness for the span — fall back
    // to a full re-bootstrap instead of silently missing changes.
    val horizon = GraftLog.oldestReplayableVersion(srcDir)
    // expire-history deletes the commit file AT the pivot checkpoint,
    // so the oldest replayable change span starts one past it — a
    // marker of horizon-1 would silently omit version `horizon`. A
    // span containing non-append changes (row-level rewrite, restore,
    // DV delete, overwrite) also re-bootstraps: the add feed cannot
    // express the retraction, and replaying it would re-count carried
    // rows.
    val replayable = last >= 0 &&
      (horizon <= 0L || last >= horizon) &&
      !(last < head &&
        GraftLog.spanHasNonAppendChanges(srcDir, last, head))

    if (GraftLog.storedSchema(mvDir).isEmpty || !replayable) {
      // pinned at `head`: an unpinned read would fold a concurrent
      // commit's rows into the aggregate while the marker recorded
      // only `head` — the next refresh would then re-add them
      val full = aggOf(
        spark.read.format(Fmt).option("path", srcDir)
          .option("asOfVersion", head.toString).load(),
        keyCol, sumCols, minMaxCols, distinctCols)
        .repartitionByRange(mvBuckets, col(keyCol))
      full.write.format(Fmt).option("path", mvDir)
        .mode("overwrite").save()
      GraftLog.commitTxn(mvDir, AppId, head)
      val mvFiles = GraftLog.entriesAsOf(mvDir, Long.MaxValue).size
      Refresh(head, "bootstrap", srcTotal, srcTotal, mvFiles, mvFiles)
    } else if (head <= last) {
      Refresh(last, "noop", 0, srcTotal, 0,
        GraftLog.entriesAsOf(mvDir, Long.MaxValue).size)
    } else {
      val deltaEntries = GraftLog.changedEntriesBetween(srcDir, last, head)
      lazy val mvTotal = GraftLog.entriesAsOf(mvDir, Long.MaxValue).size
      if (deltaEntries.isEmpty) {
        // versions advanced with no data change (compaction, markers)
        GraftLog.commitTxn(mvDir, AppId, head)
        return Refresh(head, "noop", 0, srcTotal, 0, mvTotal)
      }
      // The span's delta is read through the CHANGE FEED pinned at
      // `head` ((last, head] — the scan plans the span's dataChange
      // adds from the commit files themselves), NOT via pickFiles
      // over the live snapshot: a compaction inside or concurrent
      // with the span removes the span's pre-compaction files from
      // the live set, so a pickFiles read silently planned an
      // empty/partial delta while the marker still advanced — a
      // permanent undercount (reproduced: 110 of 120 rows after
      // append → compact → append → refresh).
      val delta = aggOf(
        spark.read.format(Fmt).option("path", srcDir)
          .option("changesFromVersion", last.toString)
          .option("asOfVersion", head.toString)
          .load(),
        keyCol, sumCols, minMaxCols, distinctCols).cache()
      // Combine with current view state for exactly the touched
      // groups: an IN-list of the delta's keys (driver-capped like the
      // merge's probe set) pushes into the view scan, where file
      // stats/blooms skip untouched files — the read-side twin of the
      // merge's bounded file targeting. Over the cap, the join itself still
      // bounds the OUTPUT; only the view scan widens.
      val deltaKeys = delta.select(col(keyCol)).distinct()
        .limit(GraftLog.MaxMergeProbeKeys + 1).collect().map(_.get(0))
      val curAll = spark.read.format(Fmt).option("path", mvDir).load()
      val cur =
        if (deltaKeys.length <= GraftLog.MaxMergeProbeKeys)
          curAll.filter(col(keyCol).isin(deltaKeys.toIndexedSeq: _*))
        else curAll
      val combined = delta.alias("d")
        .join(cur.alias("m"), col(s"d.$keyCol") === col(s"m.$keyCol"),
          "left")
        .select(
          (col(s"d.$keyCol").as(keyCol) +:
            (col("d.n_rows") + coalesce(col("m.n_rows"), lit(0L)))
              .as("n_rows") +:
            (sumCols.map { c =>
              // null-safe on BOTH sides: SUM ignores NULLs, so an
              // all-NULL delta must not wipe the accumulated sum, and
              // a never-non-NULL group stays NULL (never becomes 0)
              val d = col(s"d.sum_$c"); val m = col(s"m.sum_$c")
              when(d.isNull, m).when(m.isNull, d).otherwise(d + m)
                .as(s"sum_$c")
            } ++
              minMaxCols.flatMap(c => Seq(
                least(col(s"d.min_$c"),
                  coalesce(col(s"m.min_$c"), col(s"d.min_$c")))
                  .as(s"min_$c"),
                greatest(col(s"d.max_$c"),
                  coalesce(col(s"m.max_$c"), col(s"d.max_$c")))
                  .as(s"max_$c"))) ++
              // sketch slots combine like MIN/MAX — a pure register
              // fold, no retraction needed on an insert-only feed
              distinctCols.map(c => graft.functions.HllSketchStr
                .unionPair(col(s"d.hll_$c"),
                  coalesce(col(s"m.hll_$c"), lit(
                    graft.functions.HllSketchStr.emptyEncoded)))
                .as(s"hll_$c")))): _*)
      // merge returns the MV's live file count as it planned — no
      // second manifest parse
      val (rewritten, total) =
        try GraftLog.mergeUpsert(spark, mvDir, combined,
          keyCol, txn = Some(AppId -> head))
        finally delta.unpersist()
      GraftLog.compactIfFragmented(mvDir)
      Refresh(head, "incremental", deltaEntries.size, srcTotal,
        rewritten, total)
    }
  }
}
