package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Downstream table replication over the typed change feed [EXT] —
  * the Delta "CDF downstream sync" pattern: a mirror table follows a
  * source INCLUDING updates and deletes, at delta cost, never
  * rescanning the source.
  *
  * The applier walks the source's committed versions past its
  * applied-through marker and replays each version's typed changes:
  * inserts/update-postimages upsert by key, deletes remove by key,
  * preimages are audit-only and skipped. Per-version application
  * needs no per-row version column because one commit holds at most
  * one row-level operation per key (MERGE rejects duplicate-key
  * batches; deletes commit separately), so within a version the
  * change set is a function, not a sequence.
  *
  * Exactly-once EFFECT across crashes: the upsert path commits its
  * [[LogEntry.txn]] marker atomically with the merged rows; the
  * delete path applies then marks, leaving an at-least-once window
  * whose replay is harmless because both operations are idempotent
  * (same post rows, same absent keys). A marker below the source's
  * retained horizon re-bootstraps loudly instead of missing changes.
  *
  * At 100 TB: per-sync work is O(changed rows since last sync) on the
  * source side and O(touched mirror files) on the destination side
  * (the merge/delete stats+bloom bounding) — the mirror is a replica
  * maintained at the source's write rate, not its size. The merges'
  * batch files and deletion vectors are folded away by a compaction
  * once they pile up ([[GraftLog.compactIfFragmented]]), amortized
  * over many syncs.
  *
  * Assumes `keyCol` is unique in the source (the same contract
  * [[GraftLog.mergeUpsert]] enforces on its batches): a source append
  * carrying a duplicate key fails the apply loudly rather than
  * silently collapsing rows in the mirror. */
object Replication {

  /** What a sync did: mode ∈ bootstrap | incremental | noop. */
  case class Sync(srcHead: Long, mode: String, versionsApplied: Int)

  private val Fmt = "graft.sources.GraftLogSource"
  private val AppId = "graft-replication"

  def sync(spark: SparkSession, srcDir: String, dstDir: String,
      keyCol: String): Sync = {
    // without sidecars, source deletes are invisible to the feed and
    // the mirror would silently diverge — loud, not wrong
    require(GraftLog.cdfEnabled(srcDir),
      s"replication needs graft.cdf.enabled=true on $srcDir — " +
        "without typed CDC, deletes cannot propagate")
    val head = GraftLog.currentVersion(srcDir)
    val last = GraftLog.lastTxnVersion(dstDir, AppId)
    val horizon = GraftLog.oldestReplayableVersion(srcDir)
    // expire-history deletes the commit file AT the pivot checkpoint
    // (its changes survive only folded into the snapshot), so the
    // oldest replayable CHANGE SPAN starts one past the horizon: a
    // marker of horizon-1 would silently skip version `horizon`
    val replayable = last >= 0 &&
      (horizon <= 0L || last >= horizon)
    if (GraftLog.storedSchema(dstDir).isEmpty || !replayable) {
      spark.read.format(Fmt).option("path", srcDir).load()
        .write.format(Fmt).option("path", dstDir)
        .mode("overwrite").save()
      GraftLog.commitTxn(dstDir, AppId, head)
      return Sync(head, "bootstrap", 0)
    }
    if (head <= last) return Sync(last, "noop", 0)
    val versions = GraftLog.versionsBetween(srcDir, last, head)
    versions.foreach { v =>
      // a version that changed rows WITHOUT sidecars (an overwrite;
      // Spark's SQL UPDATE/MERGE replace-data plan) would replay
      // its carried rewrite rows as inserts — re-seed from the
      // snapshot at v instead of applying a wrong change set
      if (GraftLog.versionLacksCdcCoverage(srcDir, v)) {
        spark.read.format(Fmt).option("path", srcDir)
          .option("asOfVersion", v.toString).load()
          .write.format(Fmt).option("path", dstDir)
          .mode("overwrite").save()
        GraftLog.commitTxn(dstDir, AppId, v)
      } else {
      val ch = GraftLog.typedChanges(spark, srcDir, v - 1, v).cache()
      try {
        // a NULL-keyed change can never key a merge or a delete —
        // applying it would silently diverge; the source contract
        // (unique, non-null keys) is enforced loudly here
        require(ch.filter(col(keyCol).isNull).limit(1).collect()
            .isEmpty,
          s"version $v carries a NULL-keyed change — key-based " +
            s"replication needs non-null '$keyCol' values")
        val upserts = ch.filter(col(GraftLog.ChangeTypeCol)
            .isin("insert", "update_postimage"))
          .drop(GraftLog.ChangeTypeCol)
        // delete keys route through the same driver-capped IN-list the
        // merge probe uses; a version deleting more than the cap (an
        // unconditional DELETE, a mass purge) re-seeds the mirror from
        // the source snapshot AT v instead — O(source), but so was
        // the delete, and the IN-list path stays bounded
        val delKeys = ch.filter(
            col(GraftLog.ChangeTypeCol) === "delete")
          .select(col(keyCol)).distinct()
          .limit(GraftLog.MaxMergeProbeKeys + 1).collect()
          .map(_.get(0))
        if (delKeys.length > GraftLog.MaxMergeProbeKeys) {
          spark.read.format(Fmt).option("path", srcDir)
            .option("asOfVersion", v.toString).load()
            .write.format(Fmt).option("path", dstDir)
            .mode("overwrite").save()
          GraftLog.commitTxn(dstDir, AppId, v)
        } else {
          if (delKeys.nonEmpty)
            GraftLog.deleteWhereMoR(spark, dstDir,
              Array(org.apache.spark.sql.sources.In(keyCol, delKeys)))
          if (!upserts.isEmpty)
            GraftLog.mergeUpsert(spark, dstDir, upserts, keyCol,
              txn = Some(AppId -> v))
          else GraftLog.commitTxn(dstDir, AppId, v)
        }
      } finally ch.unpersist()
      }
    }
    GraftLog.compactIfFragmented(dstDir)
    Sync(head, "incremental", versions.size)
  }

  /** Row-identity check scaffolding (test-scale): TRUE iff mirror and
    * source hold exactly the same rows. */
  def identical(spark: SparkSession, srcDir: String,
      dstDir: String): Boolean = {
    val a = spark.read.format(Fmt).option("path", srcDir).load()
    val b = spark.read.format(Fmt).option("path", dstDir).load()
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  }

  /** Snapshot-DIFF changelog (Iceberg's `create_changelog_view` with
    * `compute_updates`): typed changes between two versions computed
    * by a key-based diff of the snapshots themselves — no sidecars
    * needed, so it covers EVERY writer, including the SQL
    * UPDATE/MERGE row-level-operation path that cannot emit CDC.
    * The complement of the sidecar feed, with the complementary cost
    * model: [[GraftLog.typedChanges]] is O(changed rows) but needs
    * the table opted in BEFORE the change; this is O(both snapshots)
    * — one full-outer join on the key, stats-pruned like any scan —
    * but works retroactively on plain history.
    *
    * Output schema: the table schema + `_change_type` ∈ insert |
    * update_preimage | update_postimage | delete. Key-based, so it
    * reports NET changes per key between the two versions (a row
    * updated twice shows one pre/post pair; insert-then-delete shows
    * nothing) — the documented difference from the sidecar feed's
    * per-version exactness. */
  def changesByDiff(spark: SparkSession, dir: String, keyCol: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val before = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", fromVersion.toString).load()
    val after = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", toVersion.toString).load()
    val cols = before.columns.toSeq
    // the key must be unique per snapshot (at most one NULL-keyed
    // row): duplicate keys would cross-pair through the join and emit
    // pre/post images for changes that never happened — loud, not
    // wrong
    Seq(("fromVersion", before), ("toVersion", after)).foreach {
      case (label, df) =>
        val dup = df.groupBy(col(keyCol))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"changesByDiff needs '$keyCol' unique per snapshot — " +
            s"$label has ${dup.head.get(0)} ${dup.head.getLong(1)} times")
    }
    // null-safe join + presence markers: a single NULL-keyed row
    // pairs with itself instead of surfacing as a spurious
    // delete+insert on every diff, and side presence is read from the
    // markers (the key itself cannot discriminate sides when NULL)
    val joined = before.withColumn("__p_b", lit(true)).alias("b")
      .join(after.withColumn("__p_a", lit(true)).alias("a"),
        col(s"b.$keyCol") <=> col(s"a.$keyCol"), "full_outer")
    val bP = col("b.__p_b").isNotNull; val aP = col("a.__p_a").isNotNull
    val changed = cols.map(c =>
      !(col(s"b.$c") <=> col(s"a.$c"))).reduce(_ || _)
    def side(p: String) = cols.map(c => col(s"$p.$c").as(c))
    val deletes = joined.filter(bP && !aP)
      .select(side("b"): _*)
      .withColumn(GraftLog.ChangeTypeCol, lit("delete"))
    val inserts = joined.filter(aP && !bP)
      .select(side("a"): _*)
      .withColumn(GraftLog.ChangeTypeCol, lit("insert"))
    val updatedPairs = joined.filter(bP && aP && changed)
    val pre = updatedPairs.select(side("b"): _*)
      .withColumn(GraftLog.ChangeTypeCol, lit("update_preimage"))
    val post = updatedPairs.select(side("a"): _*)
      .withColumn(GraftLog.ChangeTypeCol, lit("update_postimage"))
    deletes.unionByName(inserts).unionByName(pre).unionByName(post)
  }
}
