package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.GraftLog

/** The typed change-data-feed contract (the Delta `_change_data`
  * design): tables with `graft.cdf.enabled=true` get per-row change
  * types from row-level operations — update pre/post images and
  * deletes the append-only feed could never express — published as
  * CDC sidecar files in the SAME commit as the rewrite. */
class CdfTypedSpec extends SparkSpec {
  private val Fmt = "graft.sources.GraftLogSource"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-cdf").toString

  private def mkTable(dir: String, n: Int = 100): Unit = {
    spark.range(n).selectExpr("id", "id * 10 AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.setProperties(dir, Map("graft.cdf.enabled" -> "true"))
  }

  /** DELETE the `id` range [lo, hi); `maxPositions = 0` forces the
    * copy-on-write rewrite. */
  private def deleteIds(dir: String, lo: Long, hi: Long,
      maxPositions: Int = GraftLog.MaxDvPositions): Unit =
    GraftLog.deleteWhereMoR(spark, dir, Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", lo),
      org.apache.spark.sql.sources.LessThan("id", hi)), maxPositions)

  private def feed(dir: String, from: Long = -1L): DataFrame =
    GraftLog.typedChanges(spark, dir, from)

  test("MERGE emits update pre/post images and inserts, never the " +
      "carried rows") {
    val dir = tmp(); mkTable(dir)
    val updates = spark.range(5).selectExpr(
      "CASE WHEN id < 3 THEN id ELSE id + 1000 END AS id",
      "id * 100 AS v")
    GraftLog.mergeUpsert(spark, dir, updates, "id")
    def changes(d: String) = feed(d, from = 0L)
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expected =
      (0L until 3L).map(k => ("update_preimage", k, k * 10)).toSet ++
        (0L until 3L).map(k => ("update_postimage", k, k * 100)) ++
        Seq(("insert", 1003L, 300L), ("insert", 1004L, 400L))
    assert(changes(dir) == expected,
      "the typed feed must be exactly preimages + postimages + " +
        s"inserts — got ${changes(dir)}")
    // the v0 append still reads as pure inserts
    val v0 = feed(dir).filter(col("_change_type") === "insert").count()
    assert(v0 == 100 + 2, "append rows insert; carried rows invisible")
    // the merge hid its matched rows with a DV; the copy-on-write
    // fallback over the position cap publishes the same typed rows
    assert(GraftLog.entries(dir).exists(_.action == "dv"))
    val cow = tmp(); mkTable(cow)
    GraftLog.mergeUpsert(spark, cow, updates, "id", maxPositions = 1)
    assert(GraftLog.entries(cow).exists(_.action == "remove"))
    assert(changes(cow) == expected,
      s"the rewrite fallback's typed feed differs: ${changes(cow)}")
  }

  test("copy-on-write and merge-on-read DELETE both emit typed " +
      "deletes; re-deletes never double-report") {
    val dir = tmp(); mkTable(dir)
    deleteIds(dir, 10L, 13L, maxPositions = 0)
    assert(GraftLog.entries(dir).exists(_.action == "remove"))
    val d1 = feed(dir, from = 0L)
      .filter(col("_change_type") === "delete")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(d1 == Set(10L, 11L, 12L))
    // MoR path: DV commit carries the sidecar too
    val v1 = GraftLog.currentVersion(dir)
    val (_, _, usedDv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("id", 20L)))
    assert(usedDv)
    val d2 = feed(dir, from = v1)
      .filter(col("_change_type") === "delete")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(d2 == Set(20L))
    // deleting the same row again is a no-op commit: no new deletes
    val v2 = GraftLog.currentVersion(dir)
    GraftLog.deleteWhereMoR(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("id", 20L)))
    assert(feed(dir, from = v2)
      .filter(col("_change_type") === "delete").count() == 0L)
  }

  test("a typed-feed scan reports the exact size of its entries: " +
      "CDC sidecars keep the writer's #raw stat") {
    val dir = tmp(); mkTable(dir)
    GraftLog.mergeUpsert(spark, dir, spark.range(5).selectExpr("id",
      "id * 100 AS v"), "id")
    val es = GraftLog.typedChangedEntriesBetween(dir, -1L, Long.MaxValue)
    assert(es.exists(_.action == "cdc"), "the merge must publish sidecars")
    val raw = es.map(_.stats(GraftLog.RawBytesKey)._1.toLong).sum
    val scan = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "-1")
      .option("readChangeFeed", "true").load()
    val sz = scan.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz == BigInt(raw), s"sizeInBytes $sz != sum of #raw $raw")
  }

  test("unconditional DELETE records every vanished row") {
    val dir = tmp(); mkTable(dir, n = 30)
    val v = GraftLog.currentVersion(dir)
    GraftLog.deleteWhereMoR(spark, dir, Array.empty)
    val dels = feed(dir, from = v)
      .filter(col("_change_type") === "delete").count()
    assert(dels == 30L)
    assert(spark.read.format(Fmt).option("path", dir).load()
      .count() == 0L)
  }

  test("without the table property, row-level ops emit no sidecars " +
      "and the feed keeps the append-only semantics") {
    val dir = tmp()
    spark.range(50).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val updates = spark.range(2).selectExpr("id", "id + 777 AS v")
    GraftLog.mergeUpsert(spark, dir, updates, "id")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(GraftLog.CdcPrefix)),
      "CDC is strictly opt-in")
    // without sidecars a merge version reads as its added rows: the
    // batch's 2 update rows as inserts (the append-only limit; the
    // rows its deletion vector hides do not show)
    assert(feed(dir, from = 0L)
      .filter(col("_change_type") === "insert").count() == 2L)
  }

  test("replication: the mirror follows updates AND deletes at delta " +
      "cost and stays row-identical") {
    import graft.sources.Replication
    val base = tmp()
    val src = s"$base/src"; val dst = s"$base/dst"
    mkTable(src, n = 500)
    val s0 = Replication.sync(spark, src, dst, "id")
    assert(s0.mode == "bootstrap")
    assert(Replication.identical(spark, src, dst))
    // a merge (updates+inserts), a range delete, an append
    GraftLog.mergeUpsert(spark, src, spark.range(10)
      .selectExpr("id", "id + 9999 AS v"), "id")
    deleteIds(src, 100L, 150L)
    spark.range(2000, 2100).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    val s1 = Replication.sync(spark, src, dst, "id")
    assert(s1.mode == "incremental" && s1.versionsApplied == 3)
    assert(Replication.identical(spark, src, dst),
      "mirror diverged after update+delete+append")
    assert(spark.read.format(Fmt).option("path", dst).load()
      .count() == 500 - 50 + 100)
    // re-sync is a noop; a crashed-and-retried span re-applies
    // harmlessly (idempotent ops)
    assert(Replication.sync(spark, src, dst, "id").mode == "noop")
    // a mass purge (unconditional delete) re-seeds rather than
    // shipping every key through the driver
    GraftLog.deleteWhereMoR(spark, src, Array.empty)
    val s2 = Replication.sync(spark, src, dst, "id")
    assert(s2.mode == "incremental")
    assert(spark.read.format(Fmt).option("path", dst).load()
      .count() == 0L)
    assert(Replication.identical(spark, src, dst))
  }

  test("CALL graftcat.system.sync_replica drives replication from " +
      "plain SQL") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft-repl-cat").toString
    spark.conf.set("spark.sql.catalog.replcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.replcat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS replcat.ns")
      spark.sql("CREATE TABLE replcat.ns.src (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO replcat.ns.src
        SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 200)""")
      GraftLog.setProperties(s"$wh/ns/src",
        Map("graft.cdf.enabled" -> "true"))
      val r0 = spark.sql("""CALL replcat.system.sync_replica(
        source => 'ns.src', mirror => 'ns.dst', key_col => 'id')""")
        .head
      assert(r0.getString(0) == "bootstrap")
      spark.sql("DELETE FROM replcat.ns.src WHERE id < 50")
      val r1 = spark.sql("""CALL replcat.system.sync_replica(
        source => 'ns.src', mirror => 'ns.dst', key_col => 'id')""")
        .head
      assert(r1.getString(0) == "incremental")
      assert(spark.sql("SELECT COUNT(*) FROM replcat.ns.dst")
        .head.getLong(0) == 150L)
    } finally {
      spark.conf.unset("spark.sql.catalog.replcat")
      spark.conf.unset("spark.sql.catalog.replcat.warehouse")
    }
  }

  test("snapshot-diff changelog recovers typed changes for writers " +
      "that emit no sidecars (SQL UPDATE path)") {
    import graft.sources.Replication
    val wh = java.nio.file.Files
      .createTempDirectory("graft-diff-cat").toString
    spark.conf.set("spark.sql.catalog.diffcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.diffcat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS diffcat.ns")
      spark.sql("CREATE TABLE diffcat.ns.t (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO diffcat.ns.t
        SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 100)""")
      val dir = s"$wh/ns/t"
      val v0 = GraftLog.currentVersion(dir)
      // the row-level-operation path: NO sidecars, yet the diff
      // recovers the update as a pre/post pair
      spark.sql("UPDATE diffcat.ns.t SET v = v + 1000 WHERE id < 3")
      spark.sql("""INSERT INTO diffcat.ns.t
        SELECT /*+ REPARTITION(1) */ id, id FROM range(500, 510)""")
      spark.sql("DELETE FROM diffcat.ns.t WHERE id IN (50, 51)")
      val v1 = GraftLog.currentVersion(dir)
      val ch = Replication.changesByDiff(spark, dir, "id", v0, v1)
        .collect()
        .map(r => (r.getString(2), r.getLong(0), r.getLong(1))).toSet
      val expected =
        (0L until 3L).map(k => ("update_preimage", k, k)).toSet ++
          (0L until 3L).map(k => ("update_postimage", k, k + 1000)) ++
          (500L until 510L).map(k => ("insert", k, k)) ++
          Seq(("delete", 50L, 50L), ("delete", 51L, 51L))
      assert(ch == expected, s"diff changelog wrong: $ch")
    } finally {
      spark.conf.unset("spark.sql.catalog.diffcat")
      spark.conf.unset("spark.sql.catalog.diffcat.warehouse")
    }
  }

  test("replication without source CDC rejects loudly") {
    import graft.sources.Replication
    val base = tmp()
    val src = s"$base/src"
    spark.range(10).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    assertThrows[IllegalArgumentException](
      Replication.sync(spark, src, s"$base/dst", "id"))
  }

  test("streaming typed feed == batch typed feed, and a checkpoint " +
      "restart resumes past consumed versions exactly once") {
    val dir = tmp(); mkTable(dir)
    GraftLog.mergeUpsert(spark, dir, spark.range(3)
      .selectExpr("id", "id * 100 AS v"), "id")
    deleteIds(dir, 50L, 55L)
    val ckpt = tmp(); val sink = tmp()
    def drain(): Unit = {
      val q = GraftLog.typedChangesStream(spark, dir)
        .writeStream.format(Fmt).option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    drain()
    def rows(df: DataFrame): Set[(String, Long, Long)] = df
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val streamed1 = rows(spark.read.format(Fmt)
      .option("path", sink).load())
    assert(streamed1 == rows(feed(dir)),
      "the drained stream must equal the batch typed feed exactly")
    // new commits after the checkpoint: a restart ships ONLY those
    deleteIds(dir, 60L, 62L)
    drain()
    val streamed2 = rows(spark.read.format(Fmt)
      .option("path", sink).load())
    assert(streamed2 == rows(feed(dir)),
      "restart must append exactly the new span — no replays, no gaps")
    assert((streamed2 -- streamed1) ==
      Set(("delete", 60L, 600L), ("delete", 61L, 610L)),
      "the second drain carries exactly the post-checkpoint deletes")
  }

  test("COUNT on the typed feed answers from the sidecar rows, never " +
      "the add listing (metadata pushdown stands down)") {
    val dir = tmp(); mkTable(dir)
    deleteIds(dir, 0L, 10L, maxPositions = 0)
    // typed feed over the delete version: 10 delete rows — a pushed
    // manifest COUNT would instead fold the rewrite's 90-row add
    assert(feed(dir, from = 0L).count() == 10L)
    val plan = GraftLog.typedChanges(spark, dir, 0L)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.contains("metaCount="),
      s"typed feed must not take the manifest-count path:\n$plan")
  }

  test("t$cdc maps which versions carry typed coverage") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft-cdc-meta").toString
    spark.conf.set("spark.sql.catalog.cdcmcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cdcmcat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcmcat.ns")
      spark.sql("CREATE TABLE cdcmcat.ns.m (id BIGINT, v BIGINT)")
      spark.sql("""INSERT INTO cdcmcat.ns.m
        SELECT /*+ REPARTITION(1) */ id, id FROM range(0, 100)""")
      GraftLog.setProperties(s"$wh/ns/m",
        Map("graft.cdf.enabled" -> "true"))
      spark.sql("DELETE FROM cdcmcat.ns.m WHERE id < 10")
      val rows = spark.sql("""SELECT version, has_cdc, n_cdc_rows,
          n_add_rows FROM cdcmcat.ns.`m$cdc` ORDER BY version""")
        .collect()
      assert(rows.length == 2)
      assert(!rows(0).getBoolean(1) && rows(0).getLong(3) == 100L,
        "the append version has adds, no sidecars")
      assert(rows(1).getBoolean(1) && rows(1).getLong(2) == 10L,
        "the delete version carries 10 typed delete rows")
    } finally {
      spark.conf.unset("spark.sql.catalog.cdcmcat")
      spark.conf.unset("spark.sql.catalog.cdcmcat.warehouse")
    }
  }

  test("snapshot reads never see CDC rows; vacuum keeps every sidecar " +
      "a retained commit names, under BOTH modes") {
    val dir = tmp(); mkTable(dir)
    deleteIds(dir, 0L, 5L)
    assert(spark.read.format(Fmt).option("path", dir).load()
      .count() == 95L, "sidecar rows must not leak into snapshots")
    val cdcFiles = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith(GraftLog.CdcPrefix)).map(_.getName)
    assert(cdcFiles.nonEmpty)
    GraftLog.vacuum(dir, minAgeMs = 0L)
    assert(cdcFiles.forall(f => new java.io.File(dir, f).exists()),
      "a referenced sidecar must survive an ordinary vacuum")
    // expire-history vacuum must ALSO keep it: the commit files stay,
    // so requireSpanReplayable still admits a typed-feed span that
    // opens the sidecar — reclaiming it would turn an admitted read
    // into a missing-file crash (ADVICE r9). The typed feed over the
    // full span stays serveable after the aggressive vacuum.
    GraftLog.vacuum(dir, minAgeMs = 0L, expireHistory = true)
    assert(cdcFiles.forall(f => new java.io.File(dir, f).exists()),
      "a sidecar named by a retained commit survives expire-history")
    val deletes = GraftLog.typedChanges(spark, dir, 0L)
      .filter(col("_change_type") === "delete").count()
    assert(deletes == 5L,
      "the typed feed must still serve the span the horizon admits")
    // once expireLog retires the commit files themselves, the next
    // vacuum reclaims the now-unreferenced sidecars with them
    GraftLog.writeCheckpoint(dir, GraftLog.currentVersion(dir))
    GraftLog.expireLog(dir, GraftLog.currentVersion(dir) + 1)
    GraftLog.vacuum(dir, minAgeMs = 0L, expireHistory = true)
    assert(cdcFiles.forall(f => !new java.io.File(dir, f).exists()),
      "sidecars of expired commits are reclaimed with their history")
  }
}
