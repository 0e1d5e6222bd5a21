package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftLog, MaterializedAgg, Replication}

/** Hardening contracts for the incremental consumers (materialized
  * view, replication, snapshot-diff changelog) surfaced by review:
  * the expired-horizon boundary, non-append spans, null-safe sum
  * combine, NULL-key handling, and uncovered rewrites. */
class IvmHardeningSpec extends SparkSpec {
  private val Fmt = "graft.sources.GraftLogSource"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ivm").toString

  test("a marker ONE BELOW the expire pivot is not replayable: the " +
      "view re-bootstraps instead of silently skipping the pivot") {
    val src = tmp(); val mv = tmp()
    // version 0 seed, refresh → marker at 0
    spark.range(0, 100).selectExpr("id", "id % 5 AS k", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    val r0 = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r0.mode == "bootstrap")
    // 12 more commits so a checkpoint lands past the marker, then
    // expire history behind it — the marker span (0, head] now
    // crosses versions whose commit files are gone
    (1 to 12).foreach(i =>
      spark.range(i * 1000, i * 1000 + 10)
        .selectExpr("id", "id % 5 AS k", "id AS v").coalesce(1)
        .write.format(Fmt).option("path", src).mode("append").save())
    assert(GraftLog.expireLog(src, 12) > 0)
    val horizon = GraftLog.oldestReplayableVersion(src)
    assert(horizon > 0, s"expire must raise the horizon, got $horizon")
    // the span ending AT the horizon is unreconstructable (its commit
    // file is folded into the checkpoint)
    assert(GraftLog.changedEntriesBetween(src, horizon - 1, horizon)
      .isEmpty)
    val r1 = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r1.mode == "bootstrap",
      s"marker below the horizon must re-bootstrap, got ${r1.mode}")
    // and the rebuilt view is exactly the full recompute
    val got = spark.read.format(Fmt).option("path", mv).load()
      .select(col("k"), col("n_rows"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = spark.read.format(Fmt).option("path", src).load()
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
  }

  test("a source OVERWRITE (lineage reset) forces re-bootstrap even " +
      "after the new lineage's head passes the old marker") {
    val src = tmp(); val mv = tmp()
    def seed(lo: Long, n: Long): Unit =
      spark.range(lo, lo + n).selectExpr("id", "id % 5 AS k", "id AS v")
        .coalesce(1).write.format(Fmt).option("path", src)
        .mode("append").save()
    seed(0, 100); seed(100, 100); seed(200, 100) // head = 2
    val r0 = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r0.mode == "bootstrap" && r0.srcVersion == 2L)
    // OVERWRITE: version 3 removes every row and adds new ones
    spark.range(5000, 5400).selectExpr("id", "id % 5 AS k", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("overwrite").save()
    // appends after it: the span (2, head] holds the overwrite, a
    // non-append version the add feed cannot replay
    seed(5400, 50); seed(5450, 50); seed(5500, 50) // head = 6
    assert(GraftLog.currentVersion(src) == 6L)
    val r1 = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r1.mode == "bootstrap",
      s"a span holding an overwrite must re-bootstrap, got " +
        s"${r1.mode}")
    val got = spark.read.format(Fmt).option("path", mv).load()
      .select(col("k"), col("n_rows"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = spark.read.format(Fmt).option("path", src).load()
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want,
      "the rebuilt view must reflect ONLY the post-overwrite rows")
    // and once re-bootstrapped, the view refreshes incrementally
    // again
    seed(6000, 50)
    val r2 = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r2.mode == "incremental", s"got ${r2.mode}")
  }

  test("replication re-seeds on a source lineage reset instead of " +
      "replaying new-lineage deltas into pre-overwrite rows") {
    val src = tmp(); val dst = tmp()
    def seed(lo: Long): Unit =
      spark.range(lo, lo + 100).selectExpr("id", "id AS v")
        .coalesce(1).write.format(Fmt).option("path", src)
        .mode("append").save()
    seed(0); seed(100); seed(200)
    GraftLog.setProperties(src, Map("graft.cdf.enabled" -> "true"))
    assert(Replication.sync(spark, src, dst, "id").mode == "bootstrap")
    // the overwrite (version 3) publishes no CDC sidecars, so the
    // incremental sync re-seeds the mirror from the snapshot at 3 and
    // applies the appends after it as ordinary typed changes
    spark.range(9000, 9100).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("overwrite").save()
    seed(9100); seed(9200); seed(9300)
    assert(GraftLog.versionLacksCdcCoverage(src, 3L))
    val s1 = Replication.sync(spark, src, dst, "id")
    assert(s1.mode == "incremental" && s1.versionsApplied == 4,
      s"the overwrite must re-seed inside the sync, got $s1")
    val a = spark.read.format(Fmt).option("path", dst).load()
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val b = spark.read.format(Fmt).option("path", src).load()
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(a == b, "mirror must equal the post-overwrite source exactly")
  }

  test("a streaming checkpoint from a retired lineage fails loudly " +
      "on resume instead of draining a new-lineage fragment") {
    val src = tmp(); val sink = tmp(); val ckpt = tmp()
    spark.range(0, 100).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .writeStream.format(Fmt).option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    drain() // offset committed at version 0
    // an overwrite (version 1), then appends after it
    spark.range(900, 950).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("overwrite").save()
    spark.range(950, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    spark.range(1000, 1050).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m =>
      m != null && m.contains("cannot replay version 1")),
      s"resume must fail on the overwrite: ${chain(err)}")
  }

  test("a checkpoint-restored UNCOMMITTED batch fails loudly after a " +
      "source overwrite — stale start AND end offsets agreeing with " +
      "each other is not enough") {
    // The WAL-replay shape: Spark re-plans the last uncommitted batch
    // with BOTH offsets deserialized from the checkpoint. Their span
    // holds the overwrite, so planning it must fail on the log itself,
    // whatever the offsets say.
    val src = tmp()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    spark.range(0, 100).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    spark.range(100, 200).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    // overwrite (version 2), then an append (version 3)
    spark.range(900, 950).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("overwrite").save()
    spark.range(950, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    val stream = new graft.sources.GraftLogMicroBatchStream(
      src, schema, schema, startVersion = -1L)
    val err = intercept[IllegalStateException](
      stream.planInputPartitions(
        graft.sources.GraftLogOffset(1L),
        graft.sources.GraftLogOffset(3L)))
    assert(err.getMessage.contains("cannot replay version 2"),
      s"stale-WAL replay must fail loudly: ${err.getMessage}")
    // the spans on either side of the overwrite still plan
    assert(stream.planInputPartitions(graft.sources.GraftLogOffset(0L),
      graft.sources.GraftLogOffset(1L)).length == 1)
    assert(stream.planInputPartitions(graft.sources.GraftLogOffset(2L),
      graft.sources.GraftLogOffset(3L)).length == 1)
    // an offset of the older `<version>@<uuid>` form fails loudly and
    // names itself
    val old = "1@5a1f0c8e-77d4-4c1e-9c53-0d3f7b1e2a90"
    val errOld = intercept[IllegalArgumentException](
      stream.deserializeOffset(old))
    assert(errOld.getMessage.contains(s"'$old'"), errOld.getMessage)
  }

  test("a span with a source DELETE re-bootstraps the view — the add " +
      "feed cannot retract") {
    val src = tmp(); val mv = tmp()
    spark.range(0, 1000).selectExpr("id", "id % 4 AS k", "id AS v")
      .coalesce(2).write.format(Fmt).option("path", src)
      .mode("append").save()
    assert(MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
      .mode == "bootstrap")
    GraftLog.deleteWhereMoR(spark, src, Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100L),
      org.apache.spark.sql.sources.LessThan("id", 200L)))
    val r = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r.mode == "bootstrap",
      s"a non-append span must re-bootstrap, got ${r.mode}")
    val n = spark.read.format(Fmt).option("path", mv).load()
      .agg(sum(col("n_rows"))).head.getLong(0)
    assert(n == 900L, s"the rebuilt view must see the delete, got $n")
    // pure compaction stays incremental-friendly (no false positives)
    // — and the delta spanning the compaction must LOSE NOTHING: the
    // pre-compaction append's file is no longer in the live snapshot,
    // so a delta read planned against live files (the old pickFiles
    // form) silently dropped its rows while the marker advanced — a
    // permanent undercount. The change-feed read plans the span's
    // adds from the commit files themselves.
    spark.range(2000, 2010).selectExpr("id", "id % 4 AS k", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    GraftLog.compact(src)
    spark.range(3000, 3010).selectExpr("id", "id % 4 AS k", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    val r2 = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r2.mode == "incremental",
      s"compaction must not force a re-bootstrap, got ${r2.mode}")
    val n2 = spark.read.format(Fmt).option("path", mv).load()
      .agg(sum(col("n_rows")), sum(col("sum_v"))).head
    val want2 = spark.read.format(Fmt).option("path", src).load()
      .agg(count(lit(1)), sum(col("v"))).head
    assert(n2.getLong(0) == want2.getLong(0) &&
      n2.getLong(1) == want2.getLong(1),
      s"the compaction-spanning delta lost rows: view $n2 vs src $want2")
  }

  test("sum combine is null-safe on both sides") {
    val src = tmp(); val mv = tmp()
    // group 0 accumulates real values; group 1 only NULLs ever
    spark.range(0, 10)
      .selectExpr("id", "CAST(id % 2 AS BIGINT) AS k",
        "CASE WHEN id % 2 = 0 THEN id ELSE NULL END AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    // the delta batch carries ONLY NULL v for both groups
    spark.range(100, 104)
      .selectExpr("id", "CAST(id % 2 AS BIGINT) AS k",
        "CAST(NULL AS BIGINT) AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    val r = MaterializedAgg.refresh(spark, src, mv, "k", Seq("v"))
    assert(r.mode == "incremental")
    val rows = spark.read.format(Fmt).option("path", mv).load()
      .select(col("k"), col("n_rows"), col("sum_v")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(rows(0L) == (7L, Some(0L + 2 + 4 + 6 + 8)),
      s"an all-NULL delta must not wipe the sum, got ${rows(0L)}")
    assert(rows(1L) == (7L, None),
      s"a never-non-NULL group stays NULL, got ${rows(1L)}")
  }

  test("replication re-seeds on an uncovered rewrite and rejects " +
      "NULL-keyed changes loudly") {
    val src = tmp(); val dst = tmp()
    spark.range(0, 500).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    GraftLog.setProperties(src, Map("graft.cdf.enabled" -> "true"))
    Replication.sync(spark, src, dst, "id")
    // an uncovered rewrite: replaceFiles (the SQL UPDATE commit
    // shape) changes rows with NO sidecars even though CDF is on
    val base = GraftLog.currentVersion(src)
    val live = GraftLog.entriesAsOf(src, base)
    val rewritten = spark.read.format(Fmt).option("path", src).load()
      .withColumn("v", when(col("id") < 10, -col("id"))
        .otherwise(col("v")))
    val scratch = tmp()
    rewritten.coalesce(1).write.format(Fmt).option("path", scratch)
      .mode("overwrite").save()
    val fresh = GraftLog.entriesAsOf(scratch, Long.MaxValue)
    fresh.foreach(e => java.nio.file.Files.move(
      java.nio.file.Paths.get(scratch, e.file),
      java.nio.file.Paths.get(src, e.file)))
    GraftLog.replaceFiles(src, live.map(_.file),
      fresh.map(e => graft.sources.GraftLogCommit(e.file, e.rows,
        e.stats, e.cols)),
      GraftLog.storedSchema(src).get, base)
    val s1 = Replication.sync(spark, src, dst, "id")
    assert(s1.mode == "incremental")
    assert(Replication.identical(spark, src, dst),
      "an uncovered rewrite must re-seed the mirror, not replay " +
        "carried rows as inserts")
    // NULL-keyed change: loud
    val src2 = tmp(); val dst2 = tmp()
    spark.range(0, 10).selectExpr(
        "CASE WHEN id = 5 THEN NULL ELSE id END AS id", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src2)
      .mode("append").save()
    GraftLog.setProperties(src2, Map("graft.cdf.enabled" -> "true"))
    Replication.sync(spark, src2, dst2, "id")
    spark.range(20, 22).selectExpr(
        "CAST(NULL AS BIGINT) AS id", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src2)
      .mode("append").save()
    val e = intercept[Exception](
      Replication.sync(spark, src2, dst2, "id"))
    assert(e.getMessage != null && e.getMessage.contains("NULL-keyed"))
  }

  test("changesByDiff: a single unchanged NULL-keyed row is silent; " +
      "duplicate keys reject loudly") {
    val dir = tmp()
    spark.range(0, 20).selectExpr(
        "CASE WHEN id = 7 THEN NULL ELSE id END AS id", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val v0 = GraftLog.currentVersion(dir)
    GraftLog.mergeUpsert(spark, dir,
      spark.range(0, 3).selectExpr("id", "id + 1000 AS v"), "id")
    val ch = Replication.changesByDiff(spark, dir, "id", v0,
      GraftLog.currentVersion(dir))
    // exactly the 3 updated keys (pre+post); the NULL-keyed row is
    // unchanged and must NOT surface as a delete+insert pair
    assert(ch.filter(col("id").isNull).count() == 0L,
      "an unchanged NULL-keyed row must not appear in the diff")
    assert(ch.count() == 6L)
    // duplicate keys cross-pair through the join — loud, not wrong
    val dup = tmp()
    spark.range(0, 4).selectExpr("CAST(id % 2 AS BIGINT) AS id",
        "id AS v")
      .coalesce(1).write.format(Fmt).option("path", dup)
      .mode("append").save()
    val e = intercept[Exception](
      Replication.changesByDiff(spark, dup, "id", 0L, 0L).collect())
    assert(e.getMessage != null && e.getMessage.contains("unique"))
  }
}
