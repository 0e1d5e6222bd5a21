package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The custom transactional sink's contract: manifest-gated visibility
  * (round trip, append accumulation, overwrite truncation) and — the
  * point of the commit protocol — a failed job leaves the table
  * bit-for-bit unchanged, its orphan part files invisible. */
class GraftLogSpec extends SparkSpec {
  private val Fmt = "graft.sources.GraftLogSource"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-log").toString
  private def series(n: Int): DataFrame =
    spark.range(n).selectExpr("id",
      "CAST(id % 97 AS INT) AS bucket",
      "CAST(id AS DOUBLE) / 2 AS value",
      "concat('t', id % 7) AS tag")
  private def readBack(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()
  /** DELETE the `id` range [lo, hi); `maxPositions = 0` forces the
    * copy-on-write rewrite. Returns (filesTouched, filesTotal). */
  private def deleteIds(dir: String, lo: Long, hi: Long,
      maxPositions: Int = graft.sources.GraftLog.MaxDvPositions)
      : (Int, Int) = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val (t, n, _) = graft.sources.GraftLog.deleteWhereMoR(spark, dir,
      Array(GreaterThanOrEqual("id", lo), LessThan("id", hi)),
      maxPositions)
    (t, n)
  }
  private def dvFiles(dir: String): Int =
    graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
      .count(e => graft.sources.GraftLog.dvOf(e).isDefined)

  test("append round trip preserves every row and type") {
    val dir = tmp()
    val df = series(1000)
    df.write.format(Fmt).option("path", dir).mode("append").save()
    val back = readBack(dir)
    assert(back.schema == df.schema)
    assert(back.count() == 1000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  /** Drive an append into the armed crash window
    * (LogSource.crashWindow) on a sacrificial thread, then interrupt it
    * there — the deterministic in-process twin of
    * tools.CrashPublisher's real `destroyForcibly()`: the commit dies
    * at exactly the chosen point in the protocol and leaves the same
    * on-disk torn state. */
  private def dieInWindow(dir: String, phase: String,
      write: => Unit): Unit = {
    val t = new Thread(() => {
      try write catch { case _: Throwable => () }
    })
    System.setProperty("graft.log.crashWindow", phase)
    try {
      t.start()
      val marker = new java.io.File(dir, s"_crash_window_$phase")
      val deadline = System.currentTimeMillis() + 60000
      while (!marker.isFile && t.isAlive &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(marker.isFile, s"writer never reached the $phase window")
      t.interrupt()
      t.join(60000)
      assert(!t.isAlive, "interrupted writer must terminate")
    } finally System.clearProperty("graft.log.crashWindow")
  }

  private def tmpOrphans(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.contains(".tmp."))

  test("kill window BEFORE the hard-link CAS: readers stay on the old " +
      "version (parts + tmp invisible) and the next append self-heals") {
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    dieInWindow(dir, "preLink",
      series(50).write.format(Fmt).option("path", dir).mode("append").save())
    // torn state: the dead writer's tmp commit (and part files) exist,
    // but no version was claimed — readers see exactly the 200 acked rows
    assert(tmpOrphans(dir) >= 1, "expected the dead writer's tmp orphan")
    assert(graft.sources.GraftLog.currentVersion(dir) == 1L,
      "no version may be claimed by a pre-link death")
    assert(readBack(dir).count() == 200)
    // self-heal: the next writer claims the version the dead one never
    // linked, and the table stays consistent
    series(25).write.format(Fmt).option("path", dir).mode("append").save()
    assert(graft.sources.GraftLog.currentVersion(dir) == 2L)
    assert(readBack(dir).count() == 225)
  }

  test("kill window AFTER the hard-link CAS: the commit is fully " +
      "visible (atomic link of a complete tmp), orphan tmp and skipped " +
      "checkpoint are cosmetic, and the next append self-heals") {
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    dieInWindow(dir, "postLink",
      series(60).write.format(Fmt).option("path", dir).mode("append").save())
    // the link happened before the death: version claimed, rows visible
    assert(graft.sources.GraftLog.currentVersion(dir) == 1L,
      "a post-link death has already committed its version")
    assert(readBack(dir).count() == 160)
    assert(tmpOrphans(dir) >= 1, "the tmp delete was skipped by the death")
    series(40).write.format(Fmt).option("path", dir).mode("append").save()
    assert(graft.sources.GraftLog.currentVersion(dir) == 2L)
    assert(readBack(dir).count() == 200)
  }

  test("kill windows on the BRANCH append tail: a pre-link death " +
      "leaves the branch head unmoved, a post-link death has already " +
      "published; both self-heal") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.createBranch(dir, "dev")
    spark.conf.set(GraftLog.BranchConf, "dev")
    try {
      series(150).filter(col("id") >= 100).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
      assert(readBack(dir).count() == 150) // fork 100 + branch 50
      dieInWindow(dir, "preLink",
        series(200).filter(col("id") >= 150).coalesce(1)
          .write.format(Fmt).option("path", dir).mode("append").save())
      assert(readBack(dir).count() == 150,
        "a pre-link branch death must not move the branch head")
      dieInWindow(dir, "postLink",
        series(200).filter(col("id") >= 150).coalesce(1)
          .write.format(Fmt).option("path", dir).mode("append").save())
      assert(readBack(dir).count() == 200,
        "a post-link branch death has already committed its batch")
      assert(tmpOrphans(dir) >= 1)
      // self-heal: the next branch append lands on the next version
      series(230).filter(col("id") >= 200).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
      assert(readBack(dir).count() == 230)
    } finally spark.conf.unset(GraftLog.BranchConf)
    // main never saw any of it
    assert(readBack(dir).count() == 100)
  }

  test("kill window inside OVERWRITE: a death before the link leaves " +
      "the old rows readable and the retry completes") {
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 200)
    // the overwrite is one ordinary commit: a death before its link
    // claims no version, so readers stay on the old snapshot
    dieInWindow(dir, "preLink",
      series(30).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("overwrite").save())
    assert(readBack(dir).count() == 200,
      "a pre-link death must leave the old rows readable")
    assert(graft.sources.GraftLog.currentVersion(dir) == 1L,
      "no version may be claimed by a pre-link death")
    // self-heal: retrying the overwrite claims the next version
    series(30).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    assert(graft.sources.GraftLog.currentVersion(dir) == 2L)
    assert(readBack(dir).count() == 30)
    // and ordinary appends continue after it
    series(45).filter(col("id") >= 30).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 45)
  }

  test("second append accumulates; overwrite truncates") {
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 200)
    series(30).write.format(Fmt).option("path", dir)
      .mode("overwrite").save()
    assert(readBack(dir).count() == 30)
  }

  test("time travel: asOfVersion reads a historical snapshot") {
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    series(250).write.format(Fmt).option("path", dir).mode("append").save()
    assert(graft.sources.GraftLog.currentVersion(dir) == 1L)
    assert(readBack(dir).count() == 350)
    val v0 = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load()
    assert(v0.count() == 100, "version 0 must be the first commit alone")
    // an overwrite is one more version; the history below it stays
    series(30).write.format(Fmt).option("path", dir)
      .mode("overwrite").save()
    assert(graft.sources.GraftLog.currentVersion(dir) == 2L)
    assert(readBack(dir).count() == 30)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "1").load().count() == 350)
  }

  test("an overwrite keeps history: time travel, the change feed and " +
      "RESTORE all reach the versions before it") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    series(250).filter(col("id") >= 100)
      .write.format(Fmt).option("path", dir).mode("append").save() // v1
    series(30).write.format(Fmt).option("path", dir)
      .mode("overwrite").save() // v2
    assert(GraftLog.currentVersion(dir) == 2L)
    // time travel below the overwrite
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "1").load().count() == 250)
    // the change feed over (0, 1] still serves version 1's rows
    val feed = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "0").option("asOfVersion", "1")
      .load()
    assert(feed.count() == 150 &&
      feed.agg(min(col("id"))).head.getLong(0) == 100L)
    // the overwrite is a non-append version to every consumer
    assert(GraftLog.spanHasNonAppendChanges(dir, 1L, 2L))
    assert(!GraftLog.spanHasNonAppendChanges(dir, 0L, 1L))
    // RESTORE brings the pre-overwrite snapshot back as a new version
    GraftLog.restore(dir, 1L)
    assert(GraftLog.currentVersion(dir) == 3L)
    assert(readBack(dir).exceptAll(series(250)).isEmpty &&
      series(250).exceptAll(readBack(dir)).isEmpty)
  }

  test("an append that wins the version race ahead of an overwrite is " +
      "removed by it, never resurrected") {
    import graft.sources.{GraftLog, GraftLogCommit, LogEntry}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val dir = tmp()
    series(10).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = readBack(dir).schema
    val cols = schema.fieldNames.toSeq
    val before = GraftLog.entriesAsOf(dir, 0L).map(_.file)
    // Both committers read the log head BEFORE either claims version
    // 1 (the latch releases only when both are inside mk). The
    // overwrite then waits until the append has linked `_commit.1`, so
    // its own link loses the CAS and it retries at version 2 — where
    // its entries must retire the append's file too.
    val inside = new CountDownLatch(2)
    val appended = new CountDownLatch(1)
    def rendezvous(): Unit = if (inside.getCount > 0) {
      inside.countDown(); inside.await(10, TimeUnit.SECONDS)
    }
    val append = new Thread(() => {
      GraftLog.commitNewUnlocked(dir, schema) { v =>
        rendezvous()
        Seq(LogEntry.add(v, "part-race-append", 1L, Map.empty,
          cols = cols))
      }
      appended.countDown()
    })
    val overwrite = new Thread(() => {
      GraftLog.commitNewUnlocked(dir, schema) { v =>
        rendezvous(); appended.await(10, TimeUnit.SECONDS)
        GraftLog.appendEntries(dir, v,
          Seq(GraftLogCommit("part-race-overwrite", 1L, cols = cols)),
          truncate = true)
      }
      ()
    })
    Seq(append, overwrite).foreach(_.start())
    Seq(append, overwrite).foreach(_.join(30000))
    val es = GraftLog.entries(dir)
    assert(es.exists(e => e.file == "part-race-append" &&
      e.isAdd && e.version == 1L), s"the append must win v1: $es")
    assert(GraftLog.currentVersion(dir) == 2L)
    assert(GraftLog.entriesAsOf(dir, 2L).map(_.file) ==
      Seq("part-race-overwrite"),
      "the overwrite must retire every file live at its parent")
    assert(es.filter(_.action == "remove").map(_.file).toSet ==
      (before :+ "part-race-append").toSet)
  }

  test("time travel below an overwrite that changed the partition " +
      "column reads the old layout's rows") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 400).selectExpr("id", "id % 4 AS k", "id % 3 AS j")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save() // v0
    spark.range(0, 90).selectExpr("id", "id % 4 AS k", "id % 3 AS j")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "j").mode("overwrite").save() // v1
    assert(GraftLog.partitionColOf(dir).contains("j"))
    val v0 = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load()
    assert(v0.count() == 400)
    // a pushed filter and a grouping on the new key both read the old
    // files correctly: their partition records name `k`, not `j`
    assert(v0.filter(col("j") === 2).count() == 133)
    val byJ = v0.groupBy(col("j")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byJ == Map(0L -> 134L, 1L -> 133L, 2L -> 133L))
    assert(readBack(dir).groupBy(col("j")).count().count() == 3)
    assert(readBack(dir).count() == 90)
  }

  test("streaming write commits epochs exactly once across restarts") {
    val dir = tmp(); val ckpt = tmp()
    val batch = spark.read.parquet(s"$sf0001/events.parquet")
    def run(): Unit = {
      val q = spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf0001)
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream.format(Fmt).option("path", dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val n = batch.count()
    assert(readBack(dir).count() == n)
    // Restart from the same checkpoint: nothing new to process, and a
    // replayed epoch publishes nothing twice.
    run()
    assert(readBack(dir).count() == n,
      "restart must not duplicate committed epochs")
  }

  test("a failed job is invisible: manifest-gated atomicity") {
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    val boom = udf((l: Long) => {
      if (l == 50L) throw new RuntimeException("boom")
      l
    })
    intercept[Exception] {
      spark.range(100)
        .select(boom(col("id")).as("id"),
          lit(0).as("bucket"), lit(0.0).as("value"), lit("t").as("tag"))
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    val back = readBack(dir)
    assert(back.count() == 100,
      "failed job's partial part files must never become visible")
    // Orphan part files may exist on disk — visibility is the manifest's
    // job, not the directory listing's. Vacuum removes exactly the
    // unreferenced ones and the committed data is untouched. The
    // default retention horizon protects in-flight writers' fresh
    // uncommitted parts, so these just-written orphans survive it:
    assert(graft.sources.GraftLog.vacuum(dir).isEmpty,
      "default-retention vacuum must keep fresh part files")
    // minAgeMs=0 (safe here: no write in progress) reclaims them.
    val removed = graft.sources.GraftLog.vacuum(dir, 0L)
    val onDisk = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(onDisk == graft.sources.GraftLog.committedFiles(dir).size,
      s"vacuum left orphans (removed=$removed)")
    assert(readBack(dir).count() == 100)
  }

  test("manifest min/max stats skip files a pushed predicate refutes") {
    val dir = tmp()
    // Three appends with disjoint id ranges → three part files whose
    // manifest stats partition the key space (the range-layout a real
    // ingest produces when data arrives roughly time-ordered).
    for (lo <- Seq(0L, 1000L, 2000L))
      spark.range(lo, lo + 1000)
        .selectExpr("id", "CAST(id AS DOUBLE) / 2 AS value")
        .coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    val sel = readBack(dir).filter(col("id") >= 2500L)
    assert(sel.count() == 500)
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("files=1/3"),
      s"selective range predicate must plan 1 of 3 files:\n$plan")
    val eq = readBack(dir).filter(col("id") === 1500L)
    assert(eq.count() == 1)
    assert(eq.queryExecution.executedPlan.toString.contains("files=1/3"),
      "point lookup must plan exactly the one covering file")
    // A predicate matching nothing plans ZERO files — no I/O at all.
    val none = readBack(dir).filter(col("id") > 5000L)
    assert(none.count() == 0)
    assert(none.queryExecution.executedPlan.toString.contains("files=0/3"))
    // Skipping is conservative: rows inside the kept file still filter
    // (the 500 above), and an unsupported predicate keeps all files.
    val str = readBack(dir).filter(col("value") * 2 >= col("id"))
    assert(str.count() == 3000)
  }

  test("column pruning reaches the reader") {
    val dir = tmp()
    series(500).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val df = readBack(dir).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[bucket]"),
      s"projection must prune to the one referenced column:\n$plan")
    assert(df.count() == 97)
  }

  test("compaction: current snapshot reads one file, history and CDF intact") {
    val dir = tmp()
    for (lo <- Seq(0L, 100L, 300L))
      spark.range(lo, lo + 100 + lo)
        .selectExpr("id", "CAST(id AS DOUBLE) AS value")
        .coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    // versions 0/1/2 hold 100/200/400-row... (ranges [0,100),[100,300),[300,700))
    val before = readBack(dir)
    val beforeRows = before.collect().toSet
    assert(graft.sources.GraftLog.compact(dir) == 3)
    // Reads are row-identical, and the new snapshot plans ONE file.
    val after = readBack(dir)
    assert(after.collect().toSet == beforeRows)
    assert(after.queryExecution.executedPlan.toString.contains("files=1/1"))
    // Compacted-file stats survive the merge: pruning still works.
    val pruned = readBack(dir).filter(col("id") >= 10000L)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("files=0/1"))
    // Old versions still time-travel to the pre-compaction snapshots.
    val v1 = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "1").load()
    assert(v1.count() == 300)
    // The change feed across the compaction version sees NO new rows
    // (dataChange=false): same data, new layout.
    val cdf = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "2").load()
    assert(cdf.count() == 0,
      "compaction must be invisible to the change data feed")
    // History-preserving vacuum keeps the pre-compaction parts...
    assert(graft.sources.GraftLog.vacuum(dir, 0L).isEmpty)
    // ...expireHistory reclaims them; the current snapshot still reads.
    val reclaimed = graft.sources.GraftLog.vacuum(dir, 0L,
      expireHistory = true)
    assert(reclaimed.size == 3, s"expected 3 pre-compaction parts, " +
      s"got $reclaimed")
    assert(readBack(dir).collect().toSet == beforeRows)
  }

  test("change data feed returns exactly the appended delta") {
    val dir = tmp()
    spark.range(0, 100).selectExpr("id", "id * 2 AS y")
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(100, 250).selectExpr("id", "id * 2 AS y")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val cdf = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "0").load()
    assert(cdf.count() == 150)
    assert(cdf.agg(min(col("id")), max(col("id"))).head ==
      org.apache.spark.sql.Row(100L, 249L))
  }

  test("concurrent same-JVM appends both commit (version-CAS ordering)") {
    val dir = tmp()
    val threads = (0 until 2).map { k =>
      new Thread(() =>
        spark.range(k * 1000, k * 1000 + 500)
          .selectExpr("id", "CAST(id AS DOUBLE) AS value")
          .write.format(Fmt).option("path", dir).mode("append").save())
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(readBack(dir).count() == 1000,
      "neither concurrent commit may drop the other's files")
    assert(graft.sources.GraftLog.currentVersion(dir) == 1L)
  }

  test("appends don't queue on a table lock: one commits while " +
      "another is mid-publish") {
    import graft.sources.{GraftLog, LogEntry}
    val dir = tmp()
    series(10).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val schema = readBack(dir).schema
    // writer A parks INSIDE its commit attempt (entry build), holding
    // whatever lock the commit path takes; writer B then runs a full
    // append end to end. Under the old table-wide lock B would
    // deadlock on this latch; lock-free, B finishes and A lands at
    // the next version via the CAS retry.
    val aInside = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var aVersion = -1L
    val a = new Thread(() => {
      aVersion = GraftLog.commitNewUnlocked(dir, schema) { v =>
        aInside.countDown()
        // wait until B's append has fully committed
        assert(bDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
        // a marker-only commit — a legitimate commit shape that
        // references no data file
        Seq(LogEntry.txn(v, "lockfree-spec-a", 1L))
      }
    })
    a.start()
    assert(aInside.await(30, java.util.concurrent.TimeUnit.SECONDS))
    series(10).write.format(Fmt).option("path", dir)
      .mode("append").save() // writer B — must not block on A
    bDone.countDown()
    a.join(30000)
    assert(!a.isAlive)
    // B claimed the version A was building against; A retried and won
    // the next one — both commits stand
    assert(aVersion >= 2L)
    assert(GraftLog.currentVersion(dir) == aVersion)
  }

  test("conflicting rewrite pair: one winner, one loud retryable " +
      "failure; appends interleave with rewrites freely") {
    import graft.sources.{GraftLog, GraftConcurrentModificationException}
    val dir = tmp()
    series(2000).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val schema = readBack(dir).schema
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    // two rewrites planned against the SAME snapshot, retiring the
    // same files (what two racing OPTIMIZE/DELETE jobs do cross-
    // process). Drive rewriteFiles directly: the public ops serialize
    // same-JVM, so the race is simulated by pre-planning both.
    val base = GraftLog.currentVersion(dir)
    GraftLog.rewriteFiles(dir, live,
      readBack(dir).filter(col("id") < 1500), schema,
      baseVersion = base)
    val winner = readBack(dir).count()
    assert(winner == 1500L)
    val err = intercept[GraftConcurrentModificationException] {
      GraftLog.rewriteFiles(dir, live,
        readBack(dir).filter(col("id") < 1000), schema,
        baseVersion = base)
    }
    assert(err.getMessage.contains("replan"),
      s"conflict error must say it is retryable: ${err.getMessage}")
    // loser left nothing behind: data intact, no half-rewrite
    assert(readBack(dir).count() == 1500L)
    // an append planned before the winning rewrite lands cleanly
    // after it (disjoint files — appends never conflict)
    series(100).write.format(Fmt).option("path", dir)
      .mode("append").save()
    assert(readBack(dir).count() == 1600L)
  }

  test("rewrite conflict check fails loudly when part of its span " +
      "was expired into a checkpoint") {
    import graft.sources.{GraftLog, GraftConcurrentModificationException}
    val dir = tmp()
    series(1000).coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save() // v0
    series(500).coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save() // v1
    val schema = readBack(dir).schema
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    val base = GraftLog.currentVersion(dir)
    // a concurrent commit lands, then a maintenance pass folds the
    // log: the commit file the conflict check would need to read is
    // GONE (only the checkpoint remembers the span)
    series(100).coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save() // v2
    GraftLog.writeCheckpoint(dir, GraftLog.currentVersion(dir))
    assert(GraftLog.expireLog(dir,
      GraftLog.currentVersion(dir) + 1) > 0)
    // the check cannot verify the folded span — it must abort
    // retryably, NOT pass silently and resurrect overwritten rows
    val err = intercept[GraftConcurrentModificationException] {
      GraftLog.rewriteFiles(dir, live,
        readBack(dir).filter(col("id") < 100), schema,
        baseVersion = base)
    }
    assert(err.getMessage.contains("expired into a checkpoint"),
      s"wrong failure: ${err.getMessage}")
    // loser left nothing behind
    assert(readBack(dir).count() == 1600L)
  }

  test("reading a nonexistent table path fails instead of creating it") {
    val ghost = tmp() + "/no_such_table"
    intercept[Exception] { readBack(ghost).count() }
    assert(!new java.io.File(ghost).exists(),
      "a read must not mkdirs the table directory")
  }

  test("schema evolution: wider append reads old rows as null") {
    val dir = tmp()
    spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(100, 150)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v", "concat('x', id) AS tag")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val back = readBack(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    assert(back.schema("tag").nullable)
    assert(back.count() == 150)
    // pre-evolution rows read NULL for the added column; post rows don't
    assert(back.filter(col("tag").isNull).agg(count(lit(1)), max(col("id")))
      .collect()(0).toSeq == Seq(100L, 99L))
    assert(back.filter(col("tag") === "x120").select(col("id"))
      .collect().map(_.getLong(0)).toSeq == Seq(120L))
    // time travel still reads version 0 in its own (narrow-compatible) shape
    val v0 = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load()
    assert(v0.count() == 100 &&
      v0.filter(col("tag").isNotNull).count() == 0)
  }

  test("schema evolution: type change rejects loudly") {
    val dir = tmp()
    spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val e = intercept[Exception] {
      spark.range(10).selectExpr("id", "concat('s', id) AS v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    assert(e.getMessage != null)
    // table unchanged after the rejected write
    assert(readBack(dir).count() == 10)
  }

  test("schema evolution: filter on the added column skips old files") {
    val dir = tmp()
    spark.range(100).selectExpr("id")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    spark.range(100, 200).selectExpr("id", "id * 10 AS score")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val q = readBack(dir).filter(col("score") >= 1500)
    // the pre-evolution file can never match a comparison on `score`
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("files=1/2"),
      s"expected evolution-aware file skip (files=1/2) in:\n$desc")
    assert(q.count() == 50)
  }

  test("schema evolution: compaction rewrites every vintage into one layout") {
    val dir = tmp()
    spark.range(10).selectExpr("id")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    spark.range(10, 20).selectExpr("id", "CAST(id AS DOUBLE) / 2 AS v")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val before = readBack(dir).orderBy("id").collect().map(_.toSeq).toSeq
    assert(graft.sources.GraftLog.compact(dir) == 2)
    val after = readBack(dir).orderBy("id").collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must not change row content")
    assert(graft.sources.GraftLog
      .entriesAsOf(dir, Long.MaxValue).size == 1)
    // nulls survive the rewrite: old-vintage rows still read NULL v
    assert(readBack(dir).filter(col("v").isNull).count() == 10)
  }

  test("streaming source: AvailableNow drains committed versions, " +
      "restart resumes incrementally, compaction is invisible") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    // log-to-log incremental pipeline: the streaming SOURCE feeds the
    // epoch-idempotent streaming SINK through one checkpoint
    def runStream(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .writeStream.format(Fmt).option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.range(0, 100).selectExpr("id").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    spark.range(100, 150).selectExpr("id").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    runStream()
    assert(readBack(dst).count() == 150,
      "first run must drain both committed versions")
    // compaction (dataChange=false) + one real append; the resumed
    // stream must deliver ONLY the appended rows
    assert(graft.sources.GraftLog.compact(src) == 2)
    spark.range(150, 170).selectExpr("id").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    runStream()
    val b = readBack(dst)
    assert(b.count() == 170,
      s"resume must append the delta only, got ${b.count()}")
    assert(b.agg(min(col("id")), max(col("id"))).head.toSeq == Seq(0L, 169L))
    assert(b.select(col("id")).distinct().count() == 170,
      "no row may be delivered twice across restart + compaction")
  }

  test("COUNT(*) answers from the manifest without opening a file") {
    val dir = tmp()
    series(500).repartition(4)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val cnt = readBack(dir).agg(count(lit(1)).as("n"))
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("metaCount=500"),
      s"expected a manifest-only count scan in:\n$plan")
    assert(cnt.head.getLong(0) == 500L)
    // a filtered count must NOT push: rows are the filter's job
    val filtered = readBack(dir).filter(col("bucket") === 3)
      .agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("metaCount"))
    assert(filtered.head.getLong(0) == 6L) // ids 3,100,...,488: ceil counts
    // MIN/MAX on numeric columns also answer from the manifest stats
    val mm = readBack(dir).agg(count(lit(1)), min(col("id")),
      max(col("id")), min(col("value")))
    assert(mm.queryExecution.executedPlan.toString.contains("metaCount="))
    assert(mm.head.toSeq == Seq(500L, 0L, 499L, 0.0))
    // MIN on a string column has no stats: plans the real scan
    val ms = readBack(dir).agg(min(col("tag")))
    assert(!ms.queryExecution.executedPlan.toString.contains("metaCount"))
    assert(ms.head.getString(0) == "t0")
    // the change-feed listing answers COUNT(*) from the manifest too
    series(80).coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val cdfCnt = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "0").load().agg(count(lit(1)))
    assert(cdfCnt.queryExecution.executedPlan.toString
      .contains("metaCount=80"))
    assert(cdfCnt.head.getLong(0) == 80L)
  }

  test("a change-feed COUNT over a partly-expired span fails loudly " +
      "on the manifest-only path too, never counting just the tail") {
    val dir = tmp()
    // 12 commits -> a checkpoint exists; expire the early commits
    (1 to 12).foreach(i => series(i).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save())
    assert(graft.sources.GraftLog.expireLog(dir, 11L) > 0,
      "precondition: history expired below a checkpoint")
    val h = graft.sources.GraftLog.oldestReplayableVersion(dir)
    assert(h > 0L, "precondition: a horizon exists")
    val cnt = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "0").load().agg(count(lit(1)))
    val e = intercept[Exception] { cnt.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("retained horizon")),
      s"expected the horizon guard, got: $e")
    // a span at-or-above the horizon still answers
    assert(spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", h.toString).load()
      .agg(count(lit(1))).head.getLong(0) > 0L)
  }

  test("merge-on-read merge touches only stats-affected files; " +
      "upserts and inserts land, history survives") {
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val updates = spark.range(1000, 1200).selectExpr("id", "-id AS v")
      .unionAll(spark.range(4000, 4100).selectExpr("id", "-id AS v"))
    val (rewritten, total) = graft.sources.GraftLog
      .mergeUpsert(spark, dir, updates, "id")
    assert(total == 4)
    assert(rewritten < total,
      s"stats must bound the rewrite, got $rewritten/$total")
    val back = readBack(dir)
    assert(back.count() == 4100)
    assert(back.filter(col("id") >= 1000 && col("id") < 1200 &&
      col("v") =!= -col("id")).count() == 0, "matched rows must update")
    assert(back.filter(col("id") >= 4000).count() == 100, "inserts land")
    assert(back.filter(col("id") < 1000 && col("v") =!= col("id"))
      .count() == 0, "untouched rows survive")
    // pre-merge snapshot still reconstructible
    val v0 = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load()
    assert(v0.count() == 4000 && v0.filter(col("v") < 0).count() == 0)
    // a pure insert beyond every file's range rewrites nothing
    val (r2, _) = graft.sources.GraftLog.mergeUpsert(spark, dir,
      spark.range(5000, 5100).selectExpr("id", "-id AS v"), "id")
    assert(r2 == 0, s"pure out-of-range insert must rewrite 0 files, got $r2")
    assert(readBack(dir).count() == 4200)
  }

  test("a DV merge rewrites no part file and leaves the pre-merge " +
      "version time-travelable") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val before = GraftLog.entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
    val v0 = GraftLog.currentVersion(dir)
    val (touched, total) = GraftLog.mergeUpsert(spark, dir,
      spark.range(1000, 1100).selectExpr("id", "-id AS v")
        .unionAll(spark.range(4000, 4010).selectExpr("id", "-id AS v")),
      "id")
    assert(touched == 1 && total == 4, s"got $touched/$total")
    val v1 = GraftLog.currentVersion(dir)
    assert(v1 == v0 + 1, "a merge is one commit")
    val commit = GraftLog.entries(dir).filter(_.version == v1)
    assert(!commit.exists(_.action == "remove"),
      "a DV merge retires no part file")
    assert(commit.count(_.action == "dv") == 1)
    val after = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(before.subsetOf(after.map(_.file).toSet))
    assert(after.filterNot(e => before(e.file)).map(_.rows).sum == 110L,
      "the batch is written once, as new part files")
    assert(after.flatMap(GraftLog.dvOf).map(_._2) == Seq(100L),
      "the touched file hides exactly the 100 matched rows")
    val back = readBack(dir)
    assert(back.count() == 4010)
    assert(back.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 1000L).sum - (1000L until 1100L).sum +
        (1100L until 4000L).sum - (4000L until 4010L).sum)
    val old = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", v0.toString).load()
    assert(old.count() == 4000 && old.filter(col("v") < 0).count() == 0,
      "the pre-merge version reads every original row")
  }

  test("a key updated by two successive merges ends up DV'd inside " +
      "the first merge's batch file") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val original = GraftLog.entriesAsOf(dir, Long.MaxValue).head.file
    // a small batch writes as one file, however many partitions it has
    GraftLog.mergeUpsert(spark, dir,
      spark.range(10, 20).selectExpr("id", "-id AS v").repartition(4),
      "id")
    val batch1 = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .filter(_.file != original)
    assert(batch1.size == 1 && batch1.head.rows == 10L)
    val (touched, _) = GraftLog.mergeUpsert(spark, dir,
      spark.range(15, 16).selectExpr("id", "id * 1000 AS v"), "id")
    assert(touched == 1, "only the first batch file holds key 15")
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .map(e => e.file -> GraftLog.dvOf(e).map(_._2)).toMap
    assert(live(batch1.head.file) == Some(1L),
      "key 15 is hidden inside the first merge's batch file")
    assert(live(original) == Some(10L), "the original DV is unchanged")
    val back = readBack(dir)
    assert(back.count() == 1000)
    assert(back.filter(col("id") === 15).head.getLong(1) == 15000L)
    assert(back.filter(col("id") >= 10 && col("id") < 20 &&
      col("id") =!= 15 && col("v") =!= -col("id")).count() == 0)
  }

  test("tables maintained by incremental merges compact once more " +
      "than AutoCompactSmallFiles small files pile up") {
    import graft.sources.{GraftLog, MaterializedAgg}
    val dir = tmp()
    def append(n: Int): Unit = (1 to n).foreach { i =>
      spark.range(i * 10, i * 10 + 10).selectExpr("id", "id AS v")
        .coalesce(1).write.format(Fmt).option("path", dir)
        .mode("append").save()
    }
    append(GraftLog.AutoCompactSmallFiles)
    assert(GraftLog.compactIfFragmented(dir) == 0)
    append(1)
    assert(GraftLog.compactIfFragmented(dir) ==
      GraftLog.AutoCompactSmallFiles + 1)
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue).size == 1)
    assert(readBack(dir).count() == 10L * (GraftLog.AutoCompactSmallFiles + 1))
    // a view bootstrapped as more small files than the bound compacts
    // on its first incremental refresh, rows intact
    val src = s"${tmp()}/src"; val mv = s"${tmp()}/mv"
    spark.range(0, 3000).selectExpr("id", "id % 50 AS bucket", "id AS v")
      .repartition(4).write.format(Fmt).option("path", src)
      .mode("append").save()
    MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"),
      mvBuckets = GraftLog.AutoCompactSmallFiles + 4)
    spark.range(3000, 3500).selectExpr("id", "id % 10 AS bucket", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", src)
      .mode("append").save()
    val r1 = MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"),
      mvBuckets = GraftLog.AutoCompactSmallFiles + 4)
    assert(r1.mode == "incremental")
    assert(GraftLog.entriesAsOf(mv, Long.MaxValue).size == 1)
    val view = readBack(mv).agg(sum(col("n_rows")), sum(col("sum_v")))
      .head()
    assert(view.getLong(0) == 3500L && view.getLong(1) == (0L until 3500L).sum)
  }

  test("a merge after a MoR DELETE on the same file unions both DVs") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.LessThan
    val dir = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val file = GraftLog.entriesAsOf(dir, Long.MaxValue).head.file
    GraftLog.deleteWhereMoR(spark, dir, Array(LessThan("id", 10L)))
    GraftLog.mergeUpsert(spark, dir,
      spark.range(20, 30).selectExpr("id", "-id AS v"), "id")
    val e = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .find(_.file == file).get
    val (dvFile, n) = GraftLog.dvOf(e).get
    assert(n == 20L)
    assert(graft.sources.GraftLogDv.read(dir, dvFile).toSeq ==
      ((0L until 10L) ++ (20L until 30L)),
      "the merge's DV holds the delete's positions and its own")
    val back = readBack(dir)
    assert(back.count() == 990)
    assert(back.filter(col("id") < 10).count() == 0)
    assert(back.filter(col("id") >= 20 && col("id") < 30 &&
      col("v") =!= -col("id")).count() == 0)
    // a deleted key merged back is invisible to the position scan, so
    // it inserts
    val (touched, _) = GraftLog.mergeUpsert(spark, dir,
      spark.range(5, 6).selectExpr("id", "-id AS v"), "id")
    assert(touched == 0)
    assert(readBack(dir).filter(col("id") === 5).count() == 1)
  }

  test("a merge or MoR DELETE planned before a concurrent DV or " +
      "compaction of its matched file aborts retryably") {
    import graft.sources.{GraftLog, GraftConcurrentModificationException}
    import org.apache.spark.sql.sources.EqualTo
    def upd(k: Long, v: Long) =
      spark.range(k, k + 1).selectExpr("id", s"CAST($v AS BIGINT) AS v")
    def rowsOf(dir: String, k: Long) =
      readBack(dir).filter(col("id") === k).select("v").collect()
        .map(_.getLong(0)).toSeq
    def retryable(body: => Unit): Unit = {
      val err = intercept[GraftConcurrentModificationException](body)
      assert(err.getMessage.contains("replan"),
        s"conflict error must say it is retryable: ${err.getMessage}")
    }
    // Each op plans against `base`; another writer's commit lands
    // before the op's position scan. At the head the matched row is
    // gone from its file, so only a scan of the planned snapshot
    // touches that file and trips the conflict check.
    // 1. a concurrent merge hides key 10 and re-adds it elsewhere
    val a = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", a).mode("append").save()
    val baseA = GraftLog.currentVersion(a)
    GraftLog.mergeUpsert(spark, a, upd(10, -10), "id")
    retryable(GraftLog.mergeUpsert(spark, a, upd(10, -100), "id",
      baseVersion = baseA))
    assert(rowsOf(a, 10) == Seq(-10L), "no lost update, no duplicate key")
    assert(readBack(a).count() == 1000)
    // 2. a concurrent MoR DELETE hides the key, then compaction retires
    // its file: the merge must not re-insert the deleted key
    val b = tmp()
    spark.range(0, 500).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", b).mode("append").save()
    spark.range(500, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", b).mode("append").save()
    val baseB = GraftLog.currentVersion(b)
    GraftLog.deleteWhereMoR(spark, b, Array(EqualTo("id", 10L)))
    assert(GraftLog.compact(b) == 2)
    retryable(GraftLog.mergeUpsert(spark, b, upd(10, -100), "id",
      baseVersion = baseB))
    assert(rowsOf(b, 10).isEmpty)
    assert(readBack(b).count() == 999)
    // 3. a MoR DELETE planned before a concurrent merge of its key
    val c = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", c).mode("append").save()
    val baseC = GraftLog.currentVersion(c)
    GraftLog.mergeUpsert(spark, c, upd(10, -10), "id")
    retryable(GraftLog.deleteWhereMoR(spark, c, Array(EqualTo("id", 10L)),
      baseVersion = baseC))
    assert(rowsOf(c, 10) == Seq(-10L))
    // a concurrent commit on a file holding no matched row is no
    // conflict: the delete hides key 10 in the first merge's batch
    // file, the planned merge touches only the original file
    val baseC2 = GraftLog.currentVersion(c)
    GraftLog.deleteWhereMoR(spark, c, Array(EqualTo("id", 10L)))
    GraftLog.mergeUpsert(spark, c, upd(20, -20), "id",
      baseVersion = baseC2)
    assert(rowsOf(c, 20) == Seq(-20L) && rowsOf(c, 10).isEmpty)
    assert(readBack(c).count() == 999)
    // 4. an unconditional DELETE planned before a concurrent compaction:
    // its removes name only the retired inputs, so the compacted file
    // would stay live with every row
    val d = tmp()
    spark.range(0, 500).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", d).mode("append").save()
    spark.range(500, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", d).mode("append").save()
    val baseD = GraftLog.currentVersion(d)
    assert(GraftLog.compact(d) == 2)
    retryable(GraftLog.deleteWhereMoR(spark, d, Array.empty,
      baseVersion = baseD))
    assert(readBack(d).count() == 1000)
  }

  test("NULL-keyed batch rows insert beside a DV merge and match no " +
      "NULL-keyed table row") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 100).selectExpr(
        "CASE WHEN id = 0 THEN NULL ELSE id END AS id", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val (touched, _) = GraftLog.mergeUpsert(spark, dir, spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS id, CAST(-1 AS BIGINT) AS v")
      .unionAll(spark.range(5, 6).selectExpr("id", "-id AS v")), "id")
    assert(touched == 1)
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue)
      .flatMap(GraftLog.dvOf).map(_._2) == Seq(1L),
      "only the matched key 5 is hidden")
    val back = readBack(dir)
    assert(back.count() == 101)
    assert(back.filter(col("id").isNull).select(col("v")).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(-1L, 0L))
    assert(back.filter(col("id") === 5).head.getLong(1) == -5L)
  }

  test("a merge over the maxPositions cap rewrites the touched files " +
      "copy-on-write in one commit") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val v0 = GraftLog.currentVersion(dir)
    val (touched, total) = GraftLog.mergeUpsert(spark, dir,
      spark.range(0, 300).selectExpr("id", "-id - 1 AS v")
        .unionAll(spark.range(5000, 5005).selectExpr("id", "-id AS v")),
      "id", maxPositions = 100)
    assert(touched == 1 && total == 4, s"got $touched/$total")
    assert(GraftLog.currentVersion(dir) == v0 + 1)
    val commit = GraftLog.entries(dir).filter(_.version == v0 + 1)
    assert(commit.count(_.action == "remove") == 1)
    assert(!commit.exists(_.action == "dv"))
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue)
      .forall(e => GraftLog.dvOf(e).isEmpty))
    val back = readBack(dir)
    assert(back.count() == 4005)
    assert(back.filter(col("v") < 0).count() == 305)
    assert(back.filter(col("id") >= 300 && col("id") < 4000 &&
      col("v") =!= col("id")).count() == 0)
  }

  test("a merge batch over the probe-key cap still reaches every file " +
      "holding one of its keys") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 30000).selectExpr("id", "id AS v")
      .repartitionByRange(3, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    // 12000 distinct keys at both ends of the key range: over the
    // driver-side cap, so targeting falls back to the batch's global
    // [min, max], which must span both ends
    val batch = spark.range(0, 6000).selectExpr("id", "-id - 1 AS v")
      .unionAll(spark.range(24000, 30000).selectExpr("id", "-id AS v"))
    assert(12000 > GraftLog.MaxMergeProbeKeys)
    GraftLog.setProperties(dir, Map("graft.cdf.enabled" -> "true"))
    val v0 = GraftLog.currentVersion(dir)
    GraftLog.mergeUpsert(spark, dir, batch, "id")
    val back = readBack(dir)
    assert(back.count() == 30000)
    assert(back.select(col("id")).distinct().count() == 30000)
    assert(back.filter(col("v") < 0).count() == 12000)
    // the typed feed classifies through the same semi-join
    val kinds = GraftLog.typedChanges(spark, dir, v0)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == Map("update_preimage" -> 12000L,
      "update_postimage" -> 12000L), s"typed feed: $kinds")
    // the duplicate-key check still runs over the cap
    val dup = spark.range(0, 12000).selectExpr("id", "id AS v")
      .unionAll(spark.range(7, 8).selectExpr("id", "id AS v"))
    val e = intercept[IllegalArgumentException](
      GraftLog.mergeUpsert(spark, dir, dup, "id"))
    assert(e.getMessage.contains("duplicate"))
  }

  test("a graft-log stream across a DV-merge span fails loudly") {
    import graft.sources.GraftLog
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
    GraftLog.mergeUpsert(spark, src,
      spark.range(0, 5).selectExpr("id", "-id AS v"), "id") // v1
    assert(GraftLog.entries(src).exists(e =>
      e.version == 1L && e.action == "dv"))
    spark.range(100, 150).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    val err = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException](drain())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m =>
      m != null && m.contains("cannot replay version 1")),
      s"the stream must refuse the DV merge: ${chain(err)}")
    assert(readBack(sink).count() == 100,
      "nothing past the DV merge reached the sink")
  }

  test("a single-column EMPTY-STRING cell is a row on every path, " +
      "and DV ordinals stay aligned past it through compaction") {
    import spark.implicits._
    val dir = tmp()
    // "" reconstructs as an EMPTY LINE on the line-oriented paths —
    // a consumer that skipped empty lines would both lose the row
    // and shift every later deletion-vector ordinal by one
    Seq("a", "", "b", "c").toDF("s").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 4)
    // MoR-DV delete of "b": its columnar ordinal (2) COUNTS the empty
    // row, so a line path skipping empties would apply the DV to "c"
    graft.sources.GraftLog.deleteWhereMoR(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("s", "b")))
    assert(readBack(dir).as[String].collect().sorted.toSeq ==
      Seq("", "a", "c"))
    // compaction streams the LINES — survivors must be identical
    graft.sources.GraftLog.compact(dir)
    assert(readBack(dir).as[String].collect().sorted.toSeq ==
      Seq("", "a", "c"),
      "the empty-string row must survive the line-path rewrite")
  }

  test("a full replace planned against an EMPTY snapshot aborts " +
      "retryably when a concurrent first commit lands in its span") {
    val dir = tmp()
    // plan against the empty table (base = -1, no retired files): the
    // file-level conflict check is vacuous here, so without the
    // fullReplace guard a concurrent bootstrap's rows would stay live
    // BESIDE the published full rewrite — served twice
    val base = graft.sources.GraftLog.currentVersion(dir)
    assert(base == -1L)
    spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = graft.sources.GraftLog.storedSchema(dir).get
    intercept[graft.sources.GraftConcurrentModificationException](
      graft.sources.GraftLog.rewriteFiles(dir, Seq.empty,
        spark.range(10, 20).selectExpr("id", "id AS v"), schema,
        baseVersion = base, fullReplace = true))
    // the aborted rewrite stranded nothing: only the bootstrap's rows
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 10)
  }

  test("merge coerces the batch to the TABLE's column types: a " +
      "decimal/double-keyed batch updates in place instead of " +
      "hash-missing the bloom and duplicating the key") {
    val dir = tmp()
    spark.range(0, 2000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    // compact so the single surviving file's [min, max] spans every
    // key and the INTEGRAL BLOOM is the discriminating targeting
    // index — the exact shape where a probe hashed on the batch's raw
    // "42.00"/"42.0" text (instead of the stored canonical "42")
    // would silently drop the file holding the key (classifying the
    // update as unmatched → duplicate-key corruption)
    graft.sources.GraftLog.compact(dir)
    val updDec = spark.range(40, 45)
      .selectExpr("CAST(id AS DECIMAL(12,2)) AS id", "-id AS v")
    val (rw1, _) = graft.sources.GraftLog.mergeUpsert(spark, dir,
      updDec, "id")
    assert(rw1 >= 1, s"the file holding keys 40-44 must rewrite, got $rw1")
    val back = readBack(dir)
    assert(back.count() == 2000, "no duplicate keys after a typed merge")
    assert(back.filter(col("id") >= 40 && col("id") < 45 &&
      col("v") =!= -col("id")).count() == 0,
      "decimal-keyed rows must UPDATE the stored long keys")
    // and the double rendering ("42.0") coerces the same way
    val updDbl = spark.range(50, 55)
      .selectExpr("CAST(id AS DOUBLE) AS id", "-id AS v")
    graft.sources.GraftLog.mergeUpsert(spark, dir, updDbl, "id")
    val back2 = readBack(dir)
    assert(back2.count() == 2000)
    assert(back2.filter(col("id") >= 50 && col("id") < 55 &&
      col("v") =!= -col("id")).count() == 0)
    // the stored cells stay canonical longs: a fresh scan groups and
    // filters on the key exactly as before the merges
    assert(back2.filter(col("id") === 42L).count() == 1)
    // the coercion is required LOSSLESS (the Delta ANSI
    // store-assignment contract, independent of the session's ANSI
    // flag): a fractional key would truncate onto a row it never
    // matched under plain join coercion — rejected loudly instead
    val lossyErr = intercept[IllegalArgumentException](
      graft.sources.GraftLog.mergeUpsert(spark, dir,
        spark.sql("SELECT CAST(42.5 AS DECIMAL(12,2)) AS id, " +
          "CAST(-1 AS BIGINT) AS v"), "id"))
    assert(lossyErr.getMessage.contains("LOSSLESSLY"),
      lossyErr.getMessage)
    // ...and the diagnostic is UNIFORM under spark.sql.ansi.enabled:
    // the probe runs on try_cast (null on failure either way), so an
    // ANSI session gets the same loud require, not a raw
    // CAST/ARITHMETIC task error thrown before it
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val ansiErr = intercept[IllegalArgumentException](
        graft.sources.GraftLog.mergeUpsert(spark, dir,
          spark.sql("SELECT CAST(42.5 AS DECIMAL(12,2)) AS id, " +
            "CAST(-1 AS BIGINT) AS v"), "id"))
      assert(ansiErr.getMessage.contains("LOSSLESSLY"),
        s"ANSI session must get the same diagnostic: ${ansiErr.getMessage}")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("string-equality bloom pruning skips files lacking the value") {
    val dir = tmp()
    // hash-partition by tag: each of the 7 tags lands wholly in one
    // file, so 6 of 7 files provably lack any given tag
    series(7000).repartition(7, col("tag"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val q = readBack(dir).filter(col("tag") === "t3")
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).getOrElse(
      fail(s"no files=kept/total in:\n$desc"))
    assert(m.group(2).toInt >= 2 && m.group(1).toInt < m.group(2).toInt,
      s"bloom must skip tag-less files, got files=${m.group(1)}/${m.group(2)}")
    assert(q.count() == 1000)
    // a value no file holds prunes the whole scan
    val none = readBack(dir).filter(col("tag") === "zzz")
    val m2 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
      none.queryExecution.executedPlan.toString).get
    assert(m2.group(1).toInt == 0, s"files=${m2.group(1)}/${m2.group(2)}")
    assert(none.count() == 0)
    // IN-list prunes to the union of member-bearing files
    val in2 = readBack(dir).filter(col("tag").isin("t1", "t5"))
    assert(in2.count() == 2000)
  }

  test("optimize zorder: 2-D tile pruning after a CDF-invisible " +
      "layout rewrite") {
    val dir = tmp()
    // ingest-ordered layout: every file holds the full x range and
    // scattered y values, so a 2-D tile predicate prunes poorly
    spark.range(0, 4096)
      .selectExpr("id", "id % 64 AS x", "((id DIV 64) * 37) % 64 AS y")
      .repartitionByRange(8, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    def keptOf(df: DataFrame): (Int, Int) = {
      val m = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    def tile() = readBack(dir).filter(col("x") >= 16 && col("x") < 32 &&
      col("y") >= 16 && col("y") < 32)
    val contentBefore = tile().orderBy("id").collect().map(_.toSeq).toSeq
    val (keptBefore, _) = keptOf(tile())
    val preVersion = graft.sources.GraftLog.currentVersion(dir)
    assert(graft.sources.GraftLog
      .optimizeZorder(spark, dir, "x", "y", bits = 6, nFiles = 8) == 8)
    val (keptAfter, totalAfter) = keptOf(tile())
    assert(totalAfter == 8)
    assert(keptAfter * 2 <= keptBefore && keptAfter * 2 <= totalAfter,
      s"z-layout must tighten pruning: $keptBefore -> $keptAfter of 8")
    assert(tile().orderBy("id").collect().map(_.toSeq).toSeq
      == contentBefore, "layout rewrite must not change rows")
    // pure layout change: the change feed across the rewrite is empty
    val cdf = spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", preVersion.toString).load()
    assert(cdf.count() == 0, "dataChange=false adds must not enter the CDF")
  }

  test("maxVersionsPerBatch throttles the streaming backfill") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    for (lo <- Seq(0, 100, 200))
      spark.range(lo, lo + 100).selectExpr("id").coalesce(1)
        .write.format(Fmt).option("path", src).mode("append").save()
    val q = spark.readStream.format(Fmt).option("path", src)
      .option("maxVersionsPerBatch", "1").load()
      .writeStream.format(Fmt).option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(readBack(dst).count() == 300, "the backfill must still drain fully")
    // one source version per micro-batch → three destination commits
    assert(graft.sources.GraftLog.currentVersion(dst) == 2L,
      "3 source versions at 1/batch must land as 3 sink versions")
  }

  test("LIMIT pushdown plans only the file prefix covering the limit") {
    val dir = tmp()
    for (_ <- 1 to 5)
      series(100).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    val q = readBack(dir).limit(10)
    val desc = q.queryExecution.executedPlan.toString
    assert("files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .exists(m => m.group(1).toInt == 1 && m.group(2).toInt == 5),
      s"LIMIT 10 over 5x100-row files must plan 1 file:\n$desc")
    assert(q.count() == 10)
    // a limit larger than the table still reads everything
    assert(readBack(dir).limit(1000).count() == 500)
  }

  test("manifest statistics let Catalyst auto-broadcast a small table") {
    val dir = tmp()
    series(50).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val dim = readBack(dir).select(col("id").as("k"), col("tag"))
    val fact = spark.range(0, 300000).selectExpr("id % 50 AS k", "id AS v")
    val q = fact.join(dim, "k").groupBy(col("tag"))
      .agg(sum(col("v")).as("sv"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"manifest stats must flip the small side to broadcast:\n$plan")
    assert(q.count() == 7)
    // reported rows match the manifest exactly
    val scan = readBack(dir).queryExecution.optimizedPlan.stats
    assert(scan.rowCount.contains(BigInt(50)),
      s"CBO must see the manifest row count, got ${scan.rowCount}")
  }

  test("restore publishes an old snapshot as new auditable history") {
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    series(300).write.format(Fmt).option("path", dir).mode("append").save()
    graft.sources.GraftLog.compact(dir) // v2 retires both input files
    assert(readBack(dir).count() == 400)
    val v0Files = graft.sources.GraftLog.entriesAsOf(dir, 0L).size
    val (removed, readded) = graft.sources.GraftLog.restore(dir, 0L)
    assert(removed == 1 && readded == v0Files,
      s"expected compacted-file remove + $v0Files v0-file re-adds, " +
        s"got ($removed, $readded)")
    assert(readBack(dir).count() == 100, "restored head = snapshot 0")
    // the pre-restore state remains time-travelable: restore is a redo
    val v2 = spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "2").load()
    assert(v2.count() == 400)
    // commit stamps are strictly monotone across all four versions
    val ts = graft.sources.GraftLog.versionTimestamps(dir).map(_._2)
    assert(ts == ts.sorted && ts.distinct.size == ts.size,
      s"stamps must be strictly monotone, got $ts")
    // timestamp resolution: the stamp of v1 resolves to v1
    assert(graft.sources.GraftLog.versionAtTimestamp(dir, ts(1)) == 1L)
    assert(graft.sources.GraftLog.versionAtTimestamp(dir, ts(1) - 1) == 0L)
  }

  test("merge on a string key rewrites only the bloom-admitted subset") {
    val dir = tmp()
    // ids 0-49 land in one part file, 50-99 in the other — the second
    // file's bloom provably lacks every update key, so a string-keyed
    // merge must leave it untouched (the bloom is the string analogue
    // of the numeric range bound; r8 rewrote every file here)
    spark.range(0, 100).selectExpr("concat('k', id) AS k", "id AS v")
      .repartitionByRange(2, col("v"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val upd = spark.range(0, 10)
      .selectExpr("concat('k', id) AS k", "-id AS v")
      .unionAll(spark.sql("SELECT 'knew' AS k, CAST(-999 AS BIGINT) AS v"))
    val (rewritten, total) = graft.sources.GraftLog
      .mergeUpsert(spark, dir, upd, "k")
    assert(total == 2 && rewritten == 1,
      s"blooms must refute the untouched file: rewrote $rewritten/$total")
    assert(graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
      .flatMap(graft.sources.GraftLog.dvOf).map(_._2) == Seq(10L),
      "only the matched rows of the admitted file are hidden")
    val back = readBack(dir)
    assert(back.count() == 101)
    assert(back.filter(col("k") === "knew").count() == 1)
    assert(back.filter(col("k") === "k5").head.getLong(1) == -5L)
    assert(back.filter(col("k") === "k50").head.getLong(1) == 50L)
  }

  test("merge NULL/duplicate update keys follow the MERGE contract") {
    val dir = tmp()
    // nullable key column (nullif makes the schema admit NULLs)
    spark.range(0, 100).selectExpr("nullif(id, -1) AS id", "id AS v")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    // a NULL-keyed update row matches nothing and inserts as-is
    val withNull = spark.sql(
      "SELECT CAST(NULL AS BIGINT) AS id, CAST(-1 AS BIGINT) AS v")
      .unionAll(spark.range(5, 6).selectExpr("id", "-id AS v"))
    graft.sources.GraftLog.mergeUpsert(spark, dir, withNull, "id")
    val back = readBack(dir)
    assert(back.count() == 101)
    assert(back.filter(col("id").isNull).count() == 1)
    assert(back.filter(col("id").isNull).head.getLong(1) == -1L,
      "the NULL-keyed insert must keep its payload")
    assert(back.filter(col("id") === 5).head.getLong(1) == -5L)
    // duplicate keys in one batch reject loudly
    val dup = spark.range(7, 8).selectExpr("id", "id AS v")
      .unionAll(spark.range(7, 8).selectExpr("id", "2 * id AS v"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.GraftLog.mergeUpsert(spark, dir, dup, "id")
    }
    assert(e.getMessage.contains("duplicate"))
    // a NULL key against a NON-nullable key column rejects
    val dir2 = tmp()
    spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir2).mode("append").save()
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.GraftLog.mergeUpsert(spark, dir2, withNull, "id")
    }
    assert(e2.getMessage.contains("non-nullable"))
    // an ALL-NULL-key batch (nullable table) still inserts every row —
    // null min/max must not read as "empty batch"
    val allNull = spark.sql(
      "SELECT CAST(NULL AS BIGINT) AS id, CAST(-7 AS BIGINT) AS v")
    val (r3, _) = graft.sources.GraftLog.mergeUpsert(spark, dir, allNull, "id")
    assert(r3 == 0, "all-NULL keys match nothing: zero files rewrite")
    assert(readBack(dir).filter(col("id").isNull).count() == 2)
    // an EMPTY batch is a true no-op
    val before = readBack(dir).count()
    graft.sources.GraftLog.mergeUpsert(spark, dir,
      spark.range(0, 0).selectExpr("id", "id AS v"), "id")
    assert(readBack(dir).count() == before)
  }

  test("DELETE with no predicate retires every file (AND of nothing is TRUE)") {
    val dir = tmp()
    spark.range(0, 500).selectExpr("id", "id AS v").repartition(3)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val (r, t, _) = graft.sources.GraftLog.deleteWhereMoR(spark, dir,
      Array.empty)
    assert(r == t && t == 3)
    assert(readBack(dir).count() == 0)
    // history intact: the pre-delete snapshot still reads
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load().count() == 500)
  }

  test("DELETE with an IN-list containing NULL targets files safely") {
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    import org.apache.spark.sql.sources.In
    val (touched, total, _) = graft.sources.GraftLog.deleteWhereMoR(
      spark, dir, Array(In("id", Array(5L, null))))
    assert(total == 4 && touched <= 1 && dvFiles(dir) == touched,
      s"NULL member must not break stats targeting: $touched/$total")
    val back = readBack(dir)
    assert(back.count() == 3999)
    assert(back.filter(col("id") === 5).count() == 0)
  }

  test("older log layouts are rejected loudly, never read as empty: " +
      "a flat _manifest table and a 7-field commit line") {
    import graft.sources.GraftLog
    def commit0(dir: String) =
      java.nio.file.Paths.get(dir, f"_commit.${0L}%020d")
    // a flat-manifest table: the commit file's lines moved into
    // `_manifest`, no commit files left
    val flat = tmp()
    series(50).coalesce(1)
      .write.format(Fmt).option("path", flat).mode("append").save()
    val mPath = java.nio.file.Paths.get(flat, "_manifest")
    java.nio.file.Files.move(commit0(flat), mPath)
    val eSnap = intercept[IllegalArgumentException](
      GraftLog.entriesAsOf(flat, Long.MaxValue))
    assert(eSnap.getMessage.contains(mPath.toString), eSnap.getMessage)
    // history reads (t$history, TIMESTAMP AS OF, vacuum's referenced
    // set) fail the same way
    val eHist = intercept[IllegalArgumentException](
      GraftLog.versionTimestamps(flat))
    assert(eHist.getMessage.contains("_manifest"))
    val eRead = intercept[Exception](readBack(flat).count())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(eRead).exists(_.contains("_manifest")), msgs(eRead))
    // a ts-less 7-field commit line: the parse names the line
    val short = tmp()
    series(50).coalesce(1)
      .write.format(Fmt).option("path", short).mode("append").save()
    val line7 = new String(java.nio.file.Files.readAllBytes(
      commit0(short))).linesIterator.next().split("\t", -1)
      .take(7).mkString("\t")
    java.nio.file.Files.write(commit0(short), line7.getBytes)
    val eLine = intercept[IllegalArgumentException](
      GraftLog.entriesAsOf(short, Long.MaxValue))
    assert(eLine.getMessage.contains("unparseable graft-log manifest " +
      s"line: $line7"), eLine.getMessage)
  }

  test("copy-on-write delete drops the range, rewrites a file subset") {
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val (rewritten, total) = deleteIds(dir, 500, 700, maxPositions = 0)
    assert(total == 4 && rewritten < total)
    val back = readBack(dir)
    assert(back.count() == 3800)
    assert(back.filter(col("id") >= 500 && col("id") < 700).count() == 0)
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 4000L).sum - (500L until 700L).sum)
  }

  test("partitioned write routes per value; equality prunes to one group") {
    val dir = tmp()
    spark.range(0, 8000).selectExpr("id", "id % 4 AS k")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    // clustered write distribution → exactly one file per value, each
    // carrying its partition record
    assert(live.size == 4, s"expected 4 per-value files, got ${live.size}")
    val pvs = live.map(e => graft.sources.GraftLogPartValue.of(e, "k"))
    assert(pvs.forall(_.isDefined))
    assert(pvs.map(_.get).toSet == Set(0L, 1L, 2L, 3L))
    val t = readBack(dir)
    assert(t.count() == 8000)
    assert(t.agg(sum(col("id"))).head.getLong(0) == (0L until 8000L).sum)
    // the scan plans one input partition per VALUE GROUP (sum is not
    // metadata-answerable, so this exercises the real grouped scan)
    val full = t.groupBy(col("k")).agg(sum(col("id")))
    full.collect()
    assert(full.queryExecution.executedPlan.toString
      .contains("partGroups=4"))
    // per-file k is constant, so min/max stats prune equality exactly
    val sel = t.filter(col("k") === 2)
    assert(sel.count() == 2000)
    assert(sel.queryExecution.executedPlan.toString.contains("files=1/4"))
  }

  test("storage-partitioned join: alike-partitioned tables, zero exchange") {
    val d1 = tmp(); val d2 = tmp()
    spark.range(0, 8000).selectExpr("id", "id % 8 AS k")
      .write.format(Fmt).option("path", d1)
      .option("partitionCol", "k").mode("append").save()
    spark.range(0, 800).selectExpr("id * 2 AS w", "id % 8 AS k")
      .write.format(Fmt).option("path", d2)
      .option("partitionCol", "k").mode("append").save()
    val priorB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = readBack(d1).join(readBack(d2), "k")
      // each of t1's 8000 rows matches t2's 100 same-k rows
      assert(j.count() == 800000L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join:\n${plan.take(1500)}")
      assert(!plan.contains("Exchange"),
        "alike-partitioned graft-log tables must join with ZERO " +
          s"exchange (storage-partitioned join):\n${plan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("partition evolution: repartition_table re-keys the layout " +
      "and the new key's grouping resumes immediately") {
    val dir = tmp()
    spark.range(0, 8000).selectExpr("id", "id % 4 AS a", "id % 8 AS b")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "a").mode("append").save()
    val v0 = graft.sources.GraftLog.currentVersion(dir)
    assert(graft.sources.GraftLog
      .repartitionTable(spark, dir, "b") == 4)
    assert(graft.sources.GraftLog.partitionColOf(dir).contains("b"))
    val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size == 8, s"one file per new-key value, got ${live.size}")
    assert(live.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "b").isDefined))
    // same rows, new layout
    val t = readBack(dir)
    assert(t.count() == 8000)
    assert(t.agg(sum(col("id"))).head.getLong(0) == (0L until 8000L).sum)
    // the relayout is invisible to the change feed (dataChange=false)
    assert(graft.sources.GraftLog.changedEntriesBetween(dir, v0,
      graft.sources.GraftLog.currentVersion(dir)).isEmpty)
    // grouped scan resumes on the NEW key
    val g = t.groupBy(col("b")).agg(sum(col("id")))
    g.collect()
    assert(g.queryExecution.executedPlan.toString
      .contains("partGroups=8"))
    // appends now route by b and keep the per-value contract
    spark.range(8000, 8800).selectExpr("id", "id % 4 AS a",
        "id % 8 AS b")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "b").mode("append").save()
    val after = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(after.size == 16 && after.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "b").isDefined))
    // re-keying to the current key is a no-op
    assert(graft.sources.GraftLog
      .repartitionTable(spark, dir, "b") == 0)
    // time travel still reads the pre-evolution snapshot
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", v0.toString).load().count() == 8000)
  }

  test("compaction on a partitioned table preserves the per-value layout") {
    val dir = tmp()
    // three appends x 4 values = 12 small per-value files
    for (lo <- Seq(0L, 4000L, 8000L))
      spark.range(lo, lo + 4000).selectExpr("id", "id % 4 AS k")
        .write.format(Fmt).option("path", dir)
        .option("partitionCol", "k").mode("append").save()
    assert(graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
      .size == 12)
    assert(graft.sources.GraftLog.compact(dir) == 12)
    val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    // one file per VALUE, each keeping its partition record — nightly
    // compaction must not forfeit storage-partitioned joins
    assert(live.size == 4)
    assert(live.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "k").isDefined))
    val t = readBack(dir)
    assert(t.count() == 12000)
    assert(t.agg(sum(col("id"))).head.getLong(0) == (0L until 12000L).sum)
    val g = t.groupBy(col("k")).agg(sum(col("id")))
    g.collect()
    assert(g.queryExecution.executedPlan.toString.contains("partGroups=4"))
    // per-value compaction is idempotent
    assert(graft.sources.GraftLog.compact(dir) == 0)
    // the change feed sees nothing across the compaction
    assert(graft.sources.GraftLog.changedEntriesBetween(dir,
      graft.sources.GraftLog.currentVersion(dir) - 1,
      Long.MaxValue).isEmpty)
  }

  test("a failing compaction group strands NO output files — its own " +
      "or completed siblings'") {
    import graft.sources.GraftLog
    val dir = tmp()
    spark.range(0, 8000).selectExpr("id", "id % 8 AS k", "id * 2 AS v")
      .repartition(2)
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    spark.range(8000, 16000).selectExpr("id", "id % 8 AS k",
        "id * 2 AS v")
      .repartition(2)
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size > 8, "need multi-file groups to compact")
    // corrupt ONE group's input so its rewrite throws mid-stream —
    // the failure must propagate AND every group's uncommitted
    // outputs must be deleted (failed writer tasks abort their files;
    // the scratch table they were written into is removed)
    val victim = live.head.file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, victim),
      Array.fill[Byte](64)(0x7f))
    val beforeFiles = Option(new java.io.File(dir).listFiles())
      .get.map(_.getName).filter(_.startsWith("part-")).toSet
    intercept[Exception](GraftLog.compact(dir))
    val afterFiles = Option(new java.io.File(dir).listFiles())
      .get.map(_.getName).filter(_.startsWith("part-")).toSet
    assert(afterFiles == beforeFiles,
      s"failed compaction stranded outputs: ${afterFiles -- beforeFiles}")
    assert(scratchDirs(dir).isEmpty,
      s"failed compaction left scratch tables: ${scratchDirs(dir)}")
    // the manifest is untouched — no version was published
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue)
      .map(_.file).toSet == live.map(_.file).toSet)
  }

  private def scratchDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("__rewrite-") || n.startsWith("__cdc-"))

  test("a copy-on-write DELETE over a corrupt part fails and leaves " +
      "no scratch table behind") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.LessThan
    val dir = tmp()
    spark.range(0, 2000).selectExpr("id", "id * 2 AS v").repartition(2)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val v0 = GraftLog.currentVersion(dir)
    GraftLog.entriesAsOf(dir, Long.MaxValue).foreach(e =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, e.file),
        Array.fill[Byte](64)(0x7f)))
    intercept[Exception](GraftLog.deleteWhereMoR(spark, dir,
      Array(LessThan("id", 10L)), maxPositions = 0))
    assert(scratchDirs(dir).isEmpty,
      s"failed rewrite left scratch tables: ${scratchDirs(dir)}")
    assert(GraftLog.currentVersion(dir) == v0)
  }

  test("a rewrite whose replacement write fails leaves no CDC " +
      "sidecar behind") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(200).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = readBack(dir).schema
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    val boom = udf((id: Long) =>
      if (id >= 0L) throw new IllegalStateException("replacement failed")
      else id)
    val changes = readBack(dir).filter(col("id") < 10)
      .withColumn(GraftLog.ChangeTypeCol, lit("delete"))
    intercept[Exception](GraftLog.rewriteFiles(dir, live,
      readBack(dir).withColumn("id", boom(col("id"))), schema,
      cdcChanges = Some(changes)))
    val cdc = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith(GraftLog.CdcPrefix))
    assert(cdc.isEmpty, s"orphaned CDC sidecars: ${cdc.mkString(", ")}")
    assert(scratchDirs(dir).isEmpty)
    assert(GraftLog.currentVersion(dir) == 0L)
    assert(readBack(dir).count() == 200)
  }

  test("vacuum reaps scratch tables past the retention horizon") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir).mode("append").save()
    // what a process killed mid-rewrite leaves: a scratch table with
    // a written part file
    for (name <- Seq("__rewrite-dead", "__cdc-dead")) {
      val scratch = new java.io.File(dir, name)
      series(10).write.format(Fmt).option("path", scratch.getPath)
        .mode("append").save()
    }
    // inside the default horizon a scratch table may be in flight
    GraftLog.vacuum(dir)
    assert(scratchDirs(dir).size == 2)
    GraftLog.vacuum(dir, minAgeMs = 0L)
    assert(scratchDirs(dir).isEmpty,
      s"vacuum left scratch tables: ${scratchDirs(dir)}")
    assert(readBack(dir).count() == 100)
  }

  test("compaction and OPTIMIZE ZORDER refuse to run under WAP or a " +
      "branch, and commit nothing") {
    import graft.sources.GraftLog
    val dir = tmp()
    for (_ <- 1 to 2)
      series(100).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    val v0 = GraftLog.currentVersion(dir)
    for (conf <- Seq(GraftLog.WapConf, GraftLog.BranchConf)) {
      spark.conf.set(conf, "audit1")
      try {
        val c = intercept[IllegalStateException](GraftLog.compact(dir))
        assert(c.getMessage.contains("compaction"), c.getMessage)
        val z = intercept[IllegalStateException](
          GraftLog.optimizeZorder(spark, dir, "id", "bucket"))
        assert(z.getMessage.contains("OPTIMIZE ZORDER"), z.getMessage)
      } finally spark.conf.unset(conf)
      assert(GraftLog.currentVersion(dir) == v0)
    }
    assert(GraftLog.compact(dir) == 2)
  }

  test("parallel per-group compaction: 16 values with DVs and a " +
      "rename in play, results identical to the serial contract") {
    import graft.sources.GraftLog
    val dir = tmp()
    for (lo <- Seq(0L, 16000L, 32000L))
      spark.range(lo, lo + 16000).selectExpr("id", "id % 16 AS k",
          "id * 2 AS v")
        .write.format(Fmt).option("path", dir)
        .option("partitionCol", "k").mode("append").save()
    // merge-on-read delete leaves DVs on a subset of files; a rename
    // forces per-group re-keying of stats and cells
    GraftLog.deleteWhereMoR(spark, dir, Array(
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100L),
        org.apache.spark.sql.sources.LessThan("id", 300L))))
    GraftLog.renameColumn(dir, "v", "val2")
    val before = readBack(dir).agg(sum(col("id")), sum(col("val2")),
      count(lit(1))).head
    assert(GraftLog.compact(dir) == 48)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size == 16, s"one output per value: ${live.size}")
    assert(live.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "k").isDefined &&
        e.cols == Seq("id", "k", "val2") &&
        GraftLog.dvOf(e).isEmpty))
    val after = readBack(dir).agg(sum(col("id")), sum(col("val2")),
      count(lit(1))).head
    assert(after == before,
      "parallel group compaction changed row content")
    // grouped scan + value pruning still work on the compacted layout
    val t = readBack(dir)
    val g = t.groupBy(col("k")).agg(sum(col("id")))
    g.collect()
    assert(g.queryExecution.executedPlan.toString
      .contains("partGroups=16"))
    // Compaction stamps file-EXACT stats computed from the surviving
    // cells, so even though every group folded a DV'd input, each
    // output carries its true k range (min=max=value) and a value
    // predicate prunes to exactly one file.
    val sel = t.filter(col("k") === 7)
    val selDesc = sel.queryExecution.executedPlan.toString
    val selM = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(selDesc)
      .getOrElse(fail(s"no files=kept/total in:\n$selDesc"))
    assert(selM.group(1).toInt == 1 && selM.group(2).toInt == 16,
      s"post-DV compacted partitions must still prune: " +
        s"files=${selM.group(1)}/${selM.group(2)}")
    assert(sel.count() == (0L until 48000L).count(i =>
      i % 16 == 7 && !(i >= 100 && i < 300)))
  }

  test("streaming writes route per partition value too") {
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    spark.range(0, 1200).selectExpr("id", "id % 3 AS k").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    val q = spark.readStream.format(Fmt).option("path", src).load()
      .writeStream.format(Fmt)
      .option("path", dst).option("partitionCol", "k")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val live = graft.sources.GraftLog.entriesAsOf(dst, Long.MaxValue)
    assert(live.nonEmpty)
    assert(live.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "k").isDefined),
      "streaming epoch commits must carry partition records")
    assert(live.map(e =>
      graft.sources.GraftLogPartValue.of(e, "k").get).toSet ==
      Set(0L, 1L, 2L))
    assert(readBack(dst).count() == 1200)
  }

  test("SQL UPDATE on a partitioned table keeps the layout and SPJ") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft-spj-upd-wh").toString
    spark.conf.set("spark.sql.catalog.graftpu", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftpu.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftpu.db")
    spark.sql("""CREATE TABLE graftpu.db.t (id BIGINT, k BIGINT,
      v BIGINT) PARTITIONED BY (k)""")
    spark.sql(
      "INSERT INTO graftpu.db.t SELECT id, id % 4, id FROM range(2000)")
    val dir = s"$wh/db/t"
    // the COW rewrite routes per value: the rewritten files keep their
    // partition records and grouping stays intact
    spark.sql("UPDATE graftpu.db.t SET v = -v WHERE k = 2")
    def readBack(d: String) = spark.read.format(Fmt)
      .option("path", d).load()
    val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "k").isDefined),
      "COW update must preserve partition records")
    val t = readBack(dir)
    assert(t.count() == 2000)
    assert(t.filter(col("k") === 2).agg(sum(col("v"))).head.getLong(0) ==
      -(2L until 2000L by 4).sum)
    assert(t.filter(col("k") === 1).agg(sum(col("v"))).head.getLong(0) ==
      (1L until 2000L by 4).sum)
    val g = t.groupBy(col("k")).agg(sum(col("id")))
    g.collect()
    assert(g.queryExecution.executedPlan.toString
      .contains("partGroups=4"))
  }

  test("OPTIMIZE ZORDER rejects identity-partitioned tables loudly") {
    val dir = tmp()
    spark.range(0, 100).selectExpr("id", "id % 4 AS k")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    val e = intercept[Exception] {
      graft.sources.GraftLog.optimizeZorder(spark, dir, "id", "k")
    }
    assert(e.getMessage.contains("partition layout owns"))
  }

  test("SPJ with mismatched partition value sets stays correct") {
    val d1 = tmp(); val d2 = tmp()
    // t1 holds k = 0..7, t2 only k = 0..3 — Spark either aligns the
    // missing groups (pushPartValues) or falls back to a shuffle; both
    // must produce the exact inner-join result
    spark.range(0, 1600).selectExpr("id", "id % 8 AS k")
      .write.format(Fmt).option("path", d1)
      .option("partitionCol", "k").mode("append").save()
    spark.range(0, 400).selectExpr("id * 2 AS w", "id % 4 AS k")
      .write.format(Fmt).option("path", d2)
      .option("partitionCol", "k").mode("append").save()
    val priorB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = readBack(d1).join(readBack(d2), "k")
      // t1 rows with k in 0..3: 200 per k x 100 t2 rows per k
      assert(j.count() == 4L * 200 * 100)
      val perK = j.groupBy(col("k")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perK.keySet == Set(0L, 1L, 2L, 3L))
      assert(perK.values.forall(_ == 20000L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("partitioned write: NULL keys form their own group; overwrite relayouts") {
    val dir = tmp()
    spark.range(0, 1000)
      .selectExpr("id", "CASE WHEN id % 5 = 4 THEN NULL ELSE id % 5 END AS k")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    // 4 value files + the NULL-partition file, each with its record
    assert(live.size == 5)
    val pvs = live.map(e => graft.sources.GraftLogPartValue.of(e, "k"))
    assert(pvs.forall(_.isDefined))
    assert(pvs.count(_.get == null) == 1)
    val t = readBack(dir)
    assert(t.count() == 1000)
    assert(t.filter(col("k").isNull).count() == 200)
    // grouping includes the NULL group (sum forces the real scan)
    val g = t.groupBy(col("k")).agg(sum(col("id")))
    g.collect()
    assert(g.queryExecution.executedPlan.toString.contains("partGroups=5"))
    // an APPEND may not silently relayout — fails before writing
    val e = intercept[Exception] {
      spark.range(0, 10).selectExpr("id", "id AS k")
        .write.format(Fmt).option("path", dir)
        .option("partitionCol", "id").mode("append").save()
    }
    assert(e.getMessage.contains("partitioned by k") ||
      Option(e.getCause).exists(_.getMessage.contains("partitioned by k")))
    // an OVERWRITE replaces every live file and may redeclare the
    // layout
    spark.range(0, 100).selectExpr("id", "id % 2 AS k")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "id").mode("overwrite").save()
    assert(graft.sources.GraftLog.partitionColOf(dir).contains("id"))
    assert(readBack(dir).count() == 100)
  }

  test("GROUP BY the partition column answers from the manifest alone") {
    val dir = tmp()
    spark.range(0, 8000).selectExpr("id", "id % 4 AS k")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    val g = readBack(dir).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    val rows = g.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.forall(_._2 == 2000L))
    assert(rows.map(_._3).toSeq == Seq(7996L, 7997L, 7998L, 7999L))
    assert(g.queryExecution.executedPlan.toString
      .contains("metaGroups=4"),
      "partition-grouped aggregate must fold from the manifest")
    // the global metadata path still answers ungrouped aggregates
    val tot = readBack(dir).agg(count(lit(1)))
    assert(tot.head.getLong(0) == 8000L)
    assert(tot.queryExecution.executedPlan.toString.contains("metaCount="))
  }

  test("partitioned table: COW update keeps partition records and SPJ") {
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id % 4 AS k")
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    // the maintenance rewrite machinery (shared by COW delete/merge)
    // must re-route rewritten rows into per-value files
    deleteIds(dir, 100, 200, maxPositions = 0)
    val live = graft.sources.GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.forall(e =>
      graft.sources.GraftLogPartValue.of(e, "k").isDefined),
      "maintenance rewrite must preserve partition records")
    val t = readBack(dir)
    assert(t.count() == 3900)
    val g = t.groupBy(col("k")).agg(sum(col("id")))
    g.collect()
    assert(g.queryExecution.executedPlan.toString
      .contains(s"partGroups=${live.map(e =>
        graft.sources.GraftLogPartValue.of(e, "k").get).distinct.size}"))
  }

  test("checkpointed log plans O(live + tail) across 100+ commits") {
    import graft.sources.{GraftLog, LogEntry}
    val dir = tmp()
    // three real data commits (versions 0-2), then a long metadata
    // churn: 110 add+remove commit pairs of phantom files — the
    // unbounded-history shape a streaming sink's per-epoch commits
    // produce. Planning must NOT pay for that history.
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    series(50).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    series(25).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = readBack(dir).schema
    (0 until 110).foreach { i =>
      GraftLog.commitNew(dir, schema)(v =>
        Seq(LogEntry.add(v, s"phantom-$i", 0L, Map.empty,
          cols = schema.fieldNames.toSeq)))
      GraftLog.commitNew(dir, schema)(v =>
        Seq(LogEntry.remove(v, s"phantom-$i")))
    }
    assert(GraftLog.currentVersion(dir) == 222L)
    val plan = GraftLog.snapshotAsOf(dir, Long.MaxValue)
    assert(plan.checkpointVersion.isDefined,
      "223 commits must have produced a checkpoint")
    assert(plan.segmentsRead <= GraftLog.CheckpointInterval,
      s"planning read ${plan.segmentsRead} log segments — " +
        "O(history), not O(live + tail)")
    assert(plan.entries.map(_.rows).sum == 175L)
    assert(readBack(dir).count() == 175)
    // time travel BELOW the first checkpoint still replays correctly
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "1").load().count() == 150)
    // ... and to a mid-history version above one checkpoint but below
    // the newest (checkpoints are KEPT, so this is also O(live+tail))
    val mid = GraftLog.snapshotAsOf(dir, 100L)
    assert(mid.checkpointVersion.exists(_ <= 100L))
    assert(mid.segmentsRead <= GraftLog.CheckpointInterval)
    assert(mid.entries.map(_.rows).sum == 175L)
  }

  test("the columnar decoder serves evolution, nulls, _file and " +
      "projection order") {
    import graft.sources.{GraftLog, GraftLogPartition, GraftLogReaderFactory}
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val dir = tmp()
    // vintage 1: (id, v, tag) with NULLs in v and tag
    spark.range(0, 500)
      .selectExpr("id", "nullif(id % 7, 3) AS v",
        "nullif(concat('t', id % 5), 't2') AS tag")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    // vintage 2 evolves: adds w — vintage-1 files must read NULL for it
    spark.range(500, 700)
      .selectExpr("id", "id % 7 AS v", "concat('t', id % 5) AS tag",
        "id * 2 AS w")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val table = GraftLog.storedSchema(dir).get
    // require every column plus the _file metadata column, in an order
    // different from the file layout (exercises the projection map)
    val required = StructType(Seq(
      StructField("w", LongType), StructField("tag", StringType),
      StructField("_file", StringType), StructField("id", LongType),
      StructField("v", LongType)))
    val fac = new GraftLogReaderFactory(table, required)
    val entries = GraftLog.entriesAsOf(dir, Long.MaxValue)
    val rows = entries.flatMap { e =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val rd = fac.createColumnarReader(GraftLogPartition(dir, e.file,
        e.cols))
      while (rd.next()) {
        val it = rd.get().rowIterator()
        while (it.hasNext) {
          val r = it.next()
          out += required.fields.zipWithIndex.map { case (f, i) =>
            if (r.isNullAt(i)) "NULL"
            else f.dataType match {
              case LongType => r.getLong(i).toString
              case _ => r.getUTF8String(i).toString
            }
          }.mkString("|")
        }
      }
      rd.close()
      out
    }
    // every row, in the required (w, tag, _file, id, v) order: w NULL
    // for vintage 1, the NULLs of v and tag surfaced, _file naming the
    // row's own part file
    val Seq(f1, f2) = entries.map(_.file)
    def cell(x: Option[Any]) = x.fold("NULL")(_.toString)
    val expected = (0L until 500L).map(id => Seq("NULL",
      cell(Option.when(id % 5 != 2)(s"t${id % 5}")), f1, id.toString,
      cell(Option.when(id % 7 != 3)(id % 7))).mkString("|")) ++
      (500L until 700L).map(id => Seq((id * 2).toString, s"t${id % 5}",
        f2, id.toString, (id % 7).toString).mkString("|"))
    assert(rows.size == 700)
    assert(rows == expected, rows.zip(expected).collectFirst {
      case (a, b) if a != b => s"read='$a' expected='$b'"
    }.getOrElse("size mismatch"))
    // the one reader has no row path
    intercept[UnsupportedOperationException](
      fac.createReader(GraftLogPartition(dir, f1, entries.head.cols)))
  }

  test("a DELETE's position scan over four files runs as one job") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.In
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    var res = (0, 0, false)
    // one matched row in each of the four files
    val jobs = jobsDuring {
      res = GraftLog.deleteWhereMoR(spark, dir,
        Array(In("id", Array(5L, 1500L, 2500L, 3500L))))
    }
    assert(res == (4, 4, true), res)
    assert(jobs == 1, s"the position scan ran $jobs jobs")
    assert(dvFiles(dir) == 4)
    assert(readBack(dir).count() == 3996L)
  }

  test("a DELETE over the position cap in many files ships no positions " +
    "and rewrites copy-on-write") {
    import graft.sources.GraftLog
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    import org.apache.spark.sql.sources.{In, LessThan}
    val dir = tmp()
    spark.range(0, 24000).selectExpr("id", "id AS v")
      .repartitionByRange(12, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val cap = 1500
    // the largest task result (bytes) of the first job `body` starts:
    // the position scan
    def scanResultBytes(body: => Unit): Long = {
      val sc = spark.sparkContext
      val tag = "graft.test.scanResultBytes"
      val token = java.util.UUID.randomUUID().toString
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val max = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (stages.isEmpty &&
              Option(e.properties).exists(_.getProperty(tag) == token))
            e.stageIds.foreach(stages.add)
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId) && e.taskMetrics != null)
            max.accumulateAndGet(e.taskMetrics.resultSize, math.max)
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty(tag, token)
      try { body; org.apache.spark.GraftTestShim.drainListeners(sc) }
      finally {
        sc.setLocalProperty(tag, null)
        sc.removeSparkListener(listener)
      }
      max.get
    }
    val files = GraftLog.entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
    assert(files.size == 12)
    // every file matches all of its ~2,000 rows, each over the cap
    var res = (0, 0, false)
    val bytes = scanResultBytes {
      res = GraftLog.deleteWhereMoR(spark, dir,
        Array(LessThan("id", 24000L)), maxPositions = cap)
    }
    assert(res == (12, 12, false), res)
    assert(bytes > 0L && bytes < cap * 8L,
      s"a scan task shipped $bytes bytes, as much as $cap positions")
    assert(dvFiles(dir) == 0)
    assert(readBack(dir).count() == 0L)
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
      .intersect(files).isEmpty)
    // every file under the cap, all of them over it: 200 matches each
    val dir2 = tmp()
    spark.range(0, 24000).selectExpr("id", "id AS v")
      .repartitionByRange(12, col("id"))
      .write.format(Fmt).option("path", dir2).mode("append").save()
    val files2 = GraftLog.entriesAsOf(dir2, Long.MaxValue).map(_.file).toSet
    val res2 = GraftLog.deleteWhereMoR(spark, dir2,
      Array(In("id", (0L until 24000L by 10L).toArray[Any])),
      maxPositions = cap)
    assert(res2 == (12, 12, false), res2)
    assert(dvFiles(dir2) == 0)
    assert(GraftLog.entriesAsOf(dir2, Long.MaxValue).map(_.file).toSet
      .intersect(files2).isEmpty)
    assert(readBack(dir2).count() == 21600L)
    assert(readBack(dir2).filter(col("id") % 10 === 0).isEmpty)
  }

  test("MoR delete: deletion vector hides rows without rewriting files") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, And}
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val filesBefore = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .map(_.file).toSet
    val (touched, total, usedDv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(And(GreaterThanOrEqual("id", 500L), LessThan("id", 700L))))
    assert(usedDv && total == 4 && touched == 1,
      s"expected a 1-file DV commit, got ($touched, $total, $usedDv)")
    // the POINT of merge-on-read: zero part files rewritten
    val after = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(after.map(_.file).toSet == filesBefore,
      "MoR delete must not rewrite any part file")
    assert(after.count(e => GraftLog.dvOf(e).isDefined) == 1)
    val back = readBack(dir)
    assert(back.count() == 3800)
    assert(back.filter(col("id") >= 500 && col("id") < 700).count() == 0)
    assert(back.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 4000L).sum - (500L until 700L).sum)
    // time travel to the pre-delete version still sees every row
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load().count() == 4000)
    // a second delete stacks: positions merge into one DV per file
    val (t2, _, dv2) = GraftLog.deleteWhereMoR(spark, dir,
      Array(And(GreaterThanOrEqual("id", 600L), LessThan("id", 900L))))
    assert(dv2 && t2 == 1)
    assert(readBack(dir).count() == 3600)
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue)
      .count(e => GraftLog.dvOf(e).isDefined) == 1,
      "re-delete must merge into the file's single DV")
  }

  test("MoR delete: oversized position set falls back to COW rewrite") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.LessThan
    val dir = tmp()
    spark.range(0, 4000).selectExpr("id", "id AS v")
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val before = GraftLog.entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
    val (touched, _, usedDv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(LessThan("id", 2000L)), maxPositions = 100)
    assert(!usedDv, "2000 positions over a 100 cap must go copy-on-write")
    assert(touched >= 1)
    val after = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(after.map(_.file).toSet != before, "COW fallback rewrites")
    assert(after.forall(e => GraftLog.dvOf(e).isEmpty))
    assert(readBack(dir).count() == 2000)
  }

  test("DVs and the statistics spine: exact COUNT, honest MIN, compaction purge") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.LessThan
    val dir = tmp()
    spark.range(0, 2000).selectExpr("id", "id AS v")
      .repartitionByRange(2, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    // delete the MINIMUM rows — the manifest min is now stale
    val (_, _, dv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(LessThan("id", 10L)))
    assert(dv)
    // COUNT(*) still answers from the manifest, minus DV cardinality
    val cnt = readBack(dir).agg(count(lit(1)))
    assert(cnt.head.getLong(0) == 1990)
    assert(cnt.queryExecution.executedPlan.toString.contains(
      "metaCount=1990"), "COUNT must stay metadata-only and exact")
    // MIN must NOT be served from the stale manifest stats
    val mn = readBack(dir).agg(min(col("id")))
    assert(mn.head.getLong(0) == 10L,
      "MIN over a DV'd file must come from the scan, not stale stats")
    assert(!mn.queryExecution.executedPlan.toString.contains("metaCount"),
      "MIN/MAX pushdown must disable itself on DV'd files")
    // compaction materializes the deletes and purges the DV
    assert(GraftLog.compact(dir) == 2)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size == 1 && live.forall(e => GraftLog.dvOf(e).isEmpty))
    assert(readBack(dir).count() == 1990)
    // compaction recomputes stats EXACTLY from the surviving cells, so
    // post-DV compacted files regain the metadata-only MIN/MAX path —
    // and the answer reflects the delete, never the stale pre-DV stats
    val mnAfter = readBack(dir).agg(min(col("id")))
    assert(mnAfter.head.getLong(0) == 10L)
    assert(mnAfter.queryExecution.executedPlan.toString.contains(
      "metaCount="),
      "MIN after DV-delete + compact must answer from the manifest " +
        "(compaction stamps file-exact stats)")
  }

  test("restore drives deletion-vector state both directions") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.LessThan
    val dir = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    val (_, _, dv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(LessThan("id", 100L)))                                 // v1
    assert(dv && readBack(dir).count() == 900)
    // back to the pre-delete state: the DV clears
    GraftLog.restore(dir, 0L)                                      // v2
    assert(readBack(dir).count() == 1000)
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue)
      .forall(e => GraftLog.dvOf(e).isEmpty))
    // forward again: the DV re-applies
    GraftLog.restore(dir, 1L)                                      // v3
    assert(readBack(dir).count() == 900)
    assert(readBack(dir).filter(col("id") < 100).count() == 0)
  }

  test("vacuum reclaims superseded DVs, keeps the live one") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, And}
    val dir = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    def del(lo: Long, hi: Long) = GraftLog.deleteWhereMoR(spark, dir,
      Array(And(GreaterThanOrEqual("id", lo), LessThan("id", hi))))
    del(0, 50); del(50, 100) // second delete supersedes the first DV
    def dvFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("dv-")).map(_.getName).toSet
    assert(dvFiles.size == 2)
    val liveDv = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .flatMap(e => GraftLog.dvOf(e)).map(_._1).toSet
    assert(liveDv.size == 1)
    // default vacuum keeps history (time travel to v1 needs DV #1);
    // expire-history vacuum reclaims the superseded sidecar
    GraftLog.vacuum(dir, minAgeMs = 0L)
    assert(dvFiles.size == 2)
    GraftLog.vacuum(dir, minAgeMs = 0L, expireHistory = true)
    assert(dvFiles == liveDv, "superseded DV must be reclaimed")
    assert(readBack(dir).count() == 900)
  }

  test("expireLog bounds the metadata; sub-horizon travel fails loudly") {
    import graft.sources.{GraftLog, LogEntry}
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    series(60).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v1
    val schema = readBack(dir).schema
    // churn to version 25 (phantoms add+remove inside one commit, so
    // no snapshot ever plans them): checkpoints land every 10 commits
    (2 to 25).foreach { i =>
      GraftLog.commitNew(dir, schema)(v =>
        Seq(LogEntry.add(v, s"ph-$i", 0L, Map.empty,
          cols = schema.fieldNames.toSeq),
          LogEntry.remove(v, s"ph-$i")))
    }
    def segs = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("_commit."))
    val before = segs
    val deleted = GraftLog.expireLog(dir, 20L)
    assert(deleted > 0 && segs < before,
      s"expiration must delete commit files (deleted=$deleted)")
    val pivot = GraftLog.oldestReplayableVersion(dir)
    assert(pivot > 0L)
    // current state and post-pivot travel still replay exactly
    assert(readBack(dir).count() == 160)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", pivot.toString).load().count() == 160)
    // BELOW the horizon: loud failure, never a silent empty snapshot
    val e = intercept[IllegalArgumentException] {
      GraftLog.entriesAsOf(dir, 0L)
    }
    assert(e.getMessage.contains("expired"))
    // vacuum after expiration must keep the live files the checkpoint
    // references even though their add entries are gone from the log
    GraftLog.vacuum(dir, minAgeMs = 0L)
    assert(readBack(dir).count() == 160,
      "vacuum deleted live files referenced only via the checkpoint")
  }

  test("named refs: VERSION AS OF a tag through option and resolution") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    series(60).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v1
    GraftLog.setRef(dir, "gold", 0L)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "gold").load().count() == 100)
    // refs pin versions, numbers still work, unknown refs fail loudly
    assert(GraftLog.resolveVersion(dir, "1") == 1L)
    val e = intercept[IllegalArgumentException] {
      spark.read.format(Fmt).option("path", dir)
        .option("asOfVersion", "silver").load().count()
    }
    assert(e.getMessage.contains("no ref 'silver'"))
    // a ref cannot point past the head, and dropping one removes it
    intercept[IllegalArgumentException] {
      GraftLog.setRef(dir, "future", 7L)
    }
    GraftLog.dropRef(dir, "gold")
    assert(GraftLog.refs(dir).isEmpty)
  }

  test("overwrite keeps version-anchored side state: a ref, a branch " +
      "and a staged WAP id still resolve against the history") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    series(60).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save() // v1
    GraftLog.setRef(dir, "gold", 1L)
    GraftLog.createBranch(dir, "dev")
    spark.conf.set(GraftLog.WapConf, "aud9")
    try series(30).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    finally spark.conf.unset(GraftLog.WapConf)
    // the overwrite is version 2; versions never restart, so `gold=1`
    // keeps naming the pre-overwrite snapshot
    series(10).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    series(20).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(GraftLog.currentVersion(dir) == 3L)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "gold").load().count() == 160)
    // the branch still reads main AT ITS FORK (v1)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("branch", "dev").load().count() == 160)
    // publishing the audit appends its staged rows onto the current
    // (post-overwrite) snapshot, as an append committed now would
    assert(readBack(dir).count() == 30)
    assert(GraftLog.publishStaged(dir, "aud9") == (4L, 1))
    assert(readBack(dir).count() == 60)
  }

  test("compaction rolls outputs at the target size — files stay splittable-sized") {
    import graft.sources.GraftLog
    val dir = tmp()
    // three commits so compaction has work; ~90k chars of rows total
    (1 to 3).foreach(_ => series(1000).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save())
    GraftLog.setProperties(dir, Map("graft.compact.target-bytes" -> "20000"))
    GraftLog.compact(dir)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size > 1,
      s"a 20k target over ~90k chars must roll: got ${live.size} file(s)")
    // every row survives, and no rolled file exceeds ~target
    assert(readBack(dir).count() == 3000)
    assert(live.map(_.rows).sum == 3000L)
    live.foreach(e => assert(e.rows < 2000L,
      s"${e.file} holds ${e.rows} rows — target ignored"))
    // rolled files carry the group's folded [min, max]: sound for
    // skipping, and the global fold still serves the exact extremes
    val agg = readBack(dir).agg(
      org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).head
    assert(agg.getLong(0) == 0L && agg.getLong(1) == 999L)
  }

  test("an append larger than the table's target rolls into several " +
      "files, every row intact") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(10).write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.setProperties(dir, Map("graft.compact.target-bytes" -> "20000"))
    // one task, ~90k chars of rows
    series(3000).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val added = GraftLog.entries(dir)
      .filter(e => e.isAdd && e.version == GraftLog.currentVersion(dir))
    assert(added.size > 1,
      s"a 20k target over ~90k chars must roll: got ${added.size} file(s)")
    assert(added.map(_.rows).sum == 3000L)
    // each file closes at the first row that reaches the target
    added.foreach(e => assert(
      e.stats(GraftLog.RawBytesKey)._1.toLong < 20000L + 100L,
      s"${e.file} overshot the target: ${e.stats(GraftLog.RawBytesKey)}"))
    val back = readBack(dir)
    assert(back.count() == 3010L)
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 10L).sum + (0L until 3000L).sum)
  }

  test("write-audit-publish: staged appends invisible until published") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir)
      .mode("append").save() // v0, committed
    spark.conf.set(GraftLog.WapConf, "audit1")
    try {
      series(60).write.format(Fmt).option("path", dir)
        .mode("append").save() // STAGED, not committed
      // the audit session reads snapshot + staged overlay
      assert(readBack(dir).count() == 160)
      // row-level mutations refuse to run mid-audit (they cannot
      // stage — silent immediate commit would break the pattern)
      intercept[IllegalStateException] {
        deleteIds(dir, 0L, 10L)
      }
    } finally spark.conf.unset(GraftLog.WapConf)
    // no commit happened; an ordinary reader sees only v0
    assert(GraftLog.currentVersion(dir) == 0L)
    assert(readBack(dir).count() == 100)
    // explicit audit read via option, without the session conf
    assert(spark.read.format(Fmt).option("path", dir)
      .option("wapId", "audit1").load().count() == 160)
    // vacuum keeps staged parts (referenced by the side file only)
    GraftLog.vacuum(dir, minAgeMs = 0L)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("wapId", "audit1").load().count() == 160,
      "vacuum reclaimed staged part files")
    // publish: ONE ordinary commit, then everyone sees 160
    val (v, n) = GraftLog.publishStaged(dir, "audit1")
    assert(v == 1L && n >= 1)
    assert(readBack(dir).count() == 160)
    // exactly-once: a second publish of the same id fails loudly
    intercept[IllegalArgumentException] {
      GraftLog.publishStaged(dir, "audit1")
    }
    // the published version is an ordinary commit: time travel below
    // it still sees 100, and the change feed carries the new rows
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load().count() == 100)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("changesFromVersion", "0").load().count() == 60)
  }

  test("a stream sees a WAP batch only at publish, exactly once") {
    import graft.sources.GraftLog
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    def runStream(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .writeStream.format(Fmt).option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.range(0, 100).selectExpr("id").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    spark.conf.set(GraftLog.WapConf, "sbatch")
    try spark.range(100, 160).selectExpr("id").coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    finally spark.conf.unset(GraftLog.WapConf)
    // staged rows are not committed: the stream must not deliver them
    runStream()
    assert(readBack(dst).count() == 100,
      "a stream must never see staged (unpublished) rows")
    // publish, resume: exactly the published batch arrives, once
    GraftLog.publishStaged(src, "sbatch")
    runStream()
    val b = readBack(dst)
    assert(b.count() == 160 && b.select(col("id")).distinct().count() == 160,
      s"publish must reach the stream exactly once, got ${b.count()}")
  }

  test("a crashed publish cannot double-commit on retry") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir)
      .mode("append").save()
    spark.conf.set(GraftLog.WapConf, "crashy")
    try series(50).write.format(Fmt).option("path", dir)
      .mode("append").save()
    finally spark.conf.unset(GraftLog.WapConf)
    // simulate the crash window: commit lands, side-file delete lost
    val staged = new java.io.File(dir, GraftLog.StagedPrefix + "crashy")
    val bytes = java.nio.file.Files.readAllBytes(staged.toPath)
    GraftLog.publishStaged(dir, "crashy")
    java.nio.file.Files.write(staged.toPath, bytes) // resurrect staging
    val e = intercept[IllegalStateException] {
      GraftLog.publishStaged(dir, "crashy")
    }
    assert(e.getMessage.contains("already published"))
    assert(!staged.exists(), "the stale staging must be retired")
    assert(readBack(dir).count() == 150, "rows must not duplicate")
  }

  test("drop_staged abandons a failed audit and reclaims its files") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).write.format(Fmt).option("path", dir)
      .mode("append").save()
    spark.conf.set(GraftLog.WapConf, "bad-batch")
    try series(40).write.format(Fmt).option("path", dir)
      .mode("append").save()
    finally spark.conf.unset(GraftLog.WapConf)
    val partsBefore = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    val dropped = GraftLog.dropStaged(dir, "bad-batch")
    assert(dropped >= 1)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-")) == partsBefore - dropped)
    assert(readBack(dir).count() == 100)
    assert(GraftLog.listStagedIds(dir).isEmpty)
    intercept[IllegalArgumentException] {
      GraftLog.publishStaged(dir, "bad-batch")
    }
  }

  test("two cross-process committers racing one version both survive") {
    import graft.sources.{GraftLog, LogEntry}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val dir = tmp()
    series(10).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = readBack(dir).schema
    // Both committers read the log head BEFORE either claims the
    // version (the latch releases only when both are inside mk), so
    // both attempt `_commit.1` — the hard-link CAS lets exactly one
    // win and the loser must retry at version 2, not silently drop.
    // commitNewUnlocked bypasses the JVM object lock: this is the
    // separate-process code path.
    val latch = new CountDownLatch(2)
    def committer(tag: String): Thread = {
      val t = new Thread(() => {
        GraftLog.commitNewUnlocked(dir, schema) { v =>
          if (latch.getCount > 0) {
            latch.countDown(); latch.await(10, TimeUnit.SECONDS)
          }
          Seq(LogEntry.add(v, s"part-race-$tag", 1L, Map.empty,
            cols = schema.fieldNames.toSeq))
        }
        ()
      })
      t.start(); t
    }
    val ts = Seq(committer("a"), committer("b"))
    ts.foreach(_.join(30000))
    val es = GraftLog.entries(dir)
    assert(es.exists(_.file == "part-race-a") &&
      es.exists(_.file == "part-race-b"),
      s"a racing commit was dropped: ${es.map(_.file)}")
    assert(es.filter(_.file.startsWith("part-race-"))
      .map(_.version).distinct.size == 2,
      "the two commits must land at distinct versions")
    assert(GraftLog.currentVersion(dir) == 2L)
  }

  test("txn markers: latest per writer, survive checkpoints and " +
      "log expiration") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(10).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(GraftLog.lastTxnVersion(dir, "mv") == -1L)
    GraftLog.commitTxn(dir, "mv", 3L)
    GraftLog.commitTxn(dir, "other", 1L)
    GraftLog.commitTxn(dir, "mv", 7L)
    assert(GraftLog.lastTxnVersion(dir, "mv") == 7L)
    assert(GraftLog.lastTxnVersion(dir, "other") == 1L)
    // markers never surface as data files or change-feed rows
    assert(GraftLog.committedFiles(dir).forall(!_.startsWith("txn:")))
    assert(GraftLog.changedEntriesBetween(dir, -1L, Long.MaxValue)
      .forall(_.action == "add"))
    // force a reconciled checkpoint, then expire the commit tail
    // beneath it: the marker must ride the checkpoint
    (0 until 12).foreach(i =>
      spark.range(1).selectExpr(s"id + ${100 + i} AS id",
          "CAST(0 AS INT) AS bucket", "CAST(0.0 AS DOUBLE) AS value",
          "'t' AS tag")
        .write.format(Fmt).option("path", dir).mode("append").save())
    GraftLog.expireLog(dir, GraftLog.currentVersion(dir))
    assert(GraftLog.lastTxnVersion(dir, "mv") == 7L,
      "txn marker lost to log expiration — checkpoints must carry it")
    assert(GraftLog.lastTxnVersion(dir, "other") == 1L)
  }

  test("materialized aggregate view: delta-bounded refresh, " +
      "exactly-once across retries, equals full recompute") {
    import graft.sources.{GraftLog, MaterializedAgg}
    val dir = tmp(); val src = s"$dir/src"; val mv = s"$dir/mv"
    def srcFrame(lo: Int, hi: Int, mod: Int) =
      spark.range(lo, hi).selectExpr("id", s"id % $mod AS bucket",
        "id AS v")
    srcFrame(0, 3000, 50).repartition(4)
      .write.format(Fmt).option("path", src).mode("append").save()
    val r0 = MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"))
    assert(r0.mode == "bootstrap")
    // append touching only buckets 0..9; refresh scans ONLY the delta
    srcFrame(3000, 3500, 10).coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    val r1 = MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"))
    assert(r1.mode == "incremental")
    assert(r1.deltaFiles == 1 && r1.srcFilesTotal == 5,
      s"refresh must scan the delta file only, got $r1")
    assert(r1.rewrittenMvFiles < r1.mvFilesTotal,
      s"merge must rewrite only view files holding touched groups: $r1")
    // retry with no new source commits: metadata no-op, no double-count
    val r2 = MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"))
    assert(r2.mode == "noop" && r2.deltaFiles == 0)
    // a compaction advances the source version with dataChange=false:
    // the refresh must advance its marker without re-applying rows
    GraftLog.compact(src)
    val r3 = MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"))
    assert(r3.mode == "noop",
      s"a no-data-change version must not re-apply rows: $r3")
    assert(GraftLog.lastTxnVersion(mv, "materialized-agg") ==
      GraftLog.currentVersion(src))
    // one more real round, then the view must equal a full recompute
    srcFrame(3500, 3600, 25).coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"))
    val got = readBack(mv).orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = readBack(src).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq,
      "incrementally maintained view diverged from full recompute")
  }

  test("materialized view MIN/MAX tighten incrementally under the " +
      "insert-only feed") {
    import graft.sources.MaterializedAgg
    val dir = tmp(); val src = s"$dir/src"; val mv = s"$dir/mv"
    // seed values 100..999; later batches push a NEW min (5) into
    // bucket 0 and a NEW max (9999) into bucket 1 — the combine must
    // tighten both, and leave untouched buckets alone
    spark.range(100, 1000).selectExpr("id % 4 AS bucket", "id AS v")
      .coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"),
      minMaxCols = Seq("v"))
    spark.sql("SELECT CAST(0 AS BIGINT) AS bucket, CAST(5 AS BIGINT) AS v" +
        " UNION ALL SELECT 1, 9999")
      .coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    MaterializedAgg.refresh(spark, src, mv, "bucket", Seq("v"),
      minMaxCols = Seq("v"))
    val got = readBack(mv)
      .select("bucket", "min_v", "max_v").orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = readBack(src).groupBy(col("bucket"))
      .agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq,
      s"min/max diverged: ${got.toSeq} vs ${want.toSeq}")
    assert(got.exists(t => t._1 == 0L && t._2 == 5L) &&
      got.exists(t => t._1 == 1L && t._3 == 9999L))
  }

  test("txnAppId/txnVersion: a replayed batch append is a no-op") {
    import graft.sources.GraftLog
    val dir = tmp()
    def writeBatch(batchId: Long, lo: Int, hi: Int): Unit =
      series(hi).filter(col("id") >= lo).coalesce(1)
        .write.format(Fmt).option("path", dir)
        .option("txnAppId", "ingest")
        .option("txnVersion", batchId.toString)
        .mode("append").save()
    writeBatch(0L, 0, 100)
    writeBatch(1L, 100, 150)
    assert(readBack(dir).count() == 150)
    // the replay: same (appId, version) — silent no-op, and the
    // replay's freshly written part files must not linger as orphans
    val before = GraftLog.entriesAsOf(dir, Long.MaxValue).size
    writeBatch(1L, 100, 150)
    writeBatch(0L, 0, 100)
    assert(readBack(dir).count() == 150,
      "a replayed idempotent append duplicated rows")
    assert(GraftLog.entriesAsOf(dir, Long.MaxValue).size == before)
    val orphans = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("part-")).toSet --
      GraftLog.entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
    assert(orphans.isEmpty, s"replay left orphan part files: $orphans")
    // a DIFFERENT writer's versions are independent
    series(160).filter(col("id") >= 150).coalesce(1)
      .write.format(Fmt).option("path", dir)
      .option("txnAppId", "backfill").option("txnVersion", "0")
      .mode("append").save()
    assert(readBack(dir).count() == 160)
    assert(GraftLog.lastTxnVersion(dir, "ingest") == 1L &&
      GraftLog.lastTxnVersion(dir, "backfill") == 0L)
  }

  test("foreachBatch + txn options survive a LOST CHECKPOINT without " +
      "duplicating a micro-batch") {
    import graft.sources.GraftLog
    val dir = tmp()
    val src = s"$dir/src"; val dst = s"$dir/dst"
    val ckpt1 = s"$dir/ckpt1"; val ckpt2 = s"$dir/ckpt2"
    series(3000).coalesce(1)
      .write.format(Fmt).option("path", src).mode("append").save()
    def runStream(ckpt: String): Unit = {
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.format(Fmt).option("path", dst)
            .option("txnAppId", "fb-sink")
            .option("txnVersion", id.toString)
            .mode("append").save()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream(ckpt1)
    assert(spark.read.format(Fmt).option("path", dst).load()
      .count() == 3000)
    // the disaster: the checkpoint is gone, the stream restarts from
    // scratch and REPLAYS batch 0 — the txn marker, not the
    // checkpoint, is what keeps the sink exactly-once
    runStream(ckpt2)
    assert(spark.read.format(Fmt).option("path", dst).load()
      .count() == 3000,
      "a checkpoint-less replay duplicated the micro-batch")
    assert(GraftLog.lastTxnVersion(dst, "fb-sink") == 0L)
  }

  test("branch writes are invisible to main; branch reads pin the fork") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val fork = GraftLog.createBranch(dir, "dev")
    assert(fork == 0L)
    spark.conf.set(GraftLog.BranchConf, "dev")
    try {
      series(150).filter(col("id") >= 100).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
      // same session, branch set: the read sees fork + branch
      assert(readBack(dir).count() == 150)
      // row-level mutation mid-branch is loud, not a silent main write
      val e = intercept[IllegalStateException] {
        GraftLog.mergeUpsert(spark,
          dir, series(1).limit(1), "id")
      }
      assert(e.getMessage.contains("branch"))
    } finally spark.conf.unset(GraftLog.BranchConf)
    // mainline readers never see the branch
    assert(readBack(dir).count() == 100)
    assert(GraftLog.currentVersion(dir) == 0L)
    // main moves on; the branch read stays pinned at its fork
    series(220).filter(col("id") >= 200).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 120)
    val branchRows = spark.read.format(Fmt).option("path", dir)
      .option("branch", "dev").load()
    assert(branchRows.count() == 150)
    assert(branchRows.agg(max(col("id"))).head.getLong(0) == 149L,
      "a post-fork main commit leaked into the branch read")
    // vacuum must treat branch part files as referenced
    val deleted = GraftLog.vacuum(dir, minAgeMs = 0L)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("branch", "dev").load().count() == 150,
      s"vacuum reclaimed live branch files: deleted=$deleted")
    // a moved main is a real conflict: fast-forward is loud
    val ff = intercept[IllegalArgumentException] {
      GraftLog.fastForward(dir, "dev")
    }
    assert(ff.getMessage.contains("advanced"))
    // the branch survives the refused publish; dropping reclaims it
    val gone = GraftLog.dropBranch(dir, "dev")
    assert(gone == 1)
    assert(GraftLog.branches(dir).isEmpty)
    assert(readBack(dir).count() == 120)
  }

  test("fast-forward publishes a multi-commit branch exactly once") {
    import graft.sources.GraftLog
    val dir = tmp()
    series(100).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.createBranch(dir, "fix")
    spark.conf.set(GraftLog.BranchConf, "fix")
    try {
      series(130).filter(col("id") >= 100).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
      series(160).filter(col("id") >= 130).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    } finally spark.conf.unset(GraftLog.BranchConf)
    assert(GraftLog.branchHead(dir, "fix") == 2L)
    val (v, n) = GraftLog.fastForward(dir, "fix")
    assert(v == 1L && n == 2, s"published ($v, $n)")
    assert(readBack(dir).count() == 160)
    assert(GraftLog.branches(dir).isEmpty,
      "fast-forward must retire the branch")
    // pre-publish main is still time-travelable
    assert(spark.read.format(Fmt).option("path", dir)
      .option("asOfVersion", "0").load().count() == 100)
    // a branch left behind by a publish that crashed AFTER its commit
    // — the fork-qualified txn marker landed atomically with it, so
    // the retry refuses EXACTLY (the earlier are-all-files-live
    // heuristic re-published when compaction retired the files inside
    // the crash window) and retires the stale branch
    GraftLog.createBranch(dir, "fix2")
    val fork2 = GraftLog.currentVersion(dir)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .filter(_.file.startsWith("part-")).take(1)
    GraftLog.appendToBranch(dir, "fix2",
      live.map(e => graft.sources.GraftLogCommit(e.file, e.rows,
        cols = e.cols)),
      graft.sources.GraftLog.storedSchema(dir).get)
    GraftLog.commitTxn(dir, s"branch:fix2@$fork2", 1L)
    val crash = intercept[IllegalStateException] {
      GraftLog.fastForward(dir, "fix2")
    }
    assert(crash.getMessage.contains("already"))
    assert(GraftLog.branches(dir).isEmpty)
    assert(readBack(dir).count() == 160, "a crashed-publish retry " +
      "must not duplicate rows")
  }
}
