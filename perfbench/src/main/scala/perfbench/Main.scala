package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace (0|1),
  * cores, fixtures (the parquet fixture directory), scratch (an empty
  * directory the run owns), out (the result file), expected (the recorded
  * fingerprints), launch_ns (epoch nanoseconds at process launch) and
  * record (1 = record fingerprints instead of checking them).
  *
  * The run: session → workload set-up → warm-up pass (checks outputs)
  * → start controls → timed phase of `seconds` (whole passes, at least
  * two) → end controls. Load is a
  * closed loop with this one client thread; Spark's `cores` task threads
  * are the only parallelism. The result file holds raw samples and
  * records; `run.py` turns them into metrics. */
object Main {
  private implicit val formats: Formats = DefaultFormats
  final case class Sample(op: String, kind: String, pass: Int, index: Int, lat: Double,
      build: Double, traced: Boolean, ok: Boolean, returned: Long)

  private val nanoBase = System.nanoTime()
  private val epochMsBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds of a `System.nanoTime` reading, the clock the
    * listener timestamps use. */
  def epochMs(ns: Long): Double = epochMsBase + (ns - nanoBase) / 1e6

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  /** The scan control of `graft.Bench`: a fixed filter-count over
    * lineitem. Median of three after one warm run. */
  def scanControl(spark: SparkSession, fixtures: String): Double = {
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
    def once(): Double = {
      val t0 = System.nanoTime()
      li.filter(col("l_quantity") <= 25.0).select(col("l_orderkey")).count()
      secs(t0)
    }
    once()
    Workload.median(Seq.fill(3)(once()))
  }

  private val cpuA = Array.tabulate(4096)(i => i.toLong * 3)
  private val cpuB = Array.tabulate(4096)(i => i.toLong * 5)
  @volatile var cpuSink = 0L

  /** The CPU-kernel control of `graft.Bench`: a two-pointer sorted
    * intersection over fixed arrays, no Spark, no IO. Median of three
    * after one warm run. */
  def cpuControl(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 2000) {
        var i = 0; var j = 0; var c = 0
        while (i < cpuA.length && j < cpuB.length) {
          val x = cpuA(i); val y = cpuB(j)
          if (x == y) { c += 1; i += 1; j += 1 }
          else if (x < y) i += 1 else j += 1
        }
        cpuSink += c
        rep += 1
      }
      secs(t0)
    }
    once()
    Workload.median(Seq.fill(3)(once()))
  }

  /** The machine's CPU time so far, in clock ticks: (all, stolen). The
    * stolen share of the timed phase says how much of the host the
    * hypervisor gave to others while it ran. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The program's own memory now, in MB: the heap still in use after a
    * full collection, plus the non-heap pools in use (metaspace, code
    * cache). Not timed; it takes about half a second. */
  def liveMb(): Double = {
    // the second collection frees what Spark's cleaner released after
    // the first one cleared its weak references
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val launchNs = a("launch_ns").toLong
    def sinceLaunch(): Double = {
      val t = java.time.Instant.now()
      (t.getEpochSecond * 1000000000L + t.getNano - launchNs) / 1e9
    }
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val record = a.get("record").contains("1")
    val cores = a("cores").toInt
    val fixtures = a("fixtures")

    val spark = graft.functions.GraftExtensions
      .builder(s"local[$cores]", cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceLaunch()
    val tracer = new Tracer(spark)

    val expected = a.get("expected").filter(p => !record && Files.exists(Paths.get(p)))
      .map(p => Serialization.read[Map[String, Map[String, String]]](
        new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)).map {
          case (k, m) => k -> Check.Print(m("rows").toLong, m("digest")) })
      .getOrElse(Map.empty)
    val ctx = Ctx(spark, fixtures, seed, a("scratch"), record, expected)
    val wl = Workload(workloadName, ctx)

    val t0 = System.nanoTime()
    wl.setup()
    val fixtureS = secs(t0)

    val samples = ArrayBuffer.empty[Sample]
    val errors = ArrayBuffer.empty[String]
    val mismatches = ArrayBuffer.empty[String]
    var checks = 0
    var checkS = 0.0

    def check(op: Op, p: Prepared): Long = {
      val t = System.nanoTime()
      checks += 1
      val res = try p.check() catch {
        case e: Throwable => Some(s"${op.name}: check threw ${describe(e)}")
      }
      res.foreach(mismatches += _)
      checkS += secs(t)
      p.returned()
    }

    // One timed pass, each op built and run (and checked right after,
    // where the workload's state changes between runs).
    def runPass(p: Int): Unit = wl.pass(p).zipWithIndex.foreach { case (op, i) =>
      val traced = trace && Math.floorMod(op.name.hashCode + p, 2) == 0
      val id = s"$p.$i"
      val s0 = System.nanoTime()
      var s1, s2 = s0
      var prepared: Prepared = null
      def body(): Boolean = try {
        if (traced) tracer.setSpan(s"$id:build")
        prepared = op.build()
        s1 = System.nanoTime()
        if (traced) tracer.setSpan(s"$id:action")
        prepared.run()
        true
      } catch {
        case e: Throwable =>
          errors += s"${op.name}: ${describe(e)}"
          false
      } finally {
        s2 = System.nanoTime()
        tracer.setSpan("")
      }
      val ok = if (traced) tracer.traced(body()) else body()
      if (traced) {
        tracer.addSpan(id, "", op.name, "op", epochMs(s0), epochMs(s2))
        tracer.addSpan(s"$id:build", id, op.name, "build", epochMs(s0), epochMs(s1))
        tracer.addSpan(s"$id:action", id, op.name, "action", epochMs(s1), epochMs(s2))
      }
      val lat = (s2 - s0) / 1e9
      if (ok) wl.timed(op, lat)
      val returned = if (ok && wl.checkEachRun) check(op, prepared) else -1L
      samples += Sample(op.name, op.kind, p, i, lat, (s1 - s0) / 1e9, traced, ok, returned)
    }

    // Warm-up: every op once, outputs checked.
    val w0 = System.nanoTime()
    val warmupOps = wl.warmup
    val warmupTimes = warmupOps.map { op =>
      val t = System.nanoTime()
      try {
        val p = op.build()
        if (wl.checkEachRun) p.run()
        check(op, p)
      } catch {
        case e: Throwable => errors += s"${op.name} (warm-up): ${describe(e)}"
      }
      Map("op" -> op.name, "s" -> secs(t))
    }
    val warmupS = secs(w0)
    // set-up ends here; the memory reading and the controls that follow
    // are the benchmark's own
    val setupS = sinceLaunch()

    if (record) {
      Recorder.write(ctx, a("out"))
      spark.stop()
      return
    }

    val liveSetupMb = liveMb()
    // the controls bracket the timed phase, both taken in a warm JVM
    val scanStart = scanControl(spark, fixtures)
    val cpuStart = cpuControl()
    wl.startTimed()

    // Timed phase: whole passes until `seconds` have gone by, and at
    // least two, so every run times the same mix of ops and each op at
    // least twice. In a traced run each op is traced in every other pass,
    // half the ops of each pass; an op's traced and untraced runs give
    // `trace.overhead`.
    val checkBeforeS = checkS
    val ticks0 = cpuTicks()
    val phase0 = System.nanoTime()
    val deadline = phase0 + (seconds * 1e9).toLong
    var p = 0
    while (p < 2 || System.nanoTime() < deadline) {
      runPass(p)
      p += 1
    }

    val timedWallS = secs(phase0)
    val ticks1 = cpuTicks()
    val stealShare = (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1)

    val scanEnd = scanControl(spark, fixtures)
    val cpuEnd = cpuControl()
    val layers = wl.layers()
    val liveEndMb = liveMb()

    val out = Serialization.write(Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmupS,
      "setup_s" -> setupS, "timed_wall_s" -> timedWallS, "timed_check_s" -> (checkS - checkBeforeS),
      "warmup_ops" -> warmupOps.size, "warmup" -> warmupTimes, "checks" -> checks,
      "mismatches" -> mismatches.toSeq, "errors" -> errors.toSeq,
      "samples" -> samples.toSeq.map(s => Map("op" -> s.op, "kind" -> s.kind,
        "pass" -> s.pass, "index" -> s.index, "lat" -> s.lat, "build" -> s.build, "traced" -> s.traced,
        "ok" -> s.ok, "returned" -> s.returned)),
      "controls" -> Map("scan_start_s" -> scanStart, "scan_end_s" -> scanEnd,
        "cpu_start_s" -> cpuStart, "cpu_end_s" -> cpuEnd, "steal_share" -> stealShare),
      "layers" -> layers.toMap,
      "peak_rss_mb" -> peakRssMb(), "live_setup_mb" -> liveSetupMb, "live_end_mb" -> liveEndMb,
      "trace_records" -> (if (trace) tracer.records else Map.empty)))
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Record mode: the fingerprints of the warm-up pass become the expected
  * values, and each op's result is saved as parquet beside its oracle SQL
  * (`SparkEntry.oracleSql`), the layout `tools/check_correctness.py` reads,
  * so the recording can be vetted against DuckDB. */
object Recorder {
  private implicit val formats: Formats = DefaultFormats
  def write(ctx: Ctx, out: String): Unit = {
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    val prints = ctx.recorded.map { case (k, v) => k -> v.toMap }
    Files.write(outDir.resolve("expected.json"),
      Serialization.write(TreeMap.from(prints)).getBytes(StandardCharsets.UTF_8))
    val oracles = graft.SparkEntry.oracleSql.filter(kv => ctx.recorded.contains(kv._1))
    Files.write(outDir.resolve("oracle_sql.json"),
      Serialization.write(TreeMap.from(oracles)).getBytes(StandardCharsets.UTF_8))
    ctx.recordedFrames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(outDir.resolve(name).toString)
    }
  }
}
