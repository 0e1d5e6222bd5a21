package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of a run: the benchmark's own op/build/action spans
  * plus what Spark reports through its two listener interfaces — Catalyst
  * phase times per action (`QueryExecutionListener`, `qe.tracker`) and
  * jobs, stages and tasks with their metrics (`SparkListener`).
  *
  * The listeners are registered only while a traced op runs (see
  * [[traced]]), so an untraced op of the same run pays nothing for the
  * trace. Nothing is written while the run measures; [[records]] is read
  * once at the end. Span times are epoch milliseconds. Listener callbacks
  * run on Spark's listener-bus thread, after the fact, so what to keep
  * is decided by the job's `SpanProp` property captured at submission: a
  * job submitted outside a traced span is skipped with its stages and
  * tasks. Every buffer is appended under the tracer's lock. */
final class Tracer(spark: SparkSession) {

  /** op → build | action spans, recorded by the benchmark's client thread. */
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val phases = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val tasks = ArrayBuffer.empty[Map[String, Any]]
  /** Stages of kept jobs. */
  private val keptStages = scala.collection.mutable.HashSet.empty[Int]

  /** Local property naming the benchmark span a job was submitted under
    * (`<op id>:build` or `<op id>:action`). Spark copies local properties
    * into broadcast and subquery threads, so it follows the whole action. */
  val SpanProp = "perfbench.span"

  def setSpan(id: String): Unit = spark.sparkContext.setLocalProperty(SpanProp, id)

  /** The span of the marker job [[traced]] ends with. */
  private val DrainSpan = "perfbench.drain"
  private val drained = new java.util.concurrent.Semaphore(0)

  def addSpan(id: String, parent: String, op: String, kind: String,
      startMs: Double, endMs: Double): Unit = synchronized {
    spans += Map("id" -> id, "parent" -> parent, "op" -> op, "kind" -> kind,
      "start" -> startMs, "end" -> endMs)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.map(_.getProperty(SpanProp, "")).getOrElse("")
      if (span == DrainSpan) drained.release()
      else if (span.nonEmpty) Tracer.this.synchronized {
        jobs(e.jobId) = Map("job" -> e.jobId, "start" -> e.time.toDouble,
          "span" -> span, "stages" -> e.stageIds.toList)
        keptStages ++= e.stageIds
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j + ("end" -> e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Tracer.this.synchronized {
        if (keptStages.contains(si.stageId))
          stages += Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
            "start" -> si.submissionTime.getOrElse(0L).toDouble,
            "end" -> si.completionTime.getOrElse(0L).toDouble,
            "tasks" -> si.numTasks, "name" -> si.name)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (keptStages.contains(e.stageId)) {
        val ti = e.taskInfo
        val m = Option(e.taskMetrics)
        def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long =
          m.map(f).getOrElse(0L)
        tasks += Map("stage" -> e.stageId, "start" -> ti.launchTime.toDouble,
          "end" -> ti.finishTime.toDouble,
          "run_ms" -> mv(_.executorRunTime), "cpu_ns" -> mv(_.executorCpuTime),
          "gc_ms" -> mv(_.jvmGCTime),
          "in_bytes" -> mv(_.inputMetrics.bytesRead),
          "in_rows" -> mv(_.inputMetrics.recordsRead),
          "shuffle_write" -> mv(_.shuffleWriteMetrics.bytesWritten),
          "shuffle_read" -> mv(_.shuffleReadMetrics.totalBytesRead),
          "spill" -> mv(t => t.memoryBytesSpilled + t.diskBytesSpilled))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      // one record per action: each Catalyst phase's [start, end]; the
      // reader keeps those inside a traced span
      val rec = qe.tracker.phases.toSeq.flatMap { case (name, p) =>
        Seq(s"${name}_start" -> p.startTimeMs.toDouble,
          s"${name}_end" -> p.endTimeMs.toDouble)
      }.toMap[String, Any]
      Tracer.this.synchronized { phases += rec }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Run `body` with both listeners registered. Both listeners sit on
    * Spark's shared listener queue, which delivers events in order; so
    * once a marker job submitted after `body` is seen to start, every
    * event of `body` has been delivered and the listeners can go. */
  def traced[T](body: => T): T = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    try body
    finally {
      setSpan(DrainSpan)
      try spark.sparkContext.parallelize(Seq(0), 1).count() finally setSpan("")
      drained.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS)
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(sparkListener)
    }
  }

  /** Spans and counts, read once at the end. */
  def records: Map[String, Any] = synchronized {
    Map("spans" -> spans.toList, "phases" -> phases.toList,
      "jobs" -> jobs.values.toList, "stages" -> stages.toList, "tasks" -> tasks.toList)
  }
}
