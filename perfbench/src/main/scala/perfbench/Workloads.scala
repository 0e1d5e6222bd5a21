package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.MiniFrame

/** An op after its build step: `run` is the timed action, `check` runs
  * the op's output check (outside any timing) and returns a mismatch
  * message, or None when the output is right. A workload checked in its
  * warm-up pass calls `check` without `run`, so `check` computes the
  * output itself. `returned` gives, after the check, the rows the op
  * returned where the workload knows them (-1 elsewhere). */
final case class Prepared(run: () => Unit, check: () => Option[String],
    returned: () => Long = () => -1L)

/** One benchmark operation. `build` is the eager client-side work that comes
  * before the action (DataFrame construction, schema reads, ingest);
  * the benchmark times build and action as one op latency and keeps the
  * two spans apart in a traced run. `kind` is "read" for ops whose
  * latency feeds the latency metrics, else the kind of write. */
final case class Op(name: String, kind: String, build: () => Prepared)

final case class Ctx(spark: SparkSession, fixtures: String, seed: Long,
    scratch: String, record: Boolean, expected: Map[String, Check.Print]) {
  /** Fingerprints captured in record mode, written out at the end. */
  val recorded = scala.collection.mutable.LinkedHashMap.empty[String, Check.Print]
  val recordedFrames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  /** Compare a result with the recorded expectation (record mode keeps
    * it instead). */
  def expect(name: String, df: DataFrame): Option[String] = {
    val got = Check.inSpark(df)
    if (record) { recorded(name) = got; recordedFrames(name) = df; None }
    else expected.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$name: got ${got.rows} rows ${got.digest.take(12)}, " +
          s"expected ${want.rows} rows ${want.digest.take(12)}")
      case None => Some(s"$name: no recorded expectation")
    }
  }
}

trait Workload {
  /** Fixture and artifact builds; part of set-up. */
  def setup(): Unit = ()
  /** The untimed pass that warms the JVM and session and checks outputs. */
  def warmup: Seq[Op]
  /** Pass `p` of the timed phase, in the seed's order. */
  def pass(p: Int): Seq[Op]
  /** True when every op is checked right after its timed run (the
    * workload's state changes between runs); else the warm-up pass
    * checks each op once. */
  def checkEachRun: Boolean = false
  /** Called once between warm-up and the timed phase. */
  def startTimed(): Unit = ()
  /** Told the latency of every op of the timed phase. */
  def timed(op: Op, seconds: Double): Unit = ()
  /** Layer metrics the workload measures itself (core.*, log.*, artifact.*). */
  def layers(): Seq[(String, Double)] = Nil
}

object Workload {
  def seededOrder[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(xs)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pandas_interactive" => new PandasInteractive(ctx)
    case "tpch_sql" => new Queries(ctx, tpchNames, () =>
      graft.queries.SqlInterface.warmArtifacts(ctx.spark, ctx.fixtures))
    case "llm_curation" => new LlmCuration(ctx)
    case "lakehouse_rw" => new Lakehouse(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The 23 reference-parity ops (S/P/F/E/J ids and the flagship). */
  def parityNames: Seq[String] =
    graft.queries.Parity.queries.keys.toSeq.sorted

  def tpchNames: Seq[String] =
    "q1_agg_pricing_summary" +: (2 to 22).map(i => s"sql_tpch_q$i")

  /** The similarity-search ops of the LLM data-curation set. */
  def simNames: Seq[String] = graft.SparkEntry.queries.keys.toSeq
    .filter(_.startsWith("sim_")).sorted
}

/** Registered queries from `SparkEntry.queries`, each timed as build +
  * `noop` write (every output column materialized, no rows collected)
  * and checked once, by fingerprint, in the warm-up pass. */
class Queries(ctx: Ctx, names: Seq[String], prepare: () => Unit = () => ())
    extends Workload {
  private val all = graft.SparkEntry.queries
  names.foreach(n => require(all.contains(n), s"no query $n"))

  protected def queryOp(name: String): Op = Op(name, "read", () => {
    val df = all(name)(ctx.spark, ctx.fixtures)
    Prepared(() => df.write.mode("overwrite").format("noop").save(),
      () => ctx.expect(name, df))
  })

  protected def extraOps: Seq[Op] = Nil
  protected lazy val ops: Seq[Op] = extraOps ++ names.map(queryOp)
  override def setup(): Unit = prepare()
  def warmup: Seq[Op] = Workload.seededOrder(ops, ctx.seed, -1)
  def pass(p: Int): Seq[Op] = Workload.seededOrder(ops, ctx.seed, p)
}

/** The reference's own harness (`large_scale_test`) beside the parity ops:
  * a seeded 100k-row frame built with `MiniFrame.fromDict`, masked with
  * `(price+5>10) & (sales>3) & ~taxed`, then `frame(mask)("SKU").values()`. */
class PandasInteractive(ctx: Ctx) extends Queries(ctx, Workload.parityNames) {
  val N = 100000
  private val rnd = new Random(ctx.seed)
  private val alnum = ('A' to 'Z') ++ ('0' to '9')
  val sku: Seq[Any] = Vector.fill(N)(Seq.fill(3)(alnum(rnd.nextInt(alnum.size))).mkString)
  val price: Seq[Any] = Vector.fill(N)(rnd.nextDouble() * 10.0)
  val sales: Seq[Any] = Vector.fill(N)(rnd.nextInt(101).toLong)
  val taxed: Seq[Any] = Vector.fill(N)(rnd.nextBoolean())
  /** The harness answer computed on the generated columns directly. */
  lazy val want: Seq[Any] = (0 until N).filter { i =>
    price(i).asInstanceOf[Double] + 5.0 > 10.0 &&
      sales(i).asInstanceOf[Long] > 3L && !taxed(i).asInstanceOf[Boolean]
  }.map(sku)

  private val fromDictS, maskS, filterProjectS = ArrayBuffer.empty[Double]
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  val harness: Op = Op("harness_mask_project", "read", () => {
    val t0 = System.nanoTime()
    val frame = MiniFrame.fromDict(ctx.spark, Seq(
      "SKU" -> sku, "price" -> price, "sales" -> sales, "taxed" -> taxed))
    val t1 = System.nanoTime()
    val mask = ((frame("price") + 5.0) > 10.0) && (frame("sales") > 3L) && !frame("taxed")
    fromDictS += (t1 - t0) / 1e9; maskS += secs(t1)
    var got: Seq[Any] = Nil
    Prepared(() => {
      val t2 = System.nanoTime()
      got = frame(mask)("SKU").values()
      filterProjectS += secs(t2)
    }, () => {
      if (got.isEmpty) got = frame(mask)("SKU").values()
      if (got == want) None else Some(s"harness_mask_project: got ${got.size} values, " +
        s"expected ${want.size} (or the same count in another order or with other values)")
    })
  })

  override protected def extraOps: Seq[Op] = Seq(harness)
  override def startTimed(): Unit = {
    fromDictS.clear(); maskS.clear(); filterProjectS.clear()
  }
  override def layers(): Seq[(String, Double)] = Seq(
    "core.from_dict_s" -> Workload.median(fromDictS.toSeq),
    "core.mask_s" -> Workload.median(maskS.toSeq),
    "core.filter_project_s" -> Workload.median(filterProjectS.toSeq))
}

/** The similarity-search ops of the LLM data-curation set (the `sim_*`
  * queries: LSH, IVF and PQ nearest-neighbour search over the embeddings
  * fixture). Set-up builds the `Similarity` module's artifacts cold: the
  * scratch root starts empty, so every run builds them. */
class LlmCuration(ctx: Ctx) extends Queries(ctx, Workload.simNames) {
  private var warmS = 0.0
  override def setup(): Unit = {
    val t0 = System.nanoTime()
    graft.operators.Similarity.warmArtifacts(ctx.spark, ctx.fixtures)
    warmS = (System.nanoTime() - t0) / 1e9
  }
  override def layers(): Seq[(String, Double)] = Seq(
    "artifact.similarity_s" -> warmS,
    "artifact.built" ->
      graft.core.ArtifactCache.persistedEvents.values.count(_ == "built").toDouble,
    "artifact.root_bytes" -> graft.core.ArtifactCache.artifactRootBytes().toDouble)
}
