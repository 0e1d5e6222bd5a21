package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

import graft.sources.GraftLog

/** A lineitem-shaped row of the lakehouse table. */
final case class LRow(k: Long, part: Long, qty: Double, price: Double,
    disc: Double, flag: String, day: Int) {
  def cells: Seq[Any] = Seq(k, part, qty, price, disc, flag, day)
}

object LRow {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("part", LongType, nullable = false),
    StructField("qty", DoubleType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("disc", DoubleType, nullable = false),
    StructField("flag", StringType, nullable = false),
    StructField("day", IntegerType, nullable = false)))

  /** Bytes of one row in the benchmark's fixed-width encoding: five
    * 8-byte numbers, a 1-byte flag and a 4-byte day. */
  val Width = 8 * 5 + 1 + 4

  private val flags = Array("A", "N", "R")

  def of(r: Row): LRow = LRow(r.getAs[Long]("k"), r.getAs[Long]("part"),
    r.getAs[Double]("qty"), r.getAs[Double]("price"), r.getAs[Double]("disc"),
    r.getAs[String]("flag"), r.getAs[Int]("day"))

  def random(k: Long, rnd: Random): LRow = {
    val qty = (1 + rnd.nextInt(50)).toDouble
    LRow(k, 1L + rnd.nextInt(20000), qty,
      math.round(qty * (900 + rnd.nextInt(100000)) / 100.0) / 100.0,
      rnd.nextInt(11) / 100.0, flags(rnd.nextInt(3)), 8000 + rnd.nextInt(2500))
  }
}

/** The benchmark's in-memory model of the table: the live rows by key,
  * plus what each committed version held, for time-travel reads. */
final class LakeModel {
  val rows = mutable.TreeMap.empty[Long, LRow]
  /** version → (row count, sum of qty) */
  val versions = mutable.LinkedHashMap.empty[Long, (Long, Double)]

  def upsert(rs: Seq[LRow]): Unit = rs.foreach(r => rows(r.k) = r)
  def deleteRange(lo: Long, hi: Long): Int = {
    val gone = rows.range(lo, hi).keys.toList
    gone.foreach(rows.remove)
    gone.size
  }
  def range(lo: Long, hi: Long): Seq[LRow] = rows.range(lo, hi).values.toSeq
  def summary: (Long, Double) = (rows.size.toLong, rows.valuesIterator.map(_.qty).sum)
  /** flag → (count, sum qty, sum price) */
  def byFlag: Map[String, (Long, Double, Double)] =
    rows.values.groupBy(_.flag).map { case (f, rs) =>
      f -> (rs.size.toLong, rs.iterator.map(_.qty).sum, rs.iterator.map(_.price).sum)
    }
  def commit(version: Long): Unit = versions(version) = summary
}

object LakeModel {
  /** Sums are compared with a relative tolerance: the table adds the
    * same doubles in another order. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** A fresh graft-log table per run, written and read through the public
  * API: `append` through the `GraftLogSource` writer, `GraftLog.mergeUpsert`,
  * `GraftLog.deleteWhereMoR` and `GraftLog.compact`, interleaved with
  * pushed-predicate range reads, full aggregate reads and time-travel
  * reads at three reads per write. Every read is checked against
  * [[LakeModel]]; every write updates it. */
class Lakehouse(ctx: Ctx) extends Workload {
  import Lakehouse._
  private val spark = ctx.spark
  val dir: String = new java.io.File(ctx.scratch, "lakehouse_table").getPath
  val model = new LakeModel
  private var nextKey = 0L

  private val lat = mutable.HashMap.empty[String, ArrayBuffer[Double]]
  private var userBytes = 0L
  private var timedWrites = 0
  private var addsAtStart = 0L
  private var bytesAtStart = 0L

  private def frame(rs: Seq[LRow], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rs.map(r => Row.fromSeq(r.cells)), slices), LRow.schema)

  private def table: DataFrame =
    spark.read.format(Source).option("path", dir).load()

  private def committed(): Unit = model.commit(GraftLog.currentVersion(dir))

  private def fresh(n: Int, rnd: Random): Seq[LRow] = {
    val rs = (0 until n).map(i => LRow.random(nextKey + i, rnd))
    nextKey += n
    rs
  }

  override def setup(): Unit = {
    val rs = fresh(InitialRows, new Random(ctx.seed))
    frame(rs, 8).write.format(Source).option("path", dir).mode("append").save()
    // compaction rolls its output at ~1 MB of cells, so a compacted
    // table keeps several files and a merge rewrites only some of them
    GraftLog.setProperties(dir, Map("graft.compact.target-bytes" -> (1L << 20).toString))
    model.upsert(rs)
    committed()
  }

  /** A write's check records what the new version holds. */
  private def write(body: () => Unit, rows: Int): Prepared =
    Prepared(() => { body(); userBytes += rows.toLong * LRow.Width; timedWrites += 1 },
      () => { committed(); None })

  private def append(rnd: Random): Op = Op("append", "append", () => {
    val rs = fresh(AppendRows, rnd)
    val df = frame(rs, 1)
    write(() => {
      df.write.format(Source).option("path", dir).mode("append").save()
      model.upsert(rs)
    }, rs.size)
  })

  private def merge(rnd: Random): Op = Op("merge", "merge", () => {
    val lo = (rnd.nextDouble() * nextKey).toLong
    val updated = model.range(lo, lo + MergeSpan).map(r =>
      r.copy(qty = r.qty + 1, price = math.round(r.price * 105) / 100.0))
    val rs = updated ++ fresh(MergeInserts, rnd)
    val df = frame(rs, 1)
    write(() => {
      GraftLog.mergeUpsert(spark, dir, df, "k")
      model.upsert(rs)
    }, rs.size)
  })

  private def delete(rnd: Random): Op = Op("delete", "delete", () => {
    val lo = (rnd.nextDouble() * nextKey).toLong
    val hi = lo + DeleteSpan
    val filters: Array[Filter] = Array(GreaterThanOrEqual("k", lo), LessThan("k", hi))
    write(() => {
      GraftLog.deleteWhereMoR(spark, dir, filters)
      model.deleteRange(lo, hi)
    }, 0)
  })

  private def compact(): Op = Op("compact", "compact", () =>
    write(() => { GraftLog.compact(dir); () }, 0))

  private def rangeRead(rnd: Random): Op = Op("range_read", "read", () => {
    val lo = (rnd.nextDouble() * nextKey).toLong
    val df = table.filter(col("k") >= lo && col("k") < lo + RangeSpan)
    var returned = -1L
    Prepared(() => df.write.mode("overwrite").format("noop").save(), () => {
      val want = model.range(lo, lo + RangeSpan)
      val got = df.collect().map(LRow.of).sortBy(_.k).toSeq
      returned = want.size
      if (got == want) None
      else Some(s"range_read [$lo, ${lo + RangeSpan}): got ${got.size} rows, expected " +
        s"${want.size} (or the same count with other values)")
    }, () => returned)
  })

  private def aggRead(): Op = Op("agg_read", "read", () => {
    val df = table.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sq"), sum(col("price")).as("sp"))
    Prepared(() => df.write.mode("overwrite").format("noop").save(), () => {
      val got = df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val want = model.byFlag
      val ok = got.keySet == want.keySet && want.forall { case (f, (n, q, p)) =>
        val (gn, gq, gp) = got(f)
        gn == n && LakeModel.close(gq, q) && LakeModel.close(gp, p)
      }
      if (ok) None else Some(s"agg_read: got $got, expected $want")
    })
  })

  private def timeTravel(rnd: Random): Op = Op("time_travel_read", "read", () => {
    val vs = model.versions.keys.toIndexedSeq
    val v = vs(rnd.nextInt(vs.size))
    val df = spark.read.format(Source).option("path", dir)
      .option("asOfVersion", v.toString).load()
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sq"))
    Prepared(() => df.write.mode("overwrite").format("noop").save(), () => {
      val r = df.collect().head
      val (n, q) = model.versions(v)
      val gq = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
      if (r.getLong(0) == n && LakeModel.close(gq, q)) None
      else Some(s"time_travel_read v$v: got (${r.getLong(0)}, $gq), expected ($n, $q)")
    })
  })

  /** One pass: two rounds, so that a run of two passes times 48 reads. */
  def pass(p: Int): Seq[Op] = round(2 * p) ++ round(2 * p + 1)

  /** One round: the same mix every time — four writes (an append, a
    * merge, a delete, and a compaction every other round or else a
    * second append) and three reads per write (eight range reads, three
    * aggregate reads, one time-travel read) — in an order and with
    * arguments drawn from the seed. Range reads are two thirds of the
    * reads, so the median read lies among them, not on the boundary
    * between them and the slower aggregate reads, where it would jump
    * from run to run. */
  private def round(k: Int): Seq[Op] = {
    val rnd = new Random(ctx.seed * 1000003L + k)
    def r() = new Random(rnd.nextLong())
    val writes = Seq(append(r()), merge(r()), delete(r()),
      if (k % 2 == 1) compact() else append(r()))
    val reads = Seq.fill(8)(rangeRead(r())) ++ Seq.fill(3)(aggRead()) ++
      Seq(timeTravel(r()))
    rnd.shuffle(writes ++ reads)
  }

  /** Warm-up: one op of every kind, so the timed phase starts warm. */
  def warmup: Seq[Op] = {
    val rnd = new Random(ctx.seed * 1000003L - 1)
    Seq(rangeRead(rnd), aggRead(), append(rnd), merge(rnd), delete(rnd),
      timeTravel(rnd), compact(), rangeRead(rnd), aggRead())
  }

  override def checkEachRun: Boolean = true

  private def dirBytes(): Long = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.iterator.filter(_.isFile).map(_.length).sum
  }
  private def adds(): Long = GraftLog.entries(dir).count(_.isAdd).toLong

  override def startTimed(): Unit = {
    userBytes = 0; timedWrites = 0
    addsAtStart = adds(); bytesAtStart = dirBytes()
  }

  override def timed(op: Op, seconds: Double): Unit =
    lat.getOrElseUpdate(op.name, ArrayBuffer.empty) += seconds

  override def layers(): Seq[(String, Double)] = {
    def med(k: String) = Workload.median(lat.getOrElse(k, ArrayBuffer.empty).toSeq)
    val written = (dirBytes() - bytesAtStart).toDouble
    val w = math.max(timedWrites, 1)
    Seq(
      "log.append_s" -> med("append"), "log.merge_s" -> med("merge"),
      "log.delete_s" -> med("delete"), "log.compact_s" -> med("compact"),
      "log.read_s" -> Workload.median(
        Seq("range_read", "agg_read", "time_travel_read").flatMap(lat.getOrElse(_, Nil))),
      "log.commit_p50_s" -> Workload.median(
        Seq("append", "merge", "delete", "compact").flatMap(lat.getOrElse(_, Nil))),
      "log.files_added" -> (adds() - addsAtStart).toDouble / w,
      "log.bytes_written" -> written / w,
      "log.write_amp" -> (if (userBytes > 0) written / userBytes else 0.0),
      "log.bytes_per_user_byte" ->
        dirBytes().toDouble / math.max(1L, model.rows.size.toLong * LRow.Width))
  }
}

object Lakehouse {
  val Source = "graft.sources.GraftLogSource"
  val InitialRows = 100000
  val AppendRows = 2000
  val MergeSpan = 400
  val MergeInserts = 100
  val DeleteSpan = 2000
  val RangeSpan = 1000
}
