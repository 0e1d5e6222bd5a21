package graft

import scala.util.{Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.sources.Tables

/** The resolve-once contract of `sources.Tables`: a table's Parquet
  * schema is inferred once per (path, file fingerprint, Parquet confs),
  * later reads pass it to the reader and run no job, and every read is
  * still a fresh relation. Also the session confs its reads touch:
  * `withConf` scoping, and the one conf `eventsStream` leaves set. */
class TablesSchemaSpec extends SparkSpec {
  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tables-schema").toString

  test("a second lineitem build runs no Spark job") {
    // the first build infers (one job) unless an earlier suite did
    assert(jobsDuring(Tables.lineitem(spark, sf0001)) <= 1)
    assert(jobsDuring(Tables.lineitem(spark, sf0001)) == 0)
  }

  test("a self-join of two lineitem reads resolves on fresh exprIds") {
    val a = Tables.lineitem(spark, sf0001)
    val b = Tables.lineitem(spark, sf0001)
    val ids = (df: DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("l_orderkey") === b("l_orderkey") &&
      a("l_linenumber") === b("l_linenumber"))
    // each (orderkey, linenumber) group of n rows pairs n × n times
    val want = a.groupBy("l_orderkey", "l_linenumber").count()
      .select(sum(col("count") * col("count"))).head().getLong(0)
    assert(joined.count() == want)
  }

  test("a fixture rewritten at the same path is inferred again") {
    import spark.implicits._
    val dir = tmpDir()
    val path = s"$dir/t.parquet"
    Seq(1, 2, 3).toDF("a").write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    Seq("x", "y").toDF("b").write.mode("overwrite").parquet(path)
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("b"))
    assert(again.as[String].collect().sorted.toSeq == Seq("x", "y"))
  }

  private val micros = Seq(1700000000123456L, 1700000003000000L)
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** A fresh fixture dir whose events.parquet stores `ts` as int64
    * TIMESTAMP(NANOS), one row per [[micros]] value (+789 ns). */
  private def nanosEventsDir(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.foreach { m =>
      w.write(groups.newGroup().append("event_id", 1L)
        .append("ts", m * 1000L + 789L))
    } finally w.close()
    dir
  }

  /** `body`'s change to the session's explicit confs, run from a
    * session where `key` is unset; the prior value is put back. */
  private def confDiff(key: String)(body: => Unit): Set[(String, String)] = {
    val prior = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    try {
      val before = spark.conf.getAll.toSet
      body
      (spark.conf.getAll.toSet -- before) ++ (before -- spark.conf.getAll)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("an int64-nanos events.parquet reads as TimestampType each time; " +
      "the nanos-as-long schema stays out of plain reads") {
    val dir = nanosEventsDir()
    for (_ <- 1 to 2) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).sorted.toSeq == micros)
    }
    // an earlier streaming read may have left the conf set on the
    // shared session; a plain read is one made without it
    assert(confDiff(NanosKey) {
      val plain = Try(Tables.table(spark, dir, "events").schema("ts").dataType)
      assert(plain != Success(LongType), plain)
    }.isEmpty)
  }

  test("withConf restores a prior value, unsets a new key, restores on a throw") {
    // a registered key, whose getOption reports its default while unset
    assert(confDiff(NanosKey) {
      Tables.withConf(spark, NanosKey, "true")(())
      assert(!spark.conf.getAll.contains(NanosKey))
      spark.conf.set(NanosKey, "false")
      assert(Tables.withConf(spark, NanosKey, "true")(
        spark.conf.get(NanosKey)) == "true")
      assert(spark.conf.get(NanosKey) == "false")
      intercept[IllegalStateException](
        Tables.withConf(spark, NanosKey, "true")(
          throw new IllegalStateException("body failed")))
      assert(spark.conf.get(NanosKey) == "false")
      spark.conf.unset(NanosKey)
    }.isEmpty)
  }

  test("eventsStream leaves the session's confs unchanged on a " +
      "non-nanos fixture") {
    assert(confDiff(NanosKey)(Tables.eventsStream(spark, sf0001)).isEmpty)
  }

  test("eventsStream on a nanos fixture leaves exactly nanosAsLong=true") {
    val dir = nanosEventsDir()
    assert(confDiff(NanosKey)(Tables.eventsStream(spark, dir)) ==
      Set(NanosKey -> "true"))
  }
}
