package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Formats, Tables}

/** Round-trip equality for every source/sink format. */
class FormatsSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_fmt_$name").toString

  test("csv round-trip preserves rows and schema") {
    val src = Tables.customer(spark, sf0001)
    val p = tmp("csv")
    Formats.writeCsv(src, p)
    val back = Formats.readCsv(spark, p, src.schema)
    assert(back.schema == src.schema)
    assert(back.collect().map(_.toSeq).toSet == src.collect().map(_.toSeq).toSet)
  }

  test("json round-trip preserves rows incl. timestamps") {
    val src = Tables.events(spark, sf0001).limit(200)
    val p = tmp("json")
    Formats.writeJson(src, p)
    val back = Formats.readJson(spark, p, src.schema)
    assert(back.count() == 200)
    assert(back.agg(min("ts"), max("ts")).collect().head ==
      src.agg(min("ts"), max("ts")).collect().head)
  }

  test("orc round-trip preserves rows and schema") {
    val src = Tables.lineitem(spark, sf0001).limit(500)
    val p = tmp("orc")
    Formats.writeOrc(src, p)
    val back = Formats.readOrc(spark, p)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() == 500)
  }

  test("schema evolution: mergeSchema unions old and new columns") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evolve").toString
    val v1 = Tables.region(spark, sf001)
    v1.write.parquet(s"$dir/batch=1")
    // a later writer adds a column — the standard additive evolution
    val v2 = Tables.region(spark, sf001)
      .withColumn("r_comment",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("about "),
          org.apache.spark.sql.functions.col("r_name")))
    v2.write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("r_regionkey", "r_name", "r_comment", "batch"))
    assert(merged.count() == v1.count() * 2)
    // old-batch rows surface the new column as null, new-batch as values
    assert(merged.filter(org.apache.spark.sql.functions.col("batch") === 1
      && org.apache.spark.sql.functions.col("r_comment").isNotNull).count() == 0)
    assert(merged.filter(org.apache.spark.sql.functions.col("batch") === 2
      && org.apache.spark.sql.functions.col("r_comment").isNull).count() == 0)
  }

  test("corrupt JSON records are captured, not dropped or fatal") {
    import spark.implicits._
    val good = """{"k": 1, "s": "ok"}"""
    val bad = """{"k": oops"""
    val ds = Seq(good, bad, good).toDS()
    val schema = "k LONG, s STRING, _corrupt_record STRING"
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(ds)
    assert(parsed.count() == 3)
    assert(parsed.filter(org.apache.spark.sql.functions
      .col("_corrupt_record").isNotNull).count() == 1)
    assert(parsed.filter(org.apache.spark.sql.functions
      .col("k") === 1).count() == 2)
  }

  test("partitioned parquet prunes partitions on the filter") {
    val src = Tables.orders(spark, sf0001)
      .withColumn("o_year", year(col("o_orderdate")))
    val p = tmp("part")
    Formats.writePartitioned(src, p, "o_year")
    val back = spark.read.parquet(p).filter(col("o_year") === 1996)
    // partition pruning: the filter must land in the scan's
    // PartitionFilters (directory-level skip), not a post-scan Filter
    val scanned = back.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scanned.contains("PartitionFilters"), scanned.take(800))
    assert("PartitionFilters:[^\\]]*o_year[^\\]]*1996".r
      .findFirstIn(scanned).isDefined,
      s"o_year=1996 not in PartitionFilters:\n${scanned.take(800)}")
    assert(back.count() ==
      src.filter(col("o_year") === 1996).count())
    assert(back.count() > 0)
  }
}
