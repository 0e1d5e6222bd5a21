package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftLog

/** RENAME / DROP COLUMN evolution (Delta column-mapping 'name' mode in
  * miniature): both are metadata-only — a rename records the former
  * name on the field and every consumer (reader, stats skipping,
  * bloom probe, compaction, metadata aggregates) resolves each file's
  * LOCAL name through the trail; a drop narrows the schema and
  * tombstones the name so no later column can resurrect the orphaned
  * cells. */
class ColumnEvolutionSpec extends SparkSpec {
  private val Fmt = "graft.sources.GraftLogSource"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-colevo").toString

  private def read(dir: String) =
    spark.read.format(Fmt).option("path", dir).load()

  test("rename: old files serve data, stats, and blooms under the " +
      "new name; new files write it natively") {
    val dir = tmp()
    // two pre-rename files with disjoint id ranges + a string tag
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v",
        "CONCAT('a', CAST(id % 7 AS STRING)) AS tag")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    spark.range(1000, 2000).selectExpr("id", "id * 2 AS v",
        "CONCAT('b', CAST(id % 7 AS STRING)) AS tag")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    GraftLog.renameColumn(dir, "v", "value")
    GraftLog.renameColumn(dir, "tag", "label")
    // post-rename append carries the new names natively
    spark.range(2000, 3000).selectExpr("id", "id * 2 AS value",
        "CONCAT('c', CAST(id % 7 AS STRING)) AS label")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val df = read(dir)
    assert(df.columns.toSeq == Seq("id", "value", "label"))
    // all 3000 rows serve `value` — pre-rename files resolve v
    assert(df.agg(sum(col("value"))).head.getLong(0) ==
      (0L until 3000L).map(_ * 2).sum)
    // filter on the renamed column returns pre-rename rows
    assert(df.filter(col("value") === 998L).select(col("id"))
      .head.getLong(0) == 499L)
    // stats skipping still prunes by the OLD files' former-name
    // ranges: value >= 3000 lives in files 2 (v up to 3998) and 3 —
    // a wrong "file predates the column" skip would show 1/3 here,
    // and no alias resolution at all would show 3/3
    val plan = read(dir).filter(col("value") >= lit(3000L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("files=2/3"),
      s"expected former-name stats to keep pruning, got:\n$plan")
    assert(read(dir).filter(col("value") >= lit(3000L)).count() ==
      1500L)
    // bloom pruning on the renamed STRING column: 'a3' exists only
    // in file 1
    val bplan = read(dir).filter(col("label") === "a3")
      .queryExecution.executedPlan.toString
    assert(bplan.contains("files=1/3"),
      s"expected former-name bloom pruning, got:\n$bplan")
    assert(read(dir).filter(col("label") === "a3").count() > 0)
  }

  test("rename: metadata aggregates, t$stats, merge targeting, and " +
      "compaction all resolve the trail") {
    val dir = tmp()
    spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(1000, 2000).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.renameColumn(dir, "v", "val2")
    // manifest-only MIN/MAX still answers across pre-rename files
    val aggPlan = read(dir)
      .agg(min(col("val2")), max(col("val2")))
      .queryExecution.executedPlan.toString
    assert(aggPlan.contains("metaCount="),
      s"metadata aggregate must survive a rename, got:\n$aggPlan")
    val r = read(dir).agg(min(col("val2")), max(col("val2"))).head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1999L)
    // merge targets only the admitted file through former-name stats
    val (rewritten, total) = GraftLog.mergeUpsert(spark, dir,
      spark.range(0, 5).selectExpr("id", "id + 50000 AS val2"), "id")
    assert(total == 2 && rewritten == 1,
      s"expected 1/2 files rewritten, got $rewritten/$total")
    // compaction migrates rows into the current layout and re-keys
    // the folded stats under the new name
    assert(GraftLog.compact(dir) > 0)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.forall(e => e.cols.contains("val2") &&
      e.stats.contains("val2")))
    assert(read(dir).agg(sum(col("val2"))).head.getLong(0) ==
      (5L until 2000L).sum + (0L until 5L).map(_ + 50000).sum)
  }

  test("a cols-less add line is rejected at parse") {
    val dir = tmp()
    spark.range(0, 50).selectExpr("id", "id AS a").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    // blank the column record (the 7th TSV field) of v0's add — the
    // positional shape no writer produces: reading it by position
    // under a later schema would serve the wrong column's cells
    val c0 = new java.io.File(dir, f"_commit.${0L}%020d")
    val doctored = new String(
      java.nio.file.Files.readAllBytes(c0.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.map { l =>
        val cells = l.split("\t", -1)
        if (cells(1) == "add") cells(6) = ""
        cells.mkString("\t")
      }.toSeq
    java.nio.file.Files.write(c0.toPath, doctored.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val addLine = doctored.find(_.split("\t", -1)(1) == "add").get
    val e = intercept[IllegalArgumentException](
      graft.sources.LogEntry.parse(addLine))
    assert(e.getMessage.contains("no column record") &&
      e.getMessage.contains(addLine), e.getMessage)
    // every read of the table fails the same way — none is positional
    val eSnap = intercept[IllegalArgumentException](
      GraftLog.entriesAsOf(dir, Long.MaxValue))
    assert(eSnap.getMessage.contains("no column record"))
    intercept[Exception](read(dir).agg(sum(col("a"))).collect())
  }

  test("drop: the column vanishes, cells purge on compaction, and " +
      "the name tombstones against every re-add path") {
    val dir = tmp()
    spark.range(0, 100).selectExpr("id", "id AS junk", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    spark.range(100, 200).selectExpr("id", "id AS junk", "id AS v")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    GraftLog.dropColumn(dir, "junk")
    assert(read(dir).columns.toSeq == Seq("id", "v"))
    assert(read(dir).count() == 200L)
    // the old files still physically carry the cells; compaction
    // rewrites the current layout and drops them
    assert(GraftLog.compact(dir) > 0)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.forall(e => e.cols == Seq("id", "v")))
    assert(read(dir).agg(sum(col("v"))).head.getLong(0) ==
      (0L until 200L).sum)
    // re-adding the dropped name rejects on the append path
    val err = intercept[Exception] {
      spark.range(100, 110).selectExpr("id", "id AS v", "id AS junk")
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("previously used"))
    // a renamed column's FORMER name is reserved the same way
    GraftLog.renameColumn(dir, "v", "w")
    val err2 = intercept[Exception] {
      spark.range(100, 110).selectExpr("id", "id AS w", "id AS v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    assert(err2.getMessage != null &&
      err2.getMessage.contains("previously used"))
    // an OVERWRITE keeps history — time travel and RESTORE still
    // reach files holding the dropped cells — so the tombstones hold
    // across it: an overwrite carrying the dropped name rejects too
    val err3 = intercept[Exception] {
      spark.range(0, 10).selectExpr("id", "id AS w", "id AS junk")
        .write.format(Fmt).option("path", dir).mode("overwrite").save()
    }
    assert(err3.getMessage != null &&
      err3.getMessage.contains("previously used"))
    spark.range(0, 10).selectExpr("id", "id AS w")
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    assert(GraftLog.droppedNames(dir).contains("junk"))
    assert(read(dir).columns.toSeq == Seq("id", "w"))
    assert(read(dir).count() == 10L)
  }

  test("rename: the STREAMING read path resolves the trail too, and " +
      "a column may rename back to its own former name") {
    val dir = tmp()
    spark.range(0, 500).selectExpr("id", "id * 2 AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.renameColumn(dir, "v", "w")
    // the micro-batch stream reads through the same columnar reader —
    // pre-rename files must serve their data under the new name there
    // as well
    val sink = tmp(); val ckpt = tmp()
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.format(Fmt).option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.read.format(Fmt).option("path", sink).load()
    assert(streamed.count() == 500L)
    assert(streamed.agg(sum(col("w"))).head.getLong(0) ==
      (0L until 500L).map(_ * 2).sum,
      "the stream must resolve the former name, not serve NULL")
    // renaming BACK to the own former name is safe and allowed
    GraftLog.renameColumn(dir, "w", "v")
    assert(read(dir).agg(sum(col("v"))).head.getLong(0) ==
      (0L until 500L).map(_ * 2).sum)
    // ...but a DIFFERENT column can still never claim it
    val e = intercept[Exception](GraftLog.renameColumn(dir, "id", "w"))
    assert(e.getMessage.contains("previously used"))
  }

  test("a backtick-quoted constraint reference still anchors the " +
      "rename/drop guard") {
    val dir = tmp()
    spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    GraftLog.addConstraint(dir, "v_pos", "`v` >= 0")
    val e = intercept[Exception](GraftLog.renameColumn(dir, "v", "w"))
    assert(e.getMessage.contains("constraint"),
      "the quoted form `v` must trip the guard like the bare name")
    GraftLog.dropConstraint(dir, "v_pos", ifExists = false)
    GraftLog.renameColumn(dir, "v", "w")
    assert(read(dir).columns.contains("w"))
  }

  test("widen: ALTER COLUMN TYPE re-decodes old int cells exactly; " +
      "lossy changes reject") {
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.widecat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.widecat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS widecat.ns")
      spark.sql("CREATE TABLE widecat.ns.w (id BIGINT, n INT)")
      spark.sql("""INSERT INTO widecat.ns.w
        SELECT /*+ REPARTITION(1) */ id, CAST(id AS INT)
        FROM range(0, 1000)""")
      spark.sql("ALTER TABLE widecat.ns.w ALTER COLUMN n TYPE BIGINT")
      assert(spark.table("widecat.ns.w").schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      // pre-widen int cells decode as longs exactly, and a post-widen
      // insert may exceed the old int range
      spark.sql("""INSERT INTO widecat.ns.w
        SELECT /*+ REPARTITION(1) */ id, id * 10000000
        FROM range(1000, 1100)""")
      assert(spark.sql("SELECT SUM(n) FROM widecat.ns.w")
        .head.getLong(0) ==
        (0L until 1000L).sum + (1000L until 1100L).map(_ * 10000000L).sum)
      // manifest min/max still answers across both vintages
      val plan = spark.sql("SELECT MIN(n), MAX(n) FROM widecat.ns.w")
        .queryExecution.executedPlan.toString
      assert(plan.contains("metaCount="),
        s"metadata aggregate must survive a widen, got:\n$plan")
      // narrowing rejects — Spark's own analyzer catches it before
      // the catalog (NOT_SUPPORTED_CHANGE_COLUMN)
      val e1 = intercept[Exception](spark.sql(
        "ALTER TABLE widecat.ns.w ALTER COLUMN n TYPE INT"))
      assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        e1.getMessage.contains("lossless widenings"))
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE widecat.ns.w ALTER COLUMN n TYPE DOUBLE"))
      assert(e2.getMessage.contains("lossless widenings"))
      // a DataFrame-API append still carrying INT lifts to the table
      // type through Spark's store-assignment cast
      spark.range(1100, 1200)
        .selectExpr("id", "CAST(id AS INT) AS n")
        .write.format(Fmt).option("path", s"$wh/ns/w")
        .mode("append").save()
      assert(spark.sql("SELECT COUNT(*) FROM widecat.ns.w")
        .head.getLong(0) == 1200L)
    } finally {
      spark.conf.unset("spark.sql.catalog.widecat")
      spark.conf.unset("spark.sql.catalog.widecat.warehouse")
    }
  }

  test("guards: partition/constraint anchors, positional files, and " +
      "the SQL DDL face") {
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.colevocat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.colevocat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS colevocat.ns")
      spark.sql("""CREATE TABLE colevocat.ns.t
        (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)""")
      spark.sql("""INSERT INTO colevocat.ns.t
        SELECT id, id, id % 4 FROM range(0, 400)""")
      // SQL RENAME COLUMN works through the catalog
      spark.sql("ALTER TABLE colevocat.ns.t RENAME COLUMN v TO score")
      assert(spark.sql(
        "SELECT SUM(score) FROM colevocat.ns.t WHERE score < 10")
        .head.getLong(0) == 45L)
      // SQL DROP COLUMN works and the dropped name rejects re-adding
      spark.sql("ALTER TABLE colevocat.ns.t DROP COLUMN score")
      assert(spark.table("colevocat.ns.t").columns.toSeq ==
        Seq("id", "part"))
      val eAdd = intercept[Exception](spark.sql(
        "ALTER TABLE colevocat.ns.t ADD COLUMN score BIGINT"))
      assert(eAdd.getMessage.contains("previously used"))
      // the partition column never renames or drops
      val ePart = intercept[Exception](spark.sql(
        "ALTER TABLE colevocat.ns.t RENAME COLUMN part TO bucket"))
      assert(ePart.getMessage.contains("partition"))
      // a CHECK-constrained column never renames from under its SQL
      spark.sql("""ALTER TABLE colevocat.ns.t
        ADD CONSTRAINT pos CHECK (id >= 0)""")
      val eCon = intercept[Exception](spark.sql(
        "ALTER TABLE colevocat.ns.t RENAME COLUMN id TO key"))
      assert(eCon.getMessage.contains("constraint"))
    } finally {
      spark.conf.unset("spark.sql.catalog.colevocat")
      spark.conf.unset("spark.sql.catalog.colevocat.warehouse")
    }
  }
}
