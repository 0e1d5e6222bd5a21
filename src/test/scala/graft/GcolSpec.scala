package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GraftColFile, GraftLog}

/** The gcol columnar part-file payload: multi-block round trips, byte-
  * range splitting (one big part fans out over tasks WITHOUT changing
  * the data), footer block stats (the in-file skipping index), global
  * row ordinals under splits (deletion vectors / `_pos`), and loud
  * failure on any part file that is not gcol. */
class GcolSpec extends SparkSpec {
  private val Fmt = "graft.sources.GraftLogSource"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-gcol").toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Every row's cells in a part file, decoded chunk by chunk. */
  private def cellsOf(part: File): Seq[Seq[String]] = {
    val ch = java.nio.channels.FileChannel.open(part.toPath)
    try {
      val footer = GraftColFile.readFooter(ch, part)
      footer.blocks.flatMap { b =>
        val chunks = footer.cols.indices
          .map(GraftColFile.readChunk(ch, b, _))
        (0 until b.rows.toInt).map(r => chunks.map(_.cell(r)))
      }
    } finally ch.close()
  }

  /** One part file with many small blocks. */
  private def writeOneBigPart(dir: String, n: Long): Unit =
    withConf("spark.graft.log.blockBytes", (16L << 10).toString) {
      spark.range(0, n).toDF("id")
        .withColumn("v", col("id").cast("double") / 2)
        .withColumn("tag", concat(lit("t"), col("id") % 7))
        .withColumn("nullable",
          when(col("id") % 5 === 0, col("id")).otherwise(lit(null)))
        .coalesce(1)
        .write.format(Fmt).option("path", dir).mode("overwrite").save()
    }

  test("utf8Len counts exactly what the writer's UTF-8 encoder emits, " +
      "including unpaired surrogates (substituted as one '?' byte)") {
    // the RawBytesKey stat drives byte-targeted block rolls, and the
    // writer encodes via String.getBytes(UTF_8) — the stat must match
    // the encoder byte for byte (ADVICE r13: a lone surrogate is
    // substituted with '?', ONE byte, not a 3-byte U+FFFD)
    val cases = Seq(
      "", "ascii", "café", "中文",      // 1/2/3-byte planes
      "😀",                                 // proper pair: 4
      "\ud83d",                                       // lone high at end
      "x\udc00y",                                     // lone low mid-string
      "\ud83d😀",                           // high then pair
      "a\ud800\ud800b")                               // two lone highs
    for (s <- cases)
      assert(graft.sources.GraftColFile.utf8Len(s) ==
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
        s"utf8Len mismatch for ${s.toCharArray.map(_.toInt).mkString(",")}")
  }

  test("multi-block part round-trips; footer carries ordered blocks " +
      "with per-block numeric stats") {
    val dir = tmp()
    writeOneBigPart(dir, 50000)
    val parts = new File(dir).listFiles
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    assert(GraftColFile.isCol(parts.head.getName))
    val footer = GraftColFile.readFooter(parts.head)
    assert(footer.cols == Seq("id", "v", "tag", "nullable"))
    assert(footer.blocks.length > 4, s"expected many blocks, got " +
      s"${footer.blocks.length}")
    // blocks tile the row space: firstOrdinal is the running row sum
    var expectOrd = 0L
    footer.blocks.foreach { b =>
      assert(b.firstOrdinal == expectOrd)
      expectOrd += b.rows
    }
    assert(expectOrd == 50000L)
    // id is written in order, so per-block id stats are disjoint and
    // monotone — the skipping index has real resolution
    val idStats = footer.blocks.map(_.stats("id"))
    idStats.sliding(2).foreach {
      case Seq((_, mx1), (mn2, _)) => assert(mx1.toLong < mn2.toLong)
      case _ => ()
    }
    // the mostly-null column still stats over its non-null cells
    assert(footer.blocks.head.stats.contains("nullable"))
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 50000L)
    assert(back.filter(col("nullable").isNull).count() == 40000L)
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 50000L).sum)
  }

  test("byte-range splits fan one part over many tasks with identical " +
      "results") {
    val dir = tmp()
    writeOneBigPart(dir, 50000)
    val whole = spark.read.format(Fmt).option("path", dir).load()
      .orderBy("id").collect()
    // byte-string conf value: '32k' must parse like Spark's own size
    // confs (a digit-strip would read '128MB' as 128 bytes)
    val (tasks, split) = withConf("spark.graft.log.splitBytes", "32k") {
      val df = spark.read.format(Fmt).option("path", dir).load()
      (df.rdd.getNumPartitions, df.orderBy("id").collect())
    }
    assert(tasks > 2, s"one part should fan out, got $tasks task(s)")
    assert(split.toSeq == whole.toSeq)
    // every row exactly once — no block double-assigned across ranges
    assert(split.length == 50000)
  }

  test("splits preserve global ordinals: _pos and deletion vectors " +
      "survive range reads") {
    val dir = tmp()
    writeOneBigPart(dir, 20000)
    // merge-on-read DELETE assigns a deletion vector (no rewrite);
    // the deleted range spans block boundaries mid-file, so a wrong
    // per-split ordinal base would visibly double- or under-delete
    val (_, _, usedDv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 7000L),
        org.apache.spark.sql.sources.LessThan("id", 9000L)))
    assert(usedDv, "expected the delete to take the DV path")
    val (tasks, got) = withConf("spark.graft.log.splitBytes",
        (32L << 10).toString) {
      val df = spark.read.format(Fmt).option("path", dir).load()
      (df.rdd.getNumPartitions, df.agg(
        count(lit(1)), sum(col("id")), sum(col("_pos"))).head)
    }
    assert(tasks > 1)
    val keep = (0L until 20000L).filterNot(i => i >= 7000L && i < 9000L)
    assert(got.getLong(0) == keep.size.toLong)
    assert(got.getLong(1) == keep.sum)
    // _pos is the file-global physical ordinal (= id here: one part,
    // written in order), so its sum over survivors must match too
    assert(got.getLong(2) == keep.sum)
  }

  test("dictionary encoding: low-NDV chunks go dict, high-NDV stay " +
      "plain, values identical") {
    val dir = tmp()
    writeOneBigPart(dir, 50000)
    val part = new File(dir).listFiles
      .filter(_.getName.startsWith("part-")).head
    val footer = GraftColFile.readFooter(part)
    // columns: id (high-NDV canonical long: BINARY int64), v (high-NDV
    // canonical double: BINARY float64), tag (7 distinct: dict),
    // nullable (≤2 distinct per block: dict wins over binary)
    val tagIdx = footer.cols.indexOf("tag")
    val idIdx = footer.cols.indexOf("id")
    val vIdx = footer.cols.indexOf("v")
    val nullIdx = footer.cols.indexOf("nullable")
    footer.blocks.foreach { b =>
      assert(b.encOf(tagIdx) == 1,
        s"7-distinct tag column must dict-encode: ${b.encs.toSeq}")
      assert(b.encOf(idIdx) == 2,
        "all-distinct canonical long column must binary-encode")
      assert(b.encOf(vIdx) == 3,
        "all-distinct canonical double column must binary-encode")
      assert(b.encOf(nullIdx) == 4,
        "mostly-null canonical LONG column must TYPED-dict-encode " +
          "(binary entries, no parsing on decode)")
    }
    // values identical through the dict path, nulls included
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.filter(col("tag") === "t3").count() ==
      (0L until 50000L).count(_ % 7 == 3))
    assert(back.groupBy(col("tag")).count().count() == 7)
    assert(back.filter(col("nullable").isNull).count() == 40000L)
    assert(back.agg(sum(col("nullable"))).head.getLong(0) ==
      (0L until 50000L).filter(_ % 5 == 0).sum)
    // the chunk decoder renders dict cells as the text written
    val first = cellsOf(part).head
    assert(first == Seq("0", "0.0", "t0", "0"), s"unexpected first row: $first")
  }

  test("typed dictionaries: low-NDV DOUBLE chunks carry binary " +
      "entries (enc 5), values and text identical") {
    val dir = tmp()
    withConf("spark.graft.log.blockBytes", (16L << 10).toString) {
      spark.range(0, 30000).toDF("id")
        .withColumn("price", (col("id") % 9).cast("double") * 0.5)
        .coalesce(1)
        .write.format(Fmt).option("path", dir).mode("overwrite").save()
    }
    val part = new File(dir).listFiles
      .filter(_.getName.startsWith("part-")).head
    val footer = GraftColFile.readFooter(part)
    val pIdx = footer.cols.indexOf("price")
    footer.blocks.foreach(b => assert(b.encOf(pIdx) == 5,
      s"9-distinct double column must typed-dict-encode: " +
        s"${b.encs.toSeq}"))
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.filter(col("price") === 3.5).count() ==
      (0L until 30000L).count(_ % 9 == 7))
    assert(math.abs(back.agg(sum(col("price"))).head.getDouble(0) -
      (0L until 30000L).map(i => (i % 9) * 0.5).sum) < 1e-6)
    // the decoder renders each distinct's canonical text once —
    // identical to what the plain writer would have stored
    val rows = cellsOf(part).take(2)
    assert(rows == Seq(Seq("0", "0.0"), Seq("1", "0.5")),
      s"unexpected rows: $rows")
  }

  test("the columnar reader honors byte-range splits: ranged " +
      "partitions tile the file exactly, no duplication") {
    import graft.sources.{GraftLogPartition, GraftLogReaderFactory}
    val dir = tmp()
    writeOneBigPart(dir, 20000)
    val part = new File(dir).listFiles
      .filter(_.getName.startsWith("part-")).head
    val footer = GraftColFile.readFooter(part)
    assert(footer.blocks.length >= 4, "need a multi-block file")
    val schema = spark.read.format(Fmt).option("path", dir)
      .load().schema
    val fac = new GraftLogReaderFactory(schema, schema)
    def rowsOf(start: Long, length: Long): Long = {
      val r = fac.createColumnarReader(GraftLogPartition(
        dir, part.getName, Seq("id", "v", "tag", "nullable"),
        None, start, length))
      var n = 0L
      try while (r.next()) n += r.get().numRows() finally r.close()
      n
    }
    // split at a mid-block offset: [0, mid) + [mid, ∞) must tile
    val mid = footer.blocks(footer.blocks.length / 2).offset
    val a = rowsOf(0L, mid)
    val b = rowsOf(mid, Long.MaxValue)
    assert(a > 0L && b > 0L, s"both splits must carry rows ($a/$b)")
    assert(a + b == 20000L,
      s"splits must tile the file exactly: $a + $b != 20000 " +
        "(the latent whole-file re-read would double-count)")
    // three-way tiling too
    val off = footer.blocks.map(_.offset)
    val cut1 = off(off.length / 3)
    val cut2 = off(2 * off.length / 3)
    val t = rowsOf(0L, cut1) + rowsOf(cut1, cut2 - cut1) +
      rowsOf(cut2, Long.MaxValue)
    assert(t == 20000L, s"3-way tiling lost/duplicated rows: $t")
  }

  test("typed-dict chunks serve a RENAMED column through the trail, " +
      "both read paths, and survive compaction") {
    val dir = tmp()
    withConf("spark.graft.log.blockBytes", (16L << 10).toString) {
      spark.range(0, 20000).toDF("id")
        .withColumn("lvl", col("id") % 5)          // enc 4 typed dict
        .withColumn("w", (col("id") % 3).cast("double") * 0.25) // enc 5
        .coalesce(1)
        .write.format(Fmt).option("path", dir).mode("overwrite").save()
    }
    GraftLog.renameColumn(dir, "lvl", "level")
    GraftLog.renameColumn(dir, "w", "weight")
    // post-rename append writes the new names natively
    spark.range(20000, 21000).toDF("id")
      .withColumn("level", col("id") % 5)
      .withColumn("weight", (col("id") % 3).cast("double") * 0.25)
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    def checks(): Unit = {
      val back = spark.read.format(Fmt).option("path", dir).load()
      assert(back.columns.toSeq == Seq("id", "level", "weight"))
      assert(back.filter(col("level") === 3).count() ==
        (0L until 21000L).count(_ % 5 == 3))
      assert(math.abs(back.agg(sum(col("weight"))).head.getDouble(0) -
        (0L until 21000L).map(i => (i % 3) * 0.25).sum) < 1e-6)
    }
    checks()
    // the reads above resolved the renames through the trail of a
    // file still written under the old names
    val pre = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .filter(_.cols == Seq("id", "lvl", "w"))
    assert(pre.nonEmpty, "pre-rename file must survive the rename")
    // compaction rewrites to the CURRENT names; typed dicts re-encode
    assert(GraftLog.compact(dir) == 2)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.forall(_.cols == Seq("id", "level", "weight")))
    checks()
  }

  test("task-wide write buffer cap: a partitioned task holding many " +
      "open part files flushes early, bytes identical") {
    val dir = tmp()
    // 64 values × ~interleaved rows in ONE task, buffer cap far below
    // one default block: without the cap every PartFile would buffer
    // its whole share; with it, the largest open blocks flush early
    val prior = spark.conf.getOption("spark.graft.log.taskBufferBytes")
    spark.conf.set("spark.graft.log.taskBufferBytes", (64L << 10).toString)
    try spark.range(0, 200000).toDF("id")
      .withColumn("k", col("id") % 64)
      .withColumn("pad", concat(lit("x"), col("id")))
      .coalesce(1)
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "k").mode("append").save()
    finally prior match {
      case Some(v) => spark.conf.set("spark.graft.log.taskBufferBytes", v)
      case None => spark.conf.unset("spark.graft.log.taskBufferBytes")
    }
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size == 64, s"one part per value: ${live.size}")
    // the cap forced early flushes: with ~3 MB raw spread over 64
    // files and a 64 KB task budget, files must carry MULTIPLE small
    // blocks (one un-capped block would hold a file's whole share)
    val parts = live.map(e =>
      GraftColFile.readFooter(new File(dir, e.file)))
    assert(parts.map(_.blocks.length).sum > 64 * 2,
      s"expected early-flushed multi-block files, got " +
        s"${parts.map(_.blocks.length).sum} blocks over 64 files")
    // and the data is byte-identical to the unconstrained write
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 200000L)
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 200000L).sum)
    assert(back.filter(col("pad") === "x12345").count() == 1L)
  }

  test("a poisoned checkpoint-version cache cannot suppress the " +
      "recreated table's checkpoints (drop and recreate at one path)") {
    val dir = tmp()
    // simulate another process having committed far ahead before the
    // table was dropped and recreated at the same path: this JVM's
    // cache still holds the OLD table's high version for the same dir
    GraftLog.lastCkptCache.put(dir, 100L)
    for (k <- 0 until 12)
      spark.range(k * 10, k * 10 + 10).toDF("id").coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    // a stale-HIGH cache would make every maybeCheckpoint early-
    // return (v - 100 < interval) and the log would grow unbounded
    val ckpts = new File(dir).listFiles
      .filter(_.getName.startsWith("_checkpoint."))
    assert(ckpts.nonEmpty,
      "12 commits must have produced a checkpoint despite the " +
        "poisoned cache — versions at-or-below the cached value " +
        "must invalidate it")
  }

  test("manifest #raw stat: exact uncompressed size drives CBO " +
      "sizeInBytes") {
    val dir = tmp()
    writeOneBigPart(dir, 1000)
    val e = GraftLog.entriesAsOf(dir, Long.MaxValue).head
    assert(e.stats.contains(GraftLog.RawBytesKey))
    val raw = e.stats(GraftLog.RawBytesKey)._1.toLong
    assert(raw > 0L)
    // the scan advertises the stamped raw size, not the on-disk ×
    // expansion guess — broadcast decisions near the threshold are
    // made on real numbers
    val df = spark.read.format(Fmt).option("path", dir).load()
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz == BigInt(raw), s"sizeInBytes $sz != stamped raw $raw")
    // compaction outputs stamp their own
    spark.range(1000, 1200).toDF("id")
      .withColumn("v", col("id").cast("double") / 2)
      .withColumn("tag", concat(lit("t"), col("id") % 7))
      .withColumn("nullable", lit(null).cast("long"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(GraftLog.compact(dir) >= 2)
    val c = GraftLog.entriesAsOf(dir, Long.MaxValue).head
    assert(c.stats.get(GraftLog.RawBytesKey).exists(_._1.toLong > 0L))
  }

  test("non-canonical numeric cells fall back to plain text: the " +
      "encoder reads back the cell text it was given") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val part = new File(tmp(), s"part-enc${GraftColFile.Extension}")
    // 'i' is an INT rendering, NOT the canonical DOUBLE one ('i.0'):
    // binary encoding would silently rewrite the cell text, so the
    // chunk holding such cells must stay plain (enc 0), while the
    // canonical id chunk binary-encodes
    val w = new GraftColFile.Writer(part.toPath, Seq("id", "v"),
      Seq(LongType, DoubleType))
    (0 until 100).foreach(i => w.write(Array(i.toString,
      if (i < 50) i.toString else java.lang.Double.toString(i + 0.5))))
    assert(w.finish() == 100L)
    val footer = GraftColFile.readFooter(part)
    assert(footer.blocks.forall(_.encOf(footer.cols.indexOf("v")) == 0),
      footer.blocks.map(_.encs.toSeq).toString)
    assert(footer.blocks.forall(_.encOf(footer.cols.indexOf("id")) == 2),
      footer.blocks.map(_.encs.toSeq).toString)
    val cells = cellsOf(part)
    assert(cells.size == 100)
    assert(cells(7) == Seq("7", "7"), s"cell text must survive: ${cells(7)}")
    assert(cells(70) == Seq("70", "70.5"))
  }

  test("compaction rewrites a widened column's cells canonically, " +
      "values exact") {
    val dir = tmp()
    spark.range(0, 100).selectExpr("id", "CAST(id AS INT) AS v")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    // widening INT -> DOUBLE is metadata-only: the old file keeps its
    // int cells ('7'), which read as DOUBLE 7.0
    GraftLog.widenColumn(dir, "v",
      org.apache.spark.sql.types.DoubleType)
    spark.range(100, 200).selectExpr("id", "CAST(id AS DOUBLE) + 0.5 AS v")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(GraftLog.compact(dir) == 2)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size == 1)
    // the writer renders each DOUBLE value canonically, so the INT
    // vintage's '7' is now '7.0' and the whole v chunk binary-encodes
    val part = new File(dir, live.head.file)
    val footer = GraftColFile.readFooter(part)
    assert(footer.blocks.forall(_.encOf(footer.cols.indexOf("v")) == 3),
      footer.blocks.map(_.encs.toSeq).toString)
    assert(cellsOf(part).filter(_.head == "7") == Seq(Seq("7", "7.0")))
    val after = spark.read.format(Fmt).option("path", dir).load()
    assert(after.count() == 200L)
    assert(after.filter(col("v") === 7.0).count() == 1L)
    assert(after.agg(sum(col("v"))).head.getDouble(0) ==
      (0 until 100).map(_.toDouble).sum +
        (100 until 200).map(_ + 0.5).sum)
  }

  test("corrupt part files fail loudly with a descriptive error, " +
      "never a silent empty read") {
    val dir = tmp()
    spark.range(0, 100).toDF("id").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val part = new File(dir).listFiles
      .filter(_.getName.startsWith("part-")).head
    // truncate the file mid-payload: the footer (and trailer magic)
    // are gone — reads must throw, not serve zero rows
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    java.nio.file.Files.write(part.toPath,
      java.util.Arrays.copyOf(bytes, math.max(8, bytes.length / 3)))
    // SUM forces a data read (plain COUNT is answered from the
    // manifest without opening the file — the metadata-only path,
    // which is precisely why corruption must fail the DATA path)
    val err = intercept[org.apache.spark.SparkException] {
      spark.read.format(Fmt).option("path", dir).load()
        .agg(sum(col("id"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(m => m.contains("gcol")),
      s"expected a descriptive gcol error, got: ${msgs(err)}")
    // a part that is not gcol at all (a gzip TSV file committed to the
    // log) fails the same way
    val tsv = tmp()
    val tsvPart = "part-0000.tsv.gz"
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(tsv, tsvPart)))
    gz.write((0 until 50).map(i => s"$i\n").mkString.getBytes("UTF-8"))
    gz.close()
    val idSchema = spark.range(1).schema
    GraftLog.append(tsv, Seq(graft.sources.GraftLogCommit(tsvPart, 50L,
      Map(GraftLog.RawBytesKey -> ("140", "n")), Seq("id"))),
      idSchema, truncate = false)
    val errBatch = intercept[org.apache.spark.SparkException] {
      spark.read.format(Fmt).option("path", tsv).load()
        .agg(sum(col("id"))).collect()
    }
    assert(msgs(errBatch).exists(_.contains("not a gcol file")),
      msgs(errBatch))
  }

  test("eight concurrent lock-free appends all commit exactly once") {
    val dir = tmp()
    spark.range(0, 10).toDF("id")
      .withColumn("v", col("id").cast("double"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val gate = new java.util.concurrent.CyclicBarrier(8)
    val futures = (0 until 8).map { k =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          spark.range(k * 1000, k * 1000 + 100).toDF("id")
            .withColumn("v", col("id").cast("double"))
            .coalesce(1)
            .write.format(Fmt).option("path", dir).mode("append").save()
        }
      })
    }
    futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 10 + 800)
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 10L).sum +
        (0 until 8).map(k => (k * 1000L until k * 1000L + 100).sum).sum)
    // every append claimed its own version — none lost, none merged
    assert(graft.sources.GraftLog.currentVersion(dir) == 8L)
  }

  test("block stats skip: a refuted range decodes no block and a " +
      "narrow filter stays exact") {
    val dir = tmp()
    writeOneBigPart(dir, 50000)
    val df = spark.read.format(Fmt).option("path", dir).load()
    // narrow in-range filter: exact rows (blocks partially admitted)
    assert(df.filter(col("id") >= 10000 && col("id") < 10100).count()
      == 100L)
    // fully-refuted filter: zero rows (every block's stats refute it;
    // the file itself is admitted by nothing — manifest skipping may
    // already drop it, block skipping is the belt to that suspender)
    assert(df.filter(col("id") > 1000000).count() == 0L)
    // string column: no block stats, must still read exactly
    assert(df.filter(col("tag") === "t3").count() ==
      (0L until 50000L).count(_ % 7 == 3))
  }
}
