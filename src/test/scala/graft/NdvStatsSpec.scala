package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{GraftLog, GraftLogNdv}

/** The manifest NDV/null-count stats contract: per-file HLL sketches
  * merge to an accurate table-level distinct count at metadata cost,
  * survive compaction (its writer recomputes them, and the blooms,
  * exactly from the rewritten cells), shrink with file
  * skipping through the DSv2 `columnStats()` surface, and read back
  * through the `t$stats` metadata table. */
class NdvStatsSpec extends SparkSpec {
  private val Fmt = "graft.sources.GraftLogSource"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ndv").toString

  /** id: all-distinct; bucket: 97 values; tag: 7 values; gap: nulls
    * on odd ids. */
  private def series(n: Int, idOffset: Long = 0L): DataFrame =
    spark.range(n).selectExpr(s"id + $idOffset AS id",
      s"CAST((id + $idOffset) % 97 AS INT) AS bucket",
      s"concat('t', (id + $idOffset) % 7) AS tag",
      s"CASE WHEN (id + $idOffset) % 2 = 0 THEN (id + $idOffset) END" +
        " AS gap")

  private def relErr(est: Long, exact: Long): Double =
    math.abs(est.toDouble - exact) / math.max(exact, 1L)

  test("sketch estimates are accurate across cardinality regimes") {
    // linear-counting regime (small), crossover, and HLL regime
    for (n <- Seq(10, 700, 60000)) {
      val regs = new Array[Byte](GraftLogNdv.M)
      (0 until n).foreach(i => GraftLogNdv.add(regs, s"value-$i"))
      val est = GraftLogNdv.estimate(regs)
      assert(relErr(est, n) < 0.15,
        s"n=$n est=$est: HLL p=9 should land within 15%")
    }
  }

  test("register-max merge of split sketches equals the union sketch") {
    val whole = new Array[Byte](GraftLogNdv.M)
    val a = new Array[Byte](GraftLogNdv.M)
    val b = new Array[Byte](GraftLogNdv.M)
    (0 until 5000).foreach { i =>
      GraftLogNdv.add(whole, s"k$i")
      // overlapping halves: merge must not double-count
      if (i < 3000) GraftLogNdv.add(a, s"k$i")
      if (i >= 2000) GraftLogNdv.add(b, s"k$i")
    }
    assert(GraftLogNdv.merge(a, b).toSeq == whole.toSeq)
  }

  test("sketch serialization round-trips, compresses zero runs, and " +
      "still reads the plain-hex legacy form") {
    for (n <- Seq(0, 1, 7, 500, 60000)) {
      val regs = new Array[Byte](GraftLogNdv.M)
      (0 until n).foreach(i => GraftLogNdv.add(regs, s"v$i"))
      val enc = GraftLogNdv.serialize(regs)
      assert(GraftLogNdv.deserialize(enc).toSeq == regs.toSeq)
      // legacy form: plain hex pairs, as written before the RLE
      val legacy = regs.map(r => f"$r%02x").mkString
      assert(GraftLogNdv.deserialize(legacy).toSeq == regs.toSeq)
      if (n <= 7)
        assert(enc.length < 100,
          s"a $n-value sketch must compress (got ${enc.length} chars)")
    }
    // malformed input is rejected, not misread
    assertThrows[IllegalArgumentException](
      GraftLogNdv.deserialize("zff"))
  }

  test("t$stats reports NDV within tolerance, exact nulls, and " +
      "min/max, from metadata only") {
    val dir = tmp()
    // multiple part files so the read exercises the merge
    series(20000).repartition(4)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = GraftLog.storedSchema(dir).get
    val merged = GraftLogNdv.mergedColumnStats(
      schema, GraftLog.entriesAsOf(dir, Long.MaxValue))
    val (idNdv, idNulls) = merged("id")
    val (bucketNdv, _) = merged("bucket")
    val (tagNdv, _) = merged("tag")
    val (gapNdv, gapNulls) = merged("gap")
    assert(relErr(idNdv.get, 20000) < 0.15)
    assert(idNulls.contains(0L))
    assert(relErr(bucketNdv.get, 97) < 0.10,
      s"${bucketNdv.get}: linear-counting regime, but still an estimate")
    assert(tagNdv.get == 7L,
      "7 values in 512 registers: collisions are corrected exactly " +
        "this small")
    assert(relErr(gapNdv.get, 10000) < 0.15)
    assert(gapNulls.contains(10000L), "null count is exact")
  }

  test("PackedSet grows from its 1 KB seed to the spill cap without " +
      "losing or duplicating a hash") {
    import graft.sources.GraftLogBloom
    val s = new GraftLogBloom.PackedSet
    val vals = (1L to (GraftLogBloom.SpillLimit - 1L)).map(_ * 0x9E37L) :+ 0L
    vals.foreach(v => assert(s.add(v), s"insert $v"))
    // re-adds are idempotent (found, not re-counted)
    vals.take(50).foreach(v => assert(s.add(v)))
    assert(s.size == GraftLogBloom.SpillLimit)
    // the next DISTINCT value rejects — the writer's spill signal
    assert(!s.add(Long.MinValue))
    val seen = scala.collection.mutable.Set.empty[Long]
    s.foreach(seen += _)
    assert(seen == vals.toSet,
      s"foreach must yield exactly the inserted set " +
        s"(${seen.size} vs ${vals.size})")
  }

  test("compaction recomputes EXACT per-file stats: a DV'd input no " +
      "longer strips them, rolled outputs carry file-tight ranges") {
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThan}
    val dir = tmp()
    for (k <- 0 until 3)
      series(4000, idOffset = k * 4000L).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    // merge-on-read delete of the TOP id range: the manifest max
    // (11999) is now stale on the DV'd file
    val (_, _, usedDv) = GraftLog.deleteWhereMoR(spark, dir,
      Array(And(GreaterThanOrEqual("id", 11900L),
        LessThan("id", 12000L))))
    assert(usedDv, "the delete must leave a deletion vector")
    // small roll target so the compaction emits MULTIPLE outputs
    GraftLog.setProperties(dir, Map("graft.compact.target-bytes" -> "40000"))
    assert(GraftLog.compact(dir) == 3)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size >= 2, s"expected rolled outputs, got ${live.size}")
    // every rolled output carries the full stats spine — min/max,
    // NDV sketch, exact null count, bloom — despite the DV'd input
    live.foreach { e =>
      assert(GraftLog.decStat(e, "id").isDefined, s"min/max on ${e.file}")
      assert(GraftLogNdv.of(e, "id").isDefined, s"NDV on ${e.file}")
      assert(GraftLogNdv.nullsOf(e, "gap").isDefined, s"nulls on ${e.file}")
      assert(e.stats.contains(graft.sources.GraftLogBloom.key("tag")),
        s"bloom on ${e.file}")
    }
    // stats are EXACT, not the stale pre-DV fold: the global max
    // reflects the delete, and null counts stay additive-exact
    val merged = GraftLogNdv.mergedColumnStats(
      GraftLog.storedSchema(dir).get, live)
    assert(merged("gap")._2.contains(6000L - 50L),
      s"gap nulls must be exact post-compaction: ${merged("gap")._2}")
    assert(live.flatMap(GraftLog.decStat(_, "id")).map(_._2).max
      .longValueExact() == 11899L,
      "the compacted max must reflect the DV'd deletes")
    // rolled outputs have FILE-TIGHT disjoint ranges (the group-wide
    // fold would stamp [0, 11999] on all of them), so a range
    // predicate skips files
    val q = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("id") < 1000)
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).getOrElse(
      fail(s"no files=kept/total in:\n$desc"))
    assert(m.group(1).toInt < m.group(2).toInt,
      s"rolled outputs must range-prune: files=${m.group(1)}/${m.group(2)}")
    assert(q.count() == 1000)
    // and the metadata-only MIN/MAX path answers from the manifest
    val mx = spark.read.format(Fmt).option("path", dir).load()
      .agg(max(col("id")))
    assert(mx.head.getLong(0) == 11899L)
    assert(mx.queryExecution.executedPlan.toString.contains("metaCount="),
      "MAX after DV-delete + compact must be metadata-only")
  }

  test("integral-key blooms: point lookups and IN-probes skip files " +
      "whose bloom provably lacks the key") {
    val dir = tmp()
    // hash-partition by bucket (int): each file holds a SUBSET of the
    // 97 bucket values with fully overlapping [min, max] ranges, so
    // only the bloom can discriminate
    series(9700).repartition(8, col("bucket"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    def filesOf(df: DataFrame): (Int, Int) = {
      val desc = df.queryExecution.executedPlan.toString
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).getOrElse(
        fail(s"no files=kept/total in:\n$desc"))
      (m.group(1).toInt, m.group(2).toInt)
    }
    val q = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("bucket") === 13)
    val (kept, total) = filesOf(q)
    assert(total >= 4 && kept < total,
      s"numeric bloom must skip bucket-less files: files=$kept/$total")
    assert(q.count() == 100)
    // IN-probe prunes to the union of member-bearing files
    val in2 = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("bucket").isin(13, 55))
    val (kept2, total2) = filesOf(in2)
    assert(kept2 < total2,
      s"IN-probe must bloom-prune: files=$kept2/$total2")
    assert(in2.count() == 200)
    // the miss case needs a value INSIDE every file's [min, max] that
    // no file holds — only the bloom can refute it: even buckets only,
    // probe an odd one
    val dir2 = tmp()
    series(9700).filter(col("bucket") % 2 === 0)
      .repartition(4, col("bucket"))
      .write.format(Fmt).option("path", dir2).mode("append").save()
    val miss = spark.read.format(Fmt).option("path", dir2).load()
      .filter(col("bucket") === 13)
    assert(filesOf(miss)._1 == 0,
      "an in-range absent value must bloom-prune every file")
    assert(miss.count() == 0)
  }

  test("compaction folds sketches: NDV, nulls, and blooms survive") {
    val dir = tmp()
    for (k <- 0 until 3)
      series(4000, idOffset = k * 4000L).coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    val before = GraftLogNdv.mergedColumnStats(
      GraftLog.storedSchema(dir).get, GraftLog.entriesAsOf(dir, Long.MaxValue))
    assert(GraftLog.compact(dir) == 3)
    val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(live.size == 1, "three parts compact to one")
    val after = GraftLogNdv.mergedColumnStats(
      GraftLog.storedSchema(dir).get, live)
    // the rewritten file's sketch is recomputed over the same values,
    // so it IS the register-max of the inputs: the estimate is
    // identical, and the additive null count is preserved
    assert(after("id")._1 == before("id")._1)
    assert(after("tag")._1 == before("tag")._1)
    assert(after("gap")._2 == before("gap")._2)
    // a post-compaction string-equality scan still has a bloom to
    // consult (present and well-formed)
    assert(live.head.stats.contains(
      graft.sources.GraftLogBloom.key("tag")))
    assert(graft.sources.GraftLogBloom.mayContain(
      live.head, "tag", "t3"))
  }

  test("blooms scale with NDV: a 10×-distinct file still prunes, a " +
      "low-NDV file carries the floor size, folds stay sound") {
    import graft.sources.GraftLogBloom
    // fold soundness: every value added at max resolution is still
    // contained after folding to any smaller power-of-two size
    val full = new Array[Long](GraftLogBloom.MaxWords)
    (0 until 3000).foreach(i => GraftLogBloom.add(full, s"k$i"))
    for (w <- Seq(1024, 256, 64)) {
      val folded = GraftLogBloom.foldTo(full, w)
      val hex = GraftLogBloom.serialize(folded)
      assert(GraftLogBloom.validHex(hex) && hex.length == w * 16)
      val e = graft.sources.LogEntry(0L, "add", "f", 1L, true, Map(
        GraftLogBloom.key("c") -> (hex, "v1")))
      assert((0 until 3000).forall(i =>
        GraftLogBloom.mayContain(e, "c", s"k$i")),
        s"fold to $w words lost a member — unsound")
    }
    // sizing: ~10 bits/key, power of two, clamped; saturated → floor
    assert(GraftLogBloom.sizeFor(7) == GraftLogBloom.MinBits)
    assert(GraftLogBloom.sizeFor(5000) == 65536)
    assert(GraftLogBloom.sizeFor(100000) == GraftLogBloom.MinBits,
      "past any useful density the bloom is noise — carry the floor")

    val dir = tmp()
    // 5000 distinct tags — 10× past the old fixed 4096-bit design
    // point (~500 values), where the one-size bloom saturated to
    // all-ones and every absent-value probe degraded to may-match
    spark.range(50000)
      .selectExpr("id", "concat('u', id % 5000) AS tag")
      .coalesce(1).write.format(Fmt).option("path", dir)
      .mode("append").save()
    val entry = GraftLog.entriesAsOf(dir, Long.MaxValue).head
    val hex = entry.stats(GraftLogBloom.key("tag"))._1
    assert(GraftLogBloom.validHex(hex))
    assert(hex.length >= 1024 * 16,
      s"5000-NDV file must scale its bloom up (got ${hex.length / 16}" +
        " words)")
    val pruned = (0 until 1000).count(i =>
      !GraftLogBloom.mayContain(entry, "tag", s"absent-$i"))
    assert(pruned > 900,
      s"a 10×-rows file must still prune on string equality " +
        s"(pruned $pruned/1000 absent probes)")
    assert((0 until 200).forall(i =>
      GraftLogBloom.mayContain(entry, "tag", s"u$i")),
      "present values must always pass")
    // past the saturation cardinality a bloom is all-ones noise: the
    // 50000-distinct id column must OMIT its bloom entirely (absent
    // reads as may-match — same outcome, zero manifest bytes)
    assert(!entry.stats.contains(GraftLogBloom.key("id")),
      "a saturated-regime column must carry no bloom")
    // the counterfactual: the same content at the legacy fixed size
    // is saturated — this is what NDV sizing buys
    val legacy = GraftLogBloom.foldTo(
      GraftLogBloom.deserialize(hex), GraftLogBloom.MinBits / 64)
    val eLegacy = graft.sources.LogEntry(0L, "add", "f", 1L, true, Map(
      GraftLogBloom.key("tag") ->
        (GraftLogBloom.serialize(legacy), "v1")))
    val prunedLegacy = (0 until 1000).count(i =>
      !GraftLogBloom.mayContain(eLegacy, "tag", s"absent-$i"))
    assert(prunedLegacy < pruned / 2,
      s"fixed-size bloom should be (near-)saturated here " +
        s"($prunedLegacy vs $pruned)")

    // low-NDV second file: floor-sized bloom (64 stats words, not 2k)
    series(4000).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val tagBlooms = GraftLog.entriesAsOf(dir, Long.MaxValue)
      .flatMap(_.stats.get(GraftLogBloom.key("tag"))).map(_._1)
    assert(tagBlooms.exists(_.length == GraftLogBloom.MinBits / 64 * 16),
      "a 7-value column folds to the floor size")
    // compacting mixed-size inputs: the output's bloom is recomputed
    // over every surviving value, so it holds both inputs' members
    assert(GraftLog.compact(dir) == 2)
    val merged = GraftLog.entriesAsOf(dir, Long.MaxValue)
    assert(merged.size == 1)
    val mhex = merged.head.stats(GraftLogBloom.key("tag"))._1
    assert(GraftLogBloom.validHex(mhex))
    assert((0 until 200).forall(i =>
      GraftLogBloom.mayContain(merged.head, "tag", s"u$i")) &&
      (0 until 7).forall(i =>
        GraftLogBloom.mayContain(merged.head, "tag", s"t$i")),
      "the compacted bloom is a superset of both inputs")
  }

  test("columnStats shrink with file skipping and reach the scan") {
    val dir = tmp()
    // range-partitioned layout: id ranges are disjoint per file, so a
    // selective predicate skips files and the advertised NDV drops
    series(20000).repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    def ndvOf(df: DataFrame): Long = {
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.get
      val stats = scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      val col = stats.columnStats().entrySet().iterator()
      var found = -1L
      while (col.hasNext) {
        val e = col.next()
        if (e.getKey.fieldNames().mkString(".") == "id")
          found = e.getValue.distinctCount().getAsLong
      }
      found
    }
    val full = spark.read.format(Fmt).option("path", dir).load()
    val pruned = full.filter(col("id") < 1000L)
    val fullNdv = ndvOf(full)
    val prunedNdv = ndvOf(pruned)
    assert(relErr(fullNdv, 20000) < 0.15)
    assert(prunedNdv < fullNdv / 2,
      s"skipping kept 1 of 4 files; NDV must shrink ($prunedNdv vs $fullNdv)")
  }

  test("NDV propagates into Catalyst logical stats (the CBO input)") {
    val dir = tmp()
    series(5000).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val df = spark.read.format(Fmt).option("path", dir).load()
    // DataSourceV2Relation.transformV2Stats folds columnStats() into
    // attributeStats — what JoinEstimation/FilterEstimation consume
    val attrStats = df.queryExecution.optimizedPlan.stats.attributeStats
    val idStat = attrStats.find(_._1.name == "id").map(_._2)
    assert(idStat.isDefined,
      "scan column stats must reach the logical plan")
    val ndv = idStat.get.distinctCount.get.toLong
    assert(relErr(ndv, 5000) < 0.15)
    assert(idStat.get.nullCount.contains(BigInt(0)))
  }

  test("legacy stat-less and DV'd files report NULL, never a wrong " +
      "number") {
    val dir = tmp()
    series(1000).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val schema = GraftLog.storedSchema(dir).get
    // simulate a legacy entry: strip the sketch keys from the manifest
    val stripped = GraftLog.entriesAsOf(dir, Long.MaxValue).map(e => e.copy(stats =
      e.stats.filterNot { case (k, _) =>
        k.endsWith("#ndv") || k.endsWith("#nulls") }))
    val merged = GraftLogNdv.mergedColumnStats(schema, stripped)
    assert(merged("id")._1.isEmpty && merged("id")._2.isEmpty)
  }

  test("HLL sketch aggregates: partial-then-union equals direct, " +
      "nulls ignored, empty estimates zero") {
    import graft.functions.{HllEstimate, HllSketch, HllUnion}
    val df = spark.range(10000).selectExpr(
      "CAST(id % 20 AS STRING) AS g",
      "CASE WHEN id % 11 = 0 THEN NULL " +
        "ELSE CAST(id % 731 AS STRING) END AS v")
    val partial = df.groupBy(col("g"))
      .agg(HllSketch.toColumn(col("v")).as("sk"))
      .agg(HllUnion.toColumn(col("sk")).as("sk"))
      .select(HllEstimate.toColumn(col("sk")).as("est"))
      .head.getLong(0)
    val direct = df.agg(HllSketch.toColumn(col("v")).as("sk"))
      .select(HllEstimate.toColumn(col("sk")).as("est"))
      .head.getLong(0)
    assert(partial == direct, "merge must be lossless")
    assert(relErr(direct, 731) < 0.15)
    // an all-null group folds to the zero sketch: estimate 0
    val empty = spark.range(5).selectExpr("CAST(NULL AS STRING) AS v")
      .agg(HllSketch.toColumn(col("v")).as("sk"))
      .select(HllEstimate.toColumn(col("sk")).as("est"))
      .head.getLong(0)
    assert(empty == 0L)
  }

  test("SQL sketch functions: graft_hll_sketch/union/estimate " +
      "compose as plain SQL with lossless re-aggregation") {
    val est = spark.sql("""
      SELECT graft_hll_estimate(graft_hll_sketch(CAST(id % 100 AS
        STRING))) AS e FROM range(0, 100000)""").head.getLong(0)
    assert(relErr(est, 100) < 0.10,
      s"linear-counting regime, still an estimate: got $est")
    // partial-per-group then union == direct over everything
    val (partial, direct) = {
      val p = spark.sql("""
        SELECT graft_hll_estimate(graft_hll_union(sk)) AS e FROM (
          SELECT id % 16 AS shard,
                 graft_hll_sketch(CAST(id % 9173 AS STRING)) AS sk
          FROM range(0, 100000) GROUP BY shard)""").head.getLong(0)
      val d = spark.sql("""
        SELECT graft_hll_estimate(graft_hll_sketch(CAST(id % 9173 AS
          STRING))) AS e FROM range(0, 100000)""").head.getLong(0)
      (p, d)
    }
    assert(partial == direct, "union must be lossless")
    assert(relErr(direct, 9173) < 0.15)
    // NULLs fold to nothing; the estimate read-out of NULL is NULL
    assert(spark.sql("""SELECT graft_hll_estimate(graft_hll_sketch(v))
      FROM VALUES (CAST(NULL AS STRING)) AS t(v)""").head.getLong(0)
      == 0L)
    // typed-Aggregator face and SQL face produce identical sketches
    import graft.functions.HllSketchStr
    val viaAgg = spark.range(1000)
      .agg(HllSketchStr.toColumn(col("id").cast("string")).as("sk"))
      .head.getString(0)
    val viaSql = spark.sql("""SELECT graft_hll_sketch(CAST(id AS
      STRING)) FROM range(0, 1000)""").head.getString(0)
    assert(viaAgg == viaSql)
  }

  test("incremental MV maintains approximate COUNT DISTINCT at delta " +
      "cost, bit-identical to the direct sketch") {
    import graft.sources.{GraftLog, MaterializedAgg}
    import graft.functions.HllSketchStr
    val base = tmp()
    val src = s"$base/src"; val mv = s"$base/mv"
    def batch(k: Int): DataFrame = spark.range(4000)
      .selectExpr(s"id % 8 AS g", s"(id * 7 + $k * 1000) % 3000 AS u",
        "id AS v")
    // bootstrap on batch 0, then two incremental refreshes
    for (k <- 0 until 3) {
      batch(k).coalesce(1).write.format(Fmt).option("path", src)
        .mode("append").save()
      val r = MaterializedAgg.refresh(spark, src, mv, "g", Seq("v"),
        distinctCols = Seq("u"))
      if (k > 0) {
        assert(r.mode == "incremental")
        assert(r.deltaFiles == 1,
          "refresh must scan only the appended file")
      }
    }
    // the maintained sketch must equal the direct sketch of the full
    // source — the lossless-union claim, per group, bit for bit
    val view = spark.read.format(Fmt).option("path", mv).load()
      .select(col("g"), col("hll_u"))
    val direct = spark.read.format(Fmt).option("path", src).load()
      .groupBy(col("g"))
      .agg(HllSketchStr.toColumn(col("u").cast("string"))
        .as("hll_direct"))
    val joined = view.join(direct, "g")
      .select((col("hll_u") === col("hll_direct")).as("same"),
        HllSketchStr.estimate(col("hll_u")).as("est"), col("g"))
      .collect()
    assert(joined.length == 8)
    assert(joined.forall(_.getBoolean(0)),
      "incrementally maintained sketch diverged from direct")
    // per-group exact distinct for comparison
    val exact = spark.read.format(Fmt).option("path", src).load()
      .groupBy(col("g")).agg(countDistinct(col("u")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    joined.foreach(r =>
      assert(relErr(r.getLong(1), exact(r.getLong(2))) < 0.15))
    assert(GraftLog.lastTxnVersion(src, "materialized-agg") == -1L,
      "marker lives on the VIEW's log, not the source's")
  }

  test("t$stats SQL surface lists every column at metadata cost") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft-ndv-cat").toString
    spark.conf.set("spark.sql.catalog.ndvcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ndvcat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS ndvcat.ns")
      spark.sql("DROP TABLE IF EXISTS ndvcat.ns.nt")
      spark.sql("CREATE TABLE ndvcat.ns.nt (id BIGINT, tag STRING)")
      spark.sql("""INSERT INTO ndvcat.ns.nt
        SELECT /*+ REPARTITION(2) */ id, concat('t', id % 5)
        FROM range(0, 10000)""")
      val rows = spark.sql("""SELECT column, ndv_est, null_count
        FROM ndvcat.ns.`nt$stats` ORDER BY column""").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("id", "tag"))
      val idRow = rows.find(_.getString(0) == "id").get
      val tagRow = rows.find(_.getString(0) == "tag").get
      assert(relErr(idRow.getLong(1), 10000) < 0.15)
      assert(idRow.getLong(2) == 0L)
      assert(tagRow.getLong(1) == 5L)
    } finally {
      spark.conf.unset("spark.sql.catalog.ndvcat")
      spark.conf.unset("spark.sql.catalog.ndvcat.warehouse")
    }
  }
}
