package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** ANN quality checks the oracle can't express: SRP-LSH bucket recall
  * against brute force, signature determinism, cosine identity, ADC
  * distances against a plain-Scala reference, the jobs each query
  * runs, and the ADC kernels' loud failures. */
class SimilaritySpec extends SparkSpec {

  private def withNprobe[A](n: Option[Int])(body: => A): A = {
    n match {
      case Some(v) => spark.conf.set("spark.graft.ivf.nprobe", v.toString)
      case None => spark.conf.unset("spark.graft.ivf.nprobe")
    }
    try body finally spark.conf.unset("spark.graft.ivf.nprobe")
  }

  test("cosine of a vector with itself is 1") {
    val emb = Tables.embeddings(spark, sf0001).limit(10)
    val r = emb.select(Similarity.cosine(col("embedding"), col("embedding"))
      .as("c")).collect()
    r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-6))
  }

  test("srp signature deterministic and within 0..255") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val a = emb.select(col("vec_id"), Similarity.srpSignature(col("embedding"))
      .as("sig")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = emb.select(col("vec_id"), Similarity.srpSignature(col("embedding"))
      .as("sig")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
    a.values.foreach(s => assert(s >= 0 && s < 256))
  }

  test("identical vectors share an LSH bucket; brute-force top1 is sane") {
    val emb = Tables.embeddings(spark, sf0001)
    // brute-force top-1 per query: similarity must be the max
    val top1 = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 4), 1)
      .select(col("query_id"), col("sim")).collect()
    assert(top1.length == 4)
    top1.foreach(r => assert(r.getDouble(1) <= 1.0 + 1e-6))
    // SRP property: identical embeddings → identical signatures, so a
    // vector joined with itself always lands in its own bucket
    val sigs = emb.select(col("vec_id"),
      Similarity.srpSignature(col("embedding")).as("sig"))
    assert(sigs.groupBy(col("sig")).count().count() > 1,
      "signatures should spread across multiple buckets")
  }

  test("semdedup: per-cluster accounting is consistent and non-vacuous") {
    val r = Similarity.queries("dedup_semdedup")(spark, sf0001)
      .select(col("cent_id"), col("n_vectors"), col("n_dropped"),
        col("n_kept")).collect()
    assert(r.nonEmpty)
    // kept + dropped = size per cluster; never drop a whole cluster
    // (the min-id member has no smaller-id neighbor, so it survives)
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2) + row.getLong(3))
      assert(row.getLong(3) >= 1, s"cluster ${row.getLong(0)} lost all members")
    }
    // cluster sizes must sum to the corpus
    val n = Tables.embeddings(spark, sf0001).count()
    assert(r.map(_.getLong(1)).sum == n)
  }

  test("semdedup cellPairCap: a non-binding cap is row-identical to " +
      "the exact form; a binding cap only ever drops FEWER duplicates") {
    // the linear-envelope escape hatch (VERDICT r14 #1): capped pairs
    // compare each vector against only the C nearest preceding cell
    // members — with C >= max cell size the banded join degenerates to
    // the exact unbounded one and the committed-oracle result must be
    // IDENTICAL, row for row
    def rows(capped: Option[Int]) = {
      capped match {
        case Some(c) =>
          spark.conf.set("spark.graft.semdedup.cellPairCap", c.toString)
        case None => spark.conf.unset("spark.graft.semdedup.cellPairCap")
      }
      try Similarity.queries("dedup_semdedup")(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      finally spark.conf.unset("spark.graft.semdedup.cellPairCap")
    }
    val exact = rows(None)
    assert(rows(Some(1000000)) == exact,
      "a cap beyond every cell size must not change a single row")
    // a binding cap is a candidate-pair SUBSET: every cluster keeps at
    // least as many members (a missed witness can only un-drop)
    val capped = rows(Some(1)).map(t => t._1 -> t._3).toMap
    val exactD = exact.map(t => t._1 -> t._3).toMap
    assert(capped.keySet == exactD.keySet, "same clusters either way")
    capped.foreach { case (cell, d) =>
      assert(d <= exactD(cell),
        s"cell $cell: capped form dropped MORE ($d > ${exactD(cell)})")
    }
  }

  test("embedding-cosine srpBlockBits: 8 is the committed form; wider " +
      "blocking yields a strict subset of pairs with identical cosines") {
    def pairs(bits: Option[Int]) = {
      bits match {
        case Some(b) =>
          spark.conf.set("spark.graft.dedup.srpBlockBits", b.toString)
        case None => spark.conf.unset("spark.graft.dedup.srpBlockBits")
      }
      try Similarity.queries("dedup_embedding_cosine")(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      finally spark.conf.unset("spark.graft.dedup.srpBlockBits")
    }
    val committed = pairs(None)
    assert(pairs(Some(8)) == committed, "bits=8 must be the default form")
    val wide = pairs(Some(12))
    // the first 8 planes are a prefix of the 12-bit signature: equal
    // 12-bit blocks imply equal 8-bit blocks, so wide ⊆ committed
    assert(wide.keySet.subsetOf(committed.keySet),
      s"wide blocking must not invent pairs: ${wide.keySet -- committed.keySet}")
    wide.foreach { case (k, sim) =>
      assert(sim == committed(k), s"pair $k cosine drifted")
    }
  }

  test("ivf nprobe: 1 is row-identical to the committed single-cell " +
      "form; more probes only improve every query's best candidate") {
    def ivfRows(n: Option[Int]) = withNprobe(n) {
      Similarity.queries("sim_ivf_ann")(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    val committed = ivfRows(None)
    assert(ivfRows(Some(1)) == committed,
      "nprobe=1 must be the committed form bit for bit")
    // nprobe=4: candidates are a superset (3 extra whole cells), so
    // the rank-1 similarity can only rise, per query
    val best1 = committed.filter(_._2 == 1).map(t => t._1 -> t._4).toMap
    val best4 = ivfRows(Some(4)).filter(_._2 == 1)
      .map(t => t._1 -> t._4).toMap
    assert(best4.keySet == best1.keySet)
    best1.foreach { case (q, s1) =>
      assert(best4(q) >= s1 - 1e-12,
        s"query $q: nprobe=4 best ${best4(q)} < single-cell best $s1")
    }
    // the ADC path routes through the same probe set: rank-1 distance
    // can only shrink
    def adcBest(n: Option[Int]) = withNprobe(n) {
      Similarity.queries("sim_ivfpq_ann")(spark, sf0001).collect()
        .filter(_.getInt(1) == 1)
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
    }
    val (a1, a4) = (adcBest(None), adcBest(Some(4)))
    assert(a4.keySet == a1.keySet)
    a1.foreach { case (q, d1) =>
      assert(a4(q) <= d1, s"query $q: nprobe=4 adc ${a4(q)} > $d1")
    }
  }

  test("ivfpq candidates come from the query's cell; adc ranks ascend") {
    val res = Similarity.queries("sim_ivfpq_ann")(spark, sf0001).collect()
    assert(res.nonEmpty)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      // adc_dist non-decreasing in rank; ranks are 1..n without gaps
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      val dists = sorted.map(_.getLong(3))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    // flat ADC (scans every code) can only be at least as good as the
    // cell-restricted search per query at rank 1
    val flat = Similarity.queries("sim_pq_adc")(spark, sf0001)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    byQ.foreach { case (q, rows) =>
      val best = rows.map(_.getLong(3)).min
      flat.get(q).foreach(fb => assert(fb <= best,
        s"query $q: flat ADC best $fb worse than cell-restricted $best"))
    }
  }

  test("every ADC distance equals a plain-Scala sum of squared-L2 from " +
      "the query's slices to its codes' centroids: flat, and cell-routed " +
      "at nprobe 1 and 4") {
    def quantize(v: Float): Long =
      (BigDecimal(v.toDouble * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble + 1000).toLong
    def sq(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def slice(v: Array[Long], sub: Int): Seq[Long] =
      v.slice(sub * 16, sub * 16 + 16).toSeq
    val qv = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(quantize).toArray)
      .toMap
    val book = Similarity.pqCents(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val codes = qv.map { case (id, v) => id -> (0 until 4).map { sub =>
      book.collect { case ((`sub`, c), cq) => (sq(slice(v, sub), cq), c) }
        .min._2
    } }
    def ref(q: Long, v: Long): Long = (0 until 4)
      .map(sub => sq(slice(qv(q), sub), book((sub, codes(v)(sub))))).sum
    val queries = 0L until 8L

    val flat = Similarity.queries("sim_pq_adc")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    for (q <- queries) {
      val want = qv.keys.filter(_ != q).map(v => (ref(q, v), v)).toSeq
        .sorted.take(3)
      val got = flat.filter(_._1 == q).sortBy(_._2).map(t => (t._4, t._3))
      assert(got.toSeq == want, s"flat ADC, query $q")
    }

    val cell = Similarity.ivfIndex(spark, sf0001).select("vec_id", "cent_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (n <- Seq(1, 4)) withNprobe(Some(n)) {
      val got = Similarity.adcDistances(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
        s"nprobe $n: one row per (query, vector)")
      got.foreach { case (q, v, dd) =>
        assert(dd == ref(q, v), s"nprobe $n: query $q, vec_id $v") }
      for (q <- queries) {
        val vecs = got.filter(_._1 == q).map(_._2).toSet
        val cells = vecs.map(cell)
        assert(cells.size == n && cells.contains(cell(q)),
          s"nprobe $n: query $q probed cells $cells")
        assert(vecs == cell.collect { case (v, c) if cells(c) => v }.toSet - q,
          s"nprobe $n: query $q scores every member of its probed cells")
      }
    }
  }

  test("the ADC queries and the 8-row query sides run a pinned number " +
      "of jobs") {
    Similarity.warmArtifacts(spark, sf0001)
    def jobs(name: String): Int = {
      def run(): Unit = Similarity.queries(name)(spark, sf0001).write
        .mode("overwrite").format("noop").save()
      run() // the first run also collects the PQ codebook
      jobsDuring(run())
    }
    val names = Seq("sim_pq_adc", "sim_ivfpq_ann", "sim_ivfpq_rerank",
      "sim_cosine_topk", "sim_ann_recall")
    // The previous plans ran 5, 7 and 11 for the ADC queries (the
    // distance table built by a join and broadcast, four code rows per
    // vector and a shuffled (query, vector) aggregation), and 5 and 8
    // for the other two (a round-robin shuffle of the corpus before
    // each 8-row query broadcast).
    assert(names.map(n => n -> jobs(n)) == Seq("sim_pq_adc" -> 3,
      "sim_ivfpq_ann" -> 3, "sim_ivfpq_rerank" -> 6, "sim_cosine_topk" -> 4,
      "sim_ann_recall" -> 7))
  }

  test("ADC fails loudly, naming the vec_id, on a code word that does not " +
      "fit the table and on a malformed query vector") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // slot (2, 5) is NULL: a centroid no vector chose
    val tbl = array((0 until 4).map(sub => array((0 until 16).map(c =>
      if (sub == 2 && c == 5) lit(null).cast("long")
      else lit(sub * 100L + c)): _*)): _*)
    def codes(cs: Option[Long]*): Column =
      array(cs.map(_.fold(lit(null).cast("long"))(lit(_))): _*)
    // through codegen over a scan, and folded on the driver
    def both(f: Column => Column): Seq[DataFrame] = Seq(
      spark.range(7, 8).select(f(col("id"))),
      spark.range(1).select(f(lit(7L))))
    def adc(cs: Column)(id: Column): Column =
      call_function("graft_adc", id, cs, tbl)
    for (df <- both(adc(codes(Some(1), Some(2), Some(3), Some(4)))))
      assert(df.collect().head.getLong(0) == 1 + 102 + 203 + 304)
    val bad = Seq(
      codes(Some(1), Some(2), Some(3)) -> "has 3 codes; the table has 4 subspaces",
      codes(Seq.fill(5)(Some(1L)): _*) -> "has 5 codes; the table has 4 subspaces",
      codes(Some(1), Some(2), Some(3), Some(16)) ->
        "has code 16 in subspace 3, which has no centroid",
      codes(Some(1), Some(-1), Some(3), Some(4)) ->
        "has code -1 in subspace 1, which has no centroid",
      codes(Some(1), Some(2), Some(5), Some(4)) ->
        "has code 5 in subspace 2, which has no centroid",
      codes(Some(1), None, Some(3), Some(4)) -> "has a NULL code in subspace 1",
      lit(null).cast("array<bigint>") -> "has a NULL code word")
    for ((cs, want) <- bad; df <- both(adc(cs))) {
      val e = intercept[Exception](df.collect())
      assert(messages(e).contains(s"graft_adc: vec_id 7 $want"), messages(e))
    }

    // set 0 has no centroid 1: its table row holds NULL there
    val ids = typedLit(Seq(Seq(0L, 2L), Seq(0L)))
    val cents = typedLit(Seq(Seq(0L, 0L, 4L, 4L), Seq(1L, 1L)))
    def table(v: Column)(id: Column): Column =
      call_function("graft_adc_table", id, v, ids, cents)
    for (df <- both(table(typedLit(Seq(1L, 2L, 3L, 3L)))))
      assert(df.collect().head.getSeq[Seq[Any]](0) ==
        Seq(Seq(5L, null, 13L), Seq(8L)))
    for ((v, want) <- Seq(
        typedLit(Seq(1L, 2L, 3L)) -> "has 3 elements; the 2 centroid sets cover 4",
        array(lit(1L), lit(null).cast("long"), lit(3L), lit(3L)) ->
          "has a NULL element at position 1",
        lit(null).cast("array<bigint>") -> "has a NULL vector");
        df <- both(table(v))) {
      val e = intercept[Exception](df.collect())
      assert(messages(e).contains(s"graft_adc_table: vec_id 7 $want"),
        messages(e))
    }
  }

  test("multi-probe ANN candidates are a superset of single-probe's") {
    // Probing the exact bucket plus all hamming-1 neighbors can only
    // widen each query's candidate set, so per query the result count
    // is at least the single-probe count (both cap at k=3).
    val single = Similarity.queries("sim_lsh_ann")(spark, sf0001)
      .groupBy(col("query_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Similarity.queries("sim_lsh_ann_multiprobe")(spark, sf0001)
      .groupBy(col("query_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    single.foreach { case (q, n) =>
      assert(multi.getOrElse(q, 0L) >= n,
        s"query $q: multiprobe returned fewer rows than single-probe")
    }
  }

  test("srpSignature refuses widths past 31: an Int shift would wrap " +
      "and silently corrupt the blocking key") {
    val e = intercept[IllegalArgumentException](
      Similarity.srpSignature(col("embedding"), bits = 32))
    assert(e.getMessage.contains("31"), e.getMessage)
    intercept[IllegalArgumentException](
      Similarity.srpSignature(col("embedding"), bits = 0))
  }

  test("servingConfs applies exactly the documented production triple") {
    // the README serving-profile table promises (nprobe=4,
    // shortlist=40, srpBlockBits=12) — this pin keeps the one-call
    // helper and the documentation from drifting apart
    val s2 = spark.newSession()
    Similarity.servingConfs(s2)
    assert(s2.conf.get("spark.graft.ivf.nprobe") == "4")
    assert(s2.conf.get("spark.graft.ivfpq.shortlist") == "40")
    assert(s2.conf.get("spark.graft.dedup.srpBlockBits") == "12")
    // the helper scopes to the session it is handed — the shared spec
    // session must be untouched
    assert(spark.conf.getOption("spark.graft.ivf.nprobe").isEmpty)
  }
}
