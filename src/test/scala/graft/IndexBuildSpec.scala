package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ArtifactCache
import graft.operators.Similarity

/** The IVF and PQ index builds (`Similarity.ivfIndex`, `pqCents`,
  * `pqCodes`): the fused `graft_nearest` / `graft_quantize` kernels
  * against a plain-Scala reference of the training, the kernels against
  * the composed forms they replaced, the jobs and files of a cold build,
  * and the loud failure on a malformed vector. Each build runs on a
  * fresh copy of the embeddings fixture under a new session, so its
  * fixture tag is new and every artifact builds cold. */
class IndexBuildSpec extends SparkSpec {

  /** A fixture dir holding only `embeddings.parquet`: a copy of
    * sf0.001's, or `emb` written there. A new file is a new fixture
    * tag, so the artifact root under it starts empty. */
  private def fixture(emb: Option[DataFrame] = None): String = {
    val d = Files.createTempDirectory("graft-ivfpq-fx")
    val dst = d.resolve("embeddings.parquet")
    emb match {
      case Some(df) => df.coalesce(1).write.parquet(dst.toString)
      case None => Files.copy(Paths.get(sf0001, "embeddings.parquet"), dst)
    }
    d.toString
  }

  /** A session whose in-memory artifact and scalar layers are empty. */
  private def fresh(): SparkSession = spark.newSession()

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  private def artifactDir(d: String, name: String): java.io.File =
    new java.io.File(new java.io.File(
      ArtifactCache.userScopedRoot("artifacts_e1"),
      ArtifactCache.fixtureTag(d)), name)

  // --- the reference training, in plain Scala -------------------------

  /** round(v·1000)+1000 with HALF_UP on the decimal Spark rounds. */
  private def refQuantize(v: Float): Long =
    (BigDecimal(v.toDouble * 1000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble + 1000).toLong

  private def sqdist(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  /** The nearest centroid's id, ties to the smaller id. */
  private def refNearest(v: Array[Long],
      cents: Seq[(Long, Array[Long])]): Long =
    cents.map { case (id, c) => (sqdist(v, c), id) }.min._2

  /** Seeds by rank (every (n/k)-th vector by vec_id, exactly k), then
    * two Lloyd passes with floor-division means. */
  private def refTrain(vecs: Seq[(Long, Array[Long])], k: Int,
      idByRank: Boolean): Seq[(Long, Array[Long])] = {
    val sorted = vecs.sortBy(_._1)
    val stride = sorted.length / k
    val seeds = (0 until k).map { i =>
      val (id, v) = sorted(i * stride)
      (if (idByRank) i.toLong else id) -> v
    }
    (1 to 2).foldLeft(seeds: Seq[(Long, Array[Long])]) { (cents, _) =>
      sorted.groupBy { case (_, v) => refNearest(v, cents) }.toSeq
        .map { case (id, members) =>
          id -> members.head._2.indices.map(p => math.floor(
            members.map(_._2(p)).sum.toDouble / members.length).toLong).toArray
        }.sortBy(_._1)
    }
  }

  test("the IVF and PQ builds equal a plain-Scala reference of the " +
      "training (seeds by rank, two Lloyd passes, floor means, ties to " +
      "the smaller id)") {
    val d = fixture()
    val s = fresh()
    val corpus = s.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(refQuantize).toArray)
      .toSeq
    val n = corpus.length
    assert(n == 500, "sf0.001 holds 500 vectors: m = 1 for both samples")

    val ivf = refTrain(corpus, math.sqrt(n.toDouble).toInt, idByRank = false)
    val wantCells = corpus.map { case (id, v) => id -> refNearest(v, ivf) }.toMap
    val gotCells = Similarity.ivfIndex(s, d).select("vec_id", "cent_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCells == wantCells)
    assert(wantCells.values.toSet.size > 10, "the reference is not degenerate")

    val subs = (0 until 4).map(sub =>
      corpus.map { case (id, v) => id -> v.slice(sub * 16, sub * 16 + 16) })
    val pq = subs.map(refTrain(_, 16, idByRank = true))
    val wantCents = for ((set, sub) <- pq.zipWithIndex; (id, c) <- set)
      yield (sub, id, c.toSeq)
    val gotCents = Similarity.pqCents(s, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    assert(gotCents.sortBy(r => (r._1, r._2)) == wantCents)
    // the inverted list: one row per vector, its cell and its 4 codes
    val wantCodes = corpus.map { case (id, v) => (id, wantCells(id),
      (0 until 4).map(sub => refNearest(v.slice(sub * 16, sub * 16 + 16),
        pq(sub)))) }.toSet
    val gotCodes = Similarity.pqCodes(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(gotCodes == wantCodes)
  }

  test("a cold IVF and PQ build runs a pinned number of jobs and writes " +
      "each trained artifact as one parquet file") {
    val d = fixture()
    val s = fresh()
    val jobs = jobsDuring {
      Similarity.ivfIndex(s, d)
      Similarity.pqCodes(s, d)
    }
    // The join-and-rank build ran 42: it counted the corpus once per
    // index and the training sample in a job of its own, and each Lloyd
    // update ran two aggregations and a broadcast. The fused build ran
    // 29 while PQ trained on and encoded a persisted `pq_subv` (four
    // subvector rows per vector) into four code rows per vector.
    assert(jobs == 26, s"cold IVF + PQ build ran $jobs jobs")
    for (a <- Seq("ivf_index_v2", "pq_cents_v2", "pq_codes_v3")) {
      val parts = artifactDir(d, a).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"$a: ${parts.map(_.getName).toSeq}")
    }
  }

  test("a malformed vector among the seeds fails the IVF and PQ builds, " +
      "naming its vec_id") {
    // vec_id 22 is the IVF seed of rank 22 (k = 22, stride 22); cut to
    // 63 dimensions, its PQ subvector 3 is 15 long.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("embedding", when(col("vec_id") === 22,
        slice(col("embedding"), 1, 63)).otherwise(col("embedding")))
    val d = fixture(Some(emb))
    val ivf = intercept[Exception](Similarity.ivfIndex(fresh(), d))
    assert(messages(ivf).contains("IVF k-means seed vec_id 22 is malformed: " +
      "it has 63 elements; the other seeds of set 0 have 64"),
      messages(ivf))
    // PQ trains on and encodes the IVF index's corpus, so the IVF
    // build's check stops it before a subspace slice is taken
    val pq = intercept[Exception](Similarity.pqCodes(fresh(), d))
    assert(messages(pq).contains("IVF k-means seed vec_id 22 is malformed"),
      messages(pq))
  }

  test("the IVF build rejects every vector whose quantized form could " +
      "give a NULL squared-L2 to a cell mean, naming its vec_id") {
    // `queryProbeCells` ranks extra cells by `graft_sqdist`, which is
    // NULL on a length mismatch or a NULL element. Every vector of
    // `ivf_index` (the queries too) passed `graft_nearest`, so each
    // malformed form fails the build. vec_id 5 is a query, not a seed.
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
    for ((bad, want) <- Seq(
        slice(col("embedding"), 1, 63) ->
          "has 63 elements; the centroids of set 0 have 64",
        lit(null).cast("array<float>") -> "has a NULL vector",
        transform(col("embedding"), (x, i) =>
          when(i === 3, lit(null).cast("float")).otherwise(x)) ->
          "has a NULL element at position 3")) {
      val d = fixture(Some(base.withColumn("embedding",
        when(col("vec_id") === 5, bad).otherwise(col("embedding")))))
      val e = intercept[Exception](Similarity.ivfIndex(fresh(), d))
      assert(messages(e).contains(s"graft_nearest: vec_id 5 $want"),
        messages(e))
    }
  }

  // --- graft_quantize against the composed form -----------------------

  private def composed(e: Column): Column =
    transform(e, v => (round(v.cast("double") * 1000) + 1000).cast("long"))

  private def kernel(e: Column): Column = call_function("graft_quantize", e)

  test("graft_quantize equals the composed transform(round(...)) on " +
      "every fixture element") {
    for (sf <- Seq(sf0001, sf001, "perfbench/fixtures")) {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val bad = emb.filter(!(kernel(col("embedding")) <=>
        composed(col("embedding")))).count()
      assert(bad == 0, s"$sf: $bad vectors differ")
    }
  }

  test("graft_quantize gives the composed form's value or its error on " +
      "the edge values") {
    type Outcome = Either[(String, Map[String, String]), Seq[Any]]
    def outcome(df: => DataFrame): Outcome =
      try Right(df.collect().head.getSeq[Any](0))
      catch { case t: Throwable =>
        val st = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .collectFirst { case e: SparkThrowable if e.getCondition != null => e }
          .getOrElse(throw t)
        import scala.jdk.CollectionConverters._
        Left(st.getCondition -> st.getMessageParameters.asScala.toMap)
      }
    // x.xxx5 values, and sixteenths, whose product is an exact tie
    val halves = Seq(0.0005f, 0.0015f, 0.0025f, 0.1235f, 0.4995f, 0.5005f,
      0.9995f, 0.0625f, 0.1875f, 0.3125f, 0.5625f)
    val edges = (halves ++ Seq(1.0f, 0.0f, 0.001f, Float.MinPositiveValue,
      5e12f, 9.2e15f, Float.MaxValue, Float.PositiveInfinity))
      .flatMap(v => Seq(v, -v)) :+ Float.NaN
    for (ansi <- Seq(true, false)) {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.ansi.enabled", ansi)
      var errors = 0
      for (v <- edges) {
        // through codegen over a scan, and folded on the driver
        val scanned = ss.range(1)
          .select(array(when(col("id") === 0, lit(v))).as("e"))
        val folded = ss.range(1).select(array(lit(v)).as("e"))
        for (df <- Seq(scanned, folded)) {
          val want = outcome(df.select(composed(col("e"))))
          assert(outcome(df.select(kernel(col("e")))) == want,
            s"v = $v, ansi = $ansi")
          if (want.isLeft) errors += 1
        }
      }
      assert((errors > 0) == ansi,
        s"ansi = $ansi: $errors edge values fail the cast")
    }
    assert(outcome(spark.range(1).select(array(lit(0.0005f), lit(null)
      .cast("float")).as("e")).select(kernel(col("e")))) ==
      Right(Seq(1001L, null)), "NULL elements stay NULL")
  }
}
