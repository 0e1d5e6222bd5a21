package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Par.fanout
import graft.sources.Tables

/** Similarity search over embedding columns [EXT] (SURVEY.md §2.6).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus, so the corpus is scanned exactly once with no
  * shuffle of the embedding column; per-query ranking is a window over
  * the query key (k heap rows per query survive the rank filter).
  * At 100 TB the corpus side stays partition-parallel and the only data
  * movement is the broadcast of the query vectors.
  *
  * Scale path: sign-random-projection LSH — a deterministic 8-bit
  * hyperplane signature buckets the corpus (one pass, no shuffle), then
  * candidate retrieval joins query signatures to corpus buckets and
  * reranks only within buckets (~1/256 of the corpus per probe). The
  * hyperplanes are a deterministic splitmix64 matrix precomputed on the
  * driver and shipped as literals, so signatures are reproducible across
  * runs and clusters with zero mutable driver state. */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Dot product of two float-array columns in double precision —
    * the custom codegen'd [[graft.functions.DotProduct]] expression
    * (registered as `graft_dot` by GraftExtensions; one fused loop, no
    * intermediate array). Same strict left-fold accumulation order as
    * the composed `aggregate(zip_with(...))` form and the DuckDB
    * `list_reduce` oracles, so doubles are bit-identical. Embeddings in
    * the fixtures are L2-normalized, so dot == cosine. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Cosine similarity (does not assume normalized inputs). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Integer squared-L2 over two `array<bigint>` columns — the codegen'd
    * [[graft.functions.SquaredL2]] kernel (one fused loop; replaces the
    * interpreted `aggregate(zip_with(...))` fold). Exact long
    * arithmetic, so ADC distances are identical to the DuckDB
    * `list_reduce` oracles. */
  def sqdist(a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** Trained centroids on the driver: per set (IVF has one, PQ one per
    * subspace), each centroid's id and vector, sorted by id. */
  private type Cents = IndexedSeq[Seq[(Long, Array[Long])]]

  /** Each quantized vector's nearest centroid of its `set` — the
    * codegen'd [[graft.functions.NearestCentroid]] kernel
    * (`graft_nearest`): exact integer squared-L2, ties to the smaller
    * id, the centroids passed in as literals. It fails naming the
    * `vec_id` of a malformed vector. */
  private def nearest(v: Column, set: Column, cents: Cents): Column =
    call_function("graft_nearest", col("vec_id") +: v +: set +:
      centroidLits(cents): _*)

  /** Centroid sets as the kernels' two literals: per set, the ids, and
    * the centroids flattened row-major. */
  private def centroidLits(cents: Cents): Seq[Column] =
    Seq(typedLit(cents.map(_.map(_._1))),
      typedLit(cents.map(_.flatMap(_._2.toSeq))))

  /** splitmix64 finalizer (public-domain PRNG, Steele et al. 2014) —
    * deterministic hyperplane source with zero driver state beyond the
    * (plane, dim) index. */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hyperplane row `p` over `dim` dimensions, components in [-1, 1).
    * Precomputed ONCE on the driver and shipped as an array<float>
    * literal — the round-2 form recomputed a hash per (row, plane, dim)
    * inside nested HOF lambdas and was the slowest query in the bench
    * (27 s); a constant matrix + the codegen'd `graft_dot` kernel makes
    * the signature 8 fused loops per row. */
  private def planeRow(p: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      val h = splitmix64((p.toLong << 32) | i.toLong)
      (((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0).toFloat
    }

  /** SRP plane count — ONE definition shared by the signature builder
    * (Spark and SQL twins) and the multiprobe bit flips: the flips must
    * cover exactly the signature's bits, so hardcoding 8 in the probe
    * loop would silently stop probing the upper planes if the knob
    * were ever raised. */
  private[operators] val SrpBits = 8

  /** The exact-integer quantization grid every trained index lives on
    * (round(v*1000)+1000 — non-negative, so floor-div Lloyd updates
    * agree across engines). ONE definition: IVF cells and PQ codes
    * must train on the SAME grid or the composed IVFADC query would
    * route on one geometry and score on another. */
  private def quantize(emb: Column): Column =
    call_function("graft_quantize", emb)

  /** Sign-random-projection signature of an embedding column: bit `p` is
    * the sign of the dot product with precomputed hyperplane `p`.
    * `dim` must match the embedding dimensionality (64 in the fixtures). */
  def srpSignature(emb: Column, bits: Int = SrpBits, dim: Int = 64): Column = {
    // Int-shift wraps silently past bit 31 (1 << 32 == 1), which would
    // collide plane bits into a corrupted blocking key — refuse loudly.
    require(bits >= 1 && bits <= 31,
      s"srpSignature bits must be in [1, 31], got $bits " +
        "(spark.graft.dedup.srpBlockBits caps at 31)")
    (0 until bits).map { p =>
      when(dot(emb, typedLit(planeRow(p, dim))) > 0.0, lit(1 << p))
        .otherwise(lit(0))
    }.reduce(_ bitwiseOR _)
  }

  /** The SRP index — (vec_id, embedding, 8-bit signature) — as a
    * session+fixture artifact: an ANN index is the canonical
    * built-at-ingest structure, and five queries (both LSH ANN forms,
    * the bucket histogram, the recall evaluation, embedding-cosine
    * dedup) consume the same one. */
  private[graft] def srpIndex(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.persisted(s, d, "srp_index", "v1")(
      fanout(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"),
          srpSignature(col("embedding")).as("sig")))

  /** The embeddings' row count, which sizes both trained indexes: one
    * job per (session, fixture), shared by the IVF and PQ builds. */
  private def corpusSize(s: SparkSession, d: String): Long =
    graft.core.ArtifactCache.scalarOf(s, d, "embeddings_rows")(
      Tables.embeddings(s, d).agg(count(lit(1))).head.getLong(0))

  /** Integer k-means over the training sample `tr` (vec_id, set, v): `k`
    * centroids per set, seeded by every (sample/k)-th member of the set
    * BY RANK of vec_id, bounded to exactly k, then two Lloyd iterations.
    * Rank, not raw id — the earlier `vec_id % stride` rule assumed ids
    * dense in 0..n-1 and collapsed on a sparse id space (the 10x
    * orthogonal-copy probe: 15 live cells where k=141); on a dense-id
    * fixture rank == vec_id and the seeds are those of the old rule. The
    * rank window runs over the BOUNDED sample, never the corpus. A seed
    * is named by its vec_id (IVF) or by its rank / stride (PQ,
    * `idByRank`).
    *
    * Each Lloyd pass is one job: the `graft_nearest` assignment feeds
    * one partially aggregated sum and count per (set, cent_id, pos),
    * which the driver collects and turns into the per-dimension integer
    * mean — floor division on non-negative sums, so Spark and DuckDB
    * agree; floor(a/b) on exact-integer doubles is exact since
    * a ≤ 4e6 ≪ 2^53 and a/b can't round across an integer. That mean is
    * the next pass's literal. A centroid no vector chose drops out, as
    * in the oracle's GROUP BY. All integer arithmetic, so the DuckDB
    * oracles replay the run bit for bit. */
  private def kmeans(tr: DataFrame, sets: Int, k: Long, idByRank: Boolean,
      what: String): Cents = {
    // One job ranks each set and counts it: a set of sn members seeds
    // from ranks 0, stride, ..., (k-1)·stride with stride = sn / k; a
    // set smaller than k keeps its rank-0 row so the driver sees sn.
    val stride = floor(col("sn") / lit(k))
    val seeds = tr
      .withColumn("srn",
        row_number().over(Window.partitionBy(col("set"))
          .orderBy(col("vec_id"))).cast("long") - 1)
      .withColumn("sn", count(lit(1)).over(Window.partitionBy(col("set"))))
      .filter(when(stride > 0, col("srn") % stride === 0 &&
          col("srn") < stride * lit(k))
        .otherwise(col("srn") === 0))
      .select(col("set"), col("vec_id"),
        (if (idByRank) floor(col("srn") / stride) else col("vec_id"))
          .cast("long").as("cent_id"),
        col("v"), col("sn"))
      .collect()
    val sn = seeds.map(_.getLong(4)).minOption.getOrElse(0L)
    require(sn >= k, s"$what training sample $sn smaller than k=$k")
    (1 to 2).foldLeft(seedSets(seeds, sets, what)) { (cents, _) =>
      val sums = tr
        .select(col("set"), nearest(col("v"), col("set"), cents).as("cent_id"),
          col("v"))
        .select(col("set"), col("cent_id"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("set"), col("cent_id"), col("pos"))
        .agg(sum(col("x")), count(lit(1)))
        .collect()
      val bySet = sums.groupBy(_.getInt(0))
      (0 until sets).map { set =>
        bySet.getOrElse(set, Array.empty).groupBy(_.getLong(1)).toSeq
          .map { case (id, rows) =>
            val cq = new Array[Long](rows.length)
            rows.foreach(r => cq(r.getInt(2)) =
              math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong)
            id -> cq
          }.sortBy(_._1)
      }
    }
  }

  /** The collected seeds (set, vec_id, cent_id, v) as centroid sets. A
    * seed that is NULL, holds a NULL, or is shorter or longer than the
    * other seeds of its set has no distance to the set's vectors, so it
    * fails here, naming its vec_id. */
  private def seedSets(rows: Array[Row], sets: Int, what: String): Cents = {
    val bySet = rows.groupBy(_.getInt(0))
    (0 until sets).map { set =>
      val rs = bySet.getOrElse(set, Array.empty)
      def len(r: Row): Int = if (r.isNullAt(3)) -1 else r.getSeq[Any](3).size
      val dim = rs.groupBy(len).maxByOption { case (l, g) => (g.length, l) }
        .map(_._1).getOrElse(0)
      rs.toSeq.map { r =>
        val v = if (r.isNullAt(3)) null else r.getSeq[Any](3)
        val bad =
          if (v == null) Some("is NULL")
          else if (v.contains(null)) Some("holds a NULL")
          else if (v.size != dim) Some(s"has ${v.size} elements; the " +
            s"other seeds of set $set have $dim")
          else None
        bad.foreach(b => throw new IllegalArgumentException(
          s"$what k-means seed vec_id ${r.get(1)} is malformed: it $b"))
        r.getLong(2) -> v.map(_.asInstanceOf[Long]).toArray
      }.sortBy(_._1)
    }
  }

  /** The trained IVF index — corpus → cell assignment
    * (vec_id, embedding, cent_id) — as a session+fixture artifact
    * shared by sim_ivf_ann (cell-probe search), dedup_semdedup
    * (cluster-bounded semantic dedup) and the PQ build, which trains
    * on and encodes this corpus and copies each vector's cell into the
    * `pq_codes` inverted list: one coarse quantizer serves search AND
    * dedup, exactly how a production corpus keeps one k-means
    * clustering per embedding space. The IVFADC queries read only
    * their 8 query rows from it.
    *
    * Training (see the sim_ivf_ann scaladoc for the full rationale):
    * k = ⌊√n⌋ cells, [[kmeans]] over the bounded deterministic
    * training sample (every m-th vec_id, m = max(1, n / max(2048,
    * 39k)) — the FAISS train-on-a-sample rule) on the round(v·1000)+1000
    * grid. The one full pass is the final cell assignment — the index
    * build itself, one `graft_nearest` call per vector. The quantized
    * corpus is checkpointed because the seeding, both Lloyd passes and
    * the final assignment all read it. The index is
    * hash-partitioned by vec_id before the write so AQE sizes its files
    * by bytes (one file at the fixtures), as the rank window it replaced
    * did. */
  private[graft] def ivfIndex(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.persisted(s, d, "ivf_index", "v2") {
      // localCheckpoint, NOT cache(): a cache() entry stays pinned in
      // the CacheManager for the whole session after the artifact is
      // built (nothing ever unpersisted it — storage memory stolen from
      // every later query), while checkpoint blocks are reclaimed by the
      // ContextCleaner once the built index stops referencing them.
      val emb = fanout(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"),
          quantize(col("embedding")).as("qv"))
        .localCheckpoint()
      // The count lets the empty-corpus case fail LOUDLY here instead
      // of training a quantizer over zero seeds.
      val n = corpusSize(s, d)
      require(n >= 1, s"IVF index over an empty embeddings table ($d)")
      val k = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      val m = math.max(1L, n / math.max(2048L, k * 39L))
      val tr = emb.filter(col("vec_id") % lit(m) === 0)
        .select(col("vec_id"), lit(0).as("set"), col("qv").as("v"))
      val cents = kmeans(tr, 1, k, idByRank = false, "IVF")
      emb.select(col("vec_id"), col("embedding"),
          nearest(col("qv"), lit(0), cents).as("cent_id"))
        .repartition(col("vec_id"))
    }

  private val PqNumSub = 4
  private val PqSubDim = 16
  private val PqK = 16

  /** The quantized corpus's `PqNumSub` subspace slices — the PQ
    * training sample's rows and the encoding's inputs. */
  private def subvector(qv: Column, sub: Int): Column =
    slice(qv, sub * PqSubDim + 1, PqSubDim)

  /** The trained PQ codebooks (sub, cent_id, cq): [[kmeans]] per
    * subspace, PqK centroids each, on a bounded deterministic sample
    * (every m-th vec_id, m = max(1, n/2048) — 2048 vectors ≫ the 39·16
    * FAISS floor for 16 centroids) of the IVF index's corpus, quantized
    * and sliced into its subspaces in the projection: Lloyd cost stays
    * constant as the corpus grows; only the one-pass final encoding
    * touches every vector. m = 1 at the driver fixtures; the oracle
    * replays the identical slice. Built on the driver, so written as
    * one file. */
  private[graft] def pqCents(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.persisted(s, d, "pq_cents", "v2") {
      // stride = n/16 is ZERO for a corpus under 16 vectors, and the
      // oracle's `x % 0` is NULL — its filters would drop every row, all
      // PQ oracles would return 0 rows with no error, and the gate would
      // pass vacuously. Fail loudly instead.
      val n = corpusSize(s, d)
      require(n >= PqK,
        s"PQ training needs at least $PqK vectors, got $n ($d)")
      val m = math.max(1L, n / 2048L)
      val tr = ivfIndex(s, d)
        .filter(col("vec_id") % lit(m) === 0)
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .select(col("vec_id"), explode(array((0 until PqNumSub).map(sub =>
          struct(lit(sub).as("set"), subvector(col("qv"), sub).as("v"))): _*))
          .as("x"))
        .select(col("vec_id"), col("x.set").as("set"), col("x.v").as("v"))
      val rows = kmeans(tr, PqNumSub, PqK, idByRank = true, "PQ")
        .zipWithIndex.flatMap { case (set, sub) =>
          set.map { case (id, cq) => (sub, id, cq.toSeq) } }
      s.createDataFrame(rows).toDF("sub", "cent_id", "cq").coalesce(1)
    }

  /** The PQ codebooks on the driver, one centroid set per subspace —
    * index state, collected once per (session, fixture) and passed to
    * the encoding and every query's ADC tables as a literal. */
  private def pqCodebook(s: SparkSession, d: String): Cents =
    graft.core.ArtifactCache.valueOf(s, d, "pq_cents@v2#codebook") {
      val bySub = pqCents(s, d).collect().groupBy(_.getInt(0))
      (0 until PqNumSub).map(sub =>
        bySub.getOrElse(sub, Array.empty).toSeq
          .map(r => r.getLong(1) -> r.getSeq[Long](2).toArray).sortBy(_._1))
    }

  /** The encoded corpus as an IVF-PQ inverted list (vec_id, cent_id,
    * codes): one row per vector, its IVF cell and its `PqNumSub`-code
    * word — 64× smaller than the raw floats, which is what keeps
    * billion-vector indexes RAM-resident at 100 TB, and a cell-routed
    * ADC scan reads nothing else. One projection over the IVF index
    * quantizes each vector and names each subspace slice's
    * `graft_nearest` centroid of that subspace; hash-partitioned like
    * [[ivfIndex]] so AQE sizes the files by bytes. */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame =
    graft.core.ArtifactCache.persisted(s, d, "pq_codes", "v3") {
      val cb = pqCodebook(s, d)
      ivfIndex(s, d)
        .select(col("vec_id"), col("cent_id"),
          quantize(col("embedding")).as("qv"))
        .select(col("vec_id"), col("cent_id"),
          array((0 until PqNumSub).map(sub =>
            nearest(subvector(col("qv"), sub), lit(sub), cb)): _*)
            .as("codes"))
        .repartition(col("vec_id"))
    }

  /** The 8 fixture query vectors as (query_id, own, qv, tbl): each
    * query's IVF cell, its quantized vector and its ADC distance table
    * — `tbl[sub][cent_id]`, the integer squared-L2 from the query's
    * slice of subspace `sub` to that centroid, built by the codegen'd
    * [[graft.functions.AdcTable]] kernel (`graft_adc_table`) with the
    * codebook as a literal. One projection over the query rows of the
    * IVF index. */
  private def queryTables(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebook(s, d)
    ivfIndex(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("cent_id").as("own"),
        quantize(col("embedding")).as("qv"))
      .withColumn("tbl", call_function("graft_adc_table",
        col("query_id") +: col("qv") +: centroidLits(cb): _*))
  }

  /** A candidate's ADC distance to a query — Σ tbl[sub][codes[sub]], the
    * codegen'd [[graft.functions.AdcDistance]] kernel (`graft_adc`):
    * exact long sums, and a code word that does not fit the table
    * throws, naming the `vec_id`, instead of reading NULL. */
  private def adc: Column =
    call_function("graft_adc", col("vec_id"), col("codes"), col("tbl"))

  /** The probed cells of each query: `q` (query_id, own, qv, …) with
    * `p_cent` added, one row per probed cell — always the query's OWN
    * assigned cell, plus, under `spark.graft.ivf.nprobe=P` (default 1
    * — the committed oracle form, bit-identical by construction since
    * probe #1 IS the assignment), the P−1 nearest OTHER cells by
    * integer squared-L2 between the query's quantized vector and each
    * cell's integer mean on the same grid (floor-div per dimension —
    * the Lloyd update rule, so the routing surrogate matches the
    * trained centroid's arithmetic). `q`'s other columns ride along to
    * every probe row. This is FAISS's nprobe: the recall lever for
    * IVF-routed search — §2 of the r15 notes measured single-cell
    * recall@3 at 0.25–0.29 under 10–30× occupancy, and extra probes
    * buy recall linearly in scan cost (P·√n candidates). The cell-mean
    * table is k rows — broadcast, never a shuffle of the corpus. The
    * distance is never NULL: every `ivf_index` vector, the queries
    * included, passed `graft_nearest`, which rejects a NULL vector, a
    * NULL element and a wrong length (IndexBuildSpec pins it), so
    * every `qv` and every cell mean is a full-length non-NULL vector. */
  private def queryProbeCells(s: SparkSession, d: String,
      q: DataFrame): DataFrame = {
    val own = q.withColumn("p_cent", col("own"))
    val nprobe = s.conf.getOption("spark.graft.ivf.nprobe")
      .map(_.toInt).getOrElse(1)
    if (nprobe <= 1) own
    else {
      val means = ivfIndex(s, d)
        .select(col("cent_id"),
          posexplode(quantize(col("embedding"))).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(floor(sum(col("v")) / count(lit(1))).cast("long").as("cmean"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cmean")))),
          x => x.getField("cmean")).as("cq"))
      val wP = Window.partitionBy(col("query_id"))
        .orderBy(col("dist").asc, col("cent_id"))
      val extra = q.join(broadcast(means), col("cent_id") =!= col("own"))
        .withColumn("dist", sqdist(col("qv"), col("cq")))
        .withColumn("prn", row_number().over(wP))
        .filter(col("prn") <= nprobe - 1)
        .withColumn("p_cent", col("cent_id"))
        .drop("cent_id", "cq", "dist", "prn")
      own.unionByName(extra)
    }
  }

  /** IVFADC candidate scoring — (query_id, vec_id, adc_dist) for the
    * 8 query vectors, cell-routed and table-looked-up: the shared
    * first stage of sim_ivfpq_ann (ranks it directly) and
    * sim_ivfpq_rerank (shortlists then fp-refines), at every
    * `spark.graft.ivf.nprobe`. ONE definition so cell routing and ADC
    * scoring cannot drift between the two. The query tables join the
    * probe-cell set ([[queryProbeCells]]) and are broadcast to the
    * `pq_codes` scan, where each member of a probed cell scores with
    * [[adc]]: one row per vector, no join on (sub, code) and no
    * (query, vector) aggregation, and no float vector read. */
  private[graft] def adcDistances(s: SparkSession, d: String): DataFrame = {
    val probes = queryProbeCells(s, d, queryTables(s, d))
      .select(col("query_id"), col("p_cent"), col("tbl"))
    pqCodes(s, d).join(broadcast(probes),
        col("cent_id") === col("p_cent") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adc.as("adc_dist"))
  }

  /** Materialize every ANN index artifact (SRP signatures, trained IVF
    * assignment, PQ codebooks / encoded corpus) for `d` —
    * the bench drive's build phase calls this directly instead of
    * executing one full query per index. */
  def warmArtifacts(s: SparkSession, d: String): Unit = {
    srpIndex(s, d); ivfIndex(s, d); pqCodes(s, d)
    ()
  }

  /** Apply the recommended ANN SERVING profile (VERDICT r15 #4). The
    * committed defaults (nprobe=1, shortlist 10, srpBlockBits=8) exist
    * for bit-exact oracle replay and are the WORST quality point a
    * deployment can ship; the 30× ladder measured the trade (PERF_r21
    * §1–2): nprobe=4 lifts IVF recall@3 .292→.417 (ratio_best
    * .914→.958) for 4× candidates, the rerank shortlist must scale
    * 10×nprobe or ADC noise saturates it (recall .042→.167 under
    * nprobe=4 at 30×), and 12 blocking bits cut embedding-dedup
    * candidate pairs 13.8× at 30× (a pair SUBSET with identical
    * cosines). One call, so the production posture is a decision, not
    * three scattered conf lookups. Values are pinned by spec against
    * the README table. */
  def servingConfs(s: SparkSession): Unit = {
    s.conf.set("spark.graft.ivf.nprobe", "4")
    s.conf.set("spark.graft.ivfpq.shortlist", "40")
    s.conf.set("spark.graft.dedup.srpBlockBits", "12")
  }

  /** Brute-force top-k neighbors for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queriesDf: DataFrame, k: Int): DataFrame = {
    val q = queriesDf.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot(col("q_emb"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  val queries: Map[String, Q] = Map(
    // ANN quality evaluation: the multi-probe SRP index's best hit
    // versus the exact brute-force best — the measurement an index
    // rollout gates on. On this corpus (near-uniform random 64-dim
    // vectors, no cluster structure) set-recall@k is inherently
    // near-zero for ANY sublinear index, so the checkable claim is
    // the approximation ratio: every query must find candidates, and
    // the best candidate must reach ≥ 0.35 of the exact best cosine
    // (measured 0.42–0.87 on the fixtures — deterministic, since
    // every dot product is the bit-exact strict fold). The exact side
    // is fixture-scale scaffolding; at 100 TB you sample the query
    // set, not the corpus. Bounds-boolean oracle: TRUE rows the
    // Spark side must earn.
    "sim_ann_recall" -> ((s, d) => {
      val exact = bruteForceTopK(fanout(Tables.embeddings(s, d)),
        Tables.embeddings(s, d).filter(col("vec_id") < 8), 1)
        .select(col("query_id"), col("sim").as("e_sim"))
      val approx = Similarity.queries("sim_lsh_ann_multiprobe")(s, d)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("sim").as("a_sim"))
      exact.join(approx, Seq("query_id"), "left")
        .select(col("query_id"),
          col("a_sim").isNotNull.as("has_candidates"),
          // sign-aware "within 65% of the exact best": with a plain
          // a >= 0.35*e, a NEGATIVE exact best would put the threshold
          // ABOVE e and even a perfect index would read as a false
          // regression (fixture cosines are 0.42-0.87, where the two
          // forms coincide)
          coalesce(col("a_sim") >=
              col("e_sim") - abs(col("e_sim")) * 0.65, lit(false))
            .as("ratio_ok"))
    }),

    // Brute-force cosine top-5 for 8 query vectors (ids 0..7)
    "sim_cosine_topk" -> ((s, d) => {
      bruteForceTopK(fanout(Tables.embeddings(s, d)),
        Tables.embeddings(s, d).filter(col("vec_id") < 8), k = 5)
        .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
    }),

    // LSH-bucketed ANN: signature histogram + within-bucket top-3 for the
    // same query set, reranked by exact cosine. Output: query, neighbor,
    // rank within the probed bucket.
    "sim_lsh_ann" -> ((s, d) => {
      val emb = srpIndex(s, d)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("sig").as("q_sig"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      emb.join(broadcast(q),
          col("sig") === col("q_sig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot(col("q_emb"), col("embedding")).as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"))
    }),

    // Multi-probe SRP ANN: each query probes its own bucket plus the 8
    // buckets at Hamming distance 1 (one flipped sign bit) — the
    // standard recall lever for LSH indexes (Lv et al., VLDB'07:
    // perturbation probing trades a constant factor of probes for the
    // recall extra hash tables would buy, without storing them). Probe
    // fraction stays ~9/256 of the corpus; the candidate join is still
    // a broadcast of the tiny query set against the bucketed corpus.
    "sim_lsh_ann_multiprobe" -> ((s, d) => {
      val emb = srpIndex(s, d)
      // 9 probe signatures per query: exact + each single bit flipped.
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(array(
            col("sig") +: (0 until SrpBits).map(b =>
              col("sig").bitwiseXOR(lit(1 << b))): _*)).as("probe_sig"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      emb.join(broadcast(q),
          col("sig") === col("probe_sig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot(col("q_emb"), col("embedding")).as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
    }),

    // Corpus-wide signature histogram — the bucketing balance check an
    // ANN index build would run (detects skewed hyperplanes).
    "sim_lsh_bucket_stats" -> ((s, d) =>
      srpIndex(s, d)
        .select(col("sig"))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("n_vectors"))),

    // IVF (inverted-file) ANN with a TRAINED coarse quantizer:
    // k = ⌊√n⌋ cells (the classic IVF cell count — probe cost and cell
    // size both ~√n), seeded by every (sample/k)-th rank of the training
    // sample and refined by two Lloyd iterations of k-means over that
    // BOUNDED deterministic sample:
    // every m-th vec_id with m = max(1, n / max(2048, 39k)) — the FAISS
    // train-on-a-sample rule (≈39+ vectors per centroid suffice for a
    // coarse quantizer), so Lloyd cost is O(sample·k), not O(n·k), and
    // a 100 TB corpus trains its quantizer on a fixed-size slice
    // instead of every vector. At the driver fixtures m = 1 (sample =
    // corpus, results unchanged); the 8x amplified probe trains on
    // ~1/3 of the corpus. Every training step is exact integer
    // arithmetic — embeddings quantize to round(v·1000)+1000 ∈ [0,2000]
    // (the codegen'd `graft_quantize` kernel), assignment is integer
    // squared-L2 to the nearest centroid (the codegen'd `graft_nearest`
    // kernel), centroid update is a non-negative integer floor-division
    // — so the DuckDB oracle replays the whole training run (same m,
    // same sample) bit for bit; only the final rerank uses fp (the
    // strict-fold double dot both engines share). Each iteration is one
    // job: the kernel assigns every sampled vector in registers against
    // the centroids passed in as a literal, one partial aggregation
    // sums each (cell, dimension), and only those k·d sums reach the
    // driver, which computes the means for the next iteration. The
    // sampled embeddings never shuffle. The one remaining full pass is
    // the final cell assignment — the index build itself, O(n·k)
    // arithmetic but O(n) rows, which production systems also pay (or
    // approximate with an ANN coarse assigner). Queries
    // probe their own cell and rerank by exact dot — the 1/√n scan
    // saving of a production IVF index.
    "sim_ivf_ann" -> ((s, d) => {
      val assigned = ivfIndex(s, d)
      // probe set per query (own cell; + nearest others under the
      // `spark.graft.ivf.nprobe` recall lever — see queryProbeCells)
      val q = queryProbeCells(s, d, assigned.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            col("cent_id").as("own"), quantize(col("embedding")).as("qv")))
        .select(col("query_id"), col("q_emb"), col("p_cent").as("q_cent"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      assigned.join(broadcast(q),
          col("cent_id") === col("q_cent") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          dot(col("q_emb"), col("embedding")).as("sim"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
    }),

    // Product quantization with ADC search (Jégou et al. 2011 — the
    // compression half of the canonical IVF-PQ index): the 64-dim
    // corpus splits into 4×16-dim subspaces, each trained to 16
    // integer centroids with the same stride-seeded two-iteration
    // Lloyd run the IVF quantizer uses, and every vector is then
    // stored as a 4-code word (one centroid id per subspace) — 64×
    // smaller than the raw floats, which is what keeps billion-vector
    // indexes RAM-resident at 100 TB. Search is asymmetric distance
    // computation: one projection over the 8 query rows builds each
    // query's 4×16 distance table against the codebook, which it takes
    // as a literal (`graft_adc_table`); the 8 tables are broadcast to
    // the one-row-per-vector code scan, where each candidate costs 4
    // table lookups + a sum in one kernel (`graft_adc`) — no join on
    // (sub, code), no aggregation, and the scan never touches a float
    // vector. Training, encoding, and ADC are all integer squared-L2
    // on the ingest-quantized vectors, so the DuckDB oracle replays
    // every step bit for bit. At this corpus size ADC scans all codes;
    // production composes it with the IVF cell restriction below.
    "sim_pq_adc" -> ((s, d) => {
      val q = queryTables(s, d).select(col("query_id"), col("tbl"))
      val wR = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist").asc, col("vec_id"))
      pqCodes(s, d).join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), adc.as("adc_dist"))
        .withColumn("rank", row_number().over(wR).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("adc_dist"))
    }),

    // The COMPOSED index — IVFADC (Jégou et al. 2011 §IV): the coarse
    // quantizer routes each query to its IVF cell and ADC scores only
    // the codes of that cell's members — the actual architecture FAISS
    // ships for billion-vector search. `pq_codes` is the inverted
    // list: one row per vector holding its IVF cell and its 4-code
    // word, so the search is one broadcast join of the query tables,
    // keyed by probed cell, against the code scan, scored in the scan
    // by `graft_adc` (see adcDistances). Per-query cost is |cell| · 4
    // table lookups ≈ 4√n, versus 4n for flat ADC and d·n for brute
    // force — and the scan never touches a float vector, so at 100 TB
    // the working set is the code words, not the 256-byte embeddings.
    // Every ingredient is the same
    // exact integer math as the two parent queries; the oracle chains
    // both training replays and agrees bit for bit.
    "sim_ivfpq_ann" -> ((s, d) => {
      val wR = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist").asc, col("vec_id"))
      adcDistances(s, d)
        .withColumn("rank", row_number().over(wR).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("adc_dist"))
    }),

    // Two-stage retrieval (the production IVFADC serving pattern,
    // FAISS's search-then-refine): stage 1 shortlists the top-10 per
    // query by compressed ADC distance — cell-routed, integer math,
    // never touching a float vector; stage 2 fetches ONLY those ≤80
    // full vectors and re-ranks by exact dot product. At 100 TB the
    // full-precision vectors stay in cold storage keyed by vec_id and
    // the refine step reads 10 rows per query instead of the corpus —
    // compression pays for the scan, exactness is recovered where it
    // matters. The oracle replays both stages (the full IVF+PQ
    // training chain, the ADC shortlist, the fp re-rank fold).
    "sim_ivfpq_rerank" -> ((s, d) => {
      // Shortlist depth = 10 × nprobe (FAISS's k_factor rule),
      // overridable via spark.graft.ivfpq.shortlist. The r15 recall
      // probe measured WHY the depth must scale with the probe count:
      // at 30× occupancy under nprobe=4, a FIXED 10-deep shortlist
      // saturates with 64×-compression ADC noise before the true
      // neighbors make the cut (recall .125→.042 despite 4× more
      // candidates); widening the shortlist with the probe count
      // restores the exact re-rank's chance to see them. At the
      // committed default (nprobe unset → depth 10) the oracle form
      // is unchanged.
      val nprobe = s.conf.getOption("spark.graft.ivf.nprobe")
        .map(_.toInt).getOrElse(1)
      val depth = s.conf.getOption("spark.graft.ivfpq.shortlist")
        .map(_.toInt).getOrElse(10 * math.max(1, nprobe))
      val wA = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist").asc, col("vec_id"))
      val short = adcDistances(s, d)
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= depth)
        .select(col("query_id"), col("vec_id"))
      // Both fp sides come from the plain scan: the ≤80 shortlisted
      // vectors are a broadcast filter on it, never a shuffle of the
      // corpus to join 80 keys.
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      emb.join(broadcast(short), "vec_id").join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"),
          dot(col("q_emb"), col("embedding")).as("sim"))
        .withColumn("rank", row_number().over(wE).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
    }),

    // Embedding-cosine near-dup pairs: block on the 8-bit SRP signature
    // (256 buckets — the same deterministic hyperplane matrix the ANN
    // index uses), verify by exact dot within buckets. The candidate
    // volume is Σ_b (n_b choose 2) ≈ n²/512 — 16× fewer pairs than the
    // earlier 4-sign-bit/16-block scheme, and the bucket count is a
    // constant the operator can raise (more planes) as the corpus
    // grows. Pure fp math on both sides: the oracle recomputes the
    // signature from the same plane literals, so the pair set and the
    // cosines hash-match. Threshold 0.35: the synthetic embeddings
    // carry no planted near-identical pairs (corpus max cosine ≈ 0.51),
    // so a production 0.9+ cut would select nothing — the lower cut
    // keeps the operator result non-vacuous while exercising the
    // identical plan shape.
    "dedup_embedding_cosine" -> ((s, d) => {
      // The scale knob the r15 ladder measured the need for: fixed
      // 8-bit blocking is n²/512 candidate pairs — quadratic (9.2k →
      // 936k → 8.4M at 1×/10×/30×). `spark.graft.dedup.srpBlockBits=B`
      // blocks on a B-bit signature instead (same deterministic plane
      // matrix, planes 8..B-1 added on the fly): each added plane
      // halves expected occupancy, so B grows with log₂(n) to hold
      // per-bucket pair cost constant. The first 8 planes are a
      // PREFIX of the wider signature, so the widened pair set is a
      // strict SUBSET of the committed one with identical cosines —
      // spec-pinned. Default 8 replays the committed oracle; the
      // trade at B>8 is recall of pairs whose cosine rides between
      // planes (production pairs this with multiprobe or a second
      // plane table, as the ANN side does).
      val bits = s.conf.getOption("spark.graft.dedup.srpBlockBits")
        .map(_.toInt).getOrElse(SrpBits)
      val idx = srpIndex(s, d)
      val emb = (if (bits <= SrpBits) idx.select(col("vec_id"),
          col("embedding"), col("sig").as("blk"))
        else idx.select(col("vec_id"), col("embedding"),
          srpSignature(col("embedding"), bits).as("blk")))
      emb.as("l").join(emb.as("r"),
          col("l.blk") === col("r.blk") &&
            col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
          dot(col("l.embedding"), col("r.embedding")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.35)
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    // bounded by k-means clusters — pairwise cosine is computed ONLY
    // within each coarse cell of the shared IVF clustering (the paper's
    // exact trick for web scale: k clusters of ~n/k cut candidate pairs
    // from n²/2 to n²/2k, and with k = √n cells the per-cell work stays
    // ~n per cell, never doc×doc). A vector is a semantic duplicate if
    // some smaller-id vector in its cell reaches the cosine cut; the
    // min-id keeper is this repo's deterministic stand-in for the
    // paper's keep-farthest-from-centroid rule (any keeper choice is
    // one representative per duplicate relation; min-id makes both
    // engines agree with no fp tie-break). Cut 0.3, not the paper's
    // ~0.95: the synthetic embeddings are near-uniform (corpus max
    // cosine ≈ 0.51), so a production cut would select nothing — the
    // lower cut keeps the result non-vacuous on the identical plan.
    // Output: per-cluster dedup report (size, dropped, kept) — the
    // summary a 100 TB dedup job publishes per partition.
    //
    // Scale envelope: with k = ⌊√n⌋ cells of ~√n members, the exact
    // within-cell pair population is Σ_c (n_c choose 2) ≈ n^1.5/2 —
    // superlinear by design (measured on the 1×/10×/30× orthogonal-copy
    // ladder: see tools.AnnScaleProbe). The escape hatch for a corpus
    // where n^1.5 stops fitting the budget is
    // `spark.graft.semdedup.cellPairCap=C`: each vector is compared
    // only against the C nearest PRECEDING cell members in vec_id
    // order (a banded self-join on within-cell rank), bounding the
    // pair population to n·C — linear, at the cost of missing a dup
    // whose witness sits further than C back in the cell. Default
    // OFF so the committed DuckDB oracle replays the exact unbounded
    // form;
    // SimilaritySpec pins row-identity of both forms at a cap that
    // does not bind, and the monotone drop property at one that does.
    "dedup_semdedup" -> ((s, d) => {
      val cap = s.conf.getOption("spark.graft.semdedup.cellPairCap")
        .map(_.toInt)
      val base = ivfIndex(s, d)
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      val pairs = semdedupPairs(base, cap)
      val verified = pairs.filter(col("cos_sim") >= 0.3)
      val dropped = verified.select(col("dup_id")).distinct()
      base.join(dropped, base("vec_id") === dropped("dup_id"), "left")
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vectors"),
          count(col("dup_id")).as("n_dropped"),
          (count(lit(1)) - count(col("dup_id"))).as("n_kept"))
    })
  )

  /** SemDeDup candidate pairs over the shared IVF cells — factored out
    * of the `dedup_semdedup` body so the scale probes can measure the
    * capped form's DROPPED-SET recall against the exact unbounded one
    * (VERDICT r15 #5) without duplicating the banded-join logic. Plan
    * identical to the pre-factor inline form. */
  private[graft] def semdedupPairs(base: DataFrame,
      cap: Option[Int]): DataFrame = {
    val pairs = cap match {
        case None =>
          base.as("l").join(base.as("r"),
            col("l.cent_id") === col("r.cent_id") &&
              col("l.vec_id") < col("r.vec_id"))
            .select(col("r.vec_id").as("dup_id"),
              dot(col("l.embedding"), col("r.embedding")).as("cos_sim"))
        case Some(c) =>
          // BANDED equi-join, not a post-match filter: bands of `c`
          // consecutive within-cell ranks; a pair within rank distance
          // c sits in the same or adjacent band, so the left side
          // probes exactly two band keys and the join enumerates
          // O(n·c) candidates instead of all (n_cell choose 2) — the
          // first cut of this cap expressed the bound as a filter ON
          // the cent_id join and saved nothing (measured: cap=64 at
          // 10x ran the same 2.3 s as unbounded).
          val wCell = Window.partitionBy(col("cent_id"))
            .orderBy(col("vec_id"))
          val idx = base
            .withColumn("rn", row_number().over(wCell).cast("long") - 1)
            .withColumn("band", floor(col("rn") / c).cast("long"))
          val probes = idx.select(col("vec_id").as("l_vec"),
            col("embedding").as("l_emb"), col("cent_id").as("l_cent"),
            col("rn").as("l_rn"),
            explode(array(col("band"), col("band") + 1)).as("probe"))
          probes.join(idx.as("r"),
            col("l_cent") === col("r.cent_id") &&
              col("probe") === col("r.band") &&
              col("r.rn") > col("l_rn") &&
              col("r.rn") - col("l_rn") <= c)
            .select(col("r.vec_id").as("dup_id"),
              dot(col("l_emb"), col("r.embedding")).as("cos_sim"))
    }
    pairs
  }

  /** One IVF assignment step as a DuckDB CTE: every quantized vector of
    * `src` to its nearest centroid by integer squared-L2, ties to the
    * smallest cent_id — the exact mirror of the Spark `graft_nearest`
    * assignment (training iterations read the sampled `tr`, the final
    * index build reads the full `qv`). */
  private def ivfAssignSql(name: String, cents: String,
      src: String = "qv"): String =
    s"""$name AS (
       SELECT vec_id, qv, cent_id FROM (
         SELECT v.vec_id, v.qv, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(v.qv) + 1),
                 i -> (v.qv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)])
                    * (v.qv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)]))),
               (acc, x) -> acc + x) ASC, c.cent_id) AS arn
         FROM $src v CROSS JOIN $cents c) t WHERE arn = 1)"""

  /** One Lloyd update as a DuckDB CTE: per-dimension integer mean
    * (floor division on non-negative sums) reassembled in dimension
    * order — the exact mirror of the Spark Lloyd update in
    * [[kmeans]]. */
  private def ivfUpdateSql(name: String, assigned: String): String =
    s"""${name}_d AS (
       SELECT cent_id, u.pos AS pos,
         CAST(FLOOR(SUM(u.val) / COUNT(*)) AS BIGINT) AS cmean
       FROM (SELECT cent_id,
           unnest(list_transform(range(1, len(qv) + 1),
             i -> struct_pack(pos := i, val := qv[CAST(i AS INTEGER)]))) AS u
         FROM $assigned) GROUP BY cent_id, u.pos),
     $name AS (
       SELECT cent_id, list(cmean ORDER BY pos) AS cq
       FROM ${name}_d GROUP BY cent_id)"""

  /** One PQ assignment step as a DuckDB CTE: every (vector, subspace)
    * subvector to its nearest same-subspace centroid by integer
    * squared-L2, ties to the smallest cent_id — the per-subspace mirror
    * of [[ivfAssignSql]], against the `sv` subvector CTE. */
  private def pqAssignSql(name: String, cents: String,
      src: String = "sv"): String =
    s"""$name AS (
       SELECT vec_id, sub, sqv, cent_id FROM (
         SELECT v.vec_id, v.sub, v.sqv, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(v.sqv) + 1),
                 i -> (v.sqv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)])
                    * (v.sqv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)]))),
               (acc, x) -> acc + x) ASC, c.cent_id) AS arn
         FROM $src v JOIN $cents c ON v.sub = c.sub) t WHERE arn = 1)"""

  /** One per-subspace Lloyd update as a DuckDB CTE — [[ivfUpdateSql]]
    * with the subspace id carried through the group keys. */
  private def pqUpdateSql(name: String, assigned: String): String =
    s"""${name}_d AS (
       SELECT sub, cent_id, u.pos AS pos,
         CAST(FLOOR(SUM(u.val) / COUNT(*)) AS BIGINT) AS cmean
       FROM (SELECT sub, cent_id,
           unnest(list_transform(range(1, len(sqv) + 1),
             i -> struct_pack(pos := i, val := sqv[CAST(i AS INTEGER)]))) AS u
         FROM $assigned) GROUP BY sub, cent_id, u.pos),
     $name AS (
       SELECT sub, cent_id, list(cmean ORDER BY pos) AS cq
       FROM ${name}_d GROUP BY sub, cent_id)"""

  /** The SRP plane matrix as a DuckDB `DOUBLE[]` literal. Each float is
    * printed via `toDouble.toString` — the shortest decimal that
    * round-trips to that exact double, which IS the float's exact value
    * widened — so DuckDB's literal equals Spark's `(double) planeFloat`
    * bit for bit and sign decisions can never diverge. */
  private def planeSqlLit(p: Int, dim: Int): String =
    planeRow(p, dim).map(_.toDouble.toString)
      .mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** SQL twin of [[srpSignature]]: same strict left-fold dot per plane
    * (proven bit-identical by the sim_cosine_topk hash match), same
    * sign-to-bit packing. */
  private def srpSigSql(embExpr: String, bits: Int = 8, dim: Int = 64): String =
    (0 until bits).map { p =>
      s"""CASE WHEN list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, $dim + 1),
             i -> CAST($embExpr[CAST(i AS INTEGER)] AS DOUBLE)
                  * list_extract(${planeSqlLit(p, dim)}, CAST(i AS INTEGER)))),
         (acc, v) -> acc + v) > 0.0 THEN ${1 << p} ELSE 0 END"""
    }.mkString("(", " + ", ")")

  /** Shared quantized-corpus CTE (the `quantize` grid's SQL twin). */
  private val qvSql: String =
    """qv AS (
           SELECT vec_id, embedding,
             list_transform(range(1, len(embedding) + 1),
               i -> CAST(ROUND(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                      * 1000) + 1000 AS BIGINT)) AS qv
           FROM embeddings)"""

  /** The full IVF coarse-quantizer training replay as a CTE chain —
    * `${p}st`, `qv`, `${p}tr`, `${p}seeds`, `${p}a1..${p}a3` (final
    * assignment in `${p}a3`). ONE definition for the four oracles that
    * replay it (sim_ivf_ann, dedup_semdedup, both IVFADC queries), so
    * an edit to the training recipe cannot desynchronize them. Seeds
    * are every (sample/k)-th rank of the training sample, bounded to
    * EXACTLY k, matching the Spark side (rank-based so sparse id
    * spaces still seed k cells). */
  private def ivfChainSql(p: String = ""): String =
    s"""${p}st AS (
           SELECT CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS k,
             GREATEST(1, COUNT(*) // GREATEST(2048,
               CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) * 39)) AS m
           FROM embeddings),
         $qvSql,
         ${p}tr AS (
           SELECT vec_id, qv FROM qv, ${p}st WHERE vec_id % m = 0),
         ${p}sst AS (
           SELECT COUNT(*) // (SELECT k FROM ${p}st) AS sstride
           FROM ${p}tr),
         ${p}seeds AS (
           SELECT cent_id, cq FROM (
             SELECT vec_id AS cent_id, qv AS cq,
               ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS srn
             FROM ${p}tr) t, ${p}st, ${p}sst
           WHERE srn % sstride = 0 AND srn < sstride * k),
         ${ivfAssignSql(s"${p}a1", s"${p}seeds", s"${p}tr")},
         ${ivfUpdateSql(s"${p}c1", s"${p}a1")},
         ${ivfAssignSql(s"${p}a2", s"${p}c1", s"${p}tr")},
         ${ivfUpdateSql(s"${p}c2", s"${p}a2")},
         ${ivfAssignSql(s"${p}a3", s"${p}c2")}"""

  /** The full PQ training replay as a CTE chain — `${p}st`, `sv`,
    * `${p}tr`, `${p}seeds`, `${p}a1..codes` (encoded corpus in
    * `codes`, final codebooks in `${p}c2`). Requires `qv` in scope
    * ([[qvSql]] or [[ivfChainSql]]). */
  private def pqChainSql(p: String = ""): String =
    s"""${p}st AS (SELECT GREATEST(1, COUNT(*) // 2048) AS m
           FROM embeddings),
         sv AS (
           SELECT vec_id, sub,
             list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS sqv
           FROM qv, (SELECT UNNEST([0, 1, 2, 3]) AS sub) subs),
         ${p}tr AS (
           SELECT vec_id, sub, sqv FROM sv, ${p}st WHERE vec_id % m = 0),
         ${p}sst AS (
           SELECT COUNT(*) // 16 AS sstride FROM ${p}tr WHERE sub = 0),
         ${p}seeds AS (
           SELECT sub, srn // sstride AS cent_id, sqv AS cq FROM (
             SELECT sub, sqv,
               ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                 AS srn
             FROM ${p}tr) t, ${p}sst
           WHERE srn % sstride = 0 AND srn < sstride * 16),
         ${pqAssignSql(s"${p}a1", s"${p}seeds", s"${p}tr")},
         ${pqUpdateSql(s"${p}c1", s"${p}a1")},
         ${pqAssignSql(s"${p}a2", s"${p}c1", s"${p}tr")},
         ${pqUpdateSql(s"${p}c2", s"${p}a2")},
         ${pqAssignSql("codes", s"${p}c2")}"""

  /** Cell-routed ADC scoring over the composed chains (`ia3`, `sv`,
    * `codes`, `pc2` in scope) — the shared stage of both IVFADC
    * oracles, ending in the `adc` CTE (query_id, vec_id, adc_dist). */
  private val adcSql: String =
    """qcell AS (SELECT vec_id AS query_id, cent_id AS q_cent
                   FROM ia3 WHERE vec_id < 8),
         qs AS (SELECT vec_id AS query_id, sub, sqv
                FROM sv WHERE vec_id < 8),
         dt AS (
           SELECT q.query_id, c.sub, c.cent_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(q.sqv) + 1),
                 i -> (q.sqv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)])
                    * (q.sqv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)]))),
               (acc, x) -> acc + x) AS dd
           FROM qs q JOIN pc2 c ON q.sub = c.sub),
         cand AS (
           SELECT qc.query_id, a.vec_id
           FROM ia3 a JOIN qcell qc
             ON a.cent_id = qc.q_cent AND a.vec_id <> qc.query_id),
         adc AS (
           SELECT cd.query_id, cd.vec_id,
             CAST(SUM(d.dd) AS BIGINT) AS adc_dist
           FROM cand cd
             JOIN codes k ON k.vec_id = cd.vec_id
             JOIN dt d ON d.query_id = cd.query_id
               AND k.sub = d.sub AND k.cent_id = d.cent_id
           GROUP BY cd.query_id, cd.vec_id)"""

  // Every similarity query is oracle-checked end to end: DuckDB
  // recomputes the same strict left-fold dot product via list_reduce, so
  // the doubles are bit-identical, ranks agree, and the hash matches.
  // The SRP-LSH pair needed one extra trick — the hyperplanes are
  // deterministic constants, so the generated oracle SQL embeds the
  // plane matrix as DOUBLE[] literals and recomputes the signature.
  val oracles: Map[String, String] = Map(
    "sim_ann_recall" ->
      """SELECT vec_id AS query_id, TRUE AS has_candidates,
         TRUE AS ratio_ok
         FROM embeddings WHERE vec_id < 8""",
    "sim_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                    FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(q.q_emb[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS sim
           FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 5""",
    // The oracle replays the integer k-means training run exactly —
    // quantization, stride seeding, the bounded training sample
    // (every m-th vec_id), two Lloyd iterations, final assignment are
    // all integer math, and the fp rerank is the shared strict left
    // fold — so every step agrees bit-for-bit.
    "sim_ivf_ann" ->
      s"""WITH ${ivfChainSql()},
         assigned AS (
           SELECT a3.vec_id, e.embedding, a3.cent_id
           FROM a3 JOIN embeddings e ON a3.vec_id = e.vec_id),
         q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                      cent_id AS q_cent
               FROM assigned WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, a.vec_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(q.q_emb[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS sim
           FROM assigned a JOIN q
             ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 3""",
    // The PQ oracle replays the whole pipeline in integer math:
    // quantization, subspace split, per-subspace stride seeding, the
    // bounded training sample, two Lloyd iterations, encoding, and the
    // ADC table-lookup sum.
    "sim_pq_adc" ->
      s"""WITH $qvSql,
         ${pqChainSql()},
         qs AS (SELECT vec_id AS query_id, sub, sqv
                FROM sv WHERE vec_id < 8),
         dt AS (
           SELECT q.query_id, c.sub, c.cent_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(q.sqv) + 1),
                 i -> (q.sqv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)])
                    * (q.sqv[CAST(i AS INTEGER)] - c.cq[CAST(i AS INTEGER)]))),
               (acc, x) -> acc + x) AS dd
           FROM qs q JOIN c2 c ON q.sub = c.sub),
         adc AS (
           SELECT d.query_id, k.vec_id,
             CAST(SUM(d.dd) AS BIGINT) AS adc_dist
           FROM codes k JOIN dt d
             ON k.sub = d.sub AND k.cent_id = d.cent_id
           GROUP BY d.query_id, k.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_dist ASC, vec_id) AS INTEGER) AS rank
           FROM adc WHERE vec_id <> query_id)
         SELECT query_id, rank, vec_id, adc_dist
         FROM ranked WHERE rank <= 3""",
    "dedup_embedding_cosine" ->
      s"""WITH b AS (
           SELECT vec_id, embedding,
             ${srpSigSql("embedding")} AS blk
           FROM embeddings),
         scored AS (
           SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(l.embedding) + 1),
                   i -> CAST(l.embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(r.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS cos_sim
           FROM b l JOIN b r ON l.blk = r.blk AND l.vec_id < r.vec_id)
         SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.35""",
    "sim_lsh_ann" ->
      s"""WITH sig AS (
           SELECT vec_id, embedding,
             ${srpSigSql("embedding")} AS sig
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS q_emb, sig AS q_sig
               FROM sig WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(q.q_emb[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS sim
           FROM sig e JOIN q
             ON e.sig = q.q_sig AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 3""",
    "sim_lsh_ann_multiprobe" ->
      s"""WITH sig AS (
           SELECT vec_id, embedding,
             ${srpSigSql("embedding")} AS sig
           FROM embeddings),
         q AS (
           SELECT vec_id AS query_id, embedding AS q_emb,
             unnest(list_prepend(sig,
               list_transform(range(0, 8), b -> xor(sig, 1 << b))))
               AS probe_sig
           FROM sig WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(q.q_emb[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS sim
           FROM sig e JOIN q
             ON e.sig = q.probe_sig AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 3""",
    "sim_lsh_bucket_stats" ->
      s"""SELECT ${srpSigSql("embedding")} AS sig,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
         FROM embeddings GROUP BY 1""",
    // SemDeDup: replay the IVF clustering bit for bit, then the exact
    // within-cell pair generation, min-id drop rule, and per-cell
    // aggregate — the whole dedup decision is deterministic on both
    // engines (integer training + the shared strict-fold double dot).
    "dedup_semdedup" ->
      s"""WITH ${ivfChainSql()},
         assigned AS (
           SELECT a3.vec_id, e.embedding, a3.cent_id
           FROM a3 JOIN embeddings e ON a3.vec_id = e.vec_id),
         pairs AS (
           SELECT l.cent_id, r.vec_id AS dup_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(l.embedding) + 1),
                   i -> CAST(l.embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(r.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS cos_sim
           FROM assigned l JOIN assigned r
             ON l.cent_id = r.cent_id AND l.vec_id < r.vec_id),
         dropped AS (
           SELECT DISTINCT dup_id FROM pairs WHERE cos_sim >= 0.3)
         SELECT a.cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(dp.dup_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(dp.dup_id) AS BIGINT) AS n_kept
         FROM assigned a LEFT JOIN dropped dp ON a.vec_id = dp.dup_id
         GROUP BY a.cent_id""",
    // IVFADC: chain BOTH training replays (coarse quantizer + PQ
    // codebooks, uniquely-named CTEs), restrict candidates to the
    // query's coarse cell, and score by the ADC table-lookup sum —
    // integer math end to end.
    "sim_ivfpq_ann" ->
      s"""WITH ${ivfChainSql("i")},
         ${pqChainSql("p")},
         $adcSql,
         ranked AS (
           SELECT query_id, vec_id, adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_dist ASC, vec_id) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, rank, vec_id, adc_dist
         FROM ranked WHERE rank <= 3""",
    // Same training + ADC chain as sim_ivfpq_ann, then the fp refine:
    // top-10 compressed shortlist, exact-dot re-rank (the shared
    // strict left fold), top-3.
    "sim_ivfpq_rerank" ->
      s"""WITH ${ivfChainSql("i")},
         ${pqChainSql("p")},
         $adcSql,
         shortl AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_dist ASC, vec_id) AS arank
             FROM adc) WHERE arank <= 10),
         ex AS (
           SELECT s.query_id, s.vec_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(ev.embedding) + 1),
                   i -> CAST(eq.embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        * CAST(ev.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (acc, v) -> acc + v) AS sim
           FROM shortl s
             JOIN embeddings eq ON eq.vec_id = s.query_id
             JOIN embeddings ev ON ev.vec_id = s.vec_id),
         rr AS (
           SELECT query_id, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
           FROM ex)
         SELECT query_id, rank, vec_id, sim FROM rr WHERE rank <= 3"""
  )
}
