package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Dedup/similarity-family scale spot-check at N× (default 10×) with a
  * KEY-CORRECT corpus — the documents/embeddings analog of
  * GraphScaleProbe: the shared ScaleProbe's lineitem amplifier distorts
  * these families (it multiplies support on fixed keys), so this probe
  * grows the corpus the way a 100 TB crawl actually grows:
  *
  *  - documents ×N: fresh doc_ids (copy k shifted by 10⁹k) and
  *    PROPORTIONALLY fresh near-dup structure — copy k suffixes every
  *    token with a copy tag, a bijective shingle rename, so each
  *    copy's intra-copy pair set is isomorphic to the base corpus and
  *    CROSS-copy similarity collapses to ~0 (near-dup pairs scale ×N,
  *    not ×N², which a naive text copy would produce: identical text
  *    in every copy makes each base pair N² cross-copy pairs).
  *  - embeddings ×N: fresh vec_ids and a per-copy DIAGONAL ±1
  *    ORTHOGONAL transform (sign-flip each dimension by a deterministic
  *    per-(copy, dim) bit): intra-copy cosines are preserved EXACTLY,
  *    cross-copy pairs decorrelate — near-dup and ANN cluster structure
  *    scales ×N like a real corpus.
  *
  * Reports per-rep wall with interleaved controls (a fixed base-corpus
  * scan), executed-plan BHJ/SMJ counts, resolve_clusters convergence
  * rounds, and the artifact-chain populations (band index /
  * LSH candidates / verified pairs) at base vs N× — candidates must
  * grow ~linearly or the banding is broken. Rep 1 at N× pays the
  * one-time N× artifact build; rep 2+ is the steady state the bench
  * measures. Perf evidence only — correctness stays gated on the
  * driver fixtures.
  *
  * Usage: runMain graft.tools.DedupScaleProbe [baseSfDir] [copies]
  */
object DedupScaleProbe {
  /** Build (or reuse) the key-correct N× documents+embeddings corpus
    * for `base` and return its path — shared with [[AnnScaleProbe]],
    * which drives the embeddings family up the same ladder. */
  def ensureAmp(spark: org.apache.spark.sql.SparkSession, base: String,
      copies: Int): String = {
    val amp = new java.io.File(
      graft.core.ArtifactCache.userScopedRoot("amp_dedup"),
      s"${copies}x_" + new java.io.File(base).getName).getPath
    val docSrc = new java.io.File(s"$base/documents.parquet")
    val embSrc = new java.io.File(s"$base/embeddings.parquet")
    val fingerprint = s"v1;base=${docSrc.getAbsolutePath};copies=$copies;" +
      s"${docSrc.length}:${docSrc.lastModified};" +
      s"${embSrc.length}:${embSrc.lastModified}"
    val marker = java.nio.file.Paths.get(amp, "AMP_MARKER")
    val fresh = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == fingerprint
    if (!fresh) {
      println(s"[dscale] building $amp (${copies}x, fresh ids + " +
        "salted shingles + per-copy orthogonal embeddings)")
      val shift = 1000000000L
      val docs = spark.read.parquet(docSrc.getPath)
      (0 until copies).map { k =>
        // copy 0 keeps the base text verbatim; copy k>0 suffixes every
        // token — same token/shingle COUNTS, disjoint shingle VALUES
        val salted = if (k == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1z$k")
        docs.select((col("doc_id") + lit(k * shift)).as("doc_id"),
          salted.as("text"), col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$amp/documents.parquet")
      val emb = spark.read.parquet(embSrc.getPath)
      (0 until copies).map { k =>
        // diagonal ±1 per (copy, dim): orthogonal, so intra-copy
        // cosines are bit-preserved; deterministic via xxhash64
        val flipped = if (k == 0) col("embedding")
          else zip_with(col("embedding"),
            sequence(lit(0), lit(63)),
            (x, i) => (x * when(
              pmod(xxhash64(i, lit(k)), lit(2)) === 0, 1.0f)
              .otherwise(-1.0f))
              .cast("float"))
        emb.select((col("vec_id") + lit(k * shift)).as("vec_id"),
          flipped.as("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$amp/embeddings.parquet")
      val (db, da) = (docs.count(),
        spark.read.parquet(s"$amp/documents.parquet").count())
      require(da == db * copies, s"amplified docs $da != $copies x $db")
      java.nio.file.Files.writeString(marker, fingerprint)
    }
    amp
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.functions.GraftExtensions
      .builder("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") +
        "]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val amp = ensureAmp(spark, base, copies)

    val ctrlScan = spark.read.parquet(s"$base/documents.parquet")
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def control(): Double = time(
      ctrlScan.filter(length(col("text")) > 40)
        .select(col("doc_id")).count())
    control()

    // artifact-chain populations: linear growth here is the whole
    // point of banding — quadratic candidates would mark it broken
    for (dir <- Seq(base, amp)) {
      val tag = if (dir == base) "base" else s"${copies}x"
      val bands = graft.operators.Dedup.bandIndex(spark, dir).count()
      val cands = graft.operators.Dedup.lshCandidates(spark, dir).count()
      val verified =
        graft.operators.Dedup.exactNearDupPairs(spark, dir).count()
      println(s"[dscale] $tag chain: band_index=$bands " +
        s"lsh_candidates=$cands verified_pairs=$verified")
    }

    val qs = Seq(
      "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
      "dedup_ngram_jaccard", "dedup_incremental_update",
      "dedup_resolve_clusters", "dedup_substring_spans",
      "dedup_embedding_cosine", "dedup_semdedup",
      "sim_cosine_topk", "sim_lsh_ann", "sim_ivf_ann", "sim_ivfpq_ann",
      // the corpus family reads only documents(+embeddings), so the
      // same key-correct amplifier covers it — the shared lineitem
      // amplifier's 8× sweep distorted these (PERF_r19 §8b)
      "corpus_decontaminate", "corpus_decontaminate_bloom",
      "corpus_lm_score", "corpus_gopher_quality", "corpus_dsir_weights",
      "corpus_ccnet_buckets", "corpus_tfidf_topterms",
      "corpus_quality_classifier", "corpus_bpe_pair_counts",
      "corpus_pack_batches", "corpus_train_order", "corpus_pipeline_e2e",
      // the multimodal family synthesizes payloads from documents(+
      // embeddings), so the same key-correct amplifier is its ladder
      // (VERDICT r14 #6); per-row decode is embarrassingly parallel —
      // the probe's peak-memory column is what catches a hidden
      // rebuild-per-row amplification
      "multimodal_binary_meta", "multimodal_decode_features",
      "multimodal_resize", "multimodal_frame_sample",
      "multimodal_contrastive_pairs")
    // Optional focus list (comma-separated substrings) — same contract
    // as ScaleProbe's SPARK_GRAFT_PROBE_ONLY: probe one family at a
    // larger N without paying the whole sweep.
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val probeQs = only.map(o => qs.filter(q => o.exists(q.contains)))
      .getOrElse(qs)
    // Per-query peak task execution memory (max across tasks): a
    // memory-amplification surprise (an operator that rebuilds
    // per-row state superlinearly) shows here while wall time still
    // reads linear. Listener events land asynchronously — the short
    // post-query sleep bounds the undercount to stragglers.
    val peakMem = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) peakMem.getAndUpdate(p =>
            math.max(p, m.peakExecutionMemory))
        }
      })
    for (dir <- Seq(base, amp); r <- 1 to 2; n <- probeQs) {
      val c = control()
      peakMem.set(0)
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val t = time(df.write.mode("overwrite").format("noop").save())
      Thread.sleep(200) // drain the listener bus
      val p = df.queryExecution.executedPlan.toString
      val bhj = p.sliding("BroadcastHashJoin".length)
        .count(_ == "BroadcastHashJoin")
      val smj = p.sliding("SortMergeJoin".length)
        .count(_ == "SortMergeJoin")
      val tag = if (dir == base) "base" else s"${copies}x"
      val extra = if (n == "dedup_resolve_clusters")
        s" rounds=${graft.operators.Dedup.lastResolveIterations}" else ""
      println(f"[dscale] $tag rep=$r ctrl=$c%.2f $n=$t%.2f " +
        s"bhj=$bhj smj=$smj peak_task_mb=${peakMem.get() >> 20}$extra")
    }
    spark.stop()
  }
}
