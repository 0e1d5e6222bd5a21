package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup}
import graft.sources.Tables

/** Dedup correctness that the DuckDB oracle can't express (xxhash64
  * keys and signatures): hashed keys against exact-key grouping, the
  * loud collision check, recall against exact Jaccard, determinism,
  * and hamming-band pigeonhole guarantees. */
class DedupSpec extends SparkSpec {

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  // The next two names keep the former spark.graft.dedup.*Hash confs:
  // the 8-byte hashed keys are now the only path, and each query is
  // checked against a plain Spark reference grouped on the exact text
  // or span, built here.
  test("spanHash=true (8-byte shuffled span keys, the 100 TB shape) " +
      "returns the exact same rows as the default string keys") {
    val docs = Tables.documents(spark, sf0001)
    val spans = docs.select(col("doc_id"), explode(array_distinct(
      Corpus.wordGrams(Corpus.toksOf(col("text")), 8))).as("span"))
    val shared = spans.groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") >= 2)
    val spanRef = spans.join(shared, "span").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        max(col("n_docs")).as("max_span_spread"))
    val hashed =
      sortedRows(Dedup.queries("dedup_substring_spans")(spark, sf0001))
    assert(hashed.nonEmpty, "fixture must contain shared spans")
    assert(hashed == sortedRows(spanRef))
  }

  test("exactHash=true (8-byte group keys, the 100 TB shape) returns " +
      "the exact same rows as grouping on the full text") {
    val exactRef = Tables.documents(spark, sf0001).groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        min(length(col("text"))).as("text_len"))
      .select(col("keep_id"), col("n_copies"), col("text_len"))
    val exact = sortedRows(Dedup.queries("dedup_exact")(spark, sf0001))
    assert(exact.nonEmpty)
    assert(exact == sortedRows(exactRef))
  }

  test("a colliding dedup key fails both dedup queries loudly") {
    // length(text) puts every two texts (or spans) of one length in
    // one group: the Murmur3 range check must fail the query
    val byLength = (c: Column) => length(c)
    for (q <- Seq(Dedup.exactDuplicates(spark, sf0001, byLength),
        Dedup.substringSpans(spark, sf0001, byLength))) {
      val e = intercept[Exception](q.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage))
      assert(msgs.exists(_.contains("xxhash64 collision")), e)
    }
  }

  test("minhash estimate tracks exact shingle Jaccard on planted dups") {
    val docs = Tables.documents(spark, sf0001)
    // exact word-3-shingle Jaccard for all pairs sharing a planted dup
    val sh = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(Dedup.shinglesFromTokens(col("toks"))).as("sh"))
    val exact = sh.as("l").join(sh.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        (size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          size(array_union(col("l.sh"), col("r.sh")))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val found = Dedup.minhashPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // every true high-Jaccard pair must be caught (recall = 1 on J>=0.8
    // with 16 bands × 4 rows: P[miss] = (1-J^4)^16 < 1e-4 at J=0.8)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(exact.subsetOf(found),
      s"missed pairs: ${exact.diff(found)}")
  }

  test("minhash signature is deterministic across runs") {
    val docs = Tables.documents(spark, sf0001).limit(20)
    val a = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
  }

  test("simhash: near-identical docs land within hamming distance 3") {
    val docs = Tables.documents(spark, sf0001)
    val sims = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        Dedup.simhashFromHashes(Dedup.tokenHashes(col("toks"))).as("sh"))
    // pairs that exact-text-duplicate each other must have simhash
    // distance small enough to share a 16-bit band
    val dupPairs = docs.as("l").join(docs.as("r"),
        col("l.text") === col("r.text") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
    val withSh = dupPairs
      .join(sims.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sha"), "a")
      .join(sims.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "shb"), "b")
      .select(bit_count(col("sha").bitwiseXOR(col("shb"))).as("dist"))
      .collect()
    withSh.foreach(r => assert(r.getInt(0) == 0,
      "exact dups must have identical simhash"))
  }

  test("graft_minhash kernel is bit-identical to the composed fold") {
    val sh = Dedup.wordShingleSets(Tables.documents(spark, sf0001))
    val both = sh.select(
      Dedup.minhashSig(transform(col("sh"), s => xxhash64(s)))
        .as("composed"),
      call_function("graft_minhash",
        transform(col("sh"), s => xxhash64(s))).as("kernel"))
    assert(both.count() > 0)
    assert(both.filter(col("composed") =!= col("kernel")).isEmpty,
      "fused kernel must reproduce the composed fold exactly")
  }
}
