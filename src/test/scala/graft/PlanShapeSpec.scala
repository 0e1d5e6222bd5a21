package graft

/** Plan-shape contracts for the round-8 additions — the properties that
  * decide whether the same declaration survives 100 TB. Correctness is
  * the driver's DuckDB gate; these pin the physical strategy. */
class PlanShapeSpec extends SparkSpec {

  private def phys(name: String): String =
    SparkEntry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  test("neighbor jaccard: adjacency joins broadcast, top-k is TakeOrdered") {
    val p = phys("graph_neighbor_jaccard")
    // both adjacency attaches probe a broadcast node-sized relation —
    // the edge stream must never shuffle for the join
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    // top-20 must be a streaming top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("ohlc bars: both windows and the aggregate share one shuffle") {
    val df = SparkEntry.queries("ts_downsample_ohlc")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // one hashpartitioning exchange on (user, hour); the second window
    // and the final aggregate reuse the distribution
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n" +
      p.take(1200))
  }

  test("incremental dedup: probe joins stay equi-hash, no pair explosion shape") {
    val p = phys("dedup_incremental_update")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("salted skew join: shuffled-hash on (key, salt), fact never broadcast") {
    // r17: unhinted, Catalyst's size estimate put the projected
    // lineitem under the broadcast threshold and built the FACT as a
    // driver-side hashed relation — the exact shape salting exists to
    // avoid. The pattern's contract is a shuffle join on (key, salt).
    val p = phys("join_skew_salted")
    assert(p.contains("ShuffledHashJoin"), p.take(800))
    assert(!p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("banded range join: adjacent-band pairs via shuffled-hash, not a fact broadcast") {
    // r17: same estimate-undershoot class — the full events projection
    // was the broadcast build side of the adjacent-band self-join.
    // Hinted, both sides hash-partition by (type, band): per-reducer
    // load is per-band, bounded at any scale.
    val p = phys("join_range_banded")
    assert(p.contains("ShuffledHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("kcore peel: every cut restricts via broadcast, never a shuffle join") {
    val p = phys("graph_kcore_peel")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("partsupp TPC-H queries consume the cached artifact, not lineitem") {
    // Q2/Q11/Q16 derive partsupp from the shared ArtifactCache entry —
    // the fact table must not appear in their scans at all (Q20 keeps a
    // lineitem scan for its correlated shipment subquery, by design).
    for (q <- Seq("sql_tpch_q2", "sql_tpch_q11", "sql_tpch_q16")) {
      val p = phys(q)
      assert(!p.contains("lineitem"),
        s"$q should read the cached partsupp artifact:\n${p.take(800)}")
    }
  }

  test("hard negatives: anchors broadcast, corpus scans once") {
    val p = phys("corpus_hard_negatives")
    // the non-equi anchor attach must be a broadcast of the 8-row
    // anchor set, never a shuffle of the corpus-sized shingle frame
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert("Scan parquet".r.findAllIn(p).length <= 2, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("pq adc: codebook and distance table broadcast, top-k per query windowed") {
    // The codebook ships as a literal in the table kernel; the 8 query
    // tables are broadcast to the code scan (every code against every
    // query, so a nested-loop join), and each candidate is scored
    // there — no (sub, code) join and no (query, vector) aggregation.
    val p = phys("sim_pq_adc")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "8 query tables must never shuffle the codes:\n" + p.take(800))
    assert(!p.contains("HashAggregate"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("substring spans: span-keyed aggregation, no doc-by-doc join") {
    val p = phys("dedup_substring_spans")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("decontaminate: gram-keyed plan, tokenization bounded per split") {
    val p = phys("corpus_decontaminate")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // each split branch tokenizes its own documents scan and nothing
    // else touches the corpus (the r8 QRepeat profile: the plan is
    // stable — run-to-run swing is codegen amortization + host steal,
    // steady-state reps land within 1.2x)
    assert("Scan parquet".r.findAllIn(p).length <= 2, p.take(800))
  }

  test("pruned graft-log scan plans only the overlapping files") {
    val df = SparkEntry.queries("sink_custom_dsv2_pruned")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, s"scan description must report files=kept/total:\n" +
      p.take(800))
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"selective predicate must skip manifest-refuted files, " +
        s"got ${m.get.matched}")
  }

  test("graft-log batch scan is columnar: BatchScan feeds ColumnarToRow") {
    // the r8→r9 payload fix: graft-log reads materialize 4096-row
    // ColumnarBatches (the parquet/SeriesSource vectorized contract),
    // not per-row GenericInternalRows — the executed plan must show
    // the scan consumed through a ColumnarToRow transition
    val df = SparkEntry.queries("sink_custom_dsv2_pruned")(spark, sf001)
    // materialize first: AQE inserts the columnar transitions per
    // stage, so only the final plan shows them
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"),
      s"graft-log batch scan must be vectorized:\n${p.take(1200)}")
  }

  test("bpe pair counts: dictionary-sized plan, corpus shuffles once, " +
      "top-k never a global-sort window") {
    val p = phys("corpus_bpe_pair_counts")
    // the corpus collapses through partial-combined hash aggregates
    // (word freq, then pair counts); top-20 is TakeOrderedAndProject
    // over the pair table, and the only join is the 20-row broadcast
    // self-join that attaches ranks (warning-free SmallFrames form)
    assert(p.contains("HashAggregate"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Window"), "no window may survive: " + p.take(800))
    // every corpus-sized aggregate is partial-combined (map-side
    // combine before its shuffle); the rank attachment's own
    // grouped-exchange is over ≤20 post-limit rows — bounded by the
    // limit, not the data (the static plan re-derives the pair table
    // on the broadcast side; AQE reuses the shuffle stage at runtime)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(1200))
  }

  test("train order: distributed numbering — deterministic buckets " +
      "+ offsets, no corpus-wide single-partition window") {
    // a training-order shuffle IS a global sort by the md5 key, and
    // the consecutive ordinal must materialize DISTRIBUTEDLY: bucket
    // on a DETERMINISTIC key prefix (a pure function of the row — a
    // sampled RangePartitioner boundary could differ between the two
    // subtrees that evaluate the frame), number within buckets
    // (window keyed on pid — never an empty/constant partition spec
    // over document rows), broadcast-join the P-row prefix offsets
    // back. The only single-partition window allowed is the one over
    // the P-row offsets frame itself.
    val df = SparkEntry.queries("corpus_train_order")(spark, sf001)
    // materialize first: only the FINAL adaptive plan shows the
    // runtime shuffle stages
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(pid"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the per-document window is partitioned by pid — the corpus
    // never funnels through one task
    assert("Window \\[row_number\\(\\)[^\\]]*\\], \\[pid".r
      .findFirstIn(p).isDefined, p.take(1600))
    assert("Scan parquet".r.findAllIn(p).length <= 1 ||
      p.contains("ReusedExchange") || p.contains("ShuffleQueryStage"),
      p.take(1600))
    assert(!p.contains("CartesianProduct"))
  }
}
