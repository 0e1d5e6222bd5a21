package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Graph analytics: the degree-oriented triangle count must equal an
  * independent brute-force count (edge set built via the self-join form
  * the production code deliberately avoids, triangles closed in-memory),
  * and the census invariants must hold against the triangle output. */
class GraphSpec extends SparkSpec {

  private def runQ(name: String) =
    SparkEntry.queries(name)(spark, sf0001)

  /** Independent edge construction: distinct (order, part) self-join —
    * NOT the collect_set path production uses. */
  private lazy val bruteEdges: Set[(Long, Long)] = {
    val op = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p"), col("b.p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private lazy val bruteTriCounts: Map[Long, Long] = {
    val adj = bruteEdges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- bruteEdges
      cs <- adj.get(a).toSeq
      c <- cs if c > b && bruteEdges.contains((b, c))
    } {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    counts.toMap
  }

  test("graph_triangles matches an independent brute-force count per node") {
    val got = runQ("graph_triangles").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bruteTriCounts.nonEmpty, "fixture graph should contain triangles")
    assert(got == bruteTriCounts)
  }

  test("triangles: the non-broadcast (100x adjacency) fallback is row-identical") {
    // the documented scale path: once the adjacency outgrows a
    // broadcast, the SAME wedge plan runs with the hints dropped
    // (sort-merge on src and ekey) — flipping the session's broadcast
    // switch must change only the join strategy, never a row
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = runQ("graph_triangles")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteTriCounts,
        "hint-free triangle plan diverged from the broadcast plan")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"broadcast disabled yet a broadcast join survived:\n${p.take(800)}")
      assert(p.contains("SortMergeJoin"),
        s"expected the documented sort-merge fallback:\n${p.take(800)}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the broadcast gate is STATS-DRIVEN: an adjacency estimated " +
      "past the budget takes the SMJ path with no kill switch set") {
    // r11 verdict #4: the fallback used to hang off a manual
    // autoBroadcastJoinThreshold=-1 lever — a forgotten conf at 100×
    // force-broadcast the full node-sized adjacency. Now the operator
    // compares its EXACT size estimate (nodes × overhead + entries ×
    // 8, from the degree aggregate it already runs) against the
    // session threshold and drops the hint automatically. Tuning the
    // threshold below the fixture's estimate — a small POSITIVE
    // value, not the -1 kill switch — must flip the strategy (the
    // forced hint used to override it) and change no row.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val df = runQ("graph_triangles")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteTriCounts,
        "auto-fallback triangle plan diverged from the broadcast plan")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"),
        s"an over-budget adjacency must auto-fall-back to SMJ:\n" +
          p.take(800))
      // jaccard's adjacency trips the same gate
      val j = runQ("graph_neighbor_jaccard")
      val jRows = j.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val jp = j.queryExecution.executedPlan.toString
      assert(jp.contains("SortMergeJoin"),
        s"jaccard adjacency must auto-fall-back too:\n${jp.take(800)}")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val ref = runQ("graph_neighbor_jaccard").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(jRows == ref,
        "the gate must change only the join strategy, never a row")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("adjCap: the untouched-default 64 MB budget actually applies the " +
      "broadcast hint under budget; a lowered graft budget drops it and " +
      "the plan degrades to SMJ without OOM") {
    // the self-granted 64 MB default (Graph.adjCap) only exists while
    // the session threshold is UNTOUCHED — earlier tests in this
    // shared session set-then-restore it, which leaves the key sticky
    // in the settings map (exactly the explicitness adjCap honors), so
    // restore the untouched state first and put the explicit value
    // back in the finally
    val priorExplicit =
      if (org.apache.spark.sql.GraftPlanShim.isConfSet(spark,
          "spark.sql.autoBroadcastJoinThreshold"))
        Some(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
      else None
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(!org.apache.spark.sql.GraftPlanShim.isConfSet(spark,
      "spark.sql.autoBroadcastJoinThreshold"),
      "pin precondition: unset must clear the explicit-settings map")
    val df = runQ("graph_triangles")
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the hint is pinned at the OPTIMIZER level (strategy=broadcast on
    // the Join), not via the physical operator: with the hint dropped
    // Spark may still broadcast tiny sides on its own stats, and
    // that choice is Spark's, not the gate's
    val hinted = df.queryExecution.optimizedPlan.toString
    assert(hinted.contains("strategy=broadcast"),
      s"an under-budget adjacency must carry the broadcast hint:\n" +
        hinted.take(800))
    try {
      // memory-pressure analog (the bounded-memory executor): an
      // explicit session threshold far below the adjacency estimate
      // lowers the graph budget with it — the gate must DROP the
      // forced hint, and the whole plan runs as sort-merge with no
      // hint left to force a build-side allocation
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val d2 = runQ("graph_triangles")
      val rows2 = d2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows2 == rows, "the budget must change strategy, never a row")
      assert(!d2.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"),
        "an over-budget adjacency must not carry a forced broadcast hint")
      val p2 = d2.queryExecution.executedPlan.toString
      assert(p2.contains("SortMergeJoin") &&
        !p2.contains("BroadcastHashJoin"),
        s"bounded-memory session must degrade to SMJ:\n${p2.take(800)}")
    } finally {
      priorExplicit match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("graph_census invariants hold vs the independent edge set") {
    val row = runQ("graph_census").collect().head
    val (nNodes, nEdges, nWedges, maxDeg) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val deg = (bruteEdges.toSeq.map(_._1) ++ bruteEdges.toSeq.map(_._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(nNodes == deg.size)
    assert(nEdges == bruteEdges.size)
    assert(nWedges == deg.values.map(d => d * (d - 1) / 2).sum)
    assert(maxDeg == deg.values.max)
  }

  test("pagerank: mass conserved, all ranks positive, matches in-memory power iteration") {
    val got = runQ("graph_pagerank").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.values.forall(_ > 0))
    // no dangling nodes => total mass stays 1 (up to decimal rounding)
    assert(math.abs(got.values.sum - 1.0) < 1e-4)
    // independent in-memory power iteration, 3 rounds, same constants
    val adj = (bruteEdges.toSeq ++ bruteEdges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    val n = adj.size
    var r = adj.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for ((u, vs) <- adj; v <- vs) contrib(v) += r(u) / vs.size
      r = adj.keys.map(v => v -> (0.15 / n + 0.85 * contrib(v))).toMap
    }
    assert(got.keySet == r.keySet)
    // production path rounds contributions to DECIMAL(18,10); allow that
    assert(r.forall { case (v, x) => math.abs(got(v) - x) < 1e-5 })
  }

  test("neighbor jaccard matches an in-memory recompute of the top-20") {
    val adj = (bruteEdges.toSeq ++ bruteEdges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2).toSet }
    val expected = bruteEdges.toSeq.map { case (a, b) =>
      val inter = (adj(a) & adj(b)).size
      val un = adj(a).size + adj(b).size - inter
      (a, b, inter.toDouble / un)
    }.sortBy { case (a, b, j) => (-j, a, b) }.take(20)
    val got = runQ("graph_neighbor_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("neighbor jaccard degree cap: a celebrity node's adjacency is " +
      "bounded, low-degree pairs stay exact") {
    import spark.implicits._
    // synthetic graph: node 0 is a celebrity (degree 50, far above the
    // test cap of 8); nodes 100-103 form a low-degree clique whose
    // Jaccard values must be EXACT under the cap
    val star = (1L to 50L).map(i => (0L, i))
    val clique = Seq((100L, 101L), (100L, 102L), (100L, 103L),
      (101L, 102L), (101L, 103L), (102L, 103L))
    val e = (star ++ clique).toDF("pa", "pb")
    val got = graft.queries.Graph.neighborJaccard(spark, e, cap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // every clique edge: neighbors of each node are the other 3 clique
    // members; inter = 2, union = 4 → exactly 0.5 (deg 3 ≤ cap)
    val cliqueScores = got.filter(_._1 >= 100L)
    assert(cliqueScores.size == 6)
    assert(cliqueScores.forall(_._3 == 0.5), cliqueScores.toString)
    // celebrity edges: leaves have one neighbor (node 0), node 0's
    // SAMPLED adjacency never contains itself, so inter = 0 and the
    // EXACT degrees still set union = 50 + 1 - 0 → jaccard 0, and the
    // result remains well-defined (no NaN, no crash, one row per edge)
    val starScores = got.filter(_._1 == 0L)
    assert(starScores.size == 50)
    assert(starScores.forall(_._3 == 0.0), starScores.take(5).toString)
    // determinism: the hash-rank sample re-runs identically
    val again = graft.queries.Graph.neighborJaccard(spark, e, cap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got.toSet == again.toSet)
    // a cap at/above the max degree reproduces the exact (uncapped)
    // values everywhere — the exact-regime contract the bench SFs use
    val exact = graft.queries.Graph.neighborJaccard(spark, e, cap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(exact.filter(_._1 >= 100L) == cliqueScores.toSet)
  }

  test("kcore peel: survivors have core degree >= 2 and match a brute peel") {
    // independent support>=2 edge set: count orders per pair via self-join
    val op = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val support = op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p"), col("b.p")).count()
      .filter(col("count") >= 2)
      .select(col("a.p"), col("b.p")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var es = support.toSet
    for (_ <- 1 to 4) { // initial cut + 3 recompute rounds
      val deg = (es.toSeq.map(_._1) ++ es.toSeq.map(_._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val surv = deg.filter(_._2 >= 2).keySet
      es = es.filter(e => surv(e._1) && surv(e._2))
    }
    val expDeg = (es.toSeq.map(_._1) ++ es.toSeq.map(_._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = runQ("graph_kcore_peel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "peel must not empty the fixture graph")
    assert(got == expDeg)
  }

  test("triangle totals are consistent: sum of corner credits = 3 x triangles, bounded by wedges") {
    val triSum = runQ("graph_triangles")
      .agg(sum(col("tri_count"))).collect().head.getLong(0)
    val nWedges = runQ("graph_census").collect().head.getLong(2)
    assert(triSum % 3 == 0)
    // each triangle closes exactly 3 wedges (one per corner)
    assert(triSum <= nWedges)
  }

  test("graft_sorted_isect equals size(array_intersect) on sorted " +
      "set inputs, incl. empty/disjoint/identical, and refuses " +
      "nullable elements") {
    import spark.implicits._
    // random long SETS, sorted — the exact shape collect_set +
    // sort_array produces in the jaccard adjacency
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong)
        .distinct.sorted
      (a, b)
    } ++ Seq(
      (Seq.empty[Long], Seq(1L, 2L)),           // empty side
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),           // disjoint
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)))       // identical
    val df = rows.toDF("a", "b")
    val got = df.select(
        call_function("graft_sorted_isect", col("a"), col("b"))
          .as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    assert(got.forall(r => r.getInt(0) == r.getInt(1)),
      got.find(r => r.getInt(0) != r.getInt(1)).toString)
    // the type check refuses containsNull=true element types rather
    // than silently miscounting (nulls sort first and would
    // desynchronize the two-pointer walk)
    val nullable = Seq((Seq(Option(1L), None), Seq(Option(1L))))
      .toDF("a", "b")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      nullable.select(call_function("graft_sorted_isect",
        col("a"), col("b"))).collect())
    assert(err.getMessage.contains("graft_sorted_isect"))
  }

  test("graft_sorted_isect_vals equals array_intersect element-for-" +
      "element on sorted set inputs, and refuses nullable elements") {
    import spark.implicits._
    // the exact shape graph_triangles feeds it: sorted long SETS
    // (sort_array over a distinct edge group's collect_list)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong)
        .distinct.sorted
      (a, b)
    } ++ Seq(
      (Seq.empty[Long], Seq(1L, 2L)),           // empty side
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),           // disjoint
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)))       // identical
    val df = rows.toDF("a", "b")
    val got = df.select(
        call_function("graft_sorted_isect_vals", col("a"), col("b"))
          .as("fast"),
        array_intersect(col("a"), col("b")).as("ref"))
      .collect()
    assert(got.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)),
      got.find(r => r.getSeq[Long](0) != r.getSeq[Long](1)).toString)
    val nullable = Seq((Seq(Option(1L), None), Seq(Option(1L))))
      .toDF("a", "b")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      nullable.select(call_function("graft_sorted_isect_vals",
        col("a"), col("b"))).collect())
    assert(err.getMessage.contains("graft_sorted_isect_vals"))
  }
}
