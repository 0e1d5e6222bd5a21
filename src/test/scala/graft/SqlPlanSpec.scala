package graft

import graft.queries.SqlInterface
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Plan-shape contracts for the TPC-H-style SQL surface. Correctness is
  * the driver's DuckDB gate; these specs pin the SCALE properties — the
  * plan shapes that decide whether the same query survives 100 TB. */
class SqlPlanSpec extends SparkSpec {

  private def run(name: String) =
    SqlInterface.queries(name)(spark, sf001)

  private object Plans extends AdaptiveSparkPlanHelper

  /** Parquet scan nodes over lineitem in the physical plan. Subqueries
    * count, and so does the plan of each cached relation the query
    * reads, once however often it is read; a reused exchange is not a
    * second scan. */
  private def lineitemScans(df: DataFrame): Int = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      Plans.collectWithSubqueries(p) { case s: FileSourceScanExec => s } ++
        Plans.collectWithSubqueries(p) {
          case m: InMemoryTableScanExec => m.relation.cachedPlan
        }.distinct.flatMap(scans)
    scans(df.queryExecution.executedPlan).count(_.relation.location
      .rootPaths.exists(_.toString.endsWith("lineitem.parquet")))
  }

  test("q10 joins facts with shuffles and broadcasts only the dim") {
    val df = run("sql_tpch_q10")
    val phys = df.queryExecution.executedPlan.toString
    // nation is the only broadcast; lineitem/orders must NOT be a
    // broadcast build side (fact-table broadcast = OOM at scale)
    assert(phys.contains("BroadcastHashJoin"), phys.take(500))
    assert(phys.contains("SortMergeJoin"), phys.take(500))
    assert(!phys.contains("CartesianProduct"))
    assert(df.count() == 20)
  }

  test("q17 window form scans lineitem once, no subquery rescan") {
    val df = run("sql_tpch_q17")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the canonical correlated-subquery form decorrelates to an
    // aggregate that scans lineitem a second time; the window form
    // must not — one fact scan is the 100 TB contract
    val scans = lineitemScans(df)
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans")
    assert(!formatted.contains("BroadcastNestedLoopJoin"))
    assert(!formatted.contains("CartesianProduct"))
    assert(df.count() == 1)
  }

  test("q18 one-pass form: lineitem scanned once, no sort-merge join") {
    // r16 rewrite: the per-order quantity aggregates ONCE (it is both
    // the HAVING probe and total_qty); the tiny >300 survivor set
    // broadcasts through the orders and customer joins. The contract:
    // one lineitem scan (the IN form scanned it twice), zero
    // SortMergeJoins (the IN form had four), and no nested loop.
    val df = run("sql_tpch_q18")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = lineitemScans(df)
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans")
    assert(!formatted.contains("SortMergeJoin"), formatted.take(1200))
    assert(formatted.contains("BroadcastHashJoin"), formatted.take(1200))
    assert(!formatted.contains("BroadcastNestedLoopJoin"))
    val n = df.count()
    assert(n > 0 && n <= 100, s"expected (0,100] rows, got $n")
  }

  test("q3 scans lineitem once with the shipdate filter pushed down") {
    val df = run("sql_tpch_q3")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(lineitemScans(df) == 1)
    assert(formatted.matches("(?s).*PushedFilters:.*l_shipdate.*"))
    assert(df.count() > 0)
  }

  test("q6 pushes all predicates into the parquet scan, no join") {
    val df = run("sql_tpch_q6")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // all three predicates reach the scan: row groups outside the
    // shipdate year are skipped before any byte is decoded
    assert(formatted.contains("PushedFilters"), formatted.take(800))
    assert(formatted.matches("(?s).*PushedFilters:.*l_shipdate.*"),
      formatted.take(1500))
    assert(!formatted.contains("Join"))
    // only the 4 needed columns are read, not all 11
    val readSchema =
      formatted.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(df.count() == 1)
  }

  test("q7/q8/q9 broadcast every dim and never nested-loop") {
    for (q <- Seq("sql_tpch_q7", "sql_tpch_q8", "sql_tpch_q9")) {
      val df = run(q)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("BroadcastHashJoin"), s"$q: ${phys.take(500)}")
      assert(phys.contains("SortMergeJoin"), s"$q: ${phys.take(500)}")
      assert(!phys.contains("BroadcastNestedLoopJoin"), q)
      assert(!phys.contains("CartesianProduct"), q)
      assert(df.count() > 0, q)
    }
  }

  test("q13 keeps the non-key predicate inside the left-outer join") {
    val df = run("sql_tpch_q13")
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("LeftOuter"), phys.take(800))
    // every customer survives: a WHERE instead of the join-condition
    // filter would delete fully-urgent customers from the histogram
    val total = df.agg(org.apache.spark.sql.functions.sum("custdist"))
      .head.getLong(0)
    val nCust = graft.sources.Tables.customer(spark, sf001).count()
    assert(total == nCust, s"histogram covers $total of $nCust customers")
  }

  test("q15 scans lineitem exactly once (window form, no subquery rescan)") {
    val df = run("sql_tpch_q15")
    val scans = lineitemScans(df)
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans")
    assert(df.count() >= 1)
  }

  test("q19 keeps the equi-join under the OR-of-ANDs filter") {
    val df = run("sql_tpch_q19")
    val phys = df.queryExecution.executedPlan.toString
    // the disjunction must NOT force a nested loop — partkey is still
    // the join key, the ORs evaluate as a post-join filter
    assert(phys.contains("BroadcastHashJoin"), phys.take(800))
    assert(!phys.contains("BroadcastNestedLoopJoin"))
    assert(!phys.contains("CartesianProduct"))
    assert(df.count() == 1)
  }

  test("q21 aggregation form scans lineitem once, aggs ride the join") {
    val df = run("sql_tpch_q21")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the canonical EXISTS/NOT EXISTS form costs three lineitem scans
    // (probe + semi + anti); the per-order tally form must cost one
    val scans = lineitemScans(df)
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans")
    // both grouping keys contain l_orderkey, so the aggregates reuse
    // the join's orderkey exchange: exactly one exchange should carry
    // lineitem-sized data (the fact join), not one per aggregate
    assert(!formatted.contains("CartesianProduct"))
    assert(!formatted.contains("BroadcastNestedLoopJoin"))
  }

  test("banded range self-join is an equi-join, never a nested loop") {
    val df = graft.queries.Analytics.queries("join_range_banded")(
      spark, sf001)
    val phys = df.queryExecution.executedPlan.toString
    // the pure range predicate alone would plan a BroadcastNestedLoop/
    // cartesian — banding must turn it into a hash- or merge-joinable
    // equi-join on (event_type, band)
    assert(!phys.contains("BroadcastNestedLoopJoin"), phys.take(800))
    assert(!phys.contains("CartesianProduct"))
    assert(phys.contains("Join"), phys.take(400))
    // exactly the DuckDB naive-range-join pair counts
    assert(df.agg(org.apache.spark.sql.functions.sum("n_pairs"))
      .head.getLong(0) > 0)
  }

  test("q22 plans the lapsed-customer check as an anti join") {
    val df = run("sql_tpch_q22")
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("LeftAnti"), phys.take(800))
    assert(!phys.contains("CartesianProduct"))
    assert(df.count() > 0)
  }
}
