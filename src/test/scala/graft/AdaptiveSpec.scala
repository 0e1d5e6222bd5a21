package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Adaptive query execution — the runtime re-planner every session in
  * this engine runs under (Spark 4 default, never disabled here). At
  * 100 TB, AQE is what turns the static `spark.sql.shuffle.partitions`
  * guess into right-sized post-shuffle partitions and re-plans joins
  * from ACTUAL map-output sizes, so one conservative config serves
  * every query. This spec pins that the mechanism is live: a tiny
  * aggregate's 32 configured shuffle partitions must be coalesced down
  * at runtime. */
class AdaptiveSpec extends SparkSpec {

  test("AQE coalesces post-shuffle partitions to the data's real size") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val agg = Tables.nation(spark, sf001)
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
    agg.collect() // run it so the adaptive plan finalizes
    val plan = agg.queryExecution.executedPlan
    val adaptive = plan.collectFirst { case a: AdaptiveSparkPlanExec => a }
    assert(adaptive.isDefined, s"expected AdaptiveSparkPlanExec in:\n$plan")
    val shufflePartitions = agg.rdd.getNumPartitions
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(shufflePartitions < configured,
      s"AQE should coalesce $configured partitions for 25 rows, " +
        s"got $shufflePartitions")
  }

  test("a builder session reads the SHJ map threshold and coalescing mode") {
    assert(spark.conf.get(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "64m")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
  }
}
