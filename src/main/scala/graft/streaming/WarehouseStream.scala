package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming warehouse ingestion [EXT]: SCD2 dimension maintenance via
  * `foreachBatch` — the idiom for sinks that need a MERGE rather than
  * an append. Each micro-batch folds its per-user latest purchase into
  * a graft-log dimension table: the user's open version closes at the
  * change timestamp, a new current version opens, untouched users pass
  * through, and the rewritten dimension publishes as ONE atomic
  * graft-log commit (this format's whole-table MERGE; Delta/Iceberg
  * would row-merge in place — same transaction shape).
  *
  * Timestamps are carried as epoch micros (BIGINT); an open version's
  * valid_to is Long.MaxValue (the TSV demo format carries no nulls —
  * the sentinel plays the role of Delta's null valid_to).
  *
  * Batch-boundary contract: intermediate version history depends on
  * how arrivals split into micro-batches (as in any streaming SCD2),
  * but the CURRENT rows always converge to the batch answer — exactly
  * one open version per user holding the overall-latest purchase —
  * which WarehouseStreamSpec asserts after a 3-batch replay.
  */
object WarehouseStream {
  val OpenValidTo: Long = Long.MaxValue
  private val Fmt = "graft.sources.GraftLogSource"

  private def dimSchemaDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // last_eid = the event id that opened the current version: the
    // tie-break for same-timestamp changes arriving in later batches
    // (without it, first-arrival silently won and the stream diverged
    // from the batch twin's max_by(struct(ts, event_id)))
    Seq.empty[(Long, Double, Long, Long, Int, Long)]
      .toDF("user_id", "bal", "valid_from", "valid_to", "is_current",
        "last_eid")
  }

  private def readDim(spark: SparkSession, dimDir: String,
      asOf: Long, snapshotEmpty: Boolean): DataFrame =
    if (asOf < 0L || snapshotEmpty) dimSchemaDf(spark)
    else spark.read.format(Fmt).option("path", dimDir)
      .option("asOfVersion", asOf.toString).load()

  /** Fold one micro-batch of purchase events into the dimension. */
  def applyScd2Batch(spark: SparkSession, batch: DataFrame,
      dimDir: String): Unit = {
    // short-circuit BEFORE the aggregation: isEmpty on the raw batch
    // avoids paying the groupBy twice (once for the check, once when
    // the uncached plan re-executes inside the write)
    if (batch.isEmpty) return
    val changes = batch
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_id"), col("value")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), unix_micros(col("m.ts")).as("c_ts"),
        col("m.event_id").as("c_eid"), col("m.value").as("c_val"))
    // The batch's read-modify-write is PINNED to one dimension
    // version, captured here before anything else: the dim read, the
    // retired-file listing, and rewriteFiles' conflict-check span all
    // use `base`, so a concurrent commit landing anywhere in the
    // batch window either touches a retired file (retryable abort),
    // lands in an empty-snapshot plan's span (rewriteFiles'
    // fullReplace guard — with no retired files the file-level check
    // is vacuous, and two bootstrap publishers racing an empty
    // dimension would otherwise each keep the other's rows live), or
    // is a pure append whose rows are provably NOT in the rewrite
    // (the dim snapshot predates it) — never served twice.
    val base = graft.sources.GraftLog.currentVersion(dimDir)
    // ONE log replay serves the emptiness check, the dim read gate,
    // and the retired-file list (previously committedFiles +
    // entriesAsOf walked the log separately every micro-batch)
    val retired = graft.sources.GraftLog.entriesAsOf(dimDir,
      if (base < 0L) Long.MaxValue else base)
    // cached for the batch: `hist` and `cur` are both derived from it
    // and both execute inside the single write plan below — uncached,
    // every committed dimension file would be read and decoded twice
    // per micro-batch
    val dim = readDim(spark, dimDir, base, retired.isEmpty).cache()
    val hist = dim.filter(col("is_current") === 0)
    val cur = dim.filter(col("is_current") === 1)
    val merged = cur.join(changes, Seq("user_id"), "full_outer")
      .select(col("user_id"), explode(
        when(col("c_ts").isNull, // untouched user: current row survives
          array(struct(col("bal"), col("valid_from"), col("valid_to"),
            lit(1).as("is_current"),
            coalesce(col("last_eid"), lit(Long.MinValue))
              .as("last_eid"))))
        .when(col("valid_from").isNull, // brand-new user
          array(struct(col("c_val").as("bal"),
            col("c_ts").as("valid_from"),
            lit(OpenValidTo).as("valid_to"), lit(1).as("is_current"),
            col("c_eid").as("last_eid"))))
        // Late arrival (change NOT newer than the open version by
        // (ts, event_id)): reject — micro-batch boundaries don't
        // respect event time, and without this guard an out-of-order
        // replay would regress the dimension. The event-id tie-break
        // matches the batch twin's max_by(struct(ts, event_id)), so a
        // SAME-timestamp later event arriving in a later batch still
        // wins; re-applying the exact change that opened the current
        // version (c_eid == last_eid) stays a no-op, keeping the fold
        // replay-idempotent under at-least-once foreachBatch recovery.
        .when(col("c_ts") < col("valid_from") ||
            (col("c_ts") === col("valid_from") &&
              col("c_eid") <= coalesce(col("last_eid"),
                lit(Long.MinValue))),
          array(struct(col("bal"), col("valid_from"), col("valid_to"),
            lit(1).as("is_current"),
            coalesce(col("last_eid"), lit(Long.MinValue))
              .as("last_eid"))))
        .otherwise(array( // close the open version, open the new one
          struct(col("bal"), col("valid_from"),
            col("c_ts").as("valid_to"), lit(0).as("is_current"),
            coalesce(col("last_eid"), lit(Long.MinValue))
              .as("last_eid")),
          struct(col("c_val").as("bal"), col("c_ts").as("valid_from"),
            lit(OpenValidTo).as("valid_to"), lit(1).as("is_current"),
            col("c_eid").as("last_eid")))))
        .as("v"))
      .select(col("user_id"), col("v.bal").as("bal"),
        col("v.valid_from").as("valid_from"),
        col("v.valid_to").as("valid_to"),
        col("v.is_current").as("is_current"),
        col("v.last_eid").as("last_eid"))
    // publish as ONE atomic commit: remove every pre-batch file and
    // add the rewrite in the same version, which keeps the
    // dimension's own history time-travelable per micro-batch.
    // rewriteFiles is the shared copy-on-write tail: scratch write,
    // file adoption, ONE remove+add commit — WITH the conflict guard
    // an overwrite lacks (the rewrite is derived from the snapshot it
    // read, so a concurrent commit between snapshotting `retired` and
    // publishing must abort it, not be silently dropped or served
    // twice beside the full rewrite) and with scratch cleanup on every
    // failure path.
    val out = hist.unionByName(merged)
    // retired = the files of the SAME pinned version the dim was read
    // as-of; rewriteFiles checks conflicts over (base, publish] and —
    // fullReplace — treats ANY concurrent data commit as a conflict
    // when the plan's snapshot was empty (see the pin comment above)
    try graft.sources.GraftLog.rewriteFiles(dimDir, retired,
      out, out.schema, baseVersion = base, fullReplace = true)
    finally dim.unpersist()
  }

  /** The stream: purchase events → per-batch SCD2 merge. */
  def scd2Stream(spark: SparkSession, streamInDir: String,
      dimDir: String, checkpoint: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    // same raw-schema probe + in-plan ts dispatch as
    // Tables.eventsStream, so a fixture-generation ts-encoding change
    // (int64 nanos / NTZ / native) is absorbed by the shared
    // normalizeEventTs projection instead of failing only this
    // consumer's unix_micros. The probe infers, not Tables.schemaOf:
    // the directory grows while the stream runs, so every call would
    // see a new fingerprint and a cached schema would never be hit.
    val schema = graft.sources.Tables.withNanosAsLong(spark)(
      spark.read.parquet(streamInDir).schema)
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(streamInDir))
      .filter(col("event_type") === "purchase")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row],
          _: Long) =>
        applyScd2Batch(spark, batch.toDF(), dimDir)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
