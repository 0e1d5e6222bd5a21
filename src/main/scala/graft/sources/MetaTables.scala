package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Rows computed on the driver, handed to Spark as a [[LocalScan]]: the
  * planner turns it into a `LocalTableScanExec`, so a plain collect
  * runs no Spark job. Serves the `t$suffix` metadata tables and the
  * results of `CALL` procedures. */
final class LocalRows(schema: StructType, values: Seq[Array[Any]])
    extends LocalScan {
  private val internal: Array[InternalRow] =
    values.map(new GenericInternalRow(_)).toArray
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = internal
}

/** The `t$suffix` metadata table over the graft-log table at `dir`:
  * `rowsOf(dir)` lists its content when the scan is BUILT, i.e. at
  * planning time — the listing is as snapshot-consistent as any scan. */
class GraftLogMetaTable(suffix: String, dir: String,
    tableSchema: StructType, rowsOf: String => Seq[Array[Any]])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft_log_${suffix.stripPrefix("$")}($dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalRows(tableSchema, rowsOf(dir))
}

/** The (schema, rows) pair of each metadata table. */
object GraftLogMetaTable {
  type Def = (StructType, String => Seq[Array[Any]])

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  /** The `t$files` metadata table: one row per manifest entry —
    * (version, action, file, rows, data_change) — the introspection
    * surface maintenance jobs (vacuum planning, compaction policy, CDF
    * consumers) read. */
  val Files: Def = (StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("data_change", BooleanType, nullable = false))),
    dir => GraftLog.entries(dir).map(e => Array[Any](
      e.version, str(e.action), str(e.file), e.rows, e.dataChange)))

  /** The `t$stats` metadata table: one row per table column with the
    * MERGED manifest statistics of the current snapshot — (column,
    * ndv_est, null_count, min, max, n_files) — the ANALYZE-TABLE
    * surface, except nothing runs: every figure derives from the
    * per-file sketches the writers already paid for, merged at metadata
    * cost. ndv_est is the HLL union estimate (±~5%), null_count exact
    * and additive, min/max the numeric fold; any figure a file can't
    * vouch for (legacy entry, DV'd file) reads NULL rather than a wrong
    * number. At 100 TB this is how an optimizer, a data engineer, or a
    * quality monitor asks "how many distinct users / how null is this
    * column" without a table scan. */
  val Stats: Def = (StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("ndv_est", LongType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true),
    StructField("n_files", LongType, nullable = false))),
    dir => {
      val schema = GraftLog.storedSchema(dir).getOrElse(StructType(Nil))
      // the LIVE snapshot (checkpoint+tail replay), not the full
      // ledger — removed files must not pollute table-level stats
      val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
      val merged = GraftLogNdv.mergedColumnStats(schema, live)
      val withRows = live.filter(_.rows != 0L)
      val noDv = withRows.forall(e => GraftLog.dvOf(e).isEmpty)
      schema.fields.toSeq.map { f =>
        val (ndv, nulls) = merged(f.name)
        // numeric min/max fold mirrors the scan's skipping rules:
        // present only when every row-bearing DV-free file carries
        // the column's range
        // pre-rename files key the range under the former name;
        // unparseable stats (NaN) drop the range, never crash
        def localStat(e: LogEntry) =
          GraftLog.decStat(e, GraftLog.fileLocalName(schema, e, f.name))
        val range =
          if (noDv && withRows.nonEmpty &&
              withRows.forall(localStat(_).isDefined)) {
            val mn = withRows.map(localStat(_).get._1).min
            val mx = withRows.map(localStat(_).get._2).max
            Some((mn.toPlainString, mx.toPlainString))
          } else None
        Array[Any](str(f.name),
          ndv.map(Long.box).orNull,
          nulls.map(Long.box).orNull,
          range.map(r => str(r._1)).orNull,
          range.map(r => str(r._2)).orNull,
          live.size.toLong)
      }
    })

  /** The `t$cdc` metadata table: one row per committed version with its
    * typed-feed coverage — (version, has_cdc, n_cdc_files, n_cdc_rows,
    * n_add_files, n_add_rows) — what a downstream sync planner reads to
    * know which spans carry exact change types and which fall back to
    * adds-as-inserts. Walks the same O(history-span) commit listing the
    * feed itself reads. */
  val Cdc: Def = (StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("has_cdc", BooleanType, nullable = false),
    StructField("n_cdc_files", LongType, nullable = false),
    StructField("n_cdc_rows", LongType, nullable = false),
    StructField("n_add_files", LongType, nullable = false),
    StructField("n_add_rows", LongType, nullable = false))),
    dir => GraftLog.entries(dir).groupBy(_.version).toSeq.sortBy(_._1)
      .map { case (v, es) =>
        val cdc = es.filter(_.action == "cdc")
        val adds = es.filter(e => e.isAdd && e.dataChange)
        Array[Any](v, cdc.nonEmpty, cdc.size.toLong,
          cdc.map(e => math.max(e.rows, 0L)).sum,
          adds.size.toLong,
          adds.map(e => math.max(e.rows, 0L)).sum)
      })

  /** The `t$history` metadata table: one row per committed version —
    * (version, ts_millis, n_adds, n_removes, rows_added) — the audit
    * surface `TIMESTAMP AS OF` resolves against and a RESTORE consults.
    * rows_added counts dataChange rows only (what a CDF consumer saw). */
  val History: Def = (StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("ts_millis", LongType, nullable = false),
    StructField("n_adds", LongType, nullable = false),
    StructField("n_removes", LongType, nullable = false),
    StructField("rows_added", LongType, nullable = false))),
    dir => {
      // one read of the log; ts from versionTimestamps — the SAME
      // derivation TIMESTAMP AS OF resolves against, so audit and
      // resolution can't drift
      val all = GraftLog.entries(dir)
      val vts = GraftLog.versionTimestamps(all).toMap
      all.groupBy(_.version).toSeq.sortBy(_._1).map { case (v, es) =>
        Array[Any](v, vts(v),
          es.count(_.isAdd).toLong,
          es.count(!_.isAdd).toLong,
          es.filter(e => e.isAdd && e.dataChange)
            .map(e => math.max(e.rows, 0L)).sum)
      }
    })

  /** The `t$partitions` metadata table (Iceberg's `partitions`): one row
    * per live identity-partition value — (part_value, n_files, n_rows) —
    * the layout surface a maintenance policy reads (which partitions are
    * fragmented enough to compact, how skewed the value distribution
    * is). Rows count EFFECTIVE rows (DV-deleted rows excluded), files
    * are the CURRENT snapshot only — `t$files` keeps the full ledger.
    * part_value is NULL for the NULL partition, for files predating the
    * partition declaration (honest: those files also fall out of
    * storage-partitioned grouping), and for every file of an
    * unpartitioned table (one summary row, like Iceberg). */
  val Partitions: Def = (StructType(Seq(
    StructField("part_value", StringType, nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false))),
    dir => {
      val partCol = GraftLog.partitionColOf(dir)
      val live = GraftLog.entriesAsOf(dir, Long.MaxValue)
      live.groupBy(e => partCol.flatMap(c =>
          GraftLogPartValue.of(e, c)).map {
            case null => null
            case v => v.toString
          }.orNull)
        .toSeq
        .sortBy { case (pv, _) => (pv == null, Option(pv).getOrElse("")) }
        .map { case (pv, es) =>
          Array[Any](Option(pv).map(str).orNull,
            es.size.toLong,
            es.map(GraftLog.effectiveRows).sum)
        }
    })

  /** The `t$refs` metadata table: one row per named ref (tag) —
    * (name, version, reachable) — the discovery surface for
    * `VERSION AS OF '<name>'`. `reachable` is false when log expiration
    * moved the retained horizon past the pinned version (reads through
    * the ref now fail loudly; the row makes the dead tag visible to
    * cleanup jobs instead of silent). */
  val Refs: Def = (StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("reachable", BooleanType, nullable = false))),
    dir => {
      val oldest = GraftLog.oldestReplayableVersion(dir)
      GraftLog.refs(dir).toSeq.sortBy(_._1).map { case (n, v) =>
        Array[Any](str(n), v, oldest <= 0L || v >= oldest)
      }
    })

  /** The `t$txns` metadata table: one row per incremental writer's
    * latest [[LogEntry.txn]] marker — (app_id, applied_through,
    * committed_version, ts_millis) — the observability surface for the
    * exactly-once contract: which consumer has applied the source
    * through which version, and when. What an operator checks before
    * deciding whether a materialized view or streaming sink is stale. */
  val Txns: Def = (StructType(Seq(
    StructField("app_id", StringType, nullable = false),
    StructField("applied_through", LongType, nullable = false),
    StructField("committed_version", LongType, nullable = false),
    StructField("ts_millis", LongType, nullable = false))),
    dir => GraftLog.snapshotAsOf(dir, Long.MaxValue).txns
      .sortBy(_.file).map { e =>
        Array[Any](str(e.file.stripPrefix("txn:")),
          e.rows, e.version, e.ts)
      })

  /** The `t$branches` metadata table: one row per live branch —
    * (name, fork_version, head_version, n_commits, n_files) — the
    * discovery surface for branch reads and the fast-forward decision
    * (a branch whose fork trails the main head cannot fast-forward). */
  val Branches: Def = (StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("fork_version", LongType, nullable = false),
    StructField("head_version", LongType, nullable = false),
    StructField("n_commits", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false))),
    dir => GraftLog.branches(dir).toSeq.sortBy(_._1).map { case (n, fork) =>
      val es = GraftLog.branchEntries(dir, n)
      Array[Any](str(n), fork,
        GraftLog.branchHead(dir, n),
        es.map(_.version).distinct.size.toLong,
        es.count(_.isAdd).toLong)
    })
}
