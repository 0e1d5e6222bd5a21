package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._

/** SQL stored procedures for graft-log table MAINTENANCE [EXT] — the
  * Iceberg `CALL catalog.system.proc(...)` surface, on Spark 4's
  * ProcedureCatalog connector API. Maintenance ops (compaction, vacuum,
  * layout rewrite, restore) are not queries and not DML: a production
  * pipeline schedules them from plain SQL without linking against the
  * format's Scala API, which is exactly what CALL provides:
  *
  *   CALL graftq.system.compact(table => 'ns.t');
  *   CALL graftq.system.vacuum(table => 'ns.t', expire_history => true);
  *   CALL graftq.system.optimize_zorder(table => 'ns.t',
  *        col_a => 'x', col_b => 'y');
  *   CALL graftq.system.restore(table => 'ns.t', version => 3);
  *
  * Each returns a one-row result (as [[LocalRows]]) reporting what
  * the op did — file counts a scheduler can log and alert on. The ops
  * themselves are the already-committed maintenance primitives on
  * [[GraftLog]]; CALL adds no new mutation path, only the SQL face.
  * At 100 TB these run daily per table partition, driven by an
  * orchestrator speaking SQL to the warehouse — the reason every
  * lakehouse format grew a procedure surface. */
object GraftProcedures {
  val Namespace = "system"

  val All: Seq[String] =
    Seq("compact", "vacuum", "optimize_zorder", "restore",
      "set_ref", "drop_ref", "expire_log", "delete_mor",
      "publish_staged", "drop_staged",
      "create_branch", "fast_forward", "drop_branch", "refresh_mv",
      "sync_replica", "repartition_table")

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def param(name: String, dt: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** Bound+unbound in one: the parameter list is static per procedure,
    * so bind() is the identity (Spark still applies coercion and
    * name-based argument matching against `parameters`). */
  private abstract class Proc(procName: String, procDesc: String,
      params: Seq[ProcedureParameter], resultSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDesc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def run(args: InternalRow): Array[Any]
    override def call(args: InternalRow): java.util.Iterator[Scan] = {
      // an explicit NULL argument would reach args.getString/getLong
      // and NPE — none of the maintenance procedures has a meaningful
      // NULL input, so reject with the parameter's name instead
      params.indices.foreach(i => require(!args.isNullAt(i),
        s"procedure $procName: argument '${params(i).name}' is NULL " +
          "(every parameter requires a concrete value)"))
      java.util.List.of[Scan](
        new LocalRows(resultSchema, Seq(run(args)))).iterator()
    }
  }

  /** `table => 'ns.t'` resolved STRICTLY under the catalog's warehouse
    * root: every dot-separated segment must be a plain name — an
    * empty, '.', '..', or separator-carrying segment would walk OUT of
    * the warehouse, and these procedures include destructive
    * maintenance (vacuum deletes files), so a SQL-facing identifier
    * must never address an arbitrary filesystem path. */
  private def pathOf(warehouse: String, table: String): String = {
    val parts = table.split('.').toSeq
    require(parts.nonEmpty && parts.forall(p =>
      p.nonEmpty && p != "." && p != ".." &&
        !p.contains('/') && !p.contains('\\')),
      s"invalid table identifier '$table': each dot-separated part " +
        "must be a plain name (no empty parts, '.', '..', or path " +
        "separators)")
    (warehouse +: parts).mkString("/")
  }

  /** [[pathOf]] + existence: the procedure must not invent tables, so
    * a missing table fails. */
  private def dirOf(warehouse: String, table: String): String = {
    val dir = pathOf(warehouse, table)
    require(new java.io.File(dir, GraftLog.SchemaFile).exists(),
      s"no graft-log table '$table' under $warehouse")
    dir
  }

  def load(warehouse: String, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array(Namespace)),
      s"procedures live in the '$Namespace' namespace, " +
        s"got ${ident.namespace.mkString(".")}")
    ident.name match {
      case "compact" => new Proc("compact",
          "rewrite the live snapshot's small part files into one, " +
            "published as a new version (history stays time-travelable)",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("files_compacted", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.compact(dirOf(warehouse, args.getString(0))))
      }
      case "vacuum" => new Proc("vacuum",
          "delete unreferenced part files older than min_age_ms; " +
            "expire_history keeps only the current snapshot's files",
          Seq(param("table", StringType),
            param("min_age_ms", LongType,
              GraftLog.DefaultVacuumRetentionMs.toString),
            param("expire_history", BooleanType, "false")),
          StructType(Seq(
            StructField("files_deleted", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.vacuum(dirOf(warehouse, args.getString(0)),
            args.getLong(1), args.getBoolean(2)).size)
      }
      case "optimize_zorder" => new Proc("optimize_zorder",
          "rewrite the live snapshot range-partitioned by the Morton " +
            "interleave of (col_a, col_b) for 2-D stats pruning",
          Seq(param("table", StringType),
            param("col_a", StringType), param("col_b", StringType)),
          StructType(Seq(
            StructField("files_rewritten", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.optimizeZorder(
            org.apache.spark.sql.SparkSession.active,
            dirOf(warehouse, args.getString(0)),
            args.getString(1), args.getString(2)))
      }
      case "repartition_table" => new Proc("repartition_table",
          "re-key the table's identity partitioning to `col` and " +
            "rewrite the live snapshot routed by it (one file per " +
            "value) - storage-partitioned joins resume on the new key",
          Seq(param("table", StringType), param("col", StringType)),
          StructType(Seq(
            StructField("files_rewritten", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.repartitionTable(
            org.apache.spark.sql.SparkSession.active,
            dirOf(warehouse, args.getString(0)), args.getString(1)))
      }
      case "restore" => new Proc("restore",
          "publish a historical snapshot as NEW auditable history " +
            "(the mistaken versions stay time-travelable)",
          Seq(param("table", StringType), param("version", LongType)),
          StructType(Seq(
            StructField("files_removed", IntegerType, false),
            StructField("files_readded", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          val (rm, ra) = GraftLog.restore(
            dirOf(warehouse, args.getString(0)), args.getLong(1))
          Array(rm, ra)
        }
      }
      case "set_ref" => new Proc("set_ref",
          "pin a human-named ref (tag) at a committed version; read " +
            "it back with VERSION AS OF 'name'",
          Seq(param("table", StringType), param("name", StringType),
            param("version", LongType)),
          StructType(Seq(
            StructField("version", LongType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          GraftLog.setRef(dirOf(warehouse, args.getString(0)),
            args.getString(1), args.getLong(2))
          Array(args.getLong(2))
        }
      }
      case "drop_ref" => new Proc("drop_ref",
          "drop a named ref (the pinned version stays time-travelable " +
            "by number until the log is expired)",
          Seq(param("table", StringType), param("name", StringType)),
          StructType(Seq(
            StructField("dropped", BooleanType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          GraftLog.dropRef(dirOf(warehouse, args.getString(0)),
            args.getString(1))
          Array(true)
        }
      }
      case "expire_log" => new Proc("expire_log",
          "delete commit files subsumed by the newest checkpoint at or " +
            "below before_version — bounds metadata size; time travel " +
            "below the retained horizon then fails loudly",
          Seq(param("table", StringType),
            param("before_version", LongType)),
          StructType(Seq(
            StructField("segments_deleted", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.expireLog(dirOf(warehouse, args.getString(0)),
            args.getLong(1)))
      }
      case "delete_mor" => new Proc("delete_mor",
          "merge-on-read DELETE of a [lo, hi) key range via deletion " +
            "vectors: metadata-only commit, zero part-file rewrites " +
            "(falls back to copy-on-write past the position cap)",
          Seq(param("table", StringType), param("key_col", StringType),
            param("lo", LongType), param("hi", LongType)),
          StructType(Seq(
            StructField("files_touched", IntegerType, false),
            StructField("files_total", IntegerType, false),
            StructField("used_dv", BooleanType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          import org.apache.spark.sql.sources.{And, GreaterThanOrEqual,
            LessThan}
          val (t, n, dv) = GraftLog.deleteWhereMoR(
            org.apache.spark.sql.SparkSession.active,
            dirOf(warehouse, args.getString(0)),
            Array(And(
              GreaterThanOrEqual(args.getString(1), args.getLong(2)),
              LessThan(args.getString(1), args.getLong(3)))))
          Array(t, n, dv)
        }
      }
      case "publish_staged" => new Proc("publish_staged",
          "publish a write-audit-publish staging (writes made with " +
            "spark.graft.log.wapId set) as one ordinary commit — " +
            "exactly once, loud on an unknown or already-published id",
          Seq(param("table", StringType), param("wap_id", StringType)),
          StructType(Seq(
            StructField("version", LongType, false),
            StructField("n_files", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          val (v, n) = GraftLog.publishStaged(
            dirOf(warehouse, args.getString(0)), args.getString(1))
          Array(v, n)
        }
      }
      case "drop_staged" => new Proc("drop_staged",
          "abandon a write-audit-publish staging: delete its part " +
            "files and the staged side file (the failed-audit exit)",
          Seq(param("table", StringType), param("wap_id", StringType)),
          StructType(Seq(
            StructField("files_deleted", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.dropStaged(
            dirOf(warehouse, args.getString(0)), args.getString(1)))
      }
      case "create_branch" => new Proc("create_branch",
          "fork a writable branch at the current version; writes made " +
            "with spark.graft.log.branch set commit to the branch, " +
            "invisible to mainline readers until fast_forward",
          Seq(param("table", StringType), param("name", StringType)),
          StructType(Seq(
            StructField("fork_version", LongType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.createBranch(
            dirOf(warehouse, args.getString(0)), args.getString(1)))
      }
      case "fast_forward" => new Proc("fast_forward",
          "publish a branch onto main as one squashed commit — only " +
            "when main has not moved since the fork (loud conflict " +
            "otherwise); exactly once, branch retired on success",
          Seq(param("table", StringType), param("name", StringType)),
          StructType(Seq(
            StructField("version", LongType, false),
            StructField("n_files", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          val (v, n) = GraftLog.fastForward(
            dirOf(warehouse, args.getString(0)), args.getString(1))
          Array(v, n)
        }
      }
      case "drop_branch" => new Proc("drop_branch",
          "abandon a branch: delete its commits and reclaim its part " +
            "files (the abandoned-line exit)",
          Seq(param("table", StringType), param("name", StringType)),
          StructType(Seq(
            StructField("files_deleted", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] =
          Array(GraftLog.dropBranch(
            dirOf(warehouse, args.getString(0)), args.getString(1)))
      }
      case "refresh_mv" => new Proc("refresh_mv",
          "bring a COUNT/SUM/MIN-MAX materialized aggregate view up " +
            "to date with its source table at delta cost — " +
            "exactly-once via the txn marker in the view's log " +
            "(bootstraps the view on first call)",
          Seq(param("source", StringType), param("view", StringType),
            param("key_col", StringType),
            param("sum_cols", StringType),
            param("minmax_cols", StringType, "''")),
          StructType(Seq(
            StructField("mode", StringType, false),
            StructField("src_version", LongType, false),
            StructField("delta_files", IntegerType, false),
            StructField("view_files_rewritten", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          def cols(s: String): Seq[String] =
            s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          // the view may not exist yet (bootstrap creates it), so its
          // path resolves without the table-existence check — but
          // still strictly under the warehouse root
          val viewDir = pathOf(warehouse, args.getString(1))
          val r = MaterializedAgg.refresh(
            org.apache.spark.sql.SparkSession.active,
            dirOf(warehouse, args.getString(0)), viewDir,
            args.getString(2), cols(args.getString(3)),
            minMaxCols = cols(args.getString(4)))
          Array(org.apache.spark.unsafe.types.UTF8String
            .fromString(r.mode),
            r.srcVersion, r.deltaFiles, r.rewrittenMvFiles)
        }
      }
      case "sync_replica" => new Proc("sync_replica",
          "bring a mirror table up to date with a CDC-enabled source " +
            "over the typed change feed — updates AND deletes " +
            "propagate at delta cost (bootstraps the mirror on first " +
            "call)",
          Seq(param("source", StringType), param("mirror", StringType),
            param("key_col", StringType)),
          StructType(Seq(
            StructField("mode", StringType, false),
            StructField("src_version", LongType, false),
            StructField("versions_applied", IntegerType, false)))) {
        override protected def run(args: InternalRow): Array[Any] = {
          // the mirror may not exist yet (bootstrap creates it) — but
          // its path still resolves strictly under the warehouse root
          val mirrorDir = pathOf(warehouse, args.getString(1))
          val r = Replication.sync(
            org.apache.spark.sql.SparkSession.active,
            dirOf(warehouse, args.getString(0)), mirrorDir,
            args.getString(2))
          Array(org.apache.spark.unsafe.types.UTF8String
            .fromString(r.mode), r.srcHead, r.versionsApplied)
        }
      }
      case other => throw new RuntimeException(
        s"[PROCEDURE_NOT_FOUND] unknown procedure $Namespace.$other; " +
          s"available: ${All.mkString(", ")}")
    }
  }
}
