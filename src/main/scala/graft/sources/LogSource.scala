package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{Map => JMap, UUID}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn,
  SupportsDelete, SupportsMetadataColumns, SupportsRead,
  SupportsRowLevelOperations, SupportsWrite, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution,
  Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  AggregateFunc, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  Statistics, SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownLimit, SupportsPushDownRequiredColumns,
  SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RequiresDistributionAndOrdering, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And,
  EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A minimal TRANSACTIONAL table format over a directory [EXT] — the
  * write half of the DSv2 story (`SeriesSource` is the read half), built
  * on the same commit protocol Delta/Iceberg industrialize:
  *
  *  - Each task's `DataWriter` streams rows to an uncommitted
  *    `part-<uuid>.gcol` file ([[GraftColFile]]: row-group blocks of
  *    per-column gzip chunks + a footer index — splittable, columnar,
  *    block-stats-indexed; the only part-file format read) and hands
  *    back the file name, its row count, its column list, and
  *    per-column stats as its commit message; a retried/aborted task
  *    deletes its file and its name never reaches the driver.
  *  - Visibility is ONLY through the log: each commit writes its
  *    entries (`add`, plus `remove` when a rewrite retires files) to
  *    the next `_commit.<v>` file, claimed with a hard-link CAS, and
  *    every [[GraftLog.CheckpointInterval]] commits a `_checkpoint.<v>`
  *    folds the live set. Readers replay the log, never list the
  *    directory — orphaned part files from failed jobs are invisible,
  *    which is exactly the atomicity contract a 100 TB pipeline needs
  *    from object storage (the link CAS → a metastore compare-and-swap
  *    in production).
  *  - The READ path uses the manifest stats the way Delta/Iceberg do:
  *    a scan with pushed comparison predicates skips every file whose
  *    [min, max] range can't satisfy them (planning-time file
  *    skipping), and `SupportsPushDownRequiredColumns` prunes the
  *    decoded columns to the projection, so `SELECT one_col WHERE
  *    selective` reads a fraction of the files and decompresses only
  *    the projected chunks of each. One reader,
  *    [[GraftLogReaderFactory]], serves every scan (batch and stream)
  *    as columnar batches. Pushed filters remain Spark-side residuals —
  *    file skipping is conservative, never row-exact.
  *  - `truncate()` (overwrite mode) commits ONE version that removes
  *    every file live at its parent and adds the new files; history
  *    before it stays time-travelable.
  *  - Row-level changes: DELETE and the API MERGE are merge-on-read
  *    (a deletion vector hides the matched rows; over a position cap
  *    the touched files are rewritten instead), SQL UPDATE and MERGE
  *    INTO rewrite their files copy-on-write. Every one of them, and
  *    every maintenance rewrite, publishes through one conflict-checked
  *    commit against the snapshot it read.
  *
  * Cells are canonical text (long/int/double/string columns; strings
  * must not contain tabs/newlines — a demo codec, not a production
  * one). Range stats cover the numeric columns; string columns prune
  * through per-file blooms.
  * The `t$suffix` metadata tables over this log (`t$files`, `t$stats`,
  * `t$history`, ...) are (schema, rows) pairs in `MetaTables.scala`,
  * listed at planning time and scanned as [[LocalRows]].
  * Usage: df.write.format("graft.sources.GraftLogSource")
  *   .option("path", dir).mode("append"|"overwrite").save()
  */
/** An optimistic rewrite lost its concurrency race: between planning
  * and publish, another commit touched a file the rewrite retires.
  * RETRYABLE — replan against the current snapshot and re-run; nothing
  * was committed and no orphan is left visible. (Delta's
  * ConcurrentModificationException family in miniature.) */
class GraftConcurrentModificationException(msg: String)
    extends RuntimeException(msg)

class GraftLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftLog.dirOf(options.get("path"))
    val f = new File(dir, GraftLog.SchemaFile)
    if (f.exists())
      DataType.fromJson(new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8)).asInstanceOf[StructType]
    else StructType(Nil) // write-side schema comes from the query
  }
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftLogTable(GraftLog.dirOf(properties.get("path")), schema,
      declaredPartitionCol =
        Option(properties.get("partitionCol")).filter(_.nonEmpty),
      typedCdf =
        Option(properties.get("readChangeFeed")).exists(_.toBoolean))
}

/** One log line. `action` is add/remove/cdc/dv/txn; `dataChange=false`
  * marks a compaction add (same rows, new layout) so the change data
  * feed skips it; `stats` maps numeric column name → (min, max) in the
  * cell encoding; `cols` is the file's OWN column list (its write
  * schema) — the per-file schema record that makes additive evolution,
  * renames and drops readable by name. Every `add` and `cdc` entry
  * carries one. `ts` is the commit wall-clock in epoch millis, stamped
  * at publish (strictly monotone per table — the axis `TIMESTAMP AS
  * OF` resolves against); -1 = not yet stamped.
  * Serialized as the 8 fields
  * `version\taction\tfile\trows\tdataChange\tcol=min,max;...\tc1,c2\tts`;
  * any other line shape, and an `add`/`cdc` line with no column
  * record, is rejected at parse. */
case class LogEntry(version: Long, action: String, file: String,
    rows: Long, dataChange: Boolean,
    stats: Map[String, (String, String)],
    cols: Seq[String] = Seq.empty,
    ts: Long = -1L) {
  def isAdd: Boolean = action == "add"
  def serialize: String = {
    val st = stats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"$c=$mn,$mx" }.mkString(";")
    s"$version\t$action\t$file\t$rows\t${if (dataChange) 1 else 0}\t$st" +
      s"\t${cols.mkString(",")}\t$ts"
  }
}

object LogEntry {
  def add(version: Long, file: String, rows: Long,
      stats: Map[String, (String, String)],
      dataChange: Boolean = true,
      cols: Seq[String]): LogEntry =
    LogEntry(version, "add", file, rows, dataChange, stats, cols)
  def remove(version: Long, file: String): LogEntry =
    LogEntry(version, "remove", file, -1L, dataChange = false, Map.empty)

  /** Deletion-vector (re)assignment for a live part file (Delta DV /
    * Iceberg position-delete shape): the log replay annotates the
    * file's current `add` with the descriptor instead of replacing it.
    * `descriptor` = (dv file name, deleted-position count); None
    * clears. `dataChange=false`: same layout, fewer visible rows —
    * the append-only change feed cannot express row deletes (the
    * documented CDF limit, as before). */
  def dv(version: Long, file: String,
      descriptor: Option[(String, Long)]): LogEntry =
    LogEntry(version, "dv", file,
      descriptor.map(_._2).getOrElse(0L), dataChange = false,
      Map(GraftLog.DvKey -> (descriptor.map(_._1).getOrElse(""),
        descriptor.map(_._2.toString).getOrElse("0"))))

  /** Application transaction marker (Delta's `SetTransaction` /
    * `txn` action): records that writer `appId` has applied its work
    * through SOURCE version `txnVersion`, in the SAME commit as the
    * data it wrote — which is what makes an incremental consumer
    * (streaming sink, materialized-view refresh) exactly-once across
    * crashes: a retry reads the marker back and skips the span it
    * already applied, because marker and data became visible
    * atomically. Keyed as `txn:<appId>` so log replay's
    * latest-action-per-key rule keeps exactly the newest marker per
    * writer and can never collide with a part-file name; snapshot
    * planning and the change feed ignore the action (not an add),
    * while checkpoints carry the latest marker forward so it
    * survives log expiration. */
  def txn(version: Long, appId: String, txnVersion: Long): LogEntry =
    LogEntry(version, "txn", s"txn:$appId", txnVersion,
      dataChange = false, Map.empty)

  def parse(line: String): LogEntry = {
    def parseStats(st: String): Map[String, (String, String)] =
      st.split(";").filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        val Array(mn, mx) = kv.substring(eq + 1).split(",", 2)
        kv.substring(0, eq) -> (mn, mx)
      }.toMap
    line.split("\t", -1) match {
      case Array(v, act, f, rows, dc, st, cs, ts) =>
        val cols = cs.split(",").filter(_.nonEmpty).toSeq
        require(cols.nonEmpty || (act != "add" && act != "cdc"),
          s"graft-log $act entry carries no column record: $line")
        LogEntry(v.toLong, act, f, rows.toLong, dc == "1", parseStats(st),
          cols, ts.toLong)
      case _ => throw new IllegalArgumentException(
        s"unparseable graft-log manifest line: $line")
    }
  }
}

object GraftLog {
  val SchemaFile = "_schema"
  val PartitionFile = "_partition"

  /** Temp-file + atomic-rename publish for every metadata file (schema,
    * partition declaration, constraints, views) — the same contract the
    * manifest swap honors: a crash mid-write can never leave a
    * truncated metadata file that later fails to parse or silently
    * drops state. */
  def atomicWrite(path: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp.${UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Identity partition column of the table, if declared (via
    * `CREATE TABLE ... PARTITIONED BY (col)` or
    * `option("partitionCol", col)` on the first write). */
  def partitionColOf(dir: String): Option[String] = {
    val f = new File(dir, PartitionFile)
    if (!f.exists()) None
    else Some(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
  }

  val ConstraintsFile = "_constraints"

  /** Stored CHECK constraints: (name, predicate SQL), one per line as
    * `name=base64(sql)`. Reported through `Table.constraints()`, which
    * is what makes Spark's own write path ENFORCE them — every INSERT
    * / UPDATE / MERGE write plan gains a violation check, the Delta
    * CHECK-constraint contract with the engine doing the work. */
  def constraintsOf(dir: String): Seq[(String, String)] = {
    val f = new File(dir, ConstraintsFile)
    if (!f.exists()) Seq.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> new String(
          java.util.Base64.getDecoder.decode(l.substring(i + 1)),
          StandardCharsets.UTF_8)
      }.toSeq
  }

  private def writeConstraints(dir: String,
      cs: Seq[(String, String)]): Unit = {
    ensureDir(dir)
    atomicWrite(Paths.get(dir, ConstraintsFile),
      cs.map { case (n, sql) =>
        s"$n=${java.util.Base64.getEncoder.encodeToString(
          sql.getBytes(StandardCharsets.UTF_8))}"
      }.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  def addConstraint(dir: String, name: String, sql: String): Unit =
    synchronized {
      require(!constraintsOf(dir).exists(_._1 == name),
        s"constraint $name already exists on $dir")
      writeConstraints(dir, constraintsOf(dir) :+ (name -> sql))
    }

  def dropConstraint(dir: String, name: String,
      ifExists: Boolean): Unit = synchronized {
    val cs = constraintsOf(dir)
    require(ifExists || cs.exists(_._1 == name),
      s"no constraint $name on $dir")
    writeConstraints(dir, cs.filterNot(_._1 == name))
  }

  /** `allowChange` = an overwrite (truncate) or a partition evolution:
    * every live file is replaced, so redeclaring a different partition
    * column is legal — an APPEND to an already-partitioned table must
    * keep the layout. Older versions keep their files, whose partition
    * records name the old column; scans of them fall back to ungrouped
    * reads (see `GraftLogScan.groups`). */
  def setPartitionCol(dir: String, col: String,
      allowChange: Boolean = false): Unit = {
    ensureDir(dir)
    val existing = partitionColOf(dir)
    require(allowChange || existing.forall(_ == col),
      s"table at $dir is already partitioned by ${existing.get}, " +
        s"cannot repartition by $col (overwrite the table to relayout)")
    atomicWrite(Paths.get(dir, PartitionFile),
      col.getBytes(StandardCharsets.UTF_8))
  }

  /** Cell encoding of SQL NULL — a control char no demo string
    * carries (the codec already bans tabs/newlines in strings). */
  val NullCell = "\u0000"

  /** The stored table schema, if the table exists. */
  def storedSchema(dir: String): Option[StructType] = {
    val f = new File(dir, SchemaFile)
    if (!f.exists()) None
    else Some(DataType.fromJson(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8)).asInstanceOf[StructType])
  }

  /** Additive schema evolution (Delta `mergeSchema` in miniature):
    * existing columns keep their position and type — changing a
    * column's type is rejected loudly — and incoming columns not yet in
    * the table append AT THE END as nullable (rows in pre-evolution
    * files read NULL for them). An existing column absent from the
    * incoming write also flips nullable, since the new file's rows have
    * no value for it. Name-keyed, order-insensitive on the incoming
    * side; the table's column order only ever grows at the tail, so
    * positional appends from existing writers keep working. */
  def mergeSchemas(existing: StructType, incoming: StructType): StructType = {
    val incomingByName = incoming.fields.map(f => f.name -> f).toMap
    existing.fields.foreach { ef =>
      incomingByName.get(ef.name).foreach { inf =>
        // an incoming NARROWER type is admitted after a widening
        // ALTER: the merge keeps the stored (wider) type and Spark's
        // store-assignment cast lifts the frame to it
        require(inf.dataType == ef.dataType ||
            SafeWidenings.contains(inf.dataType -> ef.dataType),
          s"graft-log schema evolution cannot change column '${ef.name}' " +
            s"from ${ef.dataType.simpleString} to ${inf.dataType.simpleString}")
      }
    }
    val existingNames = existing.fieldNames.toSet
    val kept = existing.fields.map(f =>
      if (incomingByName.contains(f.name)) f else f.copy(nullable = true))
    val added = incoming.fields.filter(f => !existingNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  // ---- column rename / drop (Delta column-mapping 'name' mode in
  // miniature) ------------------------------------------------------
  /** Field-metadata key listing the names this column was previously
    * written under, newest first. Part files are name-keyed, so
    * RENAME COLUMN is metadata-only: the trail recorded here lets
    * readers, stats skipping, and compaction resolve each file's
    * LOCAL name for the column — no data rewrite, and files written
    * after the rename carry the new name natively. */
  val FormerlyKey = "graft.formerly"
  /** Table property tombstoning every name DROP COLUMN retired
    * (including the dropped column's former names). A name-keyed
    * format can never re-admit such a name: old part files still
    * carry cells under it, and a re-added column would silently
    * resurrect their stale values — the exact hazard Iceberg's field
    * ids and Delta's physical names exist to prevent. Rejecting reuse
    * keeps name-keying sound without per-file id maps. */
  val DroppedColsProp = "graft.cols.dropped"

  /** The names this schema field was previously written under. */
  def formerNames(f: StructField): Seq[String] =
    if (f.metadata.contains(FormerlyKey))
      f.metadata.getStringArray(FormerlyKey).toSeq
    else Seq.empty

  /** Every name no NEW column may take: the former names of live
    * columns (their cells still exist in old files) and every
    * tombstoned dropped name. */
  def reservedNames(dir: String, schema: StructType): Set[String] =
    schema.fields.flatMap(formerNames).toSet ++ droppedNames(dir)

  /** Tombstoned names of DROPPED columns alone (no live trails). */
  def droppedNames(dir: String): Set[String] =
    propertiesOf(dir).get(DroppedColsProp)
      .map(_.split(",").filter(_.nonEmpty)
        .map(decodeColName).toSet)
      .getOrElse(Set.empty)

  // Tombstoned names travel through a comma-joined property value, so
  // each name is URL-encoded first — a (backtick-quoted) column name
  // containing a comma must not split into bogus entries and lose its
  // own reservation.
  private def encodeColName(n: String): String =
    java.net.URLEncoder.encode(n, "UTF-8")
  private def decodeColName(n: String): String =
    java.net.URLDecoder.decode(n, "UTF-8")

  /** Additive evolution must never claim a RESERVED name — the former
    * name of a renamed live column, or a dropped column's tombstone:
    * old files still carry cells under it, and a new column taking
    * the name would silently resurrect their stale values. Called by
    * every write path that merges an incoming schema, an overwrite
    * included: the versions below it still hold the old files. */
  def requireNoReservedAdds(dir: String, merged: StructType): Unit =
    storedSchema(dir).foreach { stored =>
      val fresh = merged.fieldNames.toSet -- stored.fieldNames.toSet
      if (fresh.nonEmpty) {
        val hit = fresh.intersect(reservedNames(dir, stored))
        require(hit.isEmpty,
          s"cannot add column(s) ${hit.mkString(", ")} at $dir: the " +
            "name was previously used by a renamed or dropped " +
            "column (old files still carry cells under it) — pick " +
            "a different name")
      }
    }

  /** The name under which the part file behind `e` wrote schema
    * column `name` — `name` itself unless the file predates a rename,
    * in which case the column's recorded former name that appears in
    * the file's own column list applies. */
  def fileLocalName(schema: StructType, e: LogEntry,
      name: String): String =
    if (e.cols.contains(name)) name
    else schema.fields.find(_.name == name)
      .flatMap(f => formerNames(f).find(e.cols.contains))
      .getOrElse(name)

  /** Shared guard for rename/drop: the column must not anchor the
    * table's identity partitioning (per-file partition-value records
    * and layout grouping are keyed by it) and must not be referenced
    * by a CHECK constraint (its stored SQL would silently stop
    * resolving). */
  private def requireUnanchored(dir: String, name: String,
      op: String): Unit = {
    require(!partitionColOf(dir).contains(name),
      s"cannot $op column '$name': it is the table's partition " +
        "column")
    // backtick is NOT excluded: a constraint may reference the column
    // as `name`, and the quoted form must trip the guard too
    val word = ("""(?i)(?<!\w)""" +
      java.util.regex.Pattern.quote(name) + """(?!\w)""").r
    constraintsOf(dir).foreach { case (cn, sql) =>
      require(word.findFirstIn(sql).isEmpty,
        s"cannot $op column '$name': CHECK constraint $cn " +
          s"references it ($sql) — drop the constraint first")
    }
  }

  /** RENAME COLUMN from → to: metadata-only (no part file changes).
    * The new field keeps its type, nullability, and metadata, and
    * records `from` at the head of its former-name trail so every
    * pre-rename file keeps serving its data. */
  def renameColumn(dir: String, from: String, to: String): Unit =
    synchronized {
      val schema = storedSchema(dir).getOrElse(
        throw new IllegalArgumentException(s"no graft-log table at $dir"))
      val f = schema.fields.find(_.name == from).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$from' at $dir"))
      require(!schema.fieldNames.contains(to),
        s"cannot rename '$from' to '$to': column already exists")
      // reserved by OTHERS only: renaming a column BACK to its own
      // former name is safe — the old cells under that name belong to
      // this very column, and the trail resolves every vintage
      val byOthers = schema.fields.filterNot(_.name == from)
        .flatMap(formerNames).toSet ++ droppedNames(dir)
      require(!byOthers.contains(to),
        s"cannot rename '$from' to '$to': the name was previously " +
          "used by another column (old files still carry cells " +
          "under it)")
      requireUnanchored(dir, from, "rename")
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putStringArray(FormerlyKey,
          (from +: formerNames(f)).toArray)
        .build()
      val updated = StructType(schema.fields.map(x =>
        if (x.name == from) x.copy(name = to, metadata = meta) else x))
      atomicWrite(Paths.get(dir, SchemaFile),
        updated.json.getBytes(StandardCharsets.UTF_8))
    }

  /** Safe type WIDENINGS (the Delta 4.0 type-widening feature, free
    * here by construction): part-file cells are decimal text, so a
    * reader decoding them at the wider type is exact — no rewrite, no
    * per-file conversion. Long→Double is deliberately absent: longs
    * beyond 2^53 would silently lose precision through the double
    * parse. */
  val SafeWidenings: Set[(DataType, DataType)] =
    Set(IntegerType -> LongType, IntegerType -> DoubleType)

  /** ALTER COLUMN type widening: metadata-only — the stored schema
    * re-types the field and every file (old and new) keeps decoding
    * exactly, because the on-disk cells are text. Narrowings and
    * lossy changes reject loudly. */
  def widenColumn(dir: String, name: String, to: DataType): Unit =
    synchronized {
      val schema = storedSchema(dir).getOrElse(
        throw new IllegalArgumentException(s"no graft-log table at $dir"))
      val f = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column '$name' at $dir"))
      if (f.dataType == to) return
      require(SafeWidenings.contains(f.dataType -> to),
        s"cannot change column '$name' from " +
          s"${f.dataType.simpleString} to ${to.simpleString}: only " +
          "lossless widenings (" + SafeWidenings.map { case (a, b) =>
            s"${a.simpleString}->${b.simpleString}" }.mkString(", ") +
          ") are metadata-safe on the text encoding")
      require(!partitionColOf(dir).contains(name),
        s"cannot widen column '$name': it is the table's partition " +
          "column (per-file partition-value records are typed)")
      val updated = StructType(schema.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x))
      atomicWrite(Paths.get(dir, SchemaFile),
        updated.json.getBytes(StandardCharsets.UTF_8))
    }

  /** DROP COLUMN: metadata-only — the stored schema narrows, old
    * files keep their (now invisible) cells, and the name plus its
    * former-name trail tombstone so no later column can claim the
    * orphaned cells. Every file is read by name through its own
    * column record, so narrowing shifts no other column's cells.
    * Reads — time travel included — always resolve against the
    * CURRENT schema, so a dropped column is invisible in historical
    * snapshots too (the single-schema contract; Iceberg keeps
    * per-snapshot schemas and shows the old column there). */
  def dropColumn(dir: String, name: String): Unit = synchronized {
    val schema = storedSchema(dir).getOrElse(
      throw new IllegalArgumentException(s"no graft-log table at $dir"))
    val f = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' at $dir"))
    require(schema.fields.length > 1,
      s"cannot drop '$name': it is the table's only column")
    requireUnanchored(dir, name, "drop")
    val updated = StructType(schema.fields.filterNot(_.name == name))
    val dead = (name +: formerNames(f)).map(encodeColName) ++
      propertiesOf(dir).get(DroppedColsProp).toSeq
        .flatMap(_.split(",").filter(_.nonEmpty))
    setProperties(dir,
      Map(DroppedColsProp -> dead.distinct.mkString(",")))
    atomicWrite(Paths.get(dir, SchemaFile),
      updated.json.getBytes(StandardCharsets.UTF_8))
  }

  /** Default vacuum retention: part files younger than this are never
    * deleted, so an in-flight concurrent writer's uncommitted parts
    * survive until its commit publishes them (the Delta/Iceberg
    * retention-horizon guard; an orphan from a genuinely failed job is
    * reclaimed by the next vacuum after the horizon passes). */
  val DefaultVacuumRetentionMs: Long = 10L * 60 * 1000

  /** Cap on the driver-side distinct-key probe set a string-keyed
    * MERGE builds for bloom file-targeting — beyond it, the batch
    * rewrites conservatively (it would admit most files anyway). */
  val MaxMergeProbeKeys = 10000

  // ---- deletion vectors (merge-on-read DELETE) ---------------------
  /** Reserved stats key carrying a live add's deletion-vector
    * descriptor: (dv file name, deleted-position count). Snapshot
    * replay bakes it into the add entry, so checkpoints persist DV
    * state for free and every reader sees it on the entry it plans. */
  val DvKey = "__dv"

  /** Session conf as a byte count, parsed with Spark's own byte-string
    * parser — '128MB', '64k', and plain digits are all valid, exactly
    * like `spark.sql.files.maxPartitionBytes` itself (a naive digit
    * strip would read '128MB' as 128 BYTES and plan millions of
    * splits). Falls back to `default` when no active session, unset,
    * or unparseable. Driver-side only. */
  def byteConf(key: String, default: => Long): Long =
    scala.util.Try(org.apache.spark.sql.SparkSession.active).toOption
      .flatMap(s => Option(s.conf.get(key, null)))
      .flatMap(v => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
        .toOption)
      .filter(_ > 0L)
      .getOrElse(default)

  /** Reserved stats key carrying the part file's exact UNCOMPRESSED
    * payload size (raw cell characters), stamped by the gcol writer —
    * the scan's CBO `sizeInBytes` reads it instead of guessing
    * on-disk × expansion, so auto-broadcast decisions near the
    * threshold are made on real numbers. Not a column stat (column
    * keys are `col#suffix`; this is file-level). */
  val RawBytesKey = "#raw"

  /** The entry's DV descriptor, if one is assigned (empty name =
    * cleared). */
  def dvOf(e: LogEntry): Option[(String, Long)] =
    e.stats.get(DvKey).filter(_._1.nonEmpty)
      .map { case (f, c) => (f, c.toLong) }

  /** Visible rows of a live entry: physical rows minus DV'd positions
    * (unknown counts stay unknown). */
  def effectiveRows(e: LogEntry): Long =
    if (e.rows < 0L) e.rows else e.rows - dvOf(e).map(_._2).getOrElse(0L)

  /** Cap on the driver-held position set a merge-on-read DELETE may
    * accumulate per call — beyond it the delete falls back to the
    * copy-on-write rewrite (a bigger delete rewrites less than it
    * would spend on oversized DVs; Delta bounds DV growth the same
    * way before compacting them away). */
  val MaxDvPositions = 100000

  /** Writer identity the streaming sink's epoch markers commit under
    * — epoch ids are monotone per query, so applied-through IS the
    * newest epoch. */
  val EpochAppId = "graft-epoch"

  /** Epoch-idempotent publish for streaming: a replayed micro-batch
    * (restart re-running an already-committed epoch) is a no-op, which
    * upgrades the sink to exactly-once under Structured Streaming's
    * epoch-replay recovery contract. The epoch id rides the commit as
    * a [[LogEntry.txn]] marker — data and idempotence record become
    * visible ATOMICALLY, so no crash window between a commit and a
    * separate post-commit ledger write can exist. */
  def publishEpoch(dir: String, epochId: Long, files: Seq[GraftLogCommit],
      schema: StructType): Unit = synchronized {
    val seen = lastTxnVersion(dir, EpochAppId) >= epochId
    if (!seen && files.nonEmpty) {
      val merged =
        storedSchema(dir).map(mergeSchemas(_, schema)).getOrElse(schema)
      requireNoReservedAdds(dir, merged)
      commitNew(dir, merged)(v =>
        files.map(c => LogEntry.add(v, c.file, c.rows, c.stats,
          cols = c.cols)) :+ LogEntry.txn(v, EpochAppId, epochId))
    }
    // an EMPTY epoch needs no record: its replay is empty too
  }

  /** Path validation only — no side effects. A READ of a mistyped or
    * nonexistent table path must fail (or see an empty manifest), not
    * silently create the directory; writers create it via [[ensureDir]]
    * at part-file open and at publish. */
  def dirOf(path: String): String = {
    require(path != null && path.nonEmpty,
      "graft-log requires option(\"path\", dir)")
    path
  }

  def ensureDir(dir: String): String = { new File(dir).mkdirs(); dir }

  // ---- log storage: commit files + checkpoints ---------------------
  // The metadata plane is a sequence of per-version COMMIT files plus
  // periodic reconciled CHECKPOINTS — the Delta/Iceberg shape:
  //
  //   _commit.<v>      that version's entries, one file per commit.
  //                    CLAIMED with a hard-link CAS — link(2) fails
  //                    EEXIST atomically, so of two PROCESSES racing
  //                    version v exactly one wins and the loser
  //                    retries at v+1; no commit can silently drop
  //                    another (optimistic concurrency without
  //                    conflict validation, the early-Delta level; a
  //                    production deployment swaps the link CAS for a
  //                    metastore compare-and-swap).
  //   _checkpoint.<v>  the reconciled live `add` set as of v, written
  //                    every [[CheckpointInterval]] commits (header
  //                    line carries the running max commit stamp).
  //                    Snapshot planning reads O(live + tail): the
  //                    newest checkpoint at-or-below the target
  //                    version plus the ≤interval commits after it —
  //                    never the full history. Checkpoints are KEPT,
  //                    so time travel to ANY version is also
  //                    O(live + interval).

  val CommitPrefix = "_commit."
  val CheckpointPrefix = "_checkpoint."

  /** Commits between reconciled checkpoints (Delta checkpoints every
    * 10 commits for the same reason: bound the replay tail). */
  val CheckpointInterval = 10

  private def versionedName(prefix: String, v: Long): String =
    f"$prefix$v%020d"

  /** (version, file) pairs for a metadata prefix, version-ascending.
    * Listing only — no file content is read here, which is what keeps
    * [[currentVersion]] an O(1)-reads operation. */
  private def listVersioned(dir: String,
      prefix: String): Seq[(Long, File)] =
    versioned(listDir(dir), prefix)

  private def listDir(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq

  private def versioned(files: Seq[File],
      prefix: String): Seq[(Long, File)] =
    files.filter(f => f.getName.startsWith(prefix) &&
        !f.getName.contains(".tmp."))
      .map(f => f.getName.substring(prefix.length).toLong -> f)
      .sortBy(_._1)

  /** A table's commit and checkpoint files from ONE directory listing,
    * each version-ascending. */
  private case class LogListing(commits: Seq[(Long, File)],
      checkpoints: Seq[(Long, File)]) {
    /** See [[oldestReplayableVersion]]. */
    def oldestReplayable: Long =
      (commits ++ checkpoints).map(_._1).minOption.getOrElse(-1L)
  }

  /** The flat `_manifest` file of the pre-commit-file layout is no
    * longer read. A table that still has one fails here, on every
    * snapshot and history read, instead of reading as empty — an empty
    * history would also leave vacuum with no referenced part files. */
  private def listLog(dir: String): LogListing = {
    val files = listDir(dir)
    require(!files.exists(_.getName == "_manifest"),
      s"${new File(dir, "_manifest")}: graft-log no longer reads the " +
        "flat-manifest table layout")
    LogListing(versioned(files, CommitPrefix),
      versioned(files, CheckpointPrefix))
  }

  private def readEntryLines(f: File): Seq[LogEntry] =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(LogEntry.parse).toSeq

  /** Commit files of the versions in (fromVersion, toVersion], in
    * version order — the O(span) walk every change-feed reader shares
    * (listing only; [[entriesBetween]] reads them). */
  private def commitsBetween(dir: String, fromVersion: Long,
      toVersion: Long): Seq[(Long, File)] =
    listVersioned(dir, CommitPrefix)
      .filter { case (v, _) => v > fromVersion && v <= toVersion }

  private def entriesBetween(dir: String, fromVersion: Long,
      toVersion: Long): Seq[LogEntry] =
    commitsBetween(dir, fromVersion, toVersion)
      .flatMap { case (_, f) => readEntryLines(f) }

  private case class Checkpoint(version: Long, maxTs: Long,
      live: Seq[LogEntry])

  private def readCheckpoint(v: Long, f: File): Checkpoint = {
    val text = new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8)
    val lines = text.linesIterator.toSeq
    // header: `#checkpoint v=<v> maxTs=<t>` — maxTs is the max commit
    // stamp across ALL history at-or-below v (including entries the
    // reconciliation dropped): the clamp base that keeps the
    // version→timestamp map strictly monotone across checkpoints
    val maxTs = lines.headOption.filter(_.startsWith("#checkpoint"))
      .flatMap(_.split("maxTs=").lift(1)).map(_.trim.toLong)
      .getOrElse(-1L)
    Checkpoint(v, maxTs,
      lines.filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(LogEntry.parse))
  }

  /** FULL history (every add and remove, oldest version first) — the
    * introspection path: `t$files`, `t$history`, TIMESTAMP-AS-OF
    * resolution, vacuum's referenced set. Snapshot PLANNING never
    * calls this; it goes through [[snapshotAsOf]]'s checkpoint+tail
    * read. */
  def entries(dir: String): Seq[LogEntry] =
    listLog(dir).commits.flatMap { case (_, f) => readEntryLines(f) }

  /** Live data files at the current version (removes applied). */
  def committedFiles(dir: String): Seq[String] =
    entriesAsOf(dir, Long.MaxValue).map(_.file)

  /** A snapshot plan plus its read provenance — which checkpoint
    * seeded it and how many commit files were parsed. GraftLogSpec
    * asserts planning stays O(live + tail) once checkpoints exist,
    * whatever the table's commit count. */
  case class SnapshotPlan(entries: Seq[LogEntry],
      checkpointVersion: Option[Long], segmentsRead: Int,
      txns: Seq[LogEntry] = Seq.empty)

  /** Live `add` entries visible at `version`: seed from the newest
    * checkpoint at-or-below it, then replay the commit tail in version
    * order with the LATEST action per file winning — a compaction's
    * remove retires a file from newer snapshots (older ones keep
    * seeing it), and a later re-add (RESTORE) resurrects it. The
    * Delta/Iceberg reconciliation rule; a remove-is-forever shortcut
    * would silently empty a restored snapshot. */
  /** Replay one entry into the latest-action-per-file map. A `dv`
    * entry never replaces the file's add — it re-annotates the live
    * add's [[DvKey]] descriptor (or clears it), and is ignored for a
    * file that is not currently live. A fresh add naturally resets DV
    * state (its stats carry no [[DvKey]]). */
  private def applyEntry(
      latest: scala.collection.mutable.LinkedHashMap[String, LogEntry],
      e: LogEntry): Unit =
    if (e.action == "dv")
      latest.get(e.file).filter(_.isAdd).foreach { add =>
        val base = add.stats - DvKey
        latest(e.file) = dvOf(e) match {
          case Some((f, c)) =>
            add.copy(stats = base + (DvKey -> (f, c.toString)))
          case None => add.copy(stats = base)
        }
      }
    else latest(e.file) = e

  def snapshotAsOf(dir: String, version: Long): SnapshotPlan = {
    // Horizon guard: replaying a version below everything the
    // retained log covers (history expired by [[expireLog]]) must
    // fail loudly, not return a silently empty snapshot.
    val log = listLog(dir)
    val oldest = log.oldestReplayable
    if (oldest > 0L && version < oldest)
      throw new IllegalArgumentException(
        s"version $version of $dir predates the retained log " +
          s"(oldest replayable: $oldest — history was expired)")
    val ckpt = log.checkpoints.filter(_._1 <= version).lastOption
      .map { case (v, f) => readCheckpoint(v, f) }
    val latest =
      scala.collection.mutable.LinkedHashMap.empty[String, LogEntry]
    ckpt.foreach(_.live.foreach(e => latest(e.file) = e))
    val floor = ckpt.map(_.version).getOrElse(-1L)
    val tail = log.commits.filter { case (v, _) => v > floor && v <= version }
    tail.foreach { case (_, f) =>
      readEntryLines(f).foreach(e => applyEntry(latest, e))
    }
    SnapshotPlan(latest.valuesIterator.filter(_.isAdd).toSeq,
      ckpt.map(_.version), tail.size,
      txns = latest.valuesIterator.filter(_.action == "txn").toSeq)
  }

  /** Highest source version writer `appId` has recorded as applied to
    * this table (via [[LogEntry.txn]] markers), or -1 if it never
    * wrote one. O(live + tail) — the marker rides the same
    * checkpoint+tail replay as snapshot planning, so the idempotence
    * check an incremental refresh runs before doing any work costs a
    * metadata read, never a scan. */
  def lastTxnVersion(dir: String, appId: String): Long =
    snapshotAsOf(dir, Long.MaxValue).txns
      .filter(_.file == s"txn:$appId").map(_.rows).maxOption
      .getOrElse(-1L)

  /** Marker-only commit: record `appId`-applied-through-`txnVersion`
    * with no data change (the bootstrap stamp — incremental refreshes
    * instead attach the marker to their merge commit so marker and
    * data land atomically). */
  def commitTxn(dir: String, appId: String, txnVersion: Long): Long = {
    val schema = storedSchema(dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-log table not found at $dir"))
    commitNew(dir, schema)(v => Seq(LogEntry.txn(v, appId, txnVersion)))
  }

  /** Every part file ANY log structure references: full mainline
    * history (a removed file still serves older snapshots), checkpoint
    * live sets (after [[expireLog]] they may be the ONLY reference),
    * branch commits, staged audits. The abort paths delete only files
    * NOT in this set — Spark calls `BatchWrite.abort` when `commit()`
    * throws, and a commit can throw AFTER its hard-link CAS has
    * already published the version (tmp delete, checkpoint I/O; found
    * by the r15 kill-window torture), so an unconditional delete of
    * the "aborted" files would tear a committed snapshot. */
  def referencedFiles(dir: String): Set[String] = {
    val sideEntries = Option(new File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => !f.getName.contains(".tmp.") &&
        (f.getName.startsWith("_branch.") ||
          f.getName.startsWith(CheckpointPrefix)))
      .flatMap(readEntryLines).toSeq
    val staged = listStagedIds(dir).flatMap(stagedEntries(dir, _))
    (entries(dir) ++ sideEntries ++ staged).map(_.file).toSet
  }

  def entriesAsOf(dir: String, version: Long): Seq[LogEntry] =
    snapshotAsOf(dir, version).entries

  /** Change data feed on an append-only table: the data-changing files
    * committed AFTER `fromVersion` (exclusive) up to `toVersion`
    * (inclusive) ARE the delta — an incremental consumer reads exactly
    * the new rows, never rescanning history. Only the commit files in
    * the span are opened (O(span), not O(history) — what keeps a
    * streaming source's per-batch planning bounded by the append
    * rate). Compaction adds carry dataChange=false and are excluded
    * (same rows, new layout), so a feed spanning a compaction never
    * double-counts. */
  def changedEntriesBetween(dir: String, fromVersion: Long,
      toVersion: Long): Seq[LogEntry] =
    entriesBetween(dir, fromVersion, toVersion)
      .filter(e => e.isAdd && e.dataChange)

  /** Parse a manifest stat pair, None when absent OR unparseable
    * (NaN/Infinity stats from a frozen writer compare) — consumers
    * degrade to may-match / conservative-include instead of crashing
    * planning with a NumberFormatException. */
  def decStat(e: LogEntry, col: String): Option[(java.math.BigDecimal,
      java.math.BigDecimal)] =
    e.stats.get(col).flatMap { case (mn, mx) =>
      try Some((new java.math.BigDecimal(mn),
        new java.math.BigDecimal(mx)))
      catch { case _: NumberFormatException => None }
    }

  /** Loud guard for incremental consumers: a change span starting
    * below the retained horizon cannot be reconstructed (expire-log
    * deleted those commit files; their changes survive only folded
    * into a checkpoint) — failing beats silently serving the tail. */
  def requireSpanReplayable(dir: String, fromVersion: Long): Unit = {
    val h = oldestReplayableVersion(dir)
    require(h <= 0L || fromVersion >= h,
      s"change span from version $fromVersion at $dir is below the " +
        s"retained horizon $h (history expired) — re-bootstrap the " +
        "consumer from a snapshot instead")
  }

  /** TRUE when (fromVersion, toVersion] contains a change an
    * insert-only consumer cannot replay from the add feed: a
    * row-level rewrite (removes paired with dataChange adds), a
    * metadata-only delete (removes with no adds), an overwrite
    * (removes of every live file plus the new adds), a RESTORE
    * (dataChange re-adds), or a deletion-vector assignment. Pure
    * layout rewrites (compaction, z-order: removes paired with ONLY
    * dataChange=false adds) stay replayable — they change no visible
    * rows. O(span) commit-file walk. */
  def spanHasNonAppendChanges(dir: String, fromVersion: Long,
      toVersion: Long): Boolean =
    unreplayableVersions(dir, fromVersion, toVersion, typed = false)
      .nonEmpty

  /** The versions in (fromVersion, toVersion] a change-feed consumer
    * cannot replay, ascending: every version whose changes go beyond
    * appends for the add feed; for the typed feed (`typed`), only those
    * that also published no CDC sidecars. */
  def unreplayableVersions(dir: String, fromVersion: Long,
      toVersion: Long, typed: Boolean): Seq[Long] =
    entriesBetween(dir, fromVersion, toVersion).groupBy(_.version)
      .collect { case (v, es) if changesBeyondAppends(es) &&
          !(typed && es.exists(_.action == "cdc")) => v }
      .toSeq.sorted

  /** The rule behind [[unreplayableVersions]] for ONE version's
    * entries: removes paired with dataChange adds or with no adds at
    * all, or any deletion-vector action. */
  private def changesBeyondAppends(es: Seq[LogEntry]): Boolean = {
    val removes = es.exists(_.action == "remove")
    // ANY dv action counts — a CLEARING dv (restore resurrecting
    // DV'd rows) changes visible rows just like an assignment
    val dvTouched = es.exists(_.action == "dv")
    val dataAdds = es.exists(e => e.isAdd && e.dataChange)
    dvTouched || (removes && (dataAdds || !es.exists(_.isAdd)))
  }

  /** TRUE when version `v` changed visible rows beyond appends
    * WITHOUT publishing CDC sidecars — the one span shape the typed
    * feed cannot express exactly (an overwrite, or Spark's SQL
    * UPDATE/MERGE replace-data plan on a CDF-enabled table): its adds
    * would re-deliver carried rows as inserts. A typed consumer must
    * re-seed from the snapshot at `v` instead. */
  def versionLacksCdcCoverage(dir: String, v: Long): Boolean =
    unreplayableVersions(dir, v - 1, v, typed = true).nonEmpty

  /** Typed change feed: the TSV column carrying each CDC row's change
    * kind (insert | update_preimage | update_postimage | delete). */
  val ChangeTypeCol = "_change_type"
  /** CDC sidecar file prefix — distinct from `part-` so snapshot
    * scans, vacuum reference rules, and compaction never confuse the
    * two populations. */
  val CdcPrefix = "cdc-"
  /** Typed CDC is opt-in per table (Delta's
    * `delta.enableChangeDataFeed`): row-level writers pay the sidecar
    * cost only where a consumer wants typed changes. */
  def cdfEnabled(dir: String): Boolean =
    propertiesOf(dir).get("graft.cdf.enabled").contains("true")

  /** Per-version typed change plan for (fromVersion, toVersion]: a
    * version that committed CDC sidecars is represented by THOSE
    * (they carry exact per-row change types, including deletes and
    * update pre/post images the append-only feed cannot express); a
    * version without sidecars contributes its dataChange adds, which
    * are pure inserts by construction (appends and streaming epochs
    * never touch existing rows). Same O(span) commit-file walk as
    * [[changedEntriesBetween]]. */
  def typedChangedEntriesBetween(dir: String, fromVersion: Long,
      toVersion: Long): Seq[LogEntry] =
    entriesBetween(dir, fromVersion, toVersion).groupBy(_.version).toSeq
      .sortBy(_._1).flatMap { case (_, es) =>
        val cdc = es.filter(_.action == "cdc")
        if (cdc.nonEmpty) cdc
        else es.filter(e => e.isAdd && e.dataChange)
      }

  /** Typed change feed as a DataFrame: the table schema plus
    * [[ChangeTypeCol]] ∈ insert | update_preimage | update_postimage
    * | delete, for versions in (fromVersion, head]. Rows from
    * versions without CDC sidecars are pure inserts by construction
    * (appends, streaming epochs); their NULL change type coalesces
    * here. Covers the API row-level ops and SQL DELETE on tables with
    * `graft.cdf.enabled=true`; SQL UPDATE/MERGE ride Spark's
    * row-level-operation replace-data path, which does not emit
    * sidecars (documented limit — their rewrites surface as the
    * append-only feed always did). */
  def typedChanges(spark: org.apache.spark.sql.SparkSession,
      dir: String, fromVersion: Long,
      toVersion: Long = Long.MaxValue): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format("graft.sources.GraftLogSource")
      .options(typedFeedOptions(dir, fromVersion))
    coalesceInserts((if (toVersion == Long.MaxValue) r
     else r.option("asOfVersion", toVersion.toString)).load())
  }

  /** Shared option set + null-coalesce for the typed feed's batch and
    * streaming faces — one contract, two delivery mechanisms. */
  private def typedFeedOptions(dir: String,
      fromVersion: Long): Map[String, String] =
    Map("path" -> dir, "changesFromVersion" -> fromVersion.toString,
      "readChangeFeed" -> "true")
  private def coalesceInserts(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    df.withColumn(ChangeTypeCol,
      coalesce(col(ChangeTypeCol), lit("insert")))
  }

  /** Typed change feed as a STREAM (Delta's streaming
    * `readChangeFeed`): micro-batches of the table schema plus
    * [[ChangeTypeCol]], one version span per batch, resuming from the
    * checkpointed version offset. Same typed-plan rule as the batch
    * feed; rows from sidecar-less versions coalesce to `insert` here.
    * Compose with `option("maxVersionsPerBatch", k)` upstream via
    * `moreOptions` for throttled backfill. */
  def typedChangesStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, fromVersion: Long = -1L,
      moreOptions: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame =
    coalesceInserts(spark.readStream
      .format("graft.sources.GraftLogSource")
      .options(typedFeedOptions(dir, fromVersion))
      .options(moreOptions)
      .load())

  /** Committed versions in (fromVersion, toVersion], in order — the
    * axis a downstream applier walks. O(span) name listing. */
  def versionsBetween(dir: String, fromVersion: Long,
      toVersion: Long): Seq[Long] =
    commitsBetween(dir, fromVersion, toVersion).map(_._1)

  /** Write `changes` (full table schema + [[ChangeTypeCol]]) as CDC
    * sidecar files in `dir`, returning their manifest entries at
    * version -1 for the caller's [[commitNew]] — sidecars and the
    * row-level commit they describe become visible atomically. Each
    * file is only moved, so its entry keeps the writer's exact
    * [[RawBytesKey]] size for the typed-feed scan's CBO estimate. */
  private def stageCdc(dir: String,
      changes: org.apache.spark.sql.DataFrame): Seq[LogEntry] = {
    def cdcName(part: String) = CdcPrefix + part.stripPrefix("part-")
    writeScratch(dir, CdcScratchPrefix, changes)(cdcName).map(e =>
      LogEntry(-1L, "cdc", cdcName(e.file), e.rows, dataChange = false,
        e.stats.filter(_._1 == RawBytesKey), cols = e.cols))
  }

  /** Scratch-table name prefixes under a table directory: a rewrite's
    * replacement rows and its CDC sidecars are written as a scratch
    * graft-log table first (full stats and column records for free),
    * then their part files move into the table. */
  private val RewriteScratchPrefix = "__rewrite-"
  private val CdcScratchPrefix = "__cdc-"

  /** Write `df` through the normal writer into a fresh scratch table
    * `<dir>/<prefix><uuid>` (`setup` runs on it first), move its
    * non-empty part files into `dir` under `rename(file)`, and return
    * their scratch entries. The scratch directory is deleted whether
    * the write succeeds or fails (a failed task's corrupt input or a
    * rejected overwrite); only a killed process leaves one, for
    * [[vacuum]] to reap past the retention horizon. */
  private def writeScratch(dir: String, prefix: String,
      df: org.apache.spark.sql.DataFrame,
      setup: String => Unit = _ => ())(
      rename: String => String): Seq[LogEntry] = {
    val scratch = ensureDir(s"$dir/$prefix${UUID.randomUUID()}")
    try {
      setup(scratch)
      df.write.format("graft.sources.GraftLogSource")
        .option("path", scratch).mode("overwrite").save()
      val fresh = entriesAsOf(scratch, Long.MaxValue).filter(_.rows > 0L)
      fresh.foreach(e => Files.move(Paths.get(scratch, e.file),
        Paths.get(dir, rename(e.file))))
      fresh
    } finally deleteTree(new File(scratch))
  }

  /** Write `df` as uncommitted part files of `dir`, laid out like the
    * table's own writes: the scratch table inherits the table's
    * partition declaration (or the partition-evolution override), so
    * rows route per value and every file keeps its partition record
    * (SPJ grouping survives merge/delete; compaction of a partitioned
    * table yields one file per VALUE), and its roll target, so files
    * keep the table's size. */
  private def writeParts(dir: String, df: org.apache.spark.sql.DataFrame,
      partitionOverride: Option[String] = None): Seq[LogEntry] =
    writeScratch(dir, RewriteScratchPrefix, df, setup = scratch => {
      partitionOverride.orElse(partitionColOf(dir))
        .foreach(setPartitionCol(scratch, _))
      propertiesOf(dir).get(TargetBytesProp).foreach(t =>
        writeProperties(scratch, Map(TargetBytesProp -> t)))
    })(identity)

  /** Delete a file, or a directory with everything under it. */
  private[graft] def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  /** Newest committed version — filename listing only. */
  def currentVersion(dir: String): Long = {
    val log = listLog(dir)
    (log.commits.lastOption ++ log.checkpoints.lastOption).map(_._1)
      .maxOption.getOrElse(-1L)
  }

  /** Max commit stamp across all known history — the clamp base that
    * keeps version→timestamp strictly monotone. O(tail): the latest
    * checkpoint's header covers everything at-or-below it. */
  private def maxTsKnown(dir: String): Long = {
    val ckpt = listVersioned(dir, CheckpointPrefix).lastOption
    val floor = ckpt.map(_._1).getOrElse(-1L)
    val base = ckpt.map { case (v, f) => readCheckpoint(v, f).maxTs }
    val tailTs = entriesBetween(dir, floor, Long.MaxValue).map(_.ts)
    (base.toSeq ++ tailTs).maxOption.getOrElse(-1L)
  }

  /** Optimistic cross-process commit: serialize the next version's
    * entries to a temp file and CLAIM `_commit.<v>` with a hard link —
    * link(2) fails EEXIST atomically, so two processes racing the same
    * version cannot drop each other's commit; the loser re-reads the
    * log head and retries at the next version. Unstamped entries get
    * the commit wall-clock, clamped strictly above every known stamp
    * (`TIMESTAMP AS OF` resolves unambiguously even when two commits
    * land in one millisecond). Same-JVM writers also serialize on the
    * object lock — cheaper than churning the retry loop. Every
    * [[CheckpointInterval]]-th commit also writes a reconciled
    * checkpoint. Returns the committed version. */
  def commitNew(dir: String, schema: StructType)(
      mk: Long => Seq[LogEntry]): Long = synchronized {
    commitNewUnlocked(dir, schema)(mk)
  }

  /** The lock-free body — `private[graft]` so the concurrency spec can
    * drive two racing committers through the file CAS alone. `mk`
    * may be invoked more than once (once per claimed version). */
  private[graft] def commitNewUnlocked(dir: String, schema: StructType)(
      mk: Long => Seq[LogEntry]): Long = {
    ensureDir(dir)
    val v = claimVersion(dir, CommitPrefix, "graft-log commit") { () =>
      // the schema persists per ATTEMPT, re-merged against the stored
      // one each time: two cross-process schema-evolving commits would
      // otherwise race read-modify-write on `_schema` and the loser's
      // new column silently vanish from the table (mergeSchemas is
      // additive-at-tail, so remerging is idempotent). An overwrite
      // merges the same way: older versions still hold every stored
      // column, so none may leave the schema.
      val stored = storedSchema(dir)
      val persisted = stored.map(mergeSchemas(_, schema)).getOrElse(schema)
      // write ONLY when the content changes: a same-schema (pure)
      // append re-writing identical bytes would race a concurrent
      // schema-evolving commit's read-modify-write and clobber its
      // freshly added column with the stale schema it read
      if (!stored.contains(persisted))
        atomicWrite(Paths.get(dir, SchemaFile),
          persisted.json.getBytes(StandardCharsets.UTF_8))
      currentVersion(dir) + 1
    }(mk)
    maybeCheckpoint(dir, v)
    v
  }

  /** The one version claim, shared by mainline and branch commits:
    * write the entries `mk` builds for the version `next` names to a
    * temp file and CLAIM `<prefix><v>` with a hard link. link(2) fails
    * EEXIST atomically, so the loser of a race re-reads the head and
    * retries at the next version. An empty entry list is legal (an
    * overwrite with zero rows of a table that holds no live file still
    * commits its version). Returns the claimed version. */
  private def claimVersion(dir: String, prefix: String, what: String)(
      next: () => Long)(mk: Long => Seq[LogEntry]): Long = {
    var attempts = 0
    while (attempts < 64) {
      val v = next()
      val es = mk(v)
      val now = math.max(System.currentTimeMillis(), maxTsKnown(dir) + 1)
      val stamped = es.map(e => if (e.ts < 0) e.copy(ts = now) else e)
      val tmp = Paths.get(dir, s"$prefix$v.tmp.${UUID.randomUUID()}")
      Files.write(tmp, stamped.map(_.serialize).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      crashWindow(dir, "preLink") // crash-torture hook (no-op unarmed)
      try {
        Files.createLink(Paths.get(dir, versionedName(prefix, v)), tmp)
        crashWindow(dir, "postLink")
        Files.delete(tmp)
        return v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // another writer claimed v first — its commit stands; retry
          Files.delete(tmp)
          attempts += 1
      }
    }
    throw new IllegalStateException(
      s"$what to $dir lost the version race $attempts times")
  }

  /** Crash-torture instrumentation (tools.CrashPublisher): when
    * `-Dgraft.log.crashWindow=<name>` arms a window, the committing
    * process announces reaching it (a marker file the orchestrator
    * polls for) and then parks, so `destroyForcibly()` kills the JVM at
    * a DETERMINISTIC point in the commit protocol — just before the
    * hard-link CAS (torn state: parts + tmp, no commit) or just after
    * it (commit visible, tmp orphaned, checkpoint skipped). Unarmed
    * (every production and test run that doesn't set the property)
    * this is a single map lookup. */
  private def crashWindow(dir: String, name: String): Unit =
    sys.props.get("graft.log.crashWindow").filter(_ == name).foreach { _ =>
      try Files.writeString(Paths.get(dir, s"_crash_window_$name"), "")
      catch { case _: java.io.IOException => () }
      Thread.sleep(120000) // parked: the orchestrator kills us here
    }

  /** Last checkpoint version this JVM knows of, per table dir — saves
    * a directory listing on EVERY commit (measurable on commit-dense
    * workloads). Conservative under cross-process races: a stale (low)
    * cached value only means we list again when our own counter says a
    * checkpoint is due, and writeCheckpoint is idempotent. */
  private[graft] val lastCkptCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def maybeCheckpoint(dir: String, v: Long): Unit = {
    val cached = lastCkptCache.getOrDefault(dir, Long.MinValue)
    // trust the cache only while versions grow PAST it: a commit at
    // v <= cached means the table at this path was dropped and
    // recreated (versions restart at 0 only then) — a stale-HIGH value
    // would suppress every checkpoint of the new table, so fall
    // through and re-list
    if (cached != Long.MinValue && v > cached &&
        v - cached < CheckpointInterval)
      return
    val last = listVersioned(dir, CheckpointPrefix).lastOption
      .map(_._1).getOrElse(-1L)
    if (v - last >= CheckpointInterval) {
      writeCheckpoint(dir, v)
      lastCkptCache.put(dir, v)
    } else lastCkptCache.put(dir, last)
  }

  /** Reconciled snapshot checkpoint at `v`: the live add set (original
    * versions and stamps preserved) plus the latest [[LogEntry.txn]]
    * marker per writer — markers must survive reconciliation or log
    * expiration would silently reset every incremental consumer's
    * applied-through watermark — under a max-stamp header.
    * Idempotent — deterministic content, atomic replace — so two
    * processes checkpointing the same version is harmless. */
  def writeCheckpoint(dir: String, v: Long): Unit = {
    val snap = snapshotAsOf(dir, v)
    putCheckpoint(dir, v, maxTsKnown(dir), snap.entries ++ snap.txns)
  }

  private def putCheckpoint(dir: String, v: Long, maxTs: Long,
      live: Seq[LogEntry]): Unit =
    atomicWrite(Paths.get(dir, versionedName(CheckpointPrefix, v)),
      (s"#checkpoint v=$v maxTs=$maxTs" +: live.map(_.serialize))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Expire log segments (Delta's log retention / Iceberg's
    * expire-snapshots for the metadata side): delete every commit
    * file at-or-below the newest checkpoint at-or-below
    * `beforeVersion` — that checkpoint subsumes them for planning any
    * version from its own upward — plus all older checkpoints. This
    * BOUNDS total log size forever:
    * retained metadata is one checkpoint (O(live files)) plus the
    * commit tail. The trade is documented and loud: time travel below
    * the pivot checkpoint now throws (see [[snapshotAsOf]]'s horizon
    * guard) instead of silently replaying an empty history. Part
    * files are untouched — vacuum owns data retention, and its
    * referenced set reads checkpoints too, so pre-horizon LIVE files
    * survive. Returns the number of metadata files deleted. */
  def expireLog(dir: String, beforeVersion: Long): Int = synchronized {
    val ckpts = listVersioned(dir, CheckpointPrefix)
    ckpts.filter(_._1 <= beforeVersion).lastOption match {
      case None => 0
      case Some((pivot, _)) =>
        val commits = listVersioned(dir, CommitPrefix)
          .filter(_._1 <= pivot)
        val older = ckpts.filter(_._1 < pivot)
        (commits.map(_._2) ++ older.map(_._2)).foreach(_.delete())
        commits.size + older.size
    }
  }

  /** Make the table at `dir` continue the version axis of the table at
    * `replaced`: fold `dir`'s current snapshot into one checkpoint at
    * `replaced`'s head + 1 and delete every other commit and checkpoint
    * file — the state [[expireLog]] leaves. REPLACE TABLE swaps a
    * staged directory in; continuing the axis keeps every consumer's
    * applied-through marker below the new horizon, so each one
    * re-bootstraps or fails loudly instead of reading the
    * replacement's versions as the old table's. */
  def continueVersions(dir: String, replaced: String): Unit = {
    val v = currentVersion(replaced) + 1
    val snap = snapshotAsOf(dir, Long.MaxValue)
    val maxTs = math.max(maxTsKnown(dir), maxTsKnown(replaced))
    putCheckpoint(dir, v, maxTs,
      (snap.entries ++ snap.txns).map(_.copy(version = v)))
    val log = listLog(dir)
    (log.commits ++ log.checkpoints.filter(_._1 != v))
      .foreach(_._2.delete())
  }

  /** Oldest version the retained log can still reconstruct: 0 while
    * the full history (`_commit.0`) survives, else the oldest
    * remaining checkpoint. -1 = empty table (no horizon to violate). */
  def oldestReplayableVersion(dir: String): Long =
    listLog(dir).oldestReplayable

  // ---- named refs (tags): human-named pins into the version log ----
  // `VERSION AS OF 'gold'` instead of a raw number — the Iceberg
  // tag/ref idea. Stored as one `_refs` file (name=version lines),
  // atomically replaced under the object lock; a ref must point at a
  // committed version at creation time, and expiring the log past a
  // ref's version makes reads through it fail loudly like any other
  // sub-horizon time travel.
  val RefsFile = "_refs"

  def refs(dir: String): Map[String, Long] = {
    val f = new File(dir, RefsFile)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains("=")).map { l =>
        val i = l.lastIndexOf('=')
        l.substring(0, i) -> l.substring(i + 1).toLong
      }.toMap
  }

  def setRef(dir: String, name: String, version: Long): Unit =
    synchronized {
      require(name.nonEmpty && !name.forall(_.isDigit) &&
        !name.contains("=") && !name.contains("\n"),
        s"invalid ref name '$name' (non-numeric, no '=' or newline)")
      val cur = currentVersion(dir)
      require(version >= 0 && version <= cur,
        s"ref '$name' must point at a committed version 0..$cur, " +
          s"got $version")
      writeRefs(dir, refs(dir) + (name -> version))
    }

  def dropRef(dir: String, name: String): Unit = synchronized {
    writeRefs(dir, refs(dir) - name)
  }

  private def writeRefs(dir: String, rs: Map[String, Long]): Unit =
    atomicWrite(Paths.get(dir, RefsFile),
      rs.toSeq.sortBy(_._1).map { case (n, v) => s"$n=$v" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Resolve a `VERSION AS OF` argument: a number is a version, any
    * other string is a ref name (fails loudly when absent). */
  def resolveVersion(dir: String, spec: String): Long =
    if (spec.nonEmpty && spec.forall(_.isDigit)) spec.toLong
    else refs(dir).getOrElse(spec, throw new IllegalArgumentException(
      s"no ref '$spec' on the table at $dir " +
        s"(known: ${refs(dir).keys.toSeq.sorted.mkString(", ")})"))

  // ---- table properties ------------------------------------------
  // TBLPROPERTIES, stored as one `_properties` file (k=v lines,
  // atomic replace). Properties are metadata-plane configuration —
  // the table-level override axis Delta/Iceberg use for maintenance
  // policy; `graft.compact.target-bytes` sets the size at which every
  // write's part files roll (appends, rewrites, [[compact]]), so a
  // table's layout policy travels with the table, not the session
  // that happens to run maintenance.
  val PropsFile = "_properties"

  /** Table property: raw characters ([[RawBytesKey]]) at which a part
    * file closes and the writer opens the next one. */
  val TargetBytesProp = "graft.compact.target-bytes"

  def targetBytesOf(dir: String): Long =
    propertiesOf(dir).get(TargetBytesProp).map(_.toLong)
      .getOrElse(128L << 20)

  def propertiesOf(dir: String): Map[String, String] = {
    val f = new File(dir, PropsFile)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  def setProperties(dir: String, kvs: Map[String, String]): Unit =
    synchronized {
      kvs.keys.foreach(k => require(
        k.nonEmpty && !k.contains("=") && !k.contains("\n"),
        s"invalid property key '$k'"))
      kvs.values.foreach(v => require(!v.contains("\n"),
        s"property values cannot contain newlines: '$v'"))
      writeProperties(dir, propertiesOf(dir) ++ kvs)
    }

  def removeProperties(dir: String, keys: Seq[String]): Unit =
    synchronized { writeProperties(dir, propertiesOf(dir) -- keys) }

  private def writeProperties(dir: String,
      ps: Map[String, String]): Unit =
    atomicWrite(Paths.get(dir, PropsFile),
      ps.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))

  // ---- write-audit-publish (WAP) staging -------------------------
  // Iceberg's stage-then-publish pattern: with `spark.graft.log.wapId`
  // set, an INSERT writes its part files but records their entries in
  // a `_staged.<id>` side file instead of committing — invisible to
  // every ordinary reader. A session with the SAME wap id set reads
  // the current snapshot PLUS the staged overlay (the audit), and
  // `CALL system.publish_staged` turns the staged entries into one
  // ordinary commit, atomically and exactly once. The pipeline shape
  // this exists for: ingest a batch, run quality/dedup/contamination
  // checks against the audit view, and only then make it visible to
  // training jobs — a bad batch is dropped without ever having been
  // live, and no reader ever sees a half-audited table.
  val WapConf = "spark.graft.log.wapId"
  val StagedPrefix = "_staged."

  /** The session's active WAP id, when one is set and non-empty. */
  def activeWapId(): Option[String] =
    scala.util.Try(org.apache.spark.sql.SparkSession.active).toOption
      .flatMap(s => Option(s.conf.get(WapConf, null)))
      .filter(_.nonEmpty)

  private def stagedFile(dir: String, id: String): File = {
    require(id.nonEmpty && id.forall(c => c.isLetterOrDigit ||
        c == '-' || c == '_'),
      s"invalid wap id '$id' (letters, digits, '-', '_' only)")
    new File(dir, StagedPrefix + id)
  }

  def listStagedIds(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(StagedPrefix))
      .map(_.stripPrefix(StagedPrefix)).sorted.toSeq

  def stagedEntries(dir: String, id: String): Seq[LogEntry] = {
    val f = stagedFile(dir, id)
    if (!f.exists()) Seq.empty else readEntryLines(f)
  }

  /** Stage an append under `id`: entries accumulate in the staged
    * side file (several writes may stage under one audit id) with a
    * placeholder version; part files are already in the table dir but
    * unreferenced by any commit. Staged writes may not evolve the
    * schema — the evolution would be visible to non-audit readers
    * before publish, breaking the whole point. */
  def stageAppend(dir: String, id: String, fresh: Seq[GraftLogCommit],
      schema: StructType): Unit = synchronized {
    if (fresh.isEmpty) return
    storedSchema(dir) match {
      case Some(stored) =>
        require(mergeSchemas(stored, schema) == stored,
          s"staged write under wap id '$id' would evolve the schema " +
            s"of $dir — publish-time evolution is not supported; " +
            "evolve with an ordinary write first")
      case None =>
        // the staging CREATES the table: persist the schema now (the
        // rows stay invisible until publish) — publishing against no
        // stored schema would otherwise commit an empty one and
        // strand the rows behind a zero-column read
        ensureDir(dir)
        atomicWrite(Paths.get(dir, SchemaFile),
          schema.json.getBytes(StandardCharsets.UTF_8))
    }
    val entries = stagedEntries(dir, id) ++
      fresh.map(c => LogEntry.add(-1L, c.file, c.rows, c.stats,
        cols = c.cols))
    atomicWrite(stagedFile(dir, id).toPath,
      entries.map(_.serialize).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Publish a staged audit as ONE ordinary commit (re-versioned
    * entries), then retire the staged file — exactly once: a second
    * publish of the same id fails loudly on the missing file. Returns
    * (publishedVersion, nFiles). */
  def publishStaged(dir: String, id: String): (Long, Int) = synchronized {
    val es = stagedEntries(dir, id)
    require(es.nonEmpty,
      s"no staged write under wap id '$id' at $dir " +
        s"(staged: ${listStagedIds(dir).mkString(", ")})")
    // Crash recovery: a publish that committed but died before
    // retiring the side file must NOT double-commit on retry. The
    // publish commit carries a txn marker under the wap id, so the
    // check is EXACT — the earlier are-all-files-live heuristic
    // double-published when a compaction or delete retired the staged
    // files inside the crash window. Wap ids are single-use as a
    // consequence (the Iceberg wap.id contract).
    if (lastTxnVersion(dir, s"wap:$id") >= 0L) {
      stagedFile(dir, id).delete()
      throw new IllegalStateException(
        s"wap id '$id' at $dir was already published (a crashed " +
          "publish left its staging behind — now retired); " +
          "re-publishing would duplicate the rows")
    }
    es.foreach(e => require(new File(dir, e.file).exists(),
      s"cannot publish '$id': staged part ${e.file} is missing"))
    var published = -1L
    commitNew(dir, storedSchema(dir).getOrElse(StructType(Nil))) { v =>
      published = v
      // ts stays -1: commitNew stamps its monotonic commit time — the
      // PUBLISH instant is the version's timestamp (audit time is not)
      es.map(e => e.copy(version = v, ts = -1L)) :+
        LogEntry.txn(v, s"wap:$id", 1L)
    }
    stagedFile(dir, id).delete()
    (published, es.size)
  }

  /** Abandon a staged audit: delete its part files and the side file.
    * Returns the number of part files deleted. */
  def dropStaged(dir: String, id: String): Int = synchronized {
    val es = stagedEntries(dir, id)
    // a staging left behind by a crashed-but-committed publish points
    // at files the LIVE snapshot references — deleting those would
    // destroy committed data (dropBranch guards the same way)
    val live = entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
    val dead = es.filterNot(e => live(e.file))
    dead.foreach(e => new File(dir, e.file).delete())
    stagedFile(dir, id).delete()
    dead.size
  }

  /** Loud guard for operations that cannot be staged: running them
    * with a WAP id set would either commit visibly mid-audit or
    * silently bypass the staging the session asked for. */
  def requireNoWap(op: String): Unit = activeWapId().foreach(id =>
    throw new IllegalStateException(
      s"$op cannot run while $WapConf='$id' is set — only appends " +
        "stage; publish or drop the audit (or unset the conf) first"))

  // ---- writable branches: named commit lineages off a fork point ----
  // The Iceberg-branch idea on the graft-log: `create_branch` forks at
  // the current version; writes made with `spark.graft.log.branch` set
  // (or the `branch` write/read option) commit to the branch's OWN
  // commit files (`_branch.<name>.<v>`, same hard-link CAS as main) —
  // invisible to every mainline reader, MULTI-commit (where a WAP
  // staging is one audited batch, a branch is a whole line of work:
  // several appends validated together). A branch read plans the main
  // snapshot AT THE FORK plus the branch's commits — main commits
  // after the fork don't leak in. `fast_forward` publishes the branch
  // onto main as one squashed commit IFF main hasn't moved since the
  // fork (otherwise loud — recreate the branch to rebase); `drop_
  // branch` abandons it and reclaims its part files. Part files live
  // in the table dir (vacuum treats branch-referenced files as live,
  // like WAP staging). Branch writes may not evolve the schema, and
  // row-level mutations/maintenance refuse to run with a branch set —
  // same loudness contract as WAP.
  val BranchConf = "spark.graft.log.branch"
  val BranchesFile = "_branches"

  /** The session's active write/read branch, when set and non-empty. */
  def activeBranch(): Option[String] =
    scala.util.Try(org.apache.spark.sql.SparkSession.active).toOption
      .flatMap(s => Option(s.conf.get(BranchConf, null)))
      .filter(_.nonEmpty)

  private def validBranchName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
        c == '-' || c == '_'),
      s"invalid branch name '$name' (letters, digits, '-', '_' only)")

  private def branchPrefix(name: String): String = s"_branch.$name."

  /** name → fork version for every live branch. */
  def branches(dir: String): Map[String, Long] = {
    val f = new File(dir, BranchesFile)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(n, v) = l.split("\t", 2); n -> v.toLong
      }.toMap
  }

  private def writeBranches(dir: String, bs: Map[String, Long]): Unit =
    atomicWrite(Paths.get(dir, BranchesFile),
      bs.toSeq.sortBy(_._1).map { case (n, v) => s"$n\t$v" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Fork a branch at the current version. Returns the fork version. */
  def createBranch(dir: String, name: String): Long = synchronized {
    validBranchName(name)
    require(storedSchema(dir).isDefined,
      s"graft-log table not found at $dir")
    val bs = branches(dir)
    require(!bs.contains(name), s"branch '$name' already exists at $dir")
    val fork = currentVersion(dir)
    writeBranches(dir, bs + (name -> fork))
    fork
  }

  private def forkOf(dir: String, name: String): Long =
    branches(dir).getOrElse(name, throw new IllegalArgumentException(
      s"no branch '$name' at $dir " +
        s"(branches: ${branches(dir).keys.toSeq.sorted.mkString(", ")})"))

  /** Newest branch-local version (the fork version when unwritten). */
  def branchHead(dir: String, name: String): Long = {
    val fork = forkOf(dir, name)
    listVersioned(dir, branchPrefix(name)).lastOption.map(_._1)
      .getOrElse(fork)
  }

  /** Every branch commit's entries, version-ascending. */
  def branchEntries(dir: String, name: String): Seq[LogEntry] =
    listVersioned(dir, branchPrefix(name))
      .flatMap { case (_, f) => readEntryLines(f) }

  /** Append a batch to the branch as its own commit — the same
    * hard-link CAS as mainline commits, version-numbered in the
    * branch's own lineage (fork+1, fork+2, ...). Schema evolution is
    * rejected (it would be visible to mainline readers before
    * fast-forward, same rule as WAP staging). */
  def appendToBranch(dir: String, name: String,
      fresh: Seq[GraftLogCommit], schema: StructType): Unit =
    synchronized {
      if (fresh.isEmpty) return
      forkOf(dir, name)
      storedSchema(dir).foreach { stored =>
        require(mergeSchemas(stored, schema) == stored,
          s"branch '$name' write would evolve the schema of $dir — " +
            "evolve with a mainline write first, then re-branch")
      }
      claimVersion(dir, branchPrefix(name), s"branch '$name' commit")(
        () => branchHead(dir, name) + 1)(v =>
        fresh.map(c => LogEntry.add(v, c.file, c.rows, c.stats,
          cols = c.cols)))
    }

  /** Publish the branch onto main as ONE squashed commit, exactly
    * once, IFF main has not moved since the fork (a moved main is a
    * real conflict: the branch's file set was derived from the fork
    * snapshot — loud, recreate the branch to rebase). The branch is
    * retired on success; its part files are now mainline-live. A
    * crashed fast-forward (committed, died before retiring the
    * branch) cannot double-publish: every branch file already live
    * means the commit landed — the stale branch is retired and the
    * retry says so. Returns (publishedVersion, nFiles). */
  def fastForward(dir: String, name: String): (Long, Int) =
    synchronized {
      val fork = forkOf(dir, name)
      val es = branchEntries(dir, name)
      require(es.nonEmpty,
        s"branch '$name' at $dir has no commits to fast-forward")
      // exact crash-recovery check: the publish commit carries a txn
      // marker under the branch name (the are-all-files-live
      // heuristic double-published when a compaction retired the
      // branch files inside the crash window)
      if (lastTxnVersion(dir, s"branch:$name@$fork") >= 0L) {
        retireBranch(dir, name)
        throw new IllegalStateException(
          s"branch '$name' at $dir was already fast-forwarded (a " +
            "crashed publish left the branch behind — now retired); " +
            "re-publishing would duplicate the rows")
      }
      val cur = currentVersion(dir)
      require(cur == fork,
        s"branch '$name' cannot fast-forward: main advanced from " +
          s"$fork to $cur since the fork — recreate the branch from " +
          "the new head to rebase")
      es.filter(_.isAdd).foreach(e =>
        require(new File(dir, e.file).exists(),
          s"cannot fast-forward '$name': part ${e.file} is missing"))
      var published = -1L
      commitNew(dir, storedSchema(dir).getOrElse(StructType(Nil))) { v =>
        published = v
        // the claimed version re-checks the fork INSIDE the CAS: a
        // cross-process mainline commit racing this publish would
        // otherwise slip under the check-then-commit window above
        require(v == fork + 1,
          s"branch '$name' cannot fast-forward: main advanced to " +
            s"${v - 1} during the publish — recreate the branch to " +
            "rebase")
        es.map(e => e.copy(version = v, ts = -1L)) :+
          // fork-qualified so a RECREATED branch under the same name
          // (at a new fork) publishes cleanly
          LogEntry.txn(v, s"branch:$name@$fork", 1L)
      }
      retireBranch(dir, name)
      (published, es.size)
    }

  /** Abandon a branch: delete its part files (those not mainline-live)
    * and its commit files, unregister it. Returns part files deleted. */
  def dropBranch(dir: String, name: String): Int = synchronized {
    forkOf(dir, name)
    val live = entriesAsOf(dir, Long.MaxValue).map(_.file).toSet
    val gone = branchEntries(dir, name).filter(_.isAdd)
      .filterNot(e => live(e.file))
    gone.foreach(e => new File(dir, e.file).delete())
    retireBranch(dir, name)
    gone.size
  }

  private def retireBranch(dir: String, name: String): Unit = {
    listVersioned(dir, branchPrefix(name)).foreach(_._2.delete())
    writeBranches(dir, branches(dir) - name)
  }

  /** Loud guard for operations that cannot target a branch: running
    * them with a branch set would silently mutate MAIN mid-branch. */
  def requireNoBranch(op: String): Unit = activeBranch().foreach(b =>
    throw new IllegalStateException(
      s"$op cannot run while $BranchConf='$b' is set — only appends " +
        "can target a branch; fast_forward or drop the branch (or " +
        "unset the conf) first"))

  /** CREATE TABLE: persist the schema — the table-existence marker.
    * An empty table needs no commit (version -1, empty snapshot). */
  def create(dir: String, schema: StructType): Unit = {
    ensureDir(dir)
    atomicWrite(Paths.get(dir, SchemaFile),
      schema.json.getBytes(StandardCharsets.UTF_8))
  }

  /** Vacuum: delete unreferenced part files — orphans from
    * failed/aborted jobs (invisible to readers, but they hold space).
    * Files younger than `minAgeMs` are always kept: an in-flight
    * concurrent writer's uncommitted parts look exactly like orphans
    * until its commit, and deleting them would publish a manifest of
    * missing files (the retention horizon Delta/Iceberg enforce; pass
    * 0 only when no write can be in progress). By default `referenced`
    * is every add in history, so time travel keeps working for every
    * committed version. With `expireHistory = true` only the CURRENT
    * snapshot's files are kept — reclaiming pre-compaction parts at
    * the documented price that time travel to versions needing the
    * deleted files now fails loudly (Delta's VACUUM semantics).
    * Orphaned DV and CDC sidecars, metadata temps and scratch tables
    * past the same horizon go too. Returns the deleted part names. */
  def vacuum(dir: String, minAgeMs: Long = DefaultVacuumRetentionMs,
      expireHistory: Boolean = false): Seq[String] = synchronized {
    val history = entries(dir)
    // the files the kept history names: the current snapshot under
    // expireHistory; else all of history plus the checkpoint live
    // sets (after expireLog they may be the ONLY reference)
    val kept =
      if (expireHistory) entriesAsOf(dir, Long.MaxValue)
      else history ++ listVersioned(dir, CheckpointPrefix)
        .flatMap { case (v, f) => readCheckpoint(v, f).live }
    // staged (write-audit-publish) part files are referenced by their
    // `_staged.<id>` side file, not by any commit — a pending audit
    // must survive vacuum under BOTH modes or publish would break.
    // Branch part files likewise: only the branch's own commit files
    // reference them until fast-forward.
    val staged = listStagedIds(dir).flatMap(stagedEntries(dir, _))
    val branched = branches(dir).keys.toSeq
      .flatMap(branchEntries(dir, _)).filter(_.isAdd)
    val referenced =
      (kept.filter(_.isAdd) ++ staged ++ branched).map(_.file).toSet
    // DV sidecars follow the part-file rules: referenced = every DV
    // named anywhere in the kept history (current snapshot only under
    // expireHistory), aged orphans and superseded DVs reclaimed.
    val refDv = kept.flatMap(e =>
      e.stats.get(DvKey).map(_._1).filter(_.nonEmpty)).toSet
    // CDC sidecars: referenced while any retained commit names them
    // (the typed feed reads commit files directly, so the reference
    // set is the full kept ledger) — under BOTH modes (ADVICE r9):
    // vacuum never deletes commit files, so every span the horizon
    // guard admits still opens its commits' sidecars; emptying the
    // set under expireHistory left admitted typed-feed/replication
    // reads dying on a missing file. Sidecars of commits expireLog
    // already deleted are absent from entries() and get reclaimed.
    val refCdc = history.filter(_.action == "cdc").map(_.file).toSet
    // one listing, taken after every referenced set is known
    val cutoff = System.currentTimeMillis() - minAgeMs
    def isScratch(n: String) = n.startsWith(RewriteScratchPrefix) ||
      n.startsWith(CdcScratchPrefix)
    // a scratch table is as old as its newest file: the directory's
    // own mtime stops moving while a rewrite streams into a part file
    // it already created
    val aged = listDir(dir).filter(f =>
      (if (isScratch(f.getName)) f +: listDir(f.getPath) else Seq(f))
        .forall(_.lastModified() <= cutoff))
    def reap(orphan: String => Boolean): Seq[String] =
      aged.filter(f => orphan(f.getName))
        .map { f => deleteTree(f); f.getName }
    reap(n => n.startsWith("dv-") && !refDv.contains(n))
    reap(n => n.startsWith(CdcPrefix) && !refCdc.contains(n))
    // Stale metadata temps from crashed writers: a CAS loser deletes
    // its temp commit file, but a crash between write and link leaves
    // one (same for an interrupted atomicWrite). Invisible to readers
    // (the `.tmp.` infix is filtered at listing), reclaimed here past
    // the same retention horizon that protects in-flight writers —
    // and so are the scratch tables of a process killed mid-rewrite.
    reap(_.contains(".tmp."))
    reap(isScratch)
    reap(n => n.startsWith("part-") && !n.contains(".tmp.") &&
      !referenced.contains(n))
  }

  /** Compaction (small-file OPTIMIZE): rewrite the current snapshot
    * into as few part files as the `graft.compact.target-bytes` table
    * property allows, published as a new version that removes the
    * inputs and adds the outputs with dataChange=false — readers of
    * the new snapshot open a few files instead of N, older snapshots
    * still see the original parts (until an expireHistory vacuum),
    * and the change feed sees no new rows. The rewrite is a plan for
    * [[rewriteFiles]], like every copy-on-write maintenance op: the
    * reader applies each file's deletion vector and column trail, and
    * the writer re-encodes the cells in the current layout, stamps
    * exact per-file stats and rolls its output at the target. A
    * partitioned table's scratch write routes per value (one file per
    * value, partition record intact — the Iceberg per-partition
    * compaction shape); an unpartitioned read coalesces to
    * ⌈live raw size ÷ target⌉ tasks. The maintenance pass a streaming
    * sink needs run daily: per-epoch commits accumulate unboundedly
    * many small files whose open/listing cost comes to dominate scans.
    * Returns the number of files compacted away (0 = nothing to do). */
  def compact(dir: String): Int = {
    requireNoWap("compaction"); requireNoBranch("compaction")
    // optimistic-concurrency base: a delete or merge racing this
    // compaction is detected at publish, not silently undone
    val compactBase = currentVersion(dir)
    val live = entriesAsOf(dir, compactBase)
    val pcol = partitionColOf(dir)
    // one group per partition value when every file carries its
    // record; otherwise (unpartitioned, or files written before the
    // table was partitioned) the whole snapshot is one group
    val groups = pcol match {
      case Some(c) if live.forall(GraftLogPartValue.of(_, c).isDefined) =>
        live.groupBy(GraftLogPartValue.of(_, c)).values
      case _ => Seq(live)
    }
    // nothing to do when every group is already a single file
    if (groups.forall(_.size <= 1)) return 0
    val schema = storedSchema(dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-log table not found at $dir"))
    val picked = readAt(org.apache.spark.sql.SparkSession.active, dir,
      live, compactBase)
    val replacement =
      if (pcol.isDefined) picked
      else {
        // live bytes: a file's raw size scaled by the share of its rows
        // no deletion vector hides (DV'd rows are not rewritten)
        val raw = live.map { e =>
          val r = e.stats(RawBytesKey)._1.toLong
          if (e.rows <= 0L) r
          else (BigInt(r) * effectiveRows(e) / e.rows).toLong
        }.sum
        val target = targetBytesOf(dir)
        picked.coalesce(math.max(1L, (raw + target - 1) / target).toInt)
      }
    rewriteFiles(dir, live, replacement, schema,
      dataChange = false, baseVersion = compactBase)
    live.size
  }

  /** Small-file bound of the tables incremental merges maintain (a
    * materialized view, a replication mirror), which no maintenance
    * pass of their own compacts. Every merge-on-read merge leaves a
    * batch file and deletion vectors behind, so their maintainers
    * compact once more than this many live files sit under half the
    * roll target (Delta's auto-compaction, file-count trigger). */
  val AutoCompactSmallFiles = 16

  /** [[compact]] `dir` when it holds more than [[AutoCompactSmallFiles]]
    * live files under half its roll target. Returns the number of
    * files compacted away (0 = under the bound). */
  def compactIfFragmented(dir: String): Int = {
    val half = targetBytesOf(dir) / 2
    val small = entriesAsOf(dir, Long.MaxValue).count(e =>
      e.stats.get(RawBytesKey).forall(_._1.toLong < half))
    if (small > AutoCompactSmallFiles) compact(dir) else 0
  }

  /** Merge-on-read MERGE (Delta `MERGE INTO` in miniature, in the
    * Delta-DV / Iceberg-v2 upsert shape): upsert a batch of full-schema
    * rows into the table by KEY without rewriting the files that hold
    * the replaced rows. Matched table rows are replaced by their update
    * row, unmatched table rows stay as they are, unmatched update rows
    * are inserted.
    *
    * File targeting reads the stats written for scan pruning: numeric
    * keys probe each file's manifest [min, max] range (and the integral
    * bloom) with the batch's distinct key SET, string keys probe the
    * per-file blooms, so only files that can hold a matched key are
    * scanned. One position scan of those files finds the matched rows;
    * [[hideAndAppend]] hides them with one deletion vector per touched
    * file and writes the batch once as new part files (one task when
    * the batch is under the probe cap), and ONE version
    * publishes the DVs, the batch adds, the typed CDC sidecars and the
    * txn marker. Readers switch snapshots atomically and the pre-merge
    * version stays time-travelable. Write amplification is the batch
    * plus its DVs, not the touched files. Over `maxPositions` matched
    * rows the touched files are rewritten instead (minus the matched
    * rows, plus the batch), as one copy-on-write commit; compaction
    * folds accumulated DVs away either way. A DV commit is a non-append
    * version, so the add feed and its stream refuse to replay it; the
    * typed feed carries its exact pre/post images and inserts where
    * CDC is on. Targeting, the position scan and the DV union all read
    * one snapshot, `baseVersion` (the head when unset): a commit since
    * then that hides, moves or retires a row this merge matched touches
    * a file the merge touches too, so the merge aborts retryably
    * instead of re-inserting the key beside it. Returns
    * (filesTouched, filesTotal), both counted in that snapshot. */
  def mergeUpsert(spark: org.apache.spark.sql.SparkSession, dir: String,
      updates: org.apache.spark.sql.DataFrame,
      keyCol: String,
      txn: Option[(String, Long)] = None,
      maxPositions: Int = MaxDvPositions,
      baseVersion: Long = UnsetBase): (Int, Int) = {
    requireNoWap("MERGE"); requireNoBranch("MERGE")
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{array, coalesce, col, explode,
      lit, struct, when, min => fmin, max => fmax}
    val schema = storedSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"graft-log table not found at $dir"))
    require(schema.fieldNames.contains(keyCol), s"no key column $keyCol")
    val cols = schema.fieldNames.toSeq
    require(cols.forall(updates.columns.contains),
      s"merge batch must carry the full table schema ${cols.mkString(",")}")
    // The batch is coerced to the TABLE's column types up front — the
    // Delta/SQL-MERGE cast-source-to-target contract — so matching,
    // file targeting, CDC images, and the batch write all see canonical
    // values: the schema check above is name-only, and a CDC frame
    // carrying the key as decimal/double would otherwise (a) hash
    // "42.00"/"42.0" against blooms that store "42" — silently
    // DROPPING a file that really holds the key, whose stale row then
    // survives beside a wrongly-inserted "unmatched" copy — and
    // (b) write non-canonical cell text into a long-typed column.
    //
    // The coercion must be LOSSLESS per row (Delta's ANSI
    // store-assignment policy), but a plain cast() follows the
    // session's spark.sql.ansi.enabled: with ANSI off a malformed
    // string key silently casts to NULL (the row would then INSERT as
    // a garbage NULL-key row while its target stays stale), an
    // overflowing double saturates onto Long.MaxValue's row, and a
    // fractional decimal truncates onto a row it never matched under
    // plain join coercion. Reject loudly instead: any row whose value
    // does not ROUND-TRIP through the table type (null-safe compare
    // against the re-cast original) fails the merge. Exact and
    // widening batches (the legitimate callers) round-trip by
    // construction and pay one short-circuit probe job only when a
    // column's type actually differs. The probe itself uses try_cast
    // (null on failure under EITHER ansi setting): with
    // spark.sql.ansi.enabled a plain cast would throw its own raw
    // CAST/ARITHMETIC error on the malformed value before the require
    // below fires, making the diagnostic depend on session config.
    val updTypes = updates.schema.fields.map(f => f.name -> f.dataType).toMap
    val lossy = schema.fields.toSeq
      .filter(f => updTypes.get(f.name).exists(_ != f.dataType))
      .map(f => !(col(f.name).try_cast(f.dataType)
        .try_cast(updTypes(f.name)) <=> col(f.name)))
      .reduceOption(_ || _)
    lossy.foreach(cond =>
      require(updates.filter(cond).limit(1).collect().isEmpty,
        "merge batch values must cast LOSSLESSLY to the table's " +
          s"column types ${schema.simpleString} — a value would be " +
          "nulled, truncated, or saturated by the coercion"))
    val up = updates.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val mergeBase =
      if (baseVersion != UnsetBase) baseVersion else currentVersion(dir)
    val live = entriesAsOf(dir, mergeBase)
    // One aggregate job answers every batch probe: its key groups are
    // the targeting key set, a group of more than one row is a
    // duplicate key, the NULL group holds the NULL-keyed rows, and no
    // group at all is an empty batch. The key set is driver-side, so
    // the collect is capped: over MaxMergeProbeKeys keys the targeting
    // falls back to a coarser bound, and the duplicate and NULL checks
    // run as jobs of their own.
    val groups = up.groupBy(col(keyCol)).count()
      .limit(MaxMergeProbeKeys + 2).collect()
    if (groups.isEmpty) {
      // an empty batch is a no-op that still records the txn marker
      // (the consumer's applied-through watermark must advance past
      // empty spans)
      txn.foreach { case (a, tv) => commitTxn(dir, a, tv) }
      return (0, live.size)
    }
    val (nullGroup, keyGroups) = groups.partition(_.isNullAt(0))
    val capped = keyGroups.length > MaxMergeProbeKeys
    // A NULL-keyed update row never matches (SQL equality) and inserts
    // as-is — legal only when the stored key column admits NULLs;
    // against a non-nullable key it would write a row that violates
    // the table's own schema, so it rejects (the NOT NULL contract).
    if (!schema(keyCol).nullable)
      require(nullGroup.isEmpty && (!capped ||
          up.filter(col(keyCol).isNull).limit(1).collect().isEmpty),
        s"merge batch carries a NULL key but table column $keyCol is " +
          "non-nullable")
    // A key matched by MORE than one update row would silently
    // duplicate the table row — reject loudly, the Delta MERGE
    // multiple-source-rows-matched contract. (NULL-keyed update rows
    // are exempt: equality never matches them, so each is an
    // independent insert.)
    val dup = keyGroups.find(_.getLong(1) > 1L).orElse(
      if (!capped) None
      else up.filter(col(keyCol).isNotNull).groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).collect().headOption)
    require(dup.isEmpty,
      s"merge batch has duplicate key ${dup.map(_.get(0)).getOrElse("")}: " +
        "each key may match at most one update row")
    val keys = keyGroups.map(_.get(0))
    val keyDt = schema(keyCol).dataType
    // Stats overlap is conservative: a stat-less entry might hold any
    // key, so it is scanned. A file whose range or bloom provably lacks
    // EVERY batch key cannot hold a matched row and is never touched
    // (bloomless entries — legacy, or post-compaction — are scanned).
    val affected =
      if (keys.isEmpty) Seq.empty // only NULL keys: they match nothing
      else if (capped) keyDt match {
        // over the cap, string keys scan every file (such a batch
        // admits most files through the blooms anyway) and numeric
        // keys every file overlapping the batch's global [min, max]
        case LongType | IntegerType | DoubleType =>
          val b = up.agg(fmin(col(keyCol)), fmax(col(keyCol))).head()
          val lo = new java.math.BigDecimal(b.get(0).toString)
          val hi = new java.math.BigDecimal(b.get(1).toString)
          live.filter { e =>
            GraftLog.decStat(e,
                GraftLog.fileLocalName(schema, e, keyCol)) match {
              case Some((mn, mx)) =>
                mx.compareTo(lo) >= 0 && mn.compareTo(hi) <= 0
              case None => true
            }
          }
        case _ => live
      } else keyDt match {
        // Per-KEY file targeting, not per-batch-range: a CDC batch
        // typically mixes a narrow update window with above-max
        // inserts, and its GLOBAL [min, max] then spans half the table
        // even though the actual keys touch one file.
        case LongType | IntegerType | DoubleType =>
          val sorted: Array[AnyRef] = keys.map(k =>
            new java.math.BigDecimal(k.toString): AnyRef)
          java.util.Arrays.sort(sorted)
          // Bloom probes hash the TABLE's canonical cell text — the
          // integral `Long.toString` the writer stored. The keys come
          // from the LOSSLESSLY-coerced batch, so for an integral key
          // column each is already the exact boxed Long/Integer whose
          // toString IS that canonical text. Double key columns carry
          // no blooms (writer policy), so the conjunct is skipped
          // outright. Hashed once here; each file deserializes its
          // bloom once.
          val integral = keyDt == LongType || keyDt == IntegerType
          val keyHashes: Array[Long] =
            if (!integral) Array.empty
            else keys.map(k => GraftLogBloom.packedHash(k.toString))
          live.filter { e =>
            val local = GraftLog.fileLocalName(schema, e, keyCol)
            val inRange = GraftLog.decStat(e, local) match {
              case Some((lo, hi)) =>
                // any key in [lo, hi]? first key >= lo decides
                val i = {
                  val p = java.util.Arrays.binarySearch(sorted, lo)
                  if (p >= 0) p else -(p + 1)
                }
                i < sorted.length &&
                  sorted(i).asInstanceOf[java.math.BigDecimal]
                    .compareTo(hi) <= 0
              case None => true
            }
            inRange && (!integral ||
              GraftLogBloom.mayContainAny(e, local, keyHashes))
          }
        case _ =>
          // hash once per key, deserialize once per file (not k × n)
          val keyHashes = keys.map(k => GraftLogBloom.packedHash(k.toString))
          live.filter(e => GraftLogBloom.mayContainAny(e,
            GraftLog.fileLocalName(schema, e, keyCol), keyHashes))
      }
    // The matched table rows are those whose key is among the batch's
    // non-NULL keys: a left-semi join with the batch, written as the
    // probe's key set IN-list (pushed into the scan, which skips blocks
    // by it) or, over the cap, as a join.
    val (hit, keep) =
      if (!capped) {
        val in = coalesce(col(keyCol).isin(keys.toIndexedSeq: _*), lit(false))
        ((s: DataFrame) => s.filter(in), (s: DataFrame) => s.filter(!in))
      } else {
        val bk = up.select(col(keyCol).as("__graft_k"))
          .filter(col("__graft_k").isNotNull)
        val on = col(keyCol) === col("__graft_k")
        ((s: DataFrame) => s.join(bk, on, "left_semi"),
          (s: DataFrame) => s.join(bk, on, "left_anti"))
      }
    // Typed CDC (table opt-in), from one join of the batch against the
    // matched table rows: a matched update row emits the hidden row's
    // pre-image and its own post-image, an unmatched one (NULL keys
    // included) an insert. The scan covers every file holding a
    // matched row, so the classification is exact.
    val cdc =
      if (!cdfEnabled(dir)) None
      else Some { (s: DataFrame) =>
        val t = hit(s).select(col(keyCol).as("__graft_k"),
          struct(cols.map(col): _*).as("__graft_t"))
        def image(row: String => org.apache.spark.sql.Column,
            kind: String) =
          struct(cols.map(f => row(f).as(f)) :+
            lit(kind).as(ChangeTypeCol): _*)
        up.join(t, col(keyCol) === col("__graft_k"), "left_outer")
          .select(explode(
            when(col("__graft_t").isNull, array(image(col, "insert")))
              .otherwise(array(
                image(f => col("__graft_t").getField(f),
                  "update_preimage"),
                image(col, "update_postimage")))).as("__graft_c"))
          .select(col("__graft_c.*"))
      }
    // Under the probe cap the batch is small (the probe collected
    // every group), so it writes as one task: one part file per
    // partition value, not one per batch partition.
    val batch =
      if (!capped && groups.map(_.getLong(1)).sum <= MaxMergeProbeKeys)
        up.coalesce(1)
      else up
    val (touched, _) = hideAndAppend(spark, dir, schema, mergeBase,
      affected, hit, keep, Some(batch), cdc, txn, maxPositions, "MERGE")
    (touched, live.size)
  }

  /** DELETE, the one path: SQL `DELETE FROM` and `TRUNCATE TABLE`, the
    * `delete_mor` procedure and the replication mirror all land here.
    * Merge-on-read via deletion vectors (Delta DV / Iceberg v2
    * position-delete shape) [EXT]: instead of rewriting every affected
    * part file copy-on-write, record the DELETED ROW POSITIONS
    * per file in a sidecar `dv-*.bin` and commit one metadata version
    * of `dv` entries — write amplification drops from O(affected
    * bytes) to O(deleted positions), which is what makes frequent
    * small deletes (GDPR erasure, late-data retractions) affordable on
    * a 100 TB table. File targeting reuses the scan's conservative
    * stats check — a file is scanned only if EVERY conjunct may match
    * it — and the deleted rows are those where the predicate is TRUE
    * (a NULL keeps the row, the SQL DELETE contract). Readers skip
    * DV'd positions during the scan, COUNT pushdown subtracts DV
    * cardinality exactly, MIN/MAX pushdown disables itself on DV'd
    * files (stats may be stale), and compaction materializes the
    * deletes and drops the DVs. Positions are collected on the driver
    * and capped at `maxPositions` — a larger delete (or any delete
    * with `maxPositions = 0`) rewrites the touched files copy-on-write
    * instead (the returned flag says which path ran). Same commit as a
    * merge-on-read [[mergeUpsert]] ([[hideAndAppend]]), with no batch.
    * A repeated delete is a cheap no-op: already-deleted rows are
    * invisible to the position scan. An empty filter array (or a lone
    * AlwaysTrue: `DELETE FROM t` with no WHERE, `TRUNCATE`) is the
    * unconditional delete, one metadata commit that retires every live
    * file. Plans against one snapshot, `baseVersion` (the head when
    * unset), and aborts retryably when a commit since then touched a
    * file it touches, as [[mergeUpsert]] does. Returns (filesTouched,
    * filesTotal, usedDv). */
  def deleteWhereMoR(spark: org.apache.spark.sql.SparkSession,
      dir: String, filters: Array[Filter],
      maxPositions: Int = MaxDvPositions,
      baseVersion: Long = UnsetBase): (Int, Int, Boolean) = {
    requireNoWap("DELETE"); requireNoBranch("DELETE")
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{coalesce, lit}
    val schema = storedSchema(dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-log table not found at $dir"))
    require(filters.forall(convertible),
      s"unsupported DELETE predicate: ${filters.mkString(", ")}")
    val base =
      if (baseVersion != UnsetBase) baseVersion else currentVersion(dir)
    val live = entriesAsOf(dir, base)
    def deletes(s: DataFrame) = s.withColumn(ChangeTypeCol, lit("delete"))
    // the DSv2 contract ANDs the filter array, so an empty one is TRUE
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) {
      // typed CDC must still record the vanished rows (Delta's CDF
      // does the same on unconditional DELETE) — the one case where
      // the sidecar costs a table scan, because the delete itself is
      // metadata-only
      if (live.nonEmpty)
        commitRewrite(dir, schema, base, "DELETE", live.map(_.file),
          fresh = Seq.empty,
          cdc = Option.when(cdfEnabled(dir))(
            deletes(readAt(spark, dir, live, base))))()
      return (live.size, live.size, false)
    }
    val affected = live.filter(e =>
      filters.forall(f => GraftLogScan.mayMatch(schema, e, f)))
    val cond = coalesce(filters.map(filterToColumn).reduce(_ && _),
      lit(false))
    // typed CDC rides the DV commit too: the deleted rows are exactly
    // the predicate's matches in the touched files (re-deletes never
    // reach it — already-DV'd ordinals are invisible to the scan, so
    // the feed never double-reports)
    val cdc = Option.when(cdfEnabled(dir))(
      (s: DataFrame) => deletes(s.filter(cond)))
    val (touched, usedDv) = hideAndAppend(spark, dir, schema, base,
      affected, _.filter(cond), _.filter(!cond), batch = None, cdc,
      txn = None, maxPositions, "DELETE")
    (touched, live.size, usedDv)
  }

  /** The one merge-on-read commit of DELETE and MERGE. A position
    * scan of `affected` collects the `_file` and `_pos` of the rows
    * `hit` selects. Every scan here reads snapshot `base`, the one the
    * op planned against, never the head: a row a concurrent commit
    * hid or moved after `base` is still found in its file, that file
    * is touched, and the conflict check aborts the op. `_pos`
    * is a row's physical ordinal in its part file, stable across DV
    * state: the reader skips ordinals a DV already hides, so a
    * repeated op matches nothing new and the union with a file's
    * existing DV is disjoint-safe. Each touched file gets
    * one DV (its existing one plus the new positions), and ONE version
    * publishes the DVs, the `batch` rows as new part files (laid out
    * like the table's own writes), the typed CDC sidecars (`cdc` of a
    * scan of the touched files) and the txn marker. Over
    * `maxPositions` matched rows the driver-held DV would outgrow its
    * purpose, so the affected files are rewritten copy-on-write
    * instead: their `keep` rows plus the batch, in one [[rewriteFiles]]
    * commit. Returns (filesTouched, usedDv). */
  private def hideAndAppend(spark: org.apache.spark.sql.SparkSession,
      dir: String, schema: StructType, base: Long,
      affected: Seq[LogEntry],
      hit: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      keep: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      batch: Option[org.apache.spark.sql.DataFrame],
      cdc: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame],
      txn: Option[(String, Long)], maxPositions: Int,
      op: String): (Int, Boolean) = {
    import org.apache.spark.sql.functions.col
    // The position scan is ONE job over every affected file. (A collect
    // of a LIMIT runs Spark's incremental take instead: one job over
    // the first file, more over the rest.) A task that alone matches
    // more than `maxPositions` rows ships none of them; any other ships
    // its positions grouped by file. The driver keeps at most
    // `maxPositions` positions, and once the matches pass that it
    // cancels the job: the copy-on-write rewrite needs no positions.
    val hits = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val over = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (affected.nonEmpty) {
      val qe = hit(readAt(spark, dir, affected, base)
          .select(col("*"), col("_file"), col("_pos")))
        .select(col("_file"), col("_pos")).queryExecution
      val cap = maxPositions + 1
      var held = 0
      val job = new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.SimpleFutureAction[Unit]]()
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some("collect")) {
        val rows = qe.toRdd
        val f = spark.sparkContext.submitJob(rows,
          (it: Iterator[InternalRow]) => {
            val ps = it.take(cap)
              .map(r => (r.getUTF8String(0).toString, r.getLong(1))).toArray
            Option.when(ps.length < cap)(ps.groupMap(_._1)(_._2))
          },
          rows.partitions.indices,
          (_: Int, part: Option[Map[String, Array[Long]]]) =>
            if (!over.get) {
              val n = part.fold(cap)(_.valuesIterator.map(_.length).sum)
              if (held + n > maxPositions) {
                over.set(true); hits.clear()
                Option(job.get).foreach(_.cancel())
              } else {
                part.get.foreach { case (file, ps) =>
                  hits.getOrElseUpdate(file,
                    scala.collection.mutable.ArrayBuffer.empty) ++= ps }
                held += n
              }
            },
          ())
        job.set(f)
        if (over.get) f.cancel()
        scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
        // a cancelled job fails; only a failure before the cut-over counts
        f.value.get.failed.foreach(e => if (!over.get) throw e)
      }
    }
    if (over.get) {
      // too many positions for a healthy DV — the copy-on-write
      // rewrite IS the bounded path here
      val s = readAt(spark, dir, affected, base)
      val kept = keep(s)
      rewriteFiles(dir, affected, batch.fold(kept)(kept.unionByName(_)),
        schema, txn = txn, cdcChanges = cdc.map(_(s)), baseVersion = base)
      return (affected.size, false)
    }
    val touched = affected.filter(e => hits.contains(e.file))
    if (touched.isEmpty && batch.isEmpty && txn.isEmpty) return (0, true)
    // an orphaned dv-* file from an aborted commit is unreferenced and
    // aged out by vacuum
    commitRewrite(dir, schema, base, op, touched.map(_.file),
      fresh = batch.map(writeParts(dir, _)).getOrElse(Seq.empty),
      cdc = cdc.map(_(readAt(spark, dir, touched, base))), txn = txn) { v =>
      touched.map { e =>
        val merged = (dvOf(e).map { case (f, _) =>
          GraftLogDv.read(dir, f) }.getOrElse(Array.empty[Long]) ++
          hits(e.file)).distinct.sorted
        LogEntry.dv(v, e.file,
          Some((GraftLogDv.write(dir, merged), merged.length.toLong)))
      }
    }
    (touched.size, true)
  }

  /** The files `es` of `dir` as they stood at version `base`: the one
    * input read of every rewrite planner (compaction, OPTIMIZE ZORDER,
    * repartitioning, and the position, rewrite and CDC scans of DELETE
    * and MERGE). Pinned to the planned snapshot, so rows a commit adds
    * after `base` never fold into a rewrite whose new files would sit
    * beside theirs, and a DV committed after `base` moves nothing under
    * the scan; the conflict check at publish decides whether the plan
    * still stands. */
  private def readAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      es: Seq[LogEntry], base: Long): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format("graft.sources.GraftLogSource")
      .option("path", dir)
      .option("pickFiles", es.map(_.file).mkString(","))
    (if (base < 0L) r else r.option("asOfVersion", base.toString)).load()
  }

  /** The predicate subset [[deleteWhereMoR]] can replay as a Column —
    * `canDeleteWhere` gates on this, so an inexpressible DELETE fails
    * at analysis instead of deleting the wrong rows. */
  def convertible(f: Filter): Boolean = f match {
    case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | In(_, _) |
         IsNull(_) | IsNotNull(_) => true
    case _: AlwaysTrue | _: AlwaysFalse => true
    case And(l, r) => convertible(l) && convertible(r)
    case Or(l, r) => convertible(l) && convertible(r)
    case Not(c) => convertible(c)
    case _ => false
  }

  private def filterToColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case _: AlwaysTrue => lit(true)
      case _: AlwaysFalse => lit(false)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => !filterToColumn(c)
      case other => throw new IllegalArgumentException(
        s"inconvertible filter $other")
    }
  }

  /** OPTIMIZE ZORDER as table maintenance (Delta `OPTIMIZE ... ZORDER
    * BY (x, y)` in miniature): rewrite the CURRENT snapshot range-
    * partitioned by the Morton interleave of two numeric columns, so
    * each new part file covers a compact 2-D tile and its manifest
    * min/max narrow on BOTH dimensions — a conjunctive 2-D predicate
    * then skips most files at planning time, where the ingest-order
    * layout had to read everything. Published as remove(all live) +
    * add(tiles) with dataChange=false: same rows, new layout — the
    * change feed and a resumed stream see nothing, and older snapshots
    * stay time-travelable. This is the layout decision as a MAINTENANCE
    * op on live data, not an ingest-time choice — at 100 TB it runs
    * incrementally per partition, amortized like compaction. Returns
    * the number of files rewritten. */
  def optimizeZorder(spark: org.apache.spark.sql.SparkSession,
      dir: String, xCol: String, yCol: String, bits: Int = 8,
      nFiles: Int = 16): Int = {
    requireNoWap("OPTIMIZE ZORDER"); requireNoBranch("OPTIMIZE ZORDER")
    import org.apache.spark.sql.functions.col
    val schema = storedSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"graft-log table not found at $dir"))
    // An identity-partitioned table's layout is owned by the partition
    // column: the partitioned write's clustered distribution would
    // re-shuffle the Morton range layout away and silently produce
    // per-value files instead of 2-D tiles. Reject rather than degrade
    // (z-order the table before partitioning it, or choose one layout
    // — the same restriction Delta places on partition columns).
    require(partitionColOf(dir).isEmpty,
      s"cannot OPTIMIZE ZORDER an identity-partitioned table " +
        s"(partitioned by ${partitionColOf(dir).getOrElse("")}): the " +
        "partition layout owns file placement")
    val rewriteBase = currentVersion(dir)
    val live = entriesAsOf(dir, rewriteBase)
    if (live.isEmpty) return 0
    val replacement = readAt(spark, dir, live, rewriteBase)
      .withColumn("__graft_z",
        graft.functions.ZOrder.zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nFiles, col("__graft_z"))
      .drop("__graft_z")
    rewriteFiles(dir, live, replacement, schema,
      dataChange = false, baseVersion = rewriteBase)
    live.size
  }

  /** Partition EVOLUTION (Iceberg's partition-spec change + its
    * rewrite_data_files, as one maintenance op): re-key the table's
    * identity partitioning to `col` and rewrite the live snapshot
    * routed by it — one file per value, each carrying its partition
    * record, so KeyGrouped scans and storage-partitioned joins resume
    * on the NEW key immediately. A value-routed layout cannot evolve
    * by metadata alone (old files span many new-key values), so the
    * rewrite IS the evolution; `dataChange = false` keeps the relayout
    * invisible to the change feed, and subsequent appends route by the
    * new key through the ordinary partitioned write path. History
    * stays time-travelable (the pre-evolution files are retired, not
    * deleted, until vacuum's horizon passes). Returns the number of
    * files retired. */
  def repartitionTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, col: String): Int = {
    requireNoWap("repartition"); requireNoBranch("repartition")
    val schema = storedSchema(dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-log table not found at $dir"))
    require(schema.fieldNames.contains(col),
      s"no column '$col' at $dir")
    if (partitionColOf(dir).contains(col)) return 0
    val rewriteBase = currentVersion(dir)
    val live = entriesAsOf(dir, rewriteBase)
    if (live.isEmpty) {
      setPartitionCol(dir, col, allowChange = true)
      return 0
    }
    val replacement = readAt(spark, dir, live, rewriteBase)
    // the scratch write routes by the NEW key (override), but the
    // table's own declaration flips only AFTER the rewrite commits —
    // a crashed evolution leaves the old declaration intact and a
    // retry re-runs instead of silently no-opping on the early return
    rewriteFiles(dir, live, replacement, schema,
      dataChange = false, partitionOverride = Some(col),
      baseVersion = rewriteBase)
    setPartitionCol(dir, col, allowChange = true)
    live.size
  }

  /** `baseVersion` sentinel for "caller did not pre-plan a base" —
    * distinct from -1, which is a real base (empty table). */
  private[graft] val UnsetBase: Long = Long.MinValue

  /** Optimistic-concurrency guard for row-level rewrites: between the
    * snapshot the rewrite PLANNED against (`baseVersion`) and the
    * version it is CLAIMING, no other commit may have touched a file
    * this rewrite retires — a remove (someone else rewrote/compacted
    * it), a DV assignment (rows deleted under us), or a re-add
    * (RESTORE) all mean the planned replacement rows are stale.
    * Invoked INSIDE the commit CAS loop, so a lost version race
    * re-checks the widened span before retrying; a detected conflict
    * aborts loudly with a retryable error instead of silently
    * resurrecting overwritten rows (the Delta/Iceberg
    * concurrent-modification contract). Appends never trip this:
    * fresh files are new UUIDs, disjoint from any retired set. */
  private def requireNoFileConflicts(dir: String, baseVersion: Long,
      claiming: Long, retired: Set[String], op: String): Unit = {
    if (retired.isEmpty) return
    val span = listVersioned(dir, CommitPrefix)
      .filter { case (ver, _) => ver > baseVersion && ver < claiming }
    // The check is only sound if every version in the span is still
    // on disk as a commit file: a concurrent cross-process expireLog
    // may have folded part of the span into a checkpoint and deleted
    // those commit files, and a conflicting rewrite hidden in the
    // folded part would otherwise pass silently and resurrect
    // overwritten rows. Versions are contiguous (the CAS hands them
    // out one by one), so coverage = every number in the open span.
    val present = span.map(_._1).toSet
    val missing = (baseVersion + 1).until(claiming)
      .filterNot(present.contains)
    if (missing.nonEmpty)
      throw new GraftConcurrentModificationException(
        s"$op on $dir planned against version $baseVersion, but " +
          s"commit file(s) for version(s) ${missing.take(5).mkString(",")}" +
          " in its conflict-check span were expired into a " +
          "checkpoint by a concurrent log maintenance pass — " +
          "conflicts there are unverifiable; replan against the " +
          "current snapshot and retry")
    val touched = span
      .flatMap { case (_, f) => readEntryLines(f) }
      .filter(e => retired.contains(e.file))
    if (touched.nonEmpty)
      throw new GraftConcurrentModificationException(
        s"$op on $dir planned against version $baseVersion, but " +
          s"concurrent commit(s) touched ${touched.size} of its " +
          "input file(s): " +
          touched.map(e => s"v${e.version}:${e.action}:${e.file}")
            .distinct.take(5).mkString(", ") +
          " — replan against the current snapshot and retry")
  }

  /** Full-replace conflict guard for rewrites planned against an
    * EMPTY snapshot: with no retired files [[requireNoFileConflicts]]
    * is vacuous (nothing to touch), yet a concurrent FIRST commit's
    * rows would be served beside the full rewrite — the exact
    * duplicate-serving hazard the retired-file check closes for
    * non-empty plans (two bootstrap SCD2 publishers racing an empty
    * dimension would each keep the other's rows live). Any dataChange
    * entry in the span conflicts, retryably.
    *
    * Only dataChange ADDS are tested: [[LogEntry.remove]] hardcodes
    * dataChange=false, so a remove can never carry the flag itself —
    * and removes are still covered TRANSITIVELY, because a remove in
    * the span of a plan made against an EMPTY snapshot can only
    * retire a file some in-span dataChange add introduced (the base
    * had no files to retire), and that add trips the guard. */
  private def requireNoDataCommits(dir: String, baseVersion: Long,
      claiming: Long, op: String): Unit = {
    val data = listVersioned(dir, CommitPrefix)
      .filter { case (ver, _) => ver > baseVersion && ver < claiming }
      .flatMap { case (_, f) => readEntryLines(f) }
      .filter(e => e.isAdd && e.dataChange)
    if (data.nonEmpty)
      throw new GraftConcurrentModificationException(
        s"$op on $dir planned against an empty snapshot " +
          s"(v$baseVersion), but concurrent commit(s) landed " +
          s"${data.size} data entr(ies) in its span: " +
          data.map(e => s"v${e.version}:${e.action}:${e.file}")
            .distinct.take(5).mkString(", ") +
          " — replan against the current snapshot and retry")
  }

  /** Copy-on-write rewrite: write the replacement rows through the
    * normal writer into a scratch log (full stats/cols commit messages
    * for free), adopt its part files, and publish remove(old) +
    * add(new) as one version through [[commitRewrite]]. Zero-row parts
    * are dropped, not published. `dataChange = false` marks a pure
    * layout rewrite (same rows) that the change feed must skip. */
  private[graft] def rewriteFiles(dir: String, old: Seq[LogEntry],
      replacement: org.apache.spark.sql.DataFrame,
      schema: StructType, dataChange: Boolean = true,
      txn: Option[(String, Long)] = None,
      cdcChanges: Option[org.apache.spark.sql.DataFrame] = None,
      partitionOverride: Option[String] = None,
      baseVersion: Long = UnsetBase,
      fullReplace: Boolean = false): Unit = {
    // The conflict-detection base: the newest version when the rewrite
    // was planned (callers that pre-planned pass their own). -1 is a
    // REAL base — "the table was empty at plan time" — honored as-is
    // so the conflict span covers every version since the beginning;
    // only the unset sentinel falls back to a late read (which would
    // re-open the scratch-write window a pre-planned caller closed).
    val base =
      if (baseVersion != UnsetBase) baseVersion else currentVersion(dir)
    commitRewrite(dir, storedSchema(dir).getOrElse(schema), base,
      "rewrite", old.map(_.file), writeParts(dir, replacement,
        partitionOverride), cdcChanges, txn, dataChange, fullReplace)()
  }

  /** The one conflict-checked commit of every copy-on-write rewrite
    * and merge-on-read change. Stages `cdc` as typed CDC sidecars once
    * the `fresh` part files are written (a failed staging deletes
    * them), then ONE version publishes `touch(v)` for the `touched`
    * files (their removes by default; DVs for merge-on-read), `fresh`
    * as adds, the sidecars and the txn marker — provided no commit
    * since `base`, the snapshot the op read, touched one of those
    * files ([[requireNoFileConflicts]]; with `fullReplace` and nothing
    * touched, no data commit at all: [[requireNoDataCommits]]). A
    * conflict aborts retryably and deletes the uncommitted parts and
    * sidecars rather than leaving them for vacuum's horizon. */
  private def commitRewrite(dir: String, schema: StructType, base: Long,
      op: String, touched: Seq[String], fresh: Seq[LogEntry],
      cdc: Option[org.apache.spark.sql.DataFrame] = None,
      txn: Option[(String, Long)] = None, dataChange: Boolean = true,
      fullReplace: Boolean = false)(
      touch: Long => Seq[LogEntry] =
        v => touched.map(LogEntry.remove(v, _))): Unit = {
    def reclaim(es: Seq[LogEntry]): Unit =
      es.foreach(f => new File(dir, f.file).delete())
    val cdcEntries =
      try cdc.map(stageCdc(dir, _)).getOrElse(Seq.empty)
      catch { case e: Throwable => reclaim(fresh); throw e }
    try commitNew(dir, schema) { v =>
      requireNoFileConflicts(dir, base, v, touched.toSet, op)
      // a full-table replace planned against an EMPTY snapshot has no
      // touched files for the check above to defend — any concurrent
      // data commit in the span conflicts instead
      if (fullReplace && touched.isEmpty)
        requireNoDataCommits(dir, base, v, op)
      touch(v) ++
        fresh.map(e => LogEntry.add(v, e.file, e.rows, e.stats,
          dataChange = dataChange, cols = e.cols)) ++
        cdcEntries.map(_.copy(version = v)) ++
        txn.map { case (app, tv) => LogEntry.txn(v, app, tv) }.toSeq
    } catch {
      case e: GraftConcurrentModificationException =>
        reclaim(fresh ++ cdcEntries); throw e
    }
  }

  /** Batch commit. An append with extra columns evolves the stored
    * schema additively ([[mergeSchemas]]); each entry records its
    * file's own column list so readers decode every vintage. An empty
    * non-truncating append is a no-op. A truncate (overwrite) is ONE
    * ordinary version that removes every file live at its parent and
    * adds the new ones — with zero files it empties the table. History
    * before it stays time-travelable, and incremental consumers see it
    * as a non-append version ([[unreplayableVersions]]), the same as a
    * DELETE or MERGE.
    *
    * Concurrency: appends and overwrites run LOCK-FREE — fresh part
    * files are new UUIDs, so no two writes touch the same file; the
    * version CAS in [[commitNewUnlocked]] orders them and every one
    * commits without queueing on a lock (the Delta/Iceberg
    * disjoint-append rule). An overwrite reads its parent snapshot per
    * claimed version, so an append that wins the race to a version is
    * removed by the overwrite that follows it, never resurrected. Two
    * shapes still take the JVM lock: a schema-evolving write and a
    * txn-bearing append (the idempotence read-check must
    * not race its own marker's commit within this JVM; cross-process
    * idempotence rides the marker replay as before). */
  def append(dir: String, fresh: Seq[GraftLogCommit], schema: StructType,
      truncate: Boolean, txn: Option[(String, Long)] = None): Unit = {
    require(txn.isEmpty || !truncate,
      "txnAppId/txnVersion apply to appends only — replaying an " +
        "overwrite already leaves the same rows")
    // a SCHEMA-EVOLVING write (or a first write) takes the JVM lock:
    // two evolving writes racing the _schema read-modify-write could
    // silently drop one's new column; same-schema writes never write
    // _schema at all (commitNewUnlocked skips identical bytes)
    lazy val evolving = storedSchema(dir)
      .forall(s => mergeSchemas(s, schema) != s)
    if (txn.isDefined || evolving)
      synchronized { appendImpl(dir, fresh, schema, truncate, txn) }
    else appendImpl(dir, fresh, schema, truncate, txn)
  }

  private def appendImpl(dir: String, fresh: Seq[GraftLogCommit],
      schema: StructType, truncate: Boolean,
      txn: Option[(String, Long)]): Unit = {
    // Idempotent append (Delta's txnAppId/txnVersion write options):
    // with a txn identity, a replayed batch whose (appId, version) is
    // already recorded is a silent no-op — marker and data commit
    // atomically, so a foreachBatch sink retried after a crash can
    // never double-append its micro-batch.
    if (txn.exists { case (a, v) => lastTxnVersion(dir, a) >= v }) return
    if (fresh.isEmpty && !truncate && txn.isEmpty) return
    val merged =
      storedSchema(dir).map(mergeSchemas(_, schema)).getOrElse(schema)
    // dropped-column tombstones hold across an overwrite too: older
    // versions (time travel, RESTORE) still serve the dropped cells
    requireNoReservedAdds(dir, merged)
    commitNewUnlocked(dir, merged)(
      appendEntries(dir, _, fresh, truncate, txn))
  }

  /** The entries of an append (or, with `truncate`, an overwrite)
    * claiming version `v`. An overwrite removes every file live at
    * `v - 1`, read per claimed version, so whatever won the versions
    * before it is retired too. */
  private[graft] def appendEntries(dir: String, v: Long,
      fresh: Seq[GraftLogCommit], truncate: Boolean,
      txn: Option[(String, Long)] = None): Seq[LogEntry] = {
    val retired =
      if (!truncate) Seq.empty
      else entriesAsOf(dir, v - 1).map(e => LogEntry.remove(v, e.file))
    retired ++ fresh.map(c => LogEntry.add(v, c.file, c.rows, c.stats,
      cols = c.cols)) ++
      txn.map { case (a, tv) => LogEntry.txn(v, a, tv) }.toSeq
  }

  /** Commit timestamp of each version: the (shared) stamp its entries
    * carry. Oldest version first. */
  def versionTimestamps(dir: String): Seq[(Long, Long)] =
    versionTimestamps(entries(dir))

  /** [[versionTimestamps]] over entries already read, so a caller that
    * also lists them derives its stamps from the same read of the log. */
  def versionTimestamps(es: Seq[LogEntry]): Seq[(Long, Long)] =
    es.groupBy(_.version).view
      .mapValues(_.map(_.ts).max).toSeq.sortBy(_._1)

  /** `TIMESTAMP AS OF` resolution: the newest version committed at or
    * before `tsMillis` (Delta semantics). Fails loudly when the
    * timestamp predates the table. */
  def versionAtTimestamp(dir: String, tsMillis: Long): Long = {
    val vts = versionTimestamps(dir)
    vts.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates every commit of $dir " +
          s"(earliest: ${vts.headOption.map(_._2).getOrElse(-1L)})"))
  }

  /** RESTORE to a historical version (Delta `RESTORE TABLE ... VERSION
    * AS OF` in miniature): publish a NEW version whose live set equals
    * the target snapshot — files added since the target are removed,
    * files the target held that were since retired are re-added. The
    * restore is itself an ordinary commit: history is preserved (the
    * mistaken writes stay time-travelable — restore is not an undo of
    * the log, it is a redo of an old state), and re-added files carry
    * dataChange=true so incremental consumers see the restored rows.
    * Requires the target's files to still exist (an expire-history
    * vacuum retires them — the documented trade). Returns
    * (filesRemoved, filesReAdded). */
  def restore(dir: String, toVersion: Long): (Int, Int) = synchronized {
    val cur = entriesAsOf(dir, Long.MaxValue)
    val target = entriesAsOf(dir, toVersion)
    val curSet = cur.map(_.file).toSet
    val tgtSet = target.map(_.file).toSet
    target.filterNot(e => curSet(e.file)).foreach { e =>
      require(new File(dir, e.file).exists(),
        s"cannot restore to version $toVersion: ${e.file} was vacuumed")
    }
    val toRemove = cur.filterNot(e => tgtSet(e.file))
    val toReadd = target.filterNot(e => curSet(e.file))
    // deletion-vector state is part of the snapshot: a file live in
    // both versions whose DV differs gets a dv entry resetting it to
    // the target's descriptor (re-adds restore theirs through the
    // annotated stats they carry). Target DV files must still exist.
    val curDv = cur.map(e => e.file -> dvOf(e)).toMap
    val dvFixes = target.filter(e => curSet(e.file))
      .filter(e => dvOf(e) != curDv(e.file))
    (toReadd ++ dvFixes).foreach(e => dvOf(e).foreach { case (f, _) =>
      require(new File(dir, f).exists(),
        s"cannot restore to version $toVersion: DV $f was vacuumed")
    })
    // restoring to the current state commits nothing
    if (toRemove.nonEmpty || toReadd.nonEmpty || dvFixes.nonEmpty)
      commitNew(dir, storedSchema(dir).getOrElse(StructType(Nil)))(v =>
        toRemove.map(e => LogEntry.remove(v, e.file)) ++
          toReadd.map(e => LogEntry.add(v, e.file, e.rows, e.stats,
            dataChange = true, cols = e.cols)) ++
          dvFixes.map(e => LogEntry.dv(v, e.file, dvOf(e))))
    (toRemove.size, toReadd.size)
  }

  /** Atomic copy-on-write group replace — the commit shape of a SQL
    * UPDATE / MERGE INTO rewritten through Spark's group-based
    * row-level-operation machinery: ONE version removes every file the
    * operation's scan planned and adds the rewritten parts. Readers
    * either see the whole pre-op snapshot or the whole post-op one
    * (snapshot isolation holds across the rewrite), and the pre-op
    * version stays time-travelable. The scan read snapshot
    * `baseVersion`, so a commit since then that touched a planned file
    * (a DV hiding a row the rewrite carried, a compaction moving it)
    * aborts the op retryably instead of resurrecting or duplicating
    * rows. Zero-row part files (a writer task that received no rows)
    * are dropped and deleted rather than published. */
  def replaceFiles(dir: String, retired: Seq[String],
      fresh: Seq[GraftLogCommit], schema: StructType,
      baseVersion: Long): Unit = {
    requireNoWap("row-level rewrite")
    requireNoBranch("row-level rewrite")
    val (kept, empty) = fresh.partition(_.rows > 0L)
    empty.foreach(c => new File(dir, c.file).delete())
    if (retired.isEmpty && kept.isEmpty) return
    val merged =
      storedSchema(dir).map(mergeSchemas(_, schema)).getOrElse(schema)
    requireNoReservedAdds(dir, merged)
    commitRewrite(dir, merged, baseVersion, "row-level rewrite", retired,
      kept.map(c => LogEntry.add(-1L, c.file, c.rows, c.stats,
        cols = c.cols)))()
  }
}

class GraftLogTable(dir: String, writeSchema: StructType,
    asOfVersion: Long = Long.MaxValue,
    declaredPartitionCol: Option[String] = None,
    typedCdf: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  override def name(): String = s"graft_log($dir)"

  /** SQL `TRUNCATE TABLE`: the unconditional DELETE — one metadata
    * commit removes every live file (no data I/O), history stays
    * time-travelable, and a CDF-enabled table publishes every
    * vanished row as a typed delete in the same commit, so downstream
    * replicas follow the wipe instead of silently diverging. */
  override def truncateTable(): Boolean = {
    GraftLog.deleteWhereMoR(
      org.apache.spark.sql.SparkSession.active, dir, Array.empty)
    true
  }

  /** Stored TBLPROPERTIES (SHOW TBLPROPERTIES / DESCRIBE EXTENDED
    * read these; SET/UNSET TBLPROPERTIES writes through alterTable). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    GraftLog.propertiesOf(dir).foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** The table's identity partition column: declared on this write
    * (`option("partitionCol", c)` / DDL `PARTITIONED BY (c)`), else
    * whatever the table already persists. */
  private def partitionCol: Option[String] =
    declaredPartitionCol.orElse(GraftLog.partitionColOf(dir))

  override def partitioning(): Array[Transform] =
    partitionCol.map(c => Expressions.identity(c)).toArray

  /** Stored CHECK constraints, reported ENFORCED — Spark's write path
    * then injects the violation check into every INSERT/UPDATE/MERGE
    * plan against this table (the engine enforces; the format only
    * remembers). */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftLog.constraintsOf(dir).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** `_file` metadata column (Delta `_metadata.file_path` / Iceberg
    * `_file` in miniature): the manifest part file each row was read
    * from, served by the reader from its partition — no I/O, no
    * storage. Row-level operations also require it, which keeps their
    * write plans on Spark's metadata-projection path (the operation
    * discriminator column is stripped before rows reach the writer). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      // nullable: a MERGE's not-matched inserts carry no source file
      override def isNullable(): Boolean = true
      override def comment(): String =
        "manifest part file this row was read from"
    },
    new MetadataColumn {
      // physical row ordinal within `_file` — (_file, _pos) is the
      // row's stable address, the coordinate a deletion vector records
      // (Iceberg's position delete / Delta's DV row index)
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable(): Boolean = true
      override def comment(): String =
        "row ordinal within its part file"
    })

  /** SQL `UPDATE` / `MERGE INTO` (and the DELETEs `canDeleteWhere`
    * rejects) land here: Spark rewrites the command into a group-based
    * copy-on-write `ReplaceData` plan over this operation. Convertible
    * DELETEs still take the cheaper merge-on-read path — Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` converts the rewrite back
    * through [[SupportsDelete]] when the predicate allows. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new GraftLogRowLevelOperation(dir, schema(), info.command())

  // SQL `DELETE FROM t WHERE ...` — merge-on-read: a stats-targeted
  // deletion-vector commit that rewrites no file, switching to a
  // copy-on-write rewrite of the touched files past the position cap
  // (GraftLog.deleteWhereMoR). An unconditional `DELETE FROM t` is the
  // pure-metadata retire-every-file commit. Predicates the metadata
  // path cannot replay are refused by canDeleteWhere and rewrite
  // through the row-level operation instead.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftLog.convertible)
  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftLog.deleteWhereMoR(
      org.apache.spark.sql.SparkSession.active, dir, filters)
  override def schema(): StructType = {
    // Reads see the stored schema; a write whose frame carries extra
    // columns sees the stored⊕incoming merge, so Spark's append
    // validation admits the widened frame and the commit then persists
    // the same merge (additive evolution; type changes reject loudly).
    val stored = GraftLog.storedSchema(dir)
    val base =
      if (writeSchema.isEmpty) stored.getOrElse(writeSchema)
      else stored.map(GraftLog.mergeSchemas(_, writeSchema))
        .getOrElse(writeSchema)
    // typed change feed: the relation carries _change_type; rows from
    // versions without CDC sidecars read NULL there (pure inserts —
    // the reader helper coalesces)
    if (typedCdf)
      StructType(base.fields :+ StructField(GraftLog.ChangeTypeCol,
        StringType, nullable = true))
    else base
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(new File(dir, GraftLog.SchemaFile).exists(),
      s"graft-log table not found at $dir (no ${GraftLog.SchemaFile}; " +
        "reads never create tables — check the path)")
    // numeric = a version; anything else = a named ref (tag)
    val hi = Option(options.get("asOfVersion"))
      .map(GraftLog.resolveVersion(dir, _)).getOrElse(asOfVersion)
    // change feed: rows appended in (changesFromVersion, hi]
    val lo = Option(options.get("changesFromVersion")).map(_.toLong)
      .getOrElse(-1L)
    // maintenance-internal: restrict the scan to named manifest files
    // (row-level MERGE/DELETE scan exactly the files they target)
    val pick = Option(options.get("pickFiles"))
      .map(_.split(",").filter(_.nonEmpty).toSet)
    // streaming admission control: at most this many versions per
    // micro-batch (throttled backfill)
    val maxV = Option(options.get("maxVersionsPerBatch")).map(_.toLong)
    // write-audit-publish AUDIT read: with a wap id (read option, or
    // the session conf the staging write used), the scan folds the
    // staged-but-unpublished entries in on top of the snapshot — the
    // view quality checks validate before a publish. Batch reads
    // only; the change feed keeps its committed-versions contract.
    val overlay = Option(options.get("wapId"))
      .orElse(GraftLog.activeWapId())
      .filter(_ => lo < 0L)
      .map(GraftLog.stagedEntries(dir, _)).getOrElse(Seq.empty)
    // Branch read: plan the main snapshot AT THE FORK plus the
    // branch's commits as an overlay — main commits after the fork
    // never leak in, and the change feed keeps its committed-versions
    // contract (branch reads are batch snapshots only). A session
    // cannot be mid-audit and on a branch at once — loud.
    val branch = Option(options.get("branch"))
      .orElse(GraftLog.activeBranch())
      .filter(_ => lo < 0L)
    branch.foreach { b =>
      require(overlay.isEmpty,
        s"cannot read branch '$b' with a WAP audit overlay active — " +
          "unset one of the two")
      require(Option(options.get("asOfVersion")).isEmpty,
        s"cannot combine VERSION AS OF with branch '$b' — a branch " +
          "read is pinned at its fork")
    }
    val (effHi, effOverlay) = branch match {
      case Some(b) =>
        (GraftLog.branches(dir).getOrElse(b,
          throw new IllegalArgumentException(
            s"no branch '$b' at $dir")),
          GraftLog.branchEntries(dir, b).filter(_.isAdd))
      case None => (hi, overlay)
    }
    if (typedCdf) require(
      Option(options.get("changesFromVersion")).isDefined,
      "readChangeFeed=true needs changesFromVersion — a typed feed " +
        "is a span of changes, not a snapshot (-1 = from the origin)")
    new GraftLogScanBuilder(dir, schema(), effHi, lo, pick, maxV,
      stagedOverlay = effOverlay, typedCdf = typedCdf)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // A write to a partitioned table MUST carry the partition column:
    // silently dropping it would commit record-less files that disable
    // KeyGrouped scan grouping for the whole table (and the next
    // compaction would then merge every partition into one file).
    // Loud at plan time, like the append-redeclaration check below.
    partitionCol.foreach(c =>
      require(info.schema().fieldNames.contains(c),
        s"write to table at $dir partitioned by $c must include the " +
          s"partition column (got ${info.schema().fieldNames.mkString(", ")})"))
    // Delta-style idempotent-writer options: a write carrying
    // txnAppId + txnVersion commits its data AND the marker in one
    // version; a replay of the same (appId, version) is a no-op.
    val txn = Option(info.options.get("txnAppId")).map { app =>
      val v = Option(info.options.get("txnVersion")).getOrElse(
        throw new IllegalArgumentException(
          s"write option txnAppId='$app' requires txnVersion"))
      (app, v.toLong)
    }
    new GraftLogWriteBuilder(dir, info.schema(), truncate = false,
      partitionCol = partitionCol, txn = txn)
  }
}

/** Group-based copy-on-write row-level operation [EXT] — what Spark's
  * analyzer asks a table for when it plans SQL `UPDATE`, `MERGE INTO`,
  * or a `DELETE` whose predicate the metadata path can't express. The
  * contract (the one Iceberg implements for its copy-on-write mode):
  *
  *  - Spark pushes the command's condition into [[newScanBuilder]]'s
  *    scan as a GROUP filter: the connector may skip whole files it
  *    can prove unaffected, but must return every row of each kept
  *    file — Spark re-applies the condition row-wise inside the
  *    `ReplaceData` plan and writes back kept files in full (updated
  *    rows updated, untouched rows copied). `GraftLogScan`'s
  *    residual-only pushFilters contract is exactly this: skipping is
  *    file-conservative, rows are never dropped by the reader.
  *  - The operation instance bridges scan and write: its scan reads
  *    the snapshot current when the operation was built, and the
  *    files that scan PLANNED are the groups the write's commit must
  *    replace. [[GraftLog.replaceFiles]] publishes remove(planned) +
  *    add(rewritten) as ONE atomic version, conflict-checked against
  *    that snapshot (a concurrent DV, rewrite or compaction of a
  *    planned file aborts the operation retryably), so the manifest stats
  *    bound UPDATE write amplification the same way they bound the
  *    API-level merge: files whose [min, max] refute the condition
  *    never rewrite.
  *
  * At 100 TB this is the difference between an UPDATE that rewrites a
  * table and one that rewrites the touched key range — and because the
  * rewrite is an ordinary commit, time travel, CDF exclusion of
  * removed files, and snapshot isolation all hold across it. */
class GraftLogRowLevelOperation(dir: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  /** Files planned by the operation's scan — captured at scan build
    * time on the driver, consumed by the write's commit. */
  @volatile private var scannedFiles: Seq[String] = Seq.empty
  /** The snapshot the scan reads and the commit checks conflicts
    * against. */
  private val base = GraftLog.currentVersion(dir)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-log copy-on-write $cmd"

  /** Requiring `_file` keeps Spark's ReplaceData write on the
    * metadata-projection path: without at least one metadata
    * attribute, Spark 4's group-based rewrite hands the writer RAW
    * rows still carrying the `__row_operation` discriminator column —
    * with it, rows are projected back to the data schema before
    * reaching the writer (the same reason Iceberg's copy-on-write
    * operation requires `_file`). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val op = this
    // the plan hook re-records the group set AFTER runtime group
    // filtering has narrowed it — the commit must replace exactly the
    // files the write actually read and rewrote
    new GraftLogScanBuilder(dir, tableSchema, base, -1L,
      cowPlanHook = Some(fs => op.scannedFiles = fs)) {
      // defensive: a metadata-aggregate scan would bypass the file
      // bookkeeping the COW commit depends on (Spark never pushes
      // aggregates into a ReplaceData scan, but the invariant is
      // load-bearing enough to enforce locally)
      override def supportCompletePushDown(
          agg: Aggregation): Boolean = false
      override def pushAggregation(agg: Aggregation): Boolean = false
      override def build(): Scan = super.build() match {
        case s: GraftLogScan =>
          op.scannedFiles = s.plannedFileNames
          s
        case other => throw new IllegalStateException(
          s"row-level operation scan must be a GraftLogScan, got $other")
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          // a partitioned table's COW rewrite keeps routing rows per
          // value, so the rewritten files keep their partition record
          // (UPDATE/MERGE do not forfeit storage-partitioned joins)
          private val pcol = GraftLog.partitionColOf(dir)
            .filter(info.schema().fieldNames.contains)
          override def createBatchWriterFactory(
              pinfo: PhysicalWriteInfo): DataWriterFactory =
            new GraftLogWriterFactory(dir, info.schema(), pcol)
          override def commit(
              messages: Array[WriterCommitMessage]): Unit =
            GraftLog.replaceFiles(dir, scannedFiles,
              GraftLogCommit.all(messages), info.schema(),
              baseVersion = base)
          override def abort(
              messages: Array[WriterCommitMessage]): Unit =
            GraftLogCommit.all(messages).foreach(c =>
              new File(dir, c.file).delete())
        }
      }
    }
}

/** Scan builder with the two pushdowns that make a table format usable
  * at scale: comparison filters (consumed for manifest-stats file
  * skipping, then returned to Spark as residuals — skipping is
  * file-conservative, not row-exact) and required-column pruning (the
  * reader decodes only projected cells). */
class GraftLogScanBuilder(dir: String, tableSchema: StructType,
    asOfVersion: Long, changesFromVersion: Long,
    pickFiles: Option[Set[String]] = None,
    maxVersionsPerBatch: Option[Long] = None,
    cowPlanHook: Option[Seq[String] => Unit] = None,
    stagedOverlay: Seq[LogEntry] = Seq.empty,
    typedCdf: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var metaCount: Boolean = false
  private var limit: Option[Int] = None

  /** LIMIT pushdown: the scan plans only a PREFIX of the live files
    * whose manifest row counts cover the limit — a `LIMIT 10` against
    * a million-file table opens one file. Spark only offers the limit
    * when no filter sits above the scan, and keeps applying the exact
    * row cut itself (partial push), so over-planning is impossible
    * and under-planning is prevented by requiring known row counts. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftLogScan.usableForSkipping(tableSchema, _))
    filters // all residual: files are skipped, rows are Spark's job
  }
  override def pushedFilters(): Array[Filter] = pushed
  // An empty required schema (count-star) is fine: the reader streams
  // lines and emits zero-column rows without parsing a single cell.
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only aggregates: every manifest `add` carries its file's
    * exact row count and numeric min/max, so an unfiltered, ungrouped
    * COUNT(*) / MIN(col) / MAX(col) is a fold over a few manifest
    * entries — zero data files opened, the same planning-time answer
    * Delta/Iceberg serve from their stats. Only complete pushdown,
    * only when every live entry carries the needed stat (legacy
    * stat-less manifests scan; an all-NULL file has no min/max entry
    * for that column and correctly blocks the pushdown — its NULLs
    * don't change MIN/MAX only when other files have values, which
    * the manifest can't prove), and only with no residual filters
    * (Spark won't offer the aggregate otherwise; the guard keeps the
    * invariant local). */
  // One manifest read serves supportCompletePushDown, pushAggregation,
  // and the built scan — the metadata path must not parse the manifest
  // three times per planned query.
  private lazy val liveForMeta =
    GraftLogCountScan.liveEntries(dir, asOfVersion, changesFromVersion)

  private def metaAnswerable(agg: Aggregation): Boolean = {
    // the typed change feed's rows are the CDC sidecar rows, not the
    // add listing liveForMeta folds — a pushed COUNT/MIN/MAX would
    // answer from the wrong population; stand down to the real scan
    if (typedCdf) return false
    val live = liveForMeta
    def statCol(f: AggregateFunc): Option[String] = f match {
      case m: Min => m.column() match {
        case fr: NamedReference if fr.fieldNames.length == 1 =>
          Some(fr.fieldNames()(0))
        case _ => None
      }
      case m: Max => m.column() match {
        case fr: NamedReference if fr.fieldNames.length == 1 =>
          Some(fr.fieldNames()(0))
        case _ => None
      }
      case _ => None
    }
    // GROUP BY is answerable from the manifest in exactly one shape:
    // grouping on the table's identity partition column when every
    // live file carries its partition record — each file belongs to
    // one group, so per-group COUNT/MIN/MAX fold over that group's
    // manifest entries, never opening a file. The partition-level
    // statistics query every warehouse dashboard runs, served from
    // the catalog.
    val groupOk = agg.groupByExpressions.toSeq match {
      case Seq() => true
      case Seq(fr: NamedReference) if fr.fieldNames.length == 1 =>
        GraftLog.partitionColOf(dir).contains(fr.fieldNames()(0)) &&
          live.nonEmpty && live.forall(e =>
            GraftLogPartValue.of(e, fr.fieldNames()(0)).isDefined)
      case _ => false
    }
    pushed.isEmpty && pickFiles.isEmpty && groupOk &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar =>
          live.forall(_.rows >= 0L)
        // a deletion vector may have removed the extremum, so manifest
        // min/max are stale on DV'd files: COUNT stays exact
        // (rows - dv cardinality); MIN/MAX falls back to the scan
        case f @ (_: Min | _: Max) =>
          live.forall(e => GraftLog.dvOf(e).isEmpty) &&
          statCol(f).exists(c =>
          tableSchema.fields.exists(tf => tf.name == c && (tf.dataType match {
            case LongType | IntegerType | DoubleType => true
            case _ => false
          })) && live.nonEmpty && live.forall(e =>
            // pre-rename files key the stat under the former name
            e.stats.get(GraftLog.fileLocalName(tableSchema, e, c))
              .exists {
            // NaN/Infinity stats (a NaN first row freezes the writer's
            // min/max compare) must fall back to the real scan, not
            // crash planning in the BigDecimal fold below
            case (mn, mx) => decimalParseable(mn) && decimalParseable(mx)
          }))
        case _ => false
      }
  }

  private def decimalParseable(s: String): Boolean =
    try { new java.math.BigDecimal(s); true }
    catch { case _: NumberFormatException => false }
  // An audit (write-audit-publish) read folds STAGED entries into the
  // scan; the metadata-aggregate fast path reasons only about
  // committed state, so it stands down for the (rare) audit read
  // rather than answer from half the data.
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    stagedOverlay.isEmpty && metaAnswerable(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (stagedOverlay.isEmpty && metaAnswerable(agg)) {
      metaAgg = Some(agg); true
    } else false
  }
  private var metaAgg: Option[Aggregation] = None

  override def build(): Scan = metaAgg match {
    case Some(agg) =>
      new GraftLogCountScan(dir, tableSchema, agg, liveForMeta)
    case None => new GraftLogScan(dir, tableSchema,
      required, pushed, asOfVersion, changesFromVersion, pickFiles,
      limit, maxVersionsPerBatch, cowPlanHook, stagedOverlay,
      typedCdf = typedCdf)
  }
}

/** The scan a pushed-down metadata aggregate builds: one partition,
  * one row, each value folded from the manifest (COUNT(*) = sum of
  * row counts, MIN/MAX = fold of per-file stats in the column's own
  * type) — the table is never touched. `description` reports
  * `metaCount=` for the plan asserts. */
class GraftLogCountScan(dir: String, tableSchema: StructType,
    agg: Aggregation, live: Seq[LogEntry]) extends Scan with Batch {

  /** GROUP BY on the identity partition column (the only grouping the
    * builder admits): one output row per partition value, each folded
    * over that value's manifest entries alone. */
  private val groupCol: Option[String] =
    agg.groupByExpressions.toSeq match {
      case Seq(fr: NamedReference) => Some(fr.fieldNames()(0))
      case _ => None
    }

  private def colOf(f: AggregateFunc): String = {
    val fr = (f match {
      case m: Min => m.column()
      case m: Max => m.column()
      case other => throw new IllegalStateException(s"unexpected $other")
    }).asInstanceOf[NamedReference]
    fr.fieldNames()(0)
  }
  private def dtypeOf(c: String): DataType =
    tableSchema.fields.find(_.name == c).get.dataType
  private def asValue(c: String, s: String): Any = dtypeOf(c) match {
    case LongType => s.toLong
    case IntegerType => s.toInt
    case DoubleType => s.toDouble
    case other => throw new IllegalStateException(s"no stats for $other")
  }
  private def fold(entries: Seq[LogEntry], c: String,
      pickMin: Boolean): Any = {
    val vals = entries.map { e =>
      // pre-rename files key the stat under the former name
      val st = e.stats(GraftLog.fileLocalName(tableSchema, e, c))
      new java.math.BigDecimal(if (pickMin) st._1 else st._2)
    }
    val best = if (pickMin) vals.min else vals.max
    asValue(c, best.toPlainString)
  }
  private def foldAll(entries: Seq[LogEntry]): Array[Any] =
    agg.aggregateExpressions.map {
      case _: CountStar =>
        entries.map(GraftLog.effectiveRows).sum: Any
      case m: Min => fold(entries, colOf(m), pickMin = true)
      case m: Max => fold(entries, colOf(m), pickMin = false)
      case other => throw new IllegalStateException(s"unexpected $other")
    }
  private val resultRows: Seq[Array[Any]] = groupCol match {
    case None => Seq(foldAll(live))
    case Some(c) =>
      live.groupBy(e => GraftLogPartValue.of(e, c).get).toSeq
        .map { case (v, es) => (v +: foldAll(es)).toArray }
  }
  // group columns lead the pushed-aggregate output schema (the DSv2
  // complete-pushdown convention)
  override def readSchema(): StructType = StructType(
    groupCol.map(c =>
      StructField(c, dtypeOf(c), nullable = true)).toSeq ++
    agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) =>
        StructField(s"agg_$i", LongType, nullable = false)
      case (f @ (_: Min | _: Max), i) =>
        StructField(s"agg_$i", dtypeOf(colOf(f)), nullable = false)
      case (other, _) =>
        throw new IllegalStateException(s"unexpected $other")
    })
  override def toBatch: Batch = this
  override def description(): String = groupCol match {
    case None =>
      s"graft_log $dir metaCount=${resultRows.head.mkString("|")} " +
        "files=0/0 (manifest-only aggregate)"
    case Some(c) =>
      s"graft_log $dir metaGroups=${resultRows.size} by=$c files=0/0 " +
        "(manifest-only grouped aggregate)"
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLogCountPartition(resultRows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = p.asInstanceOf[GraftLogCountPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.size }
          override def get(): InternalRow =
            new GenericInternalRow(rows(i))
          override def close(): Unit = ()
        }
    }
}

object GraftLogCountScan {
  def liveEntries(dir: String, asOfVersion: Long,
      changesFromVersion: Long): Seq[LogEntry] =
    if (changesFromVersion >= 0L) {
      // same horizon guard as the row-scan feed path: a COUNT pushed
      // down to manifest arithmetic over a partly-expired span would
      // otherwise silently count only the surviving tail
      GraftLog.requireSpanReplayable(dir, changesFromVersion)
      GraftLog.changedEntriesBetween(dir, changesFromVersion, asOfVersion)
    } else GraftLog.entriesAsOf(dir, asOfVersion)
}

case class GraftLogCountPartition(rows: Seq[Array[Any]])
    extends InputPartition

/** Micro-batch writes through the same part-file + manifest protocol;
  * `commit(epochId, ...)` is idempotent per epoch, so a replayed batch
  * after restart publishes nothing twice. */
class GraftLogStreamingWrite(dir: String, schema: StructType,
    partitionCol: Option[String] = None)
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StreamingDataWriterFactory {
      private val inner = new GraftLogWriterFactory(dir, schema,
        partitionCol)
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        inner.createWriter(partitionId, taskId)
    }
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // a streaming sink's epoch ledger is mainline-only: a branch has
    // no epoch store, so committing here mid-branch would silently
    // write to MAIN against the session's declared intent — loud
    GraftLog.requireNoBranch("streaming epoch commit")
    partitionCol.foreach(GraftLog.setPartitionCol(dir, _))
    GraftLog.publishEpoch(dir, epochId,
      GraftLogCommit.all(messages), schema)
  }
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // same post-publish-throw guard as the batch abort: epoch commits
    // go through the identical hard-link CAS tail
    val live =
      try GraftLog.referencedFiles(dir)
      // NonFatal only: swallowing OOM/interrupt here would clear the
      // thread's interrupt status and hide a dying JVM
      catch { case scala.util.control.NonFatal(_) => return }
    GraftLogCommit.all(messages).filterNot(c => live.contains(c.file))
      .foreach(c => new File(dir, c.file).delete())
  }
}

/** One written part file, as its commit entry will record it. */
case class GraftLogCommit(file: String, rows: Long,
    stats: Map[String, (String, String)] = Map.empty,
    cols: Seq[String])

/** The files a writer task commits: one per partition value it saw
  * (one in all when unpartitioned), plus each file it rolled. */
case class GraftLogTaskCommit(files: Seq[GraftLogCommit])
    extends WriterCommitMessage

object GraftLogCommit {
  /** Every file commit in a message batch. */
  def all(messages: Array[WriterCommitMessage]): Seq[GraftLogCommit] =
    messages.toSeq.flatMap {
      case t: GraftLogTaskCommit => t.files
      case _ => Seq.empty
    }
}

class GraftLogWriteBuilder(dir: String, schema: StructType,
    truncate: Boolean, partitionCol: Option[String] = None,
    txn: Option[(String, Long)] = None)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new GraftLogWriteBuilder(dir, schema, truncate = true, partitionCol,
      txn)
  override def build(): Write = {
    // a conflicting partition re-declaration on an APPEND fails at
    // plan time, before any part file is written (an overwrite
    // replaces every live file and may relayout)
    if (!truncate)
      GraftLog.partitionColOf(dir).foreach(stored =>
        require(partitionCol.forall(_ == stored),
          s"table at $dir is partitioned by $stored; an append " +
            s"cannot redeclare partitionCol=${partitionCol.get} " +
            "(overwrite the table to relayout)"))
    buildWrite()
  }
  private def buildWrite(): Write = partitionCol match {
    // Partitioned table: ask Spark to CLUSTER the incoming rows by the
    // partition column before they reach the writers — each value then
    // lands in one task and the per-value file count stays bounded by
    // the value count, not value count × task count (the same
    // requirement Iceberg's write distribution mode 'hash' declares).
    case Some(c) => new Write with RequiresDistributionAndOrdering {
      override def requiredDistribution(): Distribution =
        Distributions.clustered(Array(Expressions.identity(c)))
      override def requiredOrdering():
          Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        Array.empty
      override def toBatch: BatchWrite = new GraftLogBatchWrite(
        dir, schema, truncate, partitionCol, txn)
      override def toStreaming: StreamingWrite =
        new GraftLogStreamingWrite(dir, schema, partitionCol)
    }
    case None => new Write {
      override def toBatch: BatchWrite = new GraftLogBatchWrite(
        dir, schema, truncate, partitionCol, txn)
      override def toStreaming: StreamingWrite =
        new GraftLogStreamingWrite(dir, schema, partitionCol)
    }
  }
}

class GraftLogBatchWrite(dir: String, schema: StructType,
    truncate: Boolean, partitionCol: Option[String] = None,
    txn: Option[(String, Long)] = None)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftLogWriterFactory(dir, schema, partitionCol)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // write-audit-publish: with a WAP id set on the session, an
    // APPEND stages instead of committing (part files written,
    // entries parked in the `_staged.<id>` side file — invisible
    // until `CALL system.publish_staged`). An overwrite cannot stage
    // (a staging holds only adds; the files an overwrite removes are
    // known only at its commit) — loud, not silent.
    val branch = GraftLog.activeBranch()
    branch.foreach(b => require(GraftLog.activeWapId().isEmpty,
      s"a session cannot write with both a WAP id and branch '$b' " +
        "set — unset one"))
    // txn identity composes with NEITHER staging nor branching: the
    // idempotence check reads MAINLINE markers, and a staged/branched
    // replay would silently skip or double-commit at publish time
    txn.foreach { case (a, _) =>
      require(GraftLog.activeWapId().isEmpty && branch.isEmpty,
        s"txnAppId='$a' cannot combine with a WAP id or branch — " +
          "idempotent appends are a mainline contract") }
    GraftLog.activeWapId() match {
      case Some(id) if !truncate =>
        // the partition DECLARATION (layout metadata, no rows) still
        // persists — entries staged with `#part` records must match
        // the declaration readers resolve after publish
        partitionCol.foreach(
          GraftLog.setPartitionCol(dir, _, allowChange = false))
        GraftLog.stageAppend(dir, id, GraftLogCommit.all(messages),
          schema)
      case Some(_) => GraftLog.requireNoWap("overwrite")
      case None if branch.isDefined && !truncate =>
        partitionCol.foreach(
          GraftLog.setPartitionCol(dir, _, allowChange = false))
        GraftLog.appendToBranch(dir, branch.get,
          GraftLogCommit.all(messages), schema)
      case None if branch.isDefined =>
        GraftLog.requireNoBranch("overwrite")
      case None =>
        // idempotent replay: this (appId, version) already committed
        // — discard the freshly written (uncommitted) part files
        // instead of double-appending the micro-batch
        if (txn.exists { case (a, v) =>
            GraftLog.lastTxnVersion(dir, a) >= v }) {
          GraftLogCommit.all(messages).foreach(c =>
            new File(dir, c.file).delete())
        } else {
          // persist the partition declaration with the first
          // partitioned commit, so readers (and later writers) resolve
          // it from the table; an overwrite replaces every live file
          // and may redeclare a different column
          partitionCol.foreach(
            GraftLog.setPartitionCol(dir, _, allowChange = truncate))
          GraftLog.append(dir, GraftLogCommit.all(messages), schema,
            truncate, txn)
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // commit() can throw AFTER its version is already published (the
    // post-link tail) — delete only files no log structure references;
    // an unreadable log proves nothing, so keep the orphans (invisible
    // either way) rather than risk tearing a committed snapshot
    val live =
      try GraftLog.referencedFiles(dir)
      // NonFatal only: swallowing OOM/interrupt here would clear the
      // thread's interrupt status and hide a dying JVM
      catch { case scala.util.control.NonFatal(_) => return }
    GraftLogCommit.all(messages).filterNot(c => live.contains(c.file))
      .foreach(c => new File(dir, c.file).delete())
  }
}

class GraftLogWriterFactory(dir: String, schema: StructType,
    partitionCol: Option[String] = None)
    extends DataWriterFactory {
  /** Open per-value part files a single writer task may hold. */
  private val MaxOpenPartitions = 1000

  /** Block size for the gcol payload — resolved ONCE, driver-side, at
    * factory construction (the factory ships serialized to executors,
    * which have no session). Conf'able so probes/tests can force
    * multi-block files on small fixtures; byte-string values
    * ('4MB', '64k') parse like Spark's own size confs. */
  private val blockChars: Long = GraftLog.byteConf(
    "spark.graft.log.blockBytes", GraftColFile.DefaultBlockChars)

  /** Task-wide cap on raw characters buffered across ALL open part
    * files: a partitioned task may hold up to MaxOpenPartitions gcol
    * writers, each buffering up to a block — unbounded, that is
    * multi-GB of task heap. Past the cap the task flushes the
    * LARGEST open blocks early (smaller blocks, same correctness)
    * until usage halves. */
  private val taskBufferChars: Long = GraftLog.byteConf(
    "spark.graft.log.taskBufferBytes", 64L << 20)

  /** Raw characters at which a part file closes and the next row
    * opens a fresh one: the table's [[GraftLog.TargetBytesProp]],
    * read ONCE here on the driver like [[blockChars]]. Every write
    * rolls at it — appends, copy-on-write rewrites and compaction. */
  private val targetChars: Long = GraftLog.targetBytesOf(dir)

  /** The part files of one partition value (or of the whole task when
    * unpartitioned): the file in flight — gcol block writer +
    * per-column stats + blooms — and the files it already rolled. */
  private class PartFile(partValue: Option[Any]) {
    private val rolled =
      scala.collection.mutable.ArrayBuffer.empty[GraftLogCommit]
    private var file: String = _
    private var out: GraftColFile.Writer = _
    // Per-column min/max, NDV-sized blooms, HLL sketches and null
    // counts, fed the canonical cells as they stream through.
    private var tracker: GraftLogCellStats = _
    open()

    private def open(): Unit = {
      file = s"part-${UUID.randomUUID()}${GraftColFile.Extension}"
      GraftLog.ensureDir(dir)
      out = new GraftColFile.Writer(Paths.get(dir, file),
        schema.fieldNames.toSeq, schema.fields.map(_.dataType).toSeq,
        blockChars)
      tracker = new GraftLogCellStats(schema)
    }

    def write(row: InternalRow): Unit = {
      if (out == null) open()
      val cells = schema.fields.zipWithIndex.map { case (f, i) =>
        if (row.isNullAt(i)) GraftLog.NullCell
        else f.dataType match {
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case DoubleType =>
            java.lang.Double.toString(row.getDouble(i))
          case StringType => row.getUTF8String(i).toString
          case other => throw new IllegalArgumentException(
            s"graft-log does not encode $other")
        }
      }
      tracker.add(cells)
      out.write(cells)
      if (out.rawChars >= targetChars) close()
    }

    private def close(): Unit = {
      val raw = out.rawChars
      val rows = out.finish()
      // the file's identity-partition value, when this is a
      // partitioned write — what the scan groups on for SPJ
      val pvStat = (partitionCol, partValue) match {
        case (Some(c), Some(v)) =>
          Map(GraftLogPartValue.key(c) -> GraftLogPartValue.encode(v))
        case _ => Map.empty[String, (String, String)]
      }
      rolled += GraftLogCommit(file, rows,
        tracker.finish() ++ pvStat +
          (GraftLog.RawBytesKey -> (raw.toString, "n")),
        schema.fieldNames.toSeq)
      out = null
    }

    def finish(): Seq[GraftLogCommit] = {
      if (out != null) close()
      rolled.toSeq
    }

    def abort(): Unit = {
      if (out != null) {
        out.abort()
        new File(dir, file).delete()
      }
      rolled.foreach(c => new File(dir, c.file).delete())
    }

    /** Raw chars currently buffered in the open block. */
    def buffered: Long = if (out == null) 0L else out.bufferedChars

    /** Flush the open block early — task-memory relief. */
    def relieve(): Unit = if (out != null) out.flushNow()
  }

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val partIdx = partitionCol.map(schema.fieldIndex)
      // Unpartitioned: one eager file per task (the historical shape —
      // zero-row files are filtered or cleaned by commit paths).
      // Partitioned: files open lazily per VALUE; the write
      // distribution clusters values, so a task holds few at once.
      private val single: PartFile =
        if (partIdx.isEmpty) new PartFile(None) else null
      private val perValue =
        scala.collection.mutable.LinkedHashMap.empty[String, PartFile]

      private def routed(row: InternalRow): PartFile = partIdx match {
        case None => single
        case Some(i) =>
          val v: Any = if (row.isNullAt(i)) null
            else schema.fields(i).dataType match {
              case LongType => row.getLong(i)
              case IntegerType => row.getInt(i)
              case DoubleType => row.getDouble(i)
              // copy: the UnsafeRow buffer is reused across rows
              case StringType => row.getUTF8String(i).copy()
              case other => throw new IllegalArgumentException(
                s"graft-log cannot partition by $other")
            }
          val (enc, tag) = GraftLogPartValue.encode(v)
          perValue.getOrElseUpdate(s"$tag:$enc", {
            // identity partitioning is for low-cardinality keys; a
            // high-cardinality column would exhaust file handles (one
            // open gzip stream per value per task) and produce a
            // file-per-row table. Fail loudly instead of degrading —
            // bucket or range-partition such keys.
            require(perValue.size < MaxOpenPartitions,
              s"partition column ${partitionCol.get} exceeded " +
                s"$MaxOpenPartitions distinct values in one writer " +
                "task: identity partitioning needs a low-cardinality " +
                "key (use a bucketed or range layout instead)")
            new PartFile(Some(v))
          })
      }

      // cheap periodic audit of the cross-file buffer total (a per-
      // row exact sum over 1000 open files would cost more than the
      // write); 256 rows of drift is ≤ a few KB per file
      private var sincePoll = 0
      override def write(row: InternalRow): Unit = {
        routed(row).write(row)
        if (partIdx.isDefined) {
          sincePoll += 1
          if (sincePoll >= 256) {
            sincePoll = 0
            var total = 0L
            perValue.values.foreach(total += _.buffered)
            if (total > taskBufferChars) {
              // flush largest-first until usage halves — bounded
              // task heap no matter how many partitions stay open
              val open = perValue.values.toArray
                .sortBy(-_.buffered)
              var k = 0
              while (total > taskBufferChars / 2 && k < open.length) {
                total -= open(k).buffered
                open(k).relieve()
                k += 1
              }
            }
          }
        }
      }
      override def commit(): WriterCommitMessage = GraftLogTaskCommit(
        (Option(single) ++ perValue.values).flatMap(_.finish()).toSeq)
      override def abort(): Unit = {
        if (single != null) single.abort()
        perValue.values.foreach(_.abort())
      }
      override def close(): Unit = ()
    }
}

/** Snapshot-isolated scan: the file list is fixed at PLANNING time from
  * the manifest as of `asOfVersion` (default: latest) — concurrent
  * commits after planning don't shift the read, and any historical
  * version stays reconstructible as long as its files aren't vacuumed
  * (the Delta/Iceberg time-travel contract in miniature). Files whose
  * manifest min/max stats refute a pushed predicate are skipped here,
  * before any I/O — `description()` reports `files=kept/total` and
  * GraftLogSpec asserts kept < total under a selective predicate. */
class GraftLogScan(dir: String, tableSchema: StructType,
    required: StructType, pushed: Array[Filter],
    asOfVersion: Long = Long.MaxValue,
    changesFromVersion: Long = -1L,
    pickFiles: Option[Set[String]] = None,
    limit: Option[Int] = None,
    maxVersionsPerBatch: Option[Long] = None,
    cowPlanHook: Option[Seq[String] => Unit] = None,
    stagedOverlay: Seq[LogEntry] = Seq.empty,
    typedCdf: Boolean = false)
    extends Scan with Batch
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  private val candidates = {
    val base =
      if (typedCdf) {
        GraftLog.requireSpanReplayable(dir, changesFromVersion)
        GraftLog.typedChangedEntriesBetween(dir, changesFromVersion,
          asOfVersion)
      } else if (changesFromVersion >= 0L) {
        GraftLog.requireSpanReplayable(dir, changesFromVersion)
        GraftLog.changedEntriesBetween(dir, changesFromVersion, asOfVersion)
      } else GraftLog.entriesAsOf(dir, asOfVersion) ++ stagedOverlay
    pickFiles.fold(base)(p => base.filter(e => p(e.file)))
  }
  private val files = {
    val kept = candidates.filter(e =>
      pushed.forall(f => GraftLogScan.mayMatch(tableSchema, e, f)))
    limit match {
      // plan the shortest file prefix covering the limit; a file with
      // an unknown row count (-1, legacy) voids the bound from there on
      case Some(n) if kept.forall(_.rows >= 0L) =>
        var acc = 0L
        kept.takeWhile { e =>
          val need = acc < n; acc += GraftLog.effectiveRows(e); need
        }
      case _ => kept
    }
  }

  /** Partition-value file groups, when the planned files can be
    * grouped soundly: the table declares an identity partition column
    * and EVERY planned file carries its value record (a
    * pre-partitioning file without one disables grouping — correct,
    * just unco-located). Each group becomes ONE input partition whose
    * `partitionKey` is the value, and the scan reports
    * KeyGroupedPartitioning — Catalyst then plans a join of two
    * alike-partitioned tables with ZERO exchange (storage-partitioned
    * join), the co-location contract bucketing provides at 100 TB.
    * The batch path only: a streaming micro-batch reads per file. */
  /** RUNTIME group filtering (Iceberg's bounded-MERGE mechanism): a
    * copy-on-write scan advertises its columns as runtime-filterable;
    * Spark then runs the command's matching-rows subquery first and
    * hands back IN-lists of the touched keys, and only files whose
    * stats admit a touched key rewrite — SQL `MERGE INTO`'s write
    * amplification becomes stats-bounded at runtime the way the
    * API-level merge is bounded at plan time (its condition references
    * the source, so nothing is statically pushable). Inactive on
    * ordinary reads (`filterAttributes` empty): Spark's own dynamic
    * pruning composes poorly with KeyGrouped reporting, and ordinary
    * reads already get static stats skipping. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  /** Exactly ONE attribute: Spark builds the runtime pruning key as
    * the struct of every advertised attribute, and a struct-IN has no
    * V1 form the stats skipper can use. Any single column is SOUND as
    * a group filter — a file whose stats refute every matching-row
    * value of that column cannot contain a matching row — so pick the
    * most skippable one: the partition column, else the first numeric
    * (min/max range stats), else the first string (bloom). */
  override def filterAttributes(): Array[NamedReference] =
    if (cowPlanHook.isEmpty) Array.empty
    else GraftLog.partitionColOf(dir)
      .filter(tableSchema.fieldNames.contains)
      .orElse(tableSchema.fields.collectFirst {
        case f if f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == DoubleType => f.name
      })
      .orElse(tableSchema.fields.collectFirst {
        case f if f.dataType == StringType => f.name
      })
      .map(c => Array(Expressions.column(c)))
      .getOrElse(Array.empty)
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtimeFilters =
      org.apache.spark.sql.GraftPlanShim.predicatesToV1(predicates)
        .filter(GraftLogScan.usableForSkipping(tableSchema, _))

  private val groups: Option[Seq[(InternalRow, Seq[LogEntry])]] =
    GraftLog.partitionColOf(dir) match {
      case Some(c) if limit.isEmpty && files.nonEmpty &&
          cowPlanHook.isEmpty =>
        val vals = files.map(e => GraftLogPartValue.of(e, c))
        if (vals.exists(_.isEmpty)) None
        else Some(files.zip(vals).groupBy(_._2.get).toSeq
          .map { case (v, fs) =>
            (new GenericInternalRow(Array(v)): InternalRow,
              fs.map(_._1))
          })
      case _ => None
    }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    groups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.identity(
              GraftLog.partitionColOf(dir).get)), gs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(files.size)
    }
  /** The files this scan will read (post stats-skipping) — a row-level
    * operation's commit removes exactly these groups. */
  private[sources] def plannedFileNames: Seq[String] = files.map(_.file)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_log $dir asOf=$asOfVersion from=$changesFromVersion " +
      s"files=${files.size}/${candidates.size} " +
      groups.fold("")(gs => s"partGroups=${gs.size} ") +
      s"pushed=[${pushed.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    groups match {
      case Some(gs) => gs.map { case (key, es) =>
        GraftLogGroupPartition(dir, key,
          es.map(e => (e.file, e.cols,
            GraftLog.dvOf(e).map(_._1)))): InputPartition
      }.toArray
      case None =>
        // runtime filters (COW group filtering) narrow the static set
        // here, after Spark's matching-rows subquery has executed
        val planned = files.filter(e => runtimeFilters.forall(f =>
          GraftLogScan.mayMatch(tableSchema, e, f)))
        cowPlanHook.foreach(_(planned.map(_.file)))
        // parts SPLIT into byte ranges (driver-side planning has the
        // session; one stat call per file). DV'd files split too — DV
        // ordinals are global and every block's first ordinal is in
        // the footer.
        val splitBytes: Long = GraftLog.byteConf(
          "spark.graft.log.splitBytes",
          GraftLog.byteConf("spark.sql.files.maxPartitionBytes",
            134217728L))
        planned.flatMap { e =>
          val dv = GraftLog.dvOf(e).map(_._1)
          val size = new File(dir, e.file).length()
          if (size > splitBytes) {
            // splits-per-file capped: a degenerate conf must not
            // overflow the Int partition count (negative count would
            // silently plan ZERO partitions for the file) or flood
            // the driver with empty ranges — blocks per file bound
            // the useful split count far below this anyway
            val n = math.min(
              (size + splitBytes - 1) / splitBytes, 1L << 20).toInt
            (0 until n).map(k => GraftLogPartition(dir, e.file,
              e.cols, dv, start = k.toLong * splitBytes,
              length =
                if (k == n - 1) Long.MaxValue - k.toLong * splitBytes
                else splitBytes): InputPartition)
          } else Seq(GraftLogPartition(dir, e.file, e.cols,
            dv): InputPartition)
        }.toArray
    }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(tableSchema, required, blockFilters = pushed)
  // Streaming read: the version log doubles as the stream's offset
  // axis. `changesFromVersion` (when set) seeds the stream past
  // history, the Delta `startingVersion` option.
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftLogMicroBatchStream(dir, tableSchema, required,
      startVersion = changesFromVersion,
      maxVersionsPerBatch = maxVersionsPerBatch,
      typed = typedCdf)

  /** CBO statistics from the manifest (post-skipping): row counts come
    * straight from the entries, bytes from the writer-stamped exact
    * uncompressed size each entry carries. This is what lets
    * Catalyst auto-broadcast a small log table in a join — without it
    * every graft-log join side defaults to "unknown = huge" and pays a
    * shuffle even when one side is a 100-row dimension. Stats shrink
    * with file skipping, so a selective predicate can also flip a plan
    * to broadcast (the same leverage Delta gets from its own stats). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val known = files.forall(_.rows >= 0L)
    private val rowCount =
      files.map(e => math.max(GraftLog.effectiveRows(e), 0L)).sum
    // every add and cdc entry carries its file's exact raw size —
    // CBO's broadcast decision reads this, so plans near the
    // threshold are decided on real numbers
    private val bytes =
      files.map(_.stats(GraftLog.RawBytesKey)._1.toLong).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): java.util.OptionalLong =
      if (known) java.util.OptionalLong.of(rowCount)
      else java.util.OptionalLong.empty()
    // Per-column NDV (merged manifest HLL sketches) + exact null
    // counts over the KEPT files — the SPARK-41378 surface CBO's join
    // reorder and selectivity estimation read. Like numRows, these
    // shrink with file skipping, so a selective scan advertises the
    // cardinality of what it will actually produce.
    override def columnStats(): JMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      GraftLogNdv.mergedColumnStats(tableSchema, files).foreach {
        case (colName, (ndvOpt, nullsOpt)) =>
          if (ndvOpt.isDefined || nullsOpt.isDefined)
            m.put(Expressions.column(colName),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  ndvOpt.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def nullCount(): java.util.OptionalLong =
                  nullsOpt.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
              })
      }
      m
    }
  }
}

/** Streaming SOURCE over the version log — the consumption half of the
  * lakehouse streaming story (the sink half is
  * [[GraftLogStreamingWrite]]). Offsets are table versions; a
  * micro-batch (start, end] is exactly the dataChange `add` files
  * committed in that version span — the change-data-feed listing — so
  * an incremental consumer reads each appended row once, never rescans
  * history, and a compaction (dataChange=false) passes through the
  * stream invisibly. A version that changes rows beyond appends (an
  * overwrite, DELETE, MERGE or RESTORE) fails the query loudly, as
  * Delta's source does. Offsets checkpoint as the version number, so a
  * restarted query resumes from the last committed version (the same
  * recovery contract as Delta's streaming source). At 100 TB the
  * per-batch work is bounded by the append rate, not the table size. */
class GraftLogMicroBatchStream(dir: String, tableSchema: StructType,
    required: StructType, startVersion: Long,
    maxVersionsPerBatch: Option[Long] = None,
    typed: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // Trigger.AvailableNow: pin the target offset at query start so the
  // run drains exactly the versions committed before it began, then
  // stops — concurrent commits land in the next run.
  private var pinned: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(GraftLog.currentVersion(dir))
  override def initialOffset(): StreamOffset = GraftLogOffset(startVersion)
  override def latestOffset(): StreamOffset =
    GraftLogOffset(pinned.getOrElse(GraftLog.currentVersion(dir)))
  // SupportsAdmissionControl (via SupportsTriggerAvailableNow):
  // option("maxVersionsPerBatch", k) caps each micro-batch at k
  // versions — the throttled-backfill knob (Delta maxFilesPerTrigger):
  // a consumer starting against years of history drains in bounded
  // batches instead of one giant first batch, and AvailableNow keeps
  // scheduling batches until the pinned head is reached. Without the
  // option each batch drains to the head.
  override def latestOffset(start: StreamOffset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): StreamOffset = {
    val head = pinned.getOrElse(GraftLog.currentVersion(dir))
    val s = start.asInstanceOf[GraftLogOffset].version
    GraftLogOffset(maxVersionsPerBatch.fold(head)(k =>
      math.min(head, s + math.max(1L, k))))
  }
  override def deserializeOffset(json: String): StreamOffset =
    GraftLogOffset.parse(json)
  override def commit(end: StreamOffset): Unit = ()
  // Typed mode (`readChangeFeed=true` on readStream — Delta's
  // streaming CDF): each micro-batch is the TYPED change plan for its
  // version span — a version that committed CDC sidecars contributes
  // those (exact per-row change types, deletes and update pre/post
  // images included, never a rewrite's carried rows); a version
  // without sidecars contributes its dataChange adds, whose rows read
  // NULL `_change_type` (pure inserts by construction —
  // [[GraftLog.typedChangesStream]] coalesces). Offsets stay plain
  // versions, so replay after a checkpoint restore re-plans the exact
  // same typed span — the exactly-once contract downstream appliers
  // (replication, CDC merge) rely on.
  override def planInputPartitions(start: StreamOffset,
      end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLogOffset].version
    val e = end.asInstanceOf[GraftLogOffset].version
    // a checkpointed offset below the retained horizon cannot replay
    // (expire-log truncated those commits) — fail the query loudly
    // instead of silently serving only the surviving tail
    GraftLog.requireSpanReplayable(dir, s)
    // nor can a version whose changes the feed cannot express: an
    // overwrite, DELETE, MERGE or RESTORE would be delivered as its
    // added rows alone, with the rows it removed still counted
    // downstream (the typed feed expresses them where CDC sidecars
    // were published)
    GraftLog.unreplayableVersions(dir, s, e, typed).headOption.foreach {
      v => throw new IllegalStateException(
        s"stream over $dir cannot replay version $v: it changes rows " +
          "beyond appends" + (if (typed) " and published no CDC " +
          "sidecars" else "") + " — restart the query from a fresh " +
          "checkpoint with changesFromVersion at or past it, after " +
          "re-seeding the consumer from a snapshot")
    }
    val entries =
      if (typed) GraftLog.typedChangedEntriesBetween(dir, s, e)
      else GraftLog.changedEntriesBetween(dir, s, e)
    entries.map(e => GraftLogPartition(dir, e.file, e.cols)).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(tableSchema, required)
  override def stop(): Unit = ()
}

/** Streaming offset: a table version. */
case class GraftLogOffset(version: Long) extends StreamOffset {
  override def json(): String = version.toString
}

object GraftLogOffset {
  /** A plain version number. The older `<version>@<uuid>` form fails
    * loudly: it predates history-keeping overwrites. */
  def parse(json: String): GraftLogOffset =
    json.trim.toLongOption.map(GraftLogOffset(_)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-log stream offset '$json' is not a version number " +
          "(the older `<version>@<uuid>` offset form cannot resume) " +
          "— restart the query from a fresh checkpoint"))
}

object GraftLogScan {
  /** A filter is usable for file skipping when it is a comparison on a
    * stats-bearing (numeric) top-level column, or an equality/IN on a
    * string column (pruned by the per-file bloom, when present). */
  def usableForSkipping(schema: StructType, f: Filter): Boolean = {
    def numeric(name: String): Boolean =
      schema.fields.find(_.name == name).exists(_.dataType match {
        case LongType | IntegerType | DoubleType => true
        case _ => false
      })
    def stringCol(name: String): Boolean =
      schema.fields.find(_.name == name).exists(_.dataType == StringType)
    f match {
      case EqualTo(a, v) => (numeric(a) && v.isInstanceOf[Number]) ||
        (stringCol(a) && v.isInstanceOf[String])
      case GreaterThan(a, v) => numeric(a) && v.isInstanceOf[Number]
      case GreaterThanOrEqual(a, v) => numeric(a) && v.isInstanceOf[Number]
      case LessThan(a, v) => numeric(a) && v.isInstanceOf[Number]
      case LessThanOrEqual(a, v) => numeric(a) && v.isInstanceOf[Number]
      case In(a, vs) => vs.nonEmpty &&
        ((numeric(a) && vs.forall(_.isInstanceOf[Number])) ||
          (stringCol(a) && vs.forall(_.isInstanceOf[String])))
      case _ => false
    }
  }

  /** Conservative range check: false ONLY when the file's [min, max]
    * cannot contain a matching row. An entry without a column's stats
    * always may match on it. Comparison in BigDecimal so long stats
    * beyond 2^53 don't lose precision through a double detour. */
  def mayMatch(schema: StructType, e: LogEntry, rawF: Filter): Boolean = {
    // A file written before a RENAME COLUMN keyed its cells, stats,
    // and bloom under the former name — rewrite the filter to the
    // file-LOCAL name first, so old files keep both their data
    // (no false "predates the column" skip) and their pruning.
    // fast path: a schema with no rename trail (the overwhelmingly
    // common case) keeps the zero-allocation filter as-is
    val f = if (!schema.fields.exists(
        _.metadata.contains(GraftLog.FormerlyKey))) rawF
    else {
      def loc(a: String): String = GraftLog.fileLocalName(schema, e, a)
      rawF match {
        case EqualTo(a, v) => EqualTo(loc(a), v)
        case GreaterThan(a, v) => GreaterThan(loc(a), v)
        case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(loc(a), v)
        case LessThan(a, v) => LessThan(loc(a), v)
        case LessThanOrEqual(a, v) => LessThanOrEqual(loc(a), v)
        case In(a, vs) => In(loc(a), vs)
        case other => other
      }
    }
    // NaN/Infinity stats (a NaN first row freezes the writer's
    // min/max compare) or filter values parse to None/true — degrade
    // to may-match, never crash planning
    def range(col: String): Option[(java.math.BigDecimal,
        java.math.BigDecimal)] = GraftLog.decStat(e, col)
    def dec(v: Any): java.math.BigDecimal =
      new java.math.BigDecimal(v.toString)
    // blooms hash the CANONICAL cell text the writer stored — for the
    // schema's admissible types (long/int/double/string) the boxed
    // value's toString IS that encoding, so probes line up bit-exact
    def canonicalCell(v: Any): String = v.toString
    // Evolution-aware skip: a comparison on a column the file PREDATES
    // can never match (every row reads NULL for it), so the file is
    // skipped outright — schema evolution gets stats-grade pruning for
    // free on the new column.
    val attr = f match {
      case EqualTo(a, _) => Some(a)
      case GreaterThan(a, _) => Some(a)
      case GreaterThanOrEqual(a, _) => Some(a)
      case LessThan(a, _) => Some(a)
      case LessThanOrEqual(a, _) => Some(a)
      case In(a, _) => Some(a)
      case _ => None
    }
    if (attr.exists(a => !e.cols.contains(a)))
      return false
    // NULL comparison values match nothing (three-valued logic), but
    // deleteWhere routes raw convertible filters here — treat them as
    // may-match rather than NPE in the BigDecimal parse; Spark itself
    // folds such predicates away before pushdown. A non-decimal
    // FILTER VALUE (NaN/Infinity literal) likewise degrades to
    // may-match via the catch below.
    try f match {
      // String equality prunes on the per-file BLOOM (numeric min/max
      // can't see it): definitely-absent values skip the file; an
      // entry without a bloom (legacy, or dropped by compaction)
      // always may match.
      case EqualTo(a, v: String) => GraftLogBloom.mayContain(e, a, v)
      case In(a, vs) if vs.nonEmpty &&
          vs.forall(v => v == null || v.isInstanceOf[String]) =>
        // bulk probe: the file's bloom is deserialized ONCE for the
        // whole IN list, not once per value (a wide IN across a 100 TB
        // table's manifest is values × files hex decodes otherwise)
        val hashes = vs.collect { case v: String =>
          GraftLogBloom.packedHash(v) }
        hashes.nonEmpty && GraftLogBloom.mayContainAny(e, a, hashes)
      case EqualTo(_, null) => true
      case GreaterThan(_, null) | GreaterThanOrEqual(_, null) |
           LessThan(_, null) | LessThanOrEqual(_, null) => true
      // Numeric equality prunes on BOTH the [min, max] range and the
      // per-file bloom (integral columns carry one keyed on the
      // canonical cell text — `Long.toString` — since r12): the point
      // lookup / IN-probe on a numeric surrogate key skips files the
      // range alone can't once compaction widens every file to the
      // full key span. Files without a bloom (legacy, double columns)
      // fall back to the range check alone via mayContain=true.
      case EqualTo(a, v) => range(a).forall { case (mn, mx) =>
        dec(v).compareTo(mn) >= 0 && dec(v).compareTo(mx) <= 0 } &&
        GraftLogBloom.mayContain(e, a, canonicalCell(v))
      case GreaterThan(a, v) =>
        range(a).forall { case (_, mx) => mx.compareTo(dec(v)) > 0 }
      case GreaterThanOrEqual(a, v) =>
        range(a).forall { case (_, mx) => mx.compareTo(dec(v)) >= 0 }
      case LessThan(a, v) =>
        range(a).forall { case (mn, _) => mn.compareTo(dec(v)) < 0 }
      case LessThanOrEqual(a, v) =>
        range(a).forall { case (mn, _) => mn.compareTo(dec(v)) <= 0 }
      case In(a, vs) =>
        // range-filter the IN list first, then ONE bulk bloom probe
        // over the surviving values (files without stats keep every
        // value; files without a bloom may-match via the probe) —
        // never a per-value bloom deserialization
        val candidates = range(a) match {
          case Some((mn, mx)) => vs.filter(v => v != null && {
            val d = dec(v)
            d.compareTo(mn) >= 0 && d.compareTo(mx) <= 0
          })
          case None => vs.filter(_ != null)
        }
        candidates.nonEmpty && GraftLogBloom.mayContainAny(e, a,
          candidates.map(v => GraftLogBloom.packedHash(canonicalCell(v))))
      case _ => true
    } catch { case _: NumberFormatException => true }
  }
}

/** Per-file bloom filter over each STRING and INTEGRAL column,
  * carried in the manifest stats map under the reserved key
  * `<col>#bloom` — the equality-pruning index min/max ranges can't
  * provide (a `tag = 'x'` or `key = 42` predicate skips every file
  * whose bloom provably lacks the value, before any I/O; the Delta
  * bloom-index / Parquet bloom idea at manifest granularity). Numeric
  * values hash on their canonical cell text (`Long.toString`), the
  * same encoding the TSV stores and the prune side re-derives — the
  * index that matters most post-compaction, when every file's
  * [min, max] widens to the full surrogate-key span and point lookups
  * would otherwise stop skipping. SIZED TO THE FILE: the writer feeds a max-resolution
  * bit array as rows stream through, then at finish folds it down to
  * the smallest power-of-two size giving ~10 bits per distinct value
  * (NDV from the same per-file HLL sketch the writer already keeps) —
  * so a 7-value file carries a 64-byte bloom while a 50k-distinct
  * file keeps enough bits to actually prune, instead of a one-size
  * array that saturates to all-ones past ~500 values. The fold is
  * sound because probe positions are `hash mod 2^a`: OR-ing the top
  * half onto the bottom IS re-probing mod 2^(a-1), so any fold of a
  * bloom is a valid (coarser, still conservative) bloom. The hex
  * serialization is self-describing — length implies word count —
  * and k=5 double-hashed probes are computed mod the carried size,
  * which also reads legacy fixed-4096-bit blooms unchanged.
  * Compaction FOLDS blooms across inputs (align to the smallest
  * input's size, then bitwise OR — a sound superset for the union
  * file), so string skipping survives the nightly OPTIMIZE pass. */
object GraftLogBloom {
  /** Floor (and the legacy fixed size): 4096 bits = 64 words. */
  val MinBits = 4096
  /** Build-time resolution: 2^17 bits = 16 KB of longs per open
    * string column — prunes up to ~13k NDV at ~1% FP before
    * saturating; folded away at finish when the file is smaller. */
  val MaxBits = 131072
  val MaxWords: Int = MaxBits / 64
  val K = 5
  def key(col: String): String = s"$col#bloom"

  /** The value's whole bloom identity — (h1, h2|1) packed in one
    * long; probe positions derive from it at ANY power-of-two size,
    * so a writer can bank exact hashes cheaply and materialize the
    * right-sized bit array once the file's NDV is known. */
  def packedHash(v: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(v, 0xA5A5A5A5)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(v, 0x5A5A5A5A) | 1
    (h1.toLong << 32) | (h2 & 0xffffffffL)
  }

  def addHashed(words: Array[Long], packed: Long): Unit = {
    val bits = words.length * 64
    val h1 = (packed >>> 32).toInt
    val h2 = packed.toInt
    var i = 0
    while (i < K) {
      val b = (h1 + i * h2) & (bits - 1)
      words(b >> 6) |= 1L << (b & 63)
      i += 1
    }
  }

  def add(words: Array[Long], v: String): Unit =
    addHashed(words, packedHash(v))

  /** Exact distinct hashes banked before spill — 16 KB flat. */
  val SpillLimit = 1024

  /** Compact open-addressed set of packed hashes, bounded at
    * [[SpillLimit]] entries: `add` returns FALSE (rejecting the
    * insert) once full, signaling the writer to spill to a
    * max-resolution bit array. ≤0.5 load factor, linear probing,
    * zero-sentinel slot tracked out of band. GROWS from 128 slots
    * (1 KB) by doubling up to the SpillLimit×2 cap: the writer holds
    * one of these per bloom-eligible column per OPEN part file, and a
    * partitioned task may hold 1000 part files of a many-column table
    * — eagerly allocating the 16 KB cap table per set put ~160 MB of
    * mostly-empty probe tables on the task heap before a single row
    * arrived (doubly so once integral columns became bloom-eligible),
    * while the typical per-value file holds a handful of distincts
    * and stays in the 1 KB table forever. */
  final class PackedSet {
    private var table = new Array[Long](128)
    private var mask = table.length - 1
    private var hasZero = false
    private var count = 0
    def size: Int = count

    /** Slot of v in t: its own, or the empty one it belongs in. */
    private def idxOf(t: Array[Long], m: Int, v: Long): Int = {
      var i = java.lang.Long.hashCode(
        v * 0x9E3779B97F4A7C15L) & m
      while (t(i) != 0L && t(i) != v) i = (i + 1) & m
      i
    }

    private def grow(): Unit = {
      val nt = new Array[Long](table.length * 2)
      val nm = nt.length - 1
      var i = 0
      while (i < table.length) {
        val v = table(i)
        if (v != 0L) nt(idxOf(nt, nm, v)) = v
        i += 1
      }
      table = nt
      mask = nm
    }

    def add(v: Long): Boolean = {
      if (v == 0L) {
        if (!hasZero) {
          if (count >= SpillLimit) return false
          hasZero = true; count += 1
        }
        return true
      }
      var i = idxOf(table, mask, v)
      if (table(i) == v) return true
      if (count >= SpillLimit) return false
      // hold load ≤ 0.5 until the cap table (SpillLimit×2 slots),
      // which by construction never needs to grow again
      if ((count + 1) * 2 > table.length &&
          table.length < SpillLimit * 2) {
        grow()
        i = idxOf(table, mask, v)
      }
      table(i) = v
      count += 1
      true
    }
    def foreach(f: Long => Unit): Unit = {
      if (hasZero) f(0L)
      var i = 0
      while (i < table.length) {
        if (table(i) != 0L) f(table(i))
        i += 1
      }
    }
  }

  /** Smallest power-of-two bit count giving ~10 bits/key for the
    * estimated NDV (≈1% FP at k=5), clamped to [MinBits, MaxBits].
    * Past the cardinality even MaxBits can't usefully prune (<4
    * bits/key → >20% FP), the bloom is saturated noise — carry the
    * floor size instead of 32 KB of near-all-ones per file. */
  def sizeFor(ndv: Long): Int =
    if (ndv * 4 > MaxBits) MinBits
    else {
      var bits = MinBits
      while (bits < MaxBits && bits < ndv * 10) bits <<= 1
      bits
    }

  /** Fold a bloom down to `targetWords` (power-of-two halving: OR the
    * top half onto the bottom). Identity when already at or below. */
  def foldTo(words: Array[Long], targetWords: Int): Array[Long] = {
    var w = words
    while (w.length > targetWords) {
      val half = w.length / 2
      w = Array.tabulate(half)(i => w(i) | w(i + half))
    }
    w
  }

  def serialize(words: Array[Long]): String =
    words.map(w => f"$w%016x").mkString

  /** True when the hex is a structurally valid bloom: a power-of-two
    * word count within [MinBits/64, MaxWords]. */
  def validHex(hex: String): Boolean = {
    val words = hex.length / 16
    hex.length % 16 == 0 && words >= MinBits / 64 &&
      words <= MaxWords && java.lang.Integer.bitCount(words) == 1
  }

  def deserialize(hex: String): Array[Long] =
    Array.tabulate(hex.length / 16)(i =>
      java.lang.Long.parseUnsignedLong(
        hex.substring(i * 16, i * 16 + 16), 16))

  /** Membership probe against an ALREADY-DESERIALIZED bloom array. */
  def containsHashed(words: Array[Long], packed: Long): Boolean = {
    val bits = words.length * 64
    val h1 = (packed >>> 32).toInt
    val h2 = packed.toInt
    var i = 0
    while (i < K) {
      val b = (h1 + i * h2) & (bits - 1)
      if ((words(b >> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Conservative membership against an entry's manifest bloom: false
    * ONLY when a bloom is present and provably lacks the value. The
    * carried length sets the probe modulus, so any vintage reads. */
  def mayContain(e: LogEntry, col: String, v: String): Boolean =
    e.stats.get(key(col)) match {
      case Some((hex, _)) if validHex(hex) =>
        containsHashed(deserialize(hex), packedHash(v))
      case _ => true
    }

  /** Bulk conservative probe: may the entry contain ANY of the
    * pre-hashed keys? The bloom hex is deserialized ONCE per entry —
    * the per-key [[mayContain]] form re-parses it per probe, which at
    * MERGE file-targeting scale is keys × files hex decodes on the
    * driver (1000 probe keys × a 100 TB table's file count). Entries
    * without a valid bloom may match; an EMPTY key set matches
    * nothing. */
  def mayContainAny(e: LogEntry, col: String,
      packed: Array[Long]): Boolean =
    e.stats.get(key(col)) match {
      case Some((hex, _)) if validHex(hex) =>
        val words = deserialize(hex)
        packed.exists(containsHashed(words, _))
      case _ => true
    }
}

/** Per-file, per-column HyperLogLog NDV sketch in the manifest — the
  * distinct-count half of the table-stats story (Iceberg ships theta
  * sketches in puffin files, Delta ANALYZE stores NDV per column; the
  * graft-log carries them inline in the commit stats the same way it
  * carries min/max and blooms). 512 registers (p=9, ~4.6% standard
  * error), one byte each, hex in the stats cell. The whole point of a
  * register sketch is MERGEABILITY: the union of two files' value
  * sets is exactly the register-wise max of their sketches, so the
  * table-level NDV is computable from metadata alone — per scan,
  * post-file-skipping, with no data I/O — and a compacted file's
  * sketch equals that merge. NDV feeds the DSv2
  * `Statistics.columnStats()` surface Catalyst's CBO reads for join
  * ordering and selectivity at 100 TB (SPARK-41378), and the `t$stats`
  * metadata table. Null counts ride along under `col#nulls` (exact,
  * additive). */
object GraftLogNdv {
  val P = 9
  val M: Int = 1 << P
  def key(col: String): String = s"$col#ndv"
  def nullsKey(col: String): String = s"$col#nulls"

  /** 64-bit hash of the cell's canonical TSV encoding: FNV-1a over the
    * UTF-8 bytes through a splitmix64 finalizer (both public-domain
    * constants) — FNV alone clusters low bits, and HLL register
    * selection needs the top bits well mixed. */
  def hash(cell: String): Long = {
    val bytes = cell.getBytes(StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1
    }
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def add(regs: Array[Byte], cell: String): Unit = {
    val h = hash(cell)
    val idx = (h >>> (64 - P)).toInt
    val rest = h << P
    val rank =
      (if (rest == 0L) 64 - P
       else java.lang.Long.numberOfLeadingZeros(rest)) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  /** Union semantics: register-wise max. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Array.tabulate(M)(i => if (a(i) >= b(i)) a(i) else b(i))

  /** Hex pairs with zero-run compression: `z` + 2-hex run length for
    * a run of zero registers (the dominant case for low-cardinality
    * columns — a 7-value column's sketch is ~40 chars instead of
    * 1024, which is what keeps per-file stats affordable when a table
    * has millions of files). Alphabet stays inside the stats-cell-safe
    * set (no tab, `=`, `,`, `;`). */
  def serialize(regs: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(M / 4)
    var i = 0
    while (i < M) {
      if (regs(i) == 0) {
        var n = 0
        while (i < M && regs(i) == 0 && n < 255) { n += 1; i += 1 }
        sb.append('z').append(f"$n%02x")
      } else {
        sb.append(f"${regs(i)}%02x")
        i += 1
      }
    }
    sb.toString
  }

  /** Accepts both the run-length form and plain 1024-hex (sketches
    * written before the compression). Throws on malformed input —
    * callers go through [[of]], which validates. */
  def deserialize(s: String): Array[Byte] = {
    val regs = new Array[Byte](M)
    var i = 0
    var out = 0
    while (i < s.length) {
      if (s.charAt(i) == 'z') {
        out += Integer.parseInt(s.substring(i + 1, i + 3), 16)
        i += 3
      } else {
        regs(out) =
          Integer.parseInt(s.substring(i, i + 2), 16).toByte
        out += 1
        i += 2
      }
    }
    require(out == M, s"NDV sketch decoded to $out of $M registers")
    regs
  }

  /** Flajolet et al. estimator with the linear-counting small-range
    * correction; no large-range correction needed with 64-bit hashes. */
  def estimate(regs: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += java.lang.Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * M * M / sum
    val est =
      if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
      else raw
    math.round(est)
  }

  def of(e: LogEntry, col: String): Option[Array[Byte]] =
    e.stats.get(key(col)).flatMap { case (enc, _) =>
      scala.util.Try(deserialize(enc)).toOption
    }

  def nullsOf(e: LogEntry, col: String): Option[Long] =
    e.stats.get(nullsKey(col)).flatMap(v =>
      scala.util.Try(v._1.toLong).toOption)

  /** Merged table-level column stats over a set of live entries —
    * (NDV estimate, exact null count), each present only when every
    * row-bearing input accounts for the column. A file written before
    * an additive evolution never SAW the column: its rows read back as
    * all-NULL there, so it contributes an empty sketch (exact for the
    * union) and `rows` nulls. A pre-feature legacy file or a DV'd file
    * (deleted rows may hold the extinct distinct values and nulls)
    * drops the column's stats instead of serving wrong ones. */
  def mergedColumnStats(schema: StructType, entries: Seq[LogEntry])
      : Map[String, (Option[Long], Option[Long])] = {
    val live = entries.filter(e => e.rows != 0L)
    schema.fields.map { f =>
      val perFile = live.map { e =>
        val dv = GraftLog.dvOf(e).isDefined
        // a pre-rename file keys the column's stats under its former
        // name — resolve before deciding the column is absent
        val local = GraftLog.fileLocalName(schema, e, f.name)
        val absent = !e.cols.contains(local)
        val sketch =
          if (dv) None
          else if (absent) Some(new Array[Byte](M))
          else of(e, local)
        val nulls =
          if (dv) None
          else if (absent) Some(math.max(e.rows, 0L))
          else nullsOf(e, local)
        (sketch, nulls)
      }
      // zero row-bearing files (empty table, or a scan whose skipping
      // kept nothing) is an EXACT zero, not an unknown
      val ndv =
        if (perFile.isEmpty) Some(0L)
        else if (perFile.forall(_._1.isDefined))
          Some(estimate(perFile.map(_._1.get).reduce(merge)))
        else None
      val nulls =
        if (perFile.isEmpty) Some(0L)
        else if (perFile.forall(_._2.isDefined))
          Some(perFile.map(_._2.get).sum)
        else None
      f.name -> (ndv, nulls)
    }.toMap
  }
}

/** Shared per-file column-stats tracker over the CANONICAL TSV cells
  * a graft-log part file stores — min/max for numeric columns,
  * NDV-sized blooms for equality-prunable columns (string AND
  * integral; see below), an HLL NDV sketch plus exact null count for
  * every column. The one part-file writer ([[GraftLogWriterFactory]])
  * feeds it the cells it is about to encode — appends and every
  * maintenance rewrite alike, compaction included — so maintenance
  * outputs carry file-EXACT stats instead of a fold of their inputs'
  * manifests. That is what keeps a maintained table
  * prunable: folding manifest stats had to drop EVERYTHING when any
  * input carried a deletion vector (the deleted rows may have held the
  * extremum, the distinct values, the nulls), which meant exactly the
  * big, long-lived post-DELETE files compaction produces lost range
  * skipping, metadata-only MIN/MAX/COUNT, and CBO cardinalities.
  * Recomputing from the surviving cells is exact in every case — DV'd
  * inputs, evolved/renamed vintages, rolled outputs (each gets its own
  * file-exact range, tighter than the group-wide fold) — and the exact
  * per-file null counts stay additive under the planning-time merge,
  * so rolled groups no longer have to strip them.
  *
  * Blooms cover string and integral (long/int) columns, hashed on the
  * canonical cell text (`Long.toString` — the same encoding the filter
  * side canonicalizes to in [[GraftLogPrune]]), so point lookups and
  * IN-probes on numeric surrogate keys prune files the way string tags
  * always did. Double columns get no bloom: float equality is not a
  * lookup pattern, and min/max already serves their range predicates. */
private[sources] final class GraftLogCellStats(schema: StructType) {
  import org.apache.spark.sql.types._
  private val fields = schema.fields
  private val n = fields.length
  // typed min/max per numeric column (boxed; null = none seen)
  private val numericIdx: Array[Int] = fields.zipWithIndex.collect {
    case (f, i) if f.dataType == LongType ||
      f.dataType == IntegerType || f.dataType == DoubleType => i
  }
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)
  // equality-bloom per string/integral column: exact packed hashes
  // bank in a bounded set, spill to a max-resolution array past
  // SpillLimit distinct; finish() right-sizes from the NDV either way
  private val bloomIdx: Array[Int] = fields.zipWithIndex.collect {
    case (f, i) if f.dataType == StringType ||
      f.dataType == LongType || f.dataType == IntegerType => i
  }
  private val bloomSets = Array.fill(bloomIdx.length)(
    new GraftLogBloom.PackedSet)
  private val blooms = new Array[Array[Long]](bloomIdx.length)
  private val bloomSlot: Array[Int] = {
    val a = Array.fill(n)(-1)
    bloomIdx.zipWithIndex.foreach { case (c, s) => a(c) = s }
    a
  }
  private val ndvRegs =
    Array.fill(n)(new Array[Byte](GraftLogNdv.M))
  private val nullCnt = new Array[Long](n)

  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    // NaN compares false both ways, freezing min/max — the same
    // degrade-to-may-match contract the prune side documents
    case (x: Double, y: Double) => x < y
    case _ => false
  }

  /** One row's canonical cells (NullCell sentinel for SQL NULL),
    * in the tracker schema's column order. */
  def add(cells: Array[String]): Unit = {
    var s = 0
    while (s < numericIdx.length) {
      val i = numericIdx(s)
      val cell = cells(i)
      if (cell != GraftLog.NullCell) {
        val v: Any = fields(i).dataType match {
          case LongType => java.lang.Long.parseLong(cell)
          case IntegerType => java.lang.Integer.parseInt(cell)
          case _ => java.lang.Double.parseDouble(cell)
        }
        if (mins(i) == null || lt(v, mins(i))) mins(i) = v
        if (maxs(i) == null || lt(maxs(i), v)) maxs(i) = v
      }
      s += 1
    }
    var c = 0
    while (c < n) {
      val cell = cells(c)
      if (cell == GraftLog.NullCell) nullCnt(c) += 1
      else {
        GraftLogNdv.add(ndvRegs(c), cell)
        val b = bloomSlot(c)
        if (b >= 0) {
          val packed = GraftLogBloom.packedHash(cell)
          if (blooms(b) != null)
            GraftLogBloom.addHashed(blooms(b), packed)
          else if (!bloomSets(b).add(packed)) {
            val arr = new Array[Long](GraftLogBloom.MaxWords)
            bloomSets(b).foreach(GraftLogBloom.addHashed(arr, _))
            GraftLogBloom.addHashed(arr, packed)
            blooms(b) = arr
            bloomSets(b) = null
          }
        }
      }
      c += 1
    }
  }

  /** The file's exact stats map — min/max under each column's CURRENT
    * name, right-sized blooms, NDV sketches, null counts. Partition
    * value and raw-size entries stay with the callers. */
  def finish(): Map[String, (String, String)] = {
    val minMax = numericIdx.collect {
      case i if mins(i) != null =>
        fields(i).name -> (mins(i).toString, maxs(i).toString)
    }.toMap
    val bloomStats = bloomIdx.indices.flatMap { b =>
      val i = bloomIdx(b)
      // Past the saturation cardinality (NDV × 4 > MaxBits) even the
      // max-resolution array is near-all-ones: a carried bloom would
      // admit everything anyway, so OMIT it — absent reads as
      // may-match, the same pruning outcome, at zero manifest bytes.
      // This matters now that every integral column is bloom-eligible:
      // a unique surrogate-key column in a 128 MB file would otherwise
      // stamp a useless saturated floor bloom on every file of a
      // 100 TB table. Unspilled columns (≤1024 exact hashes) are
      // never in this regime.
      val ndvEst =
        if (blooms(b) != null) GraftLogNdv.estimate(ndvRegs(i))
        else bloomSets(b).size.toLong
      if (ndvEst * 4L > GraftLogBloom.MaxBits) None
      else {
        val words =
          if (blooms(b) != null)
            GraftLogBloom.foldTo(blooms(b),
              GraftLogBloom.sizeFor(ndvEst) / 64)
          else {
            val arr = new Array[Long](
              GraftLogBloom.sizeFor(bloomSets(b).size) / 64)
            bloomSets(b).foreach(GraftLogBloom.addHashed(arr, _))
            arr
          }
        Some(GraftLogBloom.key(fields(i).name) ->
          (GraftLogBloom.serialize(words), "v1"))
      }
    }.toMap
    val ndvStats = fields.indices.flatMap { i =>
      val name = fields(i).name
      Seq(GraftLogNdv.key(name) ->
            (GraftLogNdv.serialize(ndvRegs(i)), "v1"),
          GraftLogNdv.nullsKey(name) -> (nullCnt(i).toString, "n"))
    }.toMap
    minMax ++ bloomStats ++ ndvStats
  }
}

/** Deletion-vector sidecar codec: a sorted array of deleted row
  * ordinals (position within the part file, counting non-empty lines)
  * as raw 8-byte big-endian longs in a `dv-<uuid>.bin` file. Readers
  * walk it with a single pointer while streaming the file (positions
  * arrive in order), so the skip costs O(1) per row. A production
  * format would use a compressed bitmap (Delta DVs are roaring
  * bitmaps); the protocol shape — sidecar + manifest descriptor +
  * reader-side skip + compaction materialization — is the same. */
object GraftLogDv {
  def write(dir: String, positions: Array[Long]): String = {
    val name = s"dv-${UUID.randomUUID()}.bin"
    val bb = java.nio.ByteBuffer.allocate(positions.length * 8)
    positions.foreach(bb.putLong)
    Files.write(Paths.get(dir, name), bb.array())
    name
  }
  def read(dir: String, name: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(
      Files.readAllBytes(Paths.get(dir, name)))
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }
}

/** Identity-partition value of a part file, carried in the manifest
  * stats map under the reserved key `<col>#part` — a partitioned
  * writer routes each row to a per-value file, so every file holds
  * exactly one partition value and the manifest records which. This is
  * what lets the scan GROUP files by value and report
  * KeyGroupedPartitioning to Catalyst (storage-partitioned joins), the
  * way Iceberg's partition tuples do. Values are base64-wrapped so an
  * arbitrary string value survives the manifest's `;`/`=`/`,`
  * delimiters; the tag side records the type. */
object GraftLogPartValue {
  def key(col: String): String = s"$col#part"
  private val B64 = java.util.Base64.getEncoder
  private val B64D = java.util.Base64.getDecoder

  /** (encoded, tag) for the stats map. */
  def encode(v: Any): (String, String) = v match {
    case null => ("", "n")
    case s: UTF8String => (B64.encodeToString(s.getBytes), "s")
    case l: Long => (l.toString, "l")
    case i: Int => (i.toString, "i")
    case d: Double => (java.lang.Double.toString(d), "d")
    case other => throw new IllegalArgumentException(
      s"unsupported partition value type ${other.getClass}")
  }

  /** The file's partition value (null = the NULL partition), or None
    * when the entry carries no partition record (pre-partitioning
    * history, compaction rewrites). */
  def of(e: LogEntry, col: String): Option[Any] =
    e.stats.get(key(col)).map {
      case (_, "n") => null
      case (enc, "s") => UTF8String.fromBytes(B64D.decode(enc))
      case (enc, "l") => enc.toLong: Any
      case (enc, "i") => enc.toInt: Any
      case (enc, "d") => enc.toDouble: Any
      case (enc, tag) => throw new IllegalArgumentException(
        s"unknown partition value tag $tag for $enc")
    }
}

/** `cols` = the file's own column list from its manifest entry.
  * `start`/`length` bound a BYTE RANGE of the part: a block belongs to
  * the task whose range contains its start offset (the
  * parquet/FileScanRDD split rule), so a 10 GB part fans out over
  * many tasks instead of serializing into one. The defaults read the
  * whole file (small parts, streaming, groups). */
case class GraftLogPartition(dir: String, file: String,
    cols: Seq[String], dvFile: Option[String] = None,
    start: Long = 0L, length: Long = Long.MaxValue)
    extends InputPartition

/** One partition-value GROUP of files — the planning unit of a
  * partitioned scan. `partitionKey` hands Catalyst the group's value,
  * which is what makes two alike-partitioned tables join with ZERO
  * exchange (storage-partitioned join). */
case class GraftLogGroupPartition(dir: String, key: InternalRow,
    files: Seq[(String, Seq[String], Option[String])])
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** The one graft-log part-file reader: columnar batches for batch
  * scans, partition-value groups, and the plain and typed streams
  * (a micro-batch scan is a DSv2 scan exec too, so it reads columnar
  * the same way). `blockFilters` skip blocks by their footer stats. */
class GraftLogReaderFactory(tableSchema: StructType, required: StructType,
    blockFilters: Array[Filter] = Array.empty)
    extends PartitionReaderFactory {

  /** (dir, chained files with their own column layouts + byte range)
    * of a planned input partition — one file (possibly a range split
    * of it), or a partition-value group read through one reader
    * (groups never split: KeyGroupedPartitioning promises one
    * partition per key). */
  private def filesOf(p: InputPartition): (String,
      Seq[(String, Seq[String], Option[String], Long, Long)]) = p match {
    case part: GraftLogPartition =>
      (part.dir, Seq((part.file, part.cols, part.dvFile,
        part.start, part.length)))
    case g: GraftLogGroupPartition =>
      (g.dir, g.files.map { case (f, cols, dv) =>
        (f, cols, dv, 0L, Long.MaxValue) })
    case other => throw new IllegalArgumentException(
      s"unexpected partition $other")
  }

  /** Projection map: required field → chunk index in THIS FILE's
    * column layout (the entry's own column list). -1 = the column
    * post-dates the file: its rows read NULL, the schema-evolution
    * contract. -2 = the `_file` metadata column, -3 = the `_pos` row
    * ordinal: both served by the reader, never parsed from a cell. */
  private def cellIndexOf(fileCols: Seq[String]): Array[Int] = {
    // a file written before a RENAME COLUMN carries the column under
    // its recorded former name — resolve through the trail rather
    // than serving NULL for data the file does hold
    def indexOf(name: String): Int = fileCols.indexOf(name) match {
      case -1 =>
        tableSchema.fields.find(_.name == name)
          .flatMap(f => GraftLog.formerNames(f).collectFirst {
            case fn if fileCols.contains(fn) => fileCols.indexOf(fn)
          }).getOrElse(-1)
      case i => i
    }
    required.fields.map(f =>
      if (f.name == "_file" && !fileCols.contains("_file")) -2
      else if (f.name == "_pos" && !fileCols.contains("_pos")) -3
      else indexOf(f.name))
  }

  /** Vectorized read path — the contract Parquet's vectorized reader
    * honors and the repo's own SeriesSource demonstrates: rows
    * materialize 4096 at a time into `OnHeapColumnVector`s and reach
    * the engine as ColumnarBatch (the plan shows BatchScan →
    * ColumnarToRow), so whole-stage codegen consumes columns without
    * per-row iterator/GenericInternalRow overhead. Decoding walks tab
    * positions in place and materializes ONLY projected cells — column
    * pruning skips both the parse and the allocation. */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition): PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val (dir, files) = filesOf(p)
    // per-field decode tag bound once: 0=long 1=int 2=double 3=string
    val tag: Array[Int] = required.fields.map(_.dataType match {
      case LongType => 0
      case IntegerType => 1
      case DoubleType => 2
      case StringType => 3
      case other => throw new IllegalArgumentException(
        s"graft-log does not decode $other")
    })
    val BatchRows = 4096

    /** Per-file batch filler over the gcol blocks: fills up to `max`
      * rows into `vecs` from row 0, returns rows filled (0 =
      * exhausted). Decompresses ONLY projected chunks, honors the
      * byte-range split, and skips blocks whose footer stats refute a
      * pushed filter. */
    final class GcolCursor(f: String, partCols: Seq[String],
        dv: Option[String], start: Long, length: Long) {
      private val file = new File(dir, f)
      private val ch = java.nio.channels.FileChannel.open(
        file.toPath, java.nio.file.StandardOpenOption.READ)
      // a corrupt/truncated part must not leak the just-opened channel:
      // the ctor throws before `cur` is assigned, so close() could
      // never reach it — close here and rethrow
      private val footer =
        try GraftColFile.readFooter(ch, file)
        catch { case e: Throwable => ch.close(); throw e }
      private val idx: Array[Int] = cellIndexOf(partCols)
      private val nChunks = footer.cols.length
      private val nameBytes = f.getBytes(StandardCharsets.UTF_8)
      private val dvArr: Array[Long] =
        dv.map(GraftLogDv.read(dir, _)).getOrElse(Array.empty)
      private val rangeEnd =
        if (length == Long.MaxValue) Long.MaxValue else start + length
      // range assignment (a block belongs to the range containing its
      // start offset) + footer-stats block skipping - the in-file
      // analogue of manifest file skipping, evaluated through the SAME
      // mayMatch as planning (rename trails, NaN degradation included)
      private val blocks = footer.blocks.filter { b =>
        b.offset >= start && b.offset < rangeEnd &&
          (blockFilters.isEmpty || {
            val pseudo = LogEntry(-1L, "add", f, b.rows,
              dataChange = true, b.stats, cols = partCols)
            blockFilters.forall(fl =>
              GraftLogScan.mayMatch(tableSchema, pseudo, fl))
          })
      }
      private var bi = 0
      // per required field: plain cells OR a dict-index view whose
      // distinct values are decoded ONCE per block - a long is parsed
      // per DISTINCT, not per row, and string bytes are shared
      private var plainCells: Array[Array[String]] = _
      private var dIdx: Array[Array[Byte]] = _
      private var dNull: Array[Array[Boolean]] = _
      private var dLong: Array[Array[Long]] = _
      private var dInt: Array[Array[Int]] = _
      private var dDouble: Array[Array[Double]] = _
      private var dBytes: Array[Array[Array[Byte]]] = _
      // typed binary chunks: per-row values + null flags, no parsing
      private var bLong: Array[Array[Long]] = _
      private var bDouble: Array[Array[Double]] = _
      private var bNulls: Array[Array[Boolean]] = _
      private var rowIn = 0
      private var blockRows = 0
      private var firstOrd = 0L
      private var dvPtr = 0

      private def lowerBound(a: Array[Long], v: Long): Int = {
        var lo = 0; var hi = a.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (a(m) < v) lo = m + 1 else hi = m
        }
        lo
      }

      private def isNullCell(s: String): Boolean =
        s.length == 1 && s.charAt(0) == '\u0000'

      private def loadBlock(): Boolean = {
        if (bi >= blocks.length) return false
        val b = blocks(bi); bi += 1
        // decode each DISTINCT projected chunk once (a duplicated
        // projection must not decompress twice)
        val byCi = idx.filter(ci => ci >= 0 && ci < nChunks).distinct
          .map(ci => ci -> GraftColFile.readChunk(ch, b, ci)).toMap
        val nJ = idx.length
        plainCells = new Array(nJ); dIdx = new Array(nJ)
        dNull = new Array(nJ); dLong = new Array(nJ)
        dInt = new Array(nJ); dDouble = new Array(nJ)
        dBytes = new Array(nJ)
        bLong = new Array(nJ); bDouble = new Array(nJ)
        bNulls = new Array(nJ)
        var j = 0
        while (j < nJ) {
          val ci = idx(j)
          if (ci >= 0 && ci < nChunks) byCi(ci) match {
            case GraftColFile.PlainChunk(cs) => plainCells(j) = cs
            case GraftColFile.LongsChunk(vs, ns) =>
              bLong(j) = vs; bNulls(j) = ns
            case GraftColFile.DoublesChunk(vs, ns) =>
              bDouble(j) = vs; bNulls(j) = ns
            case GraftColFile.LongDictChunk(dvs, dns, ix) =>
              // typed dict: the distinct values arrive as binary —
              // nothing to parse on the matching-type path. A
              // MISMATCHED required type goes through the canonical
              // text exactly like a plain chunk would (one render +
              // parse per DISTINCT), so the same cell fails or
              // converts identically whatever encoding the block
              // happened to choose — never a silent toInt truncation.
              dIdx(j) = ix; dNull(j) = dns
              def lText(d: Int): String = java.lang.Long.toString(dvs(d))
              tag(j) match {
                case 0 => dLong(j) = dvs
                case 1 => dInt(j) = Array.tabulate(dvs.length)(d =>
                  if (dns(d)) 0
                  else java.lang.Integer.parseInt(lText(d)))
                case 2 => dDouble(j) = Array.tabulate(dvs.length)(d =>
                  if (dns(d)) 0d
                  else java.lang.Double.parseDouble(lText(d)))
                case _ => dBytes(j) = Array.tabulate(dvs.length)(d =>
                  if (dns(d)) null
                  else lText(d).getBytes(StandardCharsets.UTF_8))
              }
            case GraftColFile.DoubleDictChunk(dvs, dns, ix) =>
              dIdx(j) = ix; dNull(j) = dns
              def dText(d: Int): String =
                java.lang.Double.toString(dvs(d))
              tag(j) match {
                case 2 => dDouble(j) = dvs
                case 0 => dLong(j) = Array.tabulate(dvs.length)(d =>
                  if (dns(d)) 0L
                  else java.lang.Long.parseLong(dText(d)))
                case 1 => dInt(j) = Array.tabulate(dvs.length)(d =>
                  if (dns(d)) 0
                  else java.lang.Integer.parseInt(dText(d)))
                case _ => dBytes(j) = Array.tabulate(dvs.length)(d =>
                  if (dns(d)) null
                  else dText(d).getBytes(StandardCharsets.UTF_8))
              }
            case GraftColFile.DictChunk(dict, ix) =>
              dIdx(j) = ix
              dNull(j) = dict.map(isNullCell)
              tag(j) match {
                case 0 => dLong(j) = dict.map(s =>
                  if (isNullCell(s)) 0L
                  else java.lang.Long.parseLong(s))
                case 1 => dInt(j) = dict.map(s =>
                  if (isNullCell(s)) 0
                  else java.lang.Integer.parseInt(s))
                case 2 => dDouble(j) = dict.map(s =>
                  if (isNullCell(s)) 0d
                  else java.lang.Double.parseDouble(s))
                case _ => dBytes(j) = dict.map(s =>
                  if (isNullCell(s)) null
                  else s.getBytes(StandardCharsets.UTF_8))
              }
          }
          j += 1
        }
        rowIn = 0
        blockRows = b.rows.toInt
        firstOrd = b.firstOrdinal
        dvPtr = lowerBound(dvArr, firstOrd)
        true
      }

      def fill(vecs: Array[OnHeapColumnVector], max: Int): Int = {
        var r = 0
        while (r < max) {
          if (plainCells == null || rowIn >= blockRows) {
            if (!loadBlock()) return r
          }
          val ord = firstOrd + rowIn
          if (dvPtr < dvArr.length && dvArr(dvPtr) == ord) {
            dvPtr += 1; rowIn += 1
          } else {
            var j = 0
            while (j < tag.length) {
              val ci = idx(j)
              if (ci == -2) vecs(j).putByteArray(r, nameBytes)
              else if (ci == -3) vecs(j).putLong(r, ord)
              else if (ci < 0 || ci >= nChunks) vecs(j).putNull(r)
              else if (bLong(j) != null) {
                // binary integral chunk, served under the REQUIRED
                // type (an int→long/double-widened column reads old
                // files' values through the numeric conversion)
                if (bNulls(j)(rowIn)) vecs(j).putNull(r)
                else {
                  val v = bLong(j)(rowIn)
                  tag(j) match {
                    case 0 => vecs(j).putLong(r, v)
                    case 1 => vecs(j).putInt(r, v.toInt)
                    case 2 => vecs(j).putDouble(r, v.toDouble)
                    case _ => vecs(j).putByteArray(r,
                      java.lang.Long.toString(v)
                        .getBytes(StandardCharsets.UTF_8))
                  }
                }
              } else if (bDouble(j) != null) {
                if (bNulls(j)(rowIn)) vecs(j).putNull(r)
                else {
                  val v = bDouble(j)(rowIn)
                  tag(j) match {
                    case 2 => vecs(j).putDouble(r, v)
                    case 0 => vecs(j).putLong(r, v.toLong)
                    case 1 => vecs(j).putInt(r, v.toInt)
                    case _ => vecs(j).putByteArray(r,
                      java.lang.Double.toString(v)
                        .getBytes(StandardCharsets.UTF_8))
                  }
                }
              } else if (dIdx(j) != null) {
                val di = dIdx(j)(rowIn) & 0xff
                if (dNull(j)(di)) vecs(j).putNull(r)
                else tag(j) match {
                  case 0 => vecs(j).putLong(r, dLong(j)(di))
                  case 1 => vecs(j).putInt(r, dInt(j)(di))
                  case 2 => vecs(j).putDouble(r, dDouble(j)(di))
                  case _ => vecs(j).putByteArray(r, dBytes(j)(di))
                }
              } else {
                val cell = plainCells(j)(rowIn)
                if (isNullCell(cell))
                  vecs(j).putNull(r) // the null sentinel cell
                else tag(j) match {
                  case 0 => vecs(j).putLong(r,
                    java.lang.Long.parseLong(cell))
                  case 1 => vecs(j).putInt(r,
                    java.lang.Integer.parseInt(cell))
                  case 2 => vecs(j).putDouble(r,
                    java.lang.Double.parseDouble(cell))
                  case _ => vecs(j).putByteArray(r,
                    cell.getBytes(StandardCharsets.UTF_8))
                }
              }
              j += 1
            }
            rowIn += 1
            r += 1
          }
        }
        r
      }
      def close(): Unit = ch.close()
    }

    new PartitionReader[ColumnarBatch] {
      private var fi = 0
      private var cur: GcolCursor = _
      private var batch: ColumnarBatch = _

      private def advance(): Boolean = {
        if (cur != null) return true
        if (fi >= files.size) return false
        val (f, cols, dv, start, length) = files(fi); fi += 1
        cur = new GcolCursor(f, cols, dv, start, length)
        true
      }

      override def next(): Boolean = {
        if (batch != null) { batch.close(); batch = null }
        while (advance()) {
          val vecs = required.fields.map(fd =>
            new OnHeapColumnVector(BatchRows, fd.dataType))
          val n = cur.fill(vecs, BatchRows)
          if (n == 0) {
            cur.close(); cur = null
            vecs.foreach(_.close())
          } else {
            batch = new ColumnarBatch(vecs.toArray[ColumnVector], n)
            return true
          }
        }
        false
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = {
        if (batch != null) { batch.close(); batch = null }
        if (cur != null) { cur.close(); cur = null }
      }
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft-log part files are read as columnar batches only")
}
