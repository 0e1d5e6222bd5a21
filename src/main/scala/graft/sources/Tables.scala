package graft.sources

import org.apache.spark.sql.{DataFrame, GraftPlanShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet loaders for the driver fixtures (TESTDATA.md). The reference
  * has no file I/O at all (SURVEY.md §2.1) — the Parquet scan with
  * Spark's vectorized reader is this engine's native ingest path, and the
  * one that matters at 100 TB: filters and projections declared on these
  * frames reach the scan as PushedFilters/ReadSchema, pruning row groups
  * and columns before any byte is decoded.
  *
  * Resolve once: a `spark.read.parquet` without a schema runs a
  * footer-inference job on every call. [[schemaOf]] infers a path's
  * schema once per process and every later read passes it with
  * `.schema(s)`, so building a read runs no Spark job.
  *  - Key: the absolute path, a fingerprint of its files (name, mtime
  *    and length, recursing into a `*.parquet` directory, as
  *    `ArtifactCache.fixtureTag` does) and the session's Parquet
  *    inference confs (`spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.*`): [[events]] reads under
  *    [[withNanosAsLong]], which changes the inferred `ts` type.
  *  - Staleness: rewriting the files changes the fingerprint, so the
  *    next read infers again under a new key; the old entry is never
  *    hit again. The key names no session, so none is kept alive, and
  *    sessions with the same confs share an entry.
  *  - Only the `StructType` is cached, never a DataFrame or data: each
  *    call builds a fresh relation with fresh exprIds, so a self-join
  *    of two reads of one table resolves as it always did. */
object Tables {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String], Map[String, String]), StructType]()

  /** The Parquet schema of `path` as `spark.read.parquet` infers it
    * under `s`'s current confs, inferred at most once per key (see the
    * object doc). A concurrent first read may infer twice; both store
    * the same schema. `path` is local, like every fixture: the
    * fingerprint reads it through `java.io`, so on another filesystem
    * it would be constant and a rewrite would go unseen. */
  def schemaOf(s: SparkSession, path: String): StructType = {
    val f = new java.io.File(path).getAbsoluteFile
    val confs = s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }
    val key = (f.getPath, graft.core.ArtifactCache.fileStamps(f, ""), confs)
    val hit = schemas.get(key)
    if (hit != null) hit
    else {
      val inferred = s.read.parquet(f.getPath).schema
      schemas.put(key, inferred)
      inferred
    }
  }

  /** A Parquet read of `path` with its resolved schema. */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schemaOf(s, path)).parquet(path)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.parquet's `ts` encoding has changed across driver fixture
    * generations — TIMESTAMP(NANOS) (reads as int64 under the legacy
    * conf), then timestamp[us] with no timezone (reads as
    * TIMESTAMP_NTZ). Dispatch on the READ schema so every generation
    * lands on the same session-local TimestampType the rest of the
    * engine (and the DuckDB oracles' CAST(ts AS TIMESTAMP)) expect:
    *  - LongType → raw nanos: integral `div 1000` to micros (`div`, not
    *    `/`: a double intermediate rounds off-by-one-microsecond);
    *  - TIMESTAMP_NTZ → cast to TimestampType (identity on the stored
    *    micros under the session's UTC timezone, GraftExtensions.builder);
    *  - TimestampType → already native, pass through. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(withNanosAsLong(s)(table(s, d, "events")))

  /** The streaming twin of [[events]] — ONE copy of the readStream
    * scaffold (raw on-disk schema read under nanos-as-long, directory
    * source narrowed by pathGlobFilter, in-plan ts normalization), so
    * the next fixture-generation ts-encoding change is absorbed here
    * once, not per consumer. `watermark` bounds state for consumers
    * that aggregate/join; stateful processors that manage their own
    * state pass None.
    *
    * SIDE EFFECT callers embedding the library must know: when the
    * fixture's `ts` is INT64(NANOS), this PERMANENTLY sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the shared
    * session (see the in-body comment for why a scoped restore can't
    * work for a stream). From then on any unrelated parquet read of a
    * TIMESTAMP(NANOS) column in the same session silently yields
    * LongType instead of the loud PARQUET_TYPE_ILLEGAL error. Spark
    * offers no per-stream read option for this conf today; if one
    * lands, scope it to the stream's options instead. This is the one
    * session conf a library call leaves changed; TablesSchemaSpec pins
    * that it is this entry alone, and only for a nanos fixture. */
  def eventsStream(s: SparkSession, d: String,
      watermark: Option[String] = None): DataFrame = {
    val schema = withNanosAsLong(s)(schemaOf(s, s"$d/events.parquet"))
    // A NANOS-annotated generation needs the legacy conf at
    // MICRO-BATCH time, not just while this plan is built: the
    // streaming engine clones the session (capturing confs) at
    // .start(), which callers invoke only after this function
    // returned — a scoped set-and-restore here would leave every
    // micro-batch read throwing PARQUET_TYPE_ILLEGAL while the batch
    // twin kept working. Leave the conf set for the session exactly
    // when the generation IS nanos (it only affects TIMESTAMP(NANOS)
    // columns, which only this fixture carries); the other
    // generations never set it.
    if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rdr = s.readStream.schema(schema)
    // The driver fixtures store events as a single FILE
    // `events.parquet`; Spark-written fixtures (the amplified replay
    // corpora) are a DIRECTORY of part files under the same name. The
    // glob-filter form only matches the file layout — a directory is
    // streamed directly (it holds nothing but event parts).
    val evDir = new java.io.File(d, "events.parquet")
    val raw = normalizeEventTs(
      if (evDir.isDirectory) rdr.parquet(evDir.getPath)
      else rdr.option("pathGlobFilter", "events.parquet").parquet(d))
    watermark.fold(raw)(w => raw.withWatermark("ts", w))
  }

  /** The ts-normalization dispatch, shared with the readStream twins in
    * `streaming.EventWindows`/`streaming.Stateful` (the conversion is a
    * plain projection, so it plans identically in batch and streaming). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Scope the legacy nanos-as-long conf to one read: the conf matters
    * where the footer schema is inferred ([[schemaOf]], whose key
    * carries it) and the scan then reads with that schema, so restoring
    * it immediately after keeps the rest of the session on strict
    * semantics (a permanent set() here was flipping
    * every later parquet read in the session — ADVICE r2). There is no
    * per-read option for this conf (verified: the option-shaped read
    * still throws PARQUET_TYPE_ILLEGAL). */
  def withNanosAsLong[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.legacy.parquet.nanosAsLong", "true")(body)

  /** Runs `body` with one session conf set, then puts back exactly what
    * was there: the caller's explicit value, or no entry at all when
    * the key was unset (`getOption` would report the conf's default,
    * and restoring that would leave an explicit entry behind), also
    * when `body` throws. */
  def withConf[T](s: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prior =
      if (GraftPlanShim.isConfSet(s, key)) Some(s.conf.get(key)) else None
    s.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
