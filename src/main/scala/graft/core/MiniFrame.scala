package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity API (SURVEY.md §7.2): a thin semantic wrapper over a
  * vanilla Spark `DataFrame`. The wrapper owns everything Catalyst does
  * not: strict dtype checks with the reference's exact error messages
  * (E17), null-semantics wrapping (RefSemantics), mask validation, strict
  * `fromDict` inference, and positional row order.
  *
  * Row order: the reference's columns are Python lists, so row identity is
  * positional (SURVEY.md §1.1). Spark DataFrames are unordered; we carry an
  * explicit `_idx: long` order column, assigned once at ingest. Same-frame
  * expression algebra never touches it (zero cost at scale); cross-frame
  * binary ops align by joining on `_idx` (inherently shuffle-heavy at
  * 100 TB — documented as discouraged-but-correct, SURVEY.md §7.5); sorts
  * by `_idx` happen only at collect/show/positional-lookup boundaries.
  */
object MiniFrame {
  val IDX = "_idx"

  /** Column-oriented ingest, reference `DataFrame.from_dict`
    * (data_frame.py:391-406): equal-length validation then per-column
    * strict inference (`Series.from_array_like`, data_frame.py:91-118). */
  def fromDict(spark: SparkSession, cols: Seq[(String, Seq[Any])]): MiniFrame = {
    if (cols.isEmpty)
      throw new IllegalArgumentException("Data must be array-like")
    val n = cols.head._2.length
    if (cols.exists(_._2.length != n))
      throw new IllegalArgumentException("All columns must have the same length")
    val inferred = cols.map { case (name, data) =>
      val inf = Inference.inferColumn(data)
      StructField(name, inf.dtype.spark, nullable = inf.optional)
    }
    val schema = StructType(
      StructField(IDX, LongType, nullable = false) +: inferred)
    val rows = (0L until n.toLong).map { i =>
      Row.fromSeq(i +: cols.map { case (_, data) =>
        DType.normalize(data(i.toInt))
      })
    }
    new MiniFrame(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema))
  }

  /** Build a standalone Series (reference `Series.from_array_like`). */
  def seriesFromArray(spark: SparkSession, data: Seq[Any],
      name: String = "s"): MiniSeries =
    fromDict(spark, Seq(name -> data)).getColumn(name)

  /** Native ingest path for the driver fixtures: Parquet scan with an
    * `_idx` order column. The reference has no file I/O at all
    * (SURVEY §2.1); Parquet + vectorized reader is the 100 TB ingest
    * story. The schema is resolved once per file (`Tables.schemaOf`). */
  def fromParquet(spark: SparkSession, path: String): MiniFrame =
    new MiniFrame(withIdx(graft.sources.Tables.read(spark, path)))

  /** Global position column, fully inside Catalyst (the r2 version went
    * through `rdd.zipWithIndex`, which deserializes every row and kills
    * the vectorized Parquet reader). `monotonically_increasing_id()` is
    * `(partition_id << 33) | row_in_partition` with the low 33 bits
    * CONTIGUOUS from 0 within each partition, so the global index is
    * per-partition offset + low bits: one partial-aggregate shuffle of
    * P one-row groups (P = #partitions, not data size), a broadcast
    * join back, and pure column arithmetic — scan stays columnar,
    * everything whole-stage-codegen'd. */
  private[graft] def withIdx(df: DataFrame): DataFrame = {
    val rowInPart = lit((1L << 33) - 1L) // low-33-bit mask
    val tagged = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rip", monotonically_increasing_id().bitwiseAND(rowInPart))
    val counts = tagged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
    // exclusive prefix over the P-row counts frame WITHOUT a window
    // (see SmallFrames: a constant-partition window folds to the
    // empty spec and logs the single-partition warning on every run)
    val offsets = SmallFrames.selfJoinPrefixSum(counts,
        Seq("__pid" -> true), "__cnt", "__off")
      .select(col("__pid"), col("__off"))
    tagged.join(broadcast(offsets), "__pid")
      .withColumn(IDX, col("__off") + col("__rip"))
      .select(col(IDX) +: df.columns.map(col): _*)
  }
}

final class MiniFrame private[core] (private[graft] val df: DataFrame) {
  import MiniFrame.IDX

  def spark: SparkSession = df.sparkSession
  def columnNames: Seq[String] = df.columns.toSeq.filterNot(_ == IDX)

  /** P1/P2 `get_column` (data_frame.py:352-355). */
  def apply(name: String): MiniSeries = getColumn(name)
  def getColumn(name: String): MiniSeries = {
    if (!columnNames.contains(name))
      throw new IllegalArgumentException("Column not found")
    val field = df.schema(name)
    new MiniSeries(df, col(name), DType.fromSpark(field.dataType),
      field.nullable, name)
  }

  /** F3: filter every column with one non-optional boolean mask
    * (data_frame.py:377-379). One distributed row filter — strictly
    * better than the reference's per-column pass, same semantics. */
  def apply(mask: MiniSeries): MiniFrame = {
    mask.validateAsMask()
    if (mask.parent eq df) new MiniFrame(df.filter(mask.expr))
    else {
      if (mask.length != count())
        throw new IllegalArgumentException(
          "Mask must have the same length as the series")
      val m = mask.parent.select(col(IDX), mask.expr.as("__mask"))
      new MiniFrame(df.join(m, Seq(IDX)).filter(col("__mask")).drop("__mask"))
    }
  }

  /** J1 `left_join` (data_frame.py:357-363 — incomplete in the reference;
    * we implement the intended left-outer equi-join, SURVEY.md §2.5).
    * Standard SQL multiplicity (dup right keys multiply rows — documented
    * divergence from the sketch's last-wins dict). Left row order is
    * recoverable via `_idx`; Catalyst/AQE picks broadcast-hash vs
    * sort-merge automatically. */
  def leftJoin(right: MiniFrame, on: String): MiniFrame =
    new MiniFrame(df.join(right.df.drop(IDX), Seq(on), "left_outer"))

  /** Materialize in reference row order (display/collect boundary only). */
  def toDF: DataFrame = df.orderBy(col(IDX)).drop(IDX)
  def count(): Long = df.count()
  def collectRows(): Seq[Row] = toDF.collect().toSeq

  /** S6 `__str__` (data_frame.py:387-389): tabulated render of the first
    * rows, in reference order. */
  override def toString: String = {
    val names = columnNames
    val rows = toDF.limit(20).collect().toSeq
      .map(r => names.map(n => String.valueOf(r.getAs[Any](n))))
    val widths = names.indices.map { i =>
      (names(i).length +: rows.map(_(i).length)).max
    }
    def fmt(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    (fmt(names) +: fmt(widths.map("-" * _)) +: rows.map(fmt)).mkString("\n")
  }
}

/** One named, typed column bound to a parent frame (reference `Series`,
  * data_frame.py:77-89). Expressions stay unevaluated `Column` ASTs —
  * Catalyst fuses chains like `(price + 5 > 10) & ~taxed` into a single
  * codegen pass, the fusion the reference's comments wish for
  * (data_frame.py:210-216). */
final class MiniSeries private[core] (
    private[graft] val parent: DataFrame,
    private[graft] val expr: Column,
    val dtype: DType,
    val nullable: Boolean,
    val name: String) {
  import MiniFrame.IDX
  import graft.core.{RefSemantics => S}

  // ---- operand alignment (reference `_biop`/`_other_dtype`,
  // data_frame.py:197-206) ----------------------------------------------
  // Result of aligning this series with an operand: a common parent plus
  // both value columns. Same-frame and scalar operands are free; a
  // cross-frame series costs a positional `_idx` equi-join after the
  // reference's length check ("Series must have the same length").
  private final case class Aligned(parent: DataFrame, l: Column, r: Column,
      rDtype: DType, rNullable: Boolean)

  private def align(o: Any): Aligned = o match {
    case s: MiniSeries if s.parent eq parent =>
      Aligned(parent, expr, s.expr, s.dtype, s.nullable)
    case s: MiniSeries =>
      if (s.length != length)
        throw new IllegalArgumentException("Series must have the same length")
      val l = parent.select(col(IDX), expr.as("__l"))
      val r = s.parent.select(col(IDX), s.expr.as("__r"))
      Aligned(l.join(r, Seq(IDX)), col("__l"), col("__r"), s.dtype, s.nullable)
    case null => Aligned(parent, expr, lit(null), DType.NoneT, true)
    case v =>
      Aligned(parent, expr, lit(DType.normalize(v)), DType.of(v), false)
  }

  // ---- operation classes (reference data_frame.py:223-245) ------------
  private def numericCmp(o: Any, op: (Column, Column) => Column): MiniSeries = {
    val a = align(o)
    if (!(dtype.isNumeric && a.rDtype.isNumeric))
      throw new IllegalArgumentException(
        "Can only compare between numeric values or series")
    new MiniSeries(a.parent, op(a.l, a.r), DType.BoolT, false, name)
  }

  private def equalityCmp(o: Any, op: (Column, Column) => Column): MiniSeries = {
    val a = align(o)
    if (!((dtype.isNumeric && a.rDtype.isNumeric) || dtype == a.rDtype))
      throw new IllegalArgumentException(
        "Can only compare same type series or values")
    new MiniSeries(a.parent, op(a.l, a.r), DType.BoolT, false, name)
  }

  private def arith(o: Any, op: (Column, Column) => Column,
      forceFloat: Boolean = false): MiniSeries = {
    val a = align(o)
    if (!(dtype.isNumeric && a.rDtype.isNumeric))
      throw new IllegalArgumentException(
        "Can only perform arithmetic operations on numeric series or values")
    val out =
      if (forceFloat || dtype == DType.FloatT || a.rDtype == DType.FloatT)
        DType.FloatT
      else DType.IntT
    new MiniSeries(a.parent, op(a.l, a.r).cast(out.spark), out,
      nullable || a.rNullable, name)
  }

  private def boolOp(o: Any, op: (Column, Column) => Column): MiniSeries = {
    val a = align(o)
    if (!(dtype == DType.BoolT && a.rDtype == DType.BoolT))
      throw new IllegalArgumentException(
        "Can only perform boolean operations on boolean series")
    new MiniSeries(a.parent, op(a.l, a.r), DType.BoolT,
      nullable || a.rNullable, name)
  }

  // ---- E1-E16 public surface (SURVEY.md §2.4) -------------------------
  def <(o: Any): MiniSeries = numericCmp(o, S.lt)
  def <=(o: Any): MiniSeries = numericCmp(o, S.le)
  def >(o: Any): MiniSeries = numericCmp(o, S.gt)
  def >=(o: Any): MiniSeries = numericCmp(o, S.ge)
  def ===(o: Any): MiniSeries = equalityCmp(o, S.eq)
  def !==(o: Any): MiniSeries = equalityCmp(o, S.ne)
  def +(o: Any): MiniSeries = arith(o, S.add)
  def -(o: Any): MiniSeries = arith(o, S.sub)
  def *(o: Any): MiniSeries = arith(o, S.mul)
  def /(o: Any): MiniSeries = arith(o, S.div, forceFloat = true)
  def %(o: Any): MiniSeries = arith(o, S.pyMod)
  def &&(o: Any): MiniSeries = boolOp(o, S.and)
  def ||(o: Any): MiniSeries = boolOp(o, S.or)
  def ^(o: Any): MiniSeries = boolOp(o, S.xor)

  /** E16 `__invert__` (data_frame.py:342-344): null propagates. */
  def unary_! : MiniSeries = {
    if (dtype != DType.BoolT)
      throw new IllegalArgumentException(
        "Can only perform boolean operations on boolean series")
    new MiniSeries(parent, S.not(expr), DType.BoolT, nullable, name)
  }

  // ---- F1 apply_mask (data_frame.py:145-173) --------------------------
  private[core] def validateAsMask(): Unit = {
    if (dtype != DType.BoolT)
      throw new IllegalArgumentException("Mask must be a boolean series")
    if (nullable)
      throw new IllegalArgumentException(
        "Mask should be a non-optional boolean series")
  }

  def applyMask(mask: MiniSeries): MiniSeries = {
    mask.validateAsMask()
    if (mask.parent eq parent)
      new MiniSeries(parent.filter(mask.expr), expr, dtype, nullable, name)
    else {
      if (mask.length != length)
        throw new IllegalArgumentException(
          "Mask must have the same length as the series")
      val m = mask.parent.select(col(IDX), mask.expr.as("__mask"))
      val filtered = parent.join(m, Seq(IDX)).filter(col("__mask")).drop("__mask")
      new MiniSeries(filtered, expr, dtype, nullable, name)
    }
  }

  /** P3 positional scalar lookup (data_frame.py:132-133). O(scan) with
    * predicate pushdown on `_idx`; no global sort. */
  def at(i: Long): Any = {
    val rows = parent.filter(col(IDX) === i).select(expr).collect()
    if (rows.isEmpty)
      throw new IndexOutOfBoundsException(s"Series index out of range: $i")
    rows(0).get(0)
  }

  /** S7 `__len__`. */
  def length: Long = parent.count()

  /** Materialize values in reference order (S5 boundary). */
  def values(): Seq[Any] =
    parent.orderBy(col(IDX)).select(expr).collect().toSeq.map(_.get(0))

  /** S5 `__str__` (data_frame.py:139-143). */
  override def toString: String = {
    val opt = if (nullable) "optional " else ""
    s"Series($name <$opt${dtype.pyName}>, ${values().mkString("[", ", ", "]")})"
  }
}
