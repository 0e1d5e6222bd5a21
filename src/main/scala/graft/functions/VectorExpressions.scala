package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, EvalMode, Expression, ExpressionInfo, Literal, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native dot product over two `array<float>` columns.
  *
  * The composed form `aggregate(zip_with(a, b, multiply), 0.0, add)`
  * allocates an intermediate array and walks three lambda closures per
  * row; this expression is one fused loop inside whole-stage codegen —
  * the "custom Catalyst `Expression` beats a UDF" path for the one hot
  * scalar kernel in the similarity operators. Accumulation is the same
  * strict left-to-right double fold, so results are bit-identical to the
  * composed form (and to the DuckDB `list_reduce` oracles). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  // Always nullable: a runtime length mismatch yields NULL even when both
  // inputs are non-nullable (and nullable=false would make ev.isNull a
  // non-assignable `false` literal in the generated code).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  // Unequal lengths or a null element yield NULL — same contract as the
  // composed aggregate(zip_with(...)) form this kernel replaced, so the
  // scaladoc's bit-identical claim holds on malformed inputs too.
  private def mayContainNullElements: Boolean = Seq(left, right).exists {
    e => e.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // Elide the per-element null check when both array types declare
      // containsNull=false (the fixture embeddings and plane literals) —
      // keeps the hot loop a straight fused multiply-add.
      val nullCheck = if (mayContainNullElements) {
        s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
      } else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 distance over two `array<bigint>` columns — the
  * hot kernel of IVF/PQ quantizer training and ADC encoding. The
  * composed `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, add)`
  * form walks three interpreted lambda closures per element (the r7
  * scale probe measured 139 s of IVF training at amplified sf0.1,
  * dominated by exactly this); one fused codegen loop removes the
  * per-element interpretation entirely. Pure long arithmetic, so the
  * result is identical to the composed form and to the DuckDB
  * `list_reduce` oracle twins — swapping the kernel cannot move a
  * single centroid. */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sqdist requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  // Same contract as DotProduct: length mismatch / null element → NULL.
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sqdist"

  private def mayContainNullElements: Boolean = Seq(left, right).exists {
    e => e.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullCheck = if (mayContainNullElements) {
        s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
      } else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

/** The nearest centroid's id for each quantized vector — the
  * assignment step of IVF and PQ k-means and of PQ encoding, as one
  * fused loop: exact integer squared-L2 (the [[SquaredL2]] arithmetic)
  * against every centroid of the vector's set, ties to the smaller id.
  * The composed form crossed every vector with every centroid, one
  * `graft_sqdist` row per pair, and sorted them in a `row_number`
  * window to keep one per vector: O(n·k) materialized rows per pass
  * where this keeps the k·d arithmetic in registers.
  *
  * `graft_nearest(vec_id, vec, set, ids, cents)`: `ids[set]` names the
  * centroids of set `set` and `cents[set]` holds them flattened
  * row-major; both are foldable (the driver passes the trained
  * centroids as literals — IVF one set, PQ one per subspace). A
  * malformed vector (NULL, a NULL element, or a length other than its
  * set's dimension) has no distance to the centroids, so it throws,
  * naming its `vec_id`. */
case class NearestCentroid(vecId: Expression, vec: Expression,
    set: Expression, ids: Expression, cents: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(vecId, vec, set, ids, cents)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest"

  override def checkInputDataTypes(): TypeCheckResult =
    Centroids.checkTypes(prettyName,
      "graft_nearest(vec_id, vec, set, ids, cents)", vecId, vec, Some(set),
      ids, cents)

  @transient private lazy val table = Centroids(
    ids.eval().asInstanceOf[ArrayData], cents.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = {
    val id = vecId.eval(input)
    val s = set.eval(input)
    table.nearest(id == null, if (id == null) 0L else id.asInstanceOf[Long],
      vec.eval(input).asInstanceOf[ArrayData],
      s == null, if (s == null) 0 else s.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("centroids", table, classOf[Centroids].getName)
    val id = vecId.genCode(ctx)
    val v = vec.genCode(ctx)
    val s = set.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${id.code}
      |${v.code}
      |${s.code}
      |long ${ev.value} = $t.nearest(${id.isNull}, ${id.value},
      |  ${v.isNull} ? null : ${v.value}, ${s.isNull}, ${s.value});
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): NearestCentroid =
    copy(vecId = c(0), vec = c(1), set = c(2), ids = c(3), cents = c(4))
}

/** The ADC distance table of each query vector — the query half of
  * product-quantization search, as one fused loop: for every centroid
  * set (a PQ subspace), the exact integer squared-L2 from the vector's
  * slice of that set to each of its centroids. `vec` is the
  * concatenation of one subvector per set, in set order.
  *
  * `graft_adc_table(vec_id, vec, ids, cents)` takes the centroids as
  * [[NearestCentroid]] does, as literals. Row `set` of the result is
  * indexed by centroid id and holds NULL at an id with no centroid (a
  * centroid no vector chose during training), so [[AdcDistance]] fails
  * on a code that names it instead of reading a distance. A malformed
  * vector (NULL, a NULL element, or a length other than the sets'
  * total dimension) throws, naming its `vec_id`. */
case class AdcTable(vecId: Expression, vec: Expression, ids: Expression,
    cents: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(vecId, vec, ids, cents)
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = true), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_adc_table"

  override def checkInputDataTypes(): TypeCheckResult =
    Centroids.checkTypes(prettyName, "graft_adc_table(vec_id, vec, ids, cents)",
      vecId, vec, None, ids, cents)

  @transient private lazy val table = Centroids(
    ids.eval().asInstanceOf[ArrayData], cents.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = {
    val id = vecId.eval(input)
    table.table(id == null, if (id == null) 0L else id.asInstanceOf[Long],
      vec.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("centroids", table, classOf[Centroids].getName)
    val id = vecId.genCode(ctx)
    val v = vec.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${id.code}
      |${v.code}
      |ArrayData ${ev.value} = $t.table(${id.isNull}, ${id.value},
      |  ${v.isNull} ? null : ${v.value});
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AdcTable =
    copy(vecId = c(0), vec = c(1), ids = c(2), cents = c(3))
}

/** Asymmetric distance computation for one PQ-encoded vector:
  * Σ tbl[sub][codes[sub]], one table lookup per subspace, exact long
  * arithmetic. `graft_adc(vec_id, codes, tbl)` takes the vector's code
  * word and a query's [[AdcTable]] row. It never yields NULL: a NULL
  * code word or table, a code word whose length is not the table's
  * subspace count, a NULL code, or a code with no table slot (outside
  * the row, or NULL there) throws, naming the `vec_id` — a NULL
  * distance would sort first under `adc_dist ASC`. */
case class AdcDistance(vecId: Expression, codes: Expression,
    tbl: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(vecId, codes, tbl)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_adc"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = vecId.dataType == LongType && (codes.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }) && (tbl.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_adc(vec_id, codes, tbl) requires bigint, array<bigint>, " +
        "array<array<bigint>>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def eval(input: InternalRow): Any = {
    val id = vecId.eval(input)
    AdcDistance.distance(id == null, if (id == null) 0L else id.asInstanceOf[Long],
      codes.eval(input).asInstanceOf[ArrayData],
      tbl.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val id = vecId.genCode(ctx)
    val c = codes.genCode(ctx)
    val t = tbl.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${id.code}
      |${c.code}
      |${t.code}
      |long ${ev.value} = graft.functions.AdcDistance.distance(${id.isNull},
      |  ${id.value}, ${c.isNull} ? null : ${c.value},
      |  ${t.isNull} ? null : ${t.value});
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AdcDistance =
    copy(vecId = c(0), codes = c(1), tbl = c(2))
}

object AdcDistance {
  def distance(idNull: Boolean, id: Long, codes: ArrayData,
      tbl: ArrayData): Long = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"graft_adc: vec_id ${if (idNull) "NULL" else id.toString} $what")
    if (codes == null) fail("has a NULL code word")
    if (tbl == null) fail("is scored against a NULL distance table")
    val m = tbl.numElements()
    if (codes.numElements() != m)
      fail(s"has ${codes.numElements()} codes; the table has $m subspaces")
    var acc = 0L
    var sub = 0
    while (sub < m) {
      if (codes.isNullAt(sub)) fail(s"has a NULL code in subspace $sub")
      val c = codes.getLong(sub)
      val row = tbl.getArray(sub)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c.toInt))
        fail(s"has code $c in subspace $sub, which has no centroid")
      acc += row.getLong(c.toInt)
      sub += 1
    }
    acc
  }
}

/** [[NearestCentroid]]'s and [[AdcTable]]'s centroid sets, each sorted
  * by id so the first strict minimum is the smaller id of a tie. */
final class Centroids private (ids: Array[Array[Long]],
    cents: Array[Array[Long]], dims: Array[Int]) extends Serializable {

  private def fail(kernel: String, idNull: Boolean, id: Long,
      what: String): Nothing = throw new IllegalArgumentException(
    s"$kernel: vec_id ${if (idNull) "NULL" else id.toString} $what")

  /** `v`'s elements, after checking it is non-NULL, `n` long and free of
    * NULL elements; `where` says whose length `n` is. */
  private def elements(kernel: String, idNull: Boolean, id: Long,
      v: ArrayData, n: Int, where: => String): Array[Long] = {
    if (v == null) fail(kernel, idNull, id, "has a NULL vector")
    if (v.numElements() != n)
      fail(kernel, idNull, id, s"has ${v.numElements()} elements; $where")
    val x = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        fail(kernel, idNull, id, s"has a NULL element at position $i")
      x(i) = v.getLong(i)
      i += 1
    }
    x
  }

  /** Squared-L2 from `x[xOff, xOff + d)` to centroid `j` of `set`. */
  private def sqdist(x: Array[Long], xOff: Int, set: Int, j: Int): Long = {
    val d = dims(set)
    val c = cents(set)
    val off = j * d
    var acc = 0L
    var i = 0
    while (i < d) {
      val e = x(xOff + i) - c(off + i)
      acc += e * e
      i += 1
    }
    acc
  }

  def nearest(idNull: Boolean, id: Long, v: ArrayData,
      setNull: Boolean, set: Int): Long = {
    if (setNull || set < 0 || set >= ids.length || ids(set).isEmpty)
      fail("graft_nearest", idNull, id,
        s"names centroid set ${if (setNull) "NULL" else set.toString}, " +
          "which has no centroids")
    val d = dims(set)
    val x = elements("graft_nearest", idNull, id, v, d,
      s"the centroids of set $set have $d")
    val cid = ids(set)
    var best = 0
    var bestDist = 0L
    var j = 0
    while (j < cid.length) {
      val acc = sqdist(x, 0, set, j)
      if (j == 0 || acc < bestDist) { best = j; bestDist = acc }
      j += 1
    }
    cid(best)
  }

  /** Per set, the table row of [[AdcTable]]: `1 + max id` slots. */
  @transient private lazy val widths: Array[Int] = ids.map { cid =>
    require(cid.isEmpty || (cid.head >= 0 && cid.last < 65536),
      s"graft_adc_table: centroid ids must lie in [0, 65536), got " +
        s"${cid.head} to ${cid.last}")
    if (cid.isEmpty) 0 else cid.last.toInt + 1
  }

  def table(idNull: Boolean, id: Long, v: ArrayData): ArrayData = {
    val x = elements("graft_adc_table", idNull, id, v, dims.sum,
      s"the ${ids.length} centroid sets cover ${dims.sum}")
    var off = 0
    val rows = Array.tabulate[Any](ids.length) { set =>
      val row = new Array[Any](widths(set))
      val cid = ids(set)
      var j = 0
      while (j < cid.length) {
        row(cid(j).toInt) = sqdist(x, off, set, j)
        j += 1
      }
      off += dims(set)
      new GenericArrayData(row)
    }
    new GenericArrayData(rows)
  }
}

object Centroids {
  def apply(ids: ArrayData, cents: ArrayData): Centroids = {
    require(ids.numElements() == cents.numElements(),
      s"graft_nearest: ${ids.numElements()} id sets for " +
        s"${cents.numElements()} centroid sets")
    val sets = (0 until ids.numElements()).map { s =>
      require(!ids.isNullAt(s) && !cents.isNullAt(s),
        s"graft_nearest: centroid set $s is NULL")
      val id = ids.getArray(s).toLongArray()
      val flat = cents.getArray(s).toLongArray()
      require(if (id.isEmpty) flat.isEmpty else flat.length % id.length == 0,
        s"graft_nearest: set $s holds ${flat.length} centroid elements " +
          s"for ${id.length} ids")
      val d = if (id.isEmpty) 0 else flat.length / id.length
      val order = id.indices.sortBy(id(_))
      (order.map(id(_)).toArray,
        order.flatMap(j => flat.slice(j * d, (j + 1) * d)).toArray, d)
    }
    new Centroids(sets.map(_._1).toArray, sets.map(_._2).toArray,
      sets.map(_._3).toArray)
  }

  /** The type check [[NearestCentroid]] and [[AdcTable]] share: a bigint
    * id, an `array<bigint>` vector, the int set where the kernel takes
    * one, and the centroids as `array<array<bigint>>` literals. */
  private[functions] def checkTypes(name: String, usage: String,
      vecId: Expression, vec: Expression, set: Option[Expression],
      ids: Expression, cents: Expression): TypeCheckResult = {
    def longs(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    def nested(dt: DataType): Boolean = dt match {
      case ArrayType(inner, _) => longs(inner)
      case _ => false
    }
    if (vecId.dataType != LongType || set.exists(_.dataType != IntegerType) ||
        !longs(vec.dataType) || !nested(ids.dataType) ||
        !nested(cents.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$usage requires bigint, array<bigint>, " +
          set.fold("")(_ => "int, ") +
          "array<array<bigint>>, array<array<bigint>>, got " +
          (Seq(vecId, vec) ++ set ++ Seq(ids, cents))
            .map(_.dataType.simpleString).mkString(", "))
    else if (!ids.foldable || !cents.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$name: ids and cents must be literals")
    else TypeCheckResult.TypeCheckSuccess
  }
}

/** The quantization grid the trained vector indexes live on,
  * `round(v·1000) + 1000` per element of an `array<float>`, as one fused
  * loop. The composed form
  * `transform(emb, v => (round(cast(v AS double) * 1000) + 1000).cast("long"))`
  * runs an interpreted lambda and a `BigDecimal` per element; this
  * gives the same value or the same error. Spark rounds HALF_UP the
  * shortest decimal that prints the double. Below 2^52 that rounds
  * exactly as the double itself does, because a half-integer there is
  * a double of its own; at or above 2^52, and for NaN and the
  * infinities, the kernel takes Spark's `BigDecimal` path. A result
  * outside the bigint range goes through Spark's `Cast` under the eval
  * mode the composed cast would have had, so an ANSI session fails on
  * NaN with the same error. NULL elements stay NULL. */
case class Quantize(child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_quantize requires array<float>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_quantize"

  override def nullSafeEval(input: Any): Any =
    quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("quantize", this)
    defineCodeGen(ctx, ev, c => s"$self.quantize($c)")
  }

  def quantize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var hasNull = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) hasNull = true
      else out(i) = cell(a.getFloat(i))
      i += 1
    }
    if (!hasNull) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j =>
      if (a.isNullAt(j)) null else out(j)))
  }

  private def cell(v: Float): Long = {
    val y = v.toDouble * 1000
    val r =
      if (y.isNaN || y.isInfinite) y
      else if (math.abs(y) < 4503599627370496.0) { // 2^52
        val a = math.abs(y)
        val f = math.floor(a)
        math.copySign(if (a - f >= 0.5) f + 1 else f, y)
      } else java.math.BigDecimal.valueOf(y)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    val z = r + 1000
    if (math.abs(z) < 9.0e18) z.toLong
    else Cast(Literal(z), LongType, None, evalMode).eval().asInstanceOf[Long]
  }

  override protected def withNewChildInternal(newChild: Expression): Quantize =
    copy(child = newChild)
}

/** Size of the intersection of two SORTED long arrays — the hot
  * kernel of neighbor-set similarity (`graph_neighbor_jaccard`
  * intersects two adjacency arrays for every edge). The composed
  * `size(array_intersect(a, b))` builds a hash set over one side AND
  * materializes the intersection array per row, only for `size` to
  * throw it away; this expression is one allocation-free two-pointer
  * merge inside whole-stage codegen. Inputs MUST be sorted ascending
  * with no null elements — `sort_array(collect_set(...))` produces
  * exactly that, and the type check refuses `containsNull=true`
  * array types outright rather than miscounting at runtime (nulls
  * sort first and would desynchronize the pointers). Count semantics
  * match `size(array_intersect(...))` on set-valued inputs: each
  * distinct common element counts once. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_sorted_isect requires two array<bigint> arguments with " +
        s"non-null elements, got ${left.dataType.simpleString} and " +
        s"${right.dataType.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sorted_isect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** The intersection VALUES of two SORTED long arrays — the per-edge
  * kernel of `graph_triangles`, which needs the common higher-rank
  * neighbors themselves (each one is a triangle's third corner, fed
  * to `explode` for corner crediting), not just their count.
  * `array_intersect` builds a hash set over one side per row before
  * materializing the result; this is one two-pointer merge into a
  * primitive long buffer, inside whole-stage codegen, with no hashing
  * and no boxing. Same input contract as [[SortedIntersectSize]]:
  * sorted ascending, no null elements (the type check refuses
  * `containsNull=true` outright), as `sort_array(collect_list(...))`
  * over a distinct edge set produces. On set-valued inputs the output
  * matches `array_intersect` element-for-element: each distinct
  * common value once, in ascending (= first-seen sorted) order. */
case class SortedIntersectValues(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_sorted_isect_vals requires two array<bigint> arguments " +
        s"with non-null elements, got ${left.dataType.simpleString} " +
        s"and ${right.dataType.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_sorted_isect_vals"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    val buf = new Array[Long](math.min(n, m))
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { buf(c) = xv; c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      if (c == buf.length) buf else java.util.Arrays.copyOf(buf, c))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val buf = ctx.freshName("buf")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |long[] $buf = new long[$n < $m ? $n : $m];
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $buf[$c++] = $xv; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(
         |    $c == $buf.length ? $buf : java.util.Arrays.copyOf($buf, $c));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectValues =
    copy(left = newLeft, right = newRight)
}

/** Extension installer: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (set by every session builder in this library — Verify, Bench, Probe,
  * tests). Registers `graft_dot` in the session function registry so it
  * is callable from both the Column API (`call_function`) and SQL. */
/** All overlapping word n-grams of a token array, as the single fused
  * loop `transform(sequence(1, greatest(size(tk)-(n-1), 1)),
  * i => concat_ws(" ", slice(tk, i, n)))` evaluates to — but inside
  * whole-stage codegen instead of four nested interpreted
  * higher-order-function closures (sequence materialization, one boxed
  * lambda call, one slice allocation and one concat per gram). The
  * gram EXPLOSION is the per-task hot loop of every corpus/dedup gram
  * pipeline (decontamination, substring spans, the e2e pipeline), and
  * interpreted HOF lambdas measured ~6× slower than tight loops on the
  * text_entropy experiment (OPTIMIZATION_r16.md).
  *
  * Bit-exact contract with the composed form, including the clamps:
  * `max(len-(n-1), 1)` grams always (a shorter-than-n document yields
  * exactly one gram of all its tokens; an empty array yields [""]
  * because slice past the end is empty and concat_ws of nothing is
  * ""), and null ELEMENTS are skipped by the join exactly as concat_ws
  * skips them. A null ARRAY yields null (the composed form's sequence
  * over null size is null). GramsEquivalenceSpec pins the identity
  * property against the composed form. */
case class WordGrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"graft_word_grams needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_word_grams requires array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_word_grams"

  override def nullSafeEval(input: Any): Any =
    WordGrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordGrams.compute($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): WordGrams = copy(child = newChild)
}

object WordGrams {
  private val Sep =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** One pass over the token array; each gram is one concatWs over a
    * reused parts buffer — no per-gram boxing, no slice copies. */
  def compute(toks: ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = toks.numElements()
    val cnt = math.max(len - (n - 1), 1)
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](cnt)
    var i = 0
    while (i < cnt) {
      val end = math.min(i + n, len)
      val parts =
        new Array[org.apache.spark.unsafe.types.UTF8String](math.max(end - i, 0))
      var j = i
      while (j < end) {
        parts(j - i) =
          if (toks.isNullAt(j)) null else toks.getUTF8String(j)
        j += 1
      }
      out(i) =
        org.apache.spark.unsafe.types.UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.asInstanceOf[Array[Any]])
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SquaredL2].getCanonicalName, "graft_sqdist"),
      (children: Seq[Expression]) => SquaredL2(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nearest"),
      new ExpressionInfo(classOf[NearestCentroid].getCanonicalName,
        "graft_nearest"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "graft_nearest(vec_id, vec, set, ids, cents) takes 5 arguments, " +
            s"got ${children.length}")
        NearestCentroid(children(0), children(1), children(2), children(3),
          children(4))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_adc_table"),
      new ExpressionInfo(classOf[AdcTable].getCanonicalName,
        "graft_adc_table"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "graft_adc_table(vec_id, vec, ids, cents) takes 4 arguments, " +
            s"got ${children.length}")
        AdcTable(children(0), children(1), children(2), children(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_adc"),
      new ExpressionInfo(classOf[AdcDistance].getCanonicalName, "graft_adc"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_adc(vec_id, codes, tbl) takes 3 arguments, " +
            s"got ${children.length}")
        AdcDistance(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[Quantize].getCanonicalName, "graft_quantize"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_quantize takes 1 argument, got ${children.length}")
        Quantize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_isect"),
      new ExpressionInfo(classOf[SortedIntersectSize].getCanonicalName,
        "graft_sorted_isect"),
      (children: Seq[Expression]) =>
        SortedIntersectSize(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_isect_vals"),
      new ExpressionInfo(classOf[SortedIntersectValues].getCanonicalName,
        "graft_sorted_isect_vals"),
      (children: Seq[Expression]) =>
        SortedIntersectValues(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_grams"),
      new ExpressionInfo(classOf[WordGrams].getCanonicalName,
        "graft_word_grams"),
      (children: Seq[Expression]) => WordGrams(children(0),
        children(1) match {
          case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            "graft_word_grams(tokens, n): n must be an int literal, " +
              s"got $other")
        })))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignature].getCanonicalName,
        "graft_minhash"),
      (children: Seq[Expression]) =>
        MinhashSignature(children(0), MinhashKernel.DefaultNumHashes)))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // internal runtime filters but does not register them as SQL
    // functions; exposing them makes the classic bloom pre-filter
    // pattern (build a compact sketch over the small side, broadcast,
    // prune the big side before any shuffle) declarable as a plain
    // aggregation + predicate. graft_bloom_agg(xxhash64(x), items,
    // bits) → binary sketch; graft_might_contain(bf, xxhash64(x)).
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getCanonicalName, "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_bloom_agg(hash, items, bits) takes 3 arguments, " +
            s"got ${children.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getCanonicalName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_might_contain(bloom, hash) takes 2 arguments, " +
            s"got ${children.length}")
        new org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(children(0), children(1))
      }))
    // Mergeable HLL sketch aggregates as plain SQL (the sketch-partials
    // pattern: per-partition sketches stored once, any rollup answered
    // by union — see HllExpressions).
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_sketch"),
      new ExpressionInfo(classOf[HllSketchAgg].getCanonicalName,
        "graft_hll_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_hll_sketch takes 1 argument, got ${children.length}")
        HllSketchAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_union"),
      new ExpressionInfo(classOf[HllUnionAgg].getCanonicalName,
        "graft_hll_union"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_hll_union takes 1 argument, got ${children.length}")
        HllUnionAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_estimate"),
      new ExpressionInfo(classOf[HllEstimateExpr].getCanonicalName,
        "graft_hll_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_hll_estimate takes 1 argument, got ${children.length}")
        HllEstimateExpr(children.head)
      }))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // SQL views on GraftCatalog: vanilla Spark has the ViewCatalog API
    // but no analyzer path that calls it — the Hints-batch rule
    // intercepts view DDL and substitutes stored view SQL on read
    // (the wiring Iceberg ships in its own extensions).
    ext.injectHintResolutionRule(graft.plans.GraftViewRule)
    // Table-valued function over the custom DSv2 source:
    // `SELECT * FROM graft_series(n[, slices])` resolves straight to a
    // SeriesTable relation — the whole pushdown stack (filter → slice
    // pruning, column pruning, limit, CBO stats) applies exactly as it
    // does to the reader-API path, now addressable from plain SQL.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_series"),
      new ExpressionInfo(
        classOf[graft.sources.SeriesTable].getCanonicalName,
        "graft_series"),
      (args: Seq[Expression]) => {
        def longOf(e: Expression, what: String): Long = e match {
          case org.apache.spark.sql.catalyst.expressions
              .Literal(v, _) if v != null => v.toString.toLong
          case org.apache.spark.sql.catalyst.expressions
              .Literal(null, _) => throw new IllegalArgumentException(
            s"graft_series $what must be a non-NULL literal")
          case other => throw new IllegalArgumentException(
            s"graft_series $what must be a literal, got $other")
        }
        require(args.nonEmpty && args.length <= 2,
          "usage: graft_series(n[, slices])")
        val n = longOf(args(0), "n")
        val slices =
          if (args.length > 1) longOf(args(1), "slices").toInt else 8
        org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation.create(
            new graft.sources.SeriesTable(n, slices), None, None)
      }))
  }
}

object GraftExtensions {
  val ConfKey = "spark.sql.extensions"
  val ClassName = "graft.functions.GraftExtensions"

  /** Standard session builder for this library's entry points. */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config(ConfKey, ClassName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // storage-partitioned joins: deliberate session-wide (only
      // affects scans reporting KeyGroupedPartitioning, i.e.
      // partitioned graft-log tables) — set here, not ad hoc inside
      // individual queries, so no query runs under an
      // order-dependent planner conf
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // AQE sort-merge → shuffled-hash rewrite (r16, guide §3.1): let
      // AQE replace an unhinted SortMergeJoin with a shuffled hash
      // join when EVERY post-shuffle partition of the build side is
      // under this many bytes at runtime (default 0 = never). The
      // decision is made from measured partition sizes, not estimates,
      // so it is scale-adaptive by construction: at 100 TB a fact-fact
      // join's partitions exceed the bound and stay sort-merge (spill-
      // safe); only joins whose per-partition build side is genuinely
      // small lose their two sorts. Bounded by the advisory partition
      // size so a "small" build side is one AQE itself would coalesce.
      .config(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // Spark's default coalescePartitions.parallelismFirst=true must
      // stay: false coalesces every shuffle under the 64 MB advisory
      // size to ONE partition, which serialized the iterative queries'
      // per-round aggregates (r17: graph_pagerank 1.83 s vs 0.91 s).
}
