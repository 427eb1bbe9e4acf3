package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native per-row nearest-cell assignment over a driver-shipped
  * codebook — the hot inner loop of every Lloyd trainer, PQ/IVF
  * encoder, and cluster assigner in [[graft.operators.Similarity]].
  *
  * The composable formulation — `transform(sequence(1, k), i =>
  * d2(vec, element_at(cb, i)))` + `array_position(_, array_min(_))` —
  * is value-correct but evaluates the lambda INTERPRETED per codeword
  * per row (higher-order functions sit outside whole-stage codegen),
  * so at k=64 a single 16k-row assignment pass costs ~1.2 s of pure
  * expression-interpreter overhead (profiled round 11, ProfPq). These
  * expressions run the identical arithmetic as one tight JVM loop per
  * row: same sequential dot folds as [[DotProduct]], same
  * `round(_, 6)` (Spark's HALF_UP via BigDecimal.valueOf, NaN/Inf
  * passed through), same first-position tie-break as
  * `array_position(xs, array_min(xs))` under Spark's double TOTAL
  * ordering (NaN greatest, the array_min rule). Bit-identical output
  * is spec-proven differentially against the HOF formulation
  * (NativeAssignSpec), so the DuckDB oracles are untouched.
  */
object VecNative {

  /** Spark `round(d, scale)`: BigDecimal.valueOf + HALF_UP, NaN/Inf kept. */
  def roundTo(d: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark `round(d, 6)`. */
  def round6(d: Double): Double = roundTo(d, 6)

  /** Sequential left-fold dot over the common prefix — the
    * [[DotProduct]] contract, shared so encode can never drift. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** [[dot]] over plain arrays, for driver- and task-side scoring. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** `VectorFns.cosine6` over plain arrays. */
  def cosine6(a: Array[Double], b: Array[Double]): Double =
    round6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))

  /** A double as the unscaled value Spark's `CAST(d AS DECIMAL(·,scale))`
    * holds. */
  def units(d: Double, scale: Int): Long =
    java.math.BigDecimal.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue.longValueExact

  /** `CAST(sum AS DOUBLE)` of a DECIMAL(·,scale) sum held as units. */
  def fromUnits(u: Long, scale: Int): Double =
    java.math.BigDecimal.valueOf(u, scale).doubleValue

  /** A 6-dp double as DECIMAL(18,6) micro-units. */
  def micros(d: Double): Long = units(d, 6)

  /** Spark's `round(CAST(sum AS DOUBLE), 6)` of a DECIMAL(·,6) sum
    * held as micro-units. */
  def fromMicros(u: Long): Double = round6(fromUnits(u, 6))

  /** 1-based first-position argmin of round((v·v + c·c) - 2*(v·c), 6)
    * over the codebook — the pqD2 assignment rule. Empty codebook → 0
    * (the `array_position` miss value). */
  def nearestByD2(v: ArrayData, books: ArrayData): Int = {
    val k = books.numElements()
    var best = 0.0
    var bestI = 0
    var i = 0
    while (i < k) {
      val c = books.getArray(i)
      val d2 = round6((dot(v, v) + dot(c, c)) - 2.0 * dot(v, c))
      // total-order compare (NaN greatest): the array_min rule
      if (bestI == 0 || java.lang.Double.compare(d2, best) < 0) {
        best = d2; bestI = i + 1
      }
      i += 1
    }
    bestI
  }

  /** (1-based first-position argmax of round(cosine, 6), winning
    * rounded cosine) over the codebook — the assignCellsCosine rule.
    * Empty codebook → (0, NaN) — callers never ship an empty codebook
    * (Lloyd seeds guarantee ≥1 centroid); the miss value mirrors
    * array_position's 0. Zero-norm inputs yield NaN cosines (ranked
    * below every real cosine) where the ANSI HOF would THROW on 0/0 —
    * a regime production excludes (vectors are unit-normalized
    * upstream, which itself errors on a zero norm). */
  def bestCosine6(v: ArrayData, books: ArrayData): GenericInternalRow = {
    val k = books.numElements()
    var best = 0.0
    var bestI = 0
    var i = 0
    while (i < k) {
      val c = books.getArray(i)
      val cos = round6(dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c))))
      if (bestI == 0 || java.lang.Double.compare(cos, best) > 0) {
        best = cos; bestI = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestI, if (bestI == 0) Double.NaN else best))
  }

  def nearestByD2Col(v: Column, books: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(NearestByD2(
      ColumnBridge.expression(v), ColumnBridge.expression(books)))
  }

  def bestCosine6Col(v: Column, books: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(BestCosine6(
      ColumnBridge.expression(v), ColumnBridge.expression(books)))
  }
}

/** `vec, array<array<double>> codebook → int cid` (1-based, 0 = empty
  * codebook). See [[VecNative.nearestByD2]] for the contract. */
case class NearestByD2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    VecNative.nearestByD2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecNative.nearestByD2($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestByD2 =
    copy(left = newLeft, right = newRight)
}

/** `vec, array<array<double>> codebook → struct(cid int, sim double)`.
  * See [[VecNative.bestCosine6]] for the contract. */
case class BestCosine6(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  override def nullSafeEval(a: Any, b: Any): Any =
    VecNative.bestCosine6(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecNative.bestCosine6($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BestCosine6 =
    copy(left = newLeft, right = newRight)
}
