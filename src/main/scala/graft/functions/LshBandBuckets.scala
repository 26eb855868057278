package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** All random-hyperplane LSH band buckets of a float vector in ONE pass — a
  * native Catalyst expression with whole-stage codegen.
  *
  * Returns `array<bigint>` of length `bands`; element `b` packs the sign bits
  * of hyperplanes `b*bitsPerBand .. (b+1)*bitsPerBand-1` (bit `i` set iff
  * `v · plane >= 0`).
  *
  * Why an Expression and not columns: the declarative forms both lose —
  * `aggregate`/`zip_with` lambdas are CodegenFallback (interpreted per
  * element: bands × bits × dim interpreter dispatches per row), and fully
  * unrolling `bands*bits*dim` add terms (2048 for 8×4×64) blows the JVM/
  * codegen method-size limit so the whole stage falls back to interpreted —
  * measured 7× slower. A single generated loop over a precomputed hyperplane
  * matrix (one `double[]` reference object, hoisted out of the row loop) keeps
  * the stage in whole-stage codegen and reads each vector element once per
  * plane.
  *
  * Hyperplane components are the same deterministic arithmetic hash on every
  * node and run (no RNG state to ship): see [[LshBandBuckets.planeComponent]].
  */
case class LshBandBuckets(child: Expression, bands: Int, bitsPerBand: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_buckets"

  // containsNull is accepted (parquet list elements are `optional`, so a
  // scanned embedding column is always ArrayType(_, true) even when no null
  // ever occurs) — but a null ELEMENT must not silently read as 0.0 (or
  // ArrayData-impl-dependent garbage) in the dot products below, so both
  // eval paths validate the vector and raise before projecting.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.catalogString}")
  }

  @transient private lazy val comps: Array[Double] =
    LshBandBuckets.components(bands * bitsPerBand, dim)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val d = math.min(a.numElements(), dim)
    var chk = 0
    while (chk < d) {
      if (a.isNullAt(chk)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $chk")
      chk += 1
    }
    val out = new Array[Long](bands)
    var plane = 0
    while (plane < bands * bitsPerBand) {
      var dot = 0.0
      val off = plane * dim
      var i = 0
      while (i < d) { dot += a.getFloat(i).toDouble * comps(off + i); i += 1 }
      if (dot >= 0) out(plane / bitsPerBand) |= 1L << (plane % bitsPerBand)
      plane += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val compsRef = ctx.addReferenceObj("lshComps", comps, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val plane = ctx.freshName("plane")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val i = ctx.freshName("i")
      s"""
         |int $d = java.lang.Math.min($a.numElements(), $dim);
         |for (int $i = 0; $i < $d; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "lsh_band_buckets: null element at index " + $i);
         |  }
         |}
         |long[] $out = new long[$bands];
         |for (int $plane = 0; $plane < ${bands * bitsPerBand}; $plane++) {
         |  double $dot = 0.0;
         |  int $off = $plane * $dim;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += ((double) $a.getFloat($i)) * $compsRef[$off + $i];
         |  }
         |  if ($dot >= 0) {
         |    $out[$plane / $bitsPerBand] |= 1L << ($plane % $bitsPerBand);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandBuckets {

  /** Deterministic pseudo-random hyperplane component in [-1, 1] — a pure
    * arithmetic hash of (plane, dim index), identical on every run and node.
    */
  def planeComponent(plane: Int, d: Int): Double = {
    var x = plane.toLong * 2654435761L + d.toLong * 40503L + 0x9E3779B97F4A7C15L
    x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
    (x & 0xFFFFFFL).toDouble / 0x7FFFFFL - 1.0
  }

  /** Row-major hyperplane matrix `[plane * dim + d]`, built once per plan and
    * shipped as a codegen reference object (not re-derived per row).
    */
  def components(planes: Int, dim: Int): Array[Double] = {
    val arr = new Array[Double](planes * dim)
    var p = 0
    while (p < planes) {
      var d = 0
      while (d < dim) { arr(p * dim + d) = planeComponent(p, d); d += 1 }
      p += 1
    }
    arr
  }

  def apply(v: Column, bands: Int, bitsPerBand: Int, dim: Int): Column =
    GraftInternals.column(LshBandBuckets(
      GraftInternals.expression(v), bands, bitsPerBand, dim))
}
