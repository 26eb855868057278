package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Elementwise mean of fixed-dimension float vectors — a native Catalyst
  * AGGREGATE (`TypedImperativeAggregate`), the extension tier for custom
  * aggregation semantics (scalar expressions get `doGenCode`; aggregates get
  * a typed buffer with partial update/merge, so the shuffle moves one
  * `double[dim]` + count per group, never the vectors).
  *
  * Replaces the declarative centroid shape (`posexplode` → per-(cell,dim)
  * avg → re-assembled array), which materializes rows × dim exploded records
  * and needs TWO shuffles; this is one partial-aggregated shuffle of
  * dim-sized buffers — the shape that holds when the corpus is 100 TB and
  * cells are millions of vectors.
  *
  * Numeric note: partial sums accumulate in double per partition and merge
  * in partition order, so results match any other double-mean of the same
  * values up to addition-order ulps (exactly like Spark's own `avg`).
  * Null/short vectors are skipped; an empty group yields null.
  */
case class VectorMeanAgg(child: Expression, dim: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {

  require(dim > 0, s"dim must be positive, got $dim")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_mean"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.catalogString}")
  }

  // buffer layout: [sum_0 .. sum_{dim-1}, count]
  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim + 1)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() >= dim) {
        // null ELEMENTS fail loudly (same contract as LshBandBuckets):
        // silently averaging 0.0 into a centroid is a wrong answer, and
        // parquet-scanned arrays are always containsNull=true
        var i = 0
        while (i < dim) {
          if (a.isNullAt(i)) throw new IllegalArgumentException(
            s"$prettyName: null element at index $i")
          buf(i) += a.getFloat(i).toDouble
          i += 1
        }
        buf(dim) += 1.0
      }
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i <= dim) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = {
    val n = buf(dim)
    if (n == 0.0) null
    else {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) { out(i) = buf(i) / n; i += 1 }
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * (dim + 1))
    var i = 0
    while (i <= dim) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Double](dim + 1)
    var i = 0
    while (i <= dim) { buf(i) = bb.getDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMeanAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMeanAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object VectorMeanAgg {
  def apply(v: Column, dim: Int): Column =
    GraftInternals.column(
      VectorMeanAgg(GraftInternals.expression(v), dim).toAggregateExpression())
}
