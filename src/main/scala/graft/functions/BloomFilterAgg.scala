package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter sketch of a group's key hashes — a native Catalyst
  * `TypedImperativeAggregate[BloomFilter]`, built for the file-skipping
  * index ([[graft.operators.Layout.bloomIndexOfFiles]]): grouped by
  * `input_file_name()`, each group's serialized filter is that file's
  * membership summary, the per-file metadata a point-lookup planner
  * consults before opening anything (the Parquet bloom_filter /
  * Delta-stats pattern, surfaced as queryable engine metadata).
  *
  * Input is the key's `xxhash64` (LongType — hash upstream with the
  * codegen'd builtin so ANY key type funnels through one insert path, and
  * the lookup side can hash probe values identically). Nulls are skipped:
  * a NULL key never equality-matches a point lookup, so indexing it would
  * only spend bits.
  *
  * Scale: classic partial aggregation — each task folds its rows into a
  * local filter, the shuffle moves one `numBits/8`-byte buffer per
  * (partition × group), reduce-side `mergeInPlace` ORs them. The corpus is
  * scanned once and never shuffled; index size is file-count × filter
  * bytes (~`1.2·n·ln(1/fpp)/ln²2` bits for `expectedItems` n — ~1.2 KB at
  * the 1024/0.01 default), metadata-scale at any corpus size.
  */
case class BloomFilterAgg(child: Expression,
                          expectedItems: Long, fpp: Double,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomFilter] {

  require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
  require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_filter_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint (xxhash64 the key upstream), got ${t.catalogString}")
  }

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.putLong(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = {
    buf.mergeInPlace(other)
    buf
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object BloomFilterAgg {
  def apply(hashed: Column, expectedItems: Long, fpp: Double): Column =
    GraftInternals.column(
      BloomFilterAgg(GraftInternals.expression(hashed), expectedItems, fpp)
        .toAggregateExpression())

  /** Driver-side twin of the engine's `xxhash64(lit(v))` for probe values —
    * the SAME expression evaluated eagerly, so index-build hashing and
    * lookup hashing can never drift.
    */
  def hashOf(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal(value)), 42L).eval(null).asInstanceOf[Long]
  }

  /** Deserialize + probe (lookup side). */
  def mightContain(bytes: Array[Byte], hash: Long): Boolean =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes)).mightContainLong(hash)

  /** `mightContainLong(hashed)` as a codegen'd Catalyst predicate — Spark's
    * own runtime-filter expression (`BloomFilterMightContain`) with the
    * serialized filter inlined as a foldable binary literal, so the filter
    * deserializes once per task and the probe stays inside whole-stage
    * codegen. This is the ONE spelling every Bloom probe in the engine uses
    * (dedup admit tier, skew-join prefilter): on a 100 TB fact scan the probe
    * runs once per row, and a ScalaUDF there would both break the codegen
    * span and pay a per-row boxing lambda.
    */
  def mightContainCol(bloomBytes: Array[Byte], hashed: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    GraftInternals.column(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      GraftInternals.expression(hashed)))
  }
}
