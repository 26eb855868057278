package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All MinHash LSH band keys of a hashed-shingle set in ONE pass — a native
  * Catalyst expression with whole-stage codegen.
  *
  * Input: the document's shingle set as `array<bigint>` (e.g.
  * [[graft.operators.Dedup.hashedShingles]]). Output: `array<bigint>` of
  * length `bands`, element b = a hash of the `numHashes/bands` MinHash slot
  * minima of band b. Two documents collide in band b iff all of that band's
  * slot minima agree — the standard banding S-curve (collision p = jac^rows
  * per band).
  *
  * Slot i's hash of shingle x is `XXH64.hashLong(x, seed = i)` — the same
  * xxhash64 core Spark's `xxhash64` function uses, re-keyed per slot, so one
  * long-mix per (element, slot) replaces a full string hash.
  *
  * Why an Expression: the declarative form (`explode` shingles →
  * `groupBy(doc).agg(min(xxhash64(s, i)) × k)` → `hash(h0..h7)` per band)
  * materializes O(N·shingles) rows through a shuffle and re-hashes each
  * shingle STRING k times in the aggregate — measured 5.8 s at sf0.1, almost
  * all in that explode+agg. Here the k×|g| slot minima never leave the
  * register file of one generated loop: no explode, no shuffle, no
  * signature columns (shape change only — candidate semantics are identical:
  * band-equal ⟺ all slot minima equal).
  *
  * A document with an EMPTY shingle set returns NULL (not a row of
  * min-of-nothing sentinels): `posexplode` of null emits no rows, matching
  * the aggregate form where a doc with no exploded rows never reaches the
  * signature table — empty docs produce no candidates rather than all
  * colliding with each other on the sentinel.
  */
case class MinHashBandKeys(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(bands > 0 && numHashes % bands == 0,
    s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")

  private val rows = numHashes / bands

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    // null ELEMENTS fail loudly (same contract as LshBandBuckets): a null
    // silently hashed as 0L would poison every slot minimum identically
    // across documents, manufacturing band collisions
    var chk = 0
    while (chk < n) {
      if (a.isNullAt(chk)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $chk")
      chk += 1
    }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = a.getLong(j)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(x, i)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 42L
      var r = 0
      while (r < rows) { acc = XXH64.hashLong(mins(b * rows + r), acc); r += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($a.isNullAt($j)) {
         |      throw new IllegalArgumentException(
         |        "minhash_band_keys: null element at index " + $j);
         |    }
         |  }
         |  long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $x = $a.getLong($j);
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      long $h = $xxh.hashLong($x, $i);
         |      if ($h < $mins[$i]) $mins[$i] = $h;
         |    }
         |  }
         |  long[] $out = new long[$bands];
         |  for (int $b = 0; $b < $bands; $b++) {
         |    long $acc = 42L;
         |    for (int $r = 0; $r < $rows; $r++) {
         |      $acc = $xxh.hashLong($mins[$b * $rows + $r], $acc);
         |    }
         |    $out[$b] = $acc;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBandKeys {
  def apply(g: Column, numHashes: Int, bands: Int): Column =
    GraftInternals.column(MinHashBandKeys(
      GraftInternals.expression(g), numHashes, bands))
}
