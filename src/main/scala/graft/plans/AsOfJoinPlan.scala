package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native as-of join — the whole-operator Catalyst extension tier: a custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`, the (c) rung of the
  * extension ladder after composed operators (a) and custom Expressions (b).
  *
  * [[graft.operators.Temporal.asOfJoinKeys]] already expresses ASOF
  * declaratively (union + one shuffle + sorted-window carry), and that
  * formulation stays the default. This tier exists for what the declarative
  * shape CANNOT say: the union form materializes a carry struct per row,
  * re-sorts the combined stream, and for `nearest` pays a second
  * descending sort over the same exchange. The native exec instead asks
  * Catalyst for exactly what the merge needs — both children clustered on
  * the equality keys and sorted by (keys…, time) — and then streams a
  * single-pointer merge with O(1) state per partition: the last
  * at-or-before right row (backward), the buffered head (forward), or both
  * (nearest, with NO second sort). Exchanges are planned by
  * EnsureRequirements like any join, so AQE coalescing, reuse, and
  * already-satisfied distributions (e.g. bucketed inputs — where the native
  * form needs ZERO exchanges while the union form always shuffles) all
  * apply.
  *
  * Semantics — identical to [[graft.operators.Temporal.asOfJoinKeys]]
  * (pandas `merge_asof`, DuckDB `ASOF LEFT JOIN`): for each left row the
  * single nearest right row on the same composite equality key in the
  * requested direction (`backward` = most recent right.time <= left.time,
  * `forward` = earliest >=, `nearest` = closer of the two with ties going
  * backward; a right row AT the left time matches in every direction);
  * `tolerance` bounds the match distance; no qualifying right row carries
  * null. NULL equality keys follow SQL: a null-keyed right row matches
  * nothing and a null-keyed left row carries null; a null time on either
  * side likewise never matches. Among right rows with identical (key, time)
  * the pick is the last in partition order — the same
  * arbitrary-among-exact-ties class as the window formulation.
  *
  * 100 TB: both sides shuffle hash-partitioned on the key exactly once
  * (none at all when a side is already clustered — the bucketed-fact case),
  * sort is per-partition, and the merge holds ONE buffered right row plus
  * one copied candidate regardless of key cardinality or skew; a hot key
  * costs linear scan time, never memory. Times must be `LongType` (µs
  * grain upstream, like every temporal entry) so tolerance arithmetic is
  * exact integer math.
  */
/** `carrySrc(i)` (a right-side column) surfaces as `carryOut(i)` — a
  * PRE-MINTED nullable output attribute, not an `Alias`: the analyzer's
  * CleanupAliases rule strips non-top-level aliases inside every operator
  * it doesn't special-case, so an alias-shaped carry would silently
  * degrade to the source attribute (wrong name, wrong exprId). Plain
  * attributes survive every analyzer/optimizer pass, the same pattern as
  * `Generate.generatorOutput`.
  */
case class GraftAsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    carrySrc: Seq[Expression], carryOut: Seq[Attribute],
    direction: String, tolerance: Option[Long]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ carryOut

  override def producedAttributes: AttributeSet = AttributeSet(carryOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): GraftAsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[GraftAsOfJoin]] as [[GraftAsOfJoinExec]]; injected via
  * `GraftExtensions` (cluster-wide) or lazily through
  * `experimental.extraStrategies` by [[AsOfJoinNative.ensureInstalled]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftAsOfJoin(l, r, lk, rk, lt, rt, cSrc, cOut, dir, tol) =>
      GraftAsOfJoinExec(lk, rk, lt, rt, cSrc, cOut, dir, tol,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Streaming merge exec. Requirements do the heavy lifting: children
  * clustered on the keys and sorted by (keys…, time) ascending, so
  * `doExecute` is a per-partition two-iterator merge. Output preserves the
  * left child's partitioning AND ordering (only left rows are emitted, in
  * arrival order) — a downstream grouping on the same keys re-uses the
  * exchange and sort.
  */
case class GraftAsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    carrySrc: Seq[Expression], carryOut: Seq[Attribute],
    direction: String, tolerance: Option[Long],
    left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

  private val dirCode: Int = direction match {
    case "backward" => 0
    case "forward" => 1
    case "nearest" => 2
    case other => throw new IllegalArgumentException(
      s"asOfJoinNative direction must be backward|forward|nearest, got '$other'")
  }

  override def output: Seq[Attribute] = left.output ++ carryOut

  override def producedAttributes: AttributeSet = AttributeSet(carryOut)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): GraftAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val carrySrcExprs = carrySrc
    val carryOutAttrs = carryOut
    val outAttrs = output
    val keyTypes = leftKeys.map(_.dataType)
    val dc = dirCode
    val tolVal = tolerance.getOrElse(Long.MaxValue)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val carryProj = UnsafeProjection.create(carrySrcExprs, rOut)
      // carryOut attrs are minted nullable, so the binding reads the
      // no-match null fill correctly even when the carried source column
      // is non-nullable (a non-nullable binding would read garbage zero)
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ carryOutAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullCarry = new GenericInternalRow(carrySrcExprs.size)
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      // backward candidate: the last consumed right row whose (key, time)
      // is at-or-before the current left row — copied (iterator rows are
      // reused buffers), with its projected key and time
      var prevRight: InternalRow = null
      var prevKey: UnsafeRow = null
      var prevTime: Long = 0L

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lKeyOk = !lKey.anyNull
        val ltRow = lTimeProj(lRow)
        val ltOk = !ltRow.isNullAt(0)
        val lt = if (ltOk) ltRow.getLong(0) else 0L

        if (lKeyOk && ltOk) {
          // advance the right pointer: consume every row at-or-before
          // (strictly before, for forward) this left row's (key, time);
          // null-keyed / null-timed right rows can never match and are
          // consumed whenever reached
          var done = false
          while (!done && rBuf.hasNext) {
            val rRow = rBuf.head
            val rKey = rKeyProj(rRow)
            if (rKey.anyNull) { rBuf.next() }
            else {
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) { rBuf.next() }
              else if (cmp > 0) { done = true }
              else {
                val rtRow = rTimeProj(rRow)
                if (rtRow.isNullAt(0)) { rBuf.next() }
                else {
                  val rt = rtRow.getLong(0)
                  if (if (dc == 1) rt < lt else rt <= lt) {
                    if (dc != 1) {
                      prevRight = rRow.copy()
                      prevKey = rKey.copy()
                      prevTime = rt
                    }
                    rBuf.next()
                  } else done = true
                }
              }
            }
          }
        }

        // backward arm: valid iff the retained row is on THIS key and
        // within tolerance (retained state may be stale from an earlier
        // key — the key compare rejects it without extra bookkeeping)
        val bValid = dc != 1 && lKeyOk && ltOk && prevRight != null &&
          keyOrd.compare(prevKey, lKey) == 0 && lt - prevTime <= tolVal
        // forward arm: the buffered head, un-consumed (it may serve later
        // left rows too); by the advance loop it is the first right row
        // at-or-after (key, time) when its key matches
        val fRow: InternalRow =
          if (dc != 0 && lKeyOk && ltOk && rBuf.hasNext) {
            val h = rBuf.head
            val hKey = rKeyProj(h)
            if (!hKey.anyNull && keyOrd.compare(hKey, lKey) == 0) {
              val htRow = rTimeProj(h)
              if (!htRow.isNullAt(0) && htRow.getLong(0) - lt <= tolVal) h
              else null
            } else null
          } else null

        val chosen: InternalRow = dc match {
          case 0 => if (bValid) prevRight else null
          case 1 => fRow
          case _ =>
            if (bValid && (fRow == null ||
                lt - prevTime <= rTimeProj(fRow).getLong(0) - lt)) prevRight
            else fRow
        }

        resultProj(joined(lRow, if (chosen == null) nullCarry else carryProj(chosen)))
      }
    }
  }
}

/** Public construction surface for [[GraftAsOfJoin]]. */
object AsOfJoinNative {

  /** Idempotently adds [[AsOfJoinStrategy]] to a live session (the
    * per-session twin of `GraftExtensions`' cluster-wide injection, same
    * pattern as [[graft.Tables]]' lazy optimizer-rule install).
    */
  def ensureInstalled(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(AsOfJoinStrategy))
      ex.extraStrategies = ex.extraStrategies :+ AsOfJoinStrategy
  }

  /** DataFrame-level as-of join on the native exec — same signature and
    * semantics as [[graft.operators.Temporal.asOfJoinKeys]]. `time` must be
    * LongType on both sides (cast to the µs grain upstream, as every
    * temporal entry already does). The right side is re-aliased with fresh
    * expression ids before the node is built, so self-joins (clicks vs
    * purchases off one events scan) can never alias-collide — the node the
    * analyzer sees is already fully resolved and conflict-free.
    */
  def asOfJoinKeys(left: DataFrame, right: DataFrame,
                   keys: Seq[String], time: String,
                   carry: Map[String, String],
                   direction: String = "backward",
                   tolerance: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"asOfJoinNative direction must be backward|forward|nearest, got '$direction'")
    require(keys.nonEmpty, "asOfJoinNative needs at least one equality key")
    require(tolerance.forall(_ >= 0), "asOfJoinNative tolerance must be >= 0")
    val spark = left.sparkSession
    ensureInstalled(spark)

    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    def attrOf(out: Seq[Attribute], name: String, side: String): Attribute =
      out.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"asOfJoinNative: no column '$name' on the $side side " +
          s"(has: ${out.map(_.name).mkString(", ")})"))

    // fresh ids for every right attribute (Alias allocates new exprIds):
    // left and right may share a lineage, and keys are resolved by name
    // against each side separately, so ambiguity is impossible by
    // construction rather than by analyzer repair
    val rAliases = rPlan0.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rPlan0)
    val rOutput = rAliases.map(_.toAttribute)

    val lKeys = keys.map(attrOf(lPlan.output, _, "left"))
    val rKeys = keys.map(attrOf(rOutput, _, "right"))
    val lTime = attrOf(lPlan.output, time, "left")
    val rTime = attrOf(rOutput, time, "right")
    require(lTime.dataType == LongType && rTime.dataType == LongType,
      s"asOfJoinNative time column '$time' must be LongType on both sides " +
        s"(got ${lTime.dataType} / ${rTime.dataType}); cast to the µs grain upstream")
    // carry order mirrors Temporal.asOfJoinKeys (insertion order of the
    // caller's Map) so the two formulations are drop-in interchangeable;
    // output attributes are minted HERE (nullable — no-match fills null)
    // rather than as Aliases, which CleanupAliases would strip
    val carrySrcAttrs = carry.toSeq.map { case (src, _) => attrOf(rOutput, src, "right") }
    val carryOutAttrs = carry.toSeq.map { case (src, outName) =>
      AttributeReference(outName, attrOf(rOutput, src, "right").dataType,
        nullable = true)()
    }

    org.apache.spark.sql.GraftInternals.ofRows(spark,
      GraftAsOfJoin(lPlan, rPlan, lKeys, rKeys, lTime, rTime,
        carrySrcAttrs, carryOutAttrs, direction, tolerance))
  }
}
