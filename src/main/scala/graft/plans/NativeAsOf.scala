package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The backward as-of join as a FIRST-CLASS Catalyst operator (SURVEY §4
  * stretch): a logical node, a planner strategy, and a physical
  * sort-merge as-of operator — the (c)-tier extension path from the
  * composition ladder (compose built-ins → custom Expression → custom
  * plan node). The composed union+window idiom
  * ([[graft.ops.AsOfJoin.backward]]) remains the default; this node
  * exists because a whole-operator physical plan can do what the idiom
  * cannot:
  *
  *   - ONE pass, ZERO row amplification: the union idiom shuffles
  *     left+right rows THROUGH the window with payload columns widened
  *     onto every left row; the merge operator streams both sorted
  *     children and never materializes a unioned row;
  *   - right payload stays O(1) per task (the held row), not O(window);
  *   - each side is exchanged on ITS OWN size — Catalyst plans two
  *     independent hash exchanges + sorts (exactly a sort-merge join's
  *     shape), and AQE can size each side separately.
  *
  * Semantics match `AsOfJoin.backward` exactly, including the `<=`
  * visibility rule, the matched row's NULL payload values, and the
  * deterministic highest-payload-tuple tie-break at equal (key, ts) —
  * the physical sort key on the right side is (keys, ts, payload…), and
  * the merge keeps the LAST row seen.
  */
object NativeAsOf {

  /** Logical node: `left.*` plus right `payload` columns (nullable). */
  case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                          leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                          leftTs: Attribute, rightTs: Attribute,
                          payload: Seq[Attribute]) extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
      copy(left = newLeft, right = newRight)
  }

  /** Physical sort-merge as-of: requires both children clustered on the
    * join keys and sorted by (keys, ts[, payload]); streams the two
    * sorted iterators per co-partition holding only the latest matching
    * right payload. */
  case class AsOfMergeJoinExec(left: SparkPlan, right: SparkPlan,
                               leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                               leftTs: Attribute, rightTs: Attribute,
                               payload: Seq[Attribute]) extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      (leftKeys :+ leftTs).map(e => SortOrder(e, Ascending)),
      // ts + payload in the right ordering = deterministic last-wins
      // tie-break at equal timestamps (same rule as AsOfJoin.backward)
      (rightKeys ++ (rightTs +: payload)).map(e => SortOrder(e, Ascending)))

    override def outputPartitioning: Partitioning = left.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      val lOut = left.output
      val rOut = right.output
      val lk = leftKeys; val rk = rightKeys
      val lt = leftTs; val rt = rightTs; val pay = payload
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val lKeyProj = UnsafeProjection.create(lk, lOut)
        val rKeyProj = UnsafeProjection.create(rk, rOut)
        val lTsProj = UnsafeProjection.create(Seq(lt: Expression), lOut)
        val rTsProj = UnsafeProjection.create(Seq(rt: Expression), rOut)
        val pProj = UnsafeProjection.create(pay, rOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
        val nullPayload = new GenericInternalRow(pay.length)
        val joined = new JoinedRow
        val outProj = UnsafeProjection.create(output, output)

        new Iterator[InternalRow] {
          private var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
          private var heldKey: InternalRow = null
          private var heldPayload: InternalRow = null
          override def hasNext: Boolean = lIter.hasNext
          override def next(): InternalRow = {
            val lRow = lIter.next()
            val lKey = lKeyProj(lRow)
            val lTsV = lTsProj(lRow).getLong(0)
            var scan = true
            while (scan && rRow != null) {
              val rKey = rKeyProj(rRow)
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) {
                rRow = if (rIter.hasNext) rIter.next() else null
              } else if (cmp == 0 && rTsProj(rRow).getLong(0) <= lTsV) {
                // copies: the projections reuse their buffers
                heldKey = rKey.copy(); heldPayload = pProj(rRow).copy()
                rRow = if (rIter.hasNext) rIter.next() else null
              } else scan = false
            }
            val p =
              if (heldPayload != null && keyOrd.compare(heldKey, lKey) == 0)
                heldPayload
              else nullPayload
            outProj(joined(lRow, p))
          }
        }
      }
    }
  }

  /** Planner strategy mapping the logical node to the merge operator. */
  object AsOfJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinNode(l, r, lk, rk, lts, rts, pay) =>
        AsOfMergeJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, pay) :: Nil
      case _ => Nil
    }
  }

  /** DataFrame API over the node — same signature and semantics as
    * [[graft.ops.AsOfJoin.backward]]. Registers the strategy on the
    * session idempotently; re-aliases the right plan so self-joins can't
    * collide expression ids. Timestamps must be long-backed (LongType or
    * TimestampType) and non-null; join keys are compared by sort order
    * (null keys would match each other — keep keys non-null, as every
    * equi-join here does). */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val spark: SparkSession = left.sparkSession
    GraftSqlBridge.addStrategy(spark, AsOfJoinStrategy)
    val lPlan = GraftSqlBridge.analyzed(left)
    val rPlan0 = GraftSqlBridge.analyzed(right)
    val rPlan = Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(out: Seq[Attribute], name: String, side: String): Attribute =
      out.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"column $name not found on $side side (${out.map(_.name).mkString(", ")})"))
    val rOut = rPlan.output.map(_.asInstanceOf[Attribute])
    val lt = attr(lPlan.output, leftTs, "left")
    val rt = attr(rOut, rightTs, "right")
    for (t <- Seq(lt, rt))
      require(t.dataType == LongType || t.dataType == TimestampType,
        s"as-of timestamp ${t.name} must be long-backed, got ${t.dataType}")
    // Mixed LongType/TimestampType would compare raw int64 in DIFFERENT
    // units (epoch micros vs whatever the long encodes) and silently
    // mis-match — the union+window idiom can't even express that mix, so
    // the node must reject it too.
    require(lt.dataType == rt.dataType,
      s"as-of timestamp types must match on both sides, got " +
        s"${lt.name}: ${lt.dataType} vs ${rt.name}: ${rt.dataType}")
    val node = AsOfJoinNode(lPlan, rPlan,
      keys.map(attr(lPlan.output, _, "left")), keys.map(attr(rOut, _, "right")),
      lt, rt, payload.map(attr(rOut, _, "right")))
    GraftSqlBridge.ofRows(spark, node)
  }

  /** FORWARD as-of through the SAME sort-merge exec: earliest right row
    * with `right.ts >= left.ts` per key. Implemented by mirroring the
    * time axis — both timestamp columns negate, the backward node runs,
    * and max(-rt) with -rt <= -lt IS min(rt) with rt >= lt. Negation is
    * only meaningful for integral event time, so `LongType` is required
    * on both sides (TimestampType callers: convert to epoch micros
    * first — the same restriction a descending merge would impose). */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    for ((df, c, side) <- Seq((left, leftTs, "left"), (right, rightTs, "right")))
      require(df.schema(c).dataType == LongType,
        s"forward as-of requires LongType event time, got " +
          s"${df.schema(c).dataType} for $c on $side")
    val negL = "__neg_" + leftTs
    val negR = "__neg_" + rightTs
    backward(
      left.withColumn(negL, -col(leftTs)),
      right.withColumn(negR, -col(rightTs)),
      keys, negL, negR, payload)
      .drop(negL)
  }
}
