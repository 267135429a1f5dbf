package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** As-of join as a first-class operator: logical node + planner strategy +
  * physical `SparkPlan`.
  *
  * Semantics (pandas `merge_asof` / DuckDB `ASOF JOIN >=` direction): each
  * LEFT (probe) row is matched with the single most recent RIGHT
  * (reference) row having the same key and `rightTime <= leftTime`;
  * unmatched probe rows keep nulls on the right (left-outer shape).
  *
  * Why a custom operator: Spark has no asof join. The composable fallback
  * (tag + union + running `last(_, ignoreNulls)` window —
  * [[graft.operators.EventOps.asofJoin]]) works but materializes a window
  * state machine over the union. This operator instead declares what it
  * NEEDS from the engine — `requiredChildDistribution` (co-partition both
  * sides on the key) and `requiredChildOrdering` ((key, time) per side) —
  * and `EnsureRequirements` plants exactly the exchanges/sorts that are
  * missing; the join itself is then a single streaming merge pass per
  * partition, O(1) state (one buffered reference row), no row buffering,
  * no window machinery.
  *
  * Scale: identical shuffle shape to a sort-merge join — one exchange per
  * side on the key, partition-local merge; skew handling and AQE sizing
  * apply to the exchanges as usual. If either side is already partitioned
  * / sorted (bucketed table, previous stage), its exchange/sort is elided
  * — the payoff of declaring requirements instead of hand-building them.
  *
  * Contract: key equality is exact; times must be TimestampType or
  * LongType, non-null; among reference rows tied on (key, time) the kept
  * row is the last in sort order (unspecified among exact duplicates —
  * same as DuckDB ASOF; EventOpsSpec pins the uniqueness precondition).
  */
case class AsofJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def references: AttributeSet =
    AttributeSet((leftKeys ++ rightKeys :+ leftTime :+ rightTime).flatMap(_.references))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, fwd) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on the key — EnsureRequirements inserts the
  // hash exchanges (or reuses existing compatible partitioning)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // per-partition (key asc, time asc) order — EnsureRequirements inserts
  // the SortExecs (or elides them if the child is already sorted)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  // Spark-UI visibility: at scale a custom operator without SQLMetrics is
  // a black box in the SQL tab; matched-vs-output is the join's hit rate
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows"  -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numRightFields = right.output.length
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val nullRight = new GenericInternalRow(numRightFields)
      val joined = new JoinedRow
      // downstream consumers (and SparkPlan.getByteArrayRdd when this node
      // is the root) require UnsafeRow output, not a raw JoinedRow view
      val resultProj = UnsafeProjection.create(output, output)

      new Iterator[InternalRow] {
        private var curRight: InternalRow = advanceRight()
        private var lastMatch: InternalRow = null // copied: outlives the buffer
        private var lastMatchKey: UnsafeRow = null
        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next() else null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val lt = lTimeProj(l).getLong(0)
          if (forward) {
            // smallest reference time >= probe time: advance past anything
            // earlier; the buffered row is NOT consumed on match — it may
            // serve the next (later) probe too
            var scanning = true
            while (scanning && curRight != null) {
              val rk = rKeyProj(curRight)
              val c = keyOrd.compare(rk, lk)
              if (c < 0 || (c == 0 && rTimeProj(curRight).getLong(0) < lt))
                curRight = advanceRight()
              else scanning = false
            }
            val matched = curRight != null && keyOrd.compare(rKeyProj(curRight), lk) == 0
            numOutputRows += 1
            if (matched) numMatchedRows += 1
            resultProj(joined(l, if (matched) curRight else nullRight))
          } else {
            // a buffered match from a previous key is stale once the probe key moves
            if (lastMatchKey != null && keyOrd.compare(lastMatchKey, lk) != 0) {
              lastMatch = null; lastMatchKey = null
            }
            var scanning = true
            while (scanning && curRight != null) {
              val rk = rKeyProj(curRight)
              val c = keyOrd.compare(rk, lk)
              if (c < 0) {
                curRight = advanceRight() // reference key below probe key: discard
              } else if (c == 0 && rTimeProj(curRight).getLong(0) <= lt) {
                lastMatch = curRight.copy() // newest admissible reference so far
                lastMatchKey = rk.copy()
                curRight = advanceRight()
              } else {
                scanning = false // reference ahead of probe: stop, keep buffered
              }
            }
            numOutputRows += 1
            if (lastMatch != null) numMatchedRows += 1
            resultProj(joined(l, if (lastMatch != null) lastMatch else nullRight))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point. */
object Asof {

  /** Install the planner strategy on a session (idempotent). The one
    * place graft touches a session's planner: every session that joins
    * through [[join]] gets it there, whoever built the session. */
  private def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies = cur :+ AsofJoinStrategy
  }

  /** `left` asof-joined with `right`: for each left row, the most recent
    * right row with equal keys and `right(rightTimeCol) <=
    * left(leftTimeCol)` (`direction = "backward"`, the default) — or the
    * EARLIEST right row with `rightTime >= leftTime` (`"forward"`);
    * nulls when none. Output = left columns ++ right columns — rename
    * right columns beforehand to avoid collisions. */
  def join(left: DataFrame, right: DataFrame,
           leftOn: Seq[String], rightOn: Seq[String],
           leftTimeCol: String, rightTimeCol: String,
           direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    require(leftOn.length == rightOn.length && leftOn.nonEmpty,
      "asof join needs equal-length, non-empty key lists")
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lPlan = bridge.planOf(left)
    val rPlan = bridge.planOf(right)
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    // Enforce the time contract AT PLAN TIME: the exec reads times via
    // getLong, so an int-backed type (DateType/IntegerType) would silently
    // read undefined bytes from the UnsafeRow — wrong matches, no error.
    for ((df, col) <- Seq((lPlan, leftTimeCol), (rPlan, rightTimeCol))) {
      val dt = attr(df, col).dataType
      require(dt == TimestampType || dt == TimestampNTZType || dt == LongType,
        s"asof time column $col must be TimestampType, TimestampNTZType " +
          s"or LongType (8-byte ordinal), got $dt — cast it explicitly first")
    }
    // And the two sides must agree (ADVICE r12): a mixed LTZ/NTZ (or
    // timestamp/long) pair passes the per-side check but compares UTC
    // epoch-micros against naive micros — silently wrong matches in any
    // non-UTC session. Same-flavor is part of the plan-time contract.
    val (lDt, rDt) = (attr(lPlan, leftTimeCol).dataType,
                      attr(rPlan, rightTimeCol).dataType)
    require(lDt == rDt,
      s"asof time columns must share one type: $leftTimeCol is $lDt but " +
        s"$rightTimeCol is $rDt — cast one side explicitly first")
    bridge.dfOf(spark, AsofJoin(
      lPlan, rPlan,
      leftOn.map(attr(lPlan, _)), rightOn.map(attr(rPlan, _)),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol),
      forward = direction == "forward"))
  }
}
