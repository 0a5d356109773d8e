package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Which right row an as-of probe matches — pandas `merge_asof`'s
  * `direction=`. Every direction matches within the probe's equi key
  * only and yields nulls when nothing qualifies. */
sealed trait AsOfDirection
object AsOfDirection {
  /** The LATEST state at-or-before the probe (`l.t >= r.t`) — DuckDB's
    * ASOF LEFT JOIN and kdb `aj`. */
  case object Backward extends AsOfDirection
  /** The EARLIEST state at-or-after the probe (`l.t <= r.t`; a state
    * at the probe time matches). */
  case object Forward extends AsOfDirection
  /** The closer of the backward and forward matches; distance ties go
    * backward. Needs an integral time column. */
  case object Nearest extends AsOfDirection
}

/** Native as-of join — the custom whole-operator tier (SURVEY.md §7.3):
  * a logical node, a planner strategy, and a physical merge operator,
  * registered per-session (`spark.experimental.extraStrategies`) or via
  * `SparkSessionExtensions.injectPlannerStrategy` (GraftExtensions).
  *
  * Semantics: `l ASOF LEFT JOIN r ON l.key = r.key` in `direction` —
  * each left row is annotated with the value columns of its matching
  * right row, or nulls. Null keys and null times never match.
  *
  * Why a physical operator when a union-and-carry rewrite with
  * built-ins also runs in one shuffle: it materializes probe∪state into one
  * window sort, so every probe row is sorted WITH the state rows and
  * carries all state columns through the shuffle (nulls on the probe
  * side). This operator shuffles each side only once with only its own
  * columns, sorts each side independently (often free: a bucketed/
  * pre-sorted state table satisfies `requiredChildOrdering` and skips
  * both its exchange and its sort), and streams a per-partition merge
  * with O(1) state — the textbook sort-merge shape, minus the union
  * blow-up. At 100 TB the union form shuffles ~2× the bytes of this.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightValues: Seq[Attribute],
    tolerance: Option[Long] = None,
    direction: AsOfDirection = AsOfDirection.Backward) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))
  /** One output row per left row — size like the left child, not the
    * visitor default for unknown binary nodes (children size PRODUCT),
    * which would make every downstream join look too big to broadcast. */
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes, rowCount = left.stats.rowCount)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Column pruning THROUGH the custom node: Catalyst's ColumnPruning
  * only understands built-in operators, so without this rule every
  * as-of value column survives to the exec even when the query
  * projects a subset — at scale that is shuffle bytes for columns
  * nobody reads. Registered with the planner strategy (via
  * `injectOptimizerRule`, where it joins the operator-optimization
  * fixed point and composes with child pruning; via
  * `experimental.extraOptimizations` it still trims the node and the
  * merge payload). Idempotent. */
object PruneAsOfJoinValues
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projectList, aj: AsOfJoinPlan) =>
      val needed = AttributeSet(projectList.flatMap(_.references))
      val keep = aj.rightValues.filter(needed.contains) // match by exprId
      if (keep.length == aj.rightValues.length) p
      else p.copy(child = aj.copy(rightValues = keep))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, vals, tol, dir) =>
      AsOfJoinExec(lk, rk, lt, rt, vals, tol, dir,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Per-partition streaming merge over co-partitioned, (key, time)-sorted
  * children. EnsureRequirements supplies the exchanges/sorts exactly as
  * it would for a sort-merge join.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightValues: Seq[Attribute],
    tolerance: Option[Long],
    direction: AsOfDirection,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  import AsOfDirection._

  require((tolerance.isEmpty && direction != Nearest) ||
    leftTime.dataType == org.apache.spark.sql.types.LongType,
    "as-of tolerance and direction Nearest require an integral (epoch) time column")

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val lOut = left.output
    val rOut = right.output
    val valAttrs = rightValues
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), rOut)
      val valProj = UnsafeProjection.create(valAttrs, rOut)
      // bind the output against NULLABLE value slots — a probe with no
      // state feeds an all-null values row even when the source column
      // was non-nullable
      val outProj = UnsafeProjection.create(outAttrs,
        lOut ++ valAttrs.map(_.withNullability(true)))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val nullVals = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(valAttrs.length)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

      new Iterator[InternalRow] {
        // current unconsumed right row (key/time/value projections are
        // transient buffers; held state is copied)
        private var rRow: InternalRow = _
        private var rKey: InternalRow = _
        private var rTime: InternalRow = _
        private var heldKey: InternalRow = _
        private var heldVal: InternalRow = _
        private var heldTime: InternalRow = _
        advanceRight()

        private def advanceRight(): Unit = {
          var ok = false
          while (!ok && rIter.hasNext) {
            rRow = rIter.next()
            rKey = rKeyProj(rRow)
            rTime = rTimeProj(rRow)
            // null-keyed / null-timed state rows can never match
            ok = !rKey.anyNull && !rTime.isNullAt(0)
          }
          if (!ok) { rRow = null; rKey = null; rTime = null }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = lTimeProj(l)
          if (lKey.anyNull || lTime.isNullAt(0))
            return outProj(joined(l, nullVals))
          // consume right rows up to (lKey, lTime], remembering the last
          var continue = rRow != null
          while (continue) {
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) {
              advanceRight(); continue = rRow != null
            } else if (c == 0 && timeOrd.compare(rTime, lTime) <= 0) {
              heldKey = rKey.copy(); heldVal = valProj(rRow).copy()
              heldTime = rTime.copy()
              advanceRight(); continue = rRow != null
            } else continue = false
          }
          // held: the latest same-key state at-or-before the probe;
          // ahead: the first unconsumed row, same key ⇒ strictly later
          val held = heldKey != null && keyOrd.compare(heldKey, lKey) == 0
          val ahead = rRow != null && keyOrd.compare(rKey, lKey) == 0
          val useHeld = held && (direction match {
            case Backward => true
            case Forward => timeOrd.compare(heldTime, lTime) == 0
            case Nearest => !ahead || // a distance tie goes backward
              lTime.getLong(0) - heldTime.getLong(0) <=
                rTime.getLong(0) - lTime.getLong(0)
          })
          var vals: InternalRow = nullVals
          var matchTime: InternalRow = null
          if (useHeld) { vals = heldVal; matchTime = heldTime }
          else if (ahead && direction != Backward) {
            vals = valProj(rRow); matchTime = rTime
          }
          if (matchTime != null && tolerance.exists(t =>
                math.abs(lTime.getLong(0) - matchTime.getLong(0)) > t))
            vals = nullVals
          outProj(joined(l, vals))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over the native operator. */
object AsOfJoinNative {

  /** Install the planner strategy + pruning rule into `spark`
    * (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val es = spark.experimental
    if (!es.extraStrategies.contains(AsOfJoinStrategy))
      es.extraStrategies = es.extraStrategies :+ AsOfJoinStrategy
    if (!es.extraOptimizations.contains(PruneAsOfJoinValues))
      es.extraOptimizations = es.extraOptimizations :+ PruneAsOfJoinValues
  }

  /** The as-of join, planned through [[AsOfJoinExec]]: one output row
    * per `left` row carrying `valueCols` of its `direction` match in
    * `right` on equal `keys`, or nulls.
    *
    * @param leftTime   probe time column on `left`
    * @param rightTime  state time column on `right` (same type)
    * @param valueCols  columns of `right` to attach (must not clash
    *                   with `left` column names)
    * @param tolerance  integral epoch time only: a match farther than
    *                   `tolerance` from the probe (|probe − match| >
    *                   tolerance) yields nulls — pandas merge_asof's
    *                   tolerance semantics
    * @param direction  which state matches; [[AsOfDirection.Nearest]]
    *                   needs an integral epoch time column
    */
  def joinAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               valueCols: Seq[String],
               tolerance: Option[Long] = None,
               direction: AsOfDirection = AsOfDirection.Backward): DataFrame = {
    require(keys.nonEmpty, "as-of join requires at least one equi key")
    val spark = left.sparkSession
    register(spark)
    val lPlan = left.queryExecution.analyzed
    // Re-alias every right column (fresh exprIds): when `right` derives
    // from `left` (self-join shape), the sides would otherwise share
    // attribute ids, and the analyzer's DeduplicateRelations only knows
    // how to repair built-in node types — a custom node would keep
    // stale ids and lose columns to pruning.
    val rAliased = right.select(
      right.columns.toIndexedSeq.map(c => right.col(c).as(c)): _*)
    val rPlan = rAliased.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    val (lKeys, rKeys) = (keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)))
    val (lTime, rTime) = (attr(lPlan, leftTime), attr(rPlan, rightTime))
    // both sides must hash and compare alike: the exchange would send an
    // INT key and an equal BIGINT key to different partitions
    (lKeys.zip(rKeys) :+ (lTime -> rTime)).foreach { case (l, r) =>
      if (l.dataType != r.dataType) throw new IllegalArgumentException(
        s"as-of join column types differ: left ${l.name} is " +
        s"${l.dataType.simpleString}, right ${r.name} is " +
        s"${r.dataType.simpleString}; cast one side")
    }
    val clash = valueCols.filter(left.columns.contains)
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"as-of value columns ${clash.mkString(", ")} are already left " +
      "columns; rename them on one side")
    val node = AsOfJoinPlan(lPlan, rPlan, lKeys, rKeys, lTime, rTime,
      valueCols.map(attr(rPlan, _)), tolerance, direction)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, node)
  }
}
