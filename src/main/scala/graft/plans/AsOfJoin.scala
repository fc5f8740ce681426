package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Logical as-of join: for every left row, attach the single right row
  * with equal keys and the greatest `rightTime <= leftTime` (left-outer
  * — unmatched left rows carry nulls). The reference's acquisition
  * window derivation asks exactly this shape of every sensor event
  * ("the state in force at this instant", app.py:559-566 derives each
  * fetch window from the latest preceding boundary).
  *
  * Spark has no native as-of join, and both declarative encodings pay
  * real costs at scale:
  *   - range-join + rank materializes every (left row × all earlier
  *     right rows) pair before pruning to rank 1 — per-key quadratic;
  *   - union-and-carry (ops/Acquisition.qAsofLatest) is linear and
  *     one-shuffle, but funnels both streams through a single Window
  *     operator: the unioned schema is carried for every row, the
  *     window sorts events and orders *together*, and the carry
  *     columns ride the shuffle.
  *
  * This node is SURVEY §7.4's case (c): whole-operator semantics the
  * built-ins can't express without overhead, so it gets a LogicalPlan
  * + SparkStrategy + SparkPlan, registered via SparkSessionExtensions
  * (`graft.plans.GraftExtensions`, defined in VecDotRewrite.scala) or
  * `spark.experimental.extraStrategies`
  * (AsOf.ensureRegistered). The physical operator (AsOfJoinExec below)
  * declares the same requirements SortMergeJoin does — co-partition by
  * key, sort each side by (key, time) — and then streams both sides in
  * one forward pass with O(1) state: strictly less work than either
  * declarative form, with spill-able sorts and AQE-coalescible
  * shuffles exactly like a regular shuffled join at 100 TB.
  *
  * Tiebreaks: among right rows sharing the maximal admissible time,
  * the one greatest under `rightTiebreaks` (ascending sort, last
  * consumed) wins — matching qAsofLatest's "later (date, key) wins".
  * Null semantics follow SQL joins: null keys on either side never
  * match.
  *
  * `timeBound` is the optional tolerance bound (pandas
  * `merge_asof(tolerance=...)`): an expression over the LEFT row. For
  * the backward direction it is a floor (e.g. `ts - INTERVAL 30 DAYS`)
  * below which a candidate is too stale; with `forward = true` it is a
  * ceiling above which a candidate is too far ahead. `forward` flips
  * the direction to pandas `merge_asof(direction='forward')`: the
  * FIRST right row with `rightTime >= leftTime` (smallest
  * (time, tiebreaks)) instead of the last at-or-before. `allowExact =
  * false` makes the time comparison strict in either direction
  * (pandas `allow_exact_matches=False`). `nearest` picks whichever of
  * the backward/forward candidates is closer in absolute time
  * (distance measured on the type's primitive value — µs for
  * timestamps, days for dates), ties to backward, optionally bounded
  * by `maxDistance` — pandas `direction='nearest'` with `tolerance`;
  * requires allowExact (the pandas default) so the merge stays
  * single-pass.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    timeBound: Option[Expression],
    forward: Boolean = false,
    allowExact: Boolean = true,
    nearest: Boolean = false,
    maxDistance: Option[Long] = None,
    broadcastHint: Option[Boolean] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Column pruning through [[AsOfJoin]]: Catalyst's built-in
  * ColumnPruning only understands its own node types, so a custom
  * binary operator is a pruning barrier — a consumer that selects two
  * columns would still drag every column of both children through the
  * shuffle (and defeat parquet column pruning at the scans). This rule
  * restores the invariant: when a Project (optionally over a Filter)
  * sits on an AsOfJoin, each child is narrowed to the columns the
  * consumer, the filter, and the join expressions actually reference.
  * Fires only when it strictly narrows a child, so it reaches a fixed
  * point; the inserted Projects then merge into the scans via the
  * standard rules. */
object AsOfJoinPruning extends Rule[LogicalPlan] with PredicateHelper {

  /** Push the deterministic conjuncts that reference only LEFT columns
    * below the join. Sound because the operator is left-outer over a
    * per-left-row function of (left row, matched right row): dropping
    * a left row early never changes any other row's match. RIGHT-side
    * conjuncts must NOT move — filtering right rows pre-join would
    * re-match affected left rows to older rows instead of null. */
  private def pushLeftFilters(f: Filter, j: AsOfJoin): LogicalPlan = {
    val (push, keep) = splitConjunctivePredicates(f.condition)
      .partition(e => e.deterministic &&
        e.references.subsetOf(j.left.outputSet))
    if (push.isEmpty) f
    else {
      val pushed = j.copy(left = Filter(push.reduce(And), j.left))
      keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
    }
  }

  private def needed(j: AsOfJoin, above: AttributeSet): AsOfJoin = {
    val required = above ++
      AttributeSet(j.leftKeys.flatMap(_.references)) ++
      AttributeSet(j.rightKeys.flatMap(_.references)) ++
      j.leftTime.references ++ j.rightTime.references ++
      AttributeSet(j.rightTiebreaks.flatMap(_.references)) ++
      j.timeBound.map(_.references).getOrElse(AttributeSet.empty)
    def prune(child: LogicalPlan): LogicalPlan = {
      val keep = child.output.filter(required.contains)
      if (keep.length < child.output.length) Project(keep, child) else child
    }
    j.copy(left = prune(j.left), right = prune(j.right))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, j: AsOfJoin) =>
      val pruned = needed(j, p.references)
      if (pruned fastEquals j) p else p.copy(child = pruned)
    case p @ Project(_, f @ Filter(cond, j: AsOfJoin)) =>
      val pruned = needed(j, p.references ++ cond.references)
      if (pruned fastEquals j) p else p.copy(child = f.copy(child = pruned))
    case f @ Filter(_, j: AsOfJoin) => pushLeftFilters(f, j)
  }
}

/** Plans [[AsOfJoin]] physically, mirroring Spark's own join-strategy
  * selection: if the right side's estimated size fits under
  * `spark.sql.autoBroadcastJoinThreshold`, choose
  * [[BroadcastAsOfJoinExec]] — the big left side is neither shuffled
  * nor sorted, the dim side ships once per executor — otherwise the
  * co-partitioned sort-merge [[AsOfJoinExec]]. A no-op for every other
  * node, so it composes with the built-in strategies. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val broadcast = j.broadcastHint.getOrElse(
        threshold > 0 && j.right.stats.sizeInBytes <= threshold)
      if (broadcast)
        BroadcastAsOfJoinExec(planLater(j.left), planLater(j.right),
          j.leftKeys, j.rightKeys, j.leftTime, j.rightTime, j.rightTiebreaks,
          j.timeBound, j.forward, j.allowExact, j.nearest, j.maxDistance) :: Nil
      else
        AsOfJoinExec(planLater(j.left), planLater(j.right),
          j.leftKeys, j.rightKeys, j.leftTime, j.rightTime, j.rightTiebreaks,
          j.timeBound, j.forward, j.allowExact, j.nearest, j.maxDistance) :: Nil
    case _ => Nil
  }
}

/** Time-value extraction for nearest-direction distance arithmetic:
  * the supported time types are exactly those whose Catalyst physical
  * value is an integral primitive (µs for timestamps, days for dates),
  * so |l - r| is exact long math. */
private[plans] object AsOfTime {
  import org.apache.spark.sql.types._
  def asLong(t: DataType): InternalRow => Long = t match {
    case LongType | TimestampType | TimestampNTZType => r => r.getLong(0)
    case IntegerType | DateType => r => r.getInt(0).toLong
    case other => throw new IllegalArgumentException(
      s"as-of nearest: time type $other has no primitive distance")
  }
}

/** Physical sort-merge as-of join.
  *
  * Requirements (enforced by EnsureRequirements, same machinery as
  * SortMergeJoinExec): both children clustered on their keys — so the
  * partitions zip 1:1 — and sorted by (keys, time[, tiebreaks]).
  * Execution is a per-partition two-pointer merge: advance the right
  * iterator while its (key, time) is at-or-behind the current left
  * row, remembering the last same-key row seen; emit left ++ match.
  * Per-partition state is ONE buffered right row — no hash table, no
  * row fan-out, no window buffer — and each input row is touched
  * exactly once, so a partition streams at memory-bandwidth speed
  * regardless of how many right rows precede each left row.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    timeBound: Option[Expression],
    forward: Boolean,
    allowExact: Boolean,
    nearest: Boolean,
    maxDistance: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTiebreaks)).map(SortOrder(_, Ascending)))

  // The merge preserves left's row order and partitioning, so a
  // downstream groupBy/window on the same keys re-uses this shuffle.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val boundExpr = timeBound
    val fwd = forward
    val exact = allowExact
    val near = nearest
    val maxDist = maxDistance.getOrElse(Long.MaxValue)
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val lSchema = DataTypeUtils.fromAttributes(lOut)
    val rSchema = DataTypeUtils.fromAttributes(rOut)
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        if (!lIter.hasNext) Iterator.empty
        else {
          val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
          val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
          val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
          val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
          val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
          val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
          val joiner = GenerateUnsafeRowJoiner.create(lSchema, rSchema)
          // Children may emit non-Unsafe or buffer-reused rows; the
          // identity projections normalize, and buffered rows are
          // copied before being held across iterator steps.
          val lConv = UnsafeProjection.create(lOut, lOut)
          val rConv = UnsafeProjection.create(rOut, rOut)
          val nullRight = UnsafeProjection
            .create(rOut.map(a => Literal.create(null, a.dataType)), Nil)(
              InternalRow.empty).copy()

          val boundProj = boundExpr.map(e => UnsafeProjection.create(Seq(e), lOut))
          val timeToLong = if (near) AsOfTime.asLong(timeType) else null
          var matched: UnsafeRow = null    // best right row for matchedKey so far
          var matchedKey: UnsafeRow = null
          var matchedTime: InternalRow = null
          var pending: UnsafeRow = null    // peeked-but-unconsumed right row
          var pendingKey: UnsafeRow = null
          var pendingTime: InternalRow = null

          def refill(): Unit = {
            while (pending == null && rIter.hasNext) {
              val r = rConv(rIter.next())
              val k = rKeyProj(r)
              if (!k.anyNull) { // SQL semantics: null keys never match
                pending = r.copy()
                pendingKey = rKeyProj(pending).copy()
                pendingTime = rTimeProj(pending).copy()
              }
            }
          }

          if (!fwd) lIter.map { lRaw =>
            val lRow = lConv(lRaw)
            val lKey = lKeyProj(lRow)
            if (lKey.anyNull) joiner.join(lRow, nullRight)
            else {
              val lTime = lTimeProj(lRow)
              var advance = true
              while (advance) {
                refill()
                if (pending == null) advance = false
                else {
                  val kc = keyOrd.compare(pendingKey, lKey)
                  if (kc < 0) {
                    pending = null // right key already passed: discard
                  } else if (kc == 0 && {
                    val tc = timeOrd.compare(pendingTime, lTime)
                    if (exact) tc <= 0 else tc < 0
                  }) {
                    matched = pending // admissible: remember, keep advancing
                    matchedKey = pendingKey
                    matchedTime = pendingTime // refill() allocates fresh copies
                    pending = null
                  } else {
                    advance = false // right side is ahead of this left row
                  }
                }
              }
              // nearest: the backward loop's matched row and the
              // un-consumed pending row ARE the two candidates —
              // closer absolute distance wins, ties to backward,
              // both subject to maxDistance
              val m =
                if (near) {
                  val lT = timeToLong(lTime)
                  val bOk = matched != null && keyOrd.compare(matchedKey, lKey) == 0
                  val fOk = pending != null && keyOrd.compare(pendingKey, lKey) == 0
                  val bd = if (bOk) lT - timeToLong(matchedTime) else 0L
                  val fd = if (fOk) timeToLong(pendingTime) - lT else 0L
                  val bGood = bOk && bd <= maxDist
                  val fGood = fOk && fd <= maxDist
                  if (bGood && (!fGood || bd <= fd)) matched
                  else if (fGood) pending
                  else nullRight
                }
                // tolerance floor: a match older than the bound is too
                // stale for THIS left row (it may still serve a later one)
                else if (matched != null && keyOrd.compare(matchedKey, lKey) == 0 &&
                    boundProj.forall(p => timeOrd.compare(matchedTime, p(lRow)) >= 0))
                  matched
                else nullRight
              joiner.join(lRow, m)
            }
          }
          else lIter.map { lRaw =>
            // forward: discard right rows strictly behind the current
            // left row; the pending row (NOT consumed — it may serve
            // later left rows of the same key) is then the first
            // admissible candidate, i.e. the minimal (time, tiebreaks)
            // with time >= left time.
            val lRow = lConv(lRaw)
            val lKey = lKeyProj(lRow)
            if (lKey.anyNull) joiner.join(lRow, nullRight)
            else {
              val lTime = lTimeProj(lRow)
              var advance = true
              while (advance) {
                refill()
                if (pending == null) advance = false
                else {
                  val kc = keyOrd.compare(pendingKey, lKey)
                  if (kc < 0 || (kc == 0 && {
                    val tc = timeOrd.compare(pendingTime, lTime)
                    if (exact) tc < 0 else tc <= 0
                  })) {
                    pending = null // behind this left row: can never match again
                  } else {
                    advance = false
                  }
                }
              }
              // tolerance ceiling: a match further ahead than the bound
              // is too far in the future for THIS left row
              val m =
                if (pending != null && keyOrd.compare(pendingKey, lKey) == 0 &&
                    boundProj.forall(p => timeOrd.compare(pendingTime, p(lRow)) <= 0))
                  pending
                else nullRight
              joiner.join(lRow, m)
            }
          }
        }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Broadcast as-of join for a dim-sized right side: the left fact
  * stream is NOT shuffled and NOT sorted — each task receives the
  * whole right side once (standard BroadcastExchange, reused across
  * stages like any broadcast join), builds a per-key time-sorted
  * index, and answers each left row with one hash lookup + binary
  * search. At 100 TB this is the difference between re-clustering the
  * fact table and a map-only pass — the same reason Spark broadcasts
  * small equi-join sides. Output order/partitioning of the left child
  * are preserved, so downstream operators keep their guarantees.
  *
  * The per-task index build is O(|R| log |R|) over the dim — bounded
  * by the broadcast threshold, amortized across the rows of the task's
  * partition. */
case class BroadcastAsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    timeBound: Option[Expression],
    forward: Boolean,
    allowExact: Boolean,
    nearest: Boolean,
    maxDistance: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val rOrderExprs = rightTime +: rightTiebreaks
    val boundExpr = timeBound
    val fwd = forward
    val exact = allowExact
    val near = nearest
    val maxDist = maxDistance.getOrElse(Long.MaxValue)
    val timeType = leftTime.dataType
    val lSchema = DataTypeUtils.fromAttributes(lOut)
    val rSchema = DataTypeUtils.fromAttributes(rOut)
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions({ lIter =>
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val rConv = UnsafeProjection.create(rOut, rOut)
      val rOrd = RowOrdering.create(
        rOrderExprs.map(SortOrder(_, Ascending)), rOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      // key -> rows sorted by (time, tiebreaks); built once per task
      // over the dim-sized broadcast, probed for every fact row
      val index = new java.util.HashMap[UnsafeRow, Array[UnsafeRow]]()
      broadcastRows.value.iterator
        .map(r => rConv(r).copy())
        .filterNot(r => rKeyProj(r).anyNull)
        .toArray.groupBy(r => rKeyProj(r).copy())
        .foreach { case (k, rows) => index.put(k, rows.sortWith(rOrd.lt)) }

      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val boundProj = boundExpr.map(e => UnsafeProjection.create(Seq(e), lOut))
      val timeToLong = if (near) AsOfTime.asLong(timeType) else null
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val joiner = GenerateUnsafeRowJoiner.create(lSchema, rSchema)
      val lConv = UnsafeProjection.create(lOut, lOut)
      val nullRight = UnsafeProjection
        .create(rOut.map(a => Literal.create(null, a.dataType)), Nil)(
          InternalRow.empty).copy()

      lIter.map { lRaw =>
        val lRow = lConv(lRaw)
        val lKey = lKeyProj(lRow)
        val group = if (lKey.anyNull) null else index.get(lKey)
        if (group == null) joiner.join(lRow, nullRight)
        else {
          val lTime = lTimeProj(lRow).copy()
          // backward: rightmost row with time <= left time (greatest
          // admissible (time, tiebreaks)); forward: leftmost row with
          // time >= left time (smallest). Group is (time, tiebreaks)-
          // ascending, so both are single binary searches. Nearest
          // runs the backward-exact search: its answer and the row
          // right AFTER it are precisely the two direction candidates.
          val searchFwd = fwd && !near
          var lo = 0
          var hi = group.length - 1
          var ans = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            val c = timeOrd.compare(rTimeProj(group(mid)), lTime)
            val admissible =
              if (searchFwd) { if (exact) c >= 0 else c > 0 }
              else { if (exact || near) c <= 0 else c < 0 }
            if (admissible) {
              ans = mid
              if (searchFwd) hi = mid - 1 else lo = mid + 1
            } else {
              if (searchFwd) lo = mid + 1 else hi = mid - 1
            }
          }
          if (near) {
            val lT = timeToLong(lTime)
            val bOk = ans >= 0
            val fOk = ans + 1 < group.length
            val bd = if (bOk) lT - timeToLong(rTimeProj(group(ans))) else 0L
            val fd = if (fOk) timeToLong(rTimeProj(group(ans + 1))) - lT else 0L
            val bGood = bOk && bd <= maxDist
            val fGood = fOk && fd <= maxDist
            if (bGood && (!fGood || bd <= fd)) joiner.join(lRow, group(ans))
            else if (fGood) joiner.join(lRow, group(ans + 1))
            else joiner.join(lRow, nullRight)
          }
          // tolerance bound: the selected row is the extreme admissible
          // one, so if IT violates the bound no row qualifies
          // (backward: floor, forward: ceiling)
          else if (ans < 0 ||
              boundProj.exists { p =>
                val c = timeOrd.compare(rTimeProj(group(ans)), p(lRow))
                if (fwd) c > 0 else c < 0
              })
            joiner.join(lRow, nullRight)
          else joiner.join(lRow, group(ans))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.joinLatest(events, orders, Seq("user_id"),
  * Seq("o_custkey"), "ts", "t")`. Children are pre-analyzed
  * DataFrames, so the injected node is fully resolved at construction;
  * [[AsOfJoinPruning]] restores column pruning through the custom
  * node, so a narrow consumer projection reaches the scans without
  * manual child selection. */
object AsOf {

  /** Idempotently add the planner strategy and pruning rule to a
    * session. [[GraftExtensions]] (VecDotRewrite.scala) also injects
    * both for `spark.sql.extensions`-configured sessions. */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(AsOfJoinPruning))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AsOfJoinPruning
  }

  /** Backward as-of: latest right row at-or-before each left row.
    *
    * @param minTime optional tolerance floor, a SQL expression over
    *   LEFT columns evaluating to the time type (e.g.
    *   `"ts - INTERVAL 30 DAYS"`): right rows older than it match
    *   null — pandas `merge_asof(tolerance=...)` semantics.
    * @param broadcastHint force the physical path like Spark's join
    *   hints: Some(true) = broadcast, Some(false) = co-partitioned
    *   sort-merge, None (default) = stats-driven selection. */
  def joinLatest(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTiebreaks: Seq[String] = Nil,
      minTime: Option[String] = None,
      broadcastHint: Option[Boolean] = None,
      allowExact: Boolean = true): DataFrame =
    join(left, right, leftKeys, rightKeys, leftTime, rightTime,
      rightTiebreaks, minTime, forward = false, allowExact, broadcastHint)

  /** Forward as-of (pandas `merge_asof(direction='forward')`): FIRST
    * right row at-or-after each left row — smallest (time, tiebreaks)
    * with `rightTime >= leftTime`. `maxTime` is the tolerance ceiling
    * (right rows beyond it match null). */
  def joinNext(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTiebreaks: Seq[String] = Nil,
      maxTime: Option[String] = None,
      broadcastHint: Option[Boolean] = None,
      allowExact: Boolean = true): DataFrame =
    join(left, right, leftKeys, rightKeys, leftTime, rightTime,
      rightTiebreaks, maxTime, forward = true, allowExact, broadcastHint)

  /** Nearest as-of (pandas `merge_asof(direction='nearest')`): the
    * right row with minimal |rightTime - leftTime|, ties to backward.
    * `maxDistance` is the optional tolerance in the time type's
    * primitive unit (µs for timestamps, days for dates). Requires a
    * primitively-integral time type; exact matches are always allowed
    * (the pandas default). */
  def joinNearest(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTiebreaks: Seq[String] = Nil,
      maxDistance: Option[Long] = None,
      broadcastHint: Option[Boolean] = None): DataFrame =
    join(left, right, leftKeys, rightKeys, leftTime, rightTime,
      rightTiebreaks, None, forward = false, allowExact = true,
      broadcastHint, nearest = true, maxDistance = maxDistance)

  private def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTiebreaks: Seq[String],
      timeBound: Option[String],
      forward: Boolean,
      allowExact: Boolean,
      broadcastHint: Option[Boolean],
      nearest: Boolean = false,
      maxDistance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = GraftSqlShim.analyzed(
      left.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]])
    val rPlan = GraftSqlShim.analyzed(
      right.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]])
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$name' in ${plan.output.map(_.name).mkString(", ")}"))
    val lk = leftKeys.map(resolve(lPlan, _))
    val rk = rightKeys.map(resolve(rPlan, _))
    val lt = resolve(lPlan, leftTime)
    val rt = resolve(rPlan, rightTime)
    require(lk.map(_.dataType) == rk.map(_.dataType),
      s"as-of join: key types differ: ${lk.map(_.dataType)} vs ${rk.map(_.dataType)}")
    require(lt.dataType == rt.dataType,
      s"as-of join: time types differ: ${lt.dataType} vs ${rt.dataType}")
    if (nearest) AsOfTime.asLong(lt.dataType) // fail fast if no primitive distance
    // Resolve the floor expression against the left plan by analyzing
    // a throwaway projection — same attribute ids, so the extracted
    // child expression binds directly inside the join node.
    val mn = timeBound.map { s =>
      val analyzed = GraftSqlShim.analyzed(
        left.select(org.apache.spark.sql.functions.expr(s).as("__asof_min"))
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]])
      val e = analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.head match {
            case a: Alias => a.child
            case other => other
          }
        case other => other.output.head
      }
      require(e.dataType == lt.dataType,
        s"as-of join: minTime type ${e.dataType} != time type ${lt.dataType}")
      e
    }
    GraftSqlShim.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AsOfJoin(lPlan, rPlan, lk, rk, lt, rt,
        rightTiebreaks.map(resolve(rPlan, _)), mn, forward, allowExact,
        nearest, maxDistance, broadcastHint))
  }
}
