package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.GraftShim

/** Native as-of join — the second whole-operator stack (after
  * [[TopKPerKey]]): for each left (probe) row, the LATEST right
  * (reference) row with `rightTime <= leftTime` on the same key, as a
  * single sorted-merge pass.
  *
  * Spark has no as-of join. The compositional form
  * ([[graft.ops.AsOfJoin]]) unions both sides through one shuffle + one
  * window; this operator is the direct physical shape a native engine
  * uses: both children hash-clustered on the key and sorted by
  * (key, time) — requirements EnsureRequirements satisfies exactly like
  * a sort-merge join — then each co-partition merges in ONE forward
  * pass holding O(1) state (the current key's latest reference row).
  * No window, no union row-blowup, early rows stream out immediately.
  *
  * Semantics: backward inclusive (`rightTime <= leftTime` wins ties);
  * unmatched left rows keep NULL right columns (left join); reference
  * rows should be unique per (key, time) — with duplicates the LAST in
  * sort order wins, which is only deterministic if something makes that
  * order total. Keys match null-safely (both-null keys group together,
  * like sort-merge's null island — pre-filter if SQL-join semantics are
  * needed); times must be non-null and share one data type.
  */
object AsOfJoinNative {

  /** Install the planner strategy (idempotent; wired into the session
    * factory). */
  def install(spark: SparkSession): Unit =
    GraftShim.installPlanner(spark, AsOfStrategy, Nil)

  /** Left as-of join: output = all left columns + all right columns
    * (right side NULL where no reference row precedes the probe). */
  def join(left: DataFrame, right: DataFrame,
           leftKeys: Seq[String], rightKeys: Seq[String],
           leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val l = GraftShim.analyzed(left)
    val r = GraftShim.analyzed(right)
    def res(p: LogicalPlan, name: String): Expression =
      p.resolveQuoted(name, org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot resolve '$name' among ${p.output.map(_.name).mkString(", ")}"))
    val (lk, rk) = (leftKeys.map(res(l, _)), rightKeys.map(res(r, _)))
    require(lk.length == rk.length && lk.nonEmpty, "key lists must match and be non-empty")
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"key columns must share a type: ${a.dataType} vs ${b.dataType} (cast first) — " +
          "mismatched types hash/compare differently and would silently never match")
    }
    val (lt, rt) = (res(l, leftTime), res(r, rightTime))
    require(lt.dataType == rt.dataType,
      s"time columns must share a type: ${lt.dataType} vs ${rt.dataType} (cast first)")
    GraftShim.ofRows(spark, AsOfJoinNode(lk, rk, lt, rt, l, r))
  }
}

/** Logical node; output = left ++ nullable right. */
case class AsOfJoinNode(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical operator: co-clustered, (key, time)-sorted children merged
  * in one forward pass per partition. */
case class AsOfJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val (lOut, rOut) = (left.output, right.output)
    val (lks, rks, lte, rte) = (leftKeys, rightKeys, leftTime, rightTime)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lks, lOut)
      val rKeyProj = UnsafeProjection.create(rks, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lte), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rte), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lks.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lte.dataType))
      // Bind against nullability-adjusted right attrs (like Spark's own
      // outer joins): unmatched probes feed an all-null row through this
      // projection, and a non-nullable BoundReference would skip the null
      // check and emit 0/garbage instead of NULL.
      val proj = UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)
      val rBuf = rIter.buffered

      var curKey: UnsafeRow = null       // current left group
      var lastRight: InternalRow = null  // latest reference row for it
      lIter.map { lrow =>
        val lk = lKeyProj(lrow)
        if (curKey == null || keyOrd.compare(lk, curKey) != 0) {
          curKey = lk.copy()
          lastRight = null
        }
        val lt = lTimeProj(lrow).copy()
        // drain reference rows at-or-before this probe: keys strictly
        // below ours are discarded (their group produced no probes or is
        // done); equal keys advance the latest-row cursor through time
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val cmp = keyOrd.compare(rKeyProj(rBuf.head), curKey)
          if (cmp < 0) rBuf.next()
          else if (cmp == 0 && timeOrd.compare(rTimeProj(rBuf.head), lt) <= 0)
            lastRight = rBuf.next().copy()
          else advancing = false
        }
        proj(joined(lrow, if (lastRight == null) nullRight else lastRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy for [[AsOfJoinNode]]. */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, rk, lt, rt, l, r) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}
