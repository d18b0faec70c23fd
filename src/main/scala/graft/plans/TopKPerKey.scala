package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.GraftShim

/** Whole-operator top-k-per-key: the full custom-operator stack —
  * logical plan node + planner strategy + physical operator + an
  * optimizer rule that rewrites the `row_number ≤ k` window idiom.
  *
  * Why not a window? `row_number().over(partitionBy(key).orderBy(o))`
  * sorts EVERY group's full row set (O(n log n) per partition, with
  * sort spill) to keep k rows. This operator keeps a k-bounded heap per
  * key (O(n log k), no sort, no spill) and runs in two phases like a
  * hash aggregate: a map-side partial pass caps each key at k rows
  * BEFORE the shuffle — on a 100 TB fact, the exchange carries at most
  * `keys × k` rows per map partition instead of every row. At k ≪ rows
  * per key that is the difference between shuffling everything and
  * shuffling a rounding error.
  *
  * Memory: the final phase holds `distinct keys per reduce partition × k`
  * rows (a hash aggregate's profile); the partial phase caps its hash map
  * at [[TopKPerKey.PartialMaxKeys]] and passes rows for overflow keys
  * through unfiltered — correctness never depends on the partial.
  *
  * Ties follow the given ordering; make it total (add a key tiebreaker)
  * for deterministic output — same contract as `row_number`.
  */
object TopKPerKey {

  /** Partial-phase hash-map cap: beyond this many distinct keys in one
    * map partition, further unseen keys skip the partial filter (exactly
    * how partial aggregation degrades when the map side stops helping). */
  val PartialMaxKeys = 100000

  /** Largest rank literal [[RankLimitToTopK]] will rewrite: the heap
    * holds k rows per key IN MEMORY (never spills), so a pathological
    * `row_number <= 10_000_000` is better served by the window it wrote.
    * Explicit perKey/perKeyWithRank calls are the caller's choice and
    * are not capped. */
  val RewriteMaxK = 100000

  /** Install the planner strategy + rewrite rule on a live session
    * (idempotent; [[graft.core.SparkSessionFactory]] calls it on every
    * session it builds). */
  def install(spark: SparkSession): Unit =
    GraftShim.installPlanner(spark, TopKStrategy, Seq(RankLimitToTopK))

  /** Top `k` rows per `keys` group in `orderBy` order (e.g.
    * `Seq(col("price").desc, col("id"))`). Output columns = input
    * columns, at most k rows per key. */
  def perKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column], k: Int): DataFrame =
    build(df, keys, orderBy, k, rank = None)

  /** [[perKey]] plus a materialized 1-based rank ordinal column — the
    * `row_number()` twin for callers whose OUTPUT carries the rank (e.g.
    * stratified sampling emitting `sample_rank`). Same bounded-heap
    * two-phase plan; the ordinal is stamped on the final pass's sorted
    * flush, so no window and no per-group full sort ever runs. */
  def perKeyWithRank(df: DataFrame, keys: Seq[String], orderBy: Seq[Column],
                     k: Int, rankCol: String): DataFrame =
    build(df, keys, orderBy, k,
      rank = Some(AttributeReference(rankCol,
        org.apache.spark.sql.types.IntegerType, nullable = false)()))

  private def build(df: DataFrame, keys: Seq[String], orderBy: Seq[Column],
                    k: Int, rank: Option[Attribute]): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val child = GraftShim.analyzed(df)
    def res(name: String): Expression =
      child.resolveQuoted(name, org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot resolve '$name' among ${child.output.map(_.name).mkString(", ")}"))
    val keyExprs = keys.map(res)
    val orders = orderBy.map { c =>
      GraftShim.catalystExpression(spark, c).transformUp {
        case u: UnresolvedAttribute => res(u.name)
      } match {
        case so: SortOrder => so
        case e => SortOrder(e, Ascending)
      }
    }
    GraftShim.ofRows(spark, TopKPerKeyNode(keyExprs, orders, k, child, rank))
  }
}

/** Logical node: top `k` rows per `keys` group in `order` order.
  * Output = child output, plus a 1-based IntegerType rank ordinal when
  * `rank` is set (the `row_number` twin — kept as an Attribute so a
  * rewrite from an existing window can preserve its exprId and
  * downstream references resolve unchanged). */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan,
                          rank: Option[Attribute] = None) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output ++ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank.toSeq)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Physical operator. `partial = true` is the pre-shuffle combine pass
  * (no distribution requirement, capped hash map, pass-through overflow);
  * `partial = false` requires co-location by key and is exact — and is
  * the only phase allowed to carry `rank` (a partial's ranks would be
  * per-map-partition ordinals, not group ordinals). */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan,
                          rank: Option[Attribute] = None)
  extends UnaryExecNode {

  require(rank.isEmpty || !partial, "partial phase cannot emit ranks")
  override def output: Seq[Attribute] = child.output ++ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank.toSeq)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keys.isEmpty) AllTuples :: Nil // global top-k: one partition
    else ClusteredDistribution(keys) :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val (ks, os, kk) = (keys, order, k)
    val cap = if (partial) TopKPerKey.PartialMaxKeys else Int.MaxValue
    val attrs = child.output
    val rk = rank
    val out = output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(ks, attrs)
      val ord = RowOrdering.create(os, attrs)
      // heap head = the WORST kept row (reverse ordering), so one peek
      // decides replace-or-drop
      val worstFirst = ord.reverse
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      val passThrough = iter.filter { row =>
        val key = keyProj(row)
        var h = heaps.get(key)
        if (h == null && heaps.size < cap) {
          h = new java.util.PriorityQueue[InternalRow](math.min(kk, 16) + 1, worstFirst)
          heaps.put(key.copy(), h)
        }
        if (h == null) true // partial-phase overflow: defer to the final pass
        else {
          if (h.size < kk) h.add(row.copy())
          else if (ord.compare(row, h.peek) < 0) { h.poll(); h.add(row.copy()) }
          false
        }
      }
      def flush: Iterator[InternalRow] = {
        import scala.jdk.CollectionConverters._
        // rank stamping: the flush of one heap is already the group in
        // final order — append 1..size positionally, no extra sort
        val stamp: (Array[InternalRow] => Iterator[InternalRow]) = rk match {
          case None => _.iterator
          case Some(a) =>
            val proj = UnsafeProjection.create(out, attrs :+ a)
            val joined = new JoinedRow
            val rnRow = new GenericInternalRow(1)
            arr => arr.iterator.zipWithIndex.map { case (r, i) =>
              rnRow.setInt(0, i + 1)
              proj(joined(r, rnRow))
            }
        }
        heaps.values.iterator.asScala.flatMap { h =>
          val arr = h.toArray(new Array[InternalRow](h.size))
          java.util.Arrays.sort(arr, ord)
          stamp(arr)
        }
      }
      passThrough ++ flush // ++ is by-name: flush runs after input is drained
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy: two-phase plan (partial combine below the exchange
  * the final phase's distribution requirement inserts — the hash-agg
  * shape applied to top-k). Only the final phase stamps ranks. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child, rank) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child)),
        rank) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: rewrite the classic rank-filter idiom
  *
  * {{{ df.withColumn("rn", row_number().over(partitionBy(keys).orderBy(o)))
  *       .filter(col("rn") <= k).drop("rn") }}}
  *
  * into [[TopKPerKeyNode]] — the analyzed shape is
  * `Project(cols, Filter(rn <= k, Window(row_number, keys, o)))`, or the
  * bare `Filter(rn <= k, Window(...))` when the rank filter is the
  * query's last operation (the ANN/mining idiom that keeps `rank` in the
  * output). Fires when the window computes exactly one row_number; if
  * the output carries the rank, the node materializes it under the SAME
  * exprId so downstream references resolve unchanged. Spark's own
  * InferWindowGroupLimit may already have slid a WindowGroupLimit under
  * the Window (it prunes rows but still sorts + runs the window); the
  * rewrite strips it and replaces the whole stack with the heap operator.
  *
  * transformDown, not transformUp: the Project case must claim its
  * Filter child before the bare-Filter case can — bottom-up the Filter
  * would rewrite first and every dropped-rank plan would carry a
  * needlessly materialized rank column.
  */
object RankLimitToTopK extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projectList, Filter(cond, w: Window)) =>
      rewrite(projectList, cond, w).getOrElse(p)
    case f @ Filter(cond, w: Window) =>
      rewrite(w.output, cond, w).getOrElse(f)
  }

  private def rewrite(projectList: Seq[NamedExpression], cond: Expression,
      w: Window): Option[LogicalPlan] = w match {
    case Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
        WindowSpecDefinition(partSpec, orderSpec, _)), _)), _, _, wchild, _) =>
      val rnAttr = w.windowOutputSet
      // limit = heap size; residual = a filter the heap cannot absorb
      // (rank == n keeps only the n-th row: top-n then filter the
      // materialized ordinal — the SCD3 rank-2 idiom)
      val (limit, residual): (Option[Int], Option[Expression]) = cond match {
        case LessThanOrEqual(a: Attribute, IntegerLiteral(n)) if rnAttr.contains(a) =>
          (Some(n), None)
        case LessThan(a: Attribute, IntegerLiteral(n)) if rnAttr.contains(a) =>
          (Some(n - 1), None)
        case EqualTo(a: Attribute, IntegerLiteral(n)) if rnAttr.contains(a) && n >= 1 =>
          (Some(n), if (n == 1) None
            else Some(EqualTo(alias.toAttribute, Literal(n))))
        case _ => (None, None)
      }
      val inner = wchild match {
        case WindowGroupLimit(_, _, _, _, c) => c
        case c => c
      }
      limit match {
        case Some(n) if n > 0 && n <= TopKPerKey.RewriteMaxK && orderSpec.nonEmpty &&
            projectList.forall(_.references.subsetOf(
              inner.outputSet ++ AttributeSet(alias.toAttribute :: Nil))) =>
          val needRank = residual.isDefined ||
            !projectList.forall(_.references.subsetOf(inner.outputSet))
          val node = TopKPerKeyNode(partSpec, orderSpec, n, inner,
            if (needRank) Some(alias.toAttribute) else None)
          Some(Project(projectList, residual.map(Filter(_, node)).getOrElse(node)))
        case _ => None
      }
    case _ => None
  }
}
