package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.LongType

/** Top-k per group as a native whole-operator plan — the one operator
  * family in this engine where composing built-ins genuinely can't
  * express the efficient semantics: the window formulation
  * (`row_number over (partition by g order by o) <= k`) makes
  * WindowExec SORT EVERY GROUP'S FULL ROW SET, O(n log n) per
  * partition and the whole input through the shuffle. This operator
  * keeps a bounded heap of k rows per group instead:
  *
  *  - `PartialTopKExec` (map side, before the exchange): one heap per
  *    group per input partition; at most k rows per (group, map
  *    partition) survive into the shuffle — the top-k analog of
  *    partial aggregation.
  *  - `FinalTopKExec` (after a ClusteredDistribution exchange on the
  *    group key): re-heaps the ≤ k·numMapPartitions survivors per
  *    group, then emits each group's k rows with a 1-based rank
  *    column. Only k rows per group are ever sorted (k log k).
  *
  * Total: O(n log k) compute, shuffle volume min(n, k·groups·maps)
  * instead of n. At 100 TB ("top 10 per user over billions of
  * events") that shuffle reduction is the difference between a plan
  * that runs and one that spills.
  *
  * Registered via `GraftExtensions` (injectPlannerStrategy) or
  * implicitly by the `TopKPerGroup.topK` API. Result columns and tie
  * behavior are identical to the window formulation (ties broken by
  * the caller's sort order — supply a total order for deterministic
  * output, as every ranking query here does).
  */
case class TopKPerGroupNode(
    grouping: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  require(grouping.nonEmpty, "top-k per group needs grouping expressions")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rank is born here, not read from the child — without this,
  // CheckAnalysis reports MISSING_ATTRIBUTES for it.
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Shared bounded-heap builder: map of group key → max-heap (head =
  * worst retained row under `ord`), capped at k.
  */
private[plans] object TopKHeaps {
  def build(iter: Iterator[InternalRow], keyProj: UnsafeProjection,
            ord: Ordering[InternalRow], k: Int): java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]] = {
    val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    while (iter.hasNext) {
      val row = iter.next()
      val key = keyProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](k + 1, ord.reverse)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < k) heap.offer(row.copy())
      else if (ord.compare(row, heap.peek()) < 0) {
        heap.poll()
        heap.offer(row.copy())
      }
    }
    heaps
  }
}

/** Map-side partial top-k: emits each group's ≤ k best rows of this
  * partition, unranked. No required distribution — runs before the
  * exchange and shrinks what the shuffle carries. Rows stay in their
  * partition, so its partitioning is its child's: over an input already
  * clustered by the group key (one partition, say) the planner needs no
  * exchange at all.
  */
case class PartialTopKExec(grouping: Seq[Expression], order: Seq[SortOrder],
                           k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(grouping, childOutput)
      val ord = RowOrdering.create(order, childOutput)
      val heaps = TopKHeaps.build(iter, keyProj, ord, k)
      import scala.jdk.CollectionConverters._
      heaps.values.asScala.iterator.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

/** Final top-k: requires co-location by group key (EnsureRequirements
  * inserts the hash exchange), re-heaps the partial survivors, sorts
  * only each group's ≤ k rows, and appends the 1-based rank.
  */
case class FinalTopKExec(grouping: Seq[Expression], order: Seq[SortOrder],
                         k: Int, rankAttr: AttributeReference,
                         child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(grouping) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(grouping, childOutput)
      val ord = RowOrdering.create(order, childOutput)
      val heaps = TopKHeaps.build(iter, keyProj, ord, k)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      // row_number() is IntegerType; the explicit API defaults to LongType
      val rankIsInt = rankAttr.dataType == org.apache.spark.sql.types.IntegerType
      import scala.jdk.CollectionConverters._
      heaps.values.asScala.iterator.flatMap { heap =>
        val arr = heap.iterator().asScala.toArray.sorted(ord)
        arr.iterator.zipWithIndex.map { case (row, i) =>
          if (rankIsInt) rankRow.update(0, i + 1)
          else rankRow.update(0, (i + 1).toLong)
          outProj(joined(row, rankRow))
        }
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKExec =
    copy(child = newChild)
}

/** Plans TopKPerGroupNode as partial → (exchange) → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(grouping, order, k, rankAttr, child) =>
      FinalTopKExec(grouping, order, k, rankAttr,
        PartialTopKExec(grouping, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {

  /** Idempotently make the strategy and the window→top-k rewrite
    * available on this session (the library's GraftExtensions also
    * injects both at session build).
    */
  def ensureStrategy(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        TopKStrategy +: spark.experimental.extraStrategies
    }
    if (!spark.experimental.extraOptimizations.contains(RankLimitRewrite)) {
      spark.experimental.extraOptimizations =
        RankLimitRewrite +: spark.experimental.extraOptimizations
    }
  }

  /** Top-k rows per group with a 1-based `rankCol`, equivalent to
    * `row_number().over(Window.partitionBy(groupCols).orderBy(order))
    * <= k` but planned as bounded heaps (see TopKPerGroupNode doc).
    * `order` should be a total order (add a unique tie-break column)
    * for deterministic output.
    */
  def topK(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
           k: Int, rankCol: String = "rank"): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    val resolver = spark.sessionState.analyzer.resolver
    val grouping: Seq[Expression] = groupCols.map { n =>
      analyzed.resolve(Seq(n), resolver).getOrElse(
        throw new IllegalArgumentException(
          s"top-k group column '$n' not found in ${analyzed.output.map(_.name).mkString(", ")}"))
    }
    // Let Spark's analyzer resolve the caller's Columns (Spark 4 wraps
    // them in column nodes that only the analyzer unwraps): round-trip
    // through a sortWithinPartitions plan and lift out its SortOrder.
    val sortOrder: Seq[SortOrder] =
      df.sortWithinPartitions(order: _*).queryExecution.analyzed
        .collectFirst { case s: logical.Sort => s.order }
        .getOrElse(throw new IllegalStateException("sort order did not analyze"))
    val rankAttr = AttributeReference(rankCol, LongType, nullable = false)()
    ColumnGlue.ofRows(spark,
      TopKPerGroupNode(grouping, sortOrder, k, rankAttr, analyzed))
  }
}
