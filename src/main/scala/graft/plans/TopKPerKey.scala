package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension per SURVEY §4.3 path (c): per-key top-k with
  * BOUNDED memory.
  *
  * The window-function formulation (`row_number().over(partitionBy(key)
  * .orderBy(ord)) <= k`) must SORT every key's full partition before
  * discarding all but k rows — at 100 TB that is a full sort + spill of
  * the fact table to keep a handful of rows per key. This operator keeps
  * a k-element bounded heap per key instead: memory O(keys-per-partition
  * × k), no sort, single pass.
  *
  * Stack: [[TopKPerKey]] (logical, output = child.output) →
  * [[TopKPerKeyStrategy]] (planner) → [[TopKPerKeyExec]] (physical,
  * declares `ClusteredDistribution` on the keys so Spark inserts the
  * one required exchange). Injected per-session via
  * `spark.experimental.extraStrategies` ([[TopKPerKey.install]]) —
  * equivalent to a `SparkSessionExtensions.injectPlannerStrategy` but
  * attachable to an existing session (the harness builds the session).
  */
case class TopKPerKey(k: Int, keys: Seq[Attribute], order: SortOrder,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, "k must be >= 1")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey =
    copy(child = c)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(k: Int, keys: Seq[Attribute], order: SortOrder,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // One hash exchange on the grouping keys — after it, every key's rows
  // are in one partition and the heap pass is local.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val ordChild = order.child
    val (dir, nulls) = (order.direction, order.nullOrdering)
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      // The order key is PROJECTED ONCE per row (an InterpretedOrdering
      // over the raw SortOrder re-evaluated the — typically
      // struct-building — order expression interpreted on BOTH rows of
      // EVERY heap comparison: per row that is O(log k) struct
      // constructions, the dominant task cost of the r15-measured d33/
      // s19 ADC cuts). Comparisons then read the materialized key row
      // through a codegen'd ordering on a bound reference — no
      // expression re-evaluation, no interpreter.
      val ordProj = UnsafeProjection.create(Seq(ordChild), childOutput)
      val keyOrd = RowOrdering.create(Seq(SortOrder(
        BoundReference(0, ordChild.dataType, ordChild.nullable),
        dir, nulls, Seq.empty)), Seq.empty)
      // heap entries are (materialized order key, data row); the heap
      // evicts the WORST kept entry, i.e. the max under the ordering
      val entryOrd = new Ordering[(UnsafeRow, InternalRow)] {
        override def compare(a: (UnsafeRow, InternalRow),
            b: (UnsafeRow, InternalRow)): Int = keyOrd.compare(a._1, b._1)
      }
      val heaps = mutable.HashMap
        .empty[InternalRow, mutable.PriorityQueue[(UnsafeRow, InternalRow)]]
      rows.foreach { row =>
        // group lookup probes with the REUSED projection buffer
        // (UnsafeRow equality/hash are content-based); the defensive
        // copy happens only when a new group is inserted
        val probe = keyProj(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue
              .empty[(UnsafeRow, InternalRow)](entryOrd)
            heaps.put(probe.copy(), h)
            h
        }
        val ordKey = ordProj(row)
        if (heap.size < k) heap.enqueue((ordKey.copy(), row.copy()))
        else if (keyOrd.compare(ordKey, heap.head._1) < 0) {
          heap.dequeue(); heap.enqueue((ordKey.copy(), row.copy()))
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._2))
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

object TopKPerKey {

  /** Make the planner strategy available on an existing session. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy

  // Dataset.ofRows access goes through the one blessed reflective
  // seam (ColumnBridge) — a Spark-internals shift is a one-place fix.

  /** Top-k rows per key group under ASCENDING `orderExpr` (encode
    * "descending" by negating, e.g. `struct(-$"price", $"id")` for
    * price-desc-id-asc — which also makes ties impossible, keeping the
    * bounded heap deterministic).
    */
  def apply(df: DataFrame, keyCols: Seq[String], orderExpr: Column,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    // Resolve the order expression through a real analyzed projection so
    // every function/attribute in it is Catalyst-resolved and bound to
    // the child plan's exprIds (Spark 4 Columns are lazy ColumnNode
    // trees; only the analyzer can resolve them).
    val projected = df.select(
      (df.columns.toSeq.map(org.apache.spark.sql.functions.col) :+
        orderExpr.as("__graft_ord")): _*)
    val analyzed = projected.queryExecution.analyzed
    val proj = analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
    val ordExpr = proj.projectList.last
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
    val childPlan = proj.child
    def resolve(name: String): Attribute =
      childPlan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not in ${childPlan.output.map(_.name)}"))
    val keys = keyCols.map(resolve)
    graft.functions.ColumnBridge.ofRows(spark,
      TopKPerKey(k, keys, SortOrder(ordExpr, Ascending), childPlan))
  }
}
