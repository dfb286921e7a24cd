package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Whole-operator per-key top-k: for each distinct value of `keys`,
  * keep the first `k` child rows under `order`.
  *
  * This is the one operator where composing built-ins leaves real
  * performance behind: the `row_number() ≤ k` window formulation
  * sorts every row of every group, while this plan never sorts
  * anything — a PARTIAL stage prunes each input partition to ≤ k rows
  * per key with bounded heaps (so at most k·partitions rows per key
  * reach the shuffle), and a FINAL stage (clustered on the keys —
  * EnsureRequirements inserts the single exchange) merges heaps to
  * the exact answer. Memory per task is O(keys_in_partition · k).
  *
  * Planned by [[TopKStrategy]], which [[graft.functions.GraftExtensions]]
  * injects and [[graft.functions.GraftFunctions.register]] adds where
  * it is missing. The user-facing entry is [[TopK.perKey]]. Equivalence
  * with the window formulation is oracle-checked (q34) and
  * spec-checked (TopKSpec).
  */
case class TopKPerKey(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey =
    copy(child = c)
}

case class TopKPerKeyExec(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    child: SparkPlan,
    finalStep: Boolean) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (finalStep) ClusteredDistribution(keys) :: Nil
    else UnspecifiedDistribution :: Nil

  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning // row-filtering only: clustering is preserved

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    if (kLocal <= 0) return child.execute().mapPartitions(_ => Iterator.empty)
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // normalize to UnsafeRow so the downstream exchange is safe
      // whatever row class the child emits
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      // "lesser" under this ordering = earlier in the requested sort
      // = better; the heap keeps its WORST element on top for O(1)
      // replacement once a key holds k rows
      val better = GenerateOrdering.generate(orderExprs, childOutput)
      val heapOrd: Ordering[InternalRow] = (a, b) => better.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      it.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kLocal) {
          heap.enqueue(toUnsafe(row).copy())
        } else if (better.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(toUnsafe(row).copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

/** Plans [[TopKPerKey]] as partial → (exchange) → final. Keys are
  * float-normalized here (expressions are resolved by planning time):
  * this node groups by raw row bytes, so 0.0/-0.0 and NaN bit
  * patterns must collapse exactly as Spark's own Aggregate/Window
  * keys do. Map-typed keys are rejected — binary equality is
  * undefined for maps (Aggregate rejects them at analysis too).
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      keys.find(e => hasMap(e.dataType)).foreach { e =>
        throw new UnsupportedOperationException(
          s"graft: topKPerKey key ${e.sql} is map-typed; maps cannot be grouping keys")
      }
      val nkeys = keys.map(org.apache.spark.sql.GraftBridge.normalizeFloats)
      TopKPerKeyExec(k, nkeys, order,
        TopKPerKeyExec(k, nkeys, order, planLater(child), finalStep = false),
        finalStep = true) :: Nil
    case _ => Nil
  }

  private def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case ArrayType(et, _) => hasMap(et)
      case StructType(fields) => fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
  }
}

/** User-facing entry for the custom operator. */
object TopK {
  import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
  import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}

  /** Top `k` rows of `df` per distinct value of `keyCols`, ordered by
    * `orderCols` (accepts `col.desc` / `col.asc`; bare columns sort
    * ascending). Output rows are unordered within a key.
    */
  def perKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "graft: topKPerKey requires k > 0")
    require(keyCols.nonEmpty,
      "graft: topKPerKey requires at least one key (global top-k is orderBy().limit())")
    val sortOrders = orderCols.map(c => GraftBridge.expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftBridge.ofRows(df.sparkSession,
      TopKPerKey(k, keyCols.map(GraftBridge.expression), sortOrders,
        df.queryExecution.analyzed))
  }
}
