package graft.state

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Batch keyed fold: `kernel` folds partitions clustered by `order.head`
  * (stateKey) and sorted by `order`. The kernels read the child's columns by
  * position, so all of them are references (ColumnPruning must not narrow);
  * as a MultiInstanceRelation its output is renewed in self-joins. */
private[graft] case class KeyedFold(order: Seq[SortOrder], kernel: Iterator[InternalRow] => Iterator[InternalRow],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override def newInstance(): KeyedFold = copy(output = output.map(_.newInstance()))
  override protected def stringArgs: Iterator[Any] = Iterator(order, output)
  override protected def withNewChildInternal(c: LogicalPlan): KeyedFold = copy(child = c)
}

/** Kernels emit their input's stateKey as output column 0, so the child's
  * partitioning holds for the output with that key rewritten. Only a fold
  * under another fold (`keyed`, the RTS forward pass) reports it: a key
  * aggregation fused into the fold's stage reruns the fold when a range
  * sort's sampling job reads that stage. */
private[graft] case class KeyedFoldExec(order: Seq[SortOrder], kernel: Iterator[InternalRow] => Iterator[InternalRow],
    output: Seq[Attribute], child: SparkPlan, keyed: Boolean) extends UnaryExecNode {
  private def key: Expression = order.head.child
  override def producedAttributes: AttributeSet = outputSet
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(Seq(key)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression with Partitioning if keyed =>
      p.transform { case a: Attribute if a.semanticEquals(key) => output.head } match {
        case q: Partitioning if q.references.subsetOf(outputSet) => q
        case _ => UnknownPartitioning(p.numPartitions)
      }
    case p => UnknownPartitioning(p.numPartitions)
  }
  override protected def stringArgs: Iterator[Any] = Iterator(order, output)

  override protected def doExecute(): RDD[InternalRow] = {
    val (fold, out) = (kernel, output)
    child.execute().mapPartitionsWithIndex { (i, rows) =>
      val toUnsafe = UnsafeProjection.create(out, out)
      toUnsafe.initialize(i)
      fold(rows).map(toUnsafe)
    }
  }
  override protected def withNewChildInternal(c: SparkPlan): KeyedFoldExec = copy(child = c)
}

/** Plans [[KeyedFold]]; `install` adds it to a session's extra strategies
  * once, under a lock, so concurrent transforms cannot race. */
private[graft] object KeyedFoldStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case f: KeyedFold => exec(f, keyed = false) :: Nil
    case _ => Nil
  }

  private def exec(f: KeyedFold, keyed: Boolean): KeyedFoldExec = KeyedFoldExec(f.order, f.kernel, f.output,
    f.child match { case inner: KeyedFold => exec(inner, keyed = true); case c => planLater(c) }, keyed)

  def install(session: SparkSession): Unit = session.experimental.synchronized {
    val exp = session.experimental
    if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
  }
}
