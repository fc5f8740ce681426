package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import scala.collection.mutable

/** Connected components of an edge list as one typed Aggregator: the
  * local-then-global scheme of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SoCC 2014), in a single Spark aggregate.
  *
  * The buffer is a union-find forest, one parent pointer per node,
  * whose every root is its tree's minimum id (a union hangs the larger
  * root under the smaller; path halving only re-points a node to an
  * ancestor). Map-side partial aggregation folds each partition's
  * edges into a partition-local forest; the merge unions the forests
  * (each `(node, parent)` entry of one is an edge for the other). The
  * finished value is `(node, root, component size)` for every node,
  * sorted by node, so the root is the component's minimum id.
  *
  * Job count does not depend on the graph: one shuffle of at most one
  * forest per input partition into one final task. Memory bound: that
  * final task holds one `(node, parent)` entry per distinct node of
  * the edge list.
  */
object ComponentsAggregator
    extends Aggregator[(Long, Long), mutable.HashMap[Long, Long], Seq[(Long, Long, Long)]] {

  override def zero: mutable.HashMap[Long, Long] = mutable.HashMap.empty

  override def reduce(
      forest: mutable.HashMap[Long, Long], edge: (Long, Long)): mutable.HashMap[Long, Long] = {
    union(forest, edge._1, edge._2)
    forest
  }

  override def merge(
      a: mutable.HashMap[Long, Long], b: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
    val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
    small.foreachEntry((node, parent) => union(big, node, parent))
    big
  }

  override def finish(forest: mutable.HashMap[Long, Long]): Seq[(Long, Long, Long)] = {
    val roots = forest.keys.toArray.sorted.map(n => n -> find(forest, n))
    val size = roots.groupMapReduce(_._2)(_ => 1L)(_ + _)
    roots.map { case (n, r) => (n, r, size(r)) }.toSeq
  }

  override def bufferEncoder: Encoder[mutable.HashMap[Long, Long]] =
    Encoders.kryo[mutable.HashMap[Long, Long]]

  override def outputEncoder: Encoder[Seq[(Long, Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long, Long)]]()

  /** Root of `x`, adding `x` as a singleton when it is new. */
  private def find(forest: mutable.HashMap[Long, Long], x: Long): Long = {
    var n = x
    var p = forest.getOrElseUpdate(n, n)
    while (p != n) {
      val g = forest(p)
      forest(n) = g // path halving: skip to the grandparent
      n = g
      p = forest(n)
    }
    n
  }

  private def union(forest: mutable.HashMap[Long, Long], a: Long, b: Long): Unit = {
    val (ra, rb) = (find(forest, a), find(forest, b))
    if (ra < rb) forest(rb) = ra
    else if (rb < ra) forest(ra) = rb
  }
}
