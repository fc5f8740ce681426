package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.DedupClusters

/** Property: the distributed connected-components labeling equals a
  * plain union-find ground truth on random graphs, on long paths whose
  * edges arrive shuffled, and on stars. Each case is one Spark
  * aggregate over a whole graph, and the shrink path on failure
  * isolates a minimal edge set. */
object DedupClustersProps extends Properties("DedupClusters") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-relabel so every member maps to its component minimum,
    // matching the engine's canonical-id contract
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  private val genPairs: Gen[List[(Long, Long)]] = for {
    nIds <- Gen.choose(4L, 24L)
    n <- Gen.choose(1, 30)
    pairs <- Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, nIds), Gen.choose(0L, nIds))
        .suchThat { case (a, b) => a != b })
  } yield pairs

  /** A path over 500–1000 shuffled ids, its edges in shuffled order and
    * orientation: the longest diameter a component of that size has. */
  private val genChain: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(500, 1000)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until n.toLong).toList)
    rnd.shuffle(ids.zip(ids.tail).map(e => if (rnd.nextBoolean()) e else e.swap))
  }

  /** 1–5 disjoint stars of 1–60 leaves around random centers, edges
    * shuffled: diameter 2, every edge on one hub. */
  private val genStars: Gen[List[(Long, Long)]] = for {
    sizes <- Gen.nonEmptyListOf(Gen.choose(1, 60)).map(_.take(5))
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until sizes.sum.toLong + sizes.length).toList)
    val stars = sizes.foldLeft((ids, List.empty[(Long, Long)])) { case ((free, acc), k) =>
      val center :: leaves = free.take(k + 1): @unchecked
      (free.drop(k + 1), acc ++ leaves.map(l => if (rnd.nextBoolean()) (center, l) else (l, center)))
    }._2
    rnd.shuffle(stars)
  }

  private def matchesUnionFind(pairs: List[(Long, Long)]) =
    pairs.isEmpty || {
      val spark = SparkSpec.session
      import spark.implicits._
      val got = DedupClusters
        .connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(pairs)
    }

  property("labels ≡ union-find on random graphs") = forAll(genPairs)(matchesUnionFind)

  property("labels ≡ union-find on long shuffled chains") = forAll(genChain)(matchesUnionFind)

  property("labels ≡ union-find on stars") = forAll(genStars)(matchesUnionFind)
}
