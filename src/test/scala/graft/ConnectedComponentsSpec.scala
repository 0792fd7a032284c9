package graft

import org.apache.spark.sql.functions._

import graft.ops.{Catalog, ConnectedComponents}
import graft.text.MinHashDedup

/** Large-star/small-star connected components: must agree with the
  * min-label-propagation clusters on real near-dup graphs, with
  * driver-side union-find on adversarial random graphs, and converge in
  * O(log n) rounds on a chain — the topology where propagation needs
  * O(n) rounds.
  */
class ConnectedComponentsSpec extends SparkSpec {

  lazy val cat: Catalog = Catalog(spark, sf1)

  test("star CC ≡ label-propagation clusters on the sf0.1 near-dup graph") {
    val pairs = MinHashDedup.verifiedPairs(cat.documents)
    val viaStars = ConnectedComponents.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = MinHashDedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == viaProp)
  }

  test("star CC labels a 2000-node chain to its minimum (log-round convergence)") {
    import spark.implicits._
    val chain = (0L until 1999L).map(i => (i, i + 1)).toDF("i", "j")
    val labels = ConnectedComponents.components(chain, maxRounds = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 2000)
    assert(labels.forall(_._2 == 0L), "every chain node must label to the minimum")
  }

  test("star CC ≡ union-find on random multi-component graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    val got = ConnectedComponents.components(pairs.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = TestGraphs.unionFind(pairs)
    assert(got == want, s"diff=${got.toSet -- want.toSet} / ${want.toSet -- got.toSet}")
  }

  test("largeStar without its dedup: components unchanged on a multi-round fixture") {
    import spark.implicits._
    // chain (diameter > 1 forces several star rounds) + a triangle with
    // duplicate input pairs (exercises the duplicate mass largeStar now
    // forwards to smallStar)
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (1L, 2L), (2L, 3L), (1L, 3L), (1L, 3L), (3L, 1L)).toDF("i", "j")
    val got = ConnectedComponents.components(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (10L to 15L).map(d => (d, 10L)).toSet ++
      (1L to 3L).map(d => (d, 1L)).toSet
    assert(got == want)
  }

  test("fused-init duplicateClusters ≡ union-find on a diameter-5 chain plus singleton pairs") {
    import spark.implicits._
    // chain 10-11-...-15 (propagation needs multiple rounds after the
    // fused first one) plus two disjoint 2-cliques
    val pairs = (Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L)) ++
      Seq((1L, 2L), (7L, 3L))).toDF("i", "j")
    val got = MinHashDedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = TestGraphs.unionFind(pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
    assert(got == want)
  }
}
