package graft

import graft.operators.Components
import org.apache.spark.sql.functions._
import scala.util.Random

/** Large-star/small-star contraction (Kiveris et al., SoCC 2014) vs the
  * min-label propagation baseline: identical labels on random graphs, and
  * logarithmic round behavior on the long-chain shape where label
  * propagation needs a round per hop. */
class ComponentsStarSpec extends SparkFunSuite {

  private val ss = SparkTestBase.spark
  import ss.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction matches min-label propagation on seeded random graphs") {
    val rng = new Random(42)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(150)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("src", "dst")
      val base = labelsOf(Components.connectedComponents(df, maxRounds = 50))
      val star = labelsOf(Components.connectedComponentsStar(df))
      assert(star == base, s"trial $trial")
    }
  }

  test("long chain: star contraction converges where label propagation is O(n)") {
    // 300-node path — min-label needs ~300 rounds; star needs O(log²).
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("src", "dst")
    val star = labelsOf(Components.connectedComponentsStar(edges, maxRounds = 25))
    assert(star.size == 300)
    assert(star.values.forall(_ == 0L))
    // the propagation baseline genuinely cannot do this in few rounds
    intercept[IllegalStateException] {
      Components.connectedComponents(edges, maxRounds = 5)
    }
  }

  test("hub graph (giant star) and multiple components") {
    val hub = (1L to 500L).map(i => (0L, i))
    val other = Seq((1000L, 1001L), (1001L, 1002L))
    val df = (hub ++ other).toDF("src", "dst")
    val star = labelsOf(Components.connectedComponentsStar(df))
    assert((0L to 500L).forall(star(_) == 0L))
    assert((1000L to 1002L).forall(star(_) == 1000L))
  }

  test("two-node and empty edge sets") {
    val two = labelsOf(Components.connectedComponentsStar(Seq((7L, 3L)).toDF("src", "dst")))
    assert(two == Map(7L -> 3L, 3L -> 3L))
    val empty = Components.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.count() == 0)
  }

  test("auto: giant hub takes the star path and labels correctly") {
    // 2500 spokes → after one propagation round every spoke holds label 0:
    // max label frequency 2501 ≥ max(floor, 5% of n) → star contraction
    val hub = (1L to 2500L).map(i => (0L, i))
    val side = Seq((9000L, 9001L))
    // localEdgeCap = 0 keeps this pinned on the DISTRIBUTED giant-probe
    // lane (round 17 added a driver union-find lane below the cap)
    val auto = labelsOf(Components.connectedComponentsAuto(
      (hub ++ side).toDF("src", "dst"), localEdgeCap = 0L))
    assert((0L to 2500L).forall(auto(_) == 0L))
    assert(auto(9000L) == 9000L && auto(9001L) == 9000L)
  }

  test("auto: long chain escapes propagation via the patience fallback") {
    // a 60-hop chain needs ~60 propagation rounds — plain propagation
    // throws at its cap, auto switches to star and finishes
    val edges = (0L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Components.connectedComponents(edges, maxRounds = 10)
    }
    val auto = labelsOf(Components.connectedComponentsAuto(edges,
      localEdgeCap = 0L))
    assert((0L to 60L).forall(auto(_) == 0L))
  }

  test("auto equals propagation on a small mixed graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L)).toDF("src", "dst")
    val auto = labelsOf(Components.connectedComponentsAuto(edges,
      localEdgeCap = 0L))
    val prop = labelsOf(Components.connectedComponents(edges))
    assert(auto == prop)
  }

  test("round-17 local union-find lane: identical labels to both " +
      "distributed algorithms on seeded random graphs, and the cap gate " +
      "routes tiny long-id graphs through it") {
    val rng = new Random(1717)
    for (trial <- 1 to 3) {
      val n = 300
      val edges = Seq.fill(220)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("src", "dst")
      // default cap (2M) — the local lane serves this
      val local = labelsOf(Components.connectedComponentsAuto(df))
      val prop = labelsOf(Components.connectedComponents(df, maxRounds = 50))
      val star = labelsOf(Components.connectedComponentsStar(df))
      assert(local == prop, s"trial $trial local vs propagation")
      assert(local == star, s"trial $trial local vs star")
    }
    // column names + types match the distributed output contract
    val out = Components.connectedComponentsAuto(Seq((5L, 2L)).toDF("src", "dst"))
    assert(out.columns.toSeq == Seq("doc_id", "label"))
    assert(out.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(labelsOf(out) == Map(5L -> 2L, 2L -> 2L))
    // empty edge set stays empty through the local lane
    assert(Components.connectedComponentsAuto(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }

  test("self-loops and duplicate edges are absorbed") {
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)).toDF("src", "dst")
    val star = labelsOf(Components.connectedComponentsStar(df))
    assert(star == Map(1L -> 1L, 2L -> 1L))
  }
}
