package graft

import graft.operators.ExactQuantiles
import org.apache.spark.sql.functions._
import scala.util.Random

/** Iterative histogram selection vs Spark's built-in PERCENTILE: the
  * operator must be BIT-IDENTICAL (same order statistics, same
  * interpolation arithmetic) on every distribution shape — random with
  * ties, mass points (forces the value-exact tiny-range lane), and
  * adversarial caps that force multi-level refinement. */
class ExactQuantilesSpec extends SparkFunSuite {

  private val ss = SparkTestBase.spark
  import ss.implicits._

  private val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)

  private def builtin(df: org.apache.spark.sql.DataFrame)
      : Map[Any, Seq[Double]] = {
    val pArr = ps.map(_.toString).mkString("array(", ",", ")")
    df.groupBy("g").agg(expr(s"percentile(v, $pArr)").as("q"))
      .collect()
      .map(r => r.get(0) -> r.getSeq[Double](1).toSeq).toMap
  }

  private def assertMatches(df: org.apache.spark.sql.DataFrame,
      buckets: Int = 1024, cap: Long = 1 << 18): Unit = {
    val ours = ExactQuantiles.groupPercentiles(df, "g", "v", ps,
      buckets = buckets, cap = cap)
    val ref = builtin(df)
    assert(ours.keySet == ref.keySet)
    ours.foreach { case (g, vs) =>
      vs.zip(ref(g)).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b),
          s"group $g p=${ps(i)}: selection $a != builtin $b")
      }
    }
  }

  test("random doubles with duplicates, three groups") {
    val rng = new Random(17)
    val rows = (1 to 20000).map { _ =>
      val g = s"g${rng.nextInt(3)}"
      // mixture: continuous + a lattice that produces ties
      val v = if (rng.nextBoolean()) rng.nextDouble() * 1000
        else (rng.nextInt(50) + 1).toDouble
      (g, v)
    }
    assertMatches(rows.toDF("g", "v"))
  }

  test("mass point: one value dominating a group forces the " +
      "value-exact lane under a tiny cap") {
    val rows = (1 to 5000).map(_ => ("a", 42.0)) ++
      (1 to 100).map(i => ("a", i.toDouble)) ++
      (1 to 300).map(i => ("b", (i % 7).toDouble))
    assertMatches(rows.toDF("g", "v"), buckets = 8, cap = 16)
  }

  test("multi-level refinement: tiny buckets and cap force recursion") {
    val rng = new Random(99)
    val rows = (1 to 30000).map { _ =>
      ("x", math.pow(rng.nextDouble(), 8) * 1e9) // heavily skewed tail
    }
    assertMatches(rows.toDF("g", "v"), buckets = 4, cap = 64)
  }

  test("single-row and two-row groups interpolate like the builtin") {
    val rows = Seq(("one", 5.5), ("two", 1.0), ("two", 2.0))
    assertMatches(rows.toDF("g", "v"))
  }

  test("corpus parity: lineitem quantity and price at sf0.001") {
    val li = Tables.load(ss, "/root/testdata/sf0.001", "lineitem")
    assertMatches(li.select(col("l_returnflag").as("g"),
      col("l_quantity").cast("double").as("v")))
    assertMatches(li.select(col("l_returnflag").as("g"),
      col("l_extendedprice").cast("double").as("v")), buckets = 32, cap = 128)
  }

  test("negative values and a negative-to-positive range") {
    val rng = new Random(5)
    val rows = (1 to 8000).map(_ => ("n", rng.nextDouble() * 200 - 100))
    assertMatches(rows.toDF("g", "v"), buckets = 16, cap = 256)
  }

  test("log-grid edges: zeros, adjacent doubles, mixed magnitudes") {
    // exercises the equal-width histogram selection at its edges: a mass
    // point of exact 0.0 (a min == max bucket resolved without a fetch),
    // values one ulp apart under a cap that forces the degenerate
    // value-split lane, and magnitudes spanning twelve orders
    val x = 123.456
    val rows = (1 to 500).map(_ => ("z", 0.0)) ++
      (1 to 300).map(_ => ("z", x)) ++
      (1 to 300).map(_ => ("z", java.lang.Math.nextUp(x))) ++
      (1 to 50).map(i => ("z", i * 1e-9)) ++
      (1 to 50).map(i => ("z", i * 1e3)) ++
      (1 to 40).map(i => ("m", -i * 1e-6)) ++
      (1 to 40).map(i => ("m", i * 1e6))
    assertMatches(rows.toDF("g", "v"), buckets = 4, cap = 64)
  }
}
