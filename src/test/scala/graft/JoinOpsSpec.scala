package graft

import graft.operators.{JoinOps, MergeTreeViews}
import org.apache.spark.sql.functions._

class JoinOpsSpec extends SparkFunSuite {
  import SparkTestBase.spark.implicits._

  test("asofJoinBackward: no match before first right row; ties take <=") {
    val left = Seq((1L, 5L, "e1"), (1L, 10L, "e2"), (1L, 20L, "e3"), (2L, 9L, "e4"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"))
      .toDF("rk", "rt", "payload")
    val out = JoinOps.asofJoinBackward(left, right,
      "k", "rk", col("t"), col("rt"), Seq("payload"), col("rt"))
      .orderBy("t")
      .select("name", "asof_payload").as[(String, String)].collect()
    assert(out.toSeq == Seq(
      ("e1", null),      // t=5: before first right ts
      ("e4", null),      // t=9, key 2: no right rows at all
      ("e2", "r10"),     // t=10 tie: rt == t counts (<=)
      ("e3", "r15")))    // t=20: latest at-or-before
  }

  test("asofJoin inequality matrix: strict excludes ties, forward picks earliest") {
    val left = Seq((1L, 10L, "e")).toDF("k", "t", "name")
    val right = Seq((1L, 5L, "r5"), (1L, 10L, "r10"), (1L, 15L, "r15"))
      .toDF("rk", "rt", "payload")
    def run(op: String) = JoinOps.asofJoin(left, right,
      "k", "rk", col("t"), col("rt"), Seq("payload"), col("rt"), op)
      .select("asof_payload").as[String].collect().head
    assert(run("<=") == "r10")  // backward inclusive: tie matches
    assert(run("<")  == "r5")   // backward strict: tie excluded
    assert(run(">=") == "r10")  // forward inclusive: tie matches
    assert(run(">")  == "r15")  // forward strict: earliest after
  }

  test("asofJoin NULLs: NULL keys and asof values match nothing; a matched " +
      "row's NULL payload stays NULL") {
    val left = Seq[(Option[Long], Option[Long], String)](
      (None, Some(10L), "null_key"),     // only a NULL-keyed right row
      (Some(1L), None, "null_ts"),       // a NULL-ts right row and r30
      (Some(2L), Some(20L), "null_pay"), // latest match has a NULL payload
      (Some(2L), Some(12L), "plain"))
      .toDF("k", "t", "name")
    val right = Seq[(Option[Long], Option[Long], Option[String])](
      (None, Some(5L), Some("r_null_key")),
      (Some(1L), None, Some("r_null_ts")),
      (Some(1L), Some(30L), Some("r30")),
      (Some(2L), Some(10L), Some("r10")),
      (Some(2L), Some(15L), None))
      .toDF("rk", "rt", "payload")
    def run(op: String) = JoinOps.asofJoin(left, right,
      "k", "rk", col("t"), col("rt"), Seq("payload", "rt"), col("rt"), op)
      .select("name", "asof_payload", "asof_rt")
      .as[(String, Option[String], Option[Long])].collect().sortBy(_._1).toSeq
    assert(run("<=") == Seq(
      ("null_key", None, None),
      ("null_pay", None, Some(15L)),   // the t=15 row, not r10's payload
      ("null_ts", None, None),
      ("plain", Some("r10"), Some(10L))))
    // forward: a NULL left asof value sorts last and would see r30
    assert(run(">=").filter(_._1 == "null_ts") == Seq(("null_ts", None, None)))
  }

  test("pasteJoin zips positionally, truncating to the shorter side") {
    val l = Seq("a", "b", "c").toDF("x")
    val r = Seq(1, 2).toDF("y")
    val out = JoinOps.pasteJoin(l, r).orderBy("y")
      .as[(String, Int)].collect().toSeq
    assert(out == Seq(("a", 1), ("b", 2)))
  }

  test("anyLeftJoin keeps exactly one deterministic right match") {
    val l = Seq(1L, 2L).toDF("k")
    val r = Seq((1L, 30L), (1L, 10L), (1L, 20L)).toDF("k", "v")
    val out = JoinOps.anyLeftJoin(l, r, "k", col("v"))
      .orderBy("k").as[(Long, Option[Long])].collect().toSeq
    assert(out == Seq((1L, Some(10L)), (2L, None)))
  }

  test("hierarchyClosure: paths stop at NULL or dangling parents; cycles fail loudly") {
    val dict = Seq((1L, Some(2L)), (2L, Some(3L)), (3L, None: Option[Long]),
      (4L, Some(99L))) // 99 absent from the dict → terminal after the hop
      .toDF("id", "parent")
    val c = JoinOps.hierarchyClosure(dict, "id", "parent")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(c(1L) == List(1L, 2L, 3L))
    assert(c(3L) == List(3L))
    assert(c(4L) == List(4L, 99L))
    val cyc = Seq((1L, Some(2L)), (2L, Some(1L))).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      JoinOps.hierarchyClosure(cyc, "id", "parent", maxDepth = 5)
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("asofJoinTolerance nulls matches beyond the gap, keeps row semantics") {
    val left = Seq((1L, 100L, "e1"), (1L, 110L, "e2"), (2L, 50L, "e3"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 95L, "r95"), (1L, 10L, "r10"))
      .toDF("rk", "rt", "payload")
    val out = JoinOps.asofJoinTolerance(left, right,
      "k", "rk", col("t"), col("rt"), Seq("payload"), col("rt"),
      tolerance = 10L)
      .orderBy("k", "t")
      .select("name", "asof_payload").as[(String, String)].collect().toSeq
    assert(out == Seq(
      ("e1", "r95"),   // gap 5 <= 10
      ("e2", null),    // nearest is r95, gap 15 > 10 — nulled, row kept
      ("e3", null)))   // key 2: no right rows
    // tolerance 0 admits exact-timestamp matches only
    val exact = JoinOps.asofJoinTolerance(
      Seq((1L, 95L, "x")).toDF("k", "t", "name"), right,
      "k", "rk", col("t"), col("rt"), Seq("payload"), col("rt"), 0L)
      .select("asof_payload").as[String].collect().toSeq
    assert(exact == Seq("r95"))
  }

  test("anyRightJoin keeps every right row exactly once") {
    val left = Seq((1L, 10L), (1L, 5L), (2L, 7L)).toDF("k", "v")
    val right = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val out = JoinOps.anyRightJoin(left, right, "k", col("v"))
      .orderBy("k")
      .select("k", "name", "v").as[(Long, String, Option[Long])]
      .collect().toSeq
    assert(out == Seq(
      (1L, "a", Some(5L)),  // min-v left row matched
      (2L, "b", Some(7L)),
      (3L, "c", None)))     // unmatched right row survives with null left
  }

  test("collapsingFinal cancels balanced sign pairs") {
    val df = Seq((1L, 1L, 5L), (1L, -1L, 5L), (2L, 1L, 7L))
      .toDF("k", "sign", "v")
    val out = MergeTreeViews.collapsingFinal(df, Seq("k"), col("sign"),
      Seq("net" -> col("v")))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(out == Seq((2L, 7L)))   // key 1 fully cancelled
  }
}
