package graft

/** PRQL dialect front-end (round-13; reference
  * src/Parsers/PRQL/ParserPRQLQuery.cpp — `SET dialect = 'prql'`). */
class PrqlSpec extends SparkFunSuite {
  import SparkTestBase.spark.implicits._

  private def ch(s: String) = graft.sql.ClickHouseSql.sql(spark, s)

  private def inPrql[T](body: => T): T = {
    ch("SET dialect = 'prql'")
    try body
    finally ch("SET dialect = 'clickhouse'")
  }

  private def mk(): Unit =
    Seq((1L, "a", 10L, 3L), (2L, "a", 20L, 1L), (3L, "b", 30L, 2L),
        (4L, "b", 40L, 5L), (5L, "c", 50L, 4L))
      .toDF("id", "grp", "v", "ord")
      .createOrReplaceTempView("prql_t")

  test("from | filter | derive | select | sort | take") {
    mk()
    inPrql {
      val r = ch("""from prql_t
        filter v >= 20 && grp != 'c'
        derive {dbl = v * 2}
        select {id, dbl}
        sort {-dbl}
        take 2""").collect()
      assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
        Seq((4L, 80L), (3L, 60L)))
    }
  }

  test("group {k} (aggregate {…}) and bare aggregate") {
    mk()
    inPrql {
      val g = ch("from prql_t | group {grp} (aggregate {n = count this, " +
        "s = sum v})").collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
      assert(g.toSeq == Seq(("a", 2L, 30L), ("b", 2L, 70L), ("c", 1L, 50L)))
      val a = ch("from prql_t | aggregate {m = average v, " +
        "d = count_distinct grp}").collect().head
      assert(a.getDouble(0) == 30.0 && a.getLong(1) == 3L)
    }
  }

  test("join side:left (==col), == comparisons, loud rejects") {
    mk()
    Seq(("a", "alpha"), ("b", "beta")).toDF("grp", "label")
      .createOrReplaceTempView("prql_d")
    inPrql {
      val j = ch("from prql_t | join side:left prql_d (==grp) " +
        "| filter id == 1 | select {id, label}").collect().head
      assert(j.getLong(0) == 1L && j.getString(1) == "alpha")
      // loop is SUPPORTED since round 14 — an unknown verb stays loud
      val e = intercept[Exception](ch("from prql_t | explode v"))
      assert(e.getMessage.contains("unsupported verb"))
      val e2 = intercept[Exception](ch("select {1}"))
      assert(e2.getMessage.contains("from"))
    }
    assert(ch("SELECT 2 AS two").collect().head.getInt(0) == 2)
  }

  test("round-14 verbs: case, take range, append, general join " +
      "condition; window stays loud") {
    mk()
    Seq((10L, "x", 5L, 1L), (11L, "y", 6L, 2L))
      .toDF("id", "grp", "v", "ord")
      .createOrReplaceTempView("prql_t2")
    Seq(("a", "alpha"), ("b", "beta")).toDF("gkey", "glabel")
      .createOrReplaceTempView("prql_g")
    inPrql {
      // case with an ELSE (`true =>`) and an == inside a condition
      val c = ch("""from prql_t
        derive {band = case [v >= 30 => 'hi', grp == 'a' => 'a-lo',
          true => 'lo']}
        select {id, band} | sort {id}""").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(c == Seq((1L, "a-lo"), (2L, "a-lo"), (3L, "hi"),
        (4L, "hi"), (5L, "hi")))
      // take a..b is 1-based inclusive
      val t = ch("from prql_t | sort {id} | take 2..4").collect()
        .map(_.getLong(0)).toSeq
      assert(t == Seq(2L, 3L, 4L))
      // append = UNION ALL
      assert(ch("from prql_t | append prql_t2").count() == 7L)
      // general join condition (joined side qualified by table name)
      val j = ch("""from prql_t
        join side:inner prql_g (grp == prql_g.gkey && v >= 20)
        select {id, glabel} | sort {id}""").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(j == Seq((2L, "alpha"), (3L, "beta"), (4L, "beta")))
      // window (round 14, later in the round): rolling frames over the
      // pipeline's sort order
      val w = ch("""from prql_t | sort {id}
        | window rows:-1..0 (derive {m = sum v})
        | select {id, m} | sort {id}""").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(w == Seq((1L, 10L), (2L, 30L), (3L, 50L), (4L, 70L),
        (5L, 90L)), s"rolling 2-row sum, got $w")
      val we = ch("""from prql_t | sort {id}
        | window expanding:true (derive {c = count this})
        | select {id, c} | sort {id}""").collect()
        .map(_.getLong(1)).toSeq
      assert(we == Seq(1L, 2L, 3L, 4L, 5L), "expanding count")
      // a window with no preceding sort has no frame order — LOUD
      val e = intercept[Exception](
        ch("from prql_t | window rows:-2..0 (derive {m = average v})"))
      assert(e.getMessage.contains("sort"))
    }
  }

  test("operator spellings inside double-quoted literals survive " +
      "(round-14 ADVICE fix: both quote styles lift to placeholders)") {
    mk()
    inPrql {
      // the literal contains '==' and '&&' — they must NOT rewrite
      val r = ch("""from prql_t | derive {s = "a==b&&c"} | select {id, s}
        | take 1""").collect().head
      assert(r.getString(1) == "a==b&&c",
        s"double-quoted literal corrupted: '${r.getString(1)}'")
      // and a filter comparing against such a literal
      Seq((1L, "x==y")).toDF("id", "v").createOrReplaceTempView("prql_q")
      assert(ch("""from prql_q | filter v == "x==y"""").count() == 1L)
      // a double-quoted literal holding a single quote and a pipe
      Seq((1L, "it's | x")).toDF("a", "name").createOrReplaceTempView("prql_m")
      assert(ch("from prql_m\nfilter name == \"it's | x\"\nselect {a, name}")
        .collect().map(_.getString(1)).toSeq == Seq("it's | x"))
    }
  }

  test("round-14 continuation: relation literals, s-strings, loop") {
    mk()
    inPrql {
      // relation literal: from [{…}, …] — column agreement enforced
      val lit = ch("""from [{a = 1, b = "x"}, {a = 2, b = "y"}]
        | sort {-a}""").collect()
        .map(r => (r.get(0).toString.toLong, r.getString(1))).toSeq
      assert(lit == Seq((2L, "y"), (1L, "x")), s"got $lit")
      val eLit = intercept[Exception](
        ch("""from [{a = 1}, {b = 2}]""").collect())
      assert(eLit.getMessage.contains("disagree"))
      // s-string: raw SQL with {expr} interpolation; the body is
      // shielded from the ==/&& rewrites
      val s1 = ch("""from prql_t | derive {h = s"substring(grp || '==', 1, 3)"}
        | filter id == 1 | select {h}""").collect().head.getString(0)
      assert(s1 == "a==", s"s-string splice got '$s1'")
      // loop: the PRQL fixpoint verb — collatz-ish doubling until > 40
      // returns the input UNION every iteration
      val looped = ch("""from [{n = 3}]
        | loop (filter n <= 40 | derive {m = n * 2} | select {n = m})
        | sort {n}""").collect().map(_.get(0).toString.toLong).toSeq
      assert(looped == Seq(3L, 6L, 12L, 24L, 48L), s"got $looped")
      // loop through the PURE translator (no session) stays loud
      val eLoop = intercept[Exception](
        graft.sql.PrqlTranslator.translate("from t | loop (filter x > 0)"))
      assert(eLoop.getMessage.contains("session"))
    }
  }
}
