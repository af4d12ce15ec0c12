package graft

import graft.sql.{ClickHouseSql, SqlLex}

/** The dialect lexer (graft.sql.SqlLex): its primitives, the statements
  * that went wrong while every rewrite scanned quotes on its own, a
  * property test that no rewrite fires inside a literal, a quoted run or
  * a comment, and a guard that keeps the quote scanners from coming back.
  * Also the positional INSERT into a MergeTree table whose PARTITION BY
  * column is not last. */
class SqlLexSpec extends SparkFunSuite {

  private def ch(s: String) = ClickHouseSql.sql(spark, s)

  /** Drops `t` and whatever a managed table or DROP TABLE left of it in
    * the warehouse, so a CREATE of the name starts clean. */
  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(wh, true)
    fs.delete(new org.apache.hadoop.fs.Path(wh.toString + "_dropped"), true)
  }

  private def mkRt(): Unit = {
    val sp = spark; import sp.implicits._
    Seq((1, "x"), (2, "y")).toDF("a", "s").createOrReplaceTempView("rt")
  }

  test("lexer primitives: mask, comments, brackets, keywords, splits") {
    val s = "SELECT 'it\\'s (', \"a\"\"b\", `c``d` -- x'\nFROM t /* y' */"
    val m = SqlLex.mask(s)
    assert(m.length == s.length && SqlLex.mask(m) == m)
    assert(!m.contains("it") && !m.contains("x'") && !m.contains("y'"))
    assert(m.startsWith("SELECT '") && m.contains("FROM t"))
    assert(SqlLex.stripComments(s) ==
      "SELECT 'it\\'s (', \"a\"\"b\", `c``d`  \nFROM t  ")
    assert(SqlLex.stripComments("SELECT /*+ BROADCAST(t) */ a") ==
      "SELECT /*+ BROADCAST(t) */ a")
    val call = "f(a, ')', [1, 2], {k: 'v'}) + 1"
    assert(SqlLex.closeOf(call, 1) == call.indexOf(" + 1"))
    assert(SqlLex.closeOf("f(a", 1) == -1)
    assert(SqlLex.splitTop(call.substring(2, call.indexOf(" + 1") - 1)) ==
      Seq("a", "')'", "[1, 2]", "{k: 'v'}"))
    val q = "SELECT x FROM (SELECT 1 GROUP BY y) GROUP\n  BY z, 'GROUP BY'"
    assert(SqlLex.findAll(q, "GROUP BY").map(_._1) == Seq(q.lastIndexOf("GROUP\n")))
    assert(SqlLex.find("t.limit LIMIT 1", "LIMIT").map(_._1).contains(8))
    assert(SqlLex.splitTop("a = 1 AND (b OR c AND d) and 'x AND y'", "AND") ==
      Seq("a = 1", "(b OR c AND d)", "'x AND y'"))
    assert(SqlLex.replaceAll("count() + 'count()'", "count\\(\\)".r)(
      _ => "count(*)") == "count(*) + 'count()'")
    assert(SqlLex.firstMatch("f('a,b', 2)", "f\\('([^']*)'".r).map(_.group(1))
      .contains("a,b"))
    // comments nest, a hint inside one opens no level, and a block
    // comment that never closes stays for the parser to report
    assert(SqlLex.stripComments("SELECT 1 /* a /* b */ c */ x") == "SELECT 1   x")
    assert(SqlLex.stripComments("SELECT 1 /* a /*+ b */ x") == "SELECT 1   x")
    assert(SqlLex.stripComments("SELECT 1 /* a") == "SELECT 1 /* a")
    assert(SqlLex.mask("SELECT 1 /* a") == "SELECT 1 " + "\u0001" * 4)
  }

  test("lexer agrees with Spark's parser on which text is code") {
    // each statement reads `secret` exactly when Spark's parser says so,
    // and reads the same tables once its comments are stripped
    val stmts = Seq(
      "SELECT 1 AS `x\\`, v FROM secret -- `\n",
      "SELECT 1 AS `x``y`, v FROM secret",
      "SELECT `FROM secret` FROM t",
      "SELECT r'\\', v FROM secret -- '\n",
      "SELECT R\"\\\", v FROM secret -- \"\n",
      "SELECT 'a\\'b', \"c\\\"d\", 'e''f' FROM secret",
      "SELECT 'FROM secret' AS z FROM t",
      "SELECT 1 /* a /* b */ FROM secret */",
      "SELECT 1 /* a /*+ b */ FROM secret",
      "SELECT 1 -- a \\\nFROM secret",
      "SELECT 1 -- a\rFROM secret",
      "SELECT /*+ REPARTITION(2) */ v FROM secret")
    def reads(s: String): Option[Seq[String]] =
      scala.util.Try(spark.sessionState.sqlParser.parsePlan(s).collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".")
      }).toOption
    for (s <- stmts) {
      val planned = reads(s)
      assert(planned.isDefined, s"Spark rejects: $s")
      assert(SqlLex.mask(s).contains("FROM secret") ==
        planned.get.contains("secret"), s"lexer disagrees: $s")
      assert(reads(SqlLex.stripComments(s)) == planned, s"stripped: $s")
    }
  }

  test("access control sees a table read past a quoted identifier") {
    val (open, secret) = ("lex_open", "lex_secret")
    Seq(open, secret).foreach(dropTable)
    ch("DROP USER IF EXISTS lex_u")
    try {
      Seq(open, secret).foreach(t =>
        spark.sql(s"CREATE TABLE $t (v INT) USING parquet"))
      ch("CREATE USER lex_u")
      ch(s"GRANT SELECT ON $open TO lex_u")
      ch("SET user = 'lex_u'")
      assert(ch(s"SELECT 1 AS `x\\`, v FROM $open -- `\nSETTINGS max_threads = 1")
        .count() == 0L)
      // SETTINGS makes Spark's parser reject the raw statement, so the
      // regex scan over the lexer's mask is the only check
      for (hide <- Seq("1 AS `x\\`", "r'\\'", "R\"\\\"")) {
        val e = intercept[SecurityException](ch(
          s"SELECT $hide, v FROM $secret -- `'\"\nSETTINGS max_threads = 1"))
        assert(e.getMessage.contains(s"SELECT ON $secret"))
      }
    } finally {
      ch("SET user = 'default'")
      ch("DROP USER IF EXISTS lex_u")
      Seq(open, secret).foreach(dropTable)
    }
  }

  test("regressions: statements the per-rewrite quote scanners got wrong") {
    mkRt()
    // a backslash-escaped quote no longer flips the literal parity
    val esc = "SELECT 'it\\'s dateDiff(' AS x"
    assert(ClickHouseSql.rewrite(esc) == esc)
    assert(ch(esc).head().getString(0) == "it's dateDiff(")
    // a keyword in a comment no longer triggers its rewrite
    assert(ch("SELECT a FROM rt -- QUALIFY later\nWHERE a > 0").count() == 2L)
    assert(!ClickHouseSql.rewrite("SELECT a FROM t -- LIMIT 1 BY a")
      .contains("row_number"))
    // a keyword in a quoted run, and one a level down, is not the clause
    val quoted = "SELECT \"QUALIFY\" FROM (SELECT 1 AS QUALIFY)"
    assert(ClickHouseSql.rewrite(quoted) == quoted)
    assert(ch(quoted).count() == 1L)
    // a bracket inside a literal does not close the REPLACE list
    val rep = ch("SELECT * REPLACE(concat(s, ')') AS s) FROM rt ORDER BY a")
      .collect().map(_.getString(1)).toSeq
    assert(rep == Seq("x)", "y)"))
  }

  private val triggers = Seq(
    "QUALIFY row_number() OVER (ORDER BY a) = 1", "FROM t FINAL",
    "FROM t PREWHERE a > 1", "ORDER BY a LIMIT 1 BY a",
    "GROUP BY a WITH TOTALS", "SETTINGS max_threads = 1",
    "FORMAT JSONEachRow", "FROM t ARRAY JOIN arr AS e",
    "dateDiff('day', a, b)", "a GLOBAL IN (SELECT 1)",
    "FROM numbers(10)", "VALUES (1) PARALLEL WITH INSERT INTO t VALUES (2)",
    "{p:UInt8}")

  /** Each trigger inside every literal and quoted-run spelling. */
  private val quotings: Seq[String => String] = Seq(
    t => "'it\\'s " + t.replace("'", "\\'") + "'",
    t => "'it''s " + t.replace("'", "''") + "'",
    t => "\"" + t.replace("\"", "\\\"") + "\"",
    t => "`" + t.replace("`", "``") + "`")

  private val templates: Seq[String => String] = Seq(
    q => s"SELECT $q AS x FROM t",
    q => s"SELECT a, concat($q, s) FROM t WHERE b > 0 ORDER BY a",
    q => s"SELECT a FROM t WHERE s = $q")

  test("property: no rewrite fires inside a literal, a quoted run or a " +
      "comment") {
    for (t <- triggers; q <- quotings; tpl <- templates) {
      val stmt = tpl(q(t))
      assert(ClickHouseSql.rewrite(stmt) == stmt, s"rewrote: $stmt")
    }
    // a comment is removed, and is the only change
    val commented: Seq[(String => String, String)] = Seq(
      (c => s"SELECT a FROM t --$c\nWHERE b > 0", "SELECT a FROM t  \nWHERE b > 0"),
      (c => s"SELECT a /*$c*/ FROM t", "SELECT a   FROM t"),
      (c => s"SELECT a FROM t -- $c", "SELECT a FROM t  "))
    for (t <- triggers; (tpl, expected) <- commented) {
      val stmt = tpl(t)
      assert(ClickHouseSql.rewrite(stmt) == expected, s"rewrote: $stmt")
    }
    // the statement lanes skip literals and comments too
    assert(ch("SELECT \"{p:UInt8}\" AS x").head().getString(0) == "{p:UInt8}")
    assert(ch("SELECT 1 AS x -- {p:UInt8}").head().getInt(0) == 1)
    assert(ch("SELECT 'a PARALLEL WITH b' AS x").head().getString(0) ==
      "a PARALLEL WITH b")
  }

  test("source guard: only the lexer scans for quotes") {
    val dir = new java.io.File("src/main/scala/graft/sql")
    // a quote split, a literal mask, or a flag for "inside a literal"
    val scanner = """split\("'", -1\)|maskLiterals|\b(?:inStr|inS|inD)\b""".r
    val offenders = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "SqlLex.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if scanner.findFirstIn(line).isDefined =>
            s"${f.getName}:${i + 1}: ${line.trim}"
        }.toList
        finally src.close()
      }
    assert(dir.isDirectory && offenders.isEmpty,
      "quote-state scanners outside SqlLex:\n" + offenders.mkString("\n"))
  }

  test("positional INSERT binds a MergeTree table's declared column order") {
    val t = "lex_pb"
    def reset(): Unit = dropTable(t)
    def rows(): Seq[String] = ch(s"SELECT k, flag, note FROM $t ORDER BY k")
      .collect().map(r => s"k=${r(0)} flag=${r(1)} note=${r(2)}").toSeq
    reset()
    try {
      ch(s"CREATE TABLE $t (k Int64, flag String, note String) " +
        "ENGINE = MergeTree PARTITION BY flag ORDER BY k")
      ch(s"INSERT INTO $t VALUES (1, 'A', 'hello')")
      assert(rows() == Seq("k=1 flag=A note=hello"))
      // the declared order survives a mutation's rewrite of the table
      ch(s"ALTER TABLE $t UPDATE note = 'bye' WHERE k = 1")
      ch(s"INSERT INTO $t VALUES (2, 'B', 'again')")
      ch(s"INSERT INTO $t SELECT 3, 'C', 'select'")
      // the PARALLEL WITH append lane binds the same way
      ch(s"INSERT INTO $t VALUES (4, 'D', 'p1') PARALLEL WITH " +
        s"INSERT INTO $t VALUES (5, 'E', 'p2')")
      assert(rows() == Seq("k=1 flag=A note=bye", "k=2 flag=B note=again",
        "k=3 flag=C note=select", "k=4 flag=D note=p1",
        "k=5 flag=E note=p2"))
      // an explicit column list still wins
      ch(s"INSERT INTO $t (note, k, flag) VALUES ('listed', 6, 'F')")
      assert(rows().last == "k=6 flag=F note=listed")
    } finally reset()
  }

  test("the declared column order follows column and table renames") {
    val (t, u) = ("lex_pc", "lex_pd")
    Seq(t, u).foreach(dropTable)
    try {
      ch(s"CREATE TABLE $t (k Int64, flag String, note String) " +
        "ENGINE = MergeTree PARTITION BY flag ORDER BY k")
      ch(s"ALTER TABLE $t RENAME COLUMN k TO id")
      ch(s"INSERT INTO $t VALUES (1, 'A', 'hello')")
      // declared order (id, z, flag, note); the catalog's ends in flag
      ch(s"ALTER TABLE $t ADD COLUMN z Int64 AFTER id")
      ch(s"INSERT INTO $t VALUES (2, 20, 'B', 'again')")
      ch(s"ALTER TABLE $t ADD COLUMN tail String")
      ch(s"ALTER TABLE $t DROP COLUMN z")
      ch(s"INSERT INTO $t VALUES (3, 'C', 'three', 't')")
      ch(s"RENAME TABLE $t TO $u")
      ch(s"INSERT INTO $u VALUES (4, 'D', 'moved', 'u')")
      ch(s"CREATE TABLE $t (a Int64, p String, b String) " +
        "ENGINE = MergeTree PARTITION BY p ORDER BY a")
      ch(s"EXCHANGE TABLES $t AND $u")
      ch(s"INSERT INTO $t VALUES (5, 'E', 'swapped', 'x')")
      ch(s"INSERT INTO $u VALUES (1, 'P', 'b')")
      val idFlagNoteTail = Seq("id", "flag", "note", "tail")
      assert(ch(s"SELECT ${idFlagNoteTail.mkString(", ")} FROM $t ORDER BY id")
        .collect().map(_.toSeq.mkString(" ")).toSeq == Seq(
          "1 A hello null", "2 B again null", "3 C three t", "4 D moved u",
          "5 E swapped x"))
      assert(ch(s"SELECT a, p, b FROM $u").collect()
        .map(_.toSeq.mkString(" ")).toSeq == Seq("1 P b"))
    } finally Seq(t, u).foreach(dropTable)
  }
}
