package graft.sql

/** PRQL dialect front-end — the reference compiles PRQL to SQL when
  * `SET dialect = 'prql'` is active (src/Interpreters/executeQuery.cpp:1055,
  * src/Parsers/PRQL/ParserPRQLQuery.cpp — the reference delegates to the
  * embedded `prql_to_sql` Rust compiler; this engine compiles a native
  * subset of the PRQL 1.x pipeline verbs straight to Spark SQL layers).
  *
  * Supported verbs: `from t`, `filter cond`, `derive {a = e, …}`,
  * `select {a, b = e, …}`, `aggregate {n = sum x, …}`,
  * `group {k, …} (aggregate {…})`, `sort {x, -y}` (PRQL defaults ASC,
  * `-x` is DESC), `take n` / `take a..b` (1-based inclusive range),
  * `join side:left|inner t (==col)` and the general-condition form
  * `join side:kind t (cond)` (qualify the joined side's columns with
  * its table name), `append t` (UNION ALL by position, PRQL's
  * concatenation verb). Expressions: `==` → `=`, `&&`/`||` → AND/OR,
  * `@2024-01-31` date literals, `case [c1 => v1, …, true => else]` →
  * CASE WHEN, s-expressions pass through to Spark's parser (loud on
  * anything it can't resolve — never a silent misread). Aggregation
  * calls use PRQL's space form: `sum x`, `average x`, `count this`,
  * `count_distinct x`, `min/max/stddev x`. `window rows:a..b (derive
  * {…})` / `window expanding:true (…)` / `window rolling:n (…)` compile
  * to SQL window frames over the pipeline's LAST `sort` order (a
  * window without a preceding sort is loud — frames need a total
  * order). Round-14 continuation: relation literals
  * (`from [{a=1, b="x"}, …]` → inline UNION ALL), s-strings
  * (`s"RAW SQL with {expr} interpolation"` — PRQL's SQL escape hatch),
  * and `loop (pipeline)` — PRQL's fixpoint iteration (union of every
  * iteration's result until an iteration is empty), run as a
  * driver-side fixpoint of distributed jobs exactly like the recursive
  * CTE lane (needs the session — the translate(spark, …) entry the
  * dialect switch uses). Still loud: `select !{…}` exclusion.
  */
object PrqlTranslator {

  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private def sub(q: String): String =
    s"($q) __prql_${counter.incrementAndGet()}"

  /** Pure translation — `loop` (which must EXECUTE) is loud here. */
  def translate(prql: String): String = translate(null, prql)

  def translate(spark: org.apache.spark.sql.SparkSession,
      prql: String): String = {
    // pipeline stages: top-level newlines and '|'
    val stages = SqlLex.splitTop(prql, "\n").flatMap(SqlLex.splitTop(_, "|"))
    require(stages.nonEmpty, "PRQL: empty pipeline")
    val fromRe = "(?is)^from\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*$".r
    val fromLitRe = "(?is)^from\\s+(\\[.*\\])\\s*$".r
    // the pipeline's current sort order (window frames anchor on it)
    var lastSort: Seq[String] = Seq.empty
    var cur = stages.head match {
      case fromRe(t) => s"SELECT * FROM $t"
      case fromLitRe(lit) => relationLiteral(lit)
      case other => throw new IllegalArgumentException(
        s"PRQL: the pipeline must start with `from <table>` or a " +
          s"relation literal `from [{{…}}, …]`, got '$other'")
    }
    stages.tail.foreach { st =>
      val verb = "^[a-z_]+".r.findFirstIn(st.toLowerCase).getOrElse("")
      val body = st.drop(verb.length).trim
      cur = verb match {
        case "filter" =>
          s"SELECT * FROM ${sub(cur)} WHERE ${expr(body)}"
        case "take" =>
          val rangeRe = "^(\\d+)\\s*\\.\\.\\s*(\\d+)$".r
          body match {
            case rangeRe(a, b) =>
              require(a.toLong >= 1 && b.toLong >= a.toLong,
                s"PRQL take: bad range '$body'")
              s"SELECT * FROM ${sub(cur)} " +
                s"LIMIT ${b.toLong - a.toLong + 1} OFFSET ${a.toLong - 1}"
            case n if n.matches("\\d+") =>
              s"SELECT * FROM ${sub(cur)} LIMIT $n"
            case other => throw new IllegalArgumentException(
              s"PRQL take: `take n` or `take a..b`, got '$other'")
          }
        case "derive" =>
          val items = tupleItems(body).map {
            case named(n, e) => s"${expr(e)} AS $n"
            case other => throw new IllegalArgumentException(
              s"PRQL derive: expected name = expr, got '$other'")
          }
          s"SELECT *, ${items.mkString(", ")} FROM ${sub(cur)}"
        case "select" =>
          val items = tupleItems(body).map {
            case named(n, e) => s"${expr(e)} AS $n"
            case e => expr(e)
          }
          s"SELECT ${items.mkString(", ")} FROM ${sub(cur)}"
        case "sort" =>
          val items = tupleItems(body).map(_.trim).map { it =>
            if (it.startsWith("-")) s"${expr(it.drop(1))} DESC"
            else s"${expr(it)} ASC"
          }
          lastSort = items
          s"SELECT * FROM ${sub(cur)} ORDER BY ${items.mkString(", ")}"
        case "window" =>
          val m = ("(?is)^(?:rows\\s*:\\s*(-?\\d+)\\s*\\.\\.\\s*(-?\\d+)" +
            "|(expanding)\\s*:\\s*true|rolling\\s*:\\s*(\\d+))\\s*" +
            "\\((.*)\\)\\s*$").r
          body match {
            case m(a, b, expanding, rolling, inner0) =>
              require(lastSort.nonEmpty,
                "PRQL window: needs a preceding `sort` — frames anchor " +
                  "on the pipeline's order")
              val frame =
                if (expanding != null)
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                else if (rolling != null) {
                  require(rolling.toInt >= 1, "PRQL window: rolling < 1")
                  s"ROWS BETWEEN ${rolling.toInt - 1} PRECEDING " +
                    "AND CURRENT ROW"
                } else {
                  val lo = a.toLong; val hi = b.toLong
                  require(lo <= hi, s"PRQL window: bad range $lo..$hi")
                  def bound(x: Long, isLow: Boolean) =
                    if (x < 0) s"${-x} PRECEDING"
                    else if (x == 0) "CURRENT ROW"
                    else s"$x FOLLOWING"
                  s"ROWS BETWEEN ${bound(lo, true)} AND ${bound(hi, false)}"
                }
              val inner = inner0.trim
              require(inner.toLowerCase.startsWith("derive"),
                "PRQL window: only `window … (derive {n = fn col})` is " +
                  "supported")
              val over = s"OVER (ORDER BY ${lastSort.mkString(", ")} $frame)"
              val items = aggItems(inner.drop("derive".length).trim)
                .map(it => it.replaceFirst("(?i) AS ", s" $over AS "))
              s"SELECT *, ${items.mkString(", ")} FROM ${sub(cur)}"
            case _ => throw new IllegalArgumentException(
              "PRQL window: `window rows:a..b (derive {…})`, `window " +
                s"expanding:true (…)` or `window rolling:n (…)`, got '$body'")
          }
        case "aggregate" =>
          s"SELECT ${aggItems(body).mkString(", ")} FROM ${sub(cur)}"
        case "group" =>
          val m = "(?s)^(\\{[^}]*\\}|[A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)\\s*$".r
          body match {
            case m(keys0, inner0) =>
              val keys = tupleItems(keys0).map(expr)
              val inner = inner0.trim
              require(inner.toLowerCase.startsWith("aggregate"),
                "PRQL group: only `group {keys} (aggregate {…})` is supported")
              val aggs = aggItems(inner.drop("aggregate".length).trim)
              s"SELECT ${(keys ++ aggs).mkString(", ")} FROM ${sub(cur)} " +
                s"GROUP BY ${keys.mkString(", ")}"
            case _ => throw new IllegalArgumentException(
              s"PRQL group: expected `group {keys} (aggregate {{…}})`, got '$body'")
          }
        case "join" =>
          val m = ("(?is)^(?:side\\s*:\\s*(left|inner|right|full)\\s+)?" +
            "([A-Za-z_][A-Za-z0-9_.]*)\\s*\\(\\s*==\\s*" +
            "([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s*$").r
          val mg = ("(?is)^(?:side\\s*:\\s*(left|inner|right|full)\\s+)?" +
            "([A-Za-z_][A-Za-z0-9_.]*)\\s*\\((.*)\\)\\s*$").r
          body match {
            case m(side, t, k) =>
              val kind = Option(side).map(_.toUpperCase).getOrElse("INNER")
              s"SELECT * FROM ${sub(cur)} $kind JOIN $t USING ($k)"
            case mg(side, t, cond) =>
              // general condition: the pipeline side's columns are bare,
              // the joined side's are `t.col` — both pass through expr()
              val kind = Option(side).map(_.toUpperCase).getOrElse("INNER")
              s"SELECT * FROM ${sub(cur)} $kind JOIN $t ON ${expr(cond)}"
            case _ => throw new IllegalArgumentException(
              "PRQL join: `join side:kind t (==col)` or " +
                s"`join side:kind t (cond)`, got '$body'")
          }
        case "append" =>
          require(body.matches("[A-Za-z_][A-Za-z0-9_.]*"),
            s"PRQL append: expected a table name, got '$body'")
          // PRQL append concatenates relations (UNION ALL semantics)
          s"SELECT * FROM ${sub(cur)} UNION ALL SELECT * FROM $body"
        case "loop" =>
          // PRQL loop: apply the inner pipeline to the previous result
          // repeatedly until an iteration is empty; the verb's value is
          // the UNION of the input and every iteration. A driver-side
          // fixpoint of distributed jobs (the recursive-CTE shape),
          // with the same lineage truncation and iteration guard.
          require(spark != null,
            "PRQL loop: needs a live session — run it through " +
              "SET dialect = 'prql', not the pure translator")
          require(body.startsWith("(") && body.endsWith(")"),
            s"PRQL loop: expected `loop (pipeline)`, got '$body'")
          val inner = body.substring(1, body.length - 1).trim
          require(inner.nonEmpty, "PRQL loop: empty pipeline")
          val id = counter.incrementAndGet()
          val frontierView = s"graft_prql_loop_f_$id"
          var acc = spark.sql(cur)
          var frontier = acc
          var iter = 0
          var done = false
          val maxIter = 1000
          while (!done && iter < maxIter) {
            iter += 1
            frontier.createOrReplaceTempView(frontierView)
            // the frontier materializes EAGERLY each round: without it
            // every iteration's plan embeds the whole previous chain
            // (O(n²) recompute across isEmpty + the final query, and a
            // 1000-deep nested plan at the guard)
            val next = spark.sql(
              translate(spark, s"from $frontierView\n$inner"))
              .localCheckpoint(true)
            if (next.isEmpty) done = true
            else {
              acc = acc.unionByName(next)
              frontier = next
              if (iter % 8 == 0) acc = acc.localCheckpoint()
            }
          }
          spark.catalog.dropTempView(frontierView)
          require(done,
            s"PRQL loop: did not reach an empty iteration within " +
              s"$maxIter rounds — refusing a possibly-unbounded loop")
          val outView = s"graft_prql_loop_$id"
          acc.createOrReplaceTempView(outView)
          s"SELECT * FROM $outView"
        case other => throw new IllegalArgumentException(
          s"PRQL: unsupported verb '$other' (supported: from, filter, " +
            "derive, select, aggregate, group, sort, take, join, " +
            "append, window, loop)")
      }
    }
    cur
  }

  /** `[{a=1, b="x"}, {a=2, b="y"}]` → an inline UNION ALL relation.
    * Every row must carry the same column names in the same order (the
    * PRQL book's tuple-array relation literal). */
  private def relationLiteral(lit: String): String = {
    val rows = SqlLex.splitTop(lit.substring(1, lit.length - 1))
    require(rows.nonEmpty, "PRQL: empty relation literal")
    val parsed = rows.map { r =>
      require(r.startsWith("{") && r.endsWith("}"),
        s"PRQL relation literal: expected a tuple {{…}}, got '$r'")
      SqlLex.splitTop(r.substring(1, r.length - 1)).map {
        case named(n, e) => (n, expr(e))
        case other => throw new IllegalArgumentException(
          s"PRQL relation literal: expected name = value, got '$other'")
      }
    }
    val cols = parsed.head.map(_._1)
    parsed.foreach(p => require(p.map(_._1) == cols,
      s"PRQL relation literal: rows disagree on columns " +
        s"(${cols.mkString(", ")} vs ${p.map(_._1).mkString(", ")})"))
    val selects = parsed.zipWithIndex.map { case (p, i) =>
      if (i == 0)
        "SELECT " + p.map { case (n, v) => s"$v AS $n" }.mkString(", ")
      else "SELECT " + p.map(_._2).mkString(", ")
    }
    selects.mkString(" UNION ALL ")
  }

  private val named = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(.+)$".r

  /** `{a, b = e}` or a bare single item → items. */
  private def tupleItems(body0: String): Seq[String] = {
    val body = body0.trim
    val inner =
      if (body.startsWith("{") && body.endsWith("}"))
        body.substring(1, body.length - 1)
      else body
    SqlLex.splitTop(inner)
  }

  /** PRQL aggregation items: `n = count this`, `s = sum x`, `avg y`. */
  private def aggItems(body: String): Seq[String] =
    tupleItems(body).map { it =>
      val (alias, call) = it.trim match {
        case named(n, e) => (Some(n), e.trim)
        case e => (None, e.trim)
      }
      val m = "(?s)^([A-Za-z_]+)\\s+(.+)$".r
      val sql = call match {
        case m(fn, arg0) =>
          val arg = expr(arg0)
          fn.toLowerCase match {
            case "sum" => s"sum($arg)"
            case "average" => s"avg($arg)"
            case "min" => s"min($arg)"
            case "max" => s"max($arg)"
            case "stddev" => s"stddev_samp($arg)"
            case "count" =>
              if (arg0.trim.equalsIgnoreCase("this")) "count(*)"
              else s"count($arg)"
            case "count_distinct" => s"count(DISTINCT $arg)"
            case other => throw new IllegalArgumentException(
              s"PRQL aggregate: unsupported function '$other'")
          }
        case _ => throw new IllegalArgumentException(
          s"PRQL aggregate: expected `fn arg`, got '$call'")
      }
      alias.map(a => s"$sql AS $a")
        .getOrElse(throw new IllegalArgumentException(
          s"PRQL aggregate: name the output (`n = $call`)"))
    }

  /** PRQL scalar expression → Spark SQL (outside string literals).
    * BOTH quote styles lift into placeholders before the operator
    * rewrites — a double-quoted literal's content would otherwise be
    * corrupted by the ==/&&/|| rewrites (`"a==b"` → `'a = b'`), because
    * a plain single-quote split only protects already-single-quoted
    * text. */
  private def expr(e0: String): String = {
    val lits = scala.collection.mutable.ArrayBuffer.empty[String]
    val masked = new StringBuilder
    def identChar(ch: Char) = ch.isLetterOrDigit || ch == '_'
    var last = 0
    SqlLex.literals(e0).filter(l => e0.charAt(l._1) != '`').foreach {
      case (a, b) =>
        val body = e0.substring(a + 1, b - 1)
        // s-string: PRQL's raw-SQL escape hatch (`s"LEFT({col}, 3)"`) —
        // the body splices through UNQUOTED, with {expr} interpolations
        // recursively translated; the placeholder shields it from the
        // operator rewrites like any literal
        val sString = e0.charAt(a) == '"' && a > 0 &&
          (e0.charAt(a - 1) == 's' || e0.charAt(a - 1) == 'S') &&
          (a == 1 || !identChar(e0.charAt(a - 2)))
        masked.append(e0.substring(last, if (sString) a - 1 else a))
        lits += (
          if (sString) "\\{([^{}]*)\\}".r.replaceAllIn(body, m =>
            java.util.regex.Matcher.quoteReplacement(expr(m.group(1))))
          // restore as a Spark single-quoted literal; embedded single
          // quotes (possible in a double-quoted PRQL string) escape
          else "'" + body.replace("\\", "\\\\").replace("'", "\\'") + "'")
        masked.append(s"__PRQLLIT${lits.length - 1}__")
        last = b
    }
    masked.append(e0.substring(last))
    var s = masked.toString
    s = rewriteCase(s)
    s = s.replaceAll("==", " = ")
    s = s.replaceAll("&&", " AND ")
    s = s.replaceAll("\\|\\|", " OR ")
    // @2024-01-31 date literal
    s = "@(\\d{4}-\\d{2}-\\d{2})".r
      .replaceAllIn(s, m => s"DATE '${m.group(1)}'")
    lits.zipWithIndex.reverse.foreach { case (lit, idx) =>
      s = s.replace(s"__PRQLLIT${idx}__", lit) // literal replace, no regex
    }
    s.trim
  }

  /** `case [c1 => v1, c2 => v2, true => e]` → CASE WHEN … END. Runs on
    * the literal-masked text BEFORE the ==/&&/|| rewrites, so the
    * branch conditions go through the same operator mapping after. */
  private def rewriteCase(s0: String): String = {
    var s = s0
    var budget = 8
    var m = "(?i)\\bcase\\s*\\[".r.findFirstMatchIn(s)
    while (m.isDefined && budget > 0) {
      budget -= 1
      val open = s.indexOf('[', m.get.start)
      val close = SqlLex.closeOf(s, open) - 1
      require(close > open, s"PRQL case: unbalanced brackets in '$s0'")
      val items = SqlLex.splitTop(s.substring(open + 1, close))
      val branches = items.map { it =>
        val at = it.indexOf("=>")
        require(at > 0, s"PRQL case: expected `cond => value`, got '$it'")
        (it.substring(0, at).trim, it.substring(at + 2).trim)
      }
      require(branches.nonEmpty, "PRQL case: no branches")
      val whens = branches.filterNot(_._1.equalsIgnoreCase("true"))
        .map { case (c, v) => s"WHEN $c THEN $v" }
      val els = branches.find(_._1.equalsIgnoreCase("true"))
        .map(b => s" ELSE ${b._2}").getOrElse("")
      s = s.substring(0, m.get.start) +
        s"CASE ${whens.mkString(" ")}$els END" + s.substring(close + 1)
      m = "(?i)\\bcase\\s*\\[".r.findFirstMatchIn(s)
    }
    s
  }
}
