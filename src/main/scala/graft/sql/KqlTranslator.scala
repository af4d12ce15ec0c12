package graft.sql

import org.apache.spark.sql.SparkSession

/** KQL (Kusto Query Language) dialect front-end — the reference parses
  * KQL when `SET dialect = 'kusto'` is active
  * (src/Interpreters/executeQuery.cpp:1044 Dialect::kusto,
  * src/Parsers/Kusto/ParserKQLQuery.cpp). This translator covers the
  * reference's own operator surface (ParserKQLQuery::getOperator:
  * filter/where, limit/take, project, distinct, extend, sort by/order
  * by, summarize, table, mv-expand, make-series, print) plus the
  * string-operator catalog of
  * ParserKQLOperators.cpp (contains/has/startswith/… with the !/_cs/~
  * variants) — each pipe stage compiles to a Spark SQL layer over the
  * previous one, so Catalyst owns the final plan (projection collapse
  * folds the layers; nothing here executes).
  *
  * KQL semantics preserved deliberately:
  *  - `sort by x` defaults to DESCENDING (ParserKQLSort.cpp:49).
  *  - summarize output aliases follow the reference's rules
  *    (KQL_ReleaseNote.md): `count()` → `count_`, `count(Age)` →
  *    `count_Age`, expression args → `fn_`; a `bin(col, n)` group key
  *    keeps the COLUMN name, other key expressions become `Columns1…N`.
  *  - array indexing is 0-based (`x[0]` is the first element —
  *    KQL_ReleaseNote.md bug-fix entry), mapped onto element_at(x, i+1).
  *  - case-insensitive operators (`contains`, `has`, `=~`, `in~`)
  *    lower both sides; the `_cs` variants compare raw.
  */
object KqlTranslator {

  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private def sub(q: String): String =
    s"($q) __kql_${counter.incrementAndGet()}"

  /** Translate one KQL statement to Spark SQL. `spark` resolves schemas
    * for the stages that need column lists (extend-replace, mv-expand);
    * schema resolution plans but never runs a job. */
  def translate(spark: SparkSession, kql: String): String = {
    val stages = SqlLex.splitTop(kql.trim.stripSuffix(";"), "|")
    require(stages.nonEmpty, "KQL: empty statement")
    val head = stages.head.trim
    var cur: String =
      if (head.toLowerCase.startsWith("print")) printStage(head)
      else if (head.matches("(?is)^table\\s*\\(\\s*'[^']+'\\s*\\)\\s*$"))
        "SELECT * FROM " +
          "'([^']+)'".r.findFirstMatchIn(head).get.group(1)
      else if (head.matches("^[A-Za-z_][A-Za-z0-9_.]*$"))
        s"SELECT * FROM $head"
      else throw new IllegalArgumentException(
        s"KQL: the pipeline must start with a table name or print, got '$head'")
    stages.tail.foreach { st0 =>
      val st = st0.trim
      val opWord = "^[a-z!-]+(\\s+by\\b)?".r.findFirstIn(st.toLowerCase)
        .getOrElse("")
      cur = opWord match {
        case "where" | "filter" =>
          s"SELECT * FROM ${sub(cur)} WHERE ${expr(st.drop(opWord.length))}"
        case "take" | "limit" =>
          s"SELECT * FROM ${sub(cur)} LIMIT ${st.drop(opWord.length).trim}"
        case "project" =>
          s"SELECT ${projList(st.drop("project".length))} FROM ${sub(cur)}"
        case "distinct" =>
          val body = st.drop("distinct".length).trim
          if (body == "*") s"SELECT DISTINCT * FROM ${sub(cur)}"
          else s"SELECT DISTINCT ${projList(body)} FROM ${sub(cur)}"
        case "extend" => extendStage(spark, cur, st.drop("extend".length))
        case "sort by" | "order by" =>
          s"SELECT * FROM ${sub(cur)} ORDER BY " +
            sortList(st.drop(opWord.length))
        case "summarize" => summarizeStage(cur, st.drop("summarize".length))
        case "mv-expand" => mvExpandStage(spark, cur, st.drop("mv-expand".length))
        case "count" if st.toLowerCase == "count" =>
          s"SELECT count(*) AS Count FROM ${sub(cur)}"
        case "make-series" =>
          makeSeriesStage(cur, st.drop("make-series".length))
        case other => throw new IllegalArgumentException(
          s"KQL: unsupported operator '$other' (supported: where/filter, " +
            "take/limit, project, distinct, extend, sort by/order by, " +
            "summarize, mv-expand, count, print, table)")
      }
    }
    cur
  }

  // ---- stage compilers ---------------------------------------------------

  /** `print [name =] expr, ...` → one-row select; unnamed columns are
    * print_0, print_1, … (the KQL convention). */
  private def printStage(st: String): String = {
    val items = SqlLex.splitTop(st.trim.drop("print".length))
    val sel = items.zipWithIndex.map { case (it, i) =>
      it.trim match {
        case named(n, e) => s"${expr(e)} AS $n"
        case e => s"${expr(e)} AS print_$i"
      }
    }.mkString(", ")
    s"SELECT $sel"
  }

  private val named = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(.+)$".r

  /** `a, b = expr, c` — a projection list with KQL `name = expr` aliases. */
  private def projList(body: String): String =
    SqlLex.splitTop(body).map {
      case named(n, e) => s"${expr(e)} AS $n"
      case e => expr(e)
    }.mkString(", ")

  /** `extend c = expr[, …]`: appends columns, REPLACING any existing
    * column of the same name (KQL_ReleaseNote.md bug-fix entry). */
  private def extendStage(spark: SparkSession, cur: String,
      body: String): String = {
    val adds = SqlLex.splitTop(body).map {
      case named(n, e) => (n, expr(e))
      case e => throw new IllegalArgumentException(
        s"KQL extend: expected name = expr, got '$e'")
    }
    val existing = spark.sql(cur).columns
    val replaced = adds.map(_._1.toLowerCase).toSet
    val keep = existing.filterNot(c => replaced.contains(c.toLowerCase))
      .map(c => s"`$c`")
    (keep ++ adds.map { case (n, e) => s"$e AS $n" })
      .mkString("SELECT ", ", ", s" FROM ${sub(cur)}")
  }

  /** `sort by c1 [asc|desc], c2 …` — KQL defaults to DESC
    * (ParserKQLSort.cpp:49). */
  private def sortList(body: String): String =
    SqlLex.splitTop(body).map { item =>
      val m = "(?is)^(.*?)\\s+(asc|desc)(\\s+nulls\\s+(first|last))?$".r
      item match {
        case m(e, dir, _, nulls) =>
          s"${expr(e)} ${dir.toUpperCase}" +
            Option(nulls).map(n => s" NULLS ${n.toUpperCase}").getOrElse("")
        case e => s"${expr(e)} DESC"
      }
    }.mkString(", ")

  /** `summarize [alias =] agg(…)[, …] [by key[, …]]` with the
    * reference's output-alias rules. */
  private def summarizeStage(cur: String, body0: String): String = {
    val (aggPart, byPart) = SqlLex.find(body0, "by") match {
      case Some((a, b)) => (body0.substring(0, a), Some(body0.substring(b)))
      case None => (body0, None)
    }
    var colN = 0
    val keys = byPart.toSeq.flatMap(SqlLex.splitTop(_)).map {
      case named(n, e) => (expr(e), n)
      case e if e.matches("^[A-Za-z_][A-Za-z0-9_]*$") => (e, e)
      case e =>
        // bin(col, n) keeps the column's name; other exprs → ColumnsN
        val binCol = "(?is)^bin\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*,".r
        binCol.findFirstMatchIn(e) match {
          case Some(m) => (expr(e), m.group(1))
          case None => colN += 1; (expr(e), s"Columns$colN")
        }
    }
    val aggs = SqlLex.splitTop(aggPart).map {
      case named(n, e) => s"${aggExpr(e)._1} AS $n"
      case e => val (sql, alias) = aggExpr(e); s"$sql AS $alias"
    }
    val sel = (keys.map { case (e, n) => s"$e AS $n" } ++ aggs).mkString(", ")
    if (keys.isEmpty) s"SELECT $sel FROM ${sub(cur)}"
    else s"SELECT $sel FROM ${sub(cur)} GROUP BY " +
      keys.map(_._1).mkString(", ")
  }

  /** One KQL aggregate call → (spark SQL, reference-rule alias). */
  private def aggExpr(e: String): (String, String) = {
    val call = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)$".r
    e.trim match {
      case call(fn0, args0) =>
        val fn = fn0.toLowerCase
        val args = SqlLex.splitTop(args0)
        def aliasFor(a: Seq[String]): String = {
          val base = a.headOption.filter(_.matches("^[A-Za-z_][A-Za-z0-9_]*$"))
            .map(c => s"_$c").getOrElse("_")
          s"$fn$base"
        }
        fn match {
          case "count" =>
            if (args.isEmpty) ("count(*)", "count_")
            else (s"count(${expr(args.head)})", aliasFor(args))
          case "countif" =>
            (s"count_if(${expr(args.head)})", "countif_")
          case "dcount" =>
            (s"count(DISTINCT ${expr(args.head)})", aliasFor(args))
          case "sum" | "avg" | "min" | "max" | "stdev" | "variance" =>
            val sparkFn = fn match {
              case "stdev" => "stddev_samp"
              case "variance" => "var_samp"
              case o => o
            }
            (s"$sparkFn(${expr(args.head)})", aliasFor(args))
          case "sumif" | "avgif" | "minif" | "maxif" =>
            val base = fn.dropRight(2)
            (s"$base(CASE WHEN ${expr(args(1))} THEN ${expr(args.head)} END)",
              aliasFor(args))
          case "make_list" =>
            (s"collect_list(${expr(args.head)})", aliasFor(args))
          case "make_set" =>
            (s"collect_set(${expr(args.head)})", aliasFor(args))
          case "percentile" =>
            (s"percentile(${expr(args.head)}, ${expr(args(1))} / 100.0)",
              aliasFor(args))
          case other => throw new IllegalArgumentException(
            s"KQL summarize: unsupported aggregate '$other'")
        }
      case other => throw new IllegalArgumentException(
        s"KQL summarize: expected an aggregate call, got '$other'")
    }
  }

  /** `make-series alias = agg(col) [default = d] on axis from a to b
    * step s [by k, …]` (ParserKQLMakeSeries — the KQL time-series
    * verb): one row per by-group carrying ARRAY columns — the dense
    * axis grid [a, b) and the per-bin aggregate with `default` filling
    * empty bins (0 when unstated, the reference's
    * AggregationColumn.default_value).
    *
    * Spark-first composition, two aggregates and ZERO joins:
    *   1. bin the axis and aggregate per (keys, bin);
    *   2. collapse each group's bins into a map
    *      (map_from_entries ∘ collect_list);
    *   3. project the dense series with
    *      transform(sequence(a, b-s, s), x -> coalesce(m[x], default)) —
    *      the grid materializes per ROW from plan literals, so no
    *      explode/join ever touches the corpus and the shuffle profile
    *      is exactly a two-level GROUP BY at any scale.
    * A datetime axis works through epoch seconds (timespan steps 1h/30m
    * etc. become seconds) and the axis array projects back to
    * timestamps. */
  private def makeSeriesStage(cur: String, body0: String): String = {
    val m0 = ("(?is)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*" + // alias =
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\(([^()]*)\\)\\s*" +      // agg(args)
      "(?:default\\s*=\\s*([-0-9.]+)\\s*)?" +                  // default
      "on\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+" +                   // axis col
      "from\\s+(.+?)\\s+to\\s+(.+?)\\s+step\\s+(\\S+)\\s*" +   // from/to/step
      "(?:by\\s+(.+))?$").r
    body0.trim match {
      case m0(alias, fn0, arg0, dflt0, axis, from0, to0, step0, by0) =>
        val keys = Option(by0).toSeq.flatMap(SqlLex.splitTop(_))
        val dflt = Option(dflt0).getOrElse("0")
        // timespan steps (1h / 30m / 15s / 1d) → seconds; a datetime
        // axis then bins over epoch seconds
        val spanRe = "(?i)^(\\d+)(d|h|m|s)$".r
        val (stepSql, timeAxis) = step0.trim match {
          case spanRe(n, u) =>
            val mult = u.toLowerCase match {
              case "d" => 86400L
              case "h" => 3600L
              case "m" => 60L
              case "s" => 1L
            }
            ((n.toLong * mult).toString, true)
          case s => (expr(s), false)
        }
        val axisExpr =
          if (timeAxis) s"unix_timestamp($axis)" else axis
        def bound(b: String): String =
          if (timeAxis) s"unix_timestamp(${expr(b)})"
          else s"(${expr(b)})"
        val (fromSql, toSql) = (bound(from0), bound(to0))
        val fn = fn0.toLowerCase
        val aggSql = fn match {
          case "count" => "count(*)"
          case "sum" | "avg" | "min" | "max" => s"$fn(${expr(arg0)})"
          case "dcount" => s"count(DISTINCT ${expr(arg0)})"
          case other => throw new IllegalArgumentException(
            s"KQL make-series: unsupported aggregate '$other'")
        }
        val kSel = if (keys.isEmpty) "" else keys.mkString("", ", ", ", ")
        val kGrp = if (keys.isEmpty) "" else " , " + keys.mkString(", ")
        val binned =
          s"SELECT $kSel" +
            s"CAST(FLOOR(($axisExpr - $fromSql) / ($stepSql)) * ($stepSql) + " +
            s"$fromSql AS DOUBLE) AS __ms_g, CAST($aggSql AS DOUBLE) AS __ms_v " +
            s"FROM ${sub(cur)} " +
            s"WHERE $axisExpr >= $fromSql AND $axisExpr < $toSql " +
            s"GROUP BY __ms_g$kGrp"
        val mapped =
          s"SELECT ${kSel}map_from_entries(collect_list(" +
            s"struct(__ms_g, __ms_v))) AS __ms_m FROM ${sub(binned)}" +
            (if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}")
        // grid = bin STARTS from..to exclusive: k = 0 .. ceil((to-from)/
        // step)-1 — the ceil keeps the final PARTIAL bin (Kusto emits it;
        // a sequence(from, to-step, step) would drop rows binned into it
        // whenever (to-from) is not a step multiple), and a fractional
        // step survives untruncated because only the COUNT is integral
        val nBins = s"greatest(CAST(CEIL((($toSql) - ($fromSql)) / " +
          s"($stepSql)) AS BIGINT), CAST(0 AS BIGINT))"
        val grid = s"transform(sequence(CAST(0 AS BIGINT), $nBins - 1), " +
          s"__msk -> ($fromSql) + __msk * ($stepSql))"
        val axisOut =
          if (timeAxis)
            s"transform($grid, x -> timestamp_seconds(CAST(x AS BIGINT)))"
          else grid
        s"SELECT ${kSel}CASE WHEN $nBins <= 0 THEN " +
          s"CAST(array() AS ARRAY<DOUBLE>) ELSE " +
          s"transform($grid, x -> coalesce(" +
          s"element_at(__ms_m, CAST(x AS DOUBLE)), CAST($dflt AS DOUBLE)))" +
          s" END AS $alias, CASE WHEN $nBins <= 0 THEN " +
          s"CAST(array() AS ${if (timeAxis) "ARRAY<TIMESTAMP>" else "ARRAY<DOUBLE>"}) " +
          s"ELSE ${if (timeAxis) axisOut else s"transform($grid, x -> CAST(x AS DOUBLE))"} " +
          s"END AS $axis FROM ${sub(mapped)}"
      case other => throw new IllegalArgumentException(
        "KQL make-series: expected `alias = agg(col) [default = d] on " +
          s"axis from a to b step s [by keys]`, got '$other'")
    }
  }

  /** `mv-expand c`: replace array column c with its exploded elements,
    * all other columns carried (ParserKQLMVExpand). */
  private def mvExpandStage(spark: SparkSession, cur: String,
      body: String): String = {
    val c = body.trim
    require(c.matches("^[A-Za-z_][A-Za-z0-9_]*$"),
      s"KQL mv-expand: expected a column name, got '$c'")
    val others = spark.sql(cur).columns
      .filterNot(_.equalsIgnoreCase(c)).map(x => s"`$x`")
    s"SELECT ${(others :+ s"__mv AS $c").mkString(", ")} " +
      s"FROM ${sub(cur)} LATERAL VIEW explode($c) __mvt AS __mv"
  }

  // ---- expression translation ---------------------------------------------

  /** KQL scalar expression → Spark SQL expression. String literals are
    * lifted into placeholders FIRST (both quote styles), every rewrite
    * runs on the literal-free text, and the placeholders substitute
    * back at the end — an operator spelling INSIDE a string can never
    * corrupt the literal, and the has-family can read its needle's
    * content to build the token-boundary regex. Unknown content passes
    * through (Spark's analyzer is the backstop — errors stay loud,
    * never silent misreads). */
  private[sql] def expr(e0: String): String = {
    val lits = scala.collection.mutable.ArrayBuffer.empty[String]
    def reg(content: String): String = {
      lits += content
      s"__KQLLIT${lits.size - 1}__"
    }
    var e = liftStrings(e0.trim, reg)
    // datetime(2017-1-1 12:23:34) → TIMESTAMP '2017-01-01 12:23:34';
    // the ISO forms datetime(2024-05-25T08:20:03[Z]) — Kusto's canonical
    // spelling — normalize through the same lane
    e = "(?i)\\bdatetime\\s*\\(\\s*([0-9TZz: .-]+?)\\s*\\)".r
      .replaceAllIn(e, m => java.util.regex.Matcher.quoteReplacement(
        s"TIMESTAMP ${reg(normalizeDt(m.group(1)))}"))
    // dynamic([x, y, …]) → array(x, y, …)
    e = rewriteCall(e, "dynamic", a => {
      val inner = a.mkString(", ")
      if (inner.startsWith("[") && inner.endsWith("]"))
        s"array(${inner.substring(1, inner.length - 1)})"
      else s"array($inner)"
    })
    // operators — longest spellings first
    e = e.replaceAll("(?i)\\bmatches\\s+regex\\b", " RLIKE ")
    e = e.replaceAll("!~", " __KQL_NEQI__ ")
    e = e.replaceAll("=~", " __KQL_EQI__ ")
    e = e.replaceAll("==", " = ")
    // function renames (pure spelling maps)
    Seq("strcat" -> "concat", "strlen" -> "length", "tolower" -> "lower",
      "toupper" -> "upper", "now" -> "current_timestamp",
      "iif" -> "if", "iff" -> "if").foreach { case (k, v) =>
      e = e.replaceAll(s"(?i)\\b$k\\s*\\(", s"$v(")
    }
    // typed casts
    Seq("tostring" -> "STRING", "toint" -> "INT", "tolong" -> "BIGINT",
      "todouble" -> "DOUBLE", "toreal" -> "DOUBLE",
      "tobool" -> "BOOLEAN", "todatetime" -> "TIMESTAMP")
      .foreach { case (k, t) =>
        e = rewriteCall(e, k, a => s"CAST(${a.mkString(", ")} AS $t)")
      }
    // isnull/isempty family
    Seq[(String, String => String)](
      "isnotnull" -> (x => s"(($x) IS NOT NULL)"),
      "isnull" -> (x => s"(($x) IS NULL)"),
      "isnotempty" -> (x => s"(($x) IS NOT NULL AND ($x) <> ${reg("")})"),
      "isempty" -> (x => s"(($x) IS NULL OR ($x) = ${reg("")})"))
      .foreach { case (fn, out) => e = rewriteCall(e, fn, a => out(a.mkString(", "))) }
    // bin(x, n) → floor-to-multiple
    e = rewriteCall(e, "bin", a => {
      require(a.length == 2, "KQL bin(value, roundTo) takes two arguments")
      s"(FLOOR((${a(0)}) / (${a(1)})) * (${a(1)}))"
    })
    // case(p1, v1, ..., default) → CASE WHEN chain
    e = rewriteCall(e, "case", a => {
      require(a.length >= 3 && a.length % 2 == 1,
        "KQL case(p1, v1, …, default) needs pred/value pairs + a default")
      val whens = a.init.grouped(2)
        .map(p => s"WHEN ${p(0)} THEN ${p(1)}").mkString(" ")
      s"(CASE $whens ELSE ${a.last} END)"
    })
    // the KQLFunctionFactory scalar tail (string/array/datetime/binary)
    e = rewriteKqlFunctions(e, lits, reg)
    // x[i] → element_at(x, i+1) (KQL indexes from 0)
    e = "([A-Za-z_][A-Za-z0-9_]*)\\s*\\[\\s*(\\d+)\\s*\\]".r
      .replaceAllIn(e, m =>
        s"element_at(${m.group(1)}, ${m.group(2).toInt + 1})")
    // string comparison operators (placeholder-aware)
    e = rewriteStringOps(e, lits, reg)
    // `a between (x .. y)` → BETWEEN ('..' is the explicit delimiter, so
    // lazy bound captures read decimals like 1.5 correctly). The
    // negation must match WITHOUT a word boundary before it — '!' is a
    // non-word char, so `\b(!)?between` can never capture the '!' after
    // a space and `x !between (…)` would emit `x ! BETWEEN …`.
    e = "(?i)(?<![\\w])(!)?between\\s*\\(\\s*(.+?)\\s*\\.\\.\\s*([^)]+?)\\s*\\)".r
      .replaceAllIn(e, m =>
        java.util.regex.Matcher.quoteReplacement(
          (if (m.group(1) != null) "NOT " else "") +
            s"BETWEEN ${m.group(2)} AND ${m.group(3)}"))
    // case-insensitive equality markers — SIMPLE operands only (a
    // column/call/literal/number, the same grammar as the string
    // operators); a leftover marker means an operand shape the rewrite
    // could not read, which must be LOUD, not a partially-lowercased
    // comparison
    val eqiOperand = "(?:[A-Za-z_][A-Za-z0-9_.]*\\s*\\([^()]*\\)|" +
      "__KQLLIT\\d+__|[A-Za-z_][A-Za-z0-9_.]*|\\d+(?:\\.\\d+)?)"
    e = s"($eqiOperand)\\s+__KQL_EQI__\\s+($eqiOperand)".r.replaceAllIn(e,
      m => java.util.regex.Matcher.quoteReplacement(
        s"lower(${m.group(1)}) = lower(${m.group(2)})"))
    e = s"($eqiOperand)\\s+__KQL_NEQI__\\s+($eqiOperand)".r.replaceAllIn(e,
      m => java.util.regex.Matcher.quoteReplacement(
        s"lower(${m.group(1)}) <> lower(${m.group(2)})"))
    if (e.contains("__KQL_EQI__") || e.contains("__KQL_NEQI__"))
      throw new IllegalArgumentException(
        "KQL =~/!~: operands must be simple columns, calls without " +
          "nested parentheses, or literals — rewrite the expression " +
          s"or compare with ==: ${e0.trim.take(120)}")
    // substitute the literals back as single-quoted SQL strings
    "__KQLLIT(\\d+)__".r.replaceAllIn(e, m =>
      java.util.regex.Matcher.quoteReplacement(
        "'" + lits(m.group(1).toInt).replace("'", "''") + "'")).trim
  }

  /** Lift 'single' and "double" quoted strings into placeholders.
    * KQL double-quoted strings use backslash escapes; single-quoted
    * pass through raw. */
  private def liftStrings(s: String, reg: String => String): String = {
    val sb = new StringBuilder
    var last = 0
    SqlLex.literals(s).filter(l => s.charAt(l._1) != '`').foreach {
      case (a, b) =>
        val body = s.substring(a + 1, b - 1)
        sb.append(s.substring(last, a)).append(reg(
          if (s.charAt(a) == '\'') body else body.replaceAll("(?s)\\\\(.)", "$1")))
        last = b
    }
    sb.append(s.substring(last)).toString
  }

  /** The ParserKQLOperators.cpp catalog: contains/startswith/endswith/
    * has/hasprefix/hassuffix with !/_cs variants, in/!in/in~/!in~.
    * Case-insensitive is the KQL DEFAULT; _cs compares raw. Operands:
    * a simple column/call/placeholder-literal/number on either side
    * (the has-family needs a LITERAL needle to build its token-boundary
    * regex — loud otherwise). Runs on literal-lifted text, so operator
    * spellings inside strings never match. */
  private def rewriteStringOps(e0: String,
      lits: scala.collection.mutable.ArrayBuffer[String],
      reg: String => String): String = {
    val operand = "(?:[A-Za-z_][A-Za-z0-9_.]*\\s*\\([^()]*\\)|" +
      "__KQLLIT\\d+__|[A-Za-z_][A-Za-z0-9_.]*|\\d+(?:\\.\\d+)?)"
    def litOf(b: String, op: String): String = b.trim match {
      case lit if lit.matches("__KQLLIT\\d+__") =>
        lits("\\d+".r.findFirstIn(lit).get.toInt)
      case other => throw new IllegalArgumentException(
        s"KQL $op: the needle must be a string literal, got '$other'")
    }
    def rxQuote(s: String): String =
      s.replaceAll("([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1")
    def tokenMatch(a: String, b: String, op: String, ci: Boolean): String = {
      val t = rxQuote(litOf(b, op))
      val flag = if (ci) "(?i)" else ""
      s"($a RLIKE ${reg(s"$flag(^|[^0-9A-Za-z_])$t([^0-9A-Za-z_]|$$)")})"
    }
    def tokenPrefix(a: String, b: String, ci: Boolean): String = {
      val t = rxQuote(litOf(b, "hasprefix"))
      val flag = if (ci) "(?i)" else ""
      s"($a RLIKE ${reg(s"$flag(^|[^0-9A-Za-z_])$t")})"
    }
    def tokenSuffix(a: String, b: String, ci: Boolean): String = {
      val t = rxQuote(litOf(b, "hassuffix"))
      val flag = if (ci) "(?i)" else ""
      s"($a RLIKE ${reg(s"$flag$t([^0-9A-Za-z_]|$$)")})"
    }
    var e = e0
    // in~ / !in~ / in / !in with a parenthesized list
    e = ("(?i)(" + operand + ")\\s+(!?)in(~?)\\s*\\(([^()]*)\\)").r
      .replaceAllIn(e, m => {
        val a = m.group(1); val neg = m.group(2) == "!"
        val ci = m.group(3) == "~"
        val items = SqlLex.splitTop(m.group(4))
        val (lhs, list) =
          if (ci) (s"lower($a)", items.map(i => s"lower($i)"))
          else (a, items)
        java.util.regex.Matcher.quoteReplacement(
          s"$lhs ${if (neg) "NOT IN" else "IN"} (${list.mkString(", ")})")
      })
    val ops = Seq("contains_cs", "contains", "startswith_cs", "startswith",
      "endswith_cs", "endswith", "hasprefix_cs", "hasprefix",
      "hassuffix_cs", "hassuffix", "has_cs", "has_all", "has_any", "has")
    ops.foreach { op =>
      val re = ("(?i)(" + operand + ")\\s+(!?)" + op +
        (if (op == "has_all" || op == "has_any") "\\s*\\(([^()]*)\\)"
         else "\\s+(" + operand + ")")).r
      e = re.replaceAllIn(e, m => {
        val a = m.group(1)
        val neg = m.group(2) == "!"
        val b = m.group(3)
        val out = op match {
          case "contains" => s"(instr(lower($a), lower($b)) > 0)"
          case "contains_cs" => s"(instr($a, $b) > 0)"
          case "startswith" => s"startswith(lower($a), lower($b))"
          case "startswith_cs" => s"startswith($a, $b)"
          case "endswith" => s"endswith(lower($a), lower($b))"
          case "endswith_cs" => s"endswith($a, $b)"
          case "has" => tokenMatch(a, b, "has", ci = true)
          case "has_cs" => tokenMatch(a, b, "has_cs", ci = false)
          case "hasprefix" => tokenPrefix(a, b, ci = true)
          case "hasprefix_cs" => tokenPrefix(a, b, ci = false)
          case "hassuffix" => tokenSuffix(a, b, ci = true)
          case "hassuffix_cs" => tokenSuffix(a, b, ci = false)
          case "has_any" =>
            SqlLex.splitTop(b).map(x => tokenMatch(a, x, "has_any", ci = true))
              .mkString("(", " OR ", ")")
          case "has_all" =>
            SqlLex.splitTop(b).map(x => tokenMatch(a, x, "has_all", ci = true))
              .mkString("(", " AND ", ")")
        }
        java.util.regex.Matcher.quoteReplacement(
          if (neg) s"(NOT $out)" else out)
      })
    }
    e
  }

  // ---- KQL scalar-function tail --------------------------------------------

  /** Balanced rewrite of every `fn(args)` call: `out(args)` replaces the
    * call. Case-insensitive, budget-looped (output may contain further
    * calls of other names, never of `fn` itself). */
  private def rewriteCall(e0: String, fn: String,
      out: Seq[String] => String): String = {
    var e = e0
    val re = s"(?i)\\b$fn\\s*\\(".r
    var m = re.findFirstMatchIn(e)
    var guard = 0
    while (m.isDefined && guard < 64) {
      guard += 1
      val open = e.indexOf('(', m.get.start)
      val close = SqlLex.closeOf(e, open)
      require(close > 0, s"KQL: unbalanced brackets after $fn in '$e0'")
      val args = SqlLex.splitTop(e.substring(open + 1, close - 1))
      e = e.substring(0, m.get.start) + out(args) + e.substring(close)
      m = re.findFirstMatchIn(e)
    }
    e
  }

  /** The KQLFunctionFactory scalar surface this engine maps
    * (the KustoFunctions sources): 0-based string/array indexing, the
    * datetime start/end family, timespan arithmetic, binary ops, json
    * extraction. Literal-lifted input: string args appear as
    * __KQLLITn__ placeholders (resolve with `lit`, emit new literals
    * with `reg`). */
  private def rewriteKqlFunctions(e0: String,
      lits: scala.collection.mutable.ArrayBuffer[String],
      reg: String => String): String = {
    def lit(a: String): Option[String] = a.trim match {
      case x if x.matches("__KQLLIT\\d+__") =>
        Some(lits("\\d+".r.findFirstIn(x).get.toInt))
      case _ => None
    }
    def needLit(a: String, fn: String): String = lit(a).getOrElse(
      throw new IllegalArgumentException(
        s"KQL $fn: this argument must be a string literal, got '$a'"))
    def rxq(s: String): String =
      s.replaceAll("([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1")
    var e = e0
    // ---- strings ----
    // substring(s, start[, len]) — KQL is 0-based. The output spells the
    // SAME function name, so it goes out under a marker (renamed at the
    // bottom) or the budget loop would re-rewrite its own output.
    e = rewriteCall(e, "substring", a =>
      if (a.length >= 3)
        s"__KQLSUBSTR__(${a(0)}, CAST(${a(1)} AS INT) + 1, CAST(${a(2)} AS INT))"
      else s"__KQLSUBSTR__(${a(0)}, CAST(${a(1)} AS INT) + 1)")
    // indexof(s, sub) — 0-based, -1 on miss (instr is 1-based, 0 miss)
    e = rewriteCall(e, "indexof", a =>
      s"(instr(${a(0)}, ${a(1)}) - 1)")
    // countof(s, sub[, 'normal'|'regex'])
    e = rewriteCall(e, "countof", a => {
      val kind = a.lift(2).flatMap(lit).getOrElse("normal")
      val pat =
        if (kind == "regex") a(1)
        else reg(rxq(needLit(a(1), "countof")))
      s"CAST(regexp_count(${a(0)}, $pat) AS BIGINT)"
    })
    e = rewriteCall(e, "replace_string", a =>
      s"replace(${a(0)}, ${a(1)}, ${a(2)})")
    e = rewriteCall(e, "replace_regex", a =>
      s"regexp_replace(${a(0)}, ${a(1)}, ${a(2)})")
    e = rewriteCall(e, "strcat_delim", a =>
      s"concat_ws(${a.head}, ${a.tail.mkString(", ")})")
    e = rewriteCall(e, "strrep", a =>
      s"repeat(${a(0)}, CAST(${a(1)} AS INT))")
    e = rewriteCall(e, "strcmp", a =>
      s"(CASE WHEN ${a(0)} < ${a(1)} THEN -1 " +
        s"WHEN ${a(0)} > ${a(1)} THEN 1 ELSE 0 END)")
    // split(s, delim[, i]) — plain-string delimiter, 0-based element
    // (marker for the same self-spelling reason as substring)
    e = rewriteCall(e, "split", a => {
      val d = reg(rxq(needLit(a(1), "split")))
      val base = s"__KQLSPLIT__(${a(0)}, $d)"
      if (a.length >= 3) s"element_at($base, CAST(${a(2)} AS INT) + 1)"
      else base
    })
    // trim family — trim(regex, text) (KQL argument order)
    e = rewriteCall(e, "trim_start", a =>
      s"regexp_replace(${a(1)}, ${reg("^(?:" + needLit(a(0), "trim_start") + ")+")}, ${reg("")})")
    e = rewriteCall(e, "trim_end", a =>
      s"regexp_replace(${a(1)}, ${reg("(?:" + needLit(a(0), "trim_end") + ")+$")}, ${reg("")})")
    e = rewriteCall(e, "trim", a => {
      val r = needLit(a(0), "trim")
      s"regexp_replace(${a(1)}, ${reg(s"^(?:$r)+|(?:$r)+$$")}, ${reg("")})"
    })
    e = rewriteCall(e, "base64_encode_tostring", a => s"base64(${a(0)})")
    e = rewriteCall(e, "base64_decode_tostring", a =>
      s"CAST(unbase64(${a(0)}) AS STRING)")
    e = rewriteCall(e, "tohex", a => s"lower(hex(${a(0)}))")
    e = rewriteCall(e, "url_encode", a => s"encodeURLComponent(${a(0)})")
    e = rewriteCall(e, "url_decode", a => s"decodeURLComponent(${a(0)})")
    // extract(regex, group, text) / extract_json('$.p', json[, typeof])
    e = rewriteCall(e, "extract", a =>
      s"nullif(regexp_extract(${a(2)}, ${a(0)}, CAST(${a(1)} AS INT)), ${reg("")})")
    def exjson(a: Seq[String]): String = {
      val base = s"get_json_object(${a(1)}, ${a(0)})"
      a.lift(2).map(_.trim.toLowerCase) match {
        case Some(t) if t.startsWith("typeof") =>
          val ty = t.replaceAll("(?i)typeof\\s*\\(|\\)", "").trim match {
            case "int" => "INT"
            case "long" => "BIGINT"
            case "real" | "double" => "DOUBLE"
            case "bool" | "boolean" => "BOOLEAN"
            case _ => "STRING"
          }
          s"CAST($base AS $ty)"
        case _ => base
      }
    }
    e = rewriteCall(e, "extract_json", exjson)
    e = rewriteCall(e, "extractjson", exjson)
    e = rewriteCall(e, "parse_csv", a => s"split(${a(0)}, ${reg(",")})")
    // ---- arrays ----
    e = rewriteCall(e, "array_length", a =>
      s"CAST(size(${a(0)}) AS BIGINT)")
    e = rewriteCall(e, "array_concat", a => s"concat(${a.mkString(", ")})")
    e = rewriteCall(e, "array_reverse", a => s"reverse(${a(0)})")
    e = rewriteCall(e, "array_sum", a =>
      s"aggregate(${a(0)}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    // array_index_of: 0-based, -1 miss (array_position is 1-based/0)
    e = rewriteCall(e, "array_index_of", a =>
      s"(array_position(${a(0)}, ${a(1)}) - 1)")
    // array_slice(arr, start, end) — 0-based INCLUSIVE bounds
    e = rewriteCall(e, "array_slice", a =>
      s"slice(${a(0)}, CAST(${a(1)} AS INT) + 1, " +
        s"CAST(${a(2)} AS INT) - CAST(${a(1)} AS INT) + 1)")
    e = rewriteCall(e, "pack_array", a => s"array(${a.mkString(", ")})")
    e = rewriteCall(e, "set_union", a =>
      a.reduce((x, y) => s"array_union($x, $y)"))
    e = rewriteCall(e, "set_intersect", a =>
      a.reduce((x, y) => s"array_intersect($x, $y)"))
    e = rewriteCall(e, "set_difference", a =>
      a.reduce((x, y) => s"array_except($x, $y)"))
    e = rewriteCall(e, "set_has_element", a =>
      s"array_contains(${a(0)}, ${a(1)})")
    // ---- datetime ----
    Seq("day", "month", "year").foreach { u =>
      e = rewriteCall(e, s"startof$u", a =>
        s"date_trunc(${reg(u.toUpperCase)}, ${a(0)})")
      e = rewriteCall(e, s"endof$u", a =>
        s"(date_trunc(${reg(u.toUpperCase)}, ${a(0)}) + INTERVAL 1 " +
          s"$u - INTERVAL 1 MICROSECOND)")
    }
    e = rewriteCall(e, "getyear", a => s"year(${a(0)})")
    e = rewriteCall(e, "getmonth", a => s"month(${a(0)})")
    e = rewriteCall(e, "monthofyear", a => s"month(${a(0)})")
    e = rewriteCall(e, "dayofmonth", a => s"day(${a(0)})")
    e = rewriteCall(e, "hourofday", a => s"hour(${a(0)})")
    e = rewriteCall(e, "week_of_year", a => s"weekofyear(${a(0)})")
    // ago(1h) — timespan literal relative to now
    e = "(?i)\\bago\\s*\\(\\s*(\\d+)\\s*(d|h|m|s)\\s*\\)".r
      .replaceAllIn(e, m => {
        val unit = m.group(2).toLowerCase match {
          case "d" => "DAY"
          case "h" => "HOUR"
          case "m" => "MINUTE"
          case "s" => "SECOND"
        }
        s"(current_timestamp() - INTERVAL ${m.group(1)} $unit)"
      })
    // datetime_add/diff — chDateDiff carries the reference's
    // boundary-count semantics; KQL's diff is (period, later, earlier)
    e = rewriteCall(e, "datetime_add", a => {
      val u = needLit(a(0), "datetime_add").toUpperCase
      s"timestampadd($u, CAST(${a(1)} AS INT), ${a(2)})"
    })
    e = rewriteCall(e, "datetime_diff", a =>
      s"chDateDiff(${a(0)}, ${a(2)}, ${a(1)})")
    e = rewriteCall(e, "unixtime_seconds_todatetime", a =>
      s"timestamp_seconds(${a(0)})")
    e = rewriteCall(e, "unixtime_milliseconds_todatetime", a =>
      s"timestamp_millis(CAST(${a(0)} AS BIGINT))")
    e = rewriteCall(e, "unixtime_microseconds_todatetime", a =>
      s"timestamp_micros(CAST(${a(0)} AS BIGINT))")
    e = rewriteCall(e, "unixtime_nanoseconds_todatetime", a =>
      s"timestamp_micros(CAST(${a(0)} / 1000 AS BIGINT))")
    e = rewriteCall(e, "make_datetime", a =>
      if (a.length >= 6)
        s"make_timestamp(${a(0)}, ${a(1)}, ${a(2)}, ${a(3)}, ${a(4)}, ${a(5)})"
      else s"make_timestamp(${a(0)}, ${a(1)}, ${a(2)}, 0, 0, 0)")
    e = rewriteCall(e, "format_datetime", a =>
      s"date_format(${a(0)}, ${a(1)})")
    // ---- binary ----
    e = rewriteCall(e, "binary_and", a => s"(${a(0)} & ${a(1)})")
    e = rewriteCall(e, "binary_or", a => s"(${a(0)} | ${a(1)})")
    e = rewriteCall(e, "binary_xor", a => s"(${a(0)} ^ ${a(1)})")
    e = rewriteCall(e, "binary_not", a => s"(~${a(0)})")
    e = rewriteCall(e, "binary_shift_left", a =>
      s"shiftleft(${a(0)}, CAST(${a(1)} AS INT))")
    e = rewriteCall(e, "binary_shift_right", a =>
      s"shiftright(${a(0)}, CAST(${a(1)} AS INT))")
    e = rewriteCall(e, "bitset_count_ones", a => s"bit_count(${a(0)})")
    e.replace("__KQLSUBSTR__", "substring").replace("__KQLSPLIT__", "split")
  }

  // ---- small rewrite helpers ----------------------------------------------

  private def normalizeDt(raw0: String): String = {
    // ISO forms: 'T' separates date and time, a trailing 'Z' marks UTC
    // (this engine's session timezone IS UTC)
    val raw = raw0.trim.stripSuffix("Z").stripSuffix("z").replace("T", " ")
    val parts = raw.trim.split("\\s+")
    val d = parts(0).split("-").map(_.toInt)
    val date = f"${d(0)}%04d-${d(1)}%02d-${d(2)}%02d"
    if (parts.length == 1) date
    else {
      val t = parts(1).split(":").map(_.takeWhile(c => c.isDigit || c == '.'))
      val hh = f"${t(0).toInt}%02d"
      val mm = if (t.length > 1) f"${t(1).toInt}%02d" else "00"
      val ss = if (t.length > 2) t(2) else "00"
      s"$date $hh:$mm:${if (ss.length == 1) "0" + ss else ss}"
    }
  }
}
