package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pre-parse rewriter for ClickHouse SQL-isms (SURVEY §7 item 2) — the
  * Spark analog of the reference's parser-level clauses
  * (src/Parsers/ASTSelectQuery.h:18-39: PREWHERE, LIMIT BY, FINAL, FORMAT).
  *
  * Token-level and conservative: SQL with none of the CH-isms passes
  * through untouched; each rewrite maps a CH clause onto the standard
  * relational form Catalyst already optimizes.
  */
object ClickHouseSql {

  /** FINAL-able table registry: table → (keys, version columns), the
    * metadata a ReplacingMergeTree DDL would carry (ORDER BY = keys,
    * `ver` parameter = version). */
  private val replacingTables =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[String], Seq[String])]

  def registerReplacingTable(name: String, keys: Seq[String], version: Seq[String]): Unit =
    replacingTables.put(name.toLowerCase, (keys, version))

  /** Apply all textual rewrites. */
  def rewrite(sql: String): String = {
    // every rewrite below matches outside literals and comments only
    // (SqlLex); comments go first, so none of them ever sees one
    var s = SqlLex.stripComments(sql)
    s = rewriteFormat(s)
    s = rewriteSettings(s)
    s = rewriteNumbers(s)
    s = rewriteGenerateRandom(s)
    // GLOBAL IN / GLOBAL JOIN: a distributed-execution hint (broadcast the
    // right side to every shard) — Catalyst + AQE own that decision here
    s = SqlLex.replaceAll(s, ("(?i)\\bGLOBAL\\s+(?=(NOT\\s+)?IN\\b|ANY\\b|ALL\\b|" +
      "INNER\\b|LEFT\\b|RIGHT\\b|FULL\\b|JOIN\\b)").r)(_ => "")
    // CH dateDiff('unit', a, b): Spark's parser OWNS the datediff name
    // (special unquoted-unit grammar, rejects the string form at parse
    // time) — rename the quoted-unit spelling to the registered
    // boundary-semantics builder before parsing.
    s = SqlLex.replaceAll(s,
      "(?i)\\b(dateDiff|date_diff|timestampDiff|timestamp_diff)\\s*\\(\\s*(?=')".r)(
      _ => "chDateDiff(")
    s = rewriteParametric(s)
    s = rewriteSample(s)
    s = rewriteArrayJoin(s)
    s = rewritePrewhere(s)
    s = rewriteFinal(s)
    s = rewriteGroupsFrames(s)
    // TOTALS before QUALIFY: the qualify wrap parenthesizes the core,
    // which would hide a depth-0 WITH TOTALS from its own rewrite
    s = rewriteWithTotals(s)
    s = rewriteQualify(s)
    s = rewriteWithFill(s)
    s = rewriteDistinctOn(s)
    s = rewriteLimitBy(s)
    s = rewriteLimitOffsetComma(s)
    s = rewriteTop(s)
    s = rewriteCountEmpty(s)
    s = rewriteAnyAgg(s)
    s = rewriteMatrixAggs(s)
    s = inlineUserFunctions(s)
    s
  }

  /** GROUPS window frames (reference WindowDescription.h:30-40 —
    * WindowFrame::FrameType::GROUPS makes peer groups of the ORDER BY
    * value the frame unit; Spark only has ROWS/RANGE). General rewrite
    * (round-13, generalizing the one-query q_win_groups_frame
    * emulation): every `OVER ([PARTITION BY p] ORDER BY o GROUPS
    * BETWEEN a AND b)` in the TOP-LEVEL select list gains a dense_rank
    * group index computed in a wrapping subquery —
    *   `dense_rank() OVER (PARTITION BY p ORDER BY o) AS __grp_i`
    * — and the frame becomes `ORDER BY __grp_i RANGE BETWEEN a AND b`:
    * equal-o rows share one __grp value, so a RANGE offset over the
    * integer group index counts PEER GROUPS exactly like the reference.
    * Same single window shuffle (the subquery's dense_rank and the
    * outer window hash-partition identically — Catalyst reuses the
    * Exchange), so the emulation adds no scale cost.
    *
    * Supported form: a top-level SELECT over one FROM segment with
    * optional WHERE and trailing ORDER BY/LIMIT; GROUP BY / HAVING /
    * set operations with a GROUPS frame reject loudly (never a silent
    * misread), as do GROUPS frames inside subqueries or CTE bodies. */
  private def rewriteGroupsFrames(s0: String): String = {
    val groupsRe = "(?i)\\bGROUPS\\s+BETWEEN\\b".r
    if (SqlLex.firstMatch(s0, groupsRe).isEmpty) return s0
    var s = s0
    // collected distinct (partitionBy, orderBy) specs → __grp_i index
    val specs = scala.collection.mutable.LinkedHashMap.empty[(String, String), Int]
    val overRe = "(?i)\\bOVER\\s*\\(".r
    val bodyRe = ("(?is)^\\s*(?:PARTITION\\s+BY\\s+(.+?)\\s+)?ORDER\\s+BY\\s+" +
      "(.+?)\\s+GROUPS\\s+BETWEEN\\s+" +
      "(UNBOUNDED\\s+PRECEDING|CURRENT\\s+ROW|\\d+\\s+(?:PRECEDING|FOLLOWING))" +
      "\\s+AND\\s+" +
      "(UNBOUNDED\\s+FOLLOWING|CURRENT\\s+ROW|\\d+\\s+(?:PRECEDING|FOLLOWING))" +
      "\\s*$").r
    var replaced = true
    var budget = 16
    while (replaced && budget > 0) {
      replaced = false
      budget -= 1
      val m = SqlLex.mask(s)
      // the OVER may nest inside EXPRESSION parens (CAST(sum(x) OVER …))
      // but not inside a (SELECT …) subquery — a __grp_i computed in the
      // top-level wrap would be out of scope there
      def insideSubquery(pos: Int): Boolean =
        "(?i)\\(\\s*(?:SELECT|WITH)\\b".r.findAllMatchIn(m)
          .exists(q => q.start < pos && SqlLex.closeOf(m, q.start) > pos)
      overRe.findAllMatchIn(m).find { om =>
        val open = m.indexOf('(', om.start)
        val close = SqlLex.closeOf(m, open)
        close > open &&
          groupsRe.findFirstIn(m.substring(open + 1, close - 1)).isDefined
      } match {
        case Some(om) =>
          val open = m.indexOf('(', om.start)
          val close = SqlLex.closeOf(m, open)
          if (insideSubquery(om.start))
            throw new IllegalArgumentException(
              "GROUPS frames are supported in the top-level select list " +
                "only — hoist the subquery's window or use ROWS/RANGE")
          val body = s.substring(open + 1, close - 1)
          body match {
            case bodyRe(part, ord, a, b) =>
              val key = (Option(part).map(_.trim).getOrElse(""), ord.trim)
              val idx = specs.getOrElseUpdate(key, specs.size)
              val pclause = if (key._1.isEmpty) "" else s"PARTITION BY ${key._1} "
              s = s.substring(0, open + 1) +
                s"${pclause}ORDER BY __grp_$idx RANGE BETWEEN $a AND $b" +
                s.substring(close - 1)
              replaced = true
            case _ => throw new IllegalArgumentException(
              "GROUPS frame: unsupported window body — expected " +
                "[PARTITION BY …] ORDER BY … GROUPS BETWEEN a AND b, got: " +
                body.trim.take(120))
          }
        case None =>
      }
    }
    if (specs.isEmpty) return s
    // wrap the top-level SELECT: its FROM[+WHERE] segment moves into a
    // subquery that also computes every __grp_i
    def at(kw: String, from: Int = 0): Option[Int] =
      SqlLex.find(s, kw, from).map(_._1)
    if (Seq("GROUP BY", "HAVING", "UNION", "INTERSECT", "EXCEPT")
        .exists(at(_).isDefined))
      throw new IllegalArgumentException(
        "GROUPS frame: not supported together with a top-level GROUP BY/" +
          "HAVING/set operation — wrap the aggregation in a subquery")
    val selIdx = at("SELECT").getOrElse(
      throw new IllegalArgumentException(
        "GROUPS frame: no top-level SELECT found"))
    val fromIdx = at("FROM", selIdx).getOrElse(
      throw new IllegalArgumentException(
        "GROUPS frame: the select needs a FROM clause"))
    val tailIdx = (at("ORDER BY", fromIdx) ++ at("LIMIT", fromIdx))
      .minOption.getOrElse(s.length)
    val sel = s.substring(selIdx + 6, fromIdx)
    // a star projection (`SELECT *` / `SELECT t.*`) would silently gain
    // the __grp_N helper columns the wrap computes — loud reject, like
    // the other unsupported shapes (`count(*)` is fine: its star sits
    // inside parens; `a * b` is fine: its star follows an operand)
    SqlLex.findAll(sel, "*").foreach { case (i, _) =>
      val prev = sel.substring(0, i).reverse.dropWhile(_.isWhitespace)
        .headOption
      if (prev.isEmpty || prev.contains(',') || prev.contains('.'))
        throw new IllegalArgumentException(
          "GROUPS frame: `SELECT *` is not supported with a GROUPS " +
            "window (the rewrite adds helper columns a star would " +
            "leak) — list the output columns explicitly")
    }
    val src = s.substring(fromIdx + 4, tailIdx).trim.stripSuffix(";")
    val tail = if (tailIdx >= s.length) "" else " " + s.substring(tailIdx)
    val grps = specs.map { case ((p, o), i) =>
      val pc = if (p.isEmpty) "" else s"PARTITION BY $p "
      s"dense_rank() OVER (${pc}ORDER BY $o) AS __grp_$i"
    }.mkString(", ")
    s.substring(0, selIdx) +
      s"SELECT $sel FROM (SELECT *, $grps FROM $src) __groups_base" + tail
  }

  /** corrMatrix / covarSampMatrix / covarPopMatrix (reference
    * AggregateFunctionCorrMatrix.cpp et al. — the n-ary matrix
    * aggregates): `corrMatrix(a, b, c)` expands to the nested-array
    * pairwise form `array(array(corr(a,a), corr(a,b), …), …)`, so each
    * cell is an ordinary codegen'd aggregate and the matrix assembles in
    * the final projection. */
  private def rewriteMatrixAggs(s0: String): String = {
    var s = s0
    Seq(("corrMatrix", "corr"), ("covarSampMatrix", "covar_samp"),
        ("covarPopMatrix", "covar_pop")).foreach { case (name, fn) =>
      val re = ("(?i)\\b" + name + "\\s*(\\()").r
      var m = SqlLex.firstMatch(s, re)
      var guard = 0
      while (m.isDefined && guard < 32) {
        guard += 1
        val open = m.get.start(1)
        val end = SqlLex.closeOf(s, open)
        if (end < 0) guard = 32
        else {
          val args = SqlLex.splitTop(s.substring(open + 1, end - 1))
          val matrix = args.map(a =>
            args.map(b => s"$fn($a, $b)").mkString("array(", ", ", ")"))
            .mkString("array(", ", ", ")")
          s = s.substring(0, m.get.start) + matrix + s.substring(end)
        }
        m = SqlLex.firstMatch(s, re)
      }
    }
    s
  }

  /** `ORDER BY axis WITH FILL FROM a TO b [STEP s] [INTERPOLATE (col)]`
    * (reference: FillingTransform + InterpolateDescription,
    * src/Parsers/ASTSelectQuery.h:38): densify the integer axis with a
    * sequence + LEFT JOIN; INTERPOLATE (col) carries col forward over the
    * filled rows (last non-null). The fill window runs over the DENSE AXIS
    * rows only — bounded by (b-a)/s, not by input size. Supported form:
    * clause terminates the query; integer axis. */
  private def rewriteWithFill(s: String): String = {
    // DATE/DATETIME axis form (round 8): FROM toDate('…') TO toDate('…')
    // STEP INTERVAL n unit — the grid is a date/timestamp sequence,
    // [FROM, TO) like the integer form; source rows outside the range
    // survive through the same FULL OUTER join.
    val reDate = ("(?is)\\bORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+WITH\\s+FILL\\s+" +
      "FROM\\s+(toDate|toDateTime)\\('([^']+)'\\)\\s+TO\\s+(?:toDate|toDateTime)\\('([^']+)'\\)" +
      "\\s+STEP\\s+INTERVAL\\s+(\\d+)\\s+([A-Za-z]+)" +
      "(?:\\s+INTERPOLATE\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\))?\\s*;?\\s*$").r
    SqlLex.firstMatch(s, reDate) match {
      case Some(m) =>
        val axis = m.group(1)
        val lit = if (m.group(2).equalsIgnoreCase("toDate")) "DATE" else "TIMESTAMP"
        val from = m.group(3)
        val to = m.group(4)
        val n = m.group(5)
        val unit = m.group(6).toUpperCase
        val interp = Option(m.group(7))
        val core = s.substring(0, m.start)
        val joined =
          s"(SELECT $axis FROM (SELECT explode(sequence($lit '$from', $lit '$to', " +
            s"INTERVAL $n $unit)) AS $axis) WHERE $axis < $lit '$to') __fill_axis " +
            s"FULL OUTER JOIN ($core) __fill_src USING ($axis)"
        return (interp match {
          case Some(c) =>
            s"SELECT $axis, last($c, true) OVER (ORDER BY $axis " +
              s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $c " +
              s"FROM $joined ORDER BY $axis"
          case None => s"SELECT * FROM $joined ORDER BY $axis"
        })
      case None =>
    }
    val re = ("(?is)\\bORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+WITH\\s+FILL\\s+" +
      "FROM\\s+(-?\\d+)\\s+TO\\s+(-?\\d+)(?:\\s+STEP\\s+(-?\\d+))?" +
      "(?:\\s+STALENESS\\s+(\\d+))?" +
      "(?:\\s+INTERPOLATE\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\))?\\s*;?\\s*$").r
    SqlLex.firstMatch(s, re) match {
      case None => s
      case Some(m) =>
        val axis = m.group(1)
        val from = m.group(2).toLong
        val to = m.group(3).toLong
        val step = Option(m.group(4)).map(_.toLong).getOrElse(1L)
        // the `to - 1` upper bound assumes an ascending fill — a
        // non-positive step would silently emit a wrong sequence
        // (round-2 advice); ClickHouse itself requires STEP > 0 here.
        require(step > 0, s"WITH FILL STEP must be positive, got $step")
        val stale = Option(m.group(5)).map(_.toLong)
        val interp = Option(m.group(6))
        val core = s.substring(0, m.start)
        stale match {
          case None =>
            // FULL OUTER: ClickHouse WITH FILL KEEPS source rows whose axis
            // value lies outside [FROM, TO) — only the axis grid is
            // generated, never used to filter (round-2 advice; LEFT JOIN
            // from the axis dropped them).
            val joined = s"(SELECT explode(sequence($from, ${to - 1}, $step)) AS $axis) __fill_axis " +
              s"FULL OUTER JOIN ($core) __fill_src USING ($axis)"
            interp match {
              case Some(c) =>
                s"SELECT $axis, last($c, true) OVER (ORDER BY $axis " +
                  s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $c " +
                  s"FROM $joined ORDER BY $axis"
              case None =>
                s"SELECT * FROM $joined ORDER BY $axis"
            }
          case Some(st) =>
            // WITH FILL … STALENESS n (FillingTransform.h:87,
            // FillingTransform.cpp staleness_border): a generated row
            // survives only while its axis value is within `n` of the
            // PREVIOUS ORIGINAL row (strictly: fill < prev_original + n,
            // the reference's staleness_border comparison); rows before
            // the first original row are never generated. Original rows
            // always survive. The window runs over the dense axis only —
            // bounded by (TO-FROM)/STEP rows.
            val joined = s"(SELECT explode(sequence($from, ${to - 1}, $step)) AS $axis) __fill_axis " +
              s"FULL OUTER JOIN (SELECT *, 1 AS __src FROM ($core)) __fill_src USING ($axis)"
            val marked = s"SELECT *, last(CASE WHEN __src = 1 THEN $axis END, true) " +
              s"OVER (ORDER BY $axis ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
              s"AS __prev FROM $joined"
            val kept = s"SELECT * EXCEPT (__src, __prev) FROM ($marked) " +
              s"WHERE __src = 1 OR (__prev IS NOT NULL AND $axis - __prev < $st)"
            interp match {
              case Some(c) =>
                s"SELECT $axis, last($c, true) OVER (ORDER BY $axis " +
                  s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $c " +
                  s"FROM ($kept) ORDER BY $axis"
              case None =>
                s"SELECT * FROM ($kept) ORDER BY $axis"
            }
        }
    }
  }

  /** CH zero-arg `count()` → `count(*)` (the registry deliberately does
    * not shadow Spark's `count`). */
  private def rewriteCountEmpty(s: String): String =
    SqlLex.replaceAll(s, "(?i)\\bcount\\s*\\(\\s*\\)".r)(_ => "count(*)")

  /** CH `any(x)` (arbitrary-value aggregate) → Spark `any_value(x)`.
    * Spark's built-in `any` is bool_or — the one alias that CANNOT be
    * registered without corrupting standard SQL (see ChFunctionRegistry). */
  private def rewriteAnyAgg(s: String): String =
    SqlLex.replaceAll(s, "(?i)\\bany\\s*\\(".r)(_ => "any_value(")

  // ---- CREATE FUNCTION (SQL-lambda UDF) ------------------------------
  // Reference: user-defined SQL functions stored by name and expanded at
  // query time (src/Functions/UserDefined/UserDefinedSQLFunctionFactory.h:18,
  // ...SQLFunctionVisitor.h). Spark rendering: a macro table + textual
  // inline at rewrite time — the expanded expression is ordinary Catalyst,
  // so codegen/pushdown see no function boundary at all.
  private val userFunctions =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[String], String)]

  private val createFnRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?FUNCTION\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s*" +
      "\\(\\s*([A-Za-z0-9_,\\s]*?)\\s*\\)\\s*->\\s*(.+?)\\s*;?\\s*$").r

  /** `CREATE FUNCTION f AS (x, y) -> expr`: store the lambda. Returns true
    * if the statement was a CREATE FUNCTION. */
  def createFunction(stmt: String): Boolean = createFnRe.findFirstMatchIn(stmt) match {
    case Some(m) =>
      val params = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      userFunctions.put(m.group(1).toLowerCase, (params, m.group(3)))
      true
    case None => false
  }

  def dropFunction(name: String): Unit = userFunctions.remove(name.toLowerCase)

  /** Expand stored SQL-lambda calls. Argument split respects nesting
    * (parentheses) and quoted strings; expansion repeats so lambdas can
    * call other lambdas (bounded to avoid cycles). */
  private def inlineUserFunctions(sql: String): String = {
    if (userFunctions.isEmpty) return sql
    var s = sql
    var pass = 0
    var budget = 64 // total-expansion cap: a self-recursive lambda must terminate
    var changed = true
    while (changed && pass < 8) {
      changed = false
      pass += 1
      userFunctions.foreach { case (name, (params, body)) =>
        val call = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\s*\\(").r
        var m = SqlLex.firstMatch(s, call)
        while (m.isDefined && budget > 0) {
          budget -= 1
          val start = m.get.start
          val end = SqlLex.closeOf(s, m.get.end - 1)
          if (end < 0) return s // unbalanced; leave untouched
          val rawArgs = SqlLex.splitTop(s.substring(m.get.end, end - 1))
          // Two-phase substitution (round-2 advice): first every parameter
          // becomes a collision-free placeholder (skipping the body's
          // string literals), THEN placeholders become argument texts — a
          // sequential single pass would rewrite parameter names occurring
          // inside already-injected arguments (f AS (x,y) -> x+y called as
          // f(y,1) expanded to ((1))+(1)).
          var expanded = body
          val placeholders = params.zipWithIndex.map { case (p, i) =>
            (p, s"__graft_arg_${i}__")
          }
          placeholders.foreach { case (p, tok) =>
            expanded = SqlLex.replaceAll(expanded,
              ("(?i)\\b" + java.util.regex.Pattern.quote(p) + "\\b").r)(_ => tok)
          }
          placeholders.map(_._2).zip(rawArgs).foreach { case (tok, a) =>
            expanded = expanded.replace(tok, s"($a)")
          }
          s = s.substring(0, start) + "(" + expanded + ")" + s.substring(end)
          changed = true
          m = SqlLex.firstMatch(s, call)
        }
      }
    }
    s
  }

  /** `FROM t [LEFT] ARRAY JOIN e1 [AS a1], e2 [AS a2]…` (reference
    * ArrayJoinAction / ASTArrayJoin) → LATERAL VIEW [OUTER] explode.
    * Parallel arrays ZIP (reference semantics, not a cartesian): the
    * first item drives a posexplode and the rest ride
    * `element_at(e_k, _aj_pos + 1)` through single-element explodes.
    * A bare-identifier item shadows the source column with the element
    * (reference behavior), via a `* EXCEPT` renaming subquery. */
  private val arrayJoinFromRef =
    "[A-Za-z_][A-Za-z0-9_.]*|\\((?:[^()]|\\([^()]*\\))*\\)(?:\\s+[A-Za-z_][A-Za-z0-9_]*)?"

  private val arrayJoinRe =
    ("(?is)\\bFROM\\s+(" + arrayJoinFromRef + ")\\s+(LEFT\\s+)?ARRAY\\s+JOIN\\s+" +
      "(.*?)(?=\\s+WHERE\\b|\\s+GROUP\\b|\\s+HAVING\\b|\\s+ORDER\\b|\\s+LIMIT\\b|\\s*$)").r

  @annotation.tailrec
  private def rewriteArrayJoin(s: String, budget: Int = 8): String =
    if (budget <= 0) s
    else SqlLex.firstMatch(s, arrayJoinRe) match {
      case None => s
      case Some(m) =>
        val table = m.group(1).trim
        val outer = if (m.group(2) != null) "OUTER " else ""
        val asRe = "(?is)^(.*?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
        val items = SqlLex.splitTop(m.group(3)).map {
          case asRe(e, a) => (e.trim, a)
          case bare => (bare.trim, bare.trim)
        }
        // bare identifiers shadow the source column: rename it away first
        val bare = items.collect {
          case (e, a) if e == a && e.matches("[A-Za-z_][A-Za-z0-9_]*") => e
        }
        val srcName = bare.map(b => b -> s"_aj_src_$b").toMap
        val base =
          if (bare.isEmpty) table
          else s"(SELECT * EXCEPT (${bare.mkString(", ")}), " +
            bare.map(b => s"$b AS ${srcName(b)}").mkString(", ") +
            s" FROM $table) _aj_base"
        val exprs = items.map { case (e, a) => (srcName.getOrElse(e, e), a) }
        val views =
          if (exprs.length == 1)
            Seq(s"LATERAL VIEW ${outer}EXPLODE(${exprs.head._1}) _aj1 AS ${exprs.head._2}")
          else {
            val (e1, a1) = exprs.head
            s"LATERAL VIEW ${outer}POSEXPLODE($e1) _aj1 AS _aj_pos, $a1" +:
              exprs.tail.zipWithIndex.map { case ((e, a), i) =>
                s"LATERAL VIEW EXPLODE(ARRAY(ELEMENT_AT($e, _aj_pos + 1))) _aj${i + 2} AS $a"
              }
          }
        rewriteArrayJoin(
          s.substring(0, m.start) + s"FROM $base ${views.mkString(" ")}" +
            s.substring(m.end),
          budget - 1)
    }

  /** `... FORMAT JSONEachRow` → strip (output format is the caller's
    * concern in a DataFrame engine). */
  private def rewriteFormat(s: String): String =
    SqlLex.replaceAll(s,
      "(?is)\\bFORMAT\\s+[A-Za-z][A-Za-z0-9]*\\s*;?\\s*$".r)(_ => "")

  /** Reference parametric-aggregate call syntax `f(params)(args)` —
    * `quantile(0.9)(x)`, `quantiles(0.25, 0.75)(x)` — rearranged to the
    * registry's `f(args, params)` shape. Scoped to the quantile family
    * (the registered parametric names). */
  private val parametricName =
    ("(?i)\\b(quantiles?(?:exactweightedinterpolated|exactweighted|" +
      "exactlow|exacthigh|exactinclusive|exactexclusive|exact|" +
      "tdigestweighted|tdigest|timingweighted|timing|gk|dd|" +
      "bfloat16weighted|bfloat16|deterministic|" +
      "interpolatedweighted)?|groupArrayLast|groupArraySample|" +
      "stochasticLinearRegression(?:State)?|" +
      "stochasticLogisticRegression(?:State)?|" +
      // sweep #9 parametric families (params appended after the args)
      "medians?(?:exact|tdigest|timing|gk|dd|bfloat16|deterministic|" +
      "interpolatedweighted|exactweighted|exactlow|exacthigh)?" +
      "(?:weighted|weightedinterpolated)?|" +
      "topK(?:Weighted)?|approx_top_(?:count|sum)|uniqUpTo|windowFunnel|" +
      "sequenceMatch|sequenceMatchEvents|sequenceCount|" +
      "exponentialMovingAverage|lttb|" +
      "largestTriangleThreeBuckets|sparkbar|groupArraySorted|groupConcat|" +
      "sumMapFiltered(?:WithOverflow)?|histogram|meanZTest|" +
      "mannWhitneyUTest|groupArrayInsertAt|sequenceNextNode|" +
      "estimateCompressionRatio)\\s*\\(").r

  private def rewriteParametric(s: String): String = {
    var out = s
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      changed = false
      guard += 1
      val hit = SqlLex.matchesIn(out, parametricName).flatMap { m =>
        val open1 = m.end - 1
        val end1 = SqlLex.closeOf(out, open1)
        val open2 = if (end1 < 0) -1
          else out.indexWhere(!_.isWhitespace, end1)
        val end2 =
          if (open2 < 0 || out.charAt(open2) != '(') -1
          else SqlLex.closeOf(out, open2)
        if (end2 < 0) None
        else Some((m.start, end2, m.group(1),
          out.substring(open1 + 1, end1 - 1).trim,
          out.substring(open2 + 1, end2 - 1).trim))
      }.nextOption()
      hit.foreach { case (start, end, name, params, args) =>
        out = out.substring(0, start) + s"$name($args, $params)" +
          out.substring(end)
        changed = true
      }
    }
    out
  }

  /** `FROM t SAMPLE 0.x` (reference SAMPLE BY read sampling) →
    * deterministic TABLESAMPLE with a pinned seed. Fraction form only
    * (the approximate-row-count form needs the sampling-key layout the
    * parquet corpus doesn't carry; `q_sample_by_key` is that operator). */
  private def rewriteSample(s: String): String = {
    val frac = "(?is)\\bSAMPLE\\s+(0?\\.\\d+)".r
    // exact decimal ×100, not (toDouble*100).toInt — 0.29*100 is
    // 28.999... in binary and toInt truncated it to 28 PERCENT
    SqlLex.replaceAll(s, frac)(m =>
      s"TABLESAMPLE (${(BigDecimal(m.group(1)) * 100).bigDecimal.stripTrailingZeros.toPlainString} PERCENT) REPEATABLE (42)")
  }

  /** `FROM numbers(n)` / `numbers(a, b)` SQL table function
    * (reference TableFunctionNumbers) → Spark's `range` table function,
    * column renamed to the reference's `number`. zeros(n) / zeros_mt(n)
    * (TableFunctionZeros) is the same shape with a constant `zero`
    * column (the reference's cheapest row generator; _mt differs only
    * in the reference's threading, which Spark owns here). */
  private def rewriteNumbers(s: String): String = {
    val one = "(?is)\\bFROM\\s+numbers\\s*\\(\\s*(\\d+)\\s*\\)".r
    val two = "(?is)\\bFROM\\s+numbers\\s*\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
    val zeros = "(?is)\\bFROM\\s+zeros(?:_mt)?\\s*\\(\\s*(\\d+)\\s*\\)".r
    val s1 = SqlLex.replaceAll(s, two)(m =>
      s"FROM (SELECT id AS number FROM range(${m.group(1)}, ${m.group(1).toLong + m.group(2).toLong})) _nums")
    val s2 = SqlLex.replaceAll(s1, one)(m =>
      s"FROM (SELECT id AS number FROM range(${m.group(1)})) _nums")
    SqlLex.replaceAll(s2, zeros)(m =>
      s"FROM (SELECT CAST(0 AS TINYINT) AS zero FROM range(${m.group(1)})) _zeros")
  }

  /** `FROM generateRandom('a UInt32, b String, ...'[, seed])` table
    * function (reference TableFunctionGenerateRandom): deterministic
    * pseudo-random rows derived from a multiplicative hash of the row id
    * and the seed — with a seed the reference is likewise reproducible
    * (the VALUE distribution is engine-specific there too, so
    * determinism-given-seed is the portable contract; the battery's
    * oracle recomputes the same arithmetic). Bounded by the outer LIMIT
    * over a 1e6-row base range. */
  private def rewriteGenerateRandom(s: String): String = {
    val re = ("(?is)\\bFROM\\s+generateRandom\\s*\\(\\s*'([^']*)'" +
      "\\s*(?:,\\s*(\\d+)\\s*)?\\)").r
    SqlLex.replaceAll(s, re)(m => {
      val seed = Option(m.group(2)).getOrElse("42").toLong
      val cols = m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
        .zipWithIndex.map { case (cd, i) =>
          val parts = cd.split("\\s+", 2)
          require(parts.length == 2, s"generateRandom: bad column '$cd'")
          val (name, tpe) = (parts(0), parts(1))
          val h = s"((id * 2654435761 + ${seed + i * 77}) % 4294967296)"
          tpe.toLowerCase match {
            case t if t.startsWith("uint") || t.startsWith("int") =>
              s"CAST($h AS BIGINT) AS $name"
            case t if t.startsWith("float") =>
              s"CAST($h AS DOUBLE) / 4294967296.0 AS $name"
            case t if t.startsWith("string") =>
              s"concat('v', CAST($h % 10000 AS STRING)) AS $name"
            case other => throw new IllegalArgumentException(
              s"generateRandom: unsupported type '$other'")
          }
        }
      s"FROM (SELECT ${cols.mkString(", ")} FROM range(1000000)) _genrnd"
    })
  }

  /** Trailing `SETTINGS k = v, …` → strip (per-query engine knobs have no
    * Spark analog at the SQL layer; session confs carry that role). */
  private def rewriteSettings(s: String): String =
    SqlLex.replaceAll(s, ("(?is)\\bSETTINGS\\s+\\w+\\s*=\\s*[^,;\\s]+" +
      "(\\s*,\\s*\\w+\\s*=\\s*[^,;\\s]+)*\\s*;?\\s*$").r)(_ => "")

  /** PREWHERE cond → merged into WHERE. The reference evaluates PREWHERE
    * before reading remaining columns (MergeTreeWhereOptimizer); Spark's
    * parquet predicate pushdown gives the same effect, so semantically the
    * clause is just a conjunct. */
  private def rewritePrewhere(s: String): String = {
    val pre = "(?is)\\bPREWHERE\\b(.*?)(\\bWHERE\\b|\\bGROUP\\s+BY\\b|\\bORDER\\s+BY\\b|\\bLIMIT\\b|$)".r
    SqlLex.firstMatch(s, pre) match {
      case None => s
      case Some(m) =>
        val cond = m.group(1).trim
        val follows = m.group(2)
        if (follows.equalsIgnoreCase("where"))
          s.substring(0, m.start) + s"WHERE ($cond) AND " + s.substring(m.end)
        else
          s.substring(0, m.start) + s"WHERE ($cond) " + follows +
            s.substring(m.end)
    }
  }

  /** `FROM t FINAL` → latest-version-per-key subselect for tables
    * registered as Replacing (reference: FINAL read mode of
    * ReadFromMergeTree). */
  private def rewriteFinal(s: String): String = {
    val fin = "(?is)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+FINAL\\b".r
    SqlLex.replaceAll(s, fin)(m => {
      val t = m.group(1)
      replacingTables.get(t.toLowerCase) match {
        case Some((keys, ver)) =>
          val part = keys.mkString(", ")
          val ord = ver.map(v => s"$v DESC").mkString(", ")
          s"FROM (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY $part ORDER BY $ord) AS __ver_rn FROM $t) WHERE __ver_rn = 1) $t"
        case None => s"FROM $t"
      }
    })
  }

  /** `[ORDER BY o] LIMIT n BY k1, k2` → per-key row_number filter
    * (reference: LimitByTransform). ClickHouse clause order puts LIMIT BY
    * after ORDER BY; the query's ORDER BY defines the per-key pick order
    * (the keys themselves if absent). Supported form: the LIMIT BY clause
    * terminates the query. */
  /** `SELECT DISTINCT ON (k1, k2) …` (reference ASTSelectQuery
    * distinct_on) ≡ `LIMIT 1 BY k1, k2`. A trailing `LIMIT n [OFFSET m]`
    * applies AFTER the per-key dedup (CH clause order), so it is stripped
    * first and re-applied around the rewritten query — naively appending
    * ` LIMIT 1 BY keys` after an existing LIMIT produced invalid SQL (the
    * advice-round bug: the LIMIT-BY window regex then swallowed
    * `k LIMIT 10` as its ORDER BY spec). */
  /** `QUALIFY pred` (ASTSelectQuery's qualify clause — a filter over
    * window results): rewritten to the wrap the reference's analyzer
    * performs —
    *   SELECT * EXCEPT(__qualify)
    *   FROM (SELECT *, (pred) AS __qualify FROM (core) graft_qualify_sub)
    *   WHERE __qualify [tail]
    * Core select-list window ALIASES resolve as plain columns in pred;
    * raw OVER expressions in pred compute in the wrapper over the
    * core's output columns (they must be projected by the core — the
    * documented scope). The trailing ORDER BY / LIMIT stays outside. */
  private def rewriteQualify(s0: String): String = {
    if (SqlLex.find(s0, "QUALIFY").isEmpty) return s0
    // INSERT INTO t SELECT … QUALIFY …: rewrite the SELECT part only
    if (s0.trim.matches("(?is)^INSERT\\b.*")) {
      val selAt = SqlLex.find(s0, "SELECT").fold(-1)(_._1)
      return if (selAt <= 0) s0
      else s0.substring(0, selAt) + rewriteQualify(s0.substring(selAt))
    }
    if (!s0.trim.matches("(?is)^(SELECT|WITH)\\b.*")) return s0
    val s = s0.trim.stripSuffix(";")
    val (at, atEnd) = SqlLex.find(s, "QUALIFY").get
    val core = s.substring(0, at).trim
    val after = s.substring(atEnd).trim
    val tailAt = Seq("ORDER BY", "LIMIT", "FORMAT", "SETTINGS",
      "INTO OUTFILE", "UNION")
      .flatMap(k => SqlLex.find(after, k)).map(_._1).minOption
    val (pred, tail) = tailAt match {
      case Some(i) => (after.substring(0, i).trim, " " + after.substring(i))
      case None => (after, "")
    }
    // recurse for a QUALIFY in the tail's set-op branches (rare)
    s"SELECT * EXCEPT(__qualify) FROM (SELECT *, ($pred) AS __qualify " +
      s"FROM ($core) graft_qualify_sub) WHERE __qualify$tail"
  }

  /** `GROUP BY k1, k2 WITH TOTALS` (ASTSelectQuery group_by_with_totals;
    * TotalsHavingTransform): the reference emits an extra all-aggregated
    * totals row — the declarative mapping is the global grouping set,
    * `GROUP BY GROUPING SETS ((k1, k2), ())`, whose extra row carries
    * NULL keys (the reference's separate totals block renders key
    * defaults; the NULL-keyed row is the documented Spark rendering).
    * WITH ROLLUP / WITH CUBE pass through — Spark speaks them natively. */
  private def rewriteWithTotals(s: String): String = {
    val (at, atEnd) = SqlLex.find(s, "WITH TOTALS").getOrElse(return s)
    // the GROUP BY this TOTALS belongs to: the last depth-0 GROUP BY
    // before it
    val (gbAt, gbEnd) = SqlLex.findAll(s, "GROUP BY").takeWhile(_._1 < at)
      .lastOption.getOrElse(return s)
    val keys = s.substring(gbEnd, at).trim
    rewriteWithTotals(
      s.substring(0, gbAt) + s"GROUP BY GROUPING SETS (($keys), ())" +
        s.substring(atEnd))
  }

  private def rewriteDistinctOn(s: String): String = {
    val re = "(?is)\\bSELECT\\s+DISTINCT\\s+ON\\s*\\(([^)]*)\\)".r
    SqlLex.firstMatch(s, re) match {
      case None => s
      case Some(m) =>
        val keys = m.group(1).trim
        val rest = s.substring(0, m.start) + "SELECT" + s.substring(m.end)
        val tail = "(?is)\\bLIMIT\\s+(\\d+)(\\s+OFFSET\\s+\\d+)?\\s*;?\\s*$".r
        SqlLex.firstMatch(rest, tail) match {
          case Some(t) =>
            rewriteLimitBy(rest.substring(0, t.start).trim +
              s" LIMIT 1 BY $keys") + " " + t.matched.trim.stripSuffix(";")
          case None => rest + s" LIMIT 1 BY $keys"
        }
    }
  }

  /** MySQL-style `LIMIT offset, count` → `LIMIT count OFFSET offset`. */
  private def rewriteLimitOffsetComma(s: String): String =
    SqlLex.replaceAll(s,
      "(?is)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)\\s*(;?\\s*)$".r)(m =>
      s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}${m.group(3)}")

  /** `SELECT TOP n …` → trailing LIMIT (only when the query has none). */
  private def rewriteTop(s: String): String = {
    val re = "(?is)^(\\s*SELECT)\\s+TOP\\s+(\\d+)\\s+".r
    SqlLex.firstMatch(s, re) match {
      case Some(m) if SqlLex.find(s, "LIMIT").isEmpty =>
        s.substring(0, m.start) + m.group(1) + " " + s.substring(m.end) +
          s" LIMIT ${m.group(2)}"
      case _ => s
    }
  }

  private def rewriteLimitBy(s: String): String = {
    // CH clause order allows a row-limit AFTER the per-key one:
    // `... ORDER BY o LIMIT n BY k1, k2 LIMIT m [OFFSET j]` — the last
    // group captures that trailing limit (lazy keys + anchored alternative
    // keep `LIMIT 10` out of the key list). Round 9: the per-key OFFSET
    // forms too (ASTSelectQuery.h:32-34 limit_by_offset) — `LIMIT o, n BY`
    // and `LIMIT n OFFSET o BY` skip the first o rows of each key group
    // before taking n.
    val lim = ("(?is)\\bLIMIT\\s+(\\d+)(?:\\s*,\\s*(\\d+)|\\s+OFFSET\\s+(\\d+))?" +
      "\\s+BY\\s+([A-Za-z_][A-Za-z0-9_,\\s]*?)" +
      "\\s*(LIMIT\\s+\\d+(?:\\s+OFFSET\\s+\\d+)?)?\\s*;?\\s*$").r
    SqlLex.firstMatch(s, lim) match {
      case None => s
      case Some(m) =>
        // `LIMIT o, n BY` → (offset o, take n); `LIMIT n OFFSET o BY` →
        // (take n, offset o); bare `LIMIT n BY` → (take n, offset 0)
        val (n, off) =
          if (m.group(2) != null) (m.group(2), m.group(1).toLong)
          else (m.group(1), Option(m.group(3)).map(_.toLong).getOrElse(0L))
        val keys = m.group(4).trim.stripSuffix(",")
        val outerLimit = Option(m.group(5)).map(" " + _.trim).getOrElse("")
        var inner = s.substring(0, m.start)
        // pull a trailing ORDER BY out of the inner query to drive the
        // window — the capture must stop at a LIMIT/OFFSET token (never
        // swallow `k LIMIT 10` as a sort spec)
        val ob = "(?is)\\bORDER\\s+BY\\s+((?:(?!\\b(?:LIMIT|OFFSET)\\b)[^()])*?)\\s*$".r
        val (core, order) = SqlLex.firstMatch(inner, ob) match {
          case Some(o) => (inner.substring(0, o.start), o.group(1).trim)
          case None => (inner, keys)
        }
        val pred =
          if (off == 0L) s"__lb_rn <= $n"
          else s"__lb_rn BETWEEN ${off + 1} AND ${off + n.toLong}"
        s"SELECT * EXCEPT (__lb_rn) FROM (SELECT *, " +
          s"row_number() OVER (PARTITION BY $keys ORDER BY $order) AS __lb_rn " +
          s"FROM ($core)) WHERE $pred ORDER BY $keys, $order$outerLimit"
    }
  }

  /** Session-local query log (reference system.query_log,
    * src/Interpreters/QueryLog.h): every dialect statement is recorded
    * with its literal-normalized form and wall duration. Bounded ring —
    * the newest `queryLogMax` entries survive. */
  final case class QueryLogEntry(query: String, normalized: String,
      durationMs: Long, eventTime: java.sql.Timestamp)
  private val queryLogMax = 10000
  private[graft] val queryLog =
    new java.util.concurrent.ConcurrentLinkedDeque[QueryLogEntry]()

  /** Session mutation ledger (system.mutations analog,
    * src/Storages/System/StorageSystemMutations.cpp): (table, command)
    * per executed mutation statement. Bounded like the query log. */
  private[graft] val mutationLog =
    new java.util.concurrent.ConcurrentLinkedDeque[(String, String)]()

  private def logMutation(table: String, command: String): Unit = {
    mutationLog.addLast((table, command))
    while (mutationLog.size > queryLogMax) mutationLog.pollFirst()
  }

  /** Run CH-dialect SQL: rewrite, then Spark SQL with the alias registry
    * installed. */
  def sql(spark: SparkSession, chSql: String): DataFrame = {
    val t0 = System.nanoTime()
    try {
      // quota metering (QuotaCache::used): each statement charges the
      // session user's covering quotas BEFORE running — an exceeded
      // metered limit (queries/query_selects/query_inserts/errors)
      // throws here; `default` and SET are never metered
      AccessControl.chargeQuota(spark, chSql)
      // result_rows metering marks ONLY the statement's returned frame
      // (engine-internal actions never charge); exact count via observe
      AccessControl.meterResultRows(spark, sqlImpl(spark, chSql))
    }
    catch {
      case e: Throwable =>
        AccessControl.chargeError(spark)
        // system.errors ledger (StorageSystemErrors.cpp: per-error-name
        // count + last message): keyed by exception class simple name
        errorLedger.compute(e.getClass.getSimpleName, (_, prev) => {
          val n = if (prev == null) 1L else prev._1 + 1L
          (n, Option(e.getMessage).getOrElse("").take(500))
        })
        throw e
    }
    finally {
      queryLog.addLast(QueryLogEntry(chSql.trim,
        graft.functions.QueryNormKernels.normalize(chSql.trim, keepNames = false),
        (System.nanoTime() - t0) / 1000000L,
        new java.sql.Timestamp(System.currentTimeMillis())))
      while (queryLog.size > queryLogMax) queryLog.pollFirst()
    }
  }

  private def sqlImpl(spark: SparkSession, chSql: String): DataFrame = {
    ChFunctionRegistry.install(spark)
    // SET query_id = 'x' tags this thread's jobs with a cancellable group
    // (the reference's query_id + KILL QUERY pair; Spark job groups are
    // the cancellation primitive)
    spark.conf.getOption("graft.ch.query_id").foreach(id =>
      spark.sparkContext.setJobGroup(id, chSql.take(120),
        interruptOnCancel = true))
    // optimize_trivial_count_query analog: bare SELECT count() answers
    // from parquet footers (graft.plans.TrivialCount), never scanning
    graft.plans.TrivialCount.install(spark)
    // RBAC gate (src/Access/): row-policy shadow maintenance FIRST
    // (applies/retires filtered views for the current user), then the
    // privilege check for the session's SET user against the grant
    // table (no-op for the bootstrap default). Order matters: enforce
    // runs after shadows settle, and touchedTables treats shadowed
    // names as catalog tables — so a revoked user can't keep reading a
    // policed table through its shadow, and a fresh ungranted user is
    // checked on the same statement that retires a stale shadow.
    AccessControl.applyRowPolicies(spark)
    AccessControl.enforce(spark, chSql)
    AccessControl.installResultRowsMeter(spark) // idempotent per session
    // Query parameters (src/Parsers/ASTQueryParameter.h:10): `{name:Type}`
    // placeholders substitute as TYPE-CHECKED literals from the session's
    // `SET param_<name> = v` values, before any other rewriting, outside
    // literals only. Comments go first, so no lane below ever sees one.
    val trimmed0 = {
      val raw = SqlLex.stripComments(chSql).trim
      // SET dialect = 'kusto' (executeQuery.cpp:1044 Dialect::kusto, the
      // reference's KQL front-end switch): every non-SET statement
      // translates through KqlTranslator FIRST, then proceeds through
      // the ordinary statement lanes as SQL. SET stays native so
      // `SET dialect = 'clickhouse'` can always switch back.
      val dialect = spark.conf.getOption("graft.ch.dialect")
        .map(_.stripPrefix("'").stripSuffix("'").trim.toLowerCase)
        .getOrElse("clickhouse")
      val t0 =
        if (raw.matches("(?is)^SET\\b.*")) raw
        else if (dialect == "kusto") KqlTranslator.translate(spark, raw)
        else if (dialect == "prql") PrqlTranslator.translate(spark, raw)
        else raw
      // CREATE VIEW bodies KEEP their placeholders — they substitute at
      // call time, per view invocation (parameterized views)
      if (!t0.contains("{") ||
          t0.matches("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\b.*")) t0
      else substituteParams(spark, t0)
    }
    // INTO OUTFILE 'path' [FORMAT fmt] (ParserQueryWithOutput): execute
    // the query and write the result where the client asked —
    // CSV[WithNames] / TSV / JSONEachRow / Parquet via the native Spark
    // writers. Returns a one-row status with the row count, like the
    // clickhouse-client summary line.
    // stmt1 PARALLEL WITH stmt2 [PARALLEL WITH …] (ParserParallelWithQuery):
    // independent DDL/DML legs run CONCURRENTLY — one thread per leg
    // (bounded pool), each submitting its own Spark jobs; the scheduler
    // interleaves them exactly like the reference's thread pool. Legs
    // are independent by the statement's contract. The split happens
    // outside literals only.
    if (!trimmed0.matches("(?is)^(SELECT|WITH)\\b.*")) {
      val legs = SqlLex.splitTop(trimmed0, "PARALLEL WITH")
      if (legs.length > 1) {
        // sqlImpl, not sql: the user issued ONE statement (quota was
        // already charged once at the sql() entry; QuotaCache::used
        // charges per statement, not per PARALLEL WITH leg).
        // Legs are grouped by EVERY table identifier each statement
        // references (sources included, so a leg READING a table
        // another leg mutates orders behind it instead of racing it),
        // with transitive sharing merged (union-find). Groups run
        // concurrently; inside a group legs stay in statement order,
        // EXCEPT a group of plain `INSERT INTO t SELECT/VALUES ...` legs
        // into one shared target (none reading that target), which runs
        // concurrently through per-leg staging dirs + an append commit
        // by file rename: Spark's own commit protocol stages every
        // insert of a table under its single `_temporary` dir, so the
        // constraint is lifted beside it, not fought inside it.
        // Every table identifier a leg references. Round-12 ADVICE fixes:
        // comma-separated FROM lists ('FROM a, b' — each element's first
        // word is the table, the rest an alias), backtick-quoted names,
        // and 'default.'-qualified vs bare spellings of one table now all
        // land on the same group key, so legs sharing a table can never
        // race into different union-find groups.
        def legIdents(l: String): Set[String] = {
          val kw = Set("select", "values", "with", "table", "if", "not",
            "exists", "from", "into", "where", "only", "infile", "outfile",
            "partition", "as", "on", "using", "join", "left", "right",
            "inner", "full", "cross", "group", "order", "limit")
          val ident = "(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_.]*)"
          // an alias may follow each list element, but a CLAUSE keyword
          // after the ident is not an alias (…FROM a JOIN b…)
          val alias = "(?:\\s+(?:AS\\s+)?(?!(?:JOIN|ON|USING|WHERE|GROUP|" +
            "ORDER|LIMIT|LEFT|RIGHT|INNER|FULL|CROSS|INTO|SELECT|SET|" +
            "PARTITION|VALUES|UNION|HAVING|SETTINGS|FORMAT|PREWHERE|" +
            "FINAL|SAMPLE|ASOF|ANY|PASTE|GLOBAL|SEMI|ANTI|INTERSECT|" +
            "EXCEPT|QUALIFY|OFFSET|WINDOW)\\b)[A-Za-z_][A-Za-z0-9_]*)?"
          val listRe = ("(?is)\\b(?:FROM|JOIN|INTO|UPDATE|TABLE)\\s+" +
            "(?:TABLE\\s+)?(?:IF\\s+(?:NOT\\s+)?EXISTS\\s+)?" +
            s"($ident$alias(?:\\s*,\\s*$ident$alias)*)").r
          SqlLex.matchesIn(l, listRe)
            .flatMap(_.group(1).split(','))
            .map(_.trim.split("\\s+")(0))
            .map(_.stripPrefix("`").stripSuffix("`").toLowerCase)
            .map(t => if (t.startsWith("default.")) t.substring(8) else t)
            .filter(_.nonEmpty)
            .filterNot(kw)
            .toSet
        }
        val ids = legs.map(legIdents)
        val parent = Array.tabulate(legs.length)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val owner = scala.collection.mutable.Map.empty[String, Int]
        for (i <- legs.indices; t <- ids(i)) owner.get(t) match {
          case Some(j) => parent(find(i)) = find(j)
          case None => owner(t) = i
        }
        val groups = legs.indices.groupBy(find).values
          .map(_.sorted.map(legs(_)).toSeq).toSeq
        // optional (c1, c2, …) column list (round-13: column-list INSERTs
        // join the concurrent append lane instead of serializing)
        val insRe = ("(?is)^INSERT\\s+INTO\\s+(?:TABLE\\s+)?" +
          "([A-Za-z_][A-Za-z0-9_.]*)\\s*(?:\\(([^()]*)\\)\\s*)?" +
          "((?:SELECT|WITH|VALUES)\\b.*?);?\\s*$").r
        def concurrentInsertLegs(group: Seq[String])
            : Option[(String, Seq[(Option[Seq[String]], String)])] =
          if (group.size < 2) None
          else {
            val parsed = group.map {
              case insRe(t, colList, tail) => Some((t.toLowerCase,
                Option(colList).map(_.split(',').map(_.trim)
                  .filter(_.nonEmpty).toSeq).filter(_.nonEmpty),
                tail.trim))
              case _ => None
            }
            val t0 = parsed.headOption.flatten.map(_._1)
            val ok = parsed.forall(_.isDefined) && t0.isDefined &&
              parsed.flatten.forall(_._1 == t0.get) &&
              parsed.flatten.forall(p => !legIdents(p._3).contains(t0.get)) &&
              scala.util.Try(spark.sessionState.catalog.getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(t0.get))
                .provider.exists(_.equalsIgnoreCase("parquet")))
                .getOrElse(false)
            if (ok) Some((t0.get, parsed.flatten.map(p => (p._2, p._3))))
            else None
          }
        val commitLock = new Object
        def appendInsertLeg(t: String, colList: Option[Seq[String]],
            tail: String): Unit = {
          AccessControl.enforce(spark, s"INSERT INTO $t $tail")
          val df0 =
            if (tail.matches("(?is)^VALUES\\b.*")) spark.sql(tail)
            else sqlImpl(spark, tail)
          val meta = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t))
          val partCols = meta.partitionColumnNames
          val schema = spark.table(t).schema
          // positional binding + cast, exactly like insertInto; with a
          // column list, unlisted table columns fill with NULL (the
          // standard INSERT (cols) contract)
          val aligned = colList.orElse(declaredOrder(spark, t)) match {
            case None =>
              require(df0.columns.length == schema.length,
                s"INSERT INTO $t: ${df0.columns.length} columns, " +
                  s"table has ${schema.length}")
              df0.toDF(schema.map(_.name): _*)
                .select(schema.map(f => org.apache.spark.sql.functions
                  .col(f.name).cast(f.dataType)): _*)
            case Some(cols) =>
              require(df0.columns.length == cols.length,
                s"INSERT INTO $t (${cols.mkString(", ")}): " +
                  s"${df0.columns.length} columns in the source")
              val known = schema.map(_.name.toLowerCase).toSet
              cols.find(c => !known.contains(c.toLowerCase)).foreach(c =>
                throw new IllegalArgumentException(
                  s"INSERT INTO $t: unknown column '$c' in the list"))
              val listed = cols.map(_.toLowerCase)
              val named = df0.toDF(listed: _*)
              named.select(schema.map { f =>
                if (listed.contains(f.name.toLowerCase))
                  org.apache.spark.sql.functions.col(f.name.toLowerCase)
                    .cast(f.dataType).as(f.name)
                else org.apache.spark.sql.functions.lit(null)
                  .cast(f.dataType).as(f.name)
              }: _*)
          }
          val loc = meta.location.getPath
          val root = new org.apache.hadoop.fs.Path(loc)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val stage = new org.apache.hadoop.fs.Path(
            loc + "__parallel_" + java.util.UUID.randomUUID().toString.take(12))
          try {
            val w = aligned.write.mode("overwrite")
            (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
              .parquet(stage.toString)
            // TWO-PHASE append commit (round-12 ADVICE: the one-by-one
            // visible rename could leave a partially applied insert on a
            // mid-move failure). Phase A renames every staged data file
            // into its destination dir under a DOT-prefixed temp name —
            // invisible to every reader (Spark skips '.'/'_' files).
            // Phase B flips the dot-names to final names; these renames
            // are same-dir metadata ops, and a failure mid-B rolls the
            // already-flipped files back to invisibility before
            // rethrowing — a leg's files become visible all-or-nothing.
            val legTag = java.util.UUID.randomUUID().toString.take(8)
            val planned = scala.collection.mutable.ArrayBuffer
              .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
            def stageInvisible(dir: org.apache.hadoop.fs.Path,
                rel: String): Unit =
              fs.listStatus(dir).foreach { st =>
                val n = st.getPath.getName
                if (n.startsWith("_") || n.startsWith(".")) ()
                else if (st.isDirectory)
                  stageInvisible(st.getPath,
                    if (rel.isEmpty) n else s"$rel/$n")
                else {
                  val dstDir = if (rel.isEmpty) root
                    else new org.apache.hadoop.fs.Path(root, rel)
                  fs.mkdirs(dstDir)
                  val tmp = new org.apache.hadoop.fs.Path(dstDir,
                    s".graft_commit_${legTag}_$n")
                  if (!fs.rename(st.getPath, tmp))
                    throw new IllegalStateException(
                      s"PARALLEL WITH append: staging rename of " +
                        s"${st.getPath} failed")
                  planned += ((tmp,
                    new org.apache.hadoop.fs.Path(dstDir, n)))
                }
              }
            stageInvisible(stage, "")
            val flipped = scala.collection.mutable.ArrayBuffer
              .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
            try {
              planned.foreach { case (tmp, fin) =>
                if (!fs.rename(tmp, fin))
                  throw new IllegalStateException(
                    s"PARALLEL WITH append: commit rename to $fin failed")
                flipped += ((tmp, fin))
              }
            } catch {
              case e: Throwable =>
                // roll back: hide the already-visible files again, then
                // drop every temp so no partial insert survives
                flipped.foreach { case (tmp, fin) =>
                  scala.util.Try(fs.rename(fin, tmp))
                }
                planned.foreach { case (tmp, _) =>
                  scala.util.Try(fs.delete(tmp, false))
                }
                throw e
            }
            commitLock.synchronized {
              if (partCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $t")
              spark.sql(s"REFRESH TABLE $t")
              refreshSkipIndexes(spark, t)
              queryCache.clear()
            }
          } finally fs.delete(stage, true)
        }
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(groups.length, 8))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: java.util.List[java.util.concurrent.Callable[Unit]] =
            groups.map[java.util.concurrent.Callable[Unit]] { group =>
              concurrentInsertLegs(group) match {
                case Some((t, tails)) => () => {
                  val inner = java.util.concurrent.Executors
                    .newFixedThreadPool(math.min(tails.size, 8))
                  try {
                    val sub: java.util.List[
                      java.util.concurrent.Callable[Unit]] =
                      tails.map[java.util.concurrent.Callable[Unit]] {
                        case (colList, tail) =>
                          () => { appendInsertLeg(t, colList, tail); () }
                      }.asJava
                    inner.invokeAll(sub).asScala.foreach(_.get())
                  } catch {
                    case e: java.util.concurrent.ExecutionException =>
                      throw e.getCause
                  } finally inner.shutdown()
                }
                case None =>
                  () => { group.foreach(part => sqlImpl(spark, part)); () }
              }
            }.asJava
          pool.invokeAll(tasks).asScala.foreach(_.get())
        } catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        } finally pool.shutdown()
        import spark.implicits._
        return Seq("OK").toDF("status")
      }
    }
    val outfile =
      ("(?is)^(.*?)\\s+INTO\\s+OUTFILE\\s+'([^']+)'(?:\\s+FORMAT\\s+([A-Za-z0-9]+))?\\s*;?\\s*$").r
    trimmed0 match {
      case outfile(core, path, fmt) if trimmed0.matches("(?is)^(SELECT|WITH)\\b.*") =>
        // sqlImpl, not sql: the OUTFILE core is the same user statement,
        // already quota-charged once at the sql() entry
        val df = sqlImpl(spark, core)
        val n = df.count()
        val w = df.coalesce(1).write.mode("overwrite")
        Option(fmt).map(_.toLowerCase).getOrElse("csv") match {
          case "parquet" => w.parquet(path)
          case "jsoneachrow" | "json" => w.json(path)
          case "tsv" | "tabseparated" =>
            w.option("sep", "\t").csv(path)
          case "tsvwithnames" | "tabseparatedwithnames" =>
            w.option("sep", "\t").option("header", "true").csv(path)
          case "csvwithnames" => w.option("header", "true").csv(path)
          // round-7 format tail: the graft-native writers ride the same
          // OUTFILE dispatch the reference's output-format registry serves
          case "npy" => graft.sources.ChMiscFormats.writeNpy(df, path)
          case "lineasstring" =>
            graft.sources.ChMiscFormats.writeLineAsString(df, path)
          case "rawblob" => graft.sources.ChMiscFormats.writeRawBlob(df, path)
          case "msgpack" => graft.sources.ChMiscFormats.writeMsgPack(df, path)
          case "jsoncolumns" =>
            graft.sources.ChTextFormats.writeJsonColumns(df, path)
          case "jsonobjecteachrow" =>
            graft.sources.ChTextFormats.writeJsonObjectEachRow(df, path)
          case "tabseparatedraw" | "tsvraw" =>
            graft.sources.ChTextFormats.writeTabSeparatedRaw(df, path)
          case "jsonstringseachrow" =>
            graft.sources.ChTextFormats.writeJsonStringsEachRow(df, path)
          // NOTE: bare "json" stays on the earlier JSONEachRow lane (the
          // long-standing OUTFILE behavior); the document format is the
          // writeJsonDocument API / "jsondocument" spelling here
          case "jsondocument" =>
            graft.sources.ChTextFormats.writeJsonDocument(df, path)
          // render-only formats (round 8): one text file of the rendering
          case "vertical" | "markdown" | "xml" =>
            val text = Option(fmt).get.toLowerCase match {
              case "vertical" => graft.sources.ChTextFormats.renderVertical(df)
              case "markdown" => graft.sources.ChTextFormats.renderMarkdown(df)
              case _ => graft.sources.ChTextFormats.renderXml(df)
            }
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val out = fs.create(p, true)
            try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          case "rowbinary" => graft.sources.ChWireFormats.writeRowBinary(df, path)
          // Protobuf / ProtobufSingle (round-13 — needs the reference's
          // format_schema setting: SET format_schema = 'file.proto:Msg')
          case "protobuf" =>
            val (schemaText, msg) = formatSchemaOf(spark)
            graft.sources.ChProtobufFormat.writeProtobuf(
              df.coalesce(1), path, schemaText, msg)
          case "protobufsingle" =>
            val (schemaText, msg) = formatSchemaOf(spark)
            graft.sources.ChProtobufFormat.writeProtobuf(
              df.coalesce(1), path, schemaText, msg, single = true)
          case "protobuflist" =>
            val (schemaText, msg) = formatSchemaOf(spark)
            graft.sources.ChProtobufFormat.writeProtobufList(
              df.coalesce(1), path, schemaText, msg)
          case "template" =>
            val (rowFmt, between) = templateSettingsOf(spark)
            graft.sources.ChSmallFormats.writeTemplate(
              df.coalesce(1), path, rowFmt, between)
          case "capnproto" =>
            val (schemaText, msg) = formatSchemaOf(spark)
            graft.sources.ChCapnProtoFormat.writeCapnProto(
              df.coalesce(1), path, schemaText, msg)
          case _ => w.csv(path)
        }
        import spark.implicits._
        return Seq(n).toDF("rows_written")
      case _ =>
    }
    // INSERT INTO [TABLE] FUNCTION deltaLake('path') [PARTITION BY (…)]
    // <select|values> (ParserInsertQuery's TABLE FUNCTION form over the
    // reference's Delta write support): the SELECT runs first, then the
    // native optimistic-concurrency append commits (DeltaLakeSink) —
    // this lane must run BEFORE lakehouse READ resolution, which would
    // otherwise turn the write target into a read view.
    val insertDelta = ("(?is)^INSERT\\s+INTO\\s+(?:TABLE\\s+)?FUNCTION\\s+" +
      "(deltaLake|iceberg|hudi)\\s*\\(\\s*'([^']+)'\\s*\\)\\s*" +
      "(?:PARTITION\\s+BY\\s*\\(([^)]*)\\)\\s*)?(SELECT\\b.*|VALUES\\b.*)$").r
    trimmed0 match {
      case insertDelta(fn, path, partCols0, tail) =>
        val pcs = Option(partCols0).map(_.split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
        val df =
          if (tail.matches("(?is)^VALUES\\b.*")) spark.sql(s"SELECT * FROM ($tail)")
          else sqlImpl(spark, tail)
        import spark.implicits._
        if (fn.equalsIgnoreCase("iceberg")) {
          // round 15: PARTITION BY (…) declares an identity-transform
          // spec at creation; appends derive the table's spec
          val sid = graft.sources.IcebergSink.append(df, path,
            partitionBy = pcs)
          return Seq(sid).toDF("snapshot_id")
        }
        if (fn.equalsIgnoreCase("hudi")) {
          // Hudi INSERT is an UPSERT (the engine's default operation):
          // existing keys become log data blocks, new keys a fresh
          // base-file group. The SELECT must carry _hoodie_record_key.
          // round 15: PARTITION BY (…) lays the table out as hive-style
          // partition dirs at creation; appends derive the layout.
          val (instant, nRows) = graft.sources.HudiSink.upsert(df, path,
            partitionBy = pcs)
          return Seq((instant, nRows)).toDF("instant", "rows_upserted")
        }
        val v = graft.sources.DeltaLakeSink.append(df, path,
          partitionBy = pcs)
        return Seq(v).toDF("committed_version")
      case _ =>
    }
    // DELETE FROM FUNCTION hudi('path') WHERE pred — the lightweight
    // lane (delete blocks in the groups' logs; no rewrites), matching
    // the Delta-DV / Iceberg-position-delete split
    val hudiDelete = ("(?is)^DELETE\\s+FROM\\s+(?:TABLE\\s+)?FUNCTION\\s+" +
      "hudi\\s*\\(\\s*'([^']+)'\\s*\\)\\s*WHERE\\s+(.+?);?\\s*$").r
    trimmed0 match {
      case hudiDelete(path, pred) =>
        import spark.implicits._
        val (instant, nRows) = graft.sources.HudiSink.deleteWhere(spark,
          path, org.apache.spark.sql.functions.expr(rewrite(pred)))
        return Seq((instant, nRows)).toDF("instant", "rows_deleted")
      case _ =>
    }
    // Row-level lakehouse mutations over the table-function spelling
    // (round 14 — the write-side twin of the deltaLake()/iceberg()
    // reads):
    //   DELETE FROM [TABLE] FUNCTION deltaLake|iceberg('p') WHERE pred
    //   ALTER TABLE FUNCTION deltaLake|iceberg('p') DELETE WHERE pred
    //   ALTER TABLE FUNCTION deltaLake|iceberg('p') UPDATE a = e, … WHERE pred
    // Copy-on-write commits (Delta: remove+add; Iceberg: manifest
    // rewrite + new snapshot) — only files holding matching rows
    // rewrite.
    val lakeDelete = ("(?is)^ALTER\\s+TABLE\\s+FUNCTION\\s+" +
      "(deltaLake|iceberg)\\s*\\(\\s*'([^']+)'\\s*\\)" +
      "\\s*DELETE\\s+WHERE\\s+(.+?);?\\s*$").r
    val lakeDeleteShort = ("(?is)^DELETE\\s+FROM\\s+(?:TABLE\\s+)?FUNCTION\\s+" +
      "(deltaLake|iceberg)\\s*\\(\\s*'([^']+)'\\s*\\)\\s*WHERE\\s+(.+?);?\\s*$").r
    val lakeUpdate = ("(?is)^ALTER\\s+TABLE\\s+FUNCTION\\s+" +
      "(deltaLake|iceberg)\\s*\\(\\s*'([^']+)'\\s*\\)\\s*UPDATE\\s+(.+?)\\s+" +
      "WHERE\\s+(.+?);?\\s*$").r
    def lakeMutate(fn: String, path: String, pred: String,
        assigns: Option[String],
        lightweight: Boolean): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val predicate = org.apache.spark.sql.functions.expr(rewrite(pred))
      val kv = "(?s)^\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*=\\s*(.*)$".r
      val asn = assigns.map(SqlLex.splitTop(_).map {
        case kv(c, e) => c -> org.apache.spark.sql.functions
          .expr(rewrite(e))
        case other => throw new IllegalArgumentException(
          s"unparsable UPDATE assignment '$other'")
      })
      val isIce = fn.equalsIgnoreCase("iceberg")
      val (v, n) = (isIce, asn) match {
        case (false, None) =>
          // the reference's split: DELETE FROM is the LIGHTWEIGHT
          // delete (mask, not rewrite — deletion vectors here, the
          // _row_exists mask there); ALTER TABLE ... DELETE is the
          // heavyweight mutation (copy-on-write rewrite)
          if (lightweight)
            graft.sources.DeltaLakeSink.deleteLightweight(
              spark, path, predicate)
          else graft.sources.DeltaLakeSink.delete(spark, path, predicate)
        case (false, Some(a)) =>
          graft.sources.DeltaLakeSink.update(spark, path, a, predicate)
        case (true, None) =>
          if (lightweight)
            graft.sources.IcebergSink.deleteLightweight(
              spark, path, predicate)
          else graft.sources.IcebergSink.delete(spark, path, predicate)
        case (true, Some(a)) =>
          graft.sources.IcebergSink.update(spark, path, a, predicate)
      }
      val vName = if (isIce) "snapshot_id" else "committed_version"
      val nName = if (asn.isEmpty) "rows_deleted" else "rows_updated"
      Seq((v, n)).toDF(vName, nName)
    }
    trimmed0 match {
      case lakeDelete(fn, path, pred) =>
        return lakeMutate(fn, path, pred, None, lightweight = false)
      case lakeDeleteShort(fn, path, pred) =>
        return lakeMutate(fn, path, pred, None, lightweight = true)
      case lakeUpdate(fn, path, assigns, pred) =>
        return lakeMutate(fn, path, pred, Some(assigns),
          lightweight = false)
      case _ =>
    }
    // OPTIMIZE TABLE FUNCTION deltaLake|iceberg|hudi('path') [FINAL] —
    // lakehouse compaction: materialize the current state (DV masks /
    // delete files / log blocks apply) into fresh files; dataChange
    // false on Delta, an overwrite snapshot on Iceberg (which drops the
    // delete files, re-enabling copy-on-write mutations), a per-group
    // base-slice fold at a `commit` instant on Hudi MoR (round 16)
    val lakeOptimize = ("(?is)^OPTIMIZE\\s+TABLE\\s+FUNCTION\\s+" +
      "(deltaLake|iceberg|hudi)\\s*\\(\\s*'([^']+)'\\s*\\)(?:\\s+FINAL)?" +
      "\\s*;?\\s*$").r
    // OPTIMIZE TABLE FUNCTION iceberg('path') EXPIRE SNAPSHOTS
    // [KEEP N] — the expire_snapshots maintenance verb (round 16):
    // metadata drops the expired snapshots, files only they referenced
    // delete AFTER the new version is claimed
    val lakeExpire = ("(?is)^OPTIMIZE\\s+TABLE\\s+FUNCTION\\s+" +
      "iceberg\\s*\\(\\s*'([^']+)'\\s*\\)\\s+EXPIRE\\s+SNAPSHOTS" +
      "(?:\\s+KEEP\\s+(\\d+))?\\s*;?\\s*$").r
    // OPTIMIZE TABLE FUNCTION deltaLake('path') VACUUM
    // [RETAIN N HOURS] — delete files the current snapshot does not
    // reference, older than the retention window (default 168h)
    val lakeVacuum = ("(?is)^OPTIMIZE\\s+TABLE\\s+FUNCTION\\s+" +
      "deltaLake\\s*\\(\\s*'([^']+)'\\s*\\)\\s+VACUUM" +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?\\s*;?\\s*$").r
    // OPTIMIZE TABLE FUNCTION hudi('path') CLEAN [KEEP N] — retain the
    // newest N visible base slices per file group, delete the rest
    // with their attached logs
    val lakeClean = ("(?is)^OPTIMIZE\\s+TABLE\\s+FUNCTION\\s+" +
      "hudi\\s*\\(\\s*'([^']+)'\\s*\\)\\s+CLEAN" +
      "(?:\\s+KEEP\\s+(\\d+))?\\s*;?\\s*$").r
    // OPTIMIZE TABLE FUNCTION hudi('path') ARCHIVE [KEEP N] — fold
    // completed timeline instants older than the newest N into
    // .hoodie/archived/ (round 17: the timeline is the unbounded
    // metadata once compaction+clean bound the data)
    val lakeArchive = ("(?is)^OPTIMIZE\\s+TABLE\\s+FUNCTION\\s+" +
      "hudi\\s*\\(\\s*'([^']+)'\\s*\\)\\s+ARCHIVE" +
      "(?:\\s+KEEP\\s+(\\d+))?\\s*;?\\s*$").r
    // RESTORE TABLE FUNCTION deltaLake('p') TO VERSION N — revert the
    // content to a past version with one commit (history preserved);
    // ALTER TABLE FUNCTION iceberg('p') ROLLBACK TO SNAPSHOT <id> —
    // re-point the current snapshot (round 16)
    val lakeRestore = ("(?is)^RESTORE\\s+TABLE\\s+FUNCTION\\s+" +
      "deltaLake\\s*\\(\\s*'([^']+)'\\s*\\)\\s+TO\\s+VERSION\\s+" +
      "(\\d+)\\s*;?\\s*$").r
    val lakeRollback = ("(?is)^ALTER\\s+TABLE\\s+FUNCTION\\s+" +
      "iceberg\\s*\\(\\s*'([^']+)'\\s*\\)\\s+ROLLBACK\\s+TO\\s+" +
      "SNAPSHOT\\s+(\\d+)\\s*;?\\s*$").r
    trimmed0 match {
      case lakeRestore(path, v) =>
        import spark.implicits._
        val (cv, added, removed) = graft.sources.DeltaLakeSink
          .restore(spark, path, v.toLong)
        return Seq((cv, added.toLong, removed.toLong))
          .toDF("committed_version", "files_readded", "files_removed")
      case lakeRollback(path, sid) =>
        import spark.implicits._
        val mv = graft.sources.IcebergSink
          .rollback(spark, path, sid.toLong)
        return Seq(mv.toLong).toDF("metadata_version")
      case _ =>
    }
    trimmed0 match {
      case lakeExpire(path, keep0) =>
        import spark.implicits._
        val keep = Option(keep0).map(_.toInt).getOrElse(1)
        val (expired, deleted) = graft.sources.IcebergSink
          .expireSnapshots(spark, path, keepLast = keep)
        return Seq((expired.toLong, deleted.toLong))
          .toDF("snapshots_expired", "files_deleted")
      case lakeVacuum(path, hours0) =>
        import spark.implicits._
        val hours = Option(hours0).map(_.toLong).getOrElse(168L)
        val (files, bytes) = graft.sources.DeltaLakeSink
          .vacuum(spark, path, retentionMs = hours * 3600L * 1000L)
        return Seq((files.toLong, bytes))
          .toDF("files_deleted", "bytes_reclaimed")
      case lakeClean(path, keep0) =>
        import spark.implicits._
        val keep = Option(keep0).map(_.toInt).getOrElse(1)
        val (bases, logs) = graft.sources.HudiSink
          .clean(spark, path, keepSlices = keep)
        return Seq((bases.toLong, logs.toLong))
          .toDF("base_files_deleted", "log_files_deleted")
      case lakeArchive(path, keep0) =>
        import spark.implicits._
        val keep = Option(keep0).map(_.toInt).getOrElse(10)
        val n = graft.sources.HudiSink
          .archive(spark, path, keepLast = keep)
        return Seq(n.toLong).toDF("instants_archived")
      case lakeOptimize(fn, path) =>
        import spark.implicits._
        if (fn.equalsIgnoreCase("iceberg")) {
          val sid = graft.sources.IcebergSink.compact(spark, path)
          return Seq(sid).toDF("snapshot_id")
        }
        if (fn.equalsIgnoreCase("hudi")) {
          val (instant, groups) =
            graft.sources.HudiSink.compact(spark, path)
          return Seq((instant, groups.toLong))
            .toDF("instant", "groups_compacted")
        }
        val (v, before, after) =
          graft.sources.DeltaLakeSink.compact(spark, path)
        return Seq((v, before.toLong, after.toLong))
          .toDF("committed_version", "files_before", "files_after")
      case _ =>
    }
    // INSERT INTO t FROM INFILE 'path' [FORMAT fmt]
    // (ParserInsertQuery infile clause — the input twin of INTO
    // OUTFILE): read the file through the matching format reader with
    // the TARGET TABLE's schema and append, with the same skip-index /
    // cache invalidation as any INSERT.
    val infile = ("(?is)^INSERT\\s+INTO\\s+(?:TABLE\\s+)?([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "FROM\\s+INFILE\\s+'([^']+)'(?:\\s+FORMAT\\s+([A-Za-z0-9]+))?\\s*;?\\s*$").r
    trimmed0 match {
      case infile(t, path, fmt0) =>
        val schema = spark.table(t).schema
        val fmt = Option(fmt0).map(_.toLowerCase).getOrElse("csvwithnames")
        val df = fmt match {
          case "parquet" => spark.read.schema(schema).parquet(path)
          case "jsoneachrow" | "ndjson" | "json" =>
            spark.read.schema(schema).json(path)
          case "csv" =>
            graft.sources.ChTextFormats.readCsv(spark, path, schema)
          case "csvwithnames" =>
            graft.sources.ChTextFormats.readCsv(spark, path, schema,
              withNames = true)
          case "tabseparated" | "tsv" =>
            graft.sources.ChTextFormats.readTabSeparated(spark, path, schema)
          case "tabseparatedwithnamesandtypes" | "tsvwithnamesandtypes" =>
            graft.sources.ChTextFormats.readTabSeparated(spark, path, schema,
              withNames = true, withTypes = true)
          case "jsonobjecteachrow" =>
            graft.sources.ChTextFormats.readJsonObjectEachRow(spark, path, schema)
          case "rowbinary" =>
            graft.sources.ChWireFormats.readRowBinary(spark, path, schema)
          case "protobuf" | "protobufsingle" | "protobuflist" =>
            val (schemaText, msg) = formatSchemaOf(spark)
            val raw =
              if (fmt == "protobuflist")
                graft.sources.ChProtobufFormat.readProtobufList(
                  spark, path, schemaText, msg)
              else graft.sources.ChProtobufFormat.readProtobuf(
                spark, path, schemaText, msg,
                single = fmt == "protobufsingle")
            raw.select(schema.map(f => org.apache.spark.sql.functions
              .col(f.name).cast(f.dataType)): _*)
          case "form" =>
            graft.sources.ChSmallFormats.readForm(spark, path, schema)
          case "hivetext" =>
            graft.sources.ChSmallFormats.readHiveText(spark, path, schema)
          case "mysqldump" =>
            graft.sources.ChSmallFormats.readMySQLDump(spark, path, schema,
              spark.conf.getOption(
                "graft.ch.input_format_mysql_dump_table_name")
                .map(_.stripPrefix("'").stripSuffix("'")).getOrElse(""))
          case "template" =>
            val (rowFmt, between) = templateSettingsOf(spark)
            graft.sources.ChSmallFormats.readTemplate(
              spark, path, schema, rowFmt, between)
          case "capnproto" =>
            val (schemaText, msg) = formatSchemaOf(spark)
            graft.sources.ChCapnProtoFormat.readCapnProto(
              spark, path, schemaText, msg)
              .select(schema.map(f => org.apache.spark.sql.functions
                .col(f.name).cast(f.dataType)): _*)
          case other => throw new IllegalArgumentException(
            s"FROM INFILE: unsupported format '$other'")
        }
        df.write.mode("append").insertInto(t)
        refreshSkipIndexes(spark, t)
        queryCache.clear()
        import spark.implicits._
        return Seq(df.count()).toDF("rows_read")
      case _ =>
    }
    // a trailing FORMAT clause on a SELECT names the client-side output
    // serialization (the wire codecs live in sources/ChWireFormats); the
    // query result itself is format-independent, so strip it
    val trimmedNoFmt =
      if (trimmed0.matches("(?is)^(SELECT|WITH)\\b.*\\sFORMAT\\s+[A-Za-z0-9]+\\s*;?\\s*$"))
        trimmed0.replaceFirst("(?is)\\s+FORMAT\\s+[A-Za-z0-9]+\\s*;?\\s*$", "")
      else trimmed0
    // `FROM system.<t>` in a SELECT (StorageSystemFactory routing): the
    // argless system tables materialize as temp views on demand and the
    // reference-spelled name rewrites to the view. Arg-taking tables
    // (columns/parts) stay API-only.
    if (trimmedNoFmt.matches("(?is)^(SELECT|WITH)\\b.*") &&
        trimmedNoFmt.matches("(?is).*\\bsystem\\.[a-z_]+.*")) {
      val servable = Map(
        "tables" -> (() => graft.sources.SystemTables.tables(spark)),
        "functions" -> (() => graft.sources.SystemTables.functions(spark)),
        "settings" -> (() => graft.sources.SystemTables.settings(spark)),
        "query_log" -> (() => graft.sources.SystemTables.queryLog(spark)),
        "dictionaries" -> (() => graft.sources.SystemTables.dictionaries(spark)),
        "data_skipping_indices" ->
          (() => graft.sources.SystemTables.dataSkippingIndices(spark)),
        "metrics" -> (() => graft.sources.SystemTables.metrics(spark)),
        "events" -> (() => graft.sources.SystemTables.events(spark)),
        "asynchronous_metrics" ->
          (() => graft.sources.SystemTables.asynchronousMetrics(spark)),
        "databases" -> (() => graft.sources.SystemTables.databases(spark)),
        "processes" -> (() => graft.sources.SystemTables.processes(spark)),
        "one" -> (() => graft.sources.SystemTables.one(spark)),
        "merges" -> (() => graft.sources.SystemTables.merges(spark)),
        "mutations" -> (() => graft.sources.SystemTables.mutations(spark)),
        "formats" -> (() => graft.sources.SystemTables.formats(spark)),
        "table_engines" ->
          (() => graft.sources.SystemTables.tableEngines(spark)),
        "clusters" -> (() => graft.sources.SystemTables.clusters(spark)),
        "disks" -> (() => graft.sources.SystemTables.disks(spark)),
        "columns" -> (() => graft.sources.SystemTables.columnsAll(spark)),
        "parts" -> (() => graft.sources.SystemTables.partsAll(spark)),
        "detached_parts" ->
          (() => graft.sources.SystemTables.detachedParts(spark)),
        "projections" -> (() => graft.sources.SystemTables.projections(spark)),
        "errors" -> (() => graft.sources.SystemTables.errors(spark)),
        "view_refreshes" ->
          (() => graft.sources.SystemTables.viewRefreshes(spark)),
        "backups" -> (() => graft.sources.SystemTables.backups(spark)),
        "users" -> (() => graft.sources.SystemTables.users(spark)),
        "roles" -> (() => graft.sources.SystemTables.rolesTable(spark)),
        "grants" -> (() => graft.sources.SystemTables.grantsTable(spark)),
        "row_policies" ->
          (() => graft.sources.SystemTables.rowPolicies(spark)),
        "quotas" -> (() => graft.sources.SystemTables.quotasTable(spark)),
        "quota_usage" ->
          (() => graft.sources.SystemTables.quotaUsage(spark)),
        "settings_profiles" ->
          (() => graft.sources.SystemTables.settingsProfilesTable(spark)),
        "part_log" -> (() => graft.sources.SystemTables.partLog(spark)),
        "current_roles" ->
          (() => graft.sources.SystemTables.currentRoles(spark)),
        "dropped_tables" ->
          (() => graft.sources.SystemTables.droppedTables(spark)),
        "named_collections" ->
          (() => graft.sources.SystemTables.namedCollections(spark)),
        "workloads" -> (() => graft.sources.SystemTables.workloads(spark)),
        "resources" ->
          (() => graft.sources.SystemTables.resourcesTable(spark)),
        "enabled_roles" ->
          (() => graft.sources.SystemTables.enabledRoles(spark)),
        "settings_changes" ->
          (() => graft.sources.SystemTables.settingsChanges(spark)),
        "time_zones" -> (() => graft.sources.SystemTables.timeZones(spark)),
        "build_options" ->
          (() => graft.sources.SystemTables.buildOptions(spark)),
        "warnings" -> (() => graft.sources.SystemTables.warnings(spark)),
        "replicas" -> (() => graft.sources.SystemTables.replicas(spark)),
        "moves" -> (() => graft.sources.SystemTables.moves(spark)),
        // system.numbers streams unbounded in the reference
        // (StorageSystemNumbers.cpp) and every real query bounds it with
        // LIMIT or a WHERE predicate; materialize to the LARGEST bound the
        // query mentions — the max over every `LIMIT n` and every
        // `number <[=] n` comparison — so a smaller LIMIT belonging to an
        // unrelated subquery can never truncate the stream (a too-large
        // bound is merely extra rows the outer plan filters/limits away).
        // Default 2^20; queries that reference number values beyond the
        // 2^27 materialization cap fail LOUDLY instead of silently
        // returning short results.
        "numbers" -> { () =>
          val cap = 1L << 27
          val limits = "(?is)\\bLIMIT\\s+(\\d+)".r
            .findAllMatchIn(trimmedNoFmt).map(_.group(1).toLong).toSeq
          val whereBounds = "(?is)\\bnumber\\s*(<=|<|=)\\s*(\\d+)".r
            .findAllMatchIn(trimmedNoFmt)
            .map(m => m.group(2).toLong + (if (m.group(1) == "<") 0L else 1L))
            .toSeq
          val bound = (limits ++ whereBounds).foldLeft(1L << 20)(math.max)
          require(bound <= cap,
            s"system.numbers: query references number values up to $bound, " +
              s"beyond the $cap materialization cap")
          graft.sources.SystemTables.numbers(spark, bound)
        })
      "\\bsystem\\.([a-z_]+)\\b".r.findAllMatchIn(trimmedNoFmt)
        .map(_.group(1)).toSeq.distinct
        .filter(servable.contains)
        .foreach { t =>
          servable(t)().createOrReplaceTempView(s"graft_system_$t")
        }
    }
    // file('path'[, 'Format'[, 'schema']]) table function
    // (src/TableFunctions/TableFunctionFile.cpp): resolve each call to a
    // temp view over the matching reader BEFORE the literal-safe rewrite
    // (the call's arguments are quoted, so they must go before the
    // quote-split below).
    // CREATE [OR REPLACE] VIEW with {p:Type} placeholders → store as a
    // PARAMETERIZED view (src/Storages/StorageView.cpp parameterized
    // views); `FROM v(p = x)` substitutes typed literals at call time.
    if (trimmedNoFmt.matches("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\b.*") &&
        trimmedNoFmt.contains("{")) {
      val re = ("(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?VIEW\\s+" +
        "([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(.*?);?\\s*$").r
      trimmedNoFmt match {
        case re(name, body) =>
          paramViews.put(name.toLowerCase, body)
          import spark.implicits._
          return Seq("OK").toDF("status")
        case _ => throw new IllegalArgumentException(
          "unsupported parameterized CREATE VIEW form")
      }
    }
    if (trimmedNoFmt.matches("(?is)^DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?[A-Za-z_][A-Za-z0-9_]*\\s*;?\\s*$")) {
      val n = trimmedNoFmt
        .replaceFirst("(?is)^DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?", "")
        .replaceFirst(";\\s*$", "").trim.toLowerCase
      if (paramViews.remove(n) != null) {
        import spark.implicits._
        return Seq("OK").toDF("status")
      } // plain catalog views fall through to Spark's DROP VIEW
    }
    val trimmedFileFn =
      if (trimmedNoFmt.matches("(?is)^(SELECT|WITH)\\b.*"))
        resolveParamViews(spark,
          resolveMergeFn(spark, resolveFileFn(spark,
            resolveFormatFn(spark, resolveRemoteFn(spark,
              resolveNullFn(spark, resolveDeltaLakeFn(spark,
                resolveCollectionFileFn(trimmedNoFmt))))))))
      else trimmedNoFmt
    val trimmed = SqlLex.replaceAll(trimmedFileFn,
        ("(?i)\\bsystem\\.(tables|functions|settings|query_log|dictionaries|" +
          "data_skipping_indices|metrics|events|asynchronous_metrics|" +
          "databases|processes|one|numbers|merges|mutations|" +
          "formats|table_engines|clusters|disks|columns|parts|" +
          "detached_parts|projections|errors|view_refreshes|" +
          "backups|time_zones|build_options|warnings|replicas|moves|" +
          "users|roles|grants|row_policies|settings_profiles|" +
          "quota_usage|quotas|part_log|settings_changes|" +
          "current_roles|enabled_roles|dropped_tables|" +
          "named_collections|workloads|resources)\\b").r)(
      m => "graft_system_" + m.group(1))
    if (Dictionaries.matches(trimmed))
      Dictionaries.execute(spark, trimmed)
    else if (trimmed.matches("(?is)^DESC(RIBE)?(\\s+TABLE)?\\s+[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // DESCRIBE TABLE (ParserDescribeTableQuery): reference-shaped
      // (name, type) rows with CH type names.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^DESC(RIBE)?(\\s+TABLE)?\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      spark.table(t).schema.fields.toSeq
        .map(f => (f.name, chTypeOrSpark(f)))
        .toDF("name", "type")
    }
    else if (trimmed.matches("(?is)^SHOW\\s+CREATE\\s+(TABLE\\s+)?[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // SHOW CREATE TABLE (InterpreterShowCreateQuery): render the
      // reference-dialect DDL from the live schema.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^SHOW\\s+CREATE\\s+(TABLE\\s+)?", "")
        .replaceFirst(";\\s*$", "").trim
      // live views render their stored definition (StorageLiveView)
      LiveViews.selectOf(t).foreach { sel =>
        return Seq(s"CREATE LIVE VIEW $t AS $sel").toDF("statement")
      }
      Option(refreshableViews.get(t.toLowerCase)) match {
        case Some(rv) =>
          // refreshable MV: render the stored definition with its schedule
          Seq(s"CREATE MATERIALIZED VIEW ${rv.name} REFRESH ${rv.schedule} " +
              s"AS ${rv.select.trim}")
            .toDF("statement")
        case None =>
          // recorded engine metadata renders back (ORDER BY / SAMPLE BY
          // / COMMENT / column DEFAULT+COMMENT survive MODIFY verbs)
          val em = engineMetaOf(t)
          val cols = spark.table(t).schema.fields
            .map { f =>
              val dflt = em.colDefaults.get(f.name)
                .map(d => s" DEFAULT $d").getOrElse("")
              val cmt = em.colComments.get(f.name)
                .map(c => s" COMMENT '$c'").getOrElse("")
              s"`${f.name}` ${chTypeOrSpark(f)}$dflt$cmt"
            }
            .mkString(", ")
          val sample = em.sampleBy.map(sb => s" SAMPLE BY $sb").getOrElse("")
          val cmt = em.comment.map(c => s" COMMENT '$c'").getOrElse("")
          Seq(s"CREATE TABLE $t ($cols) ENGINE = MergeTree ORDER BY " +
              s"${em.orderBy.getOrElse("tuple()")}$sample$cmt")
            .toDF("statement")
      }
    }
    else if (trimmed.matches("(?is)^TRUNCATE\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // TRUNCATE TABLE (ParserSystemQuery family): keep schema, drop rows.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^TRUNCATE\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?", "")
        .replaceFirst(";\\s*$", "").trim
      if (spark.catalog.tableExists(t)) {
        val empty = spark.table(t).limit(0).localCheckpoint(true)
        empty.write.mode("overwrite").insertInto(t)
        refreshSkipIndexes(spark, t)
        queryCache.clear() // mutated data: cached SELECT results are stale
      }
      Seq("OK").toDF("status")
    }
    else if (trimmed.matches("(?is)^CHECK\\s+TABLE\\s+[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // CHECK TABLE (ParserCheckQuery / InterpreterCheckQuery): verify
      // every backing file decodes; one row per part with is_ok, plus the
      // reference's summary row semantics via the min over parts.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^CHECK\\s+TABLE\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      val files = spark.table(t).inputFiles.toSeq.sorted
      val checks = files.map { f =>
        val ok = try { spark.read.parquet(f).count(); 1 } catch { case _: Exception => 0 }
        (new org.apache.hadoop.fs.Path(f).getName, ok)
      }
      checks.toDF("part", "is_ok")
    }
    else if (trimmed.matches(
        "(?is)^UPDATE\\s+[A-Za-z_][A-Za-z0-9_.]*\\s+SET\\s+.*\\bWHERE\\b.*")) {
      // Standalone lightweight UPDATE (ParserUpdateQuery: UPDATE t SET
      // a = e, … [IN PARTITION p] WHERE pred) — routed to the same
      // durable pruned part rewrite as ALTER TABLE UPDATE; IN PARTITION
      // narrows the WHERE to the named partition.
      val re = ("(?is)^UPDATE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+SET\\s+(.+?)" +
        "(?:\\s+IN\\s+PARTITION\\s+'?([^'\\s;]+)'?)?\\s+WHERE\\s+(.+?);?\\s*$").r
      trimmed match {
        case re(t, assigns, pval, pred) =>
          val scoped = Option(pval).map { v =>
            val pcols = spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t))
              .partitionColumnNames
            require(pcols.size == 1,
              s"UPDATE IN PARTITION needs one partition column, $t has $pcols")
            s"($pred) AND ${pcols.head} = '$v'"
          }.getOrElse(pred)
          alterMutation(spark, s"ALTER TABLE $t UPDATE $assigns WHERE $scoped")
        case _ => throw new IllegalArgumentException("unsupported UPDATE form")
      }
    }
    else if (trimmed.matches("(?is)^DELETE\\s+FROM\\s+[A-Za-z_][A-Za-z0-9_.]*\\s+WHERE\\s+.*$")) {
      // Lightweight DELETE (ParserDeleteQuery): durable part rewrite
      // keeping the survivors — staged on disk, pruned to partitions
      // that contain matching rows (DurableRewrite).
      import spark.implicits._
      val re = "(?is)^DELETE\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+WHERE\\s+(.*?);?\\s*$".r
      trimmed match {
        case re(t, pred) =>
          val p = org.apache.spark.sql.functions.expr(rewrite(pred))
          val surviving = spark.table(t)
            .filter(org.apache.spark.sql.functions.not(
              org.apache.spark.sql.functions.coalesce(
                p, org.apache.spark.sql.functions.lit(false))))
          graft.operators.DurableRewrite.rewrite(spark, t, surviving, Some(p))
          refreshSkipIndexes(spark, t)
          queryCache.clear() // mutated data: cached SELECT results are stale
          logMutation(t, trimmed)
          Seq("OK").toDF("status")
        case _ => throw new IllegalArgumentException("unsupported DELETE form")
      }
    }
    else if (trimmed.matches(
        "(?is)^CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?[A-Za-z_][A-Za-z0-9_.]*\\s+AS\\s+[A-Za-z_][A-Za-z0-9_.]*\\s*(ENGINE\\s*=[^()]*)?;?\\s*$")) {
      // CREATE TABLE a AS b (schema clone, no data — ParserCreateQuery's
      // as_table form; never matches CTAS, whose AS is followed by SELECT)
      // → Spark's CREATE TABLE ... LIKE
      val re = ("(?is)^CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
        "([A-Za-z_][A-Za-z0-9_.]*)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_.]*).*$").r
      val re(ifNot, a, b) = trimmed
      val ine = if (ifNot != null) "IF NOT EXISTS " else ""
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), a)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
      spark.sql(s"CREATE TABLE $ine$a LIKE $b USING parquet")
    } else if (trimmed.matches("(?is)^CREATE\\s+TABLE\\b.*")) {
      val out = spark.sql(rewriteCreateTable(trimmed))
      recordEngineMeta(trimmed) // ORDER BY / SAMPLE BY / COMMENT / defaults
      out
    }
    else if (trimmed.matches("(?is)^CREATE\\s+LIVE\\s+VIEW\\b.*")) {
      // CREATE LIVE VIEW (StorageLiveView.h): version-counted view; the
      // push channel is served pull-side by WATCH (graft.sql.LiveViews)
      val re = ("(?is)^CREATE\\s+LIVE\\s+VIEW\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
        "([A-Za-z_][A-Za-z0-9_.]*)\\s+AS\\s+(.*)$").r
      trimmed match {
        case re(ifNot, name, select) =>
          LiveViews.create(spark, name, select.trim.stripSuffix(";"),
            ifNot != null,
            s => rewrite(expandSchemaTransformers(spark, s)))
          import spark.implicits._
          Seq("OK").toDF("status")
        case _ => throw new IllegalArgumentException(
          "unsupported CREATE LIVE VIEW form")
      }
    }
    else if (trimmed.matches("(?is)^WATCH\\b.*")) {
      // WATCH lv [EVENTS] [LIMIT n] (ASTWatchQuery: table + optional
      // limit_length + is_watch_events): bounded re-evaluation — the
      // version bumps iff the result hash changed (exactly once per
      // underlying change, however many WATCHes observe it)
      val re = ("(?is)^WATCH\\s+([A-Za-z_][A-Za-z0-9_.]*)" +
        "(\\s+EVENTS)?(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$").r
      trimmed match {
        case re(name, events, limit) =>
          val run = liveViewRun(spark)
          if (events != null)
            LiveViews.watchEvents(spark, name,
              Option(limit).map(_.toInt), run)
          else LiveViews.watch(spark, name, run)
        case _ => throw new IllegalArgumentException(
          "unsupported WATCH form (expected WATCH view [EVENTS] [LIMIT n])")
      }
    } else if (trimmed.matches(
        "(?is)^DROP\\s+(LIVE\\s+)?VIEW\\s+(IF\\s+EXISTS\\s+)?" +
          "[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$") &&
        LiveViews.contains(trimmed
          .replaceFirst("(?is)^DROP\\s+(LIVE\\s+)?VIEW\\s+(IF\\s+EXISTS\\s+)?", "")
          .replaceFirst(";\\s*$", "").trim)) {
      val name = trimmed
        .replaceFirst("(?is)^DROP\\s+(LIVE\\s+)?VIEW\\s+(IF\\s+EXISTS\\s+)?", "")
        .replaceFirst(";\\s*$", "").trim
      LiveViews.remove(name)
      spark.catalog.dropTempView(name)
      import spark.implicits._
      Seq("OK").toDF("status")
    }
    else if (trimmed.matches("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\b.*")) {
      // batch analog of the reference's MV: materialize the SELECT once as
      // a parquet CTAS (the streaming push chain is WindowView
      // .materializedView); [TO target] inner-table form uses the target
      // name; POPULATE is implied (CTAS always populates).
      // REFRESH EVERY n unit (round 9 — RefreshTask.cpp/RefreshSchedule
      // .cpp refreshable MVs): the schedule is parsed + recorded, and
      // SYSTEM REFRESH VIEW re-runs the stored SELECT on demand — the
      // honest mapping in an engine with no background scheduler loop
      // (like system.merges, the ledger records what a daemon would do).
      val re = ("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
        "([A-Za-z_][A-Za-z0-9_.]*)\\s*" +
        "(?:REFRESH\\s+EVERY\\s+(\\d+)\\s+([A-Za-z]+)\\s+)?" +
        "(?:TO\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+)?" +
        "(?:POPULATE\\s+)?AS\\s+(.*)$").r
      trimmed match {
        case re(ifNot, name, every, unit, target, select) =>
          val tbl = if (target != null) target else name
          val ine = if (ifNot != null) "IF NOT EXISTS " else ""
          val wh = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), tbl)
          wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          val body = rewrite(expandSchemaTransformers(spark, select))
          spark.sql(s"CREATE TABLE $ine$tbl USING parquet AS " + body)
          if (every != null)
            refreshableViews.put(name.toLowerCase,
              RefreshableView(name, tbl, select,
                s"EVERY $every ${unit.toUpperCase}", refreshes = 0L))
          else refreshableViews.remove(name.toLowerCase)
          import spark.implicits._
          Seq("OK").toDF("status")
        case _ => throw new IllegalArgumentException(
          "unsupported CREATE MATERIALIZED VIEW form")
      }
    } else if (trimmed.matches(
        "(?is)^SYSTEM\\s+REFRESH\\s+VIEW\\s+[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // SYSTEM REFRESH VIEW v (InterpreterSystemQuery SYSTEM REFRESH VIEW
      // → RefreshTask::run): force the re-materialization the schedule
      // would trigger — drop + re-CTAS the stored SELECT against the
      // CURRENT base data, then invalidate caches like any mutation.
      import spark.implicits._
      val v = trimmed.replaceFirst("(?is)^SYSTEM\\s+REFRESH\\s+VIEW\\s+", "")
        .replaceFirst(";\\s*$", "").trim.toLowerCase
      Option(refreshableViews.get(v)) match {
        case Some(rv) =>
          // durable replace: the fresh materialization is staged on disk
          // before the old table drops — a crash mid-refresh leaves the
          // stale-or-staged copy, never neither (DurableRewrite)
          val out = spark.sql(
            rewrite(expandSchemaTransformers(spark, rv.select)))
          graft.operators.DurableRewrite.replaceTable(spark, rv.table, out)
          refreshableViews.put(v, rv.copy(refreshes = rv.refreshes + 1))
          refreshSkipIndexes(spark, rv.table)
          queryCache.clear()
          Seq("OK").toDF("status")
        case None => throw new IllegalArgumentException(
          s"SYSTEM REFRESH VIEW: $v is not a refreshable materialized view")
      }
    } else if (trimmed.matches("(?is)^DETACH\\s+TABLE\\b.*")) {
      // DETACH TABLE (InterpreterDropQuery detach branch): the table
      // leaves the catalog but its DATA survives — the files move O(1)
      // to a `_detached` sibling (the same rename the partition
      // lifecycle uses) so the managed DROP has nothing to purge;
      // ATTACH TABLE reverses both steps.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^DETACH\\s+TABLE\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      val loc = tableLocation(spark, t)
      val schemaDdl = spark.table(t).schema.toDDL
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val det = new org.apache.hadoop.fs.Path(loc + "_detached")
      fs.delete(det, true)
      // rename is the data-preservation step: if it fails the DROP below
      // would purge a managed table's live files — abort instead
      if (!fs.rename(new org.apache.hadoop.fs.Path(loc), det))
        throw new IllegalStateException(
          s"DETACH TABLE $t: rename of $loc to $det failed; table left attached")
      spark.sql(s"DROP TABLE $t")
      detachedTables.put(t, (schemaDdl, loc))
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^ATTACH\\s+TABLE\\b.*")) {
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^ATTACH\\s+TABLE\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      Option(detachedTables.remove(t)) match {
        case Some((schemaDdl, loc)) =>
          val fs = new org.apache.hadoop.fs.Path(loc)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.rename(new org.apache.hadoop.fs.Path(loc + "_detached"),
            new org.apache.hadoop.fs.Path(loc))
          spark.sql(
            s"CREATE TABLE $t ($schemaDdl) USING parquet LOCATION '$loc'")
        case None => throw new IllegalArgumentException(
          s"ATTACH TABLE $t: no detached table of that name")
      }
      Seq("OK").toDF("status")
    } else if (trimmed.matches(
        "(?is)^DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // DROP TABLE with an UNDROP window (InterpreterDropQuery +
      // InterpreterUndropQuery: Atomic databases keep a dropped table's
      // data for database_atomic_delay_before_drop_table_sec before the
      // real delete): the data dir moves O(1) to a `_dropped` sibling —
      // the same rename DETACH uses, with the same rename-failure abort —
      // so the catalog DROP below has nothing to purge. The holding copy
      // lives until the next DROP of the same name re-uses the slot.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?", "")
        .replaceFirst(";\\s*$", "").trim
      val isCatalogTable = spark.catalog.tableExists(t) &&
        spark.sessionState.catalog
          .getTempView(t.toLowerCase(java.util.Locale.ROOT)).isEmpty &&
        scala.util.Try(tableLocation(spark, t)).isSuccess
      if (!isCatalogTable) {
        // temp view / catalog view / missing table: Spark's own DROP
        spark.sql(trimmed.replaceFirst(";\\s*$", ""))
      } else {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
        val loc = tableLocation(spark, t)
        val schemaDdl = spark.table(t).schema.toDDL
        val fs = new org.apache.hadoop.fs.Path(loc)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hold = new org.apache.hadoop.fs.Path(loc + "_dropped")
        fs.delete(hold, true)
        if (fs.exists(new org.apache.hadoop.fs.Path(loc)) &&
            !fs.rename(new org.apache.hadoop.fs.Path(loc), hold))
          throw new IllegalStateException(
            s"DROP TABLE $t: rename of $loc to $hold failed; table left in place")
        spark.sql(s"DROP TABLE $t")
        droppedTables.put(t, (schemaDdl, loc, meta.partitionColumnNames,
          meta.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED))
        // engine metadata follows the table into the holding area: a
        // fresh CREATE of the name starts clean, UNDROP restores it
        engineMeta.remove(t).foreach(droppedEngineMeta.put(t, _))
        queryCache.clear()
      }
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^UNDROP\\s+TABLE\\b.*")) {
      // UNDROP TABLE (InterpreterUndropQuery.cpp): restore the most
      // recently dropped table of this name from the `_dropped` holding
      // dir — rename back, re-create the catalog entry over the original
      // location, partitions recovered.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^UNDROP\\s+TABLE\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      Option(droppedTables.remove(t)) match {
        case Some((schemaDdl, loc, partCols, managed)) =>
          recreateCatalogEntry(spark, t, schemaDdl, loc, partCols, managed) {
            dest =>
              val fs = new org.apache.hadoop.fs.Path(loc)
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              val hold = new org.apache.hadoop.fs.Path(loc + "_dropped")
              if (fs.exists(hold) &&
                  !fs.rename(hold, new org.apache.hadoop.fs.Path(dest)))
                throw new IllegalStateException(
                  s"UNDROP TABLE $t: rename of $hold to $dest failed")
          }
          droppedEngineMeta.remove(t).foreach(engineMeta.put(t, _))
        case None => throw new IllegalArgumentException(
          s"UNDROP TABLE $t: no dropped table of that name in the holding area")
      }
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^(BACKUP|RESTORE)\\s+TABLE\\b.*")) {
      backupRestore(spark, trimmed)
    } else if (trimmed.matches(
        "(?is)^(CREATE|ALTER|DROP)\\s+NAMED\\s+COLLECTION\\b.*") ||
        trimmed.matches("(?is)^SHOW\\s+NAMED\\s+COLLECTIONS\\s*;?\\s*$")) {
      namedCollectionDdl(spark, trimmed)
    } else if (trimmed.matches(
        "(?is)^(CREATE|DROP)\\s+(WORKLOAD|RESOURCE)\\b.*")) {
      workloadDdl(spark, trimmed)
    } else if (AccessControl.matches(trimmed)) {
      AccessControl.execute(spark, trimmed)
    } else if (trimmed.matches("(?is)^EXCHANGE\\s+TABLES\\b.*")) {
      // EXCHANGE TABLES a AND b (InterpreterRenameQuery exchange=true):
      // atomic in the reference; here a triple rename through a temp name
      val re = ("(?is)^EXCHANGE\\s+TABLES\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+AND\\s+" +
        "([A-Za-z_][A-Za-z0-9_.]*)\\s*;?\\s*$").r
      trimmed match {
        case re(a, b) =>
          val tmp = s"__graft_xchg_${System.nanoTime()}"
          Seq((a, tmp), (b, a), (tmp, b)).foreach { case (from, to) =>
            spark.sql(s"ALTER TABLE $from RENAME TO $to")
            moveEngineMeta(from, to)
          }
          import spark.implicits._
          Seq("OK").toDF("status")
        case _ => throw new IllegalArgumentException("unsupported EXCHANGE form")
      }
    } else if (trimmed.matches("(?is)^RENAME\\s+TABLE\\b.*")) {
      val re = ("(?is)^RENAME\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+TO\\s+" +
        "([A-Za-z_][A-Za-z0-9_.]*)\\s*;?\\s*$").r
      trimmed match {
        case re(from, to) =>
          val df = spark.sql(s"ALTER TABLE $from RENAME TO $to")
          moveEngineMeta(from, to)
          df
        case _ => throw new IllegalArgumentException("unsupported RENAME form")
      }
    }
    else if (trimmed.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+(ADD|DROP|MATERIALIZE)\\s+PROJECTION\\b.*"))
      projectionDdl(spark, trimmed)
    else if (trimmed.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+(ADD|DROP|MATERIALIZE|CLEAR)\\s+INDEX\\b.*"))
      indexDdl(spark, trimmed)
    else if (trimmed.matches(
        "(?is)^ALTER\\s+TABLE\\s+\\S+\\s+(DETACH|ATTACH|DROP|FREEZE|REPLACE|MOVE|FETCH)\\s+PARTITION\\b.*"))
      alterPartition(spark, trimmed)
    else if (trimmed.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+(MODIFY|MATERIALIZE)\\s+TTL\\b.*"))
      alterTtl(spark, trimmed)
    else if (trimmed.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+" +
        "(MODIFY\\s+(ORDER\\s+BY|SAMPLE\\s+BY|COMMENT)|REMOVE\\s+SAMPLE\\s+BY|" +
        "COMMENT\\s+COLUMN|MATERIALIZE\\s+COLUMN)\\b.*"))
      alterMeta(spark, trimmed)
    else if (trimmed.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+(UPDATE|DELETE)\\b.*"))
      alterMutation(spark, trimmed)
    else if (trimmed.matches(
        "(?is)^ALTER\\s+TABLE\\s+\\S+\\s+CLEAR\\s+COLUMN\\b.*")) {
      // ALTER TABLE t CLEAR COLUMN c [IN PARTITION 'v'] (AlterCommands
      // DROP_COLUMN clear_column form): reset the column to its default
      // (NULL here) in the named partition — a part rewrite of the
      // affected rows only, everything else passes through.
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit, when}
      val re = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+CLEAR\\s+COLUMN\\s+" +
        "`?([A-Za-z_][A-Za-z0-9_]*)`?(?:\\s+IN\\s+PARTITION\\s+'?([^'\\s;]+)'?)?\\s*;?\\s*$").r
      trimmed match {
        case re(t, c, pval) =>
          val base = spark.table(t)
          val dt = base.schema(c).dataType
          // clearing a partition column would move every row's
          // partition — forbidden like the reference's key columns
          require(!spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t))
              .partitionColumnNames.exists(_.equalsIgnoreCase(c)),
            s"Cannot CLEAR key column `$c` (it is a partition column of $t)")
          val condOpt = Option(pval).map { v =>
            val pcols = spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t))
              .partitionColumnNames
            require(pcols.size == 1,
              s"CLEAR COLUMN IN PARTITION needs one partition column, $t has $pcols")
            col(pcols.head) === v
          }
          val cond = condOpt.getOrElse(lit(true))
          val mutated = base.withColumn(c,
            when(cond, lit(null).cast(dt)).otherwise(col(c)))
          // IN PARTITION prunes the rewrite to the named partition only
          graft.operators.DurableRewrite.rewrite(spark, t, mutated, condOpt)
          refreshSkipIndexes(spark, t)
          queryCache.clear()
          logMutation(t, trimmed)
          Seq("OK").toDF("status")
        case _ => throw new IllegalArgumentException(
          "unsupported CLEAR COLUMN form")
      }
    }
    else if (trimmed.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+(ADD|DROP|MODIFY|RENAME)\\s+COLUMN\\b.*"))
      alterColumnDdl(spark, trimmed)
    else if (trimmed.matches("(?is)^OPTIMIZE\\s+TABLE\\b.*")) {
      import spark.implicits._
      // OPTIMIZE ... DEDUPLICATE [BY c1, c2] has real semantics (the
      // reference physically dedups identical rows during the merge —
      // InterpreterOptimizeQuery + MergeTreeDataMergerMutator dedup):
      // rewrite the catalog table keeping one row per key (all columns
      // when BY is absent). Plain OPTIMIZE stays a no-op: merges are
      // Spark's compaction concern.
      val dedup = ("(?is)^OPTIMIZE\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)" +
        "(?:\\s+PARTITION\\s+'?([^'\\s;]+)'?)?" +
        "(?:\\s+FINAL)?\\s+DEDUPLICATE(?:\\s+BY\\s+(.+?))?\\s*;?\\s*$").r
      trimmed match {
        case dedup(table, part, by) =>
          import org.apache.spark.sql.functions.col
          val cols = Option(by).map(_.split(",").map(_.trim).toSeq)
          val before = spark.table(table)
          // PARTITION scope (round 8 — previously this form fell to the
          // no-op branch WITHOUT deduplicating): dedup only the named
          // partition's rows, pass every other partition through. The
          // pass-through complement is NULL-SAFE (<=>): a plain
          // !(col === v) evaluates to NULL for NULL-partition rows
          // (__HIVE_DEFAULT_PARTITION__), which would silently DELETE them
          val (target, rest, partCond) = Option(part) match {
            case Some(v) =>
              val pcols = spark.sessionState.catalog.getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(table))
                .partitionColumnNames
              require(pcols.size == 1,
                s"OPTIMIZE PARTITION needs one partition column, $table has $pcols")
              (before.filter(col(pcols.head) === v),
                Some(before.filter(
                  !col(pcols.head).eqNullSafe(org.apache.spark.sql.functions.lit(v)))),
                Some(col(pcols.head) === v))
            case None => (before, None, None)
          }
          val deduped = cols.fold(target.dropDuplicates())(c =>
            target.dropDuplicates(c.head, c.tail: _*))
          val after = rest.fold(deduped)(r => deduped.unionByName(r))
          // durable part rewrite; a PARTITION scope prunes the rewrite
          // to that partition's files only (DurableRewrite)
          graft.operators.DurableRewrite.rewrite(spark, table, after, partCond)
          refreshSkipIndexes(spark, table)
          queryCache.clear() // mutated data: cached SELECT results are stale
          Seq("OK").toDF("status")
        case _ => Seq("OK").toDF("status")
      }
    } else if (trimmed.matches("(?is)^SET\\s+\\w+\\s*=.*")) {
      // per-session engine knobs: accept and record on the Spark conf
      // under a namespaced key (no reference settings map onto Spark 1:1)
      val kv = "(?is)^SET\\s+(\\w+)\\s*=\\s*(.+?)\\s*;?\\s*$".r
      trimmed match {
        case kv(k, v) =>
          val prev = spark.conf.getOption(s"graft.ch.$k").getOrElse("")
          // SET workload pins the session's jobs to the Spark
          // fair-scheduler pool of that name (the workload-scheduling
          // mapping); the workload must exist
          if (k.equalsIgnoreCase("workload")) {
            val w = v.stripPrefix("'").stripSuffix("'")
            require(workloadExists(w),
              s"SET workload: workload `$w` does not exist " +
                "(CREATE WORKLOAD first)")
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", w)
          }
          spark.conf.set(s"graft.ch.$k", v)
          // session settings audit (system.settings_changes)
          graft.sources.SystemTables.SettingsChangesLedger.record(k, v, prev)
          // SET user authenticates the session: apply every settings
          // profile covering the new user (SettingsProfilesCache)
          if (k.equalsIgnoreCase("user")) AccessControl.applyProfiles(spark)
        case _ =>
      }
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^EXPLAIN\\s+indexes\\s*=\\s*1\\b.*")) {
      // EXPLAIN indexes = 1 (the reference's index-usage explain:
      // InterpreterExplainQuery with indexes setting — which skip index
      // ran, parts before/after): optimize the query and report the
      // pruning decisions the transparent rule took.
      val q = trimmed.replaceFirst("(?is)^EXPLAIN\\s+indexes\\s*=\\s*1\\s+", "")
      graft.plans.SkipIndexPruning.clearDecisions()
      val df = sqlImpl(spark, q) // same statement — no second quota charge
      df.queryExecution.optimizedPlan // force optimization → decisions
      val ds = graft.plans.SkipIndexPruning.lastDecisions
      import spark.implicits._
      if (ds.isEmpty)
        Seq.empty[(String, String, String, Int, Int)]
          .toDF("data_path", "index_type", "columns", "files_admitted",
            "files_total")
      else ds.map(d => (d.dataPath, d.kind, d.columns.toSeq.sorted.mkString(","),
          d.admitted, d.total))
        .toDF("data_path", "index_type", "columns", "files_admitted",
          "files_total")
    } else if (trimmed.matches("(?is)^EXPLAIN\\s+ESTIMATE\\b.*")) {
      // EXPLAIN ESTIMATE (InterpreterExplainQuery ESTIMATE kind): parts /
      // rows / marks for the FROM table, read from parquet FOOTERS —
      // metadata only, the query never executes (the reference reads the
      // same counts from part headers; a row group is the granule
      // analog, so it reports as marks).
      val q = trimmed.replaceFirst("(?is)^EXPLAIN\\s+ESTIMATE\\s+", "")
      val table = "(?is)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_.]*)".r
        .findFirstMatchIn(q).map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(
          "EXPLAIN ESTIMATE: no FROM <table>"))
      val loc = tableLocation(spark, table)
      val md = graft.sources.ChMiscFormats.readParquetMetadata(spark, loc)
      import org.apache.spark.sql.functions.{countDistinct, count, sum, lit => flit}
      md.agg(flit("default").as("database"), flit(table).as("table"),
        countDistinct(org.apache.spark.sql.functions.col("file")).as("parts"),
        sum("num_rows").as("rows"), count(flit(1)).as("marks"))
    } else if (trimmed.matches("(?is)^SHOW\\s+DATABASES\\s*;?\\s*$")) {
      graft.sources.SystemTables.databases(spark).select("name").orderBy("name")
    } else if (trimmed.matches("(?is)^SHOW\\s+DICTIONARIES\\s*;?\\s*$")) {
      graft.sources.SystemTables.dictionaries(spark).select("name").orderBy("name")
    } else if (trimmed.matches("(?is)^EXPLAIN\\s+SYNTAX\\b.*")) {
      // reference EXPLAIN SYNTAX shows the rewritten query — here, the
      // dialect translation itself
      val q = trimmed.replaceFirst("(?is)^EXPLAIN\\s+SYNTAX\\s+", "")
      import spark.implicits._
      Seq(rewrite(expandSchemaTransformers(spark, q))).toDF("rewritten")
    } else if (trimmed.matches("(?is)^EXPLAIN\\b.*")) {
      // PLAN/PIPELINE/ESTIMATE kinds all map to the Spark formatted plan
      val q = trimmed.replaceFirst(
        "(?is)^EXPLAIN\\s+(PLAN\\s+|PIPELINE\\s+|ESTIMATE\\s+|AST\\s+)?", "")
      spark.sql("EXPLAIN FORMATTED " + rewrite(expandSchemaTransformers(spark, q)))
    } else if (trimmed.matches("(?is)^SHOW\\s+TABLES\\b.*")) {
      // SHOW TABLES [LIKE '%pat%'] (ParserShowTablesQuery) — the session
      // catalog, optionally name-filtered; CH's LIKE matches SQL LIKE.
      import org.apache.spark.sql.functions.col
      val like = "(?is)\\bLIKE\\s+'([^']*)'".r.findFirstMatchIn(trimmed)
        .map(_.group(1))
      val all = graft.sources.SystemTables.tables(spark).select("name")
      like.fold(all)(p => all.filter(col("name").like(p))).orderBy("name")
    } else if (trimmed.matches("(?is)^EXISTS\\s+(TABLE\\s+)?[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // EXISTS [TABLE] t (ParserExistsTableQuery): UInt8 0/1 like CH.
      import spark.implicits._
      val t = trimmed.replaceFirst("(?is)^EXISTS\\s+(TABLE\\s+)?", "")
        .replaceFirst("(?s)\\s*;?\\s*$", "")
      Seq(if (spark.catalog.tableExists(t)) 1 else 0).toDF("result")
    } else if (trimmed.matches("(?is)^SYSTEM\\s+RELOAD\\s+DICTIONAR(Y|IES)\\b.*")) {
      // ExternalDictionariesLoader reload: re-collect from the source
      val one = "(?is)^SYSTEM\\s+RELOAD\\s+DICTIONARY\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$".r
      val name = one.findFirstMatchIn(trimmed).map(_.group(1))
      Dictionaries.reload(spark, name)
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^SYSTEM\\s+DROP\\s+QUERY\\s+CACHE\\s*;?\\s*$")) {
      queryCache.clear()
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches(
        "(?is)^SYSTEM\\s+DROP\\s+(MARK|UNCOMPRESSED|COMPILED\\s+EXPRESSION)\\s+CACHE\\s*;?\\s*$")) {
      // SYSTEM DROP MARK/UNCOMPRESSED/COMPILED EXPRESSION CACHE
      // (InterpreterSystemQuery): Spark's session block-cache is the
      // analog of the read caches — release it eagerly.
      spark.catalog.clearCache()
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches(
        "(?is)^SYSTEM\\s+(STOP|START)\\s+MERGES(\\s+[A-Za-z_][A-Za-z0-9_.]*)?\\s*;?\\s*$")) {
      // STOP/START MERGES: honest no-op — there is no background merge
      // daemon in this engine (compaction is Spark's write-path concern),
      // so both states are always "started" and always clean.
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches(
        "(?is)^SYSTEM\\s+DROP\\s+(DNS|FILESYSTEM|SCHEMA)\\s+CACHE\\s*;?\\s*$")) {
      // SYSTEM DROP DNS/FILESYSTEM/SCHEMA CACHE: the session block cache
      // is the nearest analog of the filesystem cache; DNS/schema caches
      // have no counterpart here — all three accept and answer OK like
      // an empty-cache reference server.
      spark.catalog.clearCache()
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches(
        "(?is)^SYSTEM\\s+SYNC\\s+REPLICA(\\s+[A-Za-z_][A-Za-z0-9_.]*)?\\s*;?\\s*$")) {
      // SYSTEM SYNC REPLICA: single-node engine — every table is always
      // in sync with itself; honest immediate OK.
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^SYSTEM\\s+RELOAD\\s+FUNCTIONS\\s*;?\\s*$")) {
      ChFunctionRegistry.install(spark) // idempotent re-install
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^SYSTEM\\s+FLUSH\\s+LOGS\\s*;?\\s*$")) {
      // SYSTEM FLUSH LOGS (InterpreterSystemQuery): drain the async
      // listener bus so system.events/query_log reads observe everything
      // issued before this statement.
      graft.sources.SystemTables.flushEvents(spark)
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^KILL\\s+QUERY\\b.*")) {
      // KILL QUERY WHERE query_id = 'x' (InterpreterKillQueryQuery):
      // cancel the Spark job group the tagged query's jobs run under —
      // in-flight stages abort with interruption, exactly the
      // reference's kill semantics. Cancelling an unknown id is a no-op
      // (the reference returns an empty result set).
      val id = "(?i)query_id\\s*=\\s*'([^']*)'".r.findFirstMatchIn(trimmed)
        .map(_.group(1)).getOrElse(throw new IllegalArgumentException(
          "KILL QUERY needs WHERE query_id = '<id>'"))
      spark.sparkContext.cancelJobGroup(id)
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^KILL\\s+MUTATION\\b.*")) {
      // KILL MUTATION: mutations in this engine are SYNCHRONOUS part
      // rewrites — there is never a pending mutation to kill, so the
      // statement parses and returns cleanly (the reference with an
      // empty mutation queue does the same).
      import spark.implicits._
      Seq("OK").toDF("status")
    } else if (trimmed.matches("(?is)^SHOW\\s+PROCESSLIST\\s*;?\\s*$")) {
      // SHOW PROCESSLIST (ParserShowProcesslistQuery) → system.processes
      graft.sources.SystemTables.processes(spark)
    } else if (trimmed.matches(
        "(?is)^SHOW\\s+(FULL\\s+)?COLUMNS\\s+(FROM|IN)\\s+" +
          "[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // SHOW COLUMNS (ParserShowColumnsQuery — the MySQL-compat shape:
      // field/type/null/key/default/extra); defaults come from the
      // engine-metadata ledger.
      import spark.implicits._
      val t = trimmed
        .replaceFirst("(?is)^SHOW\\s+(FULL\\s+)?COLUMNS\\s+(FROM|IN)\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      val em = engineMetaOf(t)
      spark.table(t).schema.fields.toSeq.map(f =>
        (f.name, chTypeOrSpark(f), if (f.nullable) "YES" else "NO", "",
          em.colDefaults.getOrElse(f.name, ""), ""))
        .toDF("field", "type", "null", "key", "default", "extra")
    } else if (trimmed.matches(
        "(?is)^SHOW\\s+(INDEX|INDEXES|KEYS)\\s+(FROM|IN)\\s+" +
          "[A-Za-z_][A-Za-z0-9_.]*\\s*;?\\s*$")) {
      // SHOW INDEXES (ParserShowIndexesQuery): the PRIMARY (sorting key)
      // row from the engine metadata plus every live skip index.
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val t = trimmed
        .replaceFirst("(?is)^SHOW\\s+(INDEX|INDEXES|KEYS)\\s+(FROM|IN)\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      require(spark.catalog.tableExists(t), s"no such table $t")
      val primary = engineMetaOf(t).orderBy.toSeq
        .map(ob => (t, "PRIMARY", ob, "primary"))
      val skips = skipIndexes.asScala.values.toSeq
        .filter(m => m.table == t && !m.cleared)
        .map(m => (t, m.name, m.columns.mkString(","), m.kind))
        .sortBy(_._2)
      (primary ++ skips)
        .toDF("table", "key_name", "column_name", "type")
    } else if (trimmed.matches(
        "(?is)^SHOW\\s+FUNCTIONS(\\s+LIKE\\s+'[^']*')?\\s*;?\\s*$")) {
      // SHOW FUNCTIONS [LIKE 'pat'] (ParserShowFunctionsQuery) →
      // system.functions names
      import org.apache.spark.sql.functions.col
      val like = "(?is)LIKE\\s+'([^']*)'".r.findFirstMatchIn(trimmed)
        .map(_.group(1))
      val all = graft.sources.SystemTables.functions(spark).select("name")
      like.fold(all)(p => all.filter(col("name").like(p))).orderBy("name")
    } else if (trimmed.matches("(?is)^SHOW\\s+ENGINES\\s*;?\\s*$")) {
      // SHOW ENGINES (ParserShowEngineQuery) → system.table_engines
      graft.sources.SystemTables.tableEngines(spark)
    } else if (trimmed.matches(
        "(?is)^SHOW\\s+SETTING\\s+[A-Za-z_][A-Za-z0-9_]*\\s*;?\\s*$")) {
      // SHOW SETTING name (ParserShowSettingQuery): the single value
      import spark.implicits._
      val k = trimmed.replaceFirst("(?is)^SHOW\\s+SETTING\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      Seq(spark.conf.getOption(s"graft.ch.$k").getOrElse("")).toDF("value")
    } else if (trimmed.matches("(?is)^USE\\s+[A-Za-z_][A-Za-z0-9_]*\\s*;?\\s*$")) {
      // USE db (ParserUseQuery): this engine serves the single `default`
      // database — switching to it is a no-op, anything else is loud.
      import spark.implicits._
      val db = trimmed.replaceFirst("(?is)^USE\\s+", "")
        .replaceFirst(";\\s*$", "").trim
      require(db.equalsIgnoreCase("default"),
        s"USE $db: only the `default` database exists on this engine")
      Seq("OK").toDF("status")
    } else {
      // ASOF / PASTE / ANY join spellings (round-13 — the reference's own
      // syntax for its non-standard strictnesses, Joins.h:44/78) rewrite
      // onto the oracled JoinOps operators BEFORE the textual dialect
      // pass; the guard keeps ordinary SQL off the parsing cost.
      val preJoined =
        if (trimmed.matches("(?is)^(SELECT|WITH)\\b.*") &&
            JoinSpellings.applies(trimmed))
          JoinSpellings.rewrite(spark, trimmed, selectRunner(spark))
        else trimmed
      val result = spark.sql(rewrite(expandSchemaTransformers(spark,
        bindDeclaredOrder(spark, preJoined))))
      // INSERT appends files to the table's layout: per-file skip indexes
      // no longer cover the new files (transparent pruning would silently
      // exclude the inserted rows) and cached SELECT results are stale —
      // mirror the DELETE/TRUNCATE/OPTIMIZE invalidation.
      val ins = ("(?is)^INSERT\\s+INTO\\s+(?:TABLE\\s+)?" +
        "([A-Za-z_][A-Za-z0-9_.]*)").r
      ins.findFirstMatchIn(trimmed).foreach { m =>
        refreshSkipIndexes(spark, m.group(1))
        queryCache.clear()
      }
      // use_query_cache = 1 (reference Settings use_query_cache →
      // QueryResultCache.cpp): SELECT results are admitted to / served
      // from the canonical-plan-keyed cache. SET lands on the conf above.
      if (trimmed.matches("(?is)^(SELECT|WITH)\\b.*") &&
          spark.conf.getOption("graft.ch.use_query_cache").contains("1"))
        queryCache.cached(result)
      else result
    }
  }

  /** Session-wide query result cache (reference QueryResultCache.cpp);
    * enabled per-session with `SET use_query_cache = 1`, dropped with
    * `SYSTEM DROP QUERY CACHE`. */
  val queryCache = new graft.operators.ResultCache()

  /** The reference's Template settings (FormatFactorySettings.h:
    * format_template_row_format inline, or format_template_row naming a
    * file; format_template_rows_between_delimiter, default newline).
    * Resultset-level templates are row framing this engine does not
    * serve — LOUD when set. */
  private def templateSettingsOf(spark: SparkSession): (String, String) = {
    def conf(n: String): Option[String] =
      spark.conf.getOption(s"graft.ch.$n")
        .map(_.stripPrefix("'").stripSuffix("'")).filter(_.nonEmpty)
    require(conf("format_template_resultset").isEmpty &&
      conf("format_template_resultset_format").isEmpty,
      "FORMAT Template: resultset-level templates are not supported " +
        "(row-level only)")
    val row = conf("format_template_row_format").orElse(
      conf("format_template_row").map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
          .stripSuffix("\n").stripSuffix("\r")
        finally in.close()
      }).getOrElse(throw new IllegalArgumentException(
      "FORMAT Template needs SET format_template_row_format = '…' " +
        "(or format_template_row = 'file')"))
    val between = conf("format_template_rows_between_delimiter")
      .map(_.replace("\\n", "\n").replace("\\t", "\t")
        .replace("\\r", "\r")).getOrElse("\n")
    (row, between)
  }

  /** The reference's format_schema setting ('file.proto:MessageName',
    * src/Formats/FormatSchemaInfo.cpp) for the Protobuf formats: read
    * the schema file and return (text, message). Loud when unset. */
  private def formatSchemaOf(spark: SparkSession): (String, String) = {
    val raw = spark.conf.getOption("graft.ch.format_schema")
      .map(_.stripPrefix("'").stripSuffix("'").trim)
      .getOrElse(throw new IllegalArgumentException(
        "FORMAT Protobuf needs SET format_schema = 'file.proto:Message'"))
    val i = raw.lastIndexOf(':')
    require(i > 0 && i < raw.length - 1,
      s"format_schema must be 'file.proto:Message', got '$raw'")
    val (file, msg) = (raw.substring(0, i), raw.substring(i + 1))
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    (text, msg)
  }

  /** The engine-internal evaluation lane WATCH and the LIVE VIEW push
    * stream share: full dialect rewrite, NO quota charge (re-evaluating
    * a live view is not a user statement — QuotaCache::used charges
    * statements, and the push lane fires per micro-batch). */
  def liveViewRun(spark: SparkSession): String => DataFrame =
    s => spark.sql(rewrite(expandSchemaTransformers(spark, s)))

  /** SELECT evaluator for JoinSpellings' subquery sides: the full
    * dialect treatment including NESTED join spellings (an ASOF side
    * may itself contain an ANY JOIN). Lazy — callers that only need the
    * schema never run a job. */
  private[sql] def selectRunner(spark: SparkSession): String => DataFrame =
    s0 => {
      val s1 =
        if (JoinSpellings.applies(s0))
          JoinSpellings.rewrite(spark, s0, selectRunner(spark))
        else s0
      spark.sql(rewrite(expandSchemaTransformers(spark, s1)))
    }

  // ---- projection DDL (ParserProjection → plans/*Projections) ---------

  // (table, projection) → registered base path + kind, for DROP
  /** One registered projection: base path, agg/normal kind, and the
    * REBUILD thunk mutations re-run (round 8 — the same staleness class
    * the round-7 ADVICE flagged for skip indexes: a mutated base table
    * must not keep serving a stale rollup). */
  private final case class ProjEntry(basePath: String, isAgg: Boolean,
      rebuild: () => Unit)

  private val projections =
    scala.collection.concurrent.TrieMap.empty[(String, String), ProjEntry]

  /** (table, projection name, kind) — feeds system.projections
    * (StorageSystemProjections analog). */
  def listProjections: Seq[(String, String, String)] =
    projections.snapshot().toSeq.map { case ((t, p), e) =>
      (t, p, if (e.isAgg) "aggregate" else "normal")
    }.sortBy(x => (x._1, x._2))

  /** error name → (count, last message) — feeds system.errors
    * (StorageSystemErrors.cpp). */
  val errorLedger =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Catalog table → its parquet location path. */
  private def tableLocation(spark: SparkSession, table: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.getPath

  /** ALTER TABLE t ADD/DROP/MATERIALIZE PROJECTION — the reference's
    * projection DDL (src/Parsers/ParserProjectionDeclaration, projections
    * on MergeTree tables), wired onto the two rewrite rules:
    *  - `ADD PROJECTION p (SELECT <dims+aggs> GROUP BY dims)` →
    *    AggProjections.create (precomputed rollup);
    *  - `ADD PROJECTION p (SELECT * ORDER BY keys)` →
    *    NormalProjections.create (alternate physical order);
    *  - MATERIALIZE PROJECTION is a no-op: ADD materializes eagerly here
    *    (the reference defers the build to a mutation);
    *  - DROP PROJECTION unregisters and removes the structure. */
  private def projectionDdl(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val add = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+ADD\\s+PROJECTION\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)\\s*;?\\s*$").r
    val drop = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+DROP\\s+PROJECTION\\s+" +
      "(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    val mat = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+MATERIALIZE\\s+PROJECTION\\b.*").r
    stmt.trim match {
      case add(table, proj, body) =>
        val basePath = tableLocation(spark, table)
        val groupBy = "(?is)\\bGROUP\\s+BY\\s+(.*)$".r.findFirstMatchIn(body)
        val orderBy = "(?is)\\bORDER\\s+BY\\s+(.*)$".r.findFirstMatchIn(body)
        if (groupBy.isDefined) {
          val dims = groupBy.get.group(1).split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
          val measures = "(?i)(?:sum|min|max|avg)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r
            .findAllMatchIn(body).map(_.group(1)).toSeq.distinct
          val wh = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"),
            s"graft_projections/${table}_$proj").toString
          val build = () => graft.plans.AggProjections.create(
            spark, basePath, wh, dims, measures)
          build()
          projections.put((table, proj), ProjEntry(basePath, isAgg = true, build))
        } else if (orderBy.isDefined) {
          val keys = orderBy.get.group(1).split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
          val build = () => graft.plans.NormalProjections.create(
            spark, basePath, s"${table}__proj_$proj", 8, keys)
          build()
          projections.put((table, proj), ProjEntry(basePath, isAgg = false, build))
        } else throw new IllegalArgumentException(
          "ADD PROJECTION needs a GROUP BY (aggregate) or ORDER BY (normal) body")
        Seq("OK").toDF("status")
      case drop(table, proj) =>
        projections.remove((table, proj)).foreach { e =>
          if (e.isAgg) graft.plans.AggProjections.drop(e.basePath)
          else graft.plans.NormalProjections.drop(spark, e.basePath)
        }
        Seq("OK").toDF("status")
      case mat(table) =>
        // MATERIALIZE PROJECTION forces the rebuild (the reference defers
        // the build to this mutation; ADD builds eagerly here, so this is
        // the refresh entry point)
        refreshProjections(spark, table.trim)
        Seq("OK").toDF("status")
      case other => throw new IllegalArgumentException(
        s"unsupported projection DDL: $other")
    }
  }

  /** CH type name for DESCRIBE/SHOW CREATE; complex types (arrays, maps)
    * fall back to the Spark DDL spelling the wire codecs don't carry. */
  private def chTypeOrSpark(f: org.apache.spark.sql.types.StructField): String =
    try graft.sources.ChWireFormats.chTypeName(f.dataType, f.nullable)
    catch { case _: IllegalArgumentException => f.dataType.sql }

  /** Skip-index DDL (src/Parsers/ParserCreateIndexQuery.h, index types in
    * src/Storages/MergeTree/MergeTreeIndices.h):
    *   ALTER TABLE t ADD INDEX [IF NOT EXISTS] name col[, col…]
    *     TYPE bloom_filter | minmax | ngrambf_v1(n[, …]) [GRANULARITY g]
    *   ALTER TABLE t DROP INDEX [IF EXISTS] name
    *   ALTER TABLE t MATERIALIZE/CLEAR INDEX name
    * bloom_filter additionally registers for TRANSPARENT pruning
    * (SkipIndexPruning); GRANULARITY is accepted and ignored — pruning is
    * file-granular here (the analog of the reference's granule). ADD
    * builds eagerly; MATERIALIZE rebuilds from the table's CURRENT data;
    * CLEAR deletes the built structure and disables pruning while keeping
    * the metadata entry visible (reference semantics: CLEAR drops built
    * files, keeps the index declared; MATERIALIZE re-builds it). Every
    * kind registers for TRANSPARENT pruning (SkipIndexPruning serves
    * equality via bloom/set, ranges via minmax, LIKE/contains via
    * ngrambf). Mutations that rewrite the table's files (DELETE,
    * TRUNCATE, OPTIMIZE ... DEDUPLICATE) call [[refreshSkipIndexes]] so a
    * registered index never prunes against stale file names. */
  private final case class SkipIdx(table: String, name: String,
      basePath: String, kind: String, idxDir: String, columns: Seq[String],
      param: Option[Int], cleared: Boolean)

  /** name → (schema DDL, data location) for DETACH/ATTACH TABLE. */
  private val detachedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** name → (schema DDL, original location, partition cols, was-managed)
    * for the DROP → UNDROP TABLE window (the holding dir is
    * `<location>_dropped`). */
  private val droppedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, Seq[String], Boolean)]()

  /** system.dropped_tables feed (StorageSystemDroppedTables.cpp): the
    * UNDROP-able holding area — table, holding path, managed flag. */
  def listDroppedTables: Seq[(String, String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    droppedTables.asScala.toSeq.sortBy(_._1)
      .map { case (t, (_, loc, _, managed)) =>
        (t, loc + "_dropped", managed) }
  }

  /** Re-create a table's catalog entry preserving its managed/external
    * identity, with the data to be moved in AFTERWARD (the entry is made
    * while the location is absent, then the caller installs the data and
    * this refreshes): managed tables stay managed — never silently
    * converted to external by a LOCATION clause. */
  private def recreateCatalogEntry(spark: SparkSession, t: String,
      schemaDdl: String, loc: String, partCols: Seq[String],
      managed: Boolean)(installData: String => Unit): Unit = {
    val partClause =
      if (partCols.nonEmpty) s" PARTITIONED BY (${partCols.mkString(", ")})"
      else ""
    if (managed)
      spark.sql(s"CREATE TABLE $t ($schemaDdl) USING parquet$partClause")
    else
      spark.sql(
        s"CREATE TABLE $t ($schemaDdl) USING parquet$partClause LOCATION '$loc'")
    // the entry's OWN location is authoritative (a managed create derives
    // it from the catalog, which may not equal the recorded one verbatim)
    val actualLoc = tableLocation(spark, t)
    val fs = new org.apache.hadoop.fs.Path(actualLoc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(actualLoc), true) // create's empty dir
    installData(actualLoc)
    if (partCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $t")
    spark.sql(s"REFRESH TABLE $t")
    refreshSkipIndexes(spark, t)
    queryCache.clear()
  }

  /** Backup ledger entry — feeds system.backups
    * (src/Storages/System/StorageSystemBackups.cpp). */
  final case class BackupEntry(name: String, table: String, status: String,
      numFiles: Long, totalSize: Long)

  private[graft] val backupLog =
    new java.util.concurrent.ConcurrentLinkedDeque[BackupEntry]()

  /** BACKUP TABLE t TO File('path') / Disk('disk', 'path') and
    * RESTORE TABLE t FROM … (ParserBackupQuery.h:8-31,
    * src/Backups/BackupsWorker.cpp): a backup is the table's data dir
    * copied under the destination plus a schema sidecar; RESTORE
    * re-creates the table from that copy. Disk('d', 'p') resolves under
    * /tmp/graft_disks/<d>/<p> — the named-disk analog in an engine whose
    * storage policy is a filesystem. Synchronous (the reference's
    * non-ASYNC form); status values match the reference's
    * BACKUP_CREATED / RESTORED. */
  private def backupRestore(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val re = ("(?is)^(BACKUP|RESTORE)\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "(?:TO|FROM)\\s+(File|Disk)\\s*\\(\\s*'([^']+)'" +
      "(?:\\s*,\\s*'([^']+)')?\\s*\\)\\s*;?\\s*$").r
    stmt.trim match {
      case re(verb, t, kind, a, b) =>
        val dest = kind.toLowerCase match {
          case "file" => a
          case "disk" =>
            require(b != null, "Disk('name', 'path') needs both arguments")
            s"/tmp/graft_disks/$a/$b"
        }
        val conf = spark.sparkContext.hadoopConfiguration
        val destPath = new Path(dest)
        val fs = destPath.getFileSystem(conf)
        if (verb.equalsIgnoreCase("BACKUP")) {
          val loc = tableLocation(spark, t)
          val meta = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t))
          fs.delete(destPath, true)
          fs.mkdirs(destPath)
          org.apache.hadoop.fs.FileUtil.copy(fs, new Path(loc), fs,
            new Path(destPath, "data"), false, true, conf)
          val managed = meta.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED
          val sidecar = fs.create(new Path(destPath, "_schema.txt"), true)
          try sidecar.write((spark.table(t).schema.toDDL + "\n" +
            meta.partitionColumnNames.mkString(",") + "\n" +
            loc + "\n" + managed).getBytes("UTF-8"))
          finally sidecar.close()
          val sum = fs.getContentSummary(new Path(destPath, "data"))
          backupLog.addLast(BackupEntry(dest, t, "BACKUP_CREATED",
            sum.getFileCount, sum.getLength))
          Seq((dest, "BACKUP_CREATED")).toDF("id", "status")
        } else {
          val sidecarPath = new Path(destPath, "_schema.txt")
          require(fs.exists(sidecarPath), s"no backup at $dest")
          val in = fs.open(sidecarPath)
          val text = try {
            val buf = new Array[Byte](fs.getFileStatus(sidecarPath).getLen.toInt)
            in.readFully(0, buf)
            new String(buf, "UTF-8")
          } finally in.close()
          val lines = text.split("\n", -1)
          val ddl = lines(0)
          val partCols = lines.lift(1).getOrElse("")
            .split(",").toSeq.filter(_.nonEmpty)
          // sidecar lines 3/4 (round-9): original location + managed flag;
          // older backups default to a managed warehouse table
          val loc = lines.lift(2).filter(_.nonEmpty).getOrElse(
            new Path(spark.conf.get("spark.sql.warehouse.dir"),
              t.toLowerCase).toString)
          val managed = lines.lift(3).forall(_.trim != "false")
          spark.sql(s"DROP TABLE IF EXISTS $t")
          recreateCatalogEntry(spark, t, ddl, loc, partCols, managed) {
            actualLoc =>
              org.apache.hadoop.fs.FileUtil.copy(fs, new Path(destPath, "data"),
                fs, new Path(actualLoc), false, true, conf)
              ()
          }
          backupLog.addLast(BackupEntry(dest, t, "RESTORED", -1L, -1L))
          Seq((dest, "RESTORED")).toDF("id", "status")
        }
      case _ => throw new IllegalArgumentException(
        "unsupported BACKUP/RESTORE form (TABLE t TO/FROM File('p') | Disk('d','p'))")
    }
  }

  /** One refreshable MV's stored definition + schedule (the reference's
    * RefreshTask state: view, target table, SELECT, REFRESH EVERY spec,
    * completed-refresh count). */
  final case class RefreshableView(name: String, table: String,
      select: String, schedule: String, refreshes: Long)

  private val refreshableViews =
    new java.util.concurrent.ConcurrentHashMap[String, RefreshableView]()

  /** (view, schedule, target table, refresh count) — feeds
    * system.view_refreshes (StorageSystemViewRefreshes analog). */
  def listRefreshableViews: Seq[(String, String, String, Long)] = {
    import scala.jdk.CollectionConverters._
    refreshableViews.asScala.values.toSeq
      .map(rv => (rv.name, rv.schedule, rv.table, rv.refreshes))
      .sortBy(_._1)
  }

  private val skipIndexes =
    new java.util.concurrent.ConcurrentHashMap[(String, String), SkipIdx]()

  /** (table, index name, type, data path) — feeds
    * system.data_skipping_indices (SystemTables.dataSkippingIndices). */
  def listSkipIndexes: Seq[(String, String, String, String)] = {
    import scala.jdk.CollectionConverters._
    skipIndexes.asScala.toSeq.map { case ((t, n), m) =>
      (t, n, m.kind, m.basePath)
    }.sortBy(x => (x._1, x._2))
  }

  /** Build (or re-build) one index's on-disk structure from the table's
    * current files and (re-)register transparent pruning. */
  private def buildSkipIndex(spark: SparkSession, m: SkipIdx): Unit = {
    m.kind match {
      case "bloom_filter" =>
        graft.operators.SkipIndex.create(spark, m.basePath, m.idxDir, m.columns)
      case "minmax" =>
        graft.operators.SkipIndex.createMinMax(spark, m.basePath, m.idxDir, m.columns)
      case "ngrambf_v1" =>
        graft.operators.SkipIndex.createNgram(spark, m.basePath, m.idxDir,
          m.columns.head, n = m.param.getOrElse(3))
      case "set" =>
        graft.operators.SkipIndex.createSet(spark, m.basePath, m.idxDir,
          m.columns, maxValues = m.param.getOrElse(100))
    }
    graft.plans.SkipIndexPruning.register(spark, m.basePath, m.idxDir,
      m.columns, m.kind)
  }

  /** Invalidate-by-rebuild after a mutation rewrote `table`'s files with
    * new names (the ADVICE r6 staleness hazard: a registered index over
    * deleted paths silently empties results). Cleared indexes stay
    * cleared; a rebuild that fails (e.g. the table is now empty) degrades
    * to no-pruning, never to wrong answers. */
  // ---- file() table function (TableFunctionFile.cpp) ------------------

  private val fileFnRe =
    ("(?i)\\bfile\\s*\\(\\s*'([^']+)'(?:\\s*,\\s*'([^']+)')?" +
      "(?:\\s*,\\s*'([^']+)')?\\s*\\)").r

  /** CH column-list string ('a UInt32, b String') → Spark StructType. */
  private def chSchemaToStruct(s: String): org.apache.spark.sql.types.StructType = {
    val cd = "(?s)^\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+(.+?)\\s*$".r
    org.apache.spark.sql.types.StructType.fromDDL(
      SqlLex.splitTop(s).map {
        case cd(n, t) => s"$n ${sparkTypeText(t)}"
        case other => throw new IllegalArgumentException(
          s"unparsable file() schema column '$other'")
      }.mkString(", "))
  }

  private val fileFnCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Replace every `file('path'[, 'Format'[, 'schema']])` call with a
    * temp view over the matching reader. Formats without self-describing
    * headers require the schema argument, like the reference. */
  // ---- workloads / resources (ParserCreateWorkloadQuery,
  // ParserCreateResourceQuery; src/Common/Scheduler/) -------------------
  //
  // The reference's workload scheduling hierarchy maps onto Spark's
  // fair-scheduler pools: a CREATE WORKLOAD name becomes a pool name,
  // and `SET workload = 'name'` pins the session's jobs to that pool
  // (spark.scheduler.pool local property — the real Spark resource-
  // isolation primitive a multi-tenant cluster uses). Workload SETTINGS
  // and resource specs are recorded and listed; weight/priority
  // enforcement is the cluster scheduler's concern.

  /** workload → (parent, settings text). */
  private val workloads =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  /** resource → spec text. */
  private val resources =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def listWorkloads: Seq[(String, String, String)] =
    workloads.toSeq.sortBy(_._1).map { case (n, (p, s)) => (n, p, s) }
  def listResources: Seq[(String, String)] = resources.toSeq.sortBy(_._1)

  private[graft] def workloadExists(name: String): Boolean =
    workloads.contains(name)

  private def workloadDdl(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val createW = ("(?is)^CREATE\\s+WORKLOAD\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_]*)(?:\\s+IN\\s+([A-Za-z_][A-Za-z0-9_]*))?" +
      "(?:\\s+SETTINGS\\s+(.+?))?;?\\s*$").r
    val dropW = ("(?is)^DROP\\s+WORKLOAD\\s+(IF\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    val createR = ("(?is)^CREATE\\s+RESOURCE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.+?)\\)\\s*;?\\s*$").r
    val dropR = ("(?is)^DROP\\s+RESOURCE\\s+(IF\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    stmt.trim match {
      case createW(ifNot, name, parent, settings) =>
        val parentName = Option(parent).getOrElse("")
        if (parentName.nonEmpty) require(workloads.contains(parentName),
          s"CREATE WORKLOAD: parent workload `$parentName` does not exist")
        if (workloads.putIfAbsent(name,
            (parentName, Option(settings).getOrElse(""))).isDefined
          && ifNot == null)
          throw new IllegalArgumentException(
            s"workload `$name` already exists")
        Seq("OK").toDF("status")
      case dropW(ifEx, name) =>
        if (workloads.remove(name).isEmpty && ifEx == null)
          throw new IllegalArgumentException(s"there is no workload `$name`")
        Seq("OK").toDF("status")
      case createR(ifNot, name, spec) =>
        if (resources.putIfAbsent(name, spec.trim).isDefined && ifNot == null)
          throw new IllegalArgumentException(
            s"resource `$name` already exists")
        Seq("OK").toDF("status")
      case dropR(ifEx, name) =>
        if (resources.remove(name).isEmpty && ifEx == null)
          throw new IllegalArgumentException(s"there is no resource `$name`")
        Seq("OK").toDF("status")
      case _ => throw new IllegalArgumentException(
        "unsupported WORKLOAD/RESOURCE form")
    }
  }

  // ---- named collections (ParserCreateNamedCollectionQuery,
  // ParserAlterNamedCollectionQuery, ParserDropNamedCollectionQuery;
  // storage/NamedCollections*) ------------------------------------------

  /** name → key/value bundle (values stored unquoted). */
  private val namedCollections =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  /** One collection's key/value bundle (TLD lists and table functions
    * resolve collection names through this). */
  def namedCollection(name: String): Option[Map[String, String]] =
    namedCollections.get(name)

  /** system.named_collections feed. */
  def listNamedCollections: Seq[(String, String)] =
    namedCollections.toSeq.sortBy(_._1).map { case (n, kv) =>
      (n, kv.toSeq.sorted.map { case (k, v) => s"$k = $v" }.mkString(", "))
    }

  private def namedCollectionDdl(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def parseKv(text: String): Map[String, String] =
      SqlLex.splitTop(text).map { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        // OVERRIDABLE flags are accepted + dropped (no override layer
        // on a single-session engine)
        k -> v.replaceAll("(?is)\\s+(NOT\\s+)?OVERRIDABLE$", "")
          .stripPrefix("'").stripSuffix("'")
      }.toMap
    val create = ("(?is)^CREATE\\s+NAMED\\s+COLLECTION\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+" +
      "(.+?);?\\s*$").r
    val alter = ("(?is)^ALTER\\s+NAMED\\s+COLLECTION\\s+" +
      "(IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      "(SET|DELETE)\\s+(.+?);?\\s*$").r
    val drop = ("(?is)^DROP\\s+NAMED\\s+COLLECTION\\s+" +
      "(IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    stmt.trim match {
      case create(ifNot, name, kvs) =>
        if (namedCollections.putIfAbsent(name, parseKv(kvs)).isDefined
            && ifNot == null)
          throw new IllegalArgumentException(
            s"named collection `$name` already exists")
        Seq("OK").toDF("status")
      case alter(ifEx, name, verb, rest) =>
        namedCollections.get(name) match {
          case None =>
            if (ifEx == null) throw new IllegalArgumentException(
              s"there is no named collection `$name`")
          case Some(cur) =>
            val next =
              if (verb.equalsIgnoreCase("SET")) cur ++ parseKv(rest)
              else cur -- rest.split(",").map(_.trim).filter(_.nonEmpty)
            namedCollections.put(name, next)
        }
        Seq("OK").toDF("status")
      case drop(ifEx, name) =>
        if (namedCollections.remove(name).isEmpty && ifEx == null)
          throw new IllegalArgumentException(
            s"there is no named collection `$name`")
        Seq("OK").toDF("status")
      case s if s.matches("(?is)^SHOW\\s+NAMED\\s+COLLECTIONS\\s*;?\\s*$") =>
        listNamedCollections.map(_._1).toDF("name")
      case _ => throw new IllegalArgumentException(
        "unsupported NAMED COLLECTION form")
    }
  }

  /** `file(nc_name)` with a named collection: substitute the
    * collection's path/format/structure keys into the literal file()
    * call (TableFunctionFile accepts a collection the same way). */
  private def resolveCollectionFileFn(sql0: String): String =
    "(?i)\\bfile\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r
      .replaceAllIn(sql0, m =>
        namedCollections.get(m.group(1)) match {
          case Some(kv) =>
            val path = kv.getOrElse("path", throw new IllegalArgumentException(
              s"named collection ${m.group(1)}: file() needs a `path` key"))
            val fmt = kv.getOrElse("format", "Parquet")
            val schema = kv.get("structure").map(s => s", '$s'").getOrElse("")
            java.util.regex.Matcher
              .quoteReplacement(s"file('$path', '$fmt'$schema)")
          case None => m.matched // not a collection — leave for file() proper
        })

  /** `deltaLake('path'[, version])` (TableFunctionObjectStorage.h:100
    * DeltaLakeDefinition — the reference's Delta table function; the
    * S3/Azure twins are credentialed variants of the same read): a temp
    * view over the native log replay (sources/DeltaLakeSource). The
    * optional second argument is `versionAsOf` time travel. */
  private val deltaLakeFnRe =
    "(?i)\\bdeltaLake(?:Local)?\\s*\\(\\s*'([^']+)'\\s*(?:,\\s*(\\d+)\\s*)?\\)".r

  private def resolveDeltaLakeFn(spark: SparkSession, sql0: String): String = {
    // *Cluster variants (TableFunctionObjectStorageCluster.cpp:
    // deltaLakeCluster/icebergCluster/hudiCluster — same read with a
    // cluster routing hint as arg 1): Spark IS the cluster here, so the
    // hint drops and the base function resolves the rest
    val step0 = SqlLex.replaceAll(sql0,
      "(?i)\\b(deltaLake|iceberg|hudi)Cluster\\s*\\(\\s*'[^']*'\\s*,\\s*".r)(
      g => s"${g.group(1)}(")
    // table_changes('path', v1[, v2]) — the Delta CHANGE DATA FEED
    // read (round 16): per-commit change rows with _change_type +
    // _commit_version, from cdc files where a commit wrote them and
    // from dataChange adds (as inserts) otherwise
    val step0c = SqlLex.replaceAll(step0,
      ("(?i)\\btable_changes\\s*\\(\\s*'([^']+)'\\s*,\\s*(\\d+)\\s*" +
        "(?:,\\s*(\\d+)\\s*)?\\)").r) { g =>
      val df = graft.sources.DeltaLakeSource.readChanges(spark, g.group(1),
        g.group(2).toLong, Option(g.group(3)).map(_.toLong))
      val view = s"graft_delta_cdf_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      view
    }
    // iceberg_changes('path', fromSnap[, toSnap]) — the Iceberg
    // incremental append scan (round 16): rows appended strictly after
    // the from-snapshot; ranges containing overwrites/deletes/rewrites
    // refuse loudly
    val step0d = SqlLex.replaceAll(step0c,
      ("(?i)\\biceberg_changes\\s*\\(\\s*'([^']+)'\\s*,\\s*(\\d+)\\s*" +
        "(?:,\\s*(\\d+)\\s*)?\\)").r) { g =>
      val df = graft.sources.IcebergSource.readIncremental(spark,
        g.group(1), g.group(2).toLong, Option(g.group(3)).map(_.toLong))
      val view = s"graft_ice_inc_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      view
    }
    // hudi_changes('path', 'fromInstant'[, 'toInstant']) — the Hudi
    // incremental query (round 16): rows whose winning event committed
    // strictly after the from-instant
    val step0e = SqlLex.replaceAll(step0d,
      ("(?i)\\bhudi_changes\\s*\\(\\s*'([^']+)'\\s*,\\s*'([^']*)'\\s*" +
        "(?:,\\s*'([^']*)'\\s*)?\\)").r) { g =>
      val df = graft.sources.HudiSource.readIncremental(spark, g.group(1),
        g.group(2), Option(g.group(3)))
      val view = s"graft_hudi_inc_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      view
    }
    val step1 = SqlLex.replaceAll(step0e, deltaLakeFnRe) { g =>
      val df = graft.sources.DeltaLakeSource.read(spark, g.group(1),
        Option(g.group(2)).map(_.toLong))
      val view = s"graft_delta_fn_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      view
    }
    // hudi('path'[, 'instant']) (TableFunctionObjectStorage.h:118) —
    // native latest-file-slice selection with timeline awareness
    // (HudiMetadata.cpp); the optional second argument time-travels to
    // the newest completed instant at or before it
    val step2 = SqlLex.replaceAll(step1,
      // the instant stays a QUOTED group: the scan runs over the
      // literal-masked SQL, where digits inside quotes are hidden —
      // the argument text slices from the original by position
      "(?i)\\bhudi\\s*\\(\\s*'([^']+)'\\s*(?:,\\s*'([^']*)'\\s*)?\\)".r) { g =>
      val df = graft.sources.HudiSource.read(spark, g.group(1),
        Option(g.group(2)))
      val view = s"graft_hudi_fn_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      view
    }
    // iceberg('path'[, snapshotId]) — native metadata/manifest replay
    // (IcebergMetadata.cpp)
    SqlLex.replaceAll(step2,
      "(?i)\\biceberg\\s*\\(\\s*'([^']+)'\\s*(?:,\\s*(\\d+)\\s*)?\\)".r) { g =>
      // the reference's time-travel SETTINGS (Core/Settings.cpp:
      // iceberg_snapshot_id / iceberg_timestamp_ms, 0 = latest) apply
      // when the call carries no explicit snapshot argument
      def setting(name: String): Option[Long] =
        spark.conf.getOption(s"graft.ch.$name")
          .map(_.stripPrefix("'").stripSuffix("'").trim.toLong)
          .filter(_ != 0L)
      val explicit = Option(g.group(2)).map(_.toLong)
      val df = graft.sources.IcebergSource.read(spark, g.group(1),
        explicit.orElse(setting("iceberg_snapshot_id")),
        if (explicit.isDefined) None else setting("iceberg_timestamp_ms"))
      val view = s"graft_iceberg_fn_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      view
    }
  }

  private def resolveFileFn(spark: SparkSession, sql0: String): String =
    fileFnRe.replaceAllIn(sql0, m => {
      val path = m.group(1)
      val fmt = Option(m.group(2)).getOrElse("Parquet")
      val schema = Option(m.group(3)).map(chSchemaToStruct)
      def need = schema.getOrElse(throw new IllegalArgumentException(
        s"file(): format $fmt needs an explicit schema argument"))
      val df = fmt.toLowerCase match {
        case "parquet" => spark.read.parquet(path)
        case "orc" => spark.read.orc(path)
        case "jsoneachrow" | "ndjson" =>
          schema.map(spark.read.schema(_)).getOrElse(spark.read).json(path)
        case "csv" =>
          graft.sources.ChTextFormats.readCsv(spark, path, need)
        case "csvwithnames" =>
          graft.sources.ChTextFormats.readCsv(spark, path, need,
            withNames = true)
        case "tabseparated" | "tsv" =>
          graft.sources.ChTextFormats.readTabSeparated(spark, path, need)
        case "tabseparatedwithnamesandtypes" | "tsvwithnamesandtypes" =>
          graft.sources.ChTextFormats.readTabSeparated(spark, path, need,
            withNames = true, withTypes = true)
        case "lineasstring" =>
          graft.sources.ChMiscFormats.readLineAsString(spark, path, "line")
        // round-14 small-format residue (registerFormats.cpp)
        case "one" =>
          // the reference REJECTS a non-dummy header for One
          // (OneFormat.cpp ctor) — a provided structure must be the
          // single tiny-int column, never silently ignored
          schema.foreach(st => require(st.fields.length == 1 &&
            Set[org.apache.spark.sql.types.DataType](
              org.apache.spark.sql.types.ByteType,
              org.apache.spark.sql.types.ShortType,
              org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType)
              .contains(st.fields.head.dataType),
            "file(One): the One format produces a single UInt8 'dummy' " +
              s"column — the given structure '${st.simpleString}' cannot " +
              "be served"))
          graft.sources.ChSmallFormats.readOne(spark, path)
        case "form" => graft.sources.ChSmallFormats.readForm(spark, path, need)
        case "hivetext" =>
          graft.sources.ChSmallFormats.readHiveText(spark, path, need)
        case "mysqldump" =>
          graft.sources.ChSmallFormats.readMySQLDump(spark, path, need,
            spark.conf.getOption(
              "graft.ch.input_format_mysql_dump_table_name")
              .map(_.stripPrefix("'").stripSuffix("'")).getOrElse(""))
        case "template" =>
          val (rowFmt, between) = templateSettingsOf(spark)
          graft.sources.ChSmallFormats.readTemplate(
            spark, path, need, rowFmt, between)
        case other => throw new IllegalArgumentException(
          s"file(): unsupported format '$other'")
      }
      val view = s"graft_file_fn_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  // ---- null() + remote() table functions -------------------------------

  private val nullFnRe = "(?i)\\bnull\\s*\\(\\s*'([^']+)'\\s*\\)".r

  /** `null('a Int64, b String')` (TableFunctionNull.cpp / StorageNull):
    * a table of the given structure whose reads are empty (writes into
    * Null storage are discarded; the read side is what a SELECT sees). */
  private def resolveNullFn(spark: SparkSession, sql0: String): String =
    nullFnRe.replaceAllIn(sql0, m => {
      val schema = chSchemaToStruct(m.group(1))
      val view = s"graft_null_fn_${fileFnCounter.incrementAndGet()}"
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  private val remoteFnRe =
    ("(?i)\\bremote(?:Secure)?\\s*\\(\\s*'([^']+)'\\s*,\\s*" +
      "(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\\s*" +
      "(?:,\\s*(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*)))?\\s*\\)").r

  /** `remote['Secure']('addresses', [db,] table)`
    * (TableFunctionRemote.cpp): reads the table on the named hosts.
    * This engine IS the single host — localhost addresses resolve to
    * the local catalog table (exactly what the reference does on a
    * one-node cluster); any other address is a LOUD error, never a
    * silent local read. */
  private def resolveRemoteFn(spark: SparkSession, sql0: String): String =
    remoteFnRe.replaceAllIn(sql0, m => {
      val hosts = m.group(1).split(",").map(_.trim.split(":")(0))
      val local = Set("localhost", "127.0.0.1", "::1")
      hosts.filterNot(local.contains).headOption.foreach(h =>
        throw new IllegalArgumentException(
          s"remote(): this is a single-node engine — address '$h' is " +
            "not this host (only localhost/127.0.0.1 resolve)"))
      val first = Option(m.group(2)).getOrElse(m.group(3))
      val second = Option(m.group(4)).orElse(Option(m.group(5)))
      val table = second match {
        case Some(t) =>
          if (first.equalsIgnoreCase("default")) t else s"$first.$t"
        case None => first.stripPrefix("default.")
      }
      java.util.regex.Matcher.quoteReplacement(table)
    })

  // ---- format() table function (TableFunctionFormat.cpp) --------------

  /** `format(Fmt, 'inline data')` — first arg a bare format name (the
    * scalar format('pattern', …) has a QUOTED first arg and never
    * matches). */
  private val formatFnRe =
    ("(?is)\\bformat\\s*\\(\\s*([A-Za-z0-9]+)\\s*,\\s*" +
      "'((?:\\\\.|''|[^'\\\\])*)'\\s*\\)").r

  /** ClickHouse string-literal unescape: backslash escapes + '' doubling. */
  private def unescapeChString(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case '0' => sb.append('\u0000')
          case o => sb.append(o) // \' \\ and any other passthrough
        }
        i += 2
      } else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
        sb.append('\''); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Replace `format(Fmt, 'data')` with a temp view over the parsed
    * inline data (TableFunctionFormat.cpp: parse a literal through the
    * named input format, schema INFERRED from the data). Nameless
    * formats name columns c1..cN like the reference's inference does. */
  private def resolveFormatFn(spark: SparkSession, sql0: String): String =
    formatFnRe.replaceAllIn(sql0, m => {
      val fmt = m.group(1).toLowerCase
      val data = unescapeChString(m.group(2))
      def c1cN(df: org.apache.spark.sql.DataFrame) =
        df.toDF(df.columns.indices.map(i => s"c${i + 1}"): _*)
      def fromTempFile(read: String => org.apache.spark.sql.DataFrame) = {
        val dir = java.nio.file.Files.createTempDirectory("graft_format_fn")
        val f = dir.resolve("data.txt")
        java.nio.file.Files.writeString(f, data)
        // localCheckpoint (eager) pins the parsed rows in executor storage
        // so the temp file can be deleted immediately — repeated format()
        // calls in a long session no longer leak temp dirs, and the temp
        // view registered below references the checkpointed frame, not
        // the deleted file.
        try read(f.toString).localCheckpoint()
        finally {
          java.nio.file.Files.deleteIfExists(f)
          java.nio.file.Files.deleteIfExists(dir)
        }
      }
      val df = fmt match {
        case "values" => c1cN(spark.sql(s"SELECT * FROM (VALUES $data)"))
        case "jsoneachrow" | "ndjson" | "json" =>
          fromTempFile(spark.read.json(_))
        case "csv" => c1cN(fromTempFile(
          spark.read.option("inferSchema", "true").csv(_)))
        case "csvwithnames" => fromTempFile(
          spark.read.option("inferSchema", "true")
            .option("header", "true").csv(_))
        case "tabseparated" | "tsv" => c1cN(fromTempFile(
          spark.read.option("inferSchema", "true").option("sep", "\t").csv(_)))
        case "tabseparatedwithnames" | "tsvwithnames" => fromTempFile(
          spark.read.option("inferSchema", "true").option("sep", "\t")
            .option("header", "true").csv(_))
        case other => throw new IllegalArgumentException(
          s"format(): unsupported inline format '$other'")
      }
      val view = s"graft_format_fn_${fileFnCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  // ---- merge() table function (TableFunctionMerge.cpp) ----------------

  private val mergeFnRe =
    "(?i)\\bmerge\\s*\\(\\s*(?:'[^']*'\\s*,\\s*)?'([^']+)'\\s*\\)".r

  /** Replace `merge(['db',] 'name_regex')` with a temp view unioning (by
    * name) every catalog table whose name matches — the reference's
    * multi-table union storage (StorageMerge). */
  private def resolveMergeFn(spark: SparkSession, sql0: String): String =
    mergeFnRe.replaceAllIn(sql0, m => {
      val pattern = m.group(1).r
      val names = spark.catalog.listTables().collect()
        .map(_.name).filter(n => pattern.findFirstIn(n).isDefined).sorted
      require(names.nonEmpty, s"merge(): no table matches '${m.group(1)}'")
      val unioned = names.map(spark.table)
        .reduce(_ unionByName (_, allowMissingColumns = true))
      val view = s"graft_merge_fn_${fileFnCounter.incrementAndGet()}"
      unioned.createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  // ---- parameterized views (StorageView.cpp parameterized views) ------

  /** view name (lowercase) → stored SELECT body with {p:Type} holes. */
  private val paramViews =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Replace `v(p = x, q = 'y')` with the view body, placeholders
    * substituted as typed literals from the call arguments. */
  private def resolveParamViews(spark: SparkSession, sql0: String): String = {
    if (paramViews.isEmpty) return sql0
    var s = sql0
    var guard = 0
    var changed = true
    while (changed && guard < 16) {
      changed = false
      guard += 1
      val call = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s*(\\()".r
      val hit = SqlLex.matchesIn(s, call).flatMap { m =>
        val end = SqlLex.closeOf(s, m.start(2))
        Option(paramViews.get(m.group(1).toLowerCase)).filter(_ => end > 0)
          .map(body => (m.start, end, m.group(1), body,
            s.substring(m.start(2) + 1, end - 1)))
      }.nextOption()
      hit.foreach { case (start, end, name, body, argsTxt) =>
        val kv = "(?s)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(.+?)\\s*$".r
        val vals = SqlLex.splitTop(argsTxt).map {
          case kv(k, v) => k -> v
          case other => throw new IllegalArgumentException(
            s"parameterized view $name: unparsable argument '$other'")
        }.toMap
        // substitute only OUTSIDE string literals of the body
        val sub = SqlLex.replaceAll(body, paramRe) { m2 =>
          val p = m2.group(1)
          val v = vals.getOrElse(p, throw new IllegalArgumentException(
            s"parameterized view $name: parameter '$p' not supplied"))
          typedLiteral(v, m2.group(2))
        }
        s = s.substring(0, start) + s"($sub) $name" + s.substring(end)
        changed = true
      }
    }
    s
  }

  // ---- query parameters (ASTQueryParameter / ReplaceQueryParameterVisitor)

  private val paramRe =
    "\\{\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*:\\s*([A-Za-z0-9_]+(?:\\s*\\([^)]*\\))?)\\s*\\}".r

  /** Replace `{name:Type}` with the typed literal rendering of the
    * session's `param_<name>` setting; unset parameters fail like the
    * reference's UNKNOWN_QUERY_PARAMETER. */
  private def substituteParams(spark: SparkSession, sql: String): String =
    SqlLex.replaceAll(sql, paramRe) { m =>
      val name = m.group(1)
      val v = spark.conf.getOption(s"graft.ch.param_$name").getOrElse(
        throw new IllegalArgumentException(
          s"Substitution '$name' is not set (SET param_$name = ...)"))
      typedLiteral(v, m.group(2))
    }

  /** Render a parameter value as a literal of the declared reference
    * type — the type check is what separates parameters from textual
    * splicing (a String param can never escape its quoting, a UInt32
    * param must BE an integer). */
  private def typedLiteral(v0: String, chType: String): String = {
    // SET stores the raw token; strip one level of quoting if present
    val v = if (v0.length >= 2 && v0.startsWith("'") && v0.endsWith("'"))
      v0.substring(1, v0.length - 1) else v0
    def quoted = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val t = chType.trim.toLowerCase
    t match {
      case x if x.startsWith("uint") || x.startsWith("int") =>
        require(v.matches("[+-]?\\d+"), s"param value '$v' is not $chType")
        v
      case x if x.startsWith("float") || x == "double" =>
        require(v.matches("[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?"),
          s"param value '$v' is not $chType")
        v
      case x if x.startsWith("decimal") =>
        require(v.matches("[+-]?\\d+(\\.\\d+)?"),
          s"param value '$v' is not $chType")
        s"CAST($v AS ${sparkTypeText(chType)})"
      case "bool" | "boolean" =>
        require(v.matches("(?i)true|false|0|1"), s"param value '$v' is not Bool")
        if (v.matches("(?i)true|1")) "true" else "false"
      case "date" | "date32" =>
        require(v.matches("\\d{4}-\\d{2}-\\d{2}"), s"param value '$v' is not Date")
        s"DATE '$v'"
      case x if x.startsWith("datetime") =>
        require(v.matches("\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?"),
          s"param value '$v' is not DateTime")
        s"TIMESTAMP '$v'"
      case "string" | "uuid" | "ipv4" | "ipv6" | "json" =>
        quoted
      case x if x.startsWith("fixedstring") => quoted
      case "identifier" =>
        require(v.matches("[A-Za-z_][A-Za-z0-9_.]*"),
          s"param value '$v' is not an Identifier")
        v
      case other => throw new IllegalArgumentException(
        s"unsupported query parameter type '$chType'")
    }
  }

  /** table → stored row-TTL expression text (e.g. "ts + INTERVAL 30 DAY"
    * — rows whose expression falls before now() expire). */
  private val ttlSpecs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** ALTER TABLE t MODIFY TTL col + INTERVAL n unit [DELETE] /
    * ALTER TABLE t MATERIALIZE TTL — the reference's table-TTL DDL
    * (src/Storages/TTLDescription.cpp; TTLTransform applies at merge,
    * MATERIALIZE TTL forces a mutation). MODIFY stores the expression;
    * MATERIALIZE rewrites the table keeping rows whose TTL instant is
    * still in the future — the same part-rewrite path as every other
    * mutation, ledger entry included. */
  private def alterTtl(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val modify = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+MODIFY\\s+TTL\\s+" +
      "(.+?)(?:\\s+DELETE)?\\s*;?\\s*$").r
    val mat = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "MATERIALIZE\\s+TTL\\s*;?\\s*$").r
    stmt.trim match {
      case mat(t) =>
        val ttl = ttlSpecs.getOrElse(t, throw new IllegalArgumentException(
          s"MATERIALIZE TTL: no TTL stored for $t (run MODIFY TTL first)"))
        val keep = org.apache.spark.sql.functions.expr(
          s"($ttl) >= current_timestamp()")
        val surviving = spark.table(t).filter(keep)
        // affected = rows that EXPIRE (keep false or null); partitions
        // with nothing expired keep their files untouched
        graft.operators.DurableRewrite.rewrite(spark, t, surviving,
          Some(org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.coalesce(
              keep, org.apache.spark.sql.functions.lit(false)))))
        refreshSkipIndexes(spark, t)
        queryCache.clear()
        logMutation(t, stmt.trim)
        Seq("OK").toDF("status")
      case modify(t, ttlExpr) =>
        require(spark.catalog.tableExists(t), s"no such table $t")
        ttlSpecs.put(t, rewrite(ttlExpr.trim))
        Seq("OK").toDF("status")
      case _ => throw new IllegalArgumentException("unsupported TTL form")
    }
  }

  /** ALTER TABLE t DETACH / ATTACH / DROP / FREEZE PARTITION 'v' — the
    * statement forms of the partition lifecycle
    * (src/Parsers/ParserAlterQuery.cpp partition commands), routed to
    * the O(1) directory operations in [[graft.operators.ScaleOps]] with
    * the Spark catalog kept in sync (ADD/DROP PARTITION) and the file
    * listing refreshed. Single-partition-column tables (the layout the
    * CREATE TABLE dialect produces). */
  private def alterPartition(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    /** One partition column, or fail — the layout every partition verb
      * operates on. */
    def onePartCol(t: String): String = {
      val pcols = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).partitionColumnNames
      require(pcols.size == 1,
        s"ALTER PARTITION needs exactly one partition column, $t has $pcols")
      pcols.head
    }
    def invalidate(t: String, pcol: String, value: String,
        admitted: Boolean): Unit = {
      if (admitted)
        spark.sql(s"ALTER TABLE $t ADD IF NOT EXISTS PARTITION ($pcol = '$value')")
      else
        spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION ($pcol = '$value')")
      spark.sql(s"REFRESH TABLE $t")
      refreshSkipIndexes(spark, t)
    }
    // the round-9 ETL verbs (PartitionCommands.h:26-35 REPLACE_PARTITION /
    // MOVE_PARTITION / FETCH_PARTITION): staging-swap, cross-table move,
    // and replica-fetch-into-detached
    val replace = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "REPLACE\\s+PARTITION\\s+'?([^'\\s;]+)'?\\s+FROM\\s+" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*;?\\s*$").r
    val move = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "MOVE\\s+PARTITION\\s+'?([^'\\s;]+)'?\\s+TO\\s+TABLE\\s+" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*;?\\s*$").r
    val fetch = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "FETCH\\s+PARTITION\\s+'?([^'\\s;]+)'?\\s+FROM\\s+" +
      "'?([^'\\s;]+)'?\\s*;?\\s*$").r
    val re = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "(DETACH|ATTACH|DROP|FREEZE)\\s+PARTITION\\s+'?([^'\\s;]+)'?" +
      "(?:\\s+WITH\\s+NAME\\s+'([^']*)')?\\s*;?\\s*$").r
    stmt.trim match {
      case replace(dst, value, src) =>
        val pcol = onePartCol(dst)
        require(onePartCol(src) == pcol,
          s"REPLACE PARTITION: $src and $dst partition on different columns")
        require(graft.operators.ScaleOps.replacePartition(spark,
            tableLocation(spark, dst), tableLocation(spark, src), pcol, value),
          s"REPLACE PARTITION: $src has no partition $pcol=$value")
        invalidate(dst, pcol, value, admitted = true)
        graft.sources.SystemTables.PartLogLedger
          .record("NewPart", dst, s"$pcol=$value")
        queryCache.clear()
        return Seq("OK").toDF("status")
      case move(src, value, dst) =>
        val pcol = onePartCol(src)
        require(onePartCol(dst) == pcol,
          s"MOVE PARTITION: $src and $dst partition on different columns")
        require(graft.operators.ScaleOps.movePartition(spark,
            tableLocation(spark, src), tableLocation(spark, dst), pcol, value),
          s"MOVE PARTITION: $src has no partition $pcol=$value")
        invalidate(src, pcol, value, admitted = false)
        invalidate(dst, pcol, value, admitted = true)
        graft.sources.SystemTables.PartLogLedger
          .record("RemovePart", src, s"$pcol=$value")
        graft.sources.SystemTables.PartLogLedger
          .record("MovePart", dst, s"$pcol=$value")
        queryCache.clear()
        return Seq("OK").toDF("status")
      case fetch(dst, value, from) =>
        val pcol = onePartCol(dst)
        // `from` is a layout path in quotes or a catalog table name — the
        // reference takes a replica path; any readable layout serves here
        val srcPath =
          if (spark.catalog.tableExists(from)) tableLocation(spark, from)
          else from
        require(graft.operators.ScaleOps.fetchPartition(spark,
            tableLocation(spark, dst), srcPath, pcol, value),
          s"FETCH PARTITION: $srcPath has no partition $pcol=$value")
        // fetched data sits in _detached — invisible until ATTACH, so no
        // catalog change and no cache invalidation yet
        graft.sources.SystemTables.PartLogLedger
          .record("DownloadPart", dst, s"_detached/$pcol=$value")
        return Seq("OK").toDF("status")
      case _ =>
    }
    stmt.trim match {
      case re(t, verb, value, snap) =>
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
        val pcols = meta.partitionColumnNames
        require(pcols.size == 1,
          s"ALTER PARTITION needs exactly one partition column, $t has $pcols")
        val pcol = pcols.head
        val loc = tableLocation(spark, t)
        val ops = graft.operators.ScaleOps
        verb.toUpperCase match {
          case "DROP" =>
            spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION ($pcol = '$value')")
            ops.dropPartition(spark, loc, pcol, value)
            graft.sources.SystemTables.PartLogLedger
              .record("RemovePart", t, s"$pcol=$value")
          case "DETACH" =>
            ops.detachPartition(spark, loc, pcol, value)
            spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION ($pcol = '$value')")
            graft.sources.SystemTables.PartLogLedger
              .record("RemovePart", t, s"$pcol=$value")
          case "ATTACH" =>
            ops.attachPartition(spark, loc, pcol, value)
            spark.sql(s"ALTER TABLE $t ADD IF NOT EXISTS PARTITION ($pcol = '$value')")
            graft.sources.SystemTables.PartLogLedger
              .record("NewPart", t, s"$pcol=$value")
          case "FREEZE" =>
            ops.freezePartition(spark, loc, pcol, value,
              Option(snap).getOrElse("default"))
        }
        spark.sql(s"REFRESH TABLE $t")
        if (verb.toUpperCase != "FREEZE") {
          refreshSkipIndexes(spark, t)
          queryCache.clear()
        }
        Seq("OK").toDF("status")
      case _ => throw new IllegalArgumentException(
        "unsupported ALTER PARTITION form")
    }
  }

  /** ALTER TABLE t UPDATE a = e, … WHERE p / ALTER TABLE t DELETE WHERE p
    * — the reference's canonical mutation statements
    * (src/Interpreters/MutationsInterpreter.h:44, ParserAlterQuery): the
    * declarative transform comes from [[graft.operators.Mutations]] and
    * the part rewrite goes through [[graft.operators.DurableRewrite]] —
    * staged durably on disk, pruned to partitions containing WHERE
    * matches (only parts with matching rows rewrite, the reference's
    * MutationsInterpreter contract) — with skip-index rebuild +
    * result-cache invalidation like every other mutation path. */
  private def alterMutation(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val upd = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+UPDATE\\s+" +
      "(.+?)\\s+WHERE\\s+(.+?);?\\s*$").r
    val del = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+DELETE\\s+" +
      "WHERE\\s+(.+?);?\\s*$").r
    stmt.trim match {
      case upd(t, assigns, pred) =>
        val kv = "(?s)^\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*=\\s*(.*)$".r
        val asn = SqlLex.splitTop(assigns).map {
          case kv(c, e) => c -> expr(rewrite(e))
          case other => throw new IllegalArgumentException(
            s"unparsable UPDATE assignment '$other'")
        }.toMap
        // the reference forbids mutating key columns
        // (MutationsInterpreter: "Cannot UPDATE key column") — and the
        // pruned part rewrite depends on rows never changing partition
        val pkCols = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .partitionColumnNames.map(_.toLowerCase).toSet
        asn.keys.find(c => pkCols.contains(c.toLowerCase)).foreach(c =>
          throw new IllegalArgumentException(
            s"Cannot UPDATE key column `$c` (it is a partition column of $t)"))
        val mutated = graft.operators.Mutations
          .update(spark.table(t), expr(rewrite(pred)), asn)
        graft.operators.DurableRewrite.rewrite(spark, t, mutated,
          Some(expr(rewrite(pred))))
        refreshSkipIndexes(spark, t)
        queryCache.clear()
        logMutation(t, stmt.trim)
        Seq("OK").toDF("status")
      case del(t, pred) =>
        val surviving = graft.operators.Mutations
          .delete(spark.table(t), expr(rewrite(pred)))
        graft.operators.DurableRewrite.rewrite(spark, t, surviving,
          Some(expr(rewrite(pred))))
        refreshSkipIndexes(spark, t)
        queryCache.clear()
        logMutation(t, stmt.trim)
        Seq("OK").toDF("status")
      case _ => throw new IllegalArgumentException(
        "unsupported ALTER mutation form")
    }
  }

  /** ALTER TABLE t ADD / DROP / MODIFY / RENAME COLUMN — the most common
    * schema-evolution DDL (src/Storages/AlterCommands.cpp: ADD_COLUMN /
    * DROP_COLUMN / MODIFY_COLUMN / RENAME_COLUMN). On the parquet layout
    * every verb is a part rewrite with the transformed schema:
    *   ADD    = append the column (DEFAULT expr backfills, else NULL),
    *            honoring FIRST / AFTER position clauses;
    *   DROP   = projection without the column;
    *   MODIFY = cast rewrite to the new type;
    *   RENAME = column-map rewrite.
    * The table is re-created with the new schema (partition columns
    * preserved); indexes rebuild and the result cache clears, as for any
    * mutation. */
  private def alterColumnDdl(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit}
    val add = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+ADD\\s+COLUMN\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+(.+?)" +
      "(?:\\s+DEFAULT\\s+(.+?))?(?:\\s+(FIRST)|\\s+AFTER\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?)?;?\\s*$").r
    val drop = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+DROP\\s+COLUMN\\s+" +
      "(IF\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?;?\\s*$").r
    val modify = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+MODIFY\\s+COLUMN\\s+" +
      "(IF\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+(.+?);?\\s*$").r
    val ren = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+RENAME\\s+COLUMN\\s+" +
      "(IF\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+TO\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?;?\\s*$").r

    /** Rewrite `t`'s data with the transformed frame and the NEW schema
      * (insertInto can't change schemas): the shared stage-then-swap
      * replace (graft.operators.DurableRewrite.replaceTable) — the
      * transformed copy is durable on disk before the drop + re-create,
      * partitioning and the managed/external distinction preserved. */
    def rewriteTable(t: String, df: org.apache.spark.sql.DataFrame): Unit = {
      graft.operators.DurableRewrite.replaceTable(spark, t, df)
      refreshSkipIndexes(spark, t)
      queryCache.clear()
    }
    /** The column order a positional INSERT into `t` binds to. */
    def declared(t: String): Seq[String] =
      declaredOrder(spark, t).getOrElse(spark.table(t).columns.toSeq)

    stmt.trim match {
      case add(t, ifNot, name, ctype, dflt, first, after) =>
        val base = spark.table(t)
        if (base.columns.contains(name)) {
          if (ifNot == null) throw new IllegalArgumentException(
            s"column $name already exists in $t")
        } else {
          val st = sparkTypeText(ctype.trim)
          val value = Option(dflt)
            .map(d => expr(rewrite(d)).cast(st))
            .getOrElse(lit(null).cast(st))
          val withCol = base.withColumn(name, value)
          val before = declared(t)
          val order: Seq[String] =
            if (first != null) name +: before
            else if (after != null) {
              val i = before.indexOf(after)
              if (i < 0) throw new IllegalArgumentException(
                s"AFTER column $after not found in $t")
              val (pre, post) = before.splitAt(i + 1)
              pre ++ (name +: post)
            } else before :+ name
          rewriteTable(t, withCol.select(order.map(col): _*))
          redeclare(spark, t, order)
        }
        Seq("OK").toDF("status")
      case drop(t, ifEx, name) =>
        val base = spark.table(t)
        if (!base.columns.contains(name)) {
          if (ifEx == null) throw new IllegalArgumentException(
            s"column $name does not exist in $t")
        } else {
          val before = declared(t)
          rewriteTable(t, base.drop(name))
          redeclare(spark, t, before.filterNot(_ == name))
        }
        Seq("OK").toDF("status")
      case modify(t, ifEx, name, ctype) =>
        val base = spark.table(t)
        if (!base.columns.contains(name)) {
          if (ifEx == null) throw new IllegalArgumentException(
            s"column $name does not exist in $t")
        } else {
          val st = sparkTypeText(ctype.trim)
          rewriteTable(t, base.withColumn(name, col(name).cast(st)))
        }
        Seq("OK").toDF("status")
      case ren(t, ifEx, from, to) =>
        val base = spark.table(t)
        if (!base.columns.contains(from)) {
          if (ifEx == null) throw new IllegalArgumentException(
            s"column $from does not exist in $t")
        } else {
          val before = declared(t)
          rewriteTable(t, base.withColumnRenamed(from, to))
          redeclare(spark, t, before.map(c => if (c == from) to else c))
        }
        Seq("OK").toDF("status")
      case _ => throw new IllegalArgumentException(
        "unsupported ALTER COLUMN form")
    }
  }

  private def refreshSkipIndexes(spark: SparkSession, table: String): Unit = {
    import scala.jdk.CollectionConverters._
    skipIndexes.asScala.values.filter(m => m.table == table && !m.cleared)
      .foreach { m =>
        try buildSkipIndex(spark, m)
        catch { case _: Exception =>
          graft.plans.SkipIndexPruning.dropIndex(m.basePath, m.idxDir)
          graft.operators.SkipIndex.drop(spark, m.idxDir)
        }
      }
    refreshProjections(spark, table)
  }

  /** Rebuild every registered projection of the mutated table — a stale
    * rollup/sorted copy would silently serve pre-mutation answers (the
    * skip-index staleness class). Failure degrades to DROPPING the
    * projection: no rewrite, never wrong answers. */
  private def refreshProjections(spark: SparkSession, table: String): Unit =
    projections.snapshot().foreach { case ((t, proj), e) =>
      if (t == table) {
        try e.rebuild()
        catch { case _: Exception =>
          projections.remove((t, proj))
          try {
            if (e.isAgg) graft.plans.AggProjections.drop(e.basePath)
            else graft.plans.NormalProjections.drop(spark, e.basePath)
          } catch { case _: Exception => }
        }
      }
    }

  private def indexDdl(spark: SparkSession, stmt: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val add = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+ADD\\s+INDEX\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s+(.+?)\\s+TYPE\\s+" +
      "([A-Za-z_0-9]+)(?:\\s*\\(\\s*(\\d+)[^)]*\\))?(?:\\s+GRANULARITY\\s+\\d+)?\\s*;?\\s*$").r
    val drop = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+DROP\\s+INDEX\\s+" +
      "(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    val clear = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+CLEAR\\s+INDEX\\s+" +
      "(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    val mat = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+MATERIALIZE\\s+INDEX\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
    stmt.trim match {
      case add(table, name, colSpec, kind0, param) =>
        val basePath = tableLocation(spark, table)
        val cols = colSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val idxDir = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"),
          s"graft_skip_indexes/${table}_$name").toString
        val kind = kind0.toLowerCase
        if (!Set("bloom_filter", "minmax", "ngrambf_v1", "set").contains(kind))
          throw new IllegalArgumentException(
            s"unsupported skip-index type $kind (bloom_filter|minmax|ngrambf_v1|set)")
        val m = SkipIdx(table, name, basePath, kind, idxDir, cols,
          Option(param).map(_.toInt), cleared = false)
        buildSkipIndex(spark, m)
        skipIndexes.put((table, name), m)
        Seq("OK").toDF("status")
      case drop(table, name) =>
        Option(skipIndexes.remove((table, name))).foreach { m =>
          graft.plans.SkipIndexPruning.dropIndex(m.basePath, m.idxDir)
          graft.operators.SkipIndex.drop(spark, m.idxDir)
        }
        Seq("OK").toDF("status")
      case clear(table, name) =>
        // CLEAR INDEX: drop the BUILT structure and stop pruning, but keep
        // the index declared (system.data_skipping_indices still lists it)
        // so MATERIALIZE INDEX can rebuild it.
        skipIndexes.computeIfPresent((table, name), (_, m) => {
          graft.plans.SkipIndexPruning.dropIndex(m.basePath, m.idxDir)
          graft.operators.SkipIndex.drop(spark, m.idxDir)
          m.copy(cleared = true)
        })
        Seq("OK").toDF("status")
      case mat(table, name) =>
        // MATERIALIZE INDEX: rebuild from the table's current files (and
        // un-clear a cleared index) — the reference's mutation that
        // populates the index for existing parts.
        skipIndexes.computeIfPresent((table, name), (_, m) => {
          buildSkipIndex(spark, m)
          m.copy(cleared = false)
        })
        Seq("OK").toDF("status")
      case other => throw new IllegalArgumentException(
        s"unsupported index DDL: $other")
    }
  }

  // ---- DDL translation (ParserCreateQuery → Spark DDL) ----------------

  /** Reference column-type text → Spark DDL type text. Carriers match the
    * toX cast family (UInt64 → DECIMAL(20,0); Enum/FixedString → STRING). */
  def sparkTypeText(ch0: String): String = {
    val ch = ch0.trim
    val wrap = "(?is)^(Nullable|LowCardinality)\\s*\\((.*)\\)$".r
    val arr = "(?is)^Array\\s*\\((.*)\\)$".r
    val map = "(?is)^Map\\s*\\((.*)\\)$".r
    val dec = "(?is)^Decimal\\s*\\((\\d+)\\s*,\\s*(\\d+)\\)$".r
    val decN = "(?is)^Decimal(32|64|128|256)\\s*\\((\\d+)\\)$".r
    val fixed = "(?is)^(FixedString)\\s*\\(\\d+\\)$".r
    val enum_ = "(?is)^Enum(8|16)?\\s*\\(.*\\)$".r
    val dt64 = "(?is)^DateTime64\\s*\\(.*\\)$".r
    ch match {
      case wrap(_, inner) => sparkTypeText(inner)
      case arr(inner) => s"ARRAY<${sparkTypeText(inner)}>"
      case map(inner) =>
        val parts = SqlLex.splitTop(inner)
        s"MAP<${sparkTypeText(parts(0))}, ${sparkTypeText(parts(1))}>"
      case dec(p, sc) => s"DECIMAL($p, $sc)"
      case decN(w, sc) =>
        val p = w match { case "32" => 9; case "64" => 18; case _ => 38 }
        s"DECIMAL($p, $sc)"
      case fixed(_) => "STRING"
      case enum_(_) => "STRING"
      case dt64() => "TIMESTAMP"
      case simple => simple.toLowerCase match {
        case "int8" => "TINYINT"
        case "int16" => "SMALLINT"
        case "int32" => "INT"
        case "int64" | "int128" | "int256" => "BIGINT"
        case "uint8" => "SMALLINT"
        case "uint16" => "INT"
        case "uint32" => "BIGINT"
        case "uint64" => "DECIMAL(20, 0)"
        case "float32" => "FLOAT"
        case "float64" | "double" => "DOUBLE"
        case "string" | "uuid" | "ipv4" | "ipv6" | "json" | "object" => "STRING"
        // Dynamic (DataTypeDynamic.h:10): a per-row typed value — Spark's
        // VariantType is the 1:1 analog (dynamicType/dynamicElement read it)
        case "dynamic" => "VARIANT"
        case "date" | "date32" => "DATE"
        case "datetime" => "TIMESTAMP"
        case "bool" | "boolean" => "BOOLEAN"
        case other =>
          throw new IllegalArgumentException(s"unsupported reference type '$other'")
      }
    }
  }

  /** table → engine-layout metadata recorded from the reference DDL
    * (AlterCommands.h MODIFY_ORDER_BY:33 / MODIFY_SAMPLE_BY:34 /
    * COMMENT_COLUMN / MATERIALIZE_COLUMN): the declared sorting key,
    * sampling expression, table comment, per-column comments, and
    * per-column DEFAULT expressions. Physical-layout hints carried as
    * properties (Catalyst sorts/samples on demand); SHOW CREATE renders
    * them back and MATERIALIZE COLUMN rewrites from the defaults.
    * `columns` is the declared column order, kept only when it differs
    * from the catalog's: Spark moves PARTITION BY columns last. */
  final case class EngineMeta(orderBy: Option[String] = None,
      sampleBy: Option[String] = None, comment: Option[String] = None,
      colComments: Map[String, String] = Map.empty,
      colDefaults: Map[String, String] = Map.empty,
      columns: Seq[String] = Nil)
  private val engineMeta =
    scala.collection.concurrent.TrieMap.empty[String, EngineMeta]
  /** Dropped tables' engine metadata, restored by UNDROP. */
  private val droppedEngineMeta =
    scala.collection.concurrent.TrieMap.empty[String, EngineMeta]

  private[graft] def engineMetaOf(t: String): EngineMeta =
    engineMeta.getOrElse(t, EngineMeta())

  /** Record ORDER BY / SAMPLE BY / COMMENT / column DEFAULTs+COMMENTs
    * from a reference-shaped CREATE TABLE (fresh create replaces any
    * stale entry for the name). */
  private def recordEngineMeta(s: String): Unit = {
    val re = ("(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*\\((.*)\\)\\s*ENGINE\\s*=\\s*\\w+(.*)$").r
    re.findFirstMatchIn(s).foreach { m =>
      val name = m.group(1)
      val tail = m.group(3)
      def clause(kw: String): Option[String] =
        (s"(?is)\\b$kw\\s+(.+?)(?=\\s+(?:PARTITION\\s+BY|ORDER\\s+BY|" +
          "SAMPLE\\s+BY|PRIMARY\\s+KEY|TTL|SETTINGS|COMMENT)\\b|;?\\s*$)").r
          .findFirstMatchIn(tail).map(_.group(1).trim)
      val comment = "(?is)\\bCOMMENT\\s+'([^']*)'\\s*;?\\s*$".r
        .findFirstMatchIn(tail).map(_.group(1))
      val colComments = scala.collection.mutable.Map[String, String]()
      val colDefaults = scala.collection.mutable.Map[String, String]()
      val declared = Seq.newBuilder[String]
      SqlLex.splitTop(m.group(2)).foreach { colDef =>
        "(?s)^\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+(.*)$".r
          .findFirstMatchIn(colDef).foreach { cm =>
            val cname = cm.group(1)
            declared += cname
            val rest = cm.group(2)
            ("(?is)\\bDEFAULT\\s+(.+?)(?=\\s+(?:CODEC|COMMENT|TTL)\\b|$)").r
              .findFirstMatchIn(rest)
              .foreach(d => colDefaults(cname) = d.group(1).trim)
            "(?is)\\bCOMMENT\\s+'([^']*)'".r.findFirstMatchIn(rest)
              .foreach(c => colComments(cname) = c.group(1))
          }
      }
      val cols = declared.result()
      val (part, rest) = cols.partition(c =>
        createPartitionColumn(tail).exists(_.equalsIgnoreCase(c)))
      val catalogOrder = rest ++ part
      engineMeta.put(name, EngineMeta(clause("ORDER\\s+BY"),
        clause("SAMPLE\\s+BY"), comment, colComments.toMap, colDefaults.toMap,
        if (cols == catalogOrder) Nil else cols))
    }
  }

  /** ALTER TABLE t MODIFY ORDER BY / MODIFY SAMPLE BY / REMOVE SAMPLE BY
    * / MODIFY COMMENT / COMMENT COLUMN / MATERIALIZE COLUMN
    * (AlterCommands.h MODIFY_ORDER_BY, MODIFY_SAMPLE_BY, COMMENT_COLUMN,
    * COMMENT_TABLE, MATERIALIZE_COLUMN): property updates on the engine
    * metadata ledger — SHOW CREATE reflects them — plus the MATERIALIZE
    * COLUMN part rewrite, which fills the column's NULL lanes with its
    * recorded DEFAULT expression through the durable pruned rewrite (a
    * part with nothing to materialize is never touched). */
  private def alterMeta(spark: SparkSession, stmt: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, when}
    val modOrder = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "MODIFY\\s+ORDER\\s+BY\\s+(.+?);?\\s*$").r
    val modSample = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "MODIFY\\s+SAMPLE\\s+BY\\s+(.+?);?\\s*$").r
    val rmSample = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "REMOVE\\s+SAMPLE\\s+BY\\s*;?\\s*$").r
    val modComment = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "MODIFY\\s+COMMENT\\s+'([^']*)'\\s*;?\\s*$").r
    val colComment = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "COMMENT\\s+COLUMN\\s+(IF\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?" +
      "\\s+'([^']*)'\\s*;?\\s*$").r
    val matCol = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "MATERIALIZE\\s+COLUMN\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?" +
      "(?:\\s+IN\\s+PARTITION\\s+'?([^'\\s;]+)'?)?\\s*;?\\s*$").r
    def upd(t: String)(f: EngineMeta => EngineMeta): Unit = {
      require(spark.catalog.tableExists(t), s"no such table $t")
      engineMeta.put(t, f(engineMetaOf(t)))
    }
    stmt.trim match {
      case modOrder(t, expr0) =>
        // reference contract: the sorting key may only reference existing
        // columns (AlterCommands::apply validates the expression)
        val cols = spark.table(t).columns.map(_.toLowerCase).toSet
        "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(expr0)
          .filterNot(w => Set("tuple").contains(w.toLowerCase))
          .foreach(w => require(cols.contains(w.toLowerCase),
            s"MODIFY ORDER BY references unknown column `$w`"))
        upd(t)(_.copy(orderBy = Some(rewrite(expr0.trim))))
        Seq("OK").toDF("status")
      case modSample(t, expr0) =>
        upd(t)(_.copy(sampleBy = Some(rewrite(expr0.trim))))
        Seq("OK").toDF("status")
      case rmSample(t) =>
        upd(t)(_.copy(sampleBy = None))
        Seq("OK").toDF("status")
      case modComment(t, c) =>
        upd(t)(_.copy(comment = Some(c)))
        Seq("OK").toDF("status")
      case colComment(t, ifEx, c, txt) =>
        if (!spark.table(t).columns.contains(c)) {
          if (ifEx == null) throw new IllegalArgumentException(
            s"column $c does not exist in $t")
        } else upd(t)(em => em.copy(colComments = em.colComments + (c -> txt)))
        Seq("OK").toDF("status")
      case matCol(t, c, pval) =>
        require(spark.table(t).columns.contains(c),
          s"column $c does not exist in $t")
        engineMetaOf(t).colDefaults.get(c) match {
          case None => // nothing recorded to materialize — reference
            // semantics degrade to a no-op on an expressionless column
            Seq("OK").toDF("status")
          case Some(dflt) =>
            val dt = spark.table(t).schema(c).dataType
            val partCond = Option(pval).map { v =>
              val pcols = spark.sessionState.catalog.getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(t))
                .partitionColumnNames
              require(pcols.size == 1,
                s"MATERIALIZE COLUMN IN PARTITION needs one partition " +
                  s"column, $t has $pcols")
              col(pcols.head) === v
            }
            val hole = col(c).isNull
            val affected = partCond.fold(hole)(_ && hole)
            val mutated = spark.table(t).withColumn(c,
              when(affected, expr(rewrite(dflt)).cast(dt)).otherwise(col(c)))
            graft.operators.DurableRewrite.rewrite(spark, t, mutated,
              Some(affected))
            refreshSkipIndexes(spark, t)
            queryCache.clear()
            logMutation(t, stmt.trim)
            Seq("OK").toDF("status")
        }
      case _ => throw new IllegalArgumentException(
        "unsupported ALTER metadata form")
    }
  }

  /** `CREATE TABLE [IF NOT EXISTS] t (cols…) ENGINE = X [ORDER BY …]
    * [PARTITION BY col] [SETTINGS …]` → `CREATE TABLE … USING parquet
    * [PARTITIONED BY (col)]`. Engine choice, ORDER BY (PK) and TTL are
    * physical-layout hints with no Spark-DDL analog: ORDER BY maps to
    * nothing (Catalyst sorts on demand), a bare-column PARTITION BY maps
    * to Spark partitioning. */
  def rewriteCreateTable(s: String): String = {
    val re = ("(?is)^CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*\\((.*)\\)\\s*ENGINE\\s*=\\s*\\w+(.*)$").r
    re.findFirstMatchIn(s) match {
      case None => s // not a reference-shaped CREATE; pass through
      case Some(m) =>
        val ifNot = if (m.group(1) != null) "IF NOT EXISTS " else ""
        val name = m.group(2)
        val cols = SqlLex.splitTop(m.group(3)).map { colDef =>
          val cd = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s+(.*)$".r
          colDef.trim match {
            case cd(cname, ctype0) =>
              // strip DEFAULT/CODEC/COMMENT suffixes
              val ctype = ctype0
                .replaceAll("(?is)\\s+(DEFAULT|MATERIALIZED|CODEC|COMMENT|TTL)\\b.*$", "")
              s"$cname ${sparkTypeText(ctype)}"
            case other =>
              throw new IllegalArgumentException(s"unparsable column def '$other'")
          }
        }
        val part = createPartitionColumn(m.group(4))
          .map(p => s" PARTITIONED BY ($p)").getOrElse("")
        s"CREATE TABLE $ifNot$name (${cols.mkString(", ")}) USING parquet$part"
    }
  }

  /** The bare-column `PARTITION BY` of a CREATE TABLE's engine clauses. */
  private def createPartitionColumn(tail: String): Option[String] =
    "(?is)\\bPARTITION\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)\\b".r
      .findFirstMatchIn(tail).map(_.group(1))

  /** The column order a positional INSERT into `t` binds to, when it is
    * not the catalog's: the declared order of its CREATE TABLE (see
    * EngineMeta.columns), then any column added since, in catalog order. */
  private def declaredOrder(spark: SparkSession, t: String): Option[Seq[String]] = {
    val declared = engineMetaOf(t).columns
    if (declared.isEmpty) None
    else {
      val cur = spark.table(t).columns.toSeq
      val known = declared.map(_.toLowerCase).toSet
      val order = declared.flatMap(d => cur.find(_.equalsIgnoreCase(d))) ++
        cur.filterNot(c => known(c.toLowerCase))
      Some(order).filter(_ != cur)
    }
  }

  /** Records `cols` as `t`'s declared column order after an ALTER that
    * added, dropped or renamed a column. */
  private def redeclare(spark: SparkSession, t: String, cols: Seq[String]): Unit = {
    val cur = spark.table(t).columns.toSeq
    if (cols != cur || engineMeta.contains(t))
      engineMeta.put(t, engineMetaOf(t).copy(columns =
        if (cols == cur) Nil else cols))
  }

  /** Moves a table's engine metadata along with a rename of the table. */
  private def moveEngineMeta(from: String, to: String): Unit =
    engineMeta.remove(from) match {
      case Some(m) => engineMeta.put(to, m)
      case None => engineMeta.remove(to)
    }

  private val positionalInsertRe = ("(?is)^(INSERT\\s+INTO\\s+(?:TABLE\\s+)?" +
    "([A-Za-z_][A-Za-z0-9_.]*))\\s+(?=SELECT\\b|WITH\\b|VALUES\\b)").r

  /** A positional `INSERT INTO t SELECT/VALUES …` with t's declared column
    * list spelled out, so the values bind in declared order. */
  private def bindDeclaredOrder(spark: SparkSession, stmt: String): String =
    positionalInsertRe.findFirstMatchIn(stmt).flatMap { m =>
      declaredOrder(spark, m.group(2)).map(cols =>
        s"${m.group(1)} (${cols.map(c => s"`$c`").mkString(", ")}) " +
          stmt.substring(m.end))
    }.getOrElse(stmt)

  // ---- schema-aware SELECT transformers (ASTColumnsTransformers) ------
  //
  // `* REPLACE(expr AS col)`, `COLUMNS('re')`, `COLUMNS('re') APPLY(f)`,
  // `* APPLY(f)` need the FROM table's column list, so they expand here
  // (with the session) rather than in the textual rewrite pipeline.
  // Supported FROM shape: a single catalog table/view name.

  private def fromTableColumns(spark: SparkSession, s: String): Option[Seq[String]] = {
    val from = "(?is)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_.]*)".r
    SqlLex.firstMatch(s, from).flatMap { m =>
      try Some(spark.table(m.group(1)).columns.toSeq)
      catch { case _: Exception => None }
    }
  }

  private def expandSchemaTransformers(spark: SparkSession, sql0: String): String = {
    var s = sql0
    lazy val colsOpt = fromTableColumns(spark, s)

    // * REPLACE(e1 AS c1, ...)
    val rep = "(?is)\\*\\s+REPLACE\\s*(\\()".r
    SqlLex.firstMatch(s, rep).foreach { m =>
      val end = SqlLex.closeOf(s, m.start(1))
      colsOpt match {
        case Some(cols) if end > 0 =>
          val asRe = "(?is)^(.*?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
          val repl = SqlLex.splitTop(s.substring(m.start(1) + 1, end - 1)).collect {
            case asRe(e, c) => c.toLowerCase -> e.trim
          }.toMap
          val select = cols.map(c =>
            repl.get(c.toLowerCase).map(e => s"$e AS $c").getOrElse(c)).mkString(", ")
          s = s.substring(0, m.start) + select + s.substring(end)
        case _ =>
      }
    }

    // COLUMNS('re') [APPLY(f)]
    val colsRe =
      "(?is)\\bCOLUMNS\\s*\\(\\s*'([^']+)'\\s*\\)(\\s+APPLY\\s*\\(\\s*([A-Za-z0-9_]+)\\s*\\))?".r
    s = SqlLex.replaceAll(s, colsRe)(m => colsOpt match {
      case Some(cols) =>
        val re = m.group(1).r
        val matched = cols.filter(c => re.findFirstIn(c).isDefined)
        if (m.group(3) == null) matched.mkString(", ")
        else matched.map(c => s"${m.group(3)}($c) AS `${m.group(3)}($c)`").mkString(", ")
      case None => m.matched
    })

    // * APPLY(f)
    val starApply = "(?is)\\*\\s+APPLY\\s*\\(\\s*([A-Za-z0-9_]+)\\s*\\)".r
    s = SqlLex.replaceAll(s, starApply)(m => colsOpt match {
      case Some(cols) =>
        cols.map(c => s"${m.group(1)}($c) AS `${m.group(1)}($c)`").mkString(", ")
      case None => m.matched
    })
    s
  }
}
