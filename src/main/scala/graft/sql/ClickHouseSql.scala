package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Pre-parse rewriter for ClickHouse SQL-isms (SURVEY §7 item 2) — the
  * Spark analog of the reference's parser-level clauses
  * (src/Parsers/ASTSelectQuery.h:18-39: PREWHERE, LIMIT BY, FINAL, FORMAT).
  *
  * Token-level and conservative: SQL with none of the CH-isms passes
  * through untouched; each rewrite maps a CH clause onto the standard
  * relational form Catalyst already optimizes.
  */
object ClickHouseSql {

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

  /** `FROM t FINAL` → latest-version-per-key subselect for a table whose
    * recorded engine is ReplacingMergeTree(ver) (reference: FINAL read
    * mode of ReadFromMergeTree); other engines read every row. */
  private def rewriteFinal(s: String): String = {
    val fin = "(?is)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+FINAL\\b".r
    SqlLex.replaceAll(s, fin)(m => {
      val t = m.group(1)
      TableLedger.finalKeys(t) match {
        case Some((keys, ver)) =>
          val part = if (keys.isEmpty) "" else keys.mkString("PARTITION BY ", ", ", " ")
          val ord = ver.map(v => s"$v DESC").mkString(", ")
          s"FROM (SELECT * EXCEPT (__ver_rn) FROM (SELECT *, row_number() OVER (${part}ORDER BY $ord) AS __ver_rn FROM $t) WHERE __ver_rn = 1) $t"
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
    if (insertLike.matches(s0.trim)) {
      val selAt = SqlLex.find(s0, "SELECT").fold(-1)(_._1)
      return if (selAt <= 0) s0
      else s0.substring(0, selAt) + rewriteQualify(s0.substring(selAt))
    }
    if (!selectLike.matches(s0.trim)) return s0
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

  // ---- the statement table (executeQuery → InterpreterFactory::get) ---

  private val selectLike = "(?is)^(?:SELECT|WITH)\\b.*".r
  private val insertLike = "(?is)^INSERT\\b.*".r
  private val valuesLike = "(?is)^VALUES\\b.*".r
  private val setLike = "(?is)^SET\\b.*".r
  private val createViewLike = "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?VIEW\\b.*".r

  import Lane.{lane, maybe, ok, reject}

  /** One statement, its bound relation names dropped on the way out
    * (see Scope). */
  private def sqlImpl(spark: SparkSession, chSql: String): DataFrame = {
    val scope = new Scope(spark)
    try run(scope, chSql) finally scope.close()
  }

  private def run(scope: Scope, chSql: String): DataFrame = {
    val spark = scope.spark
    ChFunctionRegistry.install(spark)
    graft.plans.Rules.install(spark)
    // SET query_id = 'x' tags this thread's jobs with a cancellable group
    // (the reference's query_id + KILL QUERY pair; Spark job groups are
    // the cancellation primitive)
    spark.conf.getOption("graft.ch.query_id").foreach(id =>
      spark.sparkContext.setJobGroup(id, chSql.take(120),
        interruptOnCancel = true))
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
    // literals only. Comments go first, so no row ever sees one.
    val raw = {
      val stripped = SqlLex.stripComments(chSql).trim
      // SET dialect = 'kusto' (executeQuery.cpp:1044 Dialect::kusto, the
      // reference's KQL front-end switch): every non-SET statement
      // translates through KqlTranslator FIRST, then proceeds through
      // the ordinary statement rows as SQL. SET stays native so
      // `SET dialect = 'clickhouse'` can always switch back.
      val dialect = spark.conf.getOption("graft.ch.dialect")
        .map(_.stripPrefix("'").stripSuffix("'").trim.toLowerCase)
        .getOrElse("clickhouse")
      val t0 =
        if (setLike.matches(stripped)) stripped
        else if (dialect == "kusto") KqlTranslator.translate(spark, stripped)
        else if (dialect == "prql") PrqlTranslator.translate(scope, stripped)
        else stripped
      // CREATE VIEW bodies KEEP their placeholders — they substitute at
      // call time, per view invocation (parameterized views)
      if (!t0.contains("{") || createViewLike.matches(t0)) t0
      else substituteParams(spark, t0)
    }
    // stmt1 PARALLEL WITH stmt2 [PARALLEL WITH …] (ParserParallelWithQuery),
    // split outside literals only
    if (!selectLike.matches(raw)) {
      val legs = SqlLex.splitTop(raw, "PARALLEL WITH")
      if (legs.length > 1) return parallelWith(spark, legs)
    }
    // the first row whose shape matches runs; rows past the raw ones
    // read the prepared statement
    lazy val prepared = prepare(scope, raw)
    statements.iterator.flatMap { l =>
      val text = if (l.raw) raw else prepared
      l.shape.unapplySeq(text).flatMap(g => l.run(Hit(scope, text, g.toIndexedSeq)))
    }.next()
  }

  private val parallelInsert = ("(?is)^INSERT\\s+INTO\\s+(?:TABLE\\s+)?" +
    "([A-Za-z_][A-Za-z0-9_.]*)\\s*(?:\\(([^()]*)\\)\\s*)?" +
    "((?:SELECT|WITH|VALUES)\\b.*?);?\\s*$").r

  /** The legs of one PARALLEL WITH statement run CONCURRENTLY — one
    * thread per leg group (bounded pool), each submitting its own Spark
    * jobs; the scheduler interleaves them exactly like the reference's
    * thread pool. Legs are independent by the statement's contract.
    *
    * Each leg runs through sqlImpl, not sql: the user issued ONE
    * statement (quota was already charged once at the sql() entry;
    * QuotaCache::used charges per statement, not per PARALLEL WITH leg).
    * Legs are grouped by EVERY table identifier each statement
    * references (sources included, so a leg READING a table another leg
    * mutates orders behind it instead of racing it), with transitive
    * sharing merged (union-find). Groups run concurrently; inside a group
    * legs stay in statement order, EXCEPT a group of plain
    * `INSERT INTO t SELECT/VALUES ...` legs into one shared target (none
    * reading that target), which runs concurrently through per-leg
    * staging dirs + an append commit by file rename: Spark's own commit
    * protocol stages every insert of a table under its single
    * `_temporary` dir, so the constraint is lifted beside it, not fought
    * inside it. SqlLex.tableRefs lands comma-listed, backtick-quoted and
    * 'default.'-qualified vs bare spellings of one table on the same
    * group key, so legs sharing a table can never race into different
    * union-find groups. */
  private def parallelWith(spark: SparkSession, legs: Seq[String]): DataFrame = {
    val ids = legs.map(SqlLex.tableRefs)
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
    def concurrentInsertLegs(group: Seq[String])
        : Option[(String, Seq[(Option[Seq[String]], String)])] =
      if (group.size < 2) None
      else {
        val parsed = group.map {
          case parallelInsert(t, colList, tail) => Some((t.toLowerCase,
            Option(colList).map(_.split(',').map(_.trim)
              .filter(_.nonEmpty).toSeq).filter(_.nonEmpty),
            tail.trim))
          case _ => None
        }
        val t0 = parsed.headOption.flatten.map(_._1)
        val ok = parsed.forall(_.isDefined) && t0.isDefined &&
          parsed.flatten.forall(_._1 == t0.get) &&
          parsed.flatten.forall(p => !SqlLex.tableRefs(p._3).contains(t0.get)) &&
          scala.util.Try(spark.sessionState.catalog.getTableMetadata(
            TableIdentifier(t0.get))
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
        if (valuesLike.matches(tail)) spark.sql(tail)
        else sqlImpl(spark, tail)
      val aligned = alignInsert(spark, t, df0, colList)
      val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      val partCols = meta.partitionColumnNames
      val loc = meta.location.getPath
      val root = new Path(loc)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stage = new Path(
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
        val planned = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
        def stageInvisible(dir: Path, rel: String): Unit =
          fs.listStatus(dir).foreach { st =>
            val n = st.getPath.getName
            if (n.startsWith("_") || n.startsWith(".")) ()
            else if (st.isDirectory)
              stageInvisible(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
            else {
              val dstDir = if (rel.isEmpty) root else new Path(root, rel)
              fs.mkdirs(dstDir)
              val tmp = new Path(dstDir, s".graft_commit_${legTag}_$n")
              if (!fs.rename(st.getPath, tmp))
                throw new IllegalStateException(
                  s"PARALLEL WITH append: staging rename of " +
                    s"${st.getPath} failed")
              planned += ((tmp, new Path(dstDir, n)))
            }
          }
        stageInvisible(stage, "")
        val flipped = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
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
          afterWrite(spark, t)
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
    ok(spark)
  }

  /** `df0` bound to the columns of `t` for an append, cast to the table's
    * types and in catalog order (the order insertInto binds): by the
    * INSERT's column list when there is one, unlisted columns NULL (the
    * standard INSERT (cols) contract); else positionally, in the order a
    * positional INSERT binds (see declaredOrder). */
  private def alignInsert(spark: SparkSession, t: String, df0: DataFrame,
      colList: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val schema = spark.table(t).schema
    colList.orElse(declaredOrder(spark, t)) match {
      case None =>
        require(df0.columns.length == schema.length,
          s"INSERT INTO $t: ${df0.columns.length} columns, " +
            s"table has ${schema.length}")
        df0.toDF(schema.map(_.name): _*)
          .select(schema.map(f => col(f.name).cast(f.dataType)): _*)
      case Some(cols) =>
        require(df0.columns.length == cols.length,
          s"INSERT INTO $t (${cols.mkString(", ")}): " +
            s"${df0.columns.length} columns in the source")
        val known = schema.map(_.name.toLowerCase).toSet
        cols.find(c => !known.contains(c.toLowerCase)).foreach(c =>
          throw new IllegalArgumentException(
            s"INSERT INTO $t: unknown column '$c' in the list"))
        val listed = cols.map(_.toLowerCase)
        df0.toDF(listed: _*).select(schema.map { f =>
          if (listed.contains(f.name.toLowerCase))
            col(f.name.toLowerCase).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
    }
  }

  private val trailingFormat =
    "(?is)^((?:SELECT|WITH)\\b.*?)\\s+FORMAT\\s+[A-Za-z0-9]+\\s*;?\\s*$".r

  /** The statement every row past the raw ones reads. A SELECT loses a
    * trailing FORMAT clause (it names the client-side serialization; the
    * wire codecs live in sources/ChWireFormats and the result itself is
    * format-independent) and has its table functions — file(),
    * deltaLake(), format(), … — and parameterized views resolved. Every
    * statement then reads each `system.<t>` it names, in any case, from
    * a snapshot taken now. Resolved relations are bound in `scope`. */
  private def prepare(scope: Scope, raw: String): String = {
    val spark = scope.spark
    val s =
      if (!selectLike.matches(raw)) raw
      else {
        val noFmt = raw match {
          case trailingFormat(core) => core
          case _ => raw
        }
        resolveParamViews(spark,
          resolveMergeFn(scope, resolveFileFn(scope,
            resolveFormatFn(scope, resolveRemoteFn(spark,
              resolveNullFn(scope, resolveDeltaLakeFn(scope,
                resolveCollectionFileFn(noFmt))))))))
      }
    val snapshots = scala.collection.mutable.Map.empty[String, String]
    SqlLex.replaceAll(s, systemName) { m =>
      val t = m.group(1).toLowerCase
      snapshots.getOrElseUpdate(t, scope.bind(systemTables(t)(spark, s)))
    }
  }

  /** `FROM system.<t>` (StorageSystemFactory routing): the argless system
    * tables, each built from the session and the statement that reads
    * it. Arg-taking tables (columns/parts of one table) stay API-only. */
  private val systemTables: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.sources.{SystemTables => S}
    def of(f: SparkSession => DataFrame): (SparkSession, String) => DataFrame =
      (spark, _) => f(spark)
    Map("tables" -> of(S.tables), "functions" -> of(S.functions),
      "settings" -> of(S.settings), "query_log" -> of(S.queryLog),
      "dictionaries" -> of(S.dictionaries),
      "data_skipping_indices" -> of(S.dataSkippingIndices),
      "metrics" -> of(S.metrics), "events" -> of(S.events),
      "asynchronous_metrics" -> of(S.asynchronousMetrics),
      "databases" -> of(S.databases), "processes" -> of(S.processes),
      "one" -> of(S.one), "merges" -> of(S.merges),
      "mutations" -> of(S.mutations), "formats" -> of(S.formats),
      "table_engines" -> of(S.tableEngines), "clusters" -> of(S.clusters),
      "disks" -> of(S.disks), "columns" -> of(S.columnsAll),
      "parts" -> of(S.partsAll), "detached_parts" -> of(S.detachedParts),
      "projections" -> of(S.projections), "errors" -> of(S.errors),
      "view_refreshes" -> of(S.viewRefreshes), "backups" -> of(S.backups),
      "users" -> of(S.users), "roles" -> of(S.rolesTable),
      "grants" -> of(S.grantsTable), "row_policies" -> of(S.rowPolicies),
      "quotas" -> of(S.quotasTable), "quota_usage" -> of(S.quotaUsage),
      "settings_profiles" -> of(S.settingsProfilesTable),
      "part_log" -> of(S.partLog), "current_roles" -> of(S.currentRoles),
      "dropped_tables" -> of(S.droppedTables),
      "named_collections" -> of(S.namedCollections),
      "workloads" -> of(S.workloads), "resources" -> of(S.resourcesTable),
      "enabled_roles" -> of(S.enabledRoles),
      "settings_changes" -> of(S.settingsChanges),
      "time_zones" -> of(S.timeZones), "build_options" -> of(S.buildOptions),
      "warnings" -> of(S.warnings), "replicas" -> of(S.replicas),
      "moves" -> of(S.moves),
      "numbers" -> ((spark, stmt) => S.numbers(spark, numbersBound(stmt))))
  }

  private val systemName =
    ("(?i)\\bsystem\\.(" + systemTables.keys.mkString("|") + ")\\b").r

  /** system.numbers streams unbounded in the reference
    * (StorageSystemNumbers.cpp) and every real query bounds it with LIMIT
    * or a WHERE predicate; materialize to the LARGEST bound the query
    * mentions — the max over every `LIMIT n` and every `number <[=] n`
    * comparison — so a smaller LIMIT belonging to an unrelated subquery
    * can never truncate the stream (a too-large bound is merely extra
    * rows the outer plan filters/limits away). Default 2^20; queries that
    * reference number values beyond the 2^27 materialization cap fail
    * LOUDLY instead of silently returning short results. */
  private def numbersBound(stmt: String): Long = {
    val cap = 1L << 27
    val limits = numbersLimit.findAllMatchIn(stmt).map(_.group(1).toLong).toSeq
    val whereBounds = numbersWhere.findAllMatchIn(stmt)
      .map(m => m.group(2).toLong + (if (m.group(1) == "<") 0L else 1L))
      .toSeq
    val bound = (limits ++ whereBounds).foldLeft(1L << 20)(math.max)
    require(bound <= cap,
      s"system.numbers: query references number values up to $bound, " +
        s"beyond the $cap materialization cap")
    bound
  }
  private val numbersLimit = "(?is)\\bLIMIT\\s+(\\d+)".r
  private val numbersWhere = "(?is)\\bnumber\\s*(<=|<|=)\\s*(\\d+)".r

  /** What follows a write into `t`, or a verb that moved it: its skip
    * indexes and projections rebuild over the current files, cached
    * SELECT results drop, and a mutation enters system.mutations with its
    * command text. */
  private def afterWrite(spark: SparkSession, t: String,
      mutation: Option[String] = None): Unit = {
    TableLedger.build(spark, t)
    queryCache.clear()
    mutation.foreach(logMutation(t, _))
  }

  private def partitionCols(spark: SparkSession, t: String): Seq[String] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .partitionColumnNames

  /** The one partition column `verb` operates on; any other layout
    * fails. */
  private def onePartCol(spark: SparkSession, t: String, verb: String): String = {
    val pcols = partitionCols(spark, t)
    require(pcols.size == 1,
      s"$verb needs exactly one partition column, $t has $pcols")
    pcols.head
  }

  private[sql] def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val assignment = "(?s)^\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*=\\s*(.*)$".r

  /** `a = e, b = f` → (column, expression) pairs. */
  private def assignments(text: String): Seq[(String, org.apache.spark.sql.Column)] =
    SqlLex.splitTop(text).map {
      case assignment(c, e) => c -> org.apache.spark.sql.functions.expr(rewrite(e))
      case other => throw new IllegalArgumentException(
        s"unparsable UPDATE assignment '$other'")
    }

  /** Every statement kind the dialect serves, in order; the first row
    * whose shape matches the whole statement runs it. The last row hands
    * everything else to Spark SQL. */
  private val statements: Seq[Lane] = Seq(
    // ---- raw rows: the statement as typed ----
    // INTO OUTFILE 'path' [FORMAT fmt] (ParserQueryWithOutput): run the
    // query and write the result where the client asked; answers the row
    // count, like the clickhouse-client summary line
    lane("""^((?:SELECT|WITH)\b.*?)\s+INTO\s+OUTFILE\s+'([^']+)'(?:\s+FORMAT\s+([A-Za-z0-9]+))?<end>""",
      raw = true)(intoOutfile),
    // INSERT INTO [TABLE] FUNCTION deltaLake|iceberg|hudi('path')
    // [PARTITION BY (…)] <select|values> (ParserInsertQuery's TABLE
    // FUNCTION form): the SELECT runs first, then the lakehouse commit —
    // before the table-function READ resolution, which would otherwise
    // turn the write target into a read view
    lane("""^INSERT\s+INTO\s+(?:TABLE\s+)?FUNCTION\s+(deltaLake|iceberg|hudi)\s*\(\s*'([^']+)'\s*\)\s*(?:PARTITION\s+BY\s*\(([^)]*)\)\s*)?((SELECT)\b.*|VALUES\b.*)$""",
      raw = true)(insertIntoLake),
    // DELETE FROM FUNCTION hudi('path') WHERE pred — the lightweight
    // lane (delete blocks in the groups' logs; no rewrites), matching
    // the Delta-DV / Iceberg-position-delete split
    lane("""^DELETE\s+FROM\s+(?:TABLE\s+)?FUNCTION\s+hudi\s*\(\s*'([^']+)'\s*\)\s*WHERE\s+(.+?);?\s*$""",
      raw = true) { h =>
      import h.spark.implicits._
      val (instant, nRows) = graft.sources.HudiSink.deleteWhere(h.spark,
        h(1), org.apache.spark.sql.functions.expr(rewrite(h(2))))
      Seq((instant, nRows)).toDF("instant", "rows_deleted")
    },
    // row-level lakehouse mutations over the table-function spelling
    // (round 14 — the write-side twin of the deltaLake()/iceberg() reads)
    lane("""^ALTER\s+TABLE\s+FUNCTION\s+(deltaLake|iceberg)\s*\(\s*'([^']+)'\s*\)\s*DELETE\s+WHERE\s+(.+?);?\s*$""",
      raw = true)(h => lakeMutate(h, h(3), None, lightweight = false)),
    lane("""^DELETE\s+FROM\s+(?:TABLE\s+)?FUNCTION\s+(deltaLake|iceberg)\s*\(\s*'([^']+)'\s*\)\s*WHERE\s+(.+?);?\s*$""",
      raw = true)(h => lakeMutate(h, h(3), None, lightweight = true)),
    lane("""^ALTER\s+TABLE\s+FUNCTION\s+(deltaLake|iceberg)\s*\(\s*'([^']+)'\s*\)\s*UPDATE\s+(.+?)\s+WHERE\s+(.+?);?\s*$""",
      raw = true)(h => lakeMutate(h, h(4), Some(h(3)), lightweight = false)),
    // RESTORE TABLE FUNCTION deltaLake('p') TO VERSION N — revert the
    // content to a past version with one commit (history preserved)
    lane("""^RESTORE\s+TABLE\s+FUNCTION\s+deltaLake\s*\(\s*'([^']+)'\s*\)\s+TO\s+VERSION\s+(\d+)<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      val (cv, added, removed) =
        graft.sources.DeltaLakeSink.restore(h.spark, h(1), h(2).toLong)
      Seq((cv, added.toLong, removed.toLong))
        .toDF("committed_version", "files_readded", "files_removed")
    },
    // ALTER TABLE FUNCTION iceberg('p') ROLLBACK TO SNAPSHOT <id> —
    // re-point the current snapshot (round 16)
    lane("""^ALTER\s+TABLE\s+FUNCTION\s+iceberg\s*\(\s*'([^']+)'\s*\)\s+ROLLBACK\s+TO\s+SNAPSHOT\s+(\d+)<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      Seq(graft.sources.IcebergSink.rollback(h.spark, h(1), h(2).toLong)
        .toLong).toDF("metadata_version")
    },
    // OPTIMIZE TABLE FUNCTION iceberg('path') EXPIRE SNAPSHOTS [KEEP N] —
    // metadata drops the expired snapshots, files only they referenced
    // delete AFTER the new version is claimed
    lane("""^OPTIMIZE\s+TABLE\s+FUNCTION\s+iceberg\s*\(\s*'([^']+)'\s*\)\s+EXPIRE\s+SNAPSHOTS(?:\s+KEEP\s+(\d+))?<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      val (expired, deleted) = graft.sources.IcebergSink.expireSnapshots(
        h.spark, h(1), keepLast = h.opt(2).map(_.toInt).getOrElse(1))
      Seq((expired.toLong, deleted.toLong))
        .toDF("snapshots_expired", "files_deleted")
    },
    // OPTIMIZE TABLE FUNCTION deltaLake('path') VACUUM [RETAIN N HOURS] —
    // delete files the current snapshot does not reference, older than
    // the retention window (default 168h)
    lane("""^OPTIMIZE\s+TABLE\s+FUNCTION\s+deltaLake\s*\(\s*'([^']+)'\s*\)\s+VACUUM(?:\s+RETAIN\s+(\d+)\s+HOURS)?<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      val hours = h.opt(2).map(_.toLong).getOrElse(168L)
      val (files, bytes) = graft.sources.DeltaLakeSink.vacuum(
        h.spark, h(1), retentionMs = hours * 3600L * 1000L)
      Seq((files.toLong, bytes)).toDF("files_deleted", "bytes_reclaimed")
    },
    // OPTIMIZE TABLE FUNCTION hudi('path') CLEAN [KEEP N] — retain the
    // newest N visible base slices per file group, delete the rest with
    // their attached logs
    lane("""^OPTIMIZE\s+TABLE\s+FUNCTION\s+hudi\s*\(\s*'([^']+)'\s*\)\s+CLEAN(?:\s+KEEP\s+(\d+))?<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      val (bases, logs) = graft.sources.HudiSink.clean(
        h.spark, h(1), keepSlices = h.opt(2).map(_.toInt).getOrElse(1))
      Seq((bases.toLong, logs.toLong))
        .toDF("base_files_deleted", "log_files_deleted")
    },
    // OPTIMIZE TABLE FUNCTION hudi('path') ARCHIVE [KEEP N] — fold
    // completed timeline instants older than the newest N into
    // .hoodie/archived/ (round 17: the timeline is the unbounded
    // metadata once compaction+clean bound the data)
    lane("""^OPTIMIZE\s+TABLE\s+FUNCTION\s+hudi\s*\(\s*'([^']+)'\s*\)\s+ARCHIVE(?:\s+KEEP\s+(\d+))?<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      Seq(graft.sources.HudiSink.archive(h.spark, h(1),
        keepLast = h.opt(2).map(_.toInt).getOrElse(10)).toLong)
        .toDF("instants_archived")
    },
    // OPTIMIZE TABLE FUNCTION deltaLake|iceberg|hudi('path') [FINAL] —
    // lakehouse compaction: materialize the current state (DV masks /
    // delete files / log blocks apply) into fresh files; dataChange
    // false on Delta, an overwrite snapshot on Iceberg (which drops the
    // delete files, re-enabling copy-on-write mutations), a per-group
    // base-slice fold at a `commit` instant on Hudi MoR (round 16)
    lane("""^OPTIMIZE\s+TABLE\s+FUNCTION\s+(deltaLake|iceberg|hudi)\s*\(\s*'([^']+)'\s*\)(?:\s+FINAL)?<end>""",
      raw = true) { h =>
      import h.spark.implicits._
      h(1).toLowerCase match {
        case "iceberg" =>
          Seq(graft.sources.IcebergSink.compact(h.spark, h(2)))
            .toDF("snapshot_id")
        case "hudi" =>
          val (instant, groups) = graft.sources.HudiSink.compact(h.spark, h(2))
          Seq((instant, groups.toLong)).toDF("instant", "groups_compacted")
        case _ =>
          val (v, before, after) =
            graft.sources.DeltaLakeSink.compact(h.spark, h(2))
          Seq((v, before.toLong, after.toLong))
            .toDF("committed_version", "files_before", "files_after")
      }
    },
    lane("""^INSERT\s+INTO\s+(?:TABLE\s+)?(<t>)\s+FROM\s+INFILE\s+'([^']+)'(?:\s+FORMAT\s+([A-Za-z0-9]+))?<end>""",
      raw = true)(fromInfile),
    // CREATE [OR REPLACE] VIEW with {p:Type} placeholders → store as a
    // PARAMETERIZED view (src/Storages/StorageView.cpp parameterized
    // views); `FROM v(p = x)` substitutes typed literals at call time
    lane("""^(?=.*\{)CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(<c>)\s+AS\s+(.*?);?\s*$""",
      raw = true) { h =>
      paramViews.put(h(1).toLowerCase, h(2))
      h.ok
    },
    reject("""^(?=.*\{)CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\b.*""",
      "parameterized CREATE VIEW form", raw = true),
    // plain catalog views fall through to Spark's DROP VIEW
    maybe("""^DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(<c>)<end>""", raw = true)(h =>
      Option(paramViews.remove(h(1).toLowerCase)).map(_ => h.ok)),
  ) ++ Dictionaries.statements ++ Seq( // ---- DDL and catalog ----
    // DESCRIBE TABLE (ParserDescribeTableQuery): reference-shaped
    // (name, type) rows with CH type names
    lane("""^DESC(?:RIBE)?(?:\s+TABLE)?\s+(<t>)<end>""") { h =>
      import h.spark.implicits._
      h.spark.table(h(1)).schema.fields.toSeq
        .map(f => (f.name, chTypeOrSpark(f))).toDF("name", "type")
    },
    lane("""^SHOW\s+CREATE\s+(?:TABLE\s+)?(<t>)<end>""")(showCreate),
    // TRUNCATE TABLE (ParserSystemQuery family): keep schema, drop rows
    lane("""^TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(<t>)<end>""") { h =>
      if (h.spark.catalog.tableExists(h(1))) {
        h.spark.table(h(1)).limit(0).localCheckpoint(true)
          .write.mode("overwrite").insertInto(h(1))
        afterWrite(h.spark, h(1))
      }
      h.ok
    },
    // CHECK TABLE (ParserCheckQuery / InterpreterCheckQuery): verify
    // every backing file decodes; one row per part with is_ok, plus the
    // reference's summary row semantics via the min over parts
    lane("""^CHECK\s+TABLE\s+(<t>)<end>""") { h =>
      import h.spark.implicits._
      h.spark.table(h(1)).inputFiles.toSeq.sorted.map { f =>
        val ok = try { h.spark.read.parquet(f).count(); 1 }
          catch { case _: Exception => 0 }
        (new Path(f).getName, ok)
      }.toDF("part", "is_ok")
    },
    // Standalone lightweight UPDATE (ParserUpdateQuery: UPDATE t SET
    // a = e, … [IN PARTITION p] WHERE pred): the ALTER TABLE UPDATE
    // mutation, IN PARTITION narrowing the WHERE to the named partition
    lane("""^UPDATE\s+(<t>)\s+SET\s+(.+?)(?:\s+IN\s+PARTITION\s+'?([^'\s;]+)'?)?\s+WHERE\s+(.+?);?\s*$""") { h =>
      val (t, assigns) = (h(1), h(2))
      val pred = h.opt(3).fold(h(4))(v =>
        s"(${h(4)}) AND ${onePartCol(h.spark, t, "UPDATE IN PARTITION")} = '$v'")
      mutate(h.spark, t, Some(assigns), pred,
        s"ALTER TABLE $t UPDATE $assigns WHERE $pred".trim)
    },
    reject("""^UPDATE\s+<t>\s+SET\s+.*\bWHERE\b.*""", "UPDATE form"),
    // Lightweight DELETE (ParserDeleteQuery): the ALTER TABLE DELETE
    // mutation
    lane("""^DELETE\s+FROM\s+(<t>)\s+WHERE\s+(.*?);?\s*$""")(h =>
      mutate(h.spark, h(1), None, h(2), h.text)),
    // CREATE TABLE a AS b (schema clone, no data — ParserCreateQuery's
    // as_table form; never CTAS, whose AS is followed by SELECT) →
    // Spark's CREATE TABLE ... LIKE
    lane("""^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(<t>)\s+AS\s+(<t>)\s*(?:ENGINE\s*=[^()]*)?;?\s*$""")(
      h => TableLedger.createLike(h.spark, h(2), h(3), h(1) != null)),
    lane("""^CREATE\s+TABLE\b.*""")(h => TableLedger.create(h.spark, h.text)),
    // CREATE LIVE VIEW (StorageLiveView.h): version-counted view; the
    // push channel is served pull-side by WATCH (graft.sql.LiveViews)
    lane("""^CREATE\s+LIVE\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(<t>)\s+AS\s+(.*)$""") { h =>
      LiveViews.create(h.spark, h(2), h(3).trim.stripSuffix(";"),
        h(1) != null, s => rewrite(expandSchemaTransformers(h.spark, s)))
      h.ok
    },
    reject("""^CREATE\s+LIVE\s+VIEW\b.*""", "CREATE LIVE VIEW form"),
    // WATCH lv [EVENTS] [LIMIT n] (ASTWatchQuery: table + optional
    // limit_length + is_watch_events): bounded re-evaluation — the
    // version bumps iff the result hash changed (exactly once per
    // underlying change, however many WATCHes observe it)
    lane("""^WATCH\s+(<t>)(\s+EVENTS)?(?:\s+LIMIT\s+(\d+))?<end>""") { h =>
      val run = liveViewRun(h.spark)
      if (h(2) != null)
        LiveViews.watchEvents(h.spark, h(1), h.opt(3).map(_.toInt), run)
      else LiveViews.watch(h.spark, h(1), run)
    },
    reject("""^WATCH\b.*""",
      "WATCH form (expected WATCH view [EVENTS] [LIMIT n])"),
    maybe("""^DROP\s+(?:LIVE\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?(<t>)<end>""")(h =>
      if (!LiveViews.contains(h(1))) None
      else {
        LiveViews.remove(h(1))
        h.spark.catalog.dropTempView(h(1))
        Some(h.ok)
      }),
    lane("""^CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(<t>)\s*(?:REFRESH\s+EVERY\s+(\d+)\s+([A-Za-z]+)\s+)?(?:TO\s+(<t>)\s+)?(?:POPULATE\s+)?AS\s+(.*)$""")(
      createMaterializedView),
    reject("""^CREATE\s+MATERIALIZED\s+VIEW\b.*""",
      "CREATE MATERIALIZED VIEW form"),
    // SYSTEM REFRESH VIEW v (InterpreterSystemQuery SYSTEM REFRESH VIEW
    // → RefreshTask::run): force the re-materialization the schedule
    // would trigger — re-run the stored SELECT against the CURRENT base
    // data, then invalidate caches like any mutation
    lane("""^SYSTEM\s+REFRESH\s+VIEW\s+(<t>)<end>""") { h =>
      val v = h(1).toLowerCase
      val rv = Option(refreshableViews.get(v)).getOrElse(
        throw new IllegalArgumentException(
          s"SYSTEM REFRESH VIEW: $v is not a refreshable materialized view"))
      // durable replace: the fresh materialization is staged on disk
      // before the old table drops — a crash mid-refresh leaves the
      // stale-or-staged copy, never neither (DurableRewrite)
      val out = h.spark.sql(rewrite(expandSchemaTransformers(h.spark, rv.select)))
      graft.operators.DurableRewrite.replaceTable(h.spark, rv.table, out)
      refreshableViews.put(v, rv.copy(refreshes = rv.refreshes + 1))
      afterWrite(h.spark, rv.table)
      h.ok
    },
    // DETACH / DROP park the table with its record (TableLedger); ATTACH
    // / UNDROP (InterpreterUndropQuery.cpp) restore the most recent one
    lane("""^DETACH\s+TABLE\b\s*(.*?)<end>""") { h =>
      TableLedger.detach(h.spark, h(1))
      h.ok
    },
    lane("""^(DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(<t>))<end>""") { h =>
      TableLedger.drop(h.spark, h(2), h(1))
      queryCache.clear()
      h.ok
    },
    lane("""^(ATTACH|UNDROP)\s+TABLE\b\s*(.*?)<end>""") { h =>
      val attach = h(1).equalsIgnoreCase("ATTACH")
      TableLedger.restore(h.spark, h(2), if (attach) "detached" else "dropped",
        h(1).toUpperCase)
      afterWrite(h.spark, h(2))
      h.ok
    },
    lane("""^(BACKUP|RESTORE)\s+TABLE\s+(<t>)\s+(?:TO|FROM)\s+(File|Disk)\s*\(\s*'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)<end>""")(
      backupRestore),
    reject("""^(?:BACKUP|RESTORE)\s+TABLE\b.*""",
      "BACKUP/RESTORE form (TABLE t TO/FROM File('p') | Disk('d','p'))"),
    // named collections (ParserCreateNamedCollectionQuery,
    // ParserAlterNamedCollectionQuery, ParserDropNamedCollectionQuery)
    lane("""^CREATE\s+NAMED\s+COLLECTION\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)\s+AS\s+(.+?);?\s*$""") { h =>
      if (namedCollections.putIfAbsent(h(2), collectionKv(h(3))).isDefined &&
          h(1) == null)
        throw new IllegalArgumentException(
          s"named collection `${h(2)}` already exists")
      h.ok
    },
    lane("""^ALTER\s+NAMED\s+COLLECTION\s+(IF\s+EXISTS\s+)?(<c>)\s+(SET|DELETE)\s+(.+?);?\s*$""") { h =>
      namedCollections.get(h(2)) match {
        case None =>
          if (h(1) == null) throw new IllegalArgumentException(
            s"there is no named collection `${h(2)}`")
        case Some(cur) =>
          namedCollections.put(h(2),
            if (h(3).equalsIgnoreCase("SET")) cur ++ collectionKv(h(4))
            else cur -- h(4).split(",").map(_.trim).filter(_.nonEmpty))
      }
      h.ok
    },
    lane("""^DROP\s+NAMED\s+COLLECTION\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
      if (namedCollections.remove(h(2)).isEmpty && h(1) == null)
        throw new IllegalArgumentException(
          s"there is no named collection `${h(2)}`")
      h.ok
    },
    lane("""^SHOW\s+NAMED\s+COLLECTIONS<end>""") { h =>
      import h.spark.implicits._
      listNamedCollections.map(_._1).toDF("name")
    },
    reject("""^(?:CREATE|ALTER|DROP)\s+NAMED\s+COLLECTION\b.*""",
      "NAMED COLLECTION form"),
    // workloads / resources (ParserCreateWorkloadQuery,
    // ParserCreateResourceQuery; see `workloads`)
    lane("""^CREATE\s+WORKLOAD\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)(?:\s+IN\s+(<c>))?(?:\s+SETTINGS\s+(.+?))?;?\s*$""") { h =>
      val parentName = h.opt(3).getOrElse("")
      if (parentName.nonEmpty) require(workloads.contains(parentName),
        s"CREATE WORKLOAD: parent workload `$parentName` does not exist")
      if (workloads.putIfAbsent(h(2),
          (parentName, h.opt(4).getOrElse(""))).isDefined && h(1) == null)
        throw new IllegalArgumentException(s"workload `${h(2)}` already exists")
      h.ok
    },
    lane("""^DROP\s+WORKLOAD\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
      if (workloads.remove(h(2)).isEmpty && h(1) == null)
        throw new IllegalArgumentException(s"there is no workload `${h(2)}`")
      h.ok
    },
    lane("""^CREATE\s+RESOURCE\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)\s*\((.+?)\)<end>""") { h =>
      if (resources.putIfAbsent(h(2), h(3).trim).isDefined && h(1) == null)
        throw new IllegalArgumentException(s"resource `${h(2)}` already exists")
      h.ok
    },
    lane("""^DROP\s+RESOURCE\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
      if (resources.remove(h(2)).isEmpty && h(1) == null)
        throw new IllegalArgumentException(s"there is no resource `${h(2)}`")
      h.ok
    },
    reject("""^(?:CREATE|DROP)\s+(?:WORKLOAD|RESOURCE)\b.*""",
      "WORKLOAD/RESOURCE form"),
  ) ++ AccessControl.statements ++ Seq(
    // EXCHANGE TABLES a AND b (InterpreterRenameQuery exchange=true):
    // atomic in the reference; here a triple rename through a temp name
    lane("""^EXCHANGE\s+TABLES\s+(<t>)\s+AND\s+(<t>)<end>""") { h =>
      val tmp = s"__graft_xchg_${System.nanoTime()}"
      Seq((h(1), tmp), (h(2), h(1)), (tmp, h(2)))
        .foreach { case (from, to) => TableLedger.rename(h.spark, from, to) }
      Seq(h(1), h(2)).foreach(afterWrite(h.spark, _))
      h.ok
    },
    reject("""^EXCHANGE\s+TABLES\b.*""", "EXCHANGE form"),
    lane("""^RENAME\s+TABLE\s+(<t>)\s+TO\s+(<t>)<end>""") { h =>
      val df = TableLedger.rename(h.spark, h(1), h(2))
      afterWrite(h.spark, h(2))
      df
    },
    reject("""^RENAME\s+TABLE\b.*""", "RENAME form"),

    // ---- ALTER TABLE ----
    // projections (ParserProjectionDeclaration): ADD builds eagerly here
    // (the reference defers the build to a mutation), so MATERIALIZE is
    // the refresh entry point
    lane("""^ALTER\s+TABLE\s+(<t>)\s+ADD\s+PROJECTION\s+(?:IF\s+NOT\s+EXISTS\s+)?(<c>)\s*\((.*)\)<end>""")(
      addProjection),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+DROP\s+PROJECTION\s+(?:IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
      TableLedger.dropProjection(h.spark, h(1), h(2))
      h.ok
    },
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MATERIALIZE\s+PROJECTION\b.*""") { h =>
      TableLedger.build(h.spark, h(1))
      h.ok
    },
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:ADD|DROP|MATERIALIZE)\s+PROJECTION\b.*""",
      "projection DDL"),
    // skip indexes (ParserCreateIndexQuery.h, MergeTreeIndices.h): every
    // type prunes transparently at file granularity, after partition
    // pruning, as the scan lists its files (SkipIndexPruning: equality via
    // bloom/set, ranges via minmax, LIKE via ngrambf or a minmax prefix);
    // GRANULARITY is accepted and ignored
    lane("""^ALTER\s+TABLE\s+(<t>)\s+ADD\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?(<c>)\s+(.+?)\s+TYPE\s+([A-Za-z_0-9]+)(?:\s*\(\s*(\d+)[^)]*\))?(?:\s+GRANULARITY\s+\d+)?<end>""") { h =>
      val kind = h(4).toLowerCase
      if (!Set("bloom_filter", "minmax", "ngrambf_v1", "set").contains(kind))
        throw new IllegalArgumentException(
          s"unsupported skip-index type $kind (bloom_filter|minmax|ngrambf_v1|set)")
      TableLedger.addIndex(h.spark, h(1), h(2), TableLedger.SkipIndexDecl(kind,
        h(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq, h.opt(5).map(_.toInt)))
      h.ok
    },
    // DROP undeclares; CLEAR drops the built structure but keeps the
    // declaration so MATERIALIZE (the reference's mutation that
    // populates the index for existing parts) can rebuild it
    lane("""^ALTER\s+TABLE\s+(<t>)\s+(DROP|CLEAR|MATERIALIZE)\s+INDEX\s+(?:IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
      TableLedger.alterIndex(h.spark, h(1), h(3), h(2).toUpperCase)
      h.ok
    },
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:ADD|DROP|MATERIALIZE|CLEAR)\s+INDEX\b.*""",
      "index DDL"),
    // partitions (see alterPartition)
    lane("""^ALTER\s+TABLE\s+(<t>)\s+REPLACE\s+PARTITION\s+'?([^'\s;]+)'?\s+FROM\s+(<t>)<end>""")(
      h => alterPartition(h, "REPLACE", dst = h(1), src = h(3))),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MOVE\s+PARTITION\s+'?([^'\s;]+)'?\s+TO\s+TABLE\s+(<t>)<end>""")(
      h => alterPartition(h, "MOVE", dst = h(3), src = h(1))),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+FETCH\s+PARTITION\s+'?([^'\s;]+)'?\s+FROM\s+'?([^'\s;]+)'?<end>""")(
      h => alterPartition(h, "FETCH", dst = h(1), src = h(3))),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+(DETACH|ATTACH|DROP|FREEZE)\s+PARTITION\s+'?([^'\s;]+)'?(?:\s+WITH\s+NAME\s+'([^']*)')?<end>""")(
      alterPartitionInPlace),
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:DETACH|ATTACH|DROP|FREEZE|REPLACE|MOVE|FETCH)\s+PARTITION\b.*""",
      "ALTER PARTITION form"),
    // table TTL (src/Storages/TTLDescription.cpp; TTLTransform applies at
    // merge, MATERIALIZE TTL forces a mutation): MODIFY stores the
    // expression; MATERIALIZE rewrites the table keeping rows whose TTL
    // instant is still in the future
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MATERIALIZE\s+TTL<end>""") { h =>
      val t = h(1)
      val ttl = TableLedger.record(t).ttl.getOrElse(throw new IllegalArgumentException(
        s"MATERIALIZE TTL: no TTL stored for $t (run MODIFY TTL first)"))
      val keep = org.apache.spark.sql.functions.expr(s"(${rewrite(ttl)}) >= current_timestamp()")
      // affected = rows that EXPIRE (keep false or null); partitions with
      // nothing expired keep their files untouched
      graft.operators.DurableRewrite.rewrite(h.spark, t,
        h.spark.table(t).filter(keep), Some(!org.apache.spark.sql.functions
          .coalesce(keep, org.apache.spark.sql.functions.lit(false))))
      afterWrite(h.spark, t, Some(h.text))
      h.ok
    },
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MODIFY\s+TTL\s+(.+?)(?:\s+DELETE)?<end>""")(h =>
      updateRecord(h)(_.copy(ttl = Some(h(2).trim)))),
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:MODIFY|MATERIALIZE)\s+TTL\b.*""",
      "TTL form"),
    // engine metadata (AlterCommands.h MODIFY_ORDER_BY, MODIFY_SAMPLE_BY,
    // COMMENT_COLUMN, COMMENT_TABLE, MATERIALIZE_COLUMN): property
    // updates on the table's record — SHOW CREATE reflects them
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MODIFY\s+ORDER\s+BY\s+(.+?);?\s*$""") { h =>
      // reference contract: the sorting key may only reference existing
      // columns (AlterCommands::apply validates the expression)
      val cols = h.spark.table(h(1)).columns.map(_.toLowerCase).toSet
      "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(h(2))
        .filterNot(_.equalsIgnoreCase("tuple"))
        .foreach(w => require(cols.contains(w.toLowerCase),
          s"MODIFY ORDER BY references unknown column `$w`"))
      updateRecord(h)(_.copy(orderBy = Some(rewrite(h(2).trim))))
    },
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MODIFY\s+SAMPLE\s+BY\s+(.+?);?\s*$""")(h =>
      updateRecord(h)(_.copy(sampleBy = Some(rewrite(h(2).trim))))),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+REMOVE\s+SAMPLE\s+BY<end>""")(h =>
      updateRecord(h)(_.copy(sampleBy = None))),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MODIFY\s+COMMENT\s+'([^']*)'<end>""")(h =>
      updateRecord(h)(_.copy(comment = Some(h(2))))),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+COMMENT\s+COLUMN\s+(IF\s+EXISTS\s+)?`?(<c>)`?\s+'([^']*)'<end>""") { h =>
      if (h.spark.table(h(1)).columns.contains(h(3)))
        updateRecord(h)(em => em.copy(colComments = em.colComments + (h(3) -> h(4))))
      else if (h(2) == null) throw new IllegalArgumentException(
        s"column ${h(3)} does not exist in ${h(1)}")
      else h.ok
    },
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MATERIALIZE\s+COLUMN\s+`?(<c>)`?(?:\s+IN\s+PARTITION\s+'?([^'\s;]+)'?)?<end>""")(
      materializeColumn),
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:MODIFY\s+(?:ORDER\s+BY|SAMPLE\s+BY|COMMENT)|REMOVE\s+SAMPLE\s+BY|COMMENT\s+COLUMN|MATERIALIZE\s+COLUMN)\b.*""",
      "ALTER metadata form"),
    // mutations (see mutate)
    lane("""^ALTER\s+TABLE\s+(<t>)\s+UPDATE\s+(.+?)\s+WHERE\s+(.+?);?\s*$""")(h =>
      mutate(h.spark, h(1), Some(h(2)), h(3), h.text)),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+DELETE\s+WHERE\s+(.+?);?\s*$""")(h =>
      mutate(h.spark, h(1), None, h(2), h.text)),
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:UPDATE|DELETE)\b.*""",
      "ALTER mutation form"),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+CLEAR\s+COLUMN\s+`?(<c>)`?(?:\s+IN\s+PARTITION\s+'?([^'\s;]+)'?)?<end>""")(
      clearColumn),
    reject("""^ALTER\s+TABLE\s+\S+\s+CLEAR\s+COLUMN\b.*""", "CLEAR COLUMN form"),
    // columns (see alterColumn)
    lane("""^ALTER\s+TABLE\s+(<t>)\s+ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?`?(<c>)`?\s+(.+?)(?:\s+DEFAULT\s+(.+?))?(?:\s+(FIRST)|\s+AFTER\s+`?(<c>)`?)?;?\s*$""")(
      addColumn),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?`?(<c>)`?;?\s*$""")(
      h => alterColumn(h) { (t, base) =>
        val before = declaredColumns(h.spark, t)
        rewriteTable(h.spark, t, base.drop(h(3)))
        redeclare(h.spark, t, before.filterNot(_ == h(3)))
      }),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+MODIFY\s+COLUMN\s+(IF\s+EXISTS\s+)?`?(<c>)`?\s+(.+?);?\s*$""")(
      h => alterColumn(h) { (t, base) =>
        rewriteTable(h.spark, t, base.withColumn(h(3),
          org.apache.spark.sql.functions.col(h(3)).cast(sparkTypeText(h(4).trim))))
      }),
    lane("""^ALTER\s+TABLE\s+(<t>)\s+RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?`?(<c>)`?\s+TO\s+`?(<c>)`?;?\s*$""")(
      h => alterColumn(h) { (t, base) =>
        val before = declaredColumns(h.spark, t)
        rewriteTable(h.spark, t, base.withColumnRenamed(h(3), h(4)))
        redeclare(h.spark, t, before.map(c => if (c == h(3)) h(4) else c))
      }),
    reject("""^ALTER\s+TABLE\s+\S+\s+(?:ADD|DROP|MODIFY|RENAME)\s+COLUMN\b.*""",
      "ALTER COLUMN form"),
    lane("""^OPTIMIZE\s+TABLE\s+(<t>)(?:\s+PARTITION\s+'?([^'\s;]+)'?)?(?:\s+FINAL)?\s+DEDUPLICATE(?:\s+BY\s+(.+?))?<end>""")(
      optimizeDeduplicate),
    // plain OPTIMIZE stays a no-op: merges are Spark's compaction concern
    lane("""^OPTIMIZE\s+TABLE\b.*""")(_.ok),

    // ---- SET, EXPLAIN, SHOW, SYSTEM ----
    // per-session engine knobs: accept and record on the Spark conf under
    // a namespaced key (no reference settings map onto Spark 1:1)
    lane("""^SET\s+(\w+)\s*=(?:\s*(.+?))?\s*;?\s*$""") { h =>
      h.opt(2).foreach { v =>
        val k = h(1)
        val prev = h.spark.conf.getOption(s"graft.ch.$k").getOrElse("")
        // SET workload pins the session's jobs to the Spark fair-scheduler
        // pool of that name (the workload-scheduling mapping); the
        // workload must exist
        if (k.equalsIgnoreCase("workload")) {
          val w = v.stripPrefix("'").stripSuffix("'")
          require(workloadExists(w),
            s"SET workload: workload `$w` does not exist (CREATE WORKLOAD first)")
          h.spark.sparkContext.setLocalProperty("spark.scheduler.pool", w)
        }
        h.spark.conf.set(s"graft.ch.$k", v)
        // session settings audit (system.settings_changes)
        graft.sources.SystemTables.SettingsChangesLedger.record(k, v, prev)
        // SET user authenticates the session: apply every settings
        // profile covering the new user (SettingsProfilesCache)
        if (k.equalsIgnoreCase("user")) AccessControl.applyProfiles(h.spark)
      }
      h.ok
    },
    // EXPLAIN indexes = 1 (the reference's index-usage explain:
    // InterpreterExplainQuery with indexes setting — which skip index
    // ran, parts before/after): plan the query and report what each skip
    // index of its scans admits of the files partition pruning left
    lane("""^EXPLAIN\s+indexes\s*=\s*1\b\s*(.*)""") { h =>
      import h.spark.implicits._
      val df = sqlImpl(h.spark, h(1)) // same statement — no second quota charge
      graft.plans.SkipIndexPruning.decisions(df.queryExecution.sparkPlan)
        .map(d => (d.dataPath, d.kind, d.columns.toSeq.sorted.mkString(","),
          d.admitted, d.total))
        .toDF("data_path", "index_type", "columns", "files_admitted",
          "files_total")
    },
    // EXPLAIN ESTIMATE (InterpreterExplainQuery ESTIMATE kind): parts /
    // rows / marks for the FROM table, read from parquet FOOTERS —
    // metadata only, the query never executes (the reference reads the
    // same counts from part headers; a row group is the granule analog,
    // so it reports as marks)
    lane("""^EXPLAIN\s+ESTIMATE\b(?:.*?\bFROM\s+(<t>))?.*""") { h =>
      import org.apache.spark.sql.functions.{col, countDistinct, count, sum, lit}
      val table = h.opt(1).getOrElse(throw new IllegalArgumentException(
        "EXPLAIN ESTIMATE: no FROM <table>"))
      graft.sources.ChMiscFormats
        .readParquetMetadata(h.spark, tableLocation(h.spark, table))
        .agg(lit("default").as("database"), lit(table).as("table"),
          countDistinct(col("file")).as("parts"),
          sum("num_rows").as("rows"), count(lit(1)).as("marks"))
    },
    lane("""^SHOW\s+DATABASES<end>""")(h =>
      graft.sources.SystemTables.databases(h.spark).select("name").orderBy("name")),
    lane("""^SHOW\s+DICTIONARIES<end>""")(h =>
      graft.sources.SystemTables.dictionaries(h.spark).select("name").orderBy("name")),
    // reference EXPLAIN SYNTAX shows the rewritten query — here, the
    // dialect translation itself
    lane("""^EXPLAIN\s+SYNTAX\b\s*(.*)""") { h =>
      import h.spark.implicits._
      Seq(rewrite(expandSchemaTransformers(h.spark, h(1)))).toDF("rewritten")
    },
    // PLAN/PIPELINE/ESTIMATE kinds all map to the Spark formatted plan
    lane("""^EXPLAIN\b\s*(?:(?:PLAN|PIPELINE|ESTIMATE|AST)\s+)?(.*)""")(h =>
      h.spark.sql("EXPLAIN FORMATTED " +
        rewrite(expandSchemaTransformers(h.spark, h(1))))),
    // SHOW TABLES [LIKE '%pat%'] (ParserShowTablesQuery) — the session
    // catalog, optionally name-filtered; CH's LIKE matches SQL LIKE
    lane("""^SHOW\s+TABLES\b(?:.*?\bLIKE\s+'([^']*)')?.*""") { h =>
      val all = graft.sources.SystemTables.tables(h.spark).select("name")
      h.opt(1).fold(all)(p =>
        all.filter(org.apache.spark.sql.functions.col("name").like(p)))
        .orderBy("name")
    },
    // EXISTS [TABLE] t (ParserExistsTableQuery): UInt8 0/1 like CH
    lane("""^EXISTS\s+(?:TABLE\s+)?(<t>)<end>""") { h =>
      import h.spark.implicits._
      Seq(if (h.spark.catalog.tableExists(h(1))) 1 else 0).toDF("result")
    },
    // ExternalDictionariesLoader reload: re-collect from the source
    lane("""^SYSTEM\s+RELOAD\s+(?:DICTIONARY\s+(<c>)<end>|DICTIONAR(?:Y|IES)\b.*)""") { h =>
      Dictionaries.reload(h.spark, h.opt(1))
      h.ok
    },
    lane("""^SYSTEM\s+DROP\s+QUERY\s+CACHE<end>""") { h =>
      queryCache.clear()
      h.ok
    },
    // SYSTEM DROP MARK/UNCOMPRESSED/COMPILED EXPRESSION CACHE
    // (InterpreterSystemQuery): Spark's session block-cache is the analog
    // of the read caches — release it eagerly. DNS/FILESYSTEM/SCHEMA:
    // the block cache is the nearest analog of the filesystem cache;
    // DNS/schema caches have no counterpart here — all answer OK like an
    // empty-cache reference server
    lane("""^SYSTEM\s+DROP\s+(?:MARK|UNCOMPRESSED|COMPILED\s+EXPRESSION|DNS|FILESYSTEM|SCHEMA)\s+CACHE<end>""") { h =>
      h.spark.catalog.clearCache()
      h.ok
    },
    // honest no-ops: there is no background merge daemon (compaction is
    // Spark's write-path concern), a single-node engine is always in sync
    // with itself, and mutations are SYNCHRONOUS part rewrites — never a
    // pending one to kill (the reference with an empty mutation queue
    // answers the same)
    lane("""^(?:SYSTEM\s+(?:STOP|START)\s+MERGES(?:\s+<t>)?<end>|SYSTEM\s+SYNC\s+REPLICA(?:\s+<t>)?<end>|KILL\s+MUTATION\b.*)""")(
      _.ok),
    lane("""^SYSTEM\s+RELOAD\s+FUNCTIONS<end>""") { h =>
      ChFunctionRegistry.install(h.spark) // idempotent re-install
      h.ok
    },
    // SYSTEM FLUSH LOGS (InterpreterSystemQuery): drain the async
    // listener bus so system.events/query_log reads observe everything
    // issued before this statement
    lane("""^SYSTEM\s+FLUSH\s+LOGS<end>""") { h =>
      graft.sources.SystemTables.flushEvents(h.spark)
      h.ok
    },
    // KILL QUERY WHERE query_id = 'x' (InterpreterKillQueryQuery): cancel
    // the Spark job group the tagged query's jobs run under — in-flight
    // stages abort with interruption, exactly the reference's kill
    // semantics. Cancelling an unknown id is a no-op (the reference
    // returns an empty result set)
    lane("""^KILL\s+QUERY\b(?:.*?query_id\s*=\s*'([^']*)')?.*""") { h =>
      h.spark.sparkContext.cancelJobGroup(h.opt(1).getOrElse(
        throw new IllegalArgumentException(
          "KILL QUERY needs WHERE query_id = '<id>'")))
      h.ok
    },
    // SHOW PROCESSLIST (ParserShowProcesslistQuery) → system.processes
    lane("""^SHOW\s+PROCESSLIST<end>""")(h =>
      graft.sources.SystemTables.processes(h.spark)),
    // SHOW COLUMNS (ParserShowColumnsQuery — the MySQL-compat shape:
    // field/type/null/key/default/extra); defaults come from the
    // engine-metadata ledger
    lane("""^SHOW\s+(?:FULL\s+)?COLUMNS\s+(?:FROM|IN)\s+(<t>)<end>""") { h =>
      import h.spark.implicits._
      val em = TableLedger.record(h(1))
      h.spark.table(h(1)).schema.fields.toSeq.map(f =>
        (f.name, chTypeOrSpark(f), if (f.nullable) "YES" else "NO", "",
          em.colDefaults.getOrElse(f.name, ""), ""))
        .toDF("field", "type", "null", "key", "default", "extra")
    },
    // SHOW INDEXES (ParserShowIndexesQuery): the PRIMARY (sorting key)
    // row from the engine metadata plus every live skip index
    lane("""^SHOW\s+(?:INDEX|INDEXES|KEYS)\s+(?:FROM|IN)\s+(<t>)<end>""") { h =>
      import h.spark.implicits._
      val t = h(1)
      require(h.spark.catalog.tableExists(t), s"no such table $t")
      val r = TableLedger.record(t)
      val primary = r.orderBy.toSeq.map(ob => (t, "PRIMARY", ob, "primary"))
      val skips = r.indexes.toSeq.collect { case (n, d) if !d.cleared =>
        (t, n, d.columns.mkString(","), d.kind) }.sortBy(_._2)
      (primary ++ skips).toDF("table", "key_name", "column_name", "type")
    },
    // SHOW FUNCTIONS [LIKE 'pat'] (ParserShowFunctionsQuery) →
    // system.functions names
    lane("""^SHOW\s+FUNCTIONS(?:\s+LIKE\s+'([^']*)')?<end>""") { h =>
      val all = graft.sources.SystemTables.functions(h.spark).select("name")
      h.opt(1).fold(all)(p =>
        all.filter(org.apache.spark.sql.functions.col("name").like(p)))
        .orderBy("name")
    },
    // SHOW ENGINES (ParserShowEngineQuery) → system.table_engines
    lane("""^SHOW\s+ENGINES<end>""")(h =>
      graft.sources.SystemTables.tableEngines(h.spark)),
    // SHOW SETTING name (ParserShowSettingQuery): the single value
    lane("""^SHOW\s+SETTING\s+(<c>)<end>""") { h =>
      import h.spark.implicits._
      Seq(h.spark.conf.getOption(s"graft.ch.${h(1)}").getOrElse(""))
        .toDF("value")
    },
    // USE db (ParserUseQuery): this engine serves the single `default`
    // database — switching to it is a no-op, anything else is loud
    lane("""^USE\s+(<c>)<end>""") { h =>
      require(h(1).equalsIgnoreCase("default"),
        s"USE ${h(1)}: only the `default` database exists on this engine")
      h.ok
    },

    // ---- everything else: Spark SQL after the dialect rewrite ----
    lane("""(?:INSERT\s+INTO\s+(?:TABLE\s+)?(<t>)|(SELECT|WITH)\b)?.*""")(sparkSql))

  // ---- the longer handlers of the statement table ----------------------

  private def intoOutfile(h: Hit): DataFrame = {
    val (spark, path, fmt) = (h.spark, h(2), h.opt(3).map(_.toLowerCase))
    // sqlImpl, not sql: the OUTFILE core is the same user statement,
    // already quota-charged once at the sql() entry
    val df = sqlImpl(spark, h(1))
    // rows_written comes from the write's own pass: an observation on
    // Spark's writers, the returned count of the graft-native ones
    def sparkWrite(
        write: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] => Unit): Long = {
      import org.apache.spark.sql.functions.{count, lit}
      val written = org.apache.spark.sql.Observation()
      write(df.observe(written, count(lit(1)).as("n")).coalesce(1).write.mode("overwrite"))
      written.get("n").asInstanceOf[Long]
    }
    val n = fmt.getOrElse("csv") match {
      case "parquet" => sparkWrite(_.parquet(path))
      case "jsoneachrow" | "json" => sparkWrite(_.json(path))
      case "tsv" | "tabseparated" =>
        sparkWrite(_.option("sep", "\t").csv(path))
      case "tsvwithnames" | "tabseparatedwithnames" =>
        sparkWrite(_.option("sep", "\t").option("header", "true").csv(path))
      case "csvwithnames" => sparkWrite(_.option("header", "true").csv(path))
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
      // render-only formats (round 8): one text file of the rendering,
      // which holds at most its first rows; rows_written counts the input
      case kind @ ("vertical" | "markdown" | "xml") =>
        val text = kind match {
          case "vertical" => graft.sources.ChTextFormats.renderVertical(df)
          case "markdown" => graft.sources.ChTextFormats.renderMarkdown(df)
          case _ => graft.sources.ChTextFormats.renderXml(df)
        }
        val out = fsOf(spark, path).create(new Path(path), true)
        try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        df.count()
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
      case _ => sparkWrite(_.csv(path))
    }
    import spark.implicits._
    Seq(n).toDF("rows_written")
  }

  private def insertIntoLake(h: Hit): DataFrame = {
    val (spark, fn, path, tail) = (h.spark, h(1).toLowerCase, h(2), h(4))
    import spark.implicits._
    // round 15: PARTITION BY (…) declares the layout at creation (an
    // identity-transform spec on Iceberg, hive-style partition dirs on
    // Hudi); appends derive it
    val pcs = h.opt(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val df =
      if (h(5) == null) spark.sql(s"SELECT * FROM ($tail)")
      else sqlImpl(spark, tail)
    fn match {
      case "iceberg" =>
        Seq(graft.sources.IcebergSink.append(df, path, partitionBy = pcs))
          .toDF("snapshot_id")
      case "hudi" =>
        // Hudi INSERT is an UPSERT (the engine's default operation):
        // existing keys become log data blocks, new keys a fresh
        // base-file group. The SELECT must carry _hoodie_record_key.
        val (instant, nRows) =
          graft.sources.HudiSink.upsert(df, path, partitionBy = pcs)
        Seq((instant, nRows)).toDF("instant", "rows_upserted")
      case _ =>
        Seq(graft.sources.DeltaLakeSink.append(df, path, partitionBy = pcs))
          .toDF("committed_version")
    }
  }

  /** Row-level Delta / Iceberg mutations over the table-function
    * spelling — copy-on-write commits (Delta: remove+add; Iceberg:
    * manifest rewrite + new snapshot); only files holding matching rows
    * rewrite. The reference's split: DELETE FROM is the LIGHTWEIGHT
    * delete (mask, not rewrite — deletion vectors here, the _row_exists
    * mask there); ALTER TABLE ... DELETE is the heavyweight mutation. */
  private def lakeMutate(h: Hit, pred: String, assigns: Option[String],
      lightweight: Boolean): DataFrame = {
    val (spark, path) = (h.spark, h(2))
    import spark.implicits._
    import graft.sources.{DeltaLakeSink, IcebergSink}
    val predicate = org.apache.spark.sql.functions.expr(rewrite(pred))
    val asn = assigns.map(assignments)
    val isIce = h(1).equalsIgnoreCase("iceberg")
    val (v, n) = (isIce, asn) match {
      case (false, None) =>
        if (lightweight) DeltaLakeSink.deleteLightweight(spark, path, predicate)
        else DeltaLakeSink.delete(spark, path, predicate)
      case (false, Some(a)) => DeltaLakeSink.update(spark, path, a, predicate)
      case (true, None) =>
        if (lightweight) IcebergSink.deleteLightweight(spark, path, predicate)
        else IcebergSink.delete(spark, path, predicate)
      case (true, Some(a)) => IcebergSink.update(spark, path, a, predicate)
    }
    Seq((v, n)).toDF(if (isIce) "snapshot_id" else "committed_version",
      if (asn.isEmpty) "rows_deleted" else "rows_updated")
  }

  /** INSERT INTO t FROM INFILE 'path' [FORMAT fmt] (ParserInsertQuery
    * infile clause — the input twin of INTO OUTFILE): read the file
    * through the matching format reader and append, with the same
    * skip-index / cache invalidation as any INSERT. Files carry the
    * table's columns in the order a positional INSERT binds (see
    * declaredOrder), so header-less formats land in the declared
    * columns. */
  private def fromInfile(h: Hit): DataFrame = {
    val (spark, t, path) = (h.spark, h(1), h(2))
    val catalogSchema = spark.table(t).schema
    val schema = declaredOrder(spark, t).fold(catalogSchema)(cols =>
      org.apache.spark.sql.types.StructType(cols.map(catalogSchema(_))))
    def selectSchema(df: DataFrame) = df.select(schema.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
    val fmt = h.opt(3).map(_.toLowerCase).getOrElse("csvwithnames")
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
        selectSchema(
          if (fmt == "protobuflist")
            graft.sources.ChProtobufFormat.readProtobufList(
              spark, path, schemaText, msg)
          else graft.sources.ChProtobufFormat.readProtobuf(
            spark, path, schemaText, msg, single = fmt == "protobufsingle"))
      case "form" =>
        graft.sources.ChSmallFormats.readForm(spark, path, schema)
      case "hivetext" =>
        graft.sources.ChSmallFormats.readHiveText(spark, path, schema)
      case "mysqldump" =>
        graft.sources.ChSmallFormats.readMySQLDump(spark, path, schema,
          spark.conf.getOption("graft.ch.input_format_mysql_dump_table_name")
            .map(_.stripPrefix("'").stripSuffix("'")).getOrElse(""))
      case "template" =>
        val (rowFmt, between) = templateSettingsOf(spark)
        graft.sources.ChSmallFormats.readTemplate(
          spark, path, schema, rowFmt, between)
      case "capnproto" =>
        val (schemaText, msg) = formatSchemaOf(spark)
        selectSchema(graft.sources.ChCapnProtoFormat.readCapnProto(
          spark, path, schemaText, msg))
      case other => throw new IllegalArgumentException(
        s"FROM INFILE: unsupported format '$other'")
    }
    // rows_read comes from the insert's own pass over the file
    import org.apache.spark.sql.functions.{count, lit}
    val read = org.apache.spark.sql.Observation()
    alignInsert(spark, t, df.observe(read, count(lit(1)).as("n")), None)
      .write.mode("append").insertInto(t)
    afterWrite(spark, t)
    import spark.implicits._
    Seq(read.get("n").asInstanceOf[Long]).toDF("rows_read")
  }

  /** SHOW CREATE TABLE (InterpreterShowCreateQuery): render the
    * reference-dialect DDL from the live schema. */
  private def showCreate(h: Hit): DataFrame = {
    val (spark, t) = (h.spark, h(1))
    import spark.implicits._
    val statement = LiveViews.selectOf(t) match {
      // live views render their stored definition (StorageLiveView)
      case Some(sel) => s"CREATE LIVE VIEW $t AS $sel"
      case None => Option(refreshableViews.get(t.toLowerCase)) match {
        // refreshable MV: render the stored definition with its schedule
        case Some(rv) =>
          s"CREATE MATERIALIZED VIEW ${rv.name} REFRESH ${rv.schedule} " +
            s"AS ${rv.select.trim}"
        case None =>
          // the table's record renders back (engine, ORDER BY / SAMPLE
          // BY / COMMENT / column DEFAULT+COMMENT survive MODIFY verbs)
          val em = TableLedger.record(t)
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
          val args = if (em.engineArgs.isEmpty) ""
            else em.engineArgs.mkString("(", ", ", ")")
          s"CREATE TABLE $t ($cols) ENGINE = ${em.engine}$args ORDER BY " +
            s"${em.orderBy.getOrElse("tuple()")}$sample$cmt"
      }
    }
    Seq(statement).toDF("statement")
  }

  /** Batch analog of the reference's MV: materialize the SELECT once as a
    * parquet CTAS (the streaming push chain is WindowView
    * .materializedView); the [TO target] inner-table form uses the target
    * name; POPULATE is implied (CTAS always populates). REFRESH EVERY n
    * unit (round 9 — RefreshTask.cpp/RefreshSchedule.cpp refreshable
    * MVs): the schedule is parsed + recorded, and SYSTEM REFRESH VIEW
    * re-runs the stored SELECT on demand — the honest mapping in an
    * engine with no background scheduler loop (like system.merges, the
    * ledger records what a daemon would do). */
  private def createMaterializedView(h: Hit): DataFrame = {
    val (spark, name, select) = (h.spark, h(2), h(6))
    val tbl = h.opt(5).getOrElse(name)
    TableLedger.replaceWithSelect(spark, tbl, h(1) != null,
      rewrite(expandSchemaTransformers(spark, select)))
    h.opt(3) match {
      case Some(every) =>
        refreshableViews.put(name.toLowerCase, RefreshableView(name, tbl,
          select, s"EVERY $every ${h(4).toUpperCase}", refreshes = 0L))
      case None => refreshableViews.remove(name.toLowerCase)
    }
    h.ok
  }

  /** BACKUP TABLE t TO File('path') / Disk('disk', 'path') and
    * RESTORE TABLE t FROM … (ParserBackupQuery.h:8-31,
    * src/Backups/BackupsWorker.cpp): a backup is the table's data dir
    * copied under the destination plus a schema sidecar; RESTORE
    * re-creates the table from that copy. Disk('d', 'p') resolves under
    * /tmp/graft_disks/<d>/<p> — the named-disk analog in an engine whose
    * storage policy is a filesystem. Synchronous (the reference's
    * non-ASYNC form); status values match the reference's
    * BACKUP_CREATED / RESTORED. */
  private def backupRestore(h: Hit): DataFrame = {
    val (spark, t) = (h.spark, h(2))
    import spark.implicits._
    val dest = h(3).toLowerCase match {
      case "file" => h(4)
      case _ =>
        require(h(5) != null, "Disk('name', 'path') needs both arguments")
        s"/tmp/graft_disks/${h(4)}/${h(5)}"
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(conf)
    if (h(1).equalsIgnoreCase("BACKUP")) {
      val loc = tableLocation(spark, t)
      val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
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
      val partCols = lines.lift(1).getOrElse("").split(",").toSeq.filter(_.nonEmpty)
      // sidecar lines 3/4 (round-9): original location + managed flag;
      // older backups default to a managed warehouse table
      val loc = lines.lift(2).filter(_.nonEmpty).getOrElse(
        new Path(spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase).toString)
      val managed = lines.lift(3).forall(_.trim != "false")
      TableLedger.restoreBackup(spark, t, lines(0), partCols, loc, managed) { actualLoc =>
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(destPath, "data"),
          fs, new Path(actualLoc), false, true, conf)
        ()
      }
      afterWrite(spark, t)
      backupLog.addLast(BackupEntry(dest, t, "RESTORED", -1L, -1L))
      Seq((dest, "RESTORED")).toDF("id", "status")
    }
  }

  /** Named-collection key/value text; OVERRIDABLE flags are accepted and
    * dropped (no override layer on a single-session engine). */
  private def collectionKv(text: String): Map[String, String] =
    SqlLex.splitTop(text).map { kv =>
      val Array(k, v) = kv.split("=", 2).map(_.trim)
      k -> v.replaceAll("(?is)\\s+(NOT\\s+)?OVERRIDABLE$", "")
        .stripPrefix("'").stripSuffix("'")
    }.toMap

  /** ALTER TABLE t ADD PROJECTION — the reference's projection DDL
    * (src/Parsers/ParserProjectionDeclaration, projections on MergeTree
    * tables), wired onto the projection rule's two layouts:
    *  - `ADD PROJECTION p (SELECT <dims+aggs> GROUP BY dims)` → a
    *    precomputed rollup;
    *  - `ADD PROJECTION p (SELECT * ORDER BY keys)` → a sorted copy
    *    (alternate physical order). */
  private def addProjection(h: Hit): DataFrame = {
    val body = h(3)
    def keys(m: scala.util.matching.Regex.Match) =
      m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val decl = "(?is)\\bGROUP\\s+BY\\s+(.*)$".r.findFirstMatchIn(body) match {
      case Some(g) => TableLedger.ProjectionDecl(aggregate = true, keys(g),
        "(?i)(?:sum|min|max|avg)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r
          .findAllMatchIn(body).map(_.group(1)).toSeq.distinct)
      case None => "(?is)\\bORDER\\s+BY\\s+(.*)$".r.findFirstMatchIn(body)
        .map(o => TableLedger.ProjectionDecl(aggregate = false, keys(o), Nil))
        .getOrElse(throw new IllegalArgumentException(
          "ADD PROJECTION needs a GROUP BY (aggregate) or ORDER BY (normal) body"))
    }
    TableLedger.addProjection(h.spark, h(1), h(2), decl)
    h.ok
  }

  /** ALTER TABLE … REPLACE PARTITION v FROM src / MOVE PARTITION v TO
    * TABLE dst / FETCH PARTITION v FROM 'path' — the round-9 ETL verbs
    * (PartitionCommands.h:26-35 REPLACE_PARTITION / MOVE_PARTITION /
    * FETCH_PARTITION): staging-swap, cross-table move, and
    * replica-fetch-into-detached, as O(1) directory operations in
    * [[graft.operators.ScaleOps]] with the Spark catalog kept in sync. */
  private def alterPartition(h: Hit, verb: String, dst: String,
      src: String): DataFrame = {
    val (spark, value) = (h.spark, h(2))
    val ops = graft.operators.ScaleOps
    val partLog = graft.sources.SystemTables.PartLogLedger
    def refresh(t: String, pcol: String, admitted: Boolean): Unit = {
      spark.sql(s"ALTER TABLE $t ${if (admitted) "ADD IF NOT" else "DROP IF"} " +
        s"EXISTS PARTITION ($pcol = '$value')")
      spark.sql(s"REFRESH TABLE $t")
      afterWrite(spark, t)
    }
    def samePartCol(what: String): String = {
      val pcol = onePartCol(spark, dst, "ALTER PARTITION")
      require(onePartCol(spark, src, "ALTER PARTITION") == pcol,
        s"$what PARTITION: $src and $dst partition on different columns")
      pcol
    }
    verb match {
      case "REPLACE" =>
        val pcol = samePartCol(verb)
        require(ops.replacePartition(spark, tableLocation(spark, dst),
            tableLocation(spark, src), pcol, value),
          s"REPLACE PARTITION: $src has no partition $pcol=$value")
        refresh(dst, pcol, admitted = true)
        partLog.record("NewPart", dst, s"$pcol=$value")
      case "MOVE" =>
        val pcol = samePartCol(verb)
        require(ops.movePartition(spark, tableLocation(spark, src),
            tableLocation(spark, dst), pcol, value),
          s"MOVE PARTITION: $src has no partition $pcol=$value")
        refresh(src, pcol, admitted = false)
        refresh(dst, pcol, admitted = true)
        partLog.record("RemovePart", src, s"$pcol=$value")
        partLog.record("MovePart", dst, s"$pcol=$value")
      case _ =>
        val pcol = onePartCol(spark, dst, "ALTER PARTITION")
        // `src` is a layout path in quotes or a catalog table name — the
        // reference takes a replica path; any readable layout serves here
        val srcPath =
          if (spark.catalog.tableExists(src)) tableLocation(spark, src) else src
        require(ops.fetchPartition(spark, tableLocation(spark, dst), srcPath,
            pcol, value),
          s"FETCH PARTITION: $srcPath has no partition $pcol=$value")
        // fetched data sits in _detached — invisible until ATTACH, so no
        // catalog change and no cache invalidation yet
        partLog.record("DownloadPart", dst, s"_detached/$pcol=$value")
    }
    h.ok
  }

  /** ALTER TABLE t DETACH / ATTACH / DROP / FREEZE PARTITION 'v' — the
    * statement forms of the partition lifecycle
    * (src/Parsers/ParserAlterQuery.cpp partition commands), routed to the
    * O(1) directory operations in [[graft.operators.ScaleOps]] with the
    * Spark catalog kept in sync (ADD/DROP PARTITION) and the file listing
    * refreshed. Single-partition-column tables (the layout the CREATE
    * TABLE dialect produces). */
  private def alterPartitionInPlace(h: Hit): DataFrame = {
    val (spark, t, verb, value) = (h.spark, h(1), h(2).toUpperCase, h(3))
    val pcol = onePartCol(spark, t, "ALTER PARTITION")
    val loc = tableLocation(spark, t)
    val ops = graft.operators.ScaleOps
    val partLog = graft.sources.SystemTables.PartLogLedger
    def catalogPartition(op: String): Unit =
      spark.sql(s"ALTER TABLE $t $op EXISTS PARTITION ($pcol = '$value')")
    verb match {
      case "DROP" =>
        catalogPartition("DROP IF")
        ops.dropPartition(spark, loc, pcol, value)
        partLog.record("RemovePart", t, s"$pcol=$value")
      case "DETACH" =>
        ops.detachPartition(spark, loc, pcol, value)
        catalogPartition("DROP IF")
        partLog.record("RemovePart", t, s"$pcol=$value")
      case "ATTACH" =>
        ops.attachPartition(spark, loc, pcol, value)
        catalogPartition("ADD IF NOT")
        partLog.record("NewPart", t, s"$pcol=$value")
      case _ =>
        ops.freezePartition(spark, loc, pcol, value, h.opt(4).getOrElse("default"))
    }
    spark.sql(s"REFRESH TABLE $t")
    if (verb != "FREEZE") afterWrite(spark, t)
    h.ok
  }

  /** ALTER TABLE t UPDATE a = e, … WHERE p / ALTER TABLE t DELETE WHERE p
    * and their lightweight spellings UPDATE t SET … / DELETE FROM t — the
    * reference's mutation statements (src/Interpreters/MutationsInterpreter.h:44,
    * ParserAlterQuery): the declarative transform comes from
    * [[graft.operators.Mutations]] and the part rewrite goes through
    * [[graft.operators.DurableRewrite]] — staged durably on disk, pruned
    * to partitions containing WHERE matches (only parts with matching
    * rows rewrite, the reference's MutationsInterpreter contract). The
    * reference forbids mutating key columns ("Cannot UPDATE key column"),
    * and the pruned rewrite depends on rows never changing partition. */
  private def mutate(spark: SparkSession, t: String, assigns: Option[String],
      pred: String, command: String): DataFrame = {
    val asn = assigns.map { a =>
      val asn = assignments(a).toMap
      val keys = partitionCols(spark, t).map(_.toLowerCase).toSet
      asn.keys.find(c => keys.contains(c.toLowerCase)).foreach(c =>
        throw new IllegalArgumentException(
          s"Cannot UPDATE key column `$c` (it is a partition column of $t)"))
      asn
    }
    val table = spark.table(t)
    val p = org.apache.spark.sql.functions.expr(rewrite(pred))
    val mutated = asn.fold(graft.operators.Mutations.delete(table, p))(
      graft.operators.Mutations.update(table, p, _))
    graft.operators.DurableRewrite.rewrite(spark, t, mutated, Some(p))
    afterWrite(spark, t, Some(command))
    ok(spark)
  }

  /** ALTER TABLE t CLEAR COLUMN c [IN PARTITION 'v'] (AlterCommands
    * DROP_COLUMN clear_column form): reset the column to its default
    * (NULL here) in the named partition — a part rewrite of the affected
    * rows only, everything else passes through. */
  private def clearColumn(h: Hit): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val (spark, t, c) = (h.spark, h(1), h(2))
    val base = spark.table(t)
    val dt = base.schema(c).dataType
    // clearing a partition column would move every row's partition —
    // forbidden like the reference's key columns
    require(!partitionCols(spark, t).exists(_.equalsIgnoreCase(c)),
      s"Cannot CLEAR key column `$c` (it is a partition column of $t)")
    val condOpt = h.opt(3).map(v =>
      col(onePartCol(spark, t, "CLEAR COLUMN IN PARTITION")) === v)
    val mutated = base.withColumn(c,
      when(condOpt.getOrElse(lit(true)), lit(null).cast(dt)).otherwise(col(c)))
    // IN PARTITION prunes the rewrite to the named partition only
    graft.operators.DurableRewrite.rewrite(spark, t, mutated, condOpt)
    afterWrite(spark, t, Some(h.text))
    h.ok
  }

  /** ALTER TABLE t MATERIALIZE COLUMN c [IN PARTITION v]: fill the
    * column's NULL lanes with its recorded DEFAULT expression through the
    * durable pruned rewrite (a part with nothing to materialize is never
    * touched); a column with no recorded expression is a no-op, as in
    * the reference. */
  private def materializeColumn(h: Hit): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, when}
    val (spark, t, c) = (h.spark, h(1), h(2))
    require(spark.table(t).columns.contains(c), s"column $c does not exist in $t")
    TableLedger.record(t).colDefaults.get(c).foreach { dflt =>
      val dt = spark.table(t).schema(c).dataType
      val partCond = h.opt(3).map(v =>
        col(onePartCol(spark, t, "MATERIALIZE COLUMN IN PARTITION")) === v)
      val hole = col(c).isNull
      val affected = partCond.fold(hole)(_ && hole)
      val mutated = spark.table(t).withColumn(c,
        when(affected, expr(rewrite(dflt)).cast(dt)).otherwise(col(c)))
      graft.operators.DurableRewrite.rewrite(spark, t, mutated, Some(affected))
      afterWrite(spark, t, Some(h.text))
    }
    h.ok
  }

  /** A property update on `h(1)`'s record. */
  private def updateRecord(h: Hit)(
      f: TableLedger.TableRecord => TableLedger.TableRecord): DataFrame = {
    require(h.spark.catalog.tableExists(h(1)), s"no such table ${h(1)}")
    TableLedger.update(h(1))(f)
    h.ok
  }

  /** OPTIMIZE ... DEDUPLICATE [BY c1, c2] has real semantics (the
    * reference physically dedups identical rows during the merge —
    * InterpreterOptimizeQuery + MergeTreeDataMergerMutator dedup):
    * rewrite the catalog table keeping one row per key (all columns when
    * BY is absent). */
  private def optimizeDeduplicate(h: Hit): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (spark, table) = (h.spark, h(1))
    val cols = h.opt(3).map(_.split(",").map(_.trim).toSeq)
    val before = spark.table(table)
    // PARTITION scope (round 8): dedup only the named partition's rows,
    // pass every other partition through. The pass-through complement is
    // NULL-SAFE (<=>): a plain !(col === v) evaluates to NULL for
    // NULL-partition rows (__HIVE_DEFAULT_PARTITION__), which would
    // silently DELETE them
    val (target, rest, partCond) = h.opt(2) match {
      case Some(v) =>
        val pcol = col(onePartCol(spark, table, "OPTIMIZE PARTITION"))
        (before.filter(pcol === v), Some(before.filter(!pcol.eqNullSafe(lit(v)))),
          Some(pcol === v))
      case None => (before, None, None)
    }
    val deduped = cols.fold(target.dropDuplicates())(c =>
      target.dropDuplicates(c.head, c.tail: _*))
    // durable part rewrite; a PARTITION scope prunes the rewrite to that
    // partition's files only (DurableRewrite)
    graft.operators.DurableRewrite.rewrite(spark, table,
      rest.fold(deduped)(r => deduped.unionByName(r)), partCond)
    afterWrite(spark, table)
    h.ok
  }

  /** ALTER TABLE t ADD COLUMN [IF NOT EXISTS] c type [DEFAULT e]
    * [FIRST | AFTER c2] (AlterCommands ADD_COLUMN): append the column —
    * DEFAULT backfills, else NULL — at the declared position. */
  private def addColumn(h: Hit): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val (spark, t, name) = (h.spark, h(1), h(3))
    val base = spark.table(t)
    if (base.columns.contains(name)) {
      if (h(2) == null) throw new IllegalArgumentException(
        s"column $name already exists in $t")
    } else {
      val st = sparkTypeText(h(4).trim)
      val value = h.opt(5).map(d => expr(rewrite(d)).cast(st))
        .getOrElse(lit(null).cast(st))
      val before = declaredColumns(spark, t)
      val order: Seq[String] =
        if (h(6) != null) name +: before
        else h.opt(7).fold(before :+ name) { after =>
          val i = before.indexOf(after)
          if (i < 0) throw new IllegalArgumentException(
            s"AFTER column $after not found in $t")
          val (pre, post) = before.splitAt(i + 1)
          pre ++ (name +: post)
        }
      rewriteTable(spark, t, base.withColumn(name, value).select(order.map(col): _*))
      redeclare(spark, t, order)
    }
    h.ok
  }

  /** ALTER TABLE t DROP / MODIFY / RENAME COLUMN [IF EXISTS] c
    * (AlterCommands DROP_COLUMN / MODIFY_COLUMN / RENAME_COLUMN): on the
    * parquet layout every verb is a part rewrite with the transformed
    * schema, run by `change` when the column exists. */
  private def alterColumn(h: Hit)(change: (String, DataFrame) => Unit): DataFrame = {
    val base = h.spark.table(h(1))
    if (base.columns.contains(h(3))) change(h(1), base)
    else if (h(2) == null) throw new IllegalArgumentException(
      s"column ${h(3)} does not exist in ${h(1)}")
    h.ok
  }

  /** Rewrite `t`'s data with the transformed frame and the NEW schema
    * (insertInto can't change schemas): the shared stage-then-swap
    * replace (graft.operators.DurableRewrite.replaceTable) — the
    * transformed copy is durable on disk before the drop + re-create,
    * partitioning and the managed/external distinction preserved. */
  private def rewriteTable(spark: SparkSession, t: String, df: DataFrame): Unit = {
    graft.operators.DurableRewrite.replaceTable(spark, t, df)
    afterWrite(spark, t)
  }

  /** Everything no other row claims: Spark SQL after the dialect
    * rewrite. ASOF / PASTE / ANY join spellings (round-13 — the
    * reference's own syntax for its non-standard strictnesses,
    * Joins.h:44/78) rewrite onto the oracled JoinOps operators BEFORE the
    * textual dialect pass. */
  private def sparkSql(h: Hit): DataFrame = {
    val (spark, select) = (h.spark, h(2) != null)
    val preJoined =
      if (select && JoinSpellings.applies(h.text))
        JoinSpellings.rewrite(h.scope, h.text, selectRunner(h.scope))
      else h.text
    val result = spark.sql(rewrite(expandSchemaTransformers(spark,
      bindDeclaredOrder(spark, preJoined))))
    // INSERT appends files to the table's layout: per-file skip indexes
    // no longer cover the new files (transparent pruning would silently
    // exclude the inserted rows) and cached SELECT results are stale
    h.opt(1).foreach(afterWrite(spark, _))
    // use_query_cache = 1 (reference Settings use_query_cache →
    // QueryResultCache.cpp): SELECT results are admitted to / served
    // from the canonical-plan-keyed cache. SET lands on the conf above.
    if (select && spark.conf.getOption("graft.ch.use_query_cache").contains("1"))
      queryCache.cached(result)
    else result
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
  private def selectRunner(scope: Scope): String => DataFrame =
    s0 => {
      val s1 =
        if (JoinSpellings.applies(s0))
          JoinSpellings.rewrite(scope, s0, selectRunner(scope))
        else s0
      scope.spark.sql(rewrite(expandSchemaTransformers(scope.spark, s1)))
    }

  /** error name → (count, last message) — feeds system.errors
    * (StorageSystemErrors.cpp). */
  val errorLedger =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Catalog table → its parquet location path. */
  private[sql] def tableLocation(spark: SparkSession, table: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.getPath

  /** CH type name for DESCRIBE/SHOW CREATE; complex types (arrays, maps)
    * fall back to the Spark DDL spelling the wire codecs don't carry. */
  private def chTypeOrSpark(f: org.apache.spark.sql.types.StructField): String =
    try graft.sources.ChWireFormats.chTypeName(f.dataType, f.nullable)
    catch { case _: IllegalArgumentException => f.dataType.sql }

  /** Backup ledger entry — feeds system.backups
    * (src/Storages/System/StorageSystemBackups.cpp). */
  final case class BackupEntry(name: String, table: String, status: String,
      numFiles: Long, totalSize: Long)

  private[graft] val backupLog =
    new java.util.concurrent.ConcurrentLinkedDeque[BackupEntry]()

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
    * S3/Azure twins are credentialed variants of the same read): a name
    * bound to the native log replay (sources/DeltaLakeSource). The
    * optional second argument is `versionAsOf` time travel. */
  private val deltaLakeFnRe =
    "(?i)\\bdeltaLake(?:Local)?\\s*\\(\\s*'([^']+)'\\s*(?:,\\s*(\\d+)\\s*)?\\)".r

  private def resolveDeltaLakeFn(scope: Scope, sql0: String): String = {
    val spark = scope.spark
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
      scope.bind(graft.sources.DeltaLakeSource.readChanges(spark, g.group(1),
        g.group(2).toLong, Option(g.group(3)).map(_.toLong)))
    }
    // iceberg_changes('path', fromSnap[, toSnap]) — the Iceberg
    // incremental append scan (round 16): rows appended strictly after
    // the from-snapshot; ranges containing overwrites/deletes/rewrites
    // refuse loudly
    val step0d = SqlLex.replaceAll(step0c,
      ("(?i)\\biceberg_changes\\s*\\(\\s*'([^']+)'\\s*,\\s*(\\d+)\\s*" +
        "(?:,\\s*(\\d+)\\s*)?\\)").r) { g =>
      scope.bind(graft.sources.IcebergSource.readIncremental(spark,
        g.group(1), g.group(2).toLong, Option(g.group(3)).map(_.toLong)))
    }
    // hudi_changes('path', 'fromInstant'[, 'toInstant']) — the Hudi
    // incremental query (round 16): rows whose winning event committed
    // strictly after the from-instant
    val step0e = SqlLex.replaceAll(step0d,
      ("(?i)\\bhudi_changes\\s*\\(\\s*'([^']+)'\\s*,\\s*'([^']*)'\\s*" +
        "(?:,\\s*'([^']*)'\\s*)?\\)").r) { g =>
      scope.bind(graft.sources.HudiSource.readIncremental(spark, g.group(1),
        g.group(2), Option(g.group(3))))
    }
    val step1 = SqlLex.replaceAll(step0e, deltaLakeFnRe) { g =>
      scope.bind(graft.sources.DeltaLakeSource.read(spark, g.group(1),
        Option(g.group(2)).map(_.toLong)))
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
      scope.bind(graft.sources.HudiSource.read(spark, g.group(1),
        Option(g.group(2))))
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
      scope.bind(graft.sources.IcebergSource.read(spark, g.group(1),
        explicit.orElse(setting("iceberg_snapshot_id")),
        if (explicit.isDefined) None else setting("iceberg_timestamp_ms")))
    }
  }

  /** Replace every `file('path'[, 'Format'[, 'schema']])` call with a
    * name bound to the matching reader. Formats without self-describing
    * headers require the schema argument, like the reference. */
  private def resolveFileFn(scope: Scope, sql0: String): String =
    fileFnRe.replaceAllIn(sql0, m => {
      val spark = scope.spark
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
      scope.bind(df)
    })

  // ---- null() + remote() table functions -------------------------------

  private val nullFnRe = "(?i)\\bnull\\s*\\(\\s*'([^']+)'\\s*\\)".r

  /** `null('a Int64, b String')` (TableFunctionNull.cpp / StorageNull):
    * a table of the given structure whose reads are empty (writes into
    * Null storage are discarded; the read side is what a SELECT sees). */
  private def resolveNullFn(scope: Scope, sql0: String): String =
    nullFnRe.replaceAllIn(sql0, m => {
      val spark = scope.spark
      scope.bind(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        chSchemaToStruct(m.group(1))))
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

  /** Replace `format(Fmt, 'data')` with a name bound to the parsed
    * inline data (TableFunctionFormat.cpp: parse a literal through the
    * named input format, schema INFERRED from the data). Nameless
    * formats name columns c1..cN like the reference's inference does. */
  private def resolveFormatFn(scope: Scope, sql0: String): String =
    formatFnRe.replaceAllIn(sql0, m => {
      val spark = scope.spark
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
        // calls in a long session no longer leak temp dirs, and the name
        // bound below reads the checkpointed frame, not the deleted file.
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
      scope.bind(df)
    })

  // ---- merge() table function (TableFunctionMerge.cpp) ----------------

  private val mergeFnRe =
    "(?i)\\bmerge\\s*\\(\\s*(?:'[^']*'\\s*,\\s*)?'([^']+)'\\s*\\)".r

  /** Replace `merge(['db',] 'name_regex')` with a name bound to the
    * union (by name) of every catalog table whose name matches — the
    * reference's multi-table union storage (StorageMerge). */
  private def resolveMergeFn(scope: Scope, sql0: String): String =
    mergeFnRe.replaceAllIn(sql0, m => {
      val spark = scope.spark
      val pattern = m.group(1).r
      val names = spark.catalog.listTables().collect()
        .map(_.name).filter(n => pattern.findFirstIn(n).isDefined).sorted
      require(names.nonEmpty, s"merge(): no table matches '${m.group(1)}'")
      val unioned = names.map(spark.table)
        .reduce(_ unionByName (_, allowMissingColumns = true))
      scope.bind(unioned)
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

  /** The column order a positional INSERT into `t` binds to, when it is
    * not the catalog's: the declared order of its CREATE TABLE (see
    * TableRecord.columns), then any column added since, in catalog order. */
  private def declaredOrder(spark: SparkSession, t: String): Option[Seq[String]] = {
    val declared = TableLedger.record(t).columns
    if (declared.isEmpty) None
    else {
      val cur = spark.table(t).columns.toSeq
      val known = declared.map(_.toLowerCase).toSet
      val order = declared.flatMap(d => cur.find(_.equalsIgnoreCase(d))) ++
        cur.filterNot(c => known(c.toLowerCase))
      Some(order).filter(_ != cur)
    }
  }

  /** The column order a positional INSERT into `t` binds to. */
  private def declaredColumns(spark: SparkSession, t: String): Seq[String] =
    declaredOrder(spark, t).getOrElse(spark.table(t).columns.toSeq)

  /** Records `cols` as `t`'s declared column order after an ALTER that
    * added, dropped or renamed a column. */
  private def redeclare(spark: SparkSession, t: String, cols: Seq[String]): Unit = {
    val cur = spark.table(t).columns.toSeq
    TableLedger.update(t)(_.copy(columns = if (cols == cur) Nil else cols))
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
