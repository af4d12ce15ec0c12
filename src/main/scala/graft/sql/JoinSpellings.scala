package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL spellings for the reference's non-standard join strictnesses —
  * the round-12 verdict's top parity gap: the ENGINE had oracled ASOF /
  * PASTE / ANY semantics (operators/JoinOps.scala), but the dialect
  * front-end rejected the reference's own syntax for them
  * (`ASOF [LEFT] JOIN … ON k = k AND t >= t`, src/Core/Joins.h:44,78 +
  * ParserJoin; `PASTE JOIN`, src/Interpreters/PasteJoin.h:20;
  * `[LEFT|RIGHT|INNER] ANY JOIN` strictness, src/Core/Joins.h:44).
  *
  * Rewrite strategy per spelling:
  *  - ANY: pure text→text — the joined side is wrapped in a
  *    deterministic one-row-per-key dedup subquery (row_number over the
  *    side's orderable columns) and the ANY token dropped; aliases and
  *    the ON/USING clause survive untouched, so the result is ordinary
  *    Spark SQL that Catalyst plans as a plain shuffle/broadcast join.
  *    "Any row" is pinned to the lexicographic-min row (the reference
  *    keeps first-found, which is nondeterministic — a distributed
  *    engine pins a total order instead).
  *  - ASOF: routed onto the oracled `JoinOps.asofJoinKeys` union-window
  *    operator (ONE shuffle — the same cost class as the reference's
  *    full-sorting-merge ASOF). The join segment is replaced by a name
  *    the statement's [[Scope]] binds to the operator's output;
  *    right-side column references (`r.c`, and bare right-only names)
  *    remap to the operator's `asof_c` output convention.
  *  - PASTE: routed onto `JoinOps.pasteJoin` (positional zip via
  *    RDD.zipWithIndex — stays distributed) through the same bound-name
  *    surgery.
  *
  * SUPPORTED FORMS (loud errors otherwise — never silent misreads):
  * each side of ASOF/PASTE (and the deduped side of ANY) is a single
  * relation — a catalog/temp-view table or a parenthesized subquery
  * with an alias; ON conditions are conjunctions of simple
  * (optionally alias-qualified) column comparisons. CTE names are not
  * resolvable as sides (they are not tables at rewrite time).
  */
object JoinSpellings {

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Cheap guard: does the statement contain one of the spellings
    * outside string literals? Ordinary SQL never pays rewrite cost. */
  def applies(sql: String): Boolean = {
    val m = SqlLex.mask(sql)
    Seq(anyJoinRe, asofJoinRe, pasteJoinRe).exists(_.findFirstIn(m).isDefined)
  }

  /** Apply all three spellings. `run` evaluates dialect SQL to a
    * DataFrame (lazy — subquery sides resolve schema without a job,
    * and materialize only when the final plan executes). */
  def rewrite(scope: Scope, sql: String,
      run: String => DataFrame): String = {
    var s = sql
    s = rewriteAny(scope.spark, s, run)
    s = rewriteAsof(scope, s, run)
    s = rewritePaste(scope, s, run)
    s
  }

  private val anyJoinRe =
    ("(?i)\\b(?:ANY\\s+(LEFT|RIGHT|INNER)\\s+JOIN|" +
      "(LEFT|RIGHT|INNER)\\s+ANY\\s+JOIN|ANY\\s+JOIN)\\b").r
  private val asofJoinRe =
    "(?i)\\b(?:(LEFT|INNER)\\s+)?ASOF\\s+(?:(LEFT|INNER)\\s+)?JOIN\\b".r
  private val pasteJoinRe = "(?i)\\bPASTE\\s+JOIN\\b".r

  // ---- lexical helpers (masked text: SqlLex.mask) ----------------------

  private val relStopWords = Set("on", "using", "where", "group", "having",
    "order", "limit", "settings", "union", "intersect", "except",
    "qualify", "format", "into", "window", "offset", "paste", "asof",
    "any", "left", "right", "inner", "full", "cross", "join", "prewhere",
    "with", "as", "global")

  /** One relation: a table name or a parenthesized subquery, plus an
    * optional alias. `start`/`end` index the ORIGINAL string segment
    * consumed (alias included). */
  private final case class Rel(text: String, isSub: Boolean,
      alias: Option[String], start: Int, end: Int) {
    /** Effective qualifier: explicit alias, else the table name. */
    def qualifier: Option[String] =
      alias.orElse(if (isSub) None else Some(text))
  }

  private val identRe = "^[A-Za-z_][A-Za-z0-9_.]*".r
  private val wordRe = "^[A-Za-z_][A-Za-z0-9_]*".r

  private def skipWs(m: String, i0: Int): Int = {
    var i = i0
    while (i < m.length && m.charAt(i).isWhitespace) i += 1
    i
  }

  private def parseRel(s: String, m: String, from: Int): Rel = {
    var i = skipWs(m, from)
    if (i >= m.length)
      throw new IllegalArgumentException("join rewrite: missing relation")
    val (text, isSub, bodyEnd) =
      if (m.charAt(i) == '(') {
        val e = SqlLex.closeOf(m, i)
        require(e > 0, "join rewrite: unbalanced parentheses")
        (s.substring(i, e), true, e)
      } else identRe.findFirstIn(m.substring(i)) match {
        case Some(t) => (t, false, i + t.length)
        case None => throw new IllegalArgumentException(
          s"join rewrite: cannot parse relation at '${s.substring(i).take(40)}'")
      }
    // optional [AS] alias (a bare word that is not a clause keyword)
    var j = skipWs(m, bodyEnd)
    var alias: Option[String] = None
    var end = bodyEnd
    val afterAs = {
      val w = wordRe.findFirstIn(m.substring(j))
      if (w.exists(_.equalsIgnoreCase("as"))) skipWs(m, j + 2) else j
    }
    wordRe.findFirstIn(m.substring(afterAs)) match {
      case Some(w) if !relStopWords(w.toLowerCase) ||
          (afterAs != j) /* explicit AS: any word is the alias */ =>
        alias = Some(w); end = afterAs + w.length
      case _ =>
    }
    Rel(text, isSub, alias, from, end)
  }

  /** The single left relation immediately before the join spelling at
    * `jmStart`: scan FROM occurrences nearest-first and take the one
    * whose relation (plus alias) ends exactly at the spelling — a FROM
    * inside a subquery side never qualifies because the gap to the
    * spelling is then non-whitespace. Returns (fromStart, rel). */
  private def leftRelBefore(s: String, m: String, jmStart: Int,
      what: String): (Int, Rel) = {
    val froms = "(?i)\\bFROM\\s".r.findAllMatchIn(m.substring(0, jmStart))
      .toSeq.reverse
    froms.foreach { f =>
      try {
        val rel = parseRel(s, m, f.start + 4)
        if (rel.end <= jmStart && s.substring(rel.end, jmStart).trim.isEmpty)
          return (f.start, rel)
      } catch { case _: Exception => }
    }
    throw new IllegalArgumentException(
      s"$what: the left side must be a single relation (a table or an " +
        "aliased subquery) immediately after FROM")
  }

  /** End (exclusive) of a join condition starting at `from`: the first
    * clause keyword on its bracket level, else the end of its scope. */
  private def condEnd(m: String, from: Int): Int =
    Seq("where", "group", "having", "order", "limit", "settings", "union",
      "intersect", "except", "qualify", "format", "into", "window", "offset")
      .flatMap(SqlLex.find(m, _, from)).map(_._1).minOption
      .getOrElse(SqlLex.scopeEnd(m, from))

  /** A simple (optionally qualified) column reference. */
  private val colRefRe =
    "(?s)^\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*)?([A-Za-z_][A-Za-z0-9_]*)\\s*$".r

  /** Columns safe to use in a deterministic ORDER BY (scalar orderable
    * types — arrays/structs/maps excluded to keep both the Spark window
    * and a DuckDB oracle's spelling of the same order portable). */
  private def orderableCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType || f.dataType == BooleanType ||
        f.dataType == DateType || f.dataType.isInstanceOf[TimestampType] ||
        f.dataType == TimestampNTZType || f.dataType == BinaryType =>
        f.name
    }.toSeq

  private def resolveRel(spark: SparkSession, rel: Rel,
      run: String => DataFrame): DataFrame =
    if (rel.isSub) run(rel.text.trim.stripPrefix("(").stripSuffix(")"))
    else spark.table(rel.text)

  /** Which side does an operand belong to? 'L'/'R'. */
  private def sideOf(qual: Option[String], c: String,
      lq: Option[String], rq: Option[String],
      lCols: Set[String], rCols: Set[String], ctx: String): Char =
    qual match {
      case Some(q) if lq.exists(_.equalsIgnoreCase(q)) => 'L'
      case Some(q) if rq.exists(_.equalsIgnoreCase(q)) => 'R'
      case Some(q) => throw new IllegalArgumentException(
        s"$ctx: qualifier '$q' matches neither join side")
      case None =>
        val inL = lCols.contains(c.toLowerCase)
        val inR = rCols.contains(c.toLowerCase)
        if (inL && inR) throw new IllegalArgumentException(
          s"$ctx: column '$c' exists on both sides — qualify it")
        else if (inL) 'L'
        else if (inR) 'R'
        else throw new IllegalArgumentException(
          s"$ctx: column '$c' found on neither side")
    }

  /** Remap alias-qualified and bare right-only column references onto
    * the ASOF view's output names (left cols keep their names, right
    * cols surface as asof_<c>) — outside string literals. */
  private def remapRefs(sql: String, lq: Option[String], rq: Option[String],
      rightOnly: Seq[String]): String = {
    var x = sql
    rq.foreach(q => x = SqlLex.replaceAll(x, qualified(q))(m => "asof_" + m.group(1)))
    lq.foreach(q => x = SqlLex.replaceAll(x, qualified(q))(_.group(1)))
    rightOnly.foreach { rc =>
      // a bare right-only name (not qualified, not a function call)
      x = SqlLex.replaceAll(x, ("(?i)(?<![\\w.`])" +
        java.util.regex.Pattern.quote(rc) + "\\b(?!\\s*\\()").r)(_ => "asof_" + rc)
    }
    x
  }

  /** `q.col` for the qualifier `q`; group 1 is the column. */
  private def qualified(q: String) = ("(?i)\\b" +
    java.util.regex.Pattern.quote(q) + "\\s*\\.\\s*([A-Za-z_][A-Za-z0-9_]*)").r

  // ---- ANY JOIN --------------------------------------------------------

  private def rewriteAny(spark: SparkSession, sql0: String,
      run: String => DataFrame): String = {
    var s = sql0
    var budget = 4
    while (budget > 0) {
      val m = SqlLex.mask(s)
      anyJoinRe.findFirstMatchIn(m) match {
        case None => return s
        case Some(jm) =>
          budget -= 1
          val dir = Seq(Option(jm.group(1)), Option(jm.group(2))).flatten
            .headOption.map(_.toUpperCase).getOrElse("INNER")
          if (dir == "RIGHT") s = rewriteAnyRight(spark, s, m, jm, run)
          else {
            // dedup the RIGHT side, keep the join kind
            val rel = parseRel(s, m, jm.end)
            val rDf = resolveRel(spark, rel, run)
            if (rel.isSub && rel.alias.isEmpty)
              throw new IllegalArgumentException(
                "ANY JOIN: a subquery side needs an alias")
            val ci = skipWs(m, rel.end)
            val keys = parseJoinKeys(s, m, ci, rel, rDf)
            val dedup = dedupSubquery(rDf, rel, keys)
            val kind = if (dir == "LEFT") "LEFT JOIN" else "JOIN"
            s = s.substring(0, jm.start) + kind + " " + dedup + " " +
              rel.qualifier.getOrElse("") + s.substring(rel.end)
          }
      }
    }
    s
  }

  private def rewriteAnyRight(spark: SparkSession, s: String, m: String,
      jm: scala.util.matching.Regex.Match,
      run: String => DataFrame): String = {
    // dedup the LEFT side: it must be the single relation after FROM
    val (fromStart, lRel) = leftRelBefore(s, m, jm.start, "ANY RIGHT JOIN")
    if (lRel.isSub && lRel.alias.isEmpty)
      throw new IllegalArgumentException(
        "ANY RIGHT JOIN: a subquery side needs an alias")
    val lDf = resolveRel(spark, lRel, run)
    // condition follows the right relation
    val rRel = parseRel(s, m, jm.end)
    val ci = skipWs(m, rRel.end)
    val keys = parseJoinKeys(s, m, ci, lRel, lDf)
    val dedup = dedupSubquery(lDf, lRel, keys)
    s.substring(0, fromStart) + "FROM " + dedup + " " +
      lRel.qualifier.getOrElse("") + " RIGHT JOIN" + s.substring(jm.end)
  }

  /** Keys (column names on the deduped side) out of the ON/USING clause
    * at `ci` — the clause itself is left in place. Only the DEDUP side's
    * schema is needed: an operand belongs to it when it is qualified
    * with that side's alias, or unqualified and present in its columns;
    * everything else is assumed to reference the other side. An
    * inequality (or both operands landing on the dedup side) rejects
    * loudly. */
  private def parseJoinKeys(s: String, m: String, ci: Int,
      dedupRel: Rel, dedupDf: DataFrame): Seq[String] = {
    val usingRe = "(?i)^USING\\s*\\(".r
    val onRe = "(?i)^ON\\b".r
    val rest = m.substring(ci)
    if (usingRe.findFirstMatchIn(rest).isDefined) {
      val open = m.indexOf('(', ci)
      val close = SqlLex.closeOf(m, open)
      require(close > 0, "join rewrite: unbalanced parentheses")
      s.substring(open + 1, close - 1).split(',').map(_.trim).toSeq
    } else if (onRe.findFirstIn(rest).isDefined) {
      val cs = ci + 2
      val ce = condEnd(m, cs)
      val conj = SqlLex.splitTop(s.substring(cs, ce), "AND")
      val dq = dedupRel.qualifier
      val dCols = dedupDf.columns.map(_.toLowerCase).toSet
      conj.map { c =>
        if ("[<>]".r.findFirstIn(c).isDefined)
          throw new IllegalArgumentException(
            s"ANY JOIN: only equality conditions are supported, got '$c'")
        val two = c.split("=", 2)
        if (two.length != 2) throw new IllegalArgumentException(
          s"ANY JOIN: only equality conditions are supported, got '$c'")
        val ops = two.map {
          case colRefRe(q, cc) => (Option(q), cc)
          case o => throw new IllegalArgumentException(
            s"ANY JOIN: operand must be a simple column, got '${o.trim}'")
        }
        val flags = ops.map {
          case (Some(q), _) => dq.exists(_.equalsIgnoreCase(q))
          case (None, cc) => dCols.contains(cc.toLowerCase)
        }
        if (flags.count(identity) != 1) throw new IllegalArgumentException(
          s"ANY JOIN: condition '$c' must reference the deduplicated " +
            "side exactly once — qualify ambiguous columns")
        ops(flags.indexOf(true))._2
      }
    } else throw new IllegalArgumentException(
      "ANY JOIN: expected ON or USING (...) after the joined relation")
  }

  /** `(SELECT cols FROM (SELECT *, row_number() OVER (PARTITION BY keys
    * ORDER BY <all orderable cols>) AS __any_rn FROM src) t
    * WHERE __any_rn = 1)` — the deterministic one-row-per-key pick. */
  private def dedupSubquery(df: DataFrame, rel: Rel,
      keys: Seq[String]): String = {
    require(keys.nonEmpty, "ANY JOIN: no join keys found")
    val cols = df.columns.map(c => s"`$c`").mkString(", ")
    val ord = orderableCols(df) match {
      case Seq() => keys.map(k => s"`$k`").mkString(", ")
      case oc => oc.map(c => s"`$c`").mkString(", ")
    }
    val ks = keys.map(k => s"`$k`").mkString(", ")
    val n = counter.incrementAndGet()
    s"(SELECT $cols FROM (SELECT *, row_number() OVER (PARTITION BY $ks " +
      s"ORDER BY $ord) AS __any_rn FROM ${rel.text}) __graft_any_$n " +
      "WHERE __any_rn = 1)"
  }

  // ---- ASOF JOIN -------------------------------------------------------

  private def rewriteAsof(scope: Scope, sql0: String,
      run: String => DataFrame): String = {
    var s = sql0
    var budget = 4
    while (budget > 0) {
      val m = SqlLex.mask(s)
      asofJoinRe.findFirstMatchIn(m) match {
        case None => return s
        case Some(jm) =>
          budget -= 1
          val kind = Seq(Option(jm.group(1)), Option(jm.group(2))).flatten
            .headOption.map(_.toUpperCase).getOrElse("INNER")
          s = rewriteOneAsof(scope, s, m, jm, kind, run)
      }
    }
    s
  }

  private def rewriteOneAsof(scope: Scope, s: String, m: String,
      jm: scala.util.matching.Regex.Match, kind: String,
      run: String => DataFrame): String = {
    val (fromStart, lRel) = leftRelBefore(s, m, jm.start, "ASOF JOIN")
    val rRel = parseRel(s, m, jm.end)
    val lDf = resolveRel(scope.spark, lRel, run)
    val rDf = resolveRel(scope.spark, rRel, run)
    val lq = lRel.qualifier
    val rq = rRel.qualifier
    val lColsSet = lDf.columns.map(_.toLowerCase).toSet
    val rColsSet = rDf.columns.map(_.toLowerCase).toSet

    val ci = skipWs(m, rRel.end)
    val rest = m.substring(ci)
    // (lKeys, rKeys, lTsName, rTsName, op, clauseEnd)
    val (lks, rks, ltc, rtc, op, ce) =
      if ("(?i)^USING\\s*\\(".r.findFirstIn(rest).isDefined) {
        val open = m.indexOf('(', ci)
        val close = SqlLex.closeOf(m, open)
        require(close > 0, "join rewrite: unbalanced parentheses")
        val cols = s.substring(open + 1, close - 1).split(',').map(_.trim).toSeq
        require(cols.length >= 2,
          "ASOF JOIN USING needs at least (key, asof_column)")
        (cols.init, cols.init, cols.last, cols.last, "<=", close)
      } else if ("(?i)^ON\\b".r.findFirstIn(rest).isDefined) {
        val cs = ci + 2
        val cend = condEnd(m, cs)
        val conj = SqlLex.splitTop(s.substring(cs, cend), "AND")
        val ineqRe = "(?s)^(.*?)(<=|>=|<|>)(.*)$".r
        var eqL = Vector.empty[String]
        var eqR = Vector.empty[String]
        var ineq: Option[(String, String, String)] = None
        conj.foreach { c =>
          c match {
            case ineqRe(a, o, b) if o != "=" =>
              if (ineq.isDefined) throw new IllegalArgumentException(
                "ASOF JOIN: exactly one inequality is allowed in ON")
              ineq = Some((a, o, b))
            case _ =>
              val two = c.split("=", 2)
              if (two.length != 2) throw new IllegalArgumentException(
                s"ASOF JOIN: cannot parse ON conjunct '$c'")
              val ops = two.map {
                case colRefRe(q, cc) => (Option(q), cc)
                case o => throw new IllegalArgumentException(
                  s"ASOF JOIN: operand must be a simple column, got '${o.trim}'")
              }
              val bySide = ops.map(p =>
                sideOf(p._1, p._2, lq, rq, lColsSet, rColsSet, "ASOF JOIN"))
              if (bySide.toSet != Set('L', 'R'))
                throw new IllegalArgumentException(
                  s"ASOF JOIN: equality '$c' must compare the two sides")
              eqL :+= ops(bySide.indexOf('L'))._2
              eqR :+= ops(bySide.indexOf('R'))._2
          }
        }
        val (a, o, b) = ineq.getOrElse(throw new IllegalArgumentException(
          "ASOF JOIN: ON must carry one inequality (the asof condition)"))
        val (aq, ac) = a.trim match {
          case colRefRe(q, cc) => (Option(q), cc)
          case x => throw new IllegalArgumentException(
            s"ASOF JOIN: inequality operand must be a column, got '$x'")
        }
        val (bq, bc) = b.trim match {
          case colRefRe(q, cc) => (Option(q), cc)
          case x => throw new IllegalArgumentException(
            s"ASOF JOIN: inequality operand must be a column, got '$x'")
        }
        val aSide = sideOf(aq, ac, lq, rq, lColsSet, rColsSet, "ASOF JOIN")
        val bSide = sideOf(bq, bc, lq, rq, lColsSet, rColsSet, "ASOF JOIN")
        if (Set(aSide, bSide) != Set('L', 'R'))
          throw new IllegalArgumentException(
            "ASOF JOIN: the inequality must compare the two sides")
        // normalize to (rightTs OP leftTs): `l.t >= r.t` ⇔ `r.t <= l.t`
        val flip = Map("<=" -> ">=", ">=" -> "<=", "<" -> ">", ">" -> "<")
        val (lt, rt, opN) =
          if (aSide == 'L') (ac, bc, flip(o)) else (bc, ac, o)
        require(eqL.nonEmpty,
          "ASOF JOIN: at least one equality key is required in ON")
        (eqL, eqR, lt, rt, opN, cend)
      } else throw new IllegalArgumentException(
        "ASOF JOIN: expected ON or USING (...) after the joined relation")

    // asof-column types must be union-compatible on the tag column
    def dtOf(df: DataFrame, c: String): DataType =
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"ASOF JOIN: column '$c' not found"))
    val (ltT, rtT) = (dtOf(lDf, ltc), dtOf(rDf, rtc))
    def timeish(dt: DataType): Boolean =
      dt == DateType || dt.isInstanceOf[TimestampType] ||
        dt == TimestampNTZType
    val (lTsCol, rTsCol): (Column, Column) =
      if (ltT == rtT) (col(ltc), col(rtc))
      else if (timeish(ltT) && timeish(rtT))
        (col(ltc).cast("timestamp"), col(rtc).cast("timestamp"))
      else if (ltT.isInstanceOf[NumericType] && rtT.isInstanceOf[NumericType])
        (col(ltc).cast("double"), col(rtc).cast("double"))
      else throw new IllegalArgumentException(
        s"ASOF JOIN: asof columns have incomparable types $ltT vs $rtT")

    val payload = rDf.columns.toSeq
    val tie = orderableCols(rDf) match {
      case Seq() => lit(1)
      case oc => struct(oc.map(col): _*)
    }
    val joined0 = graft.operators.JoinOps.asofJoinKeys(
      lDf, rDf, lks, rks, lTsCol, rTsCol, payload, tie, op)
    // bare `ASOF JOIN` is INNER in the reference: unmatched left rows
    // drop. Matched ⇔ the carried right asof column is non-null (the
    // right side's own asof column is the probe key — never null on a
    // matched row).
    val joined =
      if (kind == "INNER") joined0.filter(col(s"asof_$rtc").isNotNull)
      else joined0
    val rewritten = s.substring(0, fromStart) + s"FROM ${scope.bind(joined)} " +
      s.substring(ce)
    val rightOnly = rDf.columns.filterNot(c =>
      lColsSet.contains(c.toLowerCase)).toSeq
    remapRefs(rewritten, lq, rq, rightOnly)
  }

  // ---- PASTE JOIN ------------------------------------------------------

  private def rewritePaste(scope: Scope, sql0: String,
      run: String => DataFrame): String = {
    var s = sql0
    var budget = 4
    while (budget > 0) {
      val m = SqlLex.mask(s)
      pasteJoinRe.findFirstMatchIn(m) match {
        case None => return s
        case Some(jm) =>
          budget -= 1
          val (fromStart, lRel) =
            leftRelBefore(s, m, jm.start, "PASTE JOIN")
          val rRel = parseRel(s, m, jm.end)
          val lDf = resolveRel(scope.spark, lRel, run)
          val rDf = resolveRel(scope.spark, rRel, run)
          val overlap = lDf.columns.map(_.toLowerCase).toSet
            .intersect(rDf.columns.map(_.toLowerCase).toSet)
          if (overlap.nonEmpty) throw new IllegalArgumentException(
            "PASTE JOIN: sides share column names " +
              overlap.mkString("[", ", ", "]") + " — rename in a subquery")
          val zipped = graft.operators.JoinOps.pasteJoin(lDf, rDf)
          val out = s.substring(0, fromStart) + s"FROM ${scope.bind(zipped)}" +
            s.substring(rRel.end)
          // both sides' columns keep their names — strip the qualifiers
          s = Seq(lRel.qualifier, rRel.qualifier).flatten
            .foldLeft(out)((x, q) => SqlLex.replaceAll(x, qualified(q))(_.group(1)))
      }
    }
    s
  }
}
