package graft.sql

import scala.util.matching.Regex

/** The one lexer under the dialect layer. The ClickHouse rewrites, the
  * join spellings, access control and the KQL and PRQL front-ends all ask
  * it where literals, comments and bracket levels are; none of them scans
  * for quotes itself. Spark runs the rewritten text, so where the two
  * dialects differ these rules follow Spark's lexer:
  *
  *  - `'…'` and `"…"` are string literals (ClickHouse reads `"…"` as an
  *    identifier, KQL and PRQL as a string; to the lexer it is opaque
  *    either way). A backslash escapes the next character and a doubled
  *    quote stands for one quote. With an `r` or `R` prefix that does not
  *    end a longer word (`r'…'`) the literal is raw: no escapes, and it
  *    ends at the next quote of its kind.
  *  - `` `…` `` is a quoted identifier, closed by the first backtick that
  *    is not doubled; a backslash escapes nothing in it.
  *  - `--` starts a comment that runs to the end of the line; a backslash
  *    right before the newline continues it. Slash-star starts a comment
  *    that runs to the star-slash that closes it, and such comments nest.
  *    A Spark hint (slash-star-plus) is code, not a comment, and is kept;
  *    inside a comment it opens no nested one.
  *  - Bracket depth counts `(`, `[` and `{` against `)`, `]` and `}`, and
  *    only outside the literals, identifiers and comments above.
  *
  * An unterminated literal or comment runs to the end of the text.
  * Comments are removed once, by `stripComments`, before the first
  * rewrite. Every primitive takes raw text; each also accepts the output
  * of `mask`, because masking a masked text changes nothing.
  */
object SqlLex {

  private val Hidden = '\u0001'

  private def isOpen(c: Char): Boolean = c == '(' || c == '[' || c == '{'
  private def isClose(c: Char): Boolean = c == ')' || c == ']' || c == '}'
  private def isWord(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  private sealed trait Span
  private case object Closed extends Span // a literal or quoted identifier
  private case object Unclosed extends Span // one that runs to the end
  private case object Comment extends Span
  private case object OpenComment extends Span // a block comment never closed

  /** Index just past the literal or quoted identifier that opens at `i`,
    * or -1 if unclosed. */
  private def quoteEnd(s: String, i: Int): Int = {
    val q = s.charAt(i)
    val p = if (i > 0) s.charAt(i - 1) else ' '
    val raw = q != '`' && (p == 'r' || p == 'R') &&
      (i < 2 || !isWord(s.charAt(i - 2)))
    var j = i + 1
    while (j < s.length) {
      val d = s.charAt(j)
      if (d == '\\' && q != '`' && !raw) j += 2
      else if (d != q) j += 1
      else if (!raw && j + 1 < s.length && s.charAt(j + 1) == q) j += 2
      else return j + 1
    }
    -1
  }

  /** Index just past the comment that opens at `i`, or -1 if unclosed. */
  private def commentEnd(s: String, i: Int): Int =
    if (s.charAt(i) == '-') {
      var j = i + 2
      while (j < s.length && s.charAt(j) != '\n' && s.charAt(j) != '\r')
        j += (if (s.startsWith("\\\n", j)) 2 else 1)
      j
    } else {
      var depth = 1
      var j = i + 2
      while (j < s.length && depth > 0) {
        if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
        else if (s.startsWith("/*", j) && !s.startsWith("/*+", j)) {
          depth += 1; j += 2
        } else j += 1
      }
      if (depth == 0) j else -1
    }

  /** Calls `span(start, end, kind)` for every literal, quoted identifier
    * and comment of `s`, in order (`end` exclusive). */
  private def spans(s: String)(span: (Int, Int, Span) => Unit): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val comment = s.startsWith("--", i) ||
        (s.startsWith("/*", i) && !s.startsWith("/*+", i))
      if (c == '\'' || c == '"' || c == '`' || comment) {
        val close = if (comment) commentEnd(s, i) else quoteEnd(s, i)
        val end = if (close < 0) s.length else close
        span(i, end,
          if (comment) { if (close < 0) OpenComment else Comment }
          else if (close < 0) Unclosed else Closed)
        i = end
      } else i += 1
    }
  }

  /** Same-length copy of `s` with the content of every literal and quoted
    * identifier, and every comment, blanked to U+0001. Quote characters stay, so
    * a pattern like `'([^']*)'` still finds a literal, and every index is
    * valid in `s`. */
  def mask(s: String): String = {
    val out = s.toCharArray
    spans(s) {
      case (start, end, Comment | OpenComment) =>
        java.util.Arrays.fill(out, start, end, Hidden)
      case (start, end, Closed) => java.util.Arrays.fill(out, start + 1, end - 1, Hidden)
      case (start, end, Unclosed) => java.util.Arrays.fill(out, start + 1, end, Hidden)
    }
    new String(out)
  }

  /** Every literal and quoted identifier of `s`, in order, as (start, end): `end`
    * is just past the closing quote. An unterminated one fails. */
  def literals(s: String): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    spans(s) {
      case (start, end, Closed) => out += ((start, end))
      case (start, _, Unclosed) => throw new IllegalArgumentException(
        s"unterminated literal: ${s.substring(start).take(40)}")
      case _ =>
    }
    out.result()
  }

  /** `s` with every comment replaced by one space. A block comment that
    * is never closed stays, so the parser reports it. */
  def stripComments(s: String): String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    spans(s) {
      case (start, end, Comment) => sb.append(s, last, start).append(' '); last = end
      case _ =>
    }
    if (last == 0) s else sb.append(s, last, s.length).toString
  }

  /** Index of the bracket that closes the scope open at `from` (the
    * innermost bracket opened before `from` and still open there), or
    * `s.length` when that scope is the whole text. */
  def scopeEnd(s: String, from: Int): Int = {
    val m = mask(s)
    var depth = 0
    var i = from
    while (i < m.length) {
      val c = m.charAt(i)
      if (isOpen(c)) depth += 1
      else if (isClose(c)) { if (depth == 0) return i; depth -= 1 }
      i += 1
    }
    m.length
  }

  /** Index just past the bracket matching the opening bracket at `open`,
    * or -1 when it is never closed. */
  def closeOf(s: String, open: Int): Int = {
    val end = scopeEnd(s, open + 1)
    if (end < s.length) end + 1 else -1
  }

  /** Every occurrence of `kw` on the bracket level of `from`, from `from`
    * to the end of that level's scope, outside literals and comments:
    * (start, end) pairs, `end` exclusive. Letters match without regard to
    * case; a `kw` that starts or ends with a word character matches only
    * whole words (a preceding `.` also disqualifies, so `t.limit` is no
    * LIMIT). The space-separated words of a multi-word keyword such as
    * `GROUP BY` match across any run of whitespace. */
  def findAll(s: String, kw: String, from: Int = 0): Seq[(Int, Int)] = {
    val m = mask(s)
    val words = kw.split(' ').filter(_.nonEmpty)
    def matchAt(i: Int): Int = {
      if (isWord(words.head.head) && i > 0 &&
          (isWord(m.charAt(i - 1)) || m.charAt(i - 1) == '.')) return -1
      var pos = i
      var w = 0
      while (w < words.length) {
        if (w > 0) {
          val gap = pos
          while (pos < m.length && m.charAt(pos).isWhitespace) pos += 1
          if (pos == gap) return -1
        }
        if (!m.regionMatches(true, pos, words(w), 0, words(w).length))
          return -1
        pos += words(w).length
        w += 1
      }
      if (isWord(words.last.last) && pos < m.length && isWord(m.charAt(pos)))
        -1
      else pos
    }
    val out = Seq.newBuilder[(Int, Int)]
    var depth = 0
    var i = from
    while (i < m.length && depth >= 0) {
      val c = m.charAt(i)
      if (isOpen(c)) { depth += 1; i += 1 }
      else if (isClose(c)) { depth -= 1; i += 1 }
      else {
        val end = if (depth == 0) matchAt(i) else -1
        if (end > i) { out += ((i, end)); i = end } else i += 1
      }
    }
    out.result()
  }

  /** The first of `findAll`. */
  def find(s: String, kw: String, from: Int = 0): Option[(Int, Int)] =
    findAll(s, kw, from).headOption

  /** `s` cut at every top-level `sep` (see `findAll`), pieces trimmed and
    * empty ones dropped. */
  def splitTop(s: String, sep: String = ","): Seq[String] = {
    val cuts = (0, 0) +: findAll(s, sep) :+ ((s.length, s.length))
    cuts.sliding(2).map { case Seq((_, a), (b, _)) => s.substring(a, b).trim }
      .filter(_.nonEmpty).toSeq
  }

  /** Matches of `re` outside literals and comments. The search runs on the
    * mask; the matches read `s`, so groups return the original text (also
    * a group that spans a literal). */
  def matchesIn(s: String, re: Regex): Iterator[Regex.Match] = {
    val mt = re.pattern.matcher(mask(s))
    Iterator.continually(
      if (mt.find()) new Regex.Match(s, mt, Nil).force else null
    ).takeWhile(_ != null)
  }

  def firstMatch(s: String, re: Regex): Option[Regex.Match] =
    matchesIn(s, re).nextOption()

  /** Every match of `re` outside literals and comments replaced by
    * `f(match)`, spliced in verbatim (no `$n` group syntax). */
  def replaceAll(s: String, re: Regex)(f: Regex.Match => String): String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    matchesIn(s, re).foreach { m =>
      sb.append(s, last, m.start).append(f(m))
      last = m.end
    }
    sb.append(s, last, s.length).toString
  }
}
