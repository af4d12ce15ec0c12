package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

import ChBuild._

/** String search and comparison (src/Functions/position.cpp,
  * countSubstrings.cpp, countMatches.cpp, hasToken.cpp, match.cpp,
  * extractAll.cpp, extractGroups.cpp, MultiSearchAllPositions.h,
  * MultiMatchAnyImpl.h, FunctionsStringSimilarity.cpp,
  * FunctionsStringDistance.cpp, hasSubsequence.cpp, CompareSubstrings.cpp):
  * positions and counts, regex matching and capture extraction, the
  * multiSearch / multiMatch / multiFuzzyMatch matrices, n-gram
  * similarity and edit distances.
  *
  * NOTE: CH `extract(haystack, re)` and `position(haystack, needle)` are
  * NOT registered: the names collide with ANSI EXTRACT(unit FROM ts) and
  * POSITION(needle IN str) (opposite argument order) and would corrupt
  * standard SQL. The UTF8-suffixed CH spellings cover the use case.
  */
object ChStringSearch {

  /** Word-boundary token pattern: token bounded by non-alphanumerics. */
  private def tokenPattern(token: Expression): Expression =
    Concat(Seq(Literal("(^|[^\\p{L}\\p{N}_])"), ChStrings.quoteMeta(token),
      Literal("([^\\p{L}\\p{N}_]|$)")))

  /** Characters of a string as a string array (no split("") edge cases). */
  private def chars(s: Expression): Expression =
    If(LessThanOrEqual(Length(s), Literal(0)),
      Literal.create(Array.empty[String], ArrayType(StringType)),
      ArrayTransform(Sequence(Literal(1), Length(s), Some(Literal(1))),
        lam1(i => Substring(s, i, Literal(1)))))

  /** Substring n-grams (FunctionsStringSimilarity.h uses n=4). */
  private def ngramsOf(s: Expression, n: Expression): Expression = {
    val len = Length(s)
    val ni = asInt(n)
    If(LessThan(len, ni),
      Literal.create(Array.empty[String], ArrayType(StringType)),
      ArrayTransform(
        Sequence(Literal(1), Add(Subtract(len, ni), Literal(1)), Some(Literal(1))),
        lam1(i => Substring(s, i, ni))))
  }

  // position.cpp arg order is (haystack, needle)
  private def positionCaseInsensitive(args: Seq[Expression]): Expression =
    StringLocate(Lower(args(1)), Lower(args(0)), Literal(1))

  private def countSubstrings(args: Seq[Expression]): Expression =
    If(LessThanOrEqual(Length(args(1)), Literal(0)), Literal(0),
      Cast(IntegralDivide(
        Cast(Subtract(Length(args(0)),
          Length(StringReplace(args(0), args(1), Literal("")))), LongType),
        Cast(Length(args(1)), LongType)), IntegerType))

  private def countSubstringsCaseInsensitive(args: Seq[Expression]): Expression =
    If(LessThanOrEqual(Length(args(1)), Literal(0)), Literal(0),
      Cast(IntegralDivide(
        Cast(Subtract(Length(args(0)),
          Length(StringReplace(Lower(args(0)), Lower(args(1)), Literal("")))), LongType),
        Cast(Length(args(1)), LongType)), IntegerType))

  private def hasToken(args: Seq[Expression]): Expression =
    RLike(args(0), tokenPattern(args(1)))

  private def hasTokenCaseInsensitive(args: Seq[Expression]): Expression =
    RLike(Lower(args(0)), tokenPattern(Lower(args(1))))

  private def byteHammingDistance(args: Seq[Expression]): Expression =
    ArrayAggregate(
      ZipWith(chars(args(0)), chars(args(1)),
        lam2((x, y) => If(EqualNullSafe(x, y), Literal(0), Literal(1)))),
      Literal(0), lam2(Add(_, _)), LambdaFunction.identity)

  // n-gram similarity (FunctionsStringSimilarity.h; DISTINCT-set variant
  // of the reference's multiset counts — same [0,1] range and ordering
  // behavior, documented deviation)
  private def ngramDistance(args: Seq[Expression]): Expression = {
    val a = ArrayDistinct(ngramsOf(args(0), Literal(4)))
    val b = ArrayDistinct(ngramsOf(args(1), Literal(4)))
    val den = Add(Size(a), Size(b))
    If(LessThanOrEqual(den, Literal(0)), Literal(0.0d),
      Subtract(Literal(1.0d),
        Divide(Multiply(Literal(2.0d),
          Cast(Size(ArrayIntersect(a, b)), DoubleType)), Cast(den, DoubleType))))
  }

  private def ngramSearch(args: Seq[Expression]): Expression = {
    val hay = ArrayDistinct(ngramsOf(args(0), Literal(4)))
    val needle = ArrayDistinct(ngramsOf(args(1), Literal(4)))
    If(LessThanOrEqual(Size(needle), Literal(0)), Literal(1.0d),
      Divide(Cast(Size(ArrayIntersect(needle, hay)), DoubleType),
        Cast(Size(needle), DoubleType)))
  }

  /** hasSubsequence (hasSubsequence.cpp): greedy one-pass scan — a fold
    * over the haystack characters advancing a needle cursor. Pure
    * higher-order-function tree, O(|haystack|). */
  private def hasSubsequence(h0: Expression, n0: Expression): Expression = {
    val h = Cast(h0, StringType)
    val n = Cast(n0, StringType)
    val acc = lv()
    val c = lv()
    val fin = lv()
    val step = LambdaFunction(
      Add(acc, If(And(LessThan(acc, Length(n)),
        EqualTo(c, Substring(n, Add(acc, Literal(1)), Literal(1)))),
        Literal(1), Literal(0))),
      Seq(acc, c))
    val finish = LambdaFunction(
      Cast(GreaterThanOrEqual(fin, Length(n)), IntegerType), Seq(fin))
    ArrayAggregate(StringSplit(h, Literal(""), Literal(-1)), Literal(0),
      step, finish)
  }

  private def hasSubsequenceCaseInsensitive(args: Seq[Expression]): Expression =
    hasSubsequence(Lower(Cast(args(0), StringType)),
      Lower(Cast(args(1), StringType)))

  /** Capture-group count of a literal Java regex (unescaped `(` not
    * opening a non-capturing / lookaround group). */
  private def groupCount(re: String): Int =
    java.util.regex.Pattern.compile(re).matcher("").groupCount()

  private def literalArg(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case _ => throw new IllegalArgumentException(
      s"$what must be a string literal")
  }

  /** extractAllGroupsVertical(s, 're') → one array PER MATCH holding its
    * groups (the zip of the horizontal form); extractAllGroups is its
    * alias. */
  private def extractAllGroupsVertical(args: Seq[Expression]): Expression = {
    val n = groupCount(literalArg(args(1),
      "extractAllGroupsVertical pattern"))
    val horiz = (1 to n).map(i =>
      RegExpExtractAll(args(0), args(1), Literal(i)))
    val idx = UnresolvedNamedLambdaVariable(Seq("ch_vrt_i"))
    // Sequence(1, 0) THROWS (descending without step) — zero matches
    // must yield an empty array, not an error
    If(LessThanOrEqual(Size(horiz.head), Literal(0)),
      Literal.create(Seq.empty[Seq[String]],
        ArrayType(ArrayType(StringType))),
      ArrayTransform(
        Sequence(Literal(1), Size(horiz.head), Some(Literal(1))),
        LambdaFunction(
          CreateArray(horiz.map(h => ElementAt(h, idx, None,
            failOnError = false))),
          Seq(idx))))
  }

  private val sdCls = classOf[graft.functions.StringDistanceKernels.type]

  /** multiFuzzyMatch* literal lane (haystack, distance, [patterns]) —
    * distance and the pattern array are plan constants, mirroring the
    * reference's constant-array requirement; regex-bearing patterns
    * reject at plan time (FuzzyMatchKernels.requireLiteralPatterns). */
  private def fuzzy(method: String, ret: DataType)
      (args: Seq[Expression]): Expression = {
    val k = args(1) match {
      case e if e.foldable => e.eval() match {
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"multiFuzzyMatch*: distance must be a constant integer, got $other")
      }
      case _ => throw new IllegalArgumentException(
        "multiFuzzyMatch*: distance must be a constant")
    }
    val pats = args(2) match {
      case e if e.foldable => e.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).map(a.getUTF8String(_).toString)
        case other => throw new IllegalArgumentException(
          s"multiFuzzyMatch*: patterns must be a constant array, got $other")
      }
      case _ => throw new IllegalArgumentException(
        "multiFuzzyMatch*: patterns must be a constant array")
    }
    graft.functions.FuzzyMatchKernels.requireLiteralPatterns(pats)
    StaticInvoke(classOf[graft.functions.FuzzyMatchKernels.type], ret,
      method, Seq(args.head, Literal(k), args(2)),
      Seq(StringType, IntegerType, ArrayType(StringType)))
  }

  val builders: Seq[(String, Builder)] = Seq(
    // NOTE: CH `extract(haystack, re)` and `position(haystack, needle)` are
    // NOT registered: the names collide with ANSI EXTRACT(unit FROM ts) and
    // POSITION(needle IN str) (opposite argument order) and would corrupt
    // standard SQL. The UTF8-suffixed CH spellings cover the use case.
    "match" -> (args => RLike(args(0), args(1))),
    "positionutf8" -> (args => StringLocate(args(1), args(0), Literal(1))),
    "extractutf8" -> (args => RegExpExtract(args(0), args(1), Literal(1))),
    // multiSearchAny / multiMatchAny (src/Functions/multiSearchAny.cpp,
    // MultiMatchAnyImpl.h): literal needle sets of >= 4 compile to ONE
    // Aho-Corasick automaton pass per row (the Hyperscan-class single-scan
    // structure — an OR-of-contains rescans the haystack once per needle);
    // smaller sets stay an OR-chain of codegen'd CONTAINS, where each
    // disjunct can still push into the scan as a string predicate.
    // Non-literal needle columns fall back to an EXISTS higher-order
    // lambda (interpreted, but fully general).
    "multisearchany" -> (args => args(1) match {
      case CreateArray(items, _) if items.isEmpty => Literal(false)
      case CreateArray(items, _)
          if items.size >= 4 && items.forall {
            case Literal(s, StringType) => s != null
            case _ => false
          } =>
        org.apache.spark.sql.graft.MultiSearchAnyAC(args(0),
          items.map { case Literal(s, StringType) => s.toString })
      case CreateArray(items, _) =>
        items.map(n => Contains(args(0), n): Expression).reduce(Or)
      case needles =>
        val x = NamedLambdaVariable("ms_n", StringType, nullable = true)
        ArrayExists(needles, LambdaFunction(Contains(args(0), x), Seq(x)))
    }),
    // Literal pattern sets COMBINE into one alternation regex
    // "(?:p1)|(?:p2)|…" — one compiled automaton pass per row instead of k
    // (the single-scan idea behind the reference's Hyperscan dispatch in
    // MultiMatchAnyImpl.h, rendered as a regex union). Patterns using
    // constructs that don't compose under alternation — inline flags /
    // lookaround "(?", or numbered backrefs whose group numbering would
    // shift — fall back to the OR-chain, which is still codegen'd.
    "multimatchany" -> (args => args(1) match {
      case CreateArray(items, _) if items.isEmpty => Literal(false)
      case CreateArray(items, _)
          if items.forall {
            case Literal(s, StringType) if s != null =>
              val p = s.toString
              !p.contains("(?") && !"\\\\[0-9]".r.findFirstIn(p).isDefined
            case _ => false
          } =>
        val combined = items.map { case Literal(s, StringType) =>
          s"(?:${s.toString})" }.mkString("|")
        RLike(args(0), Literal(combined))
      case CreateArray(items, _) =>
        items.map(n => RLike(args(0), n): Expression).reduce(Or)
      case patterns =>
        val x = NamedLambdaVariable("mm_p", StringType, nullable = true)
        ArrayExists(patterns, LambdaFunction(RLike(args(0), x), Seq(x)))
    }),
    "positioncaseinsensitive" -> positionCaseInsensitive _,
    "positioncaseinsensitiveutf8" -> positionCaseInsensitive _,
    "countsubstrings" -> countSubstrings _,
    "countsubstringsutf8" -> countSubstrings _,
    "countsubstringscaseinsensitive" -> countSubstringsCaseInsensitive _,
    "countsubstringscaseinsensitiveutf8" -> countSubstringsCaseInsensitive _,
    "countmatches" -> (args => RegExpCount(args(0), args(1))),
    "countmatchescaseinsensitive" -> (args =>
      RegExpCount(Lower(args(0)), Lower(args(1)))),
    "hastoken" -> hasToken _,
    "hastokenornull" -> hasToken _,
    "hastokencaseinsensitive" -> hasTokenCaseInsensitive _,
    "hastokencaseinsensitiveornull" -> hasTokenCaseInsensitive _,
    "regexpextract" -> (args =>
      RegExpExtract(args(0), args(1),
        if (args.length > 2) args(2) else Literal(1))),

    "regexp_matches" -> (args => RLike(args(0), args(1))),
    "notlike" -> (args => Not(Like(args(0), args(1), '\\'))),
    "notilike" -> (args => Not(Like(Lower(args(0)), Lower(args(1)), '\\'))),
    "startswithutf8" -> (args =>
      Cast(StartsWith(Cast(args(0), StringType), Cast(args(1), StringType)),
        IntegerType)),
    "endswithutf8" -> (args =>
      Cast(EndsWith(Cast(args(0), StringType), Cast(args(1), StringType)),
        IntegerType)),
    "hassubsequence" -> (args => hasSubsequence(args(0), args(1))),
    "hassubsequenceutf8" -> (args => hasSubsequence(args(0), args(1))),
    "hassubsequencecaseinsensitive" -> hasSubsequenceCaseInsensitive _,
    "hassubsequencecaseinsensitiveutf8" -> hasSubsequenceCaseInsensitive _,

    "extractall" -> (args => {
      val group = args(1) match {
        case Literal(s, StringType) if s.toString.contains("(") => 1
        case _ => 0
      }
      RegExpExtractAll(args(0), args(1), Literal(group))
    }),

    // extractGroups(s, 're') → array of the FIRST match's groups
    // (empty strings when no match — regexp_extract's contract).
    "extractgroups" -> (args => {
      val n = groupCount(literalArg(args(1), "extractGroups pattern"))
      CreateArray((1 to n).map(i =>
        RegExpExtract(args(0), args(1), Literal(i))))
    }),
    // extractAllGroupsHorizontal(s, 're') → one array PER GROUP holding
    // that group across all matches
    "extractallgroupshorizontal" -> (args => {
      val n = groupCount(literalArg(args(1),
        "extractAllGroupsHorizontal pattern"))
      CreateArray((1 to n).map(i =>
        RegExpExtractAll(args(0), args(1), Literal(i))))
    }),
    "extractallgroupsvertical" -> extractAllGroupsVertical _,
    "extractallgroups" -> extractAllGroupsVertical _,

    // --- compareSubstrings(s, t, off_s, off_t, n): sign, 0-based offsets
    "comparesubstrings" -> (args => {
      val a = Substring(args(0), Add(Cast(args(2), IntegerType), Literal(1)),
        Cast(args(4), IntegerType))
      val b = Substring(args(1), Add(Cast(args(3), IntegerType), Literal(1)),
        Cast(args(4), IntegerType))
      If(LessThan(a, b), Literal(-1), If(GreaterThan(a, b), Literal(1),
        Literal(0)))
    }),

    // ---- multiSearch / multiMatch matrix (MultiSearchAllPositions.h et al.) ----
    "multisearchallpositions" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType)))),
    "multisearchallpositionscaseinsensitive" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(Lower(n), Lower(args(0)), Literal(1)), LongType)))),
    "multisearchallpositionsutf8" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType)))),
    "multisearchfirstindex" -> (args =>
      ArrayPosition(ArrayTransform(args(1), lam1(n => Contains(args(0), n))),
        Literal(true))),
    "multisearchfirstposition" -> (args => {
      val ps = ArrayFilter(
        ArrayTransform(args(1),
          lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType))),
        lam1(p => GreaterThan(p, Literal(0L))))
      Coalesce(Seq(ArrayMin(ps), Literal(0L)))
    }),
    // Case-insensitive multiSearchAny: literal needle sets >= 4 lowercase
    // both sides and run the same single-pass Aho-Corasick automaton.
    "multisearchanycaseinsensitive" -> (args => args(1) match {
      case CreateArray(items, _)
          if items.size >= 4 && items.forall {
            case Literal(s, StringType) => s != null
            case _ => false
          } =>
        org.apache.spark.sql.graft.MultiSearchAnyAC(Lower(args(0)),
          items.map { case Literal(s, StringType) => s.toString.toLowerCase })
      case _ =>
        ArrayExists(ArrayTransform(args(1), lam1(n => Contains(Lower(args(0)), Lower(n)))),
          LambdaFunction.identity)
    }),
    "multisearchanyutf8" -> (args =>
      ArrayExists(ArrayTransform(args(1), lam1(n => Contains(args(0), n))),
        LambdaFunction.identity)),
    "multimatchanyindex" -> (args =>
      ArrayPosition(ArrayTransform(args(1), lam1(p => RLike(args(0), p))),
        Literal(true))),
    "multimatchallindices" -> (args =>
      ArrayFilter(
        Sequence(Literal(1), Size(args(1)), Some(Literal(1))),
        lam1(i => RLike(args(0), at(args(1), i))))),

    // Unicode strings: UTF8 twins are the base expression;
    // case-insensitive forms lowercase both sides
    "multisearchfirstindexutf8" -> (args =>
      ArrayPosition(ArrayTransform(args(1),
        lam1(n => Contains(args(0), n))), Literal(true))),
    "multisearchfirstindexcaseinsensitive" -> (args =>
      ArrayPosition(ArrayTransform(args(1),
        lam1(n => Contains(Lower(args(0)), Lower(n)))), Literal(true))),
    "multisearchfirstindexcaseinsensitiveutf8" -> (args =>
      ArrayPosition(ArrayTransform(args(1),
        lam1(n => Contains(Lower(args(0)), Lower(n)))), Literal(true))),
    "multisearchfirstpositionutf8" -> (args => {
      val ps = ArrayFilter(ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType))),
        lam1(p => GreaterThan(Cast(p, LongType), Literal(0L))))
      Coalesce(Seq(ArrayMin(ps), Literal(0L)))
    }),
    "multisearchfirstpositioncaseinsensitive" -> (args => {
      val ps = ArrayFilter(ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(Lower(n), Lower(args(0)), Literal(1)),
          LongType))),
        lam1(p => GreaterThan(Cast(p, LongType), Literal(0L))))
      Coalesce(Seq(ArrayMin(ps), Literal(0L)))
    }),
    "multisearchfirstpositioncaseinsensitiveutf8" -> (args => {
      val ps = ArrayFilter(ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(Lower(n), Lower(args(0)), Literal(1)),
          LongType))),
        lam1(p => GreaterThan(Cast(p, LongType), Literal(0L))))
      Coalesce(Seq(ArrayMin(ps), Literal(0L)))
    }),
    "multisearchanycaseinsensitiveutf8" -> (args =>
      ArrayExists(args(1),
        lam1(n => Contains(Lower(args(0)), Lower(n))))),
    "multisearchallpositionscaseinsensitiveutf8" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(Lower(n), Lower(args(0)), Literal(1)),
          LongType)))),
    // -- Hyperscan fuzzy family, literal lane (MultiMatchAnyImpl.h
    // edit-distance compilation; exact Sellers approximate-substring
    // semantics for metacharacter-free patterns, loud plan-time reject
    // for regex patterns)
    "multifuzzymatchany" -> fuzzy("fuzzyAny", BooleanType) _,
    "multifuzzymatchanyindex" -> fuzzy("fuzzyAnyIndex", LongType) _,
    "multifuzzymatchallindices" ->
      fuzzy("fuzzyAllIndices", ArrayType(LongType)) _,

    // ---- similarity and distances ----
    // ---- n-gram similarity (FunctionsStringSimilarity.h; DISTINCT-set
    // variant of the reference's multiset counts — same [0,1] range and
    // ordering behavior, documented deviation) ----
    "ngrams" -> (args => ngramsOf(args(0), args(1))),
    "ngramdistance" -> ngramDistance _,
    "ngramdistanceutf8" -> ngramDistance _,
    "ngramdistancecaseinsensitive" -> (args =>
      ngramDistance(args.map(a => Lower(a)))),
    "ngramdistancecaseinsensitiveutf8" -> (args =>
      ngramDistance(args.map(a => Lower(a)))),
    "ngramsearch" -> ngramSearch _,
    "ngramsearchutf8" -> ngramSearch _,
    "ngramsearchcaseinsensitive" -> (args =>
      ngramSearch(args.map(a => Lower(a)))),
    "ngramsearchcaseinsensitiveutf8" -> (args =>
      ngramSearch(args.map(a => Lower(a)))),
    "bytehammingdistance" -> byteHammingDistance _,
    "mismatches" -> byteHammingDistance _,

    // editDistance == Spark's codegen'd Levenshtein (+ the reference's
    // levenshteinDistance alias); UTF8 variant is the same (Spark is
    // already code-point based). The rest are static kernels — see
    // functions/StringDistanceKernels.scala for the faithful quirks
    // (OSA not unrestricted DL; jaro's empty-side length shortcut).
    "editdistance" -> (args => Levenshtein(args(0), args(1))),
    "editdistanceutf8" -> (args => Levenshtein(args(0), args(1))),
    "levenshteindistance" -> (args => Levenshtein(args(0), args(1))),
    "levenshteindistanceutf8" -> (args => Levenshtein(args(0), args(1))),
    "dameraulevenshteindistance" -> (args =>
      StaticInvoke(sdCls, IntegerType, "damerauLevenshtein",
        Seq(args(0), args(1)), Seq(StringType, StringType))),
    "jarosimilarity" -> (args =>
      StaticInvoke(sdCls, DoubleType, "jaro",
        Seq(args(0), args(1)), Seq(StringType, StringType))),
    "jarowinklersimilarity" -> (args =>
      StaticInvoke(sdCls, DoubleType, "jaroWinkler",
        Seq(args(0), args(1)), Seq(StringType, StringType))),
    "stringjaccardindex" -> (args =>
      StaticInvoke(sdCls, DoubleType, "jaccardBytes",
        Seq(args(0), args(1)), Seq(StringType, StringType))),
    "stringjaccardindexutf8" -> (args =>
      StaticInvoke(sdCls, DoubleType, "jaccardCodepoints",
        Seq(args(0), args(1)), Seq(StringType, StringType))))
}
