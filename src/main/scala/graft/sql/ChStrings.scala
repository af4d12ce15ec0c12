package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.{Base32Decode, Base32Encode, Base58Decode, Base58Encode}
import org.apache.spark.sql.types._

import ChBuild._

/** String functions (src/Functions/ string sources, FunctionsStringArray,
  * base64Encode.cpp, base58Encode.cpp, base32Encode.cpp, formatReadable.h,
  * format.cpp, normalizeString.cpp, punycode.cpp, idna.cpp,
  * formatQuery.cpp, normalizeQuery.cpp, tokens.cpp, stem.cpp,
  * lemmatize.cpp, synonyms.cpp, convertCharset.cpp) and the JSON family
  * (FunctionsJSON.cpp, FunctionsVisitParam.h, jsonMergePatch.cpp): case,
  * trim, pad, replace and split, the text codecs, human-readable
  * rendering, and JSON extraction over the text carrier.
  *
  * Spark strings are Unicode, so the UTF8-suffixed spellings share the
  * base expression.
  */
object ChStrings {

  /** Regex-escape (regexpQuoteMeta.cpp) — same class the dialect's
    * splitByChar rewrite uses. */
  private[sql] def quoteMeta(s: Expression): Expression =
    RegExpReplace(s, Literal("([\\\\^$.|?*+()\\[\\]{}])"), Literal("\\\\$1"))

  private def jsonPath(name: Expression): Expression =
    Concat(Seq(Literal("$."), name))

  /** JSONExtract path from variadic key/index args: string keys → `.key`,
    * 1-based integer indices → `[i-1]` (FunctionsJSON.cpp indexing). */
  private def jsonPathOf(keys: Seq[Expression]): Expression =
    Concat(Literal("$") +: keys.map {
      case Literal(i: Int, IntegerType) => Literal(s"[${i - 1}]"): Expression
      case k => Concat(Seq(Literal("."), Cast(k, StringType))): Expression
    })

  private def jsonPaths(args: Seq[Expression],
      method: String): Expression =
    sweep9(ArrayType(StringType), method,
      Seq(Cast(args.head, StringType)), Seq(StringType))

  /** extractKeyValuePairs(s[, kvDelim[, pairDelim]])
    * (extractKeyValuePairs.cpp); the escaping spelling and mapFromString
    * are registered aliases of it. */
  private def extractKeyValuePairs(args: Seq[Expression]): Expression =
    args.length match {
      case 1 => StringToMap(args.head, Literal(","), Literal(":"))
      case 2 => StringToMap(args.head, Literal(","), args(1))
      case _ => StringToMap(args.head, args(2), args(1))
    }

  /** RFC 4648 §5 URL-safe alphabet, unpadded (base64UrlEncode.cpp) —
    * translate over the standard codec plus pad arithmetic. */
  private def base64UrlDecode(args: Seq[Expression]): Expression = {
    val std = StringTranslate(args.head, Literal("-_"), Literal("+/"))
    val pad = StringRepeat(Literal("="),
      Pmod(Subtract(Literal(4), Pmod(Length(args.head), Literal(4))),
        Literal(4)))
    Cast(UnBase64(Concat(Seq(std, pad))), StringType)
  }

  // ---- readable renderings (formatReadable.h) -------------------------

  private def noThousands(e: Expression): Expression =
    StringReplace(e, Literal(","), Literal(""))

  private def readableScaled(v: Expression,
      units: Seq[(Double, String)], base: String): Expression = {
    val d = asDouble(v)
    val branches = units.map { case (scale, unit) =>
      (GreaterThanOrEqual(Abs(d), Literal(scale)),
        Concat(Seq(noThousands(FormatNumber(Divide(d, Literal(scale)), Literal(2))),
          Literal(" " + unit))): Expression)
    }
    CaseWhen(branches,
      Some(Concat(Seq(noThousands(FormatNumber(d, Literal(2))),
        Literal(if (base.isEmpty) "" else " " + base)))))
  }

  private def plural(n: Expression, word: String): Expression =
    Concat(Seq(Cast(n, StringType), Literal(" " + word),
      If(EqualTo(n, Literal(1L)), Literal(""), Literal("s"))))

  /** parseReadableSize (parseReadableSize.cpp): number + ISO/IEC 80000-13
    * binary or decimal unit → ceil'd byte count. Long carrier (documented
    * cap: values above 2^63 are out of range; the reference's UInt64 top
    * bit is not reachable with realistic sizes). Unparseable → NULL (the
    * OrNull twin; the throwing form is rendered identically). */
  private def parseReadableSize(s0: Expression): Expression = {
    val s = Cast(s0, StringType)
    val re = "^\\s*([0-9]+(?:\\.[0-9]+)?)\\s*([a-zA-Z]+)\\s*$"
    val numS = RegExpExtract(s, Literal(re), Literal(1))
    val unit = Lower(RegExpExtract(s, Literal(re), Literal(2)))
    def f(u: String, factor: Double): (Expression, Expression) =
      (EqualTo(unit, Literal(u)), Literal(factor))
    val factor = CaseWhen(Seq(
      f("b", 1d),
      f("kib", 1024d), f("mib", 1024d * 1024),
      f("gib", 1024d * 1024 * 1024), f("tib", 1024d * 1024 * 1024 * 1024),
      f("pib", math.pow(1024d, 5)), f("eib", math.pow(1024d, 6)),
      f("kb", 1e3), f("mb", 1e6), f("gb", 1e9), f("tb", 1e12),
      f("pb", 1e15), f("eb", 1e18)),
      Literal.create(null, DoubleType))
    If(EqualTo(numS, Literal("")), Literal.create(null, LongType),
      Ceil(Multiply(Cast(numS, DoubleType), factor)))
  }

  /** IDN / punycode / Unicode normalization through StringBridge. */
  private def textBridge(method: String, arg: Expression): Expression =
    bridge(method, StringType, Seq(arg), Seq(StringType))

  private def bin(e: Expression): Expression = Cast(e, BinaryType)

  private val jsonCls = classOf[graft.functions.JsonKernels.type]
  private val qnCls = classOf[graft.functions.QueryNormKernels.type]
  private val fmtCls = classOf[graft.functions.QueryFormatKernels.type]

  private def fmt(method: String)(args: Seq[Expression]): Expression =
    StaticInvoke(fmtCls, StringType, method, Seq(args.head),
      Seq(StringType))

  private def lambda1(f: Expression => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq("ch_t6_x"))
    LambdaFunction(f(x), Seq(x))
  }

  private val nlpCls = classOf[graft.functions.NlpKernels.type]

  /** Constant dictionary-name argument → its registered content, as a
    * plan literal (the reference requires a constant name too; the
    * lemmatizer/extension loads once per query, here at plan time). */
  private def nlpBlob(nameArg: Expression,
      blobOf: String => String): Expression = {
    val name = nameArg match {
      case e if e.foldable => e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => String.valueOf(other)
      }
      case _ => throw new IllegalArgumentException(
        "the dictionary name argument must be a constant string " +
          "(the reference requires a ColumnConst too)")
    }
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
      blobOf(name)), StringType)
  }

  /** lemmatize('dict', word) — dictionary lookup, misses pass the word
    * through unchanged (lemmatize.cpp over Lemmatizers.h). */
  private def lemmatizeFn(args: Seq[Expression]): Expression =
    StaticInvoke(nlpCls, StringType, "lemmatizeDict",
      Seq(nlpBlob(args.head, graft.functions.NlpDictionaries.lemmaBlob),
        args(1)), Seq(StringType, StringType))

  /** synonyms('ext', token) → Array(String) — the synset containing the
    * token, empty array on miss (synonyms.cpp over
    * SynonymsExtensions.h). The kernel returns a U+0001-joined string
    * (NULL on miss) that splits into the array here. */
  private def synonymsFn(args: Seq[Expression]): Expression = {
    val inv = StaticInvoke(nlpCls, StringType, "synonymsDict",
      Seq(nlpBlob(args.head, graft.functions.NlpDictionaries.synBlob),
        args(1)), Seq(StringType, StringType))
    If(IsNull(args(1)),
      Literal.create(null, ArrayType(StringType)),
      If(IsNull(inv),
        Literal.create(Array.empty[String], ArrayType(StringType)),
        StringSplit(inv, Literal("\u0001"), Literal(-1))))
  }

  val builders: Seq[(String, Builder)] = Seq(
    "lowerutf8" -> (args => Lower(args.head)),
    "upperutf8" -> (args => Upper(args.head)),
    "substringutf8" -> (args => Substring(args(0), args(1), args(2))),
    "lengthutf8" -> (args => Length(args.head)),
    "empty" -> (args => EqualTo(Length(args.head), Literal(0))),
    "notempty" -> (args => GreaterThan(Length(args.head), Literal(0))),
    "concatassumeinjective" -> (args => Concat(args)),
    "replaceall" -> (args => StringReplace(args(0), args(1), args(2))),
    "leftpad" -> (args => StringLPad(args(0), args(1),
      if (args.length > 2) args(2) else Literal(" "))),
    "rightpad" -> (args => StringRPad(args(0), args(1),
      if (args.length > 2) args(2) else Literal(" "))),
    "substringindex" -> (args => SubstringIndex(args(0), args(1), args(2))),
    "trimboth" -> (args => StringTrim(args.head)),
    "trimleft" -> (args => StringTrimLeft(args.head)),
    "trimright" -> (args => StringTrimRight(args.head)),
    "concatwithseparator" -> (args => ConcatWs(args)),
    "concatwithseparatorassumeinjective" -> (args => ConcatWs(args)),
    "replaceregexpall" -> (args => RegExpReplace(args(0), args(1), args(2))),
    "splitbychar" -> (args => StringSplit(args(1),
      RegExpReplace(args(0), Literal("([\\\\^$.|?*+()\\[\\]{}])"), Literal("\\\\$1")), Literal(-1))),
    "base64encode" -> (args => Base64(Cast(args.head, BinaryType))),
    "base64decode" -> (args => Cast(UnBase64(args.head), StringType)),

    "appendtrailingcharifabsent" -> (args =>
      If(EndsWith(args(0), args(1)), args(0), Concat(Seq(args(0), args(1))))),
    "firstline" -> (args =>
      RegExpExtract(args.head, Literal("[^\\r\\n]*"), Literal(0))),
    "basename" -> (args =>
      RegExpExtract(args.head, Literal("[^/\\\\]*$"), Literal(0))),
    "regexpquotemeta" -> (args => quoteMeta(args.head)),
    "translateutf8" -> (args => StringTranslate(args(0), args(1), args(2))),
    "reverseutf8" -> (args => Reverse(args.head)),

    "splitbystring" -> (args =>
      StringSplit(args(1), quoteMeta(args(0)), Literal(-1))),
    "splitbyregexp" -> (args => StringSplit(args(1), args(0), Literal(-1))),
    "splitbywhitespace" -> (args =>
      ArrayRemove(StringSplit(args.head, Literal("\\s+"), Literal(-1)), Literal(""))),
    "splitbynonalpha" -> (args =>
      ArrayRemove(StringSplit(args.head, Literal("[^\\p{L}\\p{N}]+"), Literal(-1)),
        Literal(""))),
    "alphatokens" -> (args =>
      ArrayRemove(StringSplit(args.head, Literal("[^\\p{L}]+"), Literal(-1)),
        Literal(""))),
    "extractkeyvaluepairs" -> extractKeyValuePairs _,
    "extractkeyvaluepairswithescaping" -> extractKeyValuePairs _,
    // mapFromString → extractKeyValuePairs (extractKeyValuePairs.cpp:255)
    "mapfromstring" -> extractKeyValuePairs _,
    "initcaputf8" -> (args => InitCap(args.head)),
    // Spark strings are validated on read
    "isvalidutf8" -> (_ => Literal(true)),
    "tovalidutf8" -> (args => args.head),
    "mid" -> (args => Substring(args(0), args(1), args(2))),

    "encodexmlcomponent" -> (args =>
      StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(args.head,
          Literal("&"), Literal("&amp;")),
        Literal("<"), Literal("&lt;")),
        Literal(">"), Literal("&gt;")),
        Literal("\""), Literal("&quot;")),
        Literal("'"), Literal("&#39;"))),
    "decodexmlcomponent" -> (args =>
      StringReplace(StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(args.head,
          Literal("&lt;"), Literal("<")),
        Literal("&gt;"), Literal(">")),
        Literal("&quot;"), Literal("\"")),
        Literal("&#39;"), Literal("'")),
        Literal("&apos;"), Literal("'")),
        Literal("&amp;"), Literal("&"))),
    "decodehtmlcomponent" -> (args =>
      StringReplace(StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(args.head,
          Literal("&lt;"), Literal("<")),
        Literal("&gt;"), Literal(">")),
        Literal("&quot;"), Literal("\"")),
        Literal("&#39;"), Literal("'")),
        Literal("&nbsp;"), Literal(" ")),
        Literal("&amp;"), Literal("&"))),
    "extracttextfromhtml" -> (args =>
      StringTrim(RegExpReplace(RegExpReplace(RegExpReplace(args.head,
        Literal("(?is)<(script|style)[^>]*>.*?</\\1>"), Literal(" ")),
        Literal("<[^>]*>"), Literal(" ")),
        Literal("\\s+"), Literal(" ")))),

    "formatreadablesize" -> (args => readableScaled(args.head, Seq(
      math.pow(1024, 6) -> "EiB", math.pow(1024, 5) -> "PiB",
      math.pow(1024, 4) -> "TiB", math.pow(1024, 3) -> "GiB",
      math.pow(1024, 2) -> "MiB", 1024.0 -> "KiB"), "B")),
    "format_bytes" -> (args => readableScaled(args.head, Seq(
      math.pow(1024, 6) -> "EiB", math.pow(1024, 5) -> "PiB",
      math.pow(1024, 4) -> "TiB", math.pow(1024, 3) -> "GiB",
      math.pow(1024, 2) -> "MiB", 1024.0 -> "KiB"), "B")),
    "formatreadabledecimalsize" -> (args => readableScaled(args.head, Seq(
      1e18 -> "EB", 1e15 -> "PB", 1e12 -> "TB", 1e9 -> "GB",
      1e6 -> "MB", 1e3 -> "KB"), "B")),
    "formatreadablequantity" -> (args => readableScaled(args.head, Seq(
      1e12 -> "trillion", 1e9 -> "billion", 1e6 -> "million",
      1e3 -> "thousand"), "")),
    "formatreadabletimedelta" -> (args => {
      val s = asLong(args.head)
      val d = IntegralDivide(s, Literal(86400L))
      val h = IntegralDivide(Pmod(s, Literal(86400L)), Literal(3600L))
      val m = IntegralDivide(Pmod(s, Literal(3600L)), Literal(60L))
      val sec = Pmod(s, Literal(60L))
      val parts = CreateArray(Seq(
        If(GreaterThan(d, Literal(0L)), plural(d, "day"),
          Literal.create(null, StringType)),
        If(GreaterThan(h, Literal(0L)), plural(h, "hour"),
          Literal.create(null, StringType)),
        If(GreaterThan(m, Literal(0L)), plural(m, "minute"),
          Literal.create(null, StringType)),
        If(Or(GreaterThan(sec, Literal(0L)), EqualTo(s, Literal(0L))),
          plural(sec, "second"), Literal.create(null, StringType))))
      ArrayJoin(ArrayFilter(parts, lam1(p => IsNotNull(p))), Literal(", "), None)
    }),
    // format('{} {}', ...) / format('{0} {1}', ...) (format.cpp)
    "format" -> (args => {
      val fmt = fmtArg(args.head)
      val positional = "\\{(\\d+)\\}".r
      val translated =
        if (positional.findFirstIn(fmt).isDefined)
          positional.replaceAllIn(fmt.replace("%", "%%"),
            m => "%" + (m.group(1).toInt + 1) + "\\$s")
        else fmt.replace("%", "%%").replace("{}", "%s")
      FormatString(Literal(translated) +: args.tail: _*)
    }),

    "idnaencode" -> (args => textBridge("idnaEncode", args.head)),
    "idnadecode" -> (args => textBridge("idnaDecode", args.head)),
    "tryidnaencode" -> (args => textBridge("tryIdnaEncode", args.head)),
    "punycodeencode" -> (args => textBridge("punycodeEncode", args.head)),
    "punycodedecode" -> (args => textBridge("punycodeDecode", args.head)),
    "trypunycodedecode" -> (args => textBridge("tryPunycodeDecode", args.head)),
    "normalizeutf8nfc" -> (args => textBridge("nfc", args.head)),
    "normalizeutf8nfd" -> (args => textBridge("nfd", args.head)),
    "normalizeutf8nfkc" -> (args => textBridge("nfkc", args.head)),
    "normalizeutf8nfkd" -> (args => textBridge("nfkd", args.head)),
    // multimodal metadata (engine extension, no reference analog): real
    // header parsing for the binary image/audio columns of the LLM pipeline
    "imagedimensions" -> (args => bridge("imageDimensions", StringType,
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "audioinfo" -> (args => bridge("audioInfo", StringType,
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "parsereadablesize" -> (args => parseReadableSize(args.head)),
    "parsereadablesizeornull" -> (args => parseReadableSize(args.head)),
    "parsereadablesizeorzero" -> (args =>
      Coalesce(Seq(parseReadableSize(args.head), Literal(0L)))),

    "byteslice" -> (args => Substring(args(0),
      Cast(args(1), IntegerType), Cast(args(2), IntegerType))),

    // ---- text codecs ----
    "base64urlencode" -> (args =>
      RegExpReplace(
        StringTranslate(Base64(Cast(args.head, BinaryType)),
          Literal("+/"), Literal("-_")),
        Literal("=+$"), Literal(""), Literal(1))),
    "base64urldecode" -> base64UrlDecode _,
    "trybase64urldecode" -> (args => TryEval(base64UrlDecode(args))),

    "to_base64" -> (args => Base64(Cast(args.head, BinaryType))),
    "from_base64" -> (args => Cast(UnBase64(args.head), StringType)),
    "trybase64decode" -> (args => Cast(UnBase64(args.head), StringType)),

    "base58encode" -> (args => Base58Encode(args.head)),
    "base58decode" -> (args => Base58Decode(args.head)),
    "base32encode" -> (args => Base32Encode(args.head)),
    "base32decode" -> (args => Base32Decode(args.head)),
    // tryBase*Decode: NULL on malformed input (the reference's try* lane)
    // — TryEval wraps the strict decoder
    "trybase58decode" -> (args => TryEval(Base58Decode(args.head))),
    "trybase32decode" -> (args => TryEval(Base32Decode(args.head))),
    "unbin" -> (args => Cast(sweep6(BinaryType, "unbin",
      Seq(Cast(args.head, StringType)), Seq(StringType)), StringType)),

    "replaceone" -> (args => {
      val (s, pat, rep) = (args(0), args(1), args(2))
      val pos = StringLocate(pat, s, Literal(1))
      If(EqualTo(pos, Literal(0)), s,
        Concat(Seq(
          Substring(s, Literal(1), Subtract(pos, Literal(1))), rep,
          Substring(s, Add(pos, Length(pat)), Literal(Int.MaxValue)))))
    }),
    "replaceregexpone" -> (args => sweep6(StringType, "replaceRegexpOne",
      args.take(3).map(Cast(_, StringType)), Seq.fill(3)(StringType))),
    "splitbyalpha" -> (args =>
      ArrayFilter(
        StringSplit(Cast(args.head, StringType), Literal("[^A-Za-z]+"),
          Literal(-1)),
        lambda1(x => GreaterThan(Length(x), Literal(0))))),
    "tostringcuttozero" -> (args =>
      ElementAt(StringSplit(Cast(args.head, StringType),
        Literal("\u0000"), Literal(-1)), Literal(1), None,
        failOnError = false)),
    "visiblewidth" -> (args => Length(Cast(args.head, StringType))),

    // ---- sqids (sqid.cpp — published sqids spec, default alphabet,
    // no blocklist; vectors pinned in q_fn_sqids) ----------------------
    "sqid" -> (args => sweep6(StringType, "sqidEncode",
      Seq(CreateArray(args.map(Cast(_, LongType)))),
      Seq(ArrayType(LongType)))),
    "sqidencode" -> (args => sweep6(StringType, "sqidEncode",
      Seq(CreateArray(args.map(Cast(_, LongType)))),
      Seq(ArrayType(LongType)))),
    "sqiddecode" -> (args => sweep6(ArrayType(LongType), "sqidDecode",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "stringbytesentropy" -> (args => sweep7(DoubleType, "stringBytesEntropy",
      Seq(bin(args.head)), Seq(BinaryType))),
    "stringbytesuniq" -> (args => sweep7(LongType, "stringBytesUniq",
      Seq(bin(args.head)), Seq(BinaryType))),
    "convertcharset" -> (args => sweep8(StringType, "convertCharset",
      Seq(Cast(args(0), BinaryType), Cast(args(1), StringType),
        Cast(args(2), StringType)),
      Seq(BinaryType, StringType, StringType))),

    // ---- query text (normalizeQuery.cpp over
    //      Parsers/queryNormalization.cpp; formatQuery.cpp) ----
    "normalizequery" -> (args => StaticInvoke(qnCls, StringType,
      "normalizeQuery", args.take(1), Seq(StringType))),
    "normalizequerykeepnames" -> (args => StaticInvoke(qnCls, StringType,
      "normalizeQueryKeepNames", args.take(1), Seq(StringType))),
    "formatquery" -> fmt("formatQuery") _,
    "formatqueryornull" -> fmt("formatQueryOrNull") _,
    "formatquerysingleline" -> fmt("formatQuerySingleLine") _,
    "formatquerysinglelineornull" -> fmt("formatQuerySingleLineOrNull") _,

    // ---- NLP (tokens.cpp, stem.cpp; dictionary-backed lemmatize.cpp /
    //      synonyms.cpp over session-registered dictionaries) ----
    // NLP minimal pack (src/Functions/tokens.cpp, stem.cpp). `tokens`
    // splits on non-alphanumeric runs; `stem` is a deterministic
    // suffix-stripping heuristic (the reference links libstemmer — not in
    // this environment; same honest-heuristic stance as detectLanguage).
    "tokens" -> (args =>
      ArrayRemove(
        StringSplit(args.head, Literal("[^\\p{L}\\p{N}_]+"), Literal(-1)),
        Literal(""))),
    "stem" -> (args => {
      val w = Lower(if (args.length == 2) args(1) else args.head)
      // order matters: sses→ss, ies→i, -ing/-ed/-ly after a 3+ letter stem,
      // then trailing plural s (not -ss).
      RegExpReplace(
        RegExpReplace(
          RegExpReplace(
            RegExpReplace(w, Literal("sses$"), Literal("ss")),
            Literal("ies$"), Literal("i")),
          Literal("([a-z]{3,})(ing|edly|ed|ly)$"), Literal("$1")),
        Literal("([a-z]+[^su])s$"), Literal("$1"))
    }),
    "lemmatize" -> lemmatizeFn _,
    "synonyms" -> synonymsFn _,
    "bar" -> (args => {
      val x = Cast(args(0), DoubleType)
      val mn = Cast(args(1), DoubleType)
      val mx = Cast(args(2), DoubleType)
      val w = if (args.length >= 4) Cast(args(3), DoubleType) else Literal(80.0)
      val width = Multiply(Divide(Subtract(x, mn), Subtract(mx, mn)), w)
      val clamped = Least(Seq(Greatest(Seq(width, Literal(0.0))), w))
      val full = Cast(Floor(clamped), IntegerType)
      val frac = Cast(Multiply(Subtract(clamped, Floor(clamped)), Literal(8.0)), IntegerType)
      Concat(Seq(
        StringRepeat(Literal("█"), full),
        If(GreaterThan(frac, Literal(0)),
          Substring(Literal("▏▎▍▌▋▊▉"), frac, Literal(1)),
          Literal(""))))
    }),

    // ---- JSON (FunctionsVisitParam.h, FunctionsJSON.cpp) ----
    // missing field → empty string (FunctionsVisitParam.h), not NULL
    "simplejsonextractstring" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "simplejsonextractraw" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "simplejsonextractint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "simplejsonextractuint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "simplejsonextractfloat" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        DoubleType, None, EvalMode.TRY), Literal(0.0d)))),
    "simplejsonextractbool" -> (args =>
      EqualNullSafe(GetJsonObject(args(0), jsonPath(args(1))), Literal("true"))),
    "simplejsonhas" -> (args =>
      IsNotNull(GetJsonObject(args(0), jsonPath(args(1))))),
    "visitparamextractstring" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "visitparamextractraw" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "visitparamextractint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "visitparamextractuint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "visitparamextractfloat" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        DoubleType, None, EvalMode.TRY), Literal(0.0d)))),
    "visitparamextractbool" -> (args =>
      EqualNullSafe(GetJsonObject(args(0), jsonPath(args(1))), Literal("true"))),
    "visitparamhas" -> (args =>
      IsNotNull(GetJsonObject(args(0), jsonPath(args(1))))),
    "jsonarraylength" -> (args => LengthOfJsonArray(args.head)),
    "tojsonstring" -> (args => StructsToJson(Map.empty, args.head)),

    // ---- JSONExtract family (FunctionsJSON.cpp): variadic key/index
    // path navigation; 1-based array indices; missing → type default ----
    "jsonextractstring" -> (args =>
      Coalesce(Seq(GetJsonObject(args.head, jsonPathOf(args.tail)), Literal("")))),
    "jsonextractraw" -> (args =>
      Coalesce(Seq(GetJsonObject(args.head, jsonPathOf(args.tail)), Literal("")))),
    "jsonextractint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args.head, jsonPathOf(args.tail)),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "jsonextractuint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args.head, jsonPathOf(args.tail)),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "jsonextractfloat" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args.head, jsonPathOf(args.tail)),
        DoubleType, None, EvalMode.TRY), Literal(0.0d)))),
    "jsonextractbool" -> (args =>
      EqualNullSafe(GetJsonObject(args.head, jsonPathOf(args.tail)),
        Literal("true"))),
    "jsonhas" -> (args =>
      IsNotNull(GetJsonObject(args.head, jsonPathOf(args.tail)))),
    "jsonlength" -> (args => {
      val sub = if (args.length == 1) args.head
        else GetJsonObject(args.head, jsonPathOf(args.tail))
      Coalesce(Seq(LengthOfJsonArray(sub), Size(JsonObjectKeys(sub)), Literal(0)))
    }),
    "jsonextractkeys" -> (args => {
      val sub = if (args.length == 1) args.head
        else GetJsonObject(args.head, jsonPathOf(args.tail))
      JsonObjectKeys(sub)
    }),
    "jsonextractarrayraw" -> (args => {
      val sub = if (args.length == 1) args.head
        else GetJsonObject(args.head, jsonPathOf(args.tail))
      val n = LengthOfJsonArray(sub)
      val i = lv()
      If(Or(IsNull(n), LessThanOrEqual(n, Literal(0))),
        Literal.create(Array.empty[String], ArrayType(StringType)),
        ArrayTransform(
          Sequence(Literal(0), Subtract(n, Literal(1)), Some(Literal(1))),
          LambdaFunction(GetJsonObject(sub,
            Concat(Seq(Literal("$["), Cast(i, StringType), Literal("]")))),
            Seq(i))))
    }),
    "jsontype" -> (args => {
      val raw = GetJsonObject(args.head, jsonPathOf(args.tail))
      val c = Substring(raw, Literal(1), Literal(1))
      CaseWhen(Seq(
        (IsNull(raw), Literal("Null")),
        (EqualTo(c, Literal("{")), Literal("Object")),
        (EqualTo(c, Literal("[")), Literal("Array")),
        (In(raw, Seq(Literal("true"), Literal("false"))), Literal("Bool")),
        (RLike(raw, Literal("^-?[0-9]")), Literal("Double"))),
        Some(Literal("String")))
    }),

    // --- JSONMergePatch (jsonMergePatch.cpp, RFC 7386; variadic left
    // fold like the reference's pairwise apply) -------------------------
    "jsonmergepatch" -> (args => args.reduceLeft((acc, p) =>
      StaticInvoke(jsonCls, StringType, "mergePatch", Seq(acc, p),
        Seq(StringType, StringType)))),

    // JSON path introspection over the text/Variant carrier
    "jsonallpaths" -> (args => jsonPaths(args, "jsonAllPaths")),
    "jsondynamicpaths" -> (args => jsonPaths(args, "jsonAllPaths")),
    "jsonallpathswithtypes" -> (args =>
      sweep9(MapType(StringType, StringType), "jsonAllPathsWithTypes",
        Seq(Cast(args.head, StringType)), Seq(StringType))),
    "jsondynamicpathswithtypes" -> (args =>
      sweep9(MapType(StringType, StringType), "jsonAllPathsWithTypes",
        Seq(Cast(args.head, StringType)), Seq(StringType))),
    "jsonshareddatapaths" -> (_ =>
      Literal.create(Seq.empty[String], ArrayType(StringType))),
    "jsonshareddatapathswithtypes" -> (_ =>
      Literal.create(Map.empty[String, String],
        MapType(StringType, StringType))))
}
