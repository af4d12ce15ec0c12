package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.{GeohashDecode, GeohashEncode, GeohashesInBox, HilbertDecode2, HilbertEncode2}
import org.apache.spark.sql.types._

import ChBuild._

/** URL, IP and geo functions (src/Functions/URL/, FunctionsCodingIP.cpp,
  * isIPAddressContainedIn.cpp, greatCircleDistance.cpp, geohashEncode.cpp,
  * hilbertEncode.cpp, pointInPolygon.cpp, pointInEllipses.cpp, readWkt.cpp,
  * FunctionsEmbeddedDictionaries.h, FirstSignificantSubdomainCustomImpl.h).
  *
  * URL parts ride java.net.URI via Spark's ParseUrl (HOST/PATH/QUERY/REF/
  * PROTOCOL/FILE/AUTHORITY); the scheme-less forms the reference accepts
  * fall back to a regex extract. firstSignificantSubdomain uses the same
  * public-suffix heuristic the reference ships for its default list
  * (com/net/org/co/gov/edu/mil second-levels under a cc TLD); the
  * *Custom forms read session-registered public-suffix lists. The *RFC
  * twins differ from the plain forms only on exotic hosts
  * (IP-literals/trailing dots) — same extraction here.
  *
  * Session-registered data (TLD lists, geobases) resolves its constant
  * NAME argument at plan time; the CONTENT travels as a plan literal —
  * executor-local at any cluster size, like a broadcast dim, never a
  * driver-global lookup from a task.
  */
object ChUrlIpGeo {

  private def part(url: Expression, p: String): Expression =
    ParseUrl(Seq(url, Literal(p)), failOnError = false)

  /** HOST with a scheme-less fallback (the reference accepts bare
    * "example.com/path"). */
  private def host(url: Expression): Expression =
    Coalesce(Seq(part(url, "HOST"),
      RegExpExtract(url, Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)"), Literal(1))))

  private val sldSet: Seq[String] = Seq("com", "net", "org", "co", "gov", "edu", "mil")

  /** ["news","yandex","com","tr"] → index (1-based) of the first
    * significant label: n-2 when the 2nd-level is a public-suffix word
    * under a cc TLD, else n-1. */
  private def fssIndex(parts: Expression): Expression = {
    val n = Size(parts)
    val sld = at(parts, Subtract(n, Literal(1)))
    If(And(GreaterThanOrEqual(n, Literal(3)),
        In(sld, sldSet.map(Literal(_)))),
      Subtract(n, Literal(2)), Subtract(n, Literal(1)))
  }

  private def domainParts(url: Expression): Expression =
    StringSplit(host(url), Literal("\\."), Literal(-1))

  private def firstSignificantSubdomain(url: Expression): Expression = {
    val parts = domainParts(url)
    If(LessThanOrEqual(Size(parts), Literal(1)), host(url),
      at(parts, fssIndex(parts)))
  }

  private def cutToFirstSignificantSubdomain(url: Expression): Expression = {
    val parts = domainParts(url)
    val i = fssIndex(parts)
    If(LessThanOrEqual(Size(parts), Literal(1)), host(url),
      ArrayJoin(Slice(parts, i, Add(Subtract(Size(parts), i), Literal(1))),
        Literal("."), None))
  }

  /** cutToFirstSignificantSubdomainWithWWW[RFC]: the base cut, with a
    * leading www. label preserved when the host carries one. */
  private def withWww(args: Seq[Expression]): Expression = {
    val cut = cutToFirstSignificantSubdomain(args.head)
    val hostLower = Lower(host(args.head))
    If(StartsWith(hostLower, Literal("www.")),
      Concat(Seq(Literal("www."), cut)), cut)
  }

  /** The constant TLD-list-name argument → the list content literal. */
  private def tldBlob(nameArg: Expression): Expression = {
    val listName = nameArg match {
      case e if e.foldable => e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => String.valueOf(other)
      }
      case _ => throw new IllegalArgumentException(
        "the TLD_list_name argument must be a constant string " +
          "(the reference requires a ColumnConst too)")
    }
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.functions.TldLists.blob(listName)), StringType)
  }

  private val tldCls = classOf[graft.functions.TldKernels.type]

  private def fssCustom(args: Seq[Expression]): Expression =
    StaticInvoke(tldCls, StringType, "fssCustom",
      Seq(args.head, tldBlob(args(1))), Seq(StringType, StringType))

  private def cutCustom(withWww: Boolean)(args: Seq[Expression]): Expression =
    StaticInvoke(tldCls, StringType, "cutToFssCustom",
      Seq(args.head, tldBlob(args(1)), Literal(withWww)),
      Seq(StringType, StringType, BooleanType))

  /** port(url[, default_port]) — the RFC twin shares the lenient host
    * lane (port.cpp:131). */
  private def portRfc(args: Seq[Expression]): Expression = {
    val dflt: Expression =
      if (args.size > 1) Cast(args(1), IntegerType) else Literal(0)
    Coalesce(Seq(Cast(RegExpExtract(
      ParseUrl(Seq(args.head, Literal("AUTHORITY")), failOnError = false),
      Literal(":(\\d+)$"), Literal(1)), IntegerType, None, EvalMode.TRY),
      dflt))
  }

  // ---- IPv4 / MAC codecs (FunctionsCodingIP.cpp) ----------------------

  private def ipv4ToNum(s: Expression): Expression = {
    val parts = StringSplit(s, Literal("\\."), Literal(-1))
    def oct(i: Int): Expression = Cast(at(parts, Literal(i)), LongType)
    Add(Multiply(oct(1), Literal(16777216L)),
      Add(Multiply(oct(2), Literal(65536L)),
        Add(Multiply(oct(3), Literal(256L)), oct(4))))
  }

  /** ipv4ToNum with unparseable octets → NULL (isIPAddressInRange). */
  private def ipv4ToNumOrNull(s: Expression): Expression = {
    val parts = StringSplit(s, Literal("\\."), Literal(-1))
    def oct(i: Int): Expression =
      Cast(ElementAt(parts, Literal(i)), LongType, None, EvalMode.TRY)
    Add(Multiply(oct(1), Literal(16777216L)),
      Add(Multiply(oct(2), Literal(65536L)),
        Add(Multiply(oct(3), Literal(256L)), oct(4))))
  }

  private def ipv4ToString(n: Expression): Expression = {
    val v = asLong(n)
    def oct(shift: Int): Expression =
      Cast(BitwiseAnd(ShiftRightUnsigned(v, Literal(shift)), Literal(255L)), StringType)
    ConcatWs(Seq(Literal("."), oct(24), oct(16), oct(8), oct(0)))
  }

  private def macHex(n: Expression): Expression =
    Lower(StringLPad(Hex(asLong(n)), Literal(12), Literal("0")))

  // ---- geo ----------------------------------------------------------------

  /** Haversine on the reference's sphere radius
    * (greatCircleDistance.cpp; lon-first argument order), meters. */
  private def greatCircleMeters(lon1: Expression, lat1: Expression,
      lon2: Expression, lat2: Expression): Expression = {
    val r = Literal(6372797.560856d)
    val p1 = Multiply(asDouble(lat1), Literal(math.Pi / 180.0))
    val p2 = Multiply(asDouble(lat2), Literal(math.Pi / 180.0))
    val dp = Divide(Subtract(p2, p1), Literal(2.0d))
    val dl = Multiply(Divide(Subtract(asDouble(lon2), asDouble(lon1)), Literal(2.0d)),
      Literal(math.Pi / 180.0))
    val a = Add(Multiply(Sin(dp), Sin(dp)),
      Multiply(Multiply(Cos(p1), Cos(p2)), Multiply(Sin(dl), Sin(dl))))
    Multiply(Multiply(Literal(2.0d), r), Asin(Sqrt(a)))
  }

  // point = struct(x, y), ring = array(point), polygon = array(ring),
  // multi* = one more level
  private val pointType = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType)))
  private val ringType = ArrayType(pointType)
  private val polyType = ArrayType(ringType)

  private val geoCls = classOf[graft.functions.GeoBaseKernels.type]

  /** regionToX(id[, geobase]): the optional geobase name resolves at
    * plan time, the hierarchy ships as a plan literal (same lane as the
    * TLD lists). */
  private def regionWalk(kind: Int)(args: Seq[Expression]): Expression = {
    val geobase = if (args.size > 1) foldStr(args(1)) else ""
    StaticInvoke(geoCls, LongType, "regionWalk",
      Seq(Cast(args.head, LongType),
        strLit(graft.functions.GeoBases.hierarchyBlob(geobase)),
        Literal(kind)),
      Seq(LongType, StringType, IntegerType))
  }

  private def geoBlobArg(args: Seq[Expression], at: Int): Expression =
    strLit(graft.functions.GeoBases.hierarchyBlob(
      if (args.size > at) foldStr(args(at)) else ""))

  val builders: Seq[(String, Builder)] = Seq(
    "protocol" -> (args => part(args.head, "PROTOCOL")),
    "domain" -> (args => host(args.head)),
    "domainwithoutwww" -> (args =>
      RegExpReplace(host(args.head), Literal("^www\\."), Literal(""))),
    "topleveldomain" -> (args =>
      RegExpExtract(host(args.head), Literal("\\.([^.]+)$"), Literal(1))),
    "firstsignificantsubdomain" -> (args => firstSignificantSubdomain(args.head)),
    "cuttofirstsignificantsubdomain" -> (args => cutToFirstSignificantSubdomain(args.head)),
    "domainrfc" -> (args => host(args.head)),
    "domainwithoutwwwrfc" -> (args =>
      RegExpReplace(host(args.head), Literal("^www\\."), Literal(""))),
    "topleveldomainrfc" -> (args =>
      RegExpExtract(host(args.head), Literal("\\.([^.]+)$"), Literal(1))),
    "firstsignificantsubdomainrfc" -> (args => firstSignificantSubdomain(args.head)),
    "cuttofirstsignificantsubdomainrfc" -> (args => cutToFirstSignificantSubdomain(args.head)),
    "path" -> (args => part(args.head, "PATH")),
    "pathfull" -> (args => part(args.head, "FILE")),
    "querystring" -> (args => part(args.head, "QUERY")),
    "fragment" -> (args => part(args.head, "REF")),
    "querystringandfragment" -> (args => {
      val q = part(args.head, "QUERY"); val f = part(args.head, "REF")
      Concat(Seq(Coalesce(Seq(q, Literal(""))),
        If(IsNull(f), Literal(""), Concat(Seq(Literal("#"), f)))))
    }),
    "netloc" -> (args => part(args.head, "AUTHORITY")),
    "port" -> (args =>
      Coalesce(Seq(Cast(RegExpExtract(part(args.head, "AUTHORITY"),
        Literal(":(\\d+)$"), Literal(1)), IntegerType, None, EvalMode.TRY),
        Literal(0)))),
    "cutwww" -> (args =>
      RegExpReplace(args.head, Literal("(^|//)www\\."), Literal("$1"))),
    "cutquerystring" -> (args =>
      RegExpReplace(args.head, Literal("\\?[^#]*"), Literal(""))),
    "cutfragment" -> (args =>
      RegExpReplace(args.head, Literal("#.*$"), Literal(""))),
    "cutquerystringandfragment" -> (args =>
      RegExpReplace(args.head, Literal("[?#].*$"), Literal(""))),
    "extracturlparameter" -> (args =>
      Coalesce(Seq(ParseUrl(Seq(args(0), Literal("QUERY"), args(1)),
        failOnError = false), Literal("")))),
    "extracturlparameters" -> (args => {
      val q = part(args.head, "QUERY")
      If(IsNull(q), Literal.create(Array.empty[String], ArrayType(StringType)),
        StringSplit(q, Literal("&"), Literal(-1)))
    }),
    "extracturlparameternames" -> (args => {
      val q = part(args.head, "QUERY")
      If(IsNull(q), Literal.create(Array.empty[String], ArrayType(StringType)),
        ArrayTransform(StringSplit(q, Literal("&"), Literal(-1)),
          lam1(kv => RegExpExtract(kv, Literal("^([^=]*)"), Literal(1)))))
    }),
    // component form uses %20 (reference encodeURLComponent); the form
    // variant keeps application/x-www-form-urlencoded '+'
    "encodeurlcomponent" -> (args =>
      RegExpReplace(UrlEncode(args.head), Literal("\\+"), Literal("%20"))),
    "encodeurlformcomponent" -> (args => UrlEncode(args.head)),
    "decodeurlcomponent" -> (args => UrlDecode(args.head)),
    "decodeurlformcomponent" -> (args => UrlDecode(args.head)),

    // cutToFirstSignificantSubdomainWithWWW[RFC]: the base cut, with a
    // leading www. label preserved when the host carries one
    "cuttofirstsignificantsubdomainwithwww" -> (args => withWww(args)),
    "cuttofirstsignificantsubdomainwithwwwrfc" -> (args => withWww(args)),
    "firstsignificantsubdomaincustom" -> fssCustom _,
    "firstsignificantsubdomaincustomrfc" -> fssCustom _,
    "cuttofirstsignificantsubdomaincustom" -> cutCustom(withWww = false) _,
    "cuttofirstsignificantsubdomaincustomrfc" -> cutCustom(withWww = false) _,
    "cuttofirstsignificantsubdomaincustomwithwww" ->
      cutCustom(withWww = true) _,
    "cuttofirstsignificantsubdomaincustomwithwwwrfc" ->
      cutCustom(withWww = true) _,
    "portrfc" -> portRfc _,
    "cuturlparameter" -> (args => {
      val qm = RegExpReplace(args(1),
        Literal("([\\\\^$.|?*+()\\[\\]{}])"), Literal("\\\\$1"))
      RegExpReplace(
        RegExpReplace(args(0),
          Concat(Seq(Literal("([?&])"), qm, Literal("=[^&#]*&"))), Literal("$1")),
        Concat(Seq(Literal("[?&]"), qm, Literal("=[^&#]*"))), Literal(""))
    }),

    // URL hierarchy (URLHierarchy.cpp): '/'-prefix chain after the
    // protocol+host, full URL as the final element when it has a tail.
    "urlhierarchy" -> (args => {
      val url = args.head
      val protoHost = RegExpExtract(url,
        Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*"), Literal(0))
      val hostLen = Length(protoHost)
      val rest = Substring(url, Add(hostLen, Literal(1)), Length(url))
      val seps = ArrayFilter(
        If(LessThanOrEqual(Length(rest), Literal(0)),
          Literal.create(Array.empty[Int], ArrayType(IntegerType)),
          Sequence(Literal(1), Length(rest), Some(Literal(1)))),
        lam1(i => EqualTo(Substring(rest, i, Literal(1)), Literal("/"))))
      val prefixes = ArrayTransform(seps,
        lam1(i => Substring(url, Literal(1), Add(hostLen, i))))
      If(Or(LessThanOrEqual(Length(rest), Literal(0)),
          EndsWith(url, Literal("/"))),
        prefixes,
        Concat(Seq(prefixes, CreateArray(Seq(url)))))
    }),
    "urlpathhierarchy" -> (args => {
      val url = args.head
      val protoHost = RegExpExtract(url,
        Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*"), Literal(0))
      val hostLen = Length(protoHost)
      val rest = Substring(url, Add(hostLen, Literal(1)), Length(url))
      val seps = ArrayFilter(
        If(LessThanOrEqual(Length(rest), Literal(0)),
          Literal.create(Array.empty[Int], ArrayType(IntegerType)),
          Sequence(Literal(1), Length(rest), Some(Literal(1)))),
        lam1(i => And(GreaterThan(i, Literal(1)),
          EqualTo(Substring(rest, i, Literal(1)), Literal("/")))))
      val prefixes = ArrayTransform(seps,
        lam1(i => Substring(rest, Literal(1), i)))
      If(Or(LessThanOrEqual(Length(rest), Literal(1)),
          EndsWith(rest, Literal("/"))),
        prefixes,
        Concat(Seq(prefixes, CreateArray(Seq(rest)))))
    }),

    // ---- IP / MAC codecs (FunctionsCodingIP.cpp) ----
    "ipv4numtostring" -> (args => ipv4ToString(args.head)),
    "ipv4stringtonum" -> (args => ipv4ToNum(args.head)),
    "ipv4numtostringclassc" -> (args => {
      val v = asLong(args.head)
      def oct(shift: Int): Expression =
        Cast(BitwiseAnd(ShiftRightUnsigned(v, Literal(shift)), Literal(255L)), StringType)
      ConcatWs(Seq(Literal("."), oct(24), oct(16), oct(8), Literal("xxx")))
    }),
    "ipv4toipv6" -> (args =>
      Concat(Seq(Literal("::ffff:"), ipv4ToString(args.head)))),
    "inet_aton" -> (args => ipv4ToNum(args.head)),
    "inet_ntoa" -> (args => ipv4ToString(args.head)),
    // IPv6/UUID codecs (FunctionsCodingIP.cpp, FunctionsCodingUUID.cpp) —
    // shared expression trees with the Column API (CodecExpressions).
    "ipv6numtostring" -> (args => CodecExpressions.ipv6NumToString(args.head)),
    "ipv6stringtonum" -> (args => CodecExpressions.ipv6StringToNum(args.head)),
    "inet6_aton" -> (args => CodecExpressions.ipv6StringToNum(args.head)),
    "inet6_ntoa" -> (args => CodecExpressions.ipv6NumToString(args.head)),
    "isipv4string" -> (args => RLike(args.head,
      Literal("^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"))),
    // full structural validation: exactly 8 groups, or a single '::' gap
    // with 1..7 groups total, or the v4-mapped/embedded tail forms.
    "isipv6string" -> (args => RLike(args.head, Literal({
      val g = "[0-9A-Fa-f]{1,4}"
      val v4 = "((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
      "^(" +
        s"($g:){7}$g" +
        s"|($g:){1,7}:" +
        s"|($g:){1,6}:$g" +
        s"|($g:){1,5}(:$g){1,2}" +
        s"|($g:){1,4}(:$g){1,3}" +
        s"|($g:){1,3}(:$g){1,4}" +
        s"|($g:){1,2}(:$g){1,5}" +
        s"|$g:(:$g){1,6}" +
        s"|:((:$g){1,7}|:)" +
        s"|::(ffff(:0{1,4})?:)?$v4" +
        s"|($g:){1,4}:$v4" +
        ")$"
    }))),
    "isipaddressinrange" -> { args =>
      val addr = Cast(args(0), StringType)
      val cidr = Cast(args(1), StringType)
      val net = SubstringIndex(cidr, Literal("/"), Literal(1))
      val plen = Cast(SubstringIndex(cidr, Literal("/"), Literal(-1)),
        IntegerType, None, EvalMode.TRY)
      val shift = Subtract(Literal(32), plen)
      val v6 = Or(Contains(addr, Literal(":")), Contains(cidr, Literal(":")))
      If(v6, Literal.create(null, IntegerType),
        Cast(EqualTo(ShiftRightUnsigned(ipv4ToNumOrNull(addr), shift),
          ShiftRightUnsigned(ipv4ToNumOrNull(net), shift)), IntegerType))
    },
    "ipv4cidrtorange" -> { args =>
      val ip = asLong(args(0))
      val shift = Subtract(Literal(32), asInt(args(1)))
      val lower = ShiftLeft(ShiftRightUnsigned(ip, shift), shift)
      val upper = Add(lower,
        Subtract(ShiftLeft(Literal(1L), shift), Literal(1L)))
      CreateStruct(Seq(ipv4ToString(lower), ipv4ToString(upper)))
    },
    "ipv6cidrtorange" -> (args => sweep9(
      StructType(Seq(StructField("lo", StringType),
        StructField("hi", StringType))),
      "ipv6CidrToRange",
      Seq(Cast(args(0), StringType), Cast(args(1), IntegerType)),
      Seq(StringType, IntegerType))),
    "cutipv6" -> (args => sweep9(StringType, "cutIPv6",
      Seq(Cast(args(0), StringType), Cast(args(1), IntegerType),
        Cast(args(2), IntegerType)),
      Seq(StringType, IntegerType, IntegerType))),

    "macnumtostring" -> (args => {
      val h = macHex(args.head)
      ConcatWs(Seq(Literal(":"),
        Substring(h, Literal(1), Literal(2)), Substring(h, Literal(3), Literal(2)),
        Substring(h, Literal(5), Literal(2)), Substring(h, Literal(7), Literal(2)),
        Substring(h, Literal(9), Literal(2)), Substring(h, Literal(11), Literal(2))))
    }),
    "macstringtonum" -> (args =>
      Cast(Conv(RegExpReplace(args.head, Literal("[:-]"), Literal("")),
        Literal(16), Literal(10)), LongType)),
    "macstringtooui" -> (args =>
      Cast(Conv(Substring(RegExpReplace(args.head, Literal("[:-]"), Literal("")),
        Literal(1), Literal(6)), Literal(16), Literal(10)), LongType)),

    // ---- geo ----
    "greatcircledistance" -> (args =>
      greatCircleMeters(args(0), args(1), args(2), args(3))),
    "geodistance" -> (args =>
      greatCircleMeters(args(0), args(1), args(2), args(3))),
    "greatcircleangle" -> (args =>
      Multiply(Divide(greatCircleMeters(args(0), args(1), args(2), args(3)),
        Literal(6372797.560856d)), Literal(180.0 / math.Pi))),

    "geohashencode" -> (args => GeohashEncode(args(0), args(1),
      if (args.length > 2) args(2) else Literal(12))),
    "geohashdecode" -> (args => GeohashDecode(args.head)),
    "geohashesinbox" -> (args => GeohashesInBox(args)),

    // encode takes (x, y) or the reference's (2, x, y) arity form
    "hilbertencode" -> (args => {
      val xs = if (args.length == 3) args.drop(1) else args
      HilbertEncode2(Cast(xs(0), LongType), Cast(xs(1), LongType))
    }),
    // decode takes d or (2, d); → struct(x, y) like mortonDecode
    "hilbertdecode" -> (args =>
      HilbertDecode2(Cast(args.last, LongType))),
    // pointInEllipses(x, y, x0, y0, a0, b0, …) (pointInEllipses.cpp):
    // inside ANY of the ellipses
    "pointinellipses" -> (args => {
      val x = Cast(args(0), DoubleType)
      val y = Cast(args(1), DoubleType)
      args.drop(2).grouped(4).map { g =>
        val Seq(x0, y0, a, b) = g.map(Cast(_, DoubleType)).toSeq
        val dx = Divide(Subtract(x, x0), a)
        val dy = Divide(Subtract(y, y0), b)
        LessThanOrEqual(Add(Multiply(dx, dx), Multiply(dy, dy)),
          Literal(1.0)): Expression
      }.reduce(Or)
    }),

    // WKT geometry readers (readWkt.cpp over the published OGC
    // well-known-text grammar) + the pointInPolygon SQL lane on the
    // same carrier (point = struct(x, y), ring = array(point),
    // polygon = array(ring), multi* = one more level)
    "readwktpoint" -> (args => sweep9(pointType, "readWktPoint",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "readwktlinestring" -> (args => sweep9(ringType, "readWktLineString",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "readwktring" -> (args => sweep9(ringType, "readWktRing",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "readwktpolygon" -> (args => sweep9(polyType, "readWktPolygon",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "readwktmultilinestring" -> (args =>
      sweep9(polyType, "readWktMultiLineString",
        Seq(Cast(args.head, StringType)), Seq(StringType))),
    "readwktmultipolygon" -> (args =>
      sweep9(ArrayType(polyType), "readWktMultiPolygon",
        Seq(Cast(args.head, StringType)), Seq(StringType))),
    // pointInPolygon((x, y), ring-or-polygon): a bare ring promotes to
    // the single-ring polygon (pointInPolygon.cpp accepts both)
    "pointinpolygon" -> (args => {
      val pt = args.head
      val x = asDouble(GetStructField(pt, 0))
      val y = asDouble(GetStructField(pt, 1))
      val geom = Cast(args(1), polyType) match {
        case c if scala.util.Try(args(1).dataType).toOption
            .exists(_.isInstanceOf[ArrayType] &&
              !args(1).dataType.asInstanceOf[ArrayType]
                .elementType.isInstanceOf[ArrayType]) =>
          CreateArray(Seq(Cast(args(1), ringType)))
        case c => c
      }
      sweep9(BooleanType, "pointInPolygonRings",
        Seq(x, y, geom), Seq(DoubleType, DoubleType, polyType))
    }),
    // -- embedded-geobase region family over SESSION-REGISTERED
    // hierarchy/name files (FunctionsEmbeddedDictionaries.h;
    // RegionType: City=6, Country=3, District=4, Area=5, Continent=1;
    // toTopContinent = LAST continent on the chain; regionToName
    // falls back to ru, unknown region = '')
    "regiontocity" -> regionWalk(6) _,
    "regiontocountry" -> regionWalk(3) _,
    "regiontodistrict" -> regionWalk(4) _,
    "regiontoarea" -> regionWalk(5) _,
    "regiontocontinent" -> regionWalk(1) _,
    "regiontotopcontinent" -> regionWalk(100) _,
    "regiontopopulation" -> (args =>
      StaticInvoke(geoCls, LongType, "regionPopulation",
        Seq(Cast(args.head, LongType), geoBlobArg(args, 1)),
        Seq(LongType, StringType))),
    "regionin" -> (args =>
      StaticInvoke(geoCls, BooleanType, "regionIn",
        Seq(Cast(args(0), LongType), Cast(args(1), LongType),
          geoBlobArg(args, 2)),
        Seq(LongType, LongType, StringType))),
    "regionhierarchy" -> (args =>
      StaticInvoke(geoCls, ArrayType(LongType), "regionHierarchy",
        Seq(Cast(args.head, LongType), geoBlobArg(args, 1)),
        Seq(LongType, StringType))),
    "regiontoname" -> (args =>
      StaticInvoke(geoCls, StringType, "regionName",
        Seq(Cast(args.head, LongType),
          strLit(graft.functions.GeoBases.namesBlob(
            if (args.size > 1) foldStr(args(1)) else "ru"))),
        Seq(LongType, StringType))))
}
