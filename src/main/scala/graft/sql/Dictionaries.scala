package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import Lane.lane

/** SQL dictionary surface: `CREATE DICTIONARY` DDL + the dictGet* function
  * family (reference: src/Dictionaries/ directory, SQL functions in
  * src/Functions/FunctionsExternalDictionaries.h, DDL in
  * src/Interpreters/InterpreterCreateQuery.cpp dictionary branch).
  *
  * Execution model: the reference's FLAT/HASHED layouts load the whole
  * dictionary into server RAM and every dictGet is an in-memory probe.
  * The Spark rendering is the same contract — CREATE DICTIONARY collects
  * the source table ONCE into literal map constants; dictGet* become pure
  * Catalyst `ElementAt(mapLiteral, key)` trees that ship to executors as
  * plan constants (the broadcast of a RAM-resident dict). Lookups scan the
  * ArrayBasedMapData (O(|dict|)); the row cap keeps that honest — for
  * big-table lookups use the broadcast-join operator
  * (operators/JoinOps.dictGet), exactly as the reference steers big dicts
  * to CACHE/DIRECT layouts.
  *
  * Faithful semantics:
  *  - dictGet on a MISSING key returns the attribute's declared DEFAULT,
  *    else the type's zero value ('' / 0 / epoch) — NOT null
  *    (ExternalDictionariesLoader: null_value of the attribute).
  *  - dictGetOrNull returns NULL on a miss; dictGetOrDefault takes the
  *    explicit per-call default.
  *  - dictHas returns boolean (engine-wide rendering of the reference's
  *    UInt8 0/1).
  *  - typed variants dictGet<Type> cast the attribute through the same
  *    conversion lanes as to<Type> (UInt64 rides DECIMAL(20,0)).
  * Registry is engine-global like the reference's server-wide dictionary
  * set. Tuple-attribute form dictGet('d', ('a','b'), k) is not supported.
  */
object Dictionaries {

  final case class Dict(
      name: String,
      keyType: DataType,
      keysLit: Literal,
      attrs: Map[String, DictAttr],
      hierAttr: Option[String] = None)

  final case class DictAttr(mapLit: Literal, dataType: DataType,
      default: Literal)

  private val dicts = new ConcurrentHashMap[String, Dict]()
  // original CREATE text per dictionary, for SYSTEM RELOAD
  private val ddlText = new ConcurrentHashMap[String, String]()

  /** SYSTEM RELOAD DICTIONARY name / DICTIONARIES (the reference's
    * ExternalDictionariesLoader reload): re-execute the stored CREATE, so
    * the plan-constant maps re-collect from the (possibly changed) source
    * table. */
  def reload(spark: SparkSession, name: Option[String]): Unit = {
    val names = name.map(Seq(_)).getOrElse {
      import scala.jdk.CollectionConverters._
      ddlText.keySet.asScala.toSeq
    }
    names.foreach { n =>
      Option(ddlText.get(n)).foreach { stmt =>
        dicts.remove(n)
        stmt match { case ddl(groups @ _*) => create(spark, stmt, groups) }
      }
    }
  }

  /** Max rows collected into plan-constant maps — beyond this, the O(n)
    * literal-map probe and plan size are the wrong tool; the reference
    * steers such dicts to CACHE/DIRECT layouts (= our broadcast join op). */
  val maxRows = 100000

  private val ddl = Lane.shape(
    """^CREATE\s+DICTIONARY\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)\s*\((.*?)\)\s*""" +
      """PRIMARY\s+KEY\s+(<c>)\s*""" +
      """SOURCE\s*\(\s*\w+\s*\(.*?TABLE\s+'(<t>)'.*?\)\s*\).*""")
  private val columnDef = ("(?is)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+" +
    "([A-Za-z0-9_()\\s,]+?)(?:\\s+DEFAULT\\s+(.+?))?\\s*$").r
  private val hierarchical = "(?i)\\bHIERARCHICAL\\b".r
  private val attributeHints = "(?i)\\s+(HIERARCHICAL|INJECTIVE)\\b".r

  /** Rows of the dialect's statement table (ClickHouseSql.statements):
    * CREATE and DROP DICTIONARY; the last row refuses other forms. */
  private[sql] val statements: Seq[Lane] = Seq(
    Lane(ddl, raw = false, h => Some(create(h.spark, h.text, h.groups))),
    lane("""^DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?(<t>)<end>""") { h =>
      dicts.remove(h(1))
      h.ok
    },
    Lane.reject("""^(?:CREATE|DROP)\s+DICTIONARY\b.*""",
      "CREATE DICTIONARY form (need PRIMARY KEY + SOURCE(...(TABLE 'name')))"))

  /** CREATE DICTIONARY from the `ddl` shape's groups: (IF NOT EXISTS,
    * name, column list, key, source table). */
  private def create(spark: SparkSession, stmt: String,
      groups: Seq[String]): DataFrame = {
    val Seq(ifNot, name, colsRaw, pk, srcTable) = groups
    if (ifNot != null && dicts.containsKey(name)) return Lane.ok(spark)
    val colDefs = SqlLex.splitTop(colsRaw).map { cd0 =>
      // HIERARCHICAL marks the key→parent attribute
      // (DictionaryStructure hierarchical flag); INJECTIVE is a
      // lookup-optimization hint — recorded/dropped respectively
      val hier = hierarchical.findFirstIn(cd0).isDefined
      attributeHints.replaceAllIn(cd0, "").trim match {
        case columnDef(cname, ctype, dflt) =>
          val dt = CatalystSqlParser.parseDataType(
            ClickHouseSql.sparkTypeText(ctype.trim))
          (cname, dt, Option(dflt), hier)
        case other => throw new IllegalArgumentException(
          s"unparsable dictionary column '$other'")
      }
    }
    val keyDef = colDefs.find(_._1 == pk).getOrElse(
      throw new IllegalArgumentException(s"PRIMARY KEY $pk not in columns"))
    val attrDefs = colDefs.filterNot(_._1 == pk)
    // cast source columns to the DECLARED types up front so collected
    // externals match what CatalystTypeConverters expects per type
    // (e.g. a bigint source column into a DECIMAL(20,0) UInt64 attr)
    val src = spark.table(srcTable)
      .select((keyDefCast(pk, colDefs) +:
        attrDefs.map(a => keyDefCast(a._1, colDefs))): _*)
    val rows = src.limit(maxRows + 1).collect()
    if (rows.length > maxRows) throw new IllegalArgumentException(
      s"dictionary $name source exceeds $maxRows rows — use the " +
        "broadcast-join dictGet operator for large dictionaries")
    val keyType = keyDef._2
    val keyConv = CatalystTypeConverters.createToCatalystConverter(keyType)
    val keys = rows.map(r => keyConv(r.get(0)))
    val attrs = attrDefs.zipWithIndex.map { case ((aname, atype, dflt, _), i) =>
      val conv = CatalystTypeConverters.createToCatalystConverter(atype)
      val values = rows.map(r => conv(r.get(i + 1)))
      val mapLit = Literal(
        new ArrayBasedMapData(new GenericArrayData(keys),
          new GenericArrayData(values)),
        MapType(keyType, atype, valueContainsNull = true))
      val default = dflt match {
        case Some(d) => Literal.create(
          CatalystTypeConverters.convertToScala(
            Cast(parseLiteral(d), atype).eval(), atype), atype)
        case None => typeZero(atype)
      }
      aname -> DictAttr(mapLit, atype, default)
    }.toMap
    dicts.put(name, Dict(name, keyType,
      Literal(new GenericArrayData(keys),
        ArrayType(keyType, containsNull = false)), attrs,
      colDefs.find(_._4).map(_._1)))
    ddlText.put(name, stmt)
    Lane.ok(spark)
  }

  private def keyDefCast(name: String,
      colDefs: Seq[(String, DataType, Option[String], Boolean)])
      : org.apache.spark.sql.Column = {
    val dt = colDefs.find(_._1 == name).get._2
    org.apache.spark.sql.functions.col(name).cast(dt).as(name)
  }

  private def parseLiteral(s: String): Literal = {
    val t = s.trim.replaceAll(";+$", "")
    if (t.startsWith("'") && t.endsWith("'"))
      Literal(t.substring(1, t.length - 1))
    else if (t.matches("-?\\d+")) Literal(t.toLong)
    else if (t.matches("-?\\d*\\.\\d+")) Literal(t.toDouble)
    else throw new IllegalArgumentException(s"unsupported DEFAULT literal $t")
  }

  /** The reference's per-type null_value when no DEFAULT is declared. */
  private def typeZero(dt: DataType): Literal = dt match {
    case StringType => Literal("")
    case _: NumericType => Literal(Cast(Literal(0), dt).eval(), dt)
    case DateType => Literal(Cast(Literal("1970-01-01"), DateType).eval(), DateType)
    case TimestampType => Literal(
      Cast(Literal("1970-01-01 00:00:00"), TimestampType).eval(), TimestampType)
    case _ => Literal.create(null, dt)
  }

  /** Registry listing for system.dictionaries (reference:
    * src/Storages/System/StorageSystemDictionaries.cpp). */
  def listDicts: Seq[(String, String, String, Long)] = {
    import scala.jdk.CollectionConverters._
    dicts.values.asScala.toSeq.sortBy(_.name).map { d =>
      (d.name, d.keyType.simpleString,
        d.attrs.keys.toSeq.sorted.mkString(","),
        d.keysLit.value.asInstanceOf[GenericArrayData].numElements().toLong)
    }
  }

  // ---- dictGet* expression builders ---------------------------------

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case _ => throw new IllegalArgumentException(
      s"$what must be a string literal")
  }

  private def dict(e: Expression): Dict = {
    val n = litString(e, "dictionary name")
    val d = dicts.get(n)
    if (d == null) throw new IllegalArgumentException(
      s"unknown dictionary '$n' — CREATE DICTIONARY first")
    d
  }

  private def attr(d: Dict, e: Expression): DictAttr = {
    val a = litString(e, "attribute name")
    d.attrs.getOrElse(a, throw new IllegalArgumentException(
      s"dictionary '${d.name}' has no attribute '$a'"))
  }

  /** Raw probe: NULL on miss. */
  private def lookup(args: Seq[Expression]): (DictAttr, Expression) = {
    val d = dict(args(0))
    val a = attr(d, args(1))
    (a, ElementAt(a.mapLit, Cast(args(2), d.keyType), None,
      failOnError = false))
  }

  private def get(args: Seq[Expression]): Expression = {
    val (a, probe) = lookup(args)
    Coalesce(Seq(probe, a.default))
  }

  private def getOrNull(args: Seq[Expression]): Expression = lookup(args)._2

  private def getOrDefault(args: Seq[Expression]): Expression =
    Coalesce(Seq(lookup(args)._2, args(3)))

  private def typed(dt: DataType)(args: Seq[Expression]): Expression =
    Cast(get(args), dt)

  private def typedOrDefault(dt: DataType)(args: Seq[Expression]): Expression =
    Coalesce(Seq(Cast(lookup(args)._2, dt), Cast(args(3), dt)))

  /** UInt lanes ride the same carriers as the to<UIntN> conversions. */
  private val typedLanes: Map[String, DataType] = Map(
    "string" -> StringType, "int8" -> ByteType, "int16" -> ShortType,
    "int32" -> IntegerType, "int64" -> LongType, "uint8" -> ShortType,
    "uint16" -> IntegerType, "uint32" -> LongType,
    "uint64" -> DecimalType(20, 0), "float32" -> FloatType,
    "float64" -> DoubleType, "date" -> DateType,
    "datetime" -> TimestampType, "uuid" -> StringType)

  /** The hierarchy attribute's key→parent map, long-typed (the walk
    * kernels memoize their index per plan-constant map instance). */
  private def hierMap(d: Dict): Expression = {
    val a = d.hierAttr.map(d.attrs).getOrElse(
      throw new IllegalArgumentException(
        s"dictionary ${d.name} has no HIERARCHICAL attribute"))
    Cast(a.mapLit, MapType(LongType, LongType))
  }
  private val hierCls = classOf[graft.functions.DictHierarchy.type]
  private def hierInvoke(method: String, ret: DataType, d: Dict,
      extra: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      hierCls, ret, method, hierMap(d) +: extra,
      MapType(LongType, LongType) +: extra.map(_ => LongType))

  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val core: Seq[(String, Seq[Expression] => Expression)] = Seq(
      "dictget" -> (args => get(args)),
      "dictgetornull" -> (args => getOrNull(args)),
      "dictgetordefault" -> (args => getOrDefault(args)),
      "dicthas" -> (args => {
        val d = dict(args(0))
        ArrayContains(d.keysLit, Cast(args(1), d.keyType))
      }),
      // hierarchical walks (HierarchyDictionariesUtils.h) over the
      // attribute declared HIERARCHICAL
      "dictgethierarchy" -> (args => hierInvoke("hierarchy",
        ArrayType(LongType), dict(args(0)),
        Seq(Cast(args(1), LongType)))),
      "dictisin" -> (args => hierInvoke("isIn", BooleanType,
        dict(args(0)),
        Seq(Cast(args(1), LongType), Cast(args(2), LongType)))),
      "dictgetchildren" -> (args => hierInvoke("firstChildren",
        ArrayType(LongType), dict(args(0)),
        Seq(Cast(args(1), LongType)))),
      "dictgetdescendants" -> (args => {
        val d = dict(args(0))
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          hierCls, ArrayType(LongType), "descendants",
          Seq(hierMap(d), Cast(args(1), LongType),
            Cast(args.lift(2).getOrElse(Literal(0)), IntegerType)),
          Seq(MapType(LongType, LongType), LongType, IntegerType))
      }))
    val typedGets = typedLanes.map { case (lane, dt) =>
      s"dictget$lane" -> (typed(dt) _)
    }
    val typedDefaults = typedLanes.map { case (lane, dt) =>
      s"dictget${lane}ordefault" -> (typedOrDefault(dt) _)
    }
    // IP attributes ride the string rendering, the engine's IP carrier
    // (FunctionsExternalDictionaries.h dictGetIPv4 / dictGetIPv6)
    val ipLanes = Seq("ipv4", "ipv6").flatMap { lane =>
      Seq(
        s"dictget$lane" -> ((args: Seq[Expression]) =>
          Cast(get(args), StringType)),
        s"dictget${lane}ordefault" -> ((args: Seq[Expression]) =>
          Cast(getOrDefault(args), StringType)))
    }
    core ++ typedGets ++ typedDefaults ++ ipLanes
  }
}
