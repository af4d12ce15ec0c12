package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graft.{GenerateSnowflakeID, GenerateULID, GenerateUUIDv7}
import org.apache.spark.sql.types._

import ChBuild._

/** Session, server and type introspection (src/Functions/
  * serverConstants.cpp, registerFunctionsIntrospection.cpp,
  * blockNumber.cpp, rowNumberInBlock.cpp, currentProfiles.cpp,
  * getSetting.cpp, hasColumnInTable.cpp, getMacro.cpp, toTypeName.cpp,
  * dynamicType.cpp, variantElement.cpp, the id generators and the
  * rand* family, throwIf.cpp, identity.cpp / ignore.cpp).
  *
  * A single-node engine answers these honestly: the session's SET
  * ledger (user, query_id, settings, profiles), the JVM host, and the
  * Spark partition as the block. Names that read Keeper/TLS/transaction
  * state with no analog here stay unregistered (FUNCTIONS.md). `version`
  * is NOT registered (a Spark built-in).
  */
object ChIntrospection {

  private def activeSession = org.apache.spark.sql.SparkSession.getActiveSession

  private def hostLit: Expression =
    Literal(java.net.InetAddress.getLocalHost.getCanonicalHostName)

  /** The session's server UUID — stable for the JVM's lifetime, like the
    * reference's per-server UUID generated at first start. */
  private lazy val serverUuid = java.util.UUID.randomUUID().toString

  private def activeConf(key: String): Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption(key))
      // SET k = 'v' records the literal verbatim — unquote for readouts
      .map(v => v.stripPrefix("'").stripSuffix("'"))

  private def sessionUser(): Expression = Literal(
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("graft.ch.user"))
      .map(_.stripPrefix("'").stripSuffix("'"))
      .filter(_.nonEmpty).getOrElse("default"))

  private def profileArray(kind: String): Expression = {
    val names = org.apache.spark.sql.SparkSession.getActiveSession
      .map(s => AccessControl.profilesFor(s, kind)).getOrElse(Seq.empty)
    CreateArray(names.map(n => Literal(n): Expression))
  }

  private def settingLit(args: Seq[Expression],
      prefix: String): Expression = {
    val name = foldStr(args.head)
    val v = org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption(prefix + name)
        .orElse(s.conf.getOption(s"graft.ch.$name")))
      .getOrElse(throw new IllegalArgumentException(
        s"Unknown setting '$name' (set it with SET $name = …)"))
    // the ledger stores SET values verbatim — string literals keep
    // their quotes there, like SHOW SETTING strips them on render
    val rendered =
      if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
        v.substring(1, v.length - 1)
      else v
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(rendered),
      StringType)
  }

  /** Spark type-name text (typeof output, lowercase) → reference type
    * spelling; shared by toTypeName / toColumnTypeName. */
  private def chTypeNameOf(e: Expression): Expression =
    Seq(
      "array<" -> "Array(", "map<" -> "Map(", "struct<" -> "Tuple(",
      "<" -> "(", ">" -> ")",
      "bigint" -> "Int64", "smallint" -> "Int16", "tinyint" -> "Int8",
      "interval" -> "Interval", "int" -> "Int32",
      "double" -> "Float64", "float" -> "Float32",
      "string" -> "String", "boolean" -> "Bool", "void" -> "Nothing",
      "timestamp_ntz" -> "DateTime", "timestamp" -> "DateTime",
      "date" -> "Date", "decimal" -> "Decimal", "binary" -> "String",
      "variant" -> "Dynamic"
    ).foldLeft(new TypeOf(e): Expression) { case (x, (from, to)) =>
      StringReplace(x, Literal(from), Literal(to))
    }

  // ---- Dynamic type (DataTypeDynamic.h:10 — SURVEY §1.2 maps Dynamic
  // onto Spark's VariantType, like JSON/Variant before it; the Variant
  // accessors variantType / variantElement are the same functions) ------

  /** dynamicType(d) (src/Functions/dynamicType.cpp): the stored type
    * name of each row's value, reference-spelled (Int64/Float64/String/
    * Bool/Array(...)/None) — a per-row schema_of_variant with the Spark
    * DDL names textually mapped. */
  private def dynamicType(args: Seq[Expression]): Expression = {
    val schema = new org.apache.spark.sql.catalyst.expressions.variant
      .SchemaOfVariant(args.head)
    // order matters: composites first (ARRAY< before bare <), wide
    // names before their substrings (BIGINT before INT)
    Seq(
      "ARRAY<" -> "Array(", "MAP<" -> "Map(", "STRUCT<" -> "Tuple(",
      "<" -> "(", ">" -> ")",
      "BIGINT" -> "Int64", "SMALLINT" -> "Int16", "TINYINT" -> "Int8",
      "INT" -> "Int32", "DOUBLE" -> "Float64", "FLOAT" -> "Float32",
      "STRING" -> "String", "BOOLEAN" -> "Bool", "VOID" -> "None",
      "TIMESTAMP" -> "DateTime", "DATE" -> "Date", "DECIMAL" -> "Decimal"
    ).foldLeft(schema: Expression) { case (e, (from, to)) =>
      StringReplace(e, Literal(from), Literal(to))
    }
  }

  /** dynamicElement(d, 'Type'): typed extraction — the row's value when
    * it is stored as (or losslessly casts to) the asked type, else NULL
    * (the try-variant contract; the reference returns the type's default
    * NULL analog on mismatch). The type literal is reference-spelled. */
  private def dynamicElement(args: Seq[Expression]): Expression = {
    val chType = args(1) match {
      case Literal(s, StringType) if s != null => s.toString
      case _ => throw new IllegalArgumentException(
        "dynamicElement type must be a string literal")
    }
    val spark = org.apache.spark.sql.types.DataType.fromDDL(
      ClickHouseSql.sparkTypeText(chType))
    new org.apache.spark.sql.catalyst.expressions.variant.VariantGet(
      args.head, Literal("$"), spark, false,
      Some(java.util.TimeZone.getDefault.getID))
  }

  val builders: Seq[(String, Builder)] = Seq(
    "currentdatabase" -> (_ => Literal("default")),
    // current_database resolves through the value-identical Spark
    // builtin (deliberately unshadowed); `database` is the CH alias
    "database" -> (_ => Literal("default")),
    "currentschemas" -> (_ => CreateArray(Seq(Literal("default")))),
    "current_schemas" -> (_ => CreateArray(Seq(Literal("default")))),
    "currentuser" -> (_ => sessionUser()),
    "connectionid" -> (_ => Literal(0L)),
    "connection_id" -> (_ => Literal(0L)),
    "currentprofiles" -> (_ => profileArray("current")),
    "enabledprofiles" -> (_ => profileArray("enabled")),
    "defaultprofiles" -> (_ => profileArray("default")),

    // queryID/initialQueryID read the session's SET query_id (the same
    // knob KILL QUERY targets); single-statement sessions have initial
    // == current, the honest single-node identity
    "queryid" -> (_ => Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "currentqueryid" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "current_query_id" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "initialqueryid" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "initial_query_id" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    // the session's SET query_id tag ('' when unset) — the same tag
    // KILL QUERY targets
    "query_id" -> (_ => strLit(activeSession
      .flatMap(s => s.conf.getOption("graft.ch.query_id"))
      .map(_.stripPrefix("'").stripSuffix("'")).getOrElse(""))),
    // plan-time statement start; on a single-node engine the INITIAL
    // (distributed-root) query IS this query — both spellings
    "initialquerystarttime" -> (_ =>
      Cast(Literal(System.currentTimeMillis() / 1000L), TimestampType)),
    "initial_query_start_time" -> (_ =>
      Cast(Literal(System.currentTimeMillis() / 1000L), TimestampType)),

    // getServerSetting / getMergeTreeSetting (serverConstants.cpp
    // class): resolve from the session's setting ledger at ANALYSIS
    // time, like the reference's query-time constant fold; unknown
    // names reject loudly (the reference throws UNKNOWN_SETTING)
    "getserversetting" -> (args => settingLit(args, "graft.ch.")),
    "getmergetreesetting" -> (args =>
      settingLit(args, "graft.ch.merge_tree.")),
    // getMacro('name') — the reference reads the server's <macros>
    // config (getMacro.cpp); the session analog is a named collection
    // called `macros` (the same registration surface the TLD lists use)
    "getmacro" -> (args => {
      val name = foldStr(args.head)
      val v = ClickHouseSql.namedCollection("macros").flatMap(_.get(name))
        .getOrElse(throw new IllegalArgumentException(
          s"No macro '$name' in config (CREATE NAMED COLLECTION macros " +
            s"AS $name = '...')"))
      strLit(v)
    }),
    // hasColumnInTable([host[,user[,pw]],] db, table, column): catalog
    // probe — constant args, resolved at plan time; a missing table
    // throws (the reference's documented contract), a missing column
    // is false
    "hascolumnintable" -> (args => {
      val lits = args.takeRight(3).map(foldStr)
      val (db, table, column) = (lits(0), lits(1), lits(2))
      val s = activeSession.getOrElse(throw new IllegalStateException(
        "hasColumnInTable: no active session"))
      val name =
        if (db.isEmpty || db.equalsIgnoreCase("default")) table
        else s"$db.$table"
      val schema = scala.util.Try(s.table(name).schema).getOrElse(
        throw new IllegalArgumentException(
          s"hasColumnInTable: table $name does not exist"))
      Literal(schema.fieldNames.exists(_.equalsIgnoreCase(column)))
    }),
    // getMaxTableNameLengthForDatabase('db') — the reference's own
    // formula (computeMaxTableNameLength.cpp): min(NAME_MAX - len(
    // ".sql.detached"), NAME_MAX - 1 - len(db) - 1 - 36 - len(".sql"))
    // with the Linux NAME_MAX of 255 (the JVM exposes no pathconf;
    // documented constant)
    "getmaxtablenamelengthfordatabase" -> (args => {
      val db = foldStr(args.head)
      val nameMax = 255
      val maxCreate = nameMax - ".sql.detached".length
      val maxDrop = nameMax - 1 - db.length - 1 - 36 - ".sql".length
      Literal(math.min(maxCreate, maxDrop))
    }),

    // ---- server constants (serverConstants.cpp) ----
    "hostname" -> (_ =>
      Literal(java.net.InetAddress.getLocalHost.getHostName)),

    "fqdn" -> (_ => hostLit),
    "fullhostname" -> (_ => hostLit),
    "displayname" -> (_ => hostLit),
    "uptime" -> (_ => Literal(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(s => (System.currentTimeMillis - s.sparkContext.startTime) / 1000L)
        .getOrElse(0L))),
    // engine revision: numeric Spark version (4.1.2 → 40102) — this
    // engine's build lineage, not a faked reference revision
    "revision" -> (_ => Literal(
      org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
        val p = s.version.split("[.-]").take(3).map(v =>
          scala.util.Try(v.toInt).getOrElse(0))
        p(0) * 10000L + p(1) * 100L + p(2)
      }.getOrElse(0L))),
    "buildid" -> (_ => Literal("")),
    "serveruuid" -> (_ => Literal(serverUuid)),
    "tcpport" -> (_ => Literal(9000)),
    "shardnum" -> (_ => Literal(1)),
    "shardcount" -> (_ => Literal(1)),
    // -- server-state names a single-session engine CAN answer honestly
    // (the rest of that residue category reads Keeper/TLS/transaction
    // state that has no analog here — documented in FUNCTIONS.md):
    // uname sysname+release (getOSKernelVersion.cpp)
    "getoskernelversion" -> (_ => strLit(
      System.getProperty("os.name") + " " + System.getProperty("os.version"))),

    // errorCodeToName (errorCodeToName.cpp over the ErrorCodes.cpp
    // table transcribed as data) — empty string for unknown codes
    "errorcodetoname" -> (args => sweep9(StringType, "name",
      Seq(asLong(args.head)), Seq(LongType))),
    "filesystemavailable" -> (_ => sweep9(LongType, "filesystemAvailable",
      Nil, Nil)),
    "filesystemcapacity" -> (_ => sweep9(LongType, "filesystemCapacity",
      Nil, Nil)),
    "filesystemunreserved" -> (_ => sweep9(LongType, "filesystemUnreserved",
      Nil, Nil)),
    // Spark's monotonically_increasing_id is (partitionId << 33 | record#)
    // — the exact block/row decomposition the reference's trio exposes,
    // with partition = block
    "blocknumber" -> (_ => Cast(SparkPartitionID(), LongType)),
    "rownumberinblock" -> (_ =>
      BitwiseAnd(MonotonicallyIncreasingID(), Literal((1L << 33) - 1))),
    "rownumberinallblocks" -> (_ => MonotonicallyIncreasingID()),
    "partitionid" -> (args =>
      ConcatWs(Literal("-") +: args.map(Cast(_, StringType)))),

    // ---- types and values ----
    "totypename" -> (args => chTypeNameOf(args.head)),
    "tocolumntypename" -> (args => chTypeNameOf(args.head)),
    "dynamictype" -> dynamicType _,
    "varianttype" -> dynamicType _,
    "dynamicelement" -> dynamicElement _,
    "variantelement" -> dynamicElement _,
    // defaultValueOfArgumentType.cpp: type.getDefault() — the TYPE's
    // default value (0 for numerics, '' for String), not NULL
    "defaultvalueofargumenttype" -> (args =>
      scala.util.Try(Literal.default(args.head.dataType))
        .getOrElse(Literal.create(null, args.head.dataType))),
    // defaultValueOfTypeName (defaultValueOfTypeName.cpp): the zero value
    // of a literal type name
    "defaultvalueoftypename" -> (args => {
      val t = litString(args.head, "defaultValueOfTypeName").toLowerCase
      if (t.startsWith("string") || t.startsWith("fixedstring")) Literal("")
      else if (t.startsWith("float")) Literal(0.0d)
      else if (t.startsWith("date")) Cast(Literal("1970-01-01"), DateType)
      else if (t.startsWith("uint") || t.startsWith("int")) Literal(0L)
      else throw new IllegalArgumentException(
        s"defaultValueOfTypeName: unsupported type '$t'")
    }),

    // isConstant (isConstant.cpp): constant-foldability of the argument
    "isconstant" -> (args => Literal(if (args.head.foldable) 1 else 0)),
    "isnullable" -> (args => Literal(args.head.nullable)),
    "bytesize" -> (args =>
      org.apache.spark.sql.graft.ByteSizeOf(args.head)),

    // trivial-value functions (ignore.cpp, identity.cpp, indexHint.cpp)
    "identity" -> (args => args.head),
    "ignore" -> (_ => Literal(0)),
    "indexhint" -> (_ => Literal(true)),
    "throwif" -> (args => sweep6(LongType, "throwIf",
      Seq(Cast(args.head, BooleanType),
        args.lift(1).map(Cast(_, StringType)).getOrElse(
          Literal("Value passed to 'throwIf' function is non-zero"))),
      Seq(BooleanType, StringType))),

    // ---- id generators and the random family ----
    "generateuuidv4" -> (_ => Uuid()),
    "generateuuidv7" -> (_ => GenerateUUIDv7()),
    "generateulid" -> (_ => GenerateULID()),
    "generatesnowflakeid" -> (_ => GenerateSnowflakeID()),
    "generateserialid" -> (args => sweep8(LongType, "generateSerialId",
      Seq(Cast(args.head, StringType)), Seq(StringType))),

    // ---- random family (nondeterministic by contract, like the
    // reference's rand* — fresh seed per analysis) ---------------------
    "rand32" -> (_ => Cast(Multiply(
      Rand(Literal(scala.util.Random.nextLong()), true),
      Literal(4294967296.0)), LongType)),
    "rand64" -> (_ => {
      def r32 = Cast(Multiply(
        Rand(Literal(scala.util.Random.nextLong()), true),
        Literal(4294967296.0)), LongType)
      BitwiseOr(ShiftLeft(r32, Literal(32)), r32)
    }),
    "randcanonical" -> (_ =>
      Rand(Literal(scala.util.Random.nextLong()), true)),
    "randconstant" -> (_ =>
      Literal(scala.util.Random.nextLong() & 0xffffffffL)),
    "randomstring" -> (args => Cast(sweep6(BinaryType, "randomBytes",
      Seq(Cast(args.head, IntegerType)), Seq(IntegerType)), StringType)),
    "randomfixedstring" -> (args => Cast(sweep6(BinaryType, "randomBytes",
      Seq(Cast(args.head, IntegerType)), Seq(IntegerType)), StringType)),
    "randomprintableascii" -> (args => sweep6(StringType,
      "randomPrintableAscii", Seq(Cast(args.head, IntegerType)),
      Seq(IntegerType))),
    "fuzzbits" -> (args => sweep6(StringType, "fuzzBits",
      Seq(Cast(args(0), StringType), Cast(args(1), DoubleType)),
      Seq(StringType, DoubleType))),
    "randomstringutf8" -> (args => sweep8(StringType, "randomStringUtf8",
      Seq(Cast(args.head, IntegerType)), Seq(IntegerType))))
}
