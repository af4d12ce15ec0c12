package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Round-14 closure of the small input-format residue the round-13
  * verdict re-scoped (reference src/Formats/registerFormats.cpp):
  *
  *   One       (sources Impl/OneFormat.cpp) — ignores the stream and
  *             produces exactly ONE row per input file with a single
  *             UInt8 `dummy` column valued 0. The reference uses it for
  *             `SELECT count() FROM file(..., One)`-style existence /
  *             metadata probes that must not read data.
  *   Form      (Impl/FormRowInputFormat.cpp) — one row per file of
  *             application/x-www-form-urlencoded `k=v&k=v` text;
  *             values percent-decode, unknown keys skip
  *             (skip_unknown_fields), duplicate known keys are LOUD,
  *             omitted columns take their type defaults
  *             (defaults_for_omitted_fields).
  *   HiveText  (Impl/HiveTextRowInputFormat.cpp) — CSV with the Hive
  *             default 0x01 field delimiter, NO header (names come
  *             from the target schema, with_names_use_header), `\N`
  *             nulls. Reads through Spark's native CSV datasource, so
  *             the scan stays distributed/splittable at any size.
  *
  * All three are INPUT-only in the reference (no output registration),
  * and are input-only here.
  */
object ChSmallFormats {

  private def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(p.toString)
    else fs.listStatus(p).filter(_.isFile)
      .map(_.getPath)
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
      .map(_.toString).sorted.toSeq
  }

  /** FORMAT One: one (dummy = 0) row per input file, content unread. */
  def readOne(spark: SparkSession, path: String): DataFrame = {
    val files = listFiles(spark, path)
    val schema = StructType(Seq(StructField("dummy", ShortType,
      nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        files.map(_ => Row(0.toShort)), math.max(files.length, 1)),
      schema)
  }

  private def defaultOf(dt: DataType): Any = dt match {
    case BooleanType => false
    case ByteType => 0.toByte
    case ShortType => 0.toShort
    case IntegerType => 0
    case LongType => 0L
    case FloatType => 0.0f
    case DoubleType => 0.0d
    case StringType => ""
    case d: DecimalType =>
      new java.math.BigDecimal(0).setScale(d.scale)
    case other => throw new IllegalArgumentException(
      s"Form: no default for $other")
  }

  /** FORMAT Form: one row per file of `k=v&k=v` url-encoded text. */
  def readForm(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val files = listFiles(spark, path)
    val fieldIdx = schema.fields.zipWithIndex
      .map { case (f, i) => f.name -> i }.toMap
    val types = schema.fields.map(_.dataType)
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.length, 1))
      .map { file =>
        val p = new Path(file)
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).stripPrefix("\uFEFF")
        finally in.close()
        val vals = new Array[Any](types.length)
        val seen = new Array[Boolean](types.length)
        text.trim.split("&").filter(_.nonEmpty).foreach { kv =>
          val eq = kv.indexOf('=')
          require(eq >= 0, s"Form: field without '=' in $file: '$kv'")
          val k = kv.substring(0, eq)
          // percent-decode only — Poco::URI::decode keeps '+' literal
          // (java URLDecoder is form-decoding, which would eat it)
          val v = kv.substring(eq + 1).replace("+", "%2B")
          val decoded = java.net.URLDecoder.decode(v, "UTF-8")
          fieldIdx.get(k) match {
            case Some(i) =>
              require(!seen(i),
                s"Form: duplicate field '$k' in $file")
              seen(i) = true
              vals(i) = ChTextFormats.parseRaw(types(i), decoded)
            case None => // skip_unknown_fields
          }
        }
        types.indices.foreach(i =>
          if (!seen(i)) vals(i) = defaultOf(types(i)))
        Row.fromSeq(vals.toIndexedSeq)
      }
    spark.createDataFrame(rows, schema)
  }

  /** FORMAT HiveText: header-less CSV with the Hive 0x01 delimiter
    * and `\N` nulls, column names from the target schema. */
  def readHiveText(spark: SparkSession, path: String, schema: StructType,
      delimiter: String = "\u0001"): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", delimiter)
      .option("header", "false")
      .option("nullValue", "\\N")
      .option("mode", "FAILFAST")
      .csv(path)

  /** FORMAT MySQLDump (Impl/MySQLDumpRowInputFormat.cpp): reads the
    * `INSERT INTO t [(cols)] VALUES (…),(…);` statements of a
    * mysqldump file, skipping all DDL/SET noise. `tableName` mirrors
    * the reference's input_format_mysql_dump_table_name setting: when
    * empty, the dump must insert into exactly ONE table (multiple
    * tables without a pick are LOUD, never a silent mix). A column
    * list maps by name (input_format_mysql_dump_map_column_names);
    * without one, values bind positionally to the target schema.
    * One Spark task per dump file — dumps are line-oriented text whose
    * statements cannot split safely mid-string. */
  def readMySQLDump(spark: SparkSession, path: String, schema: StructType,
      tableName: String = ""): DataFrame = {
    val files = listFiles(spark, path)
    val want = tableName
    val types = schema.fields.map(_.dataType)
    val names = schema.fields.map(_.name)
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.length, 1))
      .flatMap { file =>
        val p = new Path(file)
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
        parseMySQLDump(text, want, file).map { case (cols, tuple) =>
          val vals = new Array[Any](types.length)
          val bind: Seq[Int] = // tuple position → schema index
            if (cols.isEmpty) tuple.indices
            else cols.map(c => names.indexWhere(_.equalsIgnoreCase(c)))
          require(tuple.length == bind.length,
            s"MySQLDump: ${tuple.length} values for ${bind.length} " +
              s"columns in $file")
          tuple.zip(bind).foreach { case (raw, i) =>
            if (i >= 0) // unknown listed columns skip (mapping is by name)
              vals(i) = raw.map(ChTextFormats.parseRaw(types(i), _)).orNull
          }
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Parse the INSERT statements → (column list or empty, tuples of
    * Option[String] raw values — None is SQL NULL). */
  private[sources] def parseMySQLDump(text0: String, tableName: String,
      where: String): Seq[(Seq[String], Seq[Option[String]])] = {
    // comment-only lines blank out first — a `-- INSERT INTO …` remark
    // must never parse as data (mysqldump headers are full of SQL in
    // comments). Values spanning lines that START with `--` would be
    // corrupted by this, but dumps write one statement per line.
    val text = text0.split("\n", -1)
      .map(l => if (l.matches("\\s*(--|#).*")) "" else l).mkString("\n")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[String], Seq[Option[String]])]
    val insRe = ("(?is)\\bINSERT\\s+INTO\\s+" +
      "(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_.]*))\\s*(\\(([^)]*)\\))?\\s*" +
      "VALUES\\s*").r
    var from = 0
    var cont = true
    while (cont) insRe.findFirstMatchIn(text.substring(from)) match {
      case None => cont = false
      case Some(mm) => // match offsets are RELATIVE to `from`
      val table = Option(mm.group(1)).getOrElse(mm.group(2))
      val cols = Option(mm.group(4)).map(_.split(",").map(_.trim
        .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      // tuple scanner: strings respect \x escapes and '' doubling, so
      // ';' or ')' inside a value never ends the statement early
      var i = from + mm.end
      var done = false
      while (!done && i < text.length) {
        text.charAt(i) match {
          case '(' =>
            val vals = scala.collection.mutable.ArrayBuffer
              .empty[Option[String]]
            val cur = new StringBuilder
            var inStr = false
            var isStr = false
            var depth = 1
            i += 1
            while (depth > 0) {
              require(i < text.length,
                s"MySQLDump: unterminated tuple in $where")
              val c = text.charAt(i)
              if (inStr) {
                if (c == '\\' && i + 1 < text.length) {
                  cur.append(unescapeMySql(text.charAt(i + 1))); i += 1
                } else if (c == '\'' &&
                    i + 1 < text.length && text.charAt(i + 1) == '\'') {
                  cur.append('\''); i += 1
                } else if (c == '\'') inStr = false
                else cur.append(c)
              } else c match {
                case '\'' =>
                  // pre-quote whitespace is separator noise, not value
                  if (!isStr) cur.clear()
                  inStr = true; isStr = true
                case '(' => depth += 1; cur.append(c)
                case ')' if depth > 1 => depth -= 1; cur.append(c)
                case ')' =>
                  depth = 0
                  val t = cur.toString.trim
                  if (t.nonEmpty || isStr || vals.nonEmpty)
                    vals += (if (!isStr && t.equalsIgnoreCase("NULL")) None
                      else Some(if (isStr) cur.toString else t))
                case ',' if depth == 1 =>
                  val t = cur.toString.trim
                  vals += (if (!isStr && t.equalsIgnoreCase("NULL")) None
                    else Some(if (isStr) cur.toString else t))
                  cur.clear(); isStr = false
                case other => cur.append(other)
              }
              i += 1
            }
            out += ((table, cols, vals.toSeq))
          case ',' | ' ' | '\n' | '\r' | '\t' => i += 1
          case ';' => done = true
          case other => throw new IllegalArgumentException(
            s"MySQLDump: unexpected '$other' between tuples in $where")
        }
      }
      from = i
    }
    val tables = out.map(_._1).distinct
    val pick =
      if (tableName.nonEmpty) tableName
      else {
        require(tables.length <= 1,
          s"MySQLDump: the dump inserts into ${tables.length} tables " +
            s"(${tables.mkString(", ")}) — name one " +
            s"(input_format_mysql_dump_table_name) in $where")
        tables.headOption.getOrElse(throw new IllegalArgumentException(
          s"MySQLDump: no INSERT statements found in $where"))
      }
    out.filter(_._1.equalsIgnoreCase(pick))
      .map(x => (x._2, x._3)).toSeq
  }

  // ------------------------------------------------------------ Template

  /** Parsed `Delim0 ${col:Esc} Delim1 …` format string
    * (reference ParsedTemplateFormatString.h: delimiters.size - 1 =
    * columns.size; an empty column name skips the value). */
  final case class RowTemplate(delims: Seq[String],
      cols: Seq[(Option[String], String)])

  private[graft] def parseTemplate(fmt: String): RowTemplate = {
    val delims = scala.collection.mutable.ArrayBuffer.empty[String]
    val cols = scala.collection.mutable.ArrayBuffer
      .empty[(Option[String], String)]
    val cur = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt.startsWith("${", i)) {
        val close = fmt.indexOf('}', i)
        require(close > 0, s"Template: unterminated $${...} in '$fmt'")
        val body = fmt.substring(i + 2, close)
        val (name0, esc) = body.indexOf(':') match {
          case -1 => (body.trim, "None")
          case c => (body.substring(0, c).trim,
            body.substring(c + 1).trim)
        }
        require(Set("None", "Raw", "CSV", "Quoted", "Escaped", "JSON")(esc),
          s"Template: unsupported escaping rule '$esc' " +
            "(None/Raw/CSV/Quoted/Escaped/JSON)")
        delims += cur.toString; cur.clear()
        cols += ((Option(name0).filter(_.nonEmpty), esc))
        i = close + 1
      } else { cur.append(fmt.charAt(i)); i += 1 }
    }
    delims += cur.toString
    require(cols.nonEmpty, s"Template: no columns in '$fmt'")
    RowTemplate(delims.toSeq, cols.toSeq)
  }

  /** FORMAT Template input (TemplateRowInputFormat.cpp): rows match the
    * row template literally, separated by `rowsBetween`; values parse
    * per their escaping rule. Row-level templates only — a resultset
    * template must be handled by the caller (loud in the dialect). */
  def readTemplate(spark: SparkSession, path: String, schema: StructType,
      rowFormat: String, rowsBetween: String = "\n"): DataFrame = {
    val t = parseTemplate(rowFormat)
    t.cols.flatMap(_._1).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"Template: column '$c' not in the target structure"))
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val files = listFiles(spark, path)
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.length, 1))
      .flatMap { file =>
        val p = new Path(file)
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var pos = 0
        def expect(lit: String): Unit = {
          require(text.startsWith(lit, pos),
            s"Template: expected '$lit' at offset $pos of $file, got " +
              s"'${text.substring(pos, math.min(text.length, pos + 20))}'")
          pos += lit.length
        }
        def untilDelim(d: String): String = {
          val at = if (d.isEmpty) text.length else text.indexOf(d, pos)
          require(at >= 0 || d.isEmpty,
            s"Template: delimiter '$d' not found after offset $pos in $file")
          val end = if (at < 0) text.length else at
          val v = text.substring(pos, end); pos = end; v
        }
        def parseValue(esc: String, next: String): Option[String] =
          esc match {
            case "Quoted" =>
              require(pos < text.length && text.charAt(pos) == '\'',
                s"Template(Quoted): expected quote at $pos in $file")
              pos += 1
              val sb = new StringBuilder
              var closed = false
              while (!closed) {
                require(pos < text.length,
                  s"Template(Quoted): unterminated value in $file")
                val c = text.charAt(pos)
                if (c == '\\' && pos + 1 < text.length) {
                  sb.append(text.charAt(pos + 1)); pos += 2
                } else if (c == '\'') { closed = true; pos += 1 }
                else { sb.append(c); pos += 1 }
              }
              Some(sb.toString)
            case "CSV" | "JSON" if pos < text.length &&
                text.charAt(pos) == '"' =>
              pos += 1
              val sb = new StringBuilder
              var closed = false
              while (!closed) {
                require(pos < text.length,
                  s"Template($esc): unterminated value in $file")
                val c = text.charAt(pos)
                if (esc == "CSV" && c == '"' &&
                    pos + 1 < text.length && text.charAt(pos + 1) == '"') {
                  sb.append('"'); pos += 2
                } else if (esc == "JSON" && c == '\\' &&
                    pos + 1 < text.length) {
                  sb.append(text.charAt(pos + 1) match {
                    case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                    case x => x
                  }); pos += 2
                } else if (c == '"') { closed = true; pos += 1 }
                else { sb.append(c); pos += 1 }
              }
              Some(sb.toString)
            case "Escaped" =>
              // escape-aware scan to the delimiter, then unescape
              val raw = untilDelim(next)
              if (raw == "\\N") None
              else Some(raw.replace("\\t", "\t").replace("\\n", "\n")
                .replace("\\r", "\r").replace("\\\\", "\\"))
            case _ => // None/Raw, bare CSV/JSON
              val raw = untilDelim(next)
              if ((esc == "CSV" || esc == "JSON") && raw == "\\N") None
              else Some(raw)
          }
        var first = true
        while (pos < text.length) {
          if (!first) expect(rowsBetween)
          // tolerate a trailing rows-between delimiter at EOF
          if (pos < text.length) {
            val vals = scala.collection.mutable.Map.empty[String, Any]
            t.cols.indices.foreach { ci =>
              expect(t.delims(ci))
              val v = parseValue(t.cols(ci)._2, t.delims(ci + 1))
              t.cols(ci)._1.foreach { name =>
                vals(name) = v.map(x =>
                  ChTextFormats.parseRaw(types(name), x)).orNull
              }
            }
            expect(t.delims.last)
            out += Row.fromSeq(schema.fields.map(f =>
              vals.getOrElse(f.name, null)).toIndexedSeq)
            first = false
          }
        }
        out
      }
    spark.createDataFrame(rows, schema)
  }

  /** FORMAT Template output: interpolate each row through the row
    * template with the column escaping rules, `rowsBetween` separated,
    * one part file per partition. */
  def writeTemplate(df: DataFrame, path: String, rowFormat: String,
      rowsBetween: String = "\n"): Long = {
    val t = parseTemplate(rowFormat)
    val schema = df.schema
    t.cols.flatMap(_._1).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"Template: column '$c' not in the data"))
    Parts.write(df, path) { (idx, rows) =>
      val fs = new Path(path).getFileSystem(
        new org.apache.hadoop.conf.Configuration())
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(new Path(path, f"part-$idx%05d.tpl"), true),
        java.nio.charset.StandardCharsets.UTF_8))
      try {
        var first = true
        rows.foreach { row =>
          if (!first) out.write(rowsBetween)
          first = false
          t.cols.indices.foreach { ci =>
            out.write(t.delims(ci))
            val (nameOpt, esc) = t.cols(ci)
            val name = nameOpt.getOrElse(throw new IllegalArgumentException(
              "Template output: every placeholder needs a column name"))
            val i = schema.fieldIndex(name)
            val txt =
              if (row.isNullAt(i)) if (esc == "Quoted") "NULL" else "\\N"
              else {
                val raw = row.get(i).toString
                esc match {
                  case "Quoted" =>
                    "'" + raw.replace("\\", "\\\\")
                      .replace("'", "\\'") + "'"
                  case "CSV" => "\"" + raw.replace("\"", "\"\"") + "\""
                  case "JSON" => "\"" + raw.replace("\\", "\\\\")
                    .replace("\"", "\\\"") + "\""
                  case "Escaped" => raw.replace("\\", "\\\\")
                    .replace("\t", "\\t").replace("\n", "\\n")
                  case _ => raw
                }
              }
            out.write(txt)
          }
          out.write(t.delims.last)
        }
      } finally out.close()
    }
  }

  private def unescapeMySql(c: Char): Char = c match {
    case 'n' => '\n'
    case 't' => '\t'
    case 'r' => '\r'
    case '0' => '\u0000'
    case 'Z' => '\u001A'
    case 'b' => '\b'
    case other => other // \' \" \\ and anything else: the char itself
  }
}
