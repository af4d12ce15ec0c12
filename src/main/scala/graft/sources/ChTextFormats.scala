package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** ClickHouse text wire formats (reference `src/Formats/registerFormats.cpp`,
  * `src/Processors/Formats/Impl/TabSeparatedRow{Input,Output}Format.cpp`,
  * `CSVRow*.cpp`, `JSONCompactEachRow*.cpp`, `ValuesBlockInputFormat.cpp`;
  * escaping rules from `src/IO/WriteHelpers.h` writeEscapedString /
  * writeQuotedString / writeCSVString):
  *
  *   - TabSeparated (+WithNames, +WithNamesAndTypes): one row per line,
  *     fields tab-separated, strings backslash-escaped (raw tab/newline
  *     never appear), NULL as `\N`.
  *   - CSV (+WithNames, +WithNamesAndTypes): RFC-4180-style quoting with
  *     doubled quotes; string/date/datetime fields always quoted (the
  *     reference's CSV output behavior); NULL as unquoted `\N`.
  *   - JSONCompactEachRow (+WithNamesAndTypes): each row one JSON array
  *     line; the header variant leads with a names array and a CH type
  *     names array.
  *   - Values: `(v, 'str', NULL), …` tuples — the INSERT VALUES wire form.
  *
  * Layout mirrors [[ChWireFormats]]: a directory of self-contained part
  * files, one per partition on write, one Spark task per part on read —
  * the split model that keeps these formats cluster-parallel (the
  * reference parallelizes TSV/CSV parsing the same way: each thread gets
  * whole rows, `ParallelParsingInputFormat.cpp`). Type names in the
  * `WithNamesAndTypes` headers reuse [[ChWireFormats.chTypeName]] and are
  * verified on read — a drifted file fails loudly instead of mis-parsing.
  */
object ChTextFormats {

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  // ------------------------------------------------------------ fs plumbing

  private def partPath(dir: String, idx: Int, ext: String): Path =
    new Path(dir, f"part-$idx%05d.$ext")

  private def listParts(dir: String, ext: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.globStatus(new Path(p, s"part-*.$ext")).map(_.getPath.toString).toSeq.sorted
  }

  private def readPartText(file: String): String = {
    val p = new Path(file)
    val fs = p.getFileSystem(new Configuration())
    val in = new BufferedInputStream(fs.open(p), 1 << 16)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def writePart(path: String, idx: Int, ext: String)(body: OutputStreamWriter => Unit): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    val w = new OutputStreamWriter(
      new BufferedOutputStream(fs.create(partPath(path, idx, ext), true), 1 << 16),
      StandardCharsets.UTF_8)
    try body(w) finally w.close()
  }

  // ------------------------------------------------------- value rendering

  /** Raw (unquoted) text for a non-null, non-string value. */
  private def renderRaw(dt: DataType, v: Any): String = dt match {
    case BooleanType => if (v.asInstanceOf[Boolean]) "true" else "false"
    case ByteType | ShortType | IntegerType | LongType => v.toString
    case FloatType =>
      val f = v.asInstanceOf[Float]
      if (f.isNaN) "nan" else if (f == Float.PositiveInfinity) "inf"
      else if (f == Float.NegativeInfinity) "-inf" else f.toString
    case DoubleType =>
      val d = v.asInstanceOf[Double]
      if (d.isNaN) "nan" else if (d == Double.PositiveInfinity) "inf"
      else if (d == Double.NegativeInfinity) "-inf" else d.toString
    case StringType => v.asInstanceOf[String]
    case DateType => v.asInstanceOf[java.sql.Date].toLocalDate.toString
    case TimestampType =>
      LocalDateTime.ofInstant(v.asInstanceOf[java.sql.Timestamp].toInstant, ZoneOffset.UTC)
        .format(TsFmt)
    case TimestampNTZType => v.asInstanceOf[LocalDateTime].format(TsFmt)
    case d: DecimalType if d.precision <= 38 =>
      v.asInstanceOf[java.math.BigDecimal].setScale(d.scale).toPlainString
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  private[sources] def parseRaw(dt: DataType, s: String): Any = dt match {
    case BooleanType => s == "true" || s == "1"
    case ByteType    => s.toByte
    case ShortType   => s.toShort
    case IntegerType => s.toInt
    case LongType    => s.toLong
    case FloatType => s match {
      case "nan" => Float.NaN
      case "inf" => Float.PositiveInfinity
      case "-inf" => Float.NegativeInfinity
      case _ => s.toFloat
    }
    case DoubleType => s match {
      case "nan" => Double.NaN
      case "inf" => Double.PositiveInfinity
      case "-inf" => Double.NegativeInfinity
      case _ => s.toDouble
    }
    case StringType => s
    case DateType => java.sql.Date.valueOf(LocalDate.parse(s))
    case TimestampType =>
      val ldt =
        if (s.contains('.')) LocalDateTime.parse(s, TsFmt)
        else LocalDateTime.parse(s, DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      java.sql.Timestamp.from(ldt.toInstant(ZoneOffset.UTC))
    case TimestampNTZType =>
      if (s.contains('.')) LocalDateTime.parse(s, TsFmt)
      else LocalDateTime.parse(s, DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    case d: DecimalType => new java.math.BigDecimal(s).setScale(d.scale)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  /** Fields whose text form the reference's CSV writer always quotes. */
  private def isTextual(dt: DataType): Boolean = dt match {
    case StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  // ------------------------------------------------- TSV escaping (IO/WriteHelpers.h)

  private[sources] def escapeTsv(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\u0000' => sb.append("\\0")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[sources] def unescapeTsv(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\')
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case '0' => sb.append('\u0000')
          case 'N' => sb.append("\\N") // mid-string \N is literal
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // --------------------------------------------------------------- TSV

  def writeTabSeparated(df: DataFrame, path: String,
                        withNames: Boolean = false, withTypes: Boolean = false): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "tsv") { w =>
        if (withNames) w.write(schema.fields.map(f => escapeTsv(f.name)).mkString("", "\t", "\n"))
        if (withTypes) w.write(schema.fields
          .map(f => escapeTsv(ChWireFormats.chTypeName(f.dataType, f.nullable)))
          .mkString("", "\t", "\n"))
        rows.foreach { row =>
          val line = schema.fields.indices.map { i =>
            if (row.isNullAt(i)) "\\N"
            else {
              val raw = renderRaw(schema.fields(i).dataType, row.get(i))
              if (schema.fields(i).dataType == StringType) escapeTsv(raw) else raw
            }
          }.mkString("\t")
          w.write(line); w.write('\n')
        }
      }
    }
  }

  /** Split part text into rows, dropping ONLY the trailing empty element
    * produced by the final row delimiter — an interior empty line is a
    * real row (a single non-null string column holding "", which the
    * reference's TSV parser round-trips; r6 ADVICE fix). */
  private def rowLines(text: String, rowDelim: String = "\n"): Iterator[String] = {
    val all = text.split(java.util.regex.Pattern.quote(rowDelim), -1)
    (if (all.nonEmpty && all.last.isEmpty) all.view.dropRight(1) else all.view).iterator
  }

  def readTabSeparated(spark: SparkSession, path: String, schema: StructType,
                       withNames: Boolean = false, withTypes: Boolean = false): DataFrame = {
    val parts = listParts(path, "tsv")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val lines = rowLines(readPartText(file))
        if (withNames && lines.hasNext) {
          val names = lines.next().split("\t", -1).map(unescapeTsv)
          require(names.sameElements(schema.fields.map(_.name)),
            s"TSV header names ${names.toSeq} != schema ${schema.fields.map(_.name).toSeq}")
        }
        if (withTypes && lines.hasNext) {
          val types = lines.next().split("\t", -1).map(unescapeTsv)
          val expected = schema.fields.map(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
          require(types.sameElements(expected),
            s"TSV header types ${types.toSeq} != schema ${expected.toSeq}")
        }
        lines.map { line =>
          val cells = line.split("\t", -1)
          require(cells.length == schema.fields.length, s"TSV arity ${cells.length}")
          Row.fromSeq(schema.fields.indices.map { i =>
            val c = cells(i)
            if (c == "\\N") null
            else {
              val dt = schema.fields(i).dataType
              parseRaw(dt, if (dt == StringType) unescapeTsv(c) else c)
            }
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // --------------------------------------------------------------- CSV

  private def csvQuote(s: String): String =
    "\"" + s.replace("\"", "\"\"") + "\""

  def writeCsv(df: DataFrame, path: String,
               withNames: Boolean = false, withTypes: Boolean = false): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "csv") { w =>
        if (withNames) w.write(schema.fields.map(f => csvQuote(f.name)).mkString("", ",", "\n"))
        if (withTypes) w.write(schema.fields
          .map(f => csvQuote(ChWireFormats.chTypeName(f.dataType, f.nullable)))
          .mkString("", ",", "\n"))
        rows.foreach { row =>
          val line = schema.fields.indices.map { i =>
            if (row.isNullAt(i)) "\\N"
            else {
              val dt = schema.fields(i).dataType
              val raw = renderRaw(dt, row.get(i))
              if (isTextual(dt)) csvQuote(raw) else raw
            }
          }.mkString(",")
          w.write(line); w.write('\n')
        }
      }
    }
  }

  /** Char-level CSV field scanner — handles quoted fields with doubled
    * quotes and embedded separators/newlines (the reason line-splitting
    * can't parse CSV). Yields rows of raw cells; quoted-ness is preserved
    * so `\N` (unquoted) stays distinguishable from the literal string. */
  private[sources] def scanCsv(text: String): Iterator[IndexedSeq[(String, Boolean)]] =
    new Iterator[IndexedSeq[(String, Boolean)]] {
      private var pos = 0
      override def hasNext: Boolean = pos < text.length
      override def next(): IndexedSeq[(String, Boolean)] = {
        val cells = IndexedSeq.newBuilder[(String, Boolean)]
        var done = false
        while (!done) {
          if (pos < text.length && text.charAt(pos) == '"') { // quoted cell
            pos += 1
            val sb = new StringBuilder
            var closed = false
            while (!closed) {
              val c = text.charAt(pos)
              if (c == '"') {
                if (pos + 1 < text.length && text.charAt(pos + 1) == '"') { sb.append('"'); pos += 2 }
                else { closed = true; pos += 1 }
              } else { sb.append(c); pos += 1 }
            }
            cells += ((sb.toString, true))
          } else { // bare cell
            val start = pos
            while (pos < text.length && text.charAt(pos) != ',' && text.charAt(pos) != '\n')
              pos += 1
            cells += ((text.substring(start, pos), false))
          }
          if (pos >= text.length) done = true
          else if (text.charAt(pos) == ',') pos += 1
          else if (text.charAt(pos) == '\n') { pos += 1; done = true }
        }
        cells.result()
      }
    }

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              withNames: Boolean = false, withTypes: Boolean = false): DataFrame = {
    val parts = listParts(path, "csv")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val it = scanCsv(readPartText(file))
        if (withNames && it.hasNext) {
          val names = it.next().map(_._1)
          require(names == schema.fields.map(_.name).toIndexedSeq,
            s"CSV header names $names")
        }
        if (withTypes && it.hasNext) {
          val types = it.next().map(_._1)
          val expected = schema.fields.map(f => ChWireFormats.chTypeName(f.dataType, f.nullable)).toIndexedSeq
          require(types == expected, s"CSV header types $types != $expected")
        }
        it.map { cells =>
          require(cells.length == schema.fields.length, s"CSV arity ${cells.length}")
          Row.fromSeq(schema.fields.indices.map { i =>
            val (c, quoted) = cells(i)
            if (!quoted && c == "\\N") null
            else parseRaw(schema.fields(i).dataType, c)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // --------------------------------------------- JSONCompactEachRow

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def jsonCell(dt: DataType, row: Row, i: Int): String =
    if (row.isNullAt(i)) "null"
    else dt match {
      case StringType | DateType | TimestampType | TimestampNTZType =>
        "\"" + jsonEscape(renderRaw(dt, row.get(i))) + "\""
      case FloatType | DoubleType =>
        val raw = renderRaw(dt, row.get(i))
        // denormals aren't valid bare JSON — the reference quotes them
        // under output_format_json_quote_denormals (JSONEachRow docs)
        if (raw == "nan" || raw == "inf" || raw == "-inf") "\"" + raw + "\"" else raw
      case _ => renderRaw(dt, row.get(i))
    }

  def writeJsonCompactEachRow(df: DataFrame, path: String,
                              withNamesAndTypes: Boolean = false): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "jsonl") { w =>
        if (withNamesAndTypes) {
          w.write(schema.fields.map(f => "\"" + jsonEscape(f.name) + "\"")
            .mkString("[", ", ", "]\n"))
          w.write(schema.fields
            .map(f => "\"" + jsonEscape(ChWireFormats.chTypeName(f.dataType, f.nullable)) + "\"")
            .mkString("[", ", ", "]\n"))
        }
        rows.foreach { row =>
          w.write(schema.fields.indices.map(i => jsonCell(schema.fields(i).dataType, row, i))
            .mkString("[", ", ", "]\n"))
        }
      }
    }
  }

  /** Minimal JSON array-of-scalars parser (strings, numbers, null, bools).
    * Returns (text, wasQuoted) cells for type-directed conversion. */
  private[sources] def parseJsonArray(line: String): IndexedSeq[(String, Boolean)] = {
    val cells = IndexedSeq.newBuilder[(String, Boolean)]
    var pos = 0
    def skipWs(): Unit = while (pos < line.length && line.charAt(pos) == ' ') pos += 1
    skipWs()
    require(pos < line.length && line.charAt(pos) == '[', s"not a JSON array: $line")
    pos += 1
    skipWs()
    if (pos < line.length && line.charAt(pos) == ']') return cells.result()
    var done = false
    while (!done) {
      skipWs()
      if (line.charAt(pos) == '"') {
        pos += 1
        val sb = new StringBuilder
        while (line.charAt(pos) != '"') {
          val c = line.charAt(pos)
          if (c == '\\') {
            line.charAt(pos + 1) match {
              case '"' => sb.append('"'); pos += 2
              case '\\' => sb.append('\\'); pos += 2
              case 'n' => sb.append('\n'); pos += 2
              case 'r' => sb.append('\r'); pos += 2
              case 't' => sb.append('\t'); pos += 2
              case '/' => sb.append('/'); pos += 2
              case 'u' =>
                sb.append(Integer.parseInt(line.substring(pos + 2, pos + 6), 16).toChar)
                pos += 6
              case other => sb.append(other); pos += 2
            }
          } else { sb.append(c); pos += 1 }
        }
        pos += 1
        cells += ((sb.toString, true))
      } else {
        val start = pos
        while (pos < line.length && line.charAt(pos) != ',' && line.charAt(pos) != ']')
          pos += 1
        cells += ((line.substring(start, pos).trim, false))
      }
      skipWs()
      if (line.charAt(pos) == ',') { pos += 1 }
      else { require(line.charAt(pos) == ']', s"bad JSON array tail: $line"); done = true }
    }
    cells.result()
  }

  def readJsonCompactEachRow(spark: SparkSession, path: String, schema: StructType,
                             withNamesAndTypes: Boolean = false): DataFrame = {
    val parts = listParts(path, "jsonl")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val lines = readPartText(file).split("\n", -1).iterator.filter(_.nonEmpty)
        if (withNamesAndTypes && lines.hasNext) {
          val names = parseJsonArray(lines.next()).map(_._1)
          require(names == schema.fields.map(_.name).toIndexedSeq, s"JSON header names $names")
          val types = parseJsonArray(lines.next()).map(_._1)
          val expected = schema.fields.map(f => ChWireFormats.chTypeName(f.dataType, f.nullable)).toIndexedSeq
          require(types == expected, s"JSON header types $types != $expected")
        }
        lines.map { line =>
          val cells = parseJsonArray(line)
          require(cells.length == schema.fields.length, s"JSON arity ${cells.length}")
          Row.fromSeq(schema.fields.indices.map { i =>
            val (c, quoted) = cells(i)
            if (!quoted && c == "null") null
            else parseRaw(schema.fields(i).dataType, c)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // -------------------------------------------------------------- TSKV

  /** TSKV (`TSKVRowOutputFormat.cpp`): `key=value<TAB>key=value` lines with
    * TSV escaping on keys and values ('=' additionally escaped in keys),
    * `\N` nulls. Self-describing per row — column order need not match. */
  def writeTskv(df: DataFrame, path: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    val keys = schema.fields.map(f => escapeTsv(f.name).replace("=", "\\="))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "tskv") { w =>
        rows.foreach { row =>
          val line = schema.fields.indices.map { i =>
            val v =
              if (row.isNullAt(i)) "\\N"
              else {
                val raw = renderRaw(schema.fields(i).dataType, row.get(i))
                if (schema.fields(i).dataType == StringType) escapeTsv(raw) else raw
              }
            keys(i) + "=" + v
          }.mkString("\t")
          w.write(line); w.write('\n')
        }
      }
    }
  }

  def readTskv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val parts = listParts(path, "tskv")
    val fieldIdx = schema.fields.map(_.name).zipWithIndex.toMap
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        readPartText(file).split("\n", -1).iterator.filter(_.nonEmpty).map { line =>
          val cells = new Array[Any](schema.fields.length)
          line.split("\t", -1).foreach { kv =>
            // the key's '=' is escaped, so the first UNESCAPED '=' splits;
            // an escaped one is preceded by a backslash
            var eq = kv.indexOf('=')
            while (eq > 0 && kv.charAt(eq - 1) == '\\') eq = kv.indexOf('=', eq + 1)
            require(eq >= 0, s"TSKV cell without '=': $kv")
            val key = unescapeTsv(kv.substring(0, eq).replace("\\=", "="))
            val value = kv.substring(eq + 1)
            fieldIdx.get(key).foreach { i =>
              cells(i) =
                if (value == "\\N") null
                else {
                  val dt = schema.fields(i).dataType
                  parseRaw(dt, if (dt == StringType) unescapeTsv(value) else value)
                }
            }
          }
          Row.fromSeq(cells.toSeq)
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ---------------------------------------------------- CustomSeparated

  /** CustomSeparated (`CustomSeparatedRow*.cpp`) with the Escaped rule:
    * arbitrary field/row delimiters, TSV escaping on strings. Like the
    * reference, a delimiter that can appear unescaped inside rendered
    * values is the caller's responsibility. */
  def writeCustomSeparated(df: DataFrame, path: String,
                           fieldDelim: String, rowDelim: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "custom") { w =>
        rows.foreach { row =>
          val line = schema.fields.indices.map { i =>
            if (row.isNullAt(i)) "\\N"
            else {
              val raw = renderRaw(schema.fields(i).dataType, row.get(i))
              if (schema.fields(i).dataType == StringType) escapeTsv(raw) else raw
            }
          }.mkString(fieldDelim)
          w.write(line); w.write(rowDelim)
        }
      }
    }
  }

  def readCustomSeparated(spark: SparkSession, path: String, schema: StructType,
                          fieldDelim: String, rowDelim: String): DataFrame = {
    val parts = listParts(path, "custom")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        rowLines(readPartText(file), rowDelim).map { line =>
          val cells = line.split(java.util.regex.Pattern.quote(fieldDelim), -1)
          require(cells.length == schema.fields.length,
            s"CustomSeparated arity ${cells.length}")
          Row.fromSeq(schema.fields.indices.map { i =>
            val c = cells(i)
            if (c == "\\N") null
            else {
              val dt = schema.fields(i).dataType
              parseRaw(dt, if (dt == StringType) unescapeTsv(c) else c)
            }
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // -------------------------------------------------------------- Pretty

  /** PrettyCompact rendering (`PrettyCompactBlockOutputFormat.cpp`):
    * box-drawn table with right-aligned numerics, left-aligned text,
    * ᴺᵁᴸᴸ for nulls. Output-only (a terminal format); `maxRows` caps the
    * driver-side collect exactly like the reference's output_format_
    * pretty_max_rows. */
  def renderPretty(df: DataFrame, maxRows: Int = 100): String = {
    val schema = df.schema
    val rows = df.limit(maxRows).collect()
    val cells: Seq[Seq[String]] = rows.toSeq.map { row =>
      schema.fields.indices.map { i =>
        if (row.isNullAt(i)) "ᴺᵁᴸᴸ"
        else renderRaw(schema.fields(i).dataType, row.get(i))
      }
    }
    val names = schema.fields.map(_.name).toSeq
    val widths = schema.fields.indices.map { i =>
      (names(i).length +: cells.map(_(i).length)).max
    }
    val numeric = schema.fields.map(f => !isTextual(f.dataType) && f.dataType != BooleanType)
    val sb = new StringBuilder
    sb.append(schema.fields.indices.map(i => "─" + names(i) +
        "─" * (widths(i) - names(i).length + 1))
      .mkString("┌", "┬", "┐\n"))
    cells.foreach { r =>
      sb.append(schema.fields.indices.map { i =>
        val pad = " " * (widths(i) - r(i).length)
        if (numeric(i)) " " + pad + r(i) + " " else " " + r(i) + pad + " "
      }.mkString("│", "│", "│\n"))
    }
    sb.append(schema.fields.indices.map(i => "─" * (widths(i) + 2))
      .mkString("└", "┴", "┘\n"))
    sb.toString
  }

  // ------------------------------------------------------------- Values

  private def valuesQuote(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  def writeValues(df: DataFrame, path: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "values") { w =>
        var first = true
        rows.foreach { row =>
          if (!first) w.write(",\n")
          first = false
          w.write(schema.fields.indices.map { i =>
            if (row.isNullAt(i)) "NULL"
            else {
              val dt = schema.fields(i).dataType
              val raw = renderRaw(dt, row.get(i))
              if (isTextual(dt)) valuesQuote(raw) else raw
            }
          }.mkString("(", ",", ")"))
        }
        if (!first) w.write("\n")
      }
    }
  }

  def readValues(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val parts = listParts(path, "values")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val text = readPartText(file)
        new Iterator[Row] {
          private var pos = 0
          private def skip(): Unit =
            while (pos < text.length &&
              (text.charAt(pos) == ',' || text.charAt(pos) == '\n' ||
               text.charAt(pos) == ' ' || text.charAt(pos) == '\r')) pos += 1
          skip()
          override def hasNext: Boolean = { skip(); pos < text.length }
          override def next(): Row = {
            skip()
            require(text.charAt(pos) == '(', s"Values: expected '(' at $pos")
            pos += 1
            val cells = schema.fields.indices.map { i =>
              while (text.charAt(pos) == ' ') pos += 1
              val dt = schema.fields(i).dataType
              val v: Any =
                if (text.charAt(pos) == '\'') { // quoted
                  pos += 1
                  val sb = new StringBuilder
                  var closed = false
                  while (!closed) {
                    val c = text.charAt(pos)
                    if (c == '\\') {
                      text.charAt(pos + 1) match {
                        case '\\' => sb.append('\\'); pos += 2
                        case '\'' => sb.append('\''); pos += 2
                        case 'n' => sb.append('\n'); pos += 2
                        case 't' => sb.append('\t'); pos += 2
                        case other => sb.append(other); pos += 2
                      }
                    } else if (c == '\'') { closed = true; pos += 1 }
                    else { sb.append(c); pos += 1 }
                  }
                  parseRaw(dt, sb.toString)
                } else {
                  val start = pos
                  while (text.charAt(pos) != ',' && text.charAt(pos) != ')') pos += 1
                  val tok = text.substring(start, pos).trim
                  if (tok == "NULL") null else parseRaw(dt, tok)
                }
              while (text.charAt(pos) == ' ') pos += 1
              if (i < schema.fields.length - 1) {
                require(text.charAt(pos) == ',', s"Values: expected ',' at $pos")
                pos += 1
              }
              v
            }
            require(text.charAt(pos) == ')', s"Values: expected ')' at $pos")
            pos += 1
            Row.fromSeq(cells)
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ----------------------------------------------------- JSONColumns
  // registerInputFormatJSONColumns: one COLUMNAR JSON object per block —
  // {"col": [v, v, ...], "col2": [...]}. Sharded rendering: one object
  // per part file (block == part), arrays one per line so the reader can
  // reuse the flat-array scanner. Null cells ride as bare null.

  def writeJsonColumns(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      val buf = rows.toArray
      writePart(path, idx, "jsoncolumns") { w =>
        w.write("{\n")
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          w.write("\"" + jsonEscape(f.name) + "\": [")
          var j = 0
          while (j < buf.length) {
            if (j > 0) w.write(", ")
            w.write(jsonCell(f.dataType, buf(j), i))
            j += 1
          }
          w.write(if (i < schema.fields.length - 1) "],\n" else "]\n")
        }
        w.write("}\n")
      }
    }
  }

  def readJsonColumns(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val parts = listParts(path, "jsoncolumns")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        // per part: one {"name": [...], ...} object, arrays one per line
        val byName = scala.collection.mutable.Map.empty[String, IndexedSeq[(String, Boolean)]]
        rowLines(readPartText(file)).foreach { line =>
          val t = line.trim
          if (t.nonEmpty && t != "{" && t != "}") {
            require(t.startsWith("\""), s"JSONColumns: bad column line $t")
            var pos = 1
            val sb = new StringBuilder
            while (t.charAt(pos) != '\"') {
              if (t.charAt(pos) == '\\') { sb.append(t.charAt(pos + 1)); pos += 2 }
              else { sb.append(t.charAt(pos)); pos += 1 }
            }
            val rest = t.substring(pos + 1).trim.stripPrefix(":").trim
              .stripSuffix(",")
            byName(sb.toString) = parseJsonArray(rest)
          }
        }
        val cols = schema.fields.map { f =>
          byName.getOrElse(f.name,
            sys.error(s"JSONColumns: column ${f.name} missing in $file"))
        }
        val n = if (cols.isEmpty) 0 else cols.head.length
        require(cols.forall(_.length == n), s"JSONColumns: ragged arrays in $file")
        (0 until n).iterator.map { j =>
          Row.fromSeq(schema.fields.indices.map { i =>
            val (cell, quoted) = cols(i)(j)
            if (!quoted && cell == "null") null
            else parseRaw(schema.fields(i).dataType, cell)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------- JSONObjectEachRow
  // registerInputFormatJSONObjectEachRow (JSONObjectEachRowRow{Input,
  // Output}Format.cpp): the whole stream is ONE JSON object whose KEYS
  // name rows and whose values are {col: v} row objects. Sharded like
  // the rest of the family: one object per part file, one row per line;
  // generated row names carry the part index (names are labels, not
  // data — the reader takes rows in order and binds columns BY NAME, so
  // column order inside a row object is free, like the reference).

  /** Minimal flat JSON object parser: string keys, scalar values.
    * Returns key → (text, wasQuoted) for type-directed conversion. */
  private[sources] def parseJsonObject(s0: String): Map[String, (String, Boolean)] = {
    val s = s0.trim
    require(s.startsWith("{") && s.endsWith("}"), s"not a JSON object: $s0")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (String, Boolean)]
    var pos = 1
    def skipWs(): Unit =
      while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1
    def readString(): String = {
      require(s.charAt(pos) == '"', s"expected '\"' at $pos in $s0")
      pos += 1
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          s.charAt(pos + 1) match {
            case '"' => sb.append('"'); pos += 2
            case '\\' => sb.append('\\'); pos += 2
            case 'n' => sb.append('\n'); pos += 2
            case 'r' => sb.append('\r'); pos += 2
            case 't' => sb.append('\t'); pos += 2
            case '/' => sb.append('/'); pos += 2
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(pos + 2, pos + 6), 16).toChar)
              pos += 6
            case other => sb.append(other); pos += 2
          }
        } else { sb.append(c); pos += 1 }
      }
      pos += 1
      sb.toString
    }
    skipWs()
    while (s.charAt(pos) != '}') {
      val key = readString()
      skipWs()
      require(s.charAt(pos) == ':', s"expected ':' at $pos in $s0")
      pos += 1
      skipWs()
      if (s.charAt(pos) == '"') out(key) = (readString(), true)
      else {
        // unquoted value: scan to the next top-level ',' or '}' with
        // bracket-depth tracking, so nested array/object values (and
        // strings inside them containing separators) stay whole instead
        // of splitting at their first inner comma
        val start = pos
        var depth = 0
        var done = false
        while (!done) {
          s.charAt(pos) match {
            case '[' | '{' => depth += 1; pos += 1
            case ']' => depth -= 1; pos += 1
            case '}' =>
              if (depth == 0) done = true else { depth -= 1; pos += 1 }
            case ',' if depth == 0 => done = true
            case '"' =>
              pos += 1
              while (s.charAt(pos) != '"') {
                if (s.charAt(pos) == '\\') pos += 2 else pos += 1
              }
              pos += 1
            case _ => pos += 1
          }
        }
        out(key) = (s.substring(start, pos).trim, false)
      }
      skipWs()
      if (s.charAt(pos) == ',') { pos += 1; skipWs() }
    }
    out.toMap
  }

  def writeJsonObjectEachRow(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "jsonobjecteachrow") { w =>
        w.write("{\n")
        var j = 0
        rows.foreach { row =>
          if (j > 0) w.write(",\n")
          w.write("\"row_" + idx + "_" + (j + 1) + "\": {")
          w.write(schema.fields.indices.map { i =>
            "\"" + jsonEscape(schema.fields(i).name) + "\": " +
              jsonCell(schema.fields(i).dataType, row, i)
          }.mkString(", "))
          w.write("}")
          j += 1
        }
        if (j > 0) w.write("\n")
        w.write("}\n")
      }
    }
  }

  def readJsonObjectEachRow(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val parts = listParts(path, "jsonobjecteachrow")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        rowLines(readPartText(file)).flatMap { line0 =>
          val t = line0.trim.stripSuffix(",")
          if (t.isEmpty || t == "{" || t == "}") None
          else {
            // `"row_name": { ... }` — the name is a label; bind by column
            val brace = t.indexOf('{')
            require(brace >= 0, s"JSONObjectEachRow: no row object in: $t")
            val kv = parseJsonObject(t.substring(brace))
            Some(Row.fromSeq(schema.fields.toSeq.map { f =>
              kv.get(f.name) match {
                case None => null
                case Some((cell, quoted)) =>
                  if (!quoted && cell == "null") null
                  else parseRaw(f.dataType, cell)
              }
            }))
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------- TabSeparatedRaw
  // TabSeparatedRawRow{Input,Output}Format.cpp: TSV with NO escaping —
  // values ride byte-verbatim, so a value containing the separators
  // cannot be represented (the reference writes it broken; this engine
  // fails LOUDLY on write instead). NULL still renders \N (the raw
  // variant keeps the null marker; a literal backslash-N string is
  // therefore unrepresentable too — same contract).

  def writeTabSeparatedRaw(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "tsvraw") { w =>
        rows.foreach { row =>
          val line = schema.fields.indices.map { i =>
            if (row.isNullAt(i)) "\\N"
            else {
              val raw = renderRaw(schema.fields(i).dataType, row.get(i))
              require(!raw.contains('\t') && !raw.contains('\n') && raw != "\\N",
                s"TabSeparatedRaw cannot represent value '$raw' (contains a separator)")
              raw
            }
          }.mkString("\t")
          w.write(line); w.write('\n')
        }
      }
    }
  }

  def readTabSeparatedRaw(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val parts = listParts(path, "tsvraw")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        rowLines(readPartText(file)).map { line =>
          val cells = line.split("\t", -1)
          require(cells.length == schema.fields.length,
            s"TabSeparatedRaw arity ${cells.length}")
          Row.fromSeq(schema.fields.indices.map { i =>
            val c = cells(i)
            if (c == "\\N") null else parseRaw(schema.fields(i).dataType, c)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------- JSONStringsEachRow
  // JSONCompactStringsEachRow / JSONStringsEachRow family: every cell —
  // numbers included — renders as a JSON STRING; readers re-parse by
  // the target type. The string-everything lane survives schema drift
  // (a reader with wider types still parses) at the cost of bytes.

  def writeJsonStringsEachRow(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "jsonstrings") { w =>
        rows.foreach { row =>
          w.write(schema.fields.indices.map { i =>
            if (row.isNullAt(i)) "null"
            else "\"" + jsonEscape(renderRaw(schema.fields(i).dataType, row.get(i))) + "\""
          }.mkString("[", ", ", "]\n"))
        }
      }
    }
  }

  def readJsonStringsEachRow(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val parts = listParts(path, "jsonstrings")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        rowLines(readPartText(file)).map { line =>
          val cells = parseJsonArray(line)
          require(cells.length == schema.fields.length,
            s"JSONStringsEachRow arity ${cells.length}")
          Row.fromSeq(schema.fields.indices.map { i =>
            val (cell, quoted) = cells(i)
            if (!quoted && cell == "null") null
            else parseRaw(schema.fields(i).dataType, cell)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // --------------------------------------------------- JSON (document)
  // The reference's default HTTP result format (JSONRowOutputFormat.cpp
  // + JSONEachRowRowInputFormat for the data lane): ONE document with a
  // typed meta block, row objects under data, and a rows count. Sharded
  // one document per part; readers verify meta against the schema, so a
  // drifted file fails loudly.

  def writeJsonDocument(df: DataFrame, path: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "json") { w =>
        w.write("{\n\"meta\":\n[\n")
        w.write(schema.fields.map { f =>
          "{\"name\": \"" + jsonEscape(f.name) + "\", \"type\": \"" +
            jsonEscape(ChWireFormats.chTypeName(f.dataType, f.nullable)) + "\"}"
        }.mkString("", ",\n", "\n],\n\"data\":\n[\n"))
        var n = 0L
        rows.foreach { row =>
          if (n > 0) w.write(",\n")
          w.write(schema.fields.indices.map { i =>
            "\"" + jsonEscape(schema.fields(i).name) + "\": " +
              jsonCell(schema.fields(i).dataType, row, i)
          }.mkString("{", ", ", "}"))
          n += 1
        }
        w.write(s"\n],\n\"rows\": $n\n}\n")
      }
    }
  }

  def readJsonDocument(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val expectMeta = schema.fields.map(f =>
      f.name -> ChWireFormats.chTypeName(f.dataType, f.nullable)).toSeq
    val parts = listParts(path, "json")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val lines = rowLines(readPartText(file)).toIndexedSeq
        // sections ride on the writer's line discipline: meta objects
        // between "meta":[ and ]; data objects between "data":[ and ]
        val metaStart = lines.indexWhere(_.trim == "\"meta\":")
        val dataStart = lines.indexWhere(_.trim == "\"data\":")
        require(metaStart >= 0 && dataStart > metaStart,
          s"JSON document: missing meta/data sections in $file")
        val metaObjs = lines.slice(metaStart + 2, lines.indexWhere(
          l => l.trim == "]," || l.trim == "]", metaStart + 2))
        val meta = metaObjs.map { l =>
          val kv = parseJsonObject(l.trim.stripSuffix(","))
          (kv("name")._1, kv("type")._1)
        }
        require(meta == expectMeta,
          s"JSON document meta $meta != schema $expectMeta in $file")
        val dataEnd = lines.indexWhere(
          l => l.trim == "]," || l.trim == "]", dataStart + 2)
        val declared = lines.drop(dataEnd).collectFirst {
          case l if l.trim.startsWith("\"rows\":") =>
            l.trim.stripPrefix("\"rows\":").stripSuffix(",").trim.toLong
        }
        val objs = lines.slice(dataStart + 2, dataEnd)
          .filter(_.trim.nonEmpty)
        require(declared.contains(objs.length.toLong),
          s"JSON document rows ${declared} != data length ${objs.length} in $file")
        objs.iterator.map { l =>
          val kv = parseJsonObject(l.trim.stripSuffix(","))
          Row.fromSeq(schema.fields.toSeq.map { f =>
            kv.get(f.name) match {
              case None => null
              case Some((cell, quoted)) =>
                if (!quoted && cell == "null") null
                else parseRaw(f.dataType, cell)
            }
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // --------------------------------------------------- JSONCompact (document)
  // registerInputFormatJSONCompact (JSONCompactRowInputFormat.cpp): the
  // whole-document sibling of the JSON format — typed meta block, then
  // data rows as ARRAYS (the JSONCompactEachRow cell discipline), then a
  // rows count. readPrefix validates the header against meta
  // (readMetadataAndValidateHeader), so a drifted file fails loudly —
  // mirrored here by the meta == schema require.

  def writeJsonCompactDocument(df: DataFrame, path: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      writePart(path, idx, "jsoncompact") { w =>
        w.write("{\n\"meta\":\n[\n")
        w.write(schema.fields.map { f =>
          "{\"name\": \"" + jsonEscape(f.name) + "\", \"type\": \"" +
            jsonEscape(ChWireFormats.chTypeName(f.dataType, f.nullable)) + "\"}"
        }.mkString("", ",\n", "\n],\n\"data\":\n[\n"))
        var n = 0L
        rows.foreach { row =>
          if (n > 0) w.write(",\n")
          w.write(schema.fields.indices
            .map(i => jsonCell(schema.fields(i).dataType, row, i))
            .mkString("[", ", ", "]"))
          n += 1
        }
        w.write(s"\n],\n\"rows\": $n\n}\n")
      }
    }
  }

  def readJsonCompactDocument(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val expectMeta = schema.fields.map(f =>
      f.name -> ChWireFormats.chTypeName(f.dataType, f.nullable)).toSeq
    val parts = listParts(path, "jsoncompact")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val lines = rowLines(readPartText(file)).toIndexedSeq
        val metaStart = lines.indexWhere(_.trim == "\"meta\":")
        val dataStart = lines.indexWhere(_.trim == "\"data\":")
        require(metaStart >= 0 && dataStart > metaStart,
          s"JSONCompact: missing meta/data sections in $file")
        val metaObjs = lines.slice(metaStart + 2, lines.indexWhere(
          l => l.trim == "]," || l.trim == "]", metaStart + 2))
        val meta = metaObjs.map { l =>
          val kv = parseJsonObject(l.trim.stripSuffix(","))
          (kv("name")._1, kv("type")._1)
        }
        require(meta == expectMeta,
          s"JSONCompact meta $meta != schema $expectMeta in $file")
        val dataEnd = lines.indexWhere(
          l => l.trim == "]," || l.trim == "]", dataStart + 2)
        val declared = lines.drop(dataEnd).collectFirst {
          case l if l.trim.startsWith("\"rows\":") =>
            l.trim.stripPrefix("\"rows\":").stripSuffix(",").trim.toLong
        }
        val arrs = lines.slice(dataStart + 2, dataEnd).filter(_.trim.nonEmpty)
        require(declared.contains(arrs.length.toLong),
          s"JSONCompact rows $declared != data length ${arrs.length} in $file")
        arrs.iterator.map { l =>
          val cells = parseJsonArray(l.trim.stripSuffix(","))
          require(cells.length == schema.fields.length,
            s"JSONCompact arity ${cells.length} in $file")
          Row.fromSeq(schema.fields.indices.map { i =>
            val (c, quoted) = cells(i)
            if (!quoted && c == "null") null
            else parseRaw(schema.fields(i).dataType, c)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ---------------------------------------------- JSONCompactColumns
  // registerInputFormatJSONCompactColumns (JSONCompactColumnsBlockInput
  // Format.cpp): the NAMELESS columnar form — one top-level array of
  // column arrays per block, bound to the target schema BY POSITION
  // (readColumnStart returns nullopt: no name to bind by). Sharded one
  // block per part file, column arrays one per line.

  def writeJsonCompactColumns(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      val buf = rows.toArray
      writePart(path, idx, "jsoncompactcolumns") { w =>
        w.write("[\n")
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          w.write("[")
          var j = 0
          while (j < buf.length) {
            if (j > 0) w.write(", ")
            w.write(jsonCell(f.dataType, buf(j), i))
            j += 1
          }
          w.write(if (i < schema.fields.length - 1) "],\n" else "]\n")
        }
        w.write("]\n")
      }
    }
  }

  def readJsonCompactColumns(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val parts = listParts(path, "jsoncompactcolumns")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val colLines = rowLines(readPartText(file)).map(_.trim)
          .filter(t => t.nonEmpty && t != "[" && t != "]").toIndexedSeq
        require(colLines.length == schema.fields.length,
          s"JSONCompactColumns: ${colLines.length} columns for " +
            s"${schema.fields.length}-field schema in $file")
        val cols = colLines.map(l => parseJsonArray(l.stripSuffix(",")))
        val n = if (cols.isEmpty) 0 else cols.head.length
        require(cols.forall(_.length == n),
          s"JSONCompactColumns: ragged arrays in $file")
        (0 until n).iterator.map { j =>
          Row.fromSeq(schema.fields.indices.map { i =>
            val (cell, quoted) = cols(i)(j)
            if (!quoted && cell == "null") null
            else parseRaw(schema.fields(i).dataType, cell)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------ JSONColumnsWithMetadata
  // registerInputFormatJSONColumnsWithMetadata (JSONColumnsWithMetadata
  // BlockInputFormat.cpp): JSONColumns wrapped in the result-document
  // envelope — readChunkStart reads + validates the meta block against
  // the header (readMetadataAndValidateHeader), binds "data"'s columnar
  // object by NAME, and checkChunkEnd skips the statistics tail (rows
  // etc.). Reader validates meta AND the rows count.

  def writeJsonColumnsWithMetadata(df: DataFrame, path: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => ChWireFormats.chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      val buf = rows.toArray
      writePart(path, idx, "jsoncolumnsmeta") { w =>
        w.write("{\n\"meta\":\n[\n")
        w.write(schema.fields.map { f =>
          "{\"name\": \"" + jsonEscape(f.name) + "\", \"type\": \"" +
            jsonEscape(ChWireFormats.chTypeName(f.dataType, f.nullable)) + "\"}"
        }.mkString("", ",\n", "\n],\n\"data\":\n{\n"))
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          w.write("\"" + jsonEscape(f.name) + "\": [")
          var j = 0
          while (j < buf.length) {
            if (j > 0) w.write(", ")
            w.write(jsonCell(f.dataType, buf(j), i))
            j += 1
          }
          w.write(if (i < schema.fields.length - 1) "],\n" else "]\n")
        }
        w.write(s"},\n\"rows\": ${buf.length}\n}\n")
      }
    }
  }

  def readJsonColumnsWithMetadata(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val expectMeta = schema.fields.map(f =>
      f.name -> ChWireFormats.chTypeName(f.dataType, f.nullable)).toSeq
    val parts = listParts(path, "jsoncolumnsmeta")
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val lines = rowLines(readPartText(file)).toIndexedSeq
        val metaStart = lines.indexWhere(_.trim == "\"meta\":")
        val dataStart = lines.indexWhere(_.trim == "\"data\":")
        require(metaStart >= 0 && dataStart > metaStart,
          s"JSONColumnsWithMetadata: missing meta/data sections in $file")
        val metaObjs = lines.slice(metaStart + 2, lines.indexWhere(
          l => l.trim == "]," || l.trim == "]", metaStart + 2))
        val meta = metaObjs.map { l =>
          val kv = parseJsonObject(l.trim.stripSuffix(","))
          (kv("name")._1, kv("type")._1)
        }
        require(meta == expectMeta,
          s"JSONColumnsWithMetadata meta $meta != schema $expectMeta in $file")
        val dataEnd = lines.indexWhere(
          l => l.trim == "}," || l.trim == "}", dataStart + 2)
        val byName = scala.collection.mutable.Map
          .empty[String, IndexedSeq[(String, Boolean)]]
        lines.slice(dataStart + 2, dataEnd).foreach { line =>
          val t = line.trim
          if (t.nonEmpty) {
            require(t.startsWith("\""),
              s"JSONColumnsWithMetadata: bad column line $t")
            var pos = 1
            val sb = new StringBuilder
            while (t.charAt(pos) != '\"') {
              if (t.charAt(pos) == '\\') { sb.append(t.charAt(pos + 1)); pos += 2 }
              else { sb.append(t.charAt(pos)); pos += 1 }
            }
            val rest = t.substring(pos + 1).trim.stripPrefix(":").trim
              .stripSuffix(",")
            byName(sb.toString) = parseJsonArray(rest)
          }
        }
        val cols = schema.fields.map { f =>
          byName.getOrElse(f.name,
            sys.error(s"JSONColumnsWithMetadata: column ${f.name} missing in $file"))
        }
        val n = if (cols.isEmpty) 0 else cols.head.length
        require(cols.forall(_.length == n),
          s"JSONColumnsWithMetadata: ragged arrays in $file")
        val declared = lines.drop(dataEnd).collectFirst {
          case l if l.trim.startsWith("\"rows\":") =>
            l.trim.stripPrefix("\"rows\":").stripSuffix(",").trim.toLong
        }
        require(declared.contains(n.toLong),
          s"JSONColumnsWithMetadata rows $declared != data length $n in $file")
        (0 until n).iterator.map { j =>
          Row.fromSeq(schema.fields.indices.map { i =>
            val (cell, quoted) = cols(i)(j)
            if (!quoted && cell == "null") null
            else parseRaw(schema.fields(i).dataType, cell)
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ----------------------------------------------------------- Vertical
  // VerticalRowOutputFormat.cpp — output-only (a terminal/report format):
  // per row a `Row N:` header with a `─` rule, then `name: value` lines
  // with names right-padded so values align; ᴺᵁᴸᴸ for nulls like Pretty;
  // a blank line between rows. Driver-side render capped at maxRows, the
  // reference's output_format_pretty_max_rows analog.
  def renderVertical(df: DataFrame, maxRows: Int = 100): String = {
    val schema = df.schema
    val rows = df.limit(maxRows).collect()
    val nameW = (schema.fields.map(_.name.length) :+ 0).max
    val sb = new StringBuilder
    rows.zipWithIndex.foreach { case (row, r) =>
      if (r > 0) sb.append("\n")
      val head = s"Row ${r + 1}:"
      sb.append(head).append("\n").append("─" * head.length).append("\n")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = if (row.isNullAt(i)) "ᴺᵁᴸᴸ"
          else renderRaw(f.dataType, row.get(i))
        sb.append(f.name).append(":")
          .append(" " * (nameW - f.name.length + 1)).append(v).append("\n")
      }
    }
    sb.toString
  }

  // ----------------------------------------------------------- Markdown
  // MarkdownRowOutputFormat.cpp — output-only: a GitHub-flavored table;
  // numeric columns right-align (`--:` rule), everything else left
  // (`:--`); pipes and newlines in cells escape so the table can't break.
  def renderMarkdown(df: DataFrame, maxRows: Int = 100): String = {
    val schema = df.schema
    val rows = df.limit(maxRows).collect()
    def mdEscape(s: String): String =
      s.replace("\\", "\\\\").replace("|", "\\|").replace("\n", "\\n")
    val sb = new StringBuilder
    sb.append(schema.fields.map(f => mdEscape(f.name))
      .mkString("| ", " | ", " |\n"))
    sb.append(schema.fields.map { f =>
      if (!isTextual(f.dataType) && f.dataType != BooleanType) "--:" else ":--"
    }.mkString("| ", " | ", " |\n"))
    rows.foreach { row =>
      sb.append(schema.fields.indices.map { i =>
        if (row.isNullAt(i)) "ᴺᵁᴸᴸ"
        else mdEscape(renderRaw(schema.fields(i).dataType, row.get(i)))
      }.mkString("| ", " | ", " |\n"))
    }
    sb.toString
  }

  // ---------------------------------------------------------------- XML
  // XMLRowOutputFormat.cpp — output-only: <result> with a <meta> column
  // inventory (reference type names), a <data> of <row> elements with
  // one child element per column (nulls render self-closed), and a
  // trailing <rows> count.
  def renderXml(df: DataFrame, maxRows: Int = 100): String = {
    val schema = df.schema
    val rows = df.limit(maxRows).collect()
    def xmlEscape(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sb = new StringBuilder
    sb.append("<?xml version='1.0' encoding='UTF-8' ?>\n<result>\n\t<meta>\n\t\t<columns>\n")
    schema.fields.foreach { f =>
      sb.append("\t\t\t<column>\n\t\t\t\t<name>").append(xmlEscape(f.name))
        .append("</name>\n\t\t\t\t<type>")
        .append(xmlEscape(ChWireFormats.chTypeName(f.dataType, f.nullable)))
        .append("</type>\n\t\t\t</column>\n")
    }
    sb.append("\t\t</columns>\n\t</meta>\n\t<data>\n")
    rows.foreach { row =>
      sb.append("\t\t<row>\n")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val tag = xmlEscape(f.name)
        if (row.isNullAt(i)) sb.append(s"\t\t\t<$tag/>\n")
        else sb.append(s"\t\t\t<$tag>")
          .append(xmlEscape(renderRaw(f.dataType, row.get(i))))
          .append(s"</$tag>\n")
      }
      sb.append("\t\t</row>\n")
    }
    sb.append("\t</data>\n\t<rows>").append(rows.length)
      .append("</rows>\n</result>\n")
    sb.toString
  }
}
