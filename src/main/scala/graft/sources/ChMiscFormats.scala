package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Round-7 format tail from the reference's registry
  * (src/Formats/registerFormats.cpp): Npy, LineAsString, RawBLOB and a
  * hand-rolled MessagePack lane (MsgPackRowInputFormat.cpp re-expressed
  * from the PUBLIC msgpack spec, not ported). Same distribution contract
  * as ChWireFormats/ChTextFormats: one self-contained part file per input
  * partition on write, one Spark task per part on read, streams decoded
  * incrementally — parallelism is the part count at any corpus size.
  */
object ChMiscFormats {

  // --------------------------------------------------------- fs plumbing

  private def partPath(dir: String, idx: Int, ext: String): Path =
    new Path(dir, f"part-$idx%05d.$ext")

  private def listParts(dir: String, ext: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.globStatus(new Path(p, s"part-*.$ext")).map(_.getPath.toString).toSeq.sorted
  }

  private def writePartBytes(path: String, idx: Int, ext: String)
      (body: OutputStream => Unit): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    val out = new BufferedOutputStream(fs.create(partPath(path, idx, ext), true), 1 << 16)
    try body(out) finally out.close()
  }

  private def openPart(file: String): DataInputStream = {
    val p = new Path(file)
    val fs = p.getFileSystem(new Configuration())
    new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 16))
  }

  private def readPartBytes(file: String): Array[Byte] = {
    val in = openPart(file)
    try in.readAllBytes() finally in.close()
  }

  // ----------------------------------------------------------------- Npy
  // NumPy .npy v1.0 (public spec; reference NpyRowInputFormat.cpp reads
  // the same single-column shape): \x93NUMPY, major=1, minor=0, u16-LE
  // header length, then a Python-dict header padded to a 64-byte boundary
  // ending in '\n', then the raw C-order array bytes.

  private def npyDescr(dt: DataType): String = dt match {
    case IntegerType => "<i4"
    case LongType    => "<i8"
    case FloatType   => "<f4"
    case DoubleType  => "<f8"
    case BooleanType => "|b1"
    case other => throw new IllegalArgumentException(
      s"Npy: unsupported type $other (Int32/Int64/Float32/Float64/Bool)")
  }

  private def writeLE(out: OutputStream, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Write ONE non-nullable column of `df` per the npy v1.0 layout — one
    * .npy part per partition (a sharded numpy dataset, the layout
    * training pipelines actually emit). */
  def writeNpy(df: DataFrame, path: String): Long = {
    val fields = df.schema.fields
    require(fields.length == 1, s"Npy writes exactly one column, got ${fields.length}")
    val dt = fields(0).dataType
    val descr = npyDescr(dt)
    Parts.write(df, path) { (idx, rows) =>
      val buf = rows.toArray
      writePartBytes(path, idx, "npy") { out =>
        out.write(0x93); out.write("NUMPY".getBytes(StandardCharsets.US_ASCII))
        out.write(1); out.write(0)
        val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': (${buf.length},), }"
        // pad so magic(6)+ver(2)+len(2)+header is a multiple of 64, '\n'-terminated
        val padTo = ((10 + dict.length + 1 + 63) / 64) * 64
        val header = dict + " " * (padTo - 10 - dict.length - 1) + "\n"
        writeLE(out, header.length.toLong, 2)
        out.write(header.getBytes(StandardCharsets.US_ASCII))
        buf.foreach { r =>
          require(!r.isNullAt(0), "Npy: null in a non-nullable array")
          dt match {
            case IntegerType => writeLE(out, r.getInt(0).toLong, 4)
            case LongType    => writeLE(out, r.getLong(0), 8)
            case FloatType   => writeLE(out, java.lang.Float.floatToIntBits(r.getFloat(0)).toLong, 4)
            case DoubleType  => writeLE(out, java.lang.Double.doubleToLongBits(r.getDouble(0)), 8)
            case BooleanType => out.write(if (r.getBoolean(0)) 1 else 0)
            case _ => ()
          }
        }
      }
    }
  }

  /** Read a dir of .npy parts into a one-column DataFrame named `column`.
    * The header's descr decides the type; shape must be 1-D. */
  def readNpy(spark: SparkSession, path: String, column: String): DataFrame = {
    val parts = listParts(path, "npy")
    require(parts.nonEmpty, s"no .npy parts under $path")
    // schema from the first part's header (driver-side, header bytes only)
    val (dt0, _) = npyHeader(readPartBytes(parts.head))
    val schema = StructType(Seq(StructField(column, dt0, nullable = false)))
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val bytes = readPartBytes(file)
        val (dt, dataOff) = npyHeader(bytes)
        require(dt == dt0, s"Npy part $file type $dt != $dt0")
        val width = dt match {
          case IntegerType | FloatType => 4
          case LongType | DoubleType => 8
          case _ => 1
        }
        val n = (bytes.length - dataOff) / width
        (0 until n).iterator.map { i =>
          val off = dataOff + i * width
          def le(k: Int): Long = {
            var v = 0L; var j = 0
            while (j < k) { v |= (bytes(off + j).toLong & 0xff) << (8 * j); j += 1 }
            v
          }
          Row(dt match {
            case IntegerType => le(4).toInt
            case LongType    => le(8)
            case FloatType   => java.lang.Float.intBitsToFloat(le(4).toInt)
            case DoubleType  => java.lang.Double.longBitsToDouble(le(8))
            case _           => bytes(off) != 0
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Parse the npy v1.0 header → (element type, data offset). */
  private def npyHeader(bytes: Array[Byte]): (DataType, Int) = {
    require(bytes.length > 10 && (bytes(0) & 0xff) == 0x93 &&
      new String(bytes, 1, 5, StandardCharsets.US_ASCII) == "NUMPY",
      "not an npy file")
    val hlen = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    val header = new String(bytes, 10, hlen, StandardCharsets.US_ASCII)
    val descr = "'descr':\\s*'([^']+)'".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(sys.error(s"npy header without descr: $header"))
    require(!header.replaceAll("\\s", "").contains("'fortran_order':True"),
      "fortran-order npy not supported")
    val dt = descr match {
      case "<i4" => IntegerType
      case "<i8" => LongType
      case "<f4" => FloatType
      case "<f8" => DoubleType
      case "|b1" => BooleanType
      case other => sys.error(s"npy descr $other unsupported")
    }
    (dt, 10 + hlen)
  }

  // -------------------------------------------------------- LineAsString
  // registerInputFormatLineAsString: every line is one row of a single
  // String column, NO escaping — newline is the only delimiter. Interior
  // empty lines are real rows; only the final delimiter's trailing empty
  // element drops (same contract as the fixed TSV reader).

  def writeLineAsString(df: DataFrame, path: String): Long = {
    require(df.schema.fields.length == 1 &&
      df.schema.fields(0).dataType == StringType,
      "LineAsString writes exactly one String column")
    Parts.write(df, path) { (idx, rows) =>
      writePartBytes(path, idx, "lines") { out =>
        rows.foreach { r =>
          out.write(r.getString(0).getBytes(StandardCharsets.UTF_8))
          out.write('\n')
        }
      }
    }
  }

  def readLineAsString(spark: SparkSession, path: String,
      column: String = "line"): DataFrame = {
    val parts = listParts(path, "lines")
    val schema = StructType(Seq(StructField(column, StringType, nullable = false)))
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val text = new String(readPartBytes(file), StandardCharsets.UTF_8)
        val all = text.split("\n", -1)
        val trimmed = if (all.nonEmpty && all.last.isEmpty) all.dropRight(1) else all
        trimmed.iterator.map(Row(_))
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------------------------- RawBLOB
  // registerInputFormatRawBLOB: the ENTIRE stream is one value. Sharded
  // rendering: one row per part file — write emits one part per input
  // row (a blob store layout), read maps each part to one row.

  def writeRawBlob(df: DataFrame, path: String): Long = {
    require(df.schema.fields.length == 1 &&
      df.schema.fields(0).dataType == BinaryType,
      "RawBLOB writes exactly one Binary column")
    // one part per ROW (distributed): RawBLOB's contract is stream ==
    // value, so a multi-row dataset shards row-per-file to round-trip —
    // the same object-store layout a blob table has at scale. Part index
    // = partition id × 1e6 + offset keeps names collision-free without
    // any coordination.
    Parts.write(df, path) { (idx, rows) =>
      rows.zipWithIndex.foreach { case (r, j) =>
        writePartBytes(path, idx * 1000000 + j, "blob")(
          _.write(r.getAs[Array[Byte]](0)))
      }
    }
  }

  def readRawBlob(spark: SparkSession, path: String,
      column: String = "raw_blob"): DataFrame = {
    val parts = listParts(path, "blob")
    val schema = StructType(Seq(StructField(column, BinaryType, nullable = false)))
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .map(file => Row(readPartBytes(file)))
    spark.createDataFrame(rows, schema)
  }

  // -------------------------------------------------------------- Regexp
  // registerInputFormatRegexp (RegexpRowInputFormat.cpp): every LINE must
  // match `regex`; capture groups bind to schema columns IN ORDER. A
  // non-matching line throws unless skipUnmatched (the reference's
  // format_regexp_skip_unmatched setting). Typed via the same raw-text
  // parser contract the text formats use (numerics/bool/string).

  def readRegexp(spark: SparkSession, path: String, schema: StructType,
      regex: String, skipUnmatched: Boolean = false,
      ext: String = "lines"): DataFrame = {
    val parts = listParts(path, ext)
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val pat = java.util.regex.Pattern.compile(regex)
        val text = new String(readPartBytes(file), StandardCharsets.UTF_8)
        val all = text.split("\n", -1)
        val lines = if (all.nonEmpty && all.last.isEmpty) all.dropRight(1) else all
        lines.iterator.flatMap { line =>
          val m = pat.matcher(line)
          if (!m.matches()) {
            if (skipUnmatched) None
            else throw new IllegalArgumentException(
              s"Regexp format: line does not match: $line")
          } else {
            require(m.groupCount() == schema.fields.length,
              s"Regexp format: ${m.groupCount()} groups for " +
                s"${schema.fields.length} columns")
            Some(Row.fromSeq(schema.fields.indices.map { i =>
              val g = m.group(i + 1)
              if (g == null) null
              else schema.fields(i).dataType match {
                case StringType => g
                case ByteType => g.toByte
                case ShortType => g.toShort
                case IntegerType => g.toInt
                case LongType => g.toLong
                case FloatType => g.toFloat
                case DoubleType => g.toDouble
                case BooleanType => g == "true" || g == "1"
                case other => throw new IllegalArgumentException(
                  s"Regexp format: unsupported type $other")
              }
            }))
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // -------------------------------------------------------- JSONAsString
  // registerInputFormatJSONAsString (JSONAsStringRowInputFormat.cpp):
  // every TOP-LEVEL JSON object in the stream becomes one row of a
  // single String column holding the raw object text — objects may be
  // newline-, comma-, or array-delimited; string-aware brace scanning
  // finds the boundaries.

  def readJsonAsString(spark: SparkSession, path: String,
      column: String = "json", ext: String = "json"): DataFrame = {
    val parts = listParts(path, ext)
    val schema = StructType(Seq(StructField(column, StringType, nullable = false)))
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val text = new String(readPartBytes(file), StandardCharsets.UTF_8)
        val out = List.newBuilder[Row]
        var depth = 0
        var start = -1
        var inStr = false
        var esc = false
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          if (inStr) {
            if (esc) esc = false
            else if (c == '\\') esc = true
            else if (c == '"') inStr = false
          } else c match {
            case '"' if depth > 0 => inStr = true
            case '{' =>
              if (depth == 0) start = i
              depth += 1
            case '}' =>
              depth -= 1
              if (depth == 0 && start >= 0) {
                out += Row(text.substring(start, i + 1))
                start = -1
              }
            case _ => ()
          }
          i += 1
        }
        require(depth == 0 && !inStr, s"JSONAsString: unbalanced input in $file")
        out.result()
      }
    spark.createDataFrame(rows, schema)
  }

  // -------------------------------------------------------- JSONAsObject
  // registerInputFormatJSONAsObject (JSONAsStringRowInputFormat.cpp,
  // JSONAsObjectRowInputFormat): same segmentation as JSONAsString —
  // every top-level object one row — but the single target column is the
  // reference's JSON/Object type, so fields are typed-path addressable
  // without re-parsing per access. SURVEY §1.2 maps Object('json') onto
  // Spark 4 VariantType: the scanner finds object boundaries and
  // parse_json materializes the real VARIANT value (binary variant
  // encoding); a malformed object fails the parse loudly, matching the
  // reference's INCORRECT_DATA behavior.

  def readJsonAsObject(spark: SparkSession, path: String,
      column: String = "json", ext: String = "json"): DataFrame = {
    import org.apache.spark.sql.functions.{col, parse_json}
    readJsonAsString(spark, path, column, ext)
      .select(parse_json(col(column)).as(column))
  }

  // ----------------------------------------------------- ParquetMetadata
  // registerInputFormatParquetMetadata: reading a parquet file THROUGH
  // this format yields its metadata as rows instead of its data — the
  // introspection lane for layout debugging. One row per row group with
  // file, row-group ordinal, row count, byte sizes and column count;
  // footer-only reads (listing a 100 TB layout touches metadata, not
  // data), one task per file.

  def readParquetMetadata(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[String] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq.sorted
      else Seq(path)
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_group", IntegerType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("total_byte_size", LongType, nullable = false),
      StructField("total_compressed_size", LongType, nullable = false),
      StructField("num_columns", IntegerType, nullable = false)))
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.length, 1))
      .flatMap { file =>
        val hp = new Path(file)
        val conf = new Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val md = reader.getFooter
          val nCols = md.getFileMetaData.getSchema.getFieldCount
          import scala.jdk.CollectionConverters._
          md.getBlocks.asScala.zipWithIndex.map { case (b, i) =>
            Row(hp.getName, i, b.getRowCount, b.getTotalByteSize,
              b.getCompressedSize, nCols)
          }.toList
        } finally reader.close()
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------------------------- MsgPack
  // Public msgpack spec (msgpack.org format spec; the reference's
  // MsgPackRowInputFormat consumes the same families): per row, one
  // msgpack object per column in schema order. Writer emits compact
  // canonical forms; reader accepts the full integer/str/float families.

  private def packValue(out: OutputStream, dt: DataType, v: Any): Unit = dt match {
    case BooleanType => out.write(if (v.asInstanceOf[Boolean]) 0xc3 else 0xc2)
    case ByteType | ShortType | IntegerType | LongType =>
      val x = v match {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case i: Int => i.toLong
        case l: Long => l
      }
      if (x >= 0 && x <= 127) out.write(x.toInt)
      else if (x < 0 && x >= -32) out.write(0xe0 | (x.toInt & 0x1f))
      else { out.write(0xd3); var i = 7; while (i >= 0) { out.write(((x >>> (8 * i)) & 0xff).toInt); i -= 1 } }
    case FloatType =>
      out.write(0xca)
      val bits = java.lang.Float.floatToIntBits(v.asInstanceOf[Float])
      var i = 3; while (i >= 0) { out.write((bits >>> (8 * i)) & 0xff); i -= 1 }
    case DoubleType =>
      out.write(0xcb)
      val bits = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      var i = 7; while (i >= 0) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i -= 1 }
    case StringType =>
      val b = v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
      if (b.length <= 31) out.write(0xa0 | b.length)
      else if (b.length <= 255) { out.write(0xd9); out.write(b.length) }
      else if (b.length <= 65535) { out.write(0xda); out.write(b.length >>> 8); out.write(b.length & 0xff) }
      else { out.write(0xdb); var i = 3; while (i >= 0) { out.write((b.length >>> (8 * i)) & 0xff); i -= 1 } }
      out.write(b)
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      if (b.length <= 255) { out.write(0xc4); out.write(b.length) }
      else if (b.length <= 65535) { out.write(0xc5); out.write(b.length >>> 8); out.write(b.length & 0xff) }
      else { out.write(0xc6); var i = 3; while (i >= 0) { out.write((b.length >>> (8 * i)) & 0xff); i -= 1 } }
      out.write(b)
    case other => throw new IllegalArgumentException(
      s"MsgPack: unsupported type $other")
  }

  def writeMsgPack(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      writePartBytes(path, idx, "msgpack") { out =>
        rows.foreach { r =>
          schema.fields.zipWithIndex.foreach { case (f, i) =>
            if (r.isNullAt(i)) out.write(0xc0)
            else packValue(out, f.dataType, r.get(i))
          }
        }
      }
    }
  }

  /** Decode one msgpack object (the families the writer and the wider
    * ecosystem emit); returns null for nil. */
  private def unpack(in: DataInputStream): Any = {
    val b = in.read()
    if (b < 0) throw new EOFException("msgpack EOF")
    def beN(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (in.read().toLong & 0xff); i += 1 }
      v
    }
    def str(n: Int): String = {
      val buf = new Array[Byte](n); in.readFully(buf)
      new String(buf, StandardCharsets.UTF_8)
    }
    def bin(n: Int): Array[Byte] = { val buf = new Array[Byte](n); in.readFully(buf); buf }
    b match {
      case x if x <= 0x7f => x.toLong                     // positive fixint
      case x if x >= 0xe0 => (x - 256).toLong             // negative fixint
      case x if x >= 0xa0 && x <= 0xbf => str(x & 0x1f)   // fixstr (101xxxxx)
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xc4 => bin(beN(1).toInt)
      case 0xc5 => bin(beN(2).toInt)
      case 0xc6 => bin(beN(4).toInt)
      case 0xca => java.lang.Float.intBitsToFloat(beN(4).toInt)
      case 0xcb => java.lang.Double.longBitsToDouble(beN(8))
      case 0xcc => beN(1)                                  // uint8
      case 0xcd => beN(2)
      case 0xce => beN(4)
      case 0xcf => beN(8)
      case 0xd0 => beN(1).toByte.toLong
      case 0xd1 => beN(2).toShort.toLong
      case 0xd2 => beN(4).toInt.toLong
      case 0xd3 => beN(8)
      case 0xd9 => str(beN(1).toInt)
      case 0xda => str(beN(2).toInt)
      case 0xdb => str(beN(4).toInt)
      case other => throw new IllegalArgumentException(
        f"msgpack: unsupported lead byte 0x$other%02x")
    }
  }

  private def coerce(dt: DataType, v: Any): Any =
    if (v == null) null
    else dt match {
      case ByteType => v.asInstanceOf[Long].toByte
      case ShortType => v.asInstanceOf[Long].toShort
      case IntegerType => v.asInstanceOf[Long].toInt
      case LongType => v.asInstanceOf[Long]
      case FloatType => v match {
        case f: Float => f
        case d: Double => d.toFloat
        case l: Long => l.toFloat
      }
      case DoubleType => v match {
        case d: Double => d
        case f: Float => f.toDouble
        case l: Long => l.toDouble
      }
      case _ => v
    }

  def readMsgPack(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val parts = listParts(path, "msgpack")
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val in = openPart(file)
        new Iterator[Row] {
          private var nextByte = in.read()
          override def hasNext: Boolean = {
            if (nextByte < 0) { in.close(); false } else true
          }
          override def next(): Row = {
            // un-consume the probed lead byte via a pushback-style wrap:
            // decode the first column with the probed byte re-injected
            val first = decodeWithLead(nextByte)
            val rest = schema.fields.drop(1).map(f => coerce(f.dataType, unpack(in)))
            nextByte = in.read()
            Row.fromSeq(first +: rest.toSeq)
          }
          private def decodeWithLead(lead: Int): Any = {
            val pushed = new DataInputStream(new java.io.SequenceInputStream(
              new java.io.ByteArrayInputStream(Array(lead.toByte)), in))
            coerce(schema.fields(0).dataType, unpack(pushed))
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }
}
