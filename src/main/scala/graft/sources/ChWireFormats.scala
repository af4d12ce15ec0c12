package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** ClickHouse wire formats — RowBinary / RowBinaryWithNamesAndTypes and the
  * columnar Native block format — as distributed Spark read/write paths.
  *
  * Reference: src/Formats/registerFormats.cpp (registerInputFormatRowBinary,
  * registerOutputFormatNative), docs/en/interfaces/formats.md. Byte layout
  * (public wire contract, re-implemented from the documented format — not a
  * code port):
  *
  *   RowBinary          rows back-to-back; per row, column values in schema
  *                      order. Fixed-width numerics little-endian; String =
  *                      unsigned-LEB128 byte length + UTF-8 bytes; Date =
  *                      UInt16 days since 1970-01-01; DateTime64(6) = Int64
  *                      microseconds; Bool = UInt8; Nullable(T) = one 0x00
  *                      (present) / 0x01 (NULL) marker byte before each value.
  *   ...WithNamesAndTypes  a header first: varint column count, then all
  *                      names (String), then all ClickHouse type names.
  *   Native             per block: varint num_columns, varint num_rows, then
  *                      per column: name, type name, and the column data —
  *                      Nullable writes the whole null-mask byte vector
  *                      before the value vector (columnar, unlike RowBinary).
  *
  * Distribution model (the 100 TB shape): the writer emits ONE self-contained
  * stream per input partition (`part-NNNNN.<ext>`) — each part carries its own
  * header/blocks, so parts are independently readable and the directory is the
  * sharded dataset, exactly like Spark's own csv/json layout. The reader maps
  * one Spark task per part file and STREAM-decodes it (no whole-file
  * materialization), so read parallelism = part count and memory is one row
  * (RowBinary) or one block (Native) at a time. Writers control part size by
  * partitioning the DataFrame before the write, same as any Spark sink.
  */
object ChWireFormats {

  // ---------------------------------------------------------------- types

  /** Spark type → ClickHouse wire type name (the header vocabulary). */
  def chTypeName(dt: DataType, nullable: Boolean): String = {
    val base = dt match {
      case BooleanType    => "Bool"
      case ByteType       => "Int8"
      case ShortType      => "Int16"
      case IntegerType    => "Int32"
      case LongType       => "Int64"
      case FloatType      => "Float32"
      case DoubleType     => "Float64"
      case StringType     => "String"
      case DateType       => "Date"
      case TimestampType  => "DateTime64(6)"
      case TimestampNTZType => "DateTime64(6)" // same wire lane, wall-clock reading
      case d: DecimalType if d.precision <= 18 => s"Decimal64(${d.scale})"
      case other =>
        throw new IllegalArgumentException(
          s"ChWireFormats: unsupported Spark type $other (supported: " +
            "numeric, Bool, String, Date, Timestamp, Decimal<=18)")
    }
    if (nullable) s"Nullable($base)" else base
  }

  // -------------------------------------------------------------- varint

  private def writeVarint(out: OutputStream, value: Long): Unit = {
    var x = value
    var cont = true
    while (cont) {
      val b = (x & 0x7f).toInt
      x = x >>> 7
      if (x != 0) out.write(b | 0x80) else { out.write(b); cont = false }
    }
  }

  private def readVarint(in: DataInputStream): Long = {
    var shift = 0
    var result = 0L
    var cont = true
    while (cont) {
      val b = in.read()
      if (b < 0) throw new EOFException("ChWireFormats: EOF inside varint")
      result |= (b.toLong & 0x7f) << shift
      shift += 7
      cont = (b & 0x80) != 0
    }
    result
  }

  // ------------------------------------------------- little-endian scalars

  private def writeLE(out: OutputStream, v: Long, bytes: Int): Unit = {
    var i = 0
    while (i < bytes) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def readLE(in: DataInputStream, bytes: Int): Long = {
    var v = 0L
    var i = 0
    while (i < bytes) {
      val b = in.read()
      if (b < 0) throw new EOFException("ChWireFormats: EOF inside value")
      v |= (b.toLong & 0xff) << (8 * i)
      i += 1
    }
    v
  }

  private def writeString(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    writeVarint(out, b.length.toLong)
    out.write(b)
  }

  private def readString(in: DataInputStream): String = {
    val n = readVarint(in).toInt
    val b = new Array[Byte](n)
    in.readFully(b)
    new String(b, StandardCharsets.UTF_8)
  }

  // ----------------------------------------------------- value codecs

  /** Encode one non-null external-type value of `dt`. */
  private def writeValue(out: OutputStream, dt: DataType, v: Any): Unit = dt match {
    case BooleanType   => out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
    case ByteType      => writeLE(out, v.asInstanceOf[Byte].toLong, 1)
    case ShortType     => writeLE(out, v.asInstanceOf[Short].toLong, 2)
    case IntegerType   => writeLE(out, v.asInstanceOf[Int].toLong, 4)
    case LongType      => writeLE(out, v.asInstanceOf[Long], 8)
    case FloatType     =>
      writeLE(out, java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong & 0xffffffffL, 4)
    case DoubleType    =>
      writeLE(out, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 8)
    case StringType    => writeString(out, v.asInstanceOf[String])
    case DateType      =>
      val days = v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      require(days >= 0 && days <= 0xffff,
        s"ChWireFormats: Date out of UInt16 range (use DateTime64): $v")
      writeLE(out, days, 2)
    case TimestampType =>
      val inst = v.asInstanceOf[java.sql.Timestamp].toInstant
      val micros = Math.addExact(
        Math.multiplyExact(inst.getEpochSecond, 1000000L), inst.getNano / 1000L)
      writeLE(out, micros, 8)
    case TimestampNTZType =>
      val ldt = v.asInstanceOf[java.time.LocalDateTime]
      val micros = Math.addExact(Math.multiplyExact(
        ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), ldt.getNano / 1000L)
      writeLE(out, micros, 8)
    case d: DecimalType if d.precision <= 18 =>
      val bd = v.asInstanceOf[java.math.BigDecimal].setScale(d.scale)
      writeLE(out, bd.unscaledValue().longValueExact(), 8)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  /** Decode one non-null value of `dt` to its external Spark type. */
  private def readValue(in: DataInputStream, dt: DataType): Any = dt match {
    case BooleanType   => readLE(in, 1) != 0L
    case ByteType      => readLE(in, 1).toByte
    case ShortType     => readLE(in, 2).toShort
    case IntegerType   => readLE(in, 4).toInt
    case LongType      => readLE(in, 8)
    case FloatType     => java.lang.Float.intBitsToFloat(readLE(in, 4).toInt)
    case DoubleType    => java.lang.Double.longBitsToDouble(readLE(in, 8))
    case StringType    => readString(in)
    case DateType      => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(readLE(in, 2)))
    case TimestampType =>
      val micros = readLE(in, 8)
      val secs = Math.floorDiv(micros, 1000000L)
      val nanos = Math.floorMod(micros, 1000000L) * 1000L
      java.sql.Timestamp.from(Instant.ofEpochSecond(secs, nanos))
    case TimestampNTZType =>
      val micros = readLE(in, 8)
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case d: DecimalType if d.precision <= 18 =>
      new java.math.BigDecimal(java.math.BigInteger.valueOf(readLE(in, 8)), d.scale)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  // --------------------------------------------------------- fs plumbing

  private def partPath(dir: String, idx: Int, ext: String): Path =
    new Path(dir, f"part-$idx%05d.$ext")

  /** Part files listed on the driver; the readers parallelize this list
    * with one slice per file so read parallelism IS the part count
    * (binaryFiles would combine small parts into one split). Each task
    * re-opens its own stream via the Hadoop FS — works for any scheme. */
  private def listParts(dir: String, ext: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.globStatus(new Path(p, s"part-*.$ext")).map(_.getPath.toString).toSeq.sorted
  }

  private def openPart(file: String): DataInputStream = {
    val p = new Path(file)
    val fs = p.getFileSystem(new Configuration())
    new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 16))
  }

  // ---------------------------------------------------------- RowBinary

  /** Write `df` as a directory of RowBinary part files, one per partition.
    * With `withNamesAndTypes`, each part opens with the names+types header
    * (each part is a self-contained RowBinaryWithNamesAndTypes stream). */
  def writeRowBinary(df: DataFrame, path: String,
                     withNamesAndTypes: Boolean = false): Long = {
    val schema = df.schema
    // Validate the schema up front on the driver — fail before launching tasks.
    schema.fields.foreach(f => chTypeName(f.dataType, f.nullable))
    val ext = "rowbinary"
    Parts.write(df, path) { (idx, rows) =>
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = new BufferedOutputStream(fs.create(partPath(path, idx, ext), true), 1 << 16)
      try {
        if (withNamesAndTypes) {
          writeVarint(out, schema.fields.length.toLong)
          schema.fields.foreach(f => writeString(out, f.name))
          schema.fields.foreach(f => writeString(out, chTypeName(f.dataType, f.nullable)))
        }
        rows.foreach { row =>
          var i = 0
          while (i < schema.fields.length) {
            val f = schema.fields(i)
            if (f.nullable) {
              if (row.isNullAt(i)) out.write(1)
              else { out.write(0); writeValue(out, f.dataType, row.get(i)) }
            } else {
              require(!row.isNullAt(i), s"null in non-nullable column ${f.name}")
              writeValue(out, f.dataType, row.get(i))
            }
            i += 1
          }
        }
      } finally out.close()
    }
  }

  /** Read a RowBinary directory written by [[writeRowBinary]] (or any
    * sharded RowBinary corpus) with the given schema. One Spark task per
    * part file; each task stream-decodes its file. When
    * `withNamesAndTypes`, the per-part header is parsed and VERIFIED
    * against `schema` — a mismatch fails the read loudly. */
  def readRowBinary(spark: SparkSession, path: String, schema: StructType,
                    withNamesAndTypes: Boolean = false): DataFrame = {
    schema.fields.foreach(f => chTypeName(f.dataType, f.nullable))
    val parts = listParts(path, "rowbinary")
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val in = openPart(file)
        if (withNamesAndTypes) verifyHeader(in, schema)
        rowBinaryRowIterator(in, schema)
      }
    spark.createDataFrame(rows, schema)
  }

  private def verifyHeader(in: DataInputStream, schema: StructType): Unit = {
    val n = readVarint(in).toInt
    require(n == schema.fields.length,
      s"RowBinaryWithNamesAndTypes header: $n columns, schema has ${schema.fields.length}")
    val names = (0 until n).map(_ => readString(in))
    val types = (0 until n).map(_ => readString(in))
    schema.fields.zip(names.zip(types)).foreach { case (f, (nm, ty)) =>
      require(f.name == nm, s"header column '$nm' != schema column '${f.name}'")
      val expect = chTypeName(f.dataType, f.nullable)
      require(ty == expect, s"header type '$ty' for '$nm' != schema type '$expect'")
    }
  }

  /** Stream rows off `in` until clean EOF; closes the stream at the end.
    * EOF mid-row is corruption and throws. */
  private def rowBinaryRowIterator(in: DataInputStream, schema: StructType): Iterator[Row] =
    new Iterator[Row] {
      private var nextByte: Int = in.read()
      override def hasNext: Boolean = {
        if (nextByte < 0) { in.close(); false } else true
      }
      override def next(): Row = {
        val vals = new Array[Any](schema.fields.length)
        var i = 0
        var pending = nextByte // first byte of the row, already consumed
        while (i < schema.fields.length) {
          val f = schema.fields(i)
          if (f.nullable) {
            val marker = if (pending >= 0) { val m = pending; pending = -1; m }
                         else in.read()
            if (marker < 0) throw new EOFException("EOF at null marker")
            vals(i) = if (marker == 1) null else readValue(in, f.dataType)
          } else {
            if (pending >= 0) {
              vals(i) = readValueWithFirstByte(in, f.dataType, pending)
              pending = -1
            } else vals(i) = readValue(in, f.dataType)
          }
          i += 1
        }
        nextByte = in.read() // probe for EOF / next row
        Row.fromSeq(vals.toIndexedSeq)
      }
    }

  /** readValue when the first byte of the encoding was already consumed by
    * the EOF probe. */
  private def readValueWithFirstByte(in: DataInputStream, dt: DataType, b0: Int): Any = {
    def leWithFirst(bytes: Int): Long = {
      var v = b0.toLong & 0xff
      var i = 1
      while (i < bytes) {
        val b = in.read()
        if (b < 0) throw new EOFException("EOF inside value")
        v |= (b.toLong & 0xff) << (8 * i)
        i += 1
      }
      v
    }
    dt match {
      case BooleanType   => b0 != 0
      case ByteType      => b0.toByte
      case ShortType     => leWithFirst(2).toShort
      case IntegerType   => leWithFirst(4).toInt
      case LongType      => leWithFirst(8)
      case FloatType     => java.lang.Float.intBitsToFloat(leWithFirst(4).toInt)
      case DoubleType    => java.lang.Double.longBitsToDouble(leWithFirst(8))
      case DateType      => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(leWithFirst(2)))
      case TimestampType =>
        val micros = leWithFirst(8)
        java.sql.Timestamp.from(Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
      case TimestampNTZType =>
        val micros = leWithFirst(8)
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case d: DecimalType if d.precision <= 18 =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(leWithFirst(8)), d.scale)
      case StringType    =>
        // b0 is the first varint byte of the length
        var shift = 7
        var len = b0.toLong & 0x7f
        var cont = (b0 & 0x80) != 0
        while (cont) {
          val b = in.read()
          if (b < 0) throw new EOFException("EOF inside varint")
          len |= (b.toLong & 0x7f) << shift
          shift += 7
          cont = (b & 0x80) != 0
        }
        val buf = new Array[Byte](len.toInt)
        in.readFully(buf)
        new String(buf, StandardCharsets.UTF_8)
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }

  // ------------------------------------------------------------- Native

  /** Write `df` as the Native columnar block format — one file per
    * partition, one block per file (the writer's block = the partition). */
  def writeNative(df: DataFrame, path: String): Long = {
    val schema = df.schema
    schema.fields.foreach(f => chTypeName(f.dataType, f.nullable))
    Parts.write(df, path) { (idx, rows) =>
      val buf = rows.toArray
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = new BufferedOutputStream(fs.create(partPath(path, idx, "native"), true), 1 << 16)
      try {
        writeVarint(out, schema.fields.length.toLong)
        writeVarint(out, buf.length.toLong)
        schema.fields.zipWithIndex.foreach { case (f, ci) =>
          writeString(out, f.name)
          writeString(out, chTypeName(f.dataType, f.nullable))
          if (f.nullable) {
            // columnar null mask first, then values (0 stands in for NULL
            // in the value vector, like the reference's default-filled lane)
            buf.foreach(r => out.write(if (r.isNullAt(ci)) 1 else 0))
            buf.foreach { r =>
              if (r.isNullAt(ci)) writeValue(out, f.dataType, zeroOf(f.dataType))
              else writeValue(out, f.dataType, r.get(ci))
            }
          } else {
            buf.foreach(r => writeValue(out, f.dataType, r.get(ci)))
          }
        }
      } finally out.close()
    }
  }

  private def zeroOf(dt: DataType): Any = dt match {
    case BooleanType   => false
    case ByteType      => 0.toByte
    case ShortType     => 0.toShort
    case IntegerType   => 0
    case LongType      => 0L
    case FloatType     => 0.0f
    case DoubleType    => 0.0
    case StringType    => ""
    case DateType      => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(0))
    case TimestampType => java.sql.Timestamp.from(Instant.EPOCH)
    case d: DecimalType => new java.math.BigDecimal(java.math.BigInteger.ZERO, d.scale)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  /** Read a Native directory written by [[writeNative]]. Schema is taken
    * from the per-block headers and verified against `schema`. Streams
    * block-at-a-time (one block per writer partition). */
  def readNative(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    schema.fields.foreach(f => chTypeName(f.dataType, f.nullable))
    val parts = listParts(path, "native")
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap(file => nativeBlockIterator(openPart(file), schema))
    spark.createDataFrame(rows, schema)
  }

  private def nativeBlockIterator(in: DataInputStream, schema: StructType): Iterator[Row] =
    new Iterator[Row] {
      private var block: Array[Row] = null
      private var pos = 0
      private var done = false
      private def loadBlock(): Boolean = {
        val first = in.read()
        if (first < 0) { in.close(); done = true; return false }
        // first is byte 0 of the num_columns varint (columns < 128 always)
        require((first & 0x80) == 0, "Native: >127 columns unsupported")
        val nCols = first
        require(nCols == schema.fields.length,
          s"Native block: $nCols columns, schema has ${schema.fields.length}")
        val nRows = readVarint(in).toInt
        val cols = new Array[Array[Any]](nCols)
        var ci = 0
        while (ci < nCols) {
          val f = schema.fields(ci)
          val nm = readString(in)
          val ty = readString(in)
          require(nm == f.name, s"Native column '$nm' != schema '${f.name}'")
          val expect = chTypeName(f.dataType, f.nullable)
          require(ty == expect, s"Native type '$ty' for '$nm' != '$expect'")
          val vals = new Array[Any](nRows)
          if (f.nullable) {
            val mask = new Array[Byte](nRows)
            in.readFully(mask)
            var r = 0
            while (r < nRows) {
              val v = readValue(in, f.dataType)
              vals(r) = if (mask(r) == 1) null else v
              r += 1
            }
          } else {
            var r = 0
            while (r < nRows) { vals(r) = readValue(in, f.dataType); r += 1 }
          }
          cols(ci) = vals
          ci += 1
        }
        block = Array.tabulate(nRows)(r => Row.fromSeq(cols.map(_(r)).toIndexedSeq))
        pos = 0
        true
      }
      override def hasNext: Boolean = {
        if (done) return false
        while (block == null || pos >= block.length) {
          if (!loadBlock()) return false // also skips empty blocks
        }
        true
      }
      override def next(): Row = { val r = block(pos); pos += 1; r }
    }
}
