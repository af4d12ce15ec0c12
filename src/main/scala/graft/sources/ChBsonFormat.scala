package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, EOFException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** BSONEachRow wire format (reference `BSONEachRowRowInputFormat.cpp` /
  * `BSONEachRowRowOutputFormat.cpp`; byte layout per the public BSON
  * spec bsonspec.org): each row is one BSON document —
  * [total_size:int32le][elements…][0x00], element =
  * [type:1][cstring name][value]. Types used: 0x01 double, 0x02 string
  * (int32 length incl. NUL + bytes + 0x00), 0x08 bool, 0x09 UTC datetime
  * (int64 epoch millis — BSON's native resolution; sub-ms truncates, the
  * same loss the reference documents for BSON datetimes), 0x10 int32,
  * 0x12 int64, 0x0A null.
  *
  * Self-describing like TSKV: fields are matched by NAME on read, so
  * column order need not agree. Directory-of-parts layout as in
  * [[ChWireFormats]].
  */
object ChBsonFormat {

  private def listParts(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.globStatus(new Path(p, "part-*.bson")).map(_.getPath.toString).toSeq.sorted
  }

  private def cstring(name: String): Array[Byte] =
    name.getBytes(StandardCharsets.UTF_8) :+ 0.toByte

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def le64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  private def writeElement(out: ByteArrayOutputStream, name: String,
                           dt: DataType, v: Any): Unit = {
    if (v == null) { out.write(0x0A); out.write(cstring(name)); return }
    dt match {
      case DoubleType | FloatType =>
        out.write(0x01); out.write(cstring(name))
        val d = v match { case f: Float => f.toDouble; case d: Double => d }
        out.write(le64(java.lang.Double.doubleToRawLongBits(d)))
      case StringType =>
        out.write(0x02); out.write(cstring(name))
        val bytes = v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
        out.write(le32(bytes.length + 1)); out.write(bytes); out.write(0x00)
      case BooleanType =>
        out.write(0x08); out.write(cstring(name))
        out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
      case TimestampType =>
        out.write(0x09); out.write(cstring(name))
        out.write(le64(v.asInstanceOf[java.sql.Timestamp].toInstant.toEpochMilli))
      case IntegerType | ShortType | ByteType =>
        out.write(0x10); out.write(cstring(name))
        out.write(le32(v match {
          case b: Byte => b.toInt; case s: Short => s.toInt; case i: Int => i }))
      case LongType =>
        out.write(0x12); out.write(cstring(name))
        out.write(le64(v.asInstanceOf[Long]))
      case other => throw new IllegalArgumentException(
        s"ChBsonFormat: unsupported type $other")
    }
  }

  def writeBsonEachRow(df: DataFrame, path: String): Long = {
    val schema = df.schema
    Parts.write(df, path) { (idx, rows) =>
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = new BufferedOutputStream(
        fs.create(new Path(path, f"part-$idx%05d.bson"), true), 1 << 16)
      try {
        rows.foreach { row =>
          val body = new ByteArrayOutputStream(128)
          schema.fields.zipWithIndex.foreach { case (f, i) =>
            writeElement(body, f.name, f.dataType,
              if (row.isNullAt(i)) null else row.get(i))
          }
          out.write(le32(body.size() + 5)) // size includes itself + trailing 0
          body.writeTo(out)
          out.write(0x00)
        }
      } finally out.close()
    }
  }

  private def readCString(in: DataInputStream): String = {
    val buf = new ByteArrayOutputStream(16)
    var b = in.read()
    while (b > 0) { buf.write(b); b = in.read() }
    new String(buf.toByteArray, StandardCharsets.UTF_8)
  }

  private def readLe32(in: DataInputStream): Int = {
    val a = new Array[Byte](4); in.readFully(a)
    ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN).getInt
  }

  private def readLe64(in: DataInputStream): Long = {
    val a = new Array[Byte](8); in.readFully(a)
    ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN).getLong
  }

  def readBsonEachRow(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val parts = listParts(path)
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
        val in = new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 16))
        val fieldIdx = schema.fields.map(_.name).zipWithIndex.toMap
        new Iterator[Row] {
          private var nextRow: Row = advance()
          private def advance(): Row = {
            val first = in.read()
            if (first < 0) { in.close(); return null }
            val sz = new Array[Byte](4)
            sz(0) = first.toByte; in.readFully(sz, 1, 3)
            val cells = new Array[Any](schema.fields.length)
            var t = in.read()
            while (t > 0) {
              val name = readCString(in)
              val value: Any = t match {
                case 0x01 => java.lang.Double.longBitsToDouble(readLe64(in))
                case 0x02 =>
                  val len = readLe32(in)
                  val bytes = new Array[Byte](len - 1); in.readFully(bytes)
                  require(in.read() == 0, "BSON string not NUL-terminated")
                  new String(bytes, StandardCharsets.UTF_8)
                case 0x08 => in.read() != 0
                case 0x09 =>
                  java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(readLe64(in)))
                case 0x10 => readLe32(in)
                case 0x12 => readLe64(in)
                case 0x0A => null
                case other => throw new EOFException(s"BSON: unsupported type 0x$other%02x")
              }
              fieldIdx.get(name).foreach { i =>
                cells(i) = if (value == null) null else coerce(schema.fields(i).dataType, value)
              }
              t = in.read()
            }
            Row.fromSeq(cells.toSeq)
          }
          override def hasNext: Boolean = nextRow != null
          override def next(): Row = {
            val r = nextRow; nextRow = advance(); r
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Widen/narrow BSON carriers back to the expected Spark type. */
  private def coerce(dt: DataType, v: Any): Any = (dt, v) match {
    case (LongType, i: Int) => i.toLong
    case (IntegerType, l: Long) => l.toInt
    case (FloatType, d: Double) => d.toFloat
    case (ByteType, i: Int) => i.toByte
    case (ShortType, i: Int) => i.toShort
    case _ => v
  }
}
