package graft.sources

import java.nio.channels.Channels
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** ArrowStream wire format (reference `ArrowBlockInputFormat.cpp` /
  * `ArrowBlockOutputFormat.cpp`, registerFormats.cpp "ArrowStream"):
  * columnar record batches in the Arrow IPC streaming layout — the
  * interchange format every Arrow-speaking client decodes zero-copy.
  *
  * Same directory-of-parts model as [[ChWireFormats]]: one self-contained
  * IPC stream per partition on write, one task per part on read. Batches
  * of `batchRows` rows bound memory the way the reference's
  * arrow::RecordBatch blocks do. The schema is embedded in every stream
  * and VERIFIED against the expected Spark schema on read.
  */
object ChArrowFormat {

  private val BatchRows = 4096

  private def arrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case BooleanType => ArrowType.Bool.INSTANCE
      case IntegerType => new ArrowType.Int(32, true)
      case LongType => new ArrowType.Int(64, true)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case StringType => ArrowType.Utf8.INSTANCE
      case DateType => new ArrowType.Date(DateUnit.DAY)
      case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
      case other => throw new IllegalArgumentException(
        s"ChArrowFormat: unsupported type $other")
    }
    new Field(f.name, new FieldType(f.nullable, t, null), null)
  }

  private def toArrowSchema(schema: StructType): ArrowSchema =
    new ArrowSchema(schema.fields.map(arrowField).toSeq.asJava)

  private def partPath(dir: String, idx: Int): Path =
    new Path(dir, f"part-$idx%05d.arrows")

  private def listParts(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.globStatus(new Path(p, "part-*.arrows")).map(_.getPath.toString).toSeq.sorted
  }

  private def setValue(v: FieldVector, i: Int, dt: DataType, value: Any): Unit =
    (v, dt) match {
      case (vec: BitVector, BooleanType) =>
        vec.setSafe(i, if (value.asInstanceOf[Boolean]) 1 else 0)
      case (vec: IntVector, IntegerType) => vec.setSafe(i, value.asInstanceOf[Int])
      case (vec: BigIntVector, LongType) => vec.setSafe(i, value.asInstanceOf[Long])
      case (vec: Float4Vector, FloatType) => vec.setSafe(i, value.asInstanceOf[Float])
      case (vec: Float8Vector, DoubleType) => vec.setSafe(i, value.asInstanceOf[Double])
      case (vec: VarCharVector, StringType) =>
        vec.setSafe(i, value.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
      case (vec: DateDayVector, DateType) =>
        vec.setSafe(i, value.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt)
      case (vec: TimeStampMicroTZVector, TimestampType) =>
        val inst = value.asInstanceOf[java.sql.Timestamp].toInstant
        vec.setSafe(i, Math.addExact(
          Math.multiplyExact(inst.getEpochSecond, 1000000L), inst.getNano / 1000L))
      case (other, t) => throw new IllegalArgumentException(s"bad vector $other for $t")
    }

  private def getValue(v: FieldVector, i: Int, dt: DataType): Any =
    if (v.isNull(i)) null
    else (v, dt) match {
      case (vec: BitVector, BooleanType) => vec.get(i) != 0
      case (vec: IntVector, IntegerType) => vec.get(i)
      case (vec: BigIntVector, LongType) => vec.get(i)
      case (vec: Float4Vector, FloatType) => vec.get(i)
      case (vec: Float8Vector, DoubleType) => vec.get(i)
      case (vec: VarCharVector, StringType) =>
        new String(vec.get(i), StandardCharsets.UTF_8)
      case (vec: DateDayVector, DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(vec.get(i).toLong))
      case (vec: TimeStampMicroTZVector, TimestampType) =>
        val micros = vec.get(i)
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
      case (other, t) => throw new IllegalArgumentException(s"bad vector $other for $t")
    }

  /** Write `df` as a directory of ArrowStream part files. */
  def writeArrowStream(df: DataFrame, path: String): Long = {
    val schema = df.schema
    toArrowSchema(schema) // validate up front on the driver
    Parts.write(df, path) { (idx, rows) =>
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(toArrowSchema(schema), alloc)
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = fs.create(partPath(path, idx), true)
      val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out))
      try {
        writer.start()
        val vectors = root.getFieldVectors.asScala.toArray
        var batch = new Array[Row](0)
        val it = rows.grouped(BatchRows)
        while (it.hasNext) {
          batch = it.next().toArray
          root.allocateNew()
          var r = 0
          while (r < batch.length) {
            var c = 0
            while (c < vectors.length) {
              if (batch(r).isNullAt(c)) vectors(c).setNull(r)
              else setValue(vectors(c), r, schema.fields(c).dataType, batch(r).get(c))
              c += 1
            }
            r += 1
          }
          root.setRowCount(batch.length)
          writer.writeBatch()
        }
        writer.end()
      } finally {
        writer.close(); root.close(); alloc.close(); out.close()
      }
    }
  }

  /** Read an ArrowStream directory; one task per part, schema verified
    * against the stream-embedded one. */
  def readArrowStream(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val expected = toArrowSchema(schema).toJson
    val parts = listParts(path)
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val alloc = new RootAllocator()
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
        val in = fs.open(p)
        val reader = new ArrowStreamReader(in, alloc)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          val root = reader.getVectorSchemaRoot
          require(root.getSchema.toJson == expected,
            s"ArrowStream schema mismatch: ${root.getSchema} != expected")
          while (reader.loadNextBatch()) {
            val vectors = root.getFieldVectors.asScala.toArray
            var r = 0
            while (r < root.getRowCount) {
              buf += Row.fromSeq(schema.fields.indices.map(c =>
                getValue(vectors(c), r, schema.fields(c).dataType)))
              r += 1
            }
          }
        } finally { reader.close(); alloc.close(); in.close() }
        buf.iterator
      }
    spark.createDataFrame(rows, schema)
  }
}
