package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro object-container format (reference `AvroRowInputFormat.cpp` /
  * `AvroRowOutputFormat.cpp`, registerFormats.cpp "Avro"): schema'd,
  * blocked, splittable container files via the stock Avro Java library
  * Spark already ships. Nullable columns ride union(null, T); timestamps
  * ride the timestamp-micros logical type; the per-part embedded schema
  * is verified on read. Directory-of-parts layout as in [[ChWireFormats]].
  */
object ChAvroFormat {

  private def avroSchema(schema: StructType, name: String): AvroSchema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base: AvroSchema = f.dataType match {
        case BooleanType => AvroSchema.create(AvroSchema.Type.BOOLEAN)
        case IntegerType => AvroSchema.create(AvroSchema.Type.INT)
        case LongType => AvroSchema.create(AvroSchema.Type.LONG)
        case FloatType => AvroSchema.create(AvroSchema.Type.FLOAT)
        case DoubleType => AvroSchema.create(AvroSchema.Type.DOUBLE)
        case StringType => AvroSchema.create(AvroSchema.Type.STRING)
        case TimestampType =>
          org.apache.avro.LogicalTypes.timestampMicros()
            .addToSchema(AvroSchema.create(AvroSchema.Type.LONG))
        case TimestampNTZType =>
          org.apache.avro.LogicalTypes.localTimestampMicros()
            .addToSchema(AvroSchema.create(AvroSchema.Type.LONG))
        case DateType =>
          org.apache.avro.LogicalTypes.date()
            .addToSchema(AvroSchema.create(AvroSchema.Type.INT))
        case other => throw new IllegalArgumentException(
          s"ChAvroFormat: unsupported type $other")
      }
      val t = if (f.nullable)
        AvroSchema.createUnion(AvroSchema.create(AvroSchema.Type.NULL), base)
      else base
      fs.name(f.name).`type`(t).noDefault()
    }.endRecord()
  }

  private def toAvro(dt: DataType, v: Any): AnyRef = dt match {
    case TimestampType =>
      val inst = v.asInstanceOf[java.sql.Timestamp].toInstant
      java.lang.Long.valueOf(Math.addExact(
        Math.multiplyExact(inst.getEpochSecond, 1000000L), inst.getNano / 1000L))
    case TimestampNTZType =>
      val ldt = v.asInstanceOf[java.time.LocalDateTime]
      java.lang.Long.valueOf(Math.addExact(Math.multiplyExact(
        ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), ldt.getNano / 1000L))
    case DateType =>
      java.lang.Integer.valueOf(v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt)
    case _ => v.asInstanceOf[AnyRef]
  }

  private def fromAvro(dt: DataType, v: AnyRef): Any = (dt, v) match {
    case (_, null) => null
    case (StringType, u) => u.toString // Utf8 → String
    case (TimestampType, l: java.lang.Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l.longValue(), 1000000L),
        Math.floorMod(l.longValue(), 1000000L) * 1000L))
    case (TimestampNTZType, l: java.lang.Long) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l.longValue(), 1000000L),
        (Math.floorMod(l.longValue(), 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (DateType, i: java.lang.Integer) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (_, other) => other
  }

  private def listParts(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.globStatus(new Path(p, "part-*.avro")).map(_.getPath.toString).toSeq.sorted
  }

  def writeAvro(df: DataFrame, path: String): Long = {
    val schema = df.schema
    val avroJson = avroSchema(schema, "row").toString // serializable carrier
    Parts.write(df, path) { (idx, rows) =>
      val aSchema = new AvroSchema.Parser().parse(avroJson)
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = fs.create(new Path(path, f"part-$idx%05d.avro"), true)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](aSchema))
      writer.create(aSchema, out)
      try {
        rows.foreach { row =>
          val rec = new GenericData.Record(aSchema)
          schema.fields.zipWithIndex.foreach { case (f, i) =>
            rec.put(f.name,
              if (row.isNullAt(i)) null else toAvro(f.dataType, row.get(i)))
          }
          writer.append(rec)
        }
      } finally writer.close()
    }
  }

  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val expectedJson = avroSchema(schema, "row").toString
    val parts = listParts(path)
    val rows = spark.sparkContext.parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val expected = new AvroSchema.Parser().parse(expectedJson)
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
        val in = fs.open(p)
        val stream = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        require(stream.getSchema == expected,
          s"Avro schema mismatch: ${stream.getSchema} != $expected")
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          stream.iterator().asScala.foreach { rec =>
            buf += Row.fromSeq(schema.fields.toSeq.map(f =>
              fromAvro(f.dataType, rec.get(f.name))))
          }
        } finally { stream.close(); in.close() }
        buf.iterator
      }
    spark.createDataFrame(rows, schema)
  }
}
