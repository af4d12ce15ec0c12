package graft.operators

import java.io.ByteArrayInputStream

import graft.plans.FileAdmission
import graft.plans.FileAdmission.{Eq, Pred, Range, Text}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Contains, Expression, GreaterThanOrEqual, In, LessThanOrEqual, Literal, Lower, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MetadataBuilder, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Per-file skip indexes, the analog of the reference's data-skipping
  * indexes (src/Storages/MergeTree/MergeTreeIndices.h) at file granularity:
  *  - `bloom_filter`: a bloom of each file's values per column, on the
  *    xxhash64(seed=42) of the column's own type
  *    (MergeTreeIndexBloomFilter.cpp);
  *  - `minmax`: each file's min and max per column, in the column's type
  *    (MergeTreeIndexMinMax.cpp);
  *  - `set`: each file's distinct values per column, in the column's type,
  *    or null past the cap, which admits always (MergeTreeIndexSet.cpp);
  *  - `ngrambf_v1`: a bloom of the n-grams of the lowercased text of one
  *    column (MergeTreeIndexBloomFilterText.cpp).
  *
  * Build: one distributed pass over the data dir, rows grouped by
  * `_metadata.file_path`; the index lands as a parquet of one row per data
  * file, `__file` and then one field per indexed column. Probe: [[load]]
  * reads that parquet in the planning JVM with no Spark job, and an [[Index]]
  * judges each leaf of a [[FileAdmission]] filter for each file. The
  * transparent path ([[graft.plans.SkipIndexPruning]]) and the explicit
  * `matching*` and `scan*` calls here both go through that one judgement;
  * the scans re-apply the exact predicate, so index false positives
  * never change answers. Like the reference, an index only prunes when
  * the layout clusters the column. */
object SkipIndex {

  private def hash(l: Literal): Long =
    XxHash64(Seq(l), 42L).eval(InternalRow.empty).asInstanceOf[Long]

  private def bloomOf(e: Column, items: Long): Column =
    ExprColumn.column(new BloomFilterAggregate(XxHash64(Seq(ExprColumn.expression(e)), 42L),
      Literal(items), Literal(items * 8)).toAggregateExpression())

  /** Writes one row per file of `dataDir`: `__file` and `agg(c)` per
    * column `c`, named `c`. */
  private def build(spark: SparkSession, dataDir: String, indexDir: String,
      columns: Seq[String])(agg: (DataFrame, String) => Column): Unit = {
    val data = spark.read.parquet(dataDir)
    val aggs = columns.map(c => agg(data, c))
    data.groupBy(col("_metadata.file_path").as("__file")).agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(indexDir)
  }

  /** Bloom index of `columns`; each field records its column's type. */
  def create(spark: SparkSession, dataDir: String, indexDir: String,
             columns: Seq[String], expectedItemsPerFile: Long = 100000L): Unit =
    build(spark, dataDir, indexDir, columns) { (data, c) =>
      bloomOf(col(c), expectedItemsPerFile).as(c,
        new MetadataBuilder().putString("type", data.schema(c).dataType.sql).build())
    }

  /** Min/max index: a `struct<min, max>` per column, in its type. */
  def createMinMax(spark: SparkSession, dataDir: String, indexDir: String,
                   columns: Seq[String]): Unit =
    build(spark, dataDir, indexDir, columns) { (_, c) =>
      struct(min(col(c)).as("min"), max(col(c)).as("max")).as(c)
    }

  /** Set index: each file's distinct values per column while there are at
    * most `maxValues` of them, else null. */
  def createSet(spark: SparkSession, dataDir: String, indexDir: String,
                columns: Seq[String], maxValues: Int = 100): Unit =
    build(spark, dataDir, indexDir, columns) { (_, c) =>
      val values = collect_set(col(c))
      when(size(values) <= maxValues, values).as(c)
    }

  /** N-gram bloom of `textColumn`: every distinct n-gram of each row's
    * lowercased text; the field records `n`. */
  def createNgram(spark: SparkSession, dataDir: String, indexDir: String,
                  textColumn: String, n: Int = 3,
                  expectedItemsPerFile: Long = 200000L): Unit =
    spark.read.parquet(dataDir)
      .select(col("_metadata.file_path").as("__file"), lower(col(textColumn)).as("__t"))
      .select(col("__file"), explode(expr(
        // sequence(1, 0) is DESCENDING in Spark — guard short rows explicitly
        s"CASE WHEN length(__t) >= $n THEN transform(sequence(1, length(__t) - ${n - 1}), " +
          s"i -> substring(__t, i, $n)) ELSE array() END"))
        .as("gram"))
      .distinct()
      .groupBy("__file")
      .agg(bloomOf(col("gram"), expectedItemsPerFile).as(textColumn,
        new MetadataBuilder().putLong("n", n).build()))
      .coalesce(1).write.mode("overwrite").parquet(indexDir)

  def drop(spark: SparkSession, indexDir: String): Unit = {
    val p = new Path(indexDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A built index of `kind`, read in the planning JVM. It judges one leaf of a
    * [[FileAdmission]] filter for one data file; a leaf it cannot judge,
    * or a file it does not list, admits. */
  final class Index private[SkipIndex] (kind: String, schema: StructType,
      rows: Seq[InternalRow]) {

    /** The data files, as the build recorded them. */
    val files: Seq[String] = rows.map(_.getUTF8String(0).toString)

    /** The indexed columns. */
    def columns: Seq[String] = schema.fieldNames.toSeq.drop(1)

    /** Each indexed column's field and own type, by lowercased name. */
    private val fields: Map[String, (Int, DataType)] =
      schema.fields.zipWithIndex.drop(1).map { case (f, i) =>
        f.name.toLowerCase -> (i, f.dataType match {
          case ArrayType(t, _) => t
          case s: StructType => s.head.dataType
          case _ if f.metadata.contains("type") => DataType.fromDDL(f.metadata.getString("type"))
          case _ => StringType
        })
      }.toMap

    def typeOf(c: String): Option[DataType] = fields.get(c.toLowerCase).map(_._2)

    /** Each file's row by path, with its blooms decoded once. */
    private val byPath = files.zip(rows).map { case (f, r) =>
      val blooms = fields.values.collect {
        case (i, _) if schema(i).dataType == BinaryType && !r.isNullAt(i) =>
          i -> BloomFilter.readFrom(new ByteArrayInputStream(r.getBinary(i)))
      }.toMap
      SparkPath.fromUrlString(f).toPath.toUri.getPath -> (r, blooms)
    }.toMap

    def admits(file: Path, p: Pred): Boolean =
      byPath.get(file.toUri.getPath).forall { case (r, blooms) => admits(r, blooms, p) }

    private def admits(r: InternalRow, blooms: Map[Int, BloomFilter], p: Pred): Boolean = {
      val (c, vs) = p match {
        case Eq(c, vs) => (c, vs)
        case Range(c, v, _, _) => (c, Seq(v))
        case Text(c, needle, _, _) => (c, Seq(Literal(needle)))
        case _ => return true
      }
      fields.get(c.toLowerCase) match {
        case Some((i, t)) if vs.forall(_.dataType == t) =>
          // a null entry holds no non-null value, except set's overflow
          if (r.isNullAt(i)) kind == "set" else judge(r, blooms, i, t, p)
        case _ => true
      }
    }

    private def judge(r: InternalRow, blooms: Map[Int, BloomFilter], i: Int, t: DataType,
        p: Pred): Boolean = {
      lazy val ord = TypeUtils.getInterpretedOrdering(t)
      (kind, p) match {
        case ("bloom_filter", Eq(_, vs)) => vs.exists(v => blooms(i).mightContainLong(hash(v)))
        case ("set", Eq(_, vs)) =>
          val set = r.getArray(i)
          val values = (0 until set.numElements()).filterNot(set.isNullAt).map(set.get(_, t))
          vs.exists(v => values.exists(ord.equiv(_, v.value)))
        case ("minmax", _) =>
          val mm = r.getStruct(i, 2)
          if (mm.isNullAt(0)) false
          else {
            val (lo, hi) = (mm.get(0, t), mm.get(1, t))
            p match {
              case Eq(_, vs) => vs.exists(v => ord.lteq(lo, v.value) && ord.gteq(hi, v.value))
              case Range(_, v, true, strict) => if (strict) ord.gt(hi, v.value) else ord.gteq(hi, v.value)
              case Range(_, v, false, strict) => if (strict) ord.lt(lo, v.value) else ord.lteq(lo, v.value)
              // the strings carrying a prefix are the ones from the prefix
              // up to the first string above it that does not carry it
              case Text(_, pre, true, false) =>
                val s = UTF8String.fromString(pre)
                ord.gteq(hi, s) && (ord.lteq(lo, s) || lo.asInstanceOf[UTF8String].startsWith(s))
              case _ => true
            }
          }
        // the grams are of lowercased text, so a needle's lowercase grams
        // admit a superset of its case-sensitive matches
        case ("ngrambf_v1", Text(_, needle, _, _)) =>
          val n = schema(i).metadata.getLong("n").toInt
          val low = needle.toLowerCase
          low.length < n || (0 to low.length - n).forall(j =>
            blooms(i).mightContainLong(hash(Literal(low.substring(j, j + n)))))
        case _ => true
      }
    }
  }

  /** Reads the index of `kind` at `dir` in this JVM, with no Spark job:
    * it holds one row per data file. */
  def load(spark: SparkSession, kind: String, dir: String): Index = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    val parts: Seq[FileStatus] = path.getFileSystem(conf).listStatus(path).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    parts.headOption.fold(new Index(kind, new StructType(), Nil)) { first =>
      val footer = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
      val schema = try DataType.fromJson(footer.getFooter.getFileMetaData
        .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
      finally footer.close()
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      val unsafe = UnsafeProjection.create(schema)
      new Index(kind, schema, parts.flatMap { st =>
        read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0, st.getLen))
          .map(unsafe(_).copy()).toSeq
      })
    }
  }

  /** The files of the index at `indexDir` that may hold a row where `pred`
    * of `column` holds. */
  private def admitted(spark: SparkSession, kind: String, indexDir: String,
      column: Option[String])(pred: AttributeReference => Expression): Seq[String] = {
    val idx = load(spark, kind, indexDir)
    val c = column.orElse(idx.columns.headOption).getOrElse("")
    val p = FileAdmission.normalize(pred(AttributeReference(c, idx.typeOf(c).getOrElse(StringType))()))
    idx.files.filter(f => FileAdmission.admits(p,
      idx.admits(SparkPath.fromUrlString(f).toPath, _)))
  }

  private def isIn(values: Seq[Any])(a: AttributeReference): Expression =
    In(a, values.map(Literal(_)))

  /** `files` of `dataDir` read as `dataDir` is, or none. */
  private def readFiles(spark: SparkSession, dataDir: String, files: Seq[String]): DataFrame = {
    val full = spark.read.parquet(dataDir)
    if (files.isEmpty) full.limit(0)
    else spark.read.option("basePath", dataDir).schema(full.schema).parquet(files: _*)
  }

  /** Files whose bloom for `column` may hold any of `values`. */
  def matchingFiles(spark: SparkSession, indexDir: String,
                    column: String, values: Seq[Any]): Seq[String] =
    admitted(spark, "bloom_filter", indexDir, Some(column))(isIn(values))

  /** The rows of `dataDir` whose `column` is one of `values`, read from
    * the files the bloom index admits. */
  def scan(spark: SparkSession, dataDir: String, indexDir: String,
           column: String, values: Seq[Any]): DataFrame =
    readFiles(spark, dataDir, matchingFiles(spark, indexDir, column, values))
      .filter(col(column).isin(values: _*))

  /** Files whose [min, max] for `column` meets [lo, hi]. */
  def matchingFilesRange(spark: SparkSession, indexDir: String, column: String,
                         lo: Any, hi: Any): Seq[String] =
    admitted(spark, "minmax", indexDir, Some(column))(a =>
      And(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi))))

  def scanRange(spark: SparkSession, dataDir: String, indexDir: String,
                column: String, lo: Any, hi: Any): DataFrame =
    readFiles(spark, dataDir, matchingFilesRange(spark, indexDir, column, lo, hi))
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))

  /** Files whose set for `column` holds any of `values`, and the files
    * past the cap. */
  def matchingFilesSet(spark: SparkSession, indexDir: String,
                       column: String, values: Seq[Any]): Seq[String] =
    admitted(spark, "set", indexDir, Some(column))(isIn(values))

  def scanSet(spark: SparkSession, dataDir: String, indexDir: String,
              column: String, values: Seq[Any]): DataFrame =
    readFiles(spark, dataDir, matchingFilesSet(spark, indexDir, column, values))
      .filter(col(column).isin(values: _*))

  /** Files whose text may contain `needle`, in any case. Needles shorter
    * than n admit every file, as in the reference. */
  def matchingFilesLike(spark: SparkSession, indexDir: String,
                        needle: String): Seq[String] =
    admitted(spark, "ngrambf_v1", indexDir, None)(a => Contains(Lower(a), Literal(needle)))

  /** Case-insensitive substring scan (`LIKE '%needle%'` on lower(text)). */
  def scanLike(spark: SparkSession, dataDir: String, indexDir: String,
               textColumn: String, needle: String): DataFrame =
    readFiles(spark, dataDir, matchingFilesLike(spark, indexDir, needle))
      .filter(lower(col(textColumn)).contains(needle.toLowerCase))
}
