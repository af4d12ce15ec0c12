package graft.queries

import graft.{Q, QueryPack, Scratch, Tables}
import org.apache.spark.sql.functions._

/** Input-format surface (reference: 37 input formats in
  * src/Formats/registerFormats.cpp — CSV/CSVWithNames, JSONEachRow, ORC,
  * Parquet ...). Each query round-trips a table through the format — write
  * the fixture from parquet, read it back through Spark's format reader —
  * and the oracle reads the SAME rows from the original parquet, so the
  * format codec itself is what's under test.
  *
  * Scale note: Spark's csv/json/orc readers are splittable scans with the
  * same partition/pushdown machinery as parquet (ORC keeps predicate
  * pushdown + column pruning; csv/json prune columns after parse).
  */
object Formats extends QueryPack {

  private def fixtureDir(fmt: String, dir: String): String =
    s"/tmp/graft_fixtures/${Scratch.key(dir)}/$fmt"

  /** Two deterministic rows (int key, string, null-bearing string) — the
    * shared fixture of the output-only render formats' golden pins. */
  private def goldenFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "nation")
      .filter(col("n_nationkey") < 2)
      .select(col("n_nationkey").as("k"), col("n_name").as("name"),
        when(col("n_nationkey") === 0, lit(null).cast("string"))
          .otherwise(col("n_name")).as("alt"))
      .orderBy("k")

  override def queries: Seq[Q] = Seq(

    // Typed JSON / Dynamic column (reference: DataTypeObject.h:13 JSON
    // type, DataTypeDynamic.h:10 — SURVEY §1.2 maps both onto Spark 4
    // VariantType). parse_json produces a real VARIANT value (binary
    // variant encoding, not a string), variant_get does typed-path
    // extraction, schema_of_variant reports the inferred object shape,
    // and try_variant_get returns NULL on a type mismatch instead of
    // failing — the Dynamic-column read contract. Oracle: the same
    // numbers via DuckDB's native JSON extraction.
    Q.sparkSql("q_variant_typed", """
      SELECT event_type,
        SUM(variant_get(parse_json(props), '$.k', 'bigint')) AS sum_k,
        COUNT(CASE WHEN variant_get(parse_json(props), '$.k', 'bigint') > 50
              THEN 1 END) AS big_k,
        MAX(schema_of_variant(parse_json(props))) AS vschema,
        COUNT(try_variant_get(parse_json(props), '$.k', 'array<int>')) AS bad_type_nulls
      FROM events GROUP BY event_type ORDER BY event_type""",
      """
      SELECT event_type,
        CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        COUNT(CASE WHEN CAST(props->>'$.k' AS BIGINT) > 50 THEN 1 END) AS big_k,
        'OBJECT<k: BIGINT>' AS vschema,
        0 AS bad_type_nulls
      FROM events GROUP BY event_type ORDER BY event_type"""),

    // CSVWithNames → header'd CSV round-trip (registerFormats.cpp
    // registerInputFormatCSV). Explicit schema on read: CSV carries no
    // types, exactly like the reference's column-declaration DDL.
    Q.df("q_format_csv", """
      SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val path = fixtureDir("csv_nation", dir)
      src.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").schema(src.schema).csv(path)
        .orderBy("n_nationkey")
    },

    // JSONEachRow → line-delimited JSON round-trip
    // (registerInputFormatJSONEachRow).
    Q.df("q_format_json", """
      SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val path = fixtureDir("json_region", dir)
      src.coalesce(1).write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path).orderBy("r_regionkey")
    },

    // ORC round-trip (registerInputFormatORC) — columnar like parquet,
    // keeps pushdown + pruning.
    Q.df("q_format_orc", """
      SELECT s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS bal
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal").cast("double").as("bal"))
      val path = fixtureDir("orc_supplier", dir)
      src.coalesce(1).write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy("s_suppkey")
    },

    // RowBinary round-trip (registerInputFormatRowBinary — the CH wire
    // format: LE fixed-width numerics, LEB128-length strings, 1-byte null
    // markers). The nullable lane is exercised via NULLIF on mktsegment.
    // Distributed both ways: one part per partition on write, one task per
    // part on read (graft.sources.ChWireFormats).
    Q.df("q_format_rowbinary", """
      SELECT c_custkey, c_name, c_nationkey,
             CAST(c_acctbal AS DOUBLE) AS bal,
             CASE WHEN c_mktsegment='BUILDING' THEN NULL ELSE c_mktsegment END AS seg
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast("double").as("bal"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        .repartition(4)
      val path = fixtureDir("rowbinary_customer", dir)
      graft.sources.ChWireFormats.writeRowBinary(src, path)
      graft.sources.ChWireFormats.readRowBinary(s, path, src.schema)
        .orderBy("c_custkey")
    },

    // RowBinaryWithNamesAndTypes — header carries names + CH type names
    // (Date rides UInt16 days, DateTime64(6) rides Int64 micros); the
    // reader VERIFIES the header against the schema before decoding.
    Q.df("q_format_rowbinary_wnt", """
      SELECT o_orderkey, o_orderdate,
             CAST(o_orderdate AS TIMESTAMP) AS o_ts,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderdate").cast("timestamp").as("o_ts"),
          col("o_totalprice").cast("double").as("price"))
        .repartition(3)
      val path = fixtureDir("rowbinary_wnt_orders", dir)
      graft.sources.ChWireFormats.writeRowBinary(src, path, withNamesAndTypes = true)
      graft.sources.ChWireFormats.readRowBinary(s, path, src.schema, withNamesAndTypes = true)
        .orderBy("o_orderkey")
    },

    // Native columnar block round-trip (registerOutputFormatNative) — one
    // block per writer partition; per column: name, type, null-mask vector
    // then value vector.
    Q.df("q_format_native", """
      SELECT p_partkey, p_name, p_size,
             CAST(p_retailprice AS DOUBLE) AS price,
             CASE WHEN p_brand='Brand#13' THEN NULL ELSE p_brand END AS brand
      FROM part ORDER BY p_partkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("p_retailprice").cast("double").as("price"),
          nullif(col("p_brand"), lit("Brand#13")).as("brand"))
        .repartition(4)
      val path = fixtureDir("native_part", dir)
      graft.sources.ChWireFormats.writeNative(src, path)
      graft.sources.ChWireFormats.readNative(s, path, src.schema)
        .orderBy("p_partkey")
    },

    // TabSeparatedWithNamesAndTypes round-trip (TabSeparatedRowOutputFormat
    // .cpp; escaping per IO/WriteHelpers.h writeEscapedString): strings
    // backslash-escaped, NULL as \N, names + CH type rows verified on read.
    Q.df("q_format_tsv_wnt", """
      SELECT c_custkey, c_name, c_nationkey,
             CAST(c_acctbal AS DOUBLE) AS bal,
             CASE WHEN c_mktsegment='MACHINERY' THEN NULL ELSE c_mktsegment END AS seg
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast("double").as("bal"),
          nullif(col("c_mktsegment"), lit("MACHINERY")).as("seg"))
        .repartition(4)
      val path = fixtureDir("tsv_customer", dir)
      graft.sources.ChTextFormats.writeTabSeparated(src, path, withNames = true, withTypes = true)
      graft.sources.ChTextFormats.readTabSeparated(s, path, src.schema, withNames = true, withTypes = true)
        .orderBy("c_custkey")
    },

    // CSVWithNamesAndTypes round-trip (CSVRowOutputFormat.cpp): doubled
    // quotes, textual fields always quoted, unquoted \N nulls, timestamp
    // lane through DateTime64(6) text form.
    Q.df("q_format_csv_wnt", """
      SELECT o_orderkey, o_orderdate, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price,
             CASE WHEN o_orderstatus='F' THEN NULL ELSE o_orderstatus END AS status
      FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("price"),
          nullif(col("o_orderstatus"), lit("F")).as("status"))
        .repartition(3)
      val path = fixtureDir("chcsv_orders", dir)
      graft.sources.ChTextFormats.writeCsv(src, path, withNames = true, withTypes = true)
      graft.sources.ChTextFormats.readCsv(s, path, src.schema, withNames = true, withTypes = true)
        .orderBy("o_orderkey")
    },

    // JSONCompactEachRowWithNamesAndTypes round-trip
    // (JSONCompactEachRowRowOutputFormat.cpp): one JSON array per row,
    // names + CH types header arrays verified on read.
    Q.df("q_format_jsoncompact", """
      SELECT s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS bal
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal").cast("double").as("bal"))
        .repartition(2)
      val path = fixtureDir("jsoncompact_supplier", dir)
      graft.sources.ChTextFormats.writeJsonCompactEachRow(src, path, withNamesAndTypes = true)
      graft.sources.ChTextFormats.readJsonCompactEachRow(s, path, src.schema, withNamesAndTypes = true)
        .orderBy("s_suppkey")
    },

    // Values round-trip (ValuesBlockInputFormat.cpp — the INSERT VALUES
    // wire form): quoted strings with backslash escapes, bare NULL.
    Q.df("q_format_values", """
      SELECT n_nationkey, n_name, n_regionkey,
             CASE WHEN n_regionkey = 2 THEN NULL ELSE n_name END AS alt_name
      FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          when(col("n_regionkey") === 2, lit(null).cast("string"))
            .otherwise(col("n_name")).as("alt_name"))
      val path = fixtureDir("values_nation", dir)
      graft.sources.ChTextFormats.writeValues(src, path)
      graft.sources.ChTextFormats.readValues(s, path, src.schema)
        .orderBy("n_nationkey")
    },

    // TSKV round-trip (TSKVRowOutputFormat.cpp): self-describing
    // key=value rows, TSV escaping, \N nulls.
    Q.df("q_format_tskv", """
      SELECT p_partkey, p_name, p_size,
             CASE WHEN p_size < 10 THEN NULL ELSE p_type END AS ptype
      FROM part ORDER BY p_partkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          when(col("p_size") < 10, lit(null).cast("string"))
            .otherwise(col("p_type")).as("ptype"))
        .repartition(3)
      val path = fixtureDir("tskv_part", dir)
      graft.sources.ChTextFormats.writeTskv(src, path)
      graft.sources.ChTextFormats.readTskv(s, path, src.schema)
        .orderBy("p_partkey")
    },

    // ArrowStream round-trip (ArrowBlockInput/OutputFormat.cpp): columnar
    // IPC record batches, schema embedded + verified, nullable lane via
    // validity bitmaps.
    Q.df("q_format_arrow", """
      SELECT c_custkey, c_name, c_nationkey,
             CAST(c_acctbal AS DOUBLE) AS bal,
             CASE WHEN c_mktsegment='AUTOMOBILE' THEN NULL ELSE c_mktsegment END AS seg
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast("double").as("bal"),
          nullif(col("c_mktsegment"), lit("AUTOMOBILE")).as("seg"))
        .repartition(3)
      val path = fixtureDir("arrow_customer", dir)
      graft.sources.ChArrowFormat.writeArrowStream(src, path)
      graft.sources.ChArrowFormat.readArrowStream(s, path, src.schema)
        .orderBy("c_custkey")
    },

    // Avro container round-trip (AvroRowInput/OutputFormat.cpp): blocked,
    // schema-embedded, nullable columns as union(null, T), timestamps as
    // timestamp-micros.
    Q.df("q_format_avro", """
      SELECT o_orderkey, o_orderdate, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price,
             CASE WHEN o_orderstatus='O' THEN NULL ELSE o_orderstatus END AS status
      FROM orders WHERE o_orderkey <= 4000 ORDER BY o_orderkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 4000)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("price"),
          nullif(col("o_orderstatus"), lit("O")).as("status"))
        .repartition(3)
      val path = fixtureDir("avro_orders", dir)
      graft.sources.ChAvroFormat.writeAvro(src, path)
      graft.sources.ChAvroFormat.readAvro(s, path, src.schema)
        .orderBy("o_orderkey")
    },

    // BSONEachRow round-trip (BSONEachRowRow*Format.cpp; layout per the
    // public BSON spec): one BSON document per row, self-describing
    // fields matched by name, 0x0A nulls. Timestamps are EXCLUDED from
    // the lane (BSON datetime is millisecond-resolution — the documented
    // truncation); the double lane is bit-exact.
    Q.df("q_format_bson", """
      SELECT p_partkey, p_name, p_size,
             CAST(p_retailprice AS DOUBLE) AS price,
             CASE WHEN p_size > 40 THEN NULL ELSE p_brand END AS brand
      FROM part ORDER BY p_partkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("p_retailprice").cast("double").as("price"),
          when(col("p_size") > 40, lit(null).cast("string"))
            .otherwise(col("p_brand")).as("brand"))
        .repartition(3)
      val path = fixtureDir("bson_part", dir)
      graft.sources.ChBsonFormat.writeBsonEachRow(src, path)
      graft.sources.ChBsonFormat.readBsonEachRow(s, path, src.schema)
        .orderBy("p_partkey")
    },

    // CustomSeparated round-trip (CustomSeparatedRow*.cpp, Escaped rule)
    // with multi-char delimiters.
    Q.df("q_format_custom_separated", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"))
        .repartition(2)
      val path = fixtureDir("custom_supplier", dir)
      graft.sources.ChTextFormats.writeCustomSeparated(src, path, "||", ";\n")
      graft.sources.ChTextFormats.readCustomSeparated(s, path, src.schema, "||", ";\n")
        .orderBy("s_suppkey")
    },

    // Npy round-trip (registerInputFormatNpy; NumPy v1.0 public spec):
    // one Int64 column through sharded .npy parts — magic, padded dict
    // header, raw LE array. The training-pipeline export/import lane.
    Q.df("q_format_npy", """
      SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS s,
        MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi
      FROM orders""") { (s, dir) =>
      val src = Tables.load(s, dir, "orders")
        .select(col("o_orderkey")).repartition(3)
      val path = fixtureDir("npy_orders", dir)
      graft.sources.ChMiscFormats.writeNpy(src, path)
      graft.sources.ChMiscFormats.readNpy(s, path, "o_orderkey")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("s"),
          min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
    },

    // Npy Float64 lane: bit-exactness of the double array (the SUM under
    // a DECIMAL cast pins every bit's survival).
    Q.df("q_format_npy_f64", """
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(c_acctbal) AS DECIMAL(18,2)) AS DOUBLE) AS s
      FROM (SELECT CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM customer)""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_acctbal").cast("double").as("c_acctbal")).repartition(2)
      val path = fixtureDir("npy_bal", dir)
      graft.sources.ChMiscFormats.writeNpy(src, path)
      graft.sources.ChMiscFormats.readNpy(s, path, "c_acctbal")
        .agg(count(lit(1)).as("n"),
          sum("c_acctbal").cast("decimal(18,2)").cast("double").as("s"))
    },

    // LineAsString (registerInputFormatLineAsString): every line one row
    // of a single String column, no escaping; interior empty lines are
    // rows. Names are newline-free, so the lane round-trips exactly.
    Q.df("q_format_lineasstring", """
      SELECT c_name AS line FROM customer ORDER BY line""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_name").as("line")).repartition(2)
      val path = fixtureDir("lines_customer", dir)
      graft.sources.ChMiscFormats.writeLineAsString(src, path)
      graft.sources.ChMiscFormats.readLineAsString(s, path, "line")
        .orderBy("line")
    },

    // RawBLOB (registerInputFormatRawBLOB): the whole stream is ONE
    // value — sharded as one part file per row (the object-store blob
    // layout); reading maps part → row and the bytes survive verbatim.
    Q.df("q_format_rawblob", """
      SELECT n_name FROM nation ORDER BY n_name""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
        .select(encode(col("n_name"), "UTF-8").as("b"))
      val path = fixtureDir("rawblob_nation", dir)
      graft.sources.ChMiscFormats.writeRawBlob(src, path)
      graft.sources.ChMiscFormats.readRawBlob(s, path)
        .select(decode(col("raw_blob"), "UTF-8").as("n_name"))
        .orderBy("n_name")
    },

    // JSONColumns (registerInputFormatJSONColumns): COLUMNAR JSON — one
    // {"col": [...], ...} object per part/block; nulls ride as bare null
    // inside the arrays.
    Q.df("q_format_jsoncolumns", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        CASE WHEN s_nationkey < 5 THEN NULL ELSE s_name END AS alt
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"),
          when(col("s_nationkey") < 5, lit(null).cast("string"))
            .otherwise(col("s_name")).as("alt"))
        .repartition(2)
      val path = fixtureDir("jsoncolumns_supplier", dir)
      graft.sources.ChTextFormats.writeJsonColumns(src, path)
      graft.sources.ChTextFormats.readJsonColumns(s, path, src.schema)
        .orderBy("s_suppkey")
    },

    // JSONObjectEachRow (JSONObjectEachRowRow{Input,Output}Format.cpp —
    // round 8): one top-level JSON object, row-name keys, {col: v} row
    // objects; readers bind columns BY NAME, names are labels.
    Q.df("q_format_jsonobjecteachrow", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        CASE WHEN s_nationkey < 5 THEN NULL ELSE s_name END AS alt
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"),
          when(col("s_nationkey") < 5, lit(null).cast("string"))
            .otherwise(col("s_name")).as("alt"))
        .repartition(2)
      val path = fixtureDir("jsonobjecteachrow_supplier", dir)
      graft.sources.ChTextFormats.writeJsonObjectEachRow(src, path)
      graft.sources.ChTextFormats.readJsonObjectEachRow(s, path, src.schema)
        .orderBy("s_suppkey")
    },

    // JSONCompact document (JSONCompactRowInputFormat.cpp — round 15,
    // closes the unrecorded JSON-family gap): meta + data-as-ARRAYS +
    // rows envelope; reader validates meta against the schema.
    Q.df("q_format_jsoncompact_doc", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        CASE WHEN s_nationkey < 5 THEN NULL ELSE s_name END AS alt
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"),
          when(col("s_nationkey") < 5, lit(null).cast("string"))
            .otherwise(col("s_name")).as("alt"))
        .repartition(2)
      val path = fixtureDir("jsoncompact_supplier", dir)
      graft.sources.ChTextFormats.writeJsonCompactDocument(src, path)
      graft.sources.ChTextFormats.readJsonCompactDocument(s, path, src.schema)
        .orderBy("s_suppkey")
    },

    // JSONCompactColumns (JSONCompactColumnsBlockInputFormat.cpp —
    // round 15): nameless columnar form — array of column arrays bound
    // by POSITION to the target schema.
    Q.df("q_format_jsoncompactcolumns", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        CASE WHEN s_nationkey < 5 THEN NULL ELSE s_name END AS alt
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"),
          when(col("s_nationkey") < 5, lit(null).cast("string"))
            .otherwise(col("s_name")).as("alt"))
        .repartition(2)
      val path = fixtureDir("jsoncompactcolumns_supplier", dir)
      graft.sources.ChTextFormats.writeJsonCompactColumns(src, path)
      graft.sources.ChTextFormats.readJsonCompactColumns(s, path, src.schema)
        .orderBy("s_suppkey")
    },

    // JSONColumnsWithMetadata (JSONColumnsWithMetadataBlockInputFormat
    // .cpp — round 15): JSONColumns wrapped in the result-document
    // envelope; reader validates the meta block AND the rows count.
    Q.df("q_format_jsoncolumns_metadata", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        CASE WHEN s_nationkey < 5 THEN NULL ELSE s_name END AS alt
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"),
          when(col("s_nationkey") < 5, lit(null).cast("string"))
            .otherwise(col("s_name")).as("alt"))
        .repartition(2)
      val path = fixtureDir("jsoncolumnsmeta_supplier", dir)
      graft.sources.ChTextFormats.writeJsonColumnsWithMetadata(src, path)
      graft.sources.ChTextFormats.readJsonColumnsWithMetadata(s, path, src.schema)
        .orderBy("s_suppkey")
    },

    // JSONAsObject (JSONAsObjectRowInputFormat — round 15): every
    // top-level object one row of a single JSON-typed column (Spark 4
    // VariantType via parse_json); typed access through variant_get —
    // the "ingest now, address typed paths later" lane.
    Q.df("q_format_jsonasobject", """
      SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS s,
        CAST(SUM(n_regionkey) AS BIGINT) AS r,
        MIN(n_name) AS first_name
      FROM nation""") { (s, dir) =>
      val path = fixtureDir("jsonasobject_nation", dir)
      Tables.load(s, dir, "nation").repartition(2)
        .write.mode("overwrite").json(path)
      graft.sources.ChMiscFormats.readJsonAsObject(s, path)
        .select(
          expr("variant_get(json, '$.n_nationkey', 'bigint')").as("k"),
          expr("variant_get(json, '$.n_regionkey', 'bigint')").as("g"),
          expr("variant_get(json, '$.n_name', 'string')").as("nm"))
        .agg(count(lit(1)).as("n"), sum("k").as("s"), sum("g").as("r"),
          min("nm").as("first_name"))
    },

    // TabSeparatedRaw (TabSeparatedRawRow{Input,Output}Format.cpp —
    // round 8): TSV with NO escaping, values byte-verbatim; separators
    // in values are unrepresentable (loud write failure, not silent
    // corruption).
    Q.df("q_format_tsv_raw", """
      SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS price
      FROM part ORDER BY p_partkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          col("p_retailprice").cast("double").as("price"))
        .repartition(2)
      val path = fixtureDir("tsvraw_part", dir)
      graft.sources.ChTextFormats.writeTabSeparatedRaw(src, path)
      graft.sources.ChTextFormats.readTabSeparatedRaw(s, path, src.schema)
        .orderBy("p_partkey")
    },

    // JSONStringsEachRow (round 8): every cell renders as a JSON string,
    // numbers included; the reader re-parses by target type.
    Q.df("q_format_jsonstrings", """
      SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        CASE WHEN s_nationkey < 5 THEN NULL ELSE s_name END AS alt
      FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("bal"),
          when(col("s_nationkey") < 5, lit(null).cast("string"))
            .otherwise(col("s_name")).as("alt"))
        .repartition(2)
      val path = fixtureDir("jsonstrings_supplier", dir)
      graft.sources.ChTextFormats.writeJsonStringsEachRow(src, path)
      graft.sources.ChTextFormats.readJsonStringsEachRow(s, path, src.schema)
        .orderBy("s_suppkey")
    },

    // JSON document format (JSONRowOutputFormat.cpp — the reference's
    // default HTTP result shape, round 8): typed meta block + data row
    // objects + rows count per document; the reader VERIFIES meta and
    // the count against the schema and data.
    Q.df("q_format_json_document", """
      SELECT n_nationkey, n_name,
        CASE WHEN n_regionkey = 0 THEN NULL ELSE n_regionkey END AS r
      FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"),
          when(col("n_regionkey") === 0, lit(null).cast("integer"))
            .otherwise(col("n_regionkey")).as("r"))
        .repartition(2)
      val path = fixtureDir("jsondoc_nation", dir)
      graft.sources.ChTextFormats.writeJsonDocument(src, path)
      graft.sources.ChTextFormats.readJsonDocument(s, path, src.schema)
        .orderBy("n_nationkey")
    },

    // Vertical output format (VerticalRowOutputFormat.cpp — round 8):
    // golden-byte pin, line by line — Row headers, ─ rules, name-aligned
    // values, ᴺᵁᴸᴸ marker, blank line between rows.
    Q.df("q_format_vertical", """
      SELECT * FROM (VALUES
        (0, 'Row 1:'), (1, '──────'), (2, 'k:    0'), (3, 'name: NATION_0'),
        (4, 'alt:  ᴺᵁᴸᴸ'), (5, ''), (6, 'Row 2:'), (7, '──────'),
        (8, 'k:    1'), (9, 'name: NATION_1'), (10, 'alt:  NATION_1')
      ) t(i, line) ORDER BY i""") { (s, dir) =>
      import s.implicits._
      val text = graft.sources.ChTextFormats.renderVertical(goldenFrame(s, dir))
      text.split("\n").zipWithIndex.map { case (l, i) => (i, l) }
        .toSeq.toDF("i", "line").orderBy("i")
    },

    // Markdown output format (MarkdownRowOutputFormat.cpp — round 8):
    // GFM table, numeric columns right-aligned (`--:`), pipes escaped.
    Q.df("q_format_markdown", """
      SELECT * FROM (VALUES
        (0, '| k | name | alt |'), (1, '| --: | :-- | :-- |'),
        (2, '| 0 | NATION_0 | ᴺᵁᴸᴸ |'), (3, '| 1 | NATION_1 | NATION_1 |')
      ) t(i, line) ORDER BY i""") { (s, dir) =>
      import s.implicits._
      val text = graft.sources.ChTextFormats.renderMarkdown(goldenFrame(s, dir))
      text.split("\n").zipWithIndex.map { case (l, i) => (i, l) }
        .toSeq.toDF("i", "line").orderBy("i")
    },

    // XML output format (XMLRowOutputFormat.cpp — round 8): <result> with
    // a typed <meta> column inventory, <row> elements, self-closed nulls,
    // trailing <rows> count.
    Q.df("q_format_xml", """
      SELECT * FROM (VALUES
        (0, '<?xml version=''1.0'' encoding=''UTF-8'' ?>'),
        (1, '<result>'), (2, E'\t<meta>'), (3, E'\t\t<columns>'),
        (4, E'\t\t\t<column>'), (5, E'\t\t\t\t<name>k</name>'),
        (6, E'\t\t\t\t<type>Nullable(Int32)</type>'), (7, E'\t\t\t</column>'),
        (8, E'\t\t\t<column>'), (9, E'\t\t\t\t<name>name</name>'),
        (10, E'\t\t\t\t<type>Nullable(String)</type>'), (11, E'\t\t\t</column>'),
        (12, E'\t\t\t<column>'), (13, E'\t\t\t\t<name>alt</name>'),
        (14, E'\t\t\t\t<type>Nullable(String)</type>'), (15, E'\t\t\t</column>'),
        (16, E'\t\t</columns>'), (17, E'\t</meta>'), (18, E'\t<data>'),
        (19, E'\t\t<row>'), (20, E'\t\t\t<k>0</k>'),
        (21, E'\t\t\t<name>NATION_0</name>'), (22, E'\t\t\t<alt/>'),
        (23, E'\t\t</row>'), (24, E'\t\t<row>'), (25, E'\t\t\t<k>1</k>'),
        (26, E'\t\t\t<name>NATION_1</name>'),
        (27, E'\t\t\t<alt>NATION_1</alt>'), (28, E'\t\t</row>'),
        (29, E'\t</data>'), (30, E'\t<rows>2</rows>'), (31, '</result>')
      ) t(i, line) ORDER BY i""") { (s, dir) =>
      import s.implicits._
      val text = graft.sources.ChTextFormats.renderXml(goldenFrame(s, dir))
      text.split("\n").zipWithIndex.map { case (l, i) => (i, l) }
        .toSeq.toDF("i", "line").orderBy("i")
    },

    // Regexp input format (RegexpRowInputFormat.cpp): each line must
    // match the pattern; capture groups bind to columns in order. The
    // fixture is a pipe-delimited rendering of customer written through
    // LineAsString.
    Q.df("q_format_regexp", """
      SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(concat(col("c_custkey"), lit("|"), col("c_name"), lit("|"),
          col("c_acctbal").cast("double")).as("line"))
        .repartition(2)
      val path = fixtureDir("regexp_customer", dir)
      graft.sources.ChMiscFormats.writeLineAsString(src, path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("c_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("bal",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      graft.sources.ChMiscFormats.readRegexp(s, path, schema,
        "(\\d+)\\|([^|]*)\\|(-?[0-9.E-]+)")
        .orderBy("c_custkey")
    },

    // JSONAsString input format (JSONAsStringRowInputFormat.cpp): each
    // top-level JSON object becomes one raw-text row; typed access then
    // goes through get_json_object — the "ingest now, parse later" lane.
    Q.df("q_format_jsonasstring", """
      SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS s,
        CAST(SUM(n_regionkey) AS BIGINT) AS r
      FROM nation""") { (s, dir) =>
      val path = fixtureDir("jsonasstring_nation", dir)
      Tables.load(s, dir, "nation").repartition(2)
        .write.mode("overwrite").json(path)
      graft.sources.ChMiscFormats.readJsonAsString(s, path)
        .select(
          get_json_object(col("json"), "$.n_nationkey").cast("long").as("k"),
          get_json_object(col("json"), "$.n_regionkey").cast("long").as("g"))
        .agg(count(lit(1)).as("n"), sum("k").as("s"), sum("g").as("r"))
    },

    // MsgPack (MsgPackRow*Format.cpp; layout per the public msgpack
    // spec): per row one object per column — nil/bool/int/float64/str
    // families; writer emits compact forms, reader accepts the full
    // integer family.
    Q.df("q_format_msgpack", """
      SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal,
        CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL
             ELSE c_mktsegment END AS seg
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("bal"),
          nullif(col("c_mktsegment"), lit("MACHINERY")).as("seg"))
        .repartition(3)
      val path = fixtureDir("msgpack_customer", dir)
      graft.sources.ChMiscFormats.writeMsgPack(src, path)
      graft.sources.ChMiscFormats.readMsgPack(s, path, src.schema)
        .orderBy("c_custkey")
    },

    // Protobuf (round-13 — closes the round-12 documented format gap):
    // write the frame through the wire-format encoder (varints, zigzag,
    // packed repeated), read it back, compare against the source — the
    // oracle reads the same parquet directly, so any wire defect is a
    // red row. Repeated field included (order-count per customer).
    Q.df("q_format_protobuf", """
      SELECT c_custkey, c_name,
        CAST(c_nationkey AS INT) AS nat,
        CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      val src = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("int").as("nat"),
          col("c_acctbal").cast("double").as("bal"))
        .repartition(3)
      val proto = """
        syntax = "proto3";
        message Customer {
          int64 c_custkey = 1;
          string c_name = 2;
          sint32 nat = 3;
          double bal = 4;
        }"""
      val path = fixtureDir("protobuf_customer", dir)
      graft.sources.ChProtobufFormat.writeProtobuf(src, path, proto,
        "Customer")
      graft.sources.ChProtobufFormat.readProtobuf(s, path, proto,
        "Customer").orderBy("c_custkey")
    },

    // Text, dump, schema-driven and protobuf formats

    // FORMAT One (round 14 — OneFormat.cpp): one dummy=0 row per input
    // file, the content never read — the reference's existence probe.
    // Fixture: three junk files; oracle = three constant rows.
    Q.df("q_format_one", """
      SELECT CAST(0 AS SMALLINT) AS dummy
      FROM (VALUES (1), (2), (3)) t(i)""") { (s, dir) =>
      val root = Scratch.fresh(s, "fmt_one", dir)
      val fs = Scratch.fs(s, root)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root))
      Seq("a.bin" -> "opaque", "b.csv" -> "not,parsed", "c" -> "")
        .foreach { case (n, t) =>
          val out = fs.create(new org.apache.hadoop.fs.Path(root, n), true)
          try out.write(t.getBytes("UTF-8")) finally out.close()
        }
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT dummy FROM file('$root', 'One')")
    },

    // FORMAT Form (FormRowInputFormat.cpp): url-encoded k=v&k=v rows,
    // one per file; unknown keys skip, omitted columns default. The
    // fixture percent-encodes real customer names (space → %20, '+'
    // literal), so a form-decoding reader (eating '+') or a skipped
    // junk-key bug shows as a value mismatch, not a count.
    Q.df("q_format_form", """
      SELECT c_custkey, c_name, CAST(0 AS BIGINT) AS extra
      FROM customer WHERE c_custkey <= 4 ORDER BY c_custkey""") { (s, dir) =>
      val root = Scratch.fresh(s, "fmt_form", dir)
      val fs = Scratch.fs(s, root)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root))
      def pct(v: String): String = v.map { c =>
        if (c.isLetterOrDigit) c.toString
        else "%%%02X".format(c.toInt)
      }.mkString
      Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 4)
        .select(col("c_custkey"), col("c_name"))
        .collect().foreach { r =>
          val k = r.getAs[Number](0).longValue
          val out = fs.create(
            new org.apache.hadoop.fs.Path(root, s"r$k.form"), true)
          try out.write(
            (s"c_custkey=$k&junk=skipme&c_name=${pct(r.getString(1))}")
              .getBytes("UTF-8"))
          finally out.close()
        }
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT c_custkey, c_name, extra FROM file('$root', 'Form', " +
          "'c_custkey Int64, c_name String, extra Int64') " +
          "ORDER BY c_custkey")
    },

    // FORMAT HiveText (HiveTextRowInputFormat.cpp): header-less CSV
    // with the Hive 0x01 delimiter and \N nulls, read through Spark's
    // native CSV source (distributed/splittable). Fixture restates
    // nation with one NULLed name.
    Q.df("q_format_hivetext", """
      SELECT n_nationkey,
        CASE WHEN n_nationkey = 3 THEN NULL ELSE n_name END AS n_name
      FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val root = Scratch.fresh(s, "fmt_hive", dir)
      val fs = Scratch.fs(s, root)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root))
      val lines = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().sortBy(_.getAs[Number](0).longValue)
        .map { r =>
          val k = r.getAs[Number](0).longValue
          val v = if (k == 3) "\\N" else r.getString(1)
          s"$k\u0001$v"
        }
      val out = fs.create(
        new org.apache.hadoop.fs.Path(root, "part1.hive"), true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT n_nationkey, n_name FROM file('$root', 'HiveText', " +
          "'n_nationkey Int64, n_name String') ORDER BY n_nationkey")
    },

    // FORMAT MySQLDump (MySQLDumpRowInputFormat.cpp): parses the
    // INSERT statements of a mysqldump file, skipping DDL; NULLs,
    // multi-row tuples and a by-name column list all exercised. The
    // oracle restates nation with the NULLed comment.
    Q.df("q_format_mysqldump", """
      SELECT n_nationkey, n_name,
        CASE WHEN n_nationkey % 4 = 0 THEN NULL
             ELSE CAST(n_regionkey AS BIGINT) END AS region
      FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val root = Scratch.fresh(s, "fmt_mysqldump", dir)
      val fs = Scratch.fs(s, root)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root))
      val rows = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .collect().sortBy(_.getAs[Number](0).longValue)
      val tuples = rows.map { r =>
        val k = r.getAs[Number](0).longValue
        val rk = if (k % 4 == 0) "NULL"
          else r.getAs[Number](2).longValue.toString
        s"($k,'${r.getString(1).replace("'", "''")}',$rk)"
      }
      val dump =
        "-- MySQL dump (fixture)\n" +
          "DROP TABLE IF EXISTS `nation`;\n" +
          "CREATE TABLE `nation` (x int);\n" +
          s"INSERT INTO `nation` VALUES ${tuples.mkString(",\n  ")};\n" +
          "UNLOCK TABLES;\n"
      val out = fs.create(
        new org.apache.hadoop.fs.Path(root, "dump.sql"), true)
      try out.write(dump.getBytes("UTF-8")) finally out.close()
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT n_nationkey, n_name, region FROM file('$root', " +
          "'MySQLDump', 'n_nationkey Int64, n_name String, " +
          "region Int64') ORDER BY n_nationkey")
    },

    // FORMAT CapnProto (CapnProtoRowInputFormat.cpp over libcapnp —
    // here a native implementation of the public encoding; the LAST
    // unported data format): framed single-segment messages, hole-
    // packed scalars, NUL-terminated Text. OUTFILE→INFILE roundtrip
    // behind the reference's format_schema setting.
    Q.df("q_format_capnproto", """
      SELECT n_nationkey, n_name, CAST(n_regionkey * 2.5 AS DOUBLE) AS w
      FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val root = Scratch.fresh(s, "fmt_capnp", dir)
      Scratch.fs(s, root).mkdirs(new org.apache.hadoop.fs.Path(root))
      Tables.register(s, dir)
      val schemaPath = s"$root/row.capnp"
      val out = Scratch.fs(s, root).create(
        new org.apache.hadoop.fs.Path(schemaPath), true)
      try out.write(("struct N { n_nationkey @0 :Int64; " +
        "n_name @1 :Text; w @2 :Float64; }\n").getBytes("UTF-8"))
      finally out.close()
      val ch = (q: String) => graft.sql.ClickHouseSql.sql(s, q)
      ch(s"SET format_schema = '$schemaPath:N'")
      try {
        ch("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
          "CAST(n_regionkey * 2.5 AS DOUBLE) AS w FROM nation " +
          s"ORDER BY n_nationkey INTO OUTFILE '$root/data' " +
          "FORMAT CapnProto")
        ch("DROP TABLE IF EXISTS graft_capnp_t")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "graft_capnp_t")
        wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(wh, true)
        ch("CREATE TABLE graft_capnp_t (n_nationkey Int64, " +
          "n_name String, w Float64) ENGINE = MergeTree " +
          "ORDER BY n_nationkey")
        ch(s"INSERT INTO graft_capnp_t FROM INFILE '$root/data' " +
          "FORMAT CapnProto")
        ch("SELECT n_nationkey, n_name, w FROM graft_capnp_t " +
          "ORDER BY n_nationkey")
      } finally s.conf.unset("graft.ch.format_schema")
    },

    // FORMAT Template (TemplateRowInputFormat.cpp + the
    // format_template_row_format / rows_between settings): a roundtrip
    // through a user-defined row template with mixed escaping rules —
    // OUTFILE writes it, INFILE reads it back into a table.
    Q.df("q_format_template", """
      SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val root = Scratch.fresh(s, "fmt_tpl", dir)
      Tables.register(s, dir)
      val ch = (q: String) => graft.sql.ClickHouseSql.sql(s, q)
      ch("SET format_template_row_format = " +
        "'row: ${n_nationkey:Quoted} -> ${n_name:CSV}'")
      try {
        ch(s"SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey " +
          s"INTO OUTFILE '$root/data' FORMAT Template")
        ch("DROP TABLE IF EXISTS graft_tpl_t")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "graft_tpl_t")
        wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(wh, true)
        ch("CREATE TABLE graft_tpl_t (n_nationkey Int64, n_name String) " +
          "ENGINE = MergeTree ORDER BY n_nationkey")
        ch(s"INSERT INTO graft_tpl_t FROM INFILE '$root/data' " +
          "FORMAT Template")
        ch("SELECT n_nationkey, n_name FROM graft_tpl_t " +
          "ORDER BY n_nationkey")
      } finally s.conf.unset("graft.ch.format_template_row_format")
    },

    // FORMAT ProtobufList (ProtobufListInputFormat.cpp — the envelope
    // variant: ONE length-delimited message per stream whose field 1
    // repeats the row message). Roundtrip over nation through the
    // dialect's OUTFILE/INFILE lanes with format_schema set.
    Q.df("q_format_protobuf_list", """
      SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val root = Scratch.fresh(s, "pblist", dir)
      val fs = Scratch.fs(s, root)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root))
      val protoPath = s"$root/row.proto"
      val out = fs.create(new org.apache.hadoop.fs.Path(protoPath), true)
      try out.write(("syntax = \"proto3\";\n" +
        "message N { int64 n_nationkey = 1; string n_name = 2; }\n")
        .getBytes("UTF-8"))
      finally out.close()
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"))
      graft.sources.ChProtobufFormat.writeProtobufList(
        src.coalesce(1), s"$root/data", "syntax = \"proto3\";\n" +
          "message N { int64 n_nationkey = 1; string n_name = 2; }", "N")
      val ch = (q: String) => graft.sql.ClickHouseSql.sql(s, q)
      ch(s"SET format_schema = '$protoPath:N'")
      try {
        ch("DROP TABLE IF EXISTS graft_pblist_t")
        // a prior JVM's managed location survives the catalog — clear it
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "graft_pblist_t")
        wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(wh, true)
        ch("CREATE TABLE graft_pblist_t (n_nationkey Int64, " +
          "n_name String) ENGINE = MergeTree ORDER BY n_nationkey")
        ch(s"INSERT INTO graft_pblist_t FROM INFILE '$root/data' " +
          "FORMAT ProtobufList")
        ch("SELECT n_nationkey, n_name FROM graft_pblist_t " +
          "ORDER BY n_nationkey")
      } finally s.conf.unset("graft.ch.format_schema")
    },

    // Protobuf NESTED messages + enums (round 14 — the reference's
    // ProtobufSerializer handles nesting; this closes the round-13
    // flat-scalar gate): a message field round-trips as a StructType
    // (length-delimited sub-message), an enum as its NAME, a repeated
    // message as an array of structs. The oracle restates the
    // flattened projection over nation.
    Q.df("q_format_protobuf_nested", """
      SELECT n_nationkey AS key, n_name AS label,
        CAST(n_nationkey * 1.5 AS DOUBLE) AS score,
        CASE WHEN n_regionkey = 0 THEN 'LOW'
             WHEN n_regionkey = 1 THEN 'MID' ELSE 'HIGH' END AS band,
        n_name || ',x' AS hist_labels
      FROM nation ORDER BY key""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("key"),
          struct(col("n_name").as("label"),
            (col("n_nationkey") * 1.5).cast("double").as("score"))
            .as("sub"),
          when(col("n_regionkey") === 0, "LOW")
            .when(col("n_regionkey") === 1, "MID")
            .otherwise("HIGH").as("band"),
          array(
            struct(col("n_name").as("label"),
              lit(1.0).cast("double").as("score")),
            struct(lit("x").as("label"),
              lit(2.0).cast("double").as("score"))).as("history"))
        .repartition(3)
      val proto = """
        syntax = "proto3";
        enum Band { LOW = 0; MID = 1; HIGH = 2; }
        message Sub { string label = 1; double score = 2; }
        message Part {
          int64 key = 1;
          Sub sub = 2;
          Band band = 3;
          repeated Sub history = 4;
        }"""
      val path = Scratch.path("pb_nested", dir)
      graft.sources.ChProtobufFormat.writeProtobuf(src, path, proto, "Part")
      graft.sources.ChProtobufFormat.readProtobuf(s, path, proto, "Part")
        .select(col("key"), col("sub.label").as("label"),
          col("sub.score").as("score"), col("band"),
          array_join(expr("transform(history, h -> h.label)"), ",")
            .as("hist_labels"))
        .orderBy("key")
    },

    // Protobuf map<K,V> + oneof (round 14 — the LAST protobuf surface
    // gap; reference ProtobufSerializer handles both): a map column
    // round-trips as MapType through the spec's repeated entry-message
    // wire shape, and oneof members keep EXPLICIT presence — the unset
    // member of each row must read back NULL, never the proto3
    // default (a default-filling decoder hash-mismatches on a/b).
    Q.df("q_format_protobuf_map", """
      SELECT n_nationkey AS key,
        CAST(n_regionkey AS BIGINT) AS tag_val,
        CAST(length(n_name) AS BIGINT) AS tag_len,
        CASE WHEN n_nationkey % 2 = 0
          THEN CAST(n_regionkey AS BIGINT) END AS a,
        CASE WHEN n_nationkey % 2 <> 0 THEN n_name END AS b
      FROM nation ORDER BY key""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("key"),
          col("n_name").as("nm"),
          map(col("n_name"), col("n_regionkey").cast("long"),
            lit("len"), length(col("n_name")).cast("long")).as("tags"),
          when(col("n_nationkey") % 2 === 0,
            col("n_regionkey").cast("long")).as("a"),
          when(col("n_nationkey") % 2 =!= 0, col("n_name")).as("b"))
        .repartition(3)
      val proto = """
        syntax = "proto3";
        message N {
          int64 key = 1;
          string nm = 2;
          map<string, int64> tags = 3;
          oneof pick { int64 a = 4; string b = 5; }
        }"""
      val path = Scratch.path("pb_map", dir)
      graft.sources.ChProtobufFormat.writeProtobuf(src, path, proto, "N")
      graft.sources.ChProtobufFormat.readProtobuf(s, path, proto, "N")
        .select(col("key"),
          element_at(col("tags"), col("nm")).as("tag_val"),
          element_at(col("tags"), lit("len")).as("tag_len"),
          col("a"), col("b"))
        .orderBy("key")
    }
  )
}
