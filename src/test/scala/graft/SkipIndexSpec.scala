package graft

import java.nio.file.Files

import graft.operators.SkipIndex
import graft.plans.Layouts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Generic bloom skip index (ref MergeTreeIndexBloomFilter.cpp): pruning
  * must cut FILES, never change ANSWERS. */
class SkipIndexSpec extends SparkFunSuite {

  // the plans API is called directly here, not through Tables.register or
  // a dialect statement, so the spec installs the rules as any caller must
  override def spark: org.apache.spark.sql.SparkSession = {
    val s = super.spark
    graft.plans.Rules.install(s)
    s
  }

  private val base = {
    val d = Files.createTempDirectory("skipindex").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  private def register(data: String, kind: String, dir: String, columns: String*): Unit =
    Layouts.register(spark, Layouts.Skip(data, kind, dir, columns))

  private def unregister(data: String, dir: String): Unit =
    Layouts.unregister(spark, data, dir)

  private def ch(q: String): DataFrame = graft.sql.ClickHouseSql.sql(spark, q)

  private def warehouse(t: String) = new org.apache.hadoop.fs.Path(
    spark.conf.get("spark.sql.warehouse.dir"), t)

  /** Runs `body` on no table `t`; the dialect DROP unbuilds what it declared. */
  private def withTable(t: String)(body: => Unit): Unit = {
    def clean(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val fs = warehouse(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("", "_dropped").foreach(sfx => fs.delete(warehouse(t + sfx), true))
    }
    clean()
    try body finally { ch(s"DROP TABLE IF EXISTS $t"); clean() }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** `df`'s rows and the "number of files read" of its file scans. */
  private def runCounting(df: DataFrame): (Seq[Row], Long) = {
    val rows = df.collect().toSeq
    (rows, Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum)
  }

  private lazy val fixture: Unit = {
    val docs = Tables.load(spark, sf, "documents")
    docs.repartitionByRange(8, col("source"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/data")
    SkipIndex.create(spark, s"$base/data", s"$base/index",
      Seq("source", "lang"), expectedItemsPerFile = 10000L)
  }

  test("pruned scan equals the full scan") {
    fixture
    val pruned = SkipIndex.scan(spark, s"$base/data", s"$base/index",
        "source", Seq("src3", "src17"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val full = spark.read.parquet(s"$base/data")
      .filter(col("source").isin("src3", "src17"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(pruned.nonEmpty && pruned.toSeq == full.toSeq)
  }

  test("range-clustered layout prunes files") {
    fixture
    val total = new java.io.File(s"$base/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val matched = SkipIndex.matchingFiles(spark, s"$base/index",
      "source", Seq("src3"))
    assert(total == 8, s"fixture should be 8 part files, got $total")
    assert(matched.size < total,
      s"bloom should prune: ${matched.size} of $total files")
  }

  test("absent value matches no file and returns an empty typed frame") {
    fixture
    assert(SkipIndex.matchingFiles(spark, s"$base/index",
      "source", Seq("no_such_source")).isEmpty)
    val empty = SkipIndex.scan(spark, s"$base/data", s"$base/index",
      "source", Seq("no_such_source"))
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.contains("doc_id"))
  }

  test("minmax range scan equals full scan and prunes non-overlapping files") {
    val mmBase = Files.createTempDirectory("skipmm").toString
    Tables.load(spark, sf, "documents")
      .repartitionByRange(6, col("doc_id"))
      .write.mode("overwrite").parquet(s"$mmBase/data")
    SkipIndex.createMinMax(spark, s"$mmBase/data", s"$mmBase/mm", Seq("doc_id"))
    val viaIndex = SkipIndex.scanRange(spark, s"$mmBase/data", s"$mmBase/mm",
      "doc_id", 5L, 20L).select("doc_id").collect().map(_.getLong(0)).sorted
    val full = spark.read.parquet(s"$mmBase/data")
      .filter(col("doc_id").between(5, 20))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(viaIndex.toSeq == full.toSeq && full.nonEmpty)
    val matched = SkipIndex.matchingFilesRange(spark, s"$mmBase/mm", "doc_id", 5L, 20L)
    assert(matched.size < 6, s"range [5,20] should touch few of 6 files, got ${matched.size}")
  }

  test("ngram bloom prunes files for a needle unique to one file") {
    val ngBase = Files.createTempDirectory("skipng").toString
    val ss = SparkTestBase.spark
    import ss.implicits._
    val rows = (1 to 300).map { i =>
      val marker = if (i == 7) " zyzzyvaquark " else " "
      (i.toLong, s"common words here$marker row $i")
    }
    rows.toDF("id", "body").repartitionByRange(5, col("id"))
      .write.mode("overwrite").parquet(s"$ngBase/data")
    SkipIndex.createNgram(spark, s"$ngBase/data", s"$ngBase/ng", "body", n = 3)
    val matched = SkipIndex.matchingFilesLike(spark, s"$ngBase/ng", "zyzzyvaquark")
    assert(matched.size < 5, s"unique needle should prune, got ${matched.size} of 5")
    val hit = SkipIndex.scanLike(spark, s"$ngBase/data", s"$ngBase/ng",
      "body", "ZyzzyvaQuark").select("id").collect().map(_.getLong(0))
    assert(hit.toSeq == Seq(7L))
    // short-needle degradation: below n, every file admits (no pruning,
    // still correct)
    val short = SkipIndex.scanLike(spark, s"$ngBase/data", s"$ngBase/ng",
      "body", "ro").count()
    assert(short == 300)
  }

  test("transparent rule prunes the plan's file list and keeps answers exact") {
    fixture
    register(s"$base/data", "bloom_filter", s"$base/auto", "source", "lang")
    try {
      val df = spark.read.parquet(s"$base/data")
        .filter(col("source") === "src3")
        .select("doc_id")
      val scannedFiles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scannedFiles < 8, s"rule should prune: scanned $scannedFiles of 8")
      val viaRule = df.collect().map(_.getLong(0)).sorted
      unregister(s"$base/data", s"$base/auto")
      val full = spark.read.parquet(s"$base/data")
        .filter(col("source") === "src3")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(viaRule.toSeq == full.toSeq && full.nonEmpty)
    } finally unregister(s"$base/data", s"$base/auto")
  }

  test("transparent rule leaves non-indexed predicates untouched") {
    fixture
    register(s"$base/data", "bloom_filter", s"$base/auto", "source", "lang")
    try {
      val df = spark.read.parquet(s"$base/data")
        .filter(col("n_chars") > 100)  // not an indexed column
      val scannedFiles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scannedFiles == 8, s"no probe → no pruning, got $scannedFiles")
    } finally unregister(s"$base/data", s"$base/auto")
  }

  test("index DDL: ADD builds + registers, DROP unregisters and removes") {
    val t = "graft_idx_ddl_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    Tables.load(spark, sf, "documents")
      .repartitionByRange(4, col("source"), col("doc_id"))
      .write.mode("overwrite").saveAsTable(t)
    graft.sql.ClickHouseSql.sql(spark,
      s"ALTER TABLE $t ADD INDEX s_idx source TYPE bloom_filter GRANULARITY 2")
    val viaDialect = graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src1'").head().getLong(0)
    val direct = Tables.load(spark, sf, "documents")
      .filter(col("source") === "src1").count()
    assert(viaDialect == direct && direct > 0)
    // minmax + ngram kinds build through the same DDL
    graft.sql.ClickHouseSql.sql(spark,
      s"ALTER TABLE $t ADD INDEX id_idx doc_id TYPE minmax")
    graft.sql.ClickHouseSql.sql(spark,
      s"ALTER TABLE $t ADD INDEX txt_idx text TYPE ngrambf_v1(3) GRANULARITY 1")
    // DROP removes structure and unregisters the transparent rule
    Seq("s_idx", "id_idx", "txt_idx").foreach { ix =>
      graft.sql.ClickHouseSql.sql(spark, s"ALTER TABLE $t DROP INDEX $ix")
    }
    assert(graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src1'").head().getLong(0) == direct)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("transparent minmax: range conjuncts prune files, answers exact") {
    val mmBase = Files.createTempDirectory("skipmm_auto").toString
    Tables.load(spark, sf, "documents")
      .repartitionByRange(6, col("doc_id"))
      .write.mode("overwrite").parquet(s"$mmBase/data")
    register(s"$mmBase/data", "minmax", s"$mmBase/mm", "doc_id")
    try {
      val df = spark.read.parquet(s"$mmBase/data")
        .filter(col("doc_id").between(5, 20))
        .select("doc_id")
      val scanned = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scanned < 6, s"BETWEEN should minmax-prune: scanned $scanned of 6")
      val viaRule = df.collect().map(_.getLong(0)).sorted
      unregister(s"$mmBase/data", s"$mmBase/mm")
      val full = spark.read.parquet(s"$mmBase/data")
        .filter(col("doc_id").between(5, 20))
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(viaRule.toSeq == full.toSeq && full.nonEmpty)
      // one-sided range prunes too
      register(s"$mmBase/data", "minmax", s"$mmBase/mm", "doc_id")
      val oneSided = spark.read.parquet(s"$mmBase/data")
        .filter(col("doc_id") < 10)
      val scanned2 = oneSided.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scanned2 < 6, s"doc_id < 10 should prune: $scanned2 of 6")
      assert(oneSided.count() ==
        { unregister(s"$mmBase/data", s"$mmBase/mm")
          spark.read.parquet(s"$mmBase/data").filter(col("doc_id") < 10).count() })
    } finally unregister(s"$mmBase/data", s"$mmBase/mm")
  }

  test("transparent minmax: LIKE 'prefix%' prunes on the string lane") {
    val pfxBase = Files.createTempDirectory("skippfx").toString
    Tables.load(spark, sf, "documents")
      .repartitionByRange(8, col("source"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$pfxBase/data")
    register(s"$pfxBase/data", "minmax", s"$pfxBase/mm", "source")
    try {
      // LIKE 'src1%' simplifies to StartsWith → [prefix, prefix+U+FFFF]
      val df = spark.read.parquet(s"$pfxBase/data")
        .filter(col("source").like("src1%"))
      val scanned = df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.relation.location.inputFiles.length
      }.sum
      assert(scanned < 8, s"prefix should minmax-prune: scanned $scanned of 8")
      val viaRule = df.count()
      unregister(s"$pfxBase/data", s"$pfxBase/mm")
      val full = spark.read.parquet(s"$pfxBase/data")
        .filter(col("source").like("src1%")).count()
      assert(viaRule == full && full > 0)
    } finally unregister(s"$pfxBase/data", s"$pfxBase/mm")
  }

  test("transparent ngrambf: LIKE/contains conjuncts prune files, answers exact") {
    val ngBase = Files.createTempDirectory("skipng_auto").toString
    val ss = SparkTestBase.spark
    import ss.implicits._
    val rows = (1 to 300).map { i =>
      val marker = if (i == 7) " zyzzyvaquark " else " "
      (i.toLong, s"common words here$marker row $i")
    }
    rows.toDF("id", "body").repartitionByRange(5, col("id"))
      .write.mode("overwrite").parquet(s"$ngBase/data")
    Layouts.register(spark, Layouts.Skip(s"$ngBase/data", "ngrambf_v1", s"$ngBase/ng",
      Seq("body"), Some(3)))
    try {
      // LIKE '%needle%' simplifies to Contains by the time the rule runs
      val df = spark.read.parquet(s"$ngBase/data")
        .filter(col("body").like("%zyzzyvaquark%"))
      val scanned = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scanned < 5, s"LIKE should ngram-prune: scanned $scanned of 5")
      assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
      // lower(body) contains — the Lower-wrapped attribute probes too
      val viaLower = spark.read.parquet(s"$ngBase/data")
        .filter(lower(col("body")).contains("zyzzyvaquark"))
      val scannedL = viaLower.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scannedL < 5 && viaLower.count() == 1)
    } finally unregister(s"$ngBase/data", s"$ngBase/ng")
  }

  test("bloom probes cast to the indexed column's type (no false negatives)") {
    fixture
    val idBase = Files.createTempDirectory("skiptyped").toString
    Tables.load(spark, sf, "documents")
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$idBase/data")
    SkipIndex.create(spark, s"$idBase/data", s"$idBase/idx", Seq("doc_id"))
    // Int probes against the LongType column: pre-fix these hashed on the
    // Int lane and silently excluded every file
    val viaInt = SkipIndex.scan(spark, s"$idBase/data", s"$idBase/idx",
      "doc_id", Seq(5, 6, 7)).count()
    val viaLong = SkipIndex.scan(spark, s"$idBase/data", s"$idBase/idx",
      "doc_id", Seq(5L, 6L, 7L)).count()
    assert(viaInt == 3 && viaLong == 3,
      s"typed probes must agree: int=$viaInt long=$viaLong")
  }

  test("partitioned layouts: rule prunes files AND keeps partition values") {
    val pBase = Files.createTempDirectory("skippart").toString
    // cluster by source INSIDE each lang partition so the per-file blooms
    // can actually exclude files
    Tables.load(spark, sf, "documents")
      .repartitionByRange(8, col("source"))
      .write.mode("overwrite").partitionBy("lang").parquet(s"$pBase/data")
    SkipIndex.create(spark, s"$pBase/data", s"$pBase/idx", Seq("source"))
    register(s"$pBase/data", "bloom_filter", s"$pBase/auto", "source")
    try {
      // round 8: the swap CARRIES the partition spec — the pruned scan
      // reads fewer files while the hive partition column still
      // materializes from the dir names
      val df = spark.read.parquet(s"$pBase/data")
        .filter(col("source") === "src3")
      val viaRule = df.select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val ds = graft.plans.SkipIndexPruning.decisions(df.queryExecution.sparkPlan)
      assert(ds.nonEmpty, "rule did not fire on the partitioned layout")
      assert(ds.exists(d => d.admitted < d.total),
        s"no file pruned on the partitioned layout: $ds")
      assert(viaRule.nonEmpty && viaRule.forall(_._2 != null),
        "partition values lost in the swapped location")
      unregister(s"$pBase/data", s"$pBase/auto")
      val full = spark.read.parquet(s"$pBase/data")
        .filter(col("source") === "src3")
        .select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(viaRule.toSeq == full.toSeq && full.nonEmpty)
      // partition pruning COMPOSES with the file swap: a lang predicate
      // on the pruned relation still prunes partitions (plan shows the
      // partition filter; answers stay exact)
      register(s"$pBase/data", "bloom_filter", s"$pBase/auto", "source")
      val both = spark.read.parquet(s"$pBase/data")
        .filter(col("source") === "src3" && col("lang") === "en")
      val bothRows = both.select("doc_id").collect().map(_.getLong(0)).sorted
      unregister(s"$pBase/data", s"$pBase/auto")
      val bothFull = spark.read.parquet(s"$pBase/data")
        .filter(col("source") === "src3" && col("lang") === "en")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(bothRows.toSeq == bothFull.toSeq)
      // the EXPLICIT pruned scan reads with basePath, so the hive
      // partition column still materializes
      val explicit = SkipIndex.scan(spark, s"$pBase/data", s"$pBase/idx",
        "source", Seq("src3"))
      assert(explicit.columns.contains("lang"))
      assert(explicit.select("lang").collect().forall(_.getString(0) != null))
      assert(explicit.count() == full.length)
    } finally unregister(s"$pBase/data", s"$pBase/auto")
  }

  test("mutations rebuild registered indexes; CLEAR/MATERIALIZE semantics") {
    val t = "graft_idx_mut_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    Tables.load(spark, sf, "documents")
      .repartitionByRange(4, col("source"), col("doc_id"))
      .write.mode("overwrite").saveAsTable(t)
    graft.sql.ClickHouseSql.sql(spark,
      s"ALTER TABLE $t ADD INDEX s_idx source TYPE bloom_filter")
    val before = graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src3'").head().getLong(0)
    assert(before > 0)
    // lightweight DELETE rewrites the table's files with NEW names — the
    // ADVICE r6 hazard: without a rebuild the index prunes on stale paths
    graft.sql.ClickHouseSql.sql(spark,
      s"DELETE FROM $t WHERE source = 'src1'")
    val after = graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src3'").head().getLong(0)
    assert(after == before, s"post-DELETE count drifted: $after != $before")
    assert(graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src1'").head().getLong(0) == 0)
    // CLEAR keeps the declaration visible but stops pruning
    graft.sql.ClickHouseSql.sql(spark, s"ALTER TABLE $t CLEAR INDEX s_idx")
    assert(graft.sql.TableLedger.listSkipIndexes(spark).exists(x =>
      x._1 == t && x._2 == "s_idx"), "CLEAR must keep the metadata entry")
    assert(graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src3'").head().getLong(0) == before)
    // MATERIALIZE rebuilds the cleared structure
    graft.sql.ClickHouseSql.sql(spark, s"ALTER TABLE $t MATERIALIZE INDEX s_idx")
    assert(graft.sql.ClickHouseSql.sql(spark,
      s"SELECT COUNT(*) AS n FROM $t WHERE source = 'src3'").head().getLong(0) == before)
    graft.sql.ClickHouseSql.sql(spark, s"ALTER TABLE $t DROP INDEX s_idx")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("set index: exact pruning under the cap, overflow degrades to match-all") {
    val setBase = Files.createTempDirectory("skipset").toString
    Tables.load(spark, sf, "documents")
      .repartitionByRange(5, col("source"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$setBase/data")
    // cap 50 ≥ per-file distinct sources → exact sets everywhere
    SkipIndex.createSet(spark, s"$setBase/data", s"$setBase/ex", Seq("source"), 50)
    val matched = SkipIndex.matchingFilesSet(spark, s"$setBase/ex", "source", Seq("src2"))
    assert(matched.size < 5, s"exact set should prune, got ${matched.size} of 5")
    val viaIdx = SkipIndex.scanSet(spark, s"$setBase/data", s"$setBase/ex",
      "source", Seq("src2")).count()
    val full = spark.read.parquet(s"$setBase/data")
      .filter(col("source") === "src2").count()
    assert(viaIdx == full && full > 0)
    // cap 1 < distinct count → every file overflows and matches (correct,
    // just unpruned)
    SkipIndex.createSet(spark, s"$setBase/data", s"$setBase/ov", Seq("source"), 1)
    assert(SkipIndex.matchingFilesSet(spark, s"$setBase/ov", "source",
      Seq("src2")).size == 5)
  }

  test("second indexed column probes independently") {
    fixture
    val langs = Tables.load(spark, sf, "documents")
      .select("lang").distinct().collect().map(_.getString(0))
    val l = langs.head
    val viaIndex = SkipIndex.scan(spark, s"$base/data", s"$base/index",
      "lang", Seq(l)).count()
    val full = spark.read.parquet(s"$base/data")
      .filter(col("lang") === l).count()
    assert(viaIndex == full && full > 0)
  }

  test("planning a transparent skip-index query runs no Spark job") {
    fixture
    register(s"$base/data", "bloom_filter", s"$base/auto", "source", "lang")
    try {
      val df = spark.read.parquet(s"$base/data").filter(col("source") === "src3")
      assert(jobsDuring(df.queryExecution.optimizedPlan) == 0)
      assert(df.count() > 0)
    } finally unregister(s"$base/data", s"$base/auto")
  }

  test("a skip index prunes inside the partition a partition filter leaves") {
    withTable("skip_part_flag") {
      val ss = spark
      import ss.implicits._
      (0 until 200).map(i => (s"x${i % 50}", if (i % 2 == 0) "A" else "B", i.toLong))
        .toDF("s", "flag", "x").repartitionByRange(4, col("s"))
        .write.partitionBy("flag").saveAsTable("skip_part_flag")
      ch("ALTER TABLE skip_part_flag ADD INDEX s_idx s TYPE bloom_filter")
      val q = "SELECT count() AS n FROM skip_part_flag WHERE s = 'x5' AND flag = 'B'"
      val inPartition = new java.io.File(warehouse("skip_part_flag/flag=B").toUri.getPath)
        .listFiles().count(_.getName.endsWith(".parquet"))
      val ds = ch(s"EXPLAIN indexes = 1 $q").collect()
      assert(ds.length == 1, s"one bloom decision expected: ${ds.toSeq}")
      assert(ds.head.getAs[Int]("files_total") == inPartition &&
        ds.head.getAs[Int]("files_admitted") < inPartition, ds.head.toString)
      val (rows, files) = runCounting(ch(q))
      assert(rows.head.getLong(0) == 4)
      assert(files < inPartition, s"read $files of the partition's $inPartition files")
    }
  }

  test("a set index on a TIMESTAMP column admits the files holding the value") {
    withTable("skip_ts_set") {
      spark.range(4000)
        .select(col("id"), expr("make_timestamp(2024, 1, 1, 0, CAST(id % 40 AS INT), 0)").as("ts"))
        .repartitionByRange(8, col("ts")).write.saveAsTable("skip_ts_set")
      ch("ALTER TABLE skip_ts_set ADD INDEX ts_set ts TYPE set(100)")
      val (rows, files) = runCounting(ch(
        "SELECT count() AS n FROM skip_ts_set WHERE ts = TIMESTAMP '2024-01-01 00:12:00'"))
      assert(rows.head.getLong(0) == 100)
      assert(files < 8, s"the set index should prune: read $files of 8")
    }
  }

  test("a minmax index builds on a TIMESTAMP_NTZ column and prunes a range") {
    withTable("skip_ntz_mm") {
      spark.range(4000)
        .select(col("id"), expr("make_timestamp_ntz(2024, 1, 1, 0, CAST(id % 40 AS INT), 0)").as("ts"))
        .repartitionByRange(8, col("ts")).write.saveAsTable("skip_ntz_mm")
      ch("ALTER TABLE skip_ntz_mm ADD INDEX ts_mm ts TYPE minmax")
      val at = (m: Int) => lit(java.time.LocalDateTime.of(2024, 1, 1, 0, m))
      val (rows, files) = runCounting(spark.table("skip_ntz_mm")
        .filter(col("ts") >= at(10) && col("ts") < at(15)).agg(count(lit(1))))
      assert(rows.head.getLong(0) == 500)
      assert(files < 8, s"the minmax index should prune: read $files of 8")
    }
  }

  test("source guard: one file-admission evaluator in graft/plans and graft/sources") {
    val literalFirst = ("case (GreaterThan|GreaterThanOrEqual|LessThan|LessThanOrEqual" +
      """|EqualTo|EqualNullSafe)\(\w+: Literal""").r
    val offenders = Seq("plans", "sources").flatMap { d =>
      SourceGuard.lines(s"src/main/scala/graft/$d").filter { case (f, _, line) =>
        (f.getName != "FileAdmission.scala" && literalFirst.findFirstIn(line).isDefined) ||
          (d == "plans" && line.contains("InMemoryFileIndex("))
      }
    }
    assert(offenders.isEmpty, "filter normalizing or file listing outside the evaluator:\n" +
      offenders.map(SourceGuard.show).mkString("\n"))
  }
}
