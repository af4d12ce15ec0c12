package graft.queries

import graft.{Q, QueryPack, Scratch, Tables}
import graft.operators.{ExecutableUdf, Storages}
import graft.plans.Layouts
import graft.sources.SystemTables
import graft.sql.ClickHouseSql
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dedicated queries for the special storage engines, system tables,
  * introspection functions and the executable-UDF surface (SURVEY §2.1
  * "special storages", §2.8 introspection, §2.10 executable UDF — all
  * round-2 ◻/partial rows).
  */
object StorageQueries extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // Memory engine (StorageMemory.h): cached in-RAM view.
    Q.df("q_storage_memory", """
      SELECT n_regionkey, COUNT(*) AS n,
        STRING_AGG(n_name, ',' ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { (s, dir) =>
      val mem = Storages.memory(s, "mem_nation", Tables.load(s, dir, "nation"))
      mem.groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"),
          concat_ws(",", array_sort(collect_list(col("n_name")))).as("names"))
        .orderBy("n_regionkey")
    },

    // Join engine (StorageJoin.h): pre-keyed RAM right side, joinGet probe.
    Q.df("q_storage_join", """
      SELECT s_nationkey, CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey""") { (s, dir) =>
      val js = Storages.joinStorage(
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        "s_suppkey")
      js.probe(
        Tables.load(s, dir, "lineitem")
          .select(col("l_suppkey"), round(col("l_quantity") * 100).cast("long").as("qc")),
        col("l_suppkey"))
        .groupBy("s_nationkey")
        .agg(sum("qc").cast("long").as("qty_cents"))
        .orderBy("s_nationkey")
    },

    // Set engine (StorageSet.h): persisted IN-set, semi/anti filtering.
    Q.df("q_storage_set", """
      WITH hot AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      SELECT o_orderstatus,
        COUNT(CASE WHEN o_custkey IN (SELECT c_custkey FROM hot) THEN 1 END) AS n_in,
        COUNT(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM hot) THEN 1 END) AS n_out
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val set = Storages.setStorage(
        Tables.load(s, dir, "customer").filter(col("c_acctbal") > 9000)
          .select(col("c_custkey")), "c_custkey")
      val orders = Tables.load(s, dir, "orders")
      val nIn = set.filterIn(orders, col("o_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_in"))
      val nOut = set.filterNotIn(orders, col("o_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_out"))
      nIn.join(nOut, Seq("o_orderstatus"), "full")
        .select(col("o_orderstatus"),
          coalesce(col("n_in"), lit(0L)).as("n_in"),
          coalesce(col("n_out"), lit(0L)).as("n_out"))
        .orderBy("o_orderstatus")
    },

    // Buffer engine (StorageBuffer.h): reads see buffer ∪ flushed base.
    Q.df("q_storage_buffer", """
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_v
      FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val cut = lit("2024-01-25").cast("timestamp")
      val store = Storages.buffer(
        ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
      store.read.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 10000).cast("long")).cast("double") / 10000.0)
            .as("sum_v"))
        .orderBy("event_type")
    },

    // Merge engine (StorageMerge.h): catalog-regex union view over
    // same-schema member tables.
    Q.df("q_storage_merge", """
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .createOrReplaceTempView("merge_orders_even")
      orders.filter(col("o_orderkey") % 2 === 1)
        .createOrReplaceTempView("merge_orders_odd")
      Storages.mergeByPattern(s, "merge_orders_.*")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
        .orderBy("o_orderstatus")
    },

    // system.tables (StorageSystemTables.cpp): the corpus tables visible
    // in the session catalog.
    Q.df("q_system_tables", """
      SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'),
        ('events'), ('lineitem'), ('nation'), ('orders'), ('part'),
        ('region'), ('supplier')) t(name) ORDER BY name""") { (s, dir) =>
      Tables.register(s, dir)
      SystemTables.tables(s)
        .filter(col("name").isin(Tables.names: _*))
        .select("name").orderBy("name")
    },

    // Aggregate projection (plans/Projections.scala — the reference's
    // optimizeUseAggregateProjections): a registered rollup on
    // (l_returnflag, l_linestatus) answers this GROUP BY from
    // rollup-sized data; the Rule[LogicalPlan] rewrite is pinned in
    // ProjectionsSpec, the VALUES equal the base-table aggregate,
    // which is exactly what the oracle states. The projection is
    // registered only for the duration of this query's materialization
    // (localCheckpoint is eager), so no other query's plan is touched.
    Q.df("q_projection_agg", """
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        ROUND(AVG(l_quantity), 6) AS avg_qty,
        MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      val basePath = s"$dir/lineitem.parquet"
      val rollup = Layouts.Rollup(basePath, "/tmp/graft_proj_q/lineitem",
        Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_extendedprice"))
      Layouts.register(s, rollup)
      try {
        s.read.parquet(basePath)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum("l_quantity").as("__q"),
            avg("l_quantity").as("__aq"),
            min("l_extendedprice").as("mn"),
            max("l_extendedprice").as("mx"))
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            col("__q").cast("double").as("qty"),
            round(col("__aq"), 6).as("avg_qty"), col("mn"), col("mx"))
          .orderBy("l_returnflag", "l_linestatus")
          .localCheckpoint()
      } finally Layouts.unregister(s, basePath, rollup.dir)
    },

    // Filtered aggregate projection (round-6: the reference's rewrite
    // serves `WHERE dim = x GROUP BY dim2` from the projection too —
    // optimizeUseAggregateProjections.cpp). The dim-only predicate is
    // pushed onto the ROLLUP scan; rewrite + measure-filter bail-out are
    // pinned in ProjectionsSpec.
    Q.df("q_projection_agg_filtered", """
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem WHERE l_linestatus = 'F'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""") { (s, dir) =>
      val basePath = s"$dir/lineitem.parquet"
      val rollup = Layouts.Rollup(basePath, "/tmp/graft_proj_qf/lineitem",
        Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity", "l_extendedprice"))
      Layouts.register(s, rollup)
      try {
        s.read.parquet(basePath)
          .filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("__q"))
          .select(col("l_returnflag"), col("n"),
            col("__q").cast("double").as("qty"))
          .orderBy("l_returnflag")
          .localCheckpoint()
      } finally Layouts.unregister(s, basePath, rollup.dir)
    },

    // Normal projection (plans/Projections.scala — the reference's
    // optimizeUseNormalProjections + optimizeReadInOrder): a
    // bucketed+sorted alternate layout of lineitem on l_orderkey answers
    // this GROUP BY with NO Exchange (the fact shuffle disappears — the
    // plan pin lives in ProjectionsSpec); values equal the base
    // aggregate, which is what the oracle states.
    Q.df("q_projection_normal", """
      SELECT l_orderkey, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_orderkey
      ORDER BY l_orderkey""") { (s, dir) =>
      val basePath = s"$dir/lineitem.parquet"
      Layouts.register(s, Layouts.Sorted(basePath, "q_nproj_lineitem",
        Seq("l_orderkey"), Seq("l_quantity")))
      try {
        s.read.parquet(basePath)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("__q"))
          .select(col("l_orderkey"), col("n"),
            col("__q").cast("double").as("qty"))
          .orderBy("l_orderkey")
          .localCheckpoint()
      } finally Layouts.unregister(s, basePath, "q_nproj_lineitem")
    },

    // Projection DDL (ParserProjectionDeclaration): ALTER TABLE ... ADD
    // PROJECTION declares the rollup the ClickHouse way; the GROUP BY via
    // the dialect then answers from it (rewrite pinned in
    // ProjectionDdlSpec). Values equal the base aggregate — the oracle
    // states them over the original lineitem.
    Q.df("q_ch_projection_ddl", """
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, """
        CREATE MATERIALIZED VIEW proj_ddl_li AS
        SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem""")
      graft.sql.ClickHouseSql.sql(s, """
        ALTER TABLE proj_ddl_li ADD PROJECTION p_agg (
          SELECT l_returnflag, l_linestatus, sum(l_quantity), count()
          GROUP BY l_returnflag, l_linestatus)""")
      try {
        graft.sql.ClickHouseSql.sql(s, """
          SELECT l_returnflag, l_linestatus, count() AS n,
            CAST(sum(l_quantity) AS DOUBLE) AS qty
          FROM proj_ddl_li GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""")
          .localCheckpoint()
      } finally graft.sql.ClickHouseSql.sql(s,
        "ALTER TABLE proj_ddl_li DROP PROJECTION p_agg")
    },

    // system.parts (StorageSystemParts.cpp): the partition-directory
    // inventory of a PARTITION BY layout — partition values and exact row
    // counts from footers only (file_count/bytes omitted from the oracle:
    // they depend on the writer's task count, not the data).
    Q.df("q_system_parts", """
      SELECT 'o_orderstatus=' || o_orderstatus AS partition,
             COUNT(*) AS rows
      FROM orders GROUP BY o_orderstatus
      ORDER BY partition""") { (s, dir) =>
      val path = "/tmp/graft_parts_demo"
      graft.operators.ScaleOps.writePartitioned(s,
        Tables.load(s, dir, "orders"), path, "o_orderstatus")
      SystemTables.parts(s, path)
        .select(col("partition"), col("rows"))
        .orderBy("partition")
    },

    // INTO OUTFILE + FORMAT suffix (ParserQueryWithOutput): the dialect
    // executes the SELECT, writes CSVWithNames where asked, and the
    // written file round-trips to exactly the aggregate the oracle
    // states; a trailing FORMAT on a plain SELECT is accepted and
    // stripped (serialization concern, not semantics).
    Q.df("q_ch_outfile_format", """
      SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, """
        SELECT l_returnflag, count() AS n FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag
        INTO OUTFILE '/tmp/graft_outfile_demo' FORMAT CSVWithNames""")
      assert(graft.sql.ClickHouseSql.sql(s, "SELECT 1 AS one FORMAT Native")
        .columns.sameElements(Array("one")))
      s.read.option("header", "true").csv("/tmp/graft_outfile_demo")
        .select(col("l_returnflag"), col("n").cast("long").as("n"))
        .orderBy("l_returnflag")
    },

    // SHOW TABLES LIKE + EXISTS TABLE (ParserShowTablesQuery /
    // ParserExistsTableQuery): catalog introspection through the dialect;
    // the LIKE filter keeps the oracle deterministic across sessions.
    Q.df("q_ch_show_exists", """
      SELECT 'nation' AS name, 1 AS ex_nation, 0 AS ex_missing""") { (s, dir) =>
      Tables.register(s, dir)
      val shown = graft.sql.ClickHouseSql.sql(s, "SHOW TABLES LIKE 'nat%'")
      val exYes = graft.sql.ClickHouseSql.sql(s, "EXISTS TABLE nation")
        .head.getInt(0)
      val exNo = graft.sql.ClickHouseSql.sql(s, "EXISTS no_such_table_xyz")
        .head.getInt(0)
      shown.select(col("name"), lit(exYes).as("ex_nation"),
        lit(exNo).as("ex_missing"))
    },

    // system.settings (StorageSystemSettings.cpp): SET-applied session
    // knobs are queryable; the filter keeps the oracle independent of
    // other queries' settings in the same session.
    Q.df("q_system_settings", """
      SELECT 'graft_probe_knob' AS name, '12345' AS value""") { (s, dir) =>
      graft.sql.ClickHouseSql.sql(s, "SET graft_probe_knob = 12345")
      SystemTables.settings(s)
        .filter(col("name") === "graft_probe_knob")
    },

    // DROP PARTITION (the reference's ALTER TABLE DROP PARTITION — part
    // unlink, no row rewrite): a partitioned layout loses exactly the
    // dropped directory; survivors are untouched, which is what the
    // oracle states. The retention primitive at 100 TB.
    Q.df("q_ch_drop_partition", """
      SELECT o_orderstatus, COUNT(*) AS n
      FROM orders WHERE o_orderstatus <> 'F'
      GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val path = "/tmp/graft_drop_part_demo"
      graft.operators.ScaleOps.writePartitioned(s,
        Tables.load(s, dir, "orders"), path, "o_orderstatus")
      graft.operators.ScaleOps.dropPartition(s, path, "o_orderstatus", "F")
      s.read.parquet(path)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // DETACH / ATTACH / FREEZE PARTITION lifecycle (MergeTreeData::detach,
    // ALTER TABLE FREEZE shadow snapshots): detach hides a partition from
    // scans, freeze snapshots another, the frozen copy survives dropping
    // its live partition, and attach restores the detached one — the final
    // counts (live layout + snapshot read) state the whole lifecycle.
    Q.df("q_ch_partition_lifecycle", """
      SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus <> 'F') AS live_after_detach,
        (SELECT COUNT(*) FROM orders) AS live_after_attach,
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O') AS snapshot_o"""
      ) { (s, dir) =>
      val path = "/tmp/graft_part_lifecycle_demo"
      graft.operators.ScaleOps.writePartitioned(s,
        Tables.load(s, dir, "orders"), path, "o_orderstatus")
      val ops = graft.operators.ScaleOps
      ops.freezePartition(s, path, "o_orderstatus", "O", "snap1")
      ops.detachPartition(s, path, "o_orderstatus", "F")
      val afterDetach = s.read.parquet(path).count()
      ops.dropPartition(s, path, "o_orderstatus", "O") // snapshot unaffected
      ops.attachPartition(s, path, "o_orderstatus", "F")
      // re-attach O from the snapshot: copy back is just a read+count here
      val snapO = s.read.parquet(s"$path/_shadow/snap1").count()
      val afterAttach = s.read.parquet(path).count() + snapO
      import s.implicits._
      Seq((afterDetach, afterAttach, snapO))
        .toDF("live_after_detach", "live_after_attach", "snapshot_o")
    },

    // DESCRIBE + SHOW CREATE TABLE (ParserDescribeTableQuery,
    // InterpreterShowCreateQuery): reference-shaped introspection with CH
    // type names; the oracle states the expected rows literally.
    Q.df("q_ch_describe_show", """
      SELECT * FROM (VALUES
        ('n_nationkey', 'Nullable(Int32)'),
        ('n_name', 'Nullable(String)'),
        ('n_regionkey', 'Nullable(Int32)'),
        ('__create__',
         'CREATE TABLE graft_desc_t (`n_nationkey` Nullable(Int32), `n_name` Nullable(String), `n_regionkey` Nullable(Int32)) ENGINE = MergeTree ORDER BY tuple()')
      ) t(name, type) ORDER BY name""") { (s, dir) =>
      Tables.register(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_desc_t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_desc_t")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      Tables.load(s, dir, "nation").write.saveAsTable("graft_desc_t")
      val desc = graft.sql.ClickHouseSql.sql(s, "DESCRIBE TABLE graft_desc_t")
      val create = graft.sql.ClickHouseSql.sql(s, "SHOW CREATE TABLE graft_desc_t")
        .select(lit("__create__").as("name"), col("statement").as("type"))
      desc.unionByName(create).orderBy("name")
    },

    // Lightweight DELETE + TRUNCATE (ParserDeleteQuery; part rewrite
    // keeping survivors): after DELETE the F-status rows are gone, after
    // TRUNCATE the clone is empty — both counts oracled.
    Q.df("q_ch_lightweight_delete", """
      SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus <> 'F') AS after_delete,
        CAST(0 AS BIGINT) AS after_truncate""") { (s, dir) =>
      Tables.register(s, dir)
      Seq("graft_del_t", "graft_trunc_t").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
        Tables.load(s, dir, "orders").write.saveAsTable(t)
      }
      graft.sql.ClickHouseSql.sql(s,
        "DELETE FROM graft_del_t WHERE o_orderstatus = 'F'")
      graft.sql.ClickHouseSql.sql(s, "TRUNCATE TABLE graft_trunc_t")
      import s.implicits._
      Seq((s.table("graft_del_t").count(), s.table("graft_trunc_t").count()))
        .toDF("after_delete", "after_truncate")
    },

    // CHECK TABLE (InterpreterCheckQuery): every part of a 4-file table
    // decodes — per-part is_ok rows, oracled literally.
    Q.df("q_ch_check_table", """
      SELECT * FROM (VALUES (0, 1), (1, 1), (2, 1), (3, 1)) t(part_idx, is_ok)
      ORDER BY part_idx""") { (s, dir) =>
      Tables.register(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_check_t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_check_t")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      Tables.load(s, dir, "supplier").repartition(4)
        .write.saveAsTable("graft_check_t")
      graft.sql.ClickHouseSql.sql(s, "CHECK TABLE graft_check_t")
        .orderBy("part")
        .select(
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("part")) - 1).as("part_idx"),
          col("is_ok"))
        .orderBy("part_idx")
    },

    // EXCHANGE TABLES + CREATE TABLE AS <table> (InterpreterRenameQuery
    // exchange form; ParserCreateQuery as_table schema clone): two seeded
    // tables swap identities, and a clone gets the schema with zero rows.
    Q.df("q_ch_exchange_clone", """
      SELECT 'b' AS a_val, 'a' AS b_val, 0 AS clone_rows,
             2 AS clone_cols""") { (s, dir) =>
      Tables.register(s, dir)
      Seq("xchg_a", "xchg_b", "xchg_c").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      }
      graft.sql.ClickHouseSql.sql(s,
        "CREATE MATERIALIZED VIEW xchg_a AS SELECT 'a' AS v, 1 AS k")
      graft.sql.ClickHouseSql.sql(s,
        "CREATE MATERIALIZED VIEW xchg_b AS SELECT 'b' AS v, 2 AS k")
      graft.sql.ClickHouseSql.sql(s, "EXCHANGE TABLES xchg_a AND xchg_b")
      graft.sql.ClickHouseSql.sql(s, "CREATE TABLE xchg_c AS xchg_a")
      val aVal = s.table("xchg_a").head.getString(0)
      val bVal = s.table("xchg_b").head.getString(0)
      val cloneRows = s.table("xchg_c").count().toInt
      val cloneCols = s.table("xchg_c").columns.length
      s.sql(s"SELECT '$aVal' AS a_val, '$bVal' AS b_val, " +
        s"$cloneRows AS clone_rows, $cloneCols AS clone_cols")
    },

    // system.query_log (QueryLog.h): the probe statement appears in the
    // session's log with its literal-normalized text; the unique marker
    // keeps the oracle independent of everything else the session ran.
    Q.df("q_system_query_log", """
      SELECT 'SELECT 987654321 AS qlog_probe_marker' AS query,
             'SELECT ? AS qlog_probe_marker' AS normalized_query,
             TRUE AS logged""") { (s, dir) =>
      graft.sql.ClickHouseSql.sql(s, "SELECT 987654321 AS qlog_probe_marker")
      SystemTables.queryLog(s)
        .filter(col("query") === "SELECT 987654321 AS qlog_probe_marker")
        .select(col("query"), col("normalized_query"),
          lit(true).as("logged"))
        .limit(1)
    },

    // system.dictionaries (StorageSystemDictionaries.cpp): the loaded
    // SQL-dictionary inventory — name, key type, attributes, element
    // count (nation has 25 rows at every sf, so the oracle is a literal).
    Q.df("q_system_dictionaries", """
      SELECT 'sysd_nat' AS name, 'decimal(20,0)' AS key_type,
             'n_name,n_regionkey' AS attributes,
             CAST(25 AS BIGINT) AS element_count""") { (s, dir) =>
      Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, "DROP DICTIONARY IF EXISTS sysd_nat")
      graft.sql.ClickHouseSql.sql(s, """
        CREATE DICTIONARY sysd_nat (
          n_nationkey UInt64, n_name String, n_regionkey UInt64
        ) PRIMARY KEY n_nationkey
        SOURCE(CLICKHOUSE(TABLE 'nation')) LAYOUT(HASHED())""")
      SystemTables.dictionaries(s).filter(col("name") === "sysd_nat")
    },

    // system.metrics (StorageSystemMetrics.cpp — round 7): current-value
    // execution gauges. Values are live, so the oracle states the STABLE
    // facts: the inventory of metric names and that every gauge is sane
    // (non-negative) at read time.
    Q.df("q_system_metrics", """
      SELECT * FROM (VALUES
        ('ActiveJobs', TRUE), ('ActiveStages', TRUE), ('CachedRDDs', TRUE),
        ('DefaultParallelism', TRUE), ('Executors', TRUE),
        ('SessionSQLShufflePartitions', TRUE)
      ) t(metric, sane) ORDER BY metric""") { (s, dir) =>
      SystemTables.metrics(s)
        .select(col("metric"), (col("value") >= 0).as("sane"))
        .orderBy("metric")
    },

    // system.events (StorageSystemEvents.cpp — round 7): monotonic
    // counters. A probe dialect query and a probe job run first, then the
    // async listener bus is flushed (awaitEvent — the SYSTEM FLUSH LOGS
    // analog), so every counter is provably past zero.
    Q.df("q_system_events", """
      SELECT * FROM (VALUES
        ('JobsStarted', TRUE), ('Query', TRUE),
        ('StagesCompleted', TRUE), ('TasksCompleted', TRUE)
      ) t(event, counted) ORDER BY event""") { (s, dir) =>
      SystemTables.ensureEventCounters(s)
      graft.sql.ClickHouseSql.sql(s, "SELECT 1 AS sys_events_probe").collect()
      Tables.load(s, dir, "nation").count()
      SystemTables.awaitEvent(s, "TasksCompleted", 1)
      SystemTables.events(s)
        .select(col("event"), (col("value") >= 1).as("counted"))
        .orderBy("event")
    },

    // system.asynchronous_metrics (StorageSystemAsynchronousMetrics.cpp —
    // round 7): background process/OS gauges (the reference samples
    // MemoryResident, jemalloc.*; the JVM analogs are the management
    // beans). Oracle = name inventory + non-negativity.
    Q.df("q_system_async_metrics", """
      SELECT * FROM (VALUES
        ('AvailableProcessors', TRUE), ('FilesystemAvailable', TRUE),
        ('FilesystemCapacity', TRUE), ('GCCollections', TRUE),
        ('MemoryHeapCommitted', TRUE), ('MemoryHeapUsed', TRUE),
        ('MemoryNonHeapUsed', TRUE), ('NumberOfTables', TRUE),
        ('OSMemoryFree', TRUE), ('OSMemoryTotal', TRUE),
        ('ProcessCpuTimeNs', TRUE), ('ThreadCount', TRUE),
        ('UptimeMs', TRUE)
      ) t(metric, sane) ORDER BY metric""") { (s, dir) =>
      SystemTables.asynchronousMetrics(s)
        .select(col("metric"), (col("value") >= 0).as("sane"))
        .orderBy("metric")
    },

    // DETACH/ATTACH TABLE (round 7 — InterpreterDropQuery's detach
    // branch + ATTACH): the table leaves the catalog with its data
    // surviving in a _detached dir (O(1) rename), and ATTACH restores
    // both. Oracle states the roundtrip invariants literally.
    Q.df("q_ch_detach_attach", """
      SELECT CAST(25 AS BIGINT) AS n_after, 0 AS visible_detached,
        TRUE AS survived""") { (s, dir) =>
      val t = "graft_detach_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      Tables.load(s, dir, "nation").write.mode("overwrite").saveAsTable(t)
      graft.sql.ClickHouseSql.sql(s, s"DETACH TABLE $t")
      val gone = if (s.catalog.tableExists(t)) 1 else 0
      graft.sql.ClickHouseSql.sql(s, s"ATTACH TABLE $t")
      val back = s.table(t).count()
      val df = s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(back, gone, back == 25L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_after",
            org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("visible_detached",
            org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("survived",
            org.apache.spark.sql.types.BooleanType, false))))
      s.sql(s"DROP TABLE IF EXISTS $t")
      df
    },

    // system.databases + system.processes (round 7): the catalog always
    // holds default/spark_catalog; processes shows only in-flight jobs,
    // so between queries it is empty — both stable facts.
    Q.df("q_system_databases", """
      SELECT 'default' AS name, TRUE AS has_path,
        CAST(0 AS BIGINT) AS idle_processes""") { (s, dir) =>
      val dbs = SystemTables.databases(s)
        .filter(col("name") === "default")
        .select(col("name"), (length(col("data_path")) >= 0).as("has_path"))
      val procs = SystemTables.processes(s).count()
      dbs.withColumn("idle_processes", lit(procs))
    },

    // merge() table function (round 8 — TableFunctionMerge.cpp /
    // StorageMerge): union-by-name of every catalog table matching the
    // regex; a nation split across two tables re-unions to the whole.
    Q.df("q_tf_merge", """
      SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS s
      FROM nation""") { (s, dir) =>
      val src = Tables.load(s, dir, "nation")
      Seq(("graft_mergefn_a", "n_regionkey < 2"),
          ("graft_mergefn_b", "n_regionkey >= 2")).foreach { case (t, p) =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
        src.filter(p).write.saveAsTable(t)
      }
      graft.sql.ClickHouseSql.sql(s, """
        SELECT count() AS n, CAST(sum(n_nationkey) AS BIGINT) AS s
        FROM merge('^graft_mergefn_[ab]$')""")
    },

    // EXPLAIN ESTIMATE (round 8 — InterpreterExplainQuery ESTIMATE):
    // parts/rows/marks from parquet footers, never executing; the
    // single-part nation fixture makes every number a literal.
    Q.df("q_ch_explain_estimate", """
      SELECT 'default' AS database, 'graft_est_t' AS table,
        CAST(1 AS BIGINT) AS parts, CAST(25 AS BIGINT) AS rows,
        CAST(1 AS BIGINT) AS marks""") { (s, dir) =>
      val t = "graft_est_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      Tables.load(s, dir, "nation").coalesce(1).write.saveAsTable(t)
      graft.sql.ClickHouseSql.sql(s,
        s"EXPLAIN ESTIMATE SELECT * FROM $t WHERE n_nationkey > 3")
    },

    // SHOW DATABASES (round 8 — ParserShowTablesQuery databases branch):
    // the catalog inventory always holds `default`.
    Q.df("q_ch_show_databases", """
      SELECT 'default' AS name""") { (s, dir) =>
      graft.sql.ClickHouseSql.sql(s, "SHOW DATABASES")
        .filter(col("name") === "default")
    },

    // ALTER TABLE ... DETACH/ATTACH/DROP/FREEZE PARTITION statement forms
    // (round 8 — ParserAlterQuery partition commands over the ScaleOps
    // directory moves): DETACH hides 'O' (count drops), ATTACH restores
    // it, FREEZE snapshots 'F', DROP removes 'P' for good. Oracle
    // recomputes every stage from orders.
    Q.df("q_ch_alter_partition", """
      SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus <> 'O') AS n_detached,
        (SELECT COUNT(*) FROM orders) AS n_attached,
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus <> 'P') AS n_after_drop,
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS n_frozen""") { (s, dir) =>
      import s.implicits._
      val t = "graft_alter_part_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(wh, true)
      Tables.load(s, dir, "orders")
        .write.partitionBy("o_orderstatus").saveAsTable(t)
      def n(): Long = s.table(t).count()
      graft.sql.ClickHouseSql.sql(s, s"ALTER TABLE $t DETACH PARTITION 'O'")
      val nDetached = n()
      graft.sql.ClickHouseSql.sql(s, s"ALTER TABLE $t ATTACH PARTITION 'O'")
      val nAttached = n()
      graft.sql.ClickHouseSql.sql(s,
        s"ALTER TABLE $t FREEZE PARTITION 'F' WITH NAME 'snap1'")
      graft.sql.ClickHouseSql.sql(s, s"ALTER TABLE $t DROP PARTITION 'P'")
      val nAfterDrop = n()
      // the frozen snapshot survives under _shadow and holds every F row
      val loc = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location.getPath
      val nFrozen = s.read.parquet(s"$loc/_shadow/snap1/o_orderstatus=F")
        .count()
      s.sql(s"DROP TABLE IF EXISTS $t")
      Seq((nDetached, nAttached, nAfterDrop, nFrozen))
        .toDF("n_detached", "n_attached", "n_after_drop", "n_frozen")
    },

    // system.columns argless FROM form (round 8 —
    // StorageSystemColumns.cpp): the full catalog column inventory,
    // WHERE-narrowed to a fixture table with a known schema.
    Q.df("q_system_columns_all", """
      SELECT * FROM (VALUES
        ('syscols_t', 'a', 1), ('syscols_t', 'b', 2), ('syscols_t', 'c', 3)
      ) t("table", name, position) ORDER BY position""") { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS syscols_t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "syscols_t")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      s.sql("CREATE TABLE syscols_t (a BIGINT, b STRING, c DOUBLE) USING parquet")
      graft.sql.ClickHouseSql.sql(s, """
        SELECT `table`, name, position FROM system.columns
        WHERE `table` = 'syscols_t' ORDER BY position""")
    },

    // INSERT INTO ... FROM INFILE (round 8 — ParserInsertQuery's infile
    // clause, the input twin of INTO OUTFILE): region exports through
    // OUTFILE CSVWithNames, a fresh empty clone ingests it back, and the
    // roundtrip is exact.
    Q.df("q_ch_insert_infile", """
      SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") { (s, dir) =>
      Tables.register(s, dir)
      val t = "graft_infile_t"
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      s.sql(s"CREATE TABLE $t (r_regionkey INT, r_name STRING) USING parquet")
      val out = Scratch.path("infile", dir)
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT r_regionkey, r_name FROM region INTO OUTFILE '$out' " +
          "FORMAT CSVWithNames")
      graft.sql.ClickHouseSql.sql(s,
        s"INSERT INTO $t FROM INFILE '$out' FORMAT CSVWithNames")
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT r_regionkey, r_name FROM $t ORDER BY r_regionkey")
    },

    // system.parts argless FROM form + SELECT * EXCEPT (round 8): part
    // inventory rows for a 2-part fixture table, read through the
    // dialect with the CH `* EXCEPT (name)` transformer (native in both
    // engines — the pin is that the dialect passes it intact).
    Q.df("q_system_parts_all", """
      SELECT 'sysparts_t' AS table, CAST(2 AS BIGINT) AS n_parts,
        TRUE AS sized, TRUE AS active""") { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS sysparts_t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "sysparts_t")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      Tables.load(s, dir, "nation").repartition(2)
        .write.saveAsTable("sysparts_t")
      graft.sql.ClickHouseSql.sql(s, """
        SELECT `table`, count() AS n_parts,
          min(bytes_on_disk) > 0 AS sized, bool_and(active) AS active
        FROM (SELECT * EXCEPT (name) FROM system.parts
              WHERE `table` = 'sysparts_t')
        GROUP BY `table`""")
    },

    // system.one + system.numbers as TABLES (round 8 —
    // StorageSystemOne.cpp, StorageSystemNumbers.cpp): one is the
    // single-row dummy=0 table; numbers streams `number` bounded by the
    // query's LIMIT through the dialect resolution.
    Q.df("q_system_one_numbers", """
      SELECT CAST(0 AS SMALLINT) AS dummy, CAST(10 AS BIGINT) AS n,
        CAST(0 AS BIGINT) AS mn, CAST(9 AS BIGINT) AS mx""") { (s, dir) =>
      graft.sql.ClickHouseSql.sql(s, """
        SELECT (SELECT dummy FROM system.one) AS dummy,
          count() AS n, CAST(min(number) AS BIGINT) AS mn,
          CAST(max(number) AS BIGINT) AS mx
        FROM (SELECT number FROM system.numbers LIMIT 10)""")
    },

    // system.merges + system.mutations (round 8 —
    // StorageSystemMerges.cpp, StorageSystemMutations.cpp): merges is
    // honestly empty (no background merge daemon); mutations is the
    // session ledger — two ALTER mutations on a scratch table are
    // provably recorded and synchronous (is_done = 1).
    Q.df("q_system_merges_mutations", """
      SELECT CAST(0 AS BIGINT) AS active_merges, CAST(2 AS BIGINT) AS muts,
        1 AS all_done""") { (s, dir) =>
      Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, """
        CREATE MATERIALIZED VIEW sys_mut_t AS
        SELECT n_nationkey, n_name FROM nation""")
      graft.sql.ClickHouseSql.sql(s,
        "ALTER TABLE sys_mut_t UPDATE n_name = upper(n_name) WHERE n_nationkey < 5")
      graft.sql.ClickHouseSql.sql(s,
        "ALTER TABLE sys_mut_t DELETE WHERE n_nationkey >= 20")
      graft.sql.ClickHouseSql.sql(s, """
        SELECT CAST((SELECT count() FROM system.merges) AS BIGINT) AS active_merges,
          CAST((SELECT count(DISTINCT command) FROM system.mutations
                WHERE `table` = 'sys_mut_t') AS BIGINT) AS muts,
          (SELECT min(is_done) FROM system.mutations
           WHERE `table` = 'sys_mut_t') AS all_done""")
    },

    // system.formats + system.table_engines (round 8 —
    // StorageSystemFormats.cpp, StorageSystemTableEngines.cpp): registry
    // inventories; the oracle pins a representative slice with the
    // capability flags (Regexp parse-only, Vertical render-only).
    Q.df("q_system_formats_engines", """
      SELECT * FROM (VALUES
        ('MsgPack', TRUE, TRUE), ('Parquet', TRUE, TRUE),
        ('Regexp', TRUE, FALSE), ('RowBinary', TRUE, TRUE),
        ('Vertical', FALSE, TRUE), ('XML', FALSE, TRUE),
        ('engine:MergeTree', TRUE, TRUE),
        ('engine:ReplacingMergeTree', TRUE, TRUE)
      ) t(name, is_input, is_output) ORDER BY name""") { (s, dir) =>
      graft.sql.ClickHouseSql.sql(s, """
        SELECT name, is_input, is_output FROM system.formats
        WHERE name IN ('Parquet', 'RowBinary', 'Vertical', 'XML',
          'MsgPack', 'Regexp')
        UNION ALL
        SELECT concat('engine:', name) AS name, TRUE AS is_input,
          TRUE AS is_output
        FROM system.table_engines
        WHERE name IN ('MergeTree', 'ReplacingMergeTree')
        ORDER BY name""")
    },

    // system.clusters + system.disks (round 8 —
    // StorageSystemClusters.cpp, StorageSystemDisks.cpp): the local
    // single-shard topology and the warehouse volume with live gauges —
    // the oracle states the stable facts.
    Q.df("q_system_clusters_disks", """
      SELECT 'default' AS cluster, 1 AS shard_num, 1 AS is_local,
        'default' AS disk, 'local' AS disk_type, TRUE AS sized""") { (s, dir) =>
      val c = graft.sql.ClickHouseSql.sql(s, """
        SELECT cluster, shard_num, is_local FROM system.clusters""")
      val d = graft.sql.ClickHouseSql.sql(s, """
        SELECT name AS disk, type AS disk_type,
          free_space >= 0 AND total_space > 0 AND free_space <= total_space
            AS sized
        FROM system.disks""")
      c.crossJoin(d)
    },

    // ParquetMetadata input format (ParquetMetadataInputFormat.cpp):
    // reading a file THROUGH the format yields its footer as rows. The
    // fixture is self-written (one part, 25 nation rows, 3 columns), so
    // the metadata is a literal the oracle states.
    Q.df("q_format_parquet_metadata", """
      SELECT 1 AS n_files, 0 AS row_group, CAST(25 AS BIGINT) AS num_rows,
        3 AS num_columns, TRUE AS sized""") { (s, dir) =>
      val path = "/tmp/graft_pqmeta_fixture"
      Tables.load(s, dir, "nation").coalesce(1)
        .write.mode("overwrite").parquet(path)
      val md = graft.sources.ChMiscFormats.readParquetMetadata(s, path)
      md.agg(countDistinct(col("file")).cast("int").as("n_files"),
          min("row_group").as("row_group"),
          sum("num_rows").as("num_rows"),
          max("num_columns").as("num_columns"),
          (min("total_byte_size") > 0 && min("total_compressed_size") > 0)
            .as("sized"))
    },

    // system.columns (StorageSystemColumns.cpp): column inventory with
    // positions and types.
    Q.df("q_system_columns", """
      SELECT * FROM (VALUES
        ('nation', 'n_nationkey', 1, 'int'), ('nation', 'n_name', 2, 'string'),
        ('nation', 'n_regionkey', 3, 'int'),
        ('region', 'r_regionkey', 1, 'int'), ('region', 'r_name', 2, 'string')
      ) t(table_name, column_name, position, data_type)
      ORDER BY table_name, position""") { (s, dir) =>
      Tables.register(s, dir)
      SystemTables.columns(s, "nation")
        .unionByName(SystemTables.columns(s, "region"))
        .orderBy("table_name", "position")
    },

    // bar() introspection rendering (src/Functions/bar.cpp): 1/8-block
    // proportional bars, arithmetic mirrored in the oracle.
    Q(name = "q_fn_bar",
      run = (s, dir) => {
        Tables.register(s, dir)
        ClickHouseSql.sql(s, """
          SELECT n_nationkey, bar(n_nationkey, 0, 24, 10) AS b
          FROM nation ORDER BY n_nationkey""")
      },
      oracle = Some("""
        WITH w AS (SELECT n_nationkey,
            LEAST(GREATEST(CAST(n_nationkey AS DOUBLE) / 24.0 * 10.0, 0.0), 10.0) AS wd
          FROM nation)
        SELECT n_nationkey,
          REPEAT('█', CAST(FLOOR(wd) AS INT)) ||
          CASE WHEN CAST(FLOOR((wd - FLOOR(wd)) * 8.0) AS INT) > 0
            THEN SUBSTRING('▏▎▍▌▋▊▉', CAST(FLOOR((wd - FLOOR(wd)) * 8.0) AS INT), 1)
            ELSE '' END AS b
        FROM w ORDER BY n_nationkey""")),

    // Executable (subprocess) UDF (ExecutableUserDefinedFunction.h): rows
    // stream through awk per partition; deterministic integer transform.
    Q.df("q_udf_executable", """
      SELECT o_orderkey, o_custkey * 2 AS doubled
      FROM orders WHERE o_orderkey <= 2000
      ORDER BY o_orderkey""") { (s, dir) =>
      val in = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_custkey")
      ExecutableUdf.pipe(in,
        """awk -F'\t' '{print $1 "\t" ($2 * 2)}'""",
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("doubled", LongType))))
        .orderBy("o_orderkey")
    }
  )
}
