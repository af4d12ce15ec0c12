package graft.queries

import graft.{Q, QueryPack, Scratch, Tables}
import org.apache.spark.sql.functions._

/** Round-9 lifecycle DDL surface — the last common statement-form gaps
  * the r8 verdict ranked:
  *   - ALTER TABLE … REPLACE PARTITION FROM / MOVE PARTITION TO TABLE /
  *     FETCH PARTITION (src/Storages/PartitionCommands.h:26-35,
  *     src/Parsers/ParserAlterQuery.cpp) — the staging-swap ETL verbs;
  *   - refreshable materialized views (REFRESH EVERY + SYSTEM REFRESH
  *     VIEW — src/Storages/MaterializedView/RefreshTask.cpp);
  *   - UNDROP TABLE (src/Interpreters/InterpreterUndropQuery.cpp);
  *   - OPTIMIZE … DEDUPLICATE BY col-list (ParserOptimizeQuery.cpp);
  *   - LIMIT n OFFSET m BY col (ASTSelectQuery.h:32-34 limit_by_offset);
  *   - Dynamic type (DataTypeDynamic.h:10, src/Functions/dynamicType.cpp);
  *   - system.detached_parts / projections / errors / view_refreshes
  *     introspection.
  * Every query runs the statements through the dialect and oracles the
  * observable result in plain SQL over the source tables.
  */
object LifecycleQueries extends QueryPack {

  private def ch = graft.sql.ClickHouseSql

  /** Drop (Spark-level, no holding dir) + clear the warehouse dir for a
    * scratch table so repeated runs start clean. */
  private def scratch(s: org.apache.spark.sql.SparkSession, names: String*): Unit =
    names.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(wh, true)
      // stale lifecycle siblings from earlier runs
      Seq("_dropped", "__altering").foreach(sfx =>
        fs.delete(new org.apache.hadoop.fs.Path(wh.toString + sfx), true))
    }

  /** REPLACE PARTITION FROM — the canonical atomic staging-swap: build
    * region 2's corrected rows in a staging table, swap them into the
    * live table in one statement; every other partition untouched, the
    * staging table intact. */
  private val replacePartition = Q("q_ch_replace_partition", (s, dir) => {
    Tables.register(s, dir)
    val live = "graft_repl_live"
    val stage = "graft_repl_stage"
    scratch(s, live, stage)
    val n = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    n.write.partitionBy("n_regionkey").saveAsTable(live)
    n.filter(col("n_regionkey") === 2)
      .withColumn("n_name", concat(col("n_name"), lit("_NEW")))
      .write.partitionBy("n_regionkey").saveAsTable(stage)
    ch.sql(s, s"ALTER TABLE $live REPLACE PARTITION '2' FROM $stage")
    ch.sql(s, s"""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name,
        CAST(n_regionkey AS BIGINT) AS r
      FROM $live ORDER BY k""")
  }, Some("""
    SELECT CAST(n_nationkey AS BIGINT) AS k,
      CASE WHEN n_regionkey = 2 THEN n_name || '_NEW' ELSE n_name END AS n_name,
      CAST(n_regionkey AS BIGINT) AS r
    FROM nation ORDER BY k"""))

  /** MOVE PARTITION TO TABLE — partition 3 leaves the source table and
    * lands in the (empty) archive table: counts on both sides prove the
    * move (not a copy). */
  private val movePartition = Q("q_ch_move_partition", (s, dir) => {
    Tables.register(s, dir)
    val src = "graft_move_src"
    val dst = "graft_move_dst"
    scratch(s, src, dst)
    val n = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    n.write.partitionBy("n_regionkey").saveAsTable(src)
    n.filter(lit(false)).write.partitionBy("n_regionkey").saveAsTable(dst)
    ch.sql(s, s"ALTER TABLE $src MOVE PARTITION '3' TO TABLE $dst")
    import s.implicits._
    Seq((s.table(src).count(), s.table(dst).count())).toDF("src_n", "dst_n")
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation WHERE n_regionkey <> 3) AS src_n,
           (SELECT COUNT(*) FROM nation WHERE n_regionkey = 3) AS dst_n"""))

  /** FETCH PARTITION — the replica-fetch two-step: FETCH lands partition
    * 1 in the destination's `_detached` dir (visible to
    * system.detached_parts, invisible to queries), ATTACH PARTITION then
    * admits it. */
  private val fetchPartition = Q("q_ch_fetch_partition", (s, dir) => {
    Tables.register(s, dir)
    val src = "graft_fetch_src"
    val dst = "graft_fetch_dst"
    scratch(s, src, dst)
    val n = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    n.write.partitionBy("n_regionkey").saveAsTable(src)
    n.filter(lit(false)).write.partitionBy("n_regionkey").saveAsTable(dst)
    ch.sql(s, s"ALTER TABLE $dst FETCH PARTITION '1' FROM $src")
    val detached = ch.sql(s, s"""
      SELECT `partition` FROM system.detached_parts WHERE `table` = '$dst'""")
      .collect().map(_.getString(0)).toSeq
    val invisible = s.table(dst).count() // _detached is hidden from scans
    ch.sql(s, s"ALTER TABLE $dst ATTACH PARTITION '1'")
    import s.implicits._
    Seq((detached.mkString(","), invisible, s.table(dst).count()))
      .toDF("detached_partition", "rows_before_attach", "rows_after_attach")
  }, Some("""
    SELECT 'n_regionkey=1' AS detached_partition,
           CAST(0 AS BIGINT) AS rows_before_attach,
           (SELECT COUNT(*) FROM nation WHERE n_regionkey = 1) AS rows_after_attach"""))

  /** DROP → UNDROP roundtrip: the dropped table's data survives in the
    * `_dropped` holding dir while the name is gone from the catalog, and
    * UNDROP restores both — hash-verified against the source rows. */
  private val undropTable = Q("q_ch_undrop", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_undrop_t"
    scratch(s, t)
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS
      SELECT n_nationkey, n_name FROM nation""")
    ch.sql(s, s"DROP TABLE $t")
    val goneDuringDrop = if (s.catalog.tableExists(t)) 1 else 0 // expect 0
    ch.sql(s, s"UNDROP TABLE $t")
    ch.sql(s, s"""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM $t ORDER BY k""")
      .withColumn("visible_while_dropped", lit(goneDuringDrop))
  }, Some("""
    SELECT CAST(n_nationkey AS BIGINT) AS k, n_name,
      0 AS visible_while_dropped
    FROM nation ORDER BY k"""))

  /** Refreshable MV: the stored SELECT re-materializes only on SYSTEM
    * REFRESH VIEW — stale after the base-table INSERT, current after the
    * forced refresh; the schedule is visible in SHOW CREATE and the
    * refresh counted in system.view_refreshes. */
  private val refreshMv = Q("q_ch_refresh_mv", (s, dir) => {
    Tables.register(s, dir)
    val base = "graft_rmv_base"
    val view = "graft_rmv_view"
    scratch(s, base, view)
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $base AS
      SELECT n_nationkey, n_regionkey FROM nation""")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $view REFRESH EVERY 1 HOUR AS
      SELECT count() AS n FROM $base""")
    ch.sql(s, s"INSERT INTO $base SELECT n_nationkey, n_regionkey FROM nation")
    val stale = s.table(view).collect().head.getLong(0)
    ch.sql(s, s"SYSTEM REFRESH VIEW $view")
    val fresh = s.table(view).collect().head.getLong(0)
    val schedVisible = ch.sql(s, s"SHOW CREATE TABLE $view")
      .collect().head.getString(0).contains("REFRESH EVERY 1 HOUR")
    val refreshes = ch.sql(s, s"""
      SELECT refresh_count FROM system.view_refreshes WHERE `view` = '$view'""")
      .collect().head.getLong(0)
    import s.implicits._
    Seq((stale, fresh, if (schedVisible) 1 else 0, refreshes))
      .toDF("stale_n", "fresh_n", "sched_visible", "refresh_count")
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation) AS stale_n,
           (SELECT 2 * COUNT(*) FROM nation) AS fresh_n,
           1 AS sched_visible, CAST(1 AS BIGINT) AS refresh_count"""))

  /** OPTIMIZE … DEDUPLICATE BY col-list: a corpus where every key appears
    * with TWO distinct payloads (so full-row dedup would keep both)
    * collapses to exactly one row per key under the column-subset form. */
  private val optimizeDedupBy = Q("q_ch_optimize_dedup_by", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_dedup_by_t"
    scratch(s, t)
    val n = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    n.unionByName(n.withColumn("n_name", concat(col("n_name"), lit("_ALT"))))
      .write.saveAsTable(t)
    ch.sql(s, s"OPTIMIZE TABLE $t FINAL DEDUPLICATE BY n_nationkey")
    // survivor payload is engine-chosen (the reference keeps the first
    // merged row) — oracle the key-level outcome, which is deterministic
    ch.sql(s, s"""
      SELECT CAST(n_nationkey AS BIGINT) AS k, count() AS n
      FROM $t GROUP BY n_nationkey ORDER BY k""")
  }, Some("""
    SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(1 AS BIGINT) AS n
    FROM nation ORDER BY k"""))

  /** LIMIT n OFFSET m BY col: per-region, skip the lowest-key nation and
    * take the next two — the window rewrite with a per-key offset. */
  private val limitOffsetBy = Q("q_ch_limit_offset_by", (s, dir) => {
    Tables.register(s, dir)
    ch.sql(s, """
      SELECT CAST(n_regionkey AS BIGINT) AS r, CAST(n_nationkey AS BIGINT) AS k
      FROM nation ORDER BY k LIMIT 2 OFFSET 1 BY r""")
  }, Some("""
    SELECT CAST(n_regionkey AS BIGINT) AS r, CAST(n_nationkey AS BIGINT) AS k
    FROM (SELECT n_regionkey, n_nationkey,
            ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)
              AS rn
          FROM nation)
    WHERE rn BETWEEN 2 AND 3 ORDER BY r, k"""))

  /** Dynamic column (DataTypeDynamic.h:10 → VariantType): one column
    * holding Int64 / String / Array(Int64) values per row;
    * dynamicType reads the per-row stored type, dynamicElement extracts
    * typed values (NULL on type mismatch — the Dynamic read contract). */
  private val dynamicTyped = Q("q_dynamic_typed", (s, dir) => {
    Tables.register(s, dir)
    ch.sql(s, """
      SELECT k, dynamicType(d) AS dtype,
        dynamicElement(d, 'Int64') AS as_int,
        element_at(dynamicElement(d, 'Array(Int64)'), 1) AS arr_head
      FROM (SELECT n_nationkey AS k,
              parse_json(CASE
                WHEN n_nationkey % 3 = 0 THEN CAST(n_nationkey AS STRING)
                WHEN n_nationkey % 3 = 1 THEN concat('"', n_name, '"')
                ELSE concat('[', CAST(n_nationkey AS STRING), ']') END) AS d
            FROM nation)
      ORDER BY k""")
  }, Some("""
    SELECT n_nationkey AS k,
      CASE WHEN n_nationkey % 3 = 0 THEN 'Int64'
           WHEN n_nationkey % 3 = 1 THEN 'String'
           ELSE 'Array(Int64)' END AS dtype,
      CASE WHEN n_nationkey % 3 = 0 THEN CAST(n_nationkey AS BIGINT) END AS as_int,
      CASE WHEN n_nationkey % 3 = 2 THEN CAST(n_nationkey AS BIGINT) END AS arr_head
    FROM nation ORDER BY k"""))

  /** The three round-9 introspection tables, each scoped to state this
    * query creates: a projection registered via DDL shows in
    * system.projections; a detached partition shows in
    * system.detached_parts; a deliberately failing statement shows in
    * system.errors. */
  private val systemMaintenance = Q("q_system_maintenance", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_sysmaint_t"
    scratch(s, t)
    val n = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    n.write.partitionBy("n_regionkey").saveAsTable(t)
    ch.sql(s, s"ALTER TABLE $t DETACH PARTITION '4'")
    ch.sql(s,
      s"ALTER TABLE $t ADD PROJECTION p_maint (SELECT n_regionkey, count() GROUP BY n_regionkey)")
    try ch.sql(s, "UNDROP TABLE graft_no_such_table_ever")
    catch { case _: IllegalArgumentException => }
    val detached = ch.sql(s, s"""
      SELECT `partition` FROM system.detached_parts WHERE `table` = '$t'""")
      .collect().map(_.getString(0)).mkString(",")
    val proj = ch.sql(s, s"""
      SELECT name, type FROM system.projections WHERE `table` = '$t'""")
      .collect().map(r => r.getString(0) + ":" + r.getString(1)).mkString(",")
    val errSeen = ch.sql(s, """
      SELECT count() FROM system.errors
      WHERE name = 'IllegalArgumentException' AND value >= 1""")
      .collect().head.getLong(0)
    ch.sql(s, s"ALTER TABLE $t ATTACH PARTITION '4'") // leave no residue
    import s.implicits._
    Seq((detached, proj, errSeen))
      .toDF("detached", "projections", "err_ledger_rows")
  }, Some("""
    SELECT 'n_regionkey=4' AS detached,
           'p_maint:aggregate' AS projections,
           CAST(1 AS BIGINT) AS err_ledger_rows"""))

  /** The mutation-path bench headliner (r8 verdict #10; r10 verdict #1):
    * CTAS a PARTITIONED lineitem projection, ALTER UPDATE a slice of ONE
    * partition (durable staged rewrite, pruned to parts with matching
    * rows — DurableRewrite), and aggregate the result — maintenance cost
    * as a tracked number, with the rewritten/untouched partition split in
    * the bench io note. Oracle recomputes the mutation in plain SQL. */
  private val mutationRewrite = Q("q_mutation_rewrite", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_mutbench_t"
    scratch(s, t)
    // 3 partitions × 8 files: the corpus table is a single file (one
    // input split), but a real mutation target has many parts and the
    // rewrite parallelizes across them — and only the partition the
    // WHERE touches may rewrite (io note pins rewritten=1, untouched=2)
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_discount", "l_returnflag",
        "l_shipdate")
      .repartition(8, col("l_orderkey"))
      .write.partitionBy("l_returnflag").saveAsTable(t)
    ch.sql(s, s"ALTER TABLE $t UPDATE l_discount = 0.0 " +
      "WHERE l_returnflag = 'R' AND l_quantity < 10")
    ch.sql(s, s"""
      SELECT l_returnflag, count() AS n,
        CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      FROM $t GROUP BY l_returnflag ORDER BY l_returnflag""")
  }, Some("""
    SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_quantity < 10
                    THEN CAST(0.0 AS DECIMAL(18,2))
                    ELSE CAST(l_discount AS DECIMAL(18,2)) END) AS DOUBLE)
        AS sum_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** BACKUP TABLE … TO Disk(…) / RESTORE (ParserBackupQuery.h:8-31):
    * back the table up, corrupt it with a mutation, restore — the final
    * rows hash-match the pristine source, and system.backups carries
    * both ledger entries. */
  private val backupRestore = Q("q_ch_backup_restore", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_backup_t"
    scratch(s, t)
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS
      SELECT n_nationkey, n_name, n_regionkey FROM nation""")
    ch.sql(s, s"BACKUP TABLE $t TO Disk('backups', '${t}_snap')")
    ch.sql(s, s"ALTER TABLE $t DELETE WHERE n_regionkey >= 2")
    val corrupted = s.table(t).count()
    ch.sql(s, s"RESTORE TABLE $t FROM Disk('backups', '${t}_snap')")
    val statuses = ch.sql(s, s"""
      SELECT DISTINCT status FROM system.backups WHERE `table` = '$t'
      ORDER BY status""").collect().map(_.getString(0)).mkString(",")
    ch.sql(s, s"""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name,
        CAST(n_regionkey AS BIGINT) AS r FROM $t ORDER BY k""")
      .withColumn("rows_while_corrupted", lit(corrupted))
      .withColumn("ledger", lit(statuses))
  }, Some("""
    SELECT CAST(n_nationkey AS BIGINT) AS k, n_name,
      CAST(n_regionkey AS BIGINT) AS r,
      (SELECT COUNT(*) FROM nation WHERE n_regionkey < 2) AS rows_while_corrupted,
      'BACKUP_CREATED,RESTORED' AS ledger
    FROM nation ORDER BY k"""))

  /** The round-9 static introspection tables: the tz database contains
    * the standard zones, build options identify the engine, and a
    * single-node session honestly reports no warnings / no replicas /
    * no in-flight moves. */
  private val systemBreadth = Q("q_system_breadth", (s, dir) => {
    Tables.register(s, dir)
    ch.sql(s, """
      SELECT
        (SELECT count() FROM system.time_zones
         WHERE time_zone IN ('UTC', 'America/New_York', 'Asia/Tokyo')) AS tz,
        (SELECT count() FROM system.build_options WHERE name = 'ENGINE') AS bo,
        (SELECT count() FROM system.warnings) AS warn,
        (SELECT count() FROM system.replicas) AS repl,
        (SELECT count() FROM system.moves) AS mv""")
  }, Some("""
    SELECT CAST(3 AS BIGINT) AS tz, CAST(1 AS BIGINT) AS bo,
      CAST(0 AS BIGINT) AS warn, CAST(0 AS BIGINT) AS repl,
      CAST(0 AS BIGINT) AS mv"""))

  /** RBAC surface (src/Access/, ParserGrantQuery.cpp): users, roles,
    * role-carried table privileges, SHOW GRANTS, and the privilege gate
    * on the query path — granted SELECT reads, ungranted INSERT and
    * access management are denied, and a revoke takes effect
    * immediately. `SET user` is the session-auth analog (single-node
    * engine, documented in AccessControl). Self-cleaning: ends back at
    * the default user with the test principals dropped. */
  private val rbac = Q("q_ch_rbac", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_rbac_t"
    scratch(s, t)
    def caught(body: => Unit): Long =
      try { body; 0L } catch { case _: SecurityException => 1L }
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS
      SELECT n_nationkey, n_name FROM nation""")
    ch.sql(s, "DROP USER IF EXISTS rbac_alice")
    ch.sql(s, "DROP ROLE IF EXISTS rbac_reader")
    ch.sql(s, "CREATE USER rbac_alice")
    ch.sql(s, "CREATE ROLE rbac_reader")
    ch.sql(s, s"GRANT SELECT ON $t TO rbac_reader")
    ch.sql(s, "GRANT rbac_reader TO rbac_alice")
    try {
      ch.sql(s, "SET user = 'rbac_alice'")
      val canRead = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      val deniedInsert = caught {
        ch.sql(s, s"INSERT INTO $t SELECT n_nationkey, n_name FROM nation")
      }
      val deniedAdmin = caught { ch.sql(s, "CREATE USER rbac_bob") }
      ch.sql(s, "SET user = 'default'")
      val shown = ch.sql(s, "SHOW GRANTS FOR rbac_alice")
        .collect().map(_.getString(0)).sorted.mkString(";")
      ch.sql(s, s"REVOKE SELECT ON $t FROM rbac_reader")
      ch.sql(s, "SET user = 'rbac_alice'")
      val deniedAfterRevoke = caught {
        ch.sql(s, s"SELECT count() AS n FROM $t").collect()
      }
      ch.sql(s, "SET user = 'default'")
      import s.implicits._
      Seq((canRead, deniedInsert, deniedAdmin, shown, deniedAfterRevoke))
        .toDF("can_read", "denied_insert", "denied_admin", "grants_shown",
          "denied_after_revoke")
    } finally {
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, "DROP USER IF EXISTS rbac_alice")
      ch.sql(s, "DROP ROLE IF EXISTS rbac_reader")
    }
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation) AS can_read,
      CAST(1 AS BIGINT) AS denied_insert,
      CAST(1 AS BIGINT) AS denied_admin,
      'GRANT rbac_reader TO rbac_alice' AS grants_shown,
      CAST(1 AS BIGINT) AS denied_after_revoke"""))

  /** Row policies (ASTCreateRowPolicyQuery): a covered user's reads of
    * the policed table see only rows passing the USING condition — the
    * filter applies to ANY query shape via name shadowing — while the
    * default user keeps the unfiltered table; system.row_policies lists
    * the policy. Self-cleaning. */
  private val rowPolicy = Q("q_ch_row_policy", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_rp_t"
    scratch(s, t)
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS
      SELECT n_nationkey, n_name, n_regionkey FROM nation""")
    ch.sql(s, "DROP USER IF EXISTS rp_bob")
    ch.sql(s, s"DROP ROW POLICY IF EXISTS rp_pol ON $t")
    ch.sql(s, "CREATE USER rp_bob")
    ch.sql(s, s"GRANT SELECT ON $t TO rp_bob")
    ch.sql(s, s"CREATE ROW POLICY rp_pol ON $t USING n_regionkey < 2 TO rp_bob")
    try {
      ch.sql(s, "SET user = 'rp_bob'")
      val bobN = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      val bobAgg = ch.sql(s, s"""
        SELECT CAST(max(n_regionkey) AS BIGINT) AS m FROM $t""")
        .collect().head.getLong(0)
      ch.sql(s, "SET user = 'default'")
      val defN = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      val listed = ch.sql(s, s"""
        SELECT count() AS n FROM system.row_policies
        WHERE name = 'rp_pol' AND `table` = '$t'""")
        .collect().head.getLong(0)
      import s.implicits._
      Seq((bobN, bobAgg, defN, listed))
        .toDF("bob_n", "bob_max_region", "default_n", "policy_listed")
    } finally {
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, s"DROP ROW POLICY IF EXISTS rp_pol ON $t")
      ch.sql(s, "DROP USER IF EXISTS rp_bob")
    }
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation WHERE n_regionkey < 2) AS bob_n,
      CAST(1 AS BIGINT) AS bob_max_region,
      (SELECT COUNT(*) FROM nation) AS default_n,
      CAST(1 AS BIGINT) AS policy_listed"""))

  /** Quotas (ParserCreateQuotaQuery.cpp, QuotaCache.cpp): per-user
    * statement counters over an interval window — the covered user's
    * 4th query inside a MAX queries = 3 window is rejected, the
    * bootstrap default is never metered, and SHOW QUOTAS /
    * system.quotas / system.quota_usage expose the ledger. */
  private val quota = Q("q_ch_quota", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_quota_t"
    scratch(s, t)
    def caught(body: => Unit): Long =
      try { body; 0L }
      catch { case e: SecurityException if e.getMessage.contains("Quota") => 1L }
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS
      SELECT n_nationkey, n_name FROM nation""")
    ch.sql(s, "DROP USER IF EXISTS quota_carol")
    ch.sql(s, "DROP QUOTA IF EXISTS q_small")
    ch.sql(s, "CREATE USER quota_carol")
    ch.sql(s, s"GRANT SELECT ON $t TO quota_carol")
    ch.sql(s, "CREATE QUOTA q_small KEYED BY user_name " +
      "FOR INTERVAL 1 hour MAX queries = 3 TO quota_carol")
    try {
      ch.sql(s, "SET user = 'quota_carol'")
      val reads = (1 to 3).map(_ => ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)).sum
      val denied4th = caught {
        ch.sql(s, s"SELECT count() AS n FROM $t").collect()
      }
      ch.sql(s, "SET user = 'default'")
      // default is unmetered no matter how many statements it runs
      val defRead = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      val listed = ch.sql(s, "SHOW QUOTAS")
        .collect().map(_.getString(0)).count(_ == "q_small").toLong
      val sysRow = ch.sql(s, """
        SELECT count() AS n FROM system.quotas
        WHERE name = 'q_small' AND duration = 3600 AND apply_to_list = 'quota_carol'""")
        .collect().head.getLong(0)
      // usage ledger: 3 admitted + the rejected 4th = 4 charged queries
      val usage = ch.sql(s, """
        SELECT CAST(queries AS BIGINT) AS q FROM system.quota_usage
        WHERE quota_name = 'q_small' AND quota_key = 'quota_carol'""")
        .collect().head.getLong(0)
      import s.implicits._
      Seq((reads, denied4th, defRead, listed, sysRow, usage))
        .toDF("reads_sum", "denied_4th", "default_read", "show_listed",
          "system_row", "usage_queries")
    } finally {
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, "DROP QUOTA IF EXISTS q_small")
      ch.sql(s, "DROP USER IF EXISTS quota_carol")
    }
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation) * 3 AS reads_sum,
      CAST(1 AS BIGINT) AS denied_4th,
      (SELECT COUNT(*) FROM nation) AS default_read,
      CAST(1 AS BIGINT) AS show_listed,
      CAST(1 AS BIGINT) AS system_row,
      CAST(4 AS BIGINT) AS usage_queries"""))

  /** Settings profiles (ParserCreateSettingsProfileQuery.cpp): a named
    * bundle of SETTINGS applied to the session conf when a covered user
    * authenticates via SET user; SHOW CREATE renders the stored
    * definition and system.settings_profiles lists it. */
  private val settingsProfile = Q("q_ch_settings_profile", (s, dir) => {
    Tables.register(s, dir)
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, "DROP USER IF EXISTS prof_dave")
    ch.sql(s, "DROP SETTINGS PROFILE IF EXISTS p_limits")
    ch.sql(s, "CREATE USER prof_dave")
    ch.sql(s, "CREATE SETTINGS PROFILE p_limits " +
      "SETTINGS max_threads = 7, max_memory_usage = 1000000 TO prof_dave")
    try {
      ch.sql(s, "SET user = 'prof_dave'")
      // authentication applied the profile to the session conf
      val applied = ch.sql(s, """
        SELECT value FROM system.settings WHERE name = 'max_threads'""")
        .collect().head.getString(0)
      ch.sql(s, "SET user = 'default'")
      val listed = ch.sql(s, "SHOW SETTINGS PROFILES")
        .collect().map(_.getString(0)).count(_ == "p_limits").toLong
      val shown = ch.sql(s, "SHOW CREATE SETTINGS PROFILE p_limits")
        .collect().head.getString(0)
      val sysRow = ch.sql(s, """
        SELECT count() AS n FROM system.settings_profiles
        WHERE name = 'p_limits' AND num_elements = 2
          AND apply_to_list = 'prof_dave'""")
        .collect().head.getLong(0)
      import s.implicits._
      Seq((applied, listed, shown, sysRow))
        .toDF("applied_max_threads", "show_listed", "show_create", "system_row")
    } finally {
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, "DROP SETTINGS PROFILE IF EXISTS p_limits")
      ch.sql(s, "DROP USER IF EXISTS prof_dave")
    }
  }, Some("""
    SELECT '7' AS applied_max_threads,
      CAST(1 AS BIGINT) AS show_listed,
      'CREATE SETTINGS PROFILE p_limits SETTINGS max_threads = 7, max_memory_usage = 1000000 TO prof_dave'
        AS show_create,
      CAST(1 AS BIGINT) AS system_row"""))

  /** ALTER metadata verbs (AlterCommands.h MODIFY_ORDER_BY:33 /
    * MODIFY_SAMPLE_BY:34 / COMMENT_COLUMN / MATERIALIZE_COLUMN): the
    * engine properties recorded at CREATE update in place and SHOW
    * CREATE renders them back; MATERIALIZE COLUMN fills the column's
    * NULL lanes from its recorded DEFAULT expression via the durable
    * part rewrite. */
  private val alterMeta = Q("q_ch_alter_meta", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_altermeta_t"
    scratch(s, t)
    ch.sql(s, s"""
      CREATE TABLE $t (k Int64, v Int64 DEFAULT k * 10 COMMENT 'derived')
      ENGINE = MergeTree ORDER BY k""")
    ch.sql(s, s"""
      INSERT INTO $t
      SELECT CAST(n_nationkey AS BIGINT), CAST(NULL AS BIGINT) FROM nation""")
    // fills ONLY the NULL lanes of v with k * 10 (durable part rewrite)
    ch.sql(s, s"ALTER TABLE $t MATERIALIZE COLUMN v")
    val sumV = ch.sql(s, s"SELECT CAST(sum(v) AS BIGINT) AS sv FROM $t")
      .collect().head.getLong(0)
    ch.sql(s, s"ALTER TABLE $t MODIFY ORDER BY (k, v)")
    ch.sql(s, s"ALTER TABLE $t MODIFY SAMPLE BY k")
    ch.sql(s, s"ALTER TABLE $t MODIFY COMMENT 'meta verbs'")
    ch.sql(s, s"ALTER TABLE $t COMMENT COLUMN k 'key col'")
    val shown = ch.sql(s, s"SHOW CREATE TABLE $t")
      .collect().head.getString(0)
    // REMOVE SAMPLE BY retires the clause again
    ch.sql(s, s"ALTER TABLE $t REMOVE SAMPLE BY")
    val shownNoSample = ch.sql(s, s"SHOW CREATE TABLE $t")
      .collect().head.getString(0)
    import s.implicits._
    Seq((sumV, shown, shownNoSample.contains("SAMPLE BY")))
      .toDF("sum_v", "show_create", "sample_still_shown")
  }, Some("""
    SELECT (SELECT CAST(SUM(n_nationkey) * 10 AS BIGINT) FROM nation) AS sum_v,
      'CREATE TABLE graft_altermeta_t (`k` Nullable(Int64) COMMENT ''key col'', `v` Nullable(Int64) DEFAULT k * 10 COMMENT ''derived'') ENGINE = MergeTree ORDER BY (k, v) SAMPLE BY k COMMENT ''meta verbs'''
        AS show_create,
      FALSE AS sample_still_shown"""))

  /** system.part_log (PartLog.h): the engine's maintenance paths record
    * part lifecycle events — a pruned UPDATE logs MutatePart for the one
    * partition it rewrote, a partition-emptying DELETE logs RemovePart,
    * DETACH/ATTACH log RemovePart/NewPart. DISTINCT keeps the readout
    * stable across repeated runs of the same session ledger. */
  private val partLog = Q("q_system_part_log", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_plog_t"
    scratch(s, t)
    Tables.load(s, dir, "nation")
      .write.partitionBy("n_regionkey").saveAsTable(t)
    ch.sql(s, s"ALTER TABLE $t UPDATE n_name = 'X' WHERE n_regionkey = 2")
    ch.sql(s, s"ALTER TABLE $t DELETE WHERE n_regionkey = 4")
    ch.sql(s, s"ALTER TABLE $t DETACH PARTITION '0'")
    ch.sql(s, s"ALTER TABLE $t ATTACH PARTITION '0'")
    ch.sql(s, s"""
      SELECT DISTINCT event_type, part_name FROM system.part_log
      WHERE `table` = '$t' ORDER BY event_type, part_name""")
  }, Some("""
    SELECT * FROM (VALUES
      ('MutatePart', 'n_regionkey=2'),
      ('NewPart', 'n_regionkey=0'),
      ('RemovePart', 'n_regionkey=0'),
      ('RemovePart', 'n_regionkey=4')) AS v(event_type, part_name)
    ORDER BY event_type, part_name"""))

  /** system.settings_changes — the session's SET audit (documented
    * deviation: the reference serves the per-release settings-change
    * history, which has no axis on a single-session engine; the change
    * ledger with prior values is the honest mapping). */
  private val settingsChanges = Q("q_system_settings_changes", (s, dir) => {
    Tables.register(s, dir)
    ch.sql(s, "SET graft_probe_knob = 1")
    ch.sql(s, "SET graft_probe_knob = 2")
    ch.sql(s, """
      SELECT DISTINCT name, value, previous_value
      FROM system.settings_changes
      WHERE name = 'graft_probe_knob' AND value = '2'""")
  }, Some("""
    SELECT 'graft_probe_knob' AS name, '2' AS value, '1' AS previous_value"""))

  /** SET ROLE / SET DEFAULT ROLE (ASTSetRoleQuery) + the SHOW access
    * entities: the session narrows which granted roles are in effect —
    * privileges resolve through the ACTIVE set, so SET ROLE NONE drops
    * a role-carried SELECT immediately, SET ROLE reactivates it, SET
    * ROLE DEFAULT honors the stored SET DEFAULT ROLE subset.
    * system.current_roles / enabled_roles serve the session view. */
  private val setRole = Q("q_ch_set_role", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_setrole_t"
    scratch(s, t)
    def caught(body: => Unit): Long =
      try { body; 0L } catch { case _: SecurityException => 1L }
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS SELECT n_nationkey FROM nation""")
    ch.sql(s, "DROP USER IF EXISTS sr_eve")
    ch.sql(s, "DROP ROLE IF EXISTS sr_reader")
    ch.sql(s, "DROP ROLE IF EXISTS sr_other")
    ch.sql(s, "CREATE USER sr_eve")
    ch.sql(s, "CREATE ROLE sr_reader")
    ch.sql(s, "CREATE ROLE sr_other")
    ch.sql(s, s"GRANT SELECT ON $t TO sr_reader")
    ch.sql(s, "GRANT sr_reader TO sr_eve")
    ch.sql(s, "GRANT sr_other TO sr_eve")
    ch.sql(s, "SET DEFAULT ROLE sr_reader TO sr_eve")
    try {
      ch.sql(s, "SET user = 'sr_eve'")
      val viaDefault = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      ch.sql(s, "SET ROLE NONE")
      val deniedNone = caught {
        ch.sql(s, s"SELECT count() AS n FROM $t").collect()
      }
      ch.sql(s, "SET ROLE sr_other")
      val deniedOther = caught {
        ch.sql(s, s"SELECT count() AS n FROM $t").collect()
      }
      ch.sql(s, "SET ROLE sr_reader")
      val viaExplicit = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      val current = ch.sql(s, """
        SELECT role_name FROM system.current_roles ORDER BY role_name""")
        .collect().map(_.getString(0)).mkString(",")
      val enabled = ch.sql(s, """
        SELECT count() AS n FROM system.enabled_roles""")
        .collect().head.getLong(0)
      ch.sql(s, "SET ROLE DEFAULT")
      val backToDefault = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      ch.sql(s, "SET user = 'default'")
      val showUsers = ch.sql(s, "SHOW USERS")
        .collect().map(_.getString(0)).count(_ == "sr_eve").toLong
      val showCreateRole = ch.sql(s, "SHOW CREATE ROLE sr_reader")
        .collect().head.getString(0)
      import s.implicits._
      Seq((viaDefault, deniedNone, deniedOther, viaExplicit, current,
          enabled, backToDefault, showUsers, showCreateRole))
        .toDF("via_default", "denied_none", "denied_other", "via_explicit",
          "current_roles", "enabled_n", "back_to_default", "show_users",
          "show_create_role")
    } finally {
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, "DROP USER IF EXISTS sr_eve")
      ch.sql(s, "DROP ROLE IF EXISTS sr_reader")
      ch.sql(s, "DROP ROLE IF EXISTS sr_other")
    }
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation) AS via_default,
      CAST(1 AS BIGINT) AS denied_none,
      CAST(1 AS BIGINT) AS denied_other,
      (SELECT COUNT(*) FROM nation) AS via_explicit,
      'sr_reader' AS current_roles,
      CAST(1 AS BIGINT) AS enabled_n,
      (SELECT COUNT(*) FROM nation) AS back_to_default,
      CAST(1 AS BIGINT) AS show_users,
      'CREATE ROLE sr_reader' AS show_create_role"""))

  /** CHECK GRANT (ASTCheckGrantQuery — the application's non-throwing
    * privilege probe), initializeAggregation('uniqThetaState', x)
    * composed with the theta set algebra, and system.dropped_tables
    * (the UNDROP holding area view). */
  private val accessProbe = Q("q_ch_access_probe", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_probe_t"
    scratch(s, t)
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS SELECT n_nationkey FROM nation""")
    ch.sql(s, "DROP USER IF EXISTS probe_u")
    ch.sql(s, "CREATE USER probe_u")
    ch.sql(s, s"GRANT SELECT ON $t TO probe_u")
    try {
      ch.sql(s, "SET user = 'probe_u'")
      val canSelect = ch.sql(s, s"CHECK GRANT SELECT ON $t")
        .collect().head.getInt(0).toLong
      val canInsert = ch.sql(s, s"CHECK GRANT INSERT ON $t")
        .collect().head.getInt(0).toLong
      ch.sql(s, "SET user = 'default'")
      // initializeAggregation: single-value states compose with the
      // theta algebra exactly like aggregated states
      val r = ch.sql(s, """
        SELECT
          CAST(finalizeAggregation(uniqThetaUnion(
            initializeAggregation('uniqThetaState', 'a'),
            initializeAggregation('uniqThetaState', 'b'))) AS BIGINT) AS u2,
          CAST(finalizeAggregation(uniqThetaUnion(
            initializeAggregation('uniqThetaState', 'a'),
            initializeAggregation('uniqThetaState', 'a'))) AS BIGINT) AS u1""")
        .collect().head
      // dropped_tables: visible in the holding area, gone after UNDROP
      ch.sql(s, s"DROP TABLE $t")
      val held = ch.sql(s, s"""
        SELECT count() AS n FROM system.dropped_tables
        WHERE `table` = '$t'""").collect().head.getLong(0)
      ch.sql(s, s"UNDROP TABLE $t")
      val released = ch.sql(s, s"""
        SELECT count() AS n FROM system.dropped_tables
        WHERE `table` = '$t'""").collect().head.getLong(0)
      import s.implicits._
      Seq((canSelect, canInsert, r.getLong(0), r.getLong(1), held, released))
        .toDF("can_select", "can_insert", "theta_union2", "theta_union1",
          "held", "released")
    } finally {
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, "DROP USER IF EXISTS probe_u")
    }
  }, Some("""
    SELECT CAST(1 AS BIGINT) AS can_select,
      CAST(0 AS BIGINT) AS can_insert,
      CAST(2 AS BIGINT) AS theta_union2,
      CAST(1 AS BIGINT) AS theta_union1,
      CAST(1 AS BIGINT) AS held,
      CAST(0 AS BIGINT) AS released"""))

  /** Statement-surface tail: standalone lightweight UPDATE
    * (ParserUpdateQuery → the durable pruned rewrite), SHOW COLUMNS /
    * INDEXES / SETTING / ENGINES / FUNCTIONS, USE, and PARALLEL WITH
    * statement composition. */
  private val statementTail = Q("q_ch_statement_tail", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_stmt_t"
    val t2 = "graft_stmt_t2"
    scratch(s, t, t2)
    ch.sql(s, s"""
      CREATE TABLE $t (k Int64, v Int64 DEFAULT 0) ENGINE = MergeTree
      ORDER BY k""")
    // PARALLEL WITH: both legs execute (the reference's concurrency is
    // a latency optimization; end state identical)
    ch.sql(s, s"""
      INSERT INTO $t SELECT CAST(n_nationkey AS BIGINT),
        CAST(n_regionkey AS BIGINT) FROM nation
      PARALLEL WITH
      CREATE TABLE $t2 (a Int64) ENGINE = MergeTree ORDER BY a""")
    ch.sql(s, s"INSERT INTO $t2 SELECT CAST(1 AS BIGINT)")
    // standalone lightweight UPDATE
    ch.sql(s, s"UPDATE $t SET v = v * 10 WHERE k < 10")
    val sumV = ch.sql(s, s"SELECT CAST(sum(v) AS BIGINT) AS sv FROM $t")
      .collect().head.getLong(0)
    val cols = ch.sql(s, s"SHOW COLUMNS FROM $t")
      .collect().map(r => s"${r.getString(0)}:${r.getString(1)}:" +
        s"${r.getString(2)}:${r.getString(4)}").mkString(";")
    val idx = ch.sql(s, s"SHOW INDEXES FROM $t")
      .collect().map(r => s"${r.getString(1)}=${r.getString(2)}").mkString(";")
    ch.sql(s, "SET graft_stmt_knob = 7")
    val setting = ch.sql(s, "SHOW SETTING graft_stmt_knob")
      .collect().head.getString(0)
    val useOk = ch.sql(s, "USE default").collect().head.getString(0)
    val engines = ch.sql(s, "SHOW ENGINES").count()
    // registry names resolve case-insensitively but list lowercase
    val fns = ch.sql(s, "SHOW FUNCTIONS LIKE 'siphash%'")
      .collect().map(_.getString(0)).length.toLong
    val t2n = ch.sql(s, s"SELECT count() AS n FROM $t2")
      .collect().head.getLong(0)
    import s.implicits._
    Seq((sumV, cols, idx, setting, useOk, engines >= 5, fns >= 4, t2n))
      .toDF("sum_v", "columns", "indexes", "setting", "use_ok",
        "engines_ge5", "fns_ge4", "t2_n")
  }, Some("""
    SELECT (SELECT CAST(SUM(CASE WHEN n_nationkey < 10 THEN n_regionkey * 10
                               ELSE n_regionkey END) AS BIGINT) FROM nation)
        AS sum_v,
      'k:Nullable(Int64):YES:;v:Nullable(Int64):YES:0' AS columns,
      'PRIMARY=k' AS indexes,
      '7' AS setting,
      'OK' AS use_ok,
      TRUE AS engines_ge5,
      TRUE AS fns_ge4,
      CAST(1 AS BIGINT) AS t2_n"""))

  /** Named collections (ParserCreateNamedCollectionQuery +
    * NamedCollections storage): a reusable key bundle that table
    * functions accept by name — file(nc) reads the collection's
    * path/format. CREATE/ALTER SET/ALTER DELETE/DROP + SHOW NAMED
    * COLLECTIONS + system.named_collections. */
  private val namedCollection = Q("q_ch_named_collection", (s, dir) => {
    Tables.register(s, dir)
    val path = Scratch.path("nc", dir)
    Tables.load(s, dir, "nation")
      .write.mode("overwrite").parquet(path)
    ch.sql(s, "DROP NAMED COLLECTION IF EXISTS nc_probe")
    ch.sql(s, s"""
      CREATE NAMED COLLECTION nc_probe AS
        path = '$path', format = 'Parquet', extra = 'x'""")
    try {
      val viaFn = ch.sql(s, "SELECT count() AS n FROM file(nc_probe)")
        .collect().head.getLong(0)
      ch.sql(s, "ALTER NAMED COLLECTION nc_probe SET extra = 'y', added = '1'")
      ch.sql(s, "ALTER NAMED COLLECTION nc_probe DELETE extra")
      val listed = ch.sql(s, "SHOW NAMED COLLECTIONS")
        .collect().map(_.getString(0)).count(_ == "nc_probe").toLong
      val sysRow = ch.sql(s, """
        SELECT collection FROM system.named_collections
        WHERE name = 'nc_probe'""").collect().head.getString(0)
      // the path key carries the sf dir — pin the shape, not the literal
      val shapeOk = sysRow.startsWith("added = 1, format = Parquet, path = ")
      import s.implicits._
      Seq((viaFn, listed, shapeOk)).toDF("via_fn", "listed", "shape_ok")
    } finally ch.sql(s, "DROP NAMED COLLECTION IF EXISTS nc_probe")
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation) AS via_fn,
      CAST(1 AS BIGINT) AS listed,
      TRUE AS shape_ok"""))

  /** ALTER forms of the access entities (rename follows every identity
    * edge; quota/policy/profile ALTERs re-state their definition) plus
    * the workload-scheduling surface: CREATE WORKLOAD maps to a Spark
    * fair-scheduler pool and SET workload pins the session's jobs to
    * it — the real multi-tenant isolation primitive. */
  private val adminTail = Q("q_ch_admin_tail", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_admin_t"
    scratch(s, t)
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"""
      CREATE MATERIALIZED VIEW $t AS SELECT n_nationkey, n_regionkey FROM nation""")
    ch.sql(s, "DROP USER IF EXISTS au_x")
    ch.sql(s, "DROP USER IF EXISTS au_y")
    ch.sql(s, "CREATE USER au_x")
    ch.sql(s, s"GRANT SELECT ON $t TO au_x")
    ch.sql(s, s"CREATE ROW POLICY au_pol ON $t USING n_regionkey < 2 TO au_x")
    try {
      // rename: grants and policy coverage follow the new name
      ch.sql(s, "ALTER USER au_x RENAME TO au_y")
      ch.sql(s, "SET user = 'au_y'")
      val renamedRead = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      ch.sql(s, "SET user = 'default'")
      // policy ALTER re-states the condition
      ch.sql(s, s"ALTER ROW POLICY au_pol ON $t USING n_regionkey < 1 TO au_y")
      ch.sql(s, "SET user = 'au_y'")
      val tightened = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      ch.sql(s, "SET user = 'default'")
      // quota ALTER replaces the stated fields
      ch.sql(s, "DROP QUOTA IF EXISTS au_q")
      ch.sql(s, "CREATE QUOTA au_q FOR INTERVAL 1 hour MAX queries = 9 TO au_y")
      ch.sql(s, "ALTER QUOTA au_q MAX queries = 2")
      val quotaMax = ch.sql(s,
        "SELECT max FROM system.quotas WHERE name = 'au_q'")
        .collect().head.getString(0)
      // profile ALTER re-states settings; re-auth applies them
      ch.sql(s, "DROP SETTINGS PROFILE IF EXISTS au_p")
      ch.sql(s, "CREATE SETTINGS PROFILE au_p SETTINGS au_knob = 1 TO au_y")
      ch.sql(s, "ALTER SETTINGS PROFILE au_p SETTINGS au_knob = 2")
      ch.sql(s, "SET user = 'au_y'")
      val knob = ch.sql(s,
        "SELECT value FROM system.settings WHERE name = 'au_knob'")
        .collect().head.getString(0)
      ch.sql(s, "SET user = 'default'")
      // workloads: hierarchy recorded, SET workload pins the Spark pool
      ch.sql(s, "DROP WORKLOAD IF EXISTS wl_prod")
      ch.sql(s, "DROP WORKLOAD IF EXISTS wl_all")
      ch.sql(s, "CREATE WORKLOAD wl_all")
      ch.sql(s, "CREATE WORKLOAD wl_prod IN wl_all SETTINGS weight = 9")
      ch.sql(s, "CREATE RESOURCE IF NOT EXISTS res_io (READ DISK disk, WRITE DISK disk)")
      ch.sql(s, "SET workload = 'wl_prod'")
      val pool = Option(s.sparkContext.getLocalProperty("spark.scheduler.pool"))
        .getOrElse("")
      val wlRows = ch.sql(s, """
        SELECT count() AS n FROM system.workloads
        WHERE name = 'wl_prod' AND parent = 'wl_all'""")
        .collect().head.getLong(0)
      val unknownWl =
        try { ch.sql(s, "SET workload = 'nope'"); 0L }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("does not exist") => 1L }
      import s.implicits._
      Seq((renamedRead, tightened, quotaMax, knob, pool, wlRows, unknownWl))
        .toDF("renamed_read", "tightened", "quota_max", "knob", "pool",
          "wl_rows", "unknown_wl")
    } finally {
      ch.sql(s, "SET user = 'default'")
      scala.util.Try(ch.sql(s, s"DROP ROW POLICY IF EXISTS au_pol ON $t"))
      scala.util.Try(ch.sql(s, "DROP QUOTA IF EXISTS au_q"))
      scala.util.Try(ch.sql(s, "DROP SETTINGS PROFILE IF EXISTS au_p"))
      scala.util.Try(ch.sql(s, "DROP USER IF EXISTS au_y"))
      scala.util.Try(ch.sql(s, "DROP WORKLOAD IF EXISTS wl_prod"))
      scala.util.Try(ch.sql(s, "DROP WORKLOAD IF EXISTS wl_all"))
      scala.util.Try(ch.sql(s, "DROP RESOURCE IF EXISTS res_io"))
    }
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation WHERE n_regionkey < 2) AS renamed_read,
      (SELECT COUNT(*) FROM nation WHERE n_regionkey < 1) AS tightened,
      'queries = 2' AS quota_max,
      '2' AS knob,
      'wl_prod' AS pool,
      CAST(1 AS BIGINT) AS wl_rows,
      CAST(1 AS BIGINT) AS unknown_wl"""))

  /** LIVE VIEW + WATCH (StorageLiveView.h:28,105-116;
    * StorageLiveView.cpp:722-745 "Update blocks only if hash keys do
    * not match"; ASTWatchQuery.h limit_length + is_watch_events): the
    * version counter bumps exactly once per result CHANGE — a write
    * that leaves the result identical must NOT bump — and WATCH serves
    * (result, _version) / EVENTS serves bare versions. */
  private val watchLive = Q("q_ch_watch", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_watch_t"
    scratch(s, t)
    ch.sql(s, "DROP VIEW IF EXISTS graft_watch_lv")
    ch.sql(s, s"CREATE MATERIALIZED VIEW $t AS SELECT n_nationkey AS k FROM nation")
    ch.sql(s, "CREATE LIVE VIEW graft_watch_lv AS " +
      s"SELECT count() AS n, max(k) AS m FROM $t")
    try {
      def watchVersion(): Long = ch.sql(s, "WATCH graft_watch_lv")
        .collect().head.getAs[Number]("_version").longValue
      val v1 = watchVersion() // creation state
      ch.sql(s, s"INSERT INTO $t VALUES (1000)")
      val v2 = watchVersion() // result changed → bump
      val v2Again = watchVersion() // same hash → exactly-once
      // a write that leaves the result IDENTICAL must not bump
      ch.sql(s, s"ALTER TABLE $t DELETE WHERE k < 0")
      val vNoop = watchVersion()
      ch.sql(s, s"INSERT INTO $t VALUES (2000)")
      watchVersion()
      val events = ch.sql(s, "WATCH graft_watch_lv EVENTS LIMIT 3")
        .collect().map(_.getLong(0)).mkString(",")
      // plain SELECT over the live view stays fresh by construction
      val n = ch.sql(s, "SELECT n FROM graft_watch_lv")
        .collect().head.getLong(0)
      import s.implicits._
      Seq((v1, v2, v2Again, vNoop, events, n))
        .toDF("v1", "v2", "v2_again", "v_noop", "events", "n")
    } finally {
      scala.util.Try(ch.sql(s, "DROP VIEW IF EXISTS graft_watch_lv"))
      scala.util.Try(scratch(s, t))
    }
  }, Some("""
    SELECT CAST(1 AS BIGINT) AS v1, CAST(2 AS BIGINT) AS v2,
      CAST(2 AS BIGINT) AS v2_again, CAST(2 AS BIGINT) AS v_noop,
      '1,2,3' AS events,
      CAST((SELECT COUNT(*) + 2 FROM nation) AS BIGINT) AS n"""))

  /** LIVE VIEW streaming PUSH lane (round 12 — the reference's
    * writeIntoLiveView write-side chain): a file-stream over the base
    * table's directory triggers the stored SELECT's re-evaluation under
    * the pinned fingerprint contract, so an INSERT bumps `_version`
    * with NO client WATCH in between. Bounded: the query collects a
    * fixed number of micro-batch versions and stops the stream. */
  private val watchStream = Q("q_ch_watch_stream", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_ws_t"
    scratch(s, t)
    ch.sql(s, "DROP VIEW IF EXISTS graft_ws_lv")
    ch.sql(s, s"CREATE MATERIALIZED VIEW $t AS SELECT n_nationkey AS k FROM nation")
    ch.sql(s, "CREATE LIVE VIEW graft_ws_lv AS " +
      s"SELECT count() AS n, max(k) AS m FROM $t")
    val q = graft.sql.LiveViews.startPush(s, "graft_ws_lv", t,
      ch.liveViewRun(s))
    try {
      q.processAllAvailable() // snapshot batch: hash unchanged, no bump
      val v1 = graft.sql.LiveViews.versionOf("graft_ws_lv")
      ch.sql(s, s"INSERT INTO $t VALUES (1000)")
      q.processAllAvailable() // the INSERT pushes — no WATCH issued
      val v2 = graft.sql.LiveViews.versionOf("graft_ws_lv")
      ch.sql(s, s"INSERT INTO $t VALUES (2000)")
      q.processAllAvailable()
      val v3 = graft.sql.LiveViews.versionOf("graft_ws_lv")
      // the pushed versions are the SAME ledger WATCH serves
      val events = ch.sql(s, "WATCH graft_ws_lv EVENTS LIMIT 3")
        .collect().map(_.getLong(0)).mkString(",")
      val n = ch.sql(s, "SELECT n FROM graft_ws_lv")
        .collect().head.getLong(0)
      import s.implicits._
      Seq((v1, v2, v3, events, n))
        .toDF("v1", "v2", "v3", "events", "n")
    } finally {
      graft.sql.LiveViews.stopPush("graft_ws_lv")
      scala.util.Try(ch.sql(s, "DROP VIEW IF EXISTS graft_ws_lv"))
      scala.util.Try(scratch(s, t))
    }
  }, Some("""
    SELECT CAST(1 AS BIGINT) AS v1, CAST(2 AS BIGINT) AS v2,
      CAST(3 AS BIGINT) AS v3, '1,2,3' AS events,
      CAST((SELECT COUNT(*) + 2 FROM nation) AS BIGINT) AS n"""))

  /** GRANT … WITH GRANT OPTION / ADMIN OPTION (ParserGrantQuery.cpp):
    * the delegation bit lets its holder GRANT/REVOKE that privilege
    * (role) onward; REVOKE GRANT OPTION FOR strips the bit but keeps
    * the grant; revoking the privilege removes the bit with it. */
  private val grantOption = Q("q_ch_grant_option", (s, dir) => {
    Tables.register(s, dir)
    val t = "graft_go_t"
    scratch(s, t)
    def caught(body: => Unit): Long =
      try { body; 0L } catch { case _: SecurityException => 1L }
    ch.sql(s, "SET user = 'default'")
    ch.sql(s, s"CREATE MATERIALIZED VIEW $t AS SELECT n_nationkey FROM nation")
    Seq("go_lead", "go_peer", "go_plain").foreach { u =>
      ch.sql(s, s"DROP USER IF EXISTS $u")
      ch.sql(s, s"CREATE USER $u")
    }
    ch.sql(s, "DROP ROLE IF EXISTS go_role")
    ch.sql(s, "CREATE ROLE go_role")
    try {
      ch.sql(s, s"GRANT SELECT ON $t TO go_lead WITH GRANT OPTION")
      ch.sql(s, s"GRANT SELECT ON $t TO go_plain")
      // delegated grant works: the option holder grants onward
      ch.sql(s, "SET user = 'go_lead'")
      ch.sql(s, s"GRANT SELECT ON $t TO go_peer")
      ch.sql(s, "SET user = 'go_peer'")
      val peerReads = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      // a plain grantee (no option) cannot delegate or revoke
      ch.sql(s, "SET user = 'go_plain'")
      val plainDenied = caught {
        ch.sql(s, s"GRANT SELECT ON $t TO go_peer")
      }
      val plainRevokeDenied = caught {
        ch.sql(s, s"REVOKE SELECT ON $t FROM go_peer")
      }
      // the option holder can REVOKE what it can GRANT
      ch.sql(s, "SET user = 'go_lead'")
      ch.sql(s, s"REVOKE SELECT ON $t FROM go_peer")
      ch.sql(s, "SET user = 'go_peer'")
      val peerAfterRevoke = caught {
        ch.sql(s, s"SELECT count() AS n FROM $t").collect()
      }
      // SHOW GRANTS renders the bit; stripping it keeps the grant
      ch.sql(s, "SET user = 'default'")
      val shownWith = ch.sql(s, "SHOW GRANTS FOR go_lead")
        .collect().map(_.getString(0)).mkString(";")
      ch.sql(s, s"REVOKE GRANT OPTION FOR SELECT ON $t FROM go_lead")
      val shownStripped = ch.sql(s, "SHOW GRANTS FOR go_lead")
        .collect().map(_.getString(0)).mkString(";")
      ch.sql(s, "SET user = 'go_lead'")
      val leadStillReads = ch.sql(s, s"SELECT count() AS n FROM $t")
        .collect().head.getLong(0)
      val leadDelegationGone = caught {
        ch.sql(s, s"GRANT SELECT ON $t TO go_peer")
      }
      // ADMIN OPTION: the role-delegation analog
      ch.sql(s, "SET user = 'default'")
      ch.sql(s, "GRANT go_role TO go_lead WITH ADMIN OPTION")
      ch.sql(s, "SET user = 'go_lead'")
      ch.sql(s, "GRANT go_role TO go_peer")
      ch.sql(s, "SET user = 'default'")
      val peerHasRole = ch.sql(s, """
        SELECT count() AS n FROM system.grants
        WHERE grantee = 'go_peer' AND access_type = 'ROLE'
          AND target = 'go_role'""").collect().head.getLong(0)
      ch.sql(s, "REVOKE ADMIN OPTION FOR go_role FROM go_lead")
      ch.sql(s, "SET user = 'go_lead'")
      val adminGone = caught { ch.sql(s, "GRANT go_role TO go_plain") }
      ch.sql(s, "SET user = 'default'")
      import s.implicits._
      Seq((peerReads, plainDenied, plainRevokeDenied, peerAfterRevoke,
        shownWith, shownStripped, leadStillReads, leadDelegationGone,
        peerHasRole, adminGone))
        .toDF("peer_reads", "plain_denied", "plain_revoke_denied",
          "peer_after_revoke", "shown_with", "shown_stripped",
          "lead_still_reads", "lead_delegation_gone", "peer_has_role",
          "admin_gone")
    } finally {
      ch.sql(s, "SET user = 'default'")
      Seq("go_lead", "go_peer", "go_plain").foreach(u =>
        scala.util.Try(ch.sql(s, s"DROP USER IF EXISTS $u")))
      scala.util.Try(ch.sql(s, "DROP ROLE IF EXISTS go_role"))
      scala.util.Try(scratch(s, t))
    }
  }, Some("""
    SELECT (SELECT COUNT(*) FROM nation) AS peer_reads,
      CAST(1 AS BIGINT) AS plain_denied,
      CAST(1 AS BIGINT) AS plain_revoke_denied,
      CAST(1 AS BIGINT) AS peer_after_revoke,
      'GRANT SELECT ON graft_go_t TO go_lead WITH GRANT OPTION' AS shown_with,
      'GRANT SELECT ON graft_go_t TO go_lead' AS shown_stripped,
      (SELECT COUNT(*) FROM nation) AS lead_still_reads,
      CAST(1 AS BIGINT) AS lead_delegation_gone,
      CAST(1 AS BIGINT) AS peer_has_role,
      CAST(1 AS BIGINT) AS admin_gone"""))

  override def queries: Seq[Q] = Seq(
    replacePartition, movePartition, fetchPartition, undropTable,
    refreshMv, optimizeDedupBy, limitOffsetBy, dynamicTyped,
    systemMaintenance, mutationRewrite, backupRestore, systemBreadth,
    rbac, rowPolicy, quota, settingsProfile, alterMeta, partLog,
    settingsChanges, setRole, accessProbe, statementTail,
    namedCollection, adminTail, watchLive, watchStream, grantOption)
}
