package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** System-table surface (reference: src/Storages/System/ —
  * StorageSystemTables.cpp, StorageSystemColumns.cpp,
  * StorageSystemFunctions.cpp). The Spark catalog is the source of truth;
  * these expose it as queryable frames with reference-shaped columns. */
object SystemTables {

  /** The part-lifecycle event ledger behind system.part_log
    * (src/Interpreters/PartLog.h: NewPart / MergeParts / DownloadPart /
    * RemovePart / MutatePart / MovePart). This engine's maintenance
    * paths — DurableRewrite mutations, partition verbs — record here;
    * parts are partition directories, so `part_name` carries the
    * partition dir (or the table name for unpartitioned rewrites). */
  object PartLogLedger {
    private val max = 10000
    private val events =
      new java.util.concurrent.ConcurrentLinkedDeque[
        (java.sql.Timestamp, String, String, String)]()

    // The reference's part_log is a real MergeTree table that survives
    // restarts (PartLog.h / StorageSystemPartLog): the analog is an
    // append-only TSV sidecar under the warehouse, loaded once per
    // process and compacted when the bounded ledger rolls over. Pure
    // driver-side metadata — O(events), never row-count state.
    @volatile private var loadedSidecar: String = null
    private def sidecarPath(): Option[java.nio.file.Path] =
      org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
        java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir")
            .stripPrefix("file:"), "_graft_part_log", "events.tsv")
      }
    private def esc(v: String) =
      v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    private def unesc(v: String) =
      v.replace("\\n", "\n").replace("\\t", "\t").replace("\\\\", "\\")
    private def ensureLoaded(): Unit = sidecarPath().foreach { p =>
      val key = p.toString
      if (loadedSidecar != key) synchronized {
        if (loadedSidecar != key) {
          // a mid-process warehouse switch must not MIX histories: the
          // ledger mirrors exactly one sidecar at a time
          if (loadedSidecar != null) events.clear()
          if (java.nio.file.Files.exists(p)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.readAllLines(p).asScala.foreach { line =>
              line.split("\t", -1) match {
                case Array(ts, et, t, pn) => scala.util.Try(
                  events.addLast((new java.sql.Timestamp(ts.toLong),
                    unesc(et), unesc(t), unesc(pn))))
                case _ =>
              }
            }
            while (events.size > max) events.pollFirst()
          }
          loadedSidecar = key
        }
      }
    }
    private def append(ts: Long, et: String, t: String,
        pn: String): Unit = sidecarPath().foreach { p =>
      scala.util.Try {
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p,
          s"$ts\t${esc(et)}\t${esc(t)}\t${esc(pn)}\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    }
    private def compact(): Unit = sidecarPath().foreach { p =>
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, events.asScala.map(e =>
          s"${e._1.getTime}\t${esc(e._2)}\t${esc(e._3)}\t${esc(e._4)}")
          .toSeq.asJava)
      }
    }
    def record(eventType: String, table: String, partName: String): Unit =
      synchronized {
        ensureLoaded()
        val now = System.currentTimeMillis()
        events.addLast((new java.sql.Timestamp(now),
          eventType, table, partName))
        if (events.size > max) {
          while (events.size > max) events.pollFirst()
          compact() // rollover: rewrite the sidecar to the bounded window
        } else append(now, eventType, table, partName)
      }
    def snapshot: Seq[(java.sql.Timestamp, String, String, String)] = {
      ensureLoaded()
      import scala.jdk.CollectionConverters._
      events.asScala.toSeq
    }
    private[graft] def clear(): Unit = synchronized {
      events.clear()
      sidecarPath().foreach(p =>
        scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
    /** Test hook: drop the in-memory state WITHOUT touching the
      * sidecar — simulates a process restart. */
    private[graft] def resetMemoryForTest(): Unit = synchronized {
      events.clear(); loadedSidecar = null
    }
    /** Test hook: mark the in-memory state as belonging to ANOTHER
      * warehouse — the next read must CLEAR it before reloading this
      * warehouse's sidecar (histories never mix). */
    private[graft] def markForeignForTest(): Unit = synchronized {
      loadedSidecar = "__other_warehouse__"
    }
  }

  /** system.part_log (StorageSystemPartLog via PartLog.h): one row per
    * part lifecycle event recorded by the engine's maintenance paths. */
  def partLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    PartLogLedger.snapshot
      .toDF("event_time", "event_type", "table", "part_name")
  }

  /** The session settings audit behind system.settings_changes. The
    * reference's table is the static per-release settings-change history
    * (StorageSystemSettingsChanges.cpp); a single-session engine has no
    * release axis, so the honest mapping — documented deviation — is the
    * SESSION's change history: one row per SET with the prior value. */
  object SettingsChangesLedger {
    private val events =
      new java.util.concurrent.ConcurrentLinkedDeque[
        (java.sql.Timestamp, String, String, String)]()
    def record(name: String, value: String, previous: String): Unit = {
      events.addLast((new java.sql.Timestamp(System.currentTimeMillis()),
        name, value, previous))
      while (events.size > 10000) events.pollFirst()
    }
    def snapshot: Seq[(java.sql.Timestamp, String, String, String)] = {
      import scala.jdk.CollectionConverters._
      events.asScala.toSeq
    }
    private[graft] def clear(): Unit = events.clear()
  }

  /** system.settings_changes: the session's SET history. */
  def settingsChanges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    SettingsChangesLedger.snapshot
      .toDF("event_time", "name", "value", "previous_value")
  }

  /** system.one (StorageSystemOne.cpp): the canonical single-row,
    * single-column table — a FROM-less SELECT resolves against it in the
    * reference; `dummy` UInt8 = 0. */
  def one(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(0.toShort).toDF("dummy")
  }

  /** system.numbers as a TABLE (StorageSystemNumbers.cpp): the reference
    * streams an unbounded `number` column and relies on LIMIT/WHERE to
    * stop; the dialect caps the materialized range at the query's LIMIT
    * (or a default window) — see the `FROM system.numbers` resolution in
    * ClickHouseSql. */
  def numbers(spark: SparkSession, bound: Long): DataFrame =
    spark.range(bound).toDF("number")

  /** system.merges (StorageSystemMerges.cpp): in-flight background
    * merges. This engine has no merge daemon — compaction is the write
    * path's concern — so the table is honestly ALWAYS empty, with the
    * reference's column shape (the same contract as `processes` between
    * queries). */
  def merges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Double, Long, Long, Double)]
      .toDF("database", "table", "elapsed", "num_parts", "rows_read",
        "progress")
  }

  /** system.mutations (StorageSystemMutations.cpp): the session's
    * mutation ledger — every ALTER UPDATE / ALTER DELETE / lightweight
    * DELETE recorded in order. Mutations here are SYNCHRONOUS part
    * rewrites, so is_done is always 1 (the reference's async queue shows
    * 0 while pending). */
  def mutations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    graft.sql.ClickHouseSql.mutationLog.iterator().asScala.toSeq
      .map { case (t, cmd) => (t, cmd, 1) }
      .toDF("table", "command", "is_done")
  }

  /** system.formats (StorageSystemFormats.cpp): the format registry —
    * every wire/text/container format this engine speaks, with its
    * input/output capability flags (render-only formats are output-only,
    * Regexp/JSONAsString parse-only, like the reference's registry). */
  def formats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val both = Seq("Parquet", "ORC", "CSV", "CSVWithNames",
      "CSVWithNamesAndTypes", "JSONEachRow", "TabSeparated",
      "TabSeparatedWithNames", "TabSeparatedWithNamesAndTypes",
      "JSONCompactEachRow", "JSONCompactEachRowWithNamesAndTypes",
      "JSONColumns", "JSONObjectEachRow", "Values", "TSKV",
      "JSONCompact", "JSONCompactColumns", "JSONColumnsWithMetadata",
      "CustomSeparated", "RowBinary", "RowBinaryWithNamesAndTypes",
      "Native", "ArrowStream", "Avro", "BSONEachRow", "MsgPack", "Npy",
      "Protobuf", "ProtobufSingle", "ProtobufList", "Template",
      "CapnProto",
      "LineAsString", "RawBLOB", "TabSeparatedRaw", "JSONStringsEachRow",
      "JSON")
    val inOnly = Seq("Regexp", "JSONAsString", "JSONAsObject",
      "ParquetMetadata", "One", "Form", "HiveText", "MySQLDump")
    val outOnly = Seq("Pretty", "Vertical", "Markdown", "XML")
    (both.map((_, true, true)) ++ inOnly.map((_, true, false)) ++
      outOnly.map((_, false, true)))
      .toDF("name", "is_input", "is_output")
  }

  /** system.table_engines (StorageSystemTableEngines.cpp): the engine
    * names CREATE TABLE … ENGINE = accepts. */
  def tableEngines(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("MergeTree", "ReplacingMergeTree", "SummingMergeTree",
      "AggregatingMergeTree", "CollapsingMergeTree",
      "VersionedCollapsingMergeTree", "GraphiteMergeTree", "Memory",
      "Join", "Set", "Buffer", "Merge", "Null", "View",
      "MaterializedView", "Dictionary")
      .map(Tuple1(_)).toDF("name")
  }

  /** system.clusters (StorageSystemClusters.cpp): the session's topology.
    * This engine delegates distribution to Spark, so the one cluster is
    * the local session (the reference's default single-shard shape). */
  def clusters(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("default", 1, 1, java.net.InetAddress.getLoopbackAddress.getHostName,
      1)).toDF("cluster", "shard_num", "replica_num", "host_name", "is_local")
  }

  /** system.disks (StorageSystemDisks.cpp): storage volumes — here the
    * warehouse filesystem, with live free/total byte gauges. */
  def disks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")
    val f = new java.io.File(wh)
    val probe = if (f.exists()) f else new java.io.File("/")
    Seq(("default", wh, probe.getFreeSpace, probe.getTotalSpace, "local"))
      .toDF("name", "path", "free_space", "total_space", "type")
  }

  /** system.columns, argless FROM form (StorageSystemColumns.cpp): the
    * full (table × column) inventory of the session catalog, with CH
    * type names and 1-based positions — WHERE narrows it like the
    * reference. */
  def columnsAll(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().map(_.name).sorted.flatMap { t =>
      try spark.table(t).schema.fields.zipWithIndex.map { case (f, i) =>
        (t, f.name,
          try ChWireFormats.chTypeName(f.dataType, f.nullable)
          catch { case _: Exception => f.dataType.sql },
          i + 1)
      }.toSeq
      catch { case _: Exception => Seq.empty }
    }.toSeq.toDF("table", "name", "type", "position")
  }

  /** system.tables: session-visible tables/views. */
  def tables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect()
      .map(t => (Option(t.database).getOrElse("default"), t.name,
        t.tableType, t.isTemporary))
      .toSeq.toDF("database", "name", "engine", "is_temporary")
  }

  /** system.columns: column inventory of a registered table. */
  def columns(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    spark.table(table).schema.fields.zipWithIndex
      .map { case (f, i) => (table, f.name, i + 1, f.dataType.simpleString) }
      .toSeq.toDF("table_name", "column_name", "position", "data_type")
  }

  /** system.functions: resolvable function names (builtin + registered). */
  def functions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listFunctions().collect()
      .map(f => (f.name, f.isTemporary)).toSeq
      .toDF("name", "is_temporary")
  }

  /** system.parts analog (src/Storages/System/StorageSystemParts.cpp):
    * one row per partition directory of a hive-partitioned parquet layout
    * (ScaleOps.writePartitioned — the PARTITION BY analog), with the
    * partition value, file count, byte size, and exact row count from the
    * parquet footers. The reference's part inventory maps to partition
    * directories; `active` is always true (no merge backlog in this
    * model). Footer-only reads: listing a 100 TB layout touches metadata,
    * not data. */
  def parts(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.contains("="))
    dirs.map { d =>
      val files = fs.listStatus(d).filter(f => f.getPath.getName.endsWith(".parquet"))
      val rows = spark.read.parquet(d.toString).count()
      (d.getName, files.length.toLong, files.map(_.getLen).sum, rows, true)
    }.toSeq.sortBy(_._1)
      .toDF("partition", "file_count", "bytes_on_disk", "rows", "active")
  }

  /** system.parts, argless FROM form (StorageSystemParts.cpp): one row
    * per parquet part file of every catalog table — name, size, active —
    * pure driver metadata (no data reads; the arg-taking [[parts]] keeps
    * the per-partition row counts). */
  def partsAll(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    spark.catalog.listTables().collect().map(_.name).sorted.flatMap { t =>
      try spark.table(t).inputFiles.toSeq.sorted.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val len = try p.getFileSystem(conf).getFileStatus(p).getLen
          catch { case _: Exception => -1L }
        (t, p.getName, len, true)
      }
      catch { case _: Exception => Seq.empty }
    }.toSeq.toDF("table", "name", "bytes_on_disk", "active")
  }

  /** system.detached_parts (StorageSystemDetachedParts.cpp): every
    * `_detached/<col>=<v>` partition dir of every catalog table — the
    * introspection pair of DETACH PARTITION and FETCH PARTITION. Driver
    * FS listing only: metadata-scale at any corpus size. */
  def detachedParts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val catalog = spark.sessionState.catalog
    spark.catalog.listTables().collect().map(_.name).sorted.flatMap { t =>
      try {
        val loc = catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.getPath
        val det = new org.apache.hadoop.fs.Path(loc, "_detached")
        val fs = det.getFileSystem(conf)
        if (!fs.exists(det)) Seq.empty
        else fs.listStatus(det).filter(_.isDirectory).toSeq
          .filter(_.getPath.getName.contains("="))
          .map { d =>
            val bytes = fs.getContentSummary(d.getPath).getLength
            (t, d.getPath.getName, bytes, "detached")
          }.sortBy(_._2)
      } catch { case _: Exception => Seq.empty }
    }.toSeq.toDF("table", "partition", "bytes_on_disk", "reason")
  }

  /** system.projections (StorageSystemProjections analog): every
    * projection registered through ALTER TABLE ADD PROJECTION. */
  def projections(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.TableLedger.listProjections.toDF("table", "name", "type")
  }

  /** system.errors (StorageSystemErrors.cpp): per-error-name count and
    * last message of every failed dialect statement this session. */
  def errors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    graft.sql.ClickHouseSql.errorLedger.asScala.toSeq
      .map { case (name, (n, msg)) => (name, n, msg) }
      .sortBy(_._1)
      .toDF("name", "value", "last_error_message")
  }

  /** system.view_refreshes (StorageSystemViewRefreshes analog): every
    * refreshable materialized view with its schedule and completed
    * refresh count. */
  def viewRefreshes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.ClickHouseSql.listRefreshableViews
      .toDF("view", "refresh_schedule", "target_table", "refresh_count")
  }

  /** system.backups (StorageSystemBackups.cpp): every BACKUP/RESTORE
    * statement this session, with file/byte counts for backups. */
  def backups(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    graft.sql.ClickHouseSql.backupLog.iterator.asScala.toSeq
      .map(e => (e.name, e.table, e.status, e.numFiles, e.totalSize))
      .toDF("name", "table", "status", "num_files", "total_size")
  }

  /** system.time_zones (StorageSystemTimeZones.cpp): every zone id the
    * engine can parse/format in — the JVM's tz database here, the same
    * IANA set the reference embeds. */
  def timeZones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    java.time.ZoneId.getAvailableZoneIds.asScala.toSeq.sorted
      .toDF("time_zone")
  }

  /** system.build_options (StorageSystemBuildOptions.cpp): how this
    * engine was built — the Spark/Scala/JVM versions are the analog of
    * the reference's compiler/flag rows. */
  def buildOptions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("ENGINE", "graft (Spark-native)"),
      ("SPARK_VERSION", spark.version),
      ("SCALA_VERSION", scala.util.Properties.versionNumberString),
      ("JAVA_VERSION", System.getProperty("java.version", "unknown")))
      .toDF("name", "value")
  }

  /** system.warnings (StorageSystemWarnings.cpp): startup warnings — a
    * cleanly-configured single-node session has none (the reference with
    * no warnings serves the same empty set). */
  def warnings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("message")
  }

  /** system.replicas (StorageSystemReplicas.cpp): one row per
    * ReplicatedMergeTree table — this single-node engine has none, so
    * the correct-schema empty set is the honest answer (matching a
    * reference server with no Replicated tables). */
  def replicas(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Boolean, Long)]
      .toDF("database", "table", "is_leader", "absolute_delay")
  }

  /** system.moves (StorageSystemMoves.cpp): in-flight part moves between
    * disks — moves here are synchronous renames, so the in-flight set is
    * always empty. */
  def moves(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Double)]
      .toDF("table", "target_disk_name", "elapsed")
  }

  /** system.users (StorageSystemUsers.cpp): the bootstrap `default`
    * plus every CREATE USER. */
  def users(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listUsers.toDF("name")
  }

  /** system.roles (StorageSystemRoles.cpp). */
  def rolesTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listRoles.toDF("name")
  }

  /** system.grants (StorageSystemGrants.cpp): one row per granted
    * privilege or role; grant_option is the delegation bit (admin
    * option for role rows). */
  def grantsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listGrants
      .toDF("grantee", "access_type", "target", "grant_option")
  }

  /** system.row_policies (StorageSystemRowPolicies.cpp). */
  def rowPolicies(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listRowPolicies
      .toDF("name", "table", "select_filter", "apply_to")
  }

  /** system.workloads (StorageSystemWorkloads.cpp): the scheduling
    * hierarchy — each workload is a Spark fair-scheduler pool here. */
  def workloads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.ClickHouseSql.listWorkloads
      .toDF("name", "parent", "create_query_settings")
  }

  /** system.resources (StorageSystemResources.cpp). */
  def resourcesTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.ClickHouseSql.listResources.toDF("name", "spec")
  }

  /** system.named_collections (StorageSystemNamedCollections.cpp). */
  def namedCollections(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.ClickHouseSql.listNamedCollections
      .toDF("name", "collection")
  }

  /** system.dropped_tables (StorageSystemDroppedTables.cpp): tables in
    * the DROP → UNDROP holding area, with their `_dropped` data path. */
  def droppedTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.TableLedger.listDroppedTables
      .toDF("table", "metadata_dropped_path", "is_managed")
  }

  /** system.current_roles (StorageSystemCurrentRoles.cpp): the session
    * user's roles in effect (SET ROLE subset or the default set). */
  def currentRoles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listCurrentRoles(spark)
      .toDF("role_name", "is_default")
  }

  /** system.enabled_roles (StorageSystemEnabledRoles.cpp): the
    * transitive closure of the current roles. */
  def enabledRoles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listEnabledRoles(spark)
      .toDF("role_name", "is_current")
  }

  /** system.quotas (StorageSystemQuotas.cpp): one row per CREATE QUOTA
    * with its key, interval, limits, and grantee set. */
  def quotasTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listQuotas
      .toDF("name", "keys", "duration", "max", "apply_to_all", "apply_to_list")
  }

  /** system.quota_usage (StorageSystemQuotaUsage.cpp): the session
    * ledger's consumed counters per (quota, user) window. */
  def quotaUsage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listQuotaUsage
      .toDF("quota_name", "quota_key", "queries", "errors", "result_rows",
        "max_queries")
  }

  /** system.settings_profiles (StorageSystemSettingsProfiles.cpp). */
  def settingsProfilesTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.AccessControl.listSettingsProfiles
      .toDF("name", "num_elements", "elements", "apply_to_all", "apply_to_list")
  }

  /** system.settings analog (StorageSystemSettings.cpp): the session's
    * dialect-level knobs — every `SET k = v` lands under the graft.ch.*
    * conf namespace and is queryable here. */
  def settings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.conf.getAll.toSeq
      .filter(_._1.startsWith("graft.ch."))
      .map { case (k, v) => (k.stripPrefix("graft.ch."), v) }
      .sortBy(_._1)
      .toDF("name", "value")
  }

  /** system.query_log analog (src/Interpreters/QueryLog.h): the session's
    * dialect-statement history with literal-normalized text and wall
    * durations — the log-analysis surface normalizeQuery serves. */
  def queryLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    graft.sql.ClickHouseSql.queryLog.iterator.asScala.toSeq
      .map(e => (e.query, e.normalized, e.durationMs, e.eventTime))
      .toDF("query", "normalized_query", "query_duration_ms", "event_time")
  }

  /** system.dictionaries analog
    * (src/Storages/System/StorageSystemDictionaries.cpp): one row per
    * registered SQL dictionary with key type, attribute list, element
    * count — the loaded-dictionary introspection surface. */
  def dictionaries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.Dictionaries.listDicts
      .toDF("name", "key_type", "attributes", "element_count")
  }

  /** system.data_skipping_indices (StorageSystemDataSkippingIndices.cpp):
    * every skip index created through the dialect's ALTER TABLE ADD INDEX,
    * with its table, type, and backing data path. */
  def dataSkippingIndices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.sql.TableLedger.listSkipIndexes(spark)
      .toDF("table", "name", "type", "data_path")
  }

  /** system.databases (StorageSystemDatabases.cpp): catalog inventory. */
  def databases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listDatabases().collect()
      .map(d => (d.name, Option(d.locationUri).map(_.toString).getOrElse("")))
      .toSeq.toDF("name", "data_path")
  }

  /** system.processes (StorageSystemProcesses.cpp — running queries):
    * the session's active Spark jobs. Usually empty between queries —
    * the reference's table likewise shows only in-flight work. */
  def processes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val st = spark.sparkContext.statusTracker
    st.getActiveJobIds().toSeq.flatMap { id =>
      st.getJobInfo(id).map(j =>
        (id, j.stageIds().length, j.status().toString))
    }.toDF("job_id", "n_stages", "status")
  }

  // ---- round-7 introspection tail: metrics / events / async metrics ----

  /** system.metrics analog (StorageSystemMetrics.cpp — CURRENT-value
    * gauges like Query/Merge/TCPConnection): the session's live execution
    * gauges from the public status tracker. */
  def metrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val st = spark.sparkContext.statusTracker
    Seq(
      ("ActiveJobs", st.getActiveJobIds().length.toLong),
      ("ActiveStages", st.getActiveStageIds().length.toLong),
      ("Executors", st.getExecutorInfos.length.toLong),
      ("DefaultParallelism", spark.sparkContext.defaultParallelism.toLong),
      ("CachedRDDs", spark.sparkContext.getPersistentRDDs.size.toLong),
      ("SessionSQLShufflePartitions",
        spark.conf.get("spark.sql.shuffle.partitions").toLong)
    ).toDF("metric", "value")
  }

  /** Monotonic event counters for [[events]] — installed once per
    * SparkContext (the reference's ProfileEvents increment globally the
    * same way). */
  private object EventCounters extends org.apache.spark.scheduler.SparkListener {
    val jobsStarted = new java.util.concurrent.atomic.AtomicLong
    val stagesCompleted = new java.util.concurrent.atomic.AtomicLong
    val tasksCompleted = new java.util.concurrent.atomic.AtomicLong
    private val installed =
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean])
    def ensure(spark: SparkSession): Unit = synchronized {
      if (installed.add(spark.sparkContext))
        spark.sparkContext.addSparkListener(this)
    }
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      { jobsStarted.incrementAndGet(); () }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      { stagesCompleted.incrementAndGet(); () }
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      { tasksCompleted.incrementAndGet(); () }
  }

  /** Install the event-counter listener (idempotent); call before the
    * workload whose events should be observable. */
  def ensureEventCounters(spark: SparkSession): Unit =
    EventCounters.ensure(spark)

  /** system.events analog (StorageSystemEvents.cpp — MONOTONIC counters
    * like Query/SelectQuery/MergedRows): dialect-query and scheduler
    * counters since the listener was installed. The listener bus is
    * asynchronous; `awaitEvent` polls a counter past a floor, the same
    * contract as the reference's SYSTEM FLUSH LOGS before reading logs. */
  def events(spark: SparkSession): DataFrame = {
    import spark.implicits._
    EventCounters.ensure(spark)
    Seq(
      ("Query", graft.sql.ClickHouseSql.queryLog.size.toLong),
      ("JobsStarted", EventCounters.jobsStarted.get()),
      ("StagesCompleted", EventCounters.stagesCompleted.get()),
      ("TasksCompleted", EventCounters.tasksCompleted.get())
    ).toDF("event", "value")
  }

  /** Drain heuristic for the async listener bus: sample the counters
    * until two consecutive snapshots agree (bounded) — the SYSTEM FLUSH
    * LOGS rendering when no specific floor is known. */
  def flushEvents(spark: SparkSession, timeoutMs: Long = 2000): Unit = {
    EventCounters.ensure(spark)
    def snap() = (EventCounters.jobsStarted.get(),
      EventCounters.stagesCompleted.get(), EventCounters.tasksCompleted.get())
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var prev = snap()
    Thread.sleep(50)
    var cur = snap()
    while (cur != prev && System.nanoTime() < deadline) {
      prev = cur; Thread.sleep(50); cur = snap()
    }
  }

  /** Block until the named event counter reaches `atLeast` (bounded
    * wait) — the async listener bus's flush primitive. */
  def awaitEvent(spark: SparkSession, event: String, atLeast: Long,
      timeoutMs: Long = 10000): Unit = {
    def now(): Long = event match {
      case "JobsStarted" => EventCounters.jobsStarted.get()
      case "StagesCompleted" => EventCounters.stagesCompleted.get()
      case "TasksCompleted" => EventCounters.tasksCompleted.get()
      case _ => Long.MaxValue
    }
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (now() < atLeast && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** system.asynchronous_metrics analog
    * (StorageSystemAsynchronousMetrics.cpp — background-sampled process/
    * OS gauges like MemoryResident/jemalloc.*): the JVM's own management
    * beans, sampled at query time. */
  def asynchronousMetrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val th = java.lang.management.ManagementFactory.getThreadMXBean
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionCount).sum
    // OS-level gauges (the reference's OSMemoryTotal/MemoryResident
    // class): the com.sun extension bean, present on every JVM here
    val (osTotal, osFree, cpuNs) = os match {
      case x: com.sun.management.OperatingSystemMXBean =>
        (x.getTotalMemorySize, x.getFreeMemorySize, x.getProcessCpuTime)
      case _ => (0L, 0L, 0L)
    }
    // filesystem gauges (FilesystemCapacity/Available in the
    // reference list): the warehouse volume's FileStore — O(1) statvfs,
    // never a directory walk
    val store = java.nio.file.Files.getFileStore(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      .toAbsolutePath.getRoot)
    Seq(
      ("UptimeMs", rt.getUptime),
      ("MemoryHeapUsed", mem.getHeapMemoryUsage.getUsed),
      ("MemoryHeapCommitted", mem.getHeapMemoryUsage.getCommitted),
      ("MemoryNonHeapUsed", mem.getNonHeapMemoryUsage.getUsed),
      ("ThreadCount", th.getThreadCount.toLong),
      ("GCCollections", gc),
      ("AvailableProcessors", os.getAvailableProcessors.toLong),
      ("OSMemoryTotal", osTotal),
      ("OSMemoryFree", osFree),
      ("ProcessCpuTimeNs", cpuNs),
      ("FilesystemCapacity", store.getTotalSpace),
      ("FilesystemAvailable", store.getUsableSpace),
      ("NumberOfTables",
        spark.sessionState.catalog.listTables("default").size.toLong)
    ).toDF("metric", "value")
  }
}
