package graft.sql

import graft.plans.Layouts
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable,
  CatalogTableType}

/** What each table's DDL declared, one record per table: the analog of
  * the reference's StorageInMemoryMetadata, which keeps a table's sorting
  * key, TTL, skip indices, projections and FINAL's merging parameters in
  * one object per IStorage that RENAME, DROP/UNDROP and DETACH/ATTACH
  * move whole. Every Spark statement of the dialect that creates, drops
  * or renames a catalog table runs here, so no verb leaves a record
  * behind. A record holds nothing tied to a location: index dirs,
  * rollups, sorted copies and the plan rules' path-keyed registrations
  * are built from the table's current location by `build`, which every
  * write runs, and dropped by `unbuild` before a verb takes the table
  * away from it. Names are keyed case-insensitively, like the catalog's. */
private[graft] object TableLedger {

  /** ALTER TABLE … ADD INDEX: `param` is ngrambf_v1's n or set's max
    * values. A cleared index stays declared with nothing built. */
  final case class SkipIndexDecl(kind: String, columns: Seq[String],
      param: Option[Int], cleared: Boolean = false)

  /** ALTER TABLE … ADD PROJECTION: an aggregate rollup over GROUP BY
    * `keys` of the columns its aggregates read (`measures`), or a normal
    * (ORDER BY `keys`) sorted copy. */
  final case class ProjectionDecl(aggregate: Boolean, keys: Seq[String],
      measures: Seq[String])

  /** One table's declarations: the engine and its parameters
    * (ReplacingMergeTree's `ver`), ORDER BY, SAMPLE BY, comments, column
    * DEFAULTs, the declared column order when it is not the catalog's
    * (Spark moves PARTITION BY columns last), TTL, skip indexes and
    * projections. */
  final case class TableRecord(engine: String = "MergeTree",
      engineArgs: Seq[String] = Nil, orderBy: Option[String] = None,
      sampleBy: Option[String] = None, comment: Option[String] = None,
      colComments: Map[String, String] = Map.empty,
      colDefaults: Map[String, String] = Map.empty,
      columns: Seq[String] = Nil, ttl: Option[String] = None,
      indexes: Map[String, SkipIndexDecl] = Map.empty,
      projections: Map[String, ProjectionDecl] = Map.empty)

  /** A dropped or detached table: its record and the catalog entry Spark
    * had (managed or external, partitioning, location). */
  private final case class Parked(record: TableRecord, table: CatalogTable)

  private val live = scala.collection.concurrent.TrieMap.empty[String, TableRecord]
  /** (name, "dropped" | "detached") → the parked table; `how` is also the
    * suffix of the sibling dir holding its data. */
  private val parked =
    scala.collection.concurrent.TrieMap.empty[(String, String), Parked]

  private def key(t: String): String = t.toLowerCase(java.util.Locale.ROOT)

  def record(t: String): TableRecord = live.getOrElse(key(t), TableRecord())

  def update(t: String)(f: TableRecord => TableRecord): Unit =
    live.put(key(t), f(record(t)))

  /** Declares the engine of a relation no CREATE TABLE made, such as a
    * registered corpus view read with FINAL. */
  def declare(t: String, r: TableRecord): Unit = live.put(key(t), r)

  // ---- CREATE ----------------------------------------------------------

  /** One parse of a CREATE TABLE: the Spark DDL, the name, whether it said
    * IF NOT EXISTS, and the record of its reference-dialect clauses. A
    * statement in Spark's own syntax (no ENGINE clause) passes through
    * with an empty record. */
  final case class Create(ddl: String, name: String, ifNotExists: Boolean, record: TableRecord)

  private val createHead = ("(?is)^CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
    "([A-Za-z_][A-Za-z0-9_.]*)\\s*(.*)$").r
  private val engineForm = "(?is)^\\((.*)\\)\\s*ENGINE\\s*=\\s*(\\w+)\\s*(.*)$".r
  private val columnDef = "(?s)^\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+(.*)$".r

  /** `CREATE TABLE [IF NOT EXISTS] t (cols…) ENGINE = X[(args)] [ORDER
    * BY …] [PARTITION BY col] [SAMPLE BY …] [TTL …] [SETTINGS …] [COMMENT
    * '…']` → `CREATE TABLE … USING parquet [PARTITIONED BY (col)]`. The
    * engine clauses have no Spark-DDL analog (Catalyst sorts and samples
    * on demand) and go to the record; a bare-column PARTITION BY maps to
    * Spark partitioning. */
  def parseCreate(s: String): Option[Create] = createHead.findFirstMatchIn(s).map { h =>
    val (ifNot, name) = (h.group(1) != null, h.group(2))
    engineForm.findFirstMatchIn(h.group(3)).fold(Create(s, name, ifNot, TableRecord())) { m =>
      val (engine, rest) = (m.group(2), m.group(3))
      val argsEnd = if (rest.startsWith("(")) SqlLex.closeOf(rest, 0) else -1
      val args = if (argsEnd < 0) Nil
        else SqlLex.splitTop(rest.substring(1, argsEnd - 1)).map(_.trim).filter(_.nonEmpty)
      val tail = if (argsEnd < 0) rest else rest.substring(argsEnd)
      def clause(kw: String): Option[String] =
        (s"(?is)\\b$kw\\s+(.+?)(?=\\s+(?:PARTITION\\s+BY|ORDER\\s+BY|" +
          "SAMPLE\\s+BY|PRIMARY\\s+KEY|TTL|SETTINGS|COMMENT)\\b|;?\\s*$)").r
          .findFirstMatchIn(tail).map(_.group(1).trim)
      val part = "(?is)\\bPARTITION\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)\\b".r
        .findFirstMatchIn(tail).map(_.group(1))
      val cols = SqlLex.splitTop(m.group(1)).map {
        case columnDef(c, rest) => (c, rest)
        case other => throw new IllegalArgumentException(s"unparsable column def '$other'")
      }
      def attr(re: String) = cols.flatMap { case (c, rest) =>
        re.r.findFirstMatchIn(rest).map(a => c -> a.group(1).trim) }.toMap
      val declared = cols.map(_._1)
      val (parts, others) = declared.partition(c => part.exists(_.equalsIgnoreCase(c)))
      val ddlCols = cols.map { case (c, rest) => c + " " + ClickHouseSql.sparkTypeText(
        rest.replaceAll("(?is)\\s+(DEFAULT|MATERIALIZED|CODEC|COMMENT|TTL)\\b.*$", "")) }
      Create(s"CREATE TABLE ${if (ifNot) "IF NOT EXISTS " else ""}$name " +
        s"(${ddlCols.mkString(", ")}) USING parquet" +
        part.fold("")(p => s" PARTITIONED BY ($p)"), name, ifNot,
        TableRecord(engine, args, clause("ORDER\\s+BY"), clause("SAMPLE\\s+BY"),
          "(?is)\\bCOMMENT\\s+'([^']*)'\\s*;?\\s*$".r.findFirstMatchIn(tail).map(_.group(1)),
          attr("(?is)\\bCOMMENT\\s+'([^']*)'"),
          attr("(?is)\\bDEFAULT\\s+(.+?)(?=\\s+(?:CODEC|COMMENT|TTL)\\b|$)"),
          if (declared == others ++ parts) Nil else declared,
          clause("TTL").map(_.replaceAll("(?is)\\s+DELETE$", ""))))
    }
  }

  /** CREATE TABLE: a fresh table starts its record (one already there
    * was left by a table dropped outside the dialect). */
  def create(spark: SparkSession, stmt: String): DataFrame = parseCreate(stmt) match {
    case None => spark.sql(stmt)
    case Some(c) =>
      val kept = c.ifNotExists && spark.catalog.tableExists(c.name)
      val out = spark.sql(c.ddl)
      if (!kept) settle(spark, c.name, Some(c.record))
      out
  }

  /** CREATE TABLE t AS src (ParserCreateQuery's as_table form): src's
    * schema and, like the reference, its declarations. An existing `t`
    * keeps its files: the warehouse dir is cleared only for a new one. */
  def createLike(spark: SparkSession, t: String, src: String,
      ifNotExists: Boolean): DataFrame = {
    val exists = spark.catalog.tableExists(t)
    if (!exists) clearWarehouseDir(spark, t)
    val out = spark.sql(s"CREATE TABLE ${if (ifNotExists) "IF NOT EXISTS " else ""}" +
      s"$t LIKE $src USING parquet")
    if (!exists) settle(spark, t, live.get(key(src)))
    out
  }

  /** A materialized view's target: any table of the name, with its
    * record, is replaced by the SELECT's result, which declares nothing. */
  def replaceWithSelect(spark: SparkSession, t: String, ifNotExists: Boolean,
      select: String): Unit = {
    settle(spark, t, None)
    clearWarehouseDir(spark, t)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE ${if (ifNotExists) "IF NOT EXISTS " else ""}$t " +
      s"USING parquet AS $select")
  }

  /** Empties the warehouse dir a managed CREATE of `name` will claim. */
  private def clearWarehouseDir(spark: SparkSession, name: String): Unit =
    delete(spark, new Path(spark.conf.get("spark.sql.warehouse.dir"), name).toString)

  // ---- DROP, DETACH, UNDROP, ATTACH, RENAME, EXCHANGE, RESTORE ----------

  /** DROP TABLE (InterpreterDropQuery, with InterpreterUndropQuery's
    * window: Atomic databases keep a dropped table's data for a delay
    * before the real delete) and DETACH TABLE: the data dir moves O(1) to
    * a `_dropped` / `_detached` sibling, the built parts are unregistered,
    * and the record parks with the catalog entry until UNDROP / ATTACH; a
    * later DROP of the name replaces a dropped one, a later DETACH fails
    * while a detached one is parked. Temp views, catalog views and
    * missing tables take Spark's own DROP (`stmt`) and lose any record. */
  def drop(spark: SparkSession, t: String, stmt: String): Unit =
    if (spark.catalog.tableExists(t) &&
        spark.sessionState.catalog.getTempView(key(t)).isEmpty &&
        location(spark, t).isDefined) park(spark, t, "dropped", "DROP")
    else {
      settle(spark, t, None)
      spark.sql(stmt)
    }

  def detach(spark: SparkSession, t: String): Unit = park(spark, t, "detached", "DETACH")

  private def park(spark: SparkSession, t: String, how: String, verb: String): Unit = {
    // a DROP replaces the last dropped table of the name; a DETACH would
    // discard a detached one nobody chose to drop
    require(how != "detached" || !parked.contains((key(t), how)),
      s"$verb TABLE $t: a detached table of that name is parked; ATTACH it first")
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
    val loc = meta.location.getPath
    val fs = ClickHouseSql.fsOf(spark, loc)
    val hold = new Path(s"${loc}_$how")
    fs.delete(hold, true)
    // the rename preserves the data: if it fails, DROP would purge a
    // managed table's live files, so the table stays where it is
    if (fs.exists(new Path(loc)) && !fs.rename(new Path(loc), hold))
      throw new IllegalStateException(
        s"$verb TABLE $t: rename of $loc to $hold failed; table left in place")
    spark.sql(s"DROP TABLE $t")
    val r = live.remove(key(t)).getOrElse(TableRecord())
    unbuild(spark, t, r, loc)
    parked.put((key(t), how), Parked(r, meta))
  }

  /** UNDROP TABLE / ATTACH TABLE: the parked catalog entry comes back as
    * Spark had it — managed stays managed, partitioning and location
    * stay — with its record; the caller's write refresh rebuilds. */
  def restore(spark: SparkSession, t: String, how: String, verb: String): Unit = {
    val p = parked.getOrElse((key(t), how), throw new IllegalArgumentException(
      s"$verb TABLE $t: no $how table of that name"))
    require(!spark.catalog.tableExists(t), s"$verb TABLE $t: the name is taken")
    recreate(spark, p.table) { dest =>
      val hold = new Path(s"${p.table.location.getPath}_$how")
      val fs = ClickHouseSql.fsOf(spark, dest)
      if (fs.exists(hold) && !fs.rename(hold, new Path(dest)))
        throw new IllegalStateException(s"$verb TABLE $t: rename of $hold to $dest failed")
    }
    parked.remove((key(t), how))
    settle(spark, t, Some(p.record))
  }

  /** RESTORE TABLE t FROM a backup: the backed-up data under the table's
    * recorded schema, partitioning, location and managed flag, replacing
    * any table of the name; the record of the name stays (a backup
    * carries data, not declarations). */
  def restoreBackup(spark: SparkSession, t: String, schemaDdl: String,
      partCols: Seq[String], loc: String, managed: Boolean)(
      installData: String => Unit): Unit = {
    settle(spark, t, live.get(key(t)))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    recreate(spark, CatalogTable(TableIdentifier(t),
      if (managed) CatalogTableType.MANAGED else CatalogTableType.EXTERNAL,
      CatalogStorageFormat.empty.copy(locationUri =
        if (managed) None else Some(new Path(loc).toUri)),
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl),
      provider = Some("parquet"), partitionColumnNames = partCols))(installData)
  }

  /** Makes the catalog entry while its location is empty, then lets the
    * caller install the data there and recovers the partitions. */
  private def recreate(spark: SparkSession, table: CatalogTable)(
      installData: String => Unit): Unit = {
    val t = table.identifier.table
    spark.sessionState.catalog.createTable(table, ignoreIfExists = false)
    // the entry's own location is authoritative: a managed entry derives
    // it from the warehouse, which may not spell the recorded one verbatim
    val dest = ClickHouseSql.tableLocation(spark, t)
    delete(spark, dest)
    installData(dest)
    if (table.partitionColumnNames.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $t")
    spark.sql(s"REFRESH TABLE $t")
  }

  /** RENAME TABLE (EXCHANGE TABLES is three of these): the record moves
    * with the table; the caller's write refresh rebuilds at the new
    * location. */
  def rename(spark: SparkSession, from: String, to: String): DataFrame = {
    val loc = location(spark, from)
    val out = spark.sql(s"ALTER TABLE $from RENAME TO $to")
    val r = live.remove(key(from))
    for (x <- r; l <- loc) unbuild(spark, from, x, l)
    settle(spark, to, r)
    out
  }

  /** Makes `r` the live record of `t` (None: no record), unregistering
    * whatever the record it replaces had built at `t`'s location. */
  private def settle(spark: SparkSession, t: String, r: Option[TableRecord]): Unit = {
    val old = r.fold(live.remove(key(t)))(live.put(key(t), _))
    for (o <- old; l <- location(spark, t)) unbuild(spark, t, o, l)
  }

  private def location(spark: SparkSession, t: String): Option[String] =
    scala.util.Try(ClickHouseSql.tableLocation(spark, t)).toOption

  private def delete(spark: SparkSession, path: String): Unit =
    ClickHouseSql.fsOf(spark, path).delete(new Path(path), true)

  // ---- built parts: skip indexes and projections -----------------------

  private def builtDir(spark: SparkSession, under: String, t: String, name: String): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), s"$under/${key(t)}_$name").toString

  private def indexLayout(spark: SparkSession, t: String, name: String,
      d: SkipIndexDecl, loc: String): Layouts.Layout =
    Layouts.Skip(loc, d.kind, builtDir(spark, "graft_skip_indexes", t, name), d.columns, d.param)

  private def projectionLayout(spark: SparkSession, t: String, name: String,
      p: ProjectionDecl, loc: String): Layouts.Layout =
    if (p.aggregate)
      Layouts.Rollup(loc, builtDir(spark, "graft_projections", t, name), p.keys, p.measures)
    else Layouts.Sorted(loc, s"${key(t)}__proj_$name", p.keys)

  /** Unregisters every layout `r` declares over `t`'s files at `loc`. */
  private def unbuild(spark: SparkSession, t: String, r: TableRecord, loc: String): Unit = {
    val ls = r.indexes.map { case (n, d) => indexLayout(spark, t, n, d, loc) } ++
      r.projections.map { case (n, p) => projectionLayout(spark, t, n, p, loc) }
    ls.foreach(l => Layouts.unregister(spark, loc, l.built))
  }

  /** Rebuilds `t`'s skip indexes and projections over its current files
    * after a write renamed or replaced them (a structure over deleted
    * paths silently empties results; a stale rollup answers pre-write
    * values). Every layout of the path is unregistered before any is
    * rebuilt, so no build reads the new files through a stale one.
    * Cleared indexes stay cleared. A failed index rebuild (an empty
    * table) degrades to no pruning, a failed projection to no
    * projection: never to a wrong answer. */
  def build(spark: SparkSession, t: String): Unit = live.get(key(t))
    .filter(r => r.indexes.nonEmpty || r.projections.nonEmpty)
    .foreach { r =>
      val loc = ClickHouseSql.tableLocation(spark, t)
      unbuild(spark, t, r, loc)
      for ((n, d) <- r.indexes if !d.cleared)
        try Layouts.register(spark, indexLayout(spark, t, n, d, loc))
        catch { case _: Exception => }
      for ((n, p) <- r.projections)
        try Layouts.register(spark, projectionLayout(spark, t, n, p, loc))
        catch { case _: Exception =>
          update(t)(x => x.copy(projections = x.projections - n))
        }
    }

  /** ADD INDEX: build, then declare. */
  def addIndex(spark: SparkSession, t: String, name: String, d: SkipIndexDecl): Unit = {
    Layouts.register(spark, indexLayout(spark, t, name, d, ClickHouseSql.tableLocation(spark, t)))
    update(t)(r => r.copy(indexes = r.indexes + (name -> d)))
  }

  /** DROP INDEX undeclares; CLEAR INDEX drops the built structure but keeps
    * the declaration (system.data_skipping_indices still lists it);
    * MATERIALIZE INDEX rebuilds from the current files. */
  def alterIndex(spark: SparkSession, t: String, name: String, verb: String): Unit =
    live.get(key(t)).flatMap(_.indexes.get(name)).foreach { d =>
      val l = indexLayout(spark, t, name, d, ClickHouseSql.tableLocation(spark, t))
      if (verb == "MATERIALIZE") Layouts.register(spark, l)
      else Layouts.unregister(spark, l.base, l.built)
      update(t)(r => r.copy(indexes =
        if (verb == "DROP") r.indexes - name
        else r.indexes + (name -> d.copy(cleared = verb == "CLEAR"))))
    }

  /** ADD PROJECTION builds eagerly (the reference defers the build to a
    * mutation), then declares. */
  def addProjection(spark: SparkSession, t: String, name: String, p: ProjectionDecl): Unit = {
    Layouts.register(spark,
      projectionLayout(spark, t, name, p, ClickHouseSql.tableLocation(spark, t)))
    update(t)(r => r.copy(projections = r.projections + (name -> p)))
  }

  def dropProjection(spark: SparkSession, t: String, name: String): Unit =
    live.get(key(t)).flatMap(_.projections.get(name)).foreach { p =>
      update(t)(r => r.copy(projections = r.projections - name))
      val l = projectionLayout(spark, t, name, p, ClickHouseSql.tableLocation(spark, t))
      Layouts.unregister(spark, l.base, l.built)
    }

  // ---- readers ---------------------------------------------------------

  /** FINAL's (keys, version columns) when `t`'s engine is
    * ReplacingMergeTree(ver): the sorting key's columns and `ver`. */
  def finalKeys(t: String): Option[(Seq[String], Seq[String])] =
    live.get(key(t)).filter(_.engine.equalsIgnoreCase("ReplacingMergeTree")).map { r =>
      require(r.engineArgs.nonEmpty, s"FROM $t FINAL: a ReplacingMergeTree " +
        "without a version column keeps the last-inserted row, which is not tracked")
      val keys = r.orderBy.fold(Seq.empty[String]) { ob =>
        val e = ob.trim.replaceAll("(?is)^tuple\\s*", "")
        SqlLex.splitTop(if (e.startsWith("(")) e.substring(1, e.length - 1) else e)
          .map(_.trim).filter(_.nonEmpty)
      }
      (keys, r.engineArgs)
    }

  /** (table, projection, kind) — system.projections. */
  def listProjections: Seq[(String, String, String)] =
    live.readOnlySnapshot().toSeq.flatMap { case (t, r) =>
      r.projections.map { case (n, p) => (t, n, if (p.aggregate) "aggregate" else "normal") }
    }.sorted

  /** (table, index, type, data path) — system.data_skipping_indices. */
  def listSkipIndexes(spark: SparkSession): Seq[(String, String, String, String)] =
    live.readOnlySnapshot().toSeq.flatMap { case (t, r) =>
      r.indexes.map { case (n, d) => (t, n, d.kind, location(spark, t).getOrElse("")) }
    }.sorted

  /** (table, holding path, managed) — system.dropped_tables. */
  def listDroppedTables: Seq[(String, String, Boolean)] =
    parked.readOnlySnapshot().toSeq.collect { case ((t, "dropped"), p) =>
      (t, p.table.location.getPath + "_dropped",
        p.table.tableType == CatalogTableType.MANAGED)
    }.sorted
}
