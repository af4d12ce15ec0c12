package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import Lane.{lane, maybe, reject}

/** Access-control statement surface + enforcement — the reference's
  * RBAC (src/Access/AccessControl.h, src/Parsers/Access/
  * ParserGrantQuery.cpp, ParserCreateUserQuery.cpp):
  * CREATE/DROP USER and ROLE, GRANT/REVOKE of table privileges and
  * roles, SHOW GRANTS, and privilege CHECKS on the query path.
  *
  * Honest single-node mapping: the reference authenticates users at
  * connection time; this engine is one in-process session, so
  * `SET user = '<name>'` is the session-auth analog (mirroring the SET
  * query_id pattern). The `default` user is the bootstrap superuser
  * (the reference ships the same): it bypasses checks and is the only
  * user allowed to administer users/roles/grants (the reference's
  * ACCESS MANAGEMENT privilege, granted only to default here).
  * Enforced verbs: SELECT / INSERT / ALTER / DROP / OPTIMIZE /
  * TRUNCATE on catalog tables; ALL covers everything. Statement
  * classes outside that list (formats, SHOW, EXPLAIN, SYSTEM) are
  * unrestricted, a documented simplification.
  */
object AccessControl {

  /** One granted privilege; `grantOption` is the delegation bit
    * (ParserGrantQuery.cpp `WITH GRANT OPTION`): its holder may
    * GRANT/REVOKE that privilege on that target to/from others. */
  final case class Grant(grantee: String, privilege: String, target: String,
      grantOption: Boolean = false)

  private val users =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean])
  private val roles =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean])
  private val grants =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Grant, java.lang.Boolean])
  /** grantee → granted roles. */
  private val roleGrants =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  /** grantee → roles held WITH ADMIN OPTION (ParserGrantQuery.cpp):
    * the holder may GRANT/REVOKE those roles to/from others. */
  private val roleAdminOptions =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  /** user → roles ACTIVATED by SET ROLE (absent = the default set).
    * (ASTSetRoleQuery SET_ROLE: the session narrows which granted roles
    * are in effect; privileges, policies, quotas, and profiles all
    * resolve through the active set.) */
  private val activeRoles =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  /** user → default role subset from SET DEFAULT ROLE (absent = all
    * granted roles are default, the reference's initial state). */
  private val defaultRoles =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** The roles in effect for `who` right now: the SET ROLE subset if
    * one is active, else the SET DEFAULT ROLE subset, else every
    * granted role — always intersected with what is still granted
    * (a revoke trims the active set immediately). */
  private def currentRoleSet(who: String): Set[String] = {
    val granted = roleGrants.getOrDefault(who, Set.empty)
    Option(activeRoles.get(who))
      .orElse(Option(defaultRoles.get(who)))
      .map(_.intersect(granted))
      .getOrElse(granted)
  }

  /** `who` plus the transitive closure of its CURRENT roles (nested
    * role-to-role grants always expand under an active role). */
  private def identityClosure(who: String): Set[String] = {
    val seen = scala.collection.mutable.Set[String](who)
    def walk(g: String): Unit = if (seen.add(g))
      roleGrants.getOrDefault(g, Set.empty).foreach(walk)
    currentRoleSet(who).foreach(walk)
    seen.toSet
  }

  def currentUser(spark: SparkSession): String =
    spark.conf.getOption("graft.ch.user")
      .map(_.stripPrefix("'").stripSuffix("'"))
      .filter(_.nonEmpty)
      .getOrElse("default")

  def listUsers: Seq[String] = {
    import scala.jdk.CollectionConverters._
    ("default" +: users.asScala.toSeq).distinct.sorted
  }

  def listRoles: Seq[String] = {
    import scala.jdk.CollectionConverters._
    roles.asScala.toSeq.sorted
  }

  /** (grantee, access_type, target, delegation bit) — grant option for
    * privileges, admin option for roles. */
  def listGrants: Seq[(String, String, String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    (grants.asScala.toSeq
      .map(g => (g.grantee, g.privilege, g.target, g.grantOption)) ++
      roleGrants.asScala.toSeq.flatMap { case (u, rs) =>
        rs.toSeq.map(r => (u, "ROLE", r,
          roleAdminOptions.getOrDefault(u, Set.empty).contains(r)))
      }).sorted
  }

  /** Does `who` (through the current identity closure) hold GRANT
    * OPTION for `priv` on `target`? A broader option target (*, *.*)
    * covers a narrower request; ALL covers every privilege. */
  private def hasGrantOption(who: String, priv: String,
      target: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val seen = identityClosure(who)
    val req = target.toLowerCase
    grants.asScala.exists(g => g.grantOption && seen.contains(g.grantee) &&
      (g.privilege == "ALL" || g.privilege == priv) &&
      // same target rule as allowed(): an option grant stored
      // db-qualified (db.table) covers a GRANT naming the bare table —
      // delegation must not be stricter than the read gate it delegates
      (g.target == "*.*" || g.target == "*" || g.target == req ||
        g.target.endsWith("." + req)))
  }

  /** Does `who` hold ADMIN OPTION on role `r` (directly or through a
    * role in the current closure)? */
  private def hasAdminOption(who: String, r: String): Boolean =
    identityClosure(who).exists(m =>
      roleAdminOptions.getOrDefault(m, Set.empty).contains(r))

  /** One row policy (ASTCreateRowPolicyQuery: `CREATE ROW POLICY name ON
    * table USING condition TO {grantees | ALL}`): reads of `table` by a
    * covered non-default user see only rows passing `condition`. */
  final case class RowPolicy(name: String, table: String, condition: String,
      appliesTo: Set[String]) // empty = ALL

  private val rowPolicies =
    new java.util.concurrent.ConcurrentHashMap[String, RowPolicy]()

  def listRowPolicies: Seq[(String, String, String, String)] = {
    import scala.jdk.CollectionConverters._
    rowPolicies.asScala.values.toSeq
      .map(p => (p.name, p.table, p.condition,
        if (p.appliesTo.isEmpty) "ALL" else p.appliesTo.toSeq.sorted.mkString(",")))
      .sortBy(_._1)
  }

  // ---- quotas (ParserCreateQuotaQuery.cpp, QuotaCache.cpp) ------------

  /** One quota: interval-windowed limits on per-user statement counters
    * (the honest single-node mapping of the reference's resource quotas
    * — queries / query_selects / query_inserts / errors are countable
    * at statement granularity on the session ledger). Limit names the
    * reference defines but this engine can't meter per-statement
    * (result_rows, read_bytes, …) are stored + listed, not enforced. */
  final case class Quota(name: String, keyedBy: String, intervalSec: Long,
      limits: Map[String, Long], toAll: Boolean, grantees: Set[String])

  private val quotas =
    new java.util.concurrent.ConcurrentHashMap[String, Quota]()

  /** (quota, user) → window start millis + consumed counters. */
  private final case class Usage(windowStart: Long,
      counters: Map[String, Long])
  private val quotaUsage =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Usage]()

  /** The quota limit names the reference defines (QuotaDefs.h). */
  private val quotaLimitNames = Set("queries", "query_selects",
    "query_inserts", "errors", "result_rows", "result_bytes", "read_rows",
    "read_bytes", "execution_time", "written_bytes",
    "failed_sequential_authentications")

  /** Enforced at statement granularity on the session ledger.
    * result_rows is charged AFTER a query completes (the
    * QueryExecutionListener lane below) — like the reference, the
    * statement that exceeds the limit runs to completion and the NEXT
    * one is rejected. */
  private val meteredLimits = Set("queries", "query_selects",
    "query_inserts", "errors", "result_rows")

  /** result_rows metering: the statement's RETURNED DataFrame is
    * wrapped in an `observe` (CollectMetrics) node whose name encodes
    * the issuing user; a per-session QueryExecutionListener charges the
    * observed exact row count against that user's covering quotas.
    * Only the top-level returned frame carries the marker, so
    * engine-internal actions (mutation partition prunes, skip-index
    * refresh, system-table rendering) never inflate result_rows.
    * Listener dispatch is async — a test drains it via SYSTEM FLUSH
    * LOGS semantics before asserting. */
  private val meterPrefix = "__graft_result_rows__"
  private val meterInstalled =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])
  def installResultRowsMeter(spark: SparkSession): Unit = synchronized {
    if (meterInstalled.contains(spark)) return
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(meterPrefix) && !row.isNullAt(0)) {
              val rows = row.getLong(0)
              if (rows > 0)
                chargeResultRows(name.substring(meterPrefix.length), rows)
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    meterInstalled.add(spark)
  }

  /** Wrap the statement's returned frame with the metering observation
    * iff the session user is metered for result_rows (default and
    * uncovered users return the frame untouched — zero plan change on
    * the common path). */
  def meterResultRows(spark: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val me = currentUser(spark)
    if (me == "default") return df
    val covered = quotas.asScala.values.exists(q =>
      q.limits.contains("result_rows") &&
        granteeCovers(q.toAll, q.grantees, me))
    if (!covered) df
    else df.observe(meterPrefix + me,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
  }

  private def chargeResultRows(me: String, rows: Long): Unit = {
    import scala.jdk.CollectionConverters._
    if (me == "default") return
    quotas.asScala.values
      .filter(q => q.limits.contains("result_rows") &&
        granteeCovers(q.toAll, q.grantees, me)).foreach { q =>
        val now = System.currentTimeMillis()
        quotaUsage.compute((q.name, me), (_, prev) => {
          val base =
            if (prev == null || now - prev.windowStart >= q.intervalSec * 1000L)
              Usage(now, Map.empty)
            else prev
          Usage(base.windowStart,
            base.counters.updated("result_rows",
              base.counters.getOrElse("result_rows", 0L) + rows))
        })
      }
  }

  private def granteeCovers(toAll: Boolean, grantees: Set[String],
      who: String): Boolean =
    toAll || grantees.exists(identityClosure(who).contains)

  /** Charge the statement against every quota covering the session user
    * and THROW once a metered limit is exceeded within its interval
    * window (QuotaCache::used — the window resets `intervalSec` after
    * its first charge). `default` is never metered; SET always passes
    * (it is the session-auth channel). */
  /** A statement's leading word, upper case: what `\b` ends in a
    * `^WORD\b` guard. */
  private def firstWord(stmt: String): String =
    stmt.trim.takeWhile(c => c.isLetterOrDigit || c == '_').toUpperCase

  def chargeQuota(spark: SparkSession, stmt: String): Unit = {
    import scala.jdk.CollectionConverters._
    val me = currentUser(spark)
    if (me == "default") return
    val charged = firstWord(stmt) match {
      case "SET" => return
      case "SELECT" | "WITH" => Seq("queries", "query_selects")
      case "INSERT" => Seq("queries", "query_inserts")
      case _ => Seq("queries")
    }
    quotas.asScala.values
      .filter(q => granteeCovers(q.toAll, q.grantees, me)).foreach { q =>
        val now = System.currentTimeMillis()
        val u = quotaUsage.compute((q.name, me), (_, prev) => {
          val base =
            if (prev == null || now - prev.windowStart >= q.intervalSec * 1000L)
              Usage(now, Map.empty)
            else prev
          Usage(base.windowStart,
            charged.foldLeft(base.counters)((m, c) =>
              m.updated(c, m.getOrElse(c, 0L) + 1L)))
        })
        // check EVERY metered limit, not just the counters this
        // statement charged — errors and result_rows accumulate from
        // earlier statements and must reject the next one
        for ((c, lim) <- q.limits if meteredLimits(c))
          if (u.counters.getOrElse(c, 0L) > lim)
            throw new SecurityException(
              s"Quota for user `$me` for ${q.intervalSec}s has been " +
                s"exceeded: $c = ${u.counters(c)}/$lim. " +
                s"Interval will end at window start + ${q.intervalSec}s. " +
                s"Name of quota template: `${q.name}`")
      }
  }

  /** Count a failed statement against covering quotas' `errors` limit
    * (the NEXT statement trips if the limit is now exceeded — the
    * reference likewise charges errors after the fact). */
  def chargeError(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val me = currentUser(spark)
    if (me == "default") return
    quotas.asScala.values
      .filter(q => granteeCovers(q.toAll, q.grantees, me)).foreach { q =>
        val now = System.currentTimeMillis()
        quotaUsage.compute((q.name, me), (_, prev) => {
          val base =
            if (prev == null || now - prev.windowStart >= q.intervalSec * 1000L)
              Usage(now, Map.empty)
            else prev
          Usage(base.windowStart,
            base.counters.updated("errors",
              base.counters.getOrElse("errors", 0L) + 1L))
        })
      }
  }

  def listQuotas: Seq[(String, String, Long, String, Boolean, String)] = {
    import scala.jdk.CollectionConverters._
    quotas.asScala.values.toSeq.sortBy(_.name).map(q =>
      (q.name, q.keyedBy, q.intervalSec,
        q.limits.toSeq.sorted.map { case (k, v) => s"$k = $v" }.mkString(", "),
        q.toAll, q.grantees.toSeq.sorted.mkString(",")))
  }

  def listQuotaUsage: Seq[(String, String, Long, Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    quotaUsage.asScala.toSeq.sortBy(_._1).map { case ((q, u), usage) =>
      (q, u, usage.counters.getOrElse("queries", 0L),
        usage.counters.getOrElse("errors", 0L),
        usage.counters.getOrElse("result_rows", 0L),
        quotas.asScala.get(q).flatMap(_.limits.get("queries")).getOrElse(0L))
    }
  }

  // ---- settings profiles (ParserCreateSettingsProfileQuery.cpp) -------

  /** CREATE SETTINGS PROFILE p SETTINGS a = v, … TO grantees: applied to
    * the session conf (the graft.ch.* namespace every SET writes) when a
    * covered user authenticates via SET user. */
  final case class SettingsProfile(name: String,
      settings: Seq[(String, String)], toAll: Boolean, grantees: Set[String])

  private val settingsProfiles =
    new java.util.concurrent.ConcurrentHashMap[String, SettingsProfile]()

  def listSettingsProfiles: Seq[(String, Long, String, Boolean, String)] = {
    import scala.jdk.CollectionConverters._
    settingsProfiles.asScala.values.toSeq.sortBy(_.name).map(p =>
      (p.name, p.settings.size.toLong,
        p.settings.map { case (k, v) => s"$k = $v" }.mkString(", "),
        p.toAll, p.grantees.toSeq.sorted.mkString(",")))
  }

  /** Profile names covering the session user — the currentProfiles /
    * enabledProfiles / defaultProfiles introspection (a single-session
    * engine applies profiles at SET-user time, so the three reference
    * views coincide here — documented). */
  def profilesFor(spark: SparkSession, kind: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val me = currentUser(spark)
    settingsProfiles.asScala.values.toSeq
      .filter(p => granteeCovers(p.toAll, p.grantees, me))
      .map(_.name).sorted
  }

  /** Apply every profile covering the CURRENT user to the session conf
    * — called when SET user authenticates a session. */
  def applyProfiles(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val me = currentUser(spark)
    if (me == "default") return
    settingsProfiles.asScala.values.toSeq.sortBy(_.name)
      .filter(p => granteeCovers(p.toAll, p.grantees, me))
      .foreach(_.settings.foreach { case (k, v) =>
        spark.conf.set(s"graft.ch.$k", v)
      })
  }

  private def names(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private val privilegesWord = "(?i)\\s+PRIVILEGES$".r

  private def privs(s: String): Seq[String] =
    names(s).map(p => privilegesWord.replaceFirstIn(p, "").toUpperCase)

  private def requireAdmin(spark: SparkSession): Unit = {
    val me = currentUser(spark)
    if (me != "default") throw new SecurityException(
      s"$me: Not enough privileges. Access management requires the " +
        "default (bootstrap) user in this engine")
  }

  private def knownGrantee(g: String): Unit =
    require(g == "default" || users.contains(g) || roles.contains(g),
      s"there is no user or role `$g`")

  /** Delegation gate: `default` always may; another user may GRANT or
    * REVOKE exactly the privileges it holds WITH GRANT OPTION on that
    * target (roles: WITH ADMIN OPTION). */
  private def requireGrantOption(me: String, ps: String, target: String): Unit =
    for (p <- privs(ps))
      if (me != "default" && !hasGrantOption(me, p, target))
        throw new SecurityException(
          s"$me: Not enough privileges. To execute this query, it's " +
            s"necessary to have the grant $p ON $target WITH GRANT OPTION")

  private def requireAdminOption(me: String, rs: String): Unit =
    for (r <- names(rs))
      if (me != "default" && !hasAdminOption(me, r))
        throw new SecurityException(
          s"$me: Not enough privileges. To execute this query, it's " +
            s"necessary to have the grant $r WITH ADMIN OPTION")

  private def intervalSeconds(n: String, unit: String): Long = {
    val k = Option(unit).map(_.toLowerCase).getOrElse("hour")
    val mult = k match {
      case "second" => 1L; case "minute" => 60L; case "hour" => 3600L
      case "day" => 86400L; case "week" => 604800L
      case "month" => 2629746L; case "quarter" => 7889238L
      case "year" => 31556952L
      case other => throw new IllegalArgumentException(
        s"unsupported quota interval unit '$other'")
    }
    Option(n).map(_.toLong).getOrElse(1L) * mult
  }

  // KEYED BY: the reference buckets usage by QuotaKeyType
  // (src/Access/Common/QuotaDefs.h) — this engine meters per session
  // user, so only user_name keying is honest. Other reference key
  // types are REJECTED LOUDLY (documented deviation) rather than
  // silently accepted with different semantics; unknown names error.
  private val refQuotaKeys = Set("none", "user_name", "ip_address",
    "forwarded_ip_address", "client_key", "client_key_or_user_name",
    "client_key_or_ip_address")

  private def checkQuotaKey(keyed: String): Unit = Option(keyed).foreach { k =>
    val key = k.toLowerCase
    require(refQuotaKeys(key), s"unknown quota key type '$k'")
    require(key == "user_name",
      s"KEYED BY $k is not supported: this engine meters quotas per " +
        "session user (KEYED BY user_name) only — documented deviation")
  }

  /** `MAX a = 1, b = 2` → metered limits. */
  private def quotaLimits(maxList: String): Map[String, Long] =
    names(maxList).map { kv =>
      val Array(k, v) = kv.split("=", 2).map(_.trim)
      require(quotaLimitNames(k.toLowerCase), s"unknown quota limit '$k'")
      k.toLowerCase -> v.toDouble.toLong
    }.toMap

  /** `SETTINGS a = 1, b = 'x'` → (name, unquoted value) pairs. */
  private def profileSettings(list: String): Seq[(String, String)] =
    names(list).map { kv =>
      val Array(k, v) = kv.split("=", 2).map(_.trim)
      k -> v.stripPrefix("'").stripSuffix("'")
    }

  /** `TO a, b` / `TO ALL` / no TO → (to all, named grantees). */
  private def granteeSpec(to: String): (Boolean, Set[String]) =
    Option(to).map(_.trim) match {
      case None => (false, Set.empty[String])
      case Some(t) if t.equalsIgnoreCase("ALL") => (true, Set.empty[String])
      case Some(list) =>
        val gs = names(list).toSet
        gs.foreach(knownGrantee); (false, gs)
    }

  /** A row policy's `TO` list; none or ALL applies to everyone. */
  private def policyGrantees(to: String): Set[String] =
    Option(to).map(_.trim) match {
      case None | Some("ALL") => Set.empty[String]
      case Some(list) => names(list).toSet
    }

  /** Rows of the dialect's statement table (ClickHouseSql.statements):
    * users, roles, row policies, quotas, settings profiles, grants and
    * their SHOW forms, in the order they are tried. The last row refuses
    * any other statement of the family. */
  private[sql] val statements: Seq[Lane] = {
    import scala.jdk.CollectionConverters._
    val target = """(\*\.\*|\*|<t>)"""
    val roleList = "([A-Za-z_][A-Za-z0-9_,\\s]*)"
    val toList = """(?:\s+TO\s+([A-Za-z_,\s]+|ALL))?"""
    val quotaBody = """(?:\s+(?:KEYED\s+BY\s+([A-Za-z_]+)|NOT\s+KEYED))?""" +
      """(?:\s+FOR\s+(?:RANDOMIZED\s+)?INTERVAL\s+(\d+)\s+([A-Za-z]+?)s?\b)?""" +
      """(?:\s+MAX\s+(.+?))?""" + toList
    // `… WITH GRANT OPTION` / `… WITH ADMIN OPTION` tail of a GRANT
    val optionTail = """(?:\s+WITH\s+(GRANT|ADMIN)\s+OPTION)?<end>"""
    def frame(h: Hit, rows: Seq[String], col: String): DataFrame = {
      import h.spark.implicits._
      rows.toDF(col)
    }
    Seq(
      // ALTER forms (ASTCreateUserQuery alter=true and siblings): RENAME
      // TO for users/roles; the quota/policy/profile ALTERs re-state the
      // definition (the reference likewise replaces the changed fields)
      lane("""^ALTER\s+USER\s+(<c>)\s+RENAME\s+TO\s+(<c>)<end>""") { h =>
        val (from, to) = (h(1), h(2))
        requireAdmin(h.spark)
        require(users.contains(from), s"there is no user `$from`")
        require(!users.contains(to) && to != "default",
          s"user `$to` already exists")
        users.remove(from); users.add(to)
        // every identity edge follows the rename
        Option(roleGrants.remove(from)).foreach(roleGrants.put(to, _))
        Option(roleAdminOptions.remove(from)).foreach(roleAdminOptions.put(to, _))
        Option(activeRoles.remove(from)).foreach(activeRoles.put(to, _))
        Option(defaultRoles.remove(from)).foreach(defaultRoles.put(to, _))
        grants.asScala.filter(_.grantee == from).toSeq.foreach { g =>
          grants.remove(g); grants.add(g.copy(grantee = to))
        }
        renameGrantee(from, to)
        retireShadows(h.spark)
        h.ok
      },
      lane("""^ALTER\s+ROLE\s+(<c>)\s+RENAME\s+TO\s+(<c>)<end>""") { h =>
        val (from, to) = (h(1), h(2))
        requireAdmin(h.spark)
        require(roles.contains(from), s"there is no role `$from`")
        require(!roles.contains(to), s"role `$to` already exists")
        roles.remove(from); roles.add(to)
        grants.asScala.filter(_.grantee == from).toSeq.foreach { g =>
          grants.remove(g); grants.add(g.copy(grantee = to))
        }
        roleGrants.replaceAll((_, rs) =>
          if (rs.contains(from)) rs - from + to else rs)
        roleAdminOptions.replaceAll((_, rs) =>
          if (rs.contains(from)) rs - from + to else rs)
        Option(roleGrants.remove(from)).foreach(roleGrants.put(to, _))
        Option(roleAdminOptions.remove(from))
          .foreach(roleAdminOptions.put(to, _))
        renameGrantee(from, to)
        retireShadows(h.spark)
        h.ok
      },
      lane("""^ALTER\s+QUOTA\s+(<c>)""" + quotaBody + "<end>") { h =>
        val name = h(1)
        requireAdmin(h.spark)
        checkQuotaKey(h(2))
        val prev = Option(quotas.get(name)).getOrElse(
          throw new IllegalArgumentException(s"there is no quota `$name`"))
        val limits = h.opt(5).map(quotaLimits).getOrElse(prev.limits)
        val (toAll, gs) = h.opt(6).map(granteeSpec)
          .getOrElse((prev.toAll, prev.grantees))
        quotas.put(name, Quota(name,
          h.opt(2).getOrElse(prev.keyedBy),
          h.opt(3).map(n => intervalSeconds(n, h(4)))
            .getOrElse(prev.intervalSec),
          limits, toAll, gs))
        h.ok
      },
      lane("""^ALTER\s+ROW\s+POLICY\s+(<c>)\s+ON\s+(<t>)\s+USING\s+(.+?)(?:\s+TO\s+(.+?))?<end>""") { h =>
        val name = h(1)
        requireAdmin(h.spark)
        require(rowPolicies.containsKey(name),
          s"there is no row policy `$name`")
        rowPolicies.put(name,
          RowPolicy(name, h(2).toLowerCase, h(3).trim, policyGrantees(h(4))))
        retireShadows(h.spark) // live shadows hold the OLD filter
        h.ok
      },
      lane("""^ALTER\s+SETTINGS\s+PROFILE\s+(<c>)(?:\s+SETTINGS\s+(.+?))?""" + toList + "<end>") { h =>
        val name = h(1)
        requireAdmin(h.spark)
        val prev = Option(settingsProfiles.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"there is no settings profile `$name`"))
        val settings = h.opt(2).map(profileSettings).getOrElse(prev.settings)
        val (toAll, gs) = h.opt(3).map(granteeSpec)
          .getOrElse((prev.toAll, prev.grantees))
        settingsProfiles.put(name, SettingsProfile(name, settings, toAll, gs))
        h.ok
      },
      // CHECK GRANT p ON t (ASTCheckGrantQuery): does the CURRENT user
      // hold the privilege? Answers 1/0, never throws — the self-probe
      // an application runs before attempting a statement.
      lane("""^CHECK\s+GRANT\s+([A-Za-z]+)\s+ON\s+""" + target + "<end>") { h =>
        import h.spark.implicits._
        val me = currentUser(h.spark)
        val has = me == "default" ||
          allowed(me, h(1).toUpperCase, h(2).toLowerCase)
        Seq(if (has) 1 else 0).toDF("result")
      },
      lane("""^SET\s+DEFAULT\s+ROLE\s+(NONE|ALL|[A-Za-z_][A-Za-z0-9_,\s]*?)\s+TO\s+(.+?)<end>""") { h =>
        requireAdmin(h.spark)
        val targets = names(h(2))
        targets.foreach(knownGrantee)
        h(1).trim.toUpperCase match {
          case "NONE" =>
            targets.foreach(u => defaultRoles.put(u, Set.empty))
          case "ALL" => targets.foreach(defaultRoles.remove)
          case _ =>
            val rs = names(h(1)).toSet
            rs.foreach(r => require(roles.contains(r),
              s"there is no role `$r`"))
            targets.foreach { u =>
              rs.foreach(r =>
                require(roleGrants.getOrDefault(u, Set.empty).contains(r),
                  s"Role `$r` should be granted to `$u` to set default"))
              defaultRoles.put(u, rs)
            }
        }
        h.ok
      },
      // SET ROLE is self-service: the session narrows its OWN granted
      // roles (InterpreterSetRoleQuery) — every named role must be
      // granted to the current user
      lane("""^SET\s+ROLE\s+(DEFAULT|NONE|ALL(?:\s+EXCEPT\s+(.+?))?|[A-Za-z_][A-Za-z0-9_,\s]*)<end>""") { h =>
        val me = currentUser(h.spark)
        val granted = roleGrants.getOrDefault(me, Set.empty)
        h(1).trim.toUpperCase match {
          case "DEFAULT" => activeRoles.remove(me)
          case "NONE" => activeRoles.put(me, Set.empty)
          case s if s.startsWith("ALL") =>
            val except = h.opt(2).map(names(_).toSet).getOrElse(Set.empty)
            activeRoles.put(me, granted -- except)
          case _ =>
            val rs = names(h(1)).toSet
            rs.foreach(r => require(granted.contains(r),
              s"Role `$r` should be granted to `$me` to be set as current"))
            activeRoles.put(me, rs)
        }
        h.ok
      },
      lane("""^SHOW\s+USERS<end>""")(frame(_, listUsers, "name")),
      lane("""^SHOW\s+ROLES<end>""")(frame(_, listRoles, "name")),
      lane("""^SHOW\s+ROW\s+POLICIES<end>""")(
        frame(_, listRowPolicies.map(p => s"${p._1} ON ${p._2}"), "name")),
      lane("""^SHOW\s+CURRENT\s+ROLES<end>""") { h =>
        import h.spark.implicits._
        listCurrentRoles(h.spark).toDF("role_name", "is_default")
      },
      lane("""^SHOW\s+ENABLED\s+ROLES<end>""") { h =>
        import h.spark.implicits._
        listEnabledRoles(h.spark).toDF("role_name", "is_current")
      },
      lane("""^SHOW\s+CREATE\s+USER\s+(<c>)<end>""") { h =>
        require(h(1) == "default" || users.contains(h(1)),
          s"there is no user `${h(1)}`")
        frame(h, Seq(s"CREATE USER ${h(1)}"), "statement")
      },
      lane("""^SHOW\s+CREATE\s+ROLE\s+(<c>)<end>""") { h =>
        require(roles.contains(h(1)), s"there is no role `${h(1)}`")
        frame(h, Seq(s"CREATE ROLE ${h(1)}"), "statement")
      },
      lane("""^SHOW\s+CREATE\s+ROW\s+POLICY\s+(<c>)\s+ON\s+(<t>)<end>""") { h =>
        val p = Option(rowPolicies.get(h(1))).getOrElse(
          throw new IllegalArgumentException(s"there is no row policy `${h(1)}`"))
        val toPart =
          if (p.appliesTo.isEmpty) "ALL"
          else p.appliesTo.toSeq.sorted.mkString(", ")
        frame(h, Seq(s"CREATE ROW POLICY ${p.name} ON ${p.table} USING " +
          s"${p.condition} TO $toPart"), "statement")
      },
      lane("""^CREATE\s+QUOTA\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)""" + quotaBody + "<end>") { h =>
        val name = h(2)
        requireAdmin(h.spark)
        checkQuotaKey(h(3))
        val limits = h.opt(6).map(quotaLimits).getOrElse(Map.empty[String, Long])
        val (toAll, gs) = granteeSpec(h(7))
        val q = Quota(name, h.opt(3).getOrElse("user_name"),
          intervalSeconds(h(4), h(5)), limits, toAll, gs)
        if (quotas.putIfAbsent(name, q) != null && h(1) == null)
          throw new IllegalArgumentException(s"quota `$name` already exists")
        h.ok
      },
      lane("""^DROP\s+QUOTA\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
        requireAdmin(h.spark)
        if (quotas.remove(h(2)) == null && h(1) == null)
          throw new IllegalArgumentException(s"there is no quota `${h(2)}`")
        quotaUsage.keySet.asScala.filter(_._1 == h(2))
          .foreach(quotaUsage.remove)
        h.ok
      },
      lane("""^SHOW\s+QUOTAS<end>""")(frame(_, listQuotas.map(_._1), "name")),
      lane("""^SHOW\s+CREATE\s+QUOTA\s+(<c>)<end>""") { h =>
        val q = Option(quotas.get(h(1))).getOrElse(
          throw new IllegalArgumentException(s"there is no quota `${h(1)}`"))
        val maxPart =
          if (q.limits.isEmpty) ""
          else " MAX " + q.limits.toSeq.sorted
            .map { case (k, v) => s"$k = $v" }.mkString(", ")
        val toPart =
          if (q.toAll) " TO ALL"
          else if (q.grantees.nonEmpty)
            s" TO ${q.grantees.toSeq.sorted.mkString(", ")}"
          else ""
        frame(h, Seq(s"CREATE QUOTA ${q.name} KEYED BY ${q.keyedBy} FOR INTERVAL " +
          s"${q.intervalSec} second$maxPart$toPart"), "statement")
      },
      lane("""^CREATE\s+SETTINGS\s+PROFILE\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)(?:\s+SETTINGS\s+(.+?))?""" + toList + "<end>") { h =>
        val name = h(2)
        requireAdmin(h.spark)
        val settings = h.opt(3).map(profileSettings).getOrElse(Seq.empty)
        val (toAll, gs) = granteeSpec(h(4))
        if (settingsProfiles.putIfAbsent(name,
            SettingsProfile(name, settings, toAll, gs)) != null && h(1) == null)
          throw new IllegalArgumentException(
            s"settings profile `$name` already exists")
        h.ok
      },
      lane("""^DROP\s+SETTINGS\s+PROFILE\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
        requireAdmin(h.spark)
        if (settingsProfiles.remove(h(2)) == null && h(1) == null)
          throw new IllegalArgumentException(
            s"there is no settings profile `${h(2)}`")
        h.ok
      },
      lane("""^SHOW\s+SETTINGS\s+PROFILES<end>""")(
        frame(_, listSettingsProfiles.map(_._1), "name")),
      lane("""^SHOW\s+CREATE\s+SETTINGS\s+PROFILE\s+(<c>)<end>""") { h =>
        val p = Option(settingsProfiles.get(h(1))).getOrElse(
          throw new IllegalArgumentException(
            s"there is no settings profile `${h(1)}`"))
        val sPart =
          if (p.settings.isEmpty) ""
          else " SETTINGS " + p.settings
            .map { case (k, v) => s"$k = $v" }.mkString(", ")
        val toPart =
          if (p.toAll) " TO ALL"
          else if (p.grantees.nonEmpty)
            s" TO ${p.grantees.toSeq.sorted.mkString(", ")}"
          else ""
        frame(h, Seq(s"CREATE SETTINGS PROFILE ${p.name}$sPart$toPart"),
          "statement")
      },
      lane("""^CREATE\s+ROW\s+POLICY\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)\s+ON\s+(<t>)\s+USING\s+(.+?)(?:\s+TO\s+(.+?))?<end>""") { h =>
        val name = h(2)
        requireAdmin(h.spark)
        if (rowPolicies.putIfAbsent(name, RowPolicy(name, h(3).toLowerCase,
            h(4).trim, policyGrantees(h(5)))) != null && h(1) == null)
          throw new IllegalArgumentException(s"row policy `$name` already exists")
        retireShadows(h.spark) // a live shadow must pick up the new policy
        h.ok
      },
      lane("""^DROP\s+ROW\s+POLICY\s+(IF\s+EXISTS\s+)?(<c>)\s+ON\s+(<t>)<end>""") { h =>
        requireAdmin(h.spark)
        if (rowPolicies.remove(h(2)) == null && h(1) == null)
          throw new IllegalArgumentException(s"there is no row policy `${h(2)}`")
        retireShadows(h.spark)
        h.ok
      },
      lane("""^SHOW\s+GRANTS(?:\s+FOR\s+(<c>))?<end>""") { h =>
        val target = h.opt(1).getOrElse(currentUser(h.spark))
        frame(h, listGrants.filter(_._1 == target).map {
          case (_, "ROLE", r, admin) =>
            s"GRANT $r TO $target" + (if (admin) " WITH ADMIN OPTION" else "")
          case (_, p, t, opt) =>
            s"GRANT $p ON $t TO $target" + (if (opt) " WITH GRANT OPTION" else "")
        }, "grants")
      },
      lane("""^CREATE\s+USER\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)(\s+IDENTIFIED\s+.*?)?<end>""") { h =>
        requireAdmin(h.spark)
        if (!users.add(h(2)) && h(1) == null)
          throw new IllegalArgumentException(s"user `${h(2)}` already exists")
        h.ok
      },
      lane("""^DROP\s+USER\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
        val name = h(2)
        requireAdmin(h.spark)
        if (!users.remove(name) && h(1) == null)
          throw new IllegalArgumentException(s"there is no user `$name`")
        roleGrants.remove(name)
        activeRoles.remove(name); defaultRoles.remove(name)
        grants.asScala.filter(_.grantee == name).foreach(grants.remove)
        h.ok
      },
      lane("""^CREATE\s+ROLE\s+(IF\s+NOT\s+EXISTS\s+)?(<c>)<end>""") { h =>
        requireAdmin(h.spark)
        if (!roles.add(h(2)) && h(1) == null)
          throw new IllegalArgumentException(s"role `${h(2)}` already exists")
        h.ok
      },
      lane("""^DROP\s+ROLE\s+(IF\s+EXISTS\s+)?(<c>)<end>""") { h =>
        val name = h(2)
        requireAdmin(h.spark)
        if (!roles.remove(name) && h(1) == null)
          throw new IllegalArgumentException(s"there is no role `$name`")
        grants.asScala.filter(_.grantee == name).foreach(grants.remove)
        roleGrants.replaceAll((_, rs) => rs - name)
        roleAdminOptions.replaceAll((_, rs) => rs - name)
        h.ok
      },
      // REVOKE GRANT OPTION FOR / ADMIN OPTION FOR strip the delegation
      // bit only — the underlying grant survives (ParserGrantQuery.cpp
      // grant_option "GRANT OPTION FOR" / admin_option branch)
      lane("""^REVOKE\s+GRANT\s+OPTION\s+FOR\s+(.+?)\s+ON\s+""" + target + """\s+FROM\s+(.+?)<end>""") { h =>
        requireGrantOption(currentUser(h.spark), h(1), h(2))
        for (g <- names(h(3)); p <- privs(h(1)))
          if (grants.remove(Grant(g, p, h(2).toLowerCase, grantOption = true)))
            grants.add(Grant(g, p, h(2).toLowerCase))
        h.ok
      },
      maybe("""^REVOKE\s+ADMIN\s+OPTION\s+FOR\s+""" + roleList + """\s+FROM\s+(.+?)<end>""") { h =>
        if (!names(h(1)).forall(roles.contains)) None
        else {
          requireAdminOption(currentUser(h.spark), h(1))
          for (g <- names(h(2)); r <- names(h(1)))
            roleAdminOptions.computeIfPresent(g, (_, cur) => cur - r)
          Some(h.ok)
        }
      },
      lane("""^GRANT\s+(.+?)\s+ON\s+""" + target + """\s+TO\s+(.+?)""" + optionTail) { h =>
        val withGrantOpt = h.opt(4).exists(_.equalsIgnoreCase("GRANT"))
        val t = h(2).toLowerCase
        requireGrantOption(currentUser(h.spark), h(1), h(2))
        for (g <- names(h(3)); p <- privs(h(1))) {
          knownGrantee(g)
          if (withGrantOpt) {
            grants.remove(Grant(g, p, t))
            grants.add(Grant(g, p, t, grantOption = true))
          } else if (!grants.contains(Grant(g, p, t, grantOption = true)))
            grants.add(Grant(g, p, t))
        }
        h.ok
      },
      lane("""^REVOKE\s+(.+?)\s+ON\s+""" + target + """\s+FROM\s+(.+?)<end>""") { h =>
        val t = h(2).toLowerCase
        requireGrantOption(currentUser(h.spark), h(1), h(2))
        // revoking the privilege strips its grant option with it
        for (g <- names(h(3)); p <- privs(h(1))) {
          grants.remove(Grant(g, p, t))
          grants.remove(Grant(g, p, t, grantOption = true))
        }
        h.ok
      },
      maybe("""^GRANT\s+""" + roleList + """\s+TO\s+(.+?)""" + optionTail) { h =>
        if (!names(h(1)).forall(roles.contains)) None
        else {
          val withAdminOpt = h.opt(3).exists(_.equalsIgnoreCase("ADMIN"))
          requireAdminOption(currentUser(h.spark), h(1))
          for (g <- names(h(2)); r <- names(h(1))) {
            knownGrantee(g)
            roleGrants.merge(g, Set(r), _ ++ _)
            if (withAdminOpt) roleAdminOptions.merge(g, Set(r), _ ++ _)
          }
          Some(h.ok)
        }
      },
      maybe("""^REVOKE\s+""" + roleList + """\s+FROM\s+(.+?)<end>""") { h =>
        if (!names(h(1)).forall(roles.contains)) None
        else {
          requireAdminOption(currentUser(h.spark), h(1))
          // revoking the role strips its admin option with it
          for (g <- names(h(2)); r <- names(h(1))) {
            roleGrants.computeIfPresent(g, (_, cur) => cur - r)
            roleAdminOptions.computeIfPresent(g, (_, cur) => cur - r)
          }
          Some(h.ok)
        }
      },
      reject("""^(?:(?:CREATE|DROP|ALTER)\s+(?:USER|ROLE|ROW\s+POLICY|QUOTA|SETTINGS\s+PROFILE)|GRANT|REVOKE|SET\s+(?:DEFAULT\s+)?ROLE|CHECK\s+GRANT|SHOW\s+(?:GRANTS|QUOTAS|SETTINGS\s+PROFILES|USERS|ROLES|ROW\s+POLICIES|CURRENT\s+ROLES|ENABLED\s+ROLES)|SHOW\s+CREATE\s+(?:QUOTA|SETTINGS\s+PROFILE|USER|ROLE|ROW\s+POLICY))\b.*""",
        "access-control statement"))
  }

  /** All privileges effective for `who`: direct grants plus grants to
    * any role in the CURRENT role closure (SET ROLE narrows it). */
  private def effective(who: String): Set[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val seen = identityClosure(who)
    grants.asScala.toSet
      .filter(g => seen.contains(g.grantee))
      .map(g => (g.privilege, g.target))
  }

  private def allowed(who: String, priv: String, table: String): Boolean =
    effective(who).exists { case (p, t) =>
      (p == "ALL" || p == priv) &&
        (t == "*.*" || t == "*" || t == table.toLowerCase ||
          t.endsWith("." + table.toLowerCase))
    }

  /** Catalog tables the statement touches. Three collection lanes,
    * unioned then filtered to real catalog tables (aliases/CTEs/system
    * views drop out); driver-side metadata only:
    *  1. merge() table functions expand to every matching catalog table
    *     (the reference's StorageMerge requires SELECT on each
    *     underlying table);
    *  2. Spark's SQL parser collects leaf relations, subqueries
    *     included, for every statement shape its grammar accepts — so
    *     nested/EXISTS/CTE-body reads can't slip past;
    *  3. SqlLex.tableRefs over the raw text covers dialect-only syntax
    *     the Spark parser rejects (SETTINGS tails, …), backtick-quoted,
    *     comma-listed and 'default.'-qualified names included. */
  private def touchedTables(spark: SparkSession, stmt: String): Seq[String] = {
    val mergeTables =
      "(?i)\\bmerge\\s*\\(\\s*(?:'[^']*'\\s*,\\s*)?'([^']+)'\\s*\\)".r
        .findAllMatchIn(stmt).flatMap { m =>
          val p = scala.util.Try(m.group(1).r).toOption
          spark.catalog.listTables().collect().map(_.name)
            .filter(n => p.exists(_.findFirstIn(n).isDefined))
        }.toSeq
    val planned =
      try spark.sessionState.sqlParser.parsePlan(stmt).collectWithSubqueries {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".")
      }
      catch { case _: Exception => Seq.empty }
    // scan only outside literals and comments, so 'FROM nation' inside
    // a string never trips a check
    val ids = (SqlLex.tableRefs(stmt).toSeq ++ planned ++ mergeTables).distinct
      .filterNot(_.toLowerCase.startsWith("system."))
    val catalog = spark.sessionState.catalog
    ids.filter { t =>
      // a name shadowed by a ROW-POLICY temp view is still the catalog
      // table for privilege purposes — only genuine USER temp views are
      // out of scope (otherwise applying a policy would silently bypass
      // the grant check on the policed table)
      try catalog.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t)) &&
        (activeShadows.contains(t.toLowerCase(java.util.Locale.ROOT)) ||
          catalog.getTempView(t.toLowerCase(java.util.Locale.ROOT)).isEmpty)
      catch { case _: Exception => false }
    }
  }

  /** Does the policy cover `who` (directly, via a CURRENT role, or via
    * the ALL form)? */
  private def covers(p: RowPolicy, who: String): Boolean =
    p.appliesTo.isEmpty || p.appliesTo.exists(identityClosure(who).contains)

  /** Names currently shadowed by a policy-filter view. */
  private val activeShadows =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean])

  /** Retire every live shadow so the next statement rebuilds them from
    * the CURRENT policy definitions — called whenever a policy or a
    * grantee identity changes (a live shadow holds the filter it was
    * built with, not a reference to the policy). */
  private def retireShadows(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    activeShadows.asScala.toSeq.foreach { t =>
      spark.catalog.dropTempView(t); activeShadows.remove(t)
    }
  }

  /** Propagate a user/role rename through policy/quota/profile grantee
    * sets. */
  private def renameGrantee(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    rowPolicies.asScala.toSeq.foreach { case (k, p) =>
      if (p.appliesTo.contains(from))
        rowPolicies.put(k, p.copy(appliesTo = p.appliesTo - from + to))
    }
    quotas.asScala.toSeq.foreach { case (k, q) =>
      if (q.grantees.contains(from))
        quotas.put(k, q.copy(grantees = q.grantees - from + to))
    }
    settingsProfiles.asScala.toSeq.foreach { case (k, p) =>
      if (p.grantees.contains(from))
        settingsProfiles.put(k, p.copy(grantees = p.grantees - from + to))
    }
  }

  /** Apply/retire row-policy shadow views for the CURRENT user before a
    * statement resolves. A policed catalog table is shadowed by a TEMP
    * VIEW of the same name holding the filtered read (temp views win
    * name resolution), so the policy applies to every query shape with
    * no SQL rewriting; the shadow retires as soon as the session user is
    * no longer covered. Pre-existing user temp views of the same name
    * are never clobbered (temp-view-backed names are out of policy
    * scope — the reference's policies are table-engine level too). */
  def applyRowPolicies(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val me = currentUser(spark)
    val policies = rowPolicies.asScala.values.toSeq
    activeShadows.asScala.toSeq.foreach { t =>
      val live = me != "default" &&
        policies.exists(p => p.table == t && covers(p, me))
      if (!live) { spark.catalog.dropTempView(t); activeShadows.remove(t) }
    }
    if (me == "default") return
    policies.filter(p => covers(p, me)).foreach { p =>
      val catalog = spark.sessionState.catalog
      val isCatalogTable = scala.util.Try(catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(p.table))).getOrElse(false)
      val freeName = catalog
        .getTempView(p.table.toLowerCase(java.util.Locale.ROOT)).isEmpty
      if (!activeShadows.contains(p.table) && isCatalogTable && freeName) {
        // resolve the CATALOG table first, then shadow its name
        val filtered = spark.table(p.table)
          .filter(org.apache.spark.sql.functions.expr(p.condition))
        filtered.createOrReplaceTempView(p.table)
        activeShadows.add(p.table)
      }
    }
  }

  /** Privilege gate for a dialect statement; no-op for the bootstrap
    * `default` user. */
  def enforce(spark: SparkSession, stmt0: String): Unit = {
    val me = currentUser(spark)
    if (me == "default") return
    val stmt = stmt0.trim
    val word = firstWord(stmt)
    // SET always passes — it is the session-auth channel itself (a
    // wedged unknown user could otherwise never switch back)
    if (word == "SET") return
    require(users.contains(me),
      s"unknown user `$me` (SET user names a user created with CREATE USER)")
    // WATCH lv reads through the live view: require SELECT on the
    // view's base tables (the stored SELECT — same data surface)
    if (word == "WATCH") {
      val name = stmt.split("\\s+").lift(1).getOrElse("")
      LiveViews.selectOf(name).foreach { sel =>
        touchedTables(spark, sel).foreach { t =>
          if (!allowed(me, "SELECT", t)) throw new SecurityException(
            s"$me: Not enough privileges. To execute this query, it's " +
              s"necessary to have the grant SELECT ON $t")
        }
      }
      return
    }
    val priv = word match {
      case "SELECT" | "WITH" => Some("SELECT")
      case "INSERT" => Some("INSERT")
      // standalone UPDATE is the same mutation as ALTER TABLE UPDATE
      case "ALTER" | "OPTIMIZE" | "DELETE" | "UPDATE" => Some("ALTER")
      case "DROP" | "TRUNCATE" => Some("DROP")
      case _ => None
    }
    priv.foreach { p =>
      touchedTables(spark, stmt).foreach { t =>
        if (!allowed(me, p, t)) throw new SecurityException(
          s"$me: Not enough privileges. To execute this query, it's " +
            s"necessary to have the grant $p ON $t")
      }
    }
  }

  /** Test/maintenance reset. */
  /** system.current_roles / system.enabled_roles for the session user. */
  def listCurrentRoles(spark: SparkSession): Seq[(String, Boolean)] = {
    val me = currentUser(spark)
    currentRoleSet(me).toSeq.sorted
      .map(r => (r, Option(defaultRoles.get(me)).forall(_.contains(r))))
  }
  def listEnabledRoles(spark: SparkSession): Seq[(String, Boolean)] = {
    val me = currentUser(spark)
    val current = currentRoleSet(me)
    (identityClosure(me) - me).toSeq.sorted.map(r => (r, current.contains(r)))
  }

  private[graft] def reset(): Unit = {
    users.clear(); roles.clear(); grants.clear(); roleGrants.clear()
    rowPolicies.clear(); quotas.clear(); quotaUsage.clear()
    settingsProfiles.clear(); activeRoles.clear(); defaultRoles.clear()
  }
}
