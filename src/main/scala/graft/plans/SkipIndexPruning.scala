package graft.plans

import java.util.concurrent.ConcurrentHashMap

import graft.operators.SkipIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Contains, EndsWith, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Lower, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

/** TRANSPARENT skip-index pruning — the way the reference actually applies
  * its skip indexes: the user writes a plain SELECT and
  * `MergeTreeDataSelectExecutor::filterMarksUsingIndex` drops granules
  * before the scan (src/Storages/MergeTree/MergeTreeDataSelectExecutor
  * .cpp). The [[SkipIndex]] operator API is the explicit form; this Rule
  * is the implicit one, and it now serves the WHOLE index family the way
  * the reference does:
  *   - bloom_filter → equality / IN conjuncts (hash probes);
  *   - minmax      → <, <=, >, >=, =, BETWEEN conjuncts (bound probes);
  *   - set(N)      → equality / IN conjuncts (exact membership);
  *   - ngrambf_v1  → LIKE '%x%' / contains / startsWith / endsWith
  *                   (every n-gram of the needle must be in the file's
  *                   bloom; Catalyst has already simplified LIKE into
  *                   Contains/StartsWith/EndsWith by the time
  *                   extraOptimizations run).
  * The Filter itself always stays, so index false positives re-check and
  * answers never change — pruning is strictly an I/O reduction.
  *
  * Mechanics (same extension point as [[AggProjections]] /
  * [[NormalProjections]]): an extraOptimizations rule matches
  * Filter-over-LogicalRelation plans whose relation roots at a registered
  * data dir, turns supported conjuncts into per-index file sets
  * (driver-resident index reads, |files| rows each), intersects them, and
  * swaps the relation's location for an [[InMemoryFileIndex]] over the
  * surviving files. After the swap the root paths no longer match the
  * registry, so the rule cannot re-fire on its own output.
  * Hive-partitioned relations keep their partition values: the swap
  * carries the original location's partition spec, so partition pruning
  * and skip-index file pruning COMPOSE (round 8; the reference layers
  * partition pruning over granule pruning the same way).
  */
object SkipIndexPruning {

  final case class Idx(dataPath: String, kind: String, indexDir: String,
      columns: Set[String])

  /** canon(dataPath) → registered indexes over that dir (a dir can carry
    * several, like a reference table with several INDEX clauses). */
  private val registry = new ConcurrentHashMap[String, List[Idx]]()

  private def canon(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Register an index built with the matching [[SkipIndex]] builder for
    * transparent use by the rule ([[Rules]]). `kind` ∈ bloom_filter | minmax
    * | set | ngrambf_v1. */
  def register(spark: SparkSession, dataDir: String, indexDir: String,
      columns: Seq[String], kind: String = "bloom_filter"): Unit = {
    val key = canon(dataDir)
    val idx = Idx(key, kind, indexDir, columns.toSet)
    registry.merge(key, List(idx),
      (old, _) => idx :: old.filterNot(_.indexDir == idx.indexDir))
  }

  /** Unregister every index over the data dir. */
  def drop(dataDir: String): Unit = registry.remove(canon(dataDir))

  /** Unregister one index (by its index dir) over the data dir. */
  def dropIndex(dataDir: String, indexDir: String): Unit =
    registry.computeIfPresent(canon(dataDir),
      (_, old) => old.filterNot(_.indexDir == indexDir) match {
        case Nil => null
        case rest => rest
      })

  /** One pruning decision per (relation, index) the rule applied —
    * drained by the dialect's EXPLAIN indexes = 1 (the reference's
    * EXPLAIN indexes output: which index ran, parts before/after). */
  final case class Decision(dataPath: String, kind: String,
      columns: Set[String], admitted: Int, total: Int)

  private val decisions =
    new java.util.concurrent.ConcurrentLinkedQueue[Decision]()
  private val MaxDecisions = 256 // bounded: the log must never leak over a session

  private def logDecision(d: Decision): Unit = {
    decisions.add(d)
    while (decisions.size > MaxDecisions) decisions.poll()
  }

  def clearDecisions(): Unit = decisions.clear()

  def lastDecisions: Seq[Decision] = {
    import scala.jdk.CollectionConverters._
    decisions.iterator().asScala.toSeq
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  case class PruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

    /** Typed equality hash: cast the literal to the column's type first so
      * e.g. an Int probe against a Long column hashes on the build lane
      * (the bloom was built over the column's own type). */
    private def eqHash(l: Literal, a: AttributeReference): Long =
      SkipIndex.hashOfLiteral(
        if (l.dataType == a.dataType) l
        else Literal.create(
          org.apache.spark.sql.catalyst.expressions.Cast(
            l, a.dataType, Some("UTC")).eval(null), a.dataType))

    private def scalaValue(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)

    /** The file set one conjunct admits under one index, or None when the
      * conjunct doesn't probe this index. */
    private def fileSet(idx: Idx, c: Expression): Option[Set[String]] = {
      def bloomEq(a: AttributeReference, hashes: Seq[Long]) =
        if (idx.kind == "bloom_filter" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesByHash(spark, idx.indexDir, a.name,
            hashes).toSet)
        else None
      def setEq(a: AttributeReference, vals: Seq[Any]) =
        if (idx.kind == "set" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesSet(spark, idx.indexDir, a.name,
            vals).toSet)
        else None
      def mmBound(a: AttributeReference, lo: Option[Any], hi: Option[Any]) =
        if (idx.kind == "minmax" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesBound(spark, idx.indexDir, a.name,
            lo, hi).toSet)
        else None
      def ngram(a: AttributeReference, needle: String) =
        if (idx.kind == "ngrambf_v1" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesLike(spark, idx.indexDir, needle).toSet)
        else None
      /** Smallest string ≥ every string carrying `pre` as a prefix, in
        * UTF-8 binary order (the order Spark compares strings in): strip
        * trailing max-lane chars, increment the last remaining one.
        * `pre + '￿'` is NOT such a bound — supplementary code points
        * (e.g. emoji) encode ABOVE U+FFFF in UTF-8 — so surrogate-bearing
        * prefixes conservatively get no upper bound (lo-only pruning).
        * Mirrors the reference's prefix-range analysis in
        * KeyCondition's LIKE handling. */
      def prefixSuccessor(pre: String): Option[String] =
        if (!pre.forall(c => c < '\uD800')) None
        else {
          var i = pre.length - 1
          while (i >= 0 && pre.charAt(i) == 0xD7FF) i -= 1
          if (i < 0) None
          else Some(pre.substring(0, i) + (pre.charAt(i) + 1).toChar)
        }
      def textAttr(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case Lower(a: AttributeReference) => Some(a)
        case _ => None
      }

      c match {
        case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
          bloomEq(a, Seq(eqHash(l, a)))
            .orElse(setEq(a, Seq(scalaValue(l))))
            .orElse(mmBound(a, Some(scalaValue(l)), Some(scalaValue(l))))
        case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
          fileSet(idx, EqualTo(a, l))
        case In(a: AttributeReference, vs)
            if vs.forall(v => v.isInstanceOf[Literal] &&
              v.asInstanceOf[Literal].value != null) =>
          val lits = vs.map(_.asInstanceOf[Literal])
          bloomEq(a, lits.map(eqHash(_, a)))
            .orElse(setEq(a, lits.map(scalaValue)))
        case InSet(a: AttributeReference, hset) if !hset.contains(null) =>
          val lits = hset.toSeq.map(v => Literal.create(v, a.dataType))
          bloomEq(a, lits.map(SkipIndex.hashOfLiteral))
            .orElse(setEq(a, lits.map(scalaValue)))
        case GreaterThan(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        case LessThan(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        case LessThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        // mirrored literal-first comparisons: 5 < a ≡ a > 5
        case GreaterThan(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        case LessThan(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        case LessThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        // LIKE '%x%' / '%x' / 'x%' arrive simplified; the ngram index is
        // built over lower(text), so a case-sensitive needle's lowercase
        // grams admit a superset — safe, the Filter re-checks exactly.
        case Contains(t, l: Literal) if l.value != null =>
          textAttr(t).flatMap(a => ngram(a, l.value.toString))
        case StartsWith(t, l: Literal) if l.value != null =>
          // a prefix is ALSO a range: every match lies in
          // [prefix, prefixSuccessor) on the string lane, so a minmax
          // index prunes LIKE 'abc%' like the reference's primary-key
          // prefix analysis; ngram covers the substring superset. The
          // minmax lane is ONLY sound on the bare column — under
          // lower(col) the raw min/max can exclude rows the lowercased
          // needle would match — so Lower-wrapped text routes to the
          // ngram lane alone (built over lower(text), superset-safe).
          t match {
            case a: AttributeReference =>
              val pre = l.value.toString
              mmBound(a, Some(pre), prefixSuccessor(pre))
                .orElse(ngram(a, pre))
            case Lower(a: AttributeReference) =>
              ngram(a, l.value.toString)
            case _ => None
          }
        case EndsWith(t, l: Literal) if l.value != null =>
          textAttr(t).flatMap(a => ngram(a, l.value.toString))
        case _ => None
      }
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformUp {
        case f @ Filter(cond, child) =>
          val rewritten = rewriteScan(child, cond)
          rewritten.map(c => Filter(cond, c)).getOrElse(f)
      }
    }

    /** A pruned file index over the surviving leaf files. Unpartitioned
      * relations get a plain [[InMemoryFileIndex]]; hive-partitioned
      * relations (round 8, closing the round-7 bail-out) CARRY the
      * original location's partition spec into the swap, so the pruned
      * relation keeps both its partition values (columns read from dir
      * names) and Catalyst's partition pruning — exactly the reference's
      * layering, where partition pruning and skip-index granule pruning
      * compose (MergeTreeDataSelectExecutor). A partitioned location
      * that doesn't expose its spec (non-PartitioningAware) still bails. */
    private def swappedLocation(fs: HadoopFsRelation,
        files: Seq[String]): Option[org.apache.spark.sql.execution.datasources.FileIndex] = {
      val paths = files.map(new org.apache.hadoop.fs.Path(_))
      if (fs.partitionSchema.isEmpty)
        Some(new InMemoryFileIndex(spark, paths, Map.empty, Some(fs.dataSchema)))
      else fs.location match {
        case pa: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
          Some(new InMemoryFileIndex(spark, paths, Map.empty,
            Some(org.apache.spark.sql.types.StructType(
              fs.dataSchema.fields ++ fs.partitionSchema.fields)),
            userSpecifiedPartitionSpec = Some(pa.partitionSpec())))
        case _ => None
      }
    }

    /** Rewrite the scan under (possibly) a column-pruning Project. */
    private def rewriteScan(plan: LogicalPlan, cond: Expression): Option[LogicalPlan] =
      plan match {
        case p @ Project(projectList, child)
            if projectList.forall(_.isInstanceOf[AttributeReference]) =>
          rewriteScan(child, cond).map(c => p.copy(child = c))
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            val roots = fs.location.rootPaths.map(p => canon(p.toString))
            val idxs = roots.flatMap(r => Option(registry.get(r)).toSeq.flatten)
            if (idxs.isEmpty) None
            else {
              val sets = for {
                c <- conjuncts(cond)
                idx <- idxs
                s <- fileSet(idx, c)
              } yield (idx, s)
              if (sets.isEmpty) None
              else {
                val files = sets.map(_._2).reduce(_ intersect _).toSeq.sorted
                val total = fs.location.inputFiles.length
                sets.groupBy(_._1).foreach { case (idx, ss) =>
                  logDecision(Decision(idx.dataPath, idx.kind, idx.columns,
                    ss.map(_._2).reduce(_ intersect _).size, total))
                }
                if (files.size >= total) None
                else swappedLocation(fs, files).map { newLocation =>
                  val newFs = fs.copy(location = newLocation)(spark)
                  lr.copy(relation = newFs)
                }
              }
            }
          case _ => None
        }
        case _ => None
      }
  }
}
