package graft.plans

import graft.operators.SkipIndex
import graft.plans.Layouts.Skip
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Contains, EndsWith, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Lower, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
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
  * Mechanics: an extraOptimizations rule matches Filter-over-base-scan
  * plans whose relation roots at a path with [[Layouts.Skip]] layouts
  * registered, turns supported conjuncts into per-index file sets
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
    private def fileSet(idx: Skip, c: Expression): Option[Set[String]] = {
      def bloomEq(a: AttributeReference, hashes: Seq[Long]) =
        if (idx.kind == "bloom_filter" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesByHash(spark, idx.dir, a.name,
            hashes).toSet)
        else None
      def setEq(a: AttributeReference, vals: Seq[Any]) =
        if (idx.kind == "set" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesSet(spark, idx.dir, a.name,
            vals).toSet)
        else None
      def mmBound(a: AttributeReference, lo: Option[Any], hi: Option[Any]) =
        if (idx.kind == "minmax" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesBound(spark, idx.dir, a.name,
            lo, hi).toSet)
        else None
      def ngram(a: AttributeReference, needle: String) =
        if (idx.kind == "ngrambf_v1" && idx.columns.contains(a.name))
          Some(SkipIndex.matchingFilesLike(spark, idx.dir, needle).toSet)
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
      if (Layouts.isEmpty) return plan
      plan.transformUp {
        case f @ Filter(cond, child) =>
          Layouts.scanOf(child).flatMap(prune(_, cond))
            .map(lr => Filter(cond, child.transform { case _: LogicalRelation => lr }))
            .getOrElse(f)
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

    /** The scan's relation over only the files its skip indexes admit
      * under `cond`, when they exclude any. */
    private def prune(scan: Layouts.Scan, cond: Expression): Option[LogicalRelation] = {
      val sets = for {
        c <- conjuncts(cond)
        idx <- scan.layouts.collect { case s: Skip => s }
        s <- fileSet(idx, c)
      } yield (idx, s)
      if (sets.isEmpty) return None
      val files = sets.map(_._2).reduce(_ intersect _).toSeq.sorted
      val total = scan.files.location.inputFiles.length
      sets.groupBy(_._1).foreach { case (idx, ss) =>
        logDecision(Decision(scan.path, idx.kind, idx.columns.toSet,
          ss.map(_._2).reduce(_ intersect _).size, total))
      }
      if (files.size >= total) None
      else swappedLocation(scan.files, files).map { newLocation =>
        scan.relation.copy(relation = scan.files.copy(location = newLocation)(spark))
      }
    }
  }
}
