package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Join operators the reference has beyond Spark's built-ins:
  * ASOF (src/Core/Joins.h:78, sorted lookup src/Interpreters/RowRefs.h:166),
  * PASTE (src/Interpreters/PasteJoin.h:20), ANY strictness
  * (src/Core/Joins.h:44), and dictGet-style dictionary lookup
  * (src/Functions/FunctionsExternalDictionaries.h).
  *
  * All are declarative plan compositions — one shuffle each, no driver
  * loops, no per-row UDFs — so the same code runs on a 1000-executor
  * cluster unchanged.
  */
object JoinOps {

  /** ASOF LEFT JOIN with the full inequality matrix of src/Core/Joins.h:78
    * (ASOFJoinInequality::{LessOrEquals, Less, GreaterOrEquals, Greater}).
    * `op` is the condition `rightTs op leftTs` that the matched right row
    * must satisfy:
    *  - "<="  backward inclusive (CH `ON l.ts >= r.ts`, the default)
    *  - "<"   backward strict    (CH `ON l.ts >  r.ts`)
    *  - ">="  forward inclusive  (CH `ON l.ts <= r.ts`)
    *  - ">"   forward strict     (CH `ON l.ts <  r.ts`)
    * Backward picks the LATEST matching right row, forward the EARLIEST —
    * the nearest neighbor on the allowed side, as in the reference.
    *
    * Implemented with the union-window technique: tag both sides, union on
    * (key, ts), and carry the last right payload forward with
    * last(ignoreNulls) over a ROWS window. Exactly ONE shuffle on the key —
    * the same cost profile as the reference's full-sorting-merge ASOF
    * (src/Processors/Transforms/MergeJoinTransform.h:229) and strictly
    * better at scale than a per-row range probe. Direction flips the window
    * sort (forward scans descending); strictness flips which side sorts
    * first at equal ts (inclusive: right before left, so equal ts matches;
    * strict: left before right, so it does not).
    *
    * Ties among equal right (key, ts): the highest `rightTieBreak` wins.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: Column, rightTs: Column,
      rightPayload: Seq[String],
      rightTieBreak: Column,
      op: String = "<="): DataFrame =
    asofJoinKeys(left, right, Seq(leftKey), Seq(rightKey), leftTs, rightTs,
      rightPayload, rightTieBreak, op)

  /** Multi-key ASOF (the general form the dialect's `ASOF JOIN … ON
    * k1 = k1 AND k2 = k2 AND t >= t` spelling needs): identical
    * union-window plan, still exactly one shuffle. The window is keyed on
    * the left key columns themselves: right rows carry their key values in
    * those columns, cast to the left key's type, so the output's key
    * columns keep the window's partitioning: an aggregate on them needs
    * no second exchange, and a collected `ORDER BY` needs none at all
    * (`graft.plans.OrderedCollect`).
    * The tiebreak keeps its NATIVE type (any orderable type, e.g. a
    * struct over all right columns for a deterministic total order), not
    * a Long cast.
    *
    * NULLs follow SQL equality and comparison: a right row with a NULL
    * key or a NULL asof value matches nothing, a right key that does not
    * survive the cast to the left key's type equals no left key, and a
    * left row with a NULL asof value matches nothing. The matched right
    * row travels as one struct, so its NULL payload columns stay NULL. */
  def asofJoinKeys(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTs: Column, rightTs: Column,
      rightPayload: Seq[String],
      rightTieBreak: Column,
      op: String = "<="): DataFrame = {
    val backward = op == "<=" || op == "<"
    val inclusive = op == "<=" || op == ">="
    require(Set("<=", "<", ">=", ">")(op), s"unsupported ASOF inequality: $op")
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "ASOF: left/right equality key lists must be non-empty and equal-length")
    val lFields = left.schema.fields.toSeq
    val keys = leftKeys.zip(rightKeys).map { case (lk, rk) =>
      val lf = lFields.find(_.name.equalsIgnoreCase(lk)).getOrElse(
        throw new IllegalArgumentException(s"ASOF: '$lk' is not a left column"))
      (lf, rk)
    }
    // A right key survives when it round-trips through the left key's
    // type; the rest can equal no left key and drop with the NULL keys.
    val rKeyed = keys.zipWithIndex.foldLeft(right.filter(rightTs.isNotNull)) {
      case (d, ((lf, rk), i)) =>
        val rType = d.select(col(rk)).schema.head.dataType
        val cast = col(rk).try_cast(lf.dataType)
        val kept = d.withColumn(s"__rk$i", cast).filter(col(s"__rk$i").isNotNull)
        if (rType == lf.dataType) kept
        else kept.filter(col(s"__rk$i").cast(rType) === col(rk))
    }
    val payload = struct(rightPayload.zipWithIndex.map { case (c, i) =>
      col(c).as(s"p$i") }: _*)
    // the union needs one concrete type per tag column on BOTH sides:
    // resolve them from the right schema (no job — schema-only)
    val types = rKeyed.select(rightTieBreak.as("__tie"), payload.as("__r")).schema
    def tagged(t: Column, side: Int, tie: Column, r: Column): Seq[Column] =
      Seq(t.as("__t"), lit(side).as("__side"), tie.as("__tie"), r.as("__r"))
    val lSel = left.select(lFields.map(f => col(f.name)) ++ tagged(leftTs, 1,
      lit(null).cast(types("__tie").dataType),
      lit(null).cast(types("__r").dataType)): _*)
    // Side sort values: asc on __side puts right (0) before left (1) when
    // inclusive, left (1) before right (2) when strict.
    val rSel = rKeyed.select(lFields.map { f =>
      keys.indexWhere(_._1.name == f.name) match {
        case -1 => lit(null).cast(f.dataType).as(f.name)
        case i => col(s"__rk$i").as(f.name)
      }
    } ++ tagged(rightTs, if (inclusive) 0 else 2, rightTieBreak, payload): _*)
    // Backward scans ascending (last right seen = latest <= t); forward
    // scans descending (last right seen = earliest >= t). __tie ascends in
    // scan order either way so "last" = max tiebreak.
    val ord =
      if (backward) Seq(col("__t").asc, col("__side").asc, col("__tie").asc)
      else Seq(col("__t").desc, col("__side").asc, col("__tie").asc)
    val w = Window.partitionBy(keys.map(k => col(k._1.name)): _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSel.union(rSel)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lFields.map(f => col(f.name)) ++
        rightPayload.zipWithIndex.map { case (c, i) =>
          when(col("__t").isNotNull, col("__m").getField(s"p$i")).as(s"asof_$c")
        }: _*)
  }

  /** Backward-inclusive ASOF (the ClickHouse default inequality). */
  def asofJoinBackward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: Column, rightTs: Column,
      rightPayload: Seq[String],
      rightTieBreak: Column): DataFrame =
    asofJoin(left, right, leftKey, rightKey, leftTs, rightTs,
      rightPayload, rightTieBreak, "<=")

  /** ASOF with a tolerance bound (reference RowRefs.h:166-173 — the sorted
    * lookup returns the nearest row on the allowed side; a max-gap bound on
    * that nearest match is the standard ASOF tolerance form). A match
    * further than `tolerance` (in leftTs/rightTs units) from the left row
    * is nulled out — the row keeps left-join semantics, only the payload
    * columns become NULL, exactly like an unmatched ASOF row. Same
    * one-shuffle union-window plan: the tolerance check is a post-window
    * per-row predicate, so the cost profile is unchanged.
    */
  def asofJoinTolerance(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: Column, rightTs: Column,
      rightPayload: Seq[String],
      rightTieBreak: Column,
      tolerance: Long,
      op: String = "<="): DataFrame = {
    require(tolerance >= 0, "tolerance must be non-negative")
    // Carry the matched right row's timestamp alongside the payload, then
    // null every asof_ column where |leftTs - matchedTs| > tolerance.
    val rightWithTs = right.withColumn("__rts_payload", rightTs)
    val joined = asofJoin(left, rightWithTs, leftKey, rightKey,
      leftTs, rightTs, rightPayload :+ "__rts_payload", rightTieBreak, op)
    val gap = abs(leftTs - col("asof___rts_payload"))
    val inTol = col("asof___rts_payload").isNotNull && gap <= tolerance
    rightPayload.foldLeft(joined) { (d, c) =>
      d.withColumn(s"asof_$c", when(inTol, col(s"asof_$c")))
    }.drop("asof___rts_payload")
  }

  /** ANY RIGHT JOIN (reference src/Core/Joins.h:44 JoinStrictness::Any with
    * JoinKind::Right — RightAny): every RIGHT row appears exactly once,
    * matched to at most one (deterministic: min-by `pick`) LEFT row. The
    * mirror of anyLeftJoin: the LEFT side is deduplicated to one row per
    * key, then right-joined — one window pass over the smaller (dedup) side
    * plus one shuffle join, no fact-side blowup.
    */
  def anyRightJoin(left: DataFrame, right: DataFrame, key: String,
      pick: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(pick)
    val dedup = left.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    dedup.join(right, Seq(key), "right")
  }

  /** PASTE JOIN: positional zip of two frames in their given sort orders
    * (reference: PasteJoinTransform). Row index comes from
    * RDD.zipWithIndex — after a global orderBy the range partitioner makes
    * partition order = global order, so indexing stays distributed instead
    * of collapsing to one task the way a global row_number window would. */
  def pasteJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = zipWithRowIndex(left, "__idx")
    val r = zipWithRowIndex(right, "__idx_r")
    l.join(r, col("__idx") === col("__idx_r"), "inner")
      .drop("__idx", "__idx_r")
  }

  private def zipWithRowIndex(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(name, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex.map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** ANY (first-match) join strictness: deduplicate the right side to one
    * row per key — deterministically, by the min of `pick` — then plain
    * join. Reference: JoinStrictness::Any keeps the first matching right
    * row; this engine specs "first" as min-by(pick). */
  def anyLeftJoin(left: DataFrame, right: DataFrame, key: String,
      pick: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(pick)
    val dedup = right.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    left.join(dedup, Seq(key), "left")
  }

  /** dictGet: keyed lookup against a small dictionary table, planned as a
    * broadcast hash join (the Spark analog of the reference's in-memory
    * dictionary probe — O(1) per row, no shuffle of the fact side). */
  def dictGet(fact: DataFrame, dict: DataFrame, factKey: String,
      dictKey: String, attr: String, default: Column): DataFrame = {
    fact.join(broadcast(dict.select(col(dictKey), col(attr))),
        col(factKey) === col(dictKey), "left")
      .withColumn(attr, coalesce(col(attr), default))
      .drop(dictKey)
  }

  /** dictGetOrDefault — the explicit-default arm of dictGet
    * (FunctionsExternalDictionaries.h dictGetOrDefault): same broadcast
    * probe, the caller supplies the miss value. */
  def dictGetOrDefault(fact: DataFrame, dict: DataFrame, factKey: String,
      dictKey: String, attr: String, default: Column): DataFrame =
    dictGet(fact, dict, factKey, dictKey, attr, default)

  /** Ancestor closure of a parent-keyed dictionary
    * (FunctionsExternalDictionaries.h dictGetHierarchy): for every dict id,
    * the path [id, parent, grandparent, ...] up to the root (parent NULL or
    * absent from the dict). The loop self-joins only the SMALL dict table
    * (localCheckpoint per round keeps lineage flat); facts later join the
    * finished closure by broadcast, so the fact side never iterates. A
    * cycle or over-deep chain fails loudly at `maxDepth` — the reference
    * caps hierarchy depth the same way rather than spinning. */
  def hierarchyClosure(dict: DataFrame, id: String, parent: String,
      maxDepth: Int = 32): DataFrame = {
    var cur = dict
      .select(col(id).as("__k"), array(col(id)).as("__path"),
        col(parent).as("__next"))
      .localCheckpoint()
    var done = cur.filter(col("__next").isNull).select(col("__k"), col("__path"))
    var open = cur.filter(col("__next").isNotNull)
    var depth = 0
    while (!open.isEmpty) {
      depth += 1
      if (depth > maxDepth)
        throw new IllegalStateException(
          s"hierarchyClosure: chain deeper than $maxDepth — cycle in the " +
            s"dictionary's $parent links?")
      val step = open
        .join(dict.select(col(id).as("__next"), col(parent).as("__np")),
          Seq("__next"), "left")
        .select(col("__k"),
          concat(col("__path"), array(col("__next"))).as("__path"),
          col("__np").as("__next"))
        .localCheckpoint()
      done = done.unionByName(
        step.filter(col("__next").isNull).select(col("__k"), col("__path")))
      open = step.filter(col("__next").isNotNull)
    }
    done
  }

  /** dictGetHierarchy: attach the ancestor path array of `factKey` as
    * `out`; rows whose key misses the dictionary get an empty array (the
    * reference's behaviour for unknown keys). */
  def dictGetHierarchy(fact: DataFrame, dict: DataFrame, factKey: String,
      id: String, parent: String, out: String): DataFrame = {
    val closure = hierarchyClosure(dict, id, parent)
    val pathType = closure.schema("__path").dataType
    fact.join(broadcast(closure), col(factKey) === col("__k"), "left")
      .withColumn(out, coalesce(col("__path"), array().cast(pathType)))
      .drop("__k", "__path")
  }

  /** dictIsIn (FunctionsExternalDictionaries.h dictIsIn): true when
    * `ancestor` appears in the hierarchy chain of `factKey` (including
    * itself). One broadcast join against the closure. */
  def dictIsIn(fact: DataFrame, dict: DataFrame, factKey: String,
      ancestor: Column, id: String, parent: String, out: String): DataFrame =
    dictGetHierarchy(fact, dict, factKey, id, parent, "__h")
      .withColumn(out, array_contains(col("__h"), ancestor))
      .drop("__h")
}
