package graft.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types._

import ChBuild._

/** Aggregate functions (src/AggregateFunctions/registerAggregateFunctions
  * .cpp and the AggregateFunction* sources): distinct counts, the
  * quantile engine matrix (singular, plural, weighted, median aliases),
  * moments and correlation, the -If / -Array / -SimpleState combinator
  * spellings, group arrays, top-K and map aggregates, funnels and
  * sequences, statistical tests, and the ML regression states.
  *
  * Composite aggregate trees wrap each AggregateFunction in its
  * AggregateExpression explicitly (the analyzer only auto-wraps a
  * top-level one). CH `any` (first value) is NOT registered: Spark's
  * built-in `any` is bool_or, and shadowing it would silently change
  * standard-SQL semantics session-wide — the dialect rewriter maps
  * any( → any_value(. Zero-arg count() is a dialect rewrite too.
  */
object ChAggregates {

  /** Fold a literal/foldable numeric argument to its Double value. */
  private def foldDouble(e: Expression): Double = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }

  private def agg(f: AggregateFunction): Expression = f.toAggregateExpression()

  /** The reference's VarMoments (Moments.h): n and the raw power sums
    * Σx, Σx², Σx³, Σx⁴ are plain Sums, so partial states merge exactly
    * for integral inputs (Spark's Skewness/Kurtosis merge central
    * moments, whose rounding follows the merge order); the central
    * moment and the variance are then formed in the reference's operation
    * order. `order` is 3 (skewness) or 4 (kurtosis, not excess). NULL
    * for an empty or constant input, or a one-row sample, as Spark's own
    * moment aggregates answer. */
  private def standardMoment(x: Expression, order: Int, sample: Boolean): Expression = {
    def d(v: Double) = Literal(v)
    val v = asDouble(x)
    val v2 = Multiply(v, v)
    val n = asDouble(agg(Count(x)))
    val Seq(m1, m2, m3, m4) =
      Seq(v, v2, Multiply(v2, v), Multiply(v2, v2)).map(p => agg(Sum(p)))
    def mean(e: Expression) = Divide(Multiply(e, m1), n) // e·Σx / n
    val spread = Subtract(m2, mean(m1))
    val variance = Divide(spread, if (sample) Subtract(n, d(1)) else n)
    val central =
      if (order == 3)
        Subtract(m3, mean(Subtract(Multiply(d(3), m2), mean(Multiply(d(2), m1)))))
      else
        Subtract(m4, mean(Subtract(Multiply(d(4), m3),
          mean(Subtract(Multiply(d(6), m2), mean(Multiply(d(3), m1)))))))
    If(And(GreaterThan(n, d(if (sample) 1 else 0)), GreaterThan(spread, d(0))),
      Divide(Divide(central, n),
        if (order == 3) Pow(variance, d(1.5)) else Multiply(variance, variance)),
      Literal(null, DoubleType))
  }

  private def foldInt(e: Expression): Int = e.eval() match {
    case n: Number => n.intValue
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  // REAL merging t-digest (functions/QuantileSketches.scala) — δ=100
  // like the reference default
  private def quantileTDigest(args: Seq[Expression]): Expression =
    graft.functions.QuantileSketches.QuantileTDigest(args.head,
      if (args.length > 1) foldDouble(args(1)) else 0.5)

  // REAL fixed-histogram timing sketch (functions/TimingSketch.scala):
  // exact below 1024, 16-wide jittered bins to 30000, clamp above — the
  // reference's bin layout reproduced exactly
  private def quantileTiming(args: Seq[Expression]): Expression =
    graft.functions.TimingSketch.QuantileTiming(args.head,
      if (args.length > 1) foldDouble(args(1)) else 0.5)

  // REAL DDSketch (functions/QuantileSketches.scala): reference form
  // quantileDD(relative_accuracy[, level])(x) arrives post-parametric-
  // rewrite as (x, alpha[, q]) — relative-error guarantee alpha
  private def quantileDD(args: Seq[Expression]): Expression =
    graft.functions.QuantileSketches.QuantileDD(args.head,
      q = if (args.length > 2) foldDouble(args(2)) else 0.5,
      alpha = if (args.length > 1) foldDouble(args(1)) else 0.01)

  // discrete low/high medians (AggregateFunctionQuantileExact*.cpp)
  private def quantileExactLow(args: Seq[Expression]): Expression =
    if (args.length == 1) PercentileDisc(args.head, Literal(0.5))
    else PercentileDisc(args(0), args(1))

  private def quantileExactHigh(args: Seq[Expression]): Expression =
    if (args.length == 1)
      PercentileDisc(args.head, Literal(0.5), reverse = true)
    else PercentileDisc(args(0), Subtract(Literal(1.0d), args(1)),
      reverse = true)

  private def pctExact(args: Seq[Expression]): Expression =
    if (args.length == 1) new Percentile(args.head, Literal(0.5))
    else new Percentile(args(0), args(1))

  /** Weighted singular quantile engines → exact percentile with a
    * frequency expression (post-parametric-rewrite order is
    * (x, w[, p])). */
  private def weightedQ(args: Seq[Expression]): Expression =
    if (args.length == 2) new Percentile(args(0), Literal(0.5d), args(1))
    else new Percentile(args(0), args(2), args(1))

  /** Plural weighted forms: (x, w, p1, p2, …) → array percentile. */
  private def weightedQs(args: Seq[Expression]): Expression =
    new Percentile(args(0), CreateArray(args.drop(2)), args(1))

  /** Plural approx forms with one leading engine parameter
    * (accuracy/determinator): (x, param, p1, p2, …). */
  private def approxQsParam(args: Seq[Expression]): Expression =
    new ApproximatePercentile(args(0), CreateArray(args.drop(2)))

  /** The lower-triangle-symmetric pairwise matrix of `f` over the call's
    * columns, as array(array(double)). */
  private def matrixOf(cols: Seq[Expression],
      f: (Expression, Expression) => Expression): Expression =
    CreateArray(cols.map(a => CreateArray(cols.map(b =>
      Cast(f(Cast(a, DoubleType), Cast(b, DoubleType)), DoubleType)))))

  /** Sufficient-statistics least-squares fit: drop trailing literal
    * hyperparameters, aggregate the intercept-augmented Gram matrix and
    * RHS, solve at finalization. */
  private def linRegFit(args0: Seq[Expression]): Expression = {
    // trailing foldable literals are the reference's (lr, l2, batch,
    // 'method') parameters — the closed form ignores them
    val args = args0.reverse.dropWhile(_.isInstanceOf[Literal]).reverse
    require(args.length >= 2,
      "stochasticLinearRegression needs (target, feature...)")
    val y = Cast(args.head, DoubleType)
    val feats: Seq[Expression] =
      Literal(1.0) +: args.tail.map(Cast(_, DoubleType))
    val gram = for { fi <- feats; fj <- feats }
      yield Sum(Multiply(fi, fj)).toAggregateExpression()
    val rhs = feats.map(fi => Sum(Multiply(fi, y)).toAggregateExpression())
    org.apache.spark.sql.graft.SolveLinearSystem(CreateArray(gram ++ rhs))
  }

  /** Logistic fit = the linear fit's coefficients plus a trailing tag
    * element; evalMLMethod keys the sigmoid link off the extra length. */
  private def logRegFit(args: Seq[Expression]): Expression =
    Concat(Seq(linRegFit(args), CreateArray(Seq(Literal(1.0)))))

  /** (value, pair-second) rows collected per group for the
    * array-kernel aggregates. */
  private def collectedPairs(a: Expression, b: Expression): Expression =
    agg(CollectList(CreateStruct(Seq(asDouble(a), asDouble(b)))))
  private val pairArrayType =
    ArrayType(StructType(Seq(StructField("a", DoubleType),
      StructField("b", DoubleType))))

  private val ttestType = StructType(Seq(
    StructField("t_statistic", DoubleType),
    StructField("p_value", DoubleType)))

  private def intervalsOf(args: Seq[Expression]): Expression =
    collectedPairs(args(0), args(1))

  private def tsPair(args: Seq[Expression]): Expression =
    agg(CollectList(CreateStruct(Seq(asDouble(args(0)), asLong(args(1))))))
  private val tsPairType = ArrayType(StructType(Seq(
    StructField("v", DoubleType), StructField("s", LongType))))

  /** Quantile-style params arrive appended after the main args (the
    * parametric rewrite). sumMapFiltered(keys)(k, v) → (k, v, keys):
    * filter the key lane before aggregation. */
  private def mapAgg(op: String, args: Seq[Expression]): Expression = {
    val key0 = Cast(args(0), StringType)
    val key =
      if (args.length > 2) // sumMapFiltered keys literal
        If(ArrayContains(Cast(args(2), ArrayType(StringType)), key0),
          key0, Literal.create(null, StringType))
      else key0
    val value = asDouble(args(1))
    val c = op match {
      case "sum" => graft.functions.aggregates.CustomAggregates.sumMap(
        ExprColumn.column(key), ExprColumn.column(value))
      case "min" => graft.functions.aggregates.CustomAggregates.minMap(
        ExprColumn.column(key), ExprColumn.column(value))
      case _ => graft.functions.aggregates.CustomAggregates.maxMap(
        ExprColumn.column(key), ExprColumn.column(value))
    }
    ExprColumn.resolvedExpression(c)
  }

  /** Per-row (tsMicros, condition bitmask) struct for the sequence
    * kernels, collected per group. */
  private val seqPairType = ArrayType(StructType(Seq(
    StructField("ts", LongType), StructField("mask", LongType))))
  private def seqEvents(ts: Expression,
      conds: Seq[Expression]): Expression = {
    val mask = conds.zipWithIndex.map { case (c, i) =>
      If(Cast(c, BooleanType), Literal(1L << i), Literal(0L))
    }.reduceLeft[Expression]((a, b) => BitwiseOr(a, b))
    agg(CollectList(CreateStruct(Seq(
      UnixMicros(Cast(ts, TimestampType)), mask))))
  }

  private def structField(e: Expression, f: String): Expression =
    org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
      e, Literal(f))

  /** distinctJSONPathsAndTypes: per-row path→type maps merged into one
    * Map(path → sorted distinct types) (AggregateFunctionDistinct
    * JSONPaths.cpp family; the per-row walk is the jsonAllPathsWithTypes
    * kernel). */
  private def distinctPathsAndTypes(x: Expression): Expression = {
    val perRow = MapEntries(sweep9(
      MapType(StringType, StringType), "jsonAllPathsWithTypes",
      Seq(x), Seq(StringType)))
    def all: Expression =
      ArrayDistinct(Flatten(agg(CollectList(perRow))))
    val paths = new SortArray(ArrayDistinct(
      ArrayTransform(all, lam1(e => structField(e, "key")))))
    MapFromEntries(ArrayTransform(paths, lam1(p =>
      CreateStruct(Seq(p, new SortArray(ArrayDistinct(ArrayTransform(
        ArrayFilter(all, lam1(e =>
          EqualTo(structField(e, "key"), p))),
        lam1(e => structField(e, "value"))))))))))
  }

  val builders: Seq[(String, Builder)] = Seq(
    // aggregates (registerAggregateFunctions.cpp)
    "uniq" -> (args => HyperLogLogPlusPlus(args.head)),
    "uniqhll12" -> (args => HyperLogLogPlusPlus(args.head)),
    "uniqcombined" -> (args => HyperLogLogPlusPlus(args.head)),

    // uniqCombined64 (uniqCombined.cpp:64-bit variant): same HLL++
    // estimator carrier as uniqCombined here
    "uniqcombined64" -> (args => HyperLogLogPlusPlus(args.head)),
    // uniqTheta (src/Functions/UniqTheta/): the KMV theta estimator
    // (functions/ThetaSketch.scala), k=1024 nominal entries like the
    // reference default
    "uniqtheta" -> (args => graft.functions.ThetaSketch.UniqTheta(args.head)),
    "uniqexact" -> (args => Count(args).toAggregateExpression(isDistinct = true)),
    "anylast" -> (args => Last(args.head, ignoreNulls = true)),
    "argmin" -> (args => MinBy(args(0), args(1))),
    "argmax" -> (args => MaxBy(args(0), args(1))),
    // heavy-hitter single value (AggregateFunctionAnyHeavy.cpp) — the
    // mode is the deterministic heavy hitter when one exists
    "anyheavy" -> (args => Mode(args.head)),
    // singleValueOrNull.cpp: the lone value of the group, NULL once a
    // second distinct value appears
    "singlevalueornull" -> (args => If(
      EqualTo(AggregateExpression(Count(Seq(args.head)), Complete,
        isDistinct = true), Literal(1L)),
      AggregateExpression(Min(args.head), Complete, isDistinct = false),
      Literal.create(null, NullType))),

    // ---- quantile engines (AggregateFunctionQuantile*.cpp) ----
    "quantile" -> pctExact _,
    "quantileexact" -> pctExact _,
    "quantiletdigest" -> quantileTDigest _,
    "quantiletiming" -> quantileTiming _,
    "quantiledd" -> quantileDD _,
    "quantilegk" -> (args =>
      if (args.length == 1) new ApproximatePercentile(args.head, Literal(0.5))
      else new ApproximatePercentile(args(0), args(1))),
    "quantilebfloat16" -> (args =>
      if (args.length == 1) new ApproximatePercentile(args.head, Literal(0.5))
      else new ApproximatePercentile(args(0), args(1))),
    "quantiledeterministic" -> (args =>
      if (args.length <= 2) new ApproximatePercentile(args.head, Literal(0.5))
      else new ApproximatePercentile(args(0), args(2))),
    "quantileinterpolatedweighted" -> (args =>
      // weighted interpolated quantile ≈ exact percentile with frequency
      // weights (Percentile supports a frequency expression).
      if (args.length == 2) new Percentile(args(0), Literal(0.5), args(1))
      else new Percentile(args(0), args(2), args(1))),
    "quantileexactweighted" -> (args =>
      if (args.length == 2) new Percentile(args(0), Literal(0.5), args(1))
      else new Percentile(args(0), args(2), args(1))),
    "quantileexactinclusive" -> pctExact,
    "quantileexactexclusive" -> pctExact,
    "quantileexactlow" -> quantileExactLow _,
    "quantileexacthigh" -> quantileExactHigh _,

    // plural multi-quantile forms (dialect rearranges the parametric
    // call syntax quantiles(p1, p2)(x) → quantiles(x, p1, p2))
    "quantiles" -> (args =>
      new Percentile(args.head, CreateArray(args.tail))),
    "quantilesexact" -> (args =>
      new Percentile(args.head, CreateArray(args.tail))),
    "quantilestdigest" -> (args =>
      new ApproximatePercentile(args.head, CreateArray(args.tail))),
    "quantilestiming" -> (args =>
      new ApproximatePercentile(args.head, CreateArray(args.tail))),
    // plural discrete-quantile forms (AggregateFunctionQuantileExact*.cpp)
    "quantilesexactlow" -> (args => CreateArray(args.tail.map(p =>
      AggregateExpression(PercentileDisc(args.head, p), Complete,
        isDistinct = false): Expression))),
    "quantilesexacthigh" -> (args => CreateArray(args.tail.map(p =>
      AggregateExpression(
        PercentileDisc(args.head, Subtract(Literal(1.0d), p), reverse = true),
        Complete, isDistinct = false): Expression))),
    // -- quantile engine matrix completion (weighted + plural names;
    // AggregateFunctionQuantile.cpp registers every engine in both
    // singular and plural spellings, weighted twins included)
    "quantiletimingweighted" -> weightedQ _,
    "quantiletdigestweighted" -> weightedQ _,
    "quantilebfloat16weighted" -> weightedQ _,
    "quantileexactweightedinterpolated" -> weightedQ _,
    "quantilesexactweighted" -> weightedQs _,
    "quantilesexactweightedinterpolated" -> weightedQs _,
    "quantilesinterpolatedweighted" -> weightedQs _,
    "quantilestimingweighted" -> weightedQs _,
    "quantilestdigestweighted" -> weightedQs _,
    "quantilesbfloat16weighted" -> weightedQs _,
    "quantilesbfloat16" -> (args =>
      new ApproximatePercentile(args(0), CreateArray(args.tail))),
    "quantilesexactexclusive" -> (args =>
      new Percentile(args(0), CreateArray(args.tail))),
    "quantilesexactinclusive" -> (args =>
      new Percentile(args(0), CreateArray(args.tail))),
    "quantilesgk" -> approxQsParam _,
    "quantilesdeterministic" -> approxQsParam _,
    "quantilesdd" -> (args => CreateArray(args.drop(2).map(p =>
      agg(graft.functions.QuantileSketches.QuantileDD(args(0),
        q = foldDouble(p), alpha = foldDouble(args(1))))))),
    "medianexact" -> (args => new Percentile(args.head, Literal(0.5))),
    "medianbfloat16" -> (args =>
      new ApproximatePercentile(args.head, Literal(0.5))),
    "medianbfloat16weighted" -> (args =>
      new Percentile(args(0), Literal(0.5), args(1))),
    "mediandd" -> (args => quantileDD(args :+ Literal(0.5))),
    "mediandeterministic" -> (args =>
      new ApproximatePercentile(args.head, Literal(0.5))),
    "medianexacthigh" -> (args =>
      quantileExactHigh(
        args :+ Literal(0.5))),
    "medianexactlow" -> (args =>
      quantileExactLow(
        args :+ Literal(0.5))),
    "medianexactweighted" -> (args =>
      new Percentile(args(0), Literal(0.5), args(1))),
    "medianexactweightedinterpolated" -> (args =>
      new Percentile(args(0), Literal(0.5), args(1))),
    "mediangk" -> (args =>
      new ApproximatePercentile(args.head, Literal(0.5))),
    "medianinterpolatedweighted" -> (args =>
      new Percentile(args(0), Literal(0.5), args(1))),
    "mediantdigest" -> (args => quantileTDigest(args :+ Literal(0.5))),
    "mediantdigestweighted" -> (args =>
      new Percentile(args(0), Literal(0.5), args(1))),
    "mediantiming" -> (args => quantileTiming(args :+ Literal(0.5))),
    "mediantimingweighted" -> (args =>
      new Percentile(args(0), Literal(0.5), args(1))),

    // ---- moments, sums and combinator spellings ----
    "stddevpop" -> (args => StddevPop(args.head)),
    "stddevsamp" -> (args => StddevSamp(args.head)),
    "varpop" -> (args => VariancePop(args.head)),
    "varsamp" -> (args => VarianceSamp(args.head)),
    "covarpop" -> (args => CovPopulation(args(0), args(1))),
    "covarsamp" -> (args => CovSample(args(0), args(1))),
    "stddevsampstable" -> (args => StddevSamp(args.head)),
    "stddevpopstable" -> (args => StddevPop(args.head)),
    "varsampstable" -> (args => VarianceSamp(args.head)),
    "varpopstable" -> (args => VariancePop(args.head)),
    // corrMatrix / covarSampMatrix / covarPopMatrix
    // (AggregateFunctionCorrMatrix.cpp family): the N×N pairwise matrix
    // as array(array(double)) — N is the call arity, so the tree is a
    // static composition of the pairwise aggregates
    "corrmatrix" -> (args => matrixOf(args, (a, b) =>
      AggregateExpression(Corr(a, b), Complete, isDistinct = false))),
    "covarsampmatrix" -> (args => matrixOf(args, (a, b) =>
      AggregateExpression(CovSample(a, b), Complete, isDistinct = false))),
    "covarpopmatrix" -> (args => matrixOf(args, (a, b) =>
      AggregateExpression(CovPopulation(a, b), Complete, isDistinct = false))),
    "countif" -> (args => Count(Seq(If(args.head, Literal(1), Literal.create(null, IntegerType))))),

    // aggregate aliases (registerAggregateFunctions.cpp tail)
    "sumkahan" -> (args => Sum(args.head)),
    "sumwithoverflow" -> (args => Sum(args.head)),
    // -If combinator forms (conditional aggregation; sumIf matches the
    // reference's 0-on-empty, the others keep SQL NULL-on-empty)
    "sumif" -> (args =>
      Coalesce(Seq(
        Sum(If(args(1), args(0), Literal.create(null, NullType)))
          .toAggregateExpression(),
        Literal(0)))),
    "avgif" -> (args =>
      Average(If(args(1), args(0), Literal.create(null, NullType)))),
    "minif" -> (args =>
      Min(If(args(1), args(0), Literal.create(null, NullType)))),
    "maxif" -> (args =>
      Max(If(args(1), args(0), Literal.create(null, NullType)))),
    "avgweighted" -> (args =>
      Divide(
        Sum(Multiply(asDouble(args(0)), asDouble(args(1))))
          .toAggregateExpression(),
        Sum(asDouble(args(1))).toAggregateExpression())),

    // SimpleAggregateFunction's carrier IS the plain value
    // (DataTypeCustomSimpleAggregateFunction), so the -SimpleState forms
    // of simple aggregates alias the aggregates themselves
    "minsimplestate" -> (args => Min(args.head)),
    "maxsimplestate" -> (args => Max(args.head)),
    "sumsimplestate" -> (args => Sum(args.head)),

    // -Array combinator forms: aggregate over all elements of all rows'
    // arrays (flatten-collect composition; exact)
    "uniqarray" -> (args =>
      Size(ArrayDistinct(Flatten(
        CollectList(args.head).toAggregateExpression())))),
    "sumarray" -> (args =>
      Coalesce(Seq(
        ArrayAggregate(
          Flatten(CollectList(args.head).toAggregateExpression()),
          Literal(0.0d), lam2(Add(_, _)), LambdaFunction.identity),
        Literal(0.0d)))),
    "minarray" -> (args =>
      ArrayMin(Flatten(CollectList(args.head).toAggregateExpression()))),
    "maxarray" -> (args =>
      ArrayMax(Flatten(CollectList(args.head).toAggregateExpression()))),

    // wide-integer aggregation over the string carrier
    // (AggregateFunctionSum.h Int128/Int256 lanes — see WideAggregates for
    // the exact buffer design and the exact-sum-vs-wrap deviation note)
    "sumwide" -> (args => graft.functions.WideAggregates.WideSum(args.head)),
    "minwide" -> (args =>
      graft.functions.WideAggregates.WideExtreme(args.head, isMax = false)),
    "maxwide" -> (args =>
      graft.functions.WideAggregates.WideExtreme(args.head, isMax = true)),
    "avgwide" -> (args => graft.functions.WideAggregates.WideAvg(args.head)),

    // window-function names (WindowDescription.h): the InFrame forms are
    // plain lag/lead under Spark's frame semantics
    "laginframe" -> (args => args.length match {
      case 1 => Lag(args(0), Literal(1), Literal(null), ignoreNulls = false)
      case 2 => Lag(args(0), args(1), Literal(null), ignoreNulls = false)
      case _ => Lag(args(0), args(1), args(2), ignoreNulls = false)
    }),
    "leadinframe" -> (args => args.length match {
      case 1 => Lead(args(0), Literal(1), Literal(null), ignoreNulls = false)
      case 2 => Lead(args(0), args(1), Literal(null), ignoreNulls = false)
      case _ => Lead(args(0), args(1), args(2), ignoreNulls = false)
    }),
    "nthvalue" -> (args => NthValue(args(0), args(1), ignoreNulls = false)),
    "firstvalue" -> (args => First(args.head, ignoreNulls = false)),
    "lastvalue" -> (args => Last(args.head, ignoreNulls = false)),

    // ---- group arrays ----
    "grouparray" -> (args => CollectList(args.head)),
    "groupuniqarray" -> (args => CollectSet(args.head)),
    // groupArrayLast(n)(x) (groupArray.cpp last_size form): the last n
    // buffer values — negative-start slice of the collected array (same
    // insertion-order caveat as groupArray itself)
    "grouparraylast" -> (args => {
      val n = Cast(args(1), IntegerType)
      Slice(AggregateExpression(CollectList(args.head), Complete,
        isDistinct = false), UnaryMinus(n), n)
    }),
    // groupArraySample(n)(x) (groupArraySample.cpp reservoir): rendered
    // as the xxhash64-ordered prefix — a deterministic uniform sample
    // (the reference's seeded reservoir is likewise pseudo-random; the
    // hash order makes ours reproducible across runs and engines given
    // the same values)
    "grouparraysample" -> (args => {
      val n = Cast(args(1), IntegerType)
      val lst = AggregateExpression(CollectList(args.head), Complete,
        isDistinct = false)
      val v1 = UnresolvedNamedLambdaVariable(Seq("ch_gs_a"))
      val toKeyed = LambdaFunction(
        CreateNamedStruct(Seq(Literal("h"), XxHash64(Seq(v1), 42L),
          Literal("v"), v1)), Seq(v1))
      val v2 = UnresolvedNamedLambdaVariable(Seq("ch_gs_b"))
      val unkey = LambdaFunction(
        UnresolvedExtractValue(v2, Literal("v")), Seq(v2))
      ArrayTransform(
        Slice(SortArray(ArrayTransform(lst, toKeyed), Literal(true)),
          Literal(1), n),
        unkey)
    }),
    // groupArrayMovingSum/Avg (groupArrayMoving.cpp, no-window form):
    // running prefix sums over the group's collected values — O(n²)
    // interpreted folds, acceptable at group granularity (the reference
    // evaluates per-group state the same way)
    "grouparraymovingsum" -> (args => {
      val lst = AggregateExpression(
        CollectList(Cast(args.head, DoubleType)), Complete,
        isDistinct = false)
      val i = UnresolvedNamedLambdaVariable(Seq("ch_ms_i"))
      val a = UnresolvedNamedLambdaVariable(Seq("ch_ms_a"))
      val b = UnresolvedNamedLambdaVariable(Seq("ch_ms_b"))
      ArrayTransform(
        Sequence(Literal(1), Size(lst), None),
        LambdaFunction(
          ArrayAggregate(Slice(lst, Literal(1), i), Literal(0.0d),
            LambdaFunction(Add(a, b), Seq(a, b)),
            LambdaFunction.identity),
          Seq(i)))
    }),
    "grouparraymovingavg" -> (args => {
      val lst = AggregateExpression(
        CollectList(Cast(args.head, DoubleType)), Complete,
        isDistinct = false)
      val i = UnresolvedNamedLambdaVariable(Seq("ch_ma_i"))
      val a = UnresolvedNamedLambdaVariable(Seq("ch_ma_a"))
      val b = UnresolvedNamedLambdaVariable(Seq("ch_ma_b"))
      ArrayTransform(
        Sequence(Literal(1), Size(lst), None),
        LambdaFunction(
          Divide(
            ArrayAggregate(Slice(lst, Literal(1), i), Literal(0.0d),
              LambdaFunction(Add(a, b), Seq(a, b)),
              LambdaFunction.identity),
            Cast(i, DoubleType)),
          Seq(i)))
    }),
    // -- array_concat_agg = the groupArrayArray (-Array combinator)
    // alias (AggregateFunctionFactory alias, case-insensitive)
    "array_concat_agg" -> (args =>
      Flatten(agg(CollectList(args.head)))),
    "grouparrayarray" -> (args =>
      Flatten(agg(CollectList(args.head)))),
    "corrstable" -> (args => Corr(asDouble(args(0)), asDouble(args(1)))),
    "covarpopstable" -> (args =>
      CovPopulation(asDouble(args(0)), asDouble(args(1)))),
    "covarsampstable" -> (args =>
      CovSample(asDouble(args(0)), asDouble(args(1)))),

    // RespectNulls spellings (AggregateFunctionAny.cpp respect_nulls
    // registrations): First/Last with ignoreNulls = false
    "anyrespectnulls" -> (args => First(args.head, ignoreNulls = false)),
    "any_respect_nulls" -> (args => First(args.head, ignoreNulls = false)),
    "anyvaluerespectnulls" -> (args => First(args.head, ignoreNulls = false)),
    "any_value_respect_nulls" -> (args =>
      First(args.head, ignoreNulls = false)),
    "firstvaluerespectnulls" -> (args =>
      First(args.head, ignoreNulls = false)),
    "first_value_respect_nulls" -> (args =>
      First(args.head, ignoreNulls = false)),
    "anylastrespectnulls" -> (args => Last(args.head, ignoreNulls = false)),
    "anylast_respect_nulls" -> (args => Last(args.head, ignoreNulls = false)),
    "lastvaluerespectnulls" -> (args => Last(args.head, ignoreNulls = false)),
    "last_value_respect_nulls" -> (args =>
      Last(args.head, ignoreNulls = false)),

    // groupBit* (AggregateFunctionBitwise.cpp) — Spark's bit aggregates
    "groupbitand" -> (args => BitAndAgg(args.head)),
    "groupbitor" -> (args => BitOrAgg(args.head)),
    "groupbitxor" -> (args => BitXorAgg(args.head)),

    // groupConcat[(sep)] (AggregateFunctionGroupConcat.cpp): join the
    // collected values; input order is unspecified in both engines
    "groupconcat" -> (args =>
      ArrayJoin(agg(CollectList(Cast(args.head, StringType))),
        if (args.length > 1) args(1) else Literal(""), None)),
    "group_concat" -> (args =>
      ArrayJoin(agg(CollectList(Cast(args.head, StringType))),
        if (args.length > 1) args(1) else Literal(""), None)),

    // groupArraySorted(n)(x) (AggregateFunctionGroupArraySorted.cpp):
    // the n smallest values, ascending
    "grouparraysorted" -> (args =>
      Slice(new SortArray(agg(CollectList(args.head))), Literal(1),
        if (args.length > 1) args(1) else Literal(10))),

    // skew/kurt (AggregateFunctionStatisticsSimple.cpp over Moments.h
    // VarMoments): the standardized third/fourth central moment, from
    // the raw power sums; the Samp forms divide by the sample variance
    "skewpop" -> (args => standardMoment(args.head, 3, sample = false)),
    "skewsamp" -> (args => standardMoment(args.head, 3, sample = true)),
    "kurtpop" -> (args => standardMoment(args.head, 4, sample = false)),
    "kurtsamp" -> (args => standardMoment(args.head, 4, sample = true)),

    // sumCount (AggregateFunctionSumCount.cpp): (sum, count) tuple
    "sumcount" -> (args => CreateNamedStruct(Seq(
      Literal("sum"), agg(Sum(args.head)),
      Literal("count"), agg(Count(args.head))))),

    // boundingRatio (AggregateFunctionBoundingRatio.h): slope between
    // the leftmost and rightmost points = Δy(extreme xs)/Δx
    "boundingratio" -> (args => {
      val x = asDouble(args(0)); val y = asDouble(args(1))
      Divide(
        Subtract(agg(MaxBy(y, x)), agg(MinBy(y, x))),
        Subtract(agg(Max(x)), agg(Min(x))))
    }),

    // simpleLinearRegression (AggregateFunctionSimpleLinearRegression
    // .cpp): least-squares (k, b) via Spark's regr_* aggregates
    "simplelinearregression" -> (args => {
      val x = asDouble(args(0)); val y = asDouble(args(1))
      CreateNamedStruct(Seq(
        Literal("k"), agg(RegrSlope(y, x)),
        Literal("b"), agg(RegrIntercept(y, x))))
    }),

    // retention (AggregateFunctionRetention.cpp): r[0] = max(cond1),
    // r[i] = max(cond1 AND cond_i) — an array of aggregate lanes
    "retention" -> (args => CreateArray(
      Cast(agg(Max(Cast(args.head, BooleanType))), IntegerType) +:
        args.tail.map(c => Cast(agg(Max(And(Cast(args.head, BooleanType),
          Cast(c, BooleanType)))), IntegerType)))),

    // uniqUpTo(n)(x) (AggregateFunctionUniqUpTo.h): "more than n"
    // reports n+1 — LEAST(uniqExact, n+1)
    "uniqupto" -> (args => Least(Seq(
      Count(Seq(args.head)).toAggregateExpression(isDistinct = true),
      asLong(Add(args(1), Literal(1)))))),

    // topK / topKWeighted + the approx_top_* aliases
    // (AggregateFunctionTopK.cpp; exact map under the hood — the
    // SpaceSaving-capped lane is CustomAggregates.topKApprox)
    "topk" -> (args => ExprColumn.resolvedExpression(
      graft.functions.aggregates.CustomAggregates.topK(
        if (args.length > 1) foldInt(args(1)) else 10)(
        ExprColumn.column(Cast(args.head, StringType))))),
    "approx_top_count" -> (args => ExprColumn.resolvedExpression(
      graft.functions.aggregates.CustomAggregates.topK(
        if (args.length > 1) foldInt(args(1)) else 10)(
        ExprColumn.column(Cast(args.head, StringType))))),
    "topkweighted" -> (args => ExprColumn.resolvedExpression(
      graft.functions.aggregates.CustomAggregates.topKWeighted(
        if (args.length > 2) foldInt(args(2)) else 10)(
        ExprColumn.column(Cast(args(0), StringType)),
        ExprColumn.column(asLong(args(1)))))),
    "approx_top_sum" -> (args => ExprColumn.resolvedExpression(
      graft.functions.aggregates.CustomAggregates.topKWeighted(
        if (args.length > 2) foldInt(args(2)) else 10)(
        ExprColumn.column(Cast(args(0), StringType)),
        ExprColumn.column(asLong(args(1)))))),

    // sumMap / minMap / maxMap SQL spellings + the MappedArrays
    // aliases (AggregateFunctionSumMap.cpp; typed aggregators —
    // string-rendered keys, fixed-point sums: documented carrier)
    "summap" -> (args => mapAgg("sum", args)),
    "summappedarrays" -> (args => mapAgg("sum", args)),
    "summapwithoverflow" -> (args => mapAgg("sum", args)),
    "minmap" -> (args => mapAgg("min", args)),
    "minmappedarrays" -> (args => mapAgg("min", args)),
    "maxmap" -> (args => mapAgg("max", args)),
    "maxmappedarrays" -> (args => mapAgg("max", args)),
    "summapfiltered" -> (args => mapAgg("sum", args)),
    "summapfilteredwithoverflow" -> (args => mapAgg("sum", args)),

    // windowFunnel(window)(ts, cond1..condN)
    // (AggregateFunctionWindowFunnel.cpp): greedy-from-earliest chain
    // depth within the window — the registered SQL spelling of the
    // existing typed aggregator
    "windowfunnel" -> (args => {
      val conds = args.tail.dropRight(1)
      val window = foldDouble(args.last).toLong * 1000000L
      val step = conds.zipWithIndex.foldRight(Literal(-1): Expression) {
        case ((c, i), els) =>
          If(Cast(c, BooleanType), Literal(i), els)
      }
      ExprColumn.resolvedExpression(
        graft.functions.aggregates.CustomAggregates.windowFunnel(
          window, conds.length)(
          ExprColumn.column(UnixMicros(Cast(args.head, TimestampType))),
          ExprColumn.column(step)))
    }),

    // sequenceMatch / sequenceCount (AggregateFunctionSequenceMatch.h)
    // — the (?N)/.* pattern subset over a per-group event buffer
    "sequencematch" -> (args => {
      val conds = args.tail.dropRight(1)
      sweep9(BooleanType, "sequenceMatch",
        Seq(args.last, seqEvents(args.head, conds)),
        Seq(StringType, seqPairType))
    }),
    "sequencecount" -> (args => {
      val conds = args.tail.dropRight(1)
      sweep9(LongType, "sequenceCount",
        Seq(args.last, seqEvents(args.head, conds)),
        Seq(StringType, seqPairType))
    }),

    // sequenceMatchEvents: timestamps of the first match
    "sequencematchevents" -> (args => {
      val conds = args.tail.dropRight(1)
      sweep9(ArrayType(LongType), "sequenceMatchEvents",
        Seq(args.last, seqEvents(args.head, conds)),
        Seq(StringType, seqPairType))
    }),

    // sequenceNextNode(direction, base)(ts, event, base_cond, conds…):
    // the event value of the node after the matched chain
    "sequencenextnode" -> (args => {
      // post-parametric order: (ts, event, base_cond, cond…, dir, base)
      val dir = args(args.length - 2)
      val base = args.last
      val conds = args.drop(3).dropRight(2)
      val mask =
        if (conds.isEmpty) Literal(0L)
        else conds.zipWithIndex.map { case (c, i) =>
          If(Cast(c, BooleanType), Literal(1L << i), Literal(0L))
        }.reduceLeft[Expression]((a, b) => BitwiseOr(a, b))
      val rows = agg(CollectList(CreateStruct(Seq(
        UnixMicros(Cast(args(0), TimestampType)),
        Cast(args(1), StringType),
        Cast(Cast(args(2), BooleanType), LongType),
        mask))))
      sweep9(StringType, "sequenceNextNode",
        Seq(Cast(dir, StringType), Cast(base, StringType), rows,
          Literal(conds.length)),
        Seq(StringType, StringType,
          ArrayType(StructType(Seq(StructField("ts", LongType),
            StructField("ev", StringType), StructField("cb", LongType),
            StructField("m", LongType)))), IntegerType))
    }),

    // exponentialMovingAverage(halfLife)(v, t)
    "exponentialmovingaverage" -> (args =>
      sweep9(DoubleType, "exponentialMovingAverage",
        Seq(collectedPairs(args(0), args(1)), args(2)),
        Seq(pairArrayType, DoubleType))),

    // rank correlation + the two t tests (p-values from the published
    // incomplete-beta formulas — see SweepKernels9)
    "rankcorr" -> (args =>
      sweep9(DoubleType, "rankCorr",
        Seq(collectedPairs(args(0), args(1))), Seq(pairArrayType))),
    "studentttest" -> (args =>
      sweep9(ttestType, "studentTTest",
        Seq(agg(CollectList(CreateStruct(Seq(asDouble(args(0)),
          asLong(args(1))))))),
        Seq(ArrayType(StructType(Seq(StructField("v", DoubleType),
          StructField("s", LongType))))))),
    "welchttest" -> (args =>
      sweep9(ttestType, "welchTTest",
        Seq(agg(CollectList(CreateStruct(Seq(asDouble(args(0)),
          asLong(args(1))))))),
        Seq(ArrayType(StructType(Seq(StructField("v", DoubleType),
          StructField("s", LongType))))))),

    // lttb(n)(x, y) — Steinarsson's published downsampler
    "lttb" -> (args =>
      sweep9(ArrayType(StructType(Seq(StructField("x", DoubleType),
        StructField("y", DoubleType)))), "lttb",
        Seq(collectedPairs(args(0), args(1)), Cast(args(2), IntegerType)),
        Seq(pairArrayType, IntegerType))),
    "largesttrianglethreebuckets" -> (args =>
      sweep9(ArrayType(StructType(Seq(StructField("x", DoubleType),
        StructField("y", DoubleType)))), "lttb",
        Seq(collectedPairs(args(0), args(1)), Cast(args(2), IntegerType)),
        Seq(pairArrayType, IntegerType))),

    // sparkbar(width)(x, y)
    "sparkbar" -> (args =>
      sweep9(StringType, "sparkbar",
        Seq(collectedPairs(args(0), args(1)), Cast(args(2), IntegerType)),
        Seq(pairArrayType, IntegerType))),

    // groupArrayIntersect — kernel over the collected arrays
    "grouparrayintersect" -> (args =>
      sweep9(ArrayType(LongType), "groupArrayIntersect",
        Seq(agg(CollectList(Cast(args.head, ArrayType(LongType))))),
        Seq(ArrayType(ArrayType(LongType))))),
    // entropy (AggregateFunctionEntropy.h): Shannon bits over the
    // value distribution — per-group frequency kernel
    "entropy" -> (args =>
      sweep9(DoubleType, "entropy",
        Seq(agg(CollectList(Cast(args.head, StringType)))),
        Seq(ArrayType(StringType)))),

    // histogram(bins)(x): equal-width (lower, upper, height) triples
    // (adaptive-merge bin EDGES differ — documented in the kernel)
    "histogram" -> (args =>
      sweep9(ArrayType(StructType(Seq(StructField("lower", DoubleType),
        StructField("upper", DoubleType),
        StructField("height", DoubleType)))), "histogram",
        Seq(agg(CollectList(asDouble(args.head))),
          Cast(args.lift(1).getOrElse(Literal(10)), IntegerType)),
        Seq(ArrayType(DoubleType), IntegerType))),

    // interval sweeps (AggregateFunctionMaxIntersections.cpp,
    // AggregateFunctionIntervalLengthSum.h)
    "maxintersections" -> (args =>
      sweep9(LongType, "maxIntersections", Seq(intervalsOf(args)),
        Seq(pairArrayType))),
    "maxintersectionsposition" -> (args =>
      sweep9(DoubleType, "maxIntersectionsPosition", Seq(intervalsOf(args)),
        Seq(pairArrayType))),
    "intervallengthsum" -> (args =>
      sweep9(DoubleType, "intervalLengthSum", Seq(intervalsOf(args)),
        Seq(pairArrayType))),

    // remaining statistical tests (p-values from the published
    // erfc / incomplete-beta / Kolmogorov-series formulas)
    "meanztest" -> (args =>
      sweep9(ttestType, "meanZTest",
        Seq(tsPair(Seq(args(0), args(1))), asDouble(args(2)),
          asDouble(args(3))),
        Seq(tsPairType, DoubleType, DoubleType))),
    "mannwhitneyutest" -> (args =>
      sweep9(StructType(Seq(StructField("u_statistic", DoubleType),
        StructField("p_value", DoubleType))), "mannWhitneyUTest",
        Seq(tsPair(args.take(2))), Seq(tsPairType))),
    "kolmogorovsmirnovtest" -> (args =>
      sweep9(StructType(Seq(StructField("d_statistic", DoubleType),
        StructField("p_value", DoubleType))), "kolmogorovSmirnovTest",
        Seq(tsPair(args.take(2))), Seq(tsPairType))),
    "analysisofvariance" -> (args =>
      sweep9(StructType(Seq(StructField("f_statistic", DoubleType),
        StructField("p_value", DoubleType))), "anova",
        Seq(tsPair(args.take(2))), Seq(tsPairType))),
    "anova" -> (args =>
      sweep9(StructType(Seq(StructField("f_statistic", DoubleType),
        StructField("p_value", DoubleType))), "anova",
        Seq(tsPair(args.take(2))), Seq(tsPairType))),

    // deltaSumTimestamp(value, ts): positive deltas in TIMESTAMP order —
    // the ordering column makes it deterministic, unlike deltaSum
    "deltasumtimestamp" -> (args =>
      sweep9(DoubleType, "deltaSumTimestamp",
        Seq(agg(CollectList(CreateStruct(Seq(asDouble(args(0)),
          asDouble(Cast(Cast(args(1), TimestampType), DoubleType))))))),
        Seq(pairArrayType))),

    // groupArrayInsertAt(x, pos) — string value carrier (documented)
    "grouparrayinsertat" -> (args =>
      sweep9(ArrayType(StringType), "groupArrayInsertAt",
        Seq(agg(CollectList(CreateStruct(Seq(asLong(args(1)),
          Cast(args(0), StringType)))))),
        Seq(ArrayType(StructType(Seq(StructField("pos", LongType),
          StructField("v", StringType))))))),

    // categoricalInformationValue(cat1..catN, tag)
    // (AggregateFunctionCategoricalInformationValue.h): per-category
    // IV = (a/A − b/B)·ln(aB/(bA)) — pure aggregate arithmetic
    "categoricalinformationvalue" -> (args => {
      val tag = Cast(args.last, BooleanType)
      val cats = args.dropRight(1)
      def cnt(p: Expression) =
        asDouble(agg(Sum(Cast(Cast(p, BooleanType), IntegerType))))
      val bigA = cnt(tag)
      val bigB = cnt(Not(tag))
      // LEGACY division: an empty class gives ±Infinity like the
      // reference's float math (ANSI double division would throw)
      def div(x: Expression, y: Expression) =
        Divide(x, y, EvalMode.LEGACY)
      CreateArray(cats.map { c =>
        val a = cnt(And(Cast(c, BooleanType), tag))
        val b = cnt(And(Cast(c, BooleanType), Not(tag)))
        Multiply(
          Subtract(div(a, bigA), div(b, bigB)),
          Log(div(Multiply(a, bigB), Multiply(b, bigA))))
      })
    }),

    // stochasticLinearRegression(lr, l2, batch, 'method')(y, x1..xk):
    // the reference fits by SGD; this engine aggregates the
    // ORDER-INDEPENDENT sufficient statistics (intercept-augmented Gram
    // matrix + RHS sums — what distributed merges need to be
    // deterministic) and solves the normal equations at finalization —
    // the same least-squares optimum SGD converges to. Trailing numeric/
    // string parameters (learning rate etc.) are accepted and ignored:
    // the closed form has no hyperparameters. Returns [w1..wk, bias].
    "stochasticlinearregression" -> (args => linRegFit(args)),
    "stochasticlinearregressionstate" -> (args => linRegFit(args)),
    // logistic twin: linear-probability fit on the 0/1 labels with the
    // sigmoid applied at evalMLMethod — a documented stand-in (ranking-
    // consistent; the reference's SGD logistic differs in calibration).
    // The state carries a trailing TAG element (length k+2 vs the linear
    // k+1) so evalMLMethod can pick the logistic link at eval time.
    "stochasticlogisticregression" -> (args => logRegFit(args)),
    "stochasticlogisticregressionstate" -> (args => logRegFit(args)),
    // evalMLMethod(state, x1..xk) → prediction: the linear form for
    // regression states; 1/(1+exp(-z)) — a probability in [0,1], the
    // reference's logistic output — for tagged logistic states
    "evalmlmethod" -> (args => {
      val state = args.head
      val xs = args.tail
      val terms = xs.zipWithIndex.map { case (x, i) =>
        Multiply(ElementAt(state, Literal(i + 1), None, failOnError = false),
          Cast(x, DoubleType))
      } :+ ElementAt(state, Literal(xs.length + 1), None, failOnError = false)
      val z = terms.reduce[Expression](Add(_, _))
      If(EqualTo(Size(state), Literal(xs.length + 2)),
        Divide(Literal(1.0), Add(Literal(1.0), Exp(UnaryMinus(z)))),
        z)
    }),
    // -- the Nothing placeholder family (AggregateFunctionNothing.h:
    // "takes arbitrary arguments and does nothing"; return = NULL of
    // the argument type / Nullable(Nothing) / UInt64 default 0)
    "nothing" -> (args =>
      if (args.isEmpty) Literal(null)
      else agg(new First(If(Literal(false), args.head, Literal(null)),
        ignoreNulls = false))),
    "nothingnull" -> (_ =>
      agg(new First(Cast(Literal(null), StringType), ignoreNulls = false))),
    "nothinguint64" -> (_ =>
      Coalesce(Seq(agg(Max(Literal(0L))), Literal(0L)))),
    // -- Dynamic/JSON introspection aggregates over the Variant lane
    "distinctdynamictypes" -> (args =>
      new SortArray(ArrayDistinct(agg(CollectList(
        org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          "schema_of_variant", Seq(args.head), isDistinct = false)))))),
    "distinctjsonpaths" -> (args =>
      new SortArray(ArrayDistinct(Flatten(agg(CollectList(StaticInvoke(
        classOf[graft.functions.SweepKernels9.type],
        ArrayType(StringType), "jsonAllPaths",
        Seq(args.head), Seq(StringType)))))))),
    "distinctjsonpathsandtypes" -> (args =>
      distinctPathsAndTypes(args.head)),
    // estimateCompressionRatio([codec[, block_kb]])(col) — real LZ4/ZSTD
    // through Spark's bundled codecs over a bounded per-group sample
    // (functions/CompressionRatio.scala; post-parametric-rewrite order
    // is (col[, codec[, block_kb]]); the block-size parameter is
    // accepted and absorbed by the bounded sample)
    "estimatecompressionratio" -> (args =>
      agg(graft.functions.CompressionRatio.EstimateCompressionRatio(
        args.head,
        if (args.size > 1) foldStr(args(1)) else "LZ4"))))
}
