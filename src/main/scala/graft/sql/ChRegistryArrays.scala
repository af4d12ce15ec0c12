package graft.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graft.ArrayDotProduct
import org.apache.spark.sql.types._

import ChBuild._

/** Arrays, maps and tuples (src/Functions/array/ sources,
  * FunctionsMapMiscellaneous.cpp, map.cpp, tuple.cpp, FunctionsTuple.cpp,
  * Kusto/KqlArraySort.cpp): higher-order forms in the reference's
  * lambda-FIRST argument order (`arrayMap(x -> e, arr)`), structural
  * transforms (cumSum, difference, compact, enumerate, rotate/shift,
  * shingles, split/fill), set predicates (hasAll/hasAny/hasSubstr), and
  * the vector norm/distance family
  * (src/Functions/array/arrayDistance.cpp, arrayNorm.cpp).
  *
  * Everything here is a pure Catalyst tree over Spark's built-in
  * collection expressions — lambdas are built with
  * UnresolvedNamedLambdaVariable exactly as the SQL parser does, so the
  * analyzer types them and whole-stage codegen applies where the
  * underlying expression supports it. ANSI mode is ON in Spark 4: every
  * ElementAt carries failOnError=false and every division sits behind a
  * lazy If guard.
  *
  * Scalar per-row arrays are small; the few O(n²) forms (enumerateUniq,
  * enumerateDense, normalize*) are documented at their definition and are
  * NOT used by any bulk pipeline (Dedup and TextPipeline use explode+groupBy forms).
  */
object ChRegistryArrays {

  /** The analyzer requires a function that RECEIVES a lambda argument to
    * resolve to a HigherOrderFunction at the top of the built tree
    * (ResolveFunctions NON_HIGHER_ORDER_FUNCTION check). For builders whose
    * natural result is a scalar wrapper (Size, ElementAt, If, Coalesce…)
    * around a genuine HOF, wrap the whole result as the zero of a fold over
    * an empty array: evaluates `result` exactly once, top node is a HOF. */
  private def hofWrap(result: Expression): Expression =
    ArrayAggregate(
      Literal.create(Array.empty[Int], ArrayType(IntegerType)),
      result,
      lam2((acc, _) => acc),
      LambdaFunction.identity)

  /** Empty array with the same element type as `arr`. */
  private def emptyLike(arr: Expression): Expression =
    Slice(arr, Literal(1), Literal(0))

  /** NULL literal typed like `arr`'s elements (element_at of an empty slice). */
  private def nullElem(arr: Expression): Expression = at(emptyLike(arr), 1)

  private def sz(arr: Expression): Expression = Size(arr)

  /** Type-preserving sum: seed with the first element, fold the tail.
    * Empty array → 0 (coerced to the element type by Coalesce). */
  private def arrSum(arr: Expression): Expression = {
    val tail = Slice(arr, Literal(2),
      Greatest(Seq(Subtract(sz(arr), Literal(1)), Literal(0))))
    Coalesce(Seq(
      ArrayAggregate(tail, at(arr, 1), lam2(Add(_, _)), LambdaFunction.identity),
      Literal(0)))
  }

  private def arrAvg(arr: Expression): Expression =
    If(LessThanOrEqual(sz(arr), Literal(0)), Literal(0.0d),
      Divide(Cast(arrSum(arr), DoubleType), Cast(sz(arr), DoubleType)))

  /** arrayReduce dispatch (arrayReduce.cpp): literal agg name → the
    * equivalent Catalyst collection expression over the array. Covers the
    * names a reference user reaches for over per-row arrays; the full
    * -State/-Merge combinator space stays with the real aggregates. */
  private def arrayReduce(args: Seq[Expression]): Expression = {
    val (name, param) = parseAggSpec(args.head, "arrayReduce")
    reduceDispatch(name, param, args(1), args.drop(2).headOption)
  }

  private def parseAggSpec(spec0: Expression, fn: String): (String, Option[Double]) = {
    val spec = spec0 match {
      case Literal(s, StringType) if s != null => s.toString
      case _ => throw new IllegalArgumentException(
        s"$fn expects a literal aggregate-function name")
    }
    val m = "(?i)^\\s*([A-Za-z0-9_]+)\\s*(?:\\(\\s*([0-9.]+)\\s*\\))?\\s*$".r
    spec match {
      case m(n, null) => (n.toLowerCase, None)
      case m(n, p)    => (n.toLowerCase, Some(p.toDouble))
      case _ => throw new IllegalArgumentException(s"bad $fn spec '$spec'")
    }
  }

  private def reduceDispatch(name: String, param: Option[Double],
      arr: Expression, second: Option[Expression]): Expression = {
    def nonNull = ArrayFilter(arr, lam1(IsNotNull))
    def sorted = SortArray(nonNull, Literal(true))
    def quantileExact(level: Double): Expression = {
      // n = floor(level * size), clamped to size-1 (QuantileExact.h)
      val n = sz(nonNull)
      val idx = Least(Seq(
        Cast(Multiply(Literal(level), Cast(n, DoubleType)), IntegerType),
        Subtract(n, Literal(1))))
      at(sorted, Add(idx, Literal(1)))
    }
    name match {
      case "count" => Cast(sz(arr), LongType)
      case "sum" => arrSum(arr)
      case "min" => ArrayMin(arr)
      case "max" => ArrayMax(arr)
      case "avg" => arrAvg(arr)
      case "any" => at(arr, 1)
      case "anylast" => at(arr, -1)
      case "uniq" | "uniqexact" => Cast(sz(ArrayDistinct(nonNull)), LongType)
      case "grouparray" => arr
      case "groupuniqarray" => ArrayDistinct(arr)
      case "median" | "medianexact" => quantileExact(0.5)
      case "quantile" | "quantileexact" => quantileExact(param.getOrElse(0.5))
      case "argmin" =>
        val v = second.getOrElse(throw new IllegalArgumentException("argMin needs two arrays"))
        at(arr, Cast(ArrayPosition(v, ArrayMin(v)), IntegerType))
      case "argmax" =>
        val v = second.getOrElse(throw new IllegalArgumentException("argMax needs two arrays"))
        at(arr, Cast(ArrayPosition(v, ArrayMax(v)), IntegerType))
      case other => throw new IllegalArgumentException(
        s"arrayReduce: unsupported aggregate '$other'")
    }
  }

  /** arrayReduceInRanges('agg', ranges, arr) — reference
    * arrayReduceInRanges.cpp: one reduced value per (start, length) tuple
    * (1-based starts, as the reference). Ranges come from tuple() structs. */
  private def arrayReduceInRanges(args: Seq[Expression]): Expression = {
    val (name, param) = parseAggSpec(args.head, "arrayReduceInRanges")
    val ranges = args(1)
    val arr = args(2)
    ArrayTransform(ranges, lam1 { r =>
      val start = Cast(UnresolvedExtractValue(r, Literal("col1")), IntegerType)
      val len = Cast(UnresolvedExtractValue(r, Literal("col2")), IntegerType)
      reduceDispatch(name, param, Slice(arr, start, Greatest(Seq(len, Literal(0)))), None)
    })
  }

  /** Dot product via the codegen'd kernel (VectorExpressions). */
  private def dot(a: Expression, b: Expression): Expression =
    ArrayDotProduct(Cast(a, ArrayType(DoubleType)), Cast(b, ArrayType(DoubleType)))

  private def diff(a: Expression, b: Expression): Expression =
    ZipWith(Cast(a, ArrayType(DoubleType)), Cast(b, ArrayType(DoubleType)),
      lam2(Subtract(_, _)))

  private def l2norm(a: Expression): Expression = Sqrt(dot(a, a))

  private def l1norm(a: Expression): Expression =
    ArrayAggregate(Cast(a, ArrayType(DoubleType)), Literal(0.0d),
      lam2((acc, x) => Add(acc, Abs(x))), LambdaFunction.identity)

  private def linfnorm(a: Expression): Expression =
    Coalesce(Seq(
      ArrayMax(ArrayTransform(Cast(a, ArrayType(DoubleType)), lam1(Abs(_)))),
      Literal(0.0d)))

  private def lpnorm(a: Expression, p: Expression): Expression = {
    val pd = Cast(p, DoubleType)
    Pow(
      ArrayAggregate(Cast(a, ArrayType(DoubleType)), Literal(0.0d),
        lam2((acc, x) => Add(acc, Pow(Abs(x), pd))), LambdaFunction.identity),
      Divide(Literal(1.0d), pd))
  }

  /** Rotate left by pmod(n, size); size-0 guarded lazily (ANSI pmod). */
  private def rotateLeft(arr: Expression, n: Expression): Expression = {
    val m = Pmod(Cast(n, IntegerType), sz(arr))
    If(LessThanOrEqual(sz(arr), Literal(0)), arr,
      Concat(Seq(
        Slice(arr, Add(m, Literal(1)), Subtract(sz(arr), m)),
        Slice(arr, Literal(1), m))))
  }

  /** Shift left: drop n, pad with `pad` (typed NULL when not given). */
  private def shiftLeft(arr: Expression, n: Expression, pad: Expression): Expression = {
    val m = Least(Seq(Greatest(Seq(Cast(n, IntegerType), Literal(0))), sz(arr)))
    Concat(Seq(
      Slice(arr, Add(m, Literal(1)), Subtract(sz(arr), m)),
      ArrayRepeat(pad, m)))
  }

  /** arrayFill(pred, arr): where flag is false, repeat the nearest
    * preceding flagged element (reference src/Functions/array/arrayFill.cpp).
    * Index-fold over 1..n — O(n) appends over per-row arrays. */
  private def fillForward(lambda: Expression, arr: Expression): Expression = {
    val flags = ArrayTransform(arr, lambda)
    If(LessThanOrEqual(sz(arr), Literal(0)), arr,
      ArrayAggregate(
        Sequence(Literal(1), sz(arr), Some(Literal(1))),
        emptyLike(arr),
        lam2((acc, i) =>
          If(Or(Cast(at(flags, i), BooleanType), LessThanOrEqual(sz(acc), Literal(0))),
            Concat(Seq(acc, CreateArray(Seq(at(arr, i))))),
            Concat(Seq(acc, CreateArray(Seq(at(acc, -1))))))),
        LambdaFunction.identity))
  }

  /** arraySplit(pred, arr): cut BEFORE each element whose flag is true
    * (reference src/Functions/array/arraySplit.cpp). */
  private def splitAt(lambda: Expression, arr: Expression): Expression = {
    val flags = ArrayTransform(arr, lambda)
    val cuts = Concat(Seq(
      CreateArray(Seq(Literal(1))),
      ArrayFilter(
        Sequence(Literal(2), sz(arr), Some(Literal(1))),
        lam1(i => Cast(at(flags, i), BooleanType))),
      CreateArray(Seq(Add(sz(arr), Literal(1))))))
    If(LessThanOrEqual(sz(arr), Literal(0)),
      emptyLike(CreateArray(Seq(arr))),
      ArrayTransform(
        Sequence(Literal(1), Subtract(Size(cuts), Literal(1)), Some(Literal(1))),
        lam1(j => Slice(arr, at(cuts, j), Subtract(at(cuts, Add(j, Literal(1))), at(cuts, j))))))
  }

  // arrayAUC(scores, labels) — rank-sum AUC over the score-sorted pairs
  // (reference arrayAUC.cpp; distinct scores assumed: no midrank ties).
  private def arrayAuc(args: Seq[Expression]): Expression = {
    val pairs = SortArray(
      ZipWith(Cast(args(0), ArrayType(DoubleType)),
        Cast(args(1), ArrayType(DoubleType)),
        lam2((s, l) => CreateNamedStruct(Seq(Literal("s"), s, Literal("l"), l)))),
      Literal(true))
    val labs = ArrayTransform(pairs,
      lam1(p => UnresolvedExtractValue(p, Literal("l"))))
    val n = Cast(Size(labs), DoubleType)
    val pos = ArrayAggregate(labs, Literal(0.0d), lam2(Add(_, _)),
      LambdaFunction.identity)
    val sumRanks = ArrayAggregate(
      Sequence(Literal(1), Size(labs), Some(Literal(1))),
      Literal(0.0d),
      lam2((acc, i) => Add(acc, Multiply(at(labs, i), Cast(i, DoubleType)))),
      LambdaFunction.identity)
    val neg = Subtract(n, pos)
    If(Or(LessThanOrEqual(pos, Literal(0.0d)), LessThanOrEqual(neg, Literal(0.0d))),
      Literal.create(null, DoubleType),
      Divide(
        Subtract(sumRanks,
          Divide(Multiply(pos, Add(pos, Literal(1.0d))), Literal(2.0d))),
        Multiply(pos, neg)))
  }

  private def doubleVar(n: String): NamedLambdaVariable =
    NamedLambdaVariable(n, DoubleType, nullable = true)

  /** arrayAUCPR(scores, labels) — right-Riemann PR AUC
    * (arrayAUC.cpp:118-124): walk score-DESC pairs with a (tp, fp, area)
    * accumulator; each positive adds precision-at-that-point; finish with
    * area / total-positives (recall steps are 1/P with distinct scores).
    * NULL when the labels are single-class, like the ROC form. */
  private def aucPr(scores: Expression, labels: Expression): Expression = {
    val s = doubleVar("ch_pr_s"); val l = doubleVar("ch_pr_l")
    val pairsAsc = SortArray(
      ZipWith(Cast(scores, ArrayType(DoubleType)),
        Cast(labels, ArrayType(DoubleType)),
        LambdaFunction(
          CreateNamedStruct(Seq(Literal("s"), s, Literal("l"), l)),
          Seq(s, l))),
      Literal(true))
    val labsDesc = Reverse(ArrayTransform(pairsAsc,
      { val p = NamedLambdaVariable("ch_pr_p",
          StructType(Seq(StructField("s", DoubleType), StructField("l", DoubleType))),
          nullable = true)
        LambdaFunction(UnresolvedExtractValue(p, Literal("l")), Seq(p)) }))
    val accType = StructType(Seq(StructField("tp", DoubleType),
      StructField("fp", DoubleType), StructField("area", DoubleType)))
    val acc = NamedLambdaVariable("ch_pr_acc", accType, nullable = true)
    val x = doubleVar("ch_pr_x")
    def f(n: String) = UnresolvedExtractValue(acc, Literal(n))
    val step = LambdaFunction(
      If(GreaterThan(x, Literal(0.0d)),
        CreateNamedStruct(Seq(
          Literal("tp"), Add(f("tp"), Literal(1.0d)),
          Literal("fp"), f("fp"),
          Literal("area"), Add(f("area"),
            Divide(Add(f("tp"), Literal(1.0d)),
              Add(Add(f("tp"), Literal(1.0d)), f("fp")))))),
        CreateNamedStruct(Seq(
          Literal("tp"), f("tp"),
          Literal("fp"), Add(f("fp"), Literal(1.0d)),
          Literal("area"), f("area")))),
      Seq(acc, x))
    val fin = LambdaFunction(
      If(LessThanOrEqual(f("tp"), Literal(0.0d)),
        Literal.create(null, DoubleType),
        Divide(f("area"), f("tp"))),
      Seq(acc))
    ArrayAggregate(labsDesc,
      CreateNamedStruct(Seq(Literal("tp"), Literal(0.0d),
        Literal("fp"), Literal(0.0d), Literal("area"), Literal(0.0d))),
      step, fin)
  }

  // occurrence counter per element (arrayEnumerateUniq.cpp) — O(n²) over
  // one row's array, fine for per-row use; bulk paths use explode forms.
  private def enumerateUniq(args: Seq[Expression]): Expression = {
    val arr = args.head
    ArrayTransform(arr, lam2((x, i) =>
      Size(ArrayFilter(Slice(arr, Literal(1), Add(i, Literal(1))),
        lam1(e => EqualNullSafe(e, x))))))
  }

  // dense first-occurrence rank (arrayEnumerateDense.cpp) — O(n²) per row.
  private def enumerateDense(args: Seq[Expression]): Expression = {
    val arr = args.head
    ArrayTransform(arr, lam1(x =>
      Size(ArrayDistinct(Slice(arr, Literal(1), ArrayPosition(arr, x))))))
  }

  /** Typed empty-array constant (emptyArrayUInt8.cpp family). */
  private def emptyArr(dt: DataType): Expression =
    Slice(CreateArray(Seq(Cast(Literal.create(null, NullType), dt))),
      Literal(1), Literal(0))

  private def mapSort(m: Expression, ascending: Boolean): Expression =
    MapFromEntries(SortArray(MapEntries(m), Literal(ascending)))

  private def gjoNegate(lambda: Expression): Expression = lambda match {
    case lf: LambdaFunction => LambdaFunction(Not(lf.function), lf.arguments)
    case other => other
  }

  private def lambda2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq("ch_t6_a"))
    val y = UnresolvedNamedLambdaVariable(Seq("ch_t6_b"))
    LambdaFunction(f(x, y), Seq(x, y))
  }

  private def structFields(e: Expression): Seq[Expression] =
    e.dataType match {
      case st: StructType => st.indices.map(i => GetStructField(e, i))
      case other => throw new IllegalArgumentException(
        s"tuple function needs a struct argument, got $other")
    }

  private def namedStruct(pairs: (String, Expression)*): Expression =
    CreateNamedStruct(pairs.flatMap { case (n, e) => Seq(Literal(n), e) })

  /** kql_array_sort_asc/_desc (Kusto/KqlArraySort.cpp): sort the first
    * array (nulls last unless the trailing bool says first) and PERMUTE
    * the other arrays by the same order, returning a tuple; an array
    * whose length mismatches the first comes back NULL (the reference's
    * null-column rule). Pure HOF tree: zip-by-index → array_sort with
    * an explicit comparator → per-slot projection. */
  private def kqlArraySort(desc: Boolean)(args: Seq[Expression]): Expression = {
    val (arrs, nullsLast) = args.last match {
      case Literal(b: Boolean, BooleanType) => (args.init, b)
      case _ => (args, true)
    }
    require(arrs.nonEmpty, "kql_array_sort: needs at least one array")
    def cmp(lk: Expression, rk: Expression): Expression =
      CaseWhen(Seq(
        (And(IsNull(lk), IsNull(rk)), Literal(0)),
        (IsNull(lk), Literal(if (nullsLast) 1 else -1)),
        (IsNull(rk), Literal(if (nullsLast) -1 else 1)),
        (if (desc) GreaterThan(lk, rk) else LessThan(lk, rk), Literal(-1)),
        (if (desc) LessThan(lk, rk) else GreaterThan(lk, rk), Literal(1))),
        Literal(0))
    def named(fields: Seq[Expression]): Expression =
      CreateNamedStruct(fields.zipWithIndex.flatMap { case (e, i) =>
        Seq(Literal(s"col${i + 1}"), e)
      })
    if (arrs.size == 1)
      named(Seq(new ArraySort(arrs.head, lam2((l, r) => cmp(l, r)))))
    else {
      val zipped = ArrayTransform(arrs.head, lam2((e, i) =>
        named(e +: arrs.tail.map(a =>
          ElementAt(a, Add(i, Literal(1)), None, failOnError = false)))))
      val sorted = new ArraySort(zipped, lam2((l, r) => cmp(
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          l, Literal("col1")),
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          r, Literal("col1")))))
      val outs = arrs.zipWithIndex.map { case (a, i) =>
        val proj = ArrayTransform(sorted, lam1(s =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
            s, Literal(s"col${i + 1}"))))
        if (i == 0) proj
        else If(EqualTo(Size(a), Size(arrs.head)), proj,
          Literal.create(null, NullType))
      }
      named(outs)
    }
  }

  val builders: Seq[(String, Builder)] = Seq(
    "arraymap" -> (args =>
      if (args.length == 2) ArrayTransform(args(1), args(0))
      else ZipWith(args(1), args(2), args(0))),
    "arrayfilter" -> (args => ArrayFilter(args(1), args(0))),
    "arrayexists" -> (args =>
      if (args.length == 2) ArrayExists(args(1), args(0))
      else ArrayExists(ArrayTransform(args.head,
        lam1(x => Not(EqualTo(Cast(x, DoubleType), Literal(0.0d))))), LambdaFunction.identity)),
    "arrayall" -> (args =>
      if (args.length == 2) ArrayForAll(args(1), args(0))
      else ArrayForAll(ArrayTransform(args.head,
        lam1(x => Not(EqualTo(Cast(x, DoubleType), Literal(0.0d))))), LambdaFunction.identity)),
    "arraycount" -> (args =>
      if (args.length == 2) hofWrap(Size(ArrayFilter(args(1), args(0))))
      else Size(ArrayFilter(args.head,
        lam1(x => Not(EqualTo(Cast(x, DoubleType), Literal(0.0d))))))),
    "arraysum" -> (args =>
      if (args.length == 2) hofWrap(arrSum(ArrayTransform(args(1), args(0))))
      else arrSum(args.head)),
    "arrayavg" -> (args =>
      if (args.length == 2) hofWrap(arrAvg(ArrayTransform(args(1), args(0))))
      else arrAvg(args.head)),
    // reference arrayProduct returns Float64 (arrayAggregation.cpp)
    "arrayproduct" -> (args =>
      ArrayAggregate(Cast(args.head, ArrayType(DoubleType)), Literal(1.0d),
        lam2(Multiply(_, _)), LambdaFunction.identity)),
    // arrayFold((acc, x) -> e, arr, init) — reference arrayFold.cpp
    "arrayfold" -> (args =>
      ArrayAggregate(args(1), args.last, args(0), LambdaFunction.identity)),
    // arrayReduce('agg', arr[, arr2]) — reference arrayReduce.cpp: apply a
    // NAMED aggregate function to array elements. The literal name is
    // dispatched at build time to the equivalent collection expression;
    // quantile/quantileExact accept the parameterized spelling
    // arrayReduce('quantile(0.9)', arr) with the reference's
    // nth_element index n = floor(level * size) (QuantileExact.h).
    "arrayreduce" -> (args => arrayReduce(args)),
    "arrayreduceinranges" -> (args => arrayReduceInRanges(args)),
    // no-match value: the reference returns the element type's DEFAULT (0,
    // '') for arrayFirst/arrayLast and NULL only for the OrNull forms
    // (arrayFirstLast.cpp) — TypeDefault resolves the element type at
    // analysis time.
    "arrayfirst" -> (args => {
      val e = at(ArrayFilter(args(1), args(0)), 1)
      hofWrap(Coalesce(Seq(e, org.apache.spark.sql.graft.TypeDefault(e))))
    }),
    "arraylast" -> (args => {
      val e = at(ArrayFilter(args(1), args(0)), -1)
      hofWrap(Coalesce(Seq(e, org.apache.spark.sql.graft.TypeDefault(e))))
    }),
    "arrayfirstornull" -> (args => hofWrap(at(ArrayFilter(args(1), args(0)), 1))),
    "arraylastornull" -> (args => hofWrap(at(ArrayFilter(args(1), args(0)), -1))),
    "arrayfirstindex" -> (args =>
      hofWrap(ArrayPosition(ArrayTransform(args(1), args(0)), Literal(true)))),
    "arraylastindex" -> (args => {
      val p = ArrayPosition(Reverse(ArrayTransform(args(1), args(0))), Literal(true))
      hofWrap(If(EqualTo(p, Literal(0L)), Literal(0L),
        Add(Subtract(Cast(sz(args(1)), LongType), p), Literal(1L))))
    }),

    "arraycumsum" -> (args => {
      val arr = if (args.length == 2) ArrayTransform(args(1), args(0)) else args.head
      ArrayAggregate(arr, emptyLike(arr),
        lam2((acc, x) => Concat(Seq(acc,
          CreateArray(Seq(Add(Coalesce(Seq(at(acc, -1), Subtract(x, x))), x)))))),
        LambdaFunction.identity)
    }),
    "arraycumsumnonnegative" -> (args => {
      val arr = if (args.length == 2) ArrayTransform(args(1), args(0)) else args.head
      ArrayAggregate(arr, emptyLike(arr),
        lam2((acc, x) => Concat(Seq(acc, CreateArray(Seq(
          Greatest(Seq(Add(Coalesce(Seq(at(acc, -1), Subtract(x, x))), x),
            Subtract(x, x)))))))),
        LambdaFunction.identity)
    }),
    // arrayDifference([a,b,c]) = [0, b-a, c-b] (arrayDifference.cpp)
    "arraydifference" -> (args => {
      val arr = args.head
      ArrayTransform(arr, lam2((x, i) =>
        If(EqualTo(i, Literal(0)), Subtract(x, x), Subtract(x, at(arr, i)))))
    }),
    // collapse consecutive duplicates (arrayCompact.cpp)
    "arraycompact" -> (args => {
      val arr = args.head
      ArrayAggregate(arr, emptyLike(arr),
        lam2((acc, x) =>
          If(And(GreaterThan(sz(acc), Literal(0)), EqualNullSafe(at(acc, -1), x)),
            acc, Concat(Seq(acc, CreateArray(Seq(x)))))),
        LambdaFunction.identity)
    }),
    "arrayenumerate" -> (args =>
      If(LessThanOrEqual(sz(args.head), Literal(0)),
        Literal.create(Array.empty[Int], ArrayType(IntegerType)),
        Sequence(Literal(1), sz(args.head), Some(Literal(1))))),
    "arrayrotateleft" -> (args => rotateLeft(args(0), args(1))),
    "arrayrotateright" -> (args =>
      rotateLeft(args(0), UnaryMinus(Cast(args(1), IntegerType)))),
    "arrayshiftleft" -> (args =>
      shiftLeft(args(0), args(1),
        if (args.length > 2) args(2) else nullElem(args(0)))),
    "arrayshiftright" -> (args => {
      val pad = if (args.length > 2) args(2) else nullElem(args(0))
      Reverse(shiftLeft(Reverse(args(0)), args(1), pad))
    }),
    "arraywithconstant" -> (args => ArrayRepeat(args(1), args(0))),
    // arrayShingles(arr, l) (arrayShingles.cpp)
    "arrayshingles" -> (args => {
      val arr = args(0); val l = Cast(args(1), IntegerType)
      If(Or(LessThan(sz(arr), l), LessThanOrEqual(l, Literal(0))),
        emptyLike(CreateArray(Seq(arr))),
        ArrayTransform(
          Sequence(Literal(1), Add(Subtract(sz(arr), l), Literal(1)), Some(Literal(1))),
          lam1(i => Slice(arr, i, l))))
    }),
    "arrayfill" -> (args => hofWrap(fillForward(args(0), args(1)))),
    "arrayreversefill" -> (args => hofWrap(Reverse(fillForward(args(0), Reverse(args(1)))))),
    "arraysplit" -> (args => hofWrap(splitAt(args(0), args(1)))),
    "arrayreversesplit" -> (args =>
      hofWrap(Reverse(ArrayTransform(splitAt(args(0), Reverse(args(1))), lam1(Reverse(_)))))),

    "hasall" -> (args => LessThanOrEqual(Size(ArrayExcept(args(1), args(0))), Literal(0))),
    "hasany" -> (args => GreaterThan(Size(ArrayIntersect(args(0), args(1))), Literal(0))),
    // contiguous subsequence (hasSubstr in array.cpp semantics)
    "hassubstr" -> (args => {
      val a = args(0); val b = args(1)
      If(LessThanOrEqual(sz(b), Literal(0)), Literal(true),
        If(LessThan(sz(a), sz(b)), Literal(false),
          ArrayExists(
            Sequence(Literal(1), Add(Subtract(sz(a), sz(b)), Literal(1)), Some(Literal(1))),
            lam1(i => EqualTo(Slice(a, i, sz(b)), b)))))
    }),
    "countequal" -> (args =>
      Size(ArrayFilter(args(0), lam1(x => EqualNullSafe(x, args(1)))))),
    "arrayunion" -> (args => args.reduce((a, b) => ArrayUnion(a, b))),
    "arraysymmetricdifference" -> (args =>
      ArrayExcept(args.reduce((a, b) => ArrayUnion(a, b)),
        args.reduce((a, b) => ArrayIntersect(a, b)))),
    "arrayjaccardindex" -> (args =>
      If(LessThanOrEqual(Size(ArrayUnion(args(0), args(1))), Literal(0)), Literal(1.0d),
        Divide(Cast(Size(ArrayIntersect(args(0), args(1))), DoubleType),
          Cast(Size(ArrayUnion(args(0), args(1))), DoubleType)))),

    "arraydotproduct" -> (args => dot(args(0), args(1))),
    "dotproduct" -> (args => dot(args(0), args(1))),
    "scalarproduct" -> (args => dot(args(0), args(1))),
    "l1norm" -> (args => l1norm(args.head)),
    "l2norm" -> (args => l2norm(args.head)),
    "l2squarednorm" -> (args => dot(args.head, args.head)),
    "linfnorm" -> (args => linfnorm(args.head)),
    "lpnorm" -> (args => lpnorm(args(0), args(1))),
    "norml1" -> (args => l1norm(args.head)),
    "norml2" -> (args => l2norm(args.head)),
    "norml2squared" -> (args => dot(args.head, args.head)),
    "normlinf" -> (args => linfnorm(args.head)),
    "normlp" -> (args => lpnorm(args(0), args(1))),
    "l1distance" -> (args => l1norm(diff(args(0), args(1)))),
    "l2distance" -> (args => l2norm(diff(args(0), args(1)))),
    "l2squareddistance" -> (args => {
      val d = diff(args(0), args(1)); dot(d, d)
    }),
    "linfdistance" -> (args => linfnorm(diff(args(0), args(1)))),
    "lpdistance" -> (args => lpnorm(diff(args(0), args(1)), args(2))),
    "distancel1" -> (args => l1norm(diff(args(0), args(1)))),
    "distancel2" -> (args => l2norm(diff(args(0), args(1)))),
    "distancel2squared" -> (args => {
      val d = diff(args(0), args(1)); dot(d, d)
    }),
    "distancelinf" -> (args => linfnorm(diff(args(0), args(1)))),
    "distancelp" -> (args => lpnorm(diff(args(0), args(1)), args(2))),
    "cosinedistance" -> (args => {
      val den = Multiply(l2norm(args(0)), l2norm(args(1)))
      If(LessThanOrEqual(den, Literal(0.0d)), Literal(1.0d),
        Subtract(Literal(1.0d), Divide(dot(args(0), args(1)), den)))
    }),
    // normalize*(v) — norm subtree re-evaluates per element: O(n²) per row,
    // per-row vectors only; bulk normalization pre-computes the norm column.
    "normalizel1" -> (args => {
      val a = Cast(args.head, ArrayType(DoubleType))
      ArrayTransform(a, lam1(x => If(LessThanOrEqual(l1norm(a), Literal(0.0d)),
        Literal(0.0d), Divide(x, l1norm(a)))))
    }),
    "normalizel2" -> (args => {
      val a = Cast(args.head, ArrayType(DoubleType))
      ArrayTransform(a, lam1(x => If(LessThanOrEqual(l2norm(a), Literal(0.0d)),
        Literal(0.0d), Divide(x, l2norm(a)))))
    }),
    "normalizelinf" -> (args => {
      val a = Cast(args.head, ArrayType(DoubleType))
      ArrayTransform(a, lam1(x => If(LessThanOrEqual(linfnorm(a), Literal(0.0d)),
        Literal(0.0d), Divide(x, linfnorm(a)))))
    }),
    "indexofassumesorted" -> (args => ArrayPosition(args(0), args(1))),
    "arrayzip" -> (args => ArraysZip(args)),
    // full sort is a valid instance of the reference's "first k ordered,
    // rest unspecified" contract (arrayPartialSort.cpp)
    "arraypartialsort" -> (args => SortArray(args.last, Literal(true))),
    "arraypartialreversesort" -> (args =>
      Reverse(SortArray(args.last, Literal(true)))),
    // 2-D Morton (Z-order) codec (mortonEncode.cpp) — bit-interleave fold
    // over the low 32 bits of each coordinate; per-row scalar use.
    "mortonencode" -> (args => {
      val x = Cast(args(0), LongType); val y = Cast(args(1), LongType)
      ArrayAggregate(
        Sequence(Literal(0), Literal(31), Some(Literal(1))),
        Literal(0L),
        lam2((acc, i) => BitwiseOr(acc,
          BitwiseOr(
            ShiftLeft(BitwiseAnd(ShiftRightUnsigned(x, i), Literal(1L)),
              Multiply(i, Literal(2))),
            ShiftLeft(BitwiseAnd(ShiftRightUnsigned(y, i), Literal(1L)),
              Add(Multiply(i, Literal(2)), Literal(1)))))),
        LambdaFunction.identity)
    }),
    // mortonDecode(2, z) → tuple(x, y)
    "mortondecode" -> (args => {
      val z = Cast(args.last, LongType)
      def deinterleave(offset: Int): Expression =
        ArrayAggregate(
          Sequence(Literal(0), Literal(31), Some(Literal(1))),
          Literal(0L),
          lam2((acc, i) => BitwiseOr(acc,
            ShiftLeft(
              BitwiseAnd(
                ShiftRightUnsigned(z, Add(Multiply(i, Literal(2)), Literal(offset))),
                Literal(1L)),
              i))),
          LambdaFunction.identity)
      CreateNamedStruct(Seq(Literal("x"), deinterleave(0),
        Literal("y"), deinterleave(1)))
    }),
    // occurrence counter per element (arrayEnumerateUniq.cpp) — O(n²) over
    // one row's array, fine for per-row use; bulk paths use explode forms.
    "arrayenumerateuniq" -> enumerateUniq _,
    // dense first-occurrence rank (arrayEnumerateDense.cpp) — O(n²) per row.
    "arrayenumeratedense" -> enumerateDense _,
    // ranked array enumeration: the flat (depth-1, single-array) form
    // IS arrayEnumerateUniq/Dense; deeper rank layouts reject loudly
    // (the depth axis reshapes nested-array occurrence scopes — a
    // cosmetic view with no new capability; documented)
    "arrayenumerateuniqranked" -> (args => {
      require(args.length == 1, "arrayEnumerateUniqRanked: only the " +
        "single-array depth-1 form is supported (documented subset)")
      enumerateUniq(args)
    }),
    "arrayenumeratedenseranked" -> (args => {
      require(args.length == 1, "arrayEnumerateDenseRanked: only the " +
        "single-array depth-1 form is supported (documented subset)")
      enumerateDense(args)
    }),
    // arrayROCAUC is the canonical name, arrayAUC the compat alias
    // (arrayAUC.cpp:496)
    "arrayauc" -> arrayAuc _,
    "arrayrocauc" -> (args => arrayAuc(args.take(2))),
    // arrayPRAUC is the reference's primary spelling of arrayAUCPR (NULL
    // when no positive labels, the property-pinned contract)
    "arrayaucpr" -> (args => aucPr(args(0), args(1))),
    "arrayprauc" -> (args => aucPr(args(0), args(1))),

    // arrays (src/Functions/array)
    "has" -> (args => ArrayContains(args(0), args(1))),
    "indexof" -> (args => ArrayPosition(args(0), args(1))),
    "arrayconcat" -> (args => Concat(args)),
    "arrayslice" -> (args => Slice(args(0), args(1), args(2))),
    "arraydistinct" -> (args => ArrayDistinct(args.head)),
    "arrayflatten" -> (args => Flatten(args.head)),
    "arrayreverse" -> (args => Reverse(args.head)),
    "arrayintersect" -> (args => args.reduce((a, b) => ArrayIntersect(a, b))),
    "arraysort" -> (args => SortArray(args.head, Literal(true))),
    "arrayreversesort" -> (args => Reverse(SortArray(args.head, Literal(true)))),
    "arraystringconcat" -> (args =>
      ArrayJoin(args(0), if (args.length > 1) args(1) else Literal(""), None)),
    "arrayuniq" -> (args => Size(ArrayDistinct(args.head))),
    "arraymin" -> (args =>
      if (args.length == 2)
        hofWrap(ArrayMin(ArrayTransform(args(1), args(0))))
      else ArrayMin(args.head)),
    "arraymax" -> (args =>
      if (args.length == 2)
        hofWrap(ArrayMax(ArrayTransform(args(1), args(0))))
      else ArrayMax(args.head)),
    "arraypushback" -> (args => Concat(Seq(args(0), CreateArray(Seq(args(1)))))),
    "arraypushfront" -> (args => Concat(Seq(CreateArray(Seq(args(1))), args(0)))),
    "arraypopback" -> (args => Slice(args(0), Literal(1),
      Greatest(Seq(Subtract(Size(args(0)), Literal(1)), Literal(0))))),
    "arraypopfront" -> (args => Slice(args(0), Literal(2),
      Greatest(Seq(Subtract(Size(args(0)), Literal(1)), Literal(0))))),
    "emptyarraytosingle" -> (args => If(EqualTo(Size(args.head), Literal(0)),
      CreateArray(Seq(Literal(0))), args.head)),
    // range(n) / range(a, b): empty/negative ranges return [] like the
    // reference (Sequence(0, -1) would fall back to a DESCENDING step and
    // yield [0, -1]).
    "range" -> (args => {
      def mk(start: Expression, stop: Expression): Expression =
        If(LessThanOrEqual(stop, start),
          Literal.create(Array.empty[Long], ArrayType(LongType)),
          Sequence(start, Subtract(stop, Literal(1L)), Some(Literal(1L))))
      if (args.length == 1) mk(Literal(0L), Cast(args.head, LongType))
      else mk(Cast(args(0), LongType), Cast(args(1), LongType))
    }),
    // arrayElement: 1-based with negative indexing, NULL out of bounds
    "arrayelement" -> (args =>
      ElementAt(args(0), args(1), None, failOnError = false)),

    // emptyArrayX constructors
    "emptyarrayint8" -> (_ => emptyArr(ByteType)),
    "emptyarrayint16" -> (_ => emptyArr(ShortType)),
    "emptyarrayint32" -> (_ => emptyArr(IntegerType)),
    "emptyarrayint64" -> (_ => emptyArr(LongType)),
    "emptyarrayuint8" -> (_ => emptyArr(ShortType)),
    "emptyarrayuint16" -> (_ => emptyArr(IntegerType)),
    "emptyarrayuint32" -> (_ => emptyArr(LongType)),
    "emptyarrayuint64" -> (_ => emptyArr(LongType)),
    "emptyarrayfloat32" -> (_ => emptyArr(FloatType)),
    "emptyarrayfloat64" -> (_ => emptyArr(DoubleType)),
    "emptyarraystring" -> (_ => emptyArr(StringType)),
    "emptyarraydate" -> (_ => emptyArr(DateType)),
    "emptyarraydatetime" -> (_ => emptyArr(TimestampType)),

    // positive size: truncate/pad at the END; negative: at the FRONT.
    // Extender defaults to NULL (the reference pads with the type's
    // default; this engine's declared default is NULL).
    "arrayresize" -> (args => {
      val arr = args(0)
      val size = Cast(args(1), IntegerType)
      val ext = if (args.length > 2) args(2) else Literal(null, NullType)
      val n = Size(arr)
      def pad(k: Expression) = ArrayRepeat(ext, k)
      val absSize = Abs(size)
      val back = If(GreaterThanOrEqual(n, absSize),
        Slice(arr, Literal(1), absSize),
        Concat(Seq(arr, pad(Subtract(absSize, n)))))
      val front = If(GreaterThanOrEqual(n, absSize),
        Slice(arr, Add(Subtract(n, absSize), Literal(1)), absSize),
        Concat(Seq(pad(Subtract(absSize, n)), arr)))
      If(GreaterThanOrEqual(size, Literal(0)), back, front)
    }),
    // arrayShuffle / arrayPartialShuffle / arrayRandomSample
    // (arrayShuffle.cpp, arrayRandomSample.cpp): fixed-seed Shuffle — a
    // deterministic instance of the "unspecified order" contract
    "arrayshuffle" -> (args => Shuffle(args.head, Some(42L))),
    "arraypartialshuffle" -> (args => Shuffle(args.head, Some(42L))),
    "arrayrandomsample" -> (args =>
      Slice(Shuffle(args.head, Some(42L)), Literal(1),
        Cast(args(1), IntegerType))),
    // arrayJoin (the FUNCTION form of ARRAY JOIN — array/arrayJoin.cpp,
    // the reference's row-multiplying expression): maps to Spark's
    // Explode generator, which the analyzer extracts from the SELECT list
    // (one generator per select — the reference's multi-arrayJoin
    // cartesian is the documented difference)
    "arrayjoin" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Explode(args.head)),
    // validateNestedArraySizes (validateNestedArraySizes.cpp): every
    // argument array has the same length
    "validatenestedarraysizes" -> (args =>
      args.map(a => Size(a): Expression).sliding(2).map {
        case Seq(a, b) => EqualTo(a, b): Expression
        case _ => Literal(true): Expression
      }.reduceOption[Expression](And).getOrElse(Literal(true))),
    // -- the experimental-KQL array sorters (user-callable like any
    // registered function)
    "kql_array_sort_asc" -> kqlArraySort(desc = false) _,
    "kql_array_sort_desc" -> kqlArraySort(desc = true) _,

    // arrayNormalizedGini (arrayNormalizedGini.cpp:139-174): named
    // triple (gini of labels ordered by prediction, gini of sorted
    // labels, their ratio)
    "arraynormalizedgini" -> (args => {
      def arr(e: Expression) = Cast(e, ArrayType(DoubleType))
      val g = sweep6(ArrayType(DoubleType), "normalizedGini",
        Seq(arr(args(0)), arr(args(1))),
        Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
      namedStruct(
        "gini_predicted" ->
          ElementAt(g, Literal(1), None, failOnError = false),
        "gini_labels" -> ElementAt(g, Literal(2), None, failOnError = false),
        "gini_normalized" ->
          ElementAt(g, Literal(3), None, failOnError = false))
    }),
    "normalizelp" -> (args => sweep6(ArrayType(DoubleType), "normalizeLp",
      Seq(Cast(args(0), ArrayType(DoubleType)), Cast(args(1), DoubleType)),
      Seq(ArrayType(DoubleType), DoubleType))),
    "vectorsum" -> (args =>
      ZipWith(args(0), args(1), lambda2(Add(_, _)))),
    "vectordifference" -> (args =>
      ZipWith(args(0), args(1), lambda2(Subtract(_, _)))),

    // ---- maps (src/Functions/map.cpp, FunctionsMapMiscellaneous.cpp) ----
    // maps (src/Functions/map.cpp, FunctionsMapMiscellaneous.cpp)
    "mapkeys" -> (args => MapKeys(args.head)),
    "mapvalues" -> (args => MapValues(args.head)),
    "mapcontains" -> (args => ArrayContains(MapKeys(args(0)), args(1))),
    "mapsort" -> (args => mapSort(args.head, ascending = true)),
    "mapreversesort" -> (args => mapSort(args.head, ascending = false)),
    // mapPartialSort/mapPartialReverseSort (sorts the first `limit`
    // entries, rest unspecified): the full sort SATISFIES the partial
    // guarantee — the limit argument is accepted and absorbed
    "mappartialsort" -> (args => mapSort(args.last, ascending = true)),
    "mappartialreversesort" -> (args => mapSort(args.last, ascending = false)),

    // mapPopulateSeries (mapPopulateSeries.cpp): fill integer key gaps
    // min..max with zero values
    "mappopulateseries" -> (args => {
      val m = args.head
      val ks = Sequence(
        ArrayMin(MapKeys(m)), ArrayMax(MapKeys(m)), None)
      val k = UnresolvedNamedLambdaVariable(Seq("ch_mps_k"))
      MapFromArrays(ks,
        ArrayTransform(ks, LambdaFunction(
          Coalesce(Seq(ElementAt(m, k), Literal(0))), Seq(k))))
    }),

    "mapapply" -> (args =>
      hofWrap(
        MapFromEntries(ZipWith(MapKeys(args(1)), MapValues(args(1)), args(0))))),
    "mapfilter" -> (args => MapFilter(args(1), args(0))),
    "mapexists" -> (args =>
      hofWrap(
        GreaterThan(Size(MapFilter(args(1), args(0))), Literal(0)))),
    "mapall" -> (args =>
      hofWrap(
        LessThanOrEqual(Size(MapFilter(args(1), gjoNegate(args(0)))), Literal(0)))),
    "mapconcat" -> (args => MapConcat(args)),
    "mapupdate" -> (args =>
      MapConcat(Seq(
        MapFilter(args(0),
          lam2((k, _) => Not(ArrayContains(MapKeys(args(1)), k)))),
        args(1)))),
    "mapcontainskeylike" -> (args =>
      ArrayExists(MapKeys(args(0)), lam1(k => Like(k, args(1), '\\')))),
    "mapextractkeylike" -> (args =>
      MapFilter(args(0), lam2((k, _) => Like(k, args(1), '\\')))),
    "mapfromarrays" -> (args => MapFromArrays(args(0), args(1))),

    // ---- tuples (tuple.cpp, FunctionsTuple.cpp) ----
    "tuple" -> (args => CreateStruct(args)),
    "tupleelement" -> (args => args(1) match {
      case Literal(i: Int, IntegerType) =>
        UnresolvedExtractValue(args(0), Literal("col" + i))
      case name => UnresolvedExtractValue(args(0), name)
    }),
    // getSubcolumn(x, 'name') (getSubcolumn.cpp): named member access
    // resolved by the analyzer — struct fields, map keys, array elements
    "getsubcolumn" -> (args => args(1) match {
      case Literal(s, StringType) if s != null =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          args.head, Literal(s.toString))
      case _ => throw new IllegalArgumentException(
        "getSubcolumn: the subcolumn name must be a string literal")
    }),

    "tupleconcat" -> (args => CreateStruct(args.flatMap(structFields))),
    "tuplenegate" -> (args =>
      CreateStruct(structFields(args.head).map(UnaryMinus(_)))),
    "tuplehammingdistance" -> (args => {
      val fa = structFields(args(0))
      val fb = structFields(args(1))
      require(fa.size == fb.size,
        "tupleHammingDistance: tuples must have the same size")
      fa.zip(fb).map { case (a, b) =>
        If(Not(EqualNullSafe(a, b)), Literal(1), Literal(0)): Expression
      }.reduce(Add(_, _))
    }),
    "tuplenames" -> (args => args.head.dataType match {
      case st: StructType =>
        Literal.create(st.fieldNames.toSeq, ArrayType(StringType))
      case other => throw new IllegalArgumentException(
        s"tupleNames needs a struct, got $other")
    }),
    "flattentuple" -> (args =>
      graft.functions.TupleReshape.FlattenTuple(args.head)),

    // struct reshaping (tupleToNameValuePairs.cpp, flattenTuple.cpp)
    "tupletonamevaluepairs" -> (args =>
      graft.functions.TupleReshape.TupleToNameValuePairs(args.head)))
}
