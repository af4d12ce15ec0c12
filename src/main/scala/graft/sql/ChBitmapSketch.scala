package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types._

import ChBuild._

/** Bitmap and sketch-state functions (src/Functions/FunctionsBitmap.h,
  * subBitmap.cpp, AggregateFunctionGroupBitmap.cpp,
  * src/Functions/UniqTheta/FunctionsUniqTheta.cpp,
  * initializeAggregation.cpp, finalizeAggregation.cpp, the uniq -State /
  * -Merge combinators).
  *
  * Bitmap states are the SAME Roaring64 binary payloads the groupBitmap
  * aggregates (functions/BitmapFunctions.scala) produce, so scalar ops
  * compose with aggregate states; the codec is a static kernel
  * (functions/BitmapKernels.scala), everything around it a Catalyst
  * tree. Deviation: bitmapMin/Max return NULL on an empty bitmap (the
  * reference returns UINT64_MAX/0 sentinels). uniq states are
  * DataSketches HLL binaries, theta states the KMV sketch's
  * explicit-theta payloads; both persist to parquet and re-merge.
  */
object ChBitmapSketch {

  private val bmCls = classOf[graft.functions.BitmapKernels.type]

  private def bmBuild(arr: Expression): Expression =
    StaticInvoke(bmCls, BinaryType, "build",
      Seq(Cast(arr, ArrayType(LongType))), Seq(ArrayType(LongType)))
  private def bmCard(bm: Expression): Expression =
    StaticInvoke(bmCls, LongType, "card", Seq(bm), Seq(BinaryType))
  private def bmToArr(bm: Expression): Expression =
    SortArray(StaticInvoke(bmCls, ArrayType(LongType, containsNull = false),
      "toArr", Seq(bm), Seq(BinaryType)), Literal(true))
  private def bmAnd(x: Expression, y: Expression): Expression =
    StaticInvoke(bmCls, BinaryType, "and", Seq(x, y),
      Seq(BinaryType, BinaryType))
  private def bmOr(x: Expression, y: Expression): Expression =
    StaticInvoke(bmCls, BinaryType, "or", Seq(x, y),
      Seq(BinaryType, BinaryType))
  private def bmXor(x: Expression, y: Expression): Expression =
    StaticInvoke(bmCls, BinaryType, "xor", Seq(x, y),
      Seq(BinaryType, BinaryType))
  private def bmAndnot(x: Expression, y: Expression): Expression =
    StaticInvoke(bmCls, BinaryType, "andNot", Seq(x, y),
      Seq(BinaryType, BinaryType))
  private def bmAndCard(x: Expression, y: Expression): Expression =
    StaticInvoke(bmCls, LongType, "andCard", Seq(x, y),
      Seq(BinaryType, BinaryType))
  private def bmContains(bm: Expression, v: Expression): Expression =
    StaticInvoke(bmCls, BooleanType, "contains", Seq(bm, asLong(v)),
      Seq(BinaryType, LongType))

  private def bitmapColumn(name: String, c: Expression)
      : Expression = {
    val col = ExprColumn.column(c)
    val out = name match {
      case "build" => graft.functions.BitmapFunctions.bitmapBuildAgg(col)
      case "and" => graft.functions.BitmapFunctions.bitmapAndAgg(col)
      case "or" => graft.functions.BitmapFunctions.bitmapOrAgg(col)
      case _ => graft.functions.BitmapFunctions.bitmapXorAgg(col)
    }
    ExprColumn.resolvedExpression(out)
  }

  private val thetaCls = classOf[graft.functions.ThetaAlgebra.type]

  private def thetaOp(method: String, args: Seq[Expression]): Expression =
    StaticInvoke(thetaCls, BinaryType, method, args.take(2),
      Seq(BinaryType, BinaryType))

  val builders: Seq[(String, Builder)] = Seq(
    "bitmapbuild" -> (args => bmBuild(args.head)),
    "bitmapcardinality" -> (args => bmCard(args.head)),
    "bitmaptoarray" -> (args => bmToArr(args.head)),
    "bitmapcontains" -> (args => bmContains(args(0), args(1))),
    "bitmapand" -> (args => bmAnd(args(0), args(1))),
    "bitmapor" -> (args => bmOr(args(0), args(1))),
    "bitmapxor" -> (args => bmXor(args(0), args(1))),
    "bitmapandnot" -> (args => bmAndnot(args(0), args(1))),
    "bitmapandcardinality" -> (args => bmAndCard(args(0), args(1))),
    "bitmaporcardinality" -> (args => bmCard(bmOr(args(0), args(1)))),
    "bitmapxorcardinality" -> (args => bmCard(bmXor(args(0), args(1)))),
    "bitmapandnotcardinality" -> (args => bmCard(bmAndnot(args(0), args(1)))),
    "bitmapmin" -> (args => ArrayMin(bmToArr(args.head))),
    "bitmapmax" -> (args => ArrayMax(bmToArr(args.head))),
    "bitmaphasany" -> (args =>
      GreaterThan(bmAndCard(args(0), args(1)), Literal(0L))),
    // hasAll(a, b): every element of b is in a <=> |a ∩ b| = |b|
    "bitmaphasall" -> (args =>
      EqualTo(bmAndCard(args(0), args(1)), bmCard(args(1)))),
    // subsetInRange(bm, lo, hi): members in [lo, hi) as a new bitmap
    "bitmapsubsetinrange" -> (args =>
      bmBuild(ArrayFilter(bmToArr(args.head), lam1(x =>
        And(GreaterThanOrEqual(x, asLong(args(1))),
          LessThan(x, asLong(args(2)))))))),
    // subsetLimit(bm, start, limit): first `limit` members >= start
    "bitmapsubsetlimit" -> (args =>
      bmBuild(Slice(ArrayFilter(bmToArr(args.head), lam1(x =>
        GreaterThanOrEqual(x, asLong(args(1))))),
        Literal(1), Cast(args(2), IntegerType)))),
    // subBitmap(bm, offset, limit): members by POSITION — skip `offset`
    // smallest members, take the next `limit` (subBitmap.cpp; the
    // positional sibling of the value-based subsetLimit)
    "subbitmap" -> (args =>
      bmBuild(Slice(bmToArr(args.head),
        Add(Cast(args(1), IntegerType), Literal(1)),
        Cast(args(2), IntegerType)))),

    // bitmapTransform over the Roaring carrier
    "bitmaptransform" -> (args => sweep9(BinaryType, "bitmapTransform",
      Seq(Cast(args(0), BinaryType), Cast(args(1), ArrayType(LongType)),
        Cast(args(2), ArrayType(LongType))),
      Seq(BinaryType, ArrayType(LongType), ArrayType(LongType)))),
    // groupBitmap family (AggregateFunctionGroupBitmap.cpp): cardinality
    // of the built / combined bitmap state
    "groupbitmap" -> (args =>
      bmCard(bitmapColumn("build", asLong(args.head)))),
    "groupbitmapand" -> (args => bmCard(bitmapColumn("and", args.head))),
    "groupbitmapor" -> (args => bmCard(bitmapColumn("or", args.head))),
    "groupbitmapxor" -> (args => bmCard(bitmapColumn("xor", args.head))),

    // ---- uniq / theta sketch states ----
    // -State/-Merge for uniq, carried by DataSketches HLL (binary states
    // persist to parquet and re-merge, exactly like the reference's
    // AggregateFunction(uniq, ...) columns in an AggregatingMergeTree).
    "uniqstate" -> (args => new HllSketchAgg(args.head)),
    "uniqmerge" -> (args =>
      HllSketchEstimate(new HllUnionAgg(args.head).toAggregateExpression())),
    "uniqthetastate" -> (args =>
      graft.functions.ThetaSketch.UniqThetaState(args.head)),
    // initializeAggregation('uniqThetaState', x)
    // (src/Functions/initializeAggregation.cpp): the state a single-row
    // aggregation would produce — the same XxHash64(seed 42) element
    // hash UniqThetaState uses, packed as a one-element exact state, so
    // it composes with the theta set algebra and finalizeAggregation.
    "initializeaggregation" -> (args => args.head match {
      case Literal(s, StringType)
          if s != null && s.toString.equalsIgnoreCase("uniqThetaState") =>
        StaticInvoke(thetaCls, BinaryType, "singleton",
          Seq(XxHash64(Seq(args(1)), 42L)), Seq(LongType))
      case _ => throw new IllegalArgumentException(
        "initializeAggregation: only the 'uniqThetaState' lane is " +
          "implemented (the theta-sketch state family)")
    }),
    "uniqthetaunion" -> (args => thetaOp("union", args)),
    "uniqthetaintersect" -> (args => thetaOp("intersect", args)),
    "uniqthetanot" -> (args => thetaOp("andNot", args)),
    // finalizeAggregation over the explicit-theta states this engine's
    // -State lane emits (other -State families finalize through their
    // own builders; a non-theta binary fails loudly in the kernel)
    "finalizeaggregation" -> (args =>
      StaticInvoke(thetaCls, LongType, "estimate", Seq(args.head),
        Seq(BinaryType))))
}
