package graft.sql

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Expression-building vocabulary shared by the function family modules
  * (ChConversions, ChDateTime, ChStrings, …): the builder type, the
  * analyzer-typed lambda variables, the common casts, and the static
  * kernel calls. */
private[sql] object ChBuild {

  type Builder = Seq[Expression] => Expression

  private val nameSeq = new AtomicInteger(0)

  /** A fresh lambda variable; the analyzer types it from the array it
    * ranges over, exactly as the SQL parser's lambdas. */
  def lv(): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq("ch_lv_" + nameSeq.incrementAndGet()))

  def lv(name: String): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq(name))

  def lam1(f: Expression => Expression): LambdaFunction = {
    val x = lv(); LambdaFunction(f(x), Seq(x))
  }

  def lam2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val x = lv(); val y = lv(); LambdaFunction(f(x, y), Seq(x, y))
  }

  def asInt(e: Expression): Expression = Cast(e, IntegerType)
  def asLong(e: Expression): Expression = Cast(e, LongType)
  def asDouble(e: Expression): Expression = Cast(e, DoubleType)

  /** element_at that returns NULL (typed) out of bounds even under ANSI. */
  def at(arr: Expression, i: Expression): Expression =
    ElementAt(arr, i, None, failOnError = false)

  def at(arr: Expression, i: Int): Expression = at(arr, Literal(i))

  def strLit(s: String): Expression =
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType)

  def foldStr(e: Expression): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got $other")
  }

  /** A literal string argument (a unit or type name), or fail loudly. */
  def litString(e: Expression, what: String): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what expects a literal string, got $other")
  }

  /** A literal format-string argument, or fail loudly. */
  def fmtArg(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a literal format string, got $other")
  }

  // ---- static kernels (codegen inlines the call; no Scala UDF) --------

  def sweep6(ret: DataType, method: String, args: Seq[Expression],
      types: Seq[DataType]): Expression =
    StaticInvoke(classOf[graft.functions.SweepKernels.type], ret, method,
      args, types)

  def sweep7(ret: DataType, method: String, args: Seq[Expression],
      types: Seq[DataType]): Expression =
    StaticInvoke(classOf[graft.functions.SweepKernels7.type], ret, method,
      args, types)

  def sweep8(ret: DataType, method: String, args: Seq[Expression],
      types: Seq[DataType]): Expression =
    StaticInvoke(classOf[graft.functions.SweepKernels8.type], ret, method,
      args, types)

  def sweep9(ret: DataType, method: String, args: Seq[Expression],
      types: Seq[DataType]): Expression =
    StaticInvoke(classOf[graft.functions.SweepKernels9.type], ret, method,
      args, types)

  /** Invoke a StringBridge method — stays codegen'd via addReferenceObj
    * (the UrlEncode/UrlDecode object-call shape). */
  def bridge(method: String, ret: DataType, args: Seq[Expression],
      types: Seq[DataType]): Expression =
    objects.Invoke(
      Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
        ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
      method, ret, args, types)
}
