package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQ8 scalar quantization for ANN — the classic per-dimension 8-bit
  * codec (the faiss ScalarQuantizer QT_8bit design, Jégou et al.'s
  * uniform-quantization baseline): each dimension maps to a byte via a
  * corpus-wide [min, max] range, so a d-dim float64 vector becomes d
  * bytes (8× less scan traffic) plus one exact float norm for cosine.
  *
  * Approximate score against a query q decomposes per vector into
  *   dot(q, x̂) = Σᵢ qᵢ·minᵢ  +  Σᵢ (qᵢ·scaleᵢ)·codeᵢ
  * where the first term and the per-dimension weights are QUERY
  * constants — the scan multiplies bytes by a broadcast weight array,
  * nothing else. Cosine divides by the STORED exact vector norm and the
  * query norm.
  *
  * 100 TB shape: training is one bounded aggregate (d rows of
  * min/max); quantization is a per-row projection; search is a
  * broadcast-join scan over the byte codes with a top-k; the optional
  * rerank joins the top-C candidates back to the raw vectors by id —
  * candidates only, never the corpus. */
object VectorSQ {

  /** Per-dimension quantization ranges. */
  final case class Ranges(mins: Array[Double], scales: Array[Double])

  /** One pass over the corpus: per-dimension [min, max] (bounded by the
    * dimension count, never the row count). */
  def train(e: DataFrame, vecCol: String = "embedding"): Ranges = {
    val mm = e.select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("d").collect()
    val mins = mm.map(_.getDouble(1))
    val scales = mm.map { r =>
      val span = r.getDouble(2) - r.getDouble(1)
      if (span <= 0) 0.0 else span / 255.0
    }
    Ranges(mins, scales)
  }

  // ---- kernels (codegen-eligible StaticInvoke targets) ---------------

  def quantize(vec: org.apache.spark.sql.catalyst.util.ArrayData,
      mins: org.apache.spark.sql.catalyst.util.ArrayData,
      scales: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val xs = vec.toDoubleArray()
    val lo = mins.toDoubleArray()
    val sc = scales.toDoubleArray()
    val out = new Array[Byte](xs.length)
    var i = 0
    while (i < xs.length) {
      val c =
        if (sc(i) == 0.0) 0
        else math.max(0, math.min(255,
          math.round((xs(i) - lo(i)) / sc(i)).toInt))
      out(i) = c.toByte
      i += 1
    }
    out
  }

  def vecNorm(vec: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val xs = vec.toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < xs.length) { s += xs(i) * xs(i); i += 1 }
    math.sqrt(s)
  }

  /** qmin + Σ w(i)·code(i) — the whole per-row scan work. */
  def sq8Dot(codes: Array[Byte],
      w: org.apache.spark.sql.catalyst.util.ArrayData,
      qmin: Double): Double = {
    val ws = w.toDoubleArray()
    var s = qmin
    var i = 0
    while (i < codes.length) { s += ws(i) * (codes(i) & 0xff); i += 1 }
    s
  }

  private def invoke(ret: DataType, method: String, args: Seq[Column],
      types: Seq[DataType]): Column = {
    import org.apache.spark.sql.graft.ExprColumn
    ExprColumn.column(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[VectorSQ.type], ret, method,
        args.map(ExprColumn.expression), types))
  }

  private def dArr(a: Array[Double]): Column =
    lit(a) // array<double> literal

  /** The quantized corpus: (id, codes binary, exact norm). */
  def encode(e: DataFrame, r: Ranges, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    e.select(col(idCol),
      invoke(BinaryType, "quantize",
        Seq(col(vecCol), dArr(r.mins), dArr(r.scales)),
        Seq(ArrayType(DoubleType), ArrayType(DoubleType),
          ArrayType(DoubleType))).as("codes"),
      invoke(DoubleType, "vecNorm", Seq(col(vecCol)),
        Seq(ArrayType(DoubleType))).as("norm"))

  /** Brute-force SQ8 top-k for a query set: broadcast the per-query
    * weight rows, scan the byte codes once, rank per query. Returns
    * (query_id, vec_id, approx_cos, rank). */
  def topK(spark: SparkSession, encoded: DataFrame, r: Ranges,
      queries: Seq[(Long, Array[Double])], k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val qdf = queries.map { case (qid, q) =>
      val qmin = q.indices.map(i => q(i) * r.mins(i)).sum
      val w = q.indices.map(i => q(i) * r.scales(i)).toArray
      (qid, w, qmin, math.sqrt(q.map(x => x * x).sum))
    }.toDF("query_id", "w", "qmin", "qnorm")
    val scored0 = encoded.crossJoin(broadcast(qdf))
      .select(col("query_id"), col("vec_id"),
        (invoke(DoubleType, "sq8Dot",
          Seq(col("codes"), col("w"), col("qmin")),
          Seq(BinaryType, ArrayType(DoubleType), DoubleType)) /
          (col("norm") * col("qnorm"))).as("approx_cos"))
    val scored =
      if (excludeSelf) scored0.filter(col("vec_id") =!= col("query_id"))
      else scored0
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("approx_cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
  }
}
