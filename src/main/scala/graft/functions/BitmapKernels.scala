package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Static JVM kernels for the SCALAR Roaring bitmap functions registered in
  * the SQL dialect (sql/ChBitmapSketch.scala) via StaticInvoke — unlike
  * the Column-based UDFs in [[BitmapFunctions]] (which cannot be embedded
  * inside a FunctionRegistry expression tree), StaticInvoke participates in
  * codegen directly. Payloads are the same Roaring64 portable bytes the
  * groupBitmap aggregates produce, so scalar ops compose with aggregate
  * states. Reference: src/Functions/FunctionsBitmap.h. */
object BitmapKernels {

  import BitmapFunctions.{deserialize, serialize}

  def build(xs: ArrayData): Array[Byte] = {
    val bm = new Roaring64Bitmap()
    var i = 0
    val n = xs.numElements()
    while (i < n) { bm.addLong(xs.getLong(i)); i += 1 }
    serialize(bm)
  }

  def card(b: Array[Byte]): Long = deserialize(b).getLongCardinality

  def toArr(b: Array[Byte]): ArrayData =
    new GenericArrayData(deserialize(b).toArray)

  def contains(b: Array[Byte], v: Long): Boolean = deserialize(b).contains(v)

  def and(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val b = deserialize(x); b.and(deserialize(y)); serialize(b)
  }

  def or(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val b = deserialize(x); b.or(deserialize(y)); serialize(b)
  }

  def xor(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val b = deserialize(x); b.xor(deserialize(y)); serialize(b)
  }

  def andNot(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val b = deserialize(x); b.andNot(deserialize(y)); serialize(b)
  }

  def andCard(x: Array[Byte], y: Array[Byte]): Long =
    Roaring64Bitmap.andCardinality(deserialize(x), deserialize(y))
}
