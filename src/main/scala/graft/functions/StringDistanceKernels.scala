package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the string-distance family
  * (src/Functions/FunctionsStringDistance.cpp), registered in
  * sql/ChStringSearch.scala via StaticInvoke. Byte-level like the
  * reference's Byte* impls (the corpus is ASCII; the UTF8 jaccard variant
  * works on code points like ByteJaccardIndexImpl<true>).
  *
  * Faithful quirks:
  *  - damerauLevenshteinDistance is OPTIMAL STRING ALIGNMENT
  *    (FunctionsStringDistance.cpp:322 cites the OSA variant explicitly) —
  *    NOT unrestricted Damerau-Levenshtein: osa("ca","abc") = 3 where true
  *    DL = 2. Pinned in the edge battery.
  *  - jaroSimilarity returns the OTHER string's LENGTH when one side is
  *    empty (the reference's shortcut returns needle_size/haystack_size,
  *    FunctionsStringDistance.cpp:~350) — a similarity > 1; reproduced
  *    bit-for-bit rather than "fixed".
  *  - jaroWinkler boosts only above 0.7, prefix capped at 4, factor 0.1.
  */
object StringDistanceKernels {

  def damerauLevenshtein(a0: UTF8String, b0: UTF8String): Int = {
    val a = a0.getBytes; val b = b0.getBytes
    val la = a.length; val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    if (java.util.Arrays.equals(a, b)) return 0
    val d = Array.ofDim[Int](la + 1, lb + 1)
    var i = 0
    while (i <= la) { d(i)(0) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j) = j; j += 1 }
    i = 1
    while (i <= la) {
      j = 1
      while (j <= lb) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + cost)
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          v = math.min(v, d(i - 2)(j - 2) + 1)
        d(i)(j) = v
        j += 1
      }
      i += 1
    }
    d(la)(lb)
  }

  def jaro(a0: UTF8String, b0: UTF8String): Double = {
    val a = a0.getBytes; val b = b0.getBytes
    val l1 = a.length; val l2 = b.length
    if (l1 == 0) return l2.toDouble // reference shortcut quirk
    if (l2 == 0) return l1.toDouble
    if (java.util.Arrays.equals(a, b)) return 1.0
    val maxRange = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = Array.fill(l1)(-1)
    val m2 = Array.fill(l2)(-1)
    var matches = 0
    var i = 0
    while (i < l1) {
      var j = math.max(i - maxRange, 0)
      val jMax = math.min(i + maxRange + 1, l2)
      var found = false
      while (j < jMax && !found) {
        if (m2(j) == -1 && a(i) == b(j)) {
          m1(i) = i; m2(j) = j; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0.0
    var s1i = 0; var s2i = 0; var k = 0
    while (k < matches) {
      while (m1(s1i) == -1) s1i += 1
      while (m2(s2i) == -1) s2i += 1
      if (a(s1i) != b(s2i)) transpositions += 0.5
      s1i += 1; s2i += 1; k += 1
    }
    val m = matches.toDouble
    (m / l1 + m / l2 + (m - transpositions) / m) / 3.0
  }

  def jaroWinkler(a0: UTF8String, b0: UTF8String): Double = {
    val j = jaro(a0, b0)
    if (j <= 0.7) return j
    val a = a0.getBytes; val b = b0.getBytes
    val commonLength = math.min(4, math.min(a.length, b.length))
    var prefix = 0
    while (prefix < commonLength && a(prefix) == b(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  def jaccardBytes(a0: UTF8String, b0: UTF8String): Double = {
    val a = a0.getBytes; val b = b0.getBytes
    if (a.length == 0 || b.length == 0) return 0.0
    val sa = new Array[Boolean](256)
    val sb = new Array[Boolean](256)
    a.foreach(x => sa(x & 0xff) = true)
    b.foreach(x => sb(x & 0xff) = true)
    var inter = 0; var union = 0; var i = 0
    while (i < 256) {
      if (sa(i) && sb(i)) inter += 1
      if (sa(i) || sb(i)) union += 1
      i += 1
    }
    inter.toDouble / union
  }

  def jaccardCodepoints(a0: UTF8String, b0: UTF8String): Double = {
    val a = a0.toString; val b = b0.toString
    if (a.isEmpty || b.isEmpty) return 0.0
    val sa = a.codePoints().toArray.toSet
    val sb = b.codePoints().toArray.toSet
    (sa & sb).size.toDouble / (sa | sb).size
  }
}
