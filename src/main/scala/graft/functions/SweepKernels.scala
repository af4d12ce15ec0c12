package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels invoked from the SQL dialect via StaticInvoke
  * (ChBuild.sweep6, called from the sql/Ch* family modules: hashes,
  * strings, math, introspection, arrays). Each re-implements a
  * PUBLISHED algorithm or formula cited at the method — never the
  * reference's code (its role is only naming the function + its return
  * shape).
  */
object SweepKernels {

  // ---- inverse normal CDF (Acklam's rational approximation — the
  // published algorithm; |ε| < 1.15e-9 over (0,1)) --------------------
  private val aC = Array(-3.969683028665376e+01, 2.209460984245205e+02,
    -2.759285104469687e+02, 1.383577518672690e+02, -3.066479806614716e+01,
    2.506628277459239e+00)
  private val bC = Array(-5.447609879822406e+01, 1.615858368580409e+02,
    -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
  private val cC = Array(-7.784894002430293e-03, -3.223964580411365e-01,
    -2.400758277161838e+00, -2.549732539343734e+00, 4.374664141464968e+00,
    2.938163982698783e+00)
  private val dC = Array(7.784695709041462e-03, 3.224671290700398e-01,
    2.445134137142996e+00, 3.754408661907416e+00)

  def invNormCdf(p: Double): Double = {
    if (p.isNaN || p <= 0.0 || p >= 1.0) return Double.NaN
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((cC(0) * q + cC(1)) * q + cC(2)) * q + cC(3)) * q + cC(4)) * q + cC(5)) /
        ((((dC(0) * q + dC(1)) * q + dC(2)) * q + dC(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5
      val r = q * q
      (((((aC(0) * r + aC(1)) * r + aC(2)) * r + aC(3)) * r + aC(4)) * r + aC(5)) * q /
        (((((bC(0) * r + bC(1)) * r + bC(2)) * r + bC(3)) * r + bC(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((cC(0) * q + cC(1)) * q + cC(2)) * q + cC(3)) * q + cC(4)) * q + cC(5)) /
        ((((dC(0) * q + dC(1)) * q + dC(2)) * q + dC(3)) * q + 1)
    }
  }

  /** A/B-test minimum sample size, continuous metric
    * (minSampleSize.cpp:159-161; the standard two-sample power formula
    * 2σ²(Z_{1−α/2}+Z_{power})²/Δ², Δ = baseline·mde). */
  def minSampleContinuous(baseline: Double, sigma: Double, mde: Double,
      power: Double, alpha: Double): Double = {
    if (!java.lang.Double.isFinite(baseline) ||
        !java.lang.Double.isFinite(sigma) ||
        mde <= 0 || mde >= 1 || power <= 0 || power >= 1 ||
        alpha <= 0 || alpha >= 1) return Double.NaN
    val delta = baseline * mde
    2 * sigma * sigma *
      math.pow(invNormCdf(1.0 - alpha / 2) + invNormCdf(power), 2) /
      (delta * delta)
  }

  /** A/B-test minimum sample size, conversion metric
    * (minSampleSize.cpp:266-271; pooled two-proportion formula). */
  def minSampleConversion(p1: Double, mde: Double, power: Double,
      alpha: Double): Double = {
    if (!java.lang.Double.isFinite(p1) || mde <= 0 || mde >= 1 ||
        power <= 0 || power >= 1 || alpha <= 0 || alpha >= 1)
      return Double.NaN
    val q1 = 1.0 - p1
    val p2 = p1 + mde
    val q2 = 1.0 - p2
    val pBar = (p1 + p2) / 2.0
    val qBar = 1.0 - pBar
    math.pow(invNormCdf(1.0 - alpha / 2) * math.sqrt(2.0 * pBar * qBar) +
      invNormCdf(power) * math.sqrt(p1 * q1 + p2 * q2), 2) / (mde * mde)
  }

  // ---- xxHash32 (the published xxHash spec, seed 0 like the
  // reference's xxHash32) ---------------------------------------------
  private val X1 = -1640531535 // 2654435761
  private val X2 = -2048144777 // 2246822519
  private val X3 = -1028477379 // 3266489917
  private val X4 = 668265263
  private val X5 = 374761393

  @inline private def intLE(d: Array[Byte], i: Int): Int =
    (d(i) & 0xff) | ((d(i + 1) & 0xff) << 8) | ((d(i + 2) & 0xff) << 16) |
      ((d(i + 3) & 0xff) << 24)

  def xxHash32(data: Array[Byte]): Long = {
    val seed = 0
    val len = data.length
    var idx = 0
    var h =
      if (len >= 16) {
        var v1 = seed + X1 + X2
        var v2 = seed + X2
        var v3 = seed
        var v4 = seed - X1
        while (idx <= len - 16) {
          v1 = Integer.rotateLeft(v1 + intLE(data, idx) * X2, 13) * X1
          v2 = Integer.rotateLeft(v2 + intLE(data, idx + 4) * X2, 13) * X1
          v3 = Integer.rotateLeft(v3 + intLE(data, idx + 8) * X2, 13) * X1
          v4 = Integer.rotateLeft(v4 + intLE(data, idx + 12) * X2, 13) * X1
          idx += 16
        }
        Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
          Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
      } else seed + X5
    h += len
    while (idx <= len - 4) {
      h = Integer.rotateLeft(h + intLE(data, idx) * X3, 17) * X4
      idx += 4
    }
    while (idx < len) {
      h = Integer.rotateLeft(h + (data(idx) & 0xff) * X5, 11) * X1
      idx += 1
    }
    h ^= h >>> 15; h *= X2; h ^= h >>> 13; h *= X3; h ^= h >>> 16
    h.toLong & 0xffffffffL
  }

  /** Kafka's murmur2 with the partitioner's positive mask (the published
    * Kafka partitioner algorithm the reference's kafkaMurmurHash mirrors). */
  def kafkaMurmurHash(data: Array[Byte]): Long = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    var h = seed ^ data.length
    val n4 = data.length / 4
    var i = 0
    while (i < n4) {
      val i4 = i * 4
      var k = intLE(data, i4)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 1
    }
    val tail = n4 * 4
    val rem = data.length & 3
    if (rem >= 3) h ^= (data(tail + 2) & 0xff) << 16
    if (rem >= 2) h ^= (data(tail + 1) & 0xff) << 8
    if (rem >= 1) { h ^= data(tail) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h.toLong & 0x7fffffffL
  }

  /** The reference's javaHashUTF16LE contract (FunctionsHashing.h:559):
    * the input's RAW BYTES are interpreted as UTF-16LE code units — a
    * leading BOM (FF FE) is stripped, an odd byte count is an error —
    * and hashed with Java's 31-multiplier recurrence, returned as the
    * signed Int32 widened to Long. NOT String.hashCode of the decoded
    * text: `javaHashUTF16LE('ab')` hashes the single unit 0x6261. */
  def javaHashUtf16(s: UTF8String): Long = {
    val bytes = s.getBytes
    var i =
      if (bytes.length >= 2 && bytes(0) == 0xFF.toByte &&
          bytes(1) == 0xFE.toByte) 2
      else 0
    if ((bytes.length - i) % 2 != 0)
      throw new IllegalArgumentException(
        "Arguments for javaHashUTF16LE must be in the form of UTF-16")
    var h = 0
    while (i + 1 < bytes.length) {
      h = 31 * h + ((bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8))
      i += 2
    }
    h.toLong
  }

  // ---- strings --------------------------------------------------------
  /** Replace the FIRST regexp match (replaceRegexpOne); reference
    * replacement syntax spells backreferences \1 — translated to Java's $1. */
  def replaceRegexpOne(s: UTF8String, pat: UTF8String,
      rep: UTF8String): UTF8String = {
    val javaRep = rep.toString.replaceAll("\\\\(\\d)", "\\$$1")
    UTF8String.fromString(
      java.util.regex.Pattern.compile(pat.toString)
        .matcher(s.toString).replaceFirst(javaRep))
  }

  def sha512_256(data: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-512/256").digest(data)

  /** throwIf(cond[, msg]): 0 when the condition is false/NULL, a loud
    * exception when true — the reference's assertion function. */
  def throwIf(cond: Boolean, msg: UTF8String): Long = {
    if (cond) throw new RuntimeException(msg.toString)
    0L
  }

  /** unbin('0110...') → the bytes those binary digits encode (left-padded
    * to a whole byte, like the reference's unbin). */
  def unbin(s: UTF8String): Array[Byte] = {
    val t = s.toString
    val padded = "0" * ((8 - t.length % 8) % 8) + t
    padded.grouped(8).map(b => Integer.parseInt(b, 2).toByte).toArray
  }

  // ---- random family (nondeterministic by contract) ------------------
  def randomPrintableAscii(n: Int): UTF8String = {
    val r = java.util.concurrent.ThreadLocalRandom.current()
    val chars = new Array[Byte](math.max(n, 0))
    var i = 0
    while (i < chars.length) {
      chars(i) = (32 + r.nextInt(95)).toByte; i += 1
    }
    UTF8String.fromBytes(chars)
  }

  def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](math.max(n, 0))
    java.util.concurrent.ThreadLocalRandom.current().nextBytes(b)
    b
  }

  /** Flip each bit of the input with probability p (fuzzBits). */
  def fuzzBits(s: UTF8String, p: Double): UTF8String = {
    val r = java.util.concurrent.ThreadLocalRandom.current()
    val bytes = s.getBytes.clone()
    var i = 0
    while (i < bytes.length) {
      var bit = 0
      while (bit < 8) {
        if (r.nextDouble() < p) bytes(i) = (bytes(i) ^ (1 << bit)).toByte
        bit += 1
      }
      i += 1
    }
    UTF8String.fromBytes(bytes)
  }

  // ---- arrayNormalizedGini (arrayNormalizedGini.cpp:139-174 return
  // shape; the math is the normalized-Gini definition of
  // arxiv.org/pdf/1912.07753: cumulative-share area of labels ordered by
  // ASCENDING prediction vs ordered by themselves) ---------------------
  private def giniParts(pred: Array[Double], labels: Array[Double])
      : (Double, Double, Double) = {
    val n = pred.length
    val order = pred.zipWithIndex.sortBy(_._1).map(_._2)
    val total = labels.sum
    var cum = 0.0
    var accPred = 0.0
    order.foreach { i => cum += labels(i) / total; accPred += cum }
    val sortedLabels = labels.sorted
    cum = 0.0
    var accLabel = 0.0
    sortedLabels.foreach { v => cum += v / total; accLabel += cum }
    val randomGain = 0.5 * (n + 1)
    val giniPred = (randomGain - accPred) / n
    val giniLabels = (randomGain - accLabel) / n
    (giniPred, giniLabels, giniPred / giniLabels)
  }

  def normalizedGini(pred: ArrayData, labels: ArrayData): ArrayData = {
    require(pred.numElements() == labels.numElements(),
      "arrayNormalizedGini: arrays must have the same size")
    val p = pred.toDoubleArray()
    val l = labels.toDoubleArray()
    val (gp, gl, gn) = giniParts(p, l)
    new GenericArrayData(Array(gp, gl, gn))
  }

  /** L^p-normalized vector (normalizeLp; p=0 → L∞ like the reference's
    * normalizeLinf lane is separate — here p ≥ 1). */
  def normalizeLp(v: ArrayData, p: Double): ArrayData = {
    val a = v.toDoubleArray()
    val norm = math.pow(a.map(x => math.pow(math.abs(x), p)).sum, 1.0 / p)
    new GenericArrayData(
      if (norm == 0.0) a else a.map(_ / norm))
  }

  // ---- sqids (sqid.cpp wraps sqids-cpp; this is the PUBLISHED sqids
  // spec — consistent shuffle, offset rotation, reversed alphabet,
  // separator-re-shuffled chunks; default alphabet, no blocklist (the
  // blocklist only re-encodes ids spelling rude words — documented).
  // Published vectors: encode(1,2,3)='86Rf07', encode(0)='bM'. --------
  private val SqidsDefault =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  private def sqShuffle(al: String): String = {
    val a = al.toCharArray
    var i = 0
    var j = a.length - 1
    while (j > 0) {
      val r = (i * j + a(i).toInt + a(j).toInt) % a.length
      val t = a(i); a(i) = a(r); a(r) = t
      i += 1; j -= 1
    }
    new String(a)
  }

  private val sqAlphabet = sqShuffle(SqidsDefault)

  private def sqToId(num: Long, al: String): String = {
    val sb = new StringBuilder
    var r = num
    while ({
      sb.insert(0, al((r % al.length).toInt))
      r /= al.length
      r != 0
    }) ()
    sb.toString
  }

  def sqidEncode(nums: ArrayData): UTF8String = {
    val ns = nums.toLongArray()
    require(ns.forall(_ >= 0), "sqidEncode needs non-negative numbers")
    var al = sqAlphabet
    var offset = ns.length
    ns.zipWithIndex.foreach { case (v, i) =>
      offset += al((v % al.length).toInt).toInt + i
    }
    offset %= al.length
    al = al.substring(offset) + al.substring(0, offset)
    val prefix = al(0)
    al = al.reverse
    val out = new StringBuilder().append(prefix)
    ns.zipWithIndex.foreach { case (num, i) =>
      out.append(sqToId(num, al.substring(1)))
      if (i < ns.length - 1) {
        out.append(al(0))
        al = sqShuffle(al)
      }
    }
    UTF8String.fromString(out.toString)
  }

  def sqidDecode(id0: UTF8String): ArrayData = {
    val full = id0.toString
    if (full.isEmpty) return new GenericArrayData(Array.empty[Long])
    var al = sqAlphabet
    val offset = al.indexOf(full(0))
    require(offset >= 0, s"sqidDecode: invalid id '$full'")
    al = al.substring(offset) + al.substring(0, offset)
    al = al.reverse
    var rest = full.substring(1)
    val nums = scala.collection.mutable.ArrayBuffer[Long]()
    while (rest.nonEmpty) {
      val sep = al(0)
      val cut = rest.indexOf(sep)
      val (chunk, tail) =
        if (cut < 0) (rest, "") else (rest.substring(0, cut), rest.substring(cut + 1))
      if (chunk.isEmpty) return new GenericArrayData(nums.toArray)
      var n = 0L
      val digits = al.substring(1)
      chunk.foreach { c =>
        val d = digits.indexOf(c)
        require(d >= 0, s"sqidDecode: invalid id '$full'")
        n = n * digits.length + d
      }
      nums += n
      rest = tail
      if (rest.nonEmpty) al = sqShuffle(al)
    }
    new GenericArrayData(nums.toArray)
  }

  // ---- series analytics ----------------------------------------------
  /** Tukey-fence outlier scores (seriesOutliersDetectTukey.cpp:148-183
    * semantics: the reference's exact quantile rule — len·p integral →
    * mean of the two straddling order statistics, else the ceil-th —
    * and score = min(x−lower,0)+max(x−upper,0); 0 for in-fence points). */
  def seriesOutliersTukey(series: ArrayData, minP: Double, maxP: Double,
      k: Double): ArrayData = {
    val src = series.toDoubleArray()
    require(src.length >= 4,
      "seriesOutliersDetectTukey needs at least four data points")
    require(minP >= 0.02 && minP <= 0.98 && maxP >= 0.02 && maxP <= 0.98 &&
      maxP >= minP, "percentiles must be in [0.02, 0.98], min <= max")
    val sorted = src.sorted
    def quantile(p: Double): Double = {
      val pos = src.length * p
      if (pos == math.floor(pos) && !pos.isInfinite) {
        val i = pos.toInt - 1
        (sorted(i) + sorted(i + 1)) / 2
      } else sorted(math.ceil(pos).toInt - 1)
    }
    val q1 = quantile(minP)
    val q2 = quantile(maxP)
    val iqr = q2 - q1
    val lower = q1 - k * iqr
    val upper = q2 + k * iqr
    new GenericArrayData(src.map(x =>
      math.min(x - lower, 0.0) + math.max(x - upper, 0.0)))
  }

  /** Dominant period via the real-input DFT periodogram
    * (seriesPeriodDetectFFT.cpp:117-165 semantics: bins 1..(len-1)/2−1,
    * max magnitude → freq = idx·0.5/(specLen−1), period = round(1/freq);
    * NaN below 4 points, 0 for a flat signal). A direct O(n²) DFT over
    * the bounded per-row array computes the same spectrum the
    * reference's pocketfft does. */
  def seriesPeriodFFT(series: ArrayData): Double = {
    val src = series.toDoubleArray()
    val len = src.length
    if (len < 4) return Double.NaN
    require(len <= 65536, "seriesPeriodDetectFFT: array too large")
    val specLen = (len - 1) / 2
    var maxMag = 0.0
    var idx = 1
    var i = 1
    while (i < specLen) {
      var re = 0.0
      var im = 0.0
      var t = 0
      while (t < len) {
        val ang = -2.0 * math.Pi * i * t / len
        re += src(t) * math.cos(ang)
        im += src(t) * math.sin(ang)
        t += 1
      }
      val mag = math.sqrt(re * re + im * im)
      if (mag > maxMag) { maxMag = mag; idx = i }
      i += 1
    }
    // flat signal → all non-DC bins are zero up to float noise from the
    // cos/sin sums (the reference's pocketfft check is == 0; a direct
    // DFT needs the relative epsilon to express the same contract)
    val scale = src.foldLeft(0.0)((a, x) => a + math.abs(x))
    if (maxMag <= 1e-9 * math.max(1.0, scale)) return 0.0
    val step = 0.5 / (specLen - 1)
    val freq = idx * step
    math.round(1 / freq).toDouble
  }
}
