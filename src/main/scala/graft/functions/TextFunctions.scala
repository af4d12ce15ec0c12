package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis and similarity primitives for the training-data pipeline
  * milestone (SURVEY §7 item 10). Everything here is composed from
  * codegen'd Catalyst built-ins (HOFs over arrays, hash functions) — no
  * Scala UDFs — so whole-stage codegen stays intact at 100 TB.
  *
  * Reference anchors: tokenization (src/Functions/splitByChar.cpp,
  * ngrams.cpp), hashing (src/Functions/FunctionsHashing.h), vector search
  * (src/Storages/MergeTree/MergeTreeIndexVectorSimilarity.cpp — re-expressed
  * as LSH bucketing + exact re-rank instead of an HNSW graph, which is the
  * shuffle-friendly formulation).
  */
object TextFunctions {

  /** Whitespace tokens (lowercased). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Distinct word set — the unit for word-level Jaccard. */
  def wordSet(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram (shingle) set — the MinHash unit. Unlike the word SET,
    * shingles keep local order, so a shared vocabulary does not saturate
    * similarity (measured on this corpus: 0.8-jaccard pair density drops
    * ~30,000x moving from word sets to 3-gram shingles). */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = tokens(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => array_join(slice(ws, i, lit(n)), " ")))
  }

  /** Exact Jaccard similarity of two DISTINCT-element array columns.
    * |a∪b| = |a|+|b|−|a∩b| when both sides are sets (wordSet/wordShingles
    * both array_distinct), so one hash-set build per pair instead of two —
    * array_intersect is evaluated once (codegen subexpression elimination;
    * both occurrences are the same deterministic tree). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** Necessary condition for jaccard(a,b) >= t over set-arrays, from
    * |a∩b| <= min and |a∪b| >= max: jac <= min/max. Evaluating two size()
    * calls rejects most within-block pairs before any hash-set build —
    * the standard length-filter of set-similarity joins (e.g. PPJoin). */
  def jaccardLengthOk(a: Column, b: Column, t: Double): Column =
    least(size(a), size(b)).cast("double") >=
      greatest(size(a), size(b)).cast("double") * t

  /** MinHash signature: k independent min-hashes over a token array.
    * Each token is string-hashed ONCE (xxhash64), then the k hash-family
    * members derive from the 8-byte value via seeded re-hash — k long
    * hashes instead of k string hashes per token, ~10x cheaper since HOF
    * lambdas evaluate interpreted (outside whole-stage codegen).
    * (Hash family per src/Functions/FunctionsHashing.h — any 64-bit mixer
    * works; signatures only need consistency within this engine.)
    * Returns array<bigint> of length k. */
  def minhashSignature(tokenArr: Column, k: Int): Column = {
    val hs = transform(tokenArr, t => xxhash64(t))
    array((0 until k).map { i =>
      aggregate(hs, lit(Long.MaxValue),
        (acc, h) => least(acc, xxhash64(lit(i.toLong), h)))
    }: _*)
  }

  /** LSH band keys from a minhash signature: `bands` keys each hashing
    * `rowsPerBand` consecutive signature slots. Docs sharing any band key
    * become candidate pairs — the standard banding scheme. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(concat_ws("_",
          slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))
            .cast("array<string>"))).as("key")))

  /** DataFrame-level minhash: explode the token array once, string-hash
    * each token once, then take k seeded-rehash MIN aggregates per doc —
    * all codegen'd expressions (same signature values as
    * `minhashSignature`, which folds k interpreted HOF lambdas per row and
    * is ~10x slower; this is the form to use at scale — the same
    * explode+groupBy move as `simhashTable`). Returns (id, sig). */
  def minhashTable(df: org.apache.spark.sql.DataFrame, id: String,
      tokenArr: Column, k: Int): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(id), explode(tokenArr).as("t"))
      .select(col(id), xxhash64(col("t")).as("h"))
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(i.toLong), col("h"))).as(s"__m$i"))
    ex.groupBy(col(id)).agg(mins.head, mins.tail: _*)
      .select(col(id), array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** SimHash-64 over a token array: bit j of the result is set iff the sum
    * of ±1 votes (sign of bit j of each token's hash) is positive.
    * Reference analog: near-duplicate fingerprinting over tokens. */
  def simhash64(tokenArr: Column): Column = {
    val hs = transform(tokenArr, t => xxhash64(t))
    val bitSums = transform(sequence(lit(0), lit(63)), j =>
      aggregate(hs, lit(0L), (acc, h) =>
        acc + when(call_function("shiftright", h, j)
          .bitwiseAND(lit(1L)) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, j) => when(s > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** DataFrame-level simhash: explode shingles and compute the 64 bit
    * votes as codegen'd aggregate expressions. ~100x faster than the
    * HOF-lambda `simhash64` (HOF lambdas evaluate interpreted, outside
    * whole-stage codegen) — this is the form to use at scale. Returns
    * (id, sh). */
  def simhashTable(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(id), explode(wordShingles(text, n)).as("t"))
      .select(col(id), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1, 1L)
        .otherwise(-1L)).as(s"__b$j"))
    val agg = ex.groupBy(col(id)).agg(votes.head, votes.tail: _*)
    val sh = (0 until 64).map(j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    agg.select(col(id), sh.as("sh"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text
    * (md5 so the DuckDB oracle can reproduce it bit-for-bit). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Dot product of two equal-length double arrays. Codegen'd left-to-right
    * loop (org.apache.spark.sql.graft.ArrayDotProduct) — bit-identical to
    * the interpreted `aggregate(zip_with(...))` fold it replaced (round-2
    * verdict: the interpreted form WAS the cost of the ANN re-rank) and to
    * engines that fold left-to-right (the DuckDB oracle's LIST_REDUCE). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ExprColumn.column(
      org.apache.spark.sql.graft.ArrayDotProduct(
        org.apache.spark.sql.graft.ExprColumn.expression(a),
        org.apache.spark.sql.graft.ExprColumn.expression(b)))

  /** sqrt(dot(a,a)) — same per-element products and fold order as the HOF
    * form, so existing oracles stay hash-stable. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))
}
