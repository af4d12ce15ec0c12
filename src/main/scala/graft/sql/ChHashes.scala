package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

import ChBuild._

/** Hash and encryption functions (src/Functions/FunctionsHashing.h,
  * FunctionsStringHash.cpp, src/Common/SipHash.h, jumpConsistentHash.cpp,
  * kostikConsistentHash.cpp, encrypt.cpp, decrypt.cpp,
  * aes_encrypt_mysql.cpp).
  *
  * Published algorithms are implemented exactly (SipHash-2-4, MD5, the
  * SHA-2 family, MurmurHash2/3, xxHash32, CRC-32/64, the JDK and Hive
  * string hashes, intHash32/64) and hash their UTF-8 bytes like the
  * reference. cityHash64, farmHash64, metroHash64, wyHash64 and the
  * SimHash/MinHash family are name-compatible stand-ins, NOT
  * value-compatible (never pin their values in tests); digests the JVM
  * does not ship (BLAKE3/Keccak/RIPEMD/MD4) are a shape-compatible
  * SHA-256 prefix.
  *
  * Deliberately NOT registered: xxHash64 / xxh3 — xxhash64 is a Spark
  * built-in with seed-42 semantics used internally (Components
  * checksums); shadowing it would change standard-query behavior
  * session-wide. CH-seed-0 callers use sipHash64/xxHash32.
  */
object ChHashes {

  private val hkCls = classOf[graft.functions.HashKernels.type]

  private def bin(e: Expression): Expression = Cast(e, BinaryType)

  private def xx(args: Seq[Expression]): Expression = XxHash64(args, 42L)

  private def sha2bin(e: Expression, bits: Int): Expression =
    Unhex(Sha2(Cast(e, BinaryType), Literal(bits)))

  /** First `bytes` bytes of SHA-256, as a shape-compatible stand-in for
    * digests the JVM does not ship (BLAKE3/Keccak/RIPEMD/MD4). */
  private def shaPrefix(e: Expression, bytes: Int): Expression =
    Unhex(Substring(Sha2(Cast(e, BinaryType), Literal(256)),
      Literal(1), Literal(bytes * 2)))

  /** (k0, k1) from the reference's key-tuple first argument. */
  private def keyed(method: String, ret: DataType, key: Expression,
      data: Expression): Expression =
    sweep7(ret, method,
      Seq(Cast(GetStructField(key, 0), LongType),
        Cast(GetStructField(key, 1), LongType), bin(data)),
      Seq(LongType, LongType, BinaryType))

  /** intHash64 (FunctionsHashing.h:184-192) via the wrap-exact static
    * kernel (graft.functions.HashKernels — ANSI mode rejects the
    * intentional overflow in Catalyst tree form). Result is a UInt64,
    * carried as DECIMAL(20,0) via two's-complement reinterpretation (the
    * engine-wide u64 convention). */
  private def intHash64(x0: Expression): Expression =
    u64Decimal(StaticInvoke(hkCls, LongType, "intHash64",
      Seq(asLong(x0)), Seq(LongType)))

  /** Signed-long bit pattern → unsigned DECIMAL(20,0). */
  private def u64Decimal(x: Expression): Expression = {
    val d = Cast(x, DecimalType(20, 0))
    If(LessThan(x, Literal(0L)),
      Add(d, Cast(Literal(BigDecimal(2).pow(64).underlying()), DecimalType(20, 0))), d)
  }

  /** intHash32 (Hash.h:499 with the FunctionsHashing.h:180 salt). */
  private def intHash32(x0: Expression): Expression =
    StaticInvoke(hkCls, LongType, "intHash32",
      Seq(asLong(x0)), Seq(LongType))

  /** The value's UTF-8 byte image: strings/binaries byte-identical;
    * other types hash their string rendering (documented — the
    * stand-ins hashed a Spark-typed image, so the single-arg string
    * lane is the one with a reference contract to honor). */
  private def bytesOf(e: Expression): Expression =
    Cast(Cast(e, StringType), BinaryType)

  /** Single-arg inputs hash their UTF-8 bytes with the published
    * algorithm; multi-arg combine lanes keep the engine-wide stand-in. */
  private def realHash(args: Seq[Expression], ret: DataType,
      method: String): Expression =
    if (args.length == 1)
      sweep9(ret, method, Seq(bytesOf(args.head)), Seq(BinaryType))
    else if (ret == BinaryType)
      StaticInvoke(hkCls, BinaryType,
        "hash128", Seq(XxHash64(args, 42L), XxHash64(args, 7L)),
        Seq(LongType, LongType))
    else XxHash64(args, 42L)

  /** args(i) as Int expression, or the literal default. */
  private def argOr(args: Seq[Expression], i: Int, default: Int): Expression =
    if (args.length > i) Cast(args(i), IntegerType) else Literal(default)

  // ---- minhash/simhash spelling matrix (FunctionsStringHash.cpp):
  // CaseInsensitive lanes lowercase, UTF8 spellings share the base
  // kernels (strings are Unicode), Arg lanes expose the shingle that
  // achieves each lane's min (name-compatible, never value-pinned) ------

  private def mh(method: String, suffix: String)(args: Seq[Expression]) =
    StaticInvoke(hkCls, LongType, method + suffix,
      Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))

  private def pair(method: String, ci: Boolean)(args: Seq[Expression]) =
    CreateStruct(Seq(
      mh(method, if (ci) "ACI" else "A")(args),
      mh(method, if (ci) "BCI" else "B")(args)))

  private def argPair(method: String, ci: Boolean)(args: Seq[Expression]) =
    CreateStruct(Seq(
      StaticInvoke(hkCls, StringType, method,
        Seq(args.head, argOr(args, 1, 3), Literal(ci), Literal(false)),
        Seq(StringType, IntegerType, BooleanType, BooleanType)),
      StaticInvoke(hkCls, StringType, method,
        Seq(args.head, argOr(args, 1, 3), Literal(ci), Literal(true)),
        Seq(StringType, IntegerType, BooleanType, BooleanType))))

  private val qnCls = classOf[graft.functions.QueryNormKernels.type]

  /** 'aes-128-ecb' → the Spark mode literal (ECB/CBC/GCM). */
  private def aesModeOf(e: Expression): Expression = {
    val m = litString(e, "encrypt/decrypt mode").toLowerCase.split("-")
    require(m.length == 3 && m(0) == "aes" &&
        Set("128", "192", "256")(m(1)) && Set("ecb", "cbc", "gcm")(m(2)),
      s"unsupported cipher mode '${m.mkString("-")}'")
    Literal(m(2).toUpperCase)
  }

  val builders: Seq[(String, Builder)] = Seq(
    // name-only stand-in (values are ours)
    "cityhash64" -> (args => XxHash64(args, 42L)),
    "siphash64" -> (args => sweep7(LongType, "sipHash64",
      Seq(bin(args.head)), Seq(BinaryType))),
    "siphash64keyed" -> (args =>
      keyed("sipHash64Keyed", LongType, args(0), args(1))),
    "siphash128" -> (args => sweep7(BinaryType, "sipHash128",
      Seq(bin(args.head)), Seq(BinaryType))),
    "siphash128keyed" -> (args =>
      keyed("sipHash128Keyed", BinaryType, args(0), args(1))),
    "siphash128reference" -> (args =>
      sweep7(BinaryType, "sipHash128Reference",
        Seq(bin(args.head)), Seq(BinaryType))),
    "siphash128referencekeyed" -> (args =>
      keyed("sipHash128ReferenceKeyed", BinaryType, args(0), args(1))),
    "halfmd5" -> (args => sweep7(LongType, "halfMd5",
      Seq(bin(args.head)), Seq(BinaryType))),
    "gccmurmurhash" -> (args => sweep7(LongType, "gccMurmurHash",
      Seq(bin(args.head)), Seq(BinaryType))),
    // value-compatible SHA-2 family, binary-typed like the reference's
    // FixedString digests (FunctionsHashing.h). SHA1 stays the Spark
    // builtin (hex-string return — documented deviation; can't shadow).
    "sha224" -> (args => sha2bin(args.head, 224)),
    "sha256" -> (args => sha2bin(args.head, 256)),
    "sha384" -> (args => sha2bin(args.head, 384)),
    "sha512" -> (args => sha2bin(args.head, 512)),
    "sha512_256" -> (args => sweep6(BinaryType, "sha512_256",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "crc32ieee" -> (args => Crc32(Cast(args.head, BinaryType))),
    "crc64" -> (args => realHash(args, LongType, "crc64")),

    // published Appleby MurmurHash2/3, the JDK 31-recurrence, textbook
    // reflected CRC-64 with the reference's ECMA-182 polynomial:
    // single-arg string/binary inputs hash their UTF-8 bytes exactly
    // like the reference; multi-arg combine lanes keep the engine-wide
    // stand-in (documented, same policy as sipHash128's combine)
    "murmurhash2_32" -> (args => realHash(args, LongType, "murmurHash2_32")),
    "murmurhash2_64" -> (args => realHash(args, LongType, "murmurHash2_64")),
    "murmurhash3_32" -> (args => realHash(args, LongType, "murmurHash3_32")),
    "murmurhash3_64" -> (args => realHash(args, LongType, "murmurHash3_64")),
    "murmurhash3_128" -> (args =>
      realHash(args, BinaryType, "murmurHash3_128")),
    "javahash" -> (args =>
      if (args.length == 1)
        Cast(sweep9(IntegerType, "javaHash", Seq(bytesOf(args.head)),
          Seq(BinaryType)), LongType)
      else XxHash64(args, 42L)),
    "hivehash" -> (args =>
      if (args.length == 1)
        Cast(sweep9(IntegerType, "hiveHash", Seq(bytesOf(args.head)),
          Seq(BinaryType)), LongType)
      else Cast(XxHash64(args, 42L), IntegerType)),

    "xxhash32" -> (args => sweep6(LongType, "xxHash32",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "kafkamurmurhash" -> (args => sweep6(LongType, "kafkaMurmurHash",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "javahashutf16le" -> (args => sweep6(LongType, "javaHashUtf16",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "inthash32" -> (args => intHash32(args.head)),
    "inthash64" -> (args => intHash64(args.head)),
    // name/shape-compatible stand-ins only — no published spec beyond
    // their C sources, which the no-copy policy keeps out:
    "farmhash64" -> xx,
    "farmfingerprint64" -> xx,
    "metrohash64" -> xx,
    "wyhash64" -> xx,
    "md4" -> (args => shaPrefix(args.head, 16)),
    "ripemd160" -> (args => shaPrefix(args.head, 20)),
    "blake3" -> (args => shaPrefix(args.head, 32)),
    "keccak256" -> (args => shaPrefix(args.head, 32)),

    // URLHash[(level)] (FunctionsHashing.h:1520-1588): hash of the
    // level-cut URL with ONE trailing /?# dropped; rides the session's
    // cityHash64 carrier
    "urlhash" -> (args =>
      XxHash64(Seq(sweep9(StringType, "urlHashCut",
        Seq(Cast(args.head, StringType),
          asLong(args.lift(1).getOrElse(Literal(0)))),
        Seq(StringType, LongType))), 42L)),
    // jump consistent hash (bit-compatible Lamping–Veach).
    // kostikConsistentHash (kostikConsistentHash.cpp, alias
    // yandexConsistentHash): same ring-assignment CONTRACT (stable key →
    // bucket in [0, n), minimal movement on resize) served by the jump
    // hash — a documented stand-in (the reference's exact popcount-walk
    // values are not pinned).
    "jumpconsistenthash" -> (args => bridge("jumpConsistentHash",
      IntegerType, Seq(asLong(args(0)), asInt(args(1))),
      Seq(LongType, IntegerType))),
    "kostikconsistenthash" -> (args => bridge("jumpConsistentHash",
      IntegerType, Seq(asLong(args(0)), asInt(args(1))),
      Seq(LongType, IntegerType))),
    "yandexconsistenthash" -> (args => bridge("jumpConsistentHash",
      IntegerType, Seq(asLong(args(0)), asInt(args(1))),
      Seq(LongType, IntegerType))),

    // ---- SimHash / MinHash (FunctionsStringHash.cpp): engine-wide
    //      stand-in policy (name-compatible, never value-pinned). soundex
    //      is not registered: Spark's built-in IS the standard algorithm.
    "ngramsimhash" -> (args => StaticInvoke(hkCls, LongType, "ngramSimHash",
      Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramsimhashcaseinsensitive" -> (args => StaticInvoke(hkCls, LongType,
      "ngramSimHashCI", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramsimhashutf8" -> (args => StaticInvoke(hkCls, LongType, "ngramSimHash",
      Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhash" -> (args => StaticInvoke(hkCls, LongType,
      "wordShingleSimHash", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhashcaseinsensitive" -> (args => StaticInvoke(hkCls, LongType,
      "wordShingleSimHashCI", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhashutf8" -> (args => StaticInvoke(hkCls, LongType,
      "wordShingleSimHash", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramminhash" -> (args => CreateStruct(Seq(
      StaticInvoke(hkCls, LongType, "ngramMinHashA",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType)),
      StaticInvoke(hkCls, LongType, "ngramMinHashB",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))))),
    "wordshingleminhash" -> (args => CreateStruct(Seq(
      StaticInvoke(hkCls, LongType, "wordShingleMinHashA",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType)),
      StaticInvoke(hkCls, LongType, "wordShingleMinHashB",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))))),
    "ngramminhashcaseinsensitive" -> pair("ngramMinHash", ci = true) _,
    "ngramminhashutf8" -> pair("ngramMinHash", ci = false) _,
    "ngramminhashcaseinsensitiveutf8" -> pair("ngramMinHash", ci = true) _,
    "wordshingleminhashcaseinsensitive" ->
      pair("wordShingleMinHash", ci = true) _,
    "wordshingleminhashutf8" -> pair("wordShingleMinHash", ci = false) _,
    "wordshingleminhashcaseinsensitiveutf8" ->
      pair("wordShingleMinHash", ci = true) _,
    "ngramsimhashcaseinsensitiveutf8" -> ((args: Seq[Expression]) =>
      StaticInvoke(hkCls, LongType, "ngramSimHashCI",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhashcaseinsensitiveutf8" -> ((args: Seq[Expression]) =>
      StaticInvoke(hkCls, LongType, "wordShingleSimHashCI",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramminhasharg" -> argPair("ngramMinHashArg", ci = false) _,
    "ngramminhashargcaseinsensitive" ->
      argPair("ngramMinHashArg", ci = true) _,
    "ngramminhashargutf8" -> argPair("ngramMinHashArg", ci = false) _,
    "ngramminhashargcaseinsensitiveutf8" ->
      argPair("ngramMinHashArg", ci = true) _,
    "wordshingleminhasharg" ->
      argPair("wordShingleMinHashArg", ci = false) _,
    "wordshingleminhashargcaseinsensitive" ->
      argPair("wordShingleMinHashArg", ci = true) _,
    "wordshingleminhashargutf8" ->
      argPair("wordShingleMinHashArg", ci = false) _,
    "wordshingleminhashargcaseinsensitiveutf8" ->
      argPair("wordShingleMinHashArg", ci = true) _,
    // normalizedQueryHash: an xxhash64 of the normalized query text —
    // name-compatible, NOT value-compatible with the reference's SipHash
    // token stream
    "normalizedqueryhash" -> (args => XxHash64(Seq(
      StaticInvoke(qnCls, StringType, "normalizeQuery", args.take(1),
        Seq(StringType))), 42L)),
    "normalizedqueryhashkeepnames" -> (args => XxHash64(Seq(
      StaticInvoke(qnCls, StringType, "normalizeQueryKeepNames",
        args.take(1), Seq(StringType))), 42L)),

    // ---- encryption (encrypt.cpp / aes_encrypt_mysql.cpp) ----
    // CH mode strings 'aes-<bits>-<mode>' ride Spark's AES expressions.
    // ECB is BYTE-compatible with the reference (same PKCS7 padding);
    // CBC/GCM are roundtrip-compatible only — Spark generates and
    // prepends a random IV, where the reference uses the caller's iv
    // argument verbatim (documented carrier deviation; the battery pins
    // the ECB bytes against an openssl vector and roundtrips the rest).
    "encrypt" -> (args => AesEncrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType),
      Literal(Array.emptyByteArray, BinaryType))),
    "decrypt" -> (args => AesDecrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType))),
    "trydecrypt" -> (args => new TryAesDecrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType))),
    // MySQL-compat twins (aes_encrypt_mysql.cpp): same carrier; the
    // reference's long-key XOR folding is not reproduced — keys must be
    // exact length, failing loudly instead of silently folding
    "aes_encrypt_mysql" -> (args => AesEncrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType),
      Literal(Array.emptyByteArray, BinaryType))),
    "aes_decrypt_mysql" -> (args => AesDecrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType))))
}
