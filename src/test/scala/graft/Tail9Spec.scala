package graft

import graft.sql.ClickHouseSql

/** Round-11 sweep #9 contracts: struct reshaping, errorCodeToName over
  * the transcribed table, delegated-alias lanes, the collected-array
  * statistical kernels (t-test p-values cross-checked against published
  * table values), and the typed-aggregate SQL spellings. */
class Tail9Spec extends SparkFunSuite {

  private def one(sql: String): org.apache.spark.sql.Row =
    ClickHouseSql.sql(spark, sql).collect().head

  test("tupleToNameValuePairs reshapes a named tuple; mixed types reject") {
    val r = one("""SELECT tupleToNameValuePairs(
      named_struct('a', 1, 'b', 2, 'c', 3)) AS p""")
    val arr = r.getSeq[org.apache.spark.sql.Row](0)
    assert(arr.map(x => (x.getString(0), x.getInt(1))) ==
      Seq(("a", 1), ("b", 2), ("c", 3)))
    intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT tupleToNameValuePairs(named_struct('a', 1, 'b', 'x'))")
        .collect()
    }
  }

  test("flattenTuple flattens nested structs to dotted paths") {
    val df = ClickHouseSql.sql(spark, """SELECT flattenTuple(
      named_struct('a', 1, 'n',
        named_struct('x', 'u', 'y', CAST(2.5 AS DOUBLE)))) AS f""")
    assert(df.schema.head.dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("a", "n.x", "n.y"))
    val r = df.collect().head.getStruct(0)
    assert(r.getInt(0) == 1 && r.getString(1) == "u" && r.getDouble(2) == 2.5)
  }

  test("errorCodeToName serves the transcribed ErrorCodes table") {
    val r = one("""SELECT errorCodeToName(0) AS ok,
      errorCodeToName(60) AS t, errorCodeToName(999999) AS unknown""")
    assert(r.getString(0) == "OK")
    assert(r.getString(1) == "UNKNOWN_TABLE")
    assert(r.getString(2) == "")
  }

  test("median engine lanes and RespectNulls spellings") {
    val r = one("""SELECT medianExact(x) AS m1, medianTDigest(x) AS m2,
        medianTiming(x) AS m3,
        anyRespectNulls(n) AS a1, anyLastRespectNulls(n) AS a2
      FROM (SELECT id AS x, CAST(NULL AS INT) AS n FROM range(1, 102))""")
    assert(r.getDouble(r.fieldIndex("m1")) == 51.0)
    assert(math.abs(r.getDouble(r.fieldIndex("m2")) - 51.0) < 1.5)
    assert(r.isNullAt(r.fieldIndex("a1")) && r.isNullAt(r.fieldIndex("a2")))
  }

  test("groupBit/groupConcat/groupArraySorted/uniqUpTo/sumCount") {
    val r = one("""SELECT groupBitAnd(x) AS ba, groupBitOr(x) AS bo,
        groupBitXor(x) AS bx, groupConcat('-')(CAST(x AS STRING)) AS gc,
        groupArraySorted(3)(x) AS gs, uniqUpTo(4)(x) AS uu,
        sumCount(x) AS sc
      FROM (SELECT id AS x FROM range(1, 7))""")
    assert(r.getLong(r.fieldIndex("ba")) == (1L & 2 & 3 & 4 & 5 & 6))
    assert(r.getLong(r.fieldIndex("bo")) == (1L | 2 | 3 | 4 | 5 | 6))
    assert(r.getLong(r.fieldIndex("bx")) == (1L ^ 2 ^ 3 ^ 4 ^ 5 ^ 6))
    assert(r.getString(r.fieldIndex("gc")).split("-").toSet ==
      Set("1", "2", "3", "4", "5", "6"))
    assert(r.getSeq[Long](r.fieldIndex("gs")) == Seq(1L, 2L, 3L))
    assert(r.getLong(r.fieldIndex("uu")) == 5L) // 6 distinct capped at n+1
    val sc = r.getStruct(r.fieldIndex("sc"))
    assert(sc.getLong(0) == 21L && sc.getLong(1) == 6L)
  }

  test("skew/kurt lanes match the moment algebra") {
    // x = 1..4: m2 = 1.25, m3 = 0, so skewPop = 0; kurtPop = m4/m2^2
    val r = one("""SELECT skewPop(x) AS sp, skewSamp(x) AS ss,
        kurtPop(x) AS kp, kurtSamp(x) AS ks
      FROM (SELECT CAST(id AS DOUBLE) AS x FROM range(1, 5))""")
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    val m2 = 1.25; val m4 = (2.25 * 2.25 + .25 * .25) * 2 / 4
    assert(math.abs(r.getDouble(2) - m4 / (m2 * m2)) < 1e-9)
    assert(math.abs(r.getDouble(3) - (m4 / (m2 * m2)) * (3.0 / 4) * (3.0 / 4))
      < 1e-9)
  }

  test("skew/kurt do not depend on partitioning or merge order") {
    /** Bits of every value `sql` answers under (1 partition, AQE off)
      * and (7 partitions, AQE on). */
    def bits(sql: Int => String): Seq[Seq[Long]] =
      Seq((1, false), (7, true)).map { case (parts, aqe) =>
        val conf = spark.conf
        val saved = Seq("spark.sql.shuffle.partitions",
          "spark.sql.adaptive.enabled").map(k => k -> conf.get(k))
        conf.set("spark.sql.shuffle.partitions", parts.toLong)
        conf.set("spark.sql.adaptive.enabled", aqe)
        try ClickHouseSql.sql(spark, sql(parts)).collect().head.toSeq
          .map(v => java.lang.Double.doubleToRawLongBits(
            v.asInstanceOf[Double]))
        finally saved.foreach { case (k, v) => conf.set(k, v) }
      }
    Tables.register(spark, sf)
    val tail9b = bits(_ => "SELECT CAST(skewPop(x) AS DOUBLE) AS sp " +
      "FROM (SELECT CAST(n_nationkey AS BIGINT) + 1 AS x FROM nation)")
    assert(tail9b.distinct.size == 1, s"sp bits differ: $tail9b")
    val spread = bits(parts => "SELECT skewPop(x), skewSamp(x), " +
      "kurtPop(x), kurtSamp(x) FROM (SELECT (id * id) % 101 AS x " +
      s"FROM range(0, 5000, 1, $parts))")
    assert(spread.distinct.size == 1, s"bits differ: $spread")
  }

  test("boundingRatio / simpleLinearRegression / retention") {
    val r = one("""SELECT boundingRatio(x, y) AS br,
        simpleLinearRegression(x, y) AS lr,
        retention(x >= 1, x >= 2, x >= 100) AS ret
      FROM (SELECT CAST(id AS DOUBLE) AS x, CAST(3 * id + 1 AS DOUBLE) AS y
            FROM range(1, 11))""")
    assert(math.abs(r.getDouble(0) - 3.0) < 1e-12)
    val lr = r.getStruct(1)
    assert(math.abs(lr.getDouble(0) - 3.0) < 1e-9 &&
      math.abs(lr.getDouble(1) - 1.0) < 1e-9)
    assert(r.getSeq[Int](2) == Seq(1, 1, 0))
  }

  test("topK/topKWeighted and the approx_top aliases") {
    val r = one("""SELECT topK(2)(v) AS t, topKWeighted(2)(v, w) AS tw
      FROM (SELECT CASE WHEN id < 6 THEN 'a' WHEN id < 9 THEN 'b'
                        ELSE 'c' END AS v,
                   CASE WHEN id = 9 THEN 100 ELSE 1 END AS w
            FROM range(0, 10))""")
    assert(r.getSeq[String](0) == Seq("a", "b"))
    assert(r.getSeq[String](1) == Seq("c", "a")) // weight flips the order
  }

  test("sumMap/minMap/maxMap spellings and the filtered lane") {
    val r = one("""SELECT sumMap(k, v) AS sm, minMap(k, v) AS mn,
        maxMap(k, v) AS mx, sumMapFiltered(array('a'))(k, v) AS smf
      FROM (VALUES ('a', 1.0), ('b', 2.0), ('a', 3.0)) AS t(k, v)""")
    def pairs(i: Int) = r.getSeq[org.apache.spark.sql.Row](i)
      .map(x => (x.getString(0), x.getDouble(1)))
    assert(pairs(0) == Seq(("a", 4.0), ("b", 2.0)))
    assert(pairs(1) == Seq(("a", 1.0), ("b", 2.0)))
    assert(pairs(2) == Seq(("a", 3.0), ("b", 2.0)))
    assert(pairs(3) == Seq(("a", 4.0)))
  }

  test("windowFunnel and sequenceMatch/sequenceCount subset") {
    val r = one("""SELECT
        windowFunnel(3600)(ts, ev = 'view', ev = 'cart', ev = 'buy') AS wf,
        sequenceMatch('(?1).*(?2)')(ts, ev = 'view', ev = 'buy') AS sm,
        sequenceCount('(?1).*(?2)')(ts, ev = 'view', ev = 'buy') AS sc
      FROM (VALUES (TIMESTAMP '2024-01-01 10:00:00', 'view'),
                   (TIMESTAMP '2024-01-01 10:10:00', 'cart'),
                   (TIMESTAMP '2024-01-01 10:20:00', 'buy'),
                   (TIMESTAMP '2024-01-01 11:00:00', 'view'),
                   (TIMESTAMP '2024-01-01 11:30:00', 'buy'))
           AS t(ts, ev)""")
    assert(r.getInt(0) == 3)
    assert(r.getBoolean(1))
    assert(r.getLong(2) == 2L)
    // unsupported pattern atoms reject loudly
    intercept[Exception] {
      one("""SELECT sequenceMatch('(?1)(?t<10)(?2)')(ts, x = 1, x = 2)
        FROM (SELECT TIMESTAMP '2024-01-01' AS ts, 1 AS x)""")
    }
  }

  test("parametric aggregates take DECIMAL literals, ClickHouse's own spelling") {
    // 0.01 and 3600.0 parse as DECIMAL, not DOUBLE
    val r = one("""SELECT quantilesDD(0.01, 0.5)(x) AS qs,
        quantileDD(0.01, 0.5)(x) AS q
      FROM (SELECT CAST(id AS DOUBLE) AS x FROM range(1, 1001))""")
    assert(r.getSeq[Double](0) == Seq(r.getDouble(1)))
    val wf = one("""SELECT windowFunnel(3600.0)(ts, ev = 'view', ev = 'buy')
      FROM (VALUES (TIMESTAMP '2024-01-01 10:00:00', 'view'),
                   (TIMESTAMP '2024-01-01 10:20:00', 'buy')) AS t(ts, ev)""")
    assert(wf.getInt(0) == 2)
  }

  test("t tests match published critical values; rankCorr is Spearman") {
    // two samples with known t: sample0 = {1,2,3,4,5}, sample1 = {3,4,5,6,7}
    // pooled t = -2 / sqrt(2.5 * 0.4) = -2.0, df = 8 → p ≈ 0.0805
    val r = one("""SELECT studentTTest(v, s) AS st, welchTTest(v, s) AS wt,
        rankCorr(x, y) AS rc
      FROM (SELECT CAST(id % 5 + 1 + 2 * CAST(id >= 5 AS INT) AS DOUBLE) AS v,
                   CAST(id >= 5 AS BIGINT) AS s,
                   CAST(id AS DOUBLE) AS x,
                   CAST(id * id AS DOUBLE) AS y
            FROM range(0, 10))""")
    val st = r.getStruct(0)
    assert(math.abs(st.getDouble(0) - (-2.0)) < 1e-9)
    assert(math.abs(st.getDouble(1) - 0.0805) < 2e-3)
    val wt = r.getStruct(1)
    assert(math.abs(wt.getDouble(0) - (-2.0)) < 1e-9)
    // monotone x→y: Spearman = 1 exactly
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("EMA, lttb, sparkbar, arrayPRAUC, groupArrayIntersect kernels") {
    val r = one("""SELECT
        exponentialMovingAverage(1)(v, t) AS ema,
        lttb(3)(x, y) AS ds,
        sparkbar(4)(x, y) AS bar,
        arrayPRAUC(array(0.1, 0.4, 0.35, 0.8),
                   array(false, false, true, true)) AS auc,
        groupArrayIntersect(arr) AS gi
      FROM (SELECT CAST(id AS DOUBLE) AS v, CAST(id AS DOUBLE) AS t,
                   CAST(id AS DOUBLE) AS x, CAST(id AS DOUBLE) AS y,
                   CASE WHEN id < 5 THEN array(1L, 2L, 3L)
                        ELSE array(2L, 3L, 4L) END AS arr
            FROM range(0, 10))""")
    // EMA with halfLife 1 at t=9: dominated by the latest values (v=t)
    assert(r.getDouble(0) > 7.5 && r.getDouble(0) < 9.0)
    val ds = r.getSeq[org.apache.spark.sql.Row](1)
    assert(ds.size == 3 && ds.head.getDouble(0) == 0.0 &&
      ds.last.getDouble(0) == 9.0)
    assert(r.getString(2).length == 4)
    // descending-score sweep: hits at ranks 1,3 → AP = (1 + 2/3)/2
    assert(math.abs(r.getDouble(3) - (1.0 + 2.0 / 3) / 2) < 1e-9)
    assert(r.getSeq[Long](4) == Seq(2L, 3L))
  }

  test("dictGet IPv4/IPv6 lanes ride the string carrier") {
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, "DROP DICTIONARY IF EXISTS t9_dict")
    ClickHouseSql.sql(spark, """CREATE DICTIONARY t9_dict (
      r_regionkey UInt64, r_name String
      ) PRIMARY KEY r_regionkey
      SOURCE(CLICKHOUSE(TABLE 'region')) LAYOUT(FLAT())""")
    try {
      val r = one("""SELECT dictGetIPv4('t9_dict', 'r_name', 0) AS v4,
        dictGetIPv6OrDefault('t9_dict', 'r_name', 99, '::1') AS v6""")
      assert(r.getString(0).nonEmpty)
      assert(r.getString(1) == "::1")
    } finally ClickHouseSql.sql(spark, "DROP DICTIONARY IF EXISTS t9_dict")
  }

  test("small kernels: week-year, tz offset, bfloat16, IPv6 CIDR, fs") {
    val r = one("""SELECT toWeekYear(DATE '2021-01-01') AS wy,
      toWeekOfWeekYear(DATE '2021-01-01') AS ww,
      timeZoneOffset(TIMESTAMP '2024-07-01 00:00:00',
        'Europe/Berlin') AS tzo,
      toBFloat16(1.3) AS bf,
      IPv6CIDRToRange('2001:db8::1', 32) AS rng,
      cutIPv6('2001:db8::1:2', 4, 0) AS cut6,
      filesystemCapacity() >= filesystemAvailable() AS fs""")
    assert(r.getInt(0) == 2020 && r.getInt(1) == 53) // ISO: 2021-01-01 is W53 of 2020
    assert(r.getInt(2) == 7200)
    assert(math.abs(r.getFloat(3) - 1.296875f) < 1e-6)
    val rng = r.getStruct(4)
    assert(rng.getString(0) == "2001:db8:0:0:0:0:0:0")
    assert(rng.getString(1).startsWith("2001:db8:ffff:ffff"))
    assert(r.getString(5).endsWith(":0:0"))
    assert(r.getBoolean(6))
  }

  test("wave 2: entropy, histogram, groupBitmap family, interval sweeps") {
    val r = one("""SELECT
        CAST(entropy(x % 2) AS DOUBLE) AS ent,
        histogram(2)(CAST(x AS DOUBLE)) AS h,
        CAST(groupBitmap(x) AS BIGINT) AS gb,
        CAST(maxIntersections(CAST(x AS DOUBLE),
          CAST(x + 3 AS DOUBLE)) AS BIGINT) AS mi,
        CAST(maxIntersectionsPosition(CAST(x AS DOUBLE),
          CAST(x + 3 AS DOUBLE)) AS DOUBLE) AS mip,
        CAST(intervalLengthSum(CAST(x AS DOUBLE),
          CAST(x + 3 AS DOUBLE)) AS DOUBLE) AS ils
      FROM (SELECT id AS x FROM range(0, 8))""")
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12) // 50/50 → 1 bit
    val h = r.getSeq[org.apache.spark.sql.Row](1)
    assert(h.size == 2 && h.map(_.getDouble(2)).sum == 8.0)
    assert(r.getLong(2) == 8L)
    assert(r.getLong(3) == 3L) // [x, x+3) stepped by 1 → 3 deep
    assert(r.getDouble(4) == 2.0) // first point of max overlap
    assert(r.getDouble(5) == 10.0) // union [0, 10)
  }

  test("statistical tests against hand-computed table values") {
    // one-way ANOVA, groups {1,2,3},{2,3,4},{3,4,5}: means 2,3,4,
    // grand 3 → SSB = 6 (df 2), SSW = 6 (df 6) → F = 3; for d1 = 2 the
    // F survival function is closed-form: p = (1 + F·d1/d2)^(−d2/2)
    // = 2^−3 = 0.125
    val a = one("""SELECT anova(v, g) AS an FROM (VALUES
      (1.0, 0L),(2.0, 0L),(3.0, 0L),
      (2.0, 1L),(3.0, 1L),(4.0, 1L),
      (3.0, 2L),(4.0, 2L),(5.0, 2L)) AS t(v, g)""").getStruct(0)
    assert(math.abs(a.getDouble(0) - 3.0) < 1e-9)
    assert(math.abs(a.getDouble(1) - 0.125) < 1e-6)
    // Mann-Whitney {1,2} vs {3,4}: U = 0, mu = 2, sigma = sqrt(5/3)
    // → z = -1.549, two-sided normal p = 0.1213
    val mw = one("""SELECT mannWhitneyUTest(v, s) AS r FROM (VALUES
      (1.0, 0L),(2.0, 0L),(3.0, 1L),(4.0, 1L)) AS t(v, s)""").getStruct(0)
    assert(mw.getDouble(0) == 0.0)
    assert(math.abs(mw.getDouble(1) - 0.1213) < 2e-3)
    // KS {1,2,3} vs {4,5,6}: D = 1, en = sqrt(1.5),
    // lambda = 1.4346 → p = 2*sum((-1)^(k-1) e^(-2k^2 l^2)) = 0.0326
    val ks = one("""SELECT kolmogorovSmirnovTest(v, s) AS r FROM (VALUES
      (1.0, 0L),(2.0, 0L),(3.0, 0L),(4.0, 1L),(5.0, 1L),(6.0, 1L))
      AS t(v, s)""").getStruct(0)
    assert(ks.getDouble(0) == 1.0)
    assert(math.abs(ks.getDouble(1) - 0.0326) < 2e-3)
  }

  test("wave 2: meanZTest, mannWhitneyUTest, kolmogorovSmirnov, anova") {
    val r = one("""SELECT
        meanZTest(1.0, 1.0, 0.95)(v, s) AS z,
        mannWhitneyUTest(v, s) AS mw,
        kolmogorovSmirnovTest(v, s) AS ks,
        anova(v, g) AS an
      FROM (SELECT CAST(id % 5 + 1 + 2 * CAST(id >= 5 AS INT) AS DOUBLE) AS v,
                   CAST(id >= 5 AS BIGINT) AS s,
                   CAST(id % 3 AS BIGINT) AS g
            FROM range(0, 10))""")
    // means 3 and 5, n=5 each, vars 1 → z = -2/sqrt(0.4)
    val z = r.getStruct(0)
    assert(math.abs(z.getDouble(0) - (-2.0 / math.sqrt(0.4))) < 1e-9)
    assert(z.getDouble(1) > 0 && z.getDouble(1) < 0.01)
    val mw = r.getStruct(1)
    assert(mw.getDouble(0) >= 0 && mw.getDouble(1) > 0 &&
      mw.getDouble(1) <= 1)
    val ks = r.getStruct(2)
    assert(ks.getDouble(0) > 0 && ks.getDouble(0) <= 1)
    val an = r.getStruct(3)
    assert(an.getDouble(0) >= 0 && an.getDouble(1) > 0 &&
      an.getDouble(1) <= 1)
  }

  test("wave 2: sequenceMatchEvents, groupArrayInsertAt, URLHash, " +
      "truncate, xor, toDateTimeComponents, mapFromString, yearweek") {
    val r = one("""SELECT
        sequenceMatchEvents('(?1).*(?2)')(ts, ev = 'a', ev = 'b') AS sme,
        groupArrayInsertAt(ev, pos) AS gai
      FROM (VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 0L),
                   (TIMESTAMP '2024-01-01 00:00:10', 'b', 3L))
           AS t(ts, ev, pos)""")
    assert(r.getSeq[Long](0).size == 2)
    assert(r.getSeq[String](1) == Seq("a", null, null, "b"))
    val r2 = one("""SELECT
        URLHash('http://example.com/a/') = URLHash('http://example.com/a')
          AS uh_slash,
        URLHash('http://example.com/a/b', 1)
          = URLHash('http://example.com/a/c', 1) AS uh_level,
        CAST(truncate(-3.77) AS DOUBLE) AS tr1,
        CAST(truncate(3.777, 2) AS DOUBLE) AS tr2,
        xor(true, false) AS x1, xor(true, true) AS x2,
        toDateTimeComponents(TIMESTAMP '2024-02-29 13:14:15').month AS mo,
        mapFromString('a:1,b:2')['b'] AS mfs,
        CAST(yearweek(toDate('2021-01-01')) AS BIGINT) AS yw,
        isDecimalOverflow(CAST(999.9 AS DECIMAL(10, 1)), 2) AS ido,
        isDecimalOverflow(CAST(9.9 AS DECIMAL(10, 1)), 2) AS ido2""")
    assert(r2.getBoolean(0))
    assert(r2.getBoolean(1))
    assert(r2.getDouble(2) == -3.0)
    assert(r2.getDouble(3) == 3.77)
    assert(r2.getBoolean(4) && !r2.getBoolean(5))
    assert(r2.getInt(6) == 2)
    assert(r2.getString(7) == "2")
    assert(r2.getLong(8) == 202052L) // toYearWeek default mode 0 (Sunday)
    assert(r2.getBoolean(9) && !r2.getBoolean(10))
  }

  test("minhash spelling matrix: CI lowercases, UTF8 shares base, " +
      "Arg exposes the winning shingle") {
    val r = one("""SELECT
      ngramMinHash('Hello World') = ngramMinHashUTF8('Hello World') AS utf8_same,
      ngramMinHashCaseInsensitive('Hello') = ngramMinHashCaseInsensitive('hello') AS ci_folds,
      wordShingleMinHash('a b c d', 2) = wordShingleMinHashUTF8('a b c d', 2) AS ws_utf8,
      ngramMinHashArg('abcd', 2).col1 AS arg1,
      wordShingleMinHashArgCaseInsensitive('The Quick Fox', 2).col1 AS warg,
      ngramSimHashCaseInsensitiveUTF8('XYZ') = ngramSimHashCaseInsensitive('xyz') AS sh_ci""")
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
    assert(r.getString(3).length == 2 && "abcd".contains(r.getString(3)))
    assert(Seq("the quick", "quick fox").contains(r.getString(4)))
    assert(r.getBoolean(5))
  }

  test("real hash kernels: published vectors + cross-checks against " +
      "the pinned kafka/gcc murmur lanes") {
    import graft.functions.{SweepKernels9 => K9, SweepKernels7 => K7,
      SweepKernels => K}
    // MurmurHash3 x86_32 official vector (Appleby smhasher):
    // hash('hello', 0) = 0x248bfa47; empty input hashes to 0
    assert(K9.murmurHash3_32("hello".getBytes) == 0x248bfa47L)
    assert(K9.murmurHash3_32(Array.empty[Byte]) == 0L)
    // x64_128 of empty input: h1 = h2 = 0 → 64-bit lane 0, 16 zero bytes
    assert(K9.murmurHash3_64(Array.empty[Byte]) == 0L)
    assert(K9.murmurHash3_128(Array.empty[Byte]).forall(_ == 0))
    assert(K9.murmurHash3_128("hello".getBytes).length == 16)
    // Spark's builtin Murmur3 is canonical for 4-aligned lengths —
    // an INDEPENDENT implementation to agree with
    val aligned = "abcdefgh1234".getBytes
    assert(K9.murmurHash3_32(aligned) ==
      (org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(aligned,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          aligned.length, 0).toLong & 0xffffffffL))
    // MurmurHash2: the pinned kafka lane IS murmur2(seed 0x9747b28c)
    // with the partitioner mask; the pinned gcc lane IS MurmurHash64A
    // (seed 0xc70f6907) — both must be reproduced exactly
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val data = Array.fill(rnd.nextInt(40))(rnd.nextInt.toByte)
      assert(K.kafkaMurmurHash(data) ==
        (K9.murmurHash2WithSeed(data, 0x9747b28c).toLong & 0x7fffffffL))
      assert(K7.gccMurmurHash(data) == K9.murmurHash64A(data, 0xc70f6907L))
    }
    // javaHash: the JDK recurrence — 'abc'.hashCode = 96354
    assert(K9.javaHash("abc".getBytes) == "abc".hashCode)
    assert(K9.javaHash(Array.empty[Byte]) == 0)
    assert(K9.hiveHash("abc".getBytes) == ("abc".hashCode & 0x7fffffff))
    // CRC-64: table-driven equals the naive bit-loop definition
    def naiveCrc64(data: Array[Byte]): Long = {
      val poly = 0xc96c5795d7870f42L
      var crc = 0L
      data.foreach { b =>
        crc ^= (b & 0xffL)
        (1 to 8).foreach { _ =>
          crc = if ((crc & 1L) != 0) poly ^ (crc >>> 1) else crc >>> 1
        }
      }
      crc
    }
    (1 to 20).foreach { _ =>
      val data = Array.fill(rnd.nextInt(64))(rnd.nextInt.toByte)
      assert(K9.crc64(data) == naiveCrc64(data))
    }
    // the SQL lanes ride the kernels (single string arg = real hash)
    val r = one("""SELECT murmurHash3_32('hello') AS m32,
      javaHash('abc') AS jh, hiveHash('abc') AS hh,
      murmurHash2_64('x') = gccMurmurHash('x') AS seeds_differ""")
    assert(r.getLong(0) == 0x248bfa47L)
    assert(r.getLong(1) == 96354L && r.getLong(2) == 96354L)
    assert(!r.getBoolean(3)) // different seeds → different hashes
  }

  test("sequenceNextNode: all four bases, both directions; " +
      "deltaSumTimestamp orders by its timestamp column") {
    val events = """(VALUES
      (TIMESTAMP '2024-01-01 10:00:00', 'home',  true),
      (TIMESTAMP '2024-01-01 10:01:00', 'gift',  true),
      (TIMESTAMP '2024-01-01 10:02:00', 'exit',  true),
      (TIMESTAMP '2024-01-01 10:03:00', 'home',  true),
      (TIMESTAMP '2024-01-01 10:04:00', 'buy',   true)) AS t(ts, ev, ok)"""
    val r = one(s"""SELECT
      sequenceNextNode('forward', 'head')(ts, ev, ok, ev = 'home') AS f_head,
      sequenceNextNode('forward', 'first_match')(ts, ev, ok,
        ev = 'gift') AS f_first,
      sequenceNextNode('forward', 'last_match')(ts, ev, ok,
        ev = 'home') AS f_last,
      sequenceNextNode('backward', 'tail')(ts, ev, ok, ev = 'buy') AS b_tail,
      sequenceNextNode('forward', 'head')(ts, ev, ok,
        ev = 'home', ev = 'gift', ev = 'exit') AS f_chain,
      sequenceNextNode('forward', 'head')(ts, ev, ok,
        ev = 'home', ev = 'buy') AS f_broken
      FROM $events""")
    assert(r.getString(0) == "gift") // head=home, next after 1-chain
    assert(r.getString(1) == "exit") // first gift → next
    assert(r.getString(2) == "buy") // last home → next
    assert(r.getString(3) == "home") // tail=buy, backward → previous
    assert(r.getString(4) == "home") // home,gift,exit chain → 4th row
    assert(r.isNullAt(5)) // home then gift ≠ buy: chain breaks
    val d = one("""SELECT deltaSumTimestamp(v, ts) AS ds
      FROM (VALUES (4.0, TIMESTAMP '2024-01-01 00:00:03'),
                   (1.0, TIMESTAMP '2024-01-01 00:00:01'),
                   (3.0, TIMESTAMP '2024-01-01 00:00:02'),
                   (2.0, TIMESTAMP '2024-01-01 00:00:04')) AS t(v, ts)""")
    // ts order values: 1, 3, 4, 2 → positive deltas 2 + 1 = 3
    assert(d.getDouble(0) == 3.0)
  }

  test("tuple-of-intervals, categorical IV, ranked enumeration, " +
      "withWWW subdomain cut, bitmapTransform, JSON paths") {
    val r = one("""SELECT
      addTupleOfIntervals(DATE '2024-01-01',
        struct(INTERVAL '1' MONTH, INTERVAL '2' DAY)) AS add_t,
      subtractTupleOfIntervals(TIMESTAMP '2024-03-03 10:00:00',
        struct(INTERVAL '2' MONTH, INTERVAL '2' DAY,
               INTERVAL '10' HOUR)) AS sub_t,
      arrayEnumerateUniqRanked(array(10, 20, 10)) AS aeu,
      cutToFirstSignificantSubdomainWithWWW(
        'https://www.news.example.com/p') AS www,
      cutToFirstSignificantSubdomainWithWWW(
        'https://news.example.com/p') AS nowww,
      bitmapToArray(bitmapTransform(bitmapBuild(array(1L, 2L, 3L)),
        array(2L), array(9L))) AS bt,
      JSONAllPaths('{"a": 1, "n": {"x": "u", "y": [1, 2]}}') AS jap,
      JSONAllPathsWithTypes('{"a": 1, "s": "x"}')['a'] AS jat,
      JSONSharedDataPaths('{"a": 1}') AS jsd""")
    assert(r.get(0).toString.startsWith("2024-02-03"))
    assert(r.get(1).toString.startsWith("2024-01-01 00:00"))
    assert(r.getSeq[Int](2) == Seq(1, 1, 2))
    assert(r.getString(3) == "www.example.com")
    assert(r.getString(4) == "example.com")
    assert(r.getSeq[Long](5).sorted == Seq(1L, 3L, 9L))
    assert(r.getSeq[String](6) == Seq("a", "n.x", "n.y"))
    assert(r.getString(7) == "Int64")
    assert(r.getSeq[String](8).isEmpty)
    intercept[Exception] {
      one("SELECT arrayEnumerateUniqRanked(array(1), array(2))")
    }
    // IV: perfectly separating category → large positive IV; its
    // complement mirrors it
    val iv = one("""SELECT categoricalInformationValue(v < 3, v >= 3,
        v >= 3) AS iv
      FROM (VALUES (1.0), (2.0), (3.0), (4.0)) AS t(v)""")
      .getSeq[Double](0)
    assert(iv.length == 2)
  }

  test("WKT readers parse the OGC grammar; pointInPolygon honors holes") {
    val r = one("""SELECT
      readWKTPoint('POINT (1.5 -2)') AS p,
      readWKTLineString('LINESTRING (0 0, 1 1, 2 0)') AS ls,
      readWKTRing('POLYGON ((0 0, 10 0, 10 10, 0 10))') AS ring,
      readWKTPolygon(
        'POLYGON ((0 0, 10 0, 10 10, 0 10), (4 4, 6 4, 6 6, 4 6))') AS poly,
      readWKTMultiPolygon(
        'MULTIPOLYGON (((0 0, 1 0, 1 1)), ((5 5, 6 5, 6 6), (0 0, 0 1, 1 1)))')
        AS mp,
      pointInPolygon(struct(2.0, 2.0),
        readWKTPolygon(
          'POLYGON ((0 0, 10 0, 10 10, 0 10), (4 4, 6 4, 6 6, 4 6))')) AS in1,
      pointInPolygon(struct(5.0, 5.0),
        readWKTPolygon(
          'POLYGON ((0 0, 10 0, 10 10, 0 10), (4 4, 6 4, 6 6, 4 6))')) AS hole,
      pointInPolygon(struct(11.0, 1.0),
        readWKTRing('POLYGON ((0 0, 10 0, 10 10, 0 10))')) AS out1""")
    val p = r.getStruct(0)
    assert(p.getDouble(0) == 1.5 && p.getDouble(1) == -2.0)
    assert(r.getSeq[org.apache.spark.sql.Row](1).size == 3)
    assert(r.getSeq[org.apache.spark.sql.Row](2).size == 4)
    assert(r.getSeq[Any](3).size == 2)
    assert(r.getSeq[Any](4).size == 2)
    assert(r.getBoolean(5)) // inside outer, outside hole
    assert(!r.getBoolean(6)) // inside the hole
    assert(!r.getBoolean(7)) // outside
  }

  test("getServerSetting / getMergeTreeSetting resolve the setting ledger") {
    ClickHouseSql.sql(spark, "SET t9_knob = 'abc'")
    ClickHouseSql.sql(spark, "SET t9_mt_knob = '42'")
    val r = one("""SELECT getServerSetting('t9_knob') AS a,
      getMergeTreeSetting('t9_mt_knob') AS b""")
    assert(r.getString(0) == "abc" && r.getString(1) == "42")
    intercept[Exception] { one("SELECT getServerSetting('t9_missing')") }
  }

  test("toInterval generic dispatch and mapPartialSort absorption") {
    val r = one("""SELECT
      toDate('2024-01-01') + toInterval(3, 'day') AS d,
      toDateTime('2024-01-01 00:00:00') + toInterval(2, 'hours') AS t,
      mapPartialSort(2, map('b', 2, 'a', 1)) AS mp""")
    assert(r.get(0).toString.startsWith("2024-01-04"))
    assert(r.get(1).toString.contains("2024-01-01 02:00"))
    assert(r.getMap[String, Int](2).toSeq.sorted == Seq(("a", 1), ("b", 2)))
    intercept[Exception] { one("SELECT toInterval(1, 'fortnight')") }
  }

  test("alias lanes: REGEXP_MATCHES, tryBase64URLDecode, timestampDiff, " +
      "date_bin, OrDefault tails") {
    val r = one("""SELECT REGEXP_MATCHES('hello', 'l+') AS m,
      tryBase64URLDecode('aGVsbG8') AS b64,
      tryBase64URLDecode('!!!') AS b64bad,
      timestampDiff('year', DATE '2023-12-31', DATE '2024-01-01') AS td,
      toDecimal64OrDefault('nope', 9.5, 2) AS dd,
      toUUIDOrDefault('nope',
        '00000000-0000-0000-0000-000000000000') AS ud""")
    assert(r.getBoolean(0))
    assert(r.getString(1) == "hello")
    assert(r.isNullAt(2))
    assert(r.getLong(3) == 1L)
    assert(r.getDecimal(4).doubleValue == 9.5)
    assert(r.getString(5) == "00000000-0000-0000-0000-000000000000")
  }
}
