package graft

import graft.functions.TextFunctions._
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class LlmPipelineSpec extends SparkFunSuite {

  test("minhash LSH: sound (all pairs >= tau) and full recall on identical sets") {
    val lsh = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf)
      .select("id_a", "id_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // soundness: every reported pair passed the exact-jaccard filter
    assert(lsh.forall(_._3 >= 0.8), "LSH emitted a pair below threshold")
    // recall floor: identical shingle sets have identical signatures, so
    // every exact-duplicate pair (jaccard == 1.0) MUST be found
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), wordShingles(col("text"), 3).as("ws"))
    val a = docs.select(col("doc_id").as("ia"), col("ws").as("wa"))
    val b = docs.select(col("doc_id").as("ib"), col("ws").as("wb"))
    val exactDups = a.join(b, col("ia") < col("ib"))
      .filter(size(array_except(col("wa"), col("wb"))) === 0 &&
        size(array_except(col("wb"), col("wa"))) === 0)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = lsh.map(p => (p._1, p._2)).toSet
    assert(exactDups.subsetOf(found),
      s"missed identical-set pairs: ${exactDups.diff(found)}")
  }

  test("approximate ANN (LSH + IVF) is sound and clears its recall floor") {
    val exact = SparkEntry.queries("q_ann_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = operators.VectorIndex.prep(
      Tables.load(spark, sf, "embeddings"))
    def check(name: String, ann: Array[org.apache.spark.sql.Row],
        floor: Double): Unit = {
      assert(ann.nonEmpty)
      val perQ = ann.groupBy(_.getLong(0))
      perQ.foreach { case (qid, rows) =>
        assert(rows.length <= 5)
        assert(rows.forall(_.getLong(1) != qid))
      }
      val found = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = exact.intersect(found).size.toDouble / exact.size
      assert(recall >= floor, s"$name recall $recall below floor $floor")
    }
    check("lsh", operators.VectorIndex.annLshTopK(e, 5).collect(), 0.25)
    check("ivf", operators.VectorIndex.annIvfTopK(e, 5).collect(), 0.65)
    // the hybrid-oracled query forms report every invariant as passing
    Seq("q_ann_lsh_bucketed", "q_ann_ivf").foreach { name =>
      val metrics = SparkEntry.queries(name)(spark, sf).collect()
      assert(metrics.length == 4 && metrics.forall(_.getBoolean(1)),
        s"$name metrics: ${metrics.mkString(", ")}")
    }
  }

  test("embedding-cosine LSH dedup is sound vs the exact subset") {
    // every LSH pair among vec_id < 300 must appear in the exact all-pairs
    // result (same threshold) — bucketing can lose pairs, never invent them
    val exact = SparkEntry.queries("q_dedup_embedding_exact")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = operators.VectorIndex.prep(
      Tables.load(spark, sf, "embeddings"))
    val lsh = operators.NearDup.embeddingLshPairs(e, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 < 300 && p._2 < 300).toSet
    assert(lsh.subsetOf(exact), s"unsound pairs: ${lsh.diff(exact)}")
    val metrics = SparkEntry.queries("q_dedup_embedding_lsh")(spark, sf).collect()
    assert(metrics.length == 3 && metrics.forall(_.getBoolean(1)),
      s"q_dedup_embedding_lsh metrics: ${metrics.mkString(", ")}")
  }

  test("simhash dedup pairs are within the hamming bound") {
    val rows = operators.NearDup.simhashPairs(
      Tables.load(spark, sf, "documents"), 12).collect()
    assert(rows.forall(_.getInt(2) <= 12))
    val metrics = SparkEntry.queries("q_dedup_simhash")(spark, sf).collect()
    assert(metrics.length == 3 && metrics.forall(_.getBoolean(1)),
      s"q_dedup_simhash metrics: ${metrics.mkString(", ")}")
  }

  test("multimodal frame-sample and resize stages keep the batch shape") {
    val media = Multimodal.asMediaTable(
      Tables.load(spark, sf, "documents").limit(50))
    val frames = Multimodal.frameSample(media, every = 2, frameBytes = 64).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 2 == 0))
    assert(frames.forall(_.frame_payload.length <= 64))
    // deterministic across runs
    val again = Multimodal.frameSample(media, 2, 64).collect()
    assert(frames.map(f => (f.doc_id, f.frame_idx)).sorted.toSeq ==
      again.map(f => (f.doc_id, f.frame_idx)).sorted.toSeq)

    val feats = Multimodal.decodeStub(media)
    val resized = Multimodal.resizeFeatures(feats, 4)
      .select("doc_id", "histogram").collect()
    assert(resized.forall(_.getSeq[Double](1).length == 4))
    // mass-preserving vs the 16-bin original
    val orig = feats.collect().map(f => f.doc_id -> f.histogram.sum).toMap
    resized.foreach { r =>
      assert(math.abs(r.getSeq[Double](1).sum - orig(r.getLong(0))) < 1e-9)
    }
  }

  test("connected components converge past the old 8-round cap (diameter-12 chain)") {
    // round-3 verdict #4: a fixed 8-iteration loop silently splits any
    // component of diameter > 8. A 13-node chain (diameter 12) must still
    // collapse to one component — and two disjoint chains must stay apart.
    val s = spark
    import s.implicits._
    val chain = (0 until 12).map(i => (i.toLong, i.toLong + 1)) ++
      Seq((100L, 101L), (101L, 102L))
    val edges = chain.toDF("src", "dst")
    val lab = graft.operators.Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 12L).forall(lab(_) == 0L), s"chain split: $lab")
    assert((100L to 102L).forall(lab(_) == 100L))
  }

  test("connected components fail loudly when the round cap is exceeded") {
    val s = spark
    import s.implicits._
    val edges = (0 until 6).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      graft.operators.Components.connectedComponents(edges, maxRounds = 2)
    }
    assert(e.getMessage.contains("still moving"))
  }

  test("wave-4 web-corpus operators: strip recovers text, caps and ratios hold") {
    // html strip: the recovered text must be exactly "doc <source> <text>"
    // (title + h1 + paragraph survive; style/script/entities are elided)
    val stripped = SparkEntry.queries("q_text_html_strip")(spark, sf)
      .limit(5).collect()
    val src = Tables.load(spark, sf, "documents").filter(col("doc_id") < 5)
      .orderBy("doc_id").select("source", "text").collect()
    stripped.zip(src).foreach { case (s, d) =>
      assert(s.getString(1) == s"doc ${d.getString(0)} ${d.getString(1)}",
        s"html strip mangled doc ${s.getLong(0)}")
    }
    // domain cap: kept <= min(cap, total) per domain
    SparkEntry.queries("q_domain_cap")(spark, sf).collect().foreach { r =>
      val (total, kept) = (r.getLong(1), r.getLong(2))
      assert(kept <= math.min(20L, total))
    }
    // chunk dedup: ratio in [0, 1] (0 = every chunk owned by an earlier doc)
    val cd = SparkEntry.queries("q_chunk_dedup")(spark, sf).collect()
    assert(cd.forall { r =>
      val ratio = r.getDouble(3); ratio >= 0.0 && ratio <= 1.0 })
    assert(cd.exists(_.getDouble(3) > 0.0), "no doc kept any chunk")
    // rolling fp: deterministic across plans, and within the prime field
    val fp1 = SparkEntry.queries("q_text_rolling_fp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fp1.forall { case (_, f) => f >= 0 && f < 1000000007L })
  }

  test("multimodal decode stub is deterministic and schema-complete") {
    val f1 = Multimodal.featureTable(spark, sf).orderBy("doc_id").collect()
    val f2 = Multimodal.featureTable(spark, sf).orderBy("doc_id").collect()
    assert(f1.length == Tables.load(spark, sf, "documents").count())
    assert(f1.map(_.toString).toSeq == f2.map(_.toString).toSeq)
    val r = f1.head
    assert(r.schema.fieldNames.toSeq ==
      Seq("doc_id", "kind", "width", "height", "mean_intensity", "histogram"))
    assert(Set("image", "audio", "video").contains(r.getAs[String]("kind")))
    val hist = r.getAs[scala.collection.Seq[Double]]("histogram")
    assert(hist.length == 16 && math.abs(hist.sum - 1.0) < 1e-9)
  }
}
