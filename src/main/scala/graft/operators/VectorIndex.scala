package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions.{dot, l2norm}

/** Persisted IVF vector index — the reference's vector-similarity skip
  * index (src/Storages/MergeTree/MergeTreeIndexVectorSimilarity.cpp:1,
  * usearch HNSW) re-expressed as an inverted-file layout Spark can prune:
  * centroids + cell-partitioned vector assignments are written ONCE at
  * `create` and reused by every later `topK` — the per-query LSH/IVF
  * variants ([[annLshTopK]], [[annIvfTopK]]) recompute their structure per
  * query, which a real user re-querying the same corpus never wants.
  *
  * Layout on disk (all parquet):
  *   indexDir/centroids/    (cid, cv: array<double>, cnrm)  — tiny
  *   indexDir/assignments/  cell=<cid>/...  (vec_id, v, nrm)
  *
  * The assignments are hive-partitioned BY CELL, so a query that probes
  * `nProbe` of `nCells` cells reads nProbe/nCells of the corpus — Spark's
  * PartitionFilters prune whole directories before listing files, the
  * same I/O shape as the reference skipping non-matching granules. At
  * 100 TB with 4096 cells and nProbe=8, a query touches ~0.2% of data.
  *
  * Build-side scale contract (the reference builds per-part with no
  * global shuffle): the centroid set is DRIVER-RESIDENT metadata
  * (≤ nCells × dim doubles) and cell assignment is a MAP-SIDE argmax —
  * every vector scores the centroid array inside one projection, so the
  * plan between the embeddings scan and the partitioned write contains
  * NO Exchange (pinned in IndexSpec). The earlier broadcast-crossJoin +
  * row_number form expanded the corpus nCells× and shuffled the
  * expansion — at 4096 cells / 100 TB that exchange moves ~4096× the
  * corpus's embedding bytes; the argmax moves zero.
  *
  * Centroids: either the first `nCells` corpus vectors (deterministic
  * seeds, exact-oracle friendly) or sampled Lloyd k-means
  * ([[kmeansCents]]) — production quality cells whose sizes stay near
  * the mean, so per-cell work (SemDeDup self-joins, probe scans) is
  * bounded at scale.
  */
object VectorIndex {

  /** One centroid, driver-resident. Bounded: nCells ≤ 4096 × dim. */
  private[graft] final case class Cent(cid: Long, cv: Array[Double], cnrm: Double)

  /** Float-array embeddings frame → (vec_id, v: array<double>, nrm). */
  def prep(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** Deterministic seed centroids: vectors with vec_id < nCells (exactly
    * the set the exact oracles state). The FILTER form matters: it pushes
    * to the parquet scan and reads a handful of rows — an orderBy+limit
    * over the prepped corpus would add a full scan+sort job per
    * evaluation (measured 2.7× on q_dedup_semantic at sf0.1). */
  private[graft] def seedCents(e: DataFrame, nCells: Int): Seq[Cent] =
    e.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .sortBy(_.getLong(0)).take(nCells)
      .map(r => Cent(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toSeq

  /** nCells as a function of corpus size — the reference sizes its vector
    * graph to the part (MergeTreeIndexVectorSimilarity.cpp adapts per
    * part); a fixed cell count makes the per-cell self-join quadratic at
    * 100×. ~sqrt(n/4) keeps expected cell size ≈ 4·sqrt(n·4): both the
    * cell count and the cell size grow as sqrt(corpus). Clamped to
    * [16, 4096]. */
  def nCellsFor(rows: Long): Int =
    math.max(16, math.min(4096,
      math.ceil(math.sqrt(rows / 4.0)).toInt))

  /** Sampled Lloyd k-means centroids, fully deterministic:
    *  - seeds = the `nCells` vectors with the smallest xxhash64(vec_id)
    *    (hash-spread across the corpus, not first-N skew);
    *  - each iteration assigns the SAMPLE map-side ([[withCell]]) and
    *    recomputes element-wise means via posexplode → groupBy(cell,pos)
    *    (≤ sampleCap × dim rows shuffled — bounded, independent of the
    *    corpus);
    *  - empty cells keep their previous centroid.
    * Returned cids are dense 0..k-1 (ordered by seed hash) so the cell
    * partition values stay small. */
  private[graft] def kmeansCents(e: DataFrame, nCells: Int, iters: Int = 4,
      sampleCap: Int = 65536): Seq[Cent] = {
    val sample = e
      .withColumn("__hk", xxhash64(col("vec_id")))
      .orderBy("__hk", "vec_id").limit(math.max(sampleCap, nCells * 8))
      .select("vec_id", "v", "nrm")
      .localCheckpoint()
    var cents: Seq[Cent] = sample
      .withColumn("__hk", xxhash64(col("vec_id")))
      .orderBy("__hk", "vec_id").limit(nCells)
      .select("vec_id", "v", "nrm").collect()
      .zipWithIndex.map { case (r, i) =>
        Cent(i.toLong, r.getSeq[Double](1).toArray, r.getDouble(2))
      }.toSeq
    (1 to iters).foreach { _ =>
      val means = withCell(sample, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(map_from_arrays(collect_list(col("pos")),
          collect_list(col("m"))).as("mm"))
        .collect()
        .map { r =>
          val mm = r.getMap[Int, Double](1)
          r.getLong(0) -> Array.tabulate(mm.size)(mm(_))
        }.toMap
      cents = cents.map { c =>
        means.get(c.cid) match {
          case Some(cv) =>
            Cent(c.cid, cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
          case None => c // empty cell: keep previous centroid
        }
      }
    }
    sample.unpersist()
    cents
  }

  /** MAP-SIDE cell assignment: appends `cell` = argmax-cosine centroid id
    * (ties → lowest cid, matching the oracles' ROW_NUMBER ... ORDER BY
    * csim DESC, cid). No join, no window, no shuffle — each element of a
    * per-row scored array is struct(csim, -cid) and `array_max` picks the
    * best by struct ordering. Small centroid sets expand to one codegen'd
    * expression per centroid (ArrayDotProduct stays whole-stage); large
    * sets switch to a single array literal + `transform` HOF so the
    * constant pool stays bounded. */
  private[graft] def withCell(e: DataFrame, cents: Seq[Cent]): DataFrame = {
    require(cents.nonEmpty, "empty centroid set")
    import org.apache.spark.sql.graft.ExprColumn
    import org.apache.spark.sql.catalyst.expressions.Literal
    def arrLit(a: Array[Double]) = ExprColumn.column(
      Literal.create(a.toSeq, ArrayType(DoubleType, containsNull = false)))
    val best =
      if (cents.size <= 256) {
        val scored = array(cents.map { c =>
          struct(
            (dot(col("v"), arrLit(c.cv)) / (col("nrm") * lit(c.cnrm))).as("csim"),
            lit(-c.cid).as("ncid"))
        }: _*)
        array_max(scored)
      } else {
        val centType = ArrayType(StructType(Seq(
          StructField("cid", LongType, nullable = false),
          StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false),
          StructField("cnrm", DoubleType, nullable = false))), containsNull = false)
        val centRows = cents.map(c => Row(c.cid, c.cv.toSeq, c.cnrm))
        val centsLit = ExprColumn.column(Literal.create(centRows, centType))
        array_max(transform(centsLit, c => struct(
          (dot(col("v"), c("cv")) / (col("nrm") * c("cnrm"))).as("csim"),
          (-c("cid")).as("ncid"))))
      }
    e.withColumn("cell", -best.getField("ncid"))
  }

  /** Build and persist the index: pick centroids (seed or k-means),
    * assign every vector to its best cell MAP-SIDE, write assignments
    * partitioned by cell — no Exchange anywhere in the build. */
  def create(spark: SparkSession, embeddings: DataFrame, indexDir: String,
      nCells: Int = 16, kmeans: Boolean = false, iters: Int = 4): Unit = {
    val e = prep(embeddings)
    val cents =
      if (kmeans) kmeansCents(e, nCells, iters) else seedCents(e, nCells)
    writeCents(spark, cents, indexDir)
    withCell(e, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/assignments")
  }

  private[graft] def writeCents(spark: SparkSession, cents: Seq[Cent],
      indexDir: String): Unit = {
    val schema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("cnrm", DoubleType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          cents.map(c => Row(c.cid, c.cv.toSeq, c.cnrm)), 1),
        schema)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  private[graft] def readCents(spark: SparkSession, indexDir: String): Seq[Cent] =
    spark.read.parquet(s"$indexDir/centroids")
      .select("cid", "cv", "cnrm").collect()
      .map(r => Cent(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toSeq

  /** The nProbe best cells per query — (qid, qv, qnrm, cell). Expands
    * only the QUERY set (bounded), never the corpus. */
  private[graft] def probes(spark: SparkSession, indexDir: String,
      queries: DataFrame, nProbe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cid"), col("cv"), col("cnrm"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid"))
    queries.join(broadcast(cents), lit(true))
      .withColumn("csim",
        dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("__crn", row_number().over(wProbe))
      .filter(col("__crn") <= nProbe)
      .select(col("qid"), col("qv"), col("qnrm"), col("cid").as("cell"))
  }

  /** Top-`k` cosine neighbors per query, reading ONLY the probed cells'
    * partitions of the persisted index (never the original corpus). The
    * probed-cell list is collected (bounded: |queries| × nProbe ints — a
    * partition-pruning decision, metadata not data) so the cell filter is
    * a plan-time literal Spark turns into PartitionFilters. */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val p = probes(spark, indexDir, queries, nProbe).localCheckpoint()
    val cells = p.select("cell").distinct().collect()
      .map(_.get(0).toString.toLong)
    val scan = spark.read.parquet(s"$indexDir/assignments")
      .filter(col("cell").isin(cells: _*))
    val cands = scan.join(p, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"),
        round(col("cos"), 6).as("cos"))
  }

  /** Streaming index maintenance (the reference's vector skip index is
    * likewise maintained per inserted part): each micro-batch of new
    * embeddings is assigned to its cell MAP-SIDE against the EXISTING
    * centroids (same zero-shuffle argmax as the build) and appended into
    * the cell-partitioned layout — dynamic partition append, only touched
    * cells' directories gain files. Queries issued after a batch see the
    * new vectors with no rebuild. Returns the running query (AvailableNow
    * trigger drains a bounded backlog). */
  def appendStream(spark: SparkSession, stream: DataFrame, indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val cents = readCents(spark, indexDir)
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withCell(prep(batch), cents)
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
          .write.mode("append").partitionBy("cell")
          .parquet(s"$indexDir/assignments")
        ()
      }
      .start()
  }

  def drop(spark: SparkSession, indexDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(indexDir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(path, true)
  }

  /** Multi-table hyperplane-LSH ANN: 8 tables × 4 planes; candidates share
    * a (table, 4-bit-sign) bucket in ANY table, then exact cosine re-rank
    * to top-`k`. Queries = vec_id < 20. The plane is a CONSTANT 64-dim
    * vector → the projection is a codegen'd dot against a literal array
    * (the interpreted zip_with fold here was the round-2 hot spot). The
    * band join + distinct carry ONLY (qid, vec_id) — 16 bytes through the
    * shuffle, not two 64-double vectors; vectors join back once per
    * surviving candidate, queries via broadcast. */
  private[graft] def annLshTopK(e: DataFrame, k: Int): DataFrame = {
    // table t (0..7), plane p (0..3), dim i weight = ((i*31+(t*4+p)*17)%7)-3
    def bucketKey(t: Int) = (0 until 4).map { p =>
      val plane = array((0 until 64).map(i =>
        lit((((i * 31 + (t * 4 + p) * 17) % 7) - 3).toDouble)): _*)
      val proj = dot(col("v"), plane)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    val tables = (0 until 8).map(t =>
      struct(lit(t).as("tbl"), bucketKey(t).as("key")))
    val b = e.withColumn("bk", explode(array(tables: _*)))
      .select(col("vec_id"), col("bk"))
    val q = b.filter(col("vec_id") < 20).withColumnRenamed("vec_id", "qid")
    val candIds = b.join(broadcast(q), Seq("bk"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val qv = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val cands = candIds.join(e, Seq("vec_id")).join(broadcast(qv), Seq("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "nid")
  }

  /** IVF-style cell-probed ANN: 16 seed centroids (vec_id < 16; a real
    * system k-means them), every vector assigned to its best cell, queries
    * (vec_id < 20) probe their 4 nearest cells, exact re-rank to top-`k`.
    * Cells partition the corpus; a query touches nprobe/ncell of it. */
  private[graft] def annIvfTopK(e: DataFrame, k: Int): DataFrame = {
    // corpus assignment is MAP-SIDE ([[withCell]] argmax over the
    // driver-resident centroid array) — the earlier broadcast-crossJoin +
    // row_number form expanded the corpus 16× carrying full embeddings and
    // shuffled the expansion; ties break to the lowest cid on both paths.
    val centArr = seedCents(e, 16)
    val assigned = withCell(e, centArr)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    // query probes stay on the window form: 20 queries × 16 centroids is
    // bounded, and the probe needs the 4 BEST cells, not just the argmax
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val qProbes = e.filter(col("vec_id") < 20).join(broadcast(cents), lit(true))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid").as("cell"))
    val cands = assigned.join(qProbes, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "nid")
  }
}
