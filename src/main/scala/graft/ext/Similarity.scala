package graft.ext

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`) —
  * training-data-pipeline extension (SURVEY §7.5).
  *
  * Baseline: brute-force cosine top-k — a single codegen'd scan using
  * the native [[graft.functions.DotProductFloat]] expression (fused
  * primitive loop, no intermediate arrays, no UDF) with a
  * TakeOrderedAndProject top-k; at 100 TB this is one pass over the
  * vectors with the query broadcast, which is exactly what a
  * brute-force ANN "flat index" does, sharded.
  *
  * Pair-quadratic operators (near-dup pairs, IVF assignment) precompute
  * each vector's squared norm ONCE and carry it through the join —
  * one dot product per pair instead of three.
  *
  * Scale path: IVF (inverted-file) — k centroids partition the vectors
  * into cells ("coarse quantizer"); a query probes only the nprobe
  * nearest cells. Cell assignment is a one-off batch join; the search
  * reads ~nprobe/k of the data. Centroid choice here is deterministic
  * sampling (every m-th vector) so results are reproducible and
  * oracle-checkable; swap in k-means|| for production without changing
  * the query path.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = VectorFunctions.dot_f(a, b)

  /** Cosine similarity of two float-array columns (double precision,
    * codegen'd native expression; bit-compatible with the DuckDB
    * oracle's unnest formulation).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The query vector for a given id (collected to the driver: one row). */
  def vectorOf(vectors: DataFrame, idCol: String, id: Long): Seq[Float] = {
    vectors.filter(col(idCol) === id).select("embedding")
      .collect()(0).getSeq[Float](0)
  }

  /** Brute-force cosine top-k against a literal query vector. */
  def bruteForceTopK(vectors: DataFrame, query: Seq[Float], k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    vectors
      .withColumn("cos_sim", round(cosine(col("embedding"), q), 6))
      .select(col(idCol), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Matryoshka / truncated-dimension retrieval audit (Kusupati et
    * al. 2022): for each benchmark query vector, top-`k` neighbors
    * under the full-dim cosine vs under the first-`prefixDim`
    * coordinates only, reporting the overlap — the measurement that
    * decides whether an embedding column can ship at 4× less storage
    * and bandwidth. Brute-force by design: this is the ground-truth
    * EVALUATION probe over a bounded benchmark query set (the
    * `% queryEvery` convention), not the serving path — serving at
    * scale is the IVF/PQ family; the cross join broadcasts the tiny
    * query side so the corpus never shuffles, and each per-query
    * ranking is one window over the scored rows. Cosines are rounded
    * once to 6 dp before ranking (the accumulation-order parity
    * recipe), vec_id breaks ties.
    */
  def matryoshkaRecall(vectors: DataFrame, queryEvery: Long = 97,
      prefixDim: Int = 16, k: Int = 10,
      benchMaxId: Long = Long.MaxValue): DataFrame = {
    val qs = vectors.filter(pmod(col("vec_id"), lit(queryEvery)) === 0 &&
      col("vec_id") < benchMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("q"))
    val scored = vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("c_full"),
        round(cosine(slice(col("embedding"), 1, prefixDim),
          slice(col("q"), 1, prefixDim)), 6).as("c_prefix"))
    val wF = Window.partitionBy("qid").orderBy(col("c_full").desc, col("vec_id"))
    val wP = Window.partitionBy("qid").orderBy(col("c_prefix").desc, col("vec_id"))
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rp", row_number().over(wP))
      .groupBy("qid")
      .agg(sum(when(col("rf") <= k && col("rp") <= k, 1L).otherwise(0L))
        .as("n_overlap"))
      .select(col("qid"), col("n_overlap"),
        // multiply BEFORE the integer divide: `1000L / k` truncates
        // first, so any k not dividing 1000 would silently mis-scale
        expr(s"CAST(n_overlap * 1000 DIV $k AS BIGINT)")
          .as("recall_permille"))
  }

  /** 1-bit (sign) binary quantization: 64 dims pack into ONE BIGINT —
    * 256× compression vs float32, the most aggressive point on the
    * flat / SQ8 / PQ / IVFPQ dial — and distance becomes
    * `bit_count(a XOR b)`, a 2-instruction kernel. Bit i is set iff
    * component i > 0 (exact FLOAT comparison, engine-invariant), the
    * in-row fold is pure codegen'd integer algebra.
    */
  def binaryCode(embedding: Column, dims: Int = 64): Column = {
    // CONTRACT: the input array must carry at least `dims` components
    // (only the first `dims` participate in the code). Guarded with a
    // loud raise_error — under non-ANSI eval a short array would
    // otherwise yield NULL element_at lookups, i.e. silently-zero
    // bits and a biased code.
    require(dims >= 1 && dims <= 64, s"binaryCode: dims must be in [1, 64], got $dims")
    // static literal-shift terms; distinct bits make the sum an OR
    val code = (0 until dims).map { i =>
      when(element_at(embedding, i + 1) > lit(0f), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    when(size(embedding) >= dims, code).otherwise(raise_error(
      concat(lit(s"binaryCode: embedding has fewer than $dims dims (got "),
        size(embedding).cast("string"), lit(")"))))
  }

  /** Binary-quantization retrieval audit — same frame as
    * [[matryoshkaRecall]]: per benchmark query, top-`k` overlap
    * between the full-dim cosine ranking and the hamming ranking over
    * the 64-bit sign codes. Hamming ties are frequent (small integer
    * range), so the id tie-break is what keeps both engines' top-k
    * selections identical. Broadcast query side; the corpus scan
    * carries one BIGINT per vector where the exact path carries 64
    * floats.
    */
  def binaryRecall(vectors: DataFrame, queryEvery: Long = 97,
      k: Int = 10, benchMaxId: Long = Long.MaxValue): DataFrame = {
    val coded = vectors.select(col("vec_id"), col("embedding"),
      binaryCode(col("embedding")).as("code"))
    val qs = coded.filter(pmod(col("vec_id"), lit(queryEvery)) === 0 &&
      col("vec_id") < benchMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("q"),
        col("code").as("qcode"))
    val scored = coded.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("c_full"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).cast("long").as("ham"))
    val wF = Window.partitionBy("qid").orderBy(col("c_full").desc, col("vec_id"))
    val wP = Window.partitionBy("qid").orderBy(col("ham").asc, col("vec_id"))
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rp", row_number().over(wP))
      .groupBy("qid")
      .agg(sum(when(col("rf") <= k && col("rp") <= k, 1L).otherwise(0L))
        .as("n_overlap"))
      .select(col("qid"), col("n_overlap"),
        // multiply BEFORE the integer divide: `1000L / k` truncates
        // first, so any k not dividing 1000 would silently mis-scale
        expr(s"CAST(n_overlap * 1000 DIV $k AS BIGINT)")
          .as("recall_permille"))
  }

  /** IVF cell assignment: every vector joined to its nearest centroid.
    * Centroids = every `sampleEvery`-th vector (deterministic coarse
    * quantizer). Returns (vec_id, cell_id, embedding).
    */
  /** Spread the vector side across the cluster before an N×C scoring
    * pass: the assignment's cost lives in the crossJoin against the
    * broadcast centroids, and a corpus that arrives as one parquet file
    * (or a handful) would otherwise run the whole quadratic term in as
    * many tasks as there are input splits (r7 scale-stress: the sf1
    * ivf_build pinned ONE core for minutes while 31 idled).
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def ivfAssign(vectors: DataFrame, sampleEvery: Int,
      idCol: String = "vec_id"): DataFrame = {
    val withNorm = vectors.withColumn("__vn", dot(col("embedding"), col("embedding")))
    val centroids = withNorm.filter(col(idCol) % sampleEvery === 0)
      .select(col(idCol).as("cell_id"), col("embedding").as("centroid"),
        col("__vn").as("__cn"))
    val scored = spread(withNorm).crossJoin(broadcast(centroids))
      .withColumn("sim", round(
        dot(col("embedding"), col("centroid")) /
          (sqrt(col("__vn")) * sqrt(col("__cn"))), 6))
    // argmax sim per vector; deterministic tie-break on cell_id
    val best = scored
      .groupBy(col(idCol))
      .agg(max_by(col("cell_id"), struct(col("sim"), -col("cell_id"))).as("cell_id"))
    vectors.join(best, idCol)
  }

  /** Assign arbitrary vectors to a FROZEN centroid table — the
    * index-MAINTENANCE kernel: once the coarse quantizer is trained
    * and shipped, new vectors route to cells statelessly (broadcast
    * centroids + argmax cosine per row), which is why IVF assignment
    * streams for free — each micro-batch runs this same map-side pass
    * and appends. Identical arithmetic to [[ivfAssign]] (float dot,
    * 6 dp round, cell_id tie-break), so a streamed assignment lands
    * on the batch oracle bit-for-bit.
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val withNorm = vectors.withColumn("__vn",
      dot(col("embedding"), col("embedding")))
    val cents = centroids.select(col("cell_id"), col("centroid"))
      .withColumn("__cn", dot(col("centroid"), col("centroid")))
    withNorm.crossJoin(broadcast(cents))
      .withColumn("sim", round(
        dot(col("embedding"), col("centroid")) /
          (sqrt(col("__vn")) * sqrt(col("__cn"))), 6))
      .groupBy(col(idCol))
      .agg(max_by(col("cell_id"), struct(col("sim"), -col("cell_id")))
        .as("cell_id"))
  }

  /** A built IVF index: the coarse quantizer's centroid table
    * (`cell_id` + centroid vector) and the full vector→cell assignment
    * (`vec_id`, `cell_id`, `embedding`). Built ONCE as a batch job —
    * the TextIndex-artifact pattern — then persisted/cached; every
    * search probes `nprobe` cells of the prebuilt assignment and never
    * recomputes it. At scale the assignment is written partitioned by
    * `cell_id` so a probe reads ~nprobe/k of the data.
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** One-off IVF build with the deterministic sampled quantizer:
    * centroids = every `sampleEvery`-th vector; assignment = argmax
    * cosine (one broadcast of k×dim centroids + one map-side pass).
    */
  def ivfBuild(vectors: DataFrame, sampleEvery: Int,
      idCol: String = "vec_id"): IvfIndex = {
    val centroids = vectors.filter(col(idCol) % sampleEvery === 0)
      .select(col(idCol).as("cell_id"), col("embedding").as("centroid"))
    val assigned = ivfAssign(vectors, sampleEvery, idCol)
      .select(col(idCol).as("vec_id"), col("cell_id"), col("embedding"))
    IvfIndex(centroids, assigned)
  }

  /** IVF search over a PREBUILT index: score the (tiny) centroid table
    * against the query, probe the `nprobe` nearest cells, exact cosine
    * within candidates only. No assignment recompute, no training.
    */
  def ivfSearchIndexed(index: IvfIndex, query: Seq[Float], nprobe: Int,
      k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val probeCells = index.centroids
      .withColumn("sim", round(cosine(col("centroid"), q), 6))
      .orderBy(col("sim").desc, col("cell_id"))
      .limit(nprobe)
      .select("cell_id")
    index.assigned.join(broadcast(probeCells), "cell_id")
      .withColumn("cos_sim", round(cosine(col("embedding"), q), 6))
      .select(col("vec_id"), col("cell_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Build-then-search convenience (unamortized — prefer [[ivfBuild]]
    * once + [[ivfSearchIndexed]] per query).
    */
  def ivfSearch(vectors: DataFrame, query: Seq[Float], sampleEvery: Int,
      nprobe: Int, k: Int, idCol: String = "vec_id"): DataFrame =
    ivfSearchIndexed(ivfBuild(vectors, sampleEvery, idCol), query, nprobe, k)

  /** Persist an IVF index with the 100 TB layout: the assignment
    * parquet is PARTITIONED BY cell_id, so a probe of nprobe cells is
    * partition pruning at the scan — the query reads ~nprobe/k of the
    * data from disk, no join needed to skip the rest. Centroids are a
    * single small file (broadcast-scored per query).
    */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("cell_id")
      .parquet(s"$dir/assigned")
  }

  /** Reopen a persisted IVF index ([[writeIvfIndex]] layout). */
  def readIvfIndex(spark: SparkSession, dir: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assigned"))

  /** Search a PERSISTED IVF index with static partition pruning: the
    * nprobe probe-cell ids (a handful of longs, scored against the tiny
    * centroid table) are collected and pushed as an `IN` partition
    * filter, so the scan reads only the probed cells' files — no join,
    * no full-assignment read.
    */
  def ivfSearchPersisted(spark: SparkSession, dir: String, query: Seq[Float],
      nprobe: Int, k: Int): DataFrame = {
    val idx = readIvfIndex(spark, dir)
    val q = array(query.map(v => lit(v)): _*)
    val probeCells = idx.centroids
      .withColumn("sim", round(cosine(col("centroid"), q), 6))
      .orderBy(col("sim").desc, col("cell_id"))
      .limit(nprobe)
      .select("cell_id").collect().map(_.getLong(0))
    idx.assigned.filter(col("cell_id").isin(probeCells: _*))
      .withColumn("cos_sim", round(cosine(col("embedding"), q), 6))
      .select(col("vec_id"), col("cell_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** K-means coarse quantizer trained in-engine: deterministic seeding
    * (every `sampleEvery`-th vector) + `iters` Lloyd rounds, entirely as
    * relational algebra — assignment is an argmax join, the centroid
    * update is a component-wise mean (posexplode → groupBy(cell, pos) →
    * rebuild array). Centroid components and similarities round to 6
    * decimals each round so the training is bit-reproducible across
    * engines (oracle-checked in `x_sim_ivf_kmeans`).
    *
    * Scale shape per round: one broadcast of k×dim centroids + one
    * map-side assignment pass + one (cell, pos)-keyed aggregation —
    * no iteration state on the driver beyond the centroid table.
    */
  def kmeansCentroids(vectors: DataFrame, sampleEvery: Int, iters: Int,
      idCol: String = "vec_id"): DataFrame = {
    val embD = transform(col("embedding"), x => x.cast("double"))
    def dotD(a: Column, b: Column): Column = VectorFunctions.dot_d(a, b)
    val vecs = spread(vectors.select(col(idCol).as("vec_id"), embD.as("ve")))
      .withColumn("nv", dotD(col("ve"), col("ve")))
    var centroids = vecs.filter(col("vec_id") % sampleEvery === 0)
      .select(col("vec_id").as("cell_id"), col("ve").as("ce"))
    for (rnd <- 1 to iters) {
      val assigned = assign(vecs, centroids)
      val prev = centroids
      centroids = vecs.join(assigned, "vec_id")
        .select(col("cell_id"), posexplode(col("ve")).as(Seq("i", "v")))
        .groupBy("cell_id", "i")
        .agg(round(avg(col("v")), 6).as("cv"))
        .groupBy("cell_id")
        .agg(transform(
          array_sort(collect_list(struct(col("i"), col("cv")))),
          s => s.getField("cv")).as("ce"))
        // iterative self-reference: truncate the logical plan per round
        // (the Dedup.duplicateComponents lesson — persist alone leaves
        // the analysis-time plan doubling with the round count)
        .localCheckpoint(true)
      // superseded round's centroid blocks (guide §5); round 1's prev
      // is the un-checkpointed seed selection (release is a no-op)
      if (rnd > 1) Dedup.releaseCheckpoint(prev)
    }
    centroids
  }

  /** Argmax-cosine cell assignment of `vecs` (vec_id, ve double-array,
    * nv) against a centroid table (cell_id, ce double-array).
    */
  private def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    // native codegen'd dot (bit-identical sequential fold): the
    // aggregate(zip_with(...)) form allocated a product array per PAIR
    // of the N×C hot loop — the dominant term of the r7 sf1 ivf_build
    def dotD(a: Column, b: Column): Column = VectorFunctions.dot_d(a, b)
    val withC = centroids.withColumn("nc", dotD(col("ce"), col("ce")))
    vecs.crossJoin(broadcast(withC))
      .withColumn("sim", round(
        dotD(col("ve"), col("ce")) / (sqrt(col("nv")) * sqrt(col("nc"))), 6))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("sim"), -col("cell_id"))).as("cell_id"))
  }

  /** One-off IVF build with the k-means quantizer: train `iters` Lloyd
    * rounds, then assign every vector to its argmax-cosine cell. The
    * returned centroid table keeps the trained double-precision `ce`
    * arrays (probe scoring must match training precision).
    */
  def kmeansIvfBuild(vectors: DataFrame, sampleEvery: Int, iters: Int,
      idCol: String = "vec_id"): IvfIndex = {
    def dotD(a: Column, b: Column): Column = VectorFunctions.dot_d(a, b)
    val embD = transform(col("embedding"), x => x.cast("double"))
    val vecs = spread(vectors.select(col(idCol).as("vec_id"), embD.as("ve")))
      .withColumn("nv", dotD(col("ve"), col("ve")))
    val centroids = kmeansCentroids(vectors, sampleEvery, iters, idCol)
    val assigned = assign(vecs, centroids)
    val withEmb = vectors.select(col(idCol).as("vec_id"), col("embedding"))
      .join(assigned, "vec_id")
      .select("vec_id", "cell_id", "embedding")
    IvfIndex(centroids, withEmb)
  }

  /** IVF search over a PREBUILT k-means index: probe the nprobe cells
    * nearest the query (scored against the trained double-precision
    * centroids), exact cosine within candidates. No per-query training.
    */
  def kmeansIvfSearchIndexed(index: IvfIndex, query: Seq[Float], nprobe: Int,
      k: Int): DataFrame = {
    def dotD(a: Column, b: Column): Column = VectorFunctions.dot_d(a, b)
    val qD = array(query.map(v => lit(v.toDouble)): _*)
    val probeCells = index.centroids
      .withColumn("nc", dotD(col("ce"), col("ce")))
      .withColumn("sim", round(
        dotD(col("ce"), qD) / (sqrt(lit(queryNorm2(query))) * sqrt(col("nc"))), 6))
      .orderBy(col("sim").desc, col("cell_id"))
      .limit(nprobe)
      .select("cell_id")
    val q = array(query.map(lit): _*)
    index.assigned.join(broadcast(probeCells), "cell_id")
      .withColumn("cos_sim", round(cosine(col("embedding"), q), 6))
      .select(col("vec_id"), col("cell_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Build-then-search convenience (unamortized — prefer
    * [[kmeansIvfBuild]] once + [[kmeansIvfSearchIndexed]] per query).
    */
  def kmeansIvfSearch(vectors: DataFrame, query: Seq[Float], sampleEvery: Int,
      iters: Int, nprobe: Int, k: Int, idCol: String = "vec_id"): DataFrame =
    kmeansIvfSearchIndexed(
      kmeansIvfBuild(vectors, sampleEvery, iters, idCol), query, nprobe, k)

  private def queryNorm2(q: Seq[Float]): Double =
    q.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble)

  /** Embedding near-duplicate pairs within label blocks: cosine above
    * threshold, blocked to avoid the cross product (the label column
    * stands in for any coarse bucketing — LSH band, IVF cell, shard).
    * Norms are computed once per vector, not per pair.
    */
  def cosineNearDupPairs(vectors: DataFrame, blockCol: String,
      threshold: Double, idCol: String = "vec_id"): DataFrame = {
    val withNorm = vectors
      .withColumn("__n", dot(col("embedding"), col("embedding")))
    val a = withNorm.select(col(blockCol).as("blk"), col(idCol).as("id_a"),
      col("embedding").as("emb_a"), col("__n").as("__na"))
    val b = withNorm.select(col(blockCol).as("blk"), col(idCol).as("id_b"),
      col("embedding").as("emb_b"), col("__n").as("__nb"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(
        dot(col("emb_a"), col("emb_b")) /
          (sqrt(col("__na")) * sqrt(col("__nb"))), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Cell-blocked k-NN GRAPH: every vector's top-`k` most-similar
    * neighbors among the vectors sharing its IVF cell — the input
    * relation of graph-based curation (SemDeDup-style cluster
    * pruning, density/diversity sampling, label-noise audits by
    * neighborhood vote). Differs from the pair listing
    * ([[cosineNearDupPairs]]): DIRECTED, exactly ≤ k rows per vector,
    * no similarity threshold.
    *
    * Scale shape: the within-cell join is the SemDeDup block (cells ≈
    * √N ⇒ pair term N^1.5, never N²); per-vector selection is the
    * bounded-heap top-k aggregate, so the map side reduces every
    * (vector, partition) to ≤ k rows BEFORE the exchange — a dense
    * cell inflates no reducer. Norms computed once per vector.
    * cos_e6 = floor(cos·1e6 + 0.5) — one extra exact IEEE op over the
    * repo's round-6 cosine contract, so the heap's (score, id) order
    * is integer-deterministic and the oracle's window form lands on
    * identical selections.
    */
  def knnGraph(assigned: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"knnGraph: k must be positive, got $k")
    val spark = assigned.sparkSession
    graft.functions.TopKFunctions.register(spark)
    val withNorm = assigned
      .withColumn("__n", dot(col("embedding"), col("embedding")))
    val a = withNorm.select(col("cell_id"), col(idCol).as("id_a"),
      col("embedding").as("emb_a"), col("__n").as("__na"))
    val b = withNorm.select(col("cell_id"), col(idCol).as("id_b"),
      col("embedding").as("emb_b"), col("__n").as("__nb"))
    a.join(b, Seq("cell_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cos_e6",
        floor(dot(col("emb_a"), col("emb_b")) /
          (sqrt(col("__na")) * sqrt(col("__nb"))) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("id_a"))
      .agg(graft.functions.TopKFunctions.topk_desc(col("cos_e6").cast("double"),
        graft.functions.TopKFunctions.tieKey(col("id_b"),
          assigned.schema(idCol).dataType),
        struct(col("id_b"), col("cos_e6")), k).as("__top"))
      .select(col("id_a").as(idCol), posexplode(col("__top")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("nbr_rank"),
        col("col.id_b").as("nbr_id"), col("col.cos_e6").as("cos_e6"))
  }

  /** Semantic clustering of the embedding corpus: connected
    * components over the thresholded kNN graph — the unsupervised
    * corpus-organization step (topic groups for mixing decisions,
    * near-dup families beyond pairwise, cluster-balanced sampling
    * pools). Edges are [[knnGraph]]'s cell-blocked k-nearest
    * neighbors kept at `cos_e6 ≥ minCosE6`, symmetrized to
    * (min, max) id pairs; components come from
    * [[graft.ext.Dedup.duplicateComponents]]' pointer-doubling
    * min-label propagation (O(log diameter) rounds). Returns one row
    * per CLUSTERED vector — (id, cluster_id = min member id,
    * cluster_size); vectors with no qualifying edge are singletons
    * and are omitted (the components convention).
    *
    * Scale shape: the kNN leg is the IVF-cell-blocked join (never
    * all-pairs), the edge list is ≤ n·k rows, and each propagation
    * round is two hash joins + a groupBy on it; the size rollup is
    * one component-keyed aggregation. No window over corpus-sized
    * data anywhere.
    */
  def semanticClusters(assigned: DataFrame, k: Int, minCosE6: Long,
      idCol: String = "vec_id"): DataFrame =
    semanticClustersFromKnn(knnGraph(assigned, k, idCol), minCosE6, idCol)

  /** [[semanticClusters]] over a PREBUILT kNN-graph relation — the
    * artifact form (r14 OPTIMIZATION, the dedup pair-artifact
    * contract): one cell-blocked kNN join can feed the graph listing
    * AND the clustering, so the clustering query times thresholding +
    * components + rollup, not a second N^1.5 join (lifecycle owned by
    * the caller; `knn` must be [[knnGraph]]-shaped: idCol, nbr_id,
    * cos_e6).
    */
  def semanticClustersFromKnn(knn: DataFrame, minCosE6: Long,
      idCol: String = "vec_id"): DataFrame = {
    val edges = knn
      .filter(col("cos_e6") >= minCosE6)
      .select(least(col(idCol), col("nbr_id")).as("id_a"),
        greatest(col(idCol), col("nbr_id")).as("id_b"))
      .distinct()
    val comp = graft.ext.Dedup.duplicateComponents(edges)
    comp.join(
        comp.groupBy("component").agg(count(lit(1)).as("cluster_size")),
        Seq("component"))
      .select(col("doc_id").as(idCol), col("component").as("cluster_id"),
        col("cluster_size"))
  }

  /** Coverage-preserving diversity sample: ONE representative per IVF
    * cell — the member most similar to its cell's centroid (the
    * medoid under the quantizer's own geometry), ties to the smaller
    * vec_id. The downsample that keeps one exemplar per region of
    * embedding space instead of per near-dup clique — the
    * cluster-sampling step curation pipelines run between dedup and
    * mixing. Returns (cell_id, medoid_id, cos_sim, n_members) so the
    * sample rate per region is auditable.
    *
    * Scale: centroids broadcast (the codebook discipline — √N rows);
    * the member side never shuffles for scoring; per-cell selection
    * is a map-side-combining min(struct) — one cell-keyed exchange of
    * partial argmaxes, no Window.
    */
  def cellMedoids(index: IvfIndex): DataFrame = {
    index.assigned
      .join(broadcast(index.centroids.select(col("cell_id"), col("centroid"))),
        "cell_id")
      .withColumn("__sim", round(cosine(col("embedding"), col("centroid")), 6))
      .groupBy(col("cell_id"))
      .agg(min(struct((-col("__sim")).as("ns"), col("vec_id").as("v"))).as("__b"),
        count(lit(1)).as("n_members"))
      .select(col("cell_id"), col("__b.v").as("medoid_id"),
        (-col("__b.ns")).as("cos_sim"), col("n_members"))
  }

  /** SemDeDup pruning (Abbas et al. 2023): within each IVF cell, drop
    * every vector that has a more-senior near-twin — keep rule: v is
    * PRUNED iff some u < v in its cell has cosine ≥ `threshold` with
    * it (the deterministic min-id representative of each pairwise
    * near-dup relation, the same keep convention as the MinHash
    * keep-first dedup). Emits the DECISION relation (one row per
    * vector: keep flag + the senior twin that caused a prune) — the
    * artifact a curation pipeline joins against the corpus to filter.
    *
    * Scale: one within-cell pair join (the N^1.5 cell shape, shared
    * with [[cosineNearDupPairs]]) collapsed immediately to ≤ one row
    * per pruned vector by a map-side-combining min; the corpus-sized
    * relation is touched once more only for the left join that
    * attaches keep=true rows.
    */
  def semdedupPrune(assigned: DataFrame, threshold: Double,
      idCol: String = "vec_id"): DataFrame = {
    val pruned = cosineNearDupPairs(assigned, "cell_id", threshold, idCol)
      .groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("pruned_by"))
    assigned.select(col(idCol))
      .join(pruned, Seq(idCol), "left")
      .select(col(idCol), col("pruned_by").isNull.as("keep"),
        col("pruned_by"))
  }

  /** Semantic benchmark decontamination — the embedding-space sibling
    * of the n-gram contamination screens: flag corpus vectors whose
    * cosine to ANY benchmark vector reaches `threshold`, blocked by a
    * shared coarse bucketing (IVF cell — the SemDeDup argument: a
    * paraphrased test item and its corpus leak land in the same cell).
    * Catches paraphrase-level test-set leakage that token n-grams
    * miss.
    *
    * Scale shape: the benchmark side is tiny next to a 100 TB corpus,
    * so it BROADCASTS — the corpus never shuffles; per corpus row the
    * work is (benchmark-in-cell × dims) in-row dot products. Norms
    * are computed once per vector, not per pair.
    */
  def crossSetNearPairs(vectors: DataFrame, isBench: Column,
      blockCol: String, threshold: Double,
      idCol: String = "vec_id"): DataFrame = {
    val withNorm = vectors
      .withColumn("__n", dot(col("embedding"), col("embedding")))
    val corp = withNorm.filter(!isBench).select(col(blockCol).as("blk"),
      col(idCol).as("corpus_id"), col("embedding").as("emb_a"),
      col("__n").as("__na"))
    val bench = withNorm.filter(isBench).select(col(blockCol).as("blk"),
      col(idCol).as("bench_id"), col("embedding").as("emb_b"),
      col("__n").as("__nb"))
    corp.join(broadcast(bench), Seq("blk"))
      .withColumn("cos_sim", round(
        dot(col("emb_a"), col("emb_b")) /
          (sqrt(col("__na")) * sqrt(col("__nb"))), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("corpus_id"), col("bench_id"), col("cos_sim"))
  }

  /** Hard-negative mining for contrastive retrieval training (the
    * DPR/ANCE recipe, Karpukhin et al. 2020 / Xiong et al. 2021): for
    * each benchmark query vector, the top-`k` most-similar vectors
    * with a DIFFERENT label — similar enough to confuse the model,
    * labeled differently, i.e. exactly the negatives worth training
    * on. The `% queryEvery` + `benchMaxId` convention pins the query
    * set (same as the recall probes — the benchmark must not grow
    * with the corpus).
    *
    * Scale shape: the query side broadcasts, so the corpus NEVER
    * shuffles for scoring — per corpus row the work is |Q| in-row
    * dot products. Per-query selection is the [[graft.functions.TopKDesc]]
    * bounded aggregate, not a window: map-side k-item heaps cut each
    * (qid, partition) to ≤ k rows before the one qid-keyed exchange,
    * so the shuffle carries O(|Q| · partitions · k) rows total no
    * matter how large the corpus — the window form would exchange
    * every scored row. Cosines round once to 6 dp before ranking,
    * vec_id breaks ties (zero-padded, so string order = numeric).
    */
  def hardNegatives(vectors: DataFrame, queryEvery: Long = 97, k: Int = 5,
      benchMaxId: Long = Long.MaxValue): DataFrame = {
    graft.functions.TopKFunctions.register(vectors.sparkSession)
    val qs = vectors
      .filter(pmod(col("vec_id"), lit(queryEvery)) === 0 &&
        col("vec_id") < benchMaxId)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("embedding").as("q"))
    vectors.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(qs))
      .filter(col("label") =!= col("q_label"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .groupBy("qid")
      .agg(graft.functions.TopKFunctions.topk_desc(
        col("cos_sim"), lpad(col("vec_id").cast("string"), 20, "0"),
        struct(col("vec_id"), col("cos_sim")), k).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__s")))
      .select(col("qid"), (col("__r") + 1).cast("long").as("neg_rank"),
        col("__s.vec_id").as("vec_id"), col("__s.cos_sim").as("cos_sim"))
  }

  /** Embedding-dimension correlation matrix (upper triangle) — the
    * whitening/ABTT diagnostic: strongly correlated dimensions mean
    * the embedding wastes capacity and cosine over-weights a shared
    * direction; the matrix is the input to any whitening decision.
    *
    * Parity discipline: components quantize ONCE to e6 BIGINT (the
    * centroid recipe), all sufficient statistics (Σv, Σv², Σvᵢvⱼ, n)
    * are EXACT integer sums — fold-order-proof — and the Pearson
    * correlation is one fixed IEEE op tree over those exact integers,
    * rounded once to 6 dp, so both engines evaluate bit-identically.
    *
    * Scale shape: the upper-triangle outer product is built IN-ROW
    * (d²/2 structs per vector) and map-side combine collapses each
    * partition to ≤ d² cells before the ONE pair-keyed exchange; the
    * d-row moment relation broadcasts to the final join. BIGINT range:
    * Σvᵢvⱼ ≤ n·(maxᵥ·1e6)² — safe to ~10⁶ vectors per stat at unit
    * norms; beyond that, re-quantize to e4 or aggregate hierarchically.
    */
  def dimCorrelation(vectors: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    corrStatsJoined(vectors, vecCol)
      .withColumn("corr", when(col("__di") <= 0 || col("__dj") <= 0, lit(0.0))
        .otherwise(round(
          (col("n").cast("double") * col("sij") -
            col("s1i").cast("double") * col("s1j")) /
            (sqrt(col("__di")) * sqrt(col("__dj"))), 6)))
      .select(col("dim_i").cast("long").as("dim_i"),
        col("dim_j").cast("long").as("dim_j"), col("n"), col("corr"))

  /** The upper-triangle Pearson sufficient statistics (exact-integer
    * in-row outer products + e6-quantized moment relation) shared by
    * [[dimCorrelation]] and [[corrMatrixE6]]. Columns: dim_i ≤ dim_j,
    * sij, s1i/s2i/s1j/s2j, n, and the (double) variance numerators
    * __di/__dj.
    */
  private def corrStatsJoined(vectors: DataFrame, vecCol: String): DataFrame = {
    val vE6 = transform(col(vecCol),
      x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    val withV = vectors.withColumn("__ve", vE6)
    val mom = withV.select(posexplode(col("__ve")).as(Seq("i", "ve")))
      .groupBy(col("i"))
      .agg(sum(col("ve")).as("s1"), sum(col("ve") * col("ve")).as("s2"),
        count(lit(1)).as("n"))
    val pairs = withV.select(explode(expr(
        """flatten(transform(sequence(0, size(__ve) - 1), i ->
          |  transform(sequence(i, size(__ve) - 1), j ->
          |    struct(i AS di, j AS dj,
          |           element_at(__ve, i + 1) * element_at(__ve, j + 1) AS p))))"""
        .stripMargin)).as("t"))
      .select(col("t.di").as("dim_i"), col("t.dj").as("dim_j"), col("t.p").as("p"))
      .groupBy("dim_i", "dim_j").agg(sum(col("p")).as("sij"))
    val mi = mom.select(col("i").as("dim_i"), col("s1").as("s1i"),
      col("s2").as("s2i"), col("n"))
    val mj = mom.select(col("i").as("dim_j"), col("s1").as("s1j"),
      col("s2").as("s2j"))
    pairs.join(broadcast(mi), "dim_i").join(broadcast(mj), "dim_j")
      .withColumn("__di", col("n").cast("double") * col("s2i") -
        col("s1i").cast("double") * col("s1i"))
      .withColumn("__dj", col("n").cast("double") * col("s2j") -
        col("s1j").cast("double") * col("s1j"))
  }

  /** The FULL symmetric Pearson matrix in e6 fixed point — the input
    * relation of [[topPrincipalComponent]]: corr_e6 = floor(r·1e6+0.5)
    * from the same fixed IEEE op tree as [[dimCorrelation]] (one
    * double chain over exact integer sufficient statistics), mirrored
    * across the diagonal. d² rows — broadcast-sized at any corpus
    * scale.
    */
  private[ext] def corrMatrixE6(vectors: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val up = corrStatsJoined(vectors, vecCol)
      .withColumn("corr_e6", when(col("__di") <= 0 || col("__dj") <= 0, lit(0L))
        .otherwise(floor(
          (col("n").cast("double") * col("sij") -
            col("s1i").cast("double") * col("s1j")) /
            (sqrt(col("__di")) * sqrt(col("__dj"))) * lit(1e6) + lit(0.5))
          .cast("long")))
      .select(col("dim_i"), col("dim_j"), col("corr_e6"))
    up.unionByName(up.filter(col("dim_i") =!= col("dim_j"))
      .select(col("dim_j").as("dim_i"), col("dim_i").as("dim_j"),
        col("corr_e6")))
  }

  /** Top principal component of the embedding correlation matrix by
    * synchronous power iteration in integer fixed point — the
    * all-but-the-top / whitening diagnostic (Mu & Viswanath 2018): the
    * direction that dominates anisotropic embedding spaces, whose
    * removal is the classic post-process. Companion to
    * [[dimCorrelation]], which reports the matrix this iterates on.
    *
    * Determinism contract (the HITS recipe): v₀ = 1e6 on every dim;
    * each round multiplies the e6 integer matrix by the e6 integer
    * vector (exact BIGINT sums, ≤ d·1e12 per entry — safe to d ≈ 9M)
    * and re-normalizes by L∞ via POSITIVE integer division
    * (|w|·DIV·max(max|w| DIV 1e6, 1), sign re-applied), so truncating
    * DIV and flooring `//` agree operand-by-operand and the oracle
    * unrolls identical rounds. Fixed `iters` rounds, no convergence
    * test — deterministic by construction.
    *
    * r14 OPTIMIZATION (guide §1.2 — fix the algorithm's job count, not
    * its configs): the correlation matrix is d² rows REGARDLESS of
    * corpus size — the bounded-codebook class (the pcaArtifact /
    * centroid-literal contract) — so the recurrence runs on the
    * COLLECTED matrix: one distributed pass builds the sufficient
    * statistics, the driver folds the identical Long arithmetic
    * (exact sums — order-free; `DIV` = Java truncating division on
    * the same operands), and the result re-enters the plan as a d-row
    * local relation. The previous shape paid 2 distributed jobs +
    * 1 localCheckpoint per round against a d-row relation — pure
    * round-trip overhead at every scale factor, since the data is
    * driver-sized by construction. Values are bit-identical (pinned
    * by the duplicated-dims spec and the unchanged static oracle).
    *
    * EAGER (ADVICE r14 #4): constructing the returned DataFrame runs
    * the distributed collect of the d²-row matrix AT CALL TIME — this
    * is not a lazy plan-only builder; callers that only want to build
    * plans without executing should not call it.
    */
  def topPrincipalComponent(vectors: DataFrame, iters: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = corrMatrixE6(vectors, vecCol)
      .select(col("dim_i").cast("long"), col("dim_j").cast("long"),
        col("corr_e6")).collect()
    val dims = rows.map(_.getLong(0)).distinct.sorted
    val idx = dims.zipWithIndex.toMap
    val d = dims.length
    val mat = Array.ofDim[Long](d, d)
    rows.foreach(r => mat(idx(r.getLong(0)))(idx(r.getLong(1))) = r.getLong(2))
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to iters) {
      val raw = Array.tabulate(d) { i =>
        var s = 0L; var j = 0
        while (j < d) { s += mat(i)(j) * v(j); j += 1 }
        s
      }
      val mxd = math.max(
        raw.foldLeft(0L)((m, r) => math.max(m, math.abs(r))) / 1000000L, 1L)
      v = raw.map(r => (if (r < 0) -1L else 1L) * (math.abs(r) / mxd))
    }
    dims.zip(v).toSeq.toDF("dim", "pc_e6")
  }

  /** Per-group embedding centroids in e6 fixed point — the cluster-
    * profile / class-prototype aggregate an embedding pipeline reports
    * per source or label. Components quantize ONCE to BIGINT e6
    * (`floor(v·1e6 + 0.5)` — one exact IEEE op, the repo's LSH parity
    * recipe) and every later step is integer arithmetic ending in one
    * truncating division per dimension, so the result hashes
    * identically in any engine and under any fold order. Shape:
    * posexplode to (group, dim, v_e6) — 24-byte rows — partial-agg
    * map-side combine into (groups × dims) cells, then the per-group
    * array reassembles with a deterministic `sort_array` over ≤ dim
    * structs. Nothing wider than a scalar crosses the exchange.
    */
  def centroids(vectors: DataFrame, byCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    centroidMeans(vectors, byCol, vecCol)
      .groupBy(col(byCol))
      .agg(max(col("n_vectors")).as("n_vectors"),
        transform(
          sort_array(collect_list(struct(col("dim"), col("mean_e6")))),
          x => x.getField("mean_e6")).as("centroid_e6"))

  /** Centroid-distance outlier screen — the embedding-side label-QA
    * operator (SemDeDup's sibling): score every vector's cosine to its
    * OWN label's centroid; low cosine = mislabeled, polluted, or
    * off-distribution rows to quarantine before the label feeds
    * training or IVF cell construction.
    *
    * Shapes: the centroid relation is (labels × dims) — broadcast at
    * any corpus size; scoring is a broadcast join + pure in-row
    * integer folds (dot and norms over e6-quantized components).
    * Parity: dot and both norms² are EXACT BIGINT sums; the cosine is
    * then `dot / (sqrt(n2v)·sqrt(n2c))` — three correctly-rounded
    * IEEE ops over exact integers (the repo's one-IEEE-chain rule;
    * sqrt is exactly rounded per IEEE 754), quantized once to e6.
    * Zero vectors (norm 0) score 0, not NaN.
    */
  def centroidOutliers(vectors: DataFrame, byCol: String = "label",
      vecCol: String = "embedding", minCosE6: Long = 500000L,
      idCol: String = "vec_id"): DataFrame = {
    val cents = centroids(vectors, byCol, vecCol)
      .select(col(byCol), col("centroid_e6"))
    val vE6 = transform(col(vecCol),
      x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    vectors
      .withColumn("__v_e6", vE6)
      .join(broadcast(cents), byCol)
      .withColumn("__dot", expr(
        "aggregate(zip_with(__v_e6, centroid_e6, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("__n2v", expr(
        "aggregate(__v_e6, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
      .withColumn("__n2c", expr(
        "aggregate(centroid_e6, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
      .withColumn("cos_e6",
        when(col("__n2v") === 0 || col("__n2c") === 0, lit(0L))
          .otherwise(floor(
            col("__dot").cast("double") /
              (sqrt(col("__n2v").cast("double")) * sqrt(col("__n2c").cast("double"))) *
              lit(1e6) + lit(0.5)).cast("long")))
      .select(col(idCol), col(byCol), col("cos_e6"),
        (col("cos_e6") < minCosE6).as("is_outlier"))
  }

  /** The scalar (exploded) form of [[centroids]]: one row per
    * (group, dim) with the e6 fixed-point mean — the shape the
    * correctness gate declares (SURVEY §8: declared queries emit
    * scalar columns only; array-valued results crash the driver's
    * pandas sort). [[centroids]] reassembles the array from this.
    */
  def centroidMeans(vectors: DataFrame, byCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val vE6 = floor(col("v").cast("double") * 1e6 + 0.5).cast("long")
    vectors
      .select(col(byCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col(byCol), col("dim").cast("long").as("dim"), vE6.as("v_e6"))
      .groupBy(col(byCol), col("dim"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("v_e6")).as("s"))
      .withColumn("mean_e6", expr("s DIV n_vectors"))
      .select(col(byCol), col("dim"), col("n_vectors"), col("mean_e6"))
  }

  /** Nearest-centroid label confusion matrix — the label-noise QA
    * companion to [[centroidOutliers]]: assign every vector to its
    * NEAREST label centroid (squared Euclidean in e6 integer space)
    * and count (true_label, nearest_label) cells. Off-diagonal mass
    * is the mislabeling signal: a cell (a, b) with b ≠ a counts
    * vectors labeled `a` that sit closer to `b`'s centroid — label
    * noise, class overlap, or an encoder that can't separate the two.
    *
    * Scale shape: the centroid relation is (labels × dims) — COLLECTED
    * to the driver (bounded, the codebook discipline) and inlined as a
    * literal, so assignment is a pure in-row `transform` + `array_min`
    * (struct ordering (d2, label) IS the deterministic tie-break) with
    * ZERO vector-side exchange; the only shuffle is the final
    * (labels²)-cell count. All distances are exact BIGINT sums —
    * engine-invariant.
    */
  def centroidConfusion(vectors: DataFrame, byCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val cents = centroids(vectors, byCol, vecCol)
      .select(col(byCol), col("centroid_e6")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    val centArr = array(cents.map { case (l, c) =>
      struct(lit(l).as("lbl"), array(c.map(lit(_)): _*).as("c"))
    }: _*)
    val vE6 = transform(col(vecCol),
      x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    vectors
      .withColumn("__v_e6", vE6)
      .withColumn("__cents", centArr)
      // (d2, lbl) struct array → array_min = argmin with label tie-break
      .withColumn("__best", expr(
        """array_min(transform(__cents, cand -> named_struct(
          |  'd2', aggregate(zip_with(__v_e6, cand.c, (a, b) -> (a - b) * (a - b)),
          |                  CAST(0 AS BIGINT), (acc, x) -> acc + x),
          |  'lbl', cand.lbl)))""".stripMargin))
      .groupBy(col(byCol), col("__best.lbl").as("nearest_label"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Per-group embedding L2-norm² statistics in fixed point — the
    * embedding-QA screen that catches unnormalized batches, dead
    * (all-zero) vectors, and scale drift between encoder versions
    * before they poison similarity search. Components quantize once to
    * e6 (the repo recipe); each vector's norm² is an in-row integer
    * `aggregate` over the array (NO explode — zero rows added), scaled
    * back to e6 before the group sum so the per-group total stays
    * BIGINT-safe to ~7·10¹⁰ vectors. One label-keyed agg; everything
    * exact, any engine.
    */
  def normStats(vectors: DataFrame, byCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val vE6 = transform(col(vecCol),
      x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    val norm2E6 = expr(
      "aggregate(__v_e6, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) DIV 1000000")
    vectors
      .withColumn("__v_e6", vE6)
      .select(col(byCol), norm2E6.as("norm2_e6"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("norm2_e6")).as("min_norm2_e6"),
        max(col("norm2_e6")).as("max_norm2_e6"),
        expr("sum(norm2_e6) DIV count(1)").as("mean_norm2_e6"))
  }

  /** Random-hyperplane LSH components as INTEGERS in [-1000, 1000]
    * (the real hyperplane is this over 1000 — a shared scale factor
    * never changes a dot's sign, so the integer IS the sign test).
    * Components are generated on the driver from a hash of (plane, dim)
    * so the sketch is reproducible across engines and runs.
    *
    * Fixed-point rationale (r4 verdict #1): the r3/r4 double-precision
    * design required two engines' float fold order AND round() semantics
    * to agree to the last ULP — parity-by-luck that the driver's DuckDB
    * broke while the local one passed. Integer-product sums are
    * associative: no fold order, engine version, or rounding mode can
    * change them. All LSH arithmetic below is BIGINT until the single
    * final cosine division.
    */
  def hyperplanes(planes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until planes).map { p =>
      (0 until dim).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"hp_${p}_$i".getBytes("UTF-8"))
        val v = java.lang.Long.parseLong(
          h.take(7).map(b => f"$b%02x").mkString, 16)
        v % 2001 - 1000
      }
    }

  /** Quantize a float component to fixed-point e6 (micro-units) as
    * BIGINT: floor(v * 1e6 + 0.5). floor/ *, + are single correctly-
    * rounded IEEE ops — identical in every engine given identical
    * input, unlike round() whose tie mode varies by implementation.
    */
  private def quantE6(x: Column): Column =
    floor(x.cast("double") * lit(1e6) + lit(0.5))

  private def quantE6(v: Float): Long =
    math.floor(v.toDouble * 1e6 + 0.5).toLong

  /** The embedding column quantized to an ARRAY<BIGINT> of e6 units. */
  private def embE6: Column = transform(col("embedding"), x => quantE6(x))

  /** Ordered integer dot product of two BIGINT arrays — exact, so the
    * fold order is irrelevant (unlike the float dot this replaces).
    */
  private def dotI(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, v) => s + v)

  /** Exact-integer cosine top-k against a known query vector — the
    * dense side of hybrid retrieval. Embeddings quantize IN-ROW to e6
    * BIGINTs; numerator and norms are exact integer sums (fold-order
    * free); the single double-precision step (num / (√na·√nq) · 1e6,
    * floor + 0.5) is a fixed chain of correctly-rounded IEEE ops over
    * identical integers, so the emitted `cos_sim_e6` BIGINT is
    * engine-identical — the LSH-oracle fixed-point contract, promoted
    * to an operator. Scale shape: in-row kernel + top-k heap; zero
    * shuffle, the query is a literal array.
    */
  def cosineE6TopK(vectors: DataFrame, query: Seq[Float], k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val qe6 = query.map(quantE6)
    val nq = qe6.map(x => x * x).sum
    val qCol = array(qe6.map(lit): _*)
    vectors.select(col(idCol), embE6.as("__e"))
      .withColumn("__num", dotI(col("__e"), qCol))
      .withColumn("__na", dotI(col("__e"), col("__e")))
      .filter(col("__na") > 0)
      .select(col(idCol),
        floor(col("__num").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(lit(nq.toDouble))) *
          lit(1e6) + lit(0.5)).cast("long").as("cos_sim_e6"))
      .orderBy(col("cos_sim_e6").desc, col(idCol))
      .limit(k)
  }

  /** MMR diversified re-rank (Carbonell & Goldstein 1998) — the
    * redundancy-aware final stage of a retrieval stack: greedily pick
    * k of the top-`poolK` candidates maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — relevance traded
    * against similarity to what's already selected, so near-duplicate
    * hits don't crowd the result page (or the training batch).
    *
    * Scale shape: the DISTRIBUTED work is the corpus-wide relevance
    * scan ([[cosineE6TopK]] — in-row kernel + top-k heap, zero
    * shuffle); the greedy stage then runs on the COLLECTED pool
    * (poolK × dims — bounded by construction, the codebook
    * discipline): k·poolK exact-integer comparisons, O(µs). Parity:
    * every similarity is the e6 fixed-point chain (exact integer dot
    * and norms, one IEEE divide·mult·floor), and the MMR score is
    * `λ_permille·rel_e6 − (1000−λ_permille)·maxsim_e6` — pure BIGINT,
    * id tie-break, engine-identical.
    */
  def mmrRerank(vectors: DataFrame, query: Seq[Float], poolK: Int, k: Int,
      lambdaPermille: Long = 700, idCol: String = "vec_id"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pool = cosineE6TopK(vectors, query, poolK, idCol).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (id, rel_e6) best-first
    val poolIds = pool.map(_._1)
    val emb = vectors.filter(col(idCol).isin(poolIds: _*))
      .select(col(idCol), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(quantE6).toArray).toMap
    def simE6(a: Array[Long], b: Array[Long]): Long = {
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0L || nb == 0L) 0L
      else math.floor(dot.toDouble / (math.sqrt(na.toDouble) *
        math.sqrt(nb.toDouble)) * 1e6 + 0.5).toLong
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val remaining = scala.collection.mutable.LinkedHashMap(pool: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, rel) =>
        val maxSim =
          if (selected.isEmpty) 0L
          else selected.iterator.map(s => simE6(emb(id), emb(s._1))).max
        val score = lambdaPermille * rel - (1000L - lambdaPermille) * maxSim
        (score, id, rel)
      }.reduce { (x, y) =>
        if (y._1 > x._1 || (y._1 == x._1 && y._2 < x._2)) y else x
      }
      selected += ((best._2, best._3))
      remaining.remove(best._2)
    }
    selected.zipWithIndex
      .map { case ((id, rel), i) => (i + 1L, id, rel) }.toSeq
      .toDF("mmr_rank", idCol, "rel_e6")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of a
    * lexical and a dense ranked list sharing one id space — THE
    * standard hybrid-search combiner: each list contributes
    * 1e12 DIV (rrfK + rank), integer-exact, so the fused score is
    * engine-identical with zero float discipline. Both inputs are
    * top-k lists (≤ k rows — bounded by construction), so the
    * unpartitioned rank windows and the full-outer join are
    * driver-trivial no matter the corpus size: all the heavy lifting
    * happened inside the two retrieval legs.
    */
  def rrfFuse(lex: DataFrame, lexScore: String, vec: DataFrame,
      vecScore: String, idCol: String, k: Int, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = lex.withColumn("lex_rank", row_number().over(
        Window.orderBy(col(lexScore).desc, col(idCol))))
      .select(col(idCol), col("lex_rank"))
    val v = vec.withColumn("vec_rank", row_number().over(
        Window.orderBy(col(vecScore).desc, col(idCol))))
      .select(col(idCol), col("vec_rank"))
    l.join(v, Seq(idCol), "full_outer")
      .withColumn("rrf_e12",
        coalesce(expr(s"CAST(1000000000000 AS BIGINT) DIV ($rrfK + lex_rank)"),
          lit(0L)) +
        coalesce(expr(s"CAST(1000000000000 AS BIGINT) DIV ($rrfK + vec_rank)"),
          lit(0L)))
      .orderBy(col("rrf_e12").desc, col(idCol))
      .limit(k)
  }

  /** All-but-the-top residual profile (Mu & Viswanath 2018): remove
    * each embedding's component along the dominant direction `pc` (the
    * [[topPrincipalComponent]] artifact — d e6-integers, the bounded
    * broadcast-model contract) and report the exact integer norm²
    * before/after plus the projection coefficient. The anisotropy
    * repair every embedding pipeline applies before cosine retrieval;
    * here expressed so both engines land on identical BIGINTs:
    *
    *  - c = Σ vᵢ·uᵢ and uu = Σ uᵢ² are exact integer dots;
    *  - k_e6 = floor(c/uu · 1e6 + 0.5) — ONE double division of exact
    *    integers (correctly rounded, engine-identical);
    *  - residual rᵢ = vᵢ − trunc(k_e6·uᵢ / 1e6), the signed truncating
    *    division written sign-split so Spark's DIV and DuckDB's
    *    flooring `//` agree on every operand;
    *  - norms are exact integer sums of squares.
    *
    * Scale shape: pure in-row kernel over a literal array — zero
    * shuffle; the PC artifact is d values, broadcast by construction.
    */
  def abttProfile(vectors: DataFrame, pc: Seq[Long],
      idCol: String = "vec_id"): DataFrame = {
    val uu = pc.map(x => x * x).sum
    require(uu > 0, "ABTT needs a non-zero principal component")
    val uCol = array(pc.map(lit): _*)
    // trunc(s / 1e6), sign-split; the positive branch is computed as
    // (|s| − |s| % 1e6) / 1e6 — the numerator is an exact multiple of
    // 1e6 and ≤ 1e12, so the double division is exact
    val proj = (s: Column) => {
      val a = abs(s)
      val q = ((a - a % lit(1000000L)) / lit(1000000L)).cast("long")
      when(s < 0, -q).otherwise(q)
    }
    vectors.select(col(idCol), embE6.as("__e"))
      .withColumn("__c", dotI(col("__e"), uCol))
      .withColumn("k_e6",
        floor(col("__c").cast("double") / lit(uu.toDouble) * lit(1e6) +
          lit(0.5)).cast("long"))
      .withColumn("__r", zip_with(col("__e"), uCol,
        (v, u) => v - proj(col("k_e6") * u)))
      .select(col(idCol), col("k_e6"),
        dotI(col("__e"), col("__e")).as("norm2_before"),
        dotI(col("__r"), col("__r")).as("norm2_after"))
  }

  /** Bucket bits: sign of each integer hyperplane dot
    * (e6-quantized embedding · e3 integer hyperplane). Exact integer
    * arithmetic — bit assignment is reproducible by construction.
    */
  def lshSignature(vectors: DataFrame, planes: Seq[Seq[Long]]): DataFrame = {
    val emb = embE6
    val bits = planes.zipWithIndex.map { case (hp, j) =>
      val hpCol = array(hp.map(lit): _*)
      when(dotI(emb, hpCol) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    vectors.withColumn("lsh_bucket", bits)
  }

  /** A built hyperplane-LSH index: every vector's bucket signature plus
    * the hyperplane table that produced it — the build/search split
    * (TextIndex / IvfIndex pattern). Built ONCE as a batch job; every
    * search probes bucket(s) of the prebuilt signatures and never
    * recomputes them (the r3 per-query-corpus-scan fix).
    */
  final case class LshIndex(signatures: DataFrame, planes: Seq[Seq[Long]])

  /** One-off LSH build: derive the deterministic hyperplanes from the
    * corpus dimensionality and sign every vector once. Pass `dim` when
    * the embedding dimensionality is known (it usually is — the model
    * card says so) to skip the one-row probe job; omitted, it costs one
    * limit-1 scan of the first file's first row group, once per build.
    */
  def lshBuild(vectors: DataFrame, planes: Int,
      idCol: String = "vec_id", dim0: Option[Int] = None): LshIndex = {
    val dim = dim0.getOrElse(
      vectors.select("embedding").head().getSeq[Float](0).size)
    val hps = hyperplanes(planes, dim)
    LshIndex(
      lshSignature(vectors, hps)
        .select(col(idCol).as("vec_id"), col("lsh_bucket"), col("embedding")),
      hps)
  }

  /** Buckets to probe for a query: the primary bucket first, then
    * multi-probe variants flipping the sign bits nearest a hyperplane
    * boundary (smallest |dot|, tie on plane index) — near-boundary bits
    * are exactly the ones most likely to disagree between a vector and
    * its near neighbors, so flipping them recovers the recall a
    * single-bucket probe loses as the plane count grows. All dots are
    * exact integers (e6 query × e3 plane) — the driver-side mirror of
    * [[lshSignature]] by construction, not by rounding discipline.
    */
  def probeBuckets(planes: Seq[Seq[Long]], query: Seq[Float],
      probes: Int): Seq[Long] = {
    val qi = query.map(quantE6)
    val dots = planes.map(hp =>
      hp.zip(qi).foldLeft(0L) { case (s, (h, v)) => s + h * v })
    val primary = dots.zipWithIndex.map { case (d, j) =>
      if (d > 0) 1L << j else 0L
    }.sum
    val flips = dots.zipWithIndex
      .sortBy { case (d, j) => (math.abs(d), j) }
      .take(math.max(0, probes - 1))
      .map { case (_, j) => primary ^ (1L << j) }
    primary +: flips
  }

  /** ANN search over a PREBUILT LSH index: probe `probes` buckets of
    * the signed corpus (primary + nearest-boundary flips), exact cosine
    * within candidates only. No signature recompute.
    *
    * Output similarity is `cos_sim_e6 BIGINT` (cosine in micro-units):
    * numerator and both squared norms are exact integer sums over the
    * e6-quantized components, and the one double-precision step —
    * num / (sqrt(na)·sqrt(nq)) · 1e6, then floor(+0.5) — is a chain of
    * single correctly-rounded IEEE ops on identical integers in any
    * engine. Integer output also hashes identically under any float-
    * formatting scheme (r4 verdict #1).
    */
  def lshSearchIndexed(index: LshIndex, query: Seq[Float], k: Int,
      probes: Int = 1, idCol: String = "vec_id"): DataFrame = {
    val buckets = probeBuckets(index.planes, query, probes)
    val qi = query.map(quantE6)
    val qCol = array(qi.map(lit): _*)
    val nq = qi.foldLeft(0L)((s, v) => s + v * v)
    val ea = embE6
    val cosE6 = floor(
      dotI(ea, qCol).cast("double") /
        (sqrt(dotI(ea, ea).cast("double")) * sqrt(lit(nq).cast("double"))) *
        lit(1e6) + lit(0.5))
    index.signatures.filter(col("lsh_bucket").isin(buckets: _*))
      .withColumn("cos_sim_e6", cosE6)
      .select(col("vec_id").as(idCol), col("lsh_bucket"), col("cos_sim_e6"))
      .orderBy(col("cos_sim_e6").desc, col(idCol))
      .limit(k)
  }

  /** Persist an LSH index with the 100 TB layout: signatures PARTITIONED
    * BY lsh_bucket (a probe is partition pruning at the scan — reads
    * ~probes/2^planes of the data), hyperplanes as one tiny file.
    */
  def writeLshIndex(index: LshIndex, dir: String): Unit = {
    index.signatures.write.mode("overwrite")
      .partitionBy("lsh_bucket")
      .parquet(s"$dir/signatures")
    val sp = index.signatures.sparkSession
    import sp.implicits._
    index.planes.zipWithIndex
      .flatMap { case (hp, p) => hp.zipWithIndex.map { case (h, i) => (p, i, h) } }
      .toDF("p", "i", "h")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/planes")
  }

  /** Reopen a persisted LSH index ([[writeLshIndex]] layout). */
  def readLshIndex(spark: SparkSession, dir: String): LshIndex = {
    val planes = spark.read.parquet(s"$dir/planes")
      .collect()
      .map(r => (r.getAs[Int]("p"), r.getAs[Int]("i"), r.getAs[Long]("h")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    LshIndex(spark.read.parquet(s"$dir/signatures"), planes)
  }

  /** Search a PERSISTED LSH index: the probe buckets (computed on the
    * driver from the tiny hyperplane table) push down as a partition
    * `IN` filter, so the scan reads only the probed buckets' files.
    */
  def lshSearchPersisted(spark: SparkSession, dir: String, query: Seq[Float],
      k: Int, probes: Int = 1): DataFrame =
    lshSearchIndexed(readLshIndex(spark, dir), query, k, probes)

  /** Build-then-search convenience (unamortized — prefer [[lshBuild]]
    * once + [[lshSearchIndexed]] per query).
    */
  def lshAnnTopK(vectors: DataFrame, query: Seq[Float], planes: Int, k: Int,
      idCol: String = "vec_id"): DataFrame =
    lshSearchIndexed(lshBuild(vectors, planes, idCol), query, k, probes = 1, idCol)

  // ---- Product quantization (PQ) ------------------------------------

  /** A built product-quantization index — the compression path of the
    * ANN family (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search"). The embedding dimension splits into
    * `subspaces` contiguous blocks; each block is vector-quantized
    * against a tiny per-subspace codebook, so a 64-dim float vector
    * (256 B) becomes `subspaces` small codes (8 B here) — the 32×
    * memory cut that makes a 100 TB embedding corpus scannable from
    * RAM. `codes` is the compressed corpus (one compact BIGINT-array
    * column per vector); `codebook(code)(subspace)` holds the
    * e6-quantized centroid components on the DRIVER (ks × dim longs —
    * the [[LshIndex]] planes pattern), because every search needs the
    * whole table to build its lookup row.
    */
  final case class PqIndex(codes: DataFrame, codebook: Seq[Seq[Seq[Long]]],
      subspaces: Int)

  /** One-off PQ build. Codebook sources are the first `ks` vectors by
    * id — deterministic and scale-independent (the sampled-quantizer
    * contract of [[ivfBuild]]: swap per-subspace k-means in production
    * without touching the encode/search path). All arithmetic is
    * integer: components quantize ONCE to e6 (the repo recipe), each
    * subspace distance is an exact BIGINT sum of squared differences,
    * and the argmin tie-breaks on the smaller code — reproducible in
    * any engine, no fold-order or rounding hazard.
    *
    * Scale shape: the codebook is ks rows collected to the driver
    * (bounded — 16 here), then encode is ONE pass: explode each vector
    * into `subspaces` narrow (vec_id, s, subvector) rows, broadcast-join
    * the m×ks codebook rows, argmin per (vec_id, s), reassemble the code
    * array with a deterministic sort — the IVF-assignment shape with a
    * bounded small side.
    */
  def pqBuild(vectors: DataFrame, m: Int, ks: Int,
      idCol: String = "vec_id"): PqIndex = {
    val cbRows = vectors.filter(col(idCol) < ks)
      .select(col(idCol).cast("long").as("code"), embE6.as("e"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .sortBy(_._1)
    val dim = cbRows.head._2.size
    val sub = dim / m
    val codebook: Seq[Seq[Seq[Long]]] = cbRows.map { case (_, e) =>
      (0 until m).map(s => e.slice(s * sub, (s + 1) * sub))
    }.toSeq
    val subsArr = array((0 until m).map(s => slice(embE6, s * sub + 1, sub)): _*)
    val exploded = spread(vectors.select(col(idCol).as("vec_id"),
        subsArr.as("subs")))
      .select(col("vec_id"), posexplode(col("subs")).as(Seq("s", "sv")))
    val sp = vectors.sparkSession
    import sp.implicits._
    val cbDf = codebook.zipWithIndex.flatMap { case (subs, c) =>
      subs.zipWithIndex.map { case (cb, s) => (s, c.toLong, cb) }
    }.toDF("s", "code", "cv")
    val d2 = expr("aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    val codes = exploded.join(broadcast(cbDf), "s")
      .withColumn("d2", d2)
      .groupBy("vec_id", "s")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
    PqIndex(codes, codebook, m)
  }

  /** ADC (asymmetric distance computation) search over a PREBUILT PQ
    * index: the query's distance to every codebook centroid is an
    * m × ks integer lookup table computed ONCE on the driver, and each
    * vector's approximate L2² is the in-row sum of m table lookups over
    * its code array — ZERO shuffle, no join; the compressed-corpus scan
    * plus a TakeOrderedAndProject IS the whole search, which is why PQ
    * is the RAM-resident scan format at 10⁹+ vectors.
    */
  def pqSearchIndexed(index: PqIndex, query: Seq[Float], k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val ks = index.codebook.size
    val m = index.subspaces
    val qi = query.map(quantE6)
    val sub = qi.size / m
    val lut: Seq[Seq[Long]] = (0 until m).map { s =>
      (0 until ks).map { c =>
        val cb = index.codebook(c)(s)
        var acc = 0L
        var j = 0
        while (j < sub) { val d = qi(s * sub + j) - cb(j); acc += d * d; j += 1 }
        acc
      }
    }
    val adc = (0 until m).map { s =>
      element_at(array(lut(s).map(lit): _*),
        (element_at(col("codes"), s + 1) + lit(1)).cast("int"))
    }.reduce(_ + _)
    index.codes
      .withColumn("adc_d2", adc)
      .select(col("vec_id").as(idCol), col("adc_d2"))
      .orderBy(col("adc_d2").asc, col(idCol))
      .limit(k)
  }

  /** IVF + PQ composed (the IVFADC layout of Jégou et al. / FAISS
    * `IVFPQ`): the PQ codes are stored INSIDE the IVF assignment, so
    * one relation carries (vec_id, cell_id, codes). A search probes
    * the `nprobe` nearest cells (partition pruning at scale — the
    * cells relation persists partitioned by cell_id exactly like
    * [[writeIvfIndex]]) and ADC-scores ONLY the candidates, in-row.
    * This is the standard billion-vector serving shape: reads drop to
    * ~nprobe/k of the corpus AND every byte read is 32× compressed.
    * Build is a one-off vec_id hash join of the two existing
    * artifacts — nothing new is computed.
    */
  def ivfPqCells(ivf: IvfIndex, pq: PqIndex): DataFrame =
    ivf.assigned.select(col("vec_id"), col("cell_id"))
      .join(pq.codes, "vec_id")

  /** ADC search over the composed cells: probe-cell selection scores
    * the tiny centroid table (same deterministic round-6 cosine as
    * [[ivfSearchIndexed]]), then the candidate scan is the in-row
    * integer LUT sum of [[pqSearchIndexed]] — no full-corpus read, no
    * shuffle beyond the broadcast of nprobe cell ids.
    */
  def ivfPqSearch(cells: DataFrame, centroids: DataFrame,
      codebook: Seq[Seq[Seq[Long]]], m: Int, query: Seq[Float],
      nprobe: Int, k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val probeCells = centroids
      .withColumn("sim", round(cosine(col("centroid"), q), 6))
      .orderBy(col("sim").desc, col("cell_id"))
      .limit(nprobe)
      .select("cell_id")
    val ks = codebook.size
    val qi = query.map(quantE6)
    val sub = qi.size / m
    val lut: Seq[Seq[Long]] = (0 until m).map { s =>
      (0 until ks).map { c =>
        val cb = codebook(c)(s)
        var acc = 0L
        var j = 0
        while (j < sub) { val d = qi(s * sub + j) - cb(j); acc += d * d; j += 1 }
        acc
      }
    }
    val adc = (0 until m).map { s =>
      element_at(array(lut(s).map(lit): _*),
        (element_at(col("codes"), s + 1) + lit(1)).cast("int"))
    }.reduce(_ + _)
    cells.join(broadcast(probeCells), "cell_id")
      .withColumn("adc_d2", adc)
      .select(col("vec_id"), col("cell_id"), col("adc_d2"))
      .orderBy(col("adc_d2").asc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage retrieval over the composed IVFPQ cells — the FAISS
    * refine / "IVFPQ,R" serving pattern: stage 1 probes `nprobe` cells
    * and ADC-scores candidates into a `shortlist`-row compressed
    * shortlist ([[ivfPqSearch]]); stage 2 re-scores ONLY the shortlist
    * against the full-precision vectors with the exact integer L2² of
    * [[l2TopK]] and keeps top-`k`. Re-ranking recovers most of the
    * recall PQ's 32× compression loses while the uncompressed bytes
    * are read for `shortlist` rows per query, not the corpus.
    *
    * Scale shape: the shortlist is a k-sized driver-free relation
    * broadcast into the vectors scan (a semi-join prune — at 100 TB
    * the full-precision side is the vec_id-keyed store and this is a
    * `shortlist`-row point lookup); the corpus never shuffles and the
    * only full-precision arithmetic is `shortlist` in-row folds. All
    * BIGINT e6 arithmetic end-to-end: ADC ties break on vec_id at the
    * shortlist boundary and exact ties at the top-k boundary, so any
    * engine reproduces both stages bit-for-bit.
    */
  def ivfPqRerank(cells: DataFrame, centroids: DataFrame,
      codebook: Seq[Seq[Seq[Long]]], m: Int, vectors: DataFrame,
      query: Seq[Float], nprobe: Int, shortlist: Int, k: Int): DataFrame = {
    val cand = ivfPqSearch(cells, centroids, codebook, m, query,
      nprobe, shortlist).select("vec_id")
    val qi = query.map(quantE6)
    val qCol = array(qi.map(lit): _*)
    val d2 = aggregate(zip_with(embE6, qCol, (x, y) => (x - y) * (x - y)),
      lit(0L), (s, v) => s + v)
    vectors.join(broadcast(cand), "vec_id")
      .withColumn("l2_d2", d2)
      .select(col("vec_id"), col("l2_d2"))
      .orderBy(col("l2_d2").asc, col("vec_id"))
      .limit(k)
  }

  /** Exact integer L2² top-k over the e6-quantized embeddings — the
    * uncompressed ground-truth twin of [[pqSearchIndexed]] (same
    * metric, no codebook): one in-row integer fold per vector plus a
    * TakeOrderedAndProject.
    */
  def l2TopK(vectors: DataFrame, query: Seq[Float], k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val qi = query.map(quantE6)
    val qCol = array(qi.map(lit): _*)
    val d2 = aggregate(zip_with(embE6, qCol, (x, y) => (x - y) * (x - y)),
      lit(0L), (s, v) => s + v)
    vectors.withColumn("l2_d2", d2)
      .select(col(idCol), col("l2_d2"))
      .orderBy(col("l2_d2").asc, col(idCol))
      .limit(k)
  }

  /** Persist a PQ index: the compressed codes (the corpus-sized side —
    * at 100 TB of raw embeddings this parquet is ~1/32 the size) and
    * the tiny exploded codebook as one file.
    */
  def writePqIndex(index: PqIndex, dir: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
    val sp = index.codes.sparkSession
    import sp.implicits._
    index.codebook.zipWithIndex.flatMap { case (subs, c) =>
      subs.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (v, j) => (c.toLong, s, j, v) } }
    }.toDF("code", "s", "j", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
  }

  /** A built scalar-quantization (SQ8) index: per-vector 8-bit level
    * codes plus the per-dimension e6 bounds that define the affine
    * level map. The third member of the compression family — IVF
    * prunes reads, PQ compresses 32× via a trained codebook, SQ8
    * compresses 4× with NO training (per-dim min/max is one agg), the
    * FAISS `SQ8` / Lucene int8-HNSW storage trade.
    */
  final case class SqIndex(codes: DataFrame, minE6: Seq[Long], maxE6: Seq[Long])

  /** SQ8 build: components quantize once to e6 BIGINT (the repo
    * recipe), per-dimension (min,max) is ONE posexplode agg whose
    * result is dimensionality-sized (64 rows — bounded driver state,
    * like the PQ codebook), and each component maps to an integer
    * level `(v−min)·255 DIV max(1, max−min)` — all-BIGINT arithmetic,
    * numerator nonnegative by construction, so truncating and floor
    * division agree and any engine reproduces the codes bit-for-bit.
    * The codes projection itself is in-row (scan → transform, zero
    * Exchange at any corpus size).
    */
  def sqBuild(vectors: DataFrame, idCol: String = "vec_id"): SqIndex = {
    val stats = vectors
      .select(posexplode(embE6))
      .groupBy(col("pos"))
      .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .collect()
      .map(r => (r.getAs[Int]("pos"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))
      .sortBy(_._1)
    val mn = scala.collection.immutable.ArraySeq.unsafeWrapArray(stats.map(_._2))
    val mx = scala.collection.immutable.ArraySeq.unsafeWrapArray(stats.map(_._3))
    val mnA = array(mn.map(lit): _*)
    val rgA = array(mn.zip(mx).map { case (a, b) => lit(math.max(1L, b - a)) }: _*)
    val codes = vectors
      .withColumn("__v_e6", embE6)
      .withColumn("__mn", mnA)
      .withColumn("__rg", rgA)
      .withColumn("codes", expr(
        "transform(__v_e6, (x, i) -> (x - element_at(__mn, i + 1)) * 255" +
          " DIV element_at(__rg, i + 1))"))
      .select(col(idCol).as("vec_id"), col("codes"))
    SqIndex(codes, mn, mx)
  }

  /** SQ8 search: the query maps through the SAME affine level map
    * (driver-side — the bounds are the index's 64 collected longs) and
    * distance is the integer squared-diff sum in level space, an
    * in-row fold over the code array — zero shuffle, no join, plus
    * TakeOrderedAndProject. Level-space L2 preserves the true L2
    * ranking up to quantization error (the recall@k eval is the
    * declared accuracy dial, like PQ's).
    */
  def sqSearchIndexed(index: SqIndex, query: Seq[Float], k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val ql = query.map(quantE6).zip(index.minE6.zip(index.maxE6)).map {
      case (v, (mn, mx)) => (v - mn) * 255L / math.max(1L, mx - mn)
    }
    val qA = array(ql.map(lit): _*)
    val d2 = aggregate(zip_with(col("codes"), qA, (x, y) => (x - y) * (x - y)),
      lit(0L), (s, v) => s + v)
    index.codes
      .withColumn("sq_d2", d2)
      .select(col("vec_id").as(idCol), col("sq_d2"))
      .orderBy(col("sq_d2").asc, col(idCol))
      .limit(k)
  }

  /** Farthest-point k-center selection (Gonzalez 1985) — the
    * coverage-first coreset primitive of a data-selection stack: pick
    * `k` vectors so that every corpus vector is near SOME pick (a
    * 2-approximation of the optimal k-center radius), the complement
    * of the density-first samplers (weighted draw, stratified) — this
    * one guarantees the tails are represented, which is what seed
    * sets for labeling, eval-suite construction and diverse few-shot
    * pools actually need.
    *
    * Parity discipline: distance is the EXACT integer squared L2 over
    * e6-quantized embeddings (BIGINT end-to-end; at unit-ish norms
    * Σ(Δe6)² ≤ 64·(4e6)² ≈ 1e15 — no float step at all, so the greedy
    * trace is engine-identical by construction). Seed = smallest id;
    * each round picks argmax of min-distance-to-picked with id ASC
    * tie-break; already-picked ids are excluded (coincident-duplicate
    * corpora would otherwise re-pick at distance 0).
    *
    * Scale shape: the standard running-min Gonzalez recurrence —
    * the state is the not-yet-picked rows carrying a materialized
    * `__d` = min squared-L2 to the picks so far; round r folds ONLY
    * the one NEW center (an O(d) plan literal) into `__d` via
    * `least`, localCheckpoints the updated state (the pageRank /
    * kcore round discipline), and the argmax is a
    * TakeOrderedAndProject(1) over the just-cached blocks — no
    * shuffle, no window, no pairwise join, and no re-scoring against
    * the full picked set. Total O(k·n·d) fold work plus k cached-size
    * state writes; driver state is one code per round (the codebook
    * discipline). This replaces the r12 recompute-per-round form,
    * whose grow-with-k centers literal and all-centers rescore were
    * O(k²·n·d) — fatal at production coreset sizes (k in the
    * hundreds).
    *
    * Ids are used as opaque orderable values (collected, compared,
    * re-emitted) — any Spark-orderable id type works, not just
    * BIGINT.
    *
    * Returns (center_rank, id, sep_e12): sep_e12 is the squared-L2
    * separation (e6² units) of the pick from the previously-picked
    * set at selection time — a non-increasing sequence whose last
    * value upper-bounds twice the optimal k-center radius; the seed
    * row reports 0.
    */
  def kcenterSelect(vectors: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = vectors.sparkSession
    val idType = vectors.schema(idCol).dataType
    val codes = vectors.select(col(idCol).as("__id"), embE6.as("__e"))
    def d2To(center: Array[Long]): Column = {
      val cLit = array(center.toSeq.map(lit): _*)
      aggregate(zip_with(col("__e"), cLit, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, v) => s + v)
    }
    val seed = codes.orderBy(col("__id").asc).limit(1).collect()
    require(seed.nonEmpty, "kcenterSelect needs at least one vector")
    val picks = scala.collection.mutable.ArrayBuffer[(Any, Long)](
      (seed(0).get(0), 0L))
    var center = seed(0).getSeq[Long](1).toArray
    // running-min state: seed __d at MaxValue so round 1's `least`
    // against the seed's distance is the same fold as every later round
    var state = codes.filter(col("__id") =!= lit(seed(0).get(0)))
      .withColumn("__d", lit(Long.MaxValue))
    var exhausted = false
    // Bound checkpoint residency to TWO state copies (ADVICE r13): the
    // eager localCheckpoint otherwise leaves every superseded round's
    // blocks in the block manager until GC/ContextCleaner gets to them
    // — O(k·n·d) storage growth at production coreset k. r15 (VERDICT
    // r14 item 6): the superseded round is released via the
    // checkpointed frame's OWN LogicalRDD handle
    // (Dedup.releaseCheckpoint, the convention every other iterative
    // loop uses) instead of a getPersistentRDDs set-diff, which assumed
    // no concurrent persist activity on the session and would have
    // freed a concurrent query's blocks.
    var prevCkpt: Option[org.apache.spark.sql.DataFrame] = None
    while (picks.size < k && !exhausted) {
      val ckpt = state
        .withColumn("__d", least(col("__d"), d2To(center)))
        .localCheckpoint(true)
      // eager=true: the new round is materialized, so the superseded
      // round's blocks have no remaining consumer
      prevCkpt.foreach(Dedup.releaseCheckpoint)
      prevCkpt = Some(ckpt)
      state = ckpt
      val far = state.orderBy(col("__d").desc, col("__id").asc)
        .limit(1).collect()
      if (far.isEmpty) exhausted = true
      else {
        picks += ((far(0).get(0), far(0).getLong(2)))
        center = far(0).getSeq[Long](1).toArray
        state = state.filter(col("__id") =!= lit(far(0).get(0)))
      }
    }
    // the picks are already collected — the final round's checkpoint
    // has no consumer; release it so the call leaves ZERO blocks behind
    prevCkpt.foreach(Dedup.releaseCheckpoint)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("center_rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(idCol, idType),
      org.apache.spark.sql.types.StructField("sep_e12",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = picks.toSeq.zipWithIndex.map { case ((id, d), i) =>
      org.apache.spark.sql.Row(i + 1L, id, d)
    }
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, outSchema)
  }

  /** Margin-based cross-set pair mining — the CSLS / ratio-margin
    * scorer (Conneau et al. 2018; Artetxe & Schwenk 2019) behind
    * large-scale bitext mining: raw cosine over-selects HUB vectors
    * that sit near everything, so each candidate pair's cosine is
    * divided by the mean similarity of both endpoints' own k-NN
    * neighborhoods — a pair only scores high when the two vectors are
    * closer to each other than to their respective local crowds.
    * Sides here: even ids = side A, odd ids = side B (the two
    * "languages" of the synthetic fixture); queries are the pinned
    * benchmark subset of A (`% queryEvery`, the recall-probe
    * convention).
    *
    * Integer contract: every cosine is the e6 fixed chain (exact
    * integer dot/norms, one IEEE divide·mult·floor), clamped at 0 —
    * mining only ranks attractive pairs, and the clamp keeps the DIV
    * below positive-integer (truncation-mode-proof in any engine);
    * margin_e6 = cos_e6 · 2k · 1e6 DIV max(sumNN_A + sumNN_B, 1),
    * pure BIGINT.
    *
    * Scale shape: two corpus scans — side B scored against the
    * BROADCAST query set, then side A scored against the BROADCAST
    * candidate set (≤ |Q|·k codes) — each selection a
    * [[graft.functions.TopKDesc]] bounded aggregate (map-side heaps,
    * no window over corpus-sized data); the margin algebra and the
    * final per-query rank run on the checkpointed |Q|·k candidate
    * relation. No all-pairs join at any corpus size; at production
    * scale the two exact NN scans swap for the IVF/LSH legs without
    * touching the margin algebra.
    */
  def marginMine(vectors: DataFrame, queryEvery: Long = 48, k: Int = 4,
      topPairs: Int = 3, benchMaxId: Long = Long.MaxValue,
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && topPairs >= 1, s"k/topPairs must be >= 1")
    graft.functions.TopKFunctions.register(vectors.sparkSession)
    val codes = vectors.select(col(idCol).as("id"), embE6.as("e"))
      .withColumn("n2", dotI(col("e"), col("e")))
    val sideA = codes.filter(pmod(col("id"), lit(2L)) === 0)
    val sideB = codes.filter(pmod(col("id"), lit(2L)) === 1)
    // `% queryEvery` + benchMaxId pins the query set (the recall-probe
    // convention): the benchmark must NOT grow with the corpus, or the
    // two normalizer scans scale as |Q|·n instead of n
    val qs = sideA.filter(pmod(col("id"), lit(queryEvery)) === 0 &&
        col("id") < benchMaxId)
      .select(col("id").as("qid"), col("e").as("qe"), col("n2").as("qn"))
    def cosE6Pos(num: Column, na: Column, nb: Column): Column =
      when(na <= 0 || nb <= 0, lit(0L)).otherwise(greatest(
        floor(num.cast("double") /
          (sqrt(na.cast("double")) * sqrt(nb.cast("double"))) *
          lit(1e6) + lit(0.5)).cast("long"), lit(0L)))
    val idType = vectors.schema(idCol).dataType
    val fwd = sideB.crossJoin(broadcast(qs))
      .select(col("qid"), col("id"),
        cosE6Pos(dotI(col("e"), col("qe")), col("n2"), col("qn"))
          .as("cos_e6"))
      .groupBy("qid")
      .agg(graft.functions.TopKFunctions.topk_desc(
        col("cos_e6").cast("double"),
        graft.functions.TopKFunctions.tieKey(col("id"), idType),
        struct(col("id"), col("cos_e6")), k).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__s"))
      .select(col("qid"), col("__s.id").as("cand_id"),
        col("__s.cos_e6").as("cos_e6"))
      .localCheckpoint(true) // bounded: |Q|·k rows, three consumers
    val sumQ = fwd.groupBy("qid").agg(sum(col("cos_e6")).as("sum_q"))
    val cands = fwd.select(col("cand_id").as("cid")).distinct()
    val cCodes = sideB.join(broadcast(cands), col("id") === col("cid"))
      .select(col("cid"), col("e").as("ce"), col("n2").as("cn"))
    val sumC = sideA.crossJoin(broadcast(cCodes))
      .select(col("cid"), col("id"),
        cosE6Pos(dotI(col("e"), col("ce")), col("n2"), col("cn"))
          .as("r_cos"))
      .groupBy("cid")
      .agg(graft.functions.TopKFunctions.topk_desc(
        col("r_cos").cast("double"),
        graft.functions.TopKFunctions.tieKey(col("id"), idType),
        col("r_cos"), k).as("__top"))
      .select(col("cid"), explode(col("__top")).as("__r"))
      .groupBy("cid").agg(sum(col("__r")).as("sum_c"))
    fwd.join(broadcast(sumQ), Seq("qid"))
      .join(broadcast(sumC), col("cand_id") === col("cid"))
      .select(col("qid"), col("cand_id"), col("cos_e6"),
        expr(s"cos_e6 * ${2L * k} * 1000000 DIV " +
          "greatest(sum_q + sum_c, 1)").as("margin_e6"))
      .withColumn("pair_rank", row_number().over( // bounded: |Q|·k rows
        Window.partitionBy("qid")
          .orderBy(col("margin_e6").desc, col("cand_id").asc)).cast("long"))
      .filter(col("pair_rank") <= topPairs)
      .select("qid", "pair_rank", "cand_id", "cos_e6", "margin_e6")
  }

  /** Reopen a persisted PQ index ([[writePqIndex]] layout). */
  def readPqIndex(spark: SparkSession, dir: String): PqIndex = {
    val rows = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getAs[Long]("code"), r.getAs[Int]("s"),
        r.getAs[Int]("j"), r.getAs[Long]("v")))
    val m = rows.map(_._2).max + 1
    val codebook = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cr) =>
      (0 until m).map(s => cr.filter(_._2 == s).sortBy(_._3).map(_._4).toSeq)
    }
    PqIndex(spark.read.parquet(s"$dir/codes"), codebook, m)
  }
}
