package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.cosineSim

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`, 64-dim in the test tables).
  *
  * - `bruteForceTopK` — exact baseline: broadcast the (small) query set,
  *   scan the corpus once, per-query top-k via window. The corpus is never
  *   shuffled by value; cost is one pass × |queries|. This is the
  *   correctness oracle for the approximate paths.
  * - `ivfTopK` — IVF scale path: deterministic k-means (seeded init from
  *   hashed vec ids, fixed Lloyd iterations) builds `nlist` centroids; each
  *   corpus vector is assigned once; a query probes only its `nprobe`
  *   nearest clusters. At 100 TB the corpus is partitioned/bucketed BY
  *   cluster id so a probe touches only those partitions (partition
  *   pruning), and centroids stay broadcast.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("ce"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }

  /** Two-stage sketch-prefilter ANN: a cheap low-dimensional first pass
    * scores every corpus vector by the cosine of its leading
    * `sketchDims` components (for isotropic embeddings any fixed
    * coordinate subset IS a random projection), keeps the top
    * `candidates` per query, then reranks only those with the exact
    * full-dimension cosine.
    *
    * This is the honest high-recall path for corpora with NO cluster
    * structure, where any partition-pruned method (IVF) has recall
    * bounded by its scan fraction: here the first pass still touches
    * every row but reads only the sketch (at scale: a separate short
    * column — columnar projection cuts scan IO by dim/sketchDims), and
    * the full embedding is read for just `candidates` rows per query.
    * Measured on the synthetic 64-dim corpus (sf0.01, 500 vectors,
    * avg pairwise cos ≈ 0.003): sketch 48 / candidates 75 → recall@10
    * min 0.9, avg 0.975 vs exact — at a 6.7× candidate cut.
    *
    * The plan honors that IO profile: only (query_id, nn_id, sketch_sim)
    * flows through the candidate window's shuffle — the full corpus
    * vectors are re-joined (broadcast candidate set, corpus never
    * shuffles) for just the ≤`candidates` rows per query being
    * reranked. */
  def sketchRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                       sketchDims: Int = 48, candidates: Int = 75): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val qSketch = queries.select(col("vec_id").as("query_id"),
      slice(col("embedding"), 1, sketchDims).as("qs"))
    val cSketch = corpus.select(col("vec_id").as("nn_id"),
      slice(col("embedding"), 1, sketchDims).as("cs"))
    val sketch = cSketch.join(broadcast(qSketch), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qs"), col("cs")), 6).as("sketch_sim"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("sketch_sim").desc, col("nn_id"))
    val cand = sketch.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= candidates)
      .select(col("query_id"), col("nn_id"))
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("ce"))
    val rerank = c.join(broadcast(cand), Seq("nn_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    rerank.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }

  /** Signed-random-projection (cosine-LSH / Charikar) bit signature per
    * embedding: bit j = sign(r_j · x) with r_j ∈ {−1,+1}^dim derived
    * from md5("dim_bit") — the embedding-space analog of text SimHash.
    * Hamming distance between signatures estimates the angle
    * (P[bits differ] = θ/π), so equal-signature (or band) bucketing
    * finds near-parallel vectors without any pairwise work: the 100 TB
    * candidate generator for embedding dedup, 16 bits per vector.
    *
    * The ±1 matrix is computed once at PLAN time (deterministic md5 in
    * Scala) and embedded as literals, so the per-row work is `nbits`
    * ascending-fold dot products — exact, codegen'd, and the identical
    * literal matrix can be embedded into a SQL oracle. */
  def signMatrix(dim: Int, nbits: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nbits, dim) { (j, i) =>
      val h = md.digest(s"${i}_$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1 else -1
    }
  }

  /** `dim` > 0 pins the sign matrix to that dimensionality (callers with
    * a known schema — and every oracled query — should pin it, so a
    * corpus whose vectors drift from the expected dim FAILS at run time
    * instead of silently hashing with a different matrix); dim <= 0
    * infers it from the first row, which requires a non-empty input. */
  def withCosineLshSignature(vecs: DataFrame, nbits: Int = 16,
                             dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else {
      val head = vecs.select(size(col("embedding"))).limit(1).collect()
      require(head.nonEmpty,
        "withCosineLshSignature: cannot infer embedding dim from an empty " +
          "DataFrame — pass dim explicitly")
      head(0).getInt(0)
    }
    // One native expression, not nbits unrolled when(fold(...)) Columns:
    // the unrolled form blows janino's 64 KB method limit at dim=64 and
    // drops the stage out of whole-stage codegen entirely. Identical
    // ascending-fold arithmetic (and so identical signatures/oracle).
    vecs.withColumn("lsh_sig",
      graft.functions.VectorExpressions.cosineLshSig(
        col("embedding"), signMatrix(d, nbits)))
  }

  /** Deterministic IVF index: (assignments, centroids). Centroids are a
    * local array (nlist × dim floats — broadcast-sized by construction). */
  def ivfAssign(spark: SparkSession, corpusRaw: DataFrame, nlist: Int,
                iterations: Int = 1): (DataFrame, Array[(Int, Array[Double])]) = {
    import spark.implicits._
    // The index build scans the corpus iterations+2 times (assign per
    // Lloyd round + final); cache it once. Small relative to executor
    // memory by construction (vectors, not documents).
    val corpus = corpusRaw.persist()
    val dim = corpus.select(size(col("embedding"))).first().getInt(0)
    // Seeded init: evenly-spaced vec_ids (deterministic, no RNG at runtime)
    val ids = corpus.select(col("vec_id")).orderBy("vec_id").limit(nlist * 37)
      .as[Long].collect()
    require(ids.nonEmpty, "ivfAssign: empty corpus")
    val initIds = (0 until nlist).map(i => ids((i * 37) % ids.length)).distinct.toArray
    var centroids: Array[(Int, Array[Double])] = corpus
      .filter(col("vec_id").isin(initIds.toIndexedSeq: _*)).orderBy("vec_id")
      .select(col("embedding")).as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, v.map(_.toDouble)) }
    def assignDf(): DataFrame = {
      val cdf = broadcast(centroids.toSeq.map { case (i, v) =>
        (i, v.map(_.toFloat))
      }.toDF("cluster", "centroid"))
      val scored = corpus.crossJoin(cdf)
        .select(col("vec_id"), col("cluster"), col("embedding"),
          cosineSim(col("embedding"), col("centroid")).as("sim"))
      // argmax cluster per vector: hash aggregate, no window sort
      scored.groupBy(col("vec_id"))
        .agg(max(struct(col("sim"), (-col("cluster")).as("neg_c"))).as("m"),
          first(col("embedding")).as("embedding"))
        .select(col("vec_id"), (-col("m.neg_c")).cast("int").as("cluster"), col("embedding"))
    }
    for (_ <- 0 until iterations) {
      val assigned = assignDf()
      val means = assigned
        .select(col("cluster"), col("embedding"))
        .groupBy("cluster")
        .agg(array((0 until dim).map(i =>
          avg(col("embedding").getItem(i))): _*).as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      if (means.nonEmpty) centroids = means.sortBy(_._1)
    }
    val finalAssign = assignDf()
    // Lloyd iterations are done with the cache; release it so repeated
    // index builds in one session (Bench runs every query) do not pin
    // executor memory. The returned plan rescans the source once.
    corpus.unpersist()
    (finalAssign, centroids)
  }

  /** Deterministic seed centroids: the `nlist` corpus vectors with the
    * smallest md5(vec_id) — a uniform pseudo-random but fully
    * deterministic sample, computed as a distributed top-k (no global
    * sort, no RNG, no float averaging). Cluster ids follow the hash
    * order. Exactly reproducible in SQL, which is what lets the IVF gate
    * query carry a full DuckDB oracle. */
  def ivfSeedCentroids(spark: SparkSession, corpus: DataFrame,
                       nlist: Int): Array[(Int, Array[Float])] = {
    import spark.implicits._
    corpus
      .select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast("string")).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(nlist)
      .select(col("embedding")).as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }
  }

  private def seedsDf(spark: SparkSession,
                      seeds: Array[(Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    broadcast(seeds.toSeq.toDF("cluster", "centroid"))
  }

  /** Assign every corpus vector to its nearest seed centroid — one
    * broadcast pass, argmax as a hash aggregate (no window sort). The
    * rounded-cosine + cluster-id tie-break is the same rule the oracle
    * uses, so assignment is bit-deterministic cross-engine. */
  def ivfAssignSeeds(spark: SparkSession, corpus: DataFrame,
                     seeds: Array[(Int, Array[Float])]): DataFrame = {
    val scored = corpus.crossJoin(seedsDf(spark, seeds))
      .select(col("vec_id"), col("cluster"), col("embedding"),
        round(cosineSim(col("embedding"), col("centroid")), 6).as("sim"))
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("cluster")).as("neg_c"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), (-col("m.neg_c")).cast("int").as("cluster"),
        col("embedding"))
  }

  /** Build the persisted IVF index: cluster assignments written ONCE,
    * partitioned by cluster id, so every later probe is a
    * partition-pruned read instead of a full corpus scan (and no k-means
    * rebuild per query). Each row also carries its PQ code array and L2
    * norm — the FAISS inverted-list layout, where the codes live IN the
    * index so a PQ-scored probe (`ivfPqTopK`) reads only the pruned
    * cluster directories' code columns and never re-encodes at query
    * time. Returns the seed centroids to probe with. */
  def ivfBuildIndex(spark: SparkSession, corpus: DataFrame, indexPath: String,
                    nlist: Int = 16): Array[(Int, Array[Float])] = {
    val seeds = ivfSeedCentroids(spark, corpus, nlist)
    val cb = pqCodebook(corpus)
    pqEncode(ivfAssignSeeds(spark, corpus, seeds), cb)
      .select(col("vec_id"), col("embedding"), col("l2_norm"),
        col("pq_codes"), col("cluster"))
      // co-locate each cluster before the partitioned write: one file
      // per cluster directory instead of one per (task x cluster)
      .repartition(col("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(indexPath)
    seeds
  }

  /** Session-scoped build-once cache: the first caller per index path
    * builds and persists; later callers (other queries probing the same
    * corpus in the same JVM) reuse the persisted index and its seeds —
    * the build-once / probe-many contract, made concrete. Keyed by path,
    * so distinct corpora or nlist choices use distinct paths. */
  private val builtIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Float])]]()

  /** Forget built indexes (benchmarking tools only — forces the next
    * probe to pay a cold build). */
  def resetArtifactCache(): Unit = builtIndexes.clear()

  def ivfBuildIndexCached(spark: SparkSession, corpus: DataFrame,
                          indexPath: String, nlist: Int = 16): Array[(Int, Array[Float])] =
    builtIndexes.computeIfAbsent(indexPath,
      _ => ivfBuildIndex(spark, corpus, indexPath, nlist))

  /** Probe the persisted index: each query picks its `nprobe` nearest
    * seed clusters; the union of probed cluster ids becomes a literal
    * partition filter on the index read (partition pruning — the scan
    * touches only those directories), then top-k within the probed
    * subset.
    *
    * `broadcastProbes` fits the two probe regimes: true (default) for
    * interactive query sets (broadcast-small by contract, corpus never
    * shuffles); false for corpus-sized query sets — e.g. the ANN
    * NN-join where EVERY vector probes — which joins probe rows to the
    * index shuffled on cluster id, so the quadratic all-pairs search
    * becomes |corpus| x (nprobe/nlist x cluster size) cluster-local
    * work spread across the cluster. */
  def ivfProbeIndex(spark: SparkSession, indexPath: String,
                    seeds: Array[(Int, Array[Float])], queries: DataFrame,
                    k: Int, nprobe: Int = 4,
                    broadcastProbes: Boolean = true): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = q.crossJoin(seedsDf(spark, seeds))
      .select(col("query_id"), col("qe"), col("cluster"),
        round(cosineSim(col("qe"), col("centroid")), 6).as("csim"))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cluster"))
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe).select(col("query_id"), col("qe"), col("cluster"))
    // literal cluster list -> partition pruning on the index scan. Only
    // worth it for small query sets: the collect executes the probe plan
    // once just to learn the cluster ids (cheap for a broadcast-small
    // query set), while a corpus-sized probe set would pay its whole
    // cross-join+window twice AND virtually always probe every cluster
    // anyway — so the non-broadcast regime reads the index unpruned.
    val index0 = spark.read.parquet(indexPath)
    val index =
      if (broadcastProbes) {
        val clusters = probed.select("cluster").distinct().collect().map(_.getInt(0))
        index0.filter(col("cluster").isin(clusters.toIndexedSeq: _*))
      } else index0
    val probeSide = if (broadcastProbes) broadcast(probed) else probed
    val scored = probeSide
      .join(index.withColumnRenamed("vec_id", "nn_id"), Seq("cluster"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }

  /** Quantization core: adds `l2_norm`, `qscale`, and the int8 code
    * array `q8` (kept as array<int> for the quantized search path). */
  private[llm] def withQuantized(vecs: DataFrame): DataFrame = {
    val e = col("__e")
    vecs.withColumn("__e", transform(col("embedding"), v => v.cast("double")))
      .withColumn("l2_norm",
        sqrt(aggregate(e, lit(0.0), (acc, v) => acc + v * v)))
      .withColumn("__amax", array_max(transform(e, v => abs(v))))
      .withColumn("qscale", col("__amax") / lit(127.0))
      .withColumn("q8", when(col("__amax") > 0,
          transform(e, v => round(v / col("__amax") * 127).cast("int")))
        .otherwise(transform(e, _ => lit(0))))
      .drop("__e", "__amax")
  }

  /** Per-vector L2 norm + symmetric int8 quantization — the embedding
    * compaction step before a corpus-sized ANN index is shipped (4×
    * smaller than float32, 8× than float64). q_i = round(x_i/amax·127),
    * dequantize via `qscale` = amax/127. Pure map-side array
    * expressions; the norm is a sequential ascending fold (bit-identical
    * cross-engine, like cosineSim) and round-half-away-from-zero agrees
    * between Java's HALF_UP and DuckDB/C, so the whole op is exactly
    * oracle-able. The quantized vector is emitted as a csv string of
    * ints (`q8_csv`) — integer-only text keeps the gate comparison free
    * of float-formatting ambiguity. Zero vectors quantize to all-zeros
    * with qscale 0. */
  def normalizeQuantize(vecs: DataFrame): DataFrame =
    withQuantized(vecs)
      .withColumn("q8_csv", concat_ws(",", transform(col("q8"), _.cast("string"))))
      .drop("q8")

  /** Per-label int8-code centroid accumulators — the cluster-refresh /
    * class-prototype step over QUANTIZED vectors: element-wise int64
    * sums of the q8 codes plus the member count (mean = sums/ct at the
    * caller's precision). One hash aggregate with d sum expressions per
    * group (the same shape `ivfAssign`'s Lloyd update uses) — partials
    * combine map-side, nothing posexplodes, the shuffle carries one
    * d-length row per (partition, label) instead of d×n unnested rows.
    * Integer arithmetic end to end, so the whole op is exactly
    * SQL-oracle-able (gate `x_embed_centroid`); sums are emitted as a
    * csv of ints for float-formatting-free comparison. */
  def quantizedCentroids(vecs: DataFrame, labelCol: String): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).first().getInt(0)
    withQuantized(vecs)
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("ct"),
        array((0 until dim).map(i =>
          sum(col("q8").getItem(i).cast("long"))): _*).as("__sums"))
      .withColumn("sum_csv",
        concat_ws(",", transform(col("__sums"), _.cast("string"))))
      .drop("__sums")
  }

  /** K-MEANS ASSIGN over int8 codes, integer-exact: each vector goes to
    * the seed with the smallest integer squared-L2 distance between
    * their q8 code arrays (tie → lowest seed id; the seed's vec id IS
    * the cluster id). Seeds are the `k` lowest-id vectors —
    * deterministic, no RNG, same convention as `ivfBuildIndex`'s hashed
    * init (k-means++ is the quality swap, named not built: its
    * sequential sampling is inherently driver-bound).
    *
    * Plan shape: the seed set collapses to ONE broadcast row
    * (collect_list of (sid, q8) structs) and the argmin is a map-side
    * `aggregate` fold over that array — the corpus is never shuffled,
    * never crossJoin-multiplied by k, and no groupBy re-collapses N×k
    * rows; cost is one scan with k integer-dot distance evals per row.
    * The fold's running (dist, sid) min is order-independent (strict
    * lexicographic compare), so collect_list's nondeterministic order
    * cannot move the answer. At 100 TB this is the textbook Lloyd
    * assign: broadcast centroids, embarrassingly parallel scan.
    * Integer end to end ⇒ the gate hashes exactly. */
  def kmeansAssign(vecs: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "kmeansAssign: k must be >= 1")
    val q = withQuantized(vecs)
    val seeds = q.select(col(idCol).as("__sid"), col("q8").as("__sq8"))
      .orderBy(col("__sid")).limit(k)
      .agg(collect_list(struct(col("__sid"), col("__sq8"))).as("__seeds"))
    q.crossJoin(broadcast(seeds))
      .withColumn("__best", aggregate(col("__seeds"),
        struct(lit(Long.MaxValue).as("d"), lit(Long.MinValue).as("sid")),
        (acc, s) => {
          val d = aggregate(
            zip_with(col("q8"), s.getField("__sq8"),
              (a, b) => ((a - b) * (a - b)).cast("long")),
            lit(0L), (dacc, v) => dacc + v)
          when(d < acc.getField("d") ||
               (d === acc.getField("d") &&
                s.getField("__sid") < acc.getField("sid")),
            struct(d.as("d"), s.getField("__sid").cast("long").as("sid")))
            .otherwise(acc)
        }))
      .select(col(idCol), col("__best.sid").as("cluster_id"),
        col("__best.d").as("dist2"))
  }

  /** One full Lloyd step: `kmeansAssign` then the `quantizedCentroids`
    * refresh on the resulting labels — (cluster_id, ct, sum_csv), the
    * next iteration's centroids as exact integer sums. The assign side
    * is shuffle-free (above); the refresh is the one hash aggregate.
    * Iterating = re-seeding from sums/ct at the caller's precision. */
  def kmeansStep(vecs: DataFrame, idCol: String, k: Int): DataFrame = {
    val assigned = kmeansAssign(vecs, idCol, k)
      .select(col(idCol), col("cluster_id"))
    quantizedCentroids(
      vecs.join(assigned, idCol), "cluster_id")
  }

  /** K-CENTER GREEDY (farthest-point) coreset selection — Gonzalez's
    * 2-approximation for the k-center objective and the standard
    * diversity-first data-pruning / active-learning selector ("k-center
    * greedy" in Sener & Savarese 2018): start from the lowest-id vector,
    * then repeatedly take the vector FARTHEST from everything selected
    * so far (max over candidates of min over selected). Distances are
    * integer squared-L2 over the int8 q8 codes — the same exactness
    * trick as `kmeansAssign`, so every selection decision is integer
    * arithmetic and the whole greedy trace is SQL-oracle-able (ties →
    * lowest vec_id, matching the seed convention).
    *
    * Plan, sized for 100 TB: the classic INCREMENTAL farthest-point
    * sweep — the state is (id, q8, `__md` = min dist² to everything
    * selected so far), persisted; each round updates `__md` against
    * ONLY the newest center (one dim-length literal, one `least`) and
    * ends in one `max_by` aggregate (partials combine map-side, one row
    * crosses to the driver per round). Total work O(k·N·dim) — not the
    * O(k²·N·dim) of re-folding every selected center each round — and
    * the per-round expression is CONSTANT-size, so k in the hundreds
    * stays inside janino's 64 KB method limit (the re-fold form's
    * k·dim literal tree does not; see the cosineLshSig note above).
    * Each generation is an EAGER LOCAL CHECKPOINT — plan and RDD
    * lineage stay depth-1 however large k gets (a persist chain would
    * nest k generations of lineage and overflow the task-serializer
    * stack around k ≈ 100 — measured in round 15, SCALE.md), and
    * exactly one generation's blocks live at any instant (the previous
    * one is released as soon as the next materializes). The re-fold
    * form is kept as [[kCenterSelectLiteral]] — the trace oracle this
    * plan is spec-pinned against. Returns (round, vec_id, dist2): the
    * greedy trace, whose dist2 column is the k-center radius curve
    * (dist2 of round r is the covering radius after r centers — the
    * stopping diagnostic). */
  def kCenterSelect(vecs: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "kCenterSelect: k must be >= 1")
    val spark = vecs.sparkSession
    val q = withQuantized(vecs)
      .select(col(idCol).cast("long").as("__vid"), col("q8").as("__q8"))
    def dist2To(code: Seq[Int]): org.apache.spark.sql.Column = aggregate(
      zip_with(col("__q8"), array(code.map(c => lit(c)): _*),
        (a, b) => ((a - b) * (a - b)).cast("long")),
      lit(0L), (dacc, v) => dacc + v)
    var state: DataFrame = null
    def advance(next: DataFrame): Unit = {
      val cut = next.localCheckpoint(true) // eager: materializes now
      if (state != null)
        org.apache.spark.sql.graft.SparkInternals.uncheckpoint(state)
      state = cut
    }
    try {
      val first = q.orderBy(col("__vid")).limit(1).collect()
      if (first.isEmpty) {
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("round",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("dist2",
              org.apache.spark.sql.types.LongType))))
      }
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int], Long)]()
      sel += ((first.head.getLong(0), first.head.getSeq[Int](1), 0L))
      advance(q.withColumn("__md", dist2To(first.head.getSeq[Int](1))))
      while (sel.size < k) {
        val picked = state
          .filter(!col("__vid").isin(sel.map(_._1).toSeq: _*))
          .select(max_by(struct(col("__vid"), col("__q8")),
            struct(col("__md"), -col("__vid"))).as("__best"),
            max(col("__md")).as("__md"))
          .collect()
        val row = picked.head
        if (row.isNullAt(0)) return buildTrace(spark, sel.toSeq) // corpus exhausted
        val best = row.getStruct(0)
        sel += ((best.getLong(0), best.getSeq[Int](1), row.getLong(1)))
        if (sel.size < k)
          advance(state.withColumn("__md",
            least(col("__md"), dist2To(best.getSeq[Int](1)))))
      }
      buildTrace(spark, sel.toSeq)
    } finally if (state != null)
      org.apache.spark.sql.graft.SparkInternals.uncheckpoint(state)
  }

  /** The re-fold-all-centers form of [[kCenterSelect]] — every round
    * recomputes min-over-selected from a k-element LITERAL of the
    * selected codes. O(k²·N·dim) with an expression tree that grows
    * with k·dim, so it is NOT the production path (janino's 64 KB
    * method limit lands around k·dim ≈ 4k); it is retained as the
    * independent trace oracle the incremental plan is spec-pinned
    * against (identical integer arithmetic, identical tie-breaks). */
  def kCenterSelectLiteral(vecs: DataFrame, k: Int,
                           idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "kCenterSelectLiteral: k must be >= 1")
    val spark = vecs.sparkSession
    import org.apache.spark.storage.StorageLevel
    val q = withQuantized(vecs)
      .select(col(idCol).cast("long").as("__vid"), col("q8").as("__q8"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = q.orderBy(col("__vid")).limit(1).collect()
      if (first.isEmpty) {
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("round",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("dist2",
              org.apache.spark.sql.types.LongType))))
      }
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int], Long)]()
      sel += ((first.head.getLong(0), first.head.getSeq[Int](1), 0L))
      while (sel.size < k) {
        val selLit = array(sel.map { case (sid, code, _) =>
          struct(array(code.map(c => lit(c)): _*).as("sq8"))
        }.toSeq: _*)
        // min over the selected literals of the integer squared-L2 fold
        val md = aggregate(selLit, lit(Long.MaxValue),
          (acc, s) => least(acc, aggregate(
            zip_with(col("__q8"), s.getField("sq8"),
              (a, b) => ((a - b) * (a - b)).cast("long")),
            lit(0L), (dacc, v) => dacc + v)))
        val picked = q
          .filter(!col("__vid").isin(sel.map(_._1).toSeq: _*))
          .select(max_by(struct(col("__vid"), col("__q8")),
            struct(md, -col("__vid"))).as("__best"),
            max(md).as("__md"))
          .collect()
        val row = picked.head
        if (row.isNullAt(0)) return buildTrace(spark, sel.toSeq) // corpus exhausted
        val best = row.getStruct(0)
        sel += ((best.getLong(0), best.getSeq[Int](1), row.getLong(1)))
      }
      buildTrace(spark, sel.toSeq)
    } finally q.unpersist()
  }

  private def buildTrace(spark: SparkSession,
                         sel: Seq[(Long, Seq[Int], Long)]): DataFrame = {
    import spark.implicits._
    sel.zipWithIndex
      .map { case ((vid, _, d), r) => (r.toLong, vid, d) }
      .toDF("round", "vec_id", "dist2")
  }

  /** MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein 1998) —
    * the relevance-vs-redundancy greedy every diversified retrieval /
    * training-subset selector uses: repeatedly take the candidate
    * maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). Fixed at
    * λ = 1/2, where the argmax reduces to the INTEGER objective
    * rel − max_sim over the int8 q8 codes (relevance = integer dot with
    * the query's code, similarity = integer dot between codes), so —
    * like `kCenterSelect`, whose incremental maintained-state plan this
    * shares — the whole greedy trace is exact and SQL-oracle-able. The
    * state is (id, q8, `__rel` computed ONCE, `__ms` = max sim to
    * everything selected so far); each round updates `__ms` against
    * only the newest pick (one dim-length literal, one `greatest`) and
    * ends in one `max_by` — O(k·N·dim) total, constant-size per-round
    * expression (janino-safe at k in the hundreds). The re-fold form is
    * kept as [[mmrSelectLiteral]], the trace oracle. The query is the
    * lowest-id vector (deterministic stand-in for a caller-supplied
    * query embedding); round 0 is the pure-relevance argmax over
    * max_sim = 0. Ties → lowest vec_id.
    * Returns (round, vec_id, rel, max_sim, score). */
  def mmrSelect(vecs: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "mmrSelect: k must be >= 1")
    val spark = vecs.sparkSession
    import spark.implicits._
    import graft.functions.VectorExpressions.intDotProduct
    val q = withQuantized(vecs)
      .select(col(idCol).cast("long").as("__vid"), col("q8").as("__q8"))
    def simTo(code: Seq[Int]): org.apache.spark.sql.Column =
      intDotProduct(col("__q8"), array(code.map(c => lit(c)): _*))
    var state: DataFrame = null
    def advance(next: DataFrame): Unit = {
      val cut = next.localCheckpoint(true) // eager; depth-1 lineage
      if (state != null)
        org.apache.spark.sql.graft.SparkInternals.uncheckpoint(state)
      state = cut
    }
    try {
      val qrow = q.orderBy(col("__vid")).limit(1).collect()
      if (qrow.isEmpty)
        return Seq.empty[(Long, Long, Long, Long, Long)]
          .toDF("round", "vec_id", "rel", "max_sim", "score")
      val qCode = qrow.head.getSeq[Int](1)
      // __ms starts at Long.MinValue — the literal form's fold identity
      // (sims can be NEGATIVE; 0 would clamp them). Round 0 is special-
      // cased to pure relevance with a reported max_sim of 0, exactly
      // like the literal form's empty-selection branch.
      advance(q
        .withColumn("__rel", simTo(qCode))
        .withColumn("__ms", lit(Long.MinValue)))
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int], Long, Long)]()
      while (sel.size < k) {
        val msOut = if (sel.isEmpty) lit(0L) else col("__ms")
        val score = if (sel.isEmpty) col("__rel")
                    else col("__rel") - col("__ms")
        val picked = state
          .filter(if (sel.isEmpty) lit(true)
                  else !col("__vid").isin(sel.map(_._1).toSeq: _*))
          .select(max_by(struct(col("__vid"), col("__q8"), col("__rel"),
              msOut.as("__ms")),
            struct(score, -col("__vid"))).as("__best"))
          .collect()
        if (picked.isEmpty || picked.head.isNullAt(0)) {
          return mmrTrace(spark, sel.toSeq) // corpus exhausted
        }
        val best = picked.head.getStruct(0)
        sel += ((best.getLong(0), best.getSeq[Int](1),
          best.getLong(2), best.getLong(3)))
        if (sel.size < k)
          advance(state.withColumn("__ms",
            greatest(col("__ms"), simTo(best.getSeq[Int](1)))))
      }
      mmrTrace(spark, sel.toSeq)
    } finally if (state != null)
      org.apache.spark.sql.graft.SparkInternals.uncheckpoint(state)
  }

  /** The re-fold-all-picks form of [[mmrSelect]] — every round
    * recomputes max-over-selected from a k-element LITERAL of the
    * selected codes. O(k²·N·dim), expression tree growing with k·dim;
    * retained only as the independent trace oracle for the incremental
    * plan (identical integer arithmetic, identical tie-breaks). */
  def mmrSelectLiteral(vecs: DataFrame, k: Int,
                       idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "mmrSelectLiteral: k must be >= 1")
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    import graft.functions.VectorExpressions.intDotProduct
    val q = withQuantized(vecs)
      .select(col(idCol).cast("long").as("__vid"), col("q8").as("__q8"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val qrow = q.orderBy(col("__vid")).limit(1).collect()
      if (qrow.isEmpty)
        return Seq.empty[(Long, Long, Long, Long, Long)]
          .toDF("round", "vec_id", "rel", "max_sim", "score")
      val qCode = qrow.head.getSeq[Int](1)
      val qLit = array(qCode.map(c => lit(c)): _*)
      val rel = intDotProduct(col("__q8"), qLit)
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int], Long, Long)]()
      while (sel.size < k) {
        val maxSim =
          if (sel.isEmpty) lit(0L)
          else aggregate(
            array(sel.map { case (_, code, _, _) =>
              struct(array(code.map(c => lit(c)): _*).as("sq8"))
            }.toSeq: _*),
            lit(Long.MinValue),
            (acc, s) => greatest(acc, intDotProduct(col("__q8"), s.getField("sq8"))))
        val score = rel - maxSim
        val picked = q
          .filter(if (sel.isEmpty) lit(true)
                  else !col("__vid").isin(sel.map(_._1).toSeq: _*))
          .select(max_by(struct(col("__vid"), col("__q8"), rel.as("__rel"),
              maxSim.as("__ms")),
            struct(score, -col("__vid"))).as("__best"))
          .collect()
        if (picked.isEmpty || picked.head.isNullAt(0)) {
          return mmrTrace(spark, sel.toSeq) // corpus exhausted
        }
        val best = picked.head.getStruct(0)
        sel += ((best.getLong(0), best.getSeq[Int](1),
          best.getLong(2), best.getLong(3)))
      }
      mmrTrace(spark, sel.toSeq)
    } finally q.unpersist()
  }

  private def mmrTrace(spark: SparkSession,
                       sel: Seq[(Long, Seq[Int], Long, Long)]): DataFrame = {
    import spark.implicits._
    sel.zipWithIndex
      .map { case ((vid, _, rel, ms), r) => (r.toLong, vid, rel, ms, rel - ms) }
      .toDF("round", "vec_id", "rel", "max_sim", "score")
  }

  /** Int8-quantized ANN: the memory-bound regime's search path — the
    * candidate pass scores every corpus row with an INTEGER dot product
    * over the 4×-smaller int8 codes (scaled back to approximate cosine
    * by the per-vector dequant factors), keeps `candidates` per query,
    * and reranks only those with the exact float cosine. Same plan shape
    * as sketchRerankTopK (only (query_id, nn_id, score) crosses the
    * candidate window; full vectors re-joined for the rerank rows) — the
    * first pass reads the code column, not the embeddings. Integer
    * arithmetic is exact in any engine, so the approximate pass itself
    * is fully SQL-oracle-able. */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                          candidates: Int = 75): DataFrame = {
    // a zero vector has no direction: its q_sim would be 0/0 = NaN, and
    // NaN sorts ABOVE every real score in a descending window — so it
    // would silently outrank every true neighbor. Exclude zero-norm rows
    // from both sides (they can neither have nor be a nearest neighbor).
    val c = withQuantized(corpus).filter(col("l2_norm") > 0)
      .select(col("vec_id").as("nn_id"),
        col("q8").as("cq"), col("qscale").as("cs"), col("l2_norm").as("cn"))
    val q = withQuantized(queries).filter(col("l2_norm") > 0)
      .select(col("vec_id").as("query_id"),
        col("q8").as("qq"), col("qscale").as("qs"), col("l2_norm").as("qn"))
    // codegen'd integer dot over the int8 codes (exact int64 arithmetic,
    // same value as the aggregate(zip_with) fold it replaces, which is
    // interpreted per row and allocates the zipped array)
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        (graft.functions.VectorExpressions.intDotProduct(col("qq"), col("cq"))
          .cast("double")
          * col("qs") * col("cs") / (col("qn") * col("cn"))).as("q_sim"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("q_sim").desc, col("nn_id"))
    val cand = scored.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= candidates)
      .select(col("query_id"), col("nn_id"))
    val cf = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("ce"))
    val qf = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rerank = cf.join(broadcast(cand), Seq("nn_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    rerank.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }

  /** IVF-probed approximate top-k with k-means-refined centroids (Lloyd
    * iterations improve the partition on clustered data; the refinement
    * averages floats, so this variant is recall-spec-tested rather than
    * SQL-oracled — the oracled gate path is ivfBuildIndex/ivfProbeIndex). */
  /** SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    * deduplication by partitioning the embedding space into clusters
    * and pruning near-duplicate pairs WITHIN each cluster only — the
    * all-pairs cosine work is bounded by cluster size, never
    * corpus-wide (the 100 TB contract: nlist grows with the corpus so
    * clusters stay bounded; cross-cluster near-dups are the documented
    * approximation). A vector is removed when some LOWER-id vector in
    * its cluster has cosine >= `threshold` (deterministic
    * representative choice instead of the paper's random pick).
    *
    * Takes the already-assigned (vec_id, cluster, embedding) table —
    * in the gate path that is the persisted IVF index, so dedup is a
    * cluster-keyed self-join over a partition-colocated read with NO
    * re-clustering; hot clusters spread via AQE skew-join. Returns
    * every vector with its cluster and a kept 0/1 verdict. */
  def semDedup(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cluster").as("__ca"), col("vec_id").as("va"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cluster").as("__cb"), col("vec_id").as("vb"),
      col("embedding").as("eb"))
    val removed = a.join(b, col("__ca") === col("__cb") && col("va") > col("vb"))
      .filter(round(cosineSim(col("ea"), col("eb")), 6) >= threshold)
      .select(col("va").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      .join(removed.withColumn("__rm", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        when(col("__rm").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }

  /** Product-quantization codebooks (Jégou/Douze/Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the embedding splits
    * into `m` subvectors and each subspace gets its own `nbook`-entry
    * codebook, so a vector compresses to m small codes — at the
    * reference setting (m=8, nbook=16) 64 float32 dims (256 B) become
    * 8 nibble codes (4 B), a 64× memory cut, against int8's fixed 4×.
    *
    * Built over the int8 `q8` codes so every distance is integer and
    * the whole path is exactly SQL-oracle-able: codebook entries are
    * the subvectors of the `nbook` LOWEST-id vectors (the library's
    * deterministic seed convention — `kmeansAssign` doc: k-means++
    * refinement is the quality swap, named not built), collected into
    * ONE row: `__cb[mi][j]` = seed j's subvector in subspace mi, plus
    * the precomputed 16×16-per-subspace symmetric-distance table
    * `__dtab[mi][i][j]` = ‖cb[mi][i]−cb[mi][j]‖² — m·nbook² longs
    * (2 KiB at the defaults), the classic PQ lookup table, computed
    * once here instead of per scored pair. */
  def pqCodebook(vecs: DataFrame, m: Int = 8, nbook: Int = 16): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).first().getInt(0)
    require(dim % m == 0, s"pqCodebook: dim $dim not divisible by m=$m")
    val sub = dim / m
    withQuantized(vecs)
      .select(col("vec_id").as("__sid"), col("q8").as("__sq8"))
      .orderBy("__sid").limit(nbook)
      .agg(array_sort(collect_list(struct(col("__sid"), col("__sq8")))).as("__s"))
      .select(
        transform(sequence(lit(0), lit(m - 1)), mi =>
          transform(col("__s"), s =>
            slice(s.getField("__sq8"), mi * lit(sub) + 1, lit(sub)))).as("__cb"))
      .withColumn("__dtab",
        transform(col("__cb"), cbm =>
          transform(cbm, a =>
            transform(cbm, b =>
              aggregate(zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("long")),
                lit(0L), (acc, v) => acc + v)))))
  }

  /** PQ ENCODE: each vector's subvector mi takes the index of its
    * nearest codebook entry (integer L2 over q8 codes, tie → lowest
    * index — the strict `<` in the fold keeps the first minimum).
    * Pure map-side: the one-row codebook is broadcast, the corpus is
    * never shuffled, and the argmin is an m × nbook integer fold per
    * row — the textbook PQ encode scan. Emits (input columns +
    * `pq_codes` array<int> of length m). */
  def pqEncode(vecs: DataFrame, codebook: DataFrame, m: Int = 8,
               nbook: Int = 16): DataFrame = {
    val q = withQuantized(vecs)
    // subvector width read from the codebook COLUMN — no driver action
    val dimSub = size(element_at(element_at(col("__cb"), 1), 1))
    q.crossJoin(broadcast(codebook.select(col("__cb"))))
      .withColumn("pq_codes",
        transform(sequence(lit(0), lit(m - 1)), mi => {
          val subv = slice(col("q8"), mi * dimSub + 1, dimSub)
          val cbm = element_at(col("__cb"), mi + 1)
          aggregate(sequence(lit(0), lit(nbook - 1)),
            struct(lit(Long.MaxValue).as("d"), lit(-1).as("c")),
            (acc, j) => {
              val d = aggregate(
                zip_with(subv, element_at(cbm, j + 1),
                  (x, y) => ((x - y) * (x - y)).cast("long")),
                lit(0L), (a2, v) => a2 + v)
              when(d < acc.getField("d"),
                struct(d.as("d"), j.cast("int").as("c"))).otherwise(acc)
            },
            acc => acc.getField("c"))
        }))
      .drop("__cb")
  }

  /** PQ ANN search: candidate pass scores every corpus row by the
    * SYMMETRIC PQ distance — Σ_mi dtab[mi][q_code][c_code], m table
    * lookups + adds per pair, reading only the m-code column (64×
    * smaller than the embeddings at the defaults; this is the
    * memory-bandwidth regime product quantization exists for) — keeps
    * `candidates` per query (ascending distance, id tie-break), then
    * reranks just those with the exact float cosine. Same plan
    * contract as `quantizedRerankTopK`: queries and the distance table
    * broadcast, only (query_id, nn_id, distance) crosses the candidate
    * window's shuffle, full vectors re-joined for the rerank rows
    * only. Integer candidate arithmetic ⇒ the whole path hashes
    * exactly in the gate (`x_ann_pq`); recall vs brute force is
    * spec-asserted alongside. Zero-norm vectors are excluded on both
    * sides (no direction ⇒ cosine undefined), as in the int8 path. */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   m: Int = 8, nbook: Int = 16,
                   candidates: Int = 75): DataFrame = {
    val cb = pqCodebook(corpus, m, nbook)
    val c = pqEncode(corpus, cb, m, nbook).filter(col("l2_norm") > 0)
      .select(col("vec_id").as("nn_id"), col("pq_codes").as("cc"))
    val q = pqEncode(queries, cb, m, nbook).filter(col("l2_norm") > 0)
      .select(col("vec_id").as("query_id"), col("pq_codes").as("qc"))
    val sdc = aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, mi) =>
      acc + element_at(element_at(element_at(col("__dtab"), mi + 1),
        element_at(col("qc"), mi + 1) + 1),
        element_at(col("cc"), mi + 1) + 1))
    val scored = c.crossJoin(broadcast(cb.select(col("__dtab"))))
      .join(broadcast(q), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), sdc.as("pq_dist"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dist"), col("nn_id"))
    val cand = scored.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= candidates)
      .select(col("query_id"), col("nn_id"))
    val cf = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("ce"))
    val qf = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rerank = cf.join(broadcast(cand), Seq("nn_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    rerank.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }

  /** IVF-PQ — the FAISS `IndexIVFPQ` architecture, composed from the
    * two gated halves: the persisted IVF index bounds WHICH vectors a
    * query scores (its `nprobe` nearest clusters, a partition-pruned
    * read of the cluster-partitioned index), and product quantization
    * bounds WHAT is read to score them (the m-code column + the 2 KiB
    * distance table — never the embeddings), with an exact cosine
    * rerank of the surviving `candidates`. This is the memory-bound
    * 100 TB search plan: scan fraction ≈ nprobe/nlist, bytes/vector ≈
    * m — both knobs independent.
    *
    * The probe rule is ivfProbeIndex's (rounded cosine to seed
    * centroids, cluster-id tie-break) and the scoring is pqRerankTopK's
    * integer SDC, so the FULL composition — probe, codebook, encode,
    * SDC top-k, rerank — replays in the DuckDB oracle and hash-matches
    * (`x_ann_ivfpq`). The stored codes use `ivfBuildIndex`'s defaults
    * (m=8, nbook=16); pass the same here or the probe falls back to
    * query-time encoding. */
  def ivfPqTopK(spark: SparkSession, corpus: DataFrame, indexPath: String,
                seeds: Array[(Int, Array[Float])], queries: DataFrame,
                k: Int, nprobe: Int = 4, m: Int = 8, nbook: Int = 16,
                candidates: Int = 75): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = q.crossJoin(seedsDf(spark, seeds))
      .select(col("query_id"), col("cluster"),
        round(cosineSim(col("qe"), col("centroid")), 6).as("csim"))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cluster"))
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe).select(col("query_id"), col("cluster"))
    // literal cluster list → partition pruning on the index scan
    // (broadcast-small query set contract, as in ivfProbeIndex)
    val clusters = probed.select("cluster").distinct().collect().map(_.getInt(0))
    val index = spark.read.parquet(indexPath)
      .filter(col("cluster").isin(clusters.toIndexedSeq: _*))
    val cb = pqCodebook(corpus, m, nbook)
    // codes live IN the index (ivfBuildIndex writes them) — the probe
    // reads the pruned clusters' code column; encode only as fallback
    // for an index built without codes
    val cIdx = (if (index.columns.contains("pq_codes")) index
                else pqEncode(index, cb, m, nbook))
      .filter(col("l2_norm") > 0)
      .select(col("vec_id").as("nn_id"), col("cluster"), col("pq_codes").as("cc"))
    val qEnc = pqEncode(queries, cb, m, nbook).filter(col("l2_norm") > 0)
      .select(col("vec_id").as("query_id"), col("pq_codes").as("qc"))
    val sdc = aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, mi) =>
      acc + element_at(element_at(element_at(col("__dtab"), mi + 1),
        element_at(col("qc"), mi + 1) + 1),
        element_at(col("cc"), mi + 1) + 1))
    val scored = cIdx.join(broadcast(probed), Seq("cluster"))
      .join(broadcast(qEnc), Seq("query_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .crossJoin(broadcast(cb.select(col("__dtab"))))
      .select(col("query_id"), col("nn_id"), sdc.as("pq_dist"))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("pq_dist"), col("nn_id"))
    val cand = scored.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= candidates)
      .select(col("query_id"), col("nn_id"))
    val cf = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("ce"))
    val qf = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rerank = cf.join(broadcast(cand), Seq("nn_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    rerank.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }

  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
              k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val (assigned, centroids) = ivfAssign(spark, corpus, nlist)
    val cdf = broadcast(centroids.toSeq.map { case (i, v) =>
      (i, v.map(_.toFloat))
    }.toDF("cluster", "centroid"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // each query picks its nprobe nearest clusters
    val probes = q.crossJoin(cdf)
      .select(col("query_id"), col("qe"), col("cluster"),
        cosineSim(col("qe"), col("centroid")).as("csim"))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cluster"))
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe).select(col("query_id"), col("qe"), col("cluster"))
    // search only the probed clusters (join keyed on cluster id)
    val scored = probed.join(assigned.withColumnRenamed("vec_id", "nn_id"), Seq("cluster"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        round(cosineSim(col("qe"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), col("cos_sim"))
  }
}
