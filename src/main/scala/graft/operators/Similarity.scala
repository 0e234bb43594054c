package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions}
import graft.merge.ParquetTable

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against the corpus, scored by the codegen'd [[graft.functions.CosineSimilarity]]
  * expression, then a bounded [[graft.functions.TopKAgg]] per query. The
  * corpus never shuffles: map-side partial aggregation reduces each input
  * partition to at most k rows per query before the (tiny) per-query merge.
  *
  * Scale path: IVF — corpus vectors are assigned once to their nearest
  * centroid (coarse quantizer); a query probes only the `nProbe` nearest
  * centroid buckets, cutting the scanned fraction to nProbe/nCentroids.
  * Centroid selection here is deterministic (first `nCentroids` corpus
  * vectors) so results are reproducible; on a real cluster you'd train
  * k-means centroids offline and broadcast them identically. Assignment is a
  * single argmin PROJECTION — a codegen'd [[graft.functions.NearestCentroid]]
  * scan over a BROADCAST centroid matrix — zero joins, zero shuffles, zero
  * plan literals over the corpus x centroid product.
  *
  * Persisted indexes (IVF: [[writeIvfIndex]]; IVFADC: [[writeIvfPqIndex]])
  * keep their assigned rows in a [[graft.merge.ParquetTable]] partitioned
  * by centroid_id, so builds, appends and compactions are commits of its
  * log, and a probe reads only the probed buckets' files. The quantizers
  * (`centroids/`, `codebook/`) are plain Parquet sidecars.
  */
object Similarity {

  /** Deterministic centroids (first `nCentroids` corpus vectors by id),
    * collected once on the driver — a bounded control-plane collect
    * (nCentroids rows), the same contract as the DPP partition lists. The
    * vector matrix ships as a Spark BROADCAST (held by the codegen'd
    * [[graft.functions.NearestCentroid]]/[[graft.functions.TopCentroids]]
    * expressions), so the plan carries no nCentroids x dim literals; only the
    * small id array (index -> centroid id) is a plan literal. */
  private final case class CentroidSet(
      idValues: Array[Any], bc: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]]) {
    def ids: Column = array(idValues.map(lit): _*)
  }

  /** (centroid id, vector) rows ordered by id, as a [[CentroidSet]]. */
  private def centroidSetOf(spark: org.apache.spark.sql.SparkSession,
                            rows: Array[org.apache.spark.sql.Row]): CentroidSet =
    CentroidSet(rows.map(_.get(0)),
      spark.sparkContext.broadcast(rows.map(_.getSeq[Float](1).toArray)))

  private def centroidSet(corpus: DataFrame, nCentroids: Int,
                          idCol: String, vecCol: String): CentroidSet =
    centroidSetOf(corpus.sparkSession, corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol), col(vecCol)).collect())

  /** Centroid-id column for the nearest centroid of `vec` — a zero-shuffle,
    * whole-stage-codegen projection (centroids ordered by id, so the
    * expression's index-asc tie-break == centroid-id asc). */
  private def nearestCentroidId(cs: CentroidSet, vec: Column,
                                spark: org.apache.spark.sql.SparkSession): Column =
    element_at(cs.ids, VectorFunctions.nearestCentroid(spark, vec, cs.bc) + 1)

  /** (query_id, struct(-cosine, neighbor_id)) rows -> the final
    * (query_id, neighbor_id, cosine, rank) top-k via the bounded aggregate.
    * `score` names the output score column: the ADC paths pass
    * (query_id, struct(d, neighbor_id)) rows and `col.d` as adc_dist. */
  private def topKMerge(scored: DataFrame, k: Int,
                        score: Column = negate(col("col.negcos")).as("cosine")): DataFrame =
    scored.groupBy("query_id").agg(TopKAgg.topK(col("s"), k).as("arr"))
      .select(col("query_id"), posexplode(col("arr")))
      .select(col("query_id"), col("col.nid").as("neighbor_id"),
        score, (col("pos") + 1).as("rank"))

  /** Brute-force top-k: for each query vector, the k nearest corpus vectors
    * by cosine similarity. Ties broken by corpus id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     corpusId: String = "vec_id", corpusVec: String = "embedding",
                     queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    TopKAgg.register(corpus.sparkSession)
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .crossJoin(q)
      .select(col("query_id"), struct(
        negate(VectorFunctions.cosine(col("cv"), col("qv"))).as("negcos"),
        col("neighbor_id").as("nid")).as("s"))
    topKMerge(scored, k)
  }

  /** Brute-force top-k over PREFIX-TRUNCATED embeddings: both sides keep
    * only their first `dims` components before cosine scoring — the
    * Matryoshka-representation retrieval pattern, where a prefix of the
    * vector is trained to stand alone and searching it cuts compute and
    * index bytes by dim/dims. Cosine re-normalizes per pair, so no
    * explicit re-normalization step is needed after the slice. Feed the
    * result to [[recallAtK]] against the full-dimension exact top-k to
    * MEASURE what the truncation costs before adopting it — the same
    * decide-from-numbers harness as the PQ/int8/sign-bit variants
    * ([[pqTopK]], [[quantizeInt8]], [[hammingTopK]]). */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
                    corpusId: String = "vec_id", corpusVec: String = "embedding",
                    queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    require(dims > 0, "dims > 0")
    bruteForceTopK(
      corpus.withColumn(corpusVec, slice(col(corpusVec), 1, dims)),
      queries.withColumn(queryVec, slice(col(queryVec), 1, dims)),
      k, corpusId, corpusVec, queryId, queryVec)
  }

  /** Reciprocal best matches with RATIO-MARGIN scoring between two
    * embedding corpora — the bitext/cross-corpus alignment primitive
    * (Artetxe & Schwenk's margin criterion): keep pairs (x ∈ A, y ∈ B)
    * where each is the other's top-1 by cosine, scored by
    * cos(x,y) / ((knnA(x) + knnB(y)) / 2) with knn the mean cosine of the
    * side's `kMargin` nearest cross-corpus neighbors — a hubness
    * correction: a point whose neighborhood is uniformly close (a hub)
    * needs a much closer partner to score the same margin.
    *
    * Both directions run the bounded top-k aggregate ([[bruteForceTopK]]
    * here; swap in [[ivfTopK]] for corpus-scale sides — the mutual-join
    * and margin algebra only consume (query, neighbor, cosine, rank)
    * frames). Everything after the two searches is bounded by
    * (|A|+|B|)·kMargin rows. The per-query mean runs over the EXPLODE
    * order of the top-k array (rank ascending) and the oracle sums an
    * identically-ordered list, keeping the doubles replayable. */
  def reciprocalMatches(a: DataFrame, b: DataFrame, kMargin: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(kMargin > 0, "kMargin > 0")
    val qa = a.select(col(idCol).as("query_id"), col(vecCol).as(vecCol))
    val qb = b.select(col(idCol).as("query_id"), col(vecCol).as(vecCol))
    val ab = bruteForceTopK(b, qa, kMargin, idCol, vecCol, "query_id", vecCol)
      .localCheckpoint()
    val ba = bruteForceTopK(a, qb, kMargin, idCol, vecCol, "query_id", vecCol)
      .localCheckpoint()
    val avgA = ab.groupBy("query_id").agg(avg(col("cosine")).as("knn_a"))
    val avgB = ba.groupBy("query_id").agg(avg(col("cosine")).as("knn_b"))
    val top1A = ab.filter(col("rank") === 1)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cosine"))
    val top1B = ba.filter(col("rank") === 1)
      .select(col("query_id").as("b_q"), col("neighbor_id").as("b_n"))
    top1A.join(top1B,
        col("id_b") === col("b_q") && col("id_a") === col("b_n"))
      .join(avgA.select(col("query_id").as("id_a"), col("knn_a")), "id_a")
      .join(avgB.select(col("query_id").as("id_b"), col("knn_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("cosine"),
        (col("cosine") / ((col("knn_a") + col("knn_b")) / lit(2.0)))
          .as("margin"))
  }

  /** Per-label centroid agreement between two deterministic halves of the
    * corpus (id parity): cosine between each label's half-A and half-B mean
    * vectors, plus the mean absolute per-dimension shift — the
    * encoder-stability / split-sanity check ([[dimStats]] audits global
    * per-dimension moments; this audits whether each CLASS's center is
    * stable, the thing a classifier or ANN label filter actually depends
    * on). A healthy split scores ~1.0 per label; a label whose halves
    * disagree is either undersampled or heterogeneous.
    *
    * One posexplode moves the vectors once; means, the half-join, and the
    * per-label reduction are all bounded by |labels|×dim. Half sizes ride
    * the same scan. */
  def labelCentroidShift(df: DataFrame, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         labelCol: String = "label"): DataFrame = {
    val dims = graft.Tables.widen(df)
      .select(col(labelCol).as("lbl"), (col(idCol) % 2).as("half"),
        posexplode(col(vecCol)).as(Seq("dim", "xr")))
      .select(col("lbl"), col("half"), col("dim"),
        col("xr").cast("double").as("x"))
    val means = dims.groupBy(col("lbl"), col("half"), col("dim"))
      .agg(avg(col("x")).as("m"))
    val a = means.filter(col("half") === 0)
      .select(col("lbl"), col("dim"), col("m").as("ma"))
    val b = means.filter(col("half") === 1)
      .select(col("lbl"), col("dim"), col("m").as("mb"))
    val per = a.join(b, Seq("lbl", "dim"))
      .groupBy(col("lbl"))
      .agg(sum(col("ma") * col("mb")).as("__dot"),
        sum(col("ma") * col("ma")).as("__na"),
        sum(col("mb") * col("mb")).as("__nb"),
        avg(abs(col("ma") - col("mb"))).as("__shift"))
    val sizes = df.groupBy(col(labelCol).as("lbl"))
      .agg(sum(when(col(idCol) % 2 === 0, 1L).otherwise(0L)).cast("long")
          .as("n_a"),
        sum(when(col(idCol) % 2 === 1, 1L).otherwise(0L)).cast("long")
          .as("n_b"))
    // sizes is the BASE of the join: a label whose docs all land in one
    // parity half has no `per` row — the very instability this audit
    // exists to surface — and must appear with a null cosine, not vanish
    sizes.join(broadcast(per), Seq("lbl"), "left")
      .select(col("lbl").as(labelCol), col("n_a"), col("n_b"),
        round(when(col("__na") > 0 && col("__nb") > 0,
          col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb")))), 6)
          .as("centroid_cosine"),
        round(col("__shift"), 6).as("mean_abs_shift"))
  }

  /** Cosine-similarity profile of a deterministic pair sample — the
    * distribution stats (exact discrete quantiles + mean/extremes) an ANN /
    * LSH deployment reads BEFORE picking its knobs: the near-dup cosine
    * threshold, the hyperplane band count ([[graft.operators.Dedup.embeddingNearDupsLsh]]),
    * and the IVF probe budget all depend on where the corpus's random-pair
    * similarity mass sits (a tight mass near 0.9 needs many more bits to
    * split than one near 0.2).
    *
    * Sampling is id-modulus (reproducible, any engine recomputes
    * membership); the two residue classes give ~(n/modA)·(n/modB)/2 pairs
    * (the id_a < id_b ordering filter keeps about half of the cross
    * product), so the pair frame is quadratic ONLY in the sample — pick
    * moduli so (n/modA)·(n/modB) stays ~10⁶ at the target corpus (the
    * knob rule: grow moduli ∝ n; the materialized frame is ~half that
    * product). Quantiles use the engine-portable ceil-rank
    * selection over the pair frame ([[graft.operators.Stats.groupQuantiles]]'s
    * rule) — the rank window partitions on a constant, bounded by the
    * sample-pair count by construction, never by the corpus. */
  def pairDistanceProfile(df: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          modA: Int = 29, modB: Int = 31,
                          ps: Seq[Double] = Seq(0.05, 0.25, 0.5, 0.75, 0.95))
      : DataFrame = {
    require(modA > 1 && modB > 1, "moduli > 1")
    VectorFunctions.register(df.sparkSession)
    val a = df.filter(col(idCol) % modA === 0)
      .select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.filter(col(idCol) % modB === 0)
      .select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(lit(0).as("g"),
        VectorFunctions.cosine(col("va"), col("vb")).as("cos"))
      .localCheckpoint() // quantile ranks + moment agg share one pair pass
    val qs = Stats.groupQuantiles(pairs, "g", "cos", ps)
    val moments = pairs.groupBy(col("g"))
      .agg(avg(col("cos")).as("mean_cos"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
    val pCols = ps.map(p => "p" + math.round(p * 100)).map(c =>
      round(col(c), 6).as(c))
    qs.join(moments, "g")
      .select(Seq(col("n").as("n_pairs"),
        round(col("mean_cos"), 6).as("mean_cos"),
        round(col("min_cos"), 6).as("min_cos"),
        round(col("max_cos"), 6).as("max_cos")) ++ pCols: _*)
  }

  /** Per-dimension embedding statistics — the whitening/normalization
    * parameter table (mean, std, min, max per dimension) computed before
    * centering, PCA, or product quantization, and the drift check run
    * when a new encoder version lands.
    *
    * One posexplode moves the vectors once; everything after is bounded
    * by the dimensionality. The std uses CENTERED two-pass sums (means
    * first, then residual squares — q153's cancellation contract: the
    * single-pass E[x²]−E[x]² form subtracts near-equal magnitudes and
    * its rounded result would depend on partition-sum order). */
  def dimStats(df: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val dims = graft.Tables.widen(df)
      .select(posexplode(col(vecCol)).as(Seq("dim", "xr")))
      .select(col("dim"), col("xr").cast("double").as("x"))
      .localCheckpoint()
    val means = dims.groupBy("dim").agg(avg(col("x")).as("mx"))
    dims.join(broadcast(means), "dim")
      .groupBy(col("dim"))
      .agg(count(lit(1)).cast("long").as("n"),
        max(col("mx")).as("_mx"),
        sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("ss"),
        min(col("x")).as("_mn"), max(col("x")).as("_mxv"))
      .select(col("dim"), col("n"),
        round(col("_mx"), 6).as("mean"),
        round(sqrt(col("ss") / col("n").cast("double")), 6).as("std"),
        round(col("_mn"), 6).as("min_val"),
        round(col("_mxv"), 6).as("max_val"))
  }

  /** Metadata-filtered top-k (the vector-DB "filtered search" primitive):
    * for each query, the k nearest corpus vectors sharing the query's
    * label — tenant-, language-, or shard-scoped retrieval.
    *
    * Unlike [[hardNegatives]]' broadcast-crossJoin-then-filter (correct
    * when the predicate is an inequality that keeps most pairs), an
    * EQUALITY filter makes the label a join key: the plan is a hash join
    * keyed on the label, so a query only ever meets its own label's
    * candidates — with L labels the scored set shrinks ~L× before any
    * cosine is computed, and at corpus scale a label-partitioned layout
    * turns the probe into a partition-pruned scan (the same contract as
    * the persisted IVF bucket table). Top-k state stays the bounded map-side
    * [[graft.functions.TopKAgg]]. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   labelCol: String = "label",
                   corpusId: String = "vec_id", corpusVec: String = "embedding",
                   queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    TopKAgg.register(corpus.sparkSession)
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv"), col(labelCol).as("lbl")))
    val scored = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"),
        col(labelCol).as("lbl"))
      .join(q, "lbl")
      .select(col("query_id"), struct(
        negate(VectorFunctions.cosine(col("cv"), col("qv"))).as("negcos"),
        col("neighbor_id").as("nid")).as("s"))
    topKMerge(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query, the k
    * most cosine-similar corpus vectors with a DIFFERENT label (similar but
    * known-wrong = the informative negatives). Same bounded shape as
    * [[bruteForceTopK]] — broadcast query side, codegen'd cosine, label
    * mismatch filtered before scoring so excluded pairs never enter the
    * top-k buffer, map-side partial [[graft.functions.TopKAgg]]. Swap the
    * scan for the IVF-probed bucket read at corpus scale. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    labelCol: String = "label",
                    corpusId: String = "vec_id", corpusVec: String = "embedding",
                    queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    TopKAgg.register(corpus.sparkSession)
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv"), col(labelCol).as("qlabel")))
    val scored = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"),
        col(labelCol).as("clabel"))
      .crossJoin(q)
      .filter(col("clabel") =!= col("qlabel"))
      .select(col("query_id"), struct(
        negate(VectorFunctions.cosine(col("cv"), col("qv"))).as("negcos"),
        col("neighbor_id").as("nid")).as("s"))
    topKMerge(scored, k)
  }

  /** Mean-pooled embedding per group (class centroids, source centroids,
    * chunk->document pooling): one posexplode + one (group, pos) hash
    * aggregate. The explode keeps every element inside whole-stage codegen
    * and the aggregation partial — each map task emits at most
    * groups x dim partial sums before the (tiny) shuffle, vs an interpreted
    * `aggregate` HOF folding arrays per row. Returns the exploded
    * (group, pos, mean_val) form; callers needing the array re-assemble
    * with sort_array(collect_list(struct(pos, mean_val))). */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("col")).as("mean_val"))

  /** Lloyd k-means for the IVF coarse quantizer — the "train centroids
    * offline, broadcast them" step the IVF scaladoc promises. Init = first
    * `k` corpus vectors by id (reproducible); each round assigns via the
    * codegen'd [[graft.functions.NearestCentroid]] over the BROADCAST
    * matrix (zero-shuffle projection), then recomputes means with one
    * explode + groupBy — map-side partial aggregation collapses each
    * partition to k x dim partial sums before the (tiny) shuffle. Empty
    * clusters keep their previous centroid. Returns the k x dim matrix to
    * feed an external index build; means use parallel double summation, so
    * exact bit-parity across different partitionings is NOT guaranteed
    * (inherent to distributed fp reduction — the ivf* entry points keep
    * their deterministic first-k quantizer for the oracle-gated paths). */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    var cents = corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val assigned = corpus.select(
        VectorFunctions.nearestCentroid(spark, col(vecCol), bc).as("cid"),
        col(vecCol).as("v"))
      val means = assigned.select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
      // this iteration's broadcast is done after the collect — release it so
      // `iters` rounds don't stack matrices in executor memory
      VectorFunctions.releaseCentroidBroadcast(spark, bc)
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Within-cluster sum of squared distances for a centroid matrix — the
    * k-means objective, exposed so callers (and specs) can check training
    * actually improved the quantizer. DIAGNOSTIC path: the k x dim literal
    * centroid array and the interpreted distance fold are fine for a
    * one-off metric job, unlike the hot assignment path. */
  def clusteringSse(corpus: DataFrame, cents: Array[Array[Float]],
                    vecCol: String = "embedding"): Double = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    val bc = spark.sparkContext.broadcast(cents)
    val idArr = array(cents.indices.map(i => typedLit(cents(i).toSeq)): _*)
    val result = corpus.select(
        element_at(idArr,
          VectorFunctions.nearestCentroid(spark, col(vecCol), bc) + 1).as("c"),
        col(vecCol).as("v"))
      .select(aggregate(zip_with(col("v"), col("c"),
        (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, d) => acc + d).as("d2"))
      .agg(sum(col("d2"))).head().getDouble(0)
    VectorFunctions.releaseCentroidBroadcast(spark, bc)
    result
  }

  /** IVF assignment: nearest (deterministic) centroid per corpus vector.
    * Returns the corpus augmented with a `centroid_id` bucket column — at
    * scale you'd write the corpus back partitioned/bucketed by it. A pure
    * per-row argmin projection over the broadcast literal centroid array. */
  def ivfAssign(corpus: DataFrame, nCentroids: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val cs = centroidSet(corpus, nCentroids, idCol, vecCol)
    corpus.withColumn("centroid_id",
      nearestCentroidId(cs, col(vecCol), corpus.sparkSession))
  }

  /** The bucket table of a persisted index — `path/corpus` of an IVF index,
    * `path/codes` of an IVFADC index: a [[graft.merge.ParquetTable]]
    * partitioned by centroid_id, so every rebuild, append and compaction is
    * one atomic commit of its log. */
  private def bucketTable(spark: org.apache.spark.sql.SparkSession, path: String,
                          dataDir: String): ParquetTable =
    new ParquetTable(spark, s"$path/$dataDir", Seq("centroid_id"))

  /** Build a persisted index on a fresh coarse quantizer: `commitData`
    * commits the bucket table assigned by it, then the quantizer is written
    * to `path/centroids`. `trainIters = 0` keeps the deterministic first-k
    * quantizer ([[centroidSet]]); `trainIters > 0` runs that many Lloyd
    * rounds ([[trainCentroids]]) and names the trained centroids 0..k-1. */
  private def buildIndex(corpus: DataFrame, nCentroids: Int, path: String,
                         idCol: String, vecCol: String, trainIters: Int)(
                         commitData: CentroidSet => Unit): Unit = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    val cs =
      if (trainIters > 0) {
        val cents = trainCentroids(corpus, nCentroids, trainIters, idCol, vecCol)
        CentroidSet(cents.indices.map(_.toLong: Any).toArray,
          spark.sparkContext.broadcast(cents))
      } else centroidSet(corpus, nCentroids, idCol, vecCol)
    commitData(cs)
    val centRows = cs.idValues.zip(cs.bc.value).map { case (id, v) =>
      org.apache.spark.sql.Row(id, v.toSeq)
    }
    spark.createDataFrame(java.util.Arrays.asList(centRows: _*),
        corpus.select(idCol, vecCol).schema)
      .withColumnRenamed(idCol, "centroid_id").withColumnRenamed(vecCol, "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // both writes are done; the assignment broadcast has no further user
    VectorFunctions.releaseCentroidBroadcast(spark, cs.bc)
  }

  /** The persisted coarse quantizer of the index at `path`. */
  private def readCentroidSet(spark: org.apache.spark.sql.SparkSession,
                              path: String): CentroidSet =
    centroidSetOf(spark, spark.read.parquet(s"$path/centroids")
      .orderBy(col("centroid_id")).collect())

  /** Each query's `nProbe` nearest centroids as (query_id, qv, centroid_id)
    * rows: a bounded-insertion scan over the broadcast centroid matrix, no
    * query x centroid join. */
  private def probeSet(cs: CentroidSet, queries: DataFrame, nProbe: Int,
                       queryId: String, queryVec: String): DataFrame =
    queries
      .select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .withColumn("cidx", explode(VectorFunctions.topCentroids(
        queries.sparkSession, col("qv"), cs.bc, nProbe)))
      .withColumn("centroid_id", element_at(cs.ids, col("cidx") + 1))
      .drop("cidx")

  /** The probed buckets of a persisted index: the bucket table's `read`
    * filtered by `centroid_id IN (probed)`. The filter is a partition
    * filter, which the log-backed scan applies to the logged partition
    * values, so only the probed buckets' live files are opened. The probe
    * set is bounded (queries × nProbe) and collected; the refusal below is
    * decided from the live files' partition values and starts no job. */
  private def probedBuckets(spark: org.apache.spark.sql.SparkSession, path: String,
                            dataDir: String, probes: DataFrame): DataFrame = {
    val probed = probes.select("centroid_id").distinct().collect().map(_.get(0))
    val names = probed.map(String.valueOf).toSet
    val table = bucketTable(spark, path, dataDir)
    require(table.liveFiles.exists(_.partitionValues.get("centroid_id").exists(names)),
      s"no probed IVF buckets exist under $path")
    table.read.filter(col("centroid_id").isin(probed: _*))
  }

  /** Materialize the IVF index: the corpus with its `centroid_id` bucket
    * column at `path/corpus` ([[bucketTable]]) and the centroid table at
    * `path/centroids`. At query time the probe filter prunes the table's
    * logged partitions — a probe reads nProbe/nCentroids of the data OFF
    * DISK, not just of the in-memory scan. A rebuild is one `overwrite`
    * commit: it supersedes every append atomically and keeps the table's
    * txn record, so a replayed append stays a no-op. The corpus commits
    * before the centroid table is rewritten; a crash between the two pairs
    * the new corpus with the old quantizer until the rebuild is rerun.
    *
    * Quantizer choice: `trainIters = 0` (default) keeps the deterministic
    * first-`nCentroids`-by-id quantizer — bit-reproducible, which is what
    * the oracle-gated paths (q56/q125/q132) rely on. `trainIters > 0` runs
    * that many Lloyd rounds ([[trainCentroids]], seeded by the same
    * first-k) and indexes on the TRAINED centroids (ids 0..k-1) — the
    * production 100 TB configuration, where balanced buckets and tighter
    * cells buy recall at the same nProbe (measured on the sf0.1 embeddings
    * in PLANS.md; index/search agreement spec-tested either way). All
    * readers ([[ivfTopKFromIndex]], [[appendToIvfIndex]]) consume the
    * persisted centroid table and never care which quantizer built it. */
  def writeIvfIndex(corpus: DataFrame, nCentroids: Int, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    trainIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    buildIndex(corpus, nCentroids, path, idCol, vecCol, trainIters) { cs =>
      // repartition ON the bucket key before the partitioned write: without
      // it every task writes a sliver of every bucket (tasks x buckets small
      // files — the classic partitionBy fan-out); with it each bucket's rows
      // are contiguous and the file count is bounded by the shuffle width
      bucketTable(spark, path, "corpus").overwrite(
        corpus.withColumn("centroid_id", nearestCentroidId(cs, col(vecCol), spark))
          .repartition(col("centroid_id")))
    }
  }

  /** Append a NEW batch into a persisted IVF index WITHOUT retraining or
    * rewriting: the batch is assigned against the index's OWN centroid
    * table (so existing bucket semantics are unchanged) and appended to the
    * bucket table — one commit that only adds files, so it is crash-safe
    * (a crashed append is invisible to every reader) and, with
    * `batchId >= 0`, replay-safe: `(appId, batchId)` is the commit's txn,
    * and a batch at or below the app's highest committed `batchId` is a
    * no-op, so a foreachBatch caller gets exactly-once index content.
    * `batchId < 0` opts out of replay-dedup (still crash-safe, not
    * idempotent). The caller contract is to retrain + rewrite
    * ([[writeIvfIndex]]) when quantizer drift degrades recall (the
    * standard IVF maintenance cycle).
    * Cost: one codegen'd argmin projection over the batch + one shuffle on
    * the bucket key to keep per-bucket file counts bounded. */
  def appendToIvfIndex(batch: DataFrame, path: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       appId: String = "graft",
                       batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    val cs = readCentroidSet(spark, path)
    bucketTable(spark, path, "corpus").append(
      batch.select(col(idCol), col(vecCol))
        .withColumn("centroid_id", nearestCentroidId(cs, col(vecCol), spark))
        .repartition(col("centroid_id")),
      txn = Option.when(batchId >= 0)(appId -> batchId))
    VectorFunctions.releaseCentroidBroadcast(spark, cs.bc)
  }

  /** Pack the IVF corpus — the index's OPTIMIZE, closing the
    * [[appendToIvfIndex]] maintenance loop: per-append files otherwise grow
    * without bound and every [[ivfTopKFromIndex]] probe opens each of them
    * in every probed bucket. This is the bucket table's
    * [[graft.merge.ParquetTable.compact]]: one atomic commit that rewrites
    * each bucket into one file, or no commit when the buckets are already
    * packed. Centroids are untouched — compaction changes LAYOUT, never
    * results (SimilaritySpec pins before == after) — so it composes with
    * the retrain-rewrite cycle ([[writeIvfIndex]]) rather than replacing
    * it. Rows are not deduplicated: ids are unique per the caller contract
    * of an ANN index (appending an EXISTING id is an upsert, which this
    * index does not implement), and a replayed append never commits. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    bucketTable(spark, path, "corpus").compact()

  /** Top-k over a persisted IVF index: probe selection runs on the (tiny)
    * centroid table, then only the probed buckets are read
    * ([[probedBuckets]]). The scored scan ends in the bounded TopKAgg. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, k: Int, nProbe: Int,
                       corpusId: String = "vec_id", corpusVec: String = "embedding",
                       queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    VectorFunctions.register(spark)
    TopKAgg.register(spark)
    val probes = probeSet(readCentroidSet(spark, path), queries, nProbe, queryId, queryVec)
    val scored = broadcast(probes).join(probedBuckets(spark, path, "corpus", probes),
        "centroid_id")
      .select(col("query_id"), struct(
        negate(VectorFunctions.cosine(col(corpusVec), col("qv"))).as("negcos"),
        col(corpusId).as("nid")).as("s"))
    topKMerge(scored, k)
  }

  /** IVF top-k: probe the `nProbe` nearest centroid buckets per query, then
    * brute-force inside the probed buckets only. Probe selection is a
    * bounded-insertion scan over the same broadcast centroid matrix (no
    * query x centroid join); the probed scan ends in the bounded top-k
    * aggregate. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    TopKAgg.register(spark)
    val cs = centroidSet(corpus, nCentroids, corpusId, corpusVec)
    val assigned = corpus.withColumn("centroid_id",
      nearestCentroidId(cs, col(corpusVec), spark))
    val probes = probeSet(cs, queries, nProbe, queryId, queryVec)
    val scored = broadcast(probes).join(assigned, "centroid_id")
      .select(col("query_id"), struct(
        negate(VectorFunctions.cosine(col(corpusVec), col("qv"))).as("negcos"),
        col(corpusId).as("nid")).as("s"))
    topKMerge(scored, k)
  }

  /** MMR-diversified top-k (Carbonell & Goldstein 1998): take the top
    * `nCandidates` by cosine relevance, then greedily select `k` of them
    * scoring λ·rel − (1−λ)·max-sim-to-picked. The candidate generation is
    * the bounded [[bruteForceTopK]] shape (swap in [[ivfTopK]] at corpus
    * scale); the inherently sequential greedy runs inside ONE codegen'd
    * expression over the per-query candidate array
    * ([[graft.functions.MmrSelect]]) — per-group state is nCandidates rows
    * by construction, so no driver loop and no k join rounds. Returns
    * (query_id, neighbor_id, mmr, rank) in selection order. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, nCandidates: Int,
                k: Int, lambda: Double,
                corpusId: String = "vec_id", corpusVec: String = "embedding",
                queryId: String = "query_id",
                queryVec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val cand = bruteForceTopK(corpus, queries, nCandidates,
      corpusId, corpusVec, queryId, queryVec)
    val withVec = cand.join(
      corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("nv")),
      "neighbor_id")
    val grouped = withVec.groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id").as("id"),
        col("cosine").as("rel"), col("nv").as("v"))).as("cands"))
    grouped.select(col("query_id"), posexplode(
        VectorFunctions.mmrSelect(spark, col("cands"), k, lambda, 1.0 - lambda)))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.mmr").as("mmr"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation harness every IVF/LSH/PQ operating-point decision runs on.
    * Both inputs are (query_id, neighbor_id[, ...]) top-k frames, so every
    * join here is bounded by queries × k rows (control-plane sized): a
    * left-semi hit probe, a per-query count, and a left join back to the
    * full query list so zero-hit queries report 0.0 instead of vanishing. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 4)
          .as("recall"))
  }

  /** Ranking-quality companion to [[recallAtK]]: per-query MRR and binary
    * nDCG@k of an approximate top-k against the exact one. Recall counts
    * hits anywhere in the list; these two grade WHERE they land — MRR is
    * the reciprocal of the approx rank holding the true nearest neighbor
    * (0.0 if it was missed entirely), nDCG discounts each recovered
    * exact-top-k member by log2(rank+1) at its approx position and
    * normalizes by the ideal prefix sum, so rank inversions cost even
    * when recall is perfect.
    *
    * Both inputs are (query_id, neighbor_id, rank) top-k frames, so every
    * join is bounded by queries x k rows — control-plane sized, same
    * contract as [[recallAtK]]. The ideal DCG is a closed-form constant
    * per k (both lists hold exactly k entries), folded in as a literal. */
  def rankEval(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"),
      col("rank").as("ex_rank"))
    val ap = approx.select(col("query_id"), col("neighbor_id"),
      col("rank").as("ap_rank"))
    val mrr = ex.filter(col("ex_rank") === 1)
      .join(ap, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("ap_rank").cast("double"), lit(0.0))
          .as("mrr_raw"))
    val dcg = ex.join(ap, Seq("query_id", "neighbor_id"))
      .groupBy("query_id")
      .agg(sum(lit(1.0) / log2(col("ap_rank").cast("double") + 1.0))
        .as("dcg_raw"))
    val idcg = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
    ex.select("query_id").distinct()
      .join(mrr, Seq("query_id"), "left")
      .join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("mrr_raw"), lit(0.0)), 4).as("mrr"),
        round(coalesce(col("dcg_raw"), lit(0.0)) / lit(idcg), 4).as("ndcg"))
  }

  // -------------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search")
  // -------------------------------------------------------------------------

  /** A PQ codebook: `m` subspaces x `ksub` codewords x dim/m floats, held as
    * one executor-side broadcast (never plan literals). */
  final case class PqBook(m: Int, ksub: Int, dsub: Int,
                          bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]])

  /** Deterministic PQ codebook: the sub-vectors of the first `ksub` corpus
    * rows by id, per subspace — same reproducible-quantizer convention as
    * [[centroidSet]] (swap in per-subspace k-means for production recall;
    * the encode/search machinery is codebook-agnostic). Bounded
    * control-plane collect of ksub rows. */
  def pqCodebook(corpus: DataFrame, m: Int, ksub: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): PqBook = {
    val rows = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "empty corpus for PQ codebook")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      rows.map(r => java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
    }
    PqBook(m, ksub, dsub, corpus.sparkSession.sparkContext.broadcast(books))
  }

  /** PQ-encode the corpus: (id, codes) where codes(s) = index of the
    * nearest (squared-L2) codeword in subspace s. A single zero-shuffle
    * codegen'd projection ([[graft.functions.PqEncode]]) — at 100 TB this
    * is the compression pass that turns a dim x 4-byte vector column into
    * m x 4 bytes (m bytes once written as tinyint), so the ANN scan that
    * follows is memory-bandwidth-bound on codes, not vectors. */
  def pqEncode(corpus: DataFrame, book: PqBook,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    corpus.select(col(idCol),
      VectorFunctions.pqEncode(spark, col(vecCol), book.bc).as("codes"))
  }

  /** PQ asymmetric-distance top-k: each query scans only the CODES table
    * (m ints per corpus row), scoring via the exact ADC identity
    * ||q - decode(codes)||² — a broadcast query side, a codegen'd
    * [[graft.functions.PqAdcDistance]], and the bounded top-k aggregate, the
    * same shape as [[bruteForceTopK]] with the vector column swapped for
    * codes. Returns (query_id, neighbor_id, adc_dist, rank); ranks order by
    * (distance ASC, neighbor_id ASC). */
  def pqTopK(codes: DataFrame, queries: DataFrame, book: PqBook, k: Int,
             codesId: String = "vec_id", codesCol: String = "codes",
             queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    val spark = codes.sparkSession
    TopKAgg.register(spark)
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val scored = codes.select(col(codesId).as("neighbor_id"), col(codesCol).as("cs"))
      .crossJoin(q)
      .select(col("query_id"), struct(
        VectorFunctions.pqAdcDistance(spark, col("cs"), col("qv"), book.bc).as("d"),
        col("neighbor_id").as("nid")).as("s"))
    topKMerge(scored, k, col("col.d").as("adc_dist"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (outDim × inDim):
    * sign(j, i) = +1 iff portableHash32("rp:j:i") is even — md5-derived, so
    * the oracle can rebuild the identical matrix in SQL. Achlioptas (2001)
    * showed ±1 entries preserve JL distance bounds; scale 1/√outDim makes
    * the projection norm-preserving in expectation. */
  def jlSignMatrix(outDim: Int, inDim: Int): Array[Array[Float]] =
    Array.tabulate(outDim)(j => Array.tabulate(inDim)(i =>
      if (graft.functions.Hashes.portableHash32Local(s"rp:$j:$i") % 2 == 0) 1.0f
      else -1.0f))

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDim` dimensions: y = (1/√outDim) · S·x with the deterministic
    * [[jlSignMatrix]]. A zero-shuffle codegen'd map
    * ([[graft.functions.MatVecProject]]) with the matrix broadcast once per
    * executor — the dimensionality-reduction pass that turns a 100 TB
    * brute-force or LSH scan over wide vectors into one over `outDim`-wide
    * sketches (distances preserved within the JL ε bound). Returns
    * (id, projected) with projected as array<double>. */
  def randomProject(df: DataFrame, outDim: Int, inDim: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(jlSignMatrix(outDim, inDim))
    df.select(col(idCol),
      VectorFunctions.matVecProject(spark, col(vecCol), bc,
        1.0 / math.sqrt(outDim.toDouble)).as("projected"))
  }

  /** Symmetric int8 quantization of an embedding column — the 4x
    * compression pass run before sharding vectors for serving/training:
    * per-dimension scale = max |x| / 127 over the corpus, code =
    * round(x / scale). Two phases, both distributed: the per-dim maxima
    * aggregate map-side to `dim` groups (a dim-row shuffle, constant in
    * corpus size), then codes are a broadcast-hash-join projection of the
    * exploded vectors against that dim-row scale table — the corpus itself
    * never shuffles. An all-zero dimension quantizes to code 0 (scale 0
    * guard). Returns the exploded (id, dim, code, scale) form; dim is
    * 0-based, |code| <= 127 by construction so the codes pack into a
    * tinyint/byte array on write. */
  /** Percentile-clipped int8 quantization — the production variant of
    * [[quantizeInt8]]: per-dim scale = the p-quantile of |x| (not the max,
    * which a single outlier inflates until every normal value collapses to
    * code 0), codes clamped to ±127 so the clipped tail saturates instead
    * of overflowing. Same two-phase shape: a dim-row quantile aggregate
    * (exact-retention percentile_approx, the q110 parity contract — lower
    * the accuracy at 100 TB), then a broadcast-scale projection; the
    * corpus never shuffles. */
  def quantizeInt8Clipped(corpus: DataFrame, p: Double = 0.999,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val dims = corpus.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
    val scales = dims.groupBy("dim")
      .agg((percentile_approx(abs(col("x")).cast("double"), lit(p), lit(1000000))
        / 127.0).as("scale"))
    dims.join(broadcast(scales), "dim")
      .select(col(idCol), col("dim").cast("long").as("dim"),
        when(col("scale") === 0.0, lit(0L))
          .otherwise(greatest(least(
            round(col("x").cast("double") / col("scale"), 0).cast("long"),
            lit(127L)), lit(-127L)))
          .as("code"),
        round(col("scale"), 9).as("scale"))
  }

  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val dims = corpus.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
    val scales = dims.groupBy("dim")
      .agg((max(abs(col("x"))).cast("double") / 127.0).as("scale"))
    dims.join(broadcast(scales), "dim")
      .select(col(idCol), col("dim").cast("long").as("dim"),
        when(col("scale") === 0.0, lit(0L))
          .otherwise(round(col("x").cast("double") / col("scale"), 0).cast("long"))
          .as("code"),
        round(col("scale"), 9).as("scale"))
  }

  /** IVF + PQ combined search (the IVFADC scheme of Jégou et al. 2011):
    * corpus rows carry a coarse centroid assignment AND an m-byte PQ code;
    * a query probes its `nProbe` nearest coarse buckets and scores ONLY
    * those buckets' codes by asymmetric distance. This composes the two
    * scale levers the separate [[ivfTopK]] / [[pqTopK]] paths exercise
    * alone: the probe cuts the scanned fraction to nProbe/nCentroids and
    * PQ cuts the bytes-per-scanned-row from dim x 4 to m — at 100 TB the
    * scan this plan does is nProbe/nCentroids x m bytes per vector, the
    * memory-bandwidth operating point every disk-resident IVFADC system
    * targets. Probe side broadcasts (queries x nProbe rows); the persisted
    * form ([[writeIvfPqIndex]], [[ivfPqTopKFromIndex]]) reads only the
    * probed buckets' codes off disk. Ranks order by
    * (adc_dist ASC, neighbor_id ASC). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int, nProbe: Int, m: Int, ksub: Int,
                corpusId: String = "vec_id", corpusVec: String = "embedding",
                queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    TopKAgg.register(spark)
    val cs = centroidSet(corpus, nCentroids, corpusId, corpusVec)
    val book = pqCodebook(corpus, m, ksub, corpusId, corpusVec)
    // one zero-shuffle projection carries both quantizers: coarse bucket id
    // + fine m-int code; the vector column is dropped before the join so
    // the scanned side is codes-only
    val codes = corpus.select(
      col(corpusId).as("neighbor_id"),
      nearestCentroidId(cs, col(corpusVec), spark).as("centroid_id"),
      VectorFunctions.pqEncode(spark, col(corpusVec), book.bc).as("cs"))
    val probes = probeSet(cs, queries, nProbe, queryId, queryVec)
    val scored = broadcast(probes).join(codes, "centroid_id")
      .select(col("query_id"), struct(
        VectorFunctions.pqAdcDistance(spark, col("cs"), col("qv"), book.bc).as("d"),
        col("neighbor_id").as("nid")).as("s"))
    topKMerge(scored, k, col("col.d").as("adc_dist"))
  }

  // -------------------------------------------------------------------------
  // persisted IVFADC index (coarse buckets + PQ codes as an on-disk artifact)
  // -------------------------------------------------------------------------

  /** Materialize the IVFADC artifact [[ivfPqTopK]] otherwise rebuilds per
    * call: `path/centroids` (the coarse quantizer, [[writeIvfIndex]]'s
    * format), `path/codebook` (m×ksub PQ codewords — the fine quantizer),
    * and `path/codes` — (id, codes, centroid_id) as a [[bucketTable]], so a
    * probe reads nProbe/nCentroids of the CODES off disk: the scan is
    * nProbe/nCentroids × m bytes per vector, the disk-resident IVFADC
    * operating point, with the raw vector column never stored at all.
    * Both quantizers are PINNED in the artifact (the MinHash-params
    * contract): appenders and readers take no quantizer knobs — encoding a
    * batch against different codewords than the index was built with would
    * silently corrupt every ADC distance. Deterministic first-k quantizers
    * by default (`trainIters > 0` switches the coarse quantizer to Lloyd
    * rounds, same trade as [[writeIvfIndex]]). A rebuild commits the codes
    * like [[writeIvfIndex]] commits the corpus, then rewrites both
    * quantizer tables. */
  def writeIvfPqIndex(corpus: DataFrame, nCentroids: Int, m: Int, ksub: Int,
                      path: String, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      trainIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val book = pqCodebook(corpus, m, ksub, idCol, vecCol)
    buildIndex(corpus, nCentroids, path, idCol, vecCol, trainIters) { cs =>
      // one zero-shuffle projection carries both quantizers; the only data
      // movement is the bucket-key repartition that bounds per-bucket files
      bucketTable(spark, path, "codes").overwrite(corpus.select(col(idCol),
          nearestCentroidId(cs, col(vecCol), spark).as("centroid_id"),
          VectorFunctions.pqEncode(spark, col(vecCol), book.bc).as("codes"))
        .repartition(col("centroid_id")))
    }
    val books = book.bc.value
    val cbRows = for (s <- 0 until m; c <- 0 until ksub)
      yield org.apache.spark.sql.Row(s, c, books(s)(c).toSeq)
    spark.createDataFrame(java.util.Arrays.asList(cbRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sub",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("code",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cw",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    VectorFunctions.releasePqBroadcast(spark, book.bc)
  }

  /** Rebuild the pinned [[PqBook]] from a persisted `path/codebook` —
    * bounded control-plane read (m×ksub rows). */
  def readPqBook(spark: org.apache.spark.sql.SparkSession,
                 path: String): PqBook = {
    val rows = spark.read.parquet(s"$path/codebook")
      .orderBy(col("sub"), col("code")).collect()
    require(rows.nonEmpty, s"no PQ codebook under $path")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ksub,
      s"codebook under $path is ragged: ${rows.length} rows for m=$m ksub=$ksub")
    val books = Array.tabulate(m)(s => Array.tabulate(ksub)(c =>
      rows(s * ksub + c).getSeq[Float](2).toArray))
    PqBook(m, ksub, books(0)(0).length,
      spark.sparkContext.broadcast(books))
  }

  /** Append a batch into a persisted IVFADC index: assigned AND encoded
    * against the index's own pinned quantizers and appended to the codes
    * table — crash-safe, exactly-once under foreachBatch replay, O(batch)
    * cost ([[Similarity.appendToIvfIndex]]'s contract with the PQ encode in
    * the same zero-shuffle projection). */
  def appendToIvfPqIndex(batch: DataFrame, path: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         appId: String = "graft",
                         batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    val cs = readCentroidSet(spark, path)
    val book = readPqBook(spark, path)
    bucketTable(spark, path, "codes").append(batch.select(col(idCol),
        nearestCentroidId(cs, col(vecCol), spark).as("centroid_id"),
        VectorFunctions.pqEncode(spark, col(vecCol), book.bc).as("codes"))
      .repartition(col("centroid_id")),
      txn = Option.when(batchId >= 0)(appId -> batchId))
    VectorFunctions.releaseCentroidBroadcast(spark, cs.bc)
    VectorFunctions.releasePqBroadcast(spark, book.bc)
  }

  /** Pack the IVFADC codes — [[compactIvfIndex]] on the `codes/` table:
    * one atomic commit, results unchanged (the q323 gate and
    * SimilaritySpec pin it). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit =
    bucketTable(spark, path, "codes").compact()

  /** Top-k over the persisted IVFADC index: probe selection on the tiny
    * centroid table, a scan of ONLY the probed codes buckets
    * ([[probedBuckets]]), ADC scoring against the pinned codebook, bounded
    * TopKAgg. Matches [[ivfPqTopK]] bit-for-bit when built from the same
    * corpus — the persisted artifact changes where the quantizers live,
    * never the math. Ranks order by (adc_dist ASC, neighbor_id ASC). */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, k: Int, nProbe: Int,
                         corpusId: String = "vec_id",
                         queryId: String = "query_id",
                         queryVec: String = "embedding"): DataFrame = {
    VectorFunctions.register(spark)
    TopKAgg.register(spark)
    val book = readPqBook(spark, path)
    val probes = probeSet(readCentroidSet(spark, path), queries, nProbe, queryId, queryVec)
    val scored = broadcast(probes).join(probedBuckets(spark, path, "codes", probes),
        "centroid_id")
      .select(col("query_id"), struct(
        VectorFunctions.pqAdcDistance(spark, col("codes"), col("qv"), book.bc)
          .as("d"),
        col(corpusId).as("nid")).as("s"))
    topKMerge(scored, k, col("col.d").as("adc_dist"))
  }

  /** Sign-bit binary signature of an embedding: bit i of word w is set iff
    * vec[w*64+i] >= 0 — the 1-bit-per-dimension quantization (Charikar 2002
    * hyperplane sketch with axis-aligned planes) that turns a dim x 4-byte
    * vector into dim/8 bytes. A zero-shuffle whole-stage-codegen projection
    * of builtins (no UDF): the per-word fold is an `aggregate` HOF whose
    * additions are distinct powers of two, so the signed-overflow wrap on
    * bit 63 is exactly the intended two's-complement bit pattern. */
  def signBits(vec: Column, dim: Int): Column = {
    require(dim % 64 == 0, s"dim $dim not a multiple of 64")
    transform(sequence(lit(0), lit(dim / 64 - 1)), w =>
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) =>
        acc + when(element_at(vec, w * 64 + i + 1) >= 0f,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
  }

  /** Hamming-distance top-k over sign-bit signatures: both sides pack to
    * dim/64 longs ([[signBits]]), distance = Σ popcount(xor) per word —
    * 8 bytes of xor+popcount per 64 dims vs 512 bytes of fp multiply for
    * cosine, the cheap FIRST pass of a binary-then-rerank pipeline (the
    * float rerank of the survivors is [[bruteForceTopK]] on the candidate
    * ids; the banded-LSH candidate generator for skipping the full scan is
    * `Dedup.simhash64NearDups`' band-bucket shape). Same bounded plan as
    * [[bruteForceTopK]]: broadcast packed queries, codegen'd scan, map-side
    * partial [[graft.functions.TopKAgg]]. Ranks order by (hamming ASC,
    * neighbor_id ASC). */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                  corpusId: String = "vec_id", corpusVec: String = "embedding",
                  queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    TopKAgg.register(corpus.sparkSession)
    val packed = corpus.select(col(corpusId).as("neighbor_id"),
      signBits(col(corpusVec), dim).as("cw"))
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      signBits(col(queryVec), dim).as("qw")))
    val scored = packed.crossJoin(q)
      .select(col("query_id"), struct(
        aggregate(zip_with(col("cw"), col("qw"),
            (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("d"),
        col("neighbor_id").as("nid")).as("s"))
    scored.groupBy("query_id").agg(TopKAgg.topK(col("s"), k).as("arr"))
      .select(col("query_id"), posexplode(col("arr")))
      .select(col("query_id"), col("col.nid").as("neighbor_id"),
        col("col.d").as("hamming"), (col("pos") + 1).as("rank"))
  }

  /** Two-stage binary-quantized retrieval — the production shape for
    * sign-bit indexes: a cheap Hamming shortlist of `nShortlist`
    * candidates per query (64× smaller reads than float vectors, XOR+
    * popcount per comparison), then an EXACT cosine rerank of only the
    * shortlist. One-stage Hamming ([[hammingTopK]]) keeps the quantization
    * error in the final ranking; reranking pays full-precision cost on
    * `queries × nShortlist` rows — control-plane sized — and recovers
    * almost all of it. Feed [[recallAtK]] both this and the one-stage
    * list against the exact top-k to MEASURE the recovery before
    * adopting (the PQ/int8/Matryoshka decide-from-numbers harness).
    *
    * Plan shape: stage 1 is hammingTopK's bounded map-side TopKAgg scan;
    * stage 2 joins the shortlist (small side, broadcast by construction)
    * back to the corpus for vectors and merges through the same bounded
    * TopKAgg — the full corpus is never cosine-scored and never ranked
    * by a window. `nShortlist ≥ k`; ties break on neighbor id both
    * stages. */
  def hammingRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        nShortlist: Int, dim: Int,
                        corpusId: String = "vec_id",
                        corpusVec: String = "embedding",
                        queryId: String = "query_id",
                        queryVec: String = "embedding"): DataFrame = {
    require(nShortlist >= k, "nShortlist >= k")
    VectorFunctions.register(corpus.sparkSession)
    TopKAgg.register(corpus.sparkSession)
    val short = hammingTopK(corpus, queries, nShortlist, dim,
        corpusId, corpusVec, queryId, queryVec)
      .select(col("query_id"), col("neighbor_id"))
    val scored = short
      .join(corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("cv")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qv"))), Seq("query_id"))
      .select(col("query_id"), struct(
        negate(VectorFunctions.cosine(col("cv"), col("qv"))).as("negcos"),
        col("neighbor_id").as("nid")).as("s"))
    topKMerge(scored, k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval lists —
    * here cosine similarity and squared-L2 distance, which disagree exactly
    * when corpus norms vary. Each signal first produces a bounded
    * top-`nCandidates` list through the map-side-partial
    * [[graft.functions.TopKAgg]] (the corpus is scanned, never ranked: no
    * per-query corpus-sized window exists anywhere in the plan); the lists
    * then full-outer join on (query, neighbor) and fuse as Σ 1/(c + rank_i)
    * over the ranks PRESENT — the standard list-fusion form, where a doc
    * missing from one list simply contributes nothing. Everything after
    * candidate generation is queries x nCandidates rows, control-plane
    * sized. L2 is composed from the codegen'd dot products
    * (‖a‖² + ‖b‖² − 2a·b) so both signals stay in whole-stage codegen and
    * the oracle can replay bit-identical folds. Fused ranks order by
    * (rrf DESC, neighbor_id ASC). */
  def rrfFuse(corpus: DataFrame, queries: DataFrame, nCandidates: Int,
              k: Int, c: Int = 60,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    TopKAgg.register(spark)
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("cv"), col("qv")).as("cos"),
        (VectorFunctions.dot(col("cv"), col("cv"))
          + VectorFunctions.dot(col("qv"), col("qv"))
          - lit(2.0) * VectorFunctions.dot(col("cv"), col("qv"))).as("l2"))
    def topList(key: Column, rankName: String): DataFrame => DataFrame = df =>
      df.groupBy("query_id")
        .agg(TopKAgg.topK(struct(key.as("d"), col("neighbor_id").as("nid")),
          nCandidates).as("arr"))
        .select(col("query_id"), posexplode(col("arr")))
        .select(col("query_id"), col("col.nid").as("neighbor_id"),
          (col("pos") + 1).cast("long").as(rankName))
    val cosList = topList(negate(col("cos")), "r_cos")(scored)
    val l2List = topList(col("l2"), "r_l2")(scored)
    val fused = cosList.join(l2List, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("r_cos")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("r_l2")), lit(0.0)), 8))
    fused
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("r_cos"), col("r_l2"), col("rrf"), col("rank").cast("long").as("rank"))
  }

  /** Leave-one-out kNN classification accuracy per class — the standard
    * "are these embeddings any good for this label?" eval: each query
    * vector is classified by majority vote over its k nearest OTHER
    * vectors (cosine, ties by neighbor id; vote ties to the smallest
    * label), and accuracy is reported per TRUE class, because a global
    * accuracy hides the one class the space collapses.
    *
    * `queryPred` samples the evaluation set — the corpus side stays full
    * (that's what LOO means), so cost is |queries|·|corpus| through the
    * same broadcast + partial-top-k plan as [[bruteForceTopK]] (query
    * side broadcasts, corpus never shuffles; asks for k+1 then drops
    * self). At index scale, swap the brute-force scorer for [[ivfTopK]]
    * and this becomes the recall-adjusted eval. */
  def knnClassifierEval(vectors: DataFrame, queryPred: Column, k: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    require(k >= 1, "k >= 1")
    val queries = vectors.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as(vecCol))
    val topK1 = bruteForceTopK(vectors, queries, k + 1,
      corpusId = idCol, corpusVec = vecCol,
      queryId = "query_id", queryVec = vecCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rank"))
    val nn = topK1.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("r2", row_number().over(w))
      .filter(col("r2") <= k)
    val labels = vectors.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nl"))
    val votes = nn.join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("nl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("query_id"))
      .agg(min(struct(negate(col("c")).as("negc"), col("nl").as("l")))
        .as("m"))
      .select(col("query_id"), col("m.l").as("predicted"))
    val truth = vectors.select(col(idCol).as("query_id"),
      col(labelCol).as("true_label"))
    votes.join(truth, Seq("query_id"))
      .groupBy(col("true_label"))
      .agg(count(lit(1)).cast("long").as("n_eval"),
        sum(when(col("predicted") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("true_label"), col("n_eval"),
        col("n_correct").cast("long").as("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_eval").cast("double"), 4).as("accuracy"))
  }

  /** Per-class embedding anisotropy WITHOUT a pairwise join: after
    * unit-normalizing each vector, the mean pairwise cosine inside a
    * class is exactly (‖Σu‖² − n)/(n(n−1)) — the sum-vector identity
    * turns an O(n²) pair computation into one per-dimension sum. High
    * anisotropy (members bunched in a narrow cone) is the classic
    * embedding-collapse symptom that makes cosine retrieval
    * uninformative; the raw-norm mean rides along since normalization
    * hides it. One aggregation pass, d running sums per class. */
  def labelAnisotropy(vectors: DataFrame,
                      vecCol: String = "embedding",
                      labelCol: String = "label"): DataFrame = {
    val dims = size(col(vecCol))
    val norm = sqrt(aggregate(col(vecCol), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val unit = transform(col(vecCol), x => x.cast("double") / col("nrm"))
    val base = vectors
      .withColumn("nrm", norm)
      .filter(col("nrm") > 0)
      .select(col(labelCol).as("label"), col("nrm"), unit.as("u"),
        dims.as("d"))
    val perDim = base
      .select(col("label"), col("nrm"), posexplode(col("u")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"),
        sum(col("nrm")).as("nrmsum"))
    perDim.groupBy(col("label"))
      .agg(max(col("n")).cast("long").as("n"),
        sum(col("s") * col("s")).as("ss2"),
        (max(col("nrmsum")) / max(col("n")).cast("double")).as("mean_norm"))
      .filter(col("n") >= 2)
      .select(col("label"), col("n"),
        round(col("mean_norm"), 4).as("mean_norm"),
        round((col("ss2") - col("n").cast("double")) /
          (col("n").cast("double") * (col("n").cast("double") - 1.0)), 4)
          .as("mean_pairwise_cos"))
  }

  /** Farthest-point sampling (greedy k-center) coreset: seed at the
    * smallest id, then repeatedly take the vector FARTHEST (max over the
    * corpus of its min cosine distance to the selected set, ties to the
    * smaller id) — the classic 2-approximation to the k-center cover, and
    * the diversity-first answer to "which k documents should a human look
    * at / which k examples seed the eval set". Output: selection order,
    * id, and the covering radius at selection time (a monotone curve — the
    * r-th row says "k=r covers the corpus to radius d").
    *
    * Scale shape: k scans; each round broadcasts the ≤k selected vectors
    * (bounded control plane, the IVF-centroid contract) and takes ONE
    * ordered row — no corpus-side state, no shuffle beyond the TakeOrdered.
    * min-dist is a per-row fold over ≤k broadcast rows; the argmax ties
    * break on id, so the trajectory is deterministic across engines and
    * partitionings. The k scans, not k² work: a 100 TB corpus pays k
    * scan-shaped passes (or one pass with an incrementally-maintained
    * min-dist column — noted, not needed at gate scale). */
  def farthestPointSample(corpus: DataFrame, k: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(k >= 2 && k <= 256, "k in [2, 256]")
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    val seedRows = base.orderBy(col("id")).limit(1).collect()
    require(seedRows.nonEmpty, "empty corpus")
    val seed = seedRows.head
    var selected = Vector(
      (seed.getLong(0), seed.getSeq[Float](1).toArray, Option.empty[Double]))
    val selSchema = StructType(Seq(
      StructField("sv", ArrayType(FloatType), nullable = false)))
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val selDf = spark.createDataFrame(java.util.Arrays.asList(
        selected.map { case (_, v, _) => Row(v.toSeq) }: _*), selSchema)
      val ids = selected.map(_._1)
      val picks = base
        .filter(!col("id").isin(ids: _*))
        .crossJoin(broadcast(selDf))
        .groupBy(col("id"))
        .agg(min(lit(1.0) -
          VectorFunctions.cosine(col("v"), col("sv"))).as("d"))
        .orderBy(col("d").desc, col("id"))
        .limit(1).collect()
      // a corpus smaller than k simply yields its full trajectory
      exhausted = picks.isEmpty
      if (exhausted) {
        // nothing left to select
      } else {
      val pick = picks.head
      val pv = base.filter(col("id") === pick.getLong(0))
        .select(col("v")).collect().head.getSeq[Float](0).toArray
      selected :+= ((pick.getLong(0), pv, Some(pick.getDouble(1))))
      }
    }
    val outSchema = StructType(Seq(
      StructField("sel_round", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("min_dist", DoubleType, nullable = true)))
    val rows = selected.zipWithIndex.map { case ((id, _, d), r) =>
      Row(r.toLong, id, d.map(java.lang.Double.valueOf).orNull) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
      .select(col("sel_round"), col("vec_id"),
        round(col("min_dist"), 6).as("min_dist"))
  }

  /** Triplet-margin eval of an embedding space WITHOUT sampling noise:
    * every vector anchors one deterministic triplet — positive = the next
    * same-label vector in id order, negative = the same-position vector
    * in the NEXT label (labels cycled in sorted order) — and the report
    * is, per label, how often cos(a,pos) < cos(a,neg) (a violation: some
    * other class sits closer than the anchor's own class) plus the mean
    * margin. The metric behind "are these embeddings good enough to
    * label-classify", complementary to the kNN eval: kNN measures
    * decision accuracy, the margin measures by HOW MUCH geometry holds.
    *
    * Determinism and exactness: triplets are rank-aligned equi-joins
    * (windows partitioned by label, never global); the label→next-label
    * cycle is a bounded driver collect (the IVF-centroid control-plane
    * contract); each margin is rounded to 12 decimals — the shortest-repr
    * rounding both engines reproduce — and summed as DECIMAL, so the
    * per-label mean is partition-order-free. One scan, three bounded
    * joins, no corpus×corpus work. */
  def tripletEval(corpus: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    val base = corpus
      .filter(col(labelCol).isNotNull)
      .select(col(labelCol).as("l"), col(idCol).as("id"),
        col(vecCol).as("v"))
    // bounded control plane: the sorted label cycle (|labels| rows)
    val labels = base.select(col("l")).distinct().collect()
      .map(_.get(0)).sortBy(_.toString)
    require(labels.length >= 2, "need at least two labels")
    import spark.implicits._
    val nextOf = labels.indices.map(i =>
      (labels(i).toString, labels((i + 1) % labels.length).toString))
    val cyc = nextOf.toDF("l_str", "l_next_str")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l")).orderBy(col("id"))
    val ranked = base.withColumn("r", row_number().over(w))
      .localCheckpoint(eager = false) // anchor + positive + negative sides
    val anchors = ranked
      .withColumn("pid", lead(col("id"), 1).over(w))
      .withColumn("pv", lead(col("v"), 1).over(w))
      .filter(col("pid").isNotNull)
      .join(broadcast(cyc), col("l").cast("string") === col("l_str"))
    val negs = ranked.select(col("l").cast("string").as("l_next_str"),
      col("r"), col("id").as("nid"), col("v").as("nv"))
    val margin = round(
      VectorFunctions.cosine(col("v"), col("pv")) -
        VectorFunctions.cosine(col("v"), col("nv")), 12)
    anchors.join(negs, Seq("l_next_str", "r"))
      .select(col("l"), margin.as("m"))
      .groupBy(col("l"))
      .agg(count(lit(1)).cast("long").as("n_triplets"),
        sum(when(col("m") < 0.0, 1L).otherwise(0L)).cast("long")
          .as("violations"),
        sum(col("m").cast("decimal(20,12)")).as("msum"))
      .select(col("l").as(labelCol), col("n_triplets"), col("violations"),
        round(col("violations").cast("double") /
          col("n_triplets").cast("double"), 4).as("violation_rate"),
        round(col("msum").cast("double") /
          col("n_triplets").cast("double"), 6).as("mean_margin"))
  }
}
