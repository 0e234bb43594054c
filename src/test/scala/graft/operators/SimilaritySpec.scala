package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.9f, 0.1f)),
    (4L, Array(0.0f, 0.0f, 1.0f)),
    (5L, Array(0.1f, 0.0f, 0.9f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK returns k nearest by cosine, rank 1 = self") {
    graft.functions.VectorFunctions.register(spark)
    val queries = corpus.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.bruteForceTopK(corpus, queries, 3)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toMap
    assert(out(1) == 0L) // self is nearest
    assert(out(2) == 1L) // then the 0.9/0.1 vector
  }

  test("ivfTopK with full probe matches brute force") {
    graft.functions.VectorFunctions.register(spark)
    val queries = corpus.filter($"vec_id" < 2L)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, 2)
      .select("query_id", "neighbor_id", "rank")
    val ivf = Similarity.ivfTopK(corpus, queries, 2, nCentroids = 6, nProbe = 6)
      .select("query_id", "neighbor_id", "rank")
    assert(rowsOf(bf) == rowsOf(ivf))
  }

  test("ivfAssign buckets every corpus vector to exactly one centroid") {
    graft.functions.VectorFunctions.register(spark)
    val assigned = Similarity.ivfAssign(corpus, nCentroids = 2)
    assert(assigned.count() == 6)
    assert(assigned.select("centroid_id").distinct().count() <= 2)
  }

  test("centroid expressions survive with codegen fallback disabled") {
    // Proves NearestCentroid/TopCentroids generate COMPILABLE Java — with
    // fallback off, a codegen bug fails the query instead of silently
    // dropping the hot path to interpreted eval.
    graft.functions.VectorFunctions.register(spark)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val queries = corpus.filter($"vec_id" < 2L)
        .select($"vec_id".as("query_id"), $"embedding")
      assert(Similarity.ivfAssign(corpus, nCentroids = 3).count() == 6)
      assert(Similarity.ivfTopK(corpus, queries, 2, nCentroids = 3, nProbe = 2).count() > 0)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  /** The bucket table (`corpus` or `codes`) of the persisted index at `dir`. */
  private def buckets(dir: String, table: String) =
    new graft.merge.ParquetTable(spark, s"$dir/$table", Seq("centroid_id"))

  test("persisted IVF index: full-probe matches brute force; probes read only their buckets") {
    val dir = tmpDir("ivf_index")
    Similarity.writeIvfIndex(corpus, nCentroids = 3, dir)
    // the corpus table is partitioned by bucket id
    val corpusTable = buckets(dir, "corpus")
    val ids = corpusTable.liveFiles.map(_.partitionValues("centroid_id")).toSet
    assert(ids.nonEmpty && ids.forall(_.matches("\\d+")))

    val queries = corpus.filter($"vec_id" < 2L)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, 2)
      .select("query_id", "neighbor_id", "rank")
    val idx = Similarity.ivfTopKFromIndex(spark, dir, queries, 2, nProbe = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(rowsOf(bf) == rowsOf(idx))

    // nProbe=1 for query 0 -> only bucket c0 = {0, 4, 5} is even READ
    val probe = Similarity.ivfTopKFromIndex(spark,
      dir, queries.filter($"query_id" === 0L), 5, nProbe = 1)
    val one = probe.select("neighbor_id").as[Long].collect().toSet
    assert(one == Set(0L, 4L, 5L), s"probed bucket mismatch: $one")
    // and the executed scan selected exactly bucket 0's live files
    probe.collect()
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(probe.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.size == 1, probe.queryExecution.executedPlan.toString)
    val read = scans.head.selectedPartitions.filePartitionIterator
      .flatMap(_.files.map(_.getPath.toUri.getPath)).toSet
    val c0 = corpusTable.liveFiles.filter(_.partitionValues("centroid_id") == "0")
      .map(f => java.nio.file.Paths.get(dir, "corpus", f.path).toString).toSet
    assert(c0.nonEmpty && read == c0, s"scan read $read, bucket 0 holds $c0")
  }

  test("trained IVF index (Lloyd quantizer): search agrees with the index it wrote") {
    val dir = tmpDir("ivf_trained")
    Similarity.writeIvfIndex(corpus, nCentroids = 3, dir, trainIters = 3)
    // trained centroid table: synthetic ids 0..k-1, k rows
    val cents = spark.read.parquet(s"$dir/centroids")
    assert(cents.count() == 3)
    assert(cents.select("centroid_id").as[Long].collect().sorted.sameElements(
      Array(0L, 1L, 2L)))
    // every corpus vector landed in exactly one bucket (no loss, no dup)
    val indexed = buckets(dir, "corpus").read
    assert(indexed.count() == 6)
    assert(indexed.select("vec_id").distinct().count() == 6)
    // full-probe search over the trained index == brute force: the reader
    // only consumes the persisted centroid table, so index-time assignment
    // and query-time probing agree regardless of which quantizer trained it
    val queries = corpus.filter($"vec_id" < 2L)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, 2)
      .select("query_id", "neighbor_id", "rank")
    val idx = Similarity.ivfTopKFromIndex(spark, dir, queries, 2, nProbe = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(rowsOf(bf) == rowsOf(idx))
    // appends quantize against the PERSISTED (trained) centroids too
    Similarity.appendToIvfIndex(
      Seq((10L, Array(0.95f, 0.05f, 0.0f))).toDF("vec_id", "embedding"), dir)
    val after = Similarity.ivfTopKFromIndex(spark, dir, queries, 7, nProbe = 3)
      .filter($"neighbor_id" === 10L)
    assert(after.count() > 0)
  }

  test("appendToIvfIndex: incremental batches equal a one-shot index build") {
    // split so the first nCentroids ids (the quantizer seed rows) are all in
    // the initial write — then both builds train identical centroids and the
    // incremental index must answer every query identically
    val first = corpus.filter($"vec_id" < 3L)
    val rest = corpus.filter($"vec_id" >= 3L)
    val incDir = tmpDir("ivf_inc")
    Similarity.writeIvfIndex(first, nCentroids = 3, incDir)
    val built = buckets(incDir, "corpus").liveFiles.map(_.path).toSet
    Similarity.appendToIvfIndex(rest, incDir)
    val oneDir = tmpDir("ivf_oneshot")
    Similarity.writeIvfIndex(corpus, nCentroids = 3, oneDir)
    val queries = corpus.filter($"vec_id" < 3L)
      .select($"vec_id".as("query_id"), $"embedding")
    val inc = Similarity.ivfTopKFromIndex(spark, incDir, queries, 3, nProbe = 3)
      .select("query_id", "neighbor_id", "rank")
    val one = Similarity.ivfTopKFromIndex(spark, oneDir, queries, 3, nProbe = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(rowsOf(inc) == rowsOf(one))
    // the append only ADDED files — the initial buckets were not rewritten
    val live = buckets(incDir, "corpus").liveFiles.map(_.path).toSet
    assert(built.subsetOf(live) && live.size > built.size)
  }

  test("appendToIvfIndex: replayed (appId,batchId) is a no-op; crashed segment invisible") {
    val dir = tmpDir("ivf_txn")
    Similarity.writeIvfIndex(corpus.filter($"vec_id" < 3L), nCentroids = 3, dir)
    val rest = corpus.filter($"vec_id" >= 3L)
    val queries = corpus.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding")
    def visible() = Similarity
      .ivfTopKFromIndex(spark, dir, queries, k = 10, nProbe = 3)
      .select("neighbor_id").as[Long].collect().toSeq.sorted
    // the append of (app, 7) crashes between its data write and its commit
    val t = buckets(dir, "corpus")
    val v = t.latestVersion
    t.onPreCommit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](t.append(rest.withColumn("centroid_id", lit(0L)),
      txn = Some("app" -> 7L)))
    assert(buckets(dir, "corpus").latestVersion == v, "crashed append committed")
    assert(visible() == Seq(0L, 1L, 2L), "crashed append visible")
    // the redelivery lands once
    Similarity.appendToIvfIndex(rest, dir, appId = "app", batchId = 7L)
    val once = visible()
    assert(once == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    // replay the SAME (appId,batchId): exactly-once, nothing duplicated
    Similarity.appendToIvfIndex(rest, dir, appId = "app", batchId = 7L)
    assert(visible() == once)
    // a full rebuild replaces every earlier file in one commit, and keeps
    // the txn record: a late replay of batch 7 is still a no-op
    val before = buckets(dir, "corpus").liveFiles.map(_.path).toSet
    Similarity.writeIvfIndex(corpus, nCentroids = 3, dir)
    assert(buckets(dir, "corpus").liveFiles.forall(f => !before(f.path)))
    Similarity.appendToIvfIndex(rest, dir, appId = "app", batchId = 7L)
    assert(visible() == once)
  }

  test("compactIvfIndex: results identical before/after, one file per bucket, crash-safe, idempotent") {
    val dir = tmpDir("ivf_compact")
    Similarity.writeIvfIndex(corpus.filter($"vec_id" < 3L), nCentroids = 3, dir)
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" >= 3L && $"vec_id" < 5L),
      dir, appId = "c", batchId = 1L)
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" >= 5L),
      dir, appId = "c", batchId = 2L)
    val queries = corpus.select($"vec_id".as("query_id"), $"embedding")
    def topk() = rowsOf(Similarity
      .ivfTopKFromIndex(spark, dir, queries, k = 4, nProbe = 3)
      .select("query_id", "neighbor_id", "rank"))
    val before = topk()
    val t = buckets(dir, "corpus")
    val appended = t.liveFiles
    val v = t.latestVersion
    // a compaction that crashes before its commit changes nothing
    t.onPreCommit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](t.compact())
    assert(buckets(dir, "corpus").latestVersion == v, "crashed compact committed")
    assert(topk() == before)
    Similarity.compactIvfIndex(spark, dir)
    // layout: one compaction commit replaced every file; one file per bucket
    val packed = buckets(dir, "corpus")
    assert(packed.lastMetrics.contains("filesBefore"))
    assert(packed.liveFiles.forall(f => !appended.map(_.path).contains(f.path)))
    assert(packed.liveFiles.size == appended.map(_.partitionValues).distinct.size)
    // results: compaction changes layout, never answers
    assert(topk() == before)
    // idempotent: a second compact finds the buckets packed and commits nothing
    Similarity.compactIvfIndex(spark, dir)
    assert(packed.latestVersion == v + 1)
    assert(topk() == before)
  }

  test("persisted IVFADC index: full-build search equals in-memory ivfPqTopK") {
    val e = dim64
    val dir = tmpDir("ivfpq_full")
    Similarity.writeIvfPqIndex(e, nCentroids = 4, m = 8, ksub = 4, path = dir)
    val queries = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val persisted = Similarity.ivfPqTopKFromIndex(spark, dir, queries,
      k = 4, nProbe = 4)
    val inMemory = Similarity.ivfPqTopK(e, queries, k = 4,
      nCentroids = 4, nProbe = 4, m = 8, ksub = 4)
    assert(rowsOf(persisted) == rowsOf(inMemory))
  }

  test("persisted IVFADC: append encodes against pinned quantizers; crash invisible; replay no-op; compact preserves results") {
    val e = dim64
    val dir = tmpDir("ivfpq_seg")
    val base = e.filter($"vec_id" < 7)
    Similarity.writeIvfPqIndex(base, nCentroids = 4, m = 8, ksub = 4,
      path = dir)
    val queries = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    def topk() = rowsOf(Similarity.ivfPqTopKFromIndex(spark, dir, queries,
      k = 4, nProbe = 4).select("query_id", "neighbor_id", "rank"))
    def codeIds() = buckets(dir, "codes").read.select("vec_id").as[Long]
      .collect().toSeq.sorted
    val baseOnly = topk()
    // the append of (s, 1) crashes between its data write and its commit
    graft.functions.VectorFunctions.register(spark)
    val book = Similarity.readPqBook(spark, dir)
    val t = buckets(dir, "codes")
    val v0 = t.latestVersion
    t.onPreCommit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](t.append(e.filter($"vec_id" >= 7).select($"vec_id",
        graft.functions.VectorFunctions.pqEncode(spark, $"embedding", book.bc)
          .as("codes"), lit(0L).as("centroid_id")),
      txn = Some("s" -> 1L)))
    assert(buckets(dir, "codes").latestVersion == v0, "crashed append committed")
    assert(topk() == baseOnly, "uncommitted append must stay invisible")
    // the redelivery serves; the oracle shape is ivfPqTopK over the full
    // set with quantizers pinned to the base (q132's restricted-pool form)
    Similarity.appendToIvfPqIndex(e.filter($"vec_id" >= 7), dir,
      appId = "s", batchId = 1L)
    val withAppend = topk()
    assert(withAppend != baseOnly, "append must change the served set")
    assert(codeIds() == (0L to 9L))
    // replayed (appId, batchId): exactly-once no-op
    Similarity.appendToIvfPqIndex(e.filter($"vec_id" >= 7), dir,
      appId = "s", batchId = 1L)
    assert(topk() == withAppend)
    assert(codeIds() == (0L to 9L))
    // a compaction that crashes before its commit changes nothing
    val v = t.latestVersion
    intercept[RuntimeException](t.compact())
    assert(buckets(dir, "codes").latestVersion == v, "crashed compact committed")
    assert(topk() == withAppend)
    Similarity.compactIvfPqIndex(spark, dir)
    val packed = buckets(dir, "codes")
    assert(packed.latestVersion == v + 1 && packed.lastMetrics.contains("filesBefore"))
    assert(topk() == withAppend, "compaction must not change results")
    // idempotent: a second compact commits nothing
    Similarity.compactIvfPqIndex(spark, dir)
    assert(packed.latestVersion == v + 1)
    assert(topk() == withAppend)
  }

  test("hardNegatives never returns a same-label neighbor and stays bounded") {
    val labeled = corpus.withColumn("label",
      (col("vec_id") % 2).cast("int")) // alternating labels
    val queries = labeled.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val out = Similarity.hardNegatives(labeled, queries, k = 2)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 4) // <= k per query
    // join back: every neighbor's label differs from its query's
    val lbl = labeled.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(lbl(r.getLong(1)) != lbl(r.getLong(0)),
        s"same-label neighbor: $r")
    }
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_topk_agg"), p)
  }

  test("filteredTopK searches only the query's label via a hash join, not a cross join") {
    val labeled = corpus.withColumn("label",
      (col("vec_id") % 2).cast("int"))
    val queries = labeled.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val out = Similarity.filteredTopK(labeled, queries, k = 3)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 6)
    val lbl = labeled.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(lbl(r.getLong(1)) == lbl(r.getLong(0)),
        s"cross-label neighbor leaked through the filter: $r")
    }
    // the label is a JOIN KEY: hash join, never a nested-loop cross join
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_topk_agg"), p)
  }

  test("dimStats: hand-computable per-dimension mean/std/min/max") {
    val df = Seq(
      (1L, Array(1.0f, 10.0f)),
      (2L, Array(3.0f, 10.0f)),
      (3L, Array(5.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dimStats(df).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    // dim 0: mean 3, population std sqrt(8/3) ~ 1.632993, min 1, max 5
    assert(out(0) == ((3L, 3.0, 1.632993, 1.0, 5.0)))
    // dim 1: constant -> std 0
    assert(out(1) == ((3L, 10.0, 0.0, 10.0, 10.0)))
  }

  test("meanPool averages element-wise per group") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 4.0f)),
      ("b", Array(10.0f, 20.0f))
    ).toDF("grp", "v")
    val m = Similarity.meanPool(df, "grp", "v").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m(("a", 0)) == 2.0 && m(("a", 1)) == 3.0)
    assert(m(("b", 0)) == 10.0 && m(("b", 1)) == 20.0)
  }

  test("trainCentroids: Lloyd rounds never worsen the k-means objective") {
    val rnd = new scala.util.Random(5)
    // 3 well-separated gaussian blobs in 8d
    val blobs = for (b <- 0 until 3; i <- 0 until 40) yield {
      val center = Array.tabulate(8)(d => if (d == b) 10.0f else 0.0f)
      ((b * 100 + i).toLong, center.map(c => c + rnd.nextGaussian().toFloat * 0.2f).toSeq)
    }
    val df = blobs.toDF("vec_id", "embedding")
    val init = df.orderBy($"vec_id").limit(3)
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val trained = Similarity.trainCentroids(df, k = 3, iters = 4)
    val sseInit = Similarity.clusteringSse(df, init)
    val sseTrained = Similarity.clusteringSse(df, trained)
    // init picks 3 vectors from the SAME blob; training must spread them
    // (cosine assignment from a degenerate all-parallel init can leave one
    // mixed cluster, so require a big improvement, not global optimality)
    assert(sseTrained < sseInit * 0.5, s"init $sseInit -> trained $sseTrained")
    val axes = trained.map(_.zipWithIndex.maxBy(_._1)._2).distinct
    assert(axes.length >= 2, s"centroids collapsed onto one axis: ${axes.toSeq}")
  }

  test("pqEncode picks the nearest subspace codeword; ADC equals distance to the decoded vector") {
    graft.functions.VectorFunctions.register(spark)
    // 4 dims, m=2 subspaces of 2 dims; codebook = first 2 rows by id
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 5.0f, 5.0f)),
      (1L, Array(0.0f, 1.0f, -5.0f, -5.0f)),
      (2L, Array(0.9f, 0.1f, -4.0f, -6.0f)), // sub0 -> code 0, sub1 -> code 1
      (3L, Array(0.2f, 0.8f, 4.0f, 6.0f))    // sub0 -> code 1, sub1 -> code 0
    ).toDF("vec_id", "embedding")
    val book = Similarity.pqCodebook(vecs, m = 2, ksub = 2)
    val codes = Similarity.pqEncode(vecs, book)
    val got = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got(0L) == List(0, 0) && got(1L) == List(1, 1))
    assert(got(2L) == List(0, 1) && got(3L) == List(1, 0))

    // ADC identity: sum of per-subspace L2² == L2² to the decoded vector
    val queries = vecs.filter($"vec_id" < 2L)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.pqTopK(codes, queries, book, k = 4).collect()
    val books = book.bc.value
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cds = got
    out.foreach { r =>
      val (qid, nid, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val q = raw(qid)
      val decoded = cds(nid).zipWithIndex.flatMap { case (c, s) => books(s)(c) }
      val direct = q.zip(decoded).map { case (a, b) =>
        val x = a.toDouble - b.toDouble; x * x }.sum
      assert(math.abs(d - direct) < 1e-9, s"ADC $d != direct $direct for ($qid,$nid)")
    }
    // rank 1 for each query is itself (its own codes decode nearest)
    val r1 = out.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(0L -> 0L, 1L -> 1L))
  }

  test("quantizeInt8: codes bounded by 127, roundtrip error within scale/2, zero dims safe") {
    val vecs = Seq(
      (0L, Array(1.0f, -2.0f, 0.0f)),
      (1L, Array(-0.5f, 4.0f, 0.0f)),
      (2L, Array(0.25f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 9)
    // extreme values hit ±127 exactly
    assert(out((0L, 0L))._1 == 127L)  // 1.0 is the max |x| of dim 0
    assert(out((1L, 1L))._1 == 127L)  // 4.0 max of dim 1
    assert(out((0L, 1L))._1 == -64L)  // -2/ (4/127) = -63.5 -> half-up -64
    // zero dimension: scale 0 guard, code 0
    assert(out((0L, 2L)) == ((0L, 0.0)))
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    out.foreach { case ((id, dim), (code, scale)) =>
      assert(math.abs(code) <= 127)
      // scale in the output is rounded to 9dp; allow that quantum in the bound
      val err = math.abs(raw(id)(dim.toInt).toDouble - code * scale)
      assert(err <= scale / 2 + 127 * 1e-9, s"roundtrip err $err > ${scale / 2}")
    }
  }

  test("quantizeInt8Clipped: outlier saturates at ±127 instead of crushing the scale") {
    // dim 0: values mostly ~1 with one 1000x outlier. Max-scale (q120) maps
    // the normal values to code 0; the p-quantile scale keeps them resolved
    // and saturates the outlier.
    val vecs = ((0L until 99L).map(i => (i, Array(1.0f))) :+ (99L, Array(1000.0f)))
      .toDF("vec_id", "embedding")
    val clipped = Similarity.quantizeInt8Clipped(vecs, p = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(clipped(0L) == 127L)   // normal value resolved at full range
    assert(clipped(99L) == 127L)  // outlier saturates, not overflows
    val maxScale = Similarity.quantizeInt8(vecs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(maxScale(0L) == 0L)    // the failure mode the clip fixes
    assert(maxScale(99L) == 127L)
  }

  test("ivfTopK nProbe bounds the scanned buckets (fewer probes, subset results)") {
    graft.functions.VectorFunctions.register(spark)
    val queries = corpus.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding")
    // 3 centroids (= vecs 0,1,2), nProbe=1: only vectors assigned to query
    // 0's nearest centroid (c0) are candidates. Bucket c0 = {0, 4, 5}: vec1
    // goes to c1 (cos 1.0), vec2/3 to c2, vec4 ties 0 everywhere (first
    // centroid wins), vec5's c0 cosine 0.1104 edges out c1's 0.1097. The
    // nearer vec1 being EXCLUDED is exactly the IVF probe approximation.
    val out = Similarity.ivfTopK(corpus, queries, 5, nCentroids = 3, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(0L, 4L, 5L), s"probed bucket mismatch: $out")
  }

  test("randomProject: known matrix algebra, deterministic sign matrix, scale") {
    // direct MatVecProject check with a hand-built matrix
    val m = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(1.0f, 1.0f))
    val bc = spark.sparkContext.broadcast(m)
    val df = Seq((0L, Array(2.0f, 3.0f))).toDF("vec_id", "embedding")
    val y = df.select(graft.functions.VectorFunctions
        .matVecProject(spark, $"embedding", bc, 0.5).as("y"))
      .as[Array[Double]].head()
    assert(y.toSeq == Seq(1.0, 1.5, 2.5))
    // the JL matrix is ±1-valued and reproducible call-to-call
    val s1 = Similarity.jlSignMatrix(4, 8)
    val s2 = Similarity.jlSignMatrix(4, 8)
    assert(s1.flatten.forall(v => v == 1.0f || v == -1.0f))
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    // projected output has outDim entries and matches a local mat-vec
    val out = Similarity.randomProject(corpus, outDim = 4, inDim = 64)
      .filter($"vec_id" === 0L).select($"projected").as[Array[Double]].head()
    val x = corpus.filter($"vec_id" === 0L)
      .select($"embedding").as[Array[Float]].head()
    val expect = Similarity.jlSignMatrix(4, 64).map { row =>
      row.zip(x.padTo(64, 0.0f)).map { case (a, b) => a.toDouble * b.toDouble }
        .sum * 0.5
    }
    assert(out.length == 4)
    out.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("mmrRerank diversifies: near-dup of the top pick defers to the diverse one") {
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)),       // rel 1.0 to the query
      (2L, Array(0.9999f, 0.01f)),   // nearly identical direction to id 1
      (3L, Array(0.5f, 0.5f))        // diverse: cos ~0.707 to both
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "embedding")
    // λ=0.3 weights diversity over relevance: expect 1, then 3, then 2
    val out = Similarity.mmrRerank(tiny, q, nCandidates = 3, k = 3, lambda = 0.3)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 2L))
    assert(out(0)._3 == 1L && out(2)._3 == 3L)
    // step-1 score is λ·rel with no penalty; later scores strictly smaller
    assert(math.abs(out(0)._2 - 0.3) < 1e-9)
    assert(out(1)._2 > out(2)._2)
    // plain top-k at λ=1.0 degenerates to relevance order 1, 2, 3
    val plain = Similarity.mmrRerank(tiny, q, nCandidates = 3, k = 3, lambda = 1.0)
      .orderBy($"rank").collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L, 3L))
  }

  test("recallAtK: hit counting, zero-hit queries survive, rounding") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L), (3L, 31L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 21L), (2L, 99L), (3L, 98L), (3L, 99L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(exact, approx, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((2L, 1.0)))
    assert(out(2L) == ((1L, 0.5)))
    assert(out(3L) == ((0L, 0.0))) // no hits, still reported
  }

  test("labelCentroidShift: identical halves score cosine 1, orthogonal halves 0") {
    // label 1: every vector (1,0) -> half centroids identical
    // label 2: even ids (1,0), odd ids (0,1) -> orthogonal half centroids
    val rows = Seq(
      (0L, Array(1f, 0f), 1), (1L, Array(1f, 0f), 1),
      (2L, Array(1f, 0f), 1), (3L, Array(1f, 0f), 1),
      (10L, Array(1f, 0f), 2), (11L, Array(0f, 1f), 2),
      (12L, Array(1f, 0f), 2), (13L, Array(0f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidShift(rows, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1) == ((2L, 2L, 1.0, 0.0)))
    assert(out(2) == ((2L, 2L, 0.0, 1.0))) // |1-0| + |0-1| over 2 dims -> 1
    // a label whose docs ALL land in one parity half is the instability the
    // audit exists to surface: it must appear with a null cosine, not vanish
    val lop = rows.unionByName(Seq((20L, Array(1f, 0f), 3), (22L, Array(1f, 0f), 3))
      .toDF("vec_id", "embedding", "label"))
    val shifted = Similarity.labelCentroidShift(lop, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.isNullAt(3)))).toMap
    assert(shifted(3) == ((2L, 0L, true)), s"one-half label: ${shifted.get(3)}")
  }

  test("pairDistanceProfile matches a brute-force recomputation of the pair sample") {
    val e = dim64 // ids 0..9; A = evens, B = multiples of 3, pairs id_a < id_b
    val out = Similarity.pairDistanceProfile(e, "vec_id", "embedding",
      modA = 2, modB = 3, ps = Seq(0.5)).collect()(0)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, na, nb), (x, y)) =>
          (d + x.toDouble * y.toDouble, na + x.toDouble * x.toDouble,
            nb + y.toDouble * y.toDouble)
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val pairs = for {
      a <- vecs.keys.toSeq if a % 2 == 0
      b <- vecs.keys.toSeq if b % 3 == 0 && a < b
    } yield cos(vecs(a), vecs(b))
    assert(out.getLong(0) == pairs.length.toLong)
    val sorted = pairs.sorted
    val p50 = sorted(math.ceil(0.5 * pairs.length).toInt - 1)
    assert(math.abs(out.getDouble(4) - p50) < 1e-6, "ceil-rank median")
    assert(math.abs(out.getDouble(2) - sorted.head) < 1e-6)
    assert(math.abs(out.getDouble(3) - sorted.last) < 1e-6)
    assert(math.abs(out.getDouble(1) - pairs.sum / pairs.length) < 1e-6)
  }

  private def dim64 = {
    // deterministic 64-d vectors with mixed signs
    def v(seed: Int) = Array.tabulate(64)(i =>
      (((seed * 31 + i * 17) % 7) - 3).toFloat / 4f)
    (0L to 9L).map(id => (id, v(id.toInt))).toDF("vec_id", "embedding")
  }

  test("signBits packs the sign pattern; hammingTopK rank 1 = self at distance 0") {
    val packed = dim64.select($"vec_id",
        Similarity.signBits($"embedding", 64).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(packed.values.forall(_.length == 1))
    // replay the pack in Scala and compare bit-for-bit
    val rows = dim64.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for ((id, vec) <- rows) {
      val expected = vec.zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
        if (x >= 0f) acc + (1L << i) else acc
      }
      assert(packed(id).head == expected, s"id $id")
    }
    val queries = dim64.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val top = Similarity.hammingTopK(dim64, queries, k = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(top((0L, 1)) == ((0L, 0L))) // self at hamming 0
    assert(top((1L, 1)) == ((1L, 0L)))
  }

  test("ivfPqTopK with nProbe = nCentroids equals the full-scan pqTopK") {
    val e = dim64
    val queries = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val full = {
      val book = Similarity.pqCodebook(e, m = 8, ksub = 4)
      Similarity.pqTopK(Similarity.pqEncode(e, book), queries, book, k = 4)
    }
    val ivf = Similarity.ivfPqTopK(e, queries, k = 4,
      nCentroids = 4, nProbe = 4, m = 8, ksub = 4)
    assert(rowsOf(ivf) == rowsOf(full))
  }

  test("rankEval: perfect order, full reversal, and a total miss") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3)
    ).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), // identical -> mrr=ndcg=1
      (2L, 22L, 1), (2L, 21L, 2), (2L, 20L, 3), // reversed -> mrr=1/3, ndcg=1
      (3L, 90L, 1), (3L, 91L, 2), (3L, 92L, 3)  // disjoint -> 0, 0
    ).toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.rankEval(exact, approx, 3)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((1.0, 1.0)))
    // full reversal: every exact member still present -> binary nDCG stays
    // 1.0 (that is recall's blind spot too); MRR sees the top-1 at rank 3
    assert(out(2L) == ((0.3333, 1.0)))
    assert(out(3L) == ((0.0, 0.0)))
  }

  test("rankEval: partial overlap discounts by approx position") {
    import spark.implicits._
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "neighbor_id", "rank")
    // top-1 recovered at rank 2; exact #2 missing entirely
    val approx = Seq((1L, 99L, 1), (1L, 10L, 2)).toDF("query_id", "neighbor_id", "rank")
    val r = Similarity.rankEval(exact, approx, 2).collect()(0)
    assert(r.getDouble(1) == 0.5) // mrr = 1/2
    val idcg = 1.0 / (math.log(2) / math.log(2)) + 1.0 / (math.log(3) / math.log(2))
    val expected = math.rint((1.0 / (math.log(3) / math.log(2))) / idcg * 10000) / 10000
    assert(r.getDouble(2) == expected)
  }

  test("rrfFuse: self tops both lists and wins the fused rank") {
    val e = dim64
    val queries = e.filter($"vec_id" === 5L)
      .select($"vec_id".as("query_id"), $"embedding")
    val rows = Similarity.rrfFuse(e, queries, nCandidates = 5, k = 3).collect()
    assert(rows.length == 3)
    // self: cosine rank 1 AND l2 rank 1 -> rrf = 2/61, fused rank 1
    val first = rows.find(_.getLong(5) == 1L).get
    assert(first.getLong(1) == 5L)
    assert(first.getLong(2) == 1L && first.getLong(3) == 1L)
    assert(math.abs(first.getDouble(4) - 2.0 / 61.0) < 1e-8)
  }

  test("truncatedTopK equals brute force over pre-sliced vectors") {
    val e = dim64
    val queries = e.filter($"vec_id" < 3L)
      .select($"vec_id".as("query_id"), $"embedding")
    val got = Similarity.truncatedTopK(e, queries, k = 4, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val sliced = e.withColumn("embedding", slice($"embedding", 1, 16))
    val qSliced = queries.withColumn("embedding", slice($"embedding", 1, 16))
    val want = Similarity.bruteForceTopK(sliced, qSliced, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
    // full-width truncation is the identity: same ranks as the plain search
    val full = Similarity.truncatedTopK(e, queries, k = 4, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val plain = Similarity.bruteForceTopK(e, queries, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == plain)
  }

  test("reciprocalMatches: mutual top-1 only, margin rewards isolated pairs") {
    graft.functions.VectorFunctions.register(spark)
    // A = {0: x-axis, 2: y-axis}, B = {1: near-x, 3: near-y, 5: between}
    val a = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val b = Seq(
      (1L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(0.01f, 0.99f, 0.0f)),
      (5L, Array(0.7f, 0.7f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.reciprocalMatches(a, b, kMargin = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // 0<->1 and 2<->3 are mutual top-1; 5's top-1 (0 or 2) already has a
    // closer partner, so 5 never appears
    assert(out.keySet == Set((0L, 1L), (2L, 3L)))
    // margin > 1: the matched cosine beats the mean of each side's 2-NN
    assert(out.values.forall(_ > 1.0))
  }

  test("hammingRerankTopK: full shortlist recovers the exact ranking sign bits can't see") {
    graft.functions.VectorFunctions.register(spark)
    // ALL-POSITIVE vectors: identical sign patterns, so one-stage Hamming
    // is blind (every distance 0, ranks collapse to id order) while the
    // exact rerank separates them by true cosine — the pathological case
    // the two-stage design exists for
    val docs = (0 until 20).map { j =>
      val v = Array.fill(64)(0.1f); v(j) = 1.0f; (j.toLong, v)
    }.toDF("vec_id", "embedding")
    val qs = docs.filter($"vec_id" === 7L)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Similarity.bruteForceTopK(docs, qs, 3)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toMap
    assert(exact(1) == 7L, "self first")
    val rerank = Similarity.hammingRerankTopK(docs, qs, k = 3,
        nShortlist = 20, dim = 64)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toMap
    assert(rerank == exact, "full shortlist + exact rerank = brute force")
    val oneStage = Similarity.hammingTopK(docs, qs, k = 3, dim = 64)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toMap
    assert(oneStage(1) == 0L && oneStage(2) == 1L,
      "sign-blind one-stage collapses to id order — the gap rerank closes")
    // a shortlist SMALLER than the corpus still returns exactly k rows
    val narrow = Similarity.hammingRerankTopK(docs, qs, k = 3,
      nShortlist = 5, dim = 64).collect()
    assert(narrow.length == 3)
  }

  test("knnClassifierEval: planted clusters classify perfectly, LOO holds") {
    import spark.implicits._
    // two tight cones: label 1 near e1, label 2 near e2 — 3-NN of any
    // member (self excluded) is its own cluster
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 1L), (2L, Array(0.9f, 0.1f), 1L),
      (3L, Array(0.95f, 0.05f), 1L), (4L, Array(0.85f, 0.15f), 1L),
      (5L, Array(0.0f, 1.0f), 2L), (6L, Array(0.1f, 0.9f), 2L),
      (7L, Array(0.05f, 0.95f), 2L), (8L, Array(0.15f, 0.85f), 2L)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassifierEval(vecs, lit(true), k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 4L, 1.0)) && out(2L) == ((4L, 4L, 1.0)))
  }

  test("labelAnisotropy: sum-vector identity hits the closed-form cases") {
    import spark.implicits._
    val vecs = Seq(
      ("dup", Array(3.0f, 0.0f)), ("dup", Array(1.0f, 0.0f)), // same ray
      ("orth", Array(1.0f, 0.0f)), ("orth", Array(0.0f, 1.0f)),
      ("anti", Array(1.0f, 0.0f)), ("anti", Array(-1.0f, 0.0f)),
      ("solo", Array(1.0f, 1.0f)),                  // n=1: dropped
      ("zero", Array(0.0f, 0.0f)), ("zero", Array(1.0f, 0.0f))
    ).toDF("label", "embedding")
    val out = Similarity.labelAnisotropy(vecs, "embedding", "label")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out("dup") == ((2L, 2.0, 1.0)), "same direction: cos 1, norms 3,1")
    assert(out("orth") == ((2L, 1.0, 0.0)))
    assert(out("anti") == ((2L, 1.0, -1.0)))
    assert(!out.contains("solo"), "singleton class has no pairs")
    assert(!out.contains("zero"), "zero vector filtered, leaving a singleton")
  }

  test("farthestPointSample: greedy k-center trajectory, ties to smaller id") {
    import spark.implicits._
    // three axis clusters: each axis pair is near-identical, axes orthogonal
    val out = Similarity.farthestPointSample(corpus, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), "rounds 0..k-1")
    // seed = min id; then the two remaining axes (exact d=1 ties -> smaller
    // id first), then any near-duplicate (three-way exact tie -> id 1)
    assert(out.map(_._2).toSeq == Seq(0L, 2L, 4L, 1L))
    assert(out(0)._3.isEmpty, "seed has no covering distance")
    assert(out(1)._3.contains(1.0) && out(2)._3.contains(1.0))
    val last = out(3)._3.get
    assert(last > 0.004 && last < 0.008, s"near-dup radius, got $last")
    assert(out.flatMap(_._3).sliding(2).forall(p => p(0) >= p(1)),
      "covering radius curve is monotone non-increasing")
    // a corpus smaller than k yields its full trajectory, not a crash
    val tiny = Similarity.farthestPointSample(
      corpus.filter($"vec_id" < 2L), k = 5).collect()
    assert(tiny.length == 2)
  }

  test("tripletEval: aligned geometry scores margin +1, crossed geometry violates") {
    import spark.implicits._
    // labels cycle A->B->A; rank r pairs with rank r of the next label
    val good = Seq(
      ("A", 1L, Array(1.0f, 0.0f)), ("A", 2L, Array(1.0f, 0.0f)),
      ("B", 3L, Array(0.0f, 1.0f)), ("B", 4L, Array(0.0f, 1.0f))
    ).toDF("label", "vec_id", "embedding")
    val g = Similarity.tripletEval(good).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // anchor r1 -> pos r2 (cos 1), neg = other label r1 (cos 0): margin 1
    assert(g("A") == ((1L, 0L, 0.0, 1.0)) && g("B") == ((1L, 0L, 0.0, 1.0)))
    val bad = Seq(
      ("A", 1L, Array(1.0f, 0.0f)), ("A", 2L, Array(0.0f, 1.0f)),
      ("B", 3L, Array(1.0f, 0.0f)), ("B", 4L, Array(0.0f, 1.0f))
    ).toDF("label", "vec_id", "embedding")
    val b = Similarity.tripletEval(bad).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    // pos is orthogonal (cos 0), neg is identical (cos 1): margin -1
    assert(b("A") == ((1L, 1.0, -1.0)) && b("B") == ((1L, 1.0, -1.0)))
  }
}
