package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashes

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard and embedding-cosine near-dup. All set operations
  * are expressed as shuffled group-bys / joins on compact keys (never
  * pairwise over the full corpus), so every method scales to the
  * 100 TB / 10^10-document regime:
  *
  *   - exact: one shuffle on a 128-bit fingerprint;
  *   - MinHash LSH: pair candidates only meet inside an LSH band bucket —
  *     the classic band/bucket join bounds the candidate set;
  *   - SimHash: 64-bit signature grouped by rotated prefix bands;
  *   - verification joins are bounded by candidate pairs, not n^2.
  *
  * Hashing uses [[Hashes.portableHash32]] (md5-derived) so signatures are
  * engine-reproducible and DuckDB-oracle-checkable.
  */
object Dedup {

  /** Normalized word tokens: lowercase, split on whitespace. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Word k-shingles of a text column as an array of strings; docs shorter
    * than k tokens get an empty array. Computed by the native codegen-path
    * [[graft.functions.Shingles]] expression — the original
    * `transform(sequence(...), i => concat_ws(" ", slice(...)))` HOF
    * formulation evaluated interpreted per position (TextHashParitySpec
    * pins the two bit-for-bit equal). */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.TextHashFunctions.shingles(text, k)

  // -------------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------------

  /** Exact dedup: md5 fingerprint group-by, keeping the smallest id per group.
    * One shuffle on the fingerprint; at scale, partial aggregation makes the
    * map side emit one row per (partition, fp). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", md5(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: rows of `batch` whose text fingerprint is NOT
    * already in `corpus` — the continuous-ingestion shape (dedupe each new
    * crawl increment against everything already ingested). One shuffle on
    * the 128-bit fingerprint; at scale the corpus side is the pre-computed
    * fingerprint table, not a re-scan. */
  def incrementalNew(batch: DataFrame, corpus: DataFrame, textCol: String): DataFrame = {
    val b = batch.withColumn("__fp", md5(col(textCol)))
    val seen = corpus.select(md5(col(textCol)).as("__fp")).distinct()
    b.join(seen, Seq("__fp"), "left_anti").drop("__fp")
  }

  /** Survivors of exact dedup (the deduplicated corpus). */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // -------------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------------

  /** MinHash signature: each shingle is md5'd ONCE, then folded into the
    * n-vector of elementwise minima of the affine mix family
    * ([[Hashes.mixConstants]]) — n multiplies per shingle instead of n md5s.
    * Docs with no shingles yield the all-MixP sentinel signature. Computed
    * by the native [[graft.functions.MinHashSig]] expression; the original
    * `aggregate`/`zip_with` HOF fold ran interpreted per shingle per hash
    * (TextHashParitySpec pins the two bit-for-bit equal). */
  def minHashSignature(text: Column, numHashes: Int, shingleK: Int = 3): Column =
    graft.functions.TextHashFunctions.minHashSig(text, numHashes, shingleK)

  /** LSH candidate pairs: signatures split into `bands` bands of
    * `rowsPerBand`; docs sharing any full band land in the same bucket.
    * Returns distinct candidate (id_a, id_b) pairs with id_a < id_b.
    *
    * Scale: the only shuffles are (a) explode->groupBy on (band, bucket) and
    * (b) the self-join WITHIN buckets; skewed mega-buckets (e.g. empty docs)
    * should be length-filtered upstream. */
  def minHashCandidates(df: DataFrame, textCol: String, idCol: String,
                        bands: Int = 4, rowsPerBand: Int = 4,
                        shingleK: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Materialize signatures ONCE: the HOF pipeline (transform/array_min) is
    // interpreted, not codegen'd, and Catalyst's CollapseProject would inline
    // it `bands` times into the banding projection and again into each side
    // of the self-join. At cluster scale this is "persist the signature
    // table before the LSH join" — storage is O(docs × numHashes) longs.
    val sig = graft.Tables.widen(df).select(col(idCol).as("id"),
      minHashSignature(col(textCol), numHashes, shingleK).as("sig"))
      .localCheckpoint()

    val banded = sig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
    ).as(Seq("band", "bucket")))

    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** LSH bucket-size profile — the pre-flight run BEFORE
    * [[minHashCandidates]]'s self-join: per band, how many buckets exist,
    * how many hold >= 2 docs, the largest bucket, and the implied
    * candidate-pair volume sum(s*(s-1)/2). The pair volume is exactly what
    * the within-bucket self-join will produce, so this one cheap group-by
    * (no join) is the go / no-go check for candidate explosion — the same
    * role q164's CMS estimate plays for equi-joins, specialized to the
    * banding. At scale the answer decides the operating point: a band
    * whose implied pairs blow past budget needs more rows per band (or a
    * boilerplate filter upstream), and this report names the band and the
    * bucket size that did it before any quadratic work runs. */
  def lshBucketProfile(df: DataFrame, textCol: String, idCol: String,
                       bands: Int = 4, rowsPerBand: Int = 4,
                       shingleK: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    val banded = graft.Tables.widen(df).select(col(idCol).as("id"),
      minHashSignature(col(textCol), numHashes, shingleK).as("sig"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
      ).as(Seq("band", "bucket")))
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(when(col("s") >= 2, 1L).otherwise(0L)).cast("long").as("n_multi"),
        max(col("s")).cast("long").as("max_bucket"),
        // integer throughout: Σ s·(s−1) is even, so the halving is exact
        // under `div` long arithmetic — Divide would route through double
        // and lose exactness past 2^53 implied pairs under extreme skew
        expr("sum(s * (s - 1)) div 2").cast("long").as("cand_pairs"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("n_multi"), col("max_bucket"), col("cand_pairs"))
  }

  /** Exact Jaccard similarity between two docs' shingle sets (verification
    * step after LSH candidate generation). */
  def verifiedNearDups(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double, bands: Int = 4, rowsPerBand: Int = 4,
                       shingleK: Int = 3): DataFrame = {
    val cands = minHashCandidates(df, textCol, idCol, bands, rowsPerBand, shingleK)
    // shingle sets are joined twice (id_a and id_b side) — compute once.
    // Verification runs over 64-BIT HASHED shingle sets: Jaccard over the
    // hashed sets equals Jaccard over the strings (within-pair collision
    // odds ~1e-15), and long-array intersect/union beats string-array by the
    // width of the strings.
    val sets = graft.Tables.widen(df).select(col(idCol).as("id"),
      array_distinct(graft.functions.TextHashFunctions.shingleHashes64(
        col(textCol), shingleK)).as("sh"))
      .localCheckpoint()
    cands
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      // |A∪B| = |A| + |B| − |A∩B| over distinct sets: same integer, no
      // per-pair union-array materialization (r18 — guide §1.2 per-task)
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Persistable MinHash signature index: (id, sig, shset) — the corpus
    * shingled, 64-bit-hashed, and signed ONCE, in the shape
    * [[incrementalNearDups]] joins against. At scale this is a real table
    * (write it partitioned/bucketed next to the corpus and append each
    * accepted batch's rows); re-signing a 100 TB corpus per incoming batch
    * is the cost this index exists to avoid. `shset` carries the 64-bit
    * shingle hashes for the exact-Jaccard verify (same hashed-set
    * equivalence as [[verifiedNearDups]]). */
  def minHashIndexTable(df: DataFrame, textCol: String, idCol: String,
                        bands: Int = 4, rowsPerBand: Int = 4,
                        shingleK: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    graft.Tables.widen(df).select(col(idCol).as("id"),
      minHashSignature(col(textCol), numHashes, shingleK).as("sig"),
      array_distinct(graft.functions.TextHashFunctions.shingleHashes64(
        col(textCol), shingleK)).as("shset"))
  }

  /** Incremental near-dup detection: pairs between a NEW batch and an
    * already-signed corpus index ([[minHashIndexTable]]) — the form an
    * ingestion pipeline actually runs ("is anything in today's crawl a
    * near-dup of the corpus?"). The batch is signed once (it's small), both
    * sides band by projection (no re-shingling of the corpus — its
    * signatures come off the index), candidates are the cross-set band-
    * bucket matches, and the exact-Jaccard verify joins the shingle sets
    * back by id so the banded join stays narrow (ids only, not arrays).
    * Returns (corpus_id, batch_id, jaccard >= threshold). In-batch
    * duplicates are [[verifiedNearDups]]'s job on the batch alone; rows
    * present on both sides pair as equal ids and are excluded. */
  def incrementalNearDups(batch: DataFrame, index: DataFrame,
                          textCol: String, idCol: String, threshold: Double,
                          bands: Int = 4, rowsPerBand: Int = 4,
                          shingleK: Int = 3): DataFrame = {
    val newSigs = minHashIndexTable(batch, textCol, idCol, bands, rowsPerBand,
      shingleK).localCheckpoint()
    def banded(sigs: DataFrame) = sigs.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
    ).as(Seq("band", "bucket")))
    val cands = banded(index).alias("c").join(banded(newSigs).alias("n"),
        col("c.band") === col("n.band") && col("c.bucket") === col("n.bucket") &&
        col("c.id") =!= col("n.id"))
      .select(col("c.id").as("corpus_id"), col("n.id").as("batch_id"))
      .distinct()
    cands
      .join(index.select(col("id").as("corpus_id"), col("shset").as("sh_c")), "corpus_id")
      .join(newSigs.select(col("id").as("batch_id"), col("shset").as("sh_n")), "batch_id")
      .withColumn("inter", size(array_intersect(col("sh_c"), col("sh_n"))).cast("double"))
      // |A∪B| arithmetically from distinct sets (r18, see verifiedNearDups)
      .withColumn("uni",
        (size(col("sh_c")) + size(col("sh_n"))).cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select("corpus_id", "batch_id", "jaccard")
  }

  // -------------------------------------------------------------------------
  // persisted MinHash index (ParquetTable-backed)
  // -------------------------------------------------------------------------

  final case class MinHashIndexParams(bands: Int, rowsPerBand: Int,
                                      shingleK: Int)

  private def indexParamsPath(path: String) =
    s"$path/minhash_params.properties"

  /** Materialize [[minHashIndexTable]] as a REAL on-disk artifact — the
    * dedup twin of [[graft.operators.Similarity.writeIvfIndex]]: the corpus
    * shingled, hashed, and signed ONCE into a
    * [[graft.merge.ParquetTable]] at `path/index`, with the banding
    * parameters pinned in a sidecar file. The ParquetTable commit log makes
    * every later append and compaction atomic (files no commit lists are
    * invisible to readers) and idempotent under foreachBatch txn replay —
    * the same guarantees the SCD sinks ride.
    *
    * Pinning (bands, rowsPerBand, shingleK) IN the artifact is the
    * operational point: a reader or appender joining with different
    * banding than the signatures were built with would silently produce
    * wrong candidates, so [[appendToMinHashIndex]] and
    * [[nearDupsAgainstIndex]] take NO banding knobs — they read the
    * pinned ones. At 100 TB this index is the thing that makes per-batch
    * dedup affordable: each incoming batch pays one signature pass over
    * ITSELF, never over the corpus. */
  def writeMinHashIndex(df: DataFrame, path: String,
                        textCol: String = "text", idCol: String = "doc_id",
                        bands: Int = 4, rowsPerBand: Int = 2,
                        shingleK: Int = 3): Unit = {
    val spark = df.sparkSession
    // delete ONLY this artifact's own known paths — never the whole
    // caller-supplied directory (a typo'd or shared root must not lose
    // unrelated data)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    Seq(s"$path/index", indexParamsPath(path)).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    minHashIndex(spark, path).create(minHashIndexTable(df, textCol, idCol,
      bands, rowsPerBand, shingleK))
    val out = fs.create(new org.apache.hadoop.fs.Path(indexParamsPath(path)),
      true)
    try out.write(
      s"bands=$bands\nrowsPerBand=$rowsPerBand\nshingleK=$shingleK\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readMinHashIndexParams(spark: org.apache.spark.sql.SparkSession,
                             path: String): MinHashIndexParams = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(indexParamsPath(path)))
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val kv = text.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.toInt }.toMap
    MinHashIndexParams(kv("bands"), kv("rowsPerBand"), kv("shingleK"))
  }

  private def minHashIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String) =
    new graft.merge.ParquetTable(spark, s"$path/index")

  /** Sign `batch` with the index's pinned parameters and append its rows
    * to the index table — one signature pass over the batch and one write
    * of BATCH-sized data (a ParquetTable append only adds files), never a
    * rewrite of the corpus-sized index. Atomic and replay-safe like every
    * ParquetTable commit: a crashed append is invisible, a replayed `txn`
    * (appId, batchId) is a no-op. The usual flow:
    * [[nearDupsAgainstIndex]] first (dedup the batch against everything
    * accepted so far), drop the dups, then append the survivors;
    * [[compactMinHashIndex]] packs the accumulated small files nightly. */
  def appendToMinHashIndex(batch: DataFrame, path: String,
                           textCol: String = "text",
                           idCol: String = "doc_id",
                           txn: Option[(String, Long)] = None): Unit = {
    val spark = batch.sparkSession
    val p = readMinHashIndexParams(spark, path)
    minHashIndex(spark, path).append(minHashIndexTable(batch, textCol, idCol,
      p.bands, p.rowsPerBand, p.shingleK), txn = txn)
  }

  /** The index's visible signature rows (its latest committed version). */
  def minHashIndexRows(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    minHashIndex(spark, path).read

  /** Pack the index's files — the dedup index's OPTIMIZE
    * ([[graft.merge.ParquetTable.compact]]): per-append files otherwise
    * accumulate one file-open tax per night forever. Compaction changes
    * LAYOUT, never results — [[nearDupsAgainstIndex]] reads the same row
    * set before and after (the q321 gate + DedupSpec pin it) — and, like
    * every ParquetTable commit, it is atomic. */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    minHashIndex(spark, path).compact()

  /** [[incrementalNearDups]] against the PERSISTED index: read the committed
    * signature rows, join the batch's banded
    * keys — the per-batch dedup a continuously-ingested corpus runs without
    * ever re-signing itself. */
  def nearDupsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, batch: DataFrame,
                           textCol: String = "text",
                           idCol: String = "doc_id",
                           threshold: Double = 0.2): DataFrame = {
    val p = readMinHashIndexParams(spark, path)
    incrementalNearDups(batch, minHashIndexRows(spark, path), textCol, idCol,
      threshold, p.bands, p.rowsPerBand, p.shingleK)
  }

  // -------------------------------------------------------------------------
  // n-gram Jaccard (exact all-pairs within a candidate join)
  // -------------------------------------------------------------------------

  /** Exact n-gram Jaccard between all pairs that share at least one shingle
    * (inverted-index join: explode shingles -> self-join on shingle). Bounded
    * by shingle-posting-list sizes, not n^2; hot shingles should be
    * stop-listed at scale (see `maxPostings`). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleK: Int = 3, threshold: Double = 0.5,
                        maxPostings: Int = 1000): DataFrame = {
    // computed once: postings (×2 join sides) and verification sets (×2)
    // would otherwise each re-run the shingling pipeline. Shingles enter the
    // index as 64-BIT HASHES: the posting shuffle and self-join move 8-byte
    // longs instead of multi-word strings, df_counts/Jaccard are unchanged
    // within ~1e-8 collision odds, and a colliding shingle merely merges two
    // posting lists — extra candidates the exact verify rejects.
    val sets = graft.Tables.widen(df).select(col(idCol).as("id"),
      array_distinct(graft.functions.TextHashFunctions.shingleHashes64(
        col(textCol), shingleK)).as("sh"))
      .localCheckpoint()
    val postings = sets.select(col("id"), explode(col("sh")).as("g"))
    // stop-list shingles with huge posting lists (they explode the join and
    // add no discriminative signal)
    val rare = postings.groupBy("g").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxPostings)
    val pruned = postings.join(rare, "g")
    val candPairs = pruned.alias("a").join(pruned.alias("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candPairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      // |A∪B| = |A| + |B| − |A∩B| over distinct sets: same integer, no
      // per-pair union-array materialization (r18 — guide §1.2 per-task)
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Benchmark-contamination check: for every (train doc, benchmark doc)
    * pair sharing word `shingleK`-grams, the CONTAINMENT of the benchmark
    * doc's gram set in the train doc — `|train ∩ bench| / |bench|` — the
    * standard n-gram decontamination test run before training (a train doc
    * containing most of a benchmark doc's n-grams leaks that benchmark).
    * Containment, not Jaccard: a short benchmark fully quoted inside a long
    * train doc has low Jaccard but containment ~1.
    *
    * Shape mirrors [[ngramJaccardPairs]]: grams enter the join as 64-bit
    * hashes, candidates come from the inverted index (train side pruned by
    * `maxPostings`), and the per-pair count is bounded by the benchmark
    * doc's gram count. The benchmark corpus is typically tiny next to the
    * training corpus — the posting join shuffles train grams once; nothing
    * is quadratic in the train side. */
  def ngramContainment(train: DataFrame, bench: DataFrame,
                       textCol: String, idCol: String,
                       shingleK: Int = 8, threshold: Double = 0.5,
                       maxPostings: Int = 1000): DataFrame = {
    def sets(df: DataFrame, out: String) =
      graft.Tables.widen(df).select(col(idCol).as(out),
        array_distinct(graft.functions.TextHashFunctions.shingleHashes64(
          col(textCol), shingleK)).as("sh"))
    // the train posting table feeds BOTH the stoplist count and the join —
    // checkpoint the per-doc gram sets so the corpus is shingled ONCE (the
    // explode itself is cheap; re-hashing the whole training corpus twice
    // would dominate at scale). Same pattern as ngramJaccardPairs.
    val trainSets = sets(train, "tid").localCheckpoint()
    val trainPosts = trainSets.select(col("tid"), explode(col("sh")).as("g"))
    val benchSets = sets(bench, "bid").localCheckpoint()
    val benchPosts = benchSets.select(col("bid"), explode(col("sh")).as("g"))
    val benchN = benchSets.select(col("bid"), size(col("sh")).as("n_bench"))
    val rare = trainPosts.groupBy("g").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxPostings)
    val shared = trainPosts.join(rare, "g").join(benchPosts, "g")
      .groupBy(col("tid"), col("bid"))
      .agg(count(lit(1)).as("n_shared")) // posting sets are distinct per doc
    shared.join(benchN, "bid")
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_bench"), 4))
      .filter(col("containment") >= threshold)
      .select(col("tid").as("train_id"), col("bid").as("bench_id"),
        col("n_shared").cast("long").as("n_shared"), col("containment"))
  }

  /** Benchmark-contamination SPANS: for each (train, bench) document pair
    * sharing at least `minRun` CONSECUTIVE word k-shingles, the length of
    * the longest shared run — the "longest common substring (in tokens)"
    * signal behind span-level decontamination (the GPT-3/PaLM 13-gram
    * overlap checks report presence; this reports extent, which is what
    * decides between dropping the document and excising the span).
    *
    * Positions matter, so shingles explode with posexplode and pairs meet
    * on the shingle hash; a run of shared shingles is a gaps-and-islands
    * group on the (train_pos - bench_pos) diagonal: consecutive matched
    * positions on one diagonal have constant pos - row_number. The island
    * window partitions by (pair, diagonal) — bounded by the matched-gram
    * count of one document pair, never global. Grams appearing in more
    * than `maxPostings` training docs are stop-listed before the join
    * (same quadratic-bucket guard as [[ngramContainment]]); a run that
    * crosses a stop-listed gram splits into two islands, so boilerplate
    * can only UNDER-report a span, never invent one. */
  def crossCorpusMaxRun(train: DataFrame, bench: DataFrame,
                        textCol: String, idCol: String,
                        shingleK: Int = 8, minRun: Int = 2,
                        maxPostings: Int = 1000): DataFrame = {
    def posts(df: DataFrame, out: String, pos: String) =
      graft.Tables.widen(df).select(col(idCol).as(out),
        posexplode(graft.functions.TextHashFunctions.shingleHashes64(
          col(textCol), shingleK)).as(Seq(pos, "g")))
    val tp = posts(train, "tid", "pa")
    val bp = posts(bench, "bid", "pb")
    val keep = tp.select(col("tid"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= maxPostings).select("g")
    val matches = tp.join(keep, "g").join(bp, "g")
      .select(col("tid"), col("bid"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy(col("tid"), col("bid"), col("diag"))
      .orderBy(col("pa"))
    val runs = matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("tid"), col("bid"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("tid"), col("bid"))
      .agg(max(col("run_len")).as("mr"))
      .filter(col("mr") >= minRun)
      .select(col("tid").as("train_id"), col("bid").as("bench_id"),
        col("mr").cast("long").as("max_run"),
        (col("mr") + lit(shingleK - 1)).cast("long").as("span_tokens"))
  }

  /** Exact-substring near-dup candidates by ALIGNED character windows:
    * every doc is cut into `window`-char substrings at stride `stride`; two
    * docs sharing any window hash are reported with their shared-window
    * count. The practical sliding-window approximation of suffix-array
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): a full suffix array is a multi-pass external
    * sort, while this is one projection + one equi-join on an 8-byte hash,
    * at the cost of only catching duplicated spans that cover an aligned
    * window (span length >= window + stride - 1 guarantees a hit).
    *
    * Windows enter the join as md5 hashes: the shuffle moves 16-byte keys,
    * not 64-char strings; a hash collision would need a second-preimage of
    * md5 inside the corpus to produce a false pair. Docs shorter than
    * `window` chars emit nothing. Windows shared by more than `maxPostings`
    * docs are stop-listed before the self-join — a ubiquitous boilerplate
    * window would otherwise create a quadratic bucket (the same guard as
    * [[ngramJaccardPairs]]); dropping it IS the dedup-pipeline behavior
    * (boilerplate is not a duplication signal). */
  def sharedWindowPairs(df: DataFrame, idCol: String, textCol: String,
                        window: Int = 64, stride: Int = 32,
                        maxPostings: Int = 1000): DataFrame = {
    val wins = graft.Tables.widen(df)
      .filter(length(col(textCol)) >= window)
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"), col("t"),
        explode(sequence(lit(0), length(col("t")) - window, lit(stride))).as("p"))
      .select(col("id"), md5(expr(s"substring(t, p + 1, $window)")).as("h"))
      .distinct()
      .localCheckpoint() // windows feed the stoplist count AND both join sides
    val rare = wins.groupBy("h").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxPostings)
    val pruned = wins.join(rare.select("h"), "h")
    pruned.alias("a").join(pruned.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** Edit-distance-verified near-dups: [[sharedWindowPairs]] candidates
    * re-checked with true Levenshtein distance over the full text, keeping
    * pairs within `maxDist`. The classic fuzzy-dedup shape — cheap blocking
    * bounds the candidate set, the O(len^2) DP verify only ever touches
    * candidates, never the corpus cross product. The verify uses Spark's
    * thresholded `levenshtein(l, r, threshold)` (banded DP, O(maxDist*len)
    * per pair instead of O(len^2)), so a blown threshold exits early rather
    * than computing a distance the filter would discard. One extra join per
    * side to re-attach the text (candidates carry only ids across the
    * shuffle — pair rows never carry two document bodies further than the
    * verify projection). */
  def editDistanceNearDups(df: DataFrame, idCol: String, textCol: String,
                           maxDist: Int, window: Int = 64, stride: Int = 32,
                           maxPostings: Int = 1000): DataFrame = {
    val cands = sharedWindowPairs(df, idCol, textCol, window, stride, maxPostings)
      .select(col("id_a"), col("id_b"))
    val texts = graft.Tables.widen(df)
      .select(col(idCol).as("id"), col(textCol).as("t"))
    cands
      .join(texts.select(col("id").as("id_a"), col("t").as("ta")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("t").as("tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 32-bit SimHash over word tokens: bit j of the signature is set when the
    * sum over tokens of (+1 / -1 by the token hash's bit j) is positive.
    * ONE md5 per token, all 32 bit-votes accumulated in a single pass by the
    * native [[graft.functions.SimHashSig]] expression; the original
    * double-`aggregate` HOF pipeline ran interpreted per token per bit
    * (TextHashParitySpec pins the two bit-for-bit equal). */
  def simHash(text: Column): Column =
    graft.functions.TextHashFunctions.simHash(text)

  /** Near-dup pairs by SimHash: Hamming distance <= maxHamming, candidates
    * generated by banding the 32-bit signature into 4 bytes (any equal byte
    * -> candidate; catches all pairs with Hamming <= 3 by pigeonhole). */
  def simHashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sigs = graft.Tables.widen(df).select(col(idCol).as("id"), simHash(col(textCol)).as("sig"))
      .localCheckpoint()
    val banded = sigs.select(col("id"), col("sig"), posexplode(
      array((0 until 4).map(b =>
        shiftright(col("sig"), b * 8).bitwiseAND(lit(255L))): _*)).as(Seq("band", "bucket")))
    val cands = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 64-bit SimHash signature ([[graft.functions.SimHashSig64]]). */
  def simHash64(text: Column): Column =
    graft.functions.TextHashFunctions.simHash64(text)

  /** 128-bit SimHash signature as `array<bigint>` [w0, w1]
    * ([[graft.functions.SimHashSig128]]); w0 equals [[simHash64]]. */
  def simHash128(text: Column): Column =
    graft.functions.TextHashFunctions.simHash128(text)

  /** [[simHashNearDups]]'s SCALE path: the same Hamming <= `maxHamming`
    * near-dup contract, over a 64-BIT signature banded into 4 disjoint
    * 16-bit bands. The pigeonhole guarantee is unchanged (<= 3 differing
    * bits cannot touch all 4 disjoint bands, so every qualifying pair
    * shares a band bucket), but each band now has 2^16 buckets instead of
    * the 32-bit byte-banding's 2^8 — uniform-signature candidate
    * expectation drops 256x, and on the synthetic corpus the scale probe
    * measured ~1000x fewer candidates at 50k docs (PLANS.md scale-proof
    * notes: 255M byte-band candidates vs this path's; the byte-band
    * formulation is O(n^2/2^10) BY CONSTRUCTION once n outgrows its 1024
    * total buckets, which a 100 TB corpus does by ~10^6 docs). Keep the
    * 32-bit path for parity with small-signature pipelines; route anything
    * corpus-scale here. */
  def simHashNearDups64(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3,
                        candidateBudget: Long = 100000000L): DataFrame =
    hamming64NearDups(graft.Tables.widen(df)
        .select(col(idCol), simHash64(col(textCol)).as("__sig64")),
      idCol, "__sig64", maxHamming, candidateBudget)

  /** The 4×16-bit band explosion shared by [[hamming64NearDups]] and
    * [[hamming64BucketProfile]]: one row per (id, band) with the band's
    * 16-bit bucket value. */
  private def banded64(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("sig"), posexplode(
      array((0 until 4).map(b =>
        // UNSIGNED shift: the top band of a 64-bit sig reaches the sign bit
        shiftrightunsigned(col("sig"), b * 16)
          .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band", "bucket")))

  /** Band-load pre-flight for [[hamming64NearDups]] — the
    * [[lshBucketProfile]] of the 16-bit-band engine: per band, how many
    * buckets exist, how many hold >= 2 signatures, the largest bucket,
    * and the implied candidate-pair volume sum(s·(s−1)/2). A mega-cluster
    * of near-identical signatures (one template, 10⁹ thumbnails; one
    * boilerplate page, 10⁹ crawls) puts its whole mass in ONE bucket per
    * band and the within-bucket self-join goes quadratic — this one
    * cheap groupBy (no join) names the band and the bucket size that
    * would do it BEFORE any quadratic work runs. The same numbers gate
    * [[hamming64NearDups]]'s own `candidateBudget` pre-flight. */
  def hamming64BucketProfile(withSigs: DataFrame, idCol: String,
                             sigCol: String): DataFrame =
    banded64(withSigs.select(col(idCol).as("id"), col(sigCol).as("sig")))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(when(col("s") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_multi"),
        max(col("s")).cast("long").as("max_bucket"),
        // integer throughout: Σ s·(s−1) is even, so the halving is exact
        // under `div` long arithmetic — Divide would route through double
        // and lose exactness past 2^53 implied pairs under extreme skew
        expr("sum(s * (s - 1)) div 2").cast("long").as("cand_pairs"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("n_multi"), col("max_bucket"), col("cand_pairs"))

  /** Banded near-dup pairing over a PRECOMPUTED 64-bit signature column —
    * the generic engine behind [[simHashNearDups64]] (text SimHash) and
    * [[Multimodal.imageNearDups]] (perceptual dHash): 4 disjoint 16-bit
    * bands, candidates = pairs sharing any band, verify = exact Hamming.
    * Recall is COMPLETE by pigeonhole for maxHamming < 4 (≤ 3 flipped
    * bits touch ≤ 3 bands, so one band is untouched and the pair
    * collides there). 16-bit bands keep per-band candidate mass at
    * O(n²/2^16) under a uniform signature — the banding, never
    * all-pairs, is what survives a 100× corpus. */
  def hamming64NearDups(withSigs: DataFrame, idCol: String, sigCol: String,
                        maxHamming: Int = 3,
                        candidateBudget: Long = 100000000L): DataFrame = {
    val bands = 4
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < $bands bands (got $maxHamming)")
    val sigs = withSigs
      .select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    bandedHammingPairs(banded64(sigs), maxHamming, candidateBudget,
      "hamming64NearDups",
      (a, b) => bit_count(a.bitwiseXOR(b)))
  }

  /** Singleton-filter engagement threshold for [[bandedHammingPairs]]: the
    * filter join runs only when multi-occupancy rows are at most this
    * fraction of the banded input, i.e. when dropping singletons removes
    * at least 40% of the self-join's shuffle input. The r15 decade probe
    * (SCALEPROBE_r15.jsonl) pins both regimes: a near-dup-DENSE population
    * (corpus SimHash: 80-95% multi) gains nothing from the filter and paid
    * +21-30% for it on the q96/q172 composed gates, while a near-dup-SPARSE
    * (uniform-signature, the realistic crawl) population sits at 7-53%
    * multi and the filter cuts 47-93% of the join input. 0.6 separates the
    * two regimes with margin on both sides. */
  private val SingletonFilterMaxMultiFrac = 0.6

  /** The shared banded-Hamming candidate engine behind [[hamming64NearDups]]
    * (4×16-bit bands over one long) and [[hamming128NearDups]] (5×25-26-bit
    * bands over two longs): within-bucket self-join → distinct → exact
    * Hamming verify, guarded by a fail-fast pre-flight.
    *
    * Pre-flight (the prefix-filter candidateBudget contract): the
    * within-bucket self-join emits exactly Σ s·(s−1)/2 candidate rows (an
    * upper bound on DISTINCT pairs — a pair sharing k bands is counted k
    * times). The per-bucket counts are computed ONCE (bounded cardinality
    * ≤ bands·bucketSpace, map-side-collapsed shuffle) and pay for
    * themselves twice: (1) the budget refusal — a skew-collapsed population
    * (hot template) is refused with the guilty band named instead of
    * melting the cluster; the pair sum stays in LONG arithmetic end to end
    * (Σ s·(s−1) halved driver-side — even, so exact; a double Divide loses
    * exactness past 2^53 implied pairs); (2) a broadcast semi-filter that
    * drops SINGLETON buckets before the self-join — engaged ONLY when the
    * same counts say it pays ([[SingletonFilterMaxMultiFrac]]): on a
    * near-dup-sparse corpus most buckets hold one signature and the join's
    * shuffle input collapses to the multi-occupancy mass, while on a
    * dup-dense population the filter would drop almost nothing and is
    * skipped (r15 measured +21-30% on composed gates for an unconditional
    * filter — VERDICT r15 item 2). */
  private def bandedHammingPairs(banded0: DataFrame, maxHamming: Int,
      candidateBudget: Long, engine: String,
      hamming: (Column, Column) => Column): DataFrame = {
    val bucketCounts = banded0.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .localCheckpoint()
    val prof = bucketCounts
      .agg(coalesce(sum(col("s") * (col("s") - lit(1L))).cast("long"),
          lit(0L)).as("pairs2"),
        coalesce(max(col("s")), lit(0L)).as("max_s"),
        expr("max_by(band, s)").as("max_band"),
        coalesce(sum(col("s")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("s") >= 2, col("s")).otherwise(lit(0L))),
          lit(0L)).as("multi_rows")).head()
    // Overflow guard BEFORE trusting the pair sum (r16 ADVICE): the summed
    // per-bucket terms s·(s−1) and their total are only valid Long
    // arithmetic when max_s² and max_s·n_rows both fit — past that the sum
    // can wrap negative and silently PASS the budget check it exists to
    // enforce. max_s and n_rows are computed product-free, so they are
    // trustworthy unconditionally; any population failing these bounds
    // implies >= 4.6e18 candidate pairs — astronomically past any budget.
    val maxS = prof.getLong(1)
    val nRowsChk = prof.getLong(3)
    require(maxS <= 3037000499L &&
        (maxS == 0L || nRowsChk <= Long.MaxValue / maxS),
      s"$engine pre-flight refused: bucket counts too large for 64-bit " +
        s"pair arithmetic (largest bucket $maxS signatures in band " +
        s"${prof.get(2)}, $nRowsChk banded rows) — the implied candidate " +
        "mass exceeds 4.6e18 pairs regardless of budget. Filter exact " +
        "duplicates first (dropDuplicates on the signature) or widen the " +
        "signature.")
    val pairs = prof.getLong(0) / 2
    require(pairs <= candidateBudget,
      s"$engine pre-flight refused: $pairs " +
        s"candidate pairs implied by the band buckets exceed " +
        s"candidateBudget=$candidateBudget (largest bucket: " +
        s"${prof.getLong(1)} signatures in band ${prof.get(2)}). The " +
        "signature population is skew-collapsed (near-identical " +
        "template mass) — filter exact duplicates first " +
        "(dropDuplicates on the signature), widen the signature, or " +
        "raise candidateBudget explicitly if the cost is intended.")
    val nRows = prof.getLong(3)
    val multiFrac =
      if (nRows == 0L) 1.0 else prof.getLong(4).toDouble / nRows
    val banded =
      if (multiFrac <= SingletonFilterMaxMultiFrac)
        banded0.join(
          broadcast(bucketCounts.filter(col("s") >= 2)
            .select(col("band").as("__mb"), col("bucket").as("__mk"))),
          col("band") === col("__mb") && col("bucket") === col("__mk"))
          .drop("__mb", "__mk")
      else banded0
    val cands = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    cands
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 128-bit SimHash near-dups — the wider-signature regime the r15 decade
    * probe called for once a dedup group outgrows the 64-bit engine's
    * 2^16-bucket bands (saturation past ~10⁵-10⁶ sigs/group: expected
    * birthday load 0.76/bucket already at 50k docs, singleton-filter
    * benefit decaying 93%→53% over one decade — SCALEPROBE_r15.jsonl).
    * Same shape, wider keys: [[graft.functions.SimHashSig128]] signatures
    * banded 5×25-26 bits ([[banded128]]), so each band carries 2^25-2^26
    * buckets — uniform-signature candidate expectation ~2^9-2^10× below
    * the 16-bit bands at equal corpus size, pushing saturation out to
    * ~10⁸-10⁹ sigs/group. Pigeonhole-complete at maxHamming ≤ 4 (5 bands).
    * Budget/pre-flight/singleton machinery shared verbatim with the 64-bit
    * engine ([[bandedHammingPairs]]). */
  def simHashNearDups128(df: DataFrame, textCol: String, idCol: String,
                         maxHamming: Int = 4,
                         candidateBudget: Long = 100000000L): DataFrame =
    hamming128NearDups(graft.Tables.widen(df)
        .select(col(idCol), simHash128(col(textCol)).as("__sig128")),
      idCol, "__sig128", maxHamming, candidateBudget)

  /** 128-bit band boundaries: 5 bands of 26/26/26/25/25 bits covering bits
    * [0,26) [26,52) [52,78) [78,103) [103,128) of the [w0, w1] signature
    * (bit 0 = lsb of w0, bit 64 = lsb of w1). (lo, width) per band. */
  private val Bands128: Seq[(Int, Int)] =
    Seq(0, 26, 52, 78, 103, 128).sliding(2).map {
      case Seq(lo, hi) => (lo, hi - lo) }.toSeq

  /** Band value extraction across the two-long signature: bands entirely in
    * one word are a shift+mask; the one straddling band (bits 52-77) stitches
    * w0's top 12 bits to w1's low 14. */
  private def bandVal128(sig: Column, lo: Int, width: Int): Column = {
    val mask = lit((1L << width) - 1L)
    val w0 = element_at(sig, 1); val w1 = element_at(sig, 2)
    if (lo + width <= 64) shiftrightunsigned(w0, lo).bitwiseAND(mask)
    else if (lo >= 64) shiftrightunsigned(w1, lo - 64).bitwiseAND(mask)
    else shiftrightunsigned(w0, lo)
      .bitwiseOR(shiftleft(w1, 64 - lo)).bitwiseAND(mask)
  }

  /** The 5-band explosion of a 128-bit [w0, w1] signature — [[banded64]]'s
    * wide twin, shared by the 128-bit profile, pairing and clustering. */
  private def banded128(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("sig"), posexplode(
      array(Bands128.map { case (lo, w) =>
        bandVal128(col("sig"), lo, w) }: _*)).as(Seq("band", "bucket")))

  /** Band-load pre-flight profile for the 128-bit engine —
    * [[hamming64BucketProfile]] over [[banded128]]'s 5 wide bands. */
  def hamming128BucketProfile(withSigs: DataFrame, idCol: String,
                              sigCol: String): DataFrame =
    banded128(withSigs.select(col(idCol).as("id"), col(sigCol).as("sig")))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(when(col("s") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_multi"),
        max(col("s")).cast("long").as("max_bucket"),
        expr("sum(s * (s - 1)) div 2").cast("long").as("cand_pairs"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("n_multi"), col("max_bucket"), col("cand_pairs"))

  /** Banded near-dup pairing over a PRECOMPUTED 128-bit `array<bigint>`
    * [w0, w1] signature column — [[hamming64NearDups]] at double width:
    * 5 disjoint 25-26-bit bands, candidates = pairs sharing any band,
    * verify = exact Hamming (per-word XOR popcounts summed). Recall is
    * COMPLETE by pigeonhole for maxHamming < 5. */
  def hamming128NearDups(withSigs: DataFrame, idCol: String, sigCol: String,
                         maxHamming: Int = 4,
                         candidateBudget: Long = 100000000L): DataFrame = {
    val bands = Bands128.length
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < $bands bands (got $maxHamming)")
    val sigs = withSigs
      .select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    bandedHammingPairs(banded128(sigs), maxHamming, candidateBudget,
      "hamming128NearDups",
      (a, b) =>
        (bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1))) +
          bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2))))
          .cast("int"))
  }

  /** INCREMENTAL 64-bit Hamming near-dups — the nightly-crawl shape
    * [[incrementalNearDups]] provides for MinHash, for the SimHash/dHash
    * engine: candidates are a banded join of the BATCH side against a
    * PRECOMPUTED index side only (never batch×batch or index×index — the
    * already-deduped index must not re-pair with itself every night).
    * Recall is complete by the same pigeonhole as [[hamming64NearDups]].
    *
    * Pre-flight: the cross-candidate volume is exactly
    * Σ_bucket s_batch·s_index — computed from the two bounded per-bucket
    * count tables (≤ 4·2^16 rows each) BEFORE the join, refusing a
    * skew-collapsed night (hot template in the batch hitting a hot index
    * bucket) with the guilty band named. The inner join itself plays the
    * singleton-filter role for free: buckets present on only one side
    * produce nothing. Returns (batch_id, index_id, hamming); an id in
    * both inputs pairs with itself at Hamming 0 — callers keeping the
    * index disjoint from the batch (the normal contract) see pure
    * cross pairs. */
  def incrementalHamming64NearDups(batch: DataFrame, index: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 3,
      candidateBudget: Long = 100000000L): DataFrame = {
    require(maxHamming < 4,
      s"pigeonhole needs maxHamming < 4 bands (got $maxHamming)")
    incrementalBandedHamming(batch, index, idCol, sigCol, maxHamming,
      candidateBudget, "incrementalHamming64NearDups",
      "hamming64DedupClusters", banded64,
      (a, b) => bit_count(a.bitwiseXOR(b)))
  }

  /** [[incrementalHamming64NearDups]] at double width — the nightly-crawl
    * batch×index shape for the 128-bit regime ([[hamming128NearDups]]),
    * which is exactly where it matters most: the whole point of the wider
    * signature is corpora past 64-bit band saturation, i.e. persisted
    * indexes far too large to re-pair against themselves every night.
    * Same [[banded128]] 5×25-26-bit bands (pigeonhole-complete at
    * Hamming ≤ 4), same Σ s_b·s_i cross-volume pre-flight from two bounded
    * count tables BEFORE any join. */
  def incrementalHamming128NearDups(batch: DataFrame, index: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 4,
      candidateBudget: Long = 100000000L): DataFrame = {
    require(maxHamming < Bands128.length,
      s"pigeonhole needs maxHamming < ${Bands128.length} bands (got $maxHamming)")
    incrementalBandedHamming(batch, index, idCol, sigCol, maxHamming,
      candidateBudget, "incrementalHamming128NearDups",
      "hamming128DedupClusters", banded128,
      (a, b) =>
        (bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1))) +
          bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2))))
          .cast("int"))
  }

  /** The shared batch×index banded engine behind the two incremental
    * Hamming widths: candidates are a banded join of the BATCH side against
    * the PRECOMPUTED index side only (never batch×batch or index×index).
    * The cross-candidate volume Σ_bucket s_batch·s_index is computed from
    * the two bounded per-bucket count tables BEFORE the join; the max/sum
    * factors are checked product-free first so the refusal can never be
    * defeated by 64-bit wrap (same r16-ADVICE guard as
    * [[bandedHammingPairs]]). */
  private def incrementalBandedHamming(batch: DataFrame, index: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int, candidateBudget: Long,
      engine: String, dedupFirstOp: String,
      banded: DataFrame => DataFrame,
      hamming: (Column, Column) => Column): DataFrame = {
    val b = batch.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    val ix = index.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    val bb = banded(b)
    val bi = banded(ix)
    val cb = bb.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sb"))
    val ci = bi.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("si"))
    val prof = cb.join(ci, Seq("band", "bucket"))
      .agg(coalesce(sum(col("sb") * col("si")).cast("long"), lit(0L))
          .as("cross"),
        coalesce(max(col("sb") * col("si")), lit(0L)).as("max_cross"),
        expr("max_by(band, sb * si)").as("max_band"),
        coalesce(max(col("sb")), lit(0L)).as("max_sb"),
        coalesce(max(col("si")), lit(0L)).as("max_si"),
        coalesce(sum(col("sb")), lit(0L)).as("sum_sb")).head()
    // product-free factors first: sb·si per row and Σ sb·si are valid Long
    // arithmetic only when max_sb·max_si and max_si·Σsb both fit
    val maxSb = prof.getLong(3); val maxSi = prof.getLong(4)
    val sumSb = prof.getLong(5)
    require(maxSi == 0L || (maxSb <= Long.MaxValue / maxSi &&
        sumSb <= Long.MaxValue / maxSi),
      s"$engine pre-flight refused: bucket counts too large for 64-bit " +
        s"cross-pair arithmetic (largest batch bucket $maxSb × largest " +
        s"index bucket $maxSi) — dedup each side first ($dedupFirstOp).")
    require(prof.getLong(0) <= candidateBudget,
      s"$engine pre-flight refused: ${prof.getLong(0)} " +
        s"cross candidate pairs implied by the band buckets exceed " +
        s"candidateBudget=$candidateBudget (largest bucket product: " +
        s"${prof.getLong(1)} in band ${prof.get(2)}). Dedup the batch " +
        s"against itself first ($dedupFirstOp), or raise " +
        "candidateBudget explicitly if the cost is intended.")
    val cands = bb.alias("a").join(bi.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("batch_id"), col("a.sig").as("sig_a"),
        col("b.id").as("index_id"), col("b.sig").as("sig_b"))
      .distinct()
    cands
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("batch_id", "index_id", "hamming")
  }

  /** Signature-DEDUP-FIRST near-dup clustering — the operator the
    * candidate-budget refusal message tells callers to reach for, closing
    * that loop: a hot template (one boilerplate page, 10⁹ crawls) puts its
    * whole mass into ONE signature, and any banded engine then faces a
    * quadratic within-bucket join no banding can fix. Collapsing to one
    * REPRESENTATIVE per DISTINCT signature first (one exact groupBy — the
    * same shuffle an exact-dedup pass costs) makes the banded surface
    * quadratic only in DISTINCT near-identical signatures, and the output
    * stays LINEAR because clusters need membership, not the within-template
    * pair explosion: every doc maps to its representative's component.
    *
    * Semantics are EXACTLY the all-docs formulation (q114's: Hamming ≤ h
    * pairs over every doc, connected components, singletons map to
    * themselves) because identical signatures are Hamming-0 linked — the
    * min-id representative of a signature group is the group's min doc, so
    * min-reachable-rep == min-reachable-doc. The q319 gate's oracle replays
    * the ALL-DOCS brute-force chain, proving the rewrite preserves results.
    * Returns (id, component). */
  def hamming64DedupClusters(withSigs: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3,
      candidateBudget: Long = 100000000L): DataFrame =
    dedupFirstClusters(withSigs, idCol, sigCol,
      hamming64NearDups(_, "id", "sig", maxHamming, candidateBudget))

  /** [[hamming64DedupClusters]] over the 128-bit engine. */
  def hamming128DedupClusters(withSigs: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 4,
      candidateBudget: Long = 100000000L): DataFrame =
    dedupFirstClusters(withSigs, idCol, sigCol,
      hamming128NearDups(_, "id", "sig", maxHamming, candidateBudget))

  /** INCREMENTAL near-dup clustering — the q319 × q320 composition (r17):
    * assign a night's batch into an EXISTING component assignment without
    * re-clustering the corpus. `index` carries (id, sig, component) from a
    * prior complete clustering at the same radius ([[hamming64DedupClusters]]
    * or a previous incremental pass); the batch is collapsed to one
    * representative per DISTINCT signature first (the q319 move — a hot
    * template in the night's crawl stays linear), reps band against
    * THEMSELVES (new in-batch clusters) and against the INDEX
    * ([[incrementalHamming64NearDups]]'s batch×index join — never
    * index×index), index endpoints contract to their COMPONENT LABELS
    * (one node per touched component, not per index doc), and one
    * pointer-jumping pass over that contracted graph labels every batch
    * doc.
    *
    * Semantics are EXACTLY the full-corpus chain: because the index
    * clustering is complete at this radius, index-internal paths are
    * fully summarized by component membership, so contracting each
    * component to its label (= the min doc id it contains) preserves
    * reachability AND the min-reachable-id labeling; identical-sig batch
    * docs are Hamming-0 linked so min-reachable-rep == min-reachable-doc
    * (the q319 argument). The q328 gate proves it against the all-docs
    * brute-force recursive-CTE chain. A batch doc whose cluster bridges
    * TWO existing components yields one label for both (the contracted
    * component's min) — the merge a full re-cluster would also make;
    * emitting it is how the caller learns the index needs the same
    * relabel. Returns (id, component) for the batch. */
  def incrementalHamming64Clusters(batch: DataFrame, index: DataFrame,
      idCol: String, sigCol: String, compCol: String = "component",
      maxHamming: Int = 3,
      candidateBudget: Long = 100000000L): DataFrame = {
    val sigs = batch.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    val reps = sigs.groupBy(col("sig")).agg(min(col("id")).as("rep"))
      .localCheckpoint()
    val repDf = reps.select(col("rep").as("id"), col("sig"))
    // the index side collapses the same way: same-sig index docs are
    // Hamming-0 linked, so they share a component and ONE row per
    // distinct (sig, component) carries every cross link — the banded
    // index side of a template-heavy corpus stays distinct-sig sized
    val ix = index.select(col(idCol).as("id"), col(sigCol).as("sig"),
        col(compCol).as("__comp"))
      .dropDuplicates("sig")
      .localCheckpoint()
    val selfPairs = hamming64NearDups(repDf, "id", "sig", maxHamming,
        candidateBudget)
      .select(col("id_a"), col("id_b"))
    val crossEdges = incrementalHamming64NearDups(repDf,
        ix.select(col("id"), col("sig")), "id", "sig", maxHamming,
        candidateBudget)
      .join(ix.select(col("id").as("index_id"), col("__comp")), "index_id")
      .select(col("batch_id").as("id_a"), col("__comp").as("id_b"))
      .distinct()
    val comps = connectedComponents(selfPairs.unionByName(crossEdges))
      .withColumnRenamed("node", "rep")
    sigs.join(reps, "sig")
      .join(comps, Seq("rep"), "left")
      .select(col("id"), coalesce(col("component"), col("rep"))
        .as("component"))
  }

  /** [[hamming64DedupClusters]] with the text SimHash inlined — the
    * corpus-facing twin of [[simHashNearDups64]]+[[connectedComponents]]
    * (q53's chain) that survives template-collapsed corpora. */
  def simHashDedupClusters64(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3,
      candidateBudget: Long = 100000000L): DataFrame =
    hamming64DedupClusters(graft.Tables.widen(df)
        .select(col(idCol), simHash64(col(textCol)).as("__sig64")),
      idCol, "__sig64", maxHamming, candidateBudget)

  private def dedupFirstClusters(withSigs: DataFrame, idCol: String,
      sigCol: String, pairs: DataFrame => DataFrame): DataFrame = {
    val sigs = withSigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    val reps = sigs.groupBy(col("sig")).agg(min(col("id")).as("rep"))
      .localCheckpoint()
    val repPairs = pairs(reps.select(col("rep").as("id"), col("sig")))
    val comps = connectedComponents(repPairs)
      .withColumnRenamed("node", "rep")
    sigs.join(reps, "sig")
      .join(comps, Seq("rep"), "left")
      // a rep with no near-dup link is its own (singleton-sig-group or
      // exact-only) component; its group members inherit it
      .select(col("id"), coalesce(col("component"), col("rep"))
        .as("component"))
  }

  /** 64-bit SimHash near-dups at Hamming radii BEYOND what disjoint-band
    * pigeonhole can reach with wide bands: the block-COMBINATION scheme of
    * Manku/Jain/Das Sarma (WWW '07, "Detecting Near-Duplicates for Web
    * Crawling"). Split the signature into `blocks` contiguous blocks; for
    * every `blocksPerKey`-subset of blocks, key each doc by the
    * concatenated block values of that subset (one bucket table per
    * subset). Recall is complete by pigeonhole: <= maxHamming differing
    * bits touch <= maxHamming blocks, so >= blocks - maxHamming blocks are
    * untouched; requiring blocksPerKey <= blocks - maxHamming guarantees
    * some enumerated subset consists entirely of untouched blocks, where
    * the pair collides.
    *
    * Why this and not 8x8-bit disjoint bands for Hamming <= 7: an 8-bit
    * band has 256 buckets — the same saturation the 32-bit byte-banding
    * hits (candidates O(n^2/2^8) per band once n >> 256). Here each key is
    * `blocksPerKey` blocks wide (~14-15 bits at the 9/2 default), so the
    * bucket space per table is ~2^14 and there are C(blocks, blocksPerKey)
    * tables: candidate expectation C(9,2) * n^2 / 2^15 ~ n^2/910 on
    * uniform signatures vs the byte-band's n^2/64 — and the knob scales:
    * more blocksPerKey = wider keys = fewer collisions, at the cost of
    * C(b,m) table fan-out. The row fan-out is C(b,m) per doc (36 at
    * default), all inside one posexplode + shuffled self-join — no
    * all-pairs stage anywhere. */
  def simHashNearDupsMulti(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 7, blocks: Int = 9,
                           blocksPerKey: Int = 2): DataFrame = {
    require(blocksPerKey >= 1 && blocksPerKey <= blocks - maxHamming,
      s"pigeonhole needs blocksPerKey <= blocks - maxHamming " +
        s"(got blocks=$blocks, blocksPerKey=$blocksPerKey, maxHamming=$maxHamming)")
    // block i covers bits [i*64/blocks, (i+1)*64/blocks) — widths differ by
    // at most one bit when 64 % blocks != 0
    val bounds = (0 to blocks).map(i => i * 64 / blocks)
    def blockVal(sig: Column, i: Int): Column = {
      val lo = bounds(i); val width = bounds(i + 1) - lo
      shiftrightunsigned(sig, lo).bitwiseAND(lit((1L << width) - 1L))
    }
    val combos = (0 until blocks).combinations(blocksPerKey).toSeq
    val sigs = graft.Tables.widen(df)
      .select(col(idCol).as("id"), simHash64(col(textCol)).as("sig"))
      .localCheckpoint()
    // one row per (doc, combo): key = blocks of the combo packed into a
    // single long (16 bits per block slot is enough for any width <= 16)
    val keyed = sigs.select(col("id"), col("sig"), posexplode(
      array(combos.map { c =>
        c.zipWithIndex.foldLeft(lit(0L)) { case (acc, (blk, slot)) =>
          acc.bitwiseOR(shiftleft(blockVal(col("sig"), blk), slot * 16))
        }
      }: _*)).as(Seq("combo", "key")))
    val cands = keyed.alias("a").join(keyed.alias("b"),
        col("a.combo") === col("b.combo") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // -------------------------------------------------------------------------
  // Near-dup clustering
  // -------------------------------------------------------------------------

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pairwise matches into DEDUP CLUSTERS (keep min-id per
    * component, drop the rest). Iterative min-label propagation with
    * POINTER JUMPING: each round every node adopts the minimum label among
    * itself and its neighbors (one shuffled join + groupBy), then shortcuts
    * `label := label(label)` (one more join) — the jump halves chain depth
    * every round, so fixpoint lands in O(log diameter) rounds instead of
    * O(diameter) (20-round cap = components of diameter ~2^20 — beyond any
    * real dedup cluster). Labels are localCheckpoint'ed per round to cut
    * the exponentially growing lineage; the convergence probe reads a
    * `changed` flag carried on the checkpointed frame, costing no extra
    * join. The standard Spark formulation when a GraphX dependency isn't
    * warranted.
    *
    * Returns (node, component) where component = min node id reachable. */
  /** Sorted-neighborhood dedup (Hernández–Stolfo): sort the corpus by a
    * normalized blocking key (here: the first `keyLen` chars of the
    * whitespace-collapsed lowered text) and verify only pairs within
    * `window` positions of each other in that total order — the classic
    * record-linkage method whose candidate count is EXACTLY n·window,
    * independent of how skewed the key distribution is (an LSH bucket can
    * blow up on a hot template; a rank window cannot).
    *
    * The total order comes from [[graft.operators.Stats.globalRank]]'s
    * two-pass range formulation — no single-partition sort. Neighbor
    * pairs materialize through a bucket equi-join (rank/window buckets,
    * each right row also joined into its predecessor bucket), never a
    * rank-range theta join; the exact-Jaccard verify runs over 64-bit
    * hashed shingle sets (same contract and collision odds as
    * [[verifiedNearDups]]). */
  def sortedNeighborPairs(df: DataFrame, idCol: String, textCol: String,
                          window: Int = 8, threshold: Double = 0.2,
                          keyLen: Int = 24, nRanges: Int = 64,
                          shingleK: Int = 3): DataFrame = {
    require(window >= 1, "window >= 1")
    val keyed = df.select(col(idCol).as("id"),
      substring(regexp_replace(trim(lower(col(textCol))), "\\s+", " "),
        1, keyLen).as("sk"))
    val ranked = graft.operators.Stats.globalRank(keyed, "sk", "id", nRanges)
      .select(col("id"), col("global_rank").as("r"))
    val bucketed = ranked.withColumn("bkt", floor((col("r") - 1) / window))
    val left = bucketed.select(col("id").as("id_a"), col("r").as("ra"), col("bkt"))
    val right0 = bucketed.select(col("id").as("id_b"), col("r").as("rb"), col("bkt"))
    // a pair at rank distance <= window sits in the same or adjacent
    // bucket: join each right row into its own and its predecessor bucket
    val right = right0.union(right0.withColumn("bkt", col("bkt") - 1))
    val cand = left.join(right, "bkt")
      .filter(col("rb") > col("ra") && col("rb") - col("ra") <= window)
      .select("id_a", "id_b")
    val sets = graft.Tables.widen(df).select(col(idCol).as("id"),
      array_distinct(graft.functions.TextHashFunctions.shingleHashes64(
        col(textCol), shingleK)).as("sh"))
      .localCheckpoint()
    cand
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      // |A∪B| = |A| + |B| − |A∩B| over distinct sets: same integer, no
      // per-pair union-array materialization (r18 — guide §1.2 per-task)
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .withColumn("jaccard",
        when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-source duplication matrix: for every unordered source pair
    * (including a source with itself), how many verified near-duplicate
    * document pairs link them, with the min/max Jaccard of those links —
    * the curation diagnostic that tells you WHERE the duplication lives
    * (mirror sites, syndication, cross-crawl overlap) before deciding which
    * source loses its copies.
    *
    * Candidates come from the banded MinHash LSH path
    * ([[verifiedNearDups]]) at q20's exact operating point — an 8-hash
    * signature banded 2 rows per band (2-row bands collide at p^2 per
    * band, so moderate-Jaccard links ~0.2-0.6 that 4-row bands would miss
    * still surface; DedupSpec pins one such pair) — never all-pairs. The
    * pair→source attachment
    * joins the (bounded) verified-pair set against the id→source
    * projection twice; the pair side is the small side, so AQE broadcasts
    * it when it fits and falls back to a shuffle join keyed on the
    * corpus-unique id otherwise. Source labels are canonically ordered
    * (src_a ≤ src_b) so each unordered pair lands in one cell; min/max are
    * fp-order-independent (unlike avg), keeping the cell values
    * oracle-exact. Output is |sources|² rows at most — driver-small. */
  def crossSourceDupMatrix(df: DataFrame, textCol: String, idCol: String,
                           srcCol: String, threshold: Double,
                           bands: Int = 4, rowsPerBand: Int = 2,
                           shingleK: Int = 3): DataFrame = {
    val pairs = verifiedNearDups(df, textCol, idCol, threshold, bands,
      rowsPerBand, shingleK)
    val src = df.select(col(idCol).as("id"), col(srcCol).as("s"))
    pairs
      .join(src.withColumnRenamed("id", "id_a").withColumnRenamed("s", "s_a"), "id_a")
      .join(src.withColumnRenamed("id", "id_b").withColumnRenamed("s", "s_b"), "id_b")
      .withColumn("src_a", least(col("s_a"), col("s_b")))
      .withColumn("src_b", greatest(col("s_a"), col("s_b")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(min(col("jaccard")), 3).as("min_jaccard"),
        round(max(col("jaccard")), 3).as("max_jaccard"))
  }

  /** DIAGNOSTIC — rounds the last [[connectedComponents]] call on this
    * driver took to reach fixpoint. ScaleBoundsSpec bounds it at two corpus
    * sizes (the O(log diameter) round-count claim); not part of the
    * operator contract. */
  @volatile private[graft] var lastCcRounds: Int = -1

  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("nlabel")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("nlabel")).as("nmin"))
      val stepped = labels
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("mid"))
      // pointer jump: label := label(label). Every label value is itself a
      // node (labels start as identity and only ever take node-id minima),
      // so the lookup side is `stepped` re-keyed by node.
      val next = stepped
        .join(stepped.select(col("node").as("mid"), col("mid").as("jumped")),
          Seq("mid"), "left")
        .select(col("node"),
          least(col("mid"), coalesce(col("jumped"), col("mid"))).as("label"),
          col("old"))
        .withColumn("changed", col("label") =!= col("old"))
        .drop("old")
        .localCheckpoint(eager = false)
      // one action per iteration: the count over `changed` both decides
      // convergence AND materializes the lazy checkpoint (it scans every
      // partition, unlike isEmpty/take(1)) — the eager-checkpoint +
      // isEmpty formulation paid a second scheduler round-trip per
      // iteration for the same information
      converged = next.filter(col("changed")).count() == 0L
      labels = next.drop("changed")
      iter += 1
    }
    lastCcRounds = iter
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds - labels would " +
          "be partially merged. Raise maxIter (rounds needed ~ log2(diameter)).")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Survivorship over near-dup CLUSTERS: one canonical document per
    * connected component — the highest-scoring member, ties broken by id
    * (scores must be pre-rounded so the cut is deterministic). The window
    * partitions by component, so cost is bounded by cluster sizes, never
    * the corpus. Returns (component_id, canonical_doc, score, n_members). */
  def clusterRepresentatives(components: DataFrame, scores: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    val joined = components
      .join(scores.select(col(idCol).as("node"), col(scoreCol).as("score")), "node")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(col("score").desc, col("node").asc)
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))))
      .filter(col("rn") === 1)
      .select(col("component").as("component_id"), col("node").as("canonical_doc"),
        col("score"), col("n_members").cast("long").as("n_members"))
  }

  /** Planted-duplicate recall harness: deterministically corrupt a sample
    * of documents (keep the first `keepFrac` of each one's tokens), plant
    * the twins back into the corpus under offset ids, run the banded
    * MinHash near-dup pass at the operating point under test, and report
    * what fraction of the planted (original, twin) pairs it recovered —
    * the measured-recall number behind [[lshOperatingPoints]]' analytic
    * S-curve ("measure, don't guess" applied to the dedup pass itself,
    * with a corruption level you control instead of whatever the corpus
    * happens to contain).
    *
    * Everything is id-hash/modulus deterministic, so any engine replays
    * the exact planted set. Cost is one [[verifiedNearDups]] run over a
    * corpus grown by ~1/sampleMod — the same banded-bucket scale shape as
    * the pass being audited; the recall arithmetic is two 1-row frames.
    * Truncation (not random token drops) keeps the corruption portable
    * and pins planted-pair Jaccard near (L−k·s)/L for an L-token doc,
    * s = 1−keepFrac — pick `keepFrac` to place the probe on the S-curve. */
  def plantedDupRecall(df: DataFrame, textCol: String, idCol: String,
                       sampleMod: Int, keepFrac: Double, idOffset: Long,
                       threshold: Double, bands: Int = 4, rowsPerBand: Int = 2,
                       shingleK: Int = 3): DataFrame = {
    require(sampleMod > 1, "sampleMod > 1")
    require(keepFrac > 0 && keepFrac < 1, "keepFrac in (0,1)")
    require(idOffset > 0, "idOffset > 0")
    // an id collision between a twin and a real doc (or a natural pair
    // sitting exactly idOffset apart) silently corrupts the recall the
    // harness exists to measure — refuse instead (1-value control collect)
    val maxId = df.agg(max(col(idCol).cast("long"))).collect()(0)
    require(maxId.isNullAt(0) || maxId.getLong(0) < idOffset,
      s"idOffset=$idOffset must exceed the max $idCol (${maxId.get(0)})")
    val toks = tokens(col(textCol))
    val base = df.select(col(idCol), col(textCol))
    val planted = df.filter(col(idCol) % sampleMod === 0)
      .select((col(idCol) + idOffset).as(idCol),
        array_join(slice(toks, lit(1),
          greatest(lit(1L), ceil(size(toks).cast("double") * keepFrac))
            .cast("int")), " ").as(textCol))
      .localCheckpoint() // planted twice (union + count) — corrupt once
    val pairs = verifiedNearDups(base.unionByName(planted), textCol, idCol,
      threshold, bands, rowsPerBand, shingleK)
    val nPlanted = planted.agg(count(lit(1)).cast("long").as("n_planted"))
    val nRec = pairs.agg(
      coalesce(sum(when(col("id_b") === col("id_a") + idOffset, 1L)
        .otherwise(0L)), lit(0L)).cast("long").as("n_recovered"))
    nPlanted.crossJoin(broadcast(nRec))
      .select(col("n_planted"), col("n_recovered"),
        round(col("n_recovered").cast("double") /
          col("n_planted").cast("double"), 6).as("recall"))
  }

  /** Dedup savings accounting: per source, how many documents and tokens a
    * near-dup pass would REMOVE if each duplicate family kept only its
    * lowest-id canonical — the "what does dedup buy us" report read before
    * paying for the full survivorship pipeline (and the per-source budget
    * input to a mixture plan over the deduped corpus: post-dedup capacities
    * feed [[graft.operators.Sampling.waterFillAllocation]]).
    *
    * `pairs` is any verified near-dup pair table (the scale-safe 64-bit
    * banded [[simHashNearDups64]] at the gates); components ride the
    * measured log-round [[connectedComponents]] fixpoint. After that the
    * whole report is one |members|-row join back to the corpus and one
    * source-key aggregate — docs outside any duplicate family never enter
    * the join (left join, default keep). */
  def dedupSavingsReport(df: DataFrame, pairs: DataFrame, idCol: String,
                         srcCol: String, weightCol: String): DataFrame = {
    val comp = connectedComponents(pairs)
    val canon = comp.groupBy(col("component"))
      .agg(min(col("node")).as("__canonical"))
    val keep = comp.join(canon, "component")
      .select(col("node").as(idCol),
        (col("node") === col("__canonical")).as("__keep"))
    val w = col(weightCol).cast("long")
    df.select(col(idCol), col(srcCol), w.as("__w"))
      .join(keep, Seq(idCol), "left")
      .withColumn("__keep", coalesce(col("__keep"), lit(true)))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("__w")).cast("long").as("n_tokens"),
        sum(when(col("__keep"), 1L).otherwise(0L)).cast("long")
          .as("n_surviving_docs"),
        sum(when(col("__keep"), col("__w")).otherwise(0L)).cast("long")
          .as("surviving_tokens"))
      .withColumn("savings_frac",
        round(lit(1.0) - col("surviving_tokens").cast("double") /
          col("n_tokens").cast("double"), 6))
  }

  /** Cluster-quality audit over a near-dup clustering: for each connected
    * component, its member count, intra-cluster edge count, and the
    * min/max of the pair metric (Jaccard, Hamming, cosine) across those
    * edges — the QA table read before trusting a dedup pass (a huge
    * cluster with a weak min metric is a transitive-closure chain, not a
    * duplicate family, and wants a higher verify threshold, not a bigger
    * survivor cut).
    *
    * Both endpoint-to-component joins hit the (bounded) verified-pair set;
    * min/max are fp-order-independent so the cells stay oracle-exact
    * (the same avg-ban as [[crossSourceDupMatrix]]). Output is one row
    * per component. */
  def clusterStats(components: DataFrame, pairs: DataFrame,
                   idA: String = "id_a", idB: String = "id_b",
                   metricCol: String = "jaccard"): DataFrame = {
    val comp = components.select(col("node"), col("component"))
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val edges = pairs
      .join(comp.withColumnRenamed("node", idA)
        .withColumnRenamed("component", "ca"), idA)
      .groupBy(col("ca").as("component"))
      .agg(count(lit(1)).cast("long").as("n_edges"),
        min(col(metricCol)).as(s"min_$metricCol"),
        max(col(metricCol)).as(s"max_$metricCol"))
    sizes.join(edges, Seq("component"), "left")
      .select(col("component").as("component_id"), col("n_docs"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        col(s"min_$metricCol"), col(s"max_$metricCol"))
  }

  /** LSH operating-point planner: the analytic S-curve
    * p(catch | similarity s) = 1 - (1 - s^rows)^bands for every way to
    * split `numHashes` MinHash rows into equal bands, evaluated on a
    * similarity grid — plus each scheme's threshold s* = (1/b)^(1/r)
    * (the curve's inflection, where catch probability crosses ~1-1/e).
    * This is the table a 100 TB dedup run consults to pick (bands, rows)
    * for its target Jaccard BEFORE signing the corpus; pure driver-side
    * math (|divisors| x |grid| rows), no data touched. */
  def lshOperatingPoints(spark: org.apache.spark.sql.SparkSession,
                         numHashes: Int,
                         simGrid: Seq[Double] = (1 to 9).map(_ / 10.0)): DataFrame = {
    import spark.implicits._
    val schemes = for {
      r <- 1 to numHashes if numHashes % r == 0
      s <- simGrid
    } yield (numHashes / r.toLong, r.toLong, s)
    val b = col("bands").cast("double")
    val r = col("rows_per_band").cast("double")
    schemes.toDF("bands", "rows_per_band", "sim")
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) / b, lit(1.0) / r), 4).as("s_star"),
        col("sim"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("sim"), r), b), 4)
          .as("p_catch"))
  }

  // -------------------------------------------------------------------------
  // Embedding near-dup
  // -------------------------------------------------------------------------

  /** Near-duplicate pairs by embedding cosine similarity >= threshold.
    * Public entry — delegates to the multi-band random-hyperplane LSH path
    * ([[embeddingNearDupsLsh]]): tunable bucket granularity + independent
    * recall bands. The old fixed-sign blocker survives only as the internal
    * [[embeddingNearDupsFixedSign]] special case. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        threshold: Double = 0.95,
                        bitsPerBand: Int = 16, numBands: Int = 4,
                        seed: Long = 42L): DataFrame =
    embeddingNearDupsLsh(df, idCol, vecCol, dim, threshold, bitsPerBand, numBands, seed)

  /** Fixed-sign blocking variant: the key is the sign-pattern of the FIRST
    * `signBits` dimensions (axis-aligned hyperplanes). Capped at 2^signBits
    * buckets — a corpus skewed toward one orthant collapses into a single
    * quadratic bucket, so this is NOT the scale path; kept as an internal
    * special case (zero extra state, no hyperplane table) for tiny inputs. */
  private[graft] def embeddingNearDupsFixedSign(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, signBits: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions
    VectorFunctions.register(df.sparkSession)
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      concat_ws("", (0 until signBits).map(i =>
        when(element_at(col(vecCol), i + 1) >= 0, "1").otherwise("0")): _*).as("block"))
    keyed.alias("a").join(keyed.alias("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("cos", VectorFunctions.cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** Deterministic Gaussian hyperplanes: `numBands` bands of `bitsPerBand`
    * planes over `dim` dimensions. Fixed seed -> reproducible across runs
    * and embeddable verbatim into an external oracle. */
  def randomHyperplanes(numBands: Int, bitsPerBand: Int, dim: Int,
                        seed: Long = 42L): Seq[Seq[Array[Float]]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numBands)(Seq.fill(bitsPerBand)(Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  /** (id, v, band, key) LSH block keys: per band, the packed sign bits of the
    * vector's projections onto that band's hyperplanes. One narrow projection
    * per row (numBands * bitsPerBand codegen'd dot products) — no shuffle. */
  def lshBlockKeys(df: DataFrame, idCol: String, vecCol: String,
                   planes: Seq[Seq[Array[Float]]]): DataFrame = {
    import graft.functions.VectorFunctions
    VectorFunctions.register(df.sparkSession)
    val bandKeys = planes.zipWithIndex.map { case (band, b) =>
      val key = band.zipWithIndex.map { case (h, i) =>
        when(VectorFunctions.dot(col(vecCol), typedLit(h.toSeq)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("v"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Multi-band random-hyperplane near-dups — the implementation behind
    * [[embeddingNearDups]]. Bucket granularity is tunable (2^bitsPerBand per
    * band, bits cut expected bucket size exponentially) and `numBands`
    * independent bands restore the recall that finer buckets cost —
    * standard random-hyperplane LSH for cosine. Candidates sharing several
    * bands are deduped before the exact-cosine verify. */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                           threshold: Double = 0.95,
                           bitsPerBand: Int = 16, numBands: Int = 4,
                           seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions
    // Materialize keys ONCE (same reasoning as the MinHash signature table:
    // Catalyst would inline the projection into both sides of the self-join).
    val keyed = lshBlockKeys(df, idCol, vecCol,
      randomHyperplanes(numBands, bitsPerBand, dim, seed)).localCheckpoint()
    keyed.alias("a").join(keyed.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .distinct() // a pair may collide in several bands
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Cross-corpus embedding near-dups — SEMANTIC decontamination (train ×
    * benchmark) and batch-vs-index screening: both corpora are keyed with
    * the SAME seed-deterministic hyperplanes, candidates meet only inside a
    * shared (band, key) bucket, and survivors are exact-cosine verified.
    * Identical scale bound to [[embeddingNearDupsLsh]] (2^bitsPerBand
    * buckets × numBands bands, never all-pairs) but the join is across two corpora —
    * with a benchmark-sized right side the bucket join broadcasts and the
    * train corpus never shuffles. Returns (id_left, id_right, cos). */
  def crossCorpusNearDups(left: DataFrame, right: DataFrame,
                          idCol: String, vecCol: String, dim: Int,
                          threshold: Double = 0.95,
                          bitsPerBand: Int = 16, numBands: Int = 4,
                          seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions
    val planes = randomHyperplanes(numBands, bitsPerBand, dim, seed)
    val kl = lshBlockKeys(left, idCol, vecCol, planes).localCheckpoint()
    val kr = lshBlockKeys(right, idCol, vecCol, planes).localCheckpoint()
    kl.alias("a").join(kr.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id_left"), col("b.id").as("id_right"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .distinct() // a pair may collide in several bands
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_left", "id_right", "cos")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    * compare pairs ONLY within a cluster and drop every doc that has a
    * more-canonical (lower-id) cluster-mate above the cosine threshold.
    *
    * The candidate set is Σ c_i² over CLUSTER sizes — the published
    * SemDeDup operating point chooses nClusters ~ n/avgClusterSize to keep
    * each cluster in the thousands, which is exactly the bound the
    * within-cluster join inherits here (one shuffle of the corpus on
    * centroid_id; the pair scan is an SMJ within each cluster, never a
    * global cross product). Assignment itself is the zero-shuffle codegen'd
    * [[graft.operators.Similarity.ivfAssign]] argmin projection against a
    * broadcast centroid matrix. Deterministic centroids (first nClusters
    * rows by id) keep results reproducible and externally checkable — swap
    * in [[graft.operators.Similarity.trainCentroids]] output for real
    * workloads.
    *
    * Returns (id, centroid_id, kept): `kept` = false iff some same-cluster
    * doc with a smaller id is cosine-similar at >= threshold. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    VectorFunctions.register(df.sparkSession)
    val assigned = Similarity.ivfAssign(df, nClusters, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("centroid_id"))
      .localCheckpoint() // assignment runs once, not once per join side
    val dropped = assigned.alias("a").join(assigned.alias("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("b.id") < col("a.id"))
      .filter(VectorFunctions.cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("a.id").as("id")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id"), col("centroid_id"),
        coalesce(!col("is_dropped"), lit(true)).as("kept"))
  }

  // -------------------------------------------------------------------------
  // Cross-document duplicated n-grams
  // -------------------------------------------------------------------------

  /** Per-document duplicated-n-gram fraction — the RefinedWeb/MassiveText
    * "fraction of the document that is boilerplate shared with other
    * documents" filter: of a doc's n-gram POSITIONS, the fraction whose
    * n-gram also occurs in at least `minDf` OTHER documents.
    *
    * Shape: one explode to (doc, gram-hash) counts — grams travel as 64-bit
    * hashes ([[graft.functions.TextHashFunctions.shingleHashes64]]), so the
    * two aggregations shuffle 8-byte longs, never gram strings. Document
    * frequency is computed FROM the per-(doc,gram) table (already exactly
    * the distinct doc-gram pairs — no second distinct pass), and the join
    * back to per-doc totals runs on the gram key both sides already
    * shuffled on. State is vocabulary-bounded (distinct grams), per-doc
    * output is one row — no step holds a posting list in memory. */
  def dupNgramFraction(df: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 3, minDf: Int = 1): DataFrame = {
    val positions = graft.Tables.widen(df).select(col(idCol).as("id"),
        explode(graft.functions.TextHashFunctions.shingleHashes64(
          col(textCol), shingleK)).as("g"))
    val docGram = positions.groupBy("id", "g").agg(count(lit(1)).as("n_occ"))
      .localCheckpoint() // feeds df-counts AND the join-back; compute once
    val gramDf = docGram.groupBy("g")
      .agg(count(lit(1)).as("doc_freq"))
    val perDoc = docGram.join(gramDf, "g")
      .groupBy(col("id"))
      .agg(sum(col("n_occ")).as("n_grams"),
        sum(when(col("doc_freq") > minDf, col("n_occ")).otherwise(lit(0L)))
          .as("dup_grams"))
    // docs too short to have any n-gram still report (0, 0, 0.0)
    df.select(col(idCol)).join(perDoc.withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        round(when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("dup_grams").cast("double") / col("n_grams")), 4)
          .as("dup_frac"))
  }

  // -------------------------------------------------------------------------
  // Block-level boilerplate removal
  // -------------------------------------------------------------------------

  /** Dolma/CCNet-style duplicate-block REMOVAL with reassembly: cut each doc
    * into non-overlapping `wordsPerBlock`-word blocks (the stand-in for the
    * paragraph/line unit — pass the text pre-split on '\n\n' to dedup real
    * paragraphs), flag blocks that also occur in more than `minDf` other
    * documents, and rebuild each doc from its surviving blocks in order.
    *
    * Shape: blocks are built INSIDE codegen by an array `transform` over the
    * token array (no word-level explode); document frequency travels as
    * 64-bit xxhash block keys, so both frequency aggregations and the
    * df join-back shuffle 8-byte longs, never block strings ("same counts
    * modulo collision" — the q22/q118 hashed-postings contract). Block
    * strings move exactly once, in the final per-doc reassembly shuffle
    * (the unavoidable one — its payload is the corpus itself). Per-doc
    * state is one doc's blocks: bounded by the longest document, same as
    * any text column.
    *
    * Returns (id, n_blocks, n_boiler, boiler_frac, clean_text); a doc whose
    * every block is boilerplate yields clean_text = "". */
  def blockBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       wordsPerBlock: Int = 3, minDf: Int = 1): DataFrame = {
    val wpb = wordsPerBlock
    val t = tokens(col(textCol))
    val blockArr = transform(
      sequence(lit(0),
        ((size(t) + lit(wpb - 1)) / lit(wpb)).cast("int") - lit(1)),
      b => array_join(slice(t, b * wpb + 1, lit(wpb)), " "))
    val blocks = graft.Tables.widen(df)
      .select(col(idCol).as("id"), posexplode(blockArr).as(Seq("b", "bt")))
      .withColumn("h", xxhash64(col("bt")))
      .localCheckpoint() // feeds df-counts AND the join-back; compute once
    val docBlock = blocks.groupBy("id", "h").agg(count(lit(1)).as("n_occ"))
    val blockDf = docBlock.groupBy("h").agg(count(lit(1)).as("doc_freq"))
    blocks.join(blockDf, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("doc_freq") > minDf, 1L).otherwise(0L)).as("n_boiler"),
        array_join(transform(
            array_sort(collect_list(when(col("doc_freq") <= minDf,
              struct(col("b"), col("bt"))))),
            s => s.getField("bt")), " ").as("clean_text"))
      .select(col("id"), col("n_blocks"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_blocks"), 4)
          .as("boiler_frac"),
        col("clean_text"))
  }

  /** Blocked record linkage: fuzzy-match short entity keys (names, titles,
    * normalized addresses) within cheap blocks, scored by the codegen'd
    * byte-based Jaro-Winkler ([[graft.functions.StringSimilarity]]).
    *
    * Scale shape: the self-join is ON THE BLOCK KEY — pair work is
    * Σ|block|², never |records|², and the blocking column is the knob that
    * keeps blocks bounded (first/last token, phonetic key, sorted-prefix).
    * The scorer is O(|a|·|b|) per pair over byte arrays inside whole-stage
    * codegen; with key-length-bounded inputs each pair is a few hundred ns.
    * Cross-block matches are missed BY DESIGN (that is the blocking
    * trade-off); run with two complementary block keys and union when
    * recall matters more than one pass. */
  def recordLinkagePairs(df: DataFrame, idCol: String, nameCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    val recs = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      col(blockCol).as("blk"))
    val left = recs.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
    val right = recs.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
    left.join(right, "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw", graft.functions.StringSimilarity.jaroWinkler(
        spark, col("name_a"), col("name_b")))
      .filter(col("jw") >= threshold)
      .select("id_a", "id_b", "name_a", "name_b", "jw")
  }

  /** Jaccard similarity self-join by PREFIX FILTERING (Bayardo et al.'s
    * AllPairs candidate rule) over distinct word tokens — the third
    * candidate generator next to MinHash-LSH (probabilistic recall) and
    * rare-shingle postings (stoplist-capped): EXACT recall at threshold
    * `t` with a pair space cut by the token-frequency ordering.
    *
    * Rule: order every doc's distinct tokens by ascending corpus document
    * frequency (ties by token); a doc with n tokens indexes only its first
    * `n - ceil(t*n) + 1` tokens. Any pair with J >= t shares a token in
    * BOTH prefixes (the earliest-ordered common token w must sit inside
    * each side's prefix: if w were outside a's, all >= ceil(t*n_a) common
    * tokens would fit in a suffix of length ceil(t*n_a) - 1), so joining
    * prefix postings loses nothing — candidates are then verified with the
    * exact Jaccard from the full token sets.
    *
    * Scale: posting work concentrates on RARE tokens (the prefix holds the
    * rarest), so bucket sizes are small exactly where the join fans out;
    * the verify join ships each doc's token set only to its candidate
    * pairs. One aggregation for the df table (broadcast to the ordering),
    * one shuffle on the prefix token, one on the pair ids. At a skewed
    * vocabulary the largest posting bucket is the highest-df token that
    * still lands in someone's prefix — raise `t` or pre-drop degenerate
    * docs (n < 2) to bound it.
    *
    * `shingleK > 1` runs the same algorithm over word k-shingle sets
    * instead of word sets. The pruning power is the VOCABULARY's: on a
    * degenerate unit vocabulary (every token in ~40% of docs — this
    * repo's synthetic corpus at k=1) no ordering prunes, because every
    * doc's prefix still collides with most docs (measured: ~114 s / all
    * 12.5M pairs as candidates at sf0.1). Shingling is the standard
    * fix — it exponentiates the vocabulary (31 words → 27k 3-shingles
    * here, max df 25), so prefixes hold genuinely rare units and the
    * candidate set collapses to near-output size. `shingleK` therefore
    * DEFAULTS to 3: the r11 scale probe measured 66,064,718 candidates at
    * synthetic sf1 with k=1 vs 160 with k=5 — 136× candidate growth for
    * 10× data at k=1, i.e. the quadratic config — so word-unit runs must
    * be asked for explicitly. Belt to that suspender, `candidateBudget`
    * is a fail-fast pre-flight: the exact candidate-pair count implied by
    * the prefix posting lists (Σ per-token bucket work — one cheap
    * aggregation over postings the join reads anyway) is measured BEFORE
    * the self-join runs, and a configuration that exceeds the budget is
    * refused with the measured number instead of melting the cluster. */
  /** Distinct token sets per doc for the prefix-filter chain (shared by
    * the operator and the candidate stage). */
  private[graft] def prefixTokenSets(df: DataFrame, textCol: String,
                                     idCol: String, shingleK: Int): DataFrame = {
    val units = if (shingleK <= 1) tokens(col(textCol))
                else shingles(col(textCol), shingleK)
    graft.Tables.widen(df).select(col(idCol).as("id"),
        array_distinct(units).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint() // feeds df-counts, prefixes, and the verify join
  }

  /** The AllPairs candidate stage over prepared token sets: rarest-first
    * prefix postings self-joined. Exposed so [[prefixCandidateCount]]
    * counts EXACTLY the operator's candidate generator (a re-implementation
    * would drift). The prefix length `n − ceil(t·n) + 1` uses DECIMAL ceiling —
    * an fp `ceil(n * t)` overshoots the true ceiling whenever n·t rounds
    * up across an integer (e.g. 25·0.56 → 14.000000000000002 → 15),
    * silently shortening the prefix below the proven exact-recall minimum
    * (DuckDB's numeric literals are DECIMAL, so the oracle never had the
    * bug — only the Spark side did). */
  /** The exploded (id, n, p, t) token stream behind [[prefixPostings]] —
    * factored out so [[prefixLoadForK]] can persist it ONCE and derive
    * corpus-shape counts AND the posting stage from the same pass (the
    * probe must measure the operator's own stages without re-shingling
    * the corpus per statistic). */
  private[graft] def explodedTokens(toks: DataFrame): DataFrame =
    toks.select(col("id"), size(col("toks")).as("n"),
      posexplode(col("toks")).as(Seq("p", "t")))

  /** df-ranked prefix postings over an already-exploded token stream —
    * the ranking/prefix-cut stage of [[prefixPostings]], unpersisted. */
  private[graft] def prefixFromExploded(exploded: DataFrame,
                                        threshold: Double): DataFrame = {
    // global order: rarest first, ties by token bytes. NO forced
    // broadcast on the vocab: with shingleK > 1 the vocabulary grows
    // with the corpus (27k shingles at sf0.001 already), so a pinned
    // hint could blow the 8 GB broadcast limit at scale — AQE picks
    // broadcast while the df table is small and degrades to a shuffle
    // join when it is not
    val tokenDf = exploded.groupBy("t").agg(count(lit(1)).as("tdf"))
    prefixFromPosts(exploded.join(tokenDf, "t"), threshold)
  }

  /** The df-rank + prefix-cut stage over an already df-joined posting
    * stream — factored out of [[prefixFromExploded]] so [[prefixLoadForK]]
    * can supply its own (persisted) tokenDf without re-implementing the
    * ranking (which would drift). */
  private[graft] def prefixFromPosts(posts: DataFrame,
                                     threshold: Double): DataFrame = {
    val ranked = posts.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
        .orderBy(col("tdf"), col("t"))))
    val tDec = lit(java.math.BigDecimal.valueOf(threshold)) // exact decimal
    ranked.filter(col("r") <= col("n") - ceil(col("n") * tDec) + 1)
      .select("t", "id")
  }

  private[graft] def prefixPostings(toks: DataFrame,
                                    threshold: Double): DataFrame = {
    prefixFromExploded(explodedTokens(toks), threshold)
      // persist, not localCheckpoint: the guard estimate + BOTH self-join
      // sides read this, and InMemoryRelation keeps column stats AQE can
      // plan the join with (an RDD-checkpoint scan is a stats black hole
      // — measured 2.8x slower end-to-end at sf0.1). LIFECYCLE CONTRACT:
      // Spark's CacheManager holds strong references to cached plans, so
      // this block is NOT GC-reclaimable — every caller must unpersist it
      // once the candidate pairs have materialized (all public operators
      // localCheckpoint the candidates, then unpersist here, so repeated
      // calls in a long-lived session leave no net cached blocks —
      // asserted by DedupSpec's lifecycle property).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The AllPairs self-join over already-materialized prefix postings. */
  private[graft] def prefixCandidatesFrom(prefix: DataFrame): DataFrame =
    prefix.select(col("t"), col("id").as("id_a"))
      .join(prefix.select(col("t"), col("id").as("id_b")), "t")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  private[graft] def prefixCandidates(toks: DataFrame,
                                      threshold: Double): DataFrame = {
    val prefix = prefixPostings(toks, threshold)
    // candidate set is bounded (it feeds a count or a verify join, never
    // a re-expansion), so materialize it and release the posting cache
    // deterministically — the prefixPostings lifecycle contract
    try prefixCandidatesFrom(prefix).localCheckpoint()
    finally prefix.unpersist(blocking = true)
  }

  /** Fail-fast pre-flight on a candidate-pair estimate measured from the
    * operator's OWN posting lists (the [[lshOperatingPoints]] philosophy:
    * quadratic stages run on measured numbers, not hope). fp sum is fine —
    * this is a guard threshold, not a gated result. */
  private def requireCandidateBudget(estimate: Double, budget: Long,
                                     op: String, shingleK: Int,
                                     threshold: Double): Unit =
    require(estimate <= budget.toDouble,
      f"$op pre-flight refused: ~$estimate%.0f candidate pairs measured " +
        f"from the prefix posting lists at shingleK=$shingleK, " +
        f"threshold=$threshold exceed candidateBudget=$budget. The unit " +
        "vocabulary is too degenerate to prune on — run " +
        "Dedup.recommendShingleK to measure the smallest k whose prefix " +
        "postings fit the budget (rarer units prune harder), raise " +
        "threshold, or raise candidateBudget explicitly if the cost is " +
        "intended.")

  /** One measured prefix-filter operating point: the probe row behind
    * [[shingleKProfile]] / [[recommendShingleK]]. */
  final case class ShingleKLoad(shingleK: Int, nDocs: Long, nUnits: Long,
                                nPrefixPostings: Long, maxPosting: Long,
                                hotUnit: String, candPairs: Long)

  /** One tokenization pass shared by every k a multi-k probe touches:
    * the corpus' word arrays, widened then checkpointed, so each k's
    * shingle derivation reads materialized tokens instead of re-running
    * the widen exchange + trim/lower/split over the raw text (guide
    * §2.3/§2.4 — the r17 q326 probe paid a full widen+tokenize+shingle
    * pass per k, 5× for the default ks). */
  private def wordArrays(df: DataFrame, textCol: String,
                         idCol: String): DataFrame =
    graft.Tables.widen(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
      .localCheckpoint()

  /** k-shingle token sets derived from prepared word arrays —
    * value-identical to [[prefixTokenSets]]: `shinglesOf` is shared
    * verbatim by both expressions, `shinglesOf(words, 1)` is the word
    * array itself, and `tokens()` ≡ `tokensOf` is the
    * TextHashParitySpec contract. NOT checkpointed: the probe reads it
    * exactly once (into the persisted explode). */
  private def tokenSetsFromWords(words: DataFrame, k: Int): DataFrame =
    words.select(col("id"), array_distinct(
        graft.functions.TextHashFunctions.shinglesFromTokens(col("w"), k))
        .as("toks"))
      .filter(size(col("toks")) > 0)

  /** Per-k distinct-doc counts for the multi-k probes, in ONE tiny
    * aggregate over the shared word arrays: a doc has a non-empty
    * k-shingle set iff it has >= k words (`shinglesOf` yields empty iff
    * n < k, and `split` never yields an empty array — a non-null "" text
    * tokenizes to {""}), so countDistinct over the qualifying ids equals
    * prefixLoadForK's old countDistinct(id) over the exploded stream —
    * without paying a full-explode Expand pass per k. */
  private def docCountsAtK(words: DataFrame,
                           ks: Seq[Int]): Map[Int, Long] = {
    val aggs = ks.map(k =>
      countDistinct(when(size(col("w")) >= k, col("id"))).as(s"nd_$k"))
    val row = words.agg(aggs.head, aggs.tail: _*).head()
    ks.zipWithIndex.map { case (k, i) => k -> row.getLong(i) }.toMap
  }

  private def prefixLoadForK(toks: DataFrame, nDocs: Long,
                             threshold: Double, k: Int): ShingleKLoad = {
    // ONE persisted explode feeds the df-count and the posting stage —
    // the r17 formulation additionally ran a countDistinct-pair shape
    // aggregate over the same stream, i.e. an Expand (2× row
    // duplication) per k for two numbers this chain already produces:
    // n_units is tokenDf's row count, n_docs comes from the shared
    // word-array aggregate ([[docCountsAtK]]).
    val exploded = explodedTokens(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tokenDf = exploded.groupBy("t").agg(count(lit(1)).as("tdf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // this count is the FIRST action: one linear pass lands both
      // caches (r17 ADVICE ordering) before the two-branch posting join
      // reads them — the shingle explode is never computed twice
      val nUnits = tokenDf.count()
      val buckets = prefixFromPosts(exploded.join(tokenDf, "t"), threshold)
        .groupBy("t").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val agg = buckets.agg(
        coalesce(sum(col("c")), lit(0L)).as("n_post"),
        coalesce(max(col("c")), lit(0L)).as("max_c"),
        // Σ c·(c−1) is even → `div 2` exact in Long (the
        // bandedHammingPairs arithmetic contract)
        coalesce(expr("sum(c * (c - 1)) div 2"), lit(0L)).as("pairs"),
        // hottest bucket fused into the same aggregate (was a separate
        // orderBy-limit job): minimizing (-c, t) == orderBy(c desc, t)
        expr("min_by(t, struct(-c, t))").as("hot"))
        .head()
      val maxC = agg.getLong(1)
      require(maxC <= 3037000499L,
        s"shingleK probe at k=$k: hottest posting bucket $maxC overflows " +
          "64-bit pair arithmetic — the configuration is quadratic " +
          "regardless of budget")
      val hot = if (maxC == 0L) "" else agg.getString(3)
      ShingleKLoad(k, nDocs, nUnits, agg.getLong(0), maxC, hot,
        agg.getLong(2))
    } finally {
      exploded.unpersist(blocking = true)
      tokenDf.unpersist(blocking = true)
    }
  }

  /** Vocabulary-driven shingleK pre-flight for the prefix-filter family
    * (r17 — q193's sf1 root cause turned into a measured guard): for each
    * candidate k, the OPERATOR'S OWN posting-stage numbers — distinct
    * units, prefix-posting mass, the hottest posting bucket BY NAME, and
    * the exact implied candidate-pair count Σ c·(c−1)/2 — measured through
    * [[prefixTokenSets]]/[[prefixPostings]] themselves (a re-implementation
    * would drift). On a degenerate vocabulary (this repo's 31-word
    * synthetic) the rows show the collapse directly: the r11/r16 probes
    * measured 66M candidates at k=1 vs 160 at k=5 on the same sf1 corpus.
    * Each k costs one posting pass (tokenize + df-rank), never a
    * self-join — the probe is what makes the quadratic configuration
    * refusable BEFORE it runs. */
  def shingleKProfile(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.5,
                      ks: Seq[Int] = Seq(1, 2, 3, 4, 5)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = wordArrays(df, textCol, idCol)
    val nd = docCountsAtK(words, ks)
    // the per-k probes are INDEPENDENT jobs over the shared checkpointed
    // word arrays — overlap them from a small driver pool (guide §2.6:
    // the next k's tasks back-fill executors freed by the current k's
    // stage tails; 3 in flight fills the tail without starving any one
    // probe). Each probe's persist/unpersist pair is scoped to its own
    // DataFrames, so concurrent probes never touch each other's blocks.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, ks.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val loads = try {
      val futs = ks.map(k => scala.concurrent.Future {
        prefixLoadForK(tokenSetsFromWords(words, k), nd(k), threshold, k)
      })
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    loads
      .map(l => (l.shingleK.toLong, l.nDocs, l.nUnits, l.nPrefixPostings,
        l.maxPosting, l.hotUnit, l.candPairs))
      .toDF("shingle_k", "n_docs", "n_units", "n_prefix_postings",
        "max_posting", "hot_unit", "cand_pairs")
  }

  /** The refusal's actionable twin: the SMALLEST k in `ks` whose measured
    * prefix-posting candidate mass fits `candidateBudget` — probing
    * ascending and stopping at the first fit, so the common case pays one
    * posting pass. Throws (naming the hottest unit of the last k tried)
    * when no candidate k fits. */
  def recommendShingleK(df: DataFrame, textCol: String, idCol: String,
                        threshold: Double = 0.5,
                        candidateBudget: Long = 100000000L,
                        ks: Seq[Int] = Seq(1, 2, 3, 4, 5)): Int = {
    require(ks.nonEmpty && ks == ks.sorted, "ks must be ascending")
    val words = wordArrays(df, textCol, idCol)
    val nd = docCountsAtK(words, ks)
    var last: ShingleKLoad = null
    val it = ks.iterator
    while (it.hasNext) {
      val k = it.next()
      last = prefixLoadForK(tokenSetsFromWords(words, k), nd(k), threshold, k)
      if (last.candPairs <= candidateBudget) return last.shingleK
    }
    throw new IllegalArgumentException(
      s"recommendShingleK: no k in ${ks.mkString("{", ",", "}")} fits " +
        s"candidateBudget=$candidateBudget at threshold=$threshold — at " +
        s"k=${last.shingleK} the prefix postings still imply " +
        s"${last.candPairs} candidate pairs (hottest unit " +
        s"'${last.hotUnit}' in ${last.maxPosting} prefixes). Raise the " +
        "threshold, extend ks, or accept the cost explicitly via " +
        "candidateBudget.")
  }

  def prefixFilterJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                               threshold: Double, shingleK: Int = 3,
                               candidateBudget: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val toks = prefixTokenSets(df, textCol, idCol, shingleK)
    val prefix = prefixPostings(toks, threshold)
    // materialize the candidate pairs (bounded by the pre-flight budget
    // by construction), then release the posting cache deterministically
    // — CacheManager entries are not GC-reclaimable, and a long-lived
    // session calling this repeatedly must not accumulate blocks. The
    // finally covers a guard REFUSAL too: the throw must not leak blocks.
    val cands = try {
      // exact join-work count: Σ_t c·(c−1)/2 over prefix-posting buckets
      val est = prefix.groupBy("t").agg(count(lit(1)).cast("double").as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)))
        .head().getDouble(0)
      requireCandidateBudget(est, candidateBudget,
        "prefixFilterJaccardPairs", shingleK, threshold)
      prefixCandidatesFrom(prefix).localCheckpoint()
    } finally prefix.unpersist(blocking = true)
    // widen the checkpointed candidates before the verify join: AQE
    // coalesces the distinct() to a handful of partitions at gate scale,
    // which would serialize the array_intersect verify pass onto as many
    // cores (guide §2.5; measured 4-task verify stage on q211's twin)
    graft.Tables.widen(cands)
      .join(toks.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("double"))
      // |A∪B| arithmetically from distinct sets (r18, see verifiedNearDups)
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("double") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate count at an operating point, measured through the
    * operator's own stages (ScaleBoundsSpec bounds it at q193's). */
  private[graft] def prefixCandidateCount(df: DataFrame, textCol: String,
                                          idCol: String, threshold: Double,
                                          shingleK: Int): Long =
    prefixCandidates(prefixTokenSets(df, textCol, idCol, shingleK),
      threshold).count()

  /** ASYMMETRIC near-dup detection: ordered pairs where doc A's token set
    * is `threshold`-contained in doc B's — |A∩B| / |A| ≥ t. Jaccard
    * misses exactly these (a paragraph quoted inside a long page scores
    * near-zero Jaccard at full containment), yet "A is inside B" is the
    * dup class quotation, scraping, and template-wrapping produce; the
    * quote/subset companion to [[prefixFilterJaccardPairs]].
    *
    * Candidates via the containment form of the prefix filter: order
    * tokens rarest-first (corpus df, ties by bytes); if |A∩B| ≥ t·|A|
    * then A's prefix of length |A| − ceil(t·|A|) + 1 must share a token
    * with B SOMEWHERE (were all common tokens outside it, they'd have to
    * fit in the length-(ceil(t·|A|)−1) suffix), so joining A-prefixes
    * against FULL postings loses nothing — exact recall at t, verified
    * with the exact containment from the full sets.
    *
    * Scale: only the contained side gets a prefix (B genuinely needs all
    * its tokens — subset semantics), but the JOIN KEYS are restricted to
    * tokens that land in some A-prefix, i.e. the rare end of the
    * vocabulary: the full-postings bucket for token w is df(w), small
    * exactly where the join fans out, and common tokens never become
    * keys. As with the Jaccard twin, `shingleK > 1` is the knob that
    * makes units rare on a degenerate vocabulary — it defaults to 3 for
    * the same probe-measured reason, and the same `candidateBudget`
    * pre-flight refuses a configuration whose measured prefix×postings
    * join work exceeds the budget. DECIMAL ceiling for the prefix length
    * (the fp-overshoot bug noted on [[prefixCandidates]]). */
  /** `prefix` and `posts` views plus the two PERSISTED datasets backing
    * them — callers must `release()` once candidates have materialized
    * (the [[prefixPostings]] lifecycle contract: CacheManager entries
    * are not GC-reclaimable). */
  private[graft] final case class ContainmentStages(
      prefix: DataFrame, posts: DataFrame, cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist(blocking = true))
  }

  private[graft] def containmentStages(toks: DataFrame, threshold: Double)
      : ContainmentStages = {
    val exploded = toks.select(col("id"), size(col("toks")).as("n"),
      explode(col("toks")).as("t"))
    val tokenDf = exploded.groupBy("t").agg(count(lit(1)).as("tdf"))
    val posts = exploded.join(tokenDf, "t")
      // ranking + join side + guard reuse; persist for AQE stats (see
      // prefixPostings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = posts.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
        .orderBy(col("tdf"), col("t"))))
    val tDec = lit(java.math.BigDecimal.valueOf(threshold))
    val prefix = ranked.filter(
      col("r") <= col("n") - ceil(col("n") * tDec) + 1)
      .select("t", "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ContainmentStages(prefix, posts.select("t", "id"), Seq(prefix, posts))
  }

  /** A-prefix postings joined against FULL postings over materialized
    * stages. */
  private[graft] def containmentCandidatesFrom(prefix: DataFrame,
                                               posts: DataFrame): DataFrame =
    prefix.select(col("t"), col("id").as("id_a"))
      .join(posts.select(col("t"), col("id").as("id_b")), "t")
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()

  /** Cross-corpus [[containmentPairs]] — the DECONTAMINATION shape: which
    * `needles` (benchmark items, eval prompts) are `threshold`-contained
    * in some `haystack` (training) document. Same exact-recall containment
    * prefix filter, but the needle prefix is ordered by HAYSTACK document
    * frequency — the prefix rule is order-free (the pigeonhole argument
    * never uses the order, only the prefix length), so ordering by the
    * side that owns the postings puts the SMALLEST posting lists under
    * the join; needle tokens absent from the haystack rank first (df 0)
    * and generate no candidates at all. Corpora are assumed id-disjoint
    * (the caller's split); output is (needle id_a, haystack id_b,
    * containment of A in B). Scale: |needles| is benchmark-sized — the
    * pass is one prefix-postings join against the train corpus, never
    * |train|² anything. */
  def crossContainmentPairs(needles: DataFrame, haystack: DataFrame,
                            textCol: String, idCol: String,
                            threshold: Double, shingleK: Int = 3,
                            candidateBudget: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val na = prefixTokenSets(needles, textCol, idCol, shingleK)
    val hb = prefixTokenSets(haystack, textCol, idCol, shingleK)
    val hPosts = hb.select(col("id"), explode(col("toks")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hDf = hPosts.groupBy("t").agg(count(lit(1)).as("tdf"))
    val aTok = na.select(col("id"), size(col("toks")).as("n"),
        explode(col("toks")).as("t"))
      .join(hDf, Seq("t"), "left")
      .withColumn("tdf", coalesce(col("tdf"), lit(0L)))
    val ranked = aTok.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
        .orderBy(col("tdf"), col("t"))))
    val tDec = lit(java.math.BigDecimal.valueOf(threshold))
    val prefix = ranked.filter(
      col("r") <= col("n") - ceil(col("n") * tDec) + 1)
      .select("t", "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // budget-bounded candidates materialized, posting cache released
    // deterministically — on the guard-refusal path too (prefixPostings
    // lifecycle contract)
    val cands = try {
      // exact join-work count, same stance as the self-join twins: needle
      // prefixes are benchmark-sized by contract, but a degenerate vocab
      // at k=1 still fans every prefix token across the full haystack
      // postings — measure it before the join, not after
      val est = prefix.groupBy("t")
        .agg(count(lit(1)).cast("double").as("cp"))
        .join(hPosts.groupBy("t")
          .agg(count(lit(1)).cast("double").as("cf")), "t")
        .agg(coalesce(sum(col("cp") * col("cf")), lit(0.0)))
        .head().getDouble(0)
      requireCandidateBudget(est, candidateBudget,
        "crossContainmentPairs", shingleK, threshold)
      prefix.select(col("t"), col("id").as("id_a"))
        .join(hPosts.select(col("t"), col("id").as("id_b")), "t")
        .select("id_a", "id_b").distinct()
        .localCheckpoint()
    } finally {
      prefix.unpersist(blocking = true)
      hPosts.unpersist(blocking = true)
    }
    // widen before the verify join — the prefixFilterJaccardPairs
    // parallelism fix (guide §2.5)
    graft.Tables.widen(cands)
      .join(na.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(hb.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("ta")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double, shingleK: Int = 3,
                       candidateBudget: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val toks = prefixTokenSets(df, textCol, idCol, shingleK)
    val st = containmentStages(toks, threshold)
    // budget-bounded candidates materialized, posting cache released
    // deterministically — on the guard-refusal path too (prefixPostings
    // lifecycle contract)
    val cands = try {
      // exact join-work count: Σ_t cp·cf − cp (each prefix entry always
      // matches its own doc's full posting, filtered as a self pair)
      val cp = st.prefix.groupBy("t")
        .agg(count(lit(1)).cast("double").as("cp"))
      val cf = st.posts.groupBy("t")
        .agg(count(lit(1)).cast("double").as("cf"))
      val est = cp.join(cf, "t")
        .agg(coalesce(sum(col("cp") * col("cf") - col("cp")), lit(0.0)))
        .head().getDouble(0)
      requireCandidateBudget(est, candidateBudget,
        "containmentPairs", shingleK, threshold)
      containmentCandidatesFrom(st.prefix, st.posts).localCheckpoint()
    } finally st.release()
    // widen before the verify join — the prefixFilterJaccardPairs
    // parallelism fix (guide §2.5)
    graft.Tables.widen(cands)
      .join(toks.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("ta")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Blocking-key pre-flight for [[recordLinkagePairs]]: for each CANDIDATE
    * blocking expression, the pair work it implies — Σ b·(b−1)/2 over its
    * block sizes — plus block-count/max-block/coverage stats, so the
    * quadratic-stage key is chosen from measured numbers, not intuition
    * (the [[lshOperatingPoints]] / joinPreflightCard philosophy applied to
    * linkage). One count-per-block aggregation per candidate, unioned;
    * all sums are exact integers. `null_keys` rows never enter a block
    * (they'd pair with every other null — the classic blocking blowup). */
  def linkageBlockProfile(df: DataFrame, idCol: String,
                          candidates: Seq[(String, Column)]): DataFrame = {
    require(candidates.nonEmpty, "at least one candidate blocking key")
    require(candidates.map(_._1).distinct.size == candidates.size,
      "duplicate candidate names (rows would be indistinguishable)")
    candidates.map { case (name, key) =>
      val keyed = df.select(col(idCol).as("id"), key.as("blk"))
      val withNull = keyed.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("blk").isNull, 1L).otherwise(0L)).as("null_keys"))
      val blocks = keyed.filter(col("blk").isNotNull)
        .groupBy(col("blk")).agg(count(lit(1)).as("b"))
        .agg(count(lit(1)).as("n_blocks"),
          coalesce(max(col("b")), lit(0L)).as("max_block"),
          coalesce(sum(expr("b * (b - 1) div 2")), lit(0L))
            .cast("long").as("est_pairs")) // integer div: longs end to end
      withNull.crossJoin(broadcast(blocks))
        .select(lit(name).as("block_key"), col("n_rows"), col("null_keys"),
          col("n_blocks"), col("max_block"), col("est_pairs"),
          round(col("est_pairs").cast("double") /
            greatest(col("n_rows"), lit(1L)), 2).as("pairs_per_row"))
    }.reduce(_ unionByName _)
  }

  /** Phonetic blocking over the words of a name column: each distinct
    * (record, word) gets the Soundex-style
    * [[graft.functions.StringSimilarity.phoneticKey]], and the report
    * profiles every key's block — how many records and distinct words it
    * pools (n_words > 1 rows are exactly the sound-alike candidates a
    * [[recordLinkagePairs]] pass would then score). The missing member of
    * the q191/q192/q206 linkage family: those block on EXACT tokens, so a
    * one-typo word lands outside its block and the pair is unreachable;
    * a phonetic key is typo-tolerant by construction. Pure projection +
    * one aggregate — the key is codegen'd builtins end to end, no UDF. */
  def phoneticBlocks(df: DataFrame, idCol: String,
                     nameCol: String): DataFrame = {
    val words = df.select(col(idCol).as("id"),
        explode(split(col(nameCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    words
      .withColumn("key", graft.functions.StringSimilarity.phoneticKey(col("w")))
      .filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(countDistinct(col("id")).cast("long").as("n_records"),
        countDistinct(col("w")).cast("long").as("n_words"),
        min(col("w")).as("example_word"))
  }

  /** Field-level survivorship over duplicate clusters — the "golden
    * record" step after [[connectedComponents]]: where
    * [[clusterRepresentatives]] keeps ONE whole row per cluster, this
    * composes the output record from the best value PER FIELD (longest
    * text from one member, canonical source from another), the standard
    * MDM merge.
    *
    * `fields` maps each output field to its ranking column: the cluster
    * member maximizing (rank, then lowest id) contributes that field's
    * value, via one `min(struct(−rank, id, value))` per field inside a
    * single aggregation — no rank windows, per-cluster state is one
    * struct per field. The id rides the struct UN-negated, so it may be
    * any orderable type (string business keys included — the common MDM
    * case); only the RANKING column must be numeric (it is negated to
    * flip the struct ordering). Docs absent from `components` (no dup
    * link) form singleton clusters of themselves. Output: component_id,
    * n_members, canonical_id (min member id), and per field
    * `golden_<name>` + `<name>_from` (the contributing member). */
  def goldenRecords(df: DataFrame, components: DataFrame, idCol: String,
                    fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "at least one survivorship field")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate survivorship field names (duplicate aggregate aliases)")
    val comp = df.select(col(idCol).as("node"))
      .join(components, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component_id"))
    val joined = df.join(comp, df(idCol) === comp("node"))
    val aggs = Seq(
      count(lit(1)).cast("long").as("n_members"),
      min(col("node")).as("canonical_id")) ++
      fields.map { case (name, rank) =>
        min(struct(negate(rank).as("nrk"), col("node").as("from"),
          col(name).as("v"))).as(s"__$name")
      }
    val out = fields.flatMap { case (name, _) =>
      Seq(col(s"__$name.v").as(s"golden_$name"),
        col(s"__$name.from").as(s"${name}_from"))
    }
    joined.groupBy(col("component_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("component_id"), col("n_members"),
        col("canonical_id")) ++ out: _*)
  }

  /** Fellegi–Sunter match/unmatch weight estimation by EM over UNLABELED
    * candidate pairs — the classical statistical core of probabilistic
    * record linkage (Fellegi & Sunter 1969; the Splink/industry-standard
    * parameter-estimation step). Given candidate pairs and `k` binary
    * comparison fields, the latent two-class model learns, per field, the
    * agreement probability among true matches (m) and among non-matches
    * (u); a pair's linkage score is then Σ log₂(m/u) over agreeing fields
    * + Σ log₂((1−m)/(1−u)) over disagreeing ones — which is exactly what
    * this returns per field, plus the estimated match prior. The ad-hoc
    * thresholds the distance matchers ([[recordLinkagePairs]],
    * [[damerauPairs]]) need are replaced by weights the DATA chose.
    *
    * Scale contract: one pass collapses the pairs to ≤ 2^k pattern
    * counts (k ≤ 10 enforced) — EM then runs DRIVER-SIDE on that bounded
    * frame (the [[graft.operators.Sampling.neymanAllocation]]
    * control-plane-collect contract) with ascending-pattern fold order,
    * so an external engine replays every double exactly (the oracle
    * unrolls the same fixed `iters`). Null field values count as
    * DISAGREEMENT (a comparison that cannot agree did not agree).
    * Probabilities are clamped to [1e-9, 1−1e-9] each step so the log
    * weights stay finite on degenerate fields. */
  def fellegiSunterWeights(pairs: DataFrame, fields: Seq[(String, Column)],
                           iters: Int = 5): DataFrame = {
    val k = fields.size
    require(k >= 1 && k <= 10, "1 to 10 comparison fields")
    require(iters >= 1 && iters <= 20, "iters in [1, 20]")
    val pat = fields.zipWithIndex.map { case ((_, c), j) =>
      when(coalesce(c, lit(false)), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val counts = pairs.select(pat.as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(counts.nonEmpty, "no candidate pairs")
    def clamp(x: Double): Double = math.min(1.0 - 1e-9, math.max(1e-9, x))
    var p = 0.1
    var m = Array.fill(k)(0.9)
    var u = Array.fill(k)(0.1)
    for (_ <- 1 to iters) {
      val w = counts.map { case (g, n) =>
        val pm = (0 until k).foldLeft(p)((acc, j) =>
          acc * (if (((g >> j) & 1L) == 1L) m(j) else 1.0 - m(j)))
        val pu = (0 until k).foldLeft(1.0 - p)((acc, j) =>
          acc * (if (((g >> j) & 1L) == 1L) u(j) else 1.0 - u(j)))
        (g, n, pm / (pm + pu))
      }
      val totN = counts.foldLeft(0.0)((acc, t) => acc + t._2)
      val sumW = w.foldLeft(0.0)((acc, t) => acc + t._2 * t._3)
      val sumUW = w.foldLeft(0.0)((acc, t) => acc + t._2 * (1.0 - t._3))
      p = clamp(sumW / totN)
      m = Array.tabulate(k)(j => clamp(w.foldLeft(0.0)((acc, t) =>
        acc + (if (((t._1 >> j) & 1L) == 1L) t._2 * t._3 else 0.0)) / sumW))
      u = Array.tabulate(k)(j => clamp(w.foldLeft(0.0)((acc, t) =>
        acc + (if (((t._1 >> j) & 1L) == 1L) t._2 * (1.0 - t._3) else 0.0)) / sumUW))
    }
    val ln2 = math.log(2.0)
    val spark = pairs.sparkSession
    import spark.implicits._
    fields.zipWithIndex.map { case ((name, _), j) =>
      (name, m(j), u(j), math.log(m(j) / u(j)) / ln2,
        math.log((1.0 - m(j)) / (1.0 - u(j))) / ln2, p)
    }.toDF("field", "__m", "__u", "__wa", "__wd", "__p")
      .select(col("field"), round(col("__m"), 6).as("m"),
        round(col("__u"), 6).as("u"),
        round(col("__wa"), 4).as("w_agree"),
        round(col("__wd"), 4).as("w_disagree"),
        round(col("__p"), 6).as("match_prior"))
  }

  /** Corpus-wide EXACT PARAGRAPH dedup — the C4/Dolma preprocessing step
    * between document-level exact dedup ([[exact]]) and near-dup
    * clustering: every paragraph (delimiter-split span, whitespace-only
    * spans ignored) that appears anywhere else in the corpus keeps only
    * its FIRST occurrence — smallest `(id, pos)`, so in-doc repeats lose
    * to the earliest position and cross-doc repeats lose to the lowest
    * id — and each document is reassembled from its surviving paragraphs
    * in original order. Returns one row per input document:
    * `(id, text_clean, n_paras, n_kept)`; `text_clean` is `""` when
    * every paragraph of the document lost its survivorship race.
    *
    * PRECONDITION: `idCol` must be unique per input row. Duplicate ids
    * make `(id, pos)` collide across rows, so paragraphs from different
    * rows of the same id can both win survivorship and get merged or
    * interleaved into one reassembled document. (Same contract as the
    * other per-document operators; the gate's `doc_id` is a key.)
    *
    * Scale shape: the paragraph explosion is row-linear (posexplode);
    * the first-occurrence choice is a partial-aggregating
    * `groupBy(fingerprint).agg(min(struct(id, pos)))` — map-side combine
    * collapses a boilerplate paragraph duplicated a million-fold before
    * it reaches the shuffle, so a hot paragraph cannot pin a reducer the
    * way a `row_number` window partitioned by paragraph would.
    *
    * The shuffle key is a 128-bit FINGERPRINT (two independent xxhash64
    * lanes) plus the paragraph length — never the paragraph text. Keying
    * the survivorship agg and join on raw text would push the corpus's
    * entire text through the wire twice (distinct paragraphs — the vast
    * majority — get no map-side collapse); with fingerprints, the
    * survivorship agg and the survivor-coordinate regroup move ~28-byte
    * keys, and the full text crosses the shuffle exactly ONCE, as join
    * payload keyed by doc id for the per-doc reassembly (which the
    * following groupBy(id) then reuses — same hash partitioning, no
    * second text shuffle). Collision stance: a false paragraph merge
    * needs two DISTINCT paragraphs agreeing on both 64-bit lanes AND
    * length — P ≈ n²/2^129, ~1e-15 even at 10^12 paragraphs — and its
    * blast radius is one wrongly-dropped paragraph occurrence, not a
    * corrupted document; the trade buys not shuffling corpus text as
    * keys at 100 TB. Reassembly's sort_array is bounded by the
    * document's own paragraph count. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
      // whitespace-ONLY spans (not just space-only — trim() stops at
      // 0x20) are structure, not paragraphs: never dedup keys, never
      // reassembled
      .filter(!col("para").rlike("^\\s*$"))
    // two independent 64-bit lanes: xxhash64 chains the prepended lit
    // through its seed, so lane 2 is decorrelated from lane 1
    val keyed = paras.select(col("id"), col("pos"),
      xxhash64(col("para")).as("fp1"),
      xxhash64(lit("graft.para.fp2"), col("para")).as("fp2"),
      length(col("para")).as("fplen"))
    val firsts = keyed.groupBy("fp1", "fp2", "fplen")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    // survivor COORDINATES per doc — (id, [pos]) only, no text
    val keepPos = firsts
      .groupBy(col("first.id").as("id"))
      .agg(collect_list(col("first.pos")).as("keep_pos"))
    val perDoc = paras.groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_paras"))
    // the one text-carrying shuffle: paras keyed by id for reassembly
    val rebuilt = paras.join(keepPos, Seq("id"))
      .filter(array_contains(col("keep_pos"), col("pos")))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("para")))),
          e => e("para")), sep).as("text_clean"))
    df.select(col(idCol).as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
