package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** Scale-growth diagnostic for the banded/bucketed dedup operators: counts
  * CANDIDATE pairs (the quantity that must stay sub-quadratic), verified
  * pairs, and connected-components fixpoint rounds at a given scale factor,
  * one JSON line per probe. Run at two decades (sf0.1 and the generated
  * sf1 — `tools/gen_scale.py`) and compare growth: a 10x corpus must grow
  * candidates ~10-100x depending on bucket granularity, never the all-pairs
  * 100x-per-bucket blowup. Parameters mirror the q20/q22/q38/q51/q53/q85
  * gates exactly.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> [probe...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <sfDir> [probe...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // UTC like graft.Verify — Tables.widen's NTZ cast assumes it
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def docs = Tables.widen(Tables.load(spark, sfDir, "documents"))
    def emb = Tables.widen(Tables.load(spark, sfDir, "embeddings"))

    // orders at the probed decade; the scratch sf1 dir carries only
    // documents/embeddings, so the extra decade for the stats batch is a
    // 10x explode of sf0.1 with distinct keys and per-copy price jitter
    // (see the r13 stats-batch probe comment below)
    def ordersAt(dir: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      if (new java.io.File(s"$dir/orders.parquet").exists())
        Tables.load(spark, dir, "orders")
      else
        Tables.load(spark, "/root/testdata/sf0.1", "orders")
          .select(explode(sequence(lit(0L), lit(9L))).as("cp"), col("*"))
          .withColumn("o_orderkey",
            col("o_orderkey") * 10 + col("cp"))
          .withColumn("o_totalprice",
            col("o_totalprice") + col("cp").cast("double") * 0.0101)
          .drop("cp")
    }

    // measured through the operator's OWN candidate stage
    // (Dedup.prefixCandidates) — a probe-local re-implementation would
    // drift from the contract it claims to measure
    def prefixCandCount(docs: org.apache.spark.sql.DataFrame,
                        t: Double, k: Int): Long =
      Dedup.prefixCandidateCount(docs, "text", "doc_id", t, k)

    // one seed+merge pass serves all eight SCD metrics (lazy: only runs
    // when an scd probe is actually selected)
    lazy val scdWrite: Map[String, Long] = scdWriteProbes(spark, sfDir)

    val probes: Seq[(String, () => Long)] = Seq(
      "docs_rows" -> (() => docs.count()),
      "emb_rows" -> (() => emb.count()),
      // q20 minhash LSH (bands=4, rowsPerBand=2): banded-bucket candidates
      "q20_minhash_cand" -> (() =>
        Dedup.minHashCandidates(docs, "text", "doc_id",
          bands = 4, rowsPerBand = 2).count()),
      "q20_minhash_pairs" -> (() =>
        Dedup.verifiedNearDups(docs, "text", "doc_id",
          threshold = 0.2, bands = 4, rowsPerBand = 2).count()),
      // q22 ngram inverted index (shingleK=5, maxPostings=1000):
      // threshold=0 keeps every posting-list candidate
      "q22_ngram_cand" -> (() =>
        Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          shingleK = 5, threshold = 0.0).count()),
      "q22_ngram_pairs" -> (() =>
        Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          shingleK = 5, threshold = 0.1).count()),
      // q38 simhash byte-bands: maxHamming=32 keeps every band candidate
      "q38_simhash_cand" -> (() =>
        Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 32).count()),
      "q38_simhash_pairs" -> (() =>
        Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 3).count()),
      // r15 singleton-bucket filter: hamming64NearDups now reuses its
      // pre-flight bucket counts to drop singleton buckets before the
      // self-join. These probes measure the join's INPUT rows (the
      // multi-occupancy mass Σ s over buckets with s ≥ 2) against the
      // unfiltered 4n, for the two signature regimes: the synthetic
      // corpus's SimHash (similar docs → multi-occupancy dominates →
      // filter ~neutral, the honest local story) and a uniform 64-bit
      // hash (a realistic near-dup-sparse population → singletons
      // dominate → the join input collapses)
      "hamm64_rows_unfiltered" -> (() => docs.count() * 4),
      "hamm64_multirows_simhash" -> (() => {
        import org.apache.spark.sql.functions._
        hamm64MultiRows(docs.select(col("doc_id").as("id"),
          Dedup.simHash64(col("text")).as("sig")))
      }),
      "hamm64_multirows_uniform" -> (() => {
        import org.apache.spark.sql.functions._
        hamm64MultiRows(docs.select(col("doc_id").as("id"),
          xxhash64(col("doc_id")).as("sig")))
      }),
      // q108 64-bit simhash with 16-bit bands — the scale path the 32-bit
      // byte-banding measurement motivated. Candidate count = band-bucket
      // pairs (rebuilt from the public signature column; maxHamming=63
      // would double-count the verify, this counts the join itself)
      "q108_simhash64_cand" -> (() => {
        import org.apache.spark.sql.functions._
        val sigs = docs.select(col("doc_id").as("id"),
          Dedup.simHash64(col("text")).as("sig")).localCheckpoint()
        val banded = sigs.select(col("id"), posexplode(
          array((0 until 4).map(b =>
            shiftrightunsigned(col("sig"), b * 16)
              .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band", "bucket")))
        banded.alias("a").join(banded.alias("b"),
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
          .select(col("a.id"), col("b.id")).distinct().count()
      }),
      "q108_simhash64_pairs" -> (() =>
        Dedup.simHashNearDups64(docs, "text", "doc_id", maxHamming = 3).count()),
      // r16 wider-signature regime (q316): the 128-bit engine's 5×25-26-bit
      // bands carry 2^25-2^26 buckets/band vs the 64-bit engine's 2^16 —
      // these probes measure the SAME two quantities as the hamm64 rows
      // (join-input multi-occupancy mass; distinct banded candidates) so
      // the saturation cliff is directly comparable across regimes: on a
      // uniform population the 64-bit engine's multi mass grows
      // super-linearly past ~50k sigs (birthday load ≥ 0.76/bucket) while
      // the 128-bit engine's stays ~0 until three decades later
      "hamm128_rows_unfiltered" -> (() => docs.count() * 5),
      "hamm128_multirows_simhash" -> (() => {
        import org.apache.spark.sql.functions._
        hamm128MultiRows(docs.select(col("doc_id").as("id"),
          Dedup.simHash128(col("text")).as("sig")))
      }),
      "hamm128_multirows_uniform" -> (() => {
        import org.apache.spark.sql.functions._
        hamm128MultiRows(docs.select(col("doc_id").as("id"),
          array(xxhash64(col("doc_id")),
            xxhash64(col("doc_id"), lit(1))).as("sig")))
      }),
      "q316_simhash128_cand" -> (() => {
        import org.apache.spark.sql.functions._
        val banded = Dedup.banded128(docs.select(col("doc_id").as("id"),
          Dedup.simHash128(col("text")).as("sig")).localCheckpoint())
        banded.alias("a").join(banded.alias("b"),
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
          .select(col("a.id"), col("b.id")).distinct().count()
      }),
      "q316_simhash128_pairs" -> (() =>
        Dedup.simHashNearDups128(docs, "text", "doc_id", maxHamming = 4)
          .count()),
      // r16 dedup-first clustering (q319): implied within-bucket candidate
      // pairs (Σ s·(s−1)/2 straight from the bucket profile — no join) for
      // a 30%-template population (every doc_id%10<3 carries ONE identical
      // signature — the boilerplate-crawl shape), plain engine vs the
      // rep-collapsed input hamming64DedupClusters actually bands. The
      // plain count is quadratic in template mass BY CONSTRUCTION; the
      // collapsed one is the uniform-population residual.
      "template_cand_plain" -> (() => templateImpliedPairs(docs, collapse = false)),
      "template_cand_dedupfirst" -> (() => templateImpliedPairs(docs, collapse = true)),
      // q85 aligned-window blocking (window=64, stride=32, maxPostings=1000)
      "q85_window_cand" -> (() =>
        Dedup.sharedWindowPairs(docs, "doc_id", "text").count()),
      "q85_edit_pairs" -> (() =>
        Dedup.editDistanceNearDups(docs, "doc_id", "text", maxDist = 5).count()),
      // q51 random-hyperplane LSH (bitsPerBand=8, numBands=2):
      // threshold=-1 keeps every block-join candidate
      "q51_embed_cand" -> (() =>
        Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", dim = 64,
          threshold = -1.0, bitsPerBand = 8, numBands = 2).count()),
      "q51_embed_pairs" -> (() =>
        Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", dim = 64,
          threshold = 0.30, bitsPerBand = 8, numBands = 2).count()),
      // q109 incremental near-dups: an 80/20 split's cross-set candidates
      // (threshold=0 keeps every banded candidate the verify would see)
      "q109_incremental_cand" -> (() => {
        import org.apache.spark.sql.functions._
        val h = pmod(graft.functions.Hashes.portableHash32(
          col("doc_id").cast("string")), lit(10000L))
        val index = Dedup.minHashIndexTable(docs.filter(h < 8000),
          "text", "doc_id", bands = 4, rowsPerBand = 2).localCheckpoint()
        Dedup.incrementalNearDups(docs.filter(h >= 8000), index,
          "text", "doc_id", threshold = 0.0, bands = 4, rowsPerBand = 2).count()
      }),
      // the TIGHT embedding-LSH operating point (16-bit bands, cosine>=0.9):
      // the true-pair set is sparse here, so candidates must stay
      // sub-quadratic — this is the configuration a 100 TB near-dup pass
      // runs, unlike q51's deliberately coarse high-recall gate point
      "q51_tight_cand" -> (() =>
        Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", dim = 64,
          threshold = -1.0, bitsPerBand = 16, numBands = 4).count()),
      "q51_tight_pairs" -> (() =>
        Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", dim = 64,
          threshold = 0.9, bitsPerBand = 16, numBands = 4).count()),
      // q116 SemDeDup: candidate pairs = Σ c·(c-1)/2 over cluster sizes,
      // computed FROM the assignment (no pair join needed for the bound).
      // nClusters scales as n/1000 — the published operating point that
      // keeps each within-cluster scan in the thousands
      "q116_semantic_cand" -> (() => {
        import org.apache.spark.sql.functions._
        val n = emb.count()
        val k = math.max(8L, n / 1000L).toInt
        graft.operators.Similarity.ivfAssign(emb, k)
          .groupBy("centroid_id").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * (col("c") - 1) / 2).cast("long"))
          .collect()(0).getLong(0)
      }),
      // q118 duplicated-trigram postings: state is vocabulary-bounded —
      // distinct gram count must grow SUB-linearly in corpus size on a
      // natural-ish vocabulary (new docs mostly re-use old grams)
      "q118_gram_vocab" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(explode(graft.functions.TextHashFunctions
          .shingleHashes64(col("text"), 3)).as("g"))
          .select("g").distinct().count()
      }),
      // q123 block-boilerplate vocabulary: distinct 3-word blocks (the df
      // table the join-back keys on)
      "q123_block_vocab" -> (() => {
        import org.apache.spark.sql.functions._
        val t = Dedup.tokens(col("text"))
        val blocks = transform(
          sequence(lit(0), ((size(t) + lit(2)) / lit(3)).cast("int") - lit(1)),
          b => array_join(slice(t, b * 3 + 1, lit(3)), " "))
        docs.select(explode(blocks).as("bt"))
          .select(xxhash64(col("bt")).as("h")).distinct().count()
      }),
      // q127 cross-corpus LSH at the TIGHT operating point with a 4% bench
      // split: candidates must stay ~bench-linear, never |train|x|bench|
      "q127_cross_cand" -> (() => {
        import org.apache.spark.sql.functions._
        Dedup.crossCorpusNearDups(
          emb.filter(col("vec_id") % 25 =!= 0),
          emb.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", dim = 64, threshold = -1.0,
          bitsPerBand = 16, numBands = 4).count()
      }),
      // q53 clustering over the simhash pairs: components + fixpoint rounds
      "q53_components" -> (() => {
        val pairs = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 3)
        val n = Dedup.connectedComponents(pairs)
          .select("component").distinct().count()
        println(s"""{"probe":"q53_cc_rounds","count":${Dedup.lastCcRounds},"sec":0.0,"sf":"$sfDir"}""")
        n
      }),
      // q144 global rank: output rows == input rows (the probe's signal is
      // the per-decade RUNTIME staying ~linear — two range shuffles, no
      // single-partition sort to crack at scale)
      "q144_rank_rows" -> (() => {
        import org.apache.spark.sql.functions._
        graft.operators.Stats.globalRank(
          docs.select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id", nRanges = 64).count()
      }),
      // q146 cross-source matrix: output cells must stay <= |sources|^2
      // regardless of corpus size (pair volume is q20's, already probed)
      "q146_matrix_cells" -> (() =>
        Dedup.crossSourceDupMatrix(docs, "text", "doc_id", "source",
          threshold = 0.2).count()),
      // q147 novelty state: Σ per-source distinct grams — the
      // vocabulary-bounded quantity everything after the explode rides on
      "q147_novelty_state" -> (() => {
        import org.apache.spark.sql.functions._
        graft.operators.Corpus.ngramNovelty(docs, "source", "text", k = 3)
          .agg(sum(col("n_distinct")).cast("long")).collect()(0).getLong(0)
      }),
      // q155/q157 candidate generator: the Manku combination-banded 64-bit
      // candidate join volume (rebuilt without the Hamming verify — the
      // pigeonhole require forbids maxHamming=63 through the public entry)
      "q155_multi_cand" -> (() => {
        import org.apache.spark.sql.functions._
        val blocks = 9; val blocksPerKey = 2
        val bounds = (0 to blocks).map(i => i * 64 / blocks)
        def blockVal(sig: org.apache.spark.sql.Column, i: Int) = {
          val lo = bounds(i); val width = bounds(i + 1) - lo
          shiftrightunsigned(sig, lo).bitwiseAND(lit((1L << width) - 1L))
        }
        val combos = (0 until blocks).combinations(blocksPerKey).toSeq
        val sigs = docs.select(col("doc_id").as("id"),
          Dedup.simHash64(col("text")).as("sig")).localCheckpoint()
        val keyed = sigs.select(col("id"), posexplode(
          array(combos.map { c =>
            c.zipWithIndex.foldLeft(lit(0L)) { case (acc, (blk, slot)) =>
              acc.bitwiseOR(shiftleft(blockVal(col("sig"), blk), slot * 16))
            }
          }: _*)).as(Seq("combo", "key")))
        keyed.alias("a").join(keyed.alias("b"),
            col("a.combo") === col("b.combo") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
          .select(col("a.id"), col("b.id")).distinct().count()
      }),
      // q155 triangle counts: wedge work under the DEGREE orientation.
      // Emits side lines sum_outdeg2 (what the oriented enumeration pays)
      // and sum_deg2 (what an id-ordered enumeration would pay on the raw
      // degrees) — the scaledoc's hub-safety claim is outdeg2 << deg2 and
      // outdeg2 tracking ~edges·avg_outdeg across decades, never hub².
      "q155_wedges" -> (() => {
        import org.apache.spark.sql.functions._
        val pairs = Dedup.simHashNearDupsMulti(docs, "text", "doc_id",
          maxHamming = 7, blocks = 9, blocksPerKey = 2)
        val und = pairs.select(least(col("id_a"), col("id_b")).as("a"),
            greatest(col("id_a"), col("id_b")).as("b"))
          .filter(col("a") =!= col("b")).distinct().localCheckpoint()
        val deg = und.select(col("a").as("node"))
          .union(und.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree"))
        val withDeg = und
          .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
        val oriented = withDeg.select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("src")).localCheckpoint()
        val outdeg = oriented.groupBy("src").agg(count(lit(1)).as("od"))
        val sumOutdeg2 = outdeg.agg(sum(col("od") * col("od")).cast("long"))
          .collect()(0).getLong(0)
        val sumDeg2 = deg.agg(sum(col("degree") * col("degree")).cast("long"))
          .collect()(0).getLong(0)
        println(s"""{"probe":"q155_sum_outdeg2","count":$sumOutdeg2,"sec":0.0,"sf":"$sfDir"}""")
        println(s"""{"probe":"q155_sum_deg2","count":$sumDeg2,"sec":0.0,"sf":"$sfDir"}""")
        // wedges actually enumerated = Σ od·(od−1)/2 over the orientation
        outdeg.agg(sum(col("od") * (col("od") - 1) / 2).cast("long"))
          .collect()(0).getLong(0)
      }),
      // q125 harness over the PERSISTED index: recall@5 at the lossy
      // probe-2-of-32 operating point, trained (5 Lloyd rounds) vs the
      // deterministic first-k quantizer. Returns trained mean recall x1e4;
      // first-k recall and the two SSEs land as side lines. The production
      // question this answers: what does writeIvfIndex(trainIters=5) buy
      // at the same nProbe on this corpus?
      "q125_trained_recall" -> (() => {
        import org.apache.spark.sql.functions._
        val sim = graft.operators.Similarity
        val root = java.nio.file.Files.createTempDirectory("ivf_probe").toString
        val queries = emb.filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding"))
        val exact = sim.bruteForceTopK(emb, queries, 5).localCheckpoint()
        def meanRecall(dir: String): Double =
          sim.recallAtK(exact,
              sim.ivfTopKFromIndex(spark, dir, queries, 5, nProbe = 2), 5)
            .agg(avg(col("recall"))).collect()(0).getDouble(0)
        sim.writeIvfIndex(emb, nCentroids = 32, s"$root/firstk")
        val firstK = meanRecall(s"$root/firstk")
        sim.writeIvfIndex(emb, nCentroids = 32, s"$root/trained", trainIters = 5)
        val trained = meanRecall(s"$root/trained")
        println(s"""{"probe":"q125_firstk_recall","count":${math.round(firstK * 10000)},"sec":0.0,"sf":"$sfDir"}""")
        math.round(trained * 10000)
      }),
      // q157 label propagation: per-round edge⋈label join volume. Every
      // edge matches exactly one label row each round, so round volume is
      // |directed edges| — constant across rounds; the vote table (distinct
      // (node, neighbor-label)) can only be smaller. Emits the round-3 vote
      // rows as a side line to show the aggregation state stays edge-bounded.
      "q157_round_volume" -> (() => {
        import org.apache.spark.sql.functions._
        val pairs = Dedup.simHashNearDupsMulti(docs, "text", "doc_id",
          maxHamming = 7, blocks = 9, blocksPerKey = 2)
        val edges = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
          .union(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
          .distinct().localCheckpoint()
        val l2 = graft.operators.Graph.labelPropagation(pairs, rounds = 2)
        val votes3 = edges
          .join(l2.select(col("node").as("d"), col("label").as("nlabel")), "d")
          .groupBy(col("s"), col("nlabel")).agg(count(lit(1)))
          .count()
        println(s"""{"probe":"q157_round3_votes","count":$votes3,"sec":0.0,"sf":"$sfDir"}""")
        edges.count()
      }),
      // q168 contamination spans: the diagonal-match row count — the
      // volume entering the island window, which the maxPostings stoplist
      // must keep posting-bounded (train-side fan-out per bench gram
      // <= maxPostings). Gate parameters (k=5, src0 as bench, cap 1000);
      // the final span rows land as a side line.
      "q168_span_matches" -> (() => {
        import org.apache.spark.sql.functions._
        val k = 5
        def posts(df: org.apache.spark.sql.DataFrame, out: String, pos: String) =
          df.select(col("doc_id").as(out),
            posexplode(graft.functions.TextHashFunctions.shingleHashes64(
              col("text"), k)).as(Seq(pos, "g")))
        val tp = posts(docs.filter(col("source") =!= "src0"), "tid", "pa")
        val bp = posts(docs.filter(col("source") === "src0"), "bid", "pb")
        val keep = tp.select(col("tid"), col("g")).distinct()
          .groupBy("g").agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") <= 1000).select("g")
        val matches = tp.join(keep, "g").join(bp, "g").count()
        val spans = Dedup.crossCorpusMaxRun(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text", "doc_id", shingleK = k, minRun = 3).count()
        println(s"""{"probe":"q168_span_rows","count":$spans,"sec":0.0,"sf":"$sfDir"}""")
        matches
      }),
      // q171 pre-flight: Σ implied candidate pairs across bands at the q20
      // operating point — the number the profile predicts the LSH self-join
      // will generate (per-band, so ≥ the distinct q20_minhash_cand count;
      // the ratio across decades must track q20's, or the profile lies)
      "q171_implied_pairs" -> (() => {
        import org.apache.spark.sql.functions._
        Dedup.lshBucketProfile(docs, "text", "doc_id",
            bands = 4, rowsPerBand = 2)
          .agg(sum(col("cand_pairs")).cast("long")).collect()(0).getLong(0)
      }),
      // q176 distance profile: pair-frame size at FIXED moduli grows
      // ~100x/decade (quadratic in the sample) — the measurement behind
      // the operator's knob rule. The _scaled twin grows both moduli
      // proportionally to n (sampled sides held ~50 rows each), which must
      // hold the pair frame scale-INVARIANT across decades.
      "q176_pair_rows" -> (() => {
        import org.apache.spark.sql.functions._
        val a = emb.filter(col("vec_id") % 17 === 0).count()
        val b = emb.filter(col("vec_id") % 19 === 0).count()
        a * b // upper bound: id_a < id_b keeps ~half the cross product,
              // so the materialized frame is ~a*b/2 — ratios across
              // decades (the probe's signal) are unaffected
      }),
      "q176_pair_rows_scaled" -> (() => {
        import org.apache.spark.sql.functions._
        val n = emb.count()
        // knob rule: moduli ∝ n — each sample side stays ~50 rows, the
        // pair frame ~2500 at ANY corpus size
        val m = math.max(2L, n / 50)
        val a = emb.filter(col("vec_id") % m === 0).count()
        val b = emb.filter(col("vec_id") % (m + 2) === 0).count()
        a * b
      }),
      // q175 KS drift: the post-scan state is |sources|x32 dense cells +
      // |sources|^2/2 output pairs — both corpus-size-invariant
      "q175_cells" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(col("source")).distinct().count() * 32
      }),
      // q183 planted recall x10^4: banding recall is an operating-point
      // property (per-pair collision probability), so the measured number
      // must hold ~steady across decades — if it sagged, bucket crowding
      // would be changing the pass's effective semantics
      "q183_recall_x10k" -> (() => {
        import org.apache.spark.sql.functions._
        val r = Dedup.plantedDupRecall(docs, "text", "doc_id",
          sampleMod = 10, keepFrac = 0.7, idOffset = 10000000L,
          threshold = 0.2, bands = 4, rowsPerBand = 2)
          .collect()(0).getDouble(2)
        math.round(r * 10000)
      }),
      // q189 auto-threshold x10^6: the sampled p95 random-pair cosine must
      // be a stable corpus property, not a sample artifact — the moduli
      // scale with n (knob rule) so the sample size stays comparable
      "q189_auto_thr_x1e6" -> (() => {
        import org.apache.spark.sql.functions._
        val n = emb.count()
        val m = math.max(2L, n / 60).toInt
        val thr = graft.operators.Similarity.pairDistanceProfile(
            emb, "vec_id", "embedding", modA = m, modB = m + 2,
            ps = Seq(0.95))
          .select(col("p95")).collect()(0).getDouble(0)
        math.round(thr * 1e6)
      }),
      // q193 prefix filtering: candidate pairs from the rarest-first
      // prefix postings — the quantity that must track the OUTPUT size,
      // not n² (probe rebuilds the candidate stage the way the q108 probe
      // rebuilds the banding). Three operating points measure the two
      // knobs: the prefix posts ~(1-t)·n units per doc, so MODERATE
      // thresholds lean entirely on vocabulary growth for pruning — and
      // this synthetic corpus's 31-word base vocab SATURATES the
      // 3-shingle space at the sf1 decade (the r10 blowup row). Raising
      // t shrinks the prefix; raising k exponentiates the vocabulary.
      "q193_prefix_cand" -> (() => prefixCandCount(docs, 0.5, 3)),
      "q193_prefix_cand_t08" -> (() => prefixCandCount(docs, 0.8, 3)),
      "q193_prefix_cand_k5" -> (() => prefixCandCount(docs, 0.5, 5)),
      "q193_prefix_pairs" -> (() =>
        Dedup.prefixFilterJaccardPairs(docs, "text", "doc_id",
          threshold = 0.5, shingleK = 3).count()),
      // q211 containment: A-prefix x FULL-postings candidates at the gate
      // point (t=0.7, k=3) and at the vocabulary knob (k=5) — containment
      // joins full postings, so its growth vs the q193 Jaccard twin is the
      // measured cost of subset semantics on this corpus
      "q211_contain_cand" -> (() =>
        Dedup.containmentCandidates(
          Dedup.prefixTokenSets(docs, "text", "doc_id", 3), 0.7).count()),
      "q211_contain_cand_k5" -> (() =>
        Dedup.containmentCandidates(
          Dedup.prefixTokenSets(docs, "text", "doc_id", 5), 0.7).count()),
      "q211_contain_pairs" -> (() =>
        Dedup.containmentPairs(docs, "text", "doc_id",
          threshold = 0.7, shingleK = 3).count()),
      // q195 k-core: surviving 2-core nodes over the q155 edge generator —
      // peel work per round is one degree agg + two semi-joins on a
      // SHRINKING edge set, so the interesting decade quantity is the
      // core size itself (edge volumes were probed for q155/q157 in r9)
      "q195_kcore_nodes" -> (() =>
        graft.operators.Graph.kCore(
          Dedup.simHashNearDupsMulti(docs, "text", "doc_id", maxHamming = 7),
          k = 2, rounds = 4).count()),
      // q220 Adamic-Adar: wedge work is Σ_items d·(d−1)/2 — the quantity the
      // item-side self-join actually enumerates. Run across the TPC-H decade
      // (sf0.01 vs sf0.1: the customer↔part incidence list is driver data,
      // no scratch twin exists). TPC-H part degrees grow ~linearly with sf
      // at fixed part-to-lineitem ratio, so UNCAPPED wedges grow ~decade²/
      // |parts| — the _cap64 twin is the knob that must hold the growth to
      // ~capped-linear, and the dropped-evidence fraction is the price.
      "q220_aa_wedges" -> (() => {
        import org.apache.spark.sql.functions._
        val e = Tables.load(spark, sfDir, "orders")
          .join(Tables.load(spark, sfDir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
          .distinct()
        e.groupBy("i").agg(count(lit(1)).as("d")).filter(col("d") >= 2)
          .agg(sum(col("d") * (col("d") - 1) / 2).cast("long"))
          .collect()(0).getLong(0)
      }),
      "q220_aa_wedges_cap64" -> (() => {
        import org.apache.spark.sql.functions._
        val e = Tables.load(spark, sfDir, "orders")
          .join(Tables.load(spark, sfDir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
          .distinct()
        e.groupBy("i").agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2 && col("d") <= 64)
          .agg(coalesce(sum(col("d") * (col("d") - 1) / 2), lit(0L))
            .cast("long")).collect()(0).getLong(0)
      }),
      // q221 KMV accuracy: the k=128 sketch's worst relative union error
      // across all source pairs (x1e4), vs the exact distinct union of the
      // per-source text-hash sets. KMV error is a k-property (~1/sqrt(k)),
      // so the measured number must hold ~steady across decades while the
      // sketch state stays 128 values per source regardless of corpus size
      "q221_kmv_err_x1e4" -> (() => {
        import org.apache.spark.sql.functions._
        val hashes = docs.select(col("source").as("g"),
            graft.functions.Hashes.portableHash32(col("text")).as("h"))
          .distinct().localCheckpoint()
        val est = graft.operators.Sketches.kmvOverlap(
            docs, "text", "source", k = 128)
          .select(col("g_a"), col("g_b"), col("union_est"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        // exact pairwise union sizes from the bounded per-source hash sets
        // (probe-local driver collect: |sources| x |distinct hashes| only)
        val sets = hashes.collect().groupBy(_.getString(0))
          .map { case (g, rs) => g -> rs.map(_.getLong(1)).toSet }
        val errs = est.map { case ((a, b), e) =>
          val exact = (sets(a) ++ sets(b)).size.toDouble
          math.abs(e - exact) / exact
        }
        math.round(errs.max * 10000)
      }),
      // the scored-pair frame (pre-top-N; rebuilt without the TakeOrdered
      // cut the way the q108 probe rebuilds the banding): what the final
      // groupBy state holds before the bounded top-N ships
      "q220_aa_pairs" -> (() => {
        import org.apache.spark.sql.functions._
        val e = Tables.load(spark, sfDir, "orders")
          .join(Tables.load(spark, sfDir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
          .distinct().localCheckpoint()
        val deg = e.groupBy("i").agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2)
        val ew = e.join(deg, "i")
        ew.as("x").join(ew.as("y"),
            col("x.i") === col("y.i") && col("x.u") < col("y.u"))
          .select(col("x.u"), col("y.u")).distinct().count()
      }),
      // q244 BPE trainer: the DISTRIBUTED state is the word vocabulary —
      // Heaps' law says it grows ~N^beta (beta<1), so the count decade-to-
      // decade is the scale claim; `sec` alongside is the 20-merge loop's
      // wall time over that vocab
      "q244_bpe_vocab" -> (() => {
        import org.apache.spark.sql.functions._
        docs.select(explode(Dedup.tokens(col("text"))).as("w"))
          .filter(length(col("w")) >= 1).select(col("w")).distinct().count()
      }),
      "q244_bpe_merges" -> (() =>
        graft.operators.Corpus.bpeLearn(docs, "text", nMerges = 20).count()),
      // q253 BFS: settled nodes are bounded by seeds + reachable component
      // mass, NEVER corpus rows — the count is the per-round join input
      "q253_bfs_settled" -> (() => {
        import org.apache.spark.sql.functions._
        val pairs = Dedup.sharedWindowPairs(docs, "doc_id", "text")
        val seeds = docs.filter(pmod(col("doc_id"), lit(5L)) === 3)
          .select(col("doc_id"))
        graft.operators.Graph.bfsHops(pairs, seeds, maxHops = 3).count()
      }),
      // q246 bootstrap: the one-pass map-side expansion is exactly 64x the
      // input rows — linear by construction; `sec` is the full operator
      "q246_boot_rows" -> (() => {
        val orders = Tables.load(spark, sfDir, "orders")
        graft.operators.Stats.poissonBootstrapSE(orders, "o_orderstatus",
          "o_orderkey", "o_totalprice", b = 64).count()
        orders.count() * 64
      }),
      // q269 winnowing: selected-fingerprint volume tracks total shingles
      // (expected density 2/(w+1)) — linear in corpus chars, per-doc work
      "q269_winnow_fp" -> (() => {
        import org.apache.spark.sql.functions._
        graft.operators.TextAnalysis.winnowingReport(docs,
            "doc_id", "source", "text", k = 3, w = 4)
          .agg(sum(col("fingerprints"))).head().getLong(0)
      }),
      // q276 triplets: exactly one per non-last same-label anchor with a
      // matching rank in the next label — linear in vectors
      "q276_triplets" -> (() => {
        import org.apache.spark.sql.functions._
        graft.operators.Similarity.tripletEval(emb)
          .agg(sum(col("n_triplets"))).head().getLong(0)
      }),
      // q268 FPS: k=8 bounded corpus scans (sec is the whole trajectory;
      // count is k — the interesting number is sec vs corpus size)
      "q268_fps_scans" -> (() =>
        graft.operators.Similarity.farthestPointSample(emb, k = 8).count()),
      // q278 Kendall: the cell-join side — bounded by the VALUE SPACE
      // (50 quantities x 11 discounts x flags), so cells saturate while
      // rows grow 10x; the tau join is cells^2, never rows^2
      "q278_kendall_cells" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.load(spark, sfDir, "lineitem")
          .filter(col("l_returnflag").isNotNull &&
            col("l_quantity").isNotNull && col("l_discount").isNotNull)
          .groupBy(col("l_returnflag"), col("l_quantity"),
            col("l_discount")).count().count()
      }),
      // q244 BPE: the batched (fast-BPE symbol-disjoint top-m) trainer
      // must cut Spark rounds at IDENTICAL merge output — the scale knob
      // on the repo's one inherently sequential driver loop
      "q244_bpe_rounds_seq" -> (() =>
        graft.operators.Corpus.bpeTrain(docs, "text", nMerges = 20,
          batch = 1)._3.toLong),
      "q244_bpe_rounds_b8" -> (() =>
        graft.operators.Corpus.bpeTrain(docs, "text", nMerges = 20,
          batch = 8)._3.toLong),
      "q244_bpe_batch_equal" -> (() => {
        val s1 = graft.operators.Corpus.bpeTrain(docs, "text", 20,
          batch = 1)._1
        val s8 = graft.operators.Corpus.bpeTrain(docs, "text", 20,
          batch = 8)._1
        if (s1 == s8) 1L else 0L
      }),
      // q233 scd2 temporal join at decade scale: facts x dim-versions is
      // an equi-join on the business key with the validity window as a
      // residual filter, so output rows and wall time must grow ~linearly
      // in facts (versions-per-key is a small constant by the SCD2
      // invariant). Dim built directly: every even key gets a second
      // version splitting the date line at 1995-06-01.
      "q233_scd2_temporal_rows" -> (() => {
        import org.apache.spark.sql.functions._
        val cust = Tables.load(spark, sfDir, "customer")
        val v1 = cust.select(col("c_custkey"), col("c_acctbal"),
          to_date(lit("1990-01-01")).as("eff_date"),
          when(pmod(col("c_custkey"), lit(2)) === 0,
            to_date(lit("1995-06-01")))
            .otherwise(lit(null).cast("date")).as("expiry_date"))
        val v2 = cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
          .select(col("c_custkey"),
            (col("c_acctbal") + 100).as("c_acctbal"),
            to_date(lit("1995-06-01")).as("eff_date"),
            lit(null).cast("date").as("expiry_date"))
        val facts = Tables.load(spark, sfDir, "orders")
          .select(col("o_custkey"), to_date(col("o_orderdate")).as("o_date"))
        graft.merge.Scd.scd2TemporalJoin(facts, v1.unionByName(v2),
          "o_custkey", "c_custkey", "o_date").count()
      }),
      // ---- r13: the statistics batch at decade scale ----
      // orders/events are driver data (no scratch twin), so like q220/q233
      // the sweep spans the driver decades — plus ONE synthetic decade:
      // when the sfDir has no orders.parquet (scratch/sf1), the probe
      // builds a 10x orders frame from sf0.1 with distinct keys and
      // per-copy price jitter. Replication is SAFE for aggregation
      // statistics (unlike dedup structure), and the jitter grows the
      // distinct-value grid the way a real 10x crawl would — the grid is
      // exactly the quantity bootstrapMedianCI's cost rides on.
      "q291_median_grid" -> (() => {
        import org.apache.spark.sql.functions._
        ordersAt(sfDir).select(col("o_orderstatus"), col("o_totalprice"))
          .distinct().count()
      }),
      // q291 bootstrap-median CI: 64 replicates over the per-group value
      // grid with the sorted pass confined to a ±32√n central window —
      // cost must track grid·√n, never grid·n (output rows constant)
      "q291_boot_ci" -> (() =>
        graft.operators.Stats.bootstrapMedianCI(ordersAt(sfDir),
          "o_orderstatus", "o_orderkey", "o_totalprice", b = 64).count()),
      // q246 Poisson bootstrap: one aggregation pass, 64 hash-derived
      // weights per row — wall time must grow ~linearly in rows
      "q246_poisson_se" -> (() =>
        graft.operators.Stats.poissonBootstrapSE(ordersAt(sfDir),
          "o_orderstatus", "o_orderkey", "o_totalprice", b = 64).count()),
      // q266 Bradley-Terry: the comparison build is the scale risk (the MM
      // rounds run over the |brands|² win matrix, corpus-invariant), and
      // its fan-out is bounded by within-order pairs ≤ C(7,2)·orders —
      // the probe counts the pairs the generator actually emits (mirrors
      // the q266 gate build, the q108 rebuild precedent)
      "q266_bt_pairs" -> (() => {
        import org.apache.spark.sql.functions._
        val e = Tables.load(spark, sfDir, "lineitem")
          .join(Tables.load(spark, sfDir, "part"),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
            col("p_brand").as("brand"))
        e.as("a").join(e.as("b"), col("a.ok") === col("b.ok") &&
            col("a.ln") < col("b.ln"))
          .filter(col("a.brand") =!= col("b.brand")).count()
      }),
      "q266_bradley_terry" -> (() => {
        import org.apache.spark.sql.functions._
        val e = Tables.load(spark, sfDir, "lineitem")
          .join(Tables.load(spark, sfDir, "part"),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
            col("p_brand").as("brand"), col("l_extendedprice").as("price"))
        val comp = e.as("a").join(e.as("b"), col("a.ok") === col("b.ok") &&
            col("a.ln") < col("b.ln"))
          .filter(col("a.brand") =!= col("b.brand"))
          .select(
            when(col("a.price") > col("b.price"), col("a.brand"))
              .when(col("a.price") < col("b.price"), col("b.brand"))
              .otherwise(least(col("a.brand"), col("b.brand"))).as("winner"),
            when(col("a.price") > col("b.price"), col("b.brand"))
              .when(col("a.price") < col("b.price"), col("a.brand"))
              .otherwise(greatest(col("a.brand"), col("b.brand")))
              .as("loser"))
        graft.operators.Stats.bradleyTerry(comp, "winner", "loser",
          iters = 3).count()
      }),
      // q297 IPF: the contingency table is |event_type|×4 cells — corpus-
      // invariant; the scan that builds it is the only row-linear stage
      "q297_ipf_cells" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.load(spark, sfDir, "events")
          .select(col("event_type"), pmod(col("user_id"), lit(4L)).as("b"))
          .distinct().count()
      }),
      "q297_ipf_raking" -> (() => {
        import org.apache.spark.sql.functions._
        graft.operators.Stats.ipfRaking(Tables.load(spark, sfDir, "events"),
          col("event_type"), pmod(col("user_id"), lit(4L)),
          iters = 3).count()
      }),
      // q299 paragraph dedup (the gate's 8-word re-flow): the scale
      // quantities are exploded paragraphs (row-linear by construction)
      // and survivors (= distinct paragraphs — must grow SLOWER than
      // paragraphs as boilerplate repeats across a bigger corpus; the
      // partial-agg min is what keeps the hot paragraphs off a reducer)
      "q299_paragraphs" -> (() => {
        import org.apache.spark.sql.functions._
        val t = split(trim(col("text")), "\\s+")
        val nP = greatest(ceil(size(t) / lit(8.0)).cast("int"), lit(1))
        docs.select(explode(sequence(lit(0), nP - 1))).count()
      }),
      "q299_paragraph_dedup" -> (() => {
        import org.apache.spark.sql.functions._
        val t = split(trim(col("text")), "\\s+")
        val nP = greatest(ceil(size(t) / lit(8.0)).cast("int"), lit(1))
        val withParas = docs.select(col("doc_id"),
          array_join(transform(sequence(lit(0), nP - 1),
            j => array_join(slice(t, j * 8 + 1, lit(8)), " ")), "\n")
            .as("p_text"))
        // coalesce: sum over ZERO rows is NULL — an empty documents table
        // at a probe scale must report 0, not NPE on getLong
        Dedup.paragraphDedup(withParas, "doc_id", "p_text")
          .agg(coalesce(org.apache.spark.sql.functions.sum(col("n_kept")),
            lit(0L)))
          .head().getLong(0)
      }),

      // SHUFFLE-BYTE probes for the r14 fingerprint-keyed paragraphDedup:
      // the r13 shape keyed survivorship (groupBy) AND the survivor join
      // on the raw paragraph TEXT, so distinct paragraphs (93-96% of the
      // corpus at probe scale) carried full text through two shuffles;
      // the r14 shape keys both on a 128-bit fingerprint and lets text
      // cross the wire exactly once (the per-doc reassembly join). The
      // "count" reported here is TOTAL SHUFFLE WRITE BYTES for a full
      // evaluation (text_clean forced via length-sum), so the drop is
      // measured, not argued.
      "q299_shufbytes_textkey_r13" -> (() =>
        shuffleBytesOf(spark) {
          import org.apache.spark.sql.functions._
          val out = paragraphDedupTextKeyedR13(paraReflow(docs))
          out.agg(coalesce(sum(length(col("text_clean"))), lit(0L)) +
              coalesce(sum(col("n_kept")), lit(0L))).head().getLong(0)
        }),
      "q299_shufbytes_fingerprint" -> (() =>
        shuffleBytesOf(spark) {
          import org.apache.spark.sql.functions._
          val out = Dedup.paragraphDedup(paraReflow(docs), "doc_id", "p_text")
          out.agg(coalesce(sum(length(col("text_clean"))), lit(0L)) +
              coalesce(sum(col("n_kept")), lit(0L))).head().getLong(0)
        }),

      // SCD WRITE-PATH decade probes (q52/q59 production path): a
      // 64-partition COW table seeded at the probed scale, then merged
      // with an update batch touching exactly 4 partitions. The claim
      // under test: the manual-DPP IN-list bounds the REWRITE SET by
      // touched partitions — parts_rewritten must stay 4 (and
      // bytes_rewritten ~4/64 of total) as the table grows 10x; a broken
      // bound shows up as parts_rewritten == 64. Measured as the diff of
      // each partition's live file set before and after the merge.
      "q52_scd2_parts_total" -> (() => scdWrite("scd2_parts_total")),
      "q52_scd2_parts_rewritten" -> (() => scdWrite("scd2_parts_rewritten")),
      "q52_scd2_bytes_total" -> (() => scdWrite("scd2_bytes_total")),
      "q52_scd2_bytes_rewritten" -> (() => scdWrite("scd2_bytes_rewritten")),
      "q59_scd4_parts_total" -> (() => scdWrite("scd4_parts_total")),
      "q59_scd4_parts_rewritten" -> (() => scdWrite("scd4_parts_rewritten")),
      "q59_scd4_bytes_total" -> (() => scdWrite("scd4_bytes_total")),
      "q59_scd4_bytes_rewritten" -> (() => scdWrite("scd4_bytes_rewritten"))
    )

    val unknown = args.drop(1).filterNot(n => probes.exists(_._1 == n))
    require(unknown.isEmpty, s"unknown probe(s): ${unknown.mkString(", ")}")
    val selected =
      if (args.length == 1) probes
      else probes.filter { case (n, _) => args.drop(1).contains(n) }

    selected.foreach { case (name, thunk) =>
      val t0 = System.nanoTime()
      val n = thunk()
      val dt = (System.nanoTime() - t0) / 1e9
      // drop leftover localCheckpoint blocks so probes don't bleed memory
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      println(f"""{"probe":"$name","count":$n,"sec":$dt%.2f,"sf":"$sfDir"}""")
    }
    spark.stop()
  }

  /** Multi-occupancy band-bucket mass (Σ s over buckets with s ≥ 2) of a
    * (id, sig) frame under the 4×16-bit banding — the post-filter join
    * input of [[graft.operators.Dedup.hamming64NearDups]], rebuilt here
    * from the public banding definition (the q108 probe precedent). */
  private def hamm64MultiRows(sigs: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val banded = sigs.select(col("id"), posexplode(
      array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16)
          .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band", "bucket")))
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
      .agg(coalesce(sum(col("s")), lit(0L)))
      .head().getLong(0)
  }

  /** Implied candidate pairs (Σ s·(s−1)/2 over band buckets, via
    * [[graft.operators.Dedup.hamming64BucketProfile]] — no join) for a
    * 30%-template signature population, optionally collapsed to one rep
    * per distinct signature first (the q319 rewrite). */
  private def templateImpliedPairs(docs: org.apache.spark.sql.DataFrame,
      collapse: Boolean): Long = {
    import org.apache.spark.sql.functions._
    val sigs = docs.select(col("doc_id").as("id"),
      when(pmod(col("doc_id"), lit(10L)) < 3, lit(42L))
        .otherwise(xxhash64(col("doc_id"))).as("sig"))
    val in = if (collapse)
      sigs.groupBy(col("sig")).agg(min(col("id")).as("id"))
        .select(col("id"), col("sig"))
    else sigs
    Dedup.hamming64BucketProfile(in, "id", "sig")
      .agg(coalesce(sum(col("cand_pairs")), lit(0L)))
      .head().getLong(0)
  }

  /** [[hamm64MultiRows]] for the 128-bit engine: multi-occupancy mass
    * under the REAL [[graft.operators.Dedup.banded128]] 5-band explosion
    * (private[graft] — the probe measures the operator's own banding). */
  private def hamm128MultiRows(sigs: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    Dedup.banded128(sigs)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
      .agg(coalesce(sum(col("s")), lit(0L)))
      .head().getLong(0)
  }

  /** The q299 gate's deterministic paragraph structure: each single-line
    * synthetic doc re-flowed into 8-word paragraphs (exactly the gate's
    * grid, so cross-document sharing is real). */
  private def paraReflow(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val t = split(trim(col("text")), "\\s+")
    val nP = greatest(ceil(size(t) / lit(8.0)).cast("int"), lit(1))
    docs.select(col("doc_id"),
      array_join(transform(sequence(lit(0), nP - 1),
        j => array_join(slice(t, j * 8 + 1, lit(8)), " ")), "\n")
        .as("p_text"))
  }

  /** The r13 paragraphDedup shape, preserved HERE (not in Dedup) purely as
    * the shuffle-byte comparator: survivorship groupBy and survivor join
    * both keyed on the raw paragraph TEXT. Value-identical to the r14
    * fingerprint implementation; byte-hungrier on the wire. */
  private def paragraphDedupTextKeyedR13(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val paras = df
      .select(col("doc_id").as("id"),
        posexplode(split(col("p_text"),
          java.util.regex.Pattern.quote("\n"))).as(Seq("pos", "para")))
      .filter(!col("para").rlike("^\\s*$"))
    val firsts = paras.groupBy("para")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    val kept = paras.join(firsts, "para")
      .filter(col("first.id") === col("id") && col("first.pos") === col("pos"))
    val perDoc = paras.groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_paras"))
    val rebuilt = kept.groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("para")))),
          e => e("para")), "\n").as("text_clean"))
    df.select(col("doc_id").as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The SCD write-path decade probe body: seed a 64-partition SCD2 COW
    * table and an SCD4 current/history pair from the customer table at
    * the probed scale (the synthetic decade explodes sf0.1 10x with
    * distinct keys, like the stats-batch orders probe), merge an update
    * batch touching EXACTLY 4 partitions through the production
    * writeScd2/writeScd4 paths, and measure the rewrite set from the
    * live files — a partition counts as rewritten iff its live file set
    * changed (a commit never rewrites a file, it replaces it). */
  private def scdWriteProbes(spark: SparkSession,
                             sfDir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val base =
      if (new java.io.File(s"$sfDir/customer.parquet").exists())
        Tables.load(spark, sfDir, "customer")
      else
        Tables.load(spark, "/root/testdata/sf0.1", "customer")
          .select(explode(sequence(lit(0L), lit(9L))).as("cp"), col("*"))
          .withColumn("c_custkey", col("c_custkey") * 10 + col("cp"))
          .withColumn("c_acctbal",
            col("c_acctbal") + col("cp").cast("double") * 0.01)
          .drop("cp")
    val c = base.select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"))
      .withColumn("pk", pmod(col("c_custkey"), lit(64L)))
    val root =
      java.nio.file.Files.createTempDirectory("graft_scdprobe").toString
    try scdWriteProbesAt(spark, c, root)
    finally {
      // the seeded tables are decade-scale (two 64-partition tables +
      // history) — repeated probe sweeps must not accumulate them in /tmp
      import java.nio.file.{Files, Path, Paths}
      import java.util.Comparator
      try {
        val walk = Files.walk(Paths.get(root))
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close() // the stream holds directory fds
      } catch { case _: Exception => () }
    }
  }

  private def scdWriteProbesAt(spark: SparkSession,
                               c: org.apache.spark.sql.DataFrame,
                               root: String): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    import graft.merge.{ParquetTable, Scd}

    // (partition values -> live (file, bytes)); live files are immutable
    def partFiles(t: ParquetTable): Map[Map[String, String], Seq[(String, Long)]] =
      t.liveFiles.groupBy(_.partitionValues).view
        .mapValues(_.map(f => (f.path, f.size)).sortBy(_._1)).toMap
    def stats(prefix: String, before: Map[Map[String, String], Seq[(String, Long)]],
              after: Map[Map[String, String], Seq[(String, Long)]]): Map[String, Long] = {
      val rewritten = after.keys
        .filter(k => before.get(k) != after.get(k)).toSet
      Map(
        s"${prefix}_parts_total" -> after.size.toLong,
        s"${prefix}_parts_rewritten" -> rewritten.size.toLong,
        s"${prefix}_bytes_total" ->
          after.values.flatten.map(_._2).sum,
        s"${prefix}_bytes_rewritten" ->
          after.filter(e => rewritten(e._1)).values.flatten.map(_._2).sum)
    }

    // ---- SCD2 (q52 shape, pk-partitioned) ----
    val t2 = new ParquetTable(spark, s"$root/scd2", Seq("pk"))
    val matchCond =
      "target.current_flag = true AND target.c_acctbal <> updates.c_acctbal"
    val insertMap = Map(
      "c_custkey" -> "updates.c_custkey", "c_name" -> "updates.c_name",
      "c_acctbal" -> "updates.c_acctbal", "pk" -> "updates.pk",
      "current_flag" -> "true")
    Scd.writeScd2(t2, c, Seq("c_custkey"), matchCond,
      Map("current_flag" -> "false"), insertMap)
    val before2 = partFiles(t2)
    Scd.writeScd2(t2,
      c.filter(col("pk") < 4)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0),
      Seq("c_custkey"), matchCond, Map("current_flag" -> "false"), insertMap)
    val after2 = partFiles(t2)

    // ---- SCD4 (q59 shape, pk-partitioned current + append history) ----
    val cur = new ParquetTable(spark, s"$root/scd4_cur", Seq("pk"))
    val hist = new ParquetTable(spark, s"$root/scd4_hist", Nil)
    val seed4 = c.withColumn("row_active", lit(true))
      .withColumn("deleted_flag", lit(false))
      .withColumn("updated_at", lit(1700000000L) + col("c_custkey"))
    Scd.writeScd4(cur, hist, seed4, Seq("c_custkey"))
    val before4 = partFiles(cur)
    Scd.writeScd4(cur, hist,
      seed4.filter(col("pk") < 4)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("row_active", col("c_custkey") % 5 =!= 0)
        .withColumn("updated_at", lit(1700100000L) + col("c_custkey")),
      Seq("c_custkey"))
    val after4 = partFiles(cur)

    stats("scd2", before2, after2) ++ stats("scd4", before4, after4)
  }

  /** Total shuffle WRITE bytes across every task run by `work`: a
    * SparkListener sums per-task shuffleWriteMetrics, then the listener
    * bus is drained (reflective waitUntilEmpty — `private[spark]` is
    * public at the bytecode level; falls back to a bounded sleep) so the
    * asynchronous TaskEnd events are all counted before reading. */
  private def shuffleBytesOf(spark: SparkSession)(work: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      work
      try {
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(3000) }
    } finally sc.removeSparkListener(listener)
    acc.get()
  }
}
