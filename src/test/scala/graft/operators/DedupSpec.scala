package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),  // near-dup of 1
    (3L, "completely different words entirely here now today"),
    (4L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (5L, "short")                                          // < k tokens
  ).toDF("doc_id", "text")

  test("shingles: k-grams in order; short docs get an empty array") {
    val sh = docs.filter($"doc_id" === 1)
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect().head
    assert(sh.head == "the quick brown" && sh.last == "the lazy dog" && sh.size == 7)
    val short = docs.filter($"doc_id" === 5)
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect().head
    assert(short.isEmpty)
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) == 2)  // docs 1 and 4 share a fingerprint, keep_id = 1
    assert(out(2L) == 1 && out(3L) == 1 && out(5L) == 1)
    assert(Dedup.exactSurvivors(docs, "text", "doc_id").count() == 4)
  }

  test("minhash signature is deterministic and identical for identical docs") {
    val sigs = docs.select($"doc_id", Dedup.minHashSignature(col("text"), 8, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == 8)
    // short doc -> sentinel signature (all MixP), not null
    assert(sigs(5L).forall(_ == graft.functions.Hashes.MixP))
  }

  test("LSH + verification finds the exact and near duplicates") {
    val pairs = Dedup.verifiedNearDups(docs, "text", "doc_id",
        threshold = 0.2, bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always survives
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram Jaccard pairs with inverted-index join") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleK = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(((1L, 4L))) == 1.0)
    assert(pairs.contains((1L, 2L)) && pairs(((1L, 2L))) > 0.5)
  }

  test("simhash: identical docs agree, hamming distance separates far docs") {
    val sigs = docs.select($"doc_id", Dedup.simHash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
    val nd = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 4L)))
  }

  test("incrementalNearDups == the cross-set slice of the batch-mode pairs") {
    // corpus = ids 1..40, batch = 41..50 with near-dups planted both ways
    val base = (1L to 40L).map(i =>
      (i, s"alpha beta w${i % 5} gamma w${(i * 3) % 7} delta epsilon tail$i end"))
    val batchRows = (41L to 48L).map(i =>
      (i, s"unrelated u$i v${i * 2} x${i * 3} y$i z$i q$i r$i s$i")) ++ Seq(
      (49L, base(6)._2),                    // exact dup of corpus doc 7
      (50L, base(12)._2 + " suffix"))       // near dup of corpus doc 13
    val corpus = base.toDF("doc_id", "text").repartition(5)
    val batch = batchRows.toDF("doc_id", "text").repartition(3)
    val index = Dedup.minHashIndexTable(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2).localCheckpoint()
    val inc = Dedup.incrementalNearDups(batch, index, "text", "doc_id",
        threshold = 0.2, bands = 4, rowsPerBand = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // reference: batch-mode LSH over the UNION, restricted to cross-set pairs
    val union = corpus.unionByName(batch)
    val full = Dedup.verifiedNearDups(union, "text", "doc_id",
        threshold = 0.2, bands = 4, rowsPerBand = 2)
      .collect().collect {
        case r if r.getLong(0) <= 40L && r.getLong(1) >= 41L =>
          ((r.getLong(0), r.getLong(1)), r.getDouble(2))
      }.toMap
    assert(inc == full)
    assert(inc.contains((7L, 49L)) && inc(((7L, 49L))) == 1.0)
    assert(inc.contains((13L, 50L)))
  }

  test("simHashNearDups64: banding finds exactly the brute-force Hamming<=3 pairs") {
    // a larger corpus than `docs`: 60 random-ish texts plus planted exact
    // and near dups, so the brute-force set is non-trivial on both counts
    val base = (1L to 60L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} w${i % 3} w${(i * 7) % 5} tail$i"))
    val planted = Seq(
      (101L, base(4)._2),                     // exact dup of doc 5 (hamming 0)
      (102L, base(9)._2 + " extraword"))      // near dup of doc 10
    val corpus = (base ++ planted).toDF("doc_id", "text").repartition(7)
    val got = Dedup.simHashNearDups64(corpus, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val sigs = corpus.select($"doc_id", Dedup.simHash64(col("text")).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib) -> h).toMap
    assert(got == brute)           // recall AND precision vs exhaustive scan
    assert(got(((5L, 101L))) == 0) // the planted exact dup is in there
  }

  test("simHashNearDupsMulti: combination banding == brute force at Hamming<=7") {
    // wider radius than any disjoint-band pigeonhole reaches with >=14-bit
    // keys — the Manku block-combination scheme must still be exhaustive
    val base = (1L to 80L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} w${i % 3} w${(i * 7) % 5} tail$i"))
    val planted = Seq(
      (101L, base(4)._2),                    // hamming 0
      (102L, base(9)._2 + " extraword"),     // small perturbation
      (103L, base(19)._2 + " two more words")) // larger perturbation
    val corpus = (base ++ planted).toDF("doc_id", "text").repartition(7)
    val got = Dedup.simHashNearDupsMulti(corpus, "text", "doc_id",
        maxHamming = 7, blocks = 9, blocksPerKey = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val sigs = corpus.select($"doc_id", Dedup.simHash64(col("text")).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 7
    } yield (ia, ib) -> h).toMap
    assert(got == brute)            // recall AND precision vs exhaustive scan
    assert(got(((5L, 101L))) == 0)
    assert(brute.size > 5)          // the radius actually bites on this corpus
    // pigeonhole precondition is enforced, not silently under-recalled
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDupsMulti(corpus, "text", "doc_id",
        maxHamming = 8, blocks = 9, blocksPerKey = 2)
    }
  }

  test("connected components: chains, cycles and isolated pairs collapse to min id") {
    // 1-2, 2-3, 3-4 (chain); 10-11, 11-12, 12-10 (cycle); 20-21 (pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components match union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random edge multisets over a small node space hit every shape at
    // once — chains, cycles, stars, self-loops, duplicate and reversed
    // edges, singleton-free graphs — against a driver union-find
    val genEdges = for {
      n <- Gen.choose(1, 30)
      edges <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    } yield edges
    val prop = Prop.forAll(genEdges) { edges =>
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min node of the component (the operator's
      // min-label contract)
      val byRoot = nodes.groupBy(find)
      val want = byRoot.values.flatMap { ns =>
        val m = ns.min; ns.map(_ -> m) }.toMap
      if (got != want) println(s"edges=$edges\ngot=$got\nwant=$want")
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("connected components converge on a long path within maxIter") {
    // a 16-node path needs ~diameter rounds of min-label propagation
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 16 && comp.values.forall(_ == 0L))
  }

  test("embedding near-dups by fixed-sign blocking (internal special case)") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 0.5f)),
      (2L, Array(1.0f, 2.0f, 3.0f, 0.51f)),   // same direction
      (3L, Array(-1.0f, -2.0f, -3.0f, -0.5f)) // opposite block
    ).toDF("id", "vec")
    graft.functions.VectorFunctions.register(spark)
    val pairs = Dedup.embeddingNearDupsFixedSign(vecs, "id", "vec", threshold = 0.99, signBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("public embeddingNearDups rides the multi-band LSH path") {
    // identical planted pair must collide in every band and survive verify
    val rnd = new scala.util.Random(11)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
    val vecs = (base ++ Seq((900L, base.head._2), (901L, base.head._2))).toDF("id", "vec")
    val viaPublic = Dedup.embeddingNearDups(vecs, "id", "vec", dim = 64,
        threshold = 0.999, bitsPerBand = 8, numBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Dedup.embeddingNearDupsLsh(vecs, "id", "vec", dim = 64,
        threshold = 0.999, bitsPerBand = 8, numBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPublic == viaLsh && viaPublic.contains((900L, 901L)))
  }

  test("multi-band LSH bounds buckets on a corpus the sign-pattern collapses") {
    // Skewed corpus: every vector's FIRST 8 dims are positive, so the fixed
    // axis-aligned blocking puts all 200 rows in ONE quadratic bucket; the
    // random-hyperplane bands must spread them.
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map { i =>
      (i.toLong, (Array.fill(8)(math.abs(rnd.nextGaussian()).toFloat + 0.01f) ++
        Array.fill(56)(rnd.nextGaussian().toFloat)).toSeq)
    }
    // plant an exact near-dup pair (ids 900/901): identical vectors share
    // every band key, so LSH recall must find them
    val dup = base.head._2
    val vecs = (base ++ Seq((900L, dup), (901L, dup))).toDF("id", "vec")

    val signBlocks = vecs.select(concat_ws("", (0 until 8).map(i =>
        when(element_at(col("vec"), i + 1) >= 0, "1").otherwise("0")): _*).as("b"))
      .groupBy("b").count().collect()
    assert(signBlocks.length == 1 && signBlocks.head.getLong(1) == 202) // collapsed

    val keyed = Dedup.lshBlockKeys(vecs, "id", "vec",
      Dedup.randomHyperplanes(numBands = 2, bitsPerBand = 8, dim = 64))
    val maxBucket = keyed.groupBy("band", "key").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket <= 40, s"max LSH bucket $maxBucket of 202 rows") // spread

    val found = Dedup.embeddingNearDupsLsh(vecs, "id", "vec", dim = 64,
        threshold = 0.999, bitsPerBand = 8, numBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((900L, 901L)))
  }

  test("editDistanceNearDups verifies window candidates with true distance") {
    import spark.implicits._
    val base = "abcdefghij" * 13 // 130 chars: aligned windows at 0/32/64
    val oneEdit = base.dropRight(1) + "X" // distance 1, shares the 0/32 windows
    val farEdit = base.take(64) + ("zyxwv" * 13).take(66) // shares window 0 only
    val unrelated = "0123456789" * 13
    val docs = Seq((1L, base), (2L, oneEdit), (3L, farEdit), (4L, unrelated))
      .toDF("doc_id", "text")
    val out = Dedup.editDistanceNearDups(docs, "doc_id", "text", maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) == 1L) // verified distance, not just candidacy
    assert(!out.contains((1L, 3L))) // candidate pair over the threshold: dropped
    assert(!out.contains((1L, 4L))) // never a candidate: no shared window
  }

  test("semanticDedup: lowest-id cluster-mate above threshold wins; cross-cluster twins both survive") {
    import spark.implicits._
    // centroids = first 2 rows (ids 0, 1): x-axis and y-axis
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // centroid/cluster 0, kept (lowest id)
      (1L, Array(0.0f, 1.0f)),   // centroid/cluster 1, kept
      (2L, Array(0.99f, 0.01f)), // cluster 0, near-dup of 0 -> dropped
      (3L, Array(0.01f, 0.99f)), // cluster 1, near-dup of 1 -> dropped
      (4L, Array(0.8f, 0.6f)),   // cluster 0 (cos .8 vs .6), no near-dup -> kept
      (5L, Array(0.6f, 0.8f))    // cluster 1: same direction as 4 but OTHER
                                 // cluster -> never compared, kept
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        nClusters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 6)
    assert(out(0L) == ((0L, true)) && out(2L) == ((0L, false)))
    assert(out(1L) == ((1L, true)) && out(3L) == ((1L, false)))
    // 4 and 5 are cosine 0.96 to each other but live in different clusters:
    // SemDeDup's approximation keeps both — exactly the documented trade
    assert(out(4L)._2 && out(5L)._2)
    assert(out(4L)._1 != out(5L)._1)
  }

  test("dupNgramFraction counts position-weighted cross-doc duplication") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),      // grams: abc bcd cde
      (2L, "a b c x y"),      // grams: abc bcx cxy -> shares abc with 1 and 3
      (3L, "a b c a b c a"),  // grams: abc bca cab abc bca (5 positions)
      (4L, "q r"),            // too short for a 3-gram: (0, 0, 0.0)
      (5L, "zz yy xx ww")     // all grams unique to doc 5
    ).toDF("doc_id", "text")
    val out = Dedup.dupNgramFraction(docs, "text", "doc_id", shingleK = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out.size == 5)
    assert(out(1L) == ((3L, 1L, 0.3333))) // abc duplicated (docs 2, 3)
    assert(out(2L) == ((3L, 1L, 0.3333)))
    // doc 3: abc appears at 2 distinct POSITIONS, both duplicated cross-doc;
    // bca/cab repeat only within doc 3 -> not cross-doc duplicates
    assert(out(3L) == ((5L, 2L, 0.4)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    assert(out(5L) == ((2L, 0L, 0.0))) // 4 tokens -> 2 trigram positions
  }

  test("crossCorpusNearDups finds train-bench pairs only, never within a side") {
    import spark.implicits._
    val train = Seq(
      (1L, Array(0.999f, 0.04f)),  // near-dup of bench 10
      (2L, Array(0.0f, 1.0f)),     // orthogonal to everything in bench
      (3L, Array(0.998f, 0.05f))   // near-dup of train 1 — must NOT pair
    ).toDF("vec_id", "embedding")
    val bench = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.crossCorpusNearDups(train, bench, "vec_id", "embedding",
        dim = 2, threshold = 0.9, bitsPerBand = 2, numBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 10L)) && pairs.contains((3L, 10L)))
    // within-train near-dup (1,3) is out of scope for decontamination
    assert(out.forall(_._2 == 10L))
    assert(out.forall(_._3 >= 0.9))
    assert(!pairs.exists(p => p._1 == 2L)) // orthogonal: below threshold
  }

  test("blockBoilerplate removes cross-doc duplicate blocks and reassembles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c x y z"),   // blocks: "a b c" (shared), "x y z" (unique)
      (2L, "a b c q r s"),   // "a b c" shared with docs 1 and 3
      (3L, "a b c"),         // every block boilerplate -> clean_text ""
      (4L, "u v")            // one trailing partial block, unique
    ).toDF("doc_id", "text")
    val out = Dedup.blockBoilerplate(docs, "doc_id", "text",
        wordsPerBlock = 3, minDf = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(out(1L) == ((2L, 1L, 0.5, "x y z")))
    assert(out(2L) == ((2L, 1L, 0.5, "q r s")))
    assert(out(3L) == ((1L, 1L, 1.0, "")))
    assert(out(4L) == ((1L, 0L, 0.0, "u v")))
  }

  test("blockBoilerplate keeps within-doc repeats that no other doc shares") {
    import spark.implicits._
    // "m n o" repeats INSIDE doc 1 only: doc_freq = 1 -> not boilerplate
    val docs = Seq(
      (1L, "m n o m n o"),
      (2L, "p q r")
    ).toDF("doc_id", "text")
    val out = Dedup.blockBoilerplate(docs, "doc_id", "text",
        wordsPerBlock = 3, minDf = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(out(1L) == ((2L, 0L, "m n o m n o")))
    assert(out(2L) == ((1L, 0L, "p q r")))
  }

  test("sortedNeighborPairs: prefix-adjacent dups found, far-apart keys never meet") {
    import spark.implicits._
    val body = "shared middle words carry the jaccard overlap weight here"
    val docs = Seq(
      // near-identical prefixes -> adjacent in sort order -> verified
      (1L, "aaa " + body),
      (2L, "aab " + body),
      // same body but a z-prefix: >window ranks away once padding docs land between
      (3L, "zzz " + body)
    ) ++ (10L to 30L).map(i => // word-disjoint fillers: no shared shingles
      (i, s"m$i w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    val out = Dedup.sortedNeighborPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", window = 2, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    // 3 is sorted far from 1/2 (21 filler docs between): window 2 never pairs them
    assert(!out.exists { case (a, b) => Set(a, b).contains(3L) &&
      Set(a, b).intersect(Set(1L, 2L)).nonEmpty })
    // candidate volume is rank-bounded: no filler doc pairs pass the verify
    assert(out == Set((1L, 2L)))
  }

  test("crossSourceDupMatrix: cells are canonical source pairs over verified near-dups") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, body, "web"),                 // exact dup across web/books
      (2L, body, "books"),
      (3L, body + " tonight", "web"),    // near-dup of 1 and 2
      (4L, "completely different words about unrelated topics here", "wiki")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceDupMatrix(docs, "text", "doc_id", "source",
        threshold = 0.2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // pair (1,2) links books-web; (1,3) links web-web; (2,3) books-web
    val (nBw, loBw, hiBw) = out(("books", "web"))
    assert(nBw == 2L)
    assert(hiBw == 1.0)        // the exact dup pair
    assert(loBw > 0.2 && loBw < 1.0)
    assert(out(("web", "web"))._1 == 1L)
    // the unrelated source never appears
    assert(!out.keys.exists { case (a, b) => a == "wiki" || b == "wiki" })
    // labels are canonically ordered
    assert(out.keys.forall { case (a, b) => a <= b })
  }

  test("lshBucketProfile implied pairs equal the self-join's per-band candidate volume") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, body), (2L, body), (3L, body),       // 3 identical docs
      (4L, "completely different words about unrelated topics here")
    ).toDF("doc_id", "text")
    val prof = Dedup.lshBucketProfile(docs, "text", "doc_id",
        bands = 4, rowsPerBand = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(prof.keySet == Set(0L, 1L, 2L, 3L))
    // identical docs share every band bucket: each band has one 3-doc
    // bucket (3 implied pairs) and, bar a hash collision with doc 4, one
    // singleton -> the profile predicts the self-join volume exactly
    prof.values.foreach { case (nBuckets, nMulti, maxB, pairs) =>
      assert(nBuckets == 2L && nMulti == 1L && maxB == 3L && pairs == 3L)
    }
    // the prediction matches what minHashCandidates actually generates
    // (3 distinct pairs; each counted once though all 4 bands collide)
    assert(Dedup.minHashCandidates(docs, "text", "doc_id",
      bands = 4, rowsPerBand = 2).count() == 3L)
  }

  test("clusterStats flags a transitive chain by its weak min metric") {
    import spark.implicits._
    // component {1,2,3} is a CHAIN: strong edges 1-2, 2-3, weak closure
    // absent; component {10,11} is a tight family
    val pairs = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.85), (1L, 3L, 0.3), // chain closure is weak
      (10L, 11L, 0.95)
    ).toDF("id_a", "id_b", "jaccard")
    val comps = Dedup.connectedComponents(pairs)
    val out = Dedup.clusterStats(comps, pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((3L, 3L, 0.3, 0.9))) // min exposes the weak closure
    assert(out(10L) == ((2L, 1L, 0.95, 0.95)))
  }

  test("lshOperatingPoints: monotone S-curve, s_star at the 1-1/e crossing") {
    val rows = Dedup.lshOperatingPoints(spark, numHashes = 16).collect()
    assert(rows.length == 5 * 9) // divisors {1,2,4,8,16} x sim grid
    val byScheme = rows.groupBy(r => (r.getLong(0), r.getLong(1)))
    assert(byScheme.keySet == Set((16L, 1L), (8L, 2L), (4L, 4L), (2L, 8L), (1L, 16L)))
    // p_catch is monotone in sim for every scheme
    byScheme.values.foreach { rs =>
      val ps = rs.sortBy(_.getDouble(3)).map(_.getDouble(4))
      assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    }
    // s_star is the inflection (1/b)^(1/r): per-band match prob there is
    // exactly 1/b, putting p_catch at 1-(1-1/b)^b (-> 1-1/e as b grows)
    val r44 = byScheme((4L, 4L))(0)
    val sStar = r44.getDouble(2)
    assert(math.abs(math.pow(sStar, 4) - 0.25) < 1e-3)
    val pAtStar = 1.0 - math.pow(1.0 - math.pow(sStar, 4), 4)
    assert(math.abs(pAtStar - (1.0 - math.pow(0.75, 4))) < 1e-3)
    // single band of 16 rows is the high-precision extreme: misses sim 0.5
    val oneB = byScheme((1L, 16L)).find(_.getDouble(3) == 0.5).get
    assert(oneB.getDouble(4) < 0.001)
    // 16 bands of 1 row is the high-recall extreme: catches sim 0.5
    val oneR = byScheme((16L, 1L)).find(_.getDouble(3) == 0.5).get
    assert(oneR.getDouble(4) > 0.999)
  }

  test("crossSourceDupMatrix default banding catches moderate-Jaccard pairs 4-row bands miss") {
    import spark.implicits._
    // A pre-searched pair with Jaccard ~0.43 whose 8-hash signature
    // collides in a 2-row band but whose 16-hash signature collides in NO
    // 4-row band: the q20 operating point (bands=4, rowsPerBand=2) must
    // surface it — the exact latent gap the 4-row default would have hidden.
    val t1 = "w4 w12 w36 w14 w15 w9 w28 w5 w32 w10 w33 w16"
    val t2 = "w4 w12 w36 w14 w15 w9 w28 w5 w3 w17 w25 w31"
    val docs = Seq((1L, t1, "web"), (2L, t2, "books"))
      .toDF("doc_id", "text", "source")
    // the 4-row banding genuinely misses this pair (guards the test premise)
    assert(Dedup.verifiedNearDups(docs, "text", "doc_id", threshold = 0.2,
      bands = 4, rowsPerBand = 4).count() == 0)
    val out = Dedup.crossSourceDupMatrix(docs, "text", "doc_id", "source",
        threshold = 0.2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val (n, lo) = out(("books", "web"))
    assert(n == 1L && lo > 0.2 && lo < 0.6)
  }

  test("plantedDupRecall: high-overlap twins recover fully; count and pairing are exact") {
    import spark.implicits._
    // 4 sampled docs (ids 10,20,30,40 under mod 10), each 20 distinct words:
    // keepFrac .9 leaves 18/20 tokens -> shingle Jaccard ~0.84, certain
    // catch for 2-row bands on an 8-hash signature
    val docs = (1L to 40L).map(i =>
      (i, (0 until 20).map(w => s"w${i}_$w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.plantedDupRecall(docs, "text", "doc_id",
      sampleMod = 10, keepFrac = 0.9, idOffset = 1000L,
      threshold = 0.2, bands = 4, rowsPerBand = 2).collect()(0)
    assert(out.getLong(0) == 4L, "every 10th doc plants one twin")
    assert(out.getLong(1) == 4L && out.getDouble(2) == 1.0,
      s"high-overlap twins must all recover: $out")
    // an aggressive truncation (keep 1 of 20 tokens -> < shingleK tokens,
    // empty shingle set) recovers nothing: recall honestly reports 0
    val hard = Dedup.plantedDupRecall(docs, "text", "doc_id",
      sampleMod = 10, keepFrac = 0.05, idOffset = 1000L,
      threshold = 0.2, bands = 4, rowsPerBand = 2).collect()(0)
    assert(hard.getLong(0) == 4L && hard.getLong(1) == 0L &&
      hard.getDouble(2) == 0.0)
  }

  test("persisted MinHash index: build+append serves the one-shot signature rows; params pinned; crashed append invisible") {
    import spark.implicits._
    val docs = (1L to 30L).map { i =>
      val words = (0 until 12).map(w => s"w${i % 10}_$w") // 3 near-dup waves
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    val base = docs.filter($"doc_id" <= 20)
    val batch1 = docs.filter($"doc_id" > 20 && $"doc_id" <= 25)
    val query = docs.filter($"doc_id" > 25)
    Dedup.writeMinHashIndex(base, dir, bands = 4, rowsPerBand = 2)
    // appender/reader take NO banding knobs — the artifact pins them
    assert(Dedup.readMinHashIndexParams(spark, dir) ==
      Dedup.MinHashIndexParams(4, 2, 3))
    Dedup.appendToMinHashIndex(batch1, dir, txn = Some(("spec", 1L)))
    val fromIndex = Dedup.nearDupsAgainstIndex(spark, dir, query,
        threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: one-shot in-memory index over the same 25 docs
    val oneShot = Dedup.incrementalNearDups(query,
        Dedup.minHashIndexTable(docs.filter($"doc_id" <= 25), "text",
          "doc_id", bands = 4, rowsPerBand = 2),
        "text", "doc_id", threshold = 0.2, bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex == oneShot && fromIndex.nonEmpty,
      s"index pairs $fromIndex != one-shot $oneShot")
    // a crashed append (data written, commit refused) must stay invisible —
    // drive the injected crash through the same ParquetTable commit path
    // appendToMinHashIndex rides (onPreCommit is per-instance)
    val t = new graft.merge.ParquetTable(spark, s"$dir/index")
    val v = t.latestVersion
    t.onPreCommit = () => throw new RuntimeException("injected crash")
    intercept[Exception] {
      t.append(Dedup.minHashIndexTable(docs.filter($"doc_id" > 25), "text",
        "doc_id", bands = 4, rowsPerBand = 2))
    }
    t.onPreCommit = () => ()
    val t2 = new graft.merge.ParquetTable(spark, s"$dir/index")
    assert(t2.latestVersion == v, "crashed append must not commit")
    assert(Dedup.nearDupsAgainstIndex(spark, dir, query, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == oneShot)
  }

  test("MinHash index compaction: before == after, retry idempotent, replayed append no-op, crashed segment invisible") {
    import spark.implicits._
    val docs = (1L to 30L).map { i =>
      (i, (0 until 12).map(w => s"w${i % 10}_$w").mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_cpt").toString
    val query = docs.filter($"doc_id" > 25)
    def pairs() = Dedup.nearDupsAgainstIndex(spark, dir, query,
      threshold = 0.2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.writeMinHashIndex(docs.filter($"doc_id" <= 15), dir,
      bands = 4, rowsPerBand = 2)
    Dedup.appendToMinHashIndex(docs.filter($"doc_id" > 15 && $"doc_id" <= 20),
      dir, txn = Some(("spec", 1L)))
    Dedup.appendToMinHashIndex(docs.filter($"doc_id" > 20 && $"doc_id" <= 25),
      dir, txn = Some(("spec", 2L)))
    // a replayed (appId, batchId) is an exactly-once no-op
    Dedup.appendToMinHashIndex(docs.filter($"doc_id" > 15 && $"doc_id" <= 20),
      dir, txn = Some(("spec", 1L)))
    val before = pairs()
    assert(before.nonEmpty)
    val nBefore = Dedup.minHashIndexRows(spark, dir).count()
    assert(nBefore == 25L, s"replayed append must not double rows: $nBefore")
    // a CRASHED append (data files written, no commit record) is invisible
    // to readers and to compaction
    val index = new graft.merge.ParquetTable(spark, s"$dir/index")
    index.onPreCommit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](index.append(Dedup.minHashIndexTable(
      docs.filter($"doc_id" > 25), "text", "doc_id", bands = 4, rowsPerBand = 2)))
    assert(Dedup.minHashIndexRows(spark, dir).count() == 25L)
    val appended = index.liveFiles.map(_.path).toSet
    Dedup.compactMinHashIndex(spark, dir)
    assert(pairs() == before, "compaction must not change results")
    assert(Dedup.minHashIndexRows(spark, dir).count() == 25L)
    // the compaction commit replaced every file the build and appends wrote
    val packed = new graft.merge.ParquetTable(spark, s"$dir/index").liveFiles
    assert(packed.size == 1 && !appended.contains(packed.head.path))
    // a second compact finds the index packed: no commit, same results
    val v = index.latestVersion
    Dedup.compactMinHashIndex(spark, dir)
    assert(index.latestVersion == v)
    assert(pairs() == before)
  }

  test("incrementalHamming128NearDups: banded batch×index equals brute-force cross pairs; budget refusal; no self-pairing of either side") {
    import spark.implicits._
    // signatures engineered around the 5-band boundaries (26/26/26/25/25):
    // twins at Hamming 1-4 across specific bands, plus far pairs
    val base = Seq(
      (1L, Seq(0x0123456789abcdefL, 0x0fedcba987654321L)),
      (2L, Seq(0x7efface500000000L, 0x1111111111111111L)),
      (3L, Seq(0x5a5a5a5a5a5a5a5aL, 0x2222222222222222L)))
    // batch twins: flip 1 bit in w0 of id1; 4 bits spread over both words
    // of id2 (bits 0, 30, 70, 120 — four different bands); id3 far (32 bits)
    val batch = Seq(
      (101L, Seq(0x0123456789abcdeeL, 0x0fedcba987654321L)),
      (102L, Seq(0x7efface540000001L, 0x1111111111111151L ^ (1L << 56))),
      (103L, Seq(0x5a5a5a5aa5a5a5a5L, 0x2222222222222222L)))
    val ix = base.toDF("id", "sig")
    val bt = batch.toDF("id", "sig")
    val got = Dedup.incrementalHamming128NearDups(bt, ix, "id", "sig",
        maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force oracle over the cross product
    val expected = (for {
      (bi, bs) <- batch; (ii, is) <- base
      h = java.lang.Long.bitCount(bs(0) ^ is(0)) +
        java.lang.Long.bitCount(bs(1) ^ is(1))
      if h <= 4
    } yield (bi, ii, h)).toSet
    assert(got == expected && got.nonEmpty, s"got $got expected $expected")
    // id 103 is 16 bits from everything: no pair — and crucially the two
    // base near-twins (none here) / batch near-twins never self-pair
    assert(!got.exists(_._1 == 103L))
    assert(got.forall(p => p._1 >= 100L && p._2 < 100L),
      "pairs must be batch×index only")
    // budget refusal: collapse everything to one signature and set budget 1
    val hot = (1L to 10L).map(i => (i, Seq(7L, 7L))).toDF("id", "sig")
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalHamming128NearDups(hot, hot, "id", "sig",
        maxHamming = 4, candidateBudget = 1L).collect()
    }
    assert(err.getMessage.contains("pre-flight refused"))
    assert(err.getMessage.contains("hamming128DedupClusters"))
  }

  test("incrementalHamming64Clusters: join, new cluster, singleton, bridge of two existing components, exact-dup rep") {
    import spark.implicits._
    // index: comp {1,2} (h=1), singleton {3}, comp {5,6} (h=1);
    // E=bits 59-62 and F=bits 57-60 sit at h=4 — separate at radius 3
    val E = 0x7800000000000000L; val F = 0x1E00000000000000L
    val D = 0x0F00000000000F00L
    val index = Seq((1L, -1L), (2L, -2L), (3L, E), (5L, F), (6L, F ^ 1L))
      .toDF("doc_id", "sig")
    val idxComps = Dedup.hamming64DedupClusters(index, "doc_id", "sig")
      .withColumnRenamed("id", "doc_id")
    assert(idxComps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 5L -> 5L, 6L -> 5L))
    // batch: 101 joins {1,2}; 102/103/106 form a NEW cluster (106 is an
    // exact-sig dup of 102 — rep path); 104 is a singleton; 105 (bits
    // 59-61) is h=1 from E and h=3 from F — it BRIDGES the two existing
    // components, so all of {3,5,6,105} take label 3
    val batch = Seq((101L, -4L), (102L, D), (103L, D ^ 6L), (104L,
      0xAAAA000000000000L), (105L, 0x3800000000000000L), (106L, D))
      .toDF("doc_id", "sig")
    val got = Dedup.incrementalHamming64Clusters(batch,
        index.join(idxComps, "doc_id"), "doc_id", "sig")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(101L -> 1L, 102L -> 102L, 103L -> 102L,
      104L -> 104L, 105L -> 3L, 106L -> 102L), s"got $got")
  }

  test("shingleKProfile/recommendShingleK: degenerate vocab needs k=5, realistic vocab fits at k=3") {
    import spark.implicits._
    def pairsByK(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      Dedup.shingleKProfile(df, "text", "doc_id", threshold = 0.5)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(6)).toMap
    // DEGENERATE corpus (the synthetic-31-word regime): every token drawn
    // from a 6-word vocab by a per-doc LCG walk, so k=1 prefixes collide
    // with most of the corpus and only deep shingles become rare
    val degenerate = (1L to 40L).map { i =>
      var s = i
      val toks = (0 until 24).map { _ =>
        s = (s * 16807L + 11L) % 2147483647L
        s"w${s % 6}"
      }
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val dp = pairsByK(degenerate)
    assert((1 to 4).forall(k => dp(k) > dp(k + 1)),
      s"candidate mass must fall with k on the degenerate vocab: $dp")
    val budget = dp(5)
    assert((1 to 4).forall(k => dp(k) > budget), s"need a strict gap: $dp")
    assert(Dedup.recommendShingleK(degenerate, "text", "doc_id",
      threshold = 0.5, candidateBudget = budget) == 5)
    // REALISTIC vocabulary: a shared 25-word core plus per-doc rare tail
    // — k=1/2 still blow a tight budget, k=3 fits
    val realistic = (1L to 40L).map { i =>
      val core = (0 until 14).map(j => s"c${(i * 5 + j * j + i * j) % 25}")
      val tail = (0 until 6).map(j => s"u${i}_$j")
      (i, (core ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    val rp = pairsByK(realistic)
    val budget2 = rp(3)
    assert(rp(1) > budget2 && rp(2) > budget2,
      s"realistic fixture must still collide below k=3: $rp")
    assert(Dedup.recommendShingleK(realistic, "text", "doc_id",
      threshold = 0.5, candidateBudget = budget2) == 3)
    // the hot unit is NAMED (the bandedHammingPairs refusal contract)
    val prof = Dedup.shingleKProfile(degenerate, "text", "doc_id",
      threshold = 0.5, ks = Seq(1)).collect()(0)
    assert(prof.getString(5).nonEmpty && prof.getLong(4) > 0)
    // no k fits -> loud refusal naming the hot unit and the measured mass
    val err = intercept[IllegalArgumentException] {
      Dedup.recommendShingleK(degenerate, "text", "doc_id",
        threshold = 0.5, candidateBudget = 0L, ks = Seq(1, 2, 3))
    }
    assert(err.getMessage.contains("no k in") &&
      err.getMessage.contains("hottest unit"))
  }

  test("dedupSavingsReport: lowest-id canonical survives per family, singletons always survive") {
    import spark.implicits._
    // family {1,2,3} (src a), singleton 4 (src a), family {5,6} (src b)
    val docs = Seq((1L, "a", 100L), (2L, "a", 50L), (3L, "a", 25L),
      (4L, "a", 10L), (5L, "b", 40L), (6L, "b", 60L))
      .toDF("doc_id", "source", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.dedupSavingsReport(docs, pairs, "doc_id", "source", "n_chars")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // a: keeps doc 1 (canonical) + doc 4 (singleton) = 110 of 185 tokens
    assert(out("a") == ((4L, 185L, 2L, 110L, 0.405405)))
    // b: keeps doc 5 -> saves 60/100
    assert(out("b") == ((2L, 100L, 1L, 40L, 0.6)))
  }

  test("recordLinkagePairs scores within blocks and misses across by design") {
    val recs = Seq(
      (1L, "acme corp", "corp"), (2L, "acme corp.", "corp"), // near-identical
      (3L, "acme inc", "inc"),                               // other block
      (4L, "zzzz corp", "corp")                              // same block, far
    ).toDF("id", "name", "blk")
    val out = Dedup.recordLinkagePairs(recs, "id", "name", "blk", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      "only the within-block near-identical pair qualifies; 1-3 is cross-block")
    assert(out.head._3 > 0.97)
  }

  test("prefixFilterJaccardPairs equals brute force (exact recall) and prunes") {
    // 8 docs over a skewed vocab: "the" appears everywhere (high df, lands
    // in nobody's prefix at t=0.5); two moderate-Jaccard pairs planted
    val docs = Seq(
      (1L, "the red fox jumps high"),
      (2L, "the red fox jumps low"),     // J(1,2) = 4/6
      (3L, "the blue bird sings"),
      (4L, "the blue bird hums loud"),   // J(3,4) = 3/6
      (5L, "the green tree"),
      (6L, "the tall green tree"),       // J(5,6) = 3/4
      (7L, "the quick brown dog"),
      (8L, "the lazy cat sleeps")
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJaccardPairs(docs, "text", "doc_id", 0.5, shingleK = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force over distinct token sets
    val toks = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").toSet).toMap
    val want = (for {
      a <- toks.keys; b <- toks.keys if a < b
      j = toks(a).intersect(toks(b)).size.toDouble / toks(a).union(toks(b)).size
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(got == want, s"prefix filter must not lose pairs: got $got want $want")
    assert(want.keySet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
  }

  test("containmentPairs equals brute force and catches what Jaccard misses") {
    // doc 2 is doc 1 QUOTED inside a much longer page: containment(2->1)
    // is 1.0 while Jaccard is far below any dedup threshold
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "beta gamma delta"),
      (3L, "beta gamma delta lambda"),   // c(3->1) = 3/4 < 0.8
      (4L, "mu nu xi omicron")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", 0.8, shingleK = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val toks = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").toSet).toMap
    val want = (for {
      a <- toks.keys; b <- toks.keys if a != b
      c = toks(a).intersect(toks(b)).size.toDouble / toks(a).size
      if c >= 0.8
    } yield (a, b) -> c).toMap
    assert(got == want, s"containment filter must not lose pairs: got $got want $want")
    assert(want.keySet == Set((2L, 1L), (2L, 3L)),
      "the quote is contained in both supersets; nothing else crosses 0.8")
    // and the Jaccard twin at the same threshold sees nothing here
    assert(Dedup.prefixFilterJaccardPairs(docs, "text", "doc_id", 0.8, shingleK = 1).isEmpty)
  }

  test("crossContainmentPairs equals brute force; unseen-token needles cost nothing") {
    val needles = Seq(
      (100L, "beta gamma delta"),            // fully inside doc 1
      (101L, "unseen tokens entirely novel"),// nothing in the haystack
      (102L, "alpha beta zeta omega")        // 3/4 in doc 1
    ).toDF("doc_id", "text")
    val hay = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "mu nu xi")
    ).toDF("doc_id", "text")
    val got = Dedup.crossContainmentPairs(needles, hay, "text", "doc_id", 0.75, shingleK = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val nt = needles.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").toSet).toMap
    val ht = hay.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").toSet).toMap
    val want = (for {
      a <- nt.keys; b <- ht.keys
      c = nt(a).intersect(ht(b)).size.toDouble / nt(a).size
      if c >= 0.75
    } yield (a, b) -> c).toMap
    assert(got == want, s"got $got want $want")
    assert(want.keySet == Set((100L, 1L), (102L, 1L)))
  }

  test("candidate pre-flight guard refuses a degenerate vocabulary") {
    // 40 docs sharing one tiny word vocabulary at shingleK=1: every
    // prefix token posts in ~all docs, so the measured candidate count
    // is near-quadratic (hundreds of pairs) — a budget below it must
    // fail fast with the measured number, BEFORE the self-join runs
    val docs = (1L to 40L).map(i =>
      (i, s"alpha beta gamma delta w$i")).toDF("doc_id", "text")
    val eJ = intercept[IllegalArgumentException] {
      Dedup.prefixFilterJaccardPairs(docs, "text", "doc_id", 0.5,
        shingleK = 1, candidateBudget = 100L).count()
    }
    assert(eJ.getMessage.contains("pre-flight refused") &&
      eJ.getMessage.contains("candidateBudget=100"))
    val eC = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "text", "doc_id", 0.7,
        shingleK = 1, candidateBudget = 100L).count()
    }
    assert(eC.getMessage.contains("pre-flight refused"))
    // the same config under a sufficient budget (or at the shingled
    // default's rarer units) runs fine — the guard gates cost, not output
    assert(Dedup.prefixFilterJaccardPairs(docs, "text", "doc_id", 0.5,
      shingleK = 1, candidateBudget = 1000000L).count() >= 0L)
  }

  test("goldenRecords: each field survives from its own best member") {
    // cluster {1,2,3}: longest text on 2, lowest id 1; doc 9 is a singleton
    val docs = Seq(
      (1L, "short", "src_a", 5L),
      (2L, "the longest text", "src_b", 16L),
      (3L, "mid text", "src_c", 8L),
      (9L, "lonely", "src_z", 6L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "component")
    val out = Dedup.goldenRecords(docs, comp, "doc_id",
        Seq("text" -> col("n_chars"), "source" -> negate(col("doc_id"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    val c1 = out(1L)
    assert(c1.getLong(1) == 3L && c1.getLong(2) == 1L)
    assert(c1.getString(3) == "the longest text" && c1.getLong(4) == 2L)
    assert(c1.getString(5) == "src_a" && c1.getLong(6) == 1L,
      "source must come from the LOWEST id, not the text winner")
    val s9 = out(9L)
    assert(s9.getLong(1) == 1L && s9.getString(3) == "lonely" &&
      s9.getString(5) == "src_z")
  }

  test("goldenRecords accepts string ids (MDM business keys)") {
    val docs = Seq(
      ("cust-001", "Acme Corp", 4L),
      ("cust-002", "Acme Corporation Inc", 9L),
      ("cust-003", "Acme", 2L)
    ).toDF("rec_id", "name", "score")
    val comp = Seq(("cust-001", "cust-001"), ("cust-002", "cust-001"),
      ("cust-003", "cust-001")).toDF("node", "component")
    val r = Dedup.goldenRecords(docs, comp, "rec_id",
      Seq("name" -> col("score"))).head()
    assert(r.getString(0) == "cust-001" && r.getLong(1) == 3L)
    assert(r.getString(2) == "cust-001") // canonical = min string id
    assert(r.getString(3) == "Acme Corporation Inc" &&
      r.getString(4) == "cust-002")
  }

  test("linkageBlockProfile: pair work per candidate key, nulls excluded") {
    val recs = Seq(
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "y"),
      (4L, "b", "y"), (5L, "b", null), (6L, null, "y")
    ).toDF("id", "k1", "k2")
    val out = Dedup.linkageBlockProfile(recs, "id",
        Seq("by_k1" -> col("k1"), "by_k2" -> col("k2")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // k1: blocks a=3, b=2 -> pairs 3+1=4; one null key
    assert(out("by_k1") == ((6L, 1L, 2L, 3L, 4L)))
    // k2: blocks x=2, y=3 -> pairs 1+3=4; one null key
    assert(out("by_k2") == ((6L, 1L, 2L, 3L, 4L)))
  }

  test("fellegiSunterWeights: planted match structure recovers m >> u; nulls disagree") {
    import spark.implicits._
    // 60 "match" pairs: both fields agree 90%/80% of the time;
    // 940 "non-match" pairs: agree 10%/5% — EM must find m1~0.9, u1~0.1
    val pairs = ((0 until 60).map(i =>
      (i % 10 != 9, i % 5 != 4)) ++ // matches: 90% / 80% agreement
      (0 until 940).map(i =>
        (i % 10 == 0, i % 20 == 0))) // non-matches: 10% / 5%
      .toDF("f1", "f2")
    val out = Dedup.fellegiSunterWeights(pairs,
        Seq("f1" -> col("f1"), "f2" -> col("f2")), iters = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (m1, u1, wa1) = out("f1")
    val (m2, u2, _) = out("f2")
    assert(m1 > 0.7 && u1 < 0.2, s"f1 m/u not separated: $m1 / $u1")
    assert(m2 > 0.6 && u2 < 0.1, s"f2 m/u not separated: $m2 / $u2")
    assert(wa1 > 2.0, "agreement on a discriminating field earns log-odds")
    // a null comparison counts as disagreement, not a crash
    val withNull = Seq((Some(true), true), (None, false), (Some(false), true))
      .toDF("f1", "f2")
    val n = Dedup.fellegiSunterWeights(withNull,
      Seq("f1" -> col("f1"), "f2" -> col("f2")), iters = 2).collect()
    assert(n.length == 2 && n.forall(r => !r.getDouble(1).isNaN))
  }

  test("candidate pre-flight guard edges: empty corpus, threshold 1.0, cross twin") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty corpus: measured work is exactly 0 — passes even a ZERO
    // budget and yields an empty result, never a divide-by-nothing throw
    assert(Dedup.prefixFilterJaccardPairs(empty, "text", "doc_id", 0.5,
      shingleK = 1, candidateBudget = 0L).count() == 0L)
    assert(Dedup.containmentPairs(empty, "text", "doc_id", 0.5,
      shingleK = 1, candidateBudget = 0L).count() == 0L)
    assert(Dedup.crossContainmentPairs(empty, empty, "text", "doc_id", 0.5,
      shingleK = 1, candidateBudget = 0L).count() == 0L)
    // one-sided empty cross: needle prefixes exist but no haystack
    // postings — est joins to nothing, coalesces to 0, result empty
    val needles = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Dedup.crossContainmentPairs(needles, empty, "text", "doc_id",
      0.5, shingleK = 1, candidateBudget = 0L).count() == 0L)
    // threshold -> 1.0: prefix length collapses to n - ceil(n) + 1 = 1
    // (one token per doc under the join), the DECIMAL ceiling must not
    // overshoot to 0, and the verify pass keeps exact dups only
    val dup = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), // exact dup
      (3L, "alpha beta delta")                            // J = 1/2
    ).toDF("doc_id", "text")
    val exact = Dedup.prefixFilterJaccardPairs(dup, "text", "doc_id", 1.0,
        shingleK = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)), s"t=1.0 keeps exact dups only: $exact")
    // guard still measures REAL work at t=1.0 on a degenerate corpus:
    // 40 identical docs -> one posting bucket of 40 -> 780 pairs measured
    val clones = (1L to 40L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.prefixFilterJaccardPairs(clones, "text", "doc_id", 1.0,
        shingleK = 1, candidateBudget = 100L).count()
    }
    assert(e.getMessage.contains("pre-flight refused"))
    // the cross twin refuses a degenerate k=1 vocab the same way: every
    // needle prefix token fans across the whole haystack posting list
    val hay = (1L to 50L).map(i => (1000L + i, s"alpha beta w$i"))
      .toDF("doc_id", "text")
    val n2 = (1L to 10L).map(i => (i, "alpha beta")).toDF("doc_id", "text")
    val eX = intercept[IllegalArgumentException] {
      Dedup.crossContainmentPairs(n2, hay, "text", "doc_id", 0.5,
        shingleK = 1, candidateBudget = 10L).count()
    }
    assert(eX.getMessage.contains("crossContainmentPairs pre-flight refused"))
  }

  test("posting-stage persists release deterministically (no net cache growth)") {
    // CacheManager entries are strong-referenced (not GC-reclaimable):
    // the operators must unpersist their posting stages before returning,
    // so ~100 sequential calls in one session leave ZERO net cached plans
    // — the long-lived-session leak the r12 review flagged
    val probe = org.apache.spark.sql.GraftCacheProbe
    val corpus = (1L to 12L).map(i =>
      (i, s"alpha beta gamma w$i x${i % 3}")).toDF("doc_id", "text")
    val needles = Seq((900L, "alpha beta gamma")).toDF("doc_id", "text")
    val before = probe.numCachedPlans(spark)
    (1 to 34).foreach { _ =>
      Dedup.prefixFilterJaccardPairs(corpus, "text", "doc_id", 0.5,
        shingleK = 2).count()
      Dedup.containmentPairs(corpus, "text", "doc_id", 0.7,
        shingleK = 2).count()
      Dedup.crossContainmentPairs(needles, corpus, "text", "doc_id", 0.7,
        shingleK = 2).count()
    }
    // the candidates-only entry point too
    (1 to 4).foreach { _ =>
      Dedup.prefixCandidateCount(corpus, "text", "doc_id", 0.5, 2)
    }
    val after = probe.numCachedPlans(spark)
    assert(after == before,
      s"posting persists leaked: $before cached plans before, $after after " +
        "106 operator calls — a long-lived session would accumulate " +
        "MEMORY_AND_DISK blocks until an explicit clearCache()")
    // a guard REFUSAL must not leak either: the throw happens after the
    // posting stages persist, so the refusing path unpersists on its way out
    val clones = (1L to 40L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.prefixFilterJaccardPairs(clones, "text", "doc_id", 0.5,
        shingleK = 1, candidateBudget = 10L)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(clones, "text", "doc_id", 0.5,
        shingleK = 1, candidateBudget = 10L)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossContainmentPairs(needles, clones, "text", "doc_id", 0.5,
        shingleK = 1, candidateBudget = 1L)
    }
    assert(probe.numCachedPlans(spark) == before,
      "a refused pre-flight must release its posting persists too")
  }

  test("paragraphDedup: corpus-first survivorship, order-preserving reassembly") {
    val corpus = Seq(
      (10L, "alpha beta\nshared boiler plate\ngamma delta"),
      // cross-doc dup: loses "shared boiler plate" to doc 10
      (20L, "shared boiler plate\nunique to twenty"),
      // in-doc repeat: second "echo foxtrot" loses to pos 0; also loses
      // the boilerplate to doc 10
      (30L, "echo foxtrot\nshared boiler plate\necho foxtrot"),
      // whitespace-only spans are not paragraphs: ignored for counts,
      // absent from the reassembly
      (40L, "  \nreal content\n\t"),
      // every paragraph already seen → reassembles to the empty string
      (50L, "alpha beta\nunique to twenty"))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(10L) == (("alpha beta\nshared boiler plate\ngamma delta", 3L, 3L)))
    assert(out(20L) == (("unique to twenty", 2L, 1L)))
    assert(out(30L) == (("echo foxtrot", 3L, 1L)))
    assert(out(40L) == (("real content", 1L, 1L)))
    assert(out(50L) == (("", 2L, 0L)))
    // one row per input document, dup-free or not
    assert(out.size == 5)
  }

  test("paragraphDedup: custom separator and kept-mass invariant") {
    val corpus = Seq(
      (1L, "a b|c d|a b"), (2L, "c d|e f"), (3L, "e f"))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "doc_id", "text", sep = "|")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b|c d", 3L, 2L)))
    assert(out(2L) == (("e f", 2L, 1L)))
    assert(out(3L) == (("", 1L, 0L)))
    // survivors across the corpus = distinct paragraphs (exactly one
    // winner per distinct paragraph)
    assert(out.values.map(_._3).sum == 3L)
  }

  test("paragraphDedup: fingerprint keying ≡ text keying (randomized replay)") {
    // The shuffle key is a 128-bit fingerprint + length, never the text
    // (the 100 TB shuffle-byte fix). COLLISION STANCE: a false merge needs
    // two distinct paragraphs sharing both 64-bit xxhash64 lanes AND their
    // length (P ≈ n²/2^129 — ~1e-15 at 10^12 paragraphs); the blast radius
    // is one wrongly-dropped paragraph occurrence. This replay asserts the
    // fingerprint path is value-identical to first-occurrence-by-text on a
    // 200-doc corpus with heavy cross-doc sharing, hostile near-misses
    // ("a a" vs "a  a", differing only in whitespace run length), and
    // repeated in-doc paragraphs.
    val rnd = new scala.util.Random(20260816L)
    val pool = (Vector("a a", "a  a", "b c", "b  c", "", " ", "\t") ++
      (1 to 40).map(i => s"para $i ${"x" * (i % 7)}"))
    val docs = (1L to 200L).map { id =>
      id -> (1 to (1 + rnd.nextInt(8)))
        .map(_ => pool(rnd.nextInt(pool.size))).mkString("\n")
    }
    // reference replay: first occurrence by (id, pos) keyed on raw text
    val exploded = docs.flatMap { case (id, text) =>
      text.split(java.util.regex.Pattern.quote("\n"), -1).zipWithIndex
        .filterNot(_._1.matches("^\\s*$"))
        .map { case (p, pos) => (id, pos, p) }
    }
    val winners = exploded.groupBy(_._3).map { case (_, occ) =>
      occ.minBy(o => (o._1, o._2))
    }.map(o => (o._1, o._2)).toSet
    val expect = docs.map { case (id, text) =>
      val paras = text.split(java.util.regex.Pattern.quote("\n"), -1)
        .zipWithIndex.filterNot(_._1.matches("^\\s*$"))
      val kept = paras.filter { case (_, pos) => winners((id, pos)) }
      (id, kept.map(_._1).mkString("\n"), paras.length.toLong,
        kept.length.toLong)
    }.toSet
    val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
  }

  test("hamming64 band profile names a planted hot bucket; budget refuses it") {
    // 40 "template" signatures sharing ONLY their low band (0x1234;
    // upper bands golden-ratio mixed, so band 0 is the unique hot
    // bucket) + 60 spread signatures + one identical pair
    val hot = (0 until 40).map(i => (i.toLong,
      (0x9E3779B97F4A7C15L * (2 * i + 3) & ~0xffffL) | 0x1234L))
    val spread = (0 until 60).map(i =>
      (100L + i, 0x0101010101010101L * (i + 2)))
    val twin = Seq((200L, 0x0F0F0F0F0F0F0F0FL), (201L, 0x0F0F0F0F0F0F0F0FL))
    val df = (hot ++ spread ++ twin).toDF("id", "sig")
    val prof = Dedup.hamming64BucketProfile(df, "id", "sig")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
    // band 0: the planted bucket holds 40 signatures -> 780 implied pairs
    assert(prof(0L)._1 == 40L && prof(0L)._2 >= 780L)
    // the pre-flight refuses under a small budget, naming the band
    val e = intercept[IllegalArgumentException] {
      Dedup.hamming64NearDups(df, "id", "sig", maxHamming = 3,
        candidateBudget = 100L)
    }
    assert(e.getMessage.contains("band 0") &&
      e.getMessage.contains("40 signatures"))
    // with the default budget the same input runs; the identical twin
    // pair survives the exact-Hamming verify (distance 0)
    val pairs = Dedup.hamming64NearDups(df, "id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((200L, 201L)))
  }

  test("singleton filter engages/skips by regime, results identical to brute") {
    // dup-DENSE: every signature appears twice -> 100% multi-occupancy
    // banded rows -> the filter is SKIPPED (multiFrac 1.0 > 0.6);
    // dup-SPARSE: golden-ratio-mixed uniques + one twin -> nearly all
    // singleton buckets -> the filter ENGAGES (multiFrac << 0.6).
    // Either way the pair set must equal the brute-force scan — the
    // conditional is a plan choice, never a semantics choice.
    def brute(rows: Seq[(Long, Long)], maxH: Int): Set[(Long, Long, Int)] =
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield (ia, ib, h)).toSet
    val dense = (0 until 30).map(i =>
      (i.toLong, 0x9E3779B97F4A7C15L * (i / 2 + 1)))
    val sparse = (0 until 60).map(i =>
      (i.toLong, 0x9E3779B97F4A7C15L * (i + 1))) :+ (100L, 0x9E3779B97F4A7C15L)
    for (rows <- Seq(dense, sparse)) {
      val got = Dedup.hamming64NearDups(rows.toDF("id", "sig"), "id", "sig",
          maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(rows, 3))
    }
  }

  test("dedup-first clusters: survives the template budget refusal, equals all-docs chain") {
    // 120 copies of ONE template + 40 spread docs + a near-dup pair. The
    // PLAIN banded engine sees C(120,2)=7140 implied pairs and refuses a
    // 2000-pair budget (the hot-template failure mode its message names);
    // dedup-first collapses the template to ONE representative and runs
    // in the same budget — with results EQUAL to the all-docs chain.
    val template = (0 until 120).map(i => (i.toLong, "the same boilerplate page text"))
    val spread = (0 until 40).map(i =>
      (200L + i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} unique$i tail$i"))
    val near = Seq((400L, spread(9)._2 + " extraword"))
    val corpus = (template ++ spread ++ near).toDF("doc_id", "text")
      .repartition(5)
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashNearDups64(corpus, "text", "doc_id",
        maxHamming = 3, candidateBudget = 2000L).count()
    }
    assert(e.getMessage.contains("pre-flight refused"))
    val got = Dedup.simHashDedupClusters64(corpus, "text", "doc_id",
        maxHamming = 3, candidateBudget = 2000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: brute-force pairs over ALL docs + union-find + singletons
    val sigs = corpus.select($"doc_id", Dedup.simHash64(col("text")).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val parent = scala.collection.mutable.Map(sigs.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for { (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
          if java.lang.Long.bitCount(sa ^ sb) <= 3 } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = sigs.map { case (id, _) => id -> find(id) }.toMap
    assert(got == expect)
    // all 120 template docs share one component rooted at the min id
    assert((0 until 120).forall(i => got(i.toLong) == 0L))
    // 128-bit twin: same contract through the wide engine
    val got128 = Dedup.hamming128DedupClusters(
      corpus.select($"doc_id",
        Dedup.simHash128(col("text")).as("sig")), "doc_id", "sig",
      maxHamming = 4, candidateBudget = 2000L)
    assert(got128.count() == corpus.count())
  }

  test("incremental hamming: cross pairs only, equals brute force, budget refuses") {
    // batch ids 100+, index ids < 100; one batch sig equals an index sig
    // (Hamming 0), one differs by 2 bits; two INDEX sigs are identical to
    // each other — they must NOT pair (no index self-join)
    val index = Seq(
      (1L, 0x0123456789ABCDEFL), (2L, 0x0123456789ABCDEFL), // index twins
      (3L, 0x0F0F0F0F0F0F0F0FL),
      (4L, 0x9E3779B97F4A7C15L))
    val batch = Seq(
      (101L, 0x0123456789ABCDEFL),            // exact hit on 1 and 2
      (102L, 0x0F0F0F0F0F0F0F0CL),            // 2 bits off index 3
      (103L, 0x5A5A5A5A5A5A5A5AL))            // no neighbor
    val got = Dedup.incrementalHamming64NearDups(
        batch.toDF("id", "sig"), index.toDF("id", "sig"), "id", "sig",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (ib, sb) <- batch; (ii, si) <- index
      h = java.lang.Long.bitCount(sb ^ si) if h <= 3
    } yield (ib, ii, h)).toSet
    assert(got == brute)
    assert(got == Set((101L, 1L, 0), (101L, 2L, 0), (102L, 3L, 2)))
    // budget: a hot batch template against a hot index bucket refuses
    val hotIx = (0 until 50).map(i => (i.toLong, 42L))
    val hotB = (0 until 50).map(i => (100L + i, 42L))
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalHamming64NearDups(hotB.toDF("id", "sig"),
        hotIx.toDF("id", "sig"), "id", "sig", maxHamming = 3,
        candidateBudget = 100L)
    }
    assert(e.getMessage.contains("incrementalHamming64NearDups pre-flight refused"))
  }

  test("simHash128: word 0 equals simHash64; words replay the md5 halves") {
    val texts = Seq("the quick brown fox", "lorem ipsum dolor sit amet",
      "a", "  Mixed   CASE  words  ")
    val rows = texts.toDF("text")
      .select(Dedup.simHash64(col("text")).as("s64"),
        Dedup.simHash128(col("text")).as("s128"))
      .as[(Long, Seq[Long])].collect()
    rows.foreach { case (s64, s128) =>
      assert(s128.length == 2 && s128.head == s64)
    }
  }

  test("simHashNearDups128: 5-band scheme == brute force at Hamming<=4") {
    val base = (1L to 60L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} w${i % 3} w${(i * 7) % 5} tail$i"))
    val planted = Seq(
      (101L, base(4)._2),                     // exact dup (hamming 0)
      (102L, base(9)._2 + " extraword"))      // near dup
    val corpus = (base ++ planted).toDF("doc_id", "text").repartition(7)
    val got = Dedup.simHashNearDups128(corpus, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val sigs = corpus.select($"doc_id", Dedup.simHash128(col("text")).as("s"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa(0) ^ sb(0)) +
        java.lang.Long.bitCount(sa(1) ^ sb(1)) if h <= 4
    } yield (ia, ib) -> h).toMap
    assert(got == brute)           // recall AND precision vs exhaustive scan
    assert(got(((5L, 101L))) == 0) // the planted exact dup is in there
  }

  test("hamming128NearDups: straddling band, planted radius-4 pair, budget") {
    // two signatures differing in EXACTLY 4 bits, all four inside band 2
    // (bits 52-77 — the band straddling the w0/w1 word boundary: two flips
    // on each side of bit 64). Pigeonhole holds because the OTHER four
    // bands are untouched; a straddle bug in the band extraction would
    // break the collision there and lose the pair.
    val a = (0x0123456789ABCDEFL, 0x0FEDCBA987654321L)
    val b = (a._1 ^ (3L << 60), a._2 ^ (3L << 8))   // bits 60,61 and 72,73
    val spread = (0 until 40).map(i =>
      (10L + i, Seq(0x9E3779B97F4A7C15L * (i + 1), 0xC2B2AE3D27D4EB4FL * (i + 1))))
    val df = (Seq((1L, Seq(a._1, a._2)), (2L, Seq(b._1, b._2))) ++ spread)
      .toDF("id", "sig")
    val got = Dedup.hamming128NearDups(df, "id", "sig", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.contains((1L, 2L, 4)))
    // profile sees the planted identical-band mass; tiny budget refuses
    val twins = (0 until 30).map(i => (i.toLong, Seq(1L, 2L))).toDF("id", "sig")
    val e = intercept[IllegalArgumentException] {
      Dedup.hamming128NearDups(twins, "id", "sig", maxHamming = 4,
        candidateBudget = 10L)
    }
    assert(e.getMessage.contains("hamming128NearDups pre-flight refused"))
    // profile shape: 5 bands, planted twins collapse into one bucket each
    val prof = Dedup.hamming128BucketProfile(twins, "id", "sig")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(prof.size == 5 && prof.values.forall { case (nb, cp) =>
      nb == 1L && cp == 30L * 29L / 2L })
  }
}
