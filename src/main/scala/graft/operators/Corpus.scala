package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level text preparation: chunking documents into fixed-token
  * training windows, vocabulary construction with OOV accounting, and a
  * unigram language-model quality proxy. Together with [[TextAnalysis]] and
  * [[Dedup]] these are the last mile between a raw document table and
  * model-ready sequences. */
object Corpus {

  /** Split each document into overlapping fixed-token chunks (the
    * pretraining/RAG windowing step): chunk i covers tokens
    * [i*(size-overlap), i*(size-overlap)+size). The tail chunk may be
    * short; a document shorter than one chunk yields exactly one chunk.
    *
    * One projection: tokenization, the start grid (`sequence` bounded by
    * the doc's own token count), and the slice all stay inside the row —
    * no shuffle at all, so chunking parallelizes embarrassingly and
    * composes with a downstream repartition on chunk hash when chunks
    * must be redistributed. */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val toks = split(trim(col(textCol)), "\\s+")
    // last useful start: a chunk at s is fully contained in its predecessor
    // when s-step+chunkSize already reaches the end, so the grid stops at
    // n - chunkSize + step - 1 (clamped) — no duplicated tail windows
    df.select(col(idCol).as("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          greatest(size(col("t")) - chunkSize + step - 1, lit(0)), lit(step)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / step).cast("long").as("chunk_idx"),
        slice(col("t"), col("start") + 1, lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
  }

  /** Top-`vocabSize` corpus vocabulary (by occurrence count, ties broken on
    * the token string) through the bounded [[graft.functions.TopKAgg]] —
    * the same shuffle-k-not-the-vocabulary shape as
    * [[Sketches.topNgrams]]. Returns (token, n_occ, rank). */
  def buildVocab(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    graft.functions.TopKAgg.register(df.sparkSession)
    val toks = df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
    toks.groupBy("token").agg(count(lit(1)).cast("long").as("n_occ"))
      .agg(graft.functions.TopKAgg.topK(
        struct(negate(col("n_occ")).as("negn"), col("token").as("token")),
        vocabSize).as("arr"))
      .select(posexplode(col("arr")))
      .select(col("col.token").as("token"), negate(col("col.negn")).as("n_occ"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Vocabulary coverage curve: for each candidate vocab size k, the share
    * of ALL token occurrences the top-k most frequent tokens cover — the
    * tokenizer-budget sizing table ("is 32k entries enough, or does this
    * corpus need 100k?") and the direct complement of [[oovRate]] (which
    * audits ONE fixed vocab; this sweeps the size axis in a single pass).
    *
    * One token-count aggregate (shuffle bounded by the vocabulary, not
    * occurrences — map-side partials collapse repeats), then ONE bounded
    * top-max(ks) [[graft.functions.TopKAgg]] carries every rank the curve
    * needs: no global sort of the vocab table, no rank window. Ranks tie
    * on (count desc, token asc) — deterministic on any engine. A k larger
    * than the vocabulary saturates at coverage 1. */
  def vocabCoverage(df: DataFrame, textCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks > 0")
    // duplicate ks would alias two identical __c_k aggregate columns and
    // fail (or ambiguously bind) at analysis — reject up front
    require(ks.distinct.length == ks.length, "ks must be distinct")
    graft.functions.TopKAgg.register(df.sparkSession)
    val maxK = ks.max
    val counts = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).cast("long").as("n_occ"))
    val top = counts.agg(
      graft.functions.TopKAgg.topK(
        struct(negate(col("n_occ")).as("negn"), col("token").as("token")),
        maxK).as("arr"),
      sum(col("n_occ")).cast("long").as("total_tokens"),
      count(lit(1)).cast("long").as("vocab_size"))
    val ranked = top
      .select(col("total_tokens"), col("vocab_size"), posexplode(col("arr")))
      .select(col("total_tokens"), col("vocab_size"),
        (col("pos") + 1).cast("long").as("rank"),
        negate(col("col.negn")).as("cnt"))
    val aggs = ks.map(k =>
      sum(when(col("rank") <= k, col("cnt"))).cast("long").as(s"__c_$k"))
    val row = ranked.groupBy(col("total_tokens"), col("vocab_size"))
      .agg(aggs.head, aggs.tail: _*)
    val structs = ks.map(k => struct(lit(k.toLong).as("k"),
      coalesce(col(s"__c_$k"), lit(0L)).as("covered_tokens")))
    row.select(col("total_tokens"), col("vocab_size"),
        explode(array(structs: _*)).as("p"))
      .select(col("p.k").as("k"), col("p.covered_tokens").as("covered_tokens"),
        round(col("p.covered_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("coverage"),
        col("vocab_size"), col("total_tokens"))
  }

  /** Zipf fit per source: OLS of ln(frequency) on ln(rank) over the
    * top-`topN` tokens — slope ~ -1 is the healthy-natural-text signature;
    * a flat slope flags template/boilerplate sources and a cliff flags
    * tiny-vocabulary (e.g. log-spam) sources before they hit training.
    * Rank is (frequency desc, token asc) for engine determinism.
    *
    * Per-source top-N rides the bounded [[graft.functions.TopKAgg]]
    * (never a rank window over the full vocabulary), so post-explode
    * state is sources x topN; the regression reuses
    * [[Stats.groupRegression]]'s centered two-pass contract. */
  def zipfFit(df: DataFrame, srcCol: String, textCol: String,
              topN: Int = 100): DataFrame = {
    graft.functions.TopKAgg.register(df.sparkSession)
    val tf = graft.Tables.widen(df)
      .select(col(srcCol).as("source"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).cast("long").as("f"))
    val top = tf.groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topK(
        struct(negate(col("f")).as("negf"), col("token").as("token")),
        topN).as("arr"))
      .select(col("source"), posexplode(col("arr")))
      .select(col("source"), (col("pos") + 1).cast("double").as("rank"),
        negate(col("col.negf")).cast("double").as("f"))
    val pts = top.select(col("source"), log(col("rank")).as("ln_rank"),
      log(col("f")).as("ln_freq"))
    Stats.groupRegression(pts, "source", "ln_rank", "ln_freq")
  }

  /** Out-of-vocabulary rate per group against a vocabulary frame (from
    * [[buildVocab]] or external): the tokenizer-coverage check run before
    * committing to a vocab. The vocab side is dimension-sized — broadcast —
    * so the corpus explodes once and never shuffles for the join; the only
    * shuffle is the per-group aggregation. */
  def oovRate(df: DataFrame, groupCol: String, textCol: String,
              vocab: DataFrame): DataFrame = {
    val toks = df.select(col(groupCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
    toks.join(broadcast(vocab.select(col("token"), lit(true).as("in_vocab"))),
        Seq("token"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("oov_rate"))
  }

  /** Adjacent-symbol pair counts at the character level — the inner loop of
    * BPE tokenizer training (each merge round promotes the most frequent
    * adjacent pair to a new symbol). One projection explodes words then
    * their in-word character pairs (no cross-word pairs, matching standard
    * pretokenized BPE); the corpus-wide count is a single map-side-combined
    * shuffle bounded by the symbol-pair space, and the top-`topK` rides the
    * bounded [[graft.functions.TopKAgg]] exactly like
    * [[Sketches.topNgrams]]. Returns (pair, n_occ, rank). */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    graft.functions.TopKAgg.register(df.sparkSession)
    val words = df.select(
      explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
    val pairs = words.select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
    pairs.groupBy("pair").agg(count(lit(1)).cast("long").as("n_occ"))
      .agg(graft.functions.TopKAgg.topK(
        struct(negate(col("n_occ")).as("negn"), col("pair").as("pair")),
        topK).as("arr"))
      .select(posexplode(col("arr")))
      .select(col("col.pair").as("pair"), negate(col("col.negn")).as("n_occ"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-domain document caps — the web-corpus "no single host dominates"
    * rule (C4/RefinedWeb keep at most N pages per registered domain). The
    * host comes out of the URL with Spark's native `parse_url` (codegen'd,
    * no UDF). Returns the per-host accounting (total / kept / dropped).
    *
    * No per-row rank is computed: within a host the cap keeps a rank-prefix
    * of a permutation of its rows, so the COUNTS are pure arithmetic on the
    * host's row count — kept = least(n, cap), dropped = n - kept — and the
    * whole report is one map-side-combined count aggregation, bounded by
    * the number of hosts. A mega-host that would single-partition a rank
    * window simply cannot arise here. The kept-document SET (which needs
    * the actual hash-order ranks) is [[domainCapDocs]], which rides the
    * bounded [[graft.functions.TopKAgg]] path for the same reason. */
  def domainCapReport(df: DataFrame, urlCol: String, idCol: String,
                      cap: Int): DataFrame = {
    require(cap > 0, "cap > 0")
    // try_parse_url, NOT parse_url: the strict variant THROWS on the first
    // malformed URL (one bad crawl row would fail the whole job). The null
    // it returns instead is then labeled, so broken rows surface as a
    // visible, countable, still-capped group rather than vanishing
    val hosted = df.select(col(idCol).as("id"),
      coalesce(expr(s"try_parse_url($urlCol, 'HOST')"), lit("(invalid)")).as("host"))
    hosted.groupBy(col("host"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .select(col("host"), col("n_docs"),
        least(col("n_docs"), lit(cap.toLong)).as("n_kept"),
        greatest(col("n_docs") - cap, lit(0L)).as("n_dropped"))
  }

  /** The documents that SURVIVE [[domainCapReport]]'s cap: per host, the
    * first `cap` ids in portable-id-hash order (deterministic across runs
    * and engines — NOT first-seen order, which is partition-layout-
    * dependent). Delegates to [[Sampling.samplePerGroup]]'s bounded
    * [[graft.functions.TopKAgg]]: map-side partials keep at most `cap`
    * candidates per host per input partition, so the shuffle carries
    * ~cap x partitions rows regardless of how lopsided the host
    * distribution is — a mega-host holding half the corpus costs the same
    * as any other host. Returns (host, id, sample_rank). */
  def domainCapDocs(df: DataFrame, urlCol: String, idCol: String,
                    cap: Int): DataFrame = {
    require(cap > 0, "cap > 0")
    val hosted = df.select(col(idCol).as("id"),
      coalesce(expr(s"try_parse_url($urlCol, 'HOST')"), lit("(invalid)")).as("host"))
    Sampling.samplePerGroup(hosted, "host", "id", cap)
  }

  /** Unigram log-probability quality proxy: each document scored by the
    * mean `ln(count(token)/N)` of its tokens under the corpus unigram
    * distribution — the classic cheap stand-in for LM-perplexity quality
    * filtering. Two aggregations (corpus counts, per-doc mean) plus one
    * join from the exploded corpus to the frequency table on the token —
    * the frequency table is vocabulary-sized, the corpus never moves twice. */
  /** Per-source domain-shift report: KL(P_source ‖ P_corpus) over word
    * unigram distributions — the drift metric that flags a source whose
    * language diverges from the mix before it contaminates a training run.
    * All state is vocabulary-bounded: one (source, word) count table feeds
    * the per-source totals, the corpus word counts, and the KL sum; the
    * corpus totals frame is a 1-row control cross join. Returns
    * (source, n_tokens, vocab, kl); KL is 0 for a source distributed
    * exactly like the corpus and grows with divergence. */
  /** Per-source n-gram novelty: how much of a source's text is NEW text —
    * `n_distinct / n_instances` (a source full of templated/repeated
    * passages scores low) — and how much of it is text no OTHER source has:
    * `n_exclusive / n_distinct` (near-1 means the source contributes unique
    * material; near-0 means it mostly restates the rest of the corpus).
    * The pair is the source-level triage stat run before paying for
    * pairwise dedup: low novelty → intra-source dedup first; low
    * exclusivity → cross-source dedup first.
    *
    * All state is vocabulary-bounded: one (source, shingle) count table
    * (map-side combined), a shingle→source-count table derived from it,
    * one broadcast-sized join between them, and a per-source rollup. The
    * corpus text itself moves exactly once (the explode); nothing later
    * scales with corpus size. */
  def ngramNovelty(df: DataFrame, srcCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    val grams = df.select(col(srcCol).as("source"),
      explode(graft.operators.Dedup.shingles(col(textCol), k)).as("g"))
    val sg = grams.groupBy("source", "g").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the per-gram source counts AND the rollup
    val gs = sg.groupBy("g").agg(count(lit(1)).as("n_src"))
    sg.join(gs, "g")
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_instances"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(when(col("n_src") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_exclusive"))
      .withColumn("novelty",
        round(col("n_distinct").cast("double") /
          col("n_instances").cast("double"), 4))
      .withColumn("exclusive_ratio",
        round(col("n_exclusive").cast("double") /
          col("n_distinct").cast("double"), 4))
  }

  /** Pointwise mutual information over co-occurring top terms:
    * PMI(a,b) = ln(n_ab·N / (n_a·n_b)) for pairs of the corpus's
    * `vocabTopK` most frequent words appearing in the same document —
    * the collocation/phrase-mining statistic behind "which words travel
    * together" (multi-word expressions, topic seeds).
    *
    * The vocabulary restriction IS the scale bound: only the broadcast
    * top-`vocabTopK` term set survives the explode, so per-doc pair
    * fan-out is ≤ vocabTopK² and the pair table is vocabulary-bounded
    * regardless of corpus size (unrestricted PMI pair tables grow with
    * the square of the vocabulary — the classic blowup). Document
    * frequencies (distinct presence), not term frequencies, on both
    * sides of the ratio; ranking is on ROUNDED pmi (6dp) with the pair
    * as tie-break — the ln-score determinism contract of
    * [[logOddsTerms]]. */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               vocabTopK: Int = 50, minPairDocs: Long = 5,
               topK: Int = 20): DataFrame = {
    graft.functions.TopKAgg.register(df.sparkSession)
    val words = df.select(col(idCol).as("id"),
      explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("c"))
      .agg(graft.functions.TopKAgg.topK(
        struct(negate(col("c")).as("nc"), col("w").as("t")), vocabTopK).as("arr"))
      .select(explode(col("arr")).as("e")).select(col("e.t").as("w"))
    val present = words.join(broadcast(vocab), "w")
      .select(col("id"), col("w")).distinct().localCheckpoint()
    val nDocs = df.select(col(idCol)).distinct().count()
    val df1 = present.groupBy("w").agg(count(lit(1)).as("n_term"))
    val pairs = present.alias("a")
      .join(present.alias("b"), col("a.id") === col("b.id") &&
        col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("term_a"), col("b.w").as("term_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairDocs)
    val scored = pairs
      .join(df1.select(col("w").as("term_a"), col("n_term").as("na")), "term_a")
      .join(df1.select(col("w").as("term_b"), col("n_term").as("nb")), "term_b")
      .withColumn("pmi", round(
        log(col("n_pair").cast("double") * lit(nDocs.toDouble) /
          (col("na").cast("double") * col("nb").cast("double"))), 6))
    scored
      .agg(graft.functions.TopKAgg.topK(struct(
        negate(col("pmi")).as("np"), col("term_a").as("ta"),
        col("term_b").as("tb"), col("n_pair").as("c")), topK).as("arr"))
      .select(posexplode(col("arr")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.ta").as("term_a"), col("col.tb").as("term_b"),
        col("col.c").cast("long").as("n_pair"),
        negate(col("col.np")).as("pmi"))
  }

  def sourceKlReport(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(srcCol).as("source"),
      explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
    val sc = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds totals, corpus counts, and the KL sum
    val st = sc.groupBy("source").agg(sum("c").as("tot"))
    val cw = sc.groupBy("w").agg(sum("c").as("cc"))
    val ct = sc.agg(sum("c").as("ctot"))
    sc.join(st, "source").join(cw, "w").crossJoin(broadcast(ct))
      .groupBy(col("source"))
      .agg(max(col("tot")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        round(sum((col("c") / col("tot")) *
          log((col("c") / col("tot")) / (col("cc") / col("ctot")))), 4)
          .as("kl"))
  }

  /** Per-source distinctive terms by log-odds with an informative Dirichlet
    * prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — the
    * corpus-comparison statistic that, unlike raw TF-IDF, damps both
    * low-count noise (the prior) and stopword mass (the odds vs the REST of
    * the corpus): z = δ̂ / √(1/(c_sw+α) + 1/(c_rw+α)) with δ̂ the
    * smoothed log-odds delta of word w in source s vs everything else.
    * State is vocabulary-bounded throughout — one (source, word) count
    * table feeding per-source totals, corpus word totals (both
    * broadcast-joined back), and the final per-source top-k rides the
    * bounded map-side-partial [[graft.functions.TopKAgg]], not a rank
    * window over the vocabulary. z is ROUNDED (6dp) before ranking, word
    * asc on ties — the cross-engine determinism contract for ln-derived
    * scores. Returns (source, rank, term, c_source, z). */
  def logOddsTerms(df: DataFrame, srcCol: String, textCol: String,
                   topK: Int = 5, alpha: Double = 0.01): DataFrame = {
    graft.functions.TopKAgg.register(df.sparkSession)
    val sc = df.select(col(srcCol).as("source"),
        explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds source totals, corpus totals, and the scores
    val st = sc.groupBy("source").agg(sum("c").as("tot"))
    val cw = sc.groupBy("w").agg(sum("c").as("cc"))
    val gl = cw.agg(sum("cc").as("ctot"), count(lit(1)).as("vocab"))
    val scored = sc.join(broadcast(st), "source").join(cw, "w")
      .crossJoin(broadcast(gl))
      .withColumn("crw", col("cc") - col("c"))
      .withColumn("delta",
        log((col("c") + alpha) /
            (col("tot") + lit(alpha) * col("vocab") - col("c") - alpha))
          - log((col("crw") + alpha) /
            (col("ctot") - col("tot") + lit(alpha) * col("vocab")
              - col("crw") - alpha)))
      .withColumn("z", round(col("delta") /
        sqrt(lit(1.0) / (col("c") + alpha) + lit(1.0) / (col("crw") + alpha)),
        6))
    scored.groupBy("source")
      .agg(graft.functions.TopKAgg.topK(
        struct(negate(col("z")).as("nz"), col("w").as("k"), col("c").as("c")),
        topK).as("arr"))
      .select(col("source"), posexplode(col("arr")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col.k").as("term"), col("col.c").as("c_source"),
        negate(col("col.nz")).as("z"))
  }

  /** Per-document lexical-diversity metrics — the vocabulary-richness
    * quality signals (low entropy / low TTR = TEMPLATE or keyword-stuffed
    * text): Shannon word entropy Σ −p·ln p, type-token ratio
    * |vocab|/|tokens|, and the hapax fraction (share of types occurring
    * once). One explode to (doc, word) counts, then one per-doc
    * aggregation — both shuffles carry compact keys and partial-aggregate
    * map-side. Returns (id, n_tokens, n_types, ttr, entropy, hapax_frac). */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df.select(col(idCol).as("id"),
        explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("c"))
    val per = counts.groupBy("id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    counts.join(per, "id")
      .groupBy(col("id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_types")).as("n_types"),
        round(max(col("n_types")).cast("double") / max(col("n_tokens")), 4)
          .as("ttr"),
        round(sum((col("c") / col("n_tokens")) *
          negate(log(col("c") / col("n_tokens")))), 4).as("entropy"),
        round(max(col("n_hapax")).cast("double") / max(col("n_types")), 4)
          .as("hapax_frac"))
  }

  /** Source-similarity matrix: cosine between the unigram COUNT vectors of
    * every source pair — the mix-design diagnostic that shows which
    * sources are near-duplicates of each other at the distribution level
    * (and so add less diversity than their token count suggests). State is
    * vocabulary-bounded: one (source, word) count table self-joined on the
    * word key; output is sources² rows (control-plane sized). */
  def sourceSimilarityMatrix(df: DataFrame, srcCol: String,
                             textCol: String): DataFrame = {
    val sc = df.select(col(srcCol).as("source"),
        explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds norms AND the pair join
    val norms = sc.groupBy("source")
      .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("norm"))
    sc.alias("a").join(sc.alias("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(col("a.c") * col("b.c")).cast("double").as("dot"))
      .join(norms.select(col("source").as("source_a"), col("norm").as("na")),
        "source_a")
      .join(norms.select(col("source").as("source_b"), col("norm").as("nb")),
        "source_b")
      .select(col("source_a"), col("source_b"),
        round(col("dot") / (col("na") * col("nb")), 4).as("cos"))
  }

  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
    val freqs = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val n = toks.agg(count(lit(1)).cast("double").as("n"))
    toks.join(freqs, "token").crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(log(col("cnt") / col("n"))), 4).as("avg_logprob"))
  }

  /** Bigram language-model score per document — the Markov step up from
    * [[unigramLogProb]] and the standard perplexity-style quality filter:
    * avg over positions of ln P(w_i | w_{i-1}) with the MLE estimate
    * c(w_{i-1}, w_i) / c_prefix(w_{i-1}), where c_prefix counts w_{i-1}
    * occurrences as a bigram PREFIX (so the conditional sums to 1 over the
    * vocabulary and every observed bigram scores > -inf without smoothing).
    *
    * Scale shape: bigrams and prefixes travel as 64-BIT HASHES
    * ([[graft.functions.TextHashFunctions.shingleHashes64]]) — both count
    * shuffles and both join-backs move 8-byte longs, never gram strings
    * (same counts modulo md5-collision odds, the [[Dedup.ngramJaccardPairs]]
    * contract). Count state is vocabulary-bounded; docs shorter than two
    * tokens have no bigrams and drop out (mirrors [[unigramLogProb]] on
    * empty docs). Returns (doc_id, n_bigrams, avg_logprob 4dp). */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextHashFunctions
    val pairs = graft.Tables.widen(df).select(col(idCol).as("doc_id"),
        explode(arrays_zip(
          TextHashFunctions.shingleHashes64(col(textCol), 1).as("uh"),
          TextHashFunctions.shingleHashes64(col(textCol), 2).as("bh"))).as("z"))
      .select(col("doc_id"), col("z.uh").as("w1h"), col("z.bh").as("bgh"))
      .filter(col("bgh").isNotNull) // zip pads: last unigram has no bigram
      .localCheckpoint() // feeds both count tables and the join-back
    val bigramCnt = pairs.groupBy("bgh").agg(count(lit(1)).as("cb"))
    val prefixCnt = pairs.groupBy("w1h").agg(count(lit(1)).as("cp"))
    pairs.join(bigramCnt, "bgh").join(prefixCnt, "w1h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(log(col("cb").cast("double") / col("cp"))), 4).as("avg_logprob"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data Selection
    * for Language Models via Importance Resampling"): score every SOURCE
    * doc by how much more likely its hashed n-gram features are under the
    * TARGET corpus's feature distribution than under the source's own —
    *
    *   log w(x) = Σ_{g ∈ feats(x)} [ ln p̂_T(b(g)) − ln p̂_S(b(g)) ]
    *
    * with features = word unigrams + bigrams, b(g) = the gram's 64-bit
    * hash masked to `buckets` (power of two — the low bits, identical
    * under signed and unsigned views, so the DuckDB oracle replays the
    * bucketing exactly), and add-one smoothing
    * p̂(b) = (c_b + 1)/(total + buckets). Resampling the source on
    * exp(log w / T) (e.g. through [[Sampling]]'s A-ES sampler) yields the
    * target-matched training subset — the published recipe for "select
    * web data that looks like Wikipedia" at corpus scale.
    *
    * Scale shape: the ONLY state is the two bucket-count tables, each
    * ≤ `buckets` rows regardless of corpus size (the point of hashed DSIR
    * features vs raw vocabulary) — both broadcast into the per-gram
    * join-back, so after the two bounded count shuffles the weight pass
    * is map-side + one doc_id aggregation. Totals ride the count tables
    * (driver scalars), never a second data pass. Docs with zero features
    * (empty text) drop out, mirroring [[unigramLogProb]].
    * Returns (doc_id, n_feats, log_weight 4dp). */
  def dsirWeights(source: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 8192): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    import graft.functions.TextHashFunctions
    val mask = (buckets - 1).toLong
    def feats(df: DataFrame): DataFrame =
      graft.Tables.widen(df).select(col(idCol).as("doc_id"),
          explode(concat(
            TextHashFunctions.shingleHashes64(col(textCol), 1),
            TextHashFunctions.shingleHashes64(col(textCol), 2))).as("h"))
        .select(col("doc_id"), col("h").bitwiseAND(lit(mask)).as("b"))
    val src = feats(source).localCheckpoint() // feeds counts AND join-back
    val srcCnt = src.groupBy("b").agg(count(lit(1)).as("cs"))
      .localCheckpoint() // bounded (<= buckets rows); totals read it too
    val tgtCnt = feats(target).groupBy("b").agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    val totS = srcCnt.agg(coalesce(sum(col("cs")), lit(0L))).collect()(0).getLong(0)
    val totT = tgtCnt.agg(coalesce(sum(col("ct")), lit(0L))).collect()(0).getLong(0)
    // per-gram term: ln(ct+1) − ln(cs+1) + [ln(totS+B) − ln(totT+B)]
    val logNorm = math.log((totS + buckets).toDouble) -
      math.log((totT + buckets).toDouble)
    src.join(broadcast(srcCnt), "b") // every source bucket is in srcCnt
      .join(broadcast(tgtCnt), Seq("b"), "left")
      .select(col("doc_id"),
        (log(coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) -
          log(col("cs").cast("double") + lit(1.0)) + lit(logNorm)).as("lw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_feats"),
        round(sum(col("lw")), 4).as("log_weight"))
  }

  /** Learn a byte-pair-encoding merge table — the actual tokenizer-
    * training loop, not just the first round's pair counts
    * ([[bpePairCounts]]): start from per-word CHARACTER sequences, and for
    * `nMerges` rounds (1) count adjacent token pairs weighted by word
    * frequency, (2) pick the most frequent pair (ties to the
    * lexicographically smallest — deterministic), (3) collapse that pair
    * corpus-wide via the codegen'd greedy left-to-right
    * [[graft.functions.BpeMergeOnce]]. Returns the learned merge table in
    * order: exactly the artifact a BPE tokenizer ships.
    *
    * Scale contract: the distributed state is the WORD VOCABULARY (one
    * row per distinct word with its corpus frequency — Heaps-bounded,
    * never the corpus), so each round is one explode-count over vocab
    * rows plus one bounded top-k collect (control plane) and one mapped
    * column rewrite; `localCheckpoint` per round cuts the lineage like
    * every fixed-round operator here. Pair counts follow the reference
    * convention: ALL adjacent positions count (overlaps included);
    * application is non-overlapping greedy left-to-right.
    *
    * Driver-round envelope: merges are inherently sequential (round r's
    * argmax depends on round r−1's rewrite), so a real 30k-merge
    * tokenizer is NOT this operator's regime — that is a single-machine
    * job over the collected (Heaps-bounded) vocabulary. What the batched
    * trainer (`batch` > 1, the fast-BPE trick) buys is the corpus-scale
    * sweet spot: the top `batch` pairs that are pairwise SYMBOL-DISJOINT
    * and sit strictly above the first symbol-sharing count are applied
    * in ONE rewrite, cutting Spark rounds ~batch× with output PROVABLY
    * identical to the sequential loop — a merge only perturbs counts of
    * pairs sharing one of its symbols (disjoint counts are invariant),
    * and every pair it creates inherits a count ≤ some existing
    * symbol-sharing pair's, which the strict cutoff keeps below every
    * accepted count (CorpusSpec pins batched ≡ sequential on tie- and
    * run-heavy corpora). SQL-expressible only by unrolling rounds as
    * CTEs, which is exactly what the q244/q249 oracles do. */
  def bpeLearn(df: DataFrame, textCol: String, nMerges: Int,
               batch: Int = 8): DataFrame = {
    val (merges, _, _) = bpeTrain(df, textCol, nMerges, batch)
    val spark = df.sparkSession
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b, n), i) =>
      ((i + 1).toLong, a, b, a + b, n)
    }.toDF("merge_rank", "left", "right", "merged", "n_occ")
  }

  /** The shared BPE trainer behind [[bpeLearn]] and [[bpeEncode]]: returns
    * the merge list in learn order, the final per-word vocabulary state
    * (`w`, `freq`, token array `t`) — for the training corpus itself,
    * running the learned merges to completion IS the encoding, so the
    * encode report falls straight out of the trainer's final state — and
    * the number of Spark rounds the loop actually ran (the quantity the
    * batched mode exists to shrink; CorpusSpec asserts it drops). */
  private[graft] def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
                              batch: Int = 8)
      : (Seq[(String, String, Long)], DataFrame, Int) = {
    require(nMerges >= 1 && nMerges <= 64, "nMerges in [1, 64]")
    require(batch >= 1 && batch <= 64, "batch in [1, 64]")
    val spark = df.sparkSession
    graft.functions.TextHashFunctions.register(spark)
    var vocab = df
      .select(explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).cast("long").as("freq"))
      .select(col("w"), col("freq"), transform(
        sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("t"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var dry = false
    while (merges.size < nMerges && !dry) {
      val want = math.min(batch, nMerges - merges.size)
      // bounded control-plane collect: enough sorted rows to scan past
      // the accepted prefix and SEE the first symbol-sharing pair
      val topLimit = want * 4 + 8
      val top = vocab.filter(size(col("t")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("a"),
            element_at(col("t"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(topLimit)
        .collect()
      if (top.isEmpty) dry = true
      else {
        // maximal symbol-disjoint prefix of the sorted pair list. The
        // symbol set ALSO holds each accepted pair's merged OUTPUT a+b:
        // a later pair consuming a symbol the batch is about to create
        // (creator ("a","bc") then consumer ("abc","x")) passes a
        // component-only check — {a,bc} and {abc,x} are disjoint strings
        // — yet applying the creator first adds new ("abc","x")
        // occurrences mid-batch, so sequential training would see a
        // larger count for the consumer and could reorder merges.
        // Tracking outputs makes creator-before-consumer interference a
        // sharing hit, preserving the sequential-exactness proof.
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        val symbols = scala.collection.mutable.Set.empty[String]
        var i = 0
        var sharing = false
        while (i < top.length && !sharing && accepted.size < want) {
          val (a, b, n) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (symbols.contains(a) || symbols.contains(b)) sharing = true
          else {
            accepted += ((a, b, n))
            symbols += a; symbols += b; symbols += (a + b); i += 1
          }
        }
        // ...kept strictly ABOVE the first count at which a pair sharing
        // a symbol with the batch could exist: the sharing pair we hit,
        // or the truncation count if the collect limit cut the scan (an
        // unseen pair below it may share). Ties at that count must go —
        // a merge-created pair could tie and win the lexicographic
        // tie-break. The head argmax alone is always sequential-exact.
        val nStop =
          if (sharing) top(i).getLong(2)
          else if (i < top.length || top.length == topLimit)
            top(math.min(i, top.length - 1)).getLong(2)
          else Long.MinValue
        val safe = accepted.takeWhile(_._3 > nStop)
        val batchMerges =
          if (safe.nonEmpty) safe.toSeq
          else Seq((top(0).getString(0), top(0).getString(1),
            top(0).getLong(2)))
        merges ++= batchMerges
        val rewritten = batchMerges.foldLeft(col("t")) { case (c, (a, b, _)) =>
          graft.functions.TextHashFunctions.bpeMergeOnce(c, a, b)
        }
        vocab = vocab.select(col("w"), col("freq"), rewritten.as("t"))
          .localCheckpoint()
        rounds += 1
      }
    }
    (merges.toSeq, vocab, rounds)
  }

  /** Encode the corpus under a freshly learned `nMerges`-merge BPE table
    * and report per-group tokenizer economics: word count, BPE token
    * count, fertility (BPE tokens per word — the number tokenizer teams
    * actually watch), and chars-per-token (compression). The encoding
    * itself is free: the trainer's final vocabulary state ([[bpeTrain]])
    * already holds each distinct word's merged token sequence, so the
    * report is one (group, word)-counts aggregate joined against the
    * Heaps-bounded vocabulary — per-document text is never re-scanned by
    * the merge loop. Broadcast-friendly: the vocab side is the small side
    * at any corpus size where BPE makes sense. Oracle-gated like
    * [[bpeLearn]]: the rounds unroll as chained CTEs. */
  def bpeEncode(df: DataFrame, textCol: String, groupCol: String,
                nMerges: Int, batch: Int = 8): DataFrame = {
    val (_, vocab, _) = bpeTrain(df, textCol, nMerges, batch)
    val perWord = df
      .select(col(groupCol).as("g"),
        explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("g"), col("w"))
      .agg(count(lit(1)).cast("long").as("n_w"))
    perWord
      .join(vocab.select(col("w"), size(col("t")).cast("long").as("n_bpe")),
        Seq("w"))
      .groupBy(col("g").as(groupCol))
      .agg(sum(col("n_w")).as("n_words"),
        sum(col("n_w") * col("n_bpe")).as("n_bpe_tokens"),
        sum(col("n_w") * length(col("w")).cast("long")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 4).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 4).as("chars_per_token"))
  }

  /** Heaps'-law fit `V = K·N^β` across per-group (token-count, vocabulary)
    * points: log-log OLS over the |groups|-row frame. The corpus-growth
    * planning number — β says how fast NEW vocabulary keeps arriving as
    * the crawl grows (natural language sits near 0.4–0.6; β ≈ 1 means
    * near-random tokens, β ≈ 0 a closed vocabulary), which sizes
    * everything downstream that is "vocabulary-bounded by Heaps"
    * ([[ngramNovelty]], the BPE pair table, the posting stoplists).
    *
    * One explode+aggregate produces the per-group (N, V) moments (the
    * vocabulary count is the only distinct-shuffle); the fit itself is
    * [[graft.operators.Stats.groupRegression]]'s centered two-pass over
    * the bounded points frame. Output is ONE row:
    * (n_groups, beta 4dp, k 4dp, r2 4dp). */
  def heapsFit(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
        explode(graft.operators.Dedup.tokens(col(textCol))).as("w"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("v"))
      .filter(col("n") > 0 && col("v") > 0)
    val pts = per.select(log(col("n").cast("double")).as("x"),
      log(col("v").cast("double")).as("y"))
    val means = pts.agg(avg(col("x")).as("mx"), avg(col("y")).as("my"))
    val dx = col("x") - col("mx")
    val dy = col("y") - col("my")
    pts.crossJoin(broadcast(means))
      .agg(count(lit(1)).cast("long").as("n_groups"),
        max(col("mx")).as("_mx"), max(col("my")).as("_my"),
        sum(dx * dy).as("sxy"), sum(dx * dx).as("sxx"),
        sum(dy * dy).as("syy"))
      .select(col("n_groups"),
        round(col("sxy") / col("sxx"), 4).as("beta"),
        round(exp(col("_my") - (col("sxy") / col("sxx")) * col("_mx")), 4)
          .as("k"),
        round((col("sxy") * col("sxy")) / (col("sxx") * col("syy")), 4)
          .as("r2"))
  }
}
