package graft

/** DuckDB oracle SQL for every entry in [[SparkEntry.queries]].
  *
  * The driver executes each statement in DuckDB over the same parquet tables
  * and hash-compares against the Spark result (columns sorted by name), so
  * every expression here must be VALUE-identical to its Spark twin:
  *
  *   - `round` semantics differ: Spark rounds the double's shortest decimal
  *     representation HALF_UP (BigDecimal.valueOf), DuckDB rounds the binary
  *     double. [[rnd]] reproduces Spark exactly: cast the double to VARCHAR
  *     (shortest round-trip repr in both engines), parse as DECIMAL, round
  *     half-up in decimal, cast back to DOUBLE.
  *   - md5-derived hashes ([[graft.functions.Hashes.portableHash32]]) are
  *     replayed as `('0x' || substr(md5(s),1,8))::BIGINT`.
  *   - higher-order array pipelines (MinHash, SimHash, rolling hash) are
  *     replayed with DuckDB list lambdas, keeping fold order identical.
  */
object OracleSql {

  /** Spark-equivalent rounding of a double expression to `n` places. */
  private def rnd(e: String, n: Int): String =
    s"round(($e)::VARCHAR::DECIMAL(38,18), $n)::DOUBLE"

  /** portableHash32: first 8 md5 hex chars as unsigned int. */
  private def h32(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** Word tokens of lowercased trimmed text (Spark `split(trim(lower(t)), "\\s+")`). */
  private val toksExpr = raw"regexp_split_to_array(trim(lower(text)), '\s+')"

  /** Word k-shingles from a token-array expression (empty list when < k tokens). */
  private def shinglesExpr(toks: String, k: Int): String =
    s"list_transform(generate_series(1, len($toks) - ${k - 1}), i -> array_to_string(list_slice($toks, i, i + ${k - 1}), ' '))"

  /** MinHash signature list from a shingle-hash-list expression `hs`,
    * replaying [[graft.operators.Dedup.minHashSignature]]'s affine mix family
    * with the SAME constants; empty shingle sets yield the MixP sentinel. */
  private def minhashSigExpr(hs: String, n: Int): String = {
    val p = graft.functions.Hashes.MixP
    val mins = graft.functions.Hashes.mixConstants(n).map { case (a, b) =>
      s"coalesce(list_min(list_transform($hs, h -> ($a * h + $b) % $p)), $p)"
    }
    mins.mkString("[", ", ", "]")
  }

  /** Sequential-fold cosine similarity between two float-list expressions
    * (bit-identical to graft.functions.CosineSimilarity: double accumulation
    * in index order, 0.0 on zero norm). */
  private def cosineSql(a: String, b: String): String = {
    val dot = s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i]::DOUBLE) * ($b[i]::DOUBLE)))"
    val na = s"list_sum(list_transform($a, x -> (x::DOUBLE) * (x::DOUBLE)))"
    val nb = s"list_sum(list_transform($b, x -> (x::DOUBLE) * (x::DOUBLE)))"
    s"(CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0 ELSE $dot / (sqrt($na) * sqrt($nb)) END)"
  }

  /** IVF top-k oracle: deterministic first-nCentroids quantizer, nearest
    * assignment / probe selection by (cosine DESC, centroid_id ASC), probed
    * buckets brute-forced — shared by q40 (in-memory path) and q56
    * (persisted-index path), which differ only in operating point. */
  private def ivfOracle(nCentroids: Int, maxQueryId: Int, nProbe: Int, k: Int,
                        centroidWhere: String = "TRUE"): String =
    s"""WITH centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
       |  WHERE $centroidWhere ORDER BY vec_id LIMIT $nCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC, c.centroid_id ASC) AS r
       |    FROM embeddings e CROSS JOIN centroids c) WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, centroid_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("q.embedding", "c.cv")} DESC, c.centroid_id ASC) AS r
       |    FROM embeddings q CROSS JOIN centroids c WHERE q.vec_id < $maxQueryId) WHERE r <= $nProbe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${cosineSql("a.embedding", "p.qv")} AS cosine
       |  FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, ${rnd("cosine", 3)} AS cosine, rank::BIGINT AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** 32-bit SimHash signature + byte-band candidate CTE chain (mirrors
    * [[graft.operators.Dedup.simHash]]/`simHashNearDups`) — q38's explicit
    * gate subject; every composite consumer rides [[simhash64PairsCtes]]. */
  private def simhashCtes: String =
    s"""toks AS (SELECT doc_id AS id, $toksExpr AS t FROM documents),
       |hs AS (SELECT id, list_transform(t, x -> ${h32("x")}) AS hashes FROM toks),
       |sigs AS (SELECT id,
       |  list_sum(list_transform(range(0, 32), j ->
       |    CASE WHEN list_sum(list_transform(hashes, h ->
       |           CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS sig
       |  FROM hs),
       |banded AS (SELECT id, sig, band, (sig >> (band * 8)) & 255 AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
       |cands AS (SELECT DISTINCT a.id AS id_a, a.sig AS sig_a, b.id AS id_b, b.sig AS sig_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)""".stripMargin

  /** 64-bit SimHash signature + near-dup PAIR CTE chain (ends in
    * `pairs(id_a, id_b)`), replaying [[graft.operators.Dedup.simHash64]]
    * bit-for-bit (hash64 = first 16 md5 hex chars; UBIGINT keeps the top
    * bit unsigned like Java's >>>). Pairs are brute-forced all-pairs —
    * both banded Spark twins ([[graft.operators.Dedup.simHashNearDups64]]
    * and the Manku-combination `simHashNearDupsMulti`) are recall-complete
    * by pigeonhole at their stated radii, so the banded and brute-force
    * pair sets are identical. Shared by the q53/q83/q96/q114 dedup
    * composites (maxHamming 3) and the q155/q157 graph gates (7). */
  private def simhash64SigsCtes(from: String): String =
    s"""toks64 AS (SELECT doc_id AS id, $toksExpr AS t FROM $from),
       |hs64 AS (SELECT id,
       |    list_transform(t, x -> ('0x' || substr(md5(x), 1, 16))::UBIGINT) AS hashes
       |  FROM toks64),
       |sigs64 AS (SELECT id,
       |    list_sum(list_transform(range(0, 64), j ->
       |      CASE WHEN list_sum(list_transform(hashes, h ->
       |             CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |           THEN (1::HUGEINT << j) ELSE 0::HUGEINT END))::UBIGINT AS sig
       |  FROM hs64)""".stripMargin

  private def simhash64PairsCtes(maxHamming: Int): String =
    s"""${simhash64SigsCtes("documents")},
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM sigs64 a JOIN sigs64 b ON a.id < b.id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming)""".stripMargin

  /** documents plus the planted twin population of the r17 Hamming recall
    * gates (q316/q320/q322): an EXACT twin of every 7th doc and a NEAR
    * twin (one appended rare token) of every 5th — mirrors
    * `SparkEntry.plantedTwinDocs` verbatim. */
  private val plantedTwinsCte: String =
    """aug AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 20000000, text FROM documents
      |    WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 10000000, text || ' qq7z' FROM documents
      |    WHERE doc_id % 5 = 0)""".stripMargin

  /** 128-bit simhash signatures (w0 = md5 hex chars 1-16 — the 64-bit
    * hash verbatim — w1 = chars 17-32) over `from`; shared by the
    * q316/q322 recall gates. */
  private def simhash128SigsCtes(from: String): String =
    s"""toks AS (SELECT doc_id, $toksExpr AS t FROM $from),
       |hs AS (SELECT doc_id,
       |    list_transform(t, x -> ('0x' || substr(md5(x), 1, 16))::UBIGINT) AS h0,
       |    list_transform(t, x -> ('0x' || substr(md5(x), 17, 16))::UBIGINT) AS h1
       |  FROM toks),
       |sigs AS (SELECT doc_id,
       |    list_sum(list_transform(range(0, 64), j ->
       |      CASE WHEN list_sum(list_transform(h0, h ->
       |             CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |           THEN (1::HUGEINT << j) ELSE 0::HUGEINT END))::UBIGINT AS w0,
       |    list_sum(list_transform(range(0, 64), j ->
       |      CASE WHEN list_sum(list_transform(h1, h ->
       |             CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |           THEN (1::HUGEINT << j) ELSE 0::HUGEINT END))::UBIGINT AS w1
       |  FROM hs)""".stripMargin

  /** IVFADC (q139) search replay: deterministic first-16 coarse centroids
    * AND first-16 PQ codewords from `pool`, assignment/encoding over the
    * FULL embeddings table, nProbe=4 probe, ADC top-5. q139 builds from
    * the whole corpus (`pool` = embeddings); q323 pins both quantizers to
    * the 80% base build of the persisted artifact while searching
    * everything the index serves (base build plus appends, then
    * compacted). */
  private def ivfPqOracle(pool: String): String = {
    val l2sub = "list_sum(list_transform(generate_series(1, 8), i -> " +
      "((e.embedding[s.sub * 8 + i]::DOUBLE) - (c.cw[s.sub * 8 + i]::DOUBLE)) * " +
      "((e.embedding[s.sub * 8 + i]::DOUBLE) - (c.cw[s.sub * 8 + i]::DOUBLE))))"
    val adc = "list_sum(list_transform(generate_series(1, 64), i -> " +
      "((q.qv[i]::DOUBLE) - (dec.dv[i]::DOUBLE)) * " +
      "((q.qv[i]::DOUBLE) - (dec.dv[i]::DOUBLE))))"
    s"""WITH centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cv FROM $pool
       |  ORDER BY vec_id LIMIT 16),
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC, c.centroid_id ASC) AS r
       |    FROM embeddings e CROSS JOIN centroids c) WHERE r = 1),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
       |    embedding AS cw FROM $pool ORDER BY vec_id LIMIT 16),
       |subs AS (SELECT unnest(range(0, 8)) AS sub),
       |sc AS (SELECT e.vec_id, s.sub, c.code, $l2sub AS d
       |  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c),
       |codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
       |    row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d ASC, code ASC) AS r FROM sc) WHERE r = 1),
       |dec AS (SELECT co.vec_id,
       |    flatten(list(list_slice(cb.cw, co.sub * 8 + 1, co.sub * 8 + 8)
       |      ORDER BY co.sub)) AS dv
       |  FROM codes co JOIN cb USING (code) GROUP BY co.vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < 4),
       |probes AS (SELECT query_id, centroid_id FROM (
       |    SELECT q.query_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosineSql("q.qv", "c.cv")} DESC, c.centroid_id ASC) AS r
       |    FROM q CROSS JOIN centroids c) WHERE r <= 4),
       |ad AS (SELECT q.query_id, dec.vec_id AS neighbor_id, $adc AS d
       |  FROM q JOIN probes p ON p.query_id = q.query_id
       |  JOIN assigned a ON a.centroid_id = p.centroid_id
       |  JOIN dec ON dec.vec_id = a.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, d,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY d ASC, neighbor_id ASC) AS rank FROM ad)
       |SELECT query_id, neighbor_id, ${rnd("d", 3)} AS adc_dist,
       |  rank::BIGINT AS rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q109's persisted-index replay with the corpus/batch boundary at 9000
    * — one-shot MinHash signatures over the h<9000 index side, banded
    * cross-candidates against the h>=9000 batch, exact-Jaccard verify.
    * Shared by q187 (segment-append layout) and q321 (compacted layout):
    * both serve the SAME visible rows. */
  private lazy val minhashIndexOracle: String = {
    val sh = shinglesExpr("t", 3)
    s"""WITH toks AS (SELECT doc_id AS id, $toksExpr AS t,
       |    ${h32("doc_id::VARCHAR")} % 10000 AS h FROM documents),
       |shing AS (SELECT id, h, $sh AS sh FROM toks),
       |hashed AS (SELECT id, h, sh, list_transform(sh, x -> ${h32("x")}) AS hs FROM shing),
       |sigs AS (SELECT id, h, list_distinct(sh) AS shset,
       |  ${minhashSigExpr("hs", 8)} AS sig
       |  FROM hashed),
       |banded AS (SELECT id, h, band, array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), '_') AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
       |cands AS (SELECT DISTINCT c.id AS corpus_id, n.id AS batch_id
       |  FROM banded c JOIN banded n ON c.band = n.band AND c.bucket = n.bucket
       |    AND c.id != n.id AND c.h < 9000 AND n.h >= 9000),
       |jac AS (SELECT corpus_id, batch_id,
       |  CASE WHEN len(list_distinct(list_concat(sc.shset, sn.shset))) = 0 THEN 0.0
       |       ELSE len(list_intersect(sc.shset, sn.shset))::DOUBLE
       |            / len(list_distinct(list_concat(sc.shset, sn.shset)))::DOUBLE END AS jaccard
       |  FROM cands JOIN sigs sc ON sc.id = cands.corpus_id
       |  JOIN sigs sn ON sn.id = cands.batch_id)
       |SELECT corpus_id, batch_id, ${rnd("jaccard", 3)} AS jaccard
       |FROM jac WHERE jaccard >= 0.2""".stripMargin
  }

  /** Multi-band random-hyperplane LSH near-dup oracle: the SAME
    * seed-deterministic hyperplanes the Spark side projects onto, embedded
    * as double literals (float -> double is exact). Shared by q39/q51 —
    * each gates a different (bands, bits, threshold) operating point. */
  /** Character-sequence word vocabulary for the BPE oracles: every corpus
    * word (the q108 tokenization replayed) with its frequency and its
    * token list starting as single characters. Plain string — `\s` must
    * survive, so no s-interpolation. */
  private val bpeBaseCte: String =
    """v0 AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq,
      |    list_transform(generate_series(1, length(w)),
      |      i -> substr(w, i, 1)) AS t
      |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)),
      |      '\s+')) AS w FROM documents)
      |  WHERE length(w) >= 1 GROUP BY w)""".stripMargin

  /** One unrolled BPE merge round over `v{r-1}`, replaying the Spark
    * trainer exactly: overlap-counted adjacent pair counts → argmax with
    * (count desc, pair lexicographic) tie-break (the struct-min) → greedy
    * NON-OVERLAPPING left-to-right collapse. The greedy scan in SQL:
    * when a ≠ b two matches can never sit at consecutive positions (that
    * would force a = b), so every match merges; when a = b matches chain
    * inside runs of the same token and greedy takes every other — odd
    * rank within each gaps-and-islands group of consecutive match
    * positions. Rebuild keeps a position unless its LEFT neighbour was
    * selected (consumed as the pair's right half). */
  private def bpeRoundCte(r: Int): String = {
    val (pv, pc, bp, pos, sel, v) =
      (s"v${r - 1}", s"pc$r", s"bp$r", s"pos$r", s"sel$r", s"v$r")
    s"""$pc AS MATERIALIZED (SELECT a, b, sum(freq)::BIGINT AS n FROM (
       |    SELECT unnest(t[:len(t)-1]) AS a, unnest(t[2:]) AS b, freq
       |    FROM $pv WHERE len(t) >= 2) GROUP BY 1, 2),
       |$bp AS MATERIALIZED (SELECT a, b, a || b AS mg, n FROM $pc
       |  ORDER BY n DESC, a, b LIMIT 1),
       |$pos AS MATERIALIZED (SELECT q.w, q.freq, q.i, q.tok, bp.mg,
       |    CASE WHEN q.tok = bp.a AND
       |      lead(q.tok) OVER (PARTITION BY q.w ORDER BY q.i) = bp.b
       |    THEN 1 ELSE 0 END AS mt
       |  FROM (SELECT w, freq,
       |      unnest(generate_series(1, len(t))) AS i, unnest(t) AS tok
       |    FROM $pv) q CROSS JOIN $bp bp),
       |$sel AS MATERIALIZED (SELECT w, i FROM (
       |    SELECT w, i,
       |      row_number() OVER (PARTITION BY w, isl ORDER BY i) AS rn
       |    FROM (SELECT w, i,
       |        i - row_number() OVER (PARTITION BY w ORDER BY i) AS isl
       |      FROM $pos WHERE mt = 1)) WHERE rn % 2 = 1),
       |$v AS MATERIALIZED (SELECT p.w, any_value(p.freq) AS freq,
       |    list(CASE WHEN j1.w IS NOT NULL THEN p.mg ELSE p.tok END
       |      ORDER BY p.i) AS t
       |  FROM $pos p
       |  LEFT JOIN $sel j1 ON j1.w = p.w AND j1.i = p.i
       |  LEFT JOIN $sel j0 ON j0.w = p.w AND j0.i = p.i - 1
       |  WHERE j0.w IS NULL
       |  GROUP BY p.w)""".stripMargin
  }

  private def lshNearDupSql(numBands: Int, bitsPerBand: Int, threshold: String,
                            extraCtes: String = ""): String = {
    val planes = graft.operators.Dedup.randomHyperplanes(numBands, bitsPerBand, dim = 64)
    val rows = planes.zipWithIndex.flatMap { case (band, b) =>
      band.zipWithIndex.map { case (h, i) =>
        s"($b, $i, [${h.map(_.toDouble.toString).mkString(", ")}])"
      }
    }.mkString(",\n")
    val extra = if (extraCtes.isEmpty) "" else extraCtes + ",\n"
    s"""WITH planes(band, bit, h) AS (VALUES
       |$rows),
       |${extra}keyed AS (
       |  SELECT e.vec_id AS id, e.embedding AS v, p.band,
       |    SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
       |          i -> (e.embedding[i]::DOUBLE) * p.h[i])) >= 0
       |        THEN (1::BIGINT << p.bit) ELSE 0 END) AS key
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY 1, 2, 3),
       |cands AS (SELECT DISTINCT a.id AS id_a, a.v AS va, b.id AS id_b, b.v AS vb
       |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |scored AS (SELECT id_a, id_b, ${cosineSql("va", "vb")} AS cos FROM cands)
       |SELECT id_a, id_b, ${rnd("cos", 3)} AS cos FROM scored WHERE cos >= $threshold""".stripMargin
  }

  /** Cross-corpus LSH contamination oracle: q51's plane-literal replay with
    * the two sides split by a vec_id predicate instead of a self-join. */
  private def lshCrossSql(numBands: Int, bitsPerBand: Int, threshold: String,
                          benchPred: String => String): String = {
    val planes = graft.operators.Dedup.randomHyperplanes(numBands, bitsPerBand, dim = 64)
    val rows = planes.zipWithIndex.flatMap { case (band, b) =>
      band.zipWithIndex.map { case (h, i) =>
        s"($b, $i, [${h.map(_.toDouble.toString).mkString(", ")}])"
      }
    }.mkString(",\n")
    s"""WITH planes(band, bit, h) AS (VALUES
       |$rows),
       |keyed AS (
       |  SELECT e.vec_id AS id, e.embedding AS v, p.band,
       |    SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
       |          i -> (e.embedding[i]::DOUBLE) * p.h[i])) >= 0
       |        THEN (1::BIGINT << p.bit) ELSE 0 END) AS key
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY 1, 2, 3),
       |cands AS (SELECT DISTINCT a.id AS train_id, a.v AS va,
       |    b.id AS bench_id, b.v AS vb
       |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
       |  WHERE NOT (${benchPred("a.id")}) AND ${benchPred("b.id")}),
       |scored AS (SELECT train_id, bench_id, ${cosineSql("va", "vb")} AS cos
       |  FROM cands)
       |SELECT train_id, bench_id, ${rnd("cos", 3)} AS cos
       |FROM scored WHERE cos >= $threshold""".stripMargin
  }

  // -- text metrics (must mirror graft.operators.TextAnalysis exactly) -------
  private val tokenCountExpr =
    raw"(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END)"
  private val punctRatioRaw = // UNrounded ratio; round applied at use sites
    raw"(len(regexp_extract_all(text, '[\.,;:!\?''\"\(\)]'))::DOUBLE / length(text))"
  private def punctRatioExpr =
    s"(CASE WHEN length(text) = 0 THEN 0.0 ELSE ${rnd(punctRatioRaw, 4)} END)"
  private val stopList = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as']"
  private def stopwordRatioExpr =
    s"(CASE WHEN len($toksExpr) = 0 THEN 0.0 ELSE ${rnd(s"len(list_filter($toksExpr, t -> list_contains($stopList, t)))::DOUBLE / len($toksExpr)", 4)} END)"

  /** Quality/lang-id/repetition funnel CTE chain (mirrors
    * `TextAnalysis.{qualityScore, langId, repetitionMetrics}`), shared by
    * the q92 funnel gate and q96's curation pipeline so a threshold or
    * marker-list change cannot drift between them. Exposes `flags`
    * (doc_id, source, q, lang_pred) and `frepet` (doc_id, repetitive). */
  private def funnelCtes: String = {
    def score(markers: Seq[String]) =
      s"len(list_filter($toksExpr, t -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], t)))"
    val qExpr = rnd(s"least($tokenCountExpr::DOUBLE / 100.0, 1.0) * 0.4 + least($stopwordRatioExpr * 4.0, 1.0) * 0.4 + greatest(1.0 - $punctRatioExpr * 5.0, 0.0) * 0.2", 4)
    val sh = shinglesExpr("t", 3)
    val dupFrac =
      rnd("CASE WHEN coalesce(n_tri, 0) = 0 THEN 0.0 ELSE dup_tri::DOUBLE / n_tri END", 4)
    s"""fsrc AS (SELECT doc_id, source, $qExpr AS q,
       |    ${score(Seq("the", "and", "of", "is", "that"))} AS s_en,
       |    ${score(Seq("der", "die", "und", "ist", "das"))} AS s_de,
       |    ${score(Seq("le", "la", "et", "est", "les"))} AS s_fr,
       |    ${score(Seq("el", "la", "que", "es", "los"))} AS s_es,
       |    ${score(Seq("的", "是", "了", "在", "我"))} AS s_zh
       |  FROM documents),
       |flags AS (SELECT doc_id, source, q,
       |    CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
       |         WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
       |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
       |         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
       |         WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
       |         ELSE 'zh' END AS lang_pred
       |  FROM fsrc),
       |fwtoks AS (SELECT doc_id, unnest($toksExpr) AS w FROM documents),
       |fwcount AS (SELECT doc_id, w, count(*) AS c FROM fwtoks GROUP BY 1, 2),
       |fwords AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_c FROM fwcount GROUP BY 1),
       |ftarr AS (SELECT doc_id, $toksExpr AS t FROM documents),
       |ftris AS (SELECT doc_id, unnest($sh) AS g FROM ftarr),
       |ftcount AS (SELECT doc_id, g, count(*) AS c FROM ftris GROUP BY 1, 2),
       |ftri AS (SELECT doc_id, sum(c) AS n_tri,
       |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_tri FROM ftcount GROUP BY 1),
       |frepet AS (SELECT w.doc_id,
       |    (${rnd("top_c::DOUBLE / n_words", 4)} > 0.1
       |      OR $dupFrac > 0.4) AS repetitive
       |  FROM fwords w LEFT JOIN ftri USING (doc_id))""".stripMargin
  }

  val all: Map[String, String] = Map(

    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${rnd("sum(l_quantity)", 2)} AS sum_qty,
         |  ${rnd("sum(l_extendedprice)", 2)} AS sum_base_price,
         |  ${rnd("sum(l_extendedprice * (1 - l_discount))", 2)} AS sum_disc_price,
         |  ${rnd("avg(l_quantity)", 2)} AS avg_qty,
         |  count(*)::BIGINT AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02""".stripMargin,

    "q03_join_revenue" ->
      s"""SELECT c.c_mktsegment,
         |  ${rnd("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
         |  count(DISTINCT o.o_orderkey)::BIGINT AS n_orders
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment""".stripMargin,

    "q04_dim_star_join" ->
      s"""SELECT r.r_name,
         |  count(*)::BIGINT AS n_customers,
         |  ${rnd("avg(c.c_acctbal)", 2)} AS avg_acctbal
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name""".stripMargin,

    "q05_theta_join" ->
      s"""SELECT s.s_name,
         |  count(*)::BIGINT AS n_poorer_customers,
         |  ${rnd("sum(c.c_acctbal)", 2)} AS sum_cust_bal
         |FROM supplier s
         |JOIN customer c ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
         |GROUP BY s.s_name""".stripMargin,

    "q06_window_dedup" ->
      s"""SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
         |  ${rnd("value", 2)} AS last_value
         |FROM events
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,

    "q07_rank_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rnk
        |FROM orders
        |QUALIFY rnk <= 2""".stripMargin,

    "q08_set_ops" ->
      """WITH f_cust AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |neg_cust AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal < 0)
        |SELECT k, 'both' AS tag FROM (SELECT k FROM f_cust INTERSECT SELECT k FROM neg_cust)
        |UNION ALL
        |SELECT k, 'f_only' AS tag FROM (SELECT k FROM f_cust EXCEPT SELECT k FROM neg_cust)""".stripMargin,

    "q09_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey)::BIGINT AS n_parts,
        |  count(DISTINCT l_suppkey)::BIGINT AS n_supps,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q10_scalar_funcs" ->
      """SELECT c_custkey,
        |  concat_ws('|', c_name, c_mktsegment) AS joined,
        |  translate(c_name, '#', '-') AS dashed,
        |  upper(c_mktsegment) AS seg_upper,
        |  length(c_name)::BIGINT AS name_len,
        |  CASE WHEN c_acctbal < 0 THEN 'negative' ELSE 'ok' END AS bal_tag,
        |  coalesce(c_name, 'n/a') AS name_or_na
        |FROM customer""".stripMargin,

    "q11_pii_hash" ->
      """SELECT c_custkey,
        |  sha256(concat_ws('|',
        |    coalesce(c_name, 'n/a'),
        |    coalesce(c_mktsegment, 'n/a'),
        |    coalesce(c_acctbal::VARCHAR, 'n/a'))) AS hashed_jk,
        |  sha256(coalesce(c_name, 'n/a')) AS c_name_hash
        |FROM customer""".stripMargin,

    "q12_pii_mask" ->
      """SELECT event_id, regexp_replace(props, '[0-9]', 'X', 'g') AS props_masked
        |FROM events""".stripMargin,

    "q13_pii_scrub" ->
      """SELECT doc_id,
        |  'ssn ' || sha256(
        |      lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
        |      lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' ||
        |      lpad((doc_id % 10000)::VARCHAR, 4, '0')) || ' ' || substr(text, 1, 40) AS body_hash
        |FROM documents""".stripMargin,

    "q14_grouping_key" ->
      s"""SELECT c_custkey, ${h32("c_custkey::VARCHAR")} % 500 AS grouping_jk
         |FROM customer""".stripMargin,

    "q15_scd1_merge" ->
      s"""WITH target AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 4 <> 0),
         |updates AS (
         |  SELECT o_orderkey, 'U' AS o_orderstatus,
         |    ${rnd("o_totalprice * 1.1::DOUBLE", 2)} AS o_totalprice
         |  FROM orders WHERE o_orderkey % 2 = 0)
         |SELECT t.o_orderkey AS o_orderkey,
         |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
         |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
         |FROM target t LEFT JOIN updates u ON t.o_orderkey = u.o_orderkey
         |WHERE NOT coalesce(u.o_totalprice > 400000, false)
         |UNION ALL
         |SELECT u.o_orderkey, u.o_orderstatus, u.o_totalprice
         |FROM updates u ANTI JOIN target t ON t.o_orderkey = u.o_orderkey""".stripMargin,

    "q16_scd2_merge" ->
      s"""WITH target AS (
         |  SELECT c_custkey, c_name, c_acctbal, true AS current_flag,
         |    DATE '2024-01-01' AS eff_date, CAST(NULL AS DATE) AS expiry_date
         |  FROM customer),
         |updates AS (
         |  SELECT c_custkey, c_name, ${rnd("c_acctbal + 100", 2)} AS c_acctbal,
         |    DATE '2024-06-01' AS eff_date
         |  FROM customer WHERE c_custkey % 3 = 0
         |  UNION ALL
         |  SELECT c_custkey + 100000 AS c_custkey, c_name, c_acctbal, DATE '2024-06-01' AS eff_date
         |  FROM customer WHERE c_custkey % 5 = 0),
         |rows_to_insert AS (
         |  SELECT u.* FROM updates u JOIN target t ON t.c_custkey = u.c_custkey
         |  WHERE t.current_flag = true AND t.c_acctbal <> u.c_acctbal)
         |SELECT t.c_custkey, t.c_name, t.c_acctbal,
         |  CASE WHEN u.c_custkey IS NOT NULL AND t.current_flag = true AND t.c_acctbal <> u.c_acctbal
         |       THEN false ELSE t.current_flag END AS current_flag,
         |  t.eff_date,
         |  CASE WHEN u.c_custkey IS NOT NULL AND t.current_flag = true AND t.c_acctbal <> u.c_acctbal
         |       THEN u.eff_date ELSE t.expiry_date END AS expiry_date
         |FROM target t LEFT JOIN updates u ON t.c_custkey = u.c_custkey
         |UNION ALL
         |SELECT c_custkey, c_name, c_acctbal, true AS current_flag, eff_date, CAST(NULL AS DATE) AS expiry_date
         |FROM (SELECT * FROM rows_to_insert
         |      UNION ALL
         |      SELECT u.* FROM updates u ANTI JOIN target t ON t.c_custkey = u.c_custkey)""".stripMargin,

    "q17_scd4_merge" ->
      s"""WITH current AS (
         |  SELECT c_custkey, c_name, c_acctbal, false AS deleted_flag FROM customer),
         |updates AS (
         |  SELECT c_custkey, c_name, ${rnd("c_acctbal + 50", 2)} AS c_acctbal,
         |    false AS deleted_flag, (c_custkey % 10 <> 0) AS row_active,
         |    TIMESTAMP '2024-06-01 00:00:00' AS updated_at
         |  FROM customer WHERE c_custkey % 5 = 0)
         |SELECT 'current' AS src, t.c_custkey, t.c_name,
         |  CASE WHEN u.c_custkey IS NOT NULL AND u.row_active = false THEN t.c_acctbal
         |       WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
         |       ELSE t.c_acctbal END AS c_acctbal,
         |  CASE WHEN u.c_custkey IS NOT NULL AND u.row_active = false THEN true
         |       WHEN u.c_custkey IS NOT NULL THEN u.deleted_flag
         |       ELSE t.deleted_flag END AS deleted_flag,
         |  CAST(NULL AS TIMESTAMP) AS history_created_at
         |FROM current t LEFT JOIN updates u ON t.c_custkey = u.c_custkey
         |UNION ALL
         |SELECT 'history' AS src, t.c_custkey, t.c_name, t.c_acctbal, t.deleted_flag, u.updated_at
         |FROM current t JOIN updates u ON t.c_custkey = u.c_custkey AND u.row_active = true""".stripMargin,

    "q18_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*)::BIGINT AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q19_minhash_sig" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |shing AS (SELECT doc_id, $sh AS sh FROM toks),
         |hashed AS (SELECT doc_id, list_transform(sh, x -> ${h32("x")}) AS hs FROM shing)
         |SELECT doc_id,
         |  array_to_string(${minhashSigExpr("hs", 8)}, ',') AS sig
         |FROM hashed""".stripMargin
    },

    "q20_minhash_lsh_pairs" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT doc_id AS id, $toksExpr AS t FROM documents),
         |shing AS (SELECT id, $sh AS sh FROM toks),
         |hashed AS (SELECT id, sh, list_transform(sh, x -> ${h32("x")}) AS hs FROM shing),
         |sigs AS (SELECT id, list_distinct(sh) AS shset,
         |  ${minhashSigExpr("hs", 8)} AS sig
         |  FROM hashed),
         |banded AS (SELECT id, band, array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), '_') AS bucket
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
         |jac AS (SELECT id_a, id_b,
         |  CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) = 0 THEN 0.0
         |       ELSE len(list_intersect(sa.shset, sb.shset))::DOUBLE
         |            / len(list_distinct(list_concat(sa.shset, sb.shset)))::DOUBLE END AS jaccard
         |  FROM cands JOIN sigs sa ON sa.id = cands.id_a JOIN sigs sb ON sb.id = cands.id_b)
         |SELECT id_a, id_b, ${rnd("jaccard", 3)} AS jaccard FROM jac WHERE jaccard >= 0.2""".stripMargin
    },

    // q20's minhash replay over an 80/20 id-hash split: candidates are the
    // CROSS-SET band matches (corpus x batch), verification identical
    "q109_incremental_neardups" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT doc_id AS id, $toksExpr AS t,
         |    ${h32("doc_id::VARCHAR")} % 10000 AS h FROM documents),
         |shing AS (SELECT id, h, $sh AS sh FROM toks),
         |hashed AS (SELECT id, h, sh, list_transform(sh, x -> ${h32("x")}) AS hs FROM shing),
         |sigs AS (SELECT id, h, list_distinct(sh) AS shset,
         |  ${minhashSigExpr("hs", 8)} AS sig
         |  FROM hashed),
         |banded AS (SELECT id, h, band, array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), '_') AS bucket
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
         |cands AS (SELECT DISTINCT c.id AS corpus_id, n.id AS batch_id
         |  FROM banded c JOIN banded n ON c.band = n.band AND c.bucket = n.bucket
         |    AND c.id != n.id AND c.h < 8000 AND n.h >= 8000),
         |jac AS (SELECT corpus_id, batch_id,
         |  CASE WHEN len(list_distinct(list_concat(sc.shset, sn.shset))) = 0 THEN 0.0
         |       ELSE len(list_intersect(sc.shset, sn.shset))::DOUBLE
         |            / len(list_distinct(list_concat(sc.shset, sn.shset)))::DOUBLE END AS jaccard
         |  FROM cands JOIN sigs sc ON sc.id = cands.corpus_id
         |  JOIN sigs sn ON sn.id = cands.batch_id)
         |SELECT corpus_id, batch_id, ${rnd("jaccard", 3)} AS jaccard
         |FROM jac WHERE jaccard >= 0.2""".stripMargin
    },

    // exact-retention percentile_approx == quantile_disc rank-for-rank
    // (both select the floor(p*(n-1))-rank element; probed on both parities)
    "q110_approx_quantiles" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.9) AS p90,
        |  quantile_disc(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    // normalization = nfc_normalize + the SAME two ASCII-range regexes the
    // Spark expression applies (control chars stripped before the \s
    // collapse, so Java-vs-RE2 \s differences can never be observed)
    "q111_normalize_text" ->
      """WITH edge AS (SELECT * FROM (VALUES
        |    (900001, 'Cafe' || chr(769) || ' du  monde'),
        |    (900002, 'tab' || chr(9) || 'here' || chr(7) || 'bell' || chr(127) || 'del'),
        |    (900003, '  lots   of' || chr(10) || chr(10) || 'space  '),
        |    (900004, 'nbsp' || chr(160) || 'stays')) v(doc_id, text)),
        |docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id::BIGINT, text FROM edge),
        |n AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM docs)
        |SELECT doc_id, norm, (norm != text)::INT::BIGINT AS changed FROM n""".stripMargin,

    "q21_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |hs AS (SELECT doc_id, list_transform(t, x -> ${h32("x")}) AS hashes FROM toks)
         |SELECT doc_id,
         |  list_sum(list_transform(range(0, 32), j ->
         |    CASE WHEN list_sum(list_transform(hashes, h ->
         |           CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
         |FROM hs""".stripMargin,

    "q22_ngram_jaccard" -> {
      val sh = shinglesExpr("t", 5)
      s"""WITH toks AS (SELECT doc_id AS id, $toksExpr AS t FROM documents),
         |sets AS (SELECT id, list_distinct($sh) AS shset FROM toks),
         |posts AS (SELECT id, unnest(shset) AS g FROM sets),
         |rare AS (SELECT g FROM posts GROUP BY g HAVING count(*) <= 1000),
         |pruned AS (SELECT p.id, p.g FROM posts p JOIN rare r ON p.g = r.g),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.id < b.id),
         |jac AS (SELECT id_a, id_b,
         |  CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) = 0 THEN 0.0
         |       ELSE len(list_intersect(sa.shset, sb.shset))::DOUBLE
         |            / len(list_distinct(list_concat(sa.shset, sb.shset)))::DOUBLE END AS jaccard
         |  FROM cands JOIN sets sa ON sa.id = cands.id_a JOIN sets sb ON sb.id = cands.id_b)
         |SELECT id_a, id_b, ${rnd("jaccard", 3)} AS jaccard FROM jac WHERE jaccard >= 0.1""".stripMargin
    },

    "q23_embedding_cosine" ->
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id % 29 = 0),
         |b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings WHERE vec_id % 31 = 0)
         |SELECT id_a, id_b, ${rnd(cosineSql("va", "vb"), 3)} AS cosine
         |FROM a CROSS JOIN b WHERE id_a < id_b""".stripMargin,

    "q24_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  ${cosineSql("e.embedding", "qv")} AS cosine
         |  FROM embeddings e CROSS JOIN q),
         |ranked AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, ${rnd("cosine", 3)} AS cosine, rank::BIGINT AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin,

    "q25_token_stats" ->
      s"""SELECT doc_id,
         |  $tokenCountExpr::BIGINT AS token_count,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS subword_count,
         |  $punctRatioExpr AS punct_ratio,
         |  (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
         |        ELSE ${rnd(raw"list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> length(t)))::DOUBLE / len(regexp_split_to_array(trim(text), '\s+'))", 4)}
         |   END) AS mean_word_len
         |FROM documents""".stripMargin,

    "q26_quality_score" ->
      s"""SELECT doc_id,
         |  $stopwordRatioExpr AS stopword_ratio,
         |  ${rnd(s"least($tokenCountExpr::DOUBLE / 100.0, 1.0) * 0.4 + least($stopwordRatioExpr * 4.0, 1.0) * 0.4 + greatest(1.0 - $punctRatioExpr * 5.0, 0.0) * 0.2", 4)} AS quality_score
         |FROM documents""".stripMargin,

    "q27_lang_id" -> {
      def score(markers: Seq[String]) =
        s"len(list_filter($toksExpr, t -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], t)))"
      val en = score(Seq("the", "and", "of", "is", "that"))
      val de = score(Seq("der", "die", "und", "ist", "das"))
      val fr = score(Seq("le", "la", "et", "est", "les"))
      val es = score(Seq("el", "la", "que", "es", "los"))
      val zh = score(Seq("的", "是", "了", "在", "我"))
      s"""WITH s AS (SELECT doc_id, lang, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es, $zh AS s_zh
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
         |       ELSE 'zh' END AS lang_pred
         |FROM s""".stripMargin
    },

    "q28_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE list_reduce(
        |         list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1))::BIGINT),
        |         (acc, c) -> (acc * 31 + c) % 1000000007) END AS fingerprint
        |FROM documents""".stripMargin,

    "q29_window_hour_agg" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
         |  count(*)::BIGINT AS n_events, ${rnd("sum(value)", 2)} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q30_sessionize" ->
      s"""WITH gaps AS (
         |  SELECT user_id, value, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT user_id, value,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
         |  FROM gaps)
         |SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
         |  ${rnd("sum(value)", 2)} AS session_value
         |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "q31_json_extract" ->
      s"""SELECT event_type,
         |  ${rnd("avg(json_extract_string(props, '" + "$" + ".k')::BIGINT)", 2)} AS avg_k,
         |  max(json_extract_string(props, '$$.k')::BIGINT)::BIGINT AS max_k
         |FROM events GROUP BY event_type""".stripMargin,

    "q32_cdc_demux" ->
      s"""SELECT (event_type <> 'error') AS row_active,
         |  (event_type = 'error') AS deleted_flag,
         |  user_id % 4 AS src_server_id,
         |  count(*)::BIGINT AS n, ${rnd("sum(value)", 2)} AS sum_value
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q33_offset_bookkeeping" ->
      """SELECT event_type AS topic, user_id % 4 AS "partition",
        |  min(event_id)::BIGINT AS min_offset, max(event_id)::BIGINT AS max_offset
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q34_encrypt_roundtrip" ->
      "SELECT c_custkey, c_name FROM customer",

    "q36_cdc_pipeline" ->
      s"""WITH masked AS (
         |  SELECT event_id, user_id, value,
         |    regexp_replace(props, '[0-9]', 'X', 'g') AS props,
         |    (event_type <> 'error') AS row_active,
         |    (event_type = 'error') AS deleted_flag
         |  FROM events)
         |SELECT event_id, row_active, deleted_flag, props,
         |  sha256(concat_ws('|',
         |    coalesce(event_id::VARCHAR, 'n/a'), coalesce(user_id::VARCHAR, 'n/a'),
         |    coalesce(value::VARCHAR, 'n/a'), coalesce(props, 'n/a'))) AS hashed_jk,
         |  ${h32("event_id::VARCHAR")} % 500 AS grouping_jk
         |FROM masked""".stripMargin,

    "q37_dedup_survivors" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1""".stripMargin,

    "q38_simhash_neardups" ->
      s"""WITH $simhashCtes
         |SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::BIGINT AS hamming
         |FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= 3""".stripMargin,

    // connected components over the 64-bit hamming<=3 pair list: transitive
    // closure by recursive CTE, component id = min reachable node
    "q53_dedup_clusters" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d)
         |SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n""".stripMargin,

    // q53's component chain extended with the hash-bucket split: docs
    // missing from the reach (no near-dup link) are singleton components
    "q114_leakage_safe_split" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
         |labeled AS (SELECT d.doc_id,
         |    coalesce(c.component_id, d.doc_id) AS component_id
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |h AS (SELECT doc_id, component_id,
         |    ${h32("component_id::VARCHAR")} % 10000 AS b FROM labeled)
         |SELECT doc_id, component_id,
         |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h""".stripMargin,

    // q53's component chain extended with survivorship: canonical doc =
    // highest (pre-rounded) quality, ties by doc_id
    "q83_cluster_survivors" -> {
      val qExpr = rnd(s"least($tokenCountExpr::DOUBLE / 100.0, 1.0) * 0.4 + least($stopwordRatioExpr * 4.0, 1.0) * 0.4 + greatest(1.0 - $punctRatioExpr * 5.0, 0.0) * 0.2", 4)
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
         |scored AS (SELECT doc_id, $qExpr AS q FROM documents),
         |ranked AS (SELECT c.component_id, c.doc_id, s.q,
         |    row_number() OVER (PARTITION BY c.component_id
         |      ORDER BY s.q DESC, c.doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY c.component_id) AS n_members
         |  FROM comp c JOIN scored s USING (doc_id))
         |SELECT component_id, doc_id AS canonical_doc, q AS quality,
         |  n_members::BIGINT AS n_members
         |FROM ranked WHERE rn = 1""".stripMargin
    },

    // q39 gates the PUBLIC embeddingNearDups entry (LSH path since r4) at a
    // high-recall operating point: 8 coarse 6-bit bands, threshold 0.40.
    "q39_embedding_neardups" ->
      lshNearDupSql(numBands = 8, bitsPerBand = 6, threshold = "0.40"),

    "q40_ivf_topk" -> ivfOracle(nCentroids = 32, maxQueryId = 4, nProbe = 8, k = 3),

    // same IVF semantics through the PERSISTED index (write bucketed
    // corpus + centroid table, probe via partition-pruned reads)
    "q56_ivf_index" -> ivfOracle(nCentroids = 32, maxQueryId = 6, nProbe = 8, k = 3),

    // append path: centroids come from the 80% BASE build (the appended 20%
    // is quantized against them, never retrained) — the oracle restricts
    // the centroid pool but assigns/probes over the full corpus, exactly
    // what the base build plus the committed append serve
    "q132_ivf_append" -> ivfOracle(nCentroids = 32, maxQueryId = 6, nProbe = 8,
      k = 3, centroidWhere = "vec_id % 5 <> 0"),

    // compaction path: EXACTLY q132's semantics — packing the appended
    // files changes layout, never results, so the oracle is the same
    // full-corpus probe over the base-build centroid pool
    "q317_ivf_compact" -> ivfOracle(nCentroids = 32, maxQueryId = 6,
      nProbe = 8, k = 3, centroidWhere = "vec_id % 5 <> 0"),

    "q41_salted_join" ->
      s"""SELECT o.o_orderstatus, count(*)::BIGINT AS n_rows,
         |  ${rnd("sum(l.l_quantity)", 2)} AS sum_qty
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderstatus""".stripMargin,

    "q42_stream_window" ->
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  count(*)::BIGINT AS n_events, ${rnd("sum(value)", 2)} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q43_deterministic_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |QUALIFY row_number() OVER (PARTITION BY lang
         |  ORDER BY ${h32("doc_id::VARCHAR")}, doc_id) <= 5
         |UNION ALL
         |SELECT doc_id, '__sampled__' AS lang FROM documents
         |WHERE ${h32("doc_id::VARCHAR")} % 10000 < 1000""".stripMargin,

    "q44_sequence_packing" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $tokenCountExpr::BIGINT AS n_tokens FROM documents),
         |pre AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         |  FROM toks)
         |SELECT doc_id, source, n_tokens,
         |  (before // 2048)::BIGINT AS pack_id, (before % 2048)::BIGINT AS pack_offset
         |FROM pre""".stripMargin,

    "q45_asof_join" ->
      s"""WITH purchases AS (
         |  SELECT user_id, ts, ${rnd("max(value)", 2)} AS purchase_value
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
         |SELECT e.event_id, e.user_id, p.purchase_value
         |FROM events e
         |ASOF LEFT JOIN purchases p
         |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,

    "q46_corpus_minhash" -> {
      val p = graft.functions.Hashes.MixP
      val mins = graft.functions.Hashes.mixConstants(8).map { case (a, b) =>
        s"coalesce(min(($a * h + $b) % $p), $p)::VARCHAR"
      }
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT source, $toksExpr AS t FROM documents),
         |hashed AS (SELECT source, unnest(list_transform($sh, x -> ${h32("x")})) AS h FROM toks)
         |SELECT source, concat_ws(',', ${mins.mkString(", ")}) AS sig
         |FROM hashed GROUP BY source""".stripMargin
    },

    "q47_range_join" ->
      s"""WITH iv AS (
         |  SELECT event_id AS interval_id, user_id, ts AS s, ts + INTERVAL 1 HOUR AS e
         |  FROM events WHERE event_type = 'purchase')
         |SELECT iv.interval_id, count(*)::BIGINT AS n_events,
         |  ${rnd("sum(ev.value)", 2)} AS sum_value
         |FROM iv JOIN events ev
         |  ON ev.user_id = iv.user_id AND ev.ts >= iv.s AND ev.ts <= iv.e
         |GROUP BY iv.interval_id""".stripMargin,

    "q48_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n_rows,
         |  ${rnd("sum(l_quantity)", 2)} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q49_semi_anti_join" ->
      """SELECT c_custkey, 'has_big_order' AS tag FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |UNION ALL
        |SELECT c_custkey, 'no_big_order' AS tag FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,

    "q50_incremental_dedup" ->
      """SELECT doc_id, lang FROM documents b
        |WHERE doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |    WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(b.text))""".stripMargin,

    "q51_embedding_lsh" -> lshNearDupSql(numBands = 2, bitsPerBand = 8, threshold = "0.30"),

    // relational recomputation of q59's two writeScd4 calls. Clause order:
    // matched + row_active=false sets ONLY deleted_flag (other columns keep
    // their OLD values); matched + active takes all update columns; unseen
    // active keys insert; history snapshots the OLD current row for ACTIVE
    // updates only, stamped cast(updated_at AS timestamp) (seconds)
    "q59_scd4_table_write" ->
      """WITH seed AS (
        |  SELECT c_custkey, c_name, c_acctbal, true AS row_active,
        |    false AS deleted_flag, 1700000000 + c_custkey AS updated_at
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |upd AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
        |    (c_custkey % 5 <> 0) AS row_active, false AS deleted_flag,
        |    1700100000 + c_custkey AS updated_at
        |  FROM customer WHERE c_custkey % 3 = 0),
        |cur AS (
        |  SELECT s.c_custkey,
        |    CASE WHEN u.c_custkey IS NOT NULL AND u.row_active THEN u.c_name ELSE s.c_name END AS c_name,
        |    CASE WHEN u.c_custkey IS NOT NULL AND u.row_active THEN u.c_acctbal ELSE s.c_acctbal END AS c_acctbal,
        |    CASE WHEN u.c_custkey IS NOT NULL AND u.row_active THEN u.row_active ELSE s.row_active END AS row_active,
        |    CASE WHEN u.c_custkey IS NOT NULL AND NOT u.row_active THEN true
        |         WHEN u.c_custkey IS NOT NULL AND u.row_active THEN u.deleted_flag
        |         ELSE s.deleted_flag END AS deleted_flag,
        |    CASE WHEN u.c_custkey IS NOT NULL AND u.row_active THEN u.updated_at ELSE s.updated_at END AS updated_at
        |  FROM seed s LEFT JOIN upd u ON s.c_custkey = u.c_custkey
        |  UNION ALL
        |  SELECT u.c_custkey, u.c_name, u.c_acctbal, u.row_active, u.deleted_flag, u.updated_at
        |  FROM upd u WHERE u.row_active
        |    AND NOT EXISTS (SELECT 1 FROM seed s WHERE s.c_custkey = u.c_custkey)),
        |hist AS (
        |  SELECT s.c_custkey, s.c_name, s.c_acctbal, s.row_active, s.deleted_flag,
        |    s.updated_at, epoch_ms(u.updated_at * 1000) AS history_created_at
        |  FROM seed s JOIN upd u ON s.c_custkey = u.c_custkey WHERE u.row_active)
        |SELECT 'current' AS tbl, c_custkey, c_name, c_acctbal, row_active,
        |  deleted_flag, updated_at, NULL::TIMESTAMP AS history_created_at FROM cur
        |UNION ALL
        |SELECT 'history', c_custkey, c_name, c_acctbal, row_active,
        |  deleted_flag, updated_at, history_created_at FROM hist""".stripMargin,

    // q58 (r15, FakeCodec retired): frame slicing over the REAL mp4
    // payloads, content-addressed. The md5 anchors are pure byte
    // arithmetic over the committed fixtures (python hashlib over the
    // same 32-byte slices) — decoder-independent, like the q306 audio
    // constants.
    "q58_frame_sampling" ->
      s"""WITH f(media_key, name, frame_idx, frame_md5) AS (VALUES
         |  (0::BIGINT, 'clip_2trak.mp4', 0::BIGINT,
         |   '4f860aa53d3d6021d6ee4ac9e672f9d8'),
         |  (0::BIGINT, 'clip_2trak.mp4', 4::BIGINT,
         |   '0ba99e5ea769027fb2d48ea96de6981d'),
         |  (0::BIGINT, 'clip_2trak.mp4', 8::BIGINT,
         |   '25835a8a6d9a5c1d4737639531ec3f76'),
         |  (1::BIGINT, 'clip_640x360.mp4', 0::BIGINT,
         |   '9f451117a281c8635bc4080a5a3044b7'),
         |  (1::BIGINT, 'clip_640x360.mp4', 4::BIGINT,
         |   '2c15b22b00daaf674d577f5a324cfcba')),
         |c AS (SELECT doc_id % 2 AS media_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.media_key, f.name, c.n_docs, f.frame_idx, f.frame_md5
         |FROM c JOIN f USING (media_key)""".stripMargin,

    "q57_mixture_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE ${h32("doc_id::VARCHAR")} % 10000 <
         |  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
         |              WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1000
         |              ELSE 0 END""".stripMargin,

    // smoothed TF-IDF; scores rounded BEFORE ranking so the top-N cut is
    // deterministic across engines (ties broken by term ASC)
    "q55_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksExpr) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM toks GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |scored AS (SELECT doc_id, tf.term,
         |    ${rnd("tf * (ln((n.n + 1) / (dfc + 1)) + 1)", 4)} AS score
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
         |  FROM scored)
         |SELECT doc_id, term, score, rn::BIGINT AS rank
         |FROM ranked WHERE rn <= 5""".stripMargin,

    "q54_group_sample" ->
      s"""SELECT source, doc_id, rn::BIGINT AS sample_rank FROM (
         |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY ${h32("doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 10""".stripMargin,

    // relational recomputation of q52's two writeScd2 calls: seed =
    // bootstrap insertMap over batch 1; batch 2 expires changed current
    // rows, inserts their new versions, and inserts unseen keys
    "q52_scd2_table_write" ->
      """WITH seed AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, true AS current_flag
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |upd AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal + 100 AS c_acctbal
        |  FROM customer WHERE c_custkey % 3 = 0),
        |kept AS (
        |  SELECT s.c_custkey, s.c_name, s.c_mktsegment, s.c_acctbal,
        |    CASE WHEN u.c_custkey IS NOT NULL AND s.current_flag
        |              AND s.c_acctbal <> u.c_acctbal
        |         THEN false ELSE s.current_flag END AS current_flag
        |  FROM seed s LEFT JOIN upd u ON s.c_custkey = u.c_custkey),
        |newvers AS (
        |  SELECT u.c_custkey, u.c_name, u.c_mktsegment, u.c_acctbal,
        |    true AS current_flag
        |  FROM upd u JOIN seed s ON s.c_custkey = u.c_custkey
        |  WHERE s.current_flag AND s.c_acctbal <> u.c_acctbal),
        |fresh AS (
        |  SELECT u.c_custkey, u.c_name, u.c_mktsegment, u.c_acctbal,
        |    true AS current_flag
        |  FROM upd u
        |  WHERE NOT EXISTS (SELECT 1 FROM seed s WHERE s.c_custkey = u.c_custkey))
        |SELECT * FROM kept
        |UNION ALL SELECT * FROM newvers
        |UNION ALL SELECT * FROM fresh""".stripMargin,

    // deterministic portable HLL (graft.operators.Sketches.hllDistinct):
    // 60-bit md5 hash, low 8 bits -> register, rho = leading-zero rank of
    // the top 52 bits; harmonic total in SCALED INTEGER arithmetic
    // (sum 2^(53-rho) as BIGINT) so only the final division is fp. The
    // numerator constant is interpolated from the Scala side verbatim.
    "q60_hll_distinct" -> {
      val m = 256
      val maxRho = graft.operators.Sketches.hllMaxRho(m) // 53
      val c = graft.operators.Sketches.hllScaleC(m)
      s"""WITH h AS (SELECT l_returnflag,
         |    ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM lineitem WHERE l_orderkey IS NOT NULL),
         |r AS (SELECT l_returnflag, h & ${m - 1} AS reg, h >> 8 AS rest FROM h),
         |regs AS (SELECT l_returnflag, reg,
         |    max(CASE WHEN rest = 0 THEN $maxRho
         |             ELSE $maxRho - length(bin(rest)) END) AS rho
         |  FROM r GROUP BY 1, 2),
         |s AS (SELECT l_returnflag, count(*) AS np,
         |    sum(1::BIGINT << ($maxRho - rho))::BIGINT AS scaled
         |  FROM regs GROUP BY 1),
         |e AS (SELECT l_returnflag, np,
         |    (scaled + ($m - np) * (1::BIGINT << $maxRho))::DOUBLE AS total FROM s),
         |est AS (SELECT l_returnflag,
         |    CASE WHEN ($c)::DOUBLE / total <= ${2.5 * m} AND np < $m
         |         THEN ($m.0)::DOUBLE * ln(($m.0)::DOUBLE / ($m - np))
         |         ELSE ($c)::DOUBLE / total END AS est
         |  FROM e),
         |ex AS (SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS exact_distinct
         |  FROM lineitem GROUP BY 1)
         |SELECT ex.l_returnflag, exact_distinct,
         |  coalesce(${rnd("est", 2)}, 0.0) AS hll_distinct
         |FROM ex LEFT JOIN est USING (l_returnflag)""".stripMargin
    },

    // the UNION sketch computed directly — equal to the Spark side's
    // max-merge of q60's per-group registers by the max-of-max identity
    "q115_hll_merge" -> {
      val m = 256
      val maxRho = graft.operators.Sketches.hllMaxRho(m)
      val c = graft.operators.Sketches.hllScaleC(m)
      s"""WITH h AS (SELECT
         |    ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM lineitem WHERE l_orderkey IS NOT NULL),
         |r AS (SELECT h & ${m - 1} AS reg, h >> 8 AS rest FROM h),
         |regs AS (SELECT reg,
         |    max(CASE WHEN rest = 0 THEN $maxRho
         |             ELSE $maxRho - length(bin(rest)) END) AS rho
         |  FROM r GROUP BY 1),
         |s AS (SELECT count(*) AS np,
         |    sum(1::BIGINT << ($maxRho - rho))::BIGINT AS scaled FROM regs),
         |e AS (SELECT np,
         |    (scaled + ($m - np) * (1::BIGINT << $maxRho))::DOUBLE AS total FROM s),
         |est AS (SELECT CASE WHEN ($c)::DOUBLE / total <= ${2.5 * m} AND np < $m
         |         THEN ($m.0)::DOUBLE * ln(($m.0)::DOUBLE / ($m - np))
         |         ELSE ($c)::DOUBLE / total END AS est FROM e)
         |SELECT (SELECT count(DISTINCT l_returnflag) FROM lineitem
         |    WHERE l_orderkey IS NOT NULL)::BIGINT AS n_groups_merged,
         |  (SELECT count(DISTINCT l_orderkey) FROM lineitem)::BIGINT
         |    AS exact_distinct,
         |  ${rnd("est", 2)} AS hll_distinct
         |FROM est""".stripMargin
    },

    // SemDeDup: argmax-cosine assignment replayed as a cross join, the
    // within-cluster prune as a lowest-id EXISTS
    "q116_semantic_dedup" ->
      s"""WITH centroids AS (SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |assigned AS (SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC, c.centroid_id ASC) AS r
         |    FROM embeddings e CROSS JOIN centroids c) WHERE r = 1),
         |dropped AS (SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
         |  ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
         |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT a.vec_id, a.centroid_id, (d.vec_id IS NULL) AS kept
         |FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id""".stripMargin,

    // PQ encode: per-subspace argmin squared-L2 against the first-16-row
    // codebook, same double accumulation order as the codegen'd expression
    "q117_pq_codes" -> {
      val l2 = "list_sum(list_transform(generate_series(1, 8), i -> " +
        "((e.embedding[s.sub * 8 + i]::DOUBLE) - (c.cw[s.sub * 8 + i]::DOUBLE)) * " +
        "((e.embedding[s.sub * 8 + i]::DOUBLE) - (c.cw[s.sub * 8 + i]::DOUBLE))))"
      s"""WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |    embedding AS cw FROM embeddings ORDER BY vec_id LIMIT 16),
         |subs AS (SELECT unnest(range(0, 8)) AS sub),
         |scored AS (SELECT e.vec_id, s.sub, c.code, $l2 AS d
         |  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c),
         |ranked AS (SELECT vec_id, sub, code,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d ASC, code ASC) AS r FROM scored)
         |SELECT vec_id, sub::BIGINT AS sub, code::BIGINT AS code
         |FROM ranked WHERE r = 1""".stripMargin
    },

    // duplicated-trigram fraction over gram STRINGS (the Spark side counts
    // 64-bit gram hashes — q22's same-counts-modulo-collision contract)
    "q118_dup_ngram_fraction" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |grams AS (SELECT doc_id, unnest($sh) AS g FROM toks),
         |dg AS (SELECT doc_id, g, count(*) AS n_occ FROM grams GROUP BY 1, 2),
         |dfc AS (SELECT g, count(*) AS doc_freq FROM dg GROUP BY 1),
         |per AS (SELECT dg.doc_id, sum(n_occ) AS n_grams,
         |    sum(CASE WHEN doc_freq > 1 THEN n_occ ELSE 0 END) AS dup_grams
         |  FROM dg JOIN dfc USING (g) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(dup_grams, 0)::BIGINT AS dup_grams,
         |  ${rnd("CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0 " +
               "ELSE dup_grams::DOUBLE / n_grams::DOUBLE END", 4)} AS dup_frac
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin
    },

    // A-ES weighted sample: same hash-uniform, same ln(u)/w key, same
    // (key DESC, id ASC) order — the oracle IS the reference sampler
    "q119_weighted_sample" ->
      s"""WITH w AS (SELECT doc_id, n_chars::DOUBLE AS wt FROM documents
         |  WHERE n_chars IS NOT NULL AND n_chars > 0),
         |keys AS (SELECT doc_id,
         |    ln((${h32("doc_id::VARCHAR")} + 0.5) / 4294967296.0) / wt AS aes
         |  FROM w),
         |ranked AS (SELECT doc_id, aes,
         |    row_number() OVER (ORDER BY aes DESC, doc_id ASC) AS r FROM keys)
         |SELECT r::BIGINT AS sample_rank, doc_id, ${rnd("aes", 6)} AS aes_key
         |FROM ranked WHERE r <= 25""".stripMargin,

    // per-stratum A-ES weighted sample: same key formula as q119, ranked
    // within each lang
    "q159_group_weighted_sample" ->
      s"""WITH w AS (SELECT lang, doc_id, n_chars::DOUBLE AS wt FROM documents
         |  WHERE n_chars IS NOT NULL AND n_chars > 0),
         |keys AS (SELECT lang, doc_id,
         |    ln((${h32("doc_id::VARCHAR")} + 0.5) / 4294967296.0) / wt AS aes
         |  FROM w),
         |ranked AS (SELECT lang, doc_id, aes,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY aes DESC, doc_id ASC) AS r FROM keys)
         |SELECT lang, r::BIGINT AS sample_rank, doc_id,
         |  ${rnd("aes", 6)} AS aes_key
         |FROM ranked WHERE r <= 10""".stripMargin,

    // contiguous event trigrams, top-10 by (count DESC, pattern ASC)
    "q160_event_trigrams" ->
      """WITH seq AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t3
        |  FROM events),
        |tri AS (SELECT t1 || '>' || t2 || '>' || t3 AS pattern FROM seq
        |  WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
        |c AS (SELECT pattern, count(*) AS cnt FROM tri GROUP BY 1),
        |r AS (SELECT pattern, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, pattern ASC) AS rank FROM c)
        |SELECT rank::BIGINT AS rank, pattern, cnt::BIGINT AS n_occurrences
        |FROM r WHERE rank <= 10""".stripMargin,

    // funnel latency: per-user first view/purchase, whole-second floor
    // delay, exact rank-rule p50/p90 (q64 contract)
    "q161_funnel_latency" ->
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS ta,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tb
        |  FROM events GROUP BY 1),
        |d AS (SELECT floor((epoch_us(tb) - epoch_us(ta))::DOUBLE
        |      / 1000000.0)::BIGINT AS v
        |  FROM f WHERE ta IS NOT NULL AND tb IS NOT NULL AND ta <= tb),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS n FROM d)
        |SELECT max(n)::BIGINT AS n_converted,
        |  max(CASE WHEN rn = ceil(0.5 * n::DOUBLE) THEN v END)::BIGINT AS p50_delay_s,
        |  max(CASE WHEN rn = ceil(0.9 * n::DOUBLE) THEN v END)::BIGINT AS p90_delay_s
        |FROM r""".stripMargin,

    // per-dim embedding stats: centered two-pass std (q153 contract)
    "q162_dim_stats" ->
      s"""WITH dims AS (SELECT
         |    unnest(generate_series(1, len(embedding))) - 1 AS dim,
         |    unnest(embedding)::DOUBLE AS x
         |  FROM embeddings),
         |m AS (SELECT dim, avg(x) AS mx FROM dims GROUP BY 1)
         |SELECT d.dim, count(*)::BIGINT AS n,
         |  ${rnd("max(m.mx)", 6)} AS mean,
         |  ${rnd("sqrt(sum((d.x - m.mx) * (d.x - m.mx)) / count(*)::DOUBLE)", 6)} AS std,
         |  ${rnd("min(d.x)", 6)} AS min_val,
         |  ${rnd("max(d.x)", 6)} AS max_val
         |FROM dims d JOIN m ON d.dim = m.dim
         |GROUP BY d.dim""".stripMargin,

    // PMI collocations over the doc-frequency-top-50 vocabulary; ranking
    // on ROUNDED pmi with (term_a, term_b) tie-break
    "q163_pmi_pairs" ->
      s"""WITH words AS (SELECT doc_id AS id, unnest($toksExpr) AS w
         |  FROM documents),
         |vc AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
         |vocab AS (SELECT w FROM (SELECT w,
         |    row_number() OVER (ORDER BY c DESC, w ASC) AS rn FROM vc)
         |  WHERE rn <= 50),
         |present AS (SELECT DISTINCT id, words.w FROM words
         |  JOIN vocab ON words.w = vocab.w),
         |df1 AS (SELECT w, count(*) AS n_term FROM present GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents),
         |pairs AS (SELECT a.w AS term_a, b.w AS term_b, count(*) AS n_pair
         |  FROM present a JOIN present b ON a.id = b.id AND a.w < b.w
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |scored AS (SELECT term_a, term_b, n_pair,
         |    ${rnd("ln(n_pair::DOUBLE * (SELECT n FROM nd) / (da.n_term::DOUBLE * db.n_term::DOUBLE))", 6)} AS pmi
         |  FROM pairs
         |  JOIN df1 da ON da.w = pairs.term_a
         |  JOIN df1 db ON db.w = pairs.term_b)
         |SELECT rank, term_a, term_b, n_pair, pmi FROM (
         |  SELECT row_number() OVER (ORDER BY pmi DESC, term_a ASC,
         |    term_b ASC) AS rank, term_a, term_b, n_pair::BIGINT AS n_pair,
         |    pmi FROM scored)
         |WHERE rank <= 20""".stripMargin,

    // CMS inner-product join-size estimate (q93's sketch replayed on both
    // sides; min over depth rows of the bucket dot product)
    "q164_join_size_est" -> {
      def sk(table: String, key: String, alias: String): String = {
        val b = s"${h32(s"j::VARCHAR || ':' || $key::VARCHAR")} % 256"
        s"""$alias AS (SELECT j, $b AS b, count(*) AS c
           |  FROM (SELECT $key FROM $table WHERE $key IS NOT NULL)
           |  CROSS JOIN js GROUP BY 1, 2)""".stripMargin
      }
      s"""WITH js AS (SELECT unnest([0, 1, 2]) AS j),
         |${sk("orders", "o_custkey", "sa")},
         |${sk("customer", "c_custkey", "sb")},
         |dot AS (SELECT min(dj)::BIGINT AS est_join_rows FROM (
         |  SELECT sa.j, sum(sa.c * sb.c) AS dj
         |  FROM sa JOIN sb ON sa.j = sb.j AND sa.b = sb.b GROUP BY 1)),
         |ca AS (SELECT o_custkey AS k, count(*) AS na FROM orders
         |  WHERE o_custkey IS NOT NULL GROUP BY 1),
         |cb AS (SELECT c_custkey AS k, count(*) AS nb FROM customer
         |  WHERE c_custkey IS NOT NULL GROUP BY 1),
         |exact AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS exact_join_rows
         |  FROM ca JOIN cb ON ca.k = cb.k)
         |SELECT exact_join_rows, est_join_rows,
         |  (est_join_rows - exact_join_rows)::BIGINT AS overcount
         |FROM exact CROSS JOIN dot""".stripMargin
    },

    // DSIR importance weights: hashed unigram+bigram features (low 13 bits
    // of the 64-bit gram hash — identical under the signed and unsigned
    // views, so `& 8191` replays Spark's bitwiseAND on the signed long),
    // add-one smoothing, per-doc sum of per-gram log ratios
    "q165_dsir_weights" -> {
      val u1 = shinglesExpr("t", 1)
      val u2 = shinglesExpr("t", 2)
      def featCte(alias: String, where: String): String =
        s"""$alias AS (SELECT doc_id,
           |    (('0x' || substr(md5(g), 1, 16))::UBIGINT & 8191) AS b
           |  FROM (SELECT doc_id, unnest(list_concat($u1, $u2)) AS g
           |        FROM (SELECT doc_id, $toksExpr AS t FROM documents $where)))"""
          .stripMargin
      s"""WITH ${featCte("fb", "")},
         |${featCte("tb", "WHERE lang = 'en'")},
         |sc AS (SELECT b, count(*) AS cs FROM fb GROUP BY 1),
         |tc AS (SELECT b, count(*) AS ct FROM tb GROUP BY 1),
         |tot AS (SELECT (SELECT sum(cs) FROM sc) AS ts,
         |               (SELECT coalesce(sum(ct), 0) FROM tc) AS tt),
         |per AS (SELECT fb.doc_id,
         |    ln(coalesce(tc.ct, 0)::DOUBLE + 1.0) - ln(sc.cs::DOUBLE + 1.0)
         |      + (ln(tot.ts::DOUBLE + 8192.0) - ln(tot.tt::DOUBLE + 8192.0)) AS lw
         |  FROM fb JOIN sc USING (b) LEFT JOIN tc USING (b) CROSS JOIN tot)
         |SELECT doc_id, count(*)::BIGINT AS n_feats,
         |  ${rnd("sum(lw)", 4)} AS log_weight
         |FROM per GROUP BY doc_id""".stripMargin
    },

    // HLL key-overlap pre-flight: q60's register pipeline per side, union
    // sketch by per-register max (full outer join), inclusion-exclusion
    // clamped at 0 — every estimate replayed with the same deterministic
    // md5 hash and scaled-integer harmonic sum
    "q166_key_overlap" -> {
      val m = 256
      val maxRho = graft.operators.Sketches.hllMaxRho(m)
      val c = graft.operators.Sketches.hllScaleC(m)
      def regCte(alias: String, table: String, key: String): String =
        s"""$alias AS (SELECT h & ${m - 1} AS reg,
           |    max(CASE WHEN (h >> 8) = 0 THEN $maxRho
           |             ELSE $maxRho - length(bin(h >> 8)) END) AS rho
           |  FROM (SELECT ('0x' || substr(md5($key::VARCHAR), 1, 15))::BIGINT AS h
           |        FROM $table WHERE $key IS NOT NULL) GROUP BY 1)"""
          .stripMargin
      def estCte(alias: String, regs: String, name: String): String =
        s"""$alias AS (SELECT CASE
           |    WHEN ($c)::DOUBLE / total <= ${2.5 * m} AND np < $m
           |    THEN ($m.0)::DOUBLE * ln(($m.0)::DOUBLE / ($m - np))
           |    ELSE ($c)::DOUBLE / total END AS $name FROM (
           |  SELECT np, (scaled + ($m - np) * (1::BIGINT << $maxRho))::DOUBLE AS total
           |  FROM (SELECT count(*) AS np,
           |      sum(1::BIGINT << ($maxRho - rho))::BIGINT AS scaled FROM $regs)))"""
          .stripMargin
      s"""WITH ${regCte("rga", "orders", "o_custkey")},
         |${regCte("rgb", "customer", "c_custkey")},
         |rgu AS (SELECT coalesce(a.reg, b.reg) AS reg,
         |    greatest(coalesce(a.rho, 0), coalesce(b.rho, 0)) AS rho
         |  FROM rga a FULL OUTER JOIN rgb b ON a.reg = b.reg),
         |${estCte("ea", "rga", "ea")},
         |${estCte("eb", "rgb", "eb")},
         |${estCte("eu", "rgu", "eu")},
         |exact AS (SELECT count(*)::BIGINT AS exact_overlap FROM
         |  (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
         |  WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         |SELECT exact_overlap,
         |  ${rnd("ea", 2)} AS est_left, ${rnd("eb", 2)} AS est_right,
         |  ${rnd("eu", 2)} AS est_union,
         |  ${rnd("greatest(ea + eb - eu, 0.0)", 2)} AS est_overlap
         |FROM exact CROSS JOIN ea CROSS JOIN eb CROSS JOIN eu""".stripMargin
    },

    // q125's IVF replay with ranks kept on both lists; MRR from the
    // exact top-1's approx position, binary nDCG@5 with the closed-form
    // ideal prefix sum injected as the SAME Scala double literal the
    // Spark twin folds in
    "q167_rank_eval" -> {
      val k = 5
      val idcg = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
      s"""WITH centroids AS (
         |  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
         |  ORDER BY vec_id LIMIT 32),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 8),
         |assigned AS (
         |  SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC,
         |          c.centroid_id ASC) AS r
         |    FROM embeddings e CROSS JOIN centroids c) WHERE r = 1),
         |probes AS (
         |  SELECT query_id, qv, centroid_id FROM (
         |    SELECT q.query_id, q.qv, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("q.qv", "c.cv")} DESC,
         |          c.centroid_id ASC) AS r
         |    FROM q CROSS JOIN centroids c) WHERE r <= 2),
         |ivf AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT p.query_id, a.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${cosineSql("a.embedding", "p.qv")} DESC,
         |          a.vec_id ASC) AS rank
         |    FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id)
         |  WHERE rank <= $k),
         |exact AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.qv")} DESC,
         |          e.vec_id ASC) AS rank
         |    FROM q CROSS JOIN embeddings e) WHERE rank <= $k),
         |mrr AS (SELECT ex.query_id,
         |    coalesce(1.0 / iv.rank, 0.0) AS mrr_raw
         |  FROM exact ex LEFT JOIN ivf iv
         |    ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id
         |  WHERE ex.rank = 1),
         |dcg AS (SELECT ex.query_id,
         |    sum(1.0 / log2(iv.rank::DOUBLE + 1.0)) AS dcg_raw
         |  FROM exact ex JOIN ivf iv
         |    ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id
         |  GROUP BY 1)
         |SELECT q.query_id, ${rnd("coalesce(m.mrr_raw, 0.0)", 4)} AS mrr,
         |  ${rnd(s"coalesce(d.dcg_raw, 0.0) / $idcg", 4)} AS ndcg
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN mrr m ON m.query_id = q.query_id
         |LEFT JOIN dcg d ON d.query_id = q.query_id""".stripMargin
    },

    // positioned 5-shingles (strings here, 64-bit hashes in Spark — q22's
    // same-result-modulo-collision contract); runs of consecutive shared
    // positions are gaps-and-islands groups on the (pa - pb) diagonal
    "q168_contamination_spans" -> {
      val sh = shinglesExpr("t", 5)
      s"""WITH tarr AS (SELECT doc_id, source, $toksExpr AS t FROM documents),
         |pos AS (SELECT doc_id, source, i AS p,
         |    array_to_string(list_slice(t, i, i + 4), ' ') AS g
         |  FROM tarr, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         |train AS (SELECT doc_id AS tid, p AS pa, g FROM pos
         |  WHERE source <> 'src0'),
         |bench AS (SELECT doc_id AS bid, p AS pb, g FROM pos
         |  WHERE source = 'src0'),
         |keep AS (SELECT g FROM (SELECT DISTINCT tid, g FROM train)
         |  GROUP BY g HAVING count(*) <= 1000),
         |matches AS (SELECT tid, bid, pa, pa - pb AS diag
         |  FROM train JOIN keep USING (g) JOIN bench USING (g)),
         |runs AS (SELECT tid, bid, count(*) AS run_len FROM (
         |    SELECT tid, bid, diag,
         |      pa - row_number() OVER (PARTITION BY tid, bid, diag
         |        ORDER BY pa) AS grp
         |    FROM matches) GROUP BY tid, bid, diag, grp)
         |SELECT tid AS train_id, bid AS bench_id,
         |  max(run_len)::BIGINT AS max_run,
         |  (max(run_len) + 4)::BIGINT AS span_tokens
         |FROM runs GROUP BY 1, 2 HAVING max(run_len) >= 3""".stripMargin
    },

    // redaction report: RE2 'g' flag == Spark's replace-all default;
    // distinct counts over md5 fingerprints on both sides
    "q169_redact_report" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
        |  sum(len(regexp_extract_all(c_name, '[0-9]{6,}')))::BIGINT
        |    AS n_matches,
        |  count(DISTINCT md5(c_name))::BIGINT AS distinct_before,
        |  count(DISTINCT md5(regexp_replace(c_name, '[0-9]{6,}', '[ID]',
        |    'g')))::BIGINT AS distinct_after
        |FROM customer GROUP BY 1""".stripMargin,

    // per-source top-40 tokens by (freq desc, token asc), ln-ln OLS via
    // q153's centered two-pass formulas
    "q170_zipf_fit" ->
      s"""WITH toks AS (SELECT source, unnest($toksExpr) AS token
         |  FROM documents),
         |tf AS (SELECT source, token, count(*) AS f FROM toks GROUP BY 1, 2),
         |top AS (SELECT source, f,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY f DESC, token ASC) AS rank
         |  FROM tf QUALIFY rank <= 40),
         |pts AS (SELECT source, ln(rank::DOUBLE) AS x, ln(f::DOUBLE) AS y
         |  FROM top),
         |m AS (SELECT source, avg(x) AS mx, avg(y) AS my FROM pts GROUP BY 1),
         |s AS (SELECT p.source, count(*)::BIGINT AS n,
         |    max(m.mx) AS mx, max(m.my) AS my,
         |    sum((x - m.mx) * (y - m.my)) AS sxy,
         |    sum((x - m.mx) * (x - m.mx)) AS sxx,
         |    sum((y - m.my) * (y - m.my)) AS syy
         |  FROM pts p JOIN m USING (source) GROUP BY 1)
         |SELECT source, n,
         |  ${rnd("CASE WHEN sxx > 0 THEN sxy / sxx END", 6)} AS slope,
         |  ${rnd("CASE WHEN sxx > 0 THEN my - (sxy / sxx) * mx END", 4)} AS intercept,
         |  ${rnd("CASE WHEN sxx > 0 AND syy > 0 THEN (sxy * sxy) / (sxx * syy) END", 6)} AS r2
         |FROM s""".stripMargin,

    // q20's signature/banding replayed, then ONLY the bucket-size
    // group-by — the implied-pair pre-flight never runs the self-join
    "q171_lsh_bucket_profile" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT doc_id AS id, $toksExpr AS t FROM documents),
         |shing AS (SELECT id, $sh AS sh FROM toks),
         |hashed AS (SELECT id, list_transform(sh, x -> ${h32("x")}) AS hs
         |  FROM shing),
         |sigs AS (SELECT id, ${minhashSigExpr("hs", 8)} AS sig FROM hashed),
         |banded AS (SELECT id, band,
         |    array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), '_')
         |      AS bucket
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
         |buckets AS (SELECT band, bucket, count(*) AS s FROM banded
         |  GROUP BY 1, 2)
         |SELECT band::BIGINT AS band, count(*)::BIGINT AS n_buckets,
         |  sum(CASE WHEN s >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_multi,
         |  max(s)::BIGINT AS max_bucket,
         |  (sum(s * (s - 1)) / 2)::BIGINT AS cand_pairs
         |FROM buckets GROUP BY 1""".stripMargin
    },

    // q53's component fixpoint replayed, then per-component edge stats;
    // min/max only (avg is fp-order-dependent — crossSourceDupMatrix's
    // same avg-ban)
    "q172_cluster_stats" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |ph AS (SELECT id_a, id_b,
         |    bit_count(xor(sa.sig, sb.sig))::BIGINT AS hamming
         |  FROM pairs JOIN sigs64 sa ON sa.id = pairs.id_a
         |  JOIN sigs64 sb ON sb.id = pairs.id_b),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS node, min(r) AS component FROM reach GROUP BY n),
         |sizes AS (SELECT component, count(*)::BIGINT AS n_docs
         |  FROM comp GROUP BY 1),
         |es AS (SELECT c.component, count(*)::BIGINT AS n_edges,
         |    min(hamming) AS min_hamming, max(hamming) AS max_hamming
         |  FROM ph JOIN comp c ON c.node = ph.id_a GROUP BY 1)
         |SELECT s.component AS component_id, s.n_docs,
         |  coalesce(e.n_edges, 0)::BIGINT AS n_edges,
         |  e.min_hamming, e.max_hamming
         |FROM sizes s LEFT JOIN es e USING (component)""".stripMargin,

    // heaviest-first round-robin dealing: rank by (weight DESC, id ASC)
    // == globalRank over the negated weight
    "q173_balanced_shards" ->
      """WITH ranked AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents)
        |SELECT ((rk - 1) % 16)::BIGINT AS shard, count(*)::BIGINT AS n_docs,
        |  sum(n_chars::BIGINT)::BIGINT AS sum_weight,
        |  min(n_chars::BIGINT) AS min_weight,
        |  max(n_chars::BIGINT) AS max_weight
        |FROM ranked GROUP BY 1""".stripMargin,

    // the analytic S-curve on the same (divisor, sim-grid) lattice; pow
    // and division replayed in double on both engines
    // packing-efficiency report: q44's continuous-filling chain reduced to
    // per-source fill and boundary-crossing shares
    "q190_packing_report" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $tokenCountExpr::BIGINT AS n_tokens FROM documents),
         |pre AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         |  FROM toks),
         |packed AS (
         |  SELECT source, n_tokens, (before // 2048) AS pack_id,
         |    (before % 2048) AS pack_offset FROM pre)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  (max(pack_id) + 1)::BIGINT AS n_packs,
         |  ${rnd("sum(n_tokens)::DOUBLE / ((max(pack_id) + 1)::DOUBLE * 2048)", 6)}
         |    AS fill_frac,
         |  sum(CASE WHEN pack_offset + n_tokens > 2048 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_spanning,
         |  ${rnd("sum(CASE WHEN pack_offset + n_tokens > 2048 THEN 1 ELSE 0 END)" +
           "::DOUBLE / count(*)::DOUBLE", 6)} AS span_frac
         |FROM packed GROUP BY source""".stripMargin,

    // self-tuned LSH near-dups: threshold = the q176 pair sample's p95
    // (ceil-rank selection, 6dp like the profile), fed into q51's chain
    "q189_auto_threshold_neardups" -> {
      val thrCtes =
        s"""qa AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings
           |  WHERE vec_id % 17 = 0),
           |qb AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings
           |  WHERE vec_id % 19 = 0),
           |qp AS (SELECT ${cosineSql("va", "vb")} AS qcos
           |  FROM qa CROSS JOIN qb WHERE id_a < id_b),
           |qr AS (SELECT qcos, row_number() OVER (ORDER BY qcos) AS rn,
           |    count(*) OVER () AS n FROM qp),
           |thr_t AS (SELECT
           |  ${rnd("max(CASE WHEN rn = ceil(0.95 * n::DOUBLE) THEN qcos END)", 6)}
           |    AS thr FROM qr)""".stripMargin
      lshNearDupSql(numBands = 2, bitsPerBand = 8,
        threshold = "(SELECT thr FROM thr_t)", extraCtes = thrCtes)
    },

    // day-over-day value drift: q175's binned-KS chain over per-day events
    "q188_daily_value_drift" ->
      s"""WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS g,
         |    value::DOUBLE AS v
         |  FROM events WHERE value IS NOT NULL),
         |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
         |binned AS (SELECT g,
         |    least(15, greatest(0, floor((v - lo) /
         |      (CASE WHEN (hi - lo) / 16 > 0 THEN (hi - lo) / 16
         |            ELSE 1.0 END))::BIGINT)) AS bin,
         |    count(*) AS cnt
         |  FROM base CROSS JOIN mm GROUP BY 1, 2),
         |dense AS (SELECT g, b.bin, coalesce(cnt, 0) AS cnt
         |  FROM (SELECT DISTINCT g FROM binned)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 15))::BIGINT AS bin) b
         |  LEFT JOIN binned USING (g, bin)),
         |cdf AS (SELECT g, bin,
         |    (sum(cnt) OVER (PARTITION BY g ORDER BY bin))::DOUBLE /
         |      sum(cnt) OVER (PARTITION BY g) AS cdf,
         |    cnt::DOUBLE / sum(cnt) OVER (PARTITION BY g) AS bin_share
         |  FROM dense),
         |pairs AS (SELECT a.g AS g_a, b.g AS g_b, a.bin,
         |    abs(a.cdf - b.cdf) AS d,
         |    greatest(a.bin_share, b.bin_share) AS sh
         |  FROM cdf a JOIN cdf b USING (bin) WHERE a.g < b.g),
         |mx AS (SELECT *, max(d) OVER (PARTITION BY g_a, g_b) AS dmax
         |  FROM pairs)
         |SELECT g_a, g_b, ${rnd("max(d)", 6)} AS ks_stat,
         |  min(CASE WHEN d = dmax THEN bin END)::BIGINT AS at_bin,
         |  ${rnd("max(sh)", 6)} AS max_bin_share
         |FROM mx GROUP BY g_a, g_b""".stripMargin,

    // persisted-index incremental dedup: build(80%) + append(10%) must
    // serve the SAME signature rows as one-shot signing of the 90% —
    // q109's replay with the corpus/batch boundary moved to 9000.
    // Shared verbatim by q321 (same visible index contents served
    // compacted: base + 2 folded segments == q187's base + 1 segment —
    // compaction changes layout, never results).
    "q187_index_neardups" -> minhashIndexOracle,

    "q321_minhash_compact" -> minhashIndexOracle,

    // join pre-flight card: q164's CMS estimator + q166's HLL overlap +
    // per-side (n, top-share) + the threshold-implied strategy
    "q186_join_preflight" -> {
      def sk(table: String, key: String, alias: String): String = {
        val b = s"${h32(s"j::VARCHAR || ':' || $key::VARCHAR")} % 256"
        s"""$alias AS (SELECT j, $b AS b, count(*) AS c
           |  FROM (SELECT $key FROM $table WHERE $key IS NOT NULL)
           |  CROSS JOIN js GROUP BY 1, 2)""".stripMargin
      }
      val m = 256
      val maxRho = graft.operators.Sketches.hllMaxRho(m)
      val c = graft.operators.Sketches.hllScaleC(m)
      def regCte(alias: String, table: String, key: String): String =
        s"""$alias AS (SELECT h & ${m - 1} AS reg,
           |    max(CASE WHEN (h >> 8) = 0 THEN $maxRho
           |             ELSE $maxRho - length(bin(h >> 8)) END) AS rho
           |  FROM (SELECT ('0x' || substr(md5($key::VARCHAR), 1, 15))::BIGINT AS h
           |        FROM $table WHERE $key IS NOT NULL) GROUP BY 1)"""
          .stripMargin
      def estCte(alias: String, regs: String, name: String): String =
        s"""$alias AS (SELECT CASE
           |    WHEN ($c)::DOUBLE / total <= ${2.5 * m} AND np < $m
           |    THEN ($m.0)::DOUBLE * ln(($m.0)::DOUBLE / ($m - np))
           |    ELSE ($c)::DOUBLE / total END AS $name FROM (
           |  SELECT np, (scaled + ($m - np) * (1::BIGINT << $maxRho))::DOUBLE AS total
           |  FROM (SELECT count(*) AS np,
           |      sum(1::BIGINT << ($maxRho - rho))::BIGINT AS scaled FROM $regs)))"""
          .stripMargin
      def sideCte(alias: String, table: String, key: String, n: String,
                  sh: String): String =
        s"""$alias AS (SELECT coalesce(sum(cc), 0)::BIGINT AS $n,
           |  ${rnd(s"CASE WHEN coalesce(sum(cc), 0) > 0 THEN" +
             s" coalesce(max(cc), 0)::DOUBLE / sum(cc)::DOUBLE" +
             s" ELSE 0.0 END", 6)} AS $sh
           |  FROM (SELECT count(*) AS cc FROM $table
           |        WHERE $key IS NOT NULL GROUP BY $key))""".stripMargin
      s"""WITH js AS (SELECT unnest([0, 1, 2]) AS j),
         |${sk("orders", "o_custkey", "sa")},
         |${sk("customer", "c_custkey", "sb")},
         |dot AS (SELECT min(dj)::BIGINT AS est_join_rows FROM (
         |  SELECT sa.j, sum(sa.c * sb.c) AS dj
         |  FROM sa JOIN sb ON sa.j = sb.j AND sa.b = sb.b GROUP BY 1)),
         |${regCte("rga", "orders", "o_custkey")},
         |${regCte("rgb", "customer", "c_custkey")},
         |rgu AS (SELECT coalesce(a.reg, b.reg) AS reg,
         |    greatest(coalesce(a.rho, 0), coalesce(b.rho, 0)) AS rho
         |  FROM rga a FULL OUTER JOIN rgb b ON a.reg = b.reg),
         |${estCte("ea", "rga", "ea")},
         |${estCte("eb", "rgb", "eb")},
         |${estCte("eu", "rgu", "eu")},
         |${sideCte("sl", "orders", "o_custkey", "n_left", "left_top_share")},
         |${sideCte("sr", "customer", "c_custkey", "n_right", "right_top_share")}
         |SELECT n_left, left_top_share, n_right, right_top_share,
         |  est_join_rows,
         |  ${rnd("greatest(ea + eb - eu, 0.0)", 2)} AS est_overlap_keys,
         |  CASE WHEN n_right <= 1000 THEN 'broadcast_right'
         |       WHEN n_left <= 1000 THEN 'broadcast_left'
         |       WHEN greatest(left_top_share, right_top_share) > 0.1 THEN 'salt'
         |       ELSE 'shuffle_hash' END AS strategy
         |FROM sl CROSS JOIN sr CROSS JOIN dot
         |CROSS JOIN ea CROSS JOIN eb CROSS JOIN eu""".stripMargin
    },

    // planted-dup recall: truncated twins under offset ids, q20's full
    // minhash chain over the union, recovered = pairs at exactly the offset
    "q183_planted_recall" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
         |tw AS (SELECT doc_id + 10000000 AS id,
         |    array_to_string(list_slice($toksExpr, 1,
         |      greatest(1, ceil(len($toksExpr) * 0.7))::INT), ' ') AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |allc AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
         |toksU AS (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         |  FROM allc),
         |shing AS (SELECT id, $sh AS sh FROM toksU),
         |hashed AS (SELECT id, sh, list_transform(sh, x -> ${h32("x")}) AS hs
         |  FROM shing),
         |sigs AS (SELECT id, list_distinct(sh) AS shset,
         |  ${minhashSigExpr("hs", 8)} AS sig FROM hashed),
         |banded AS (SELECT id, band,
         |    array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), '_') AS bucket
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
         |jac AS (SELECT id_a, id_b,
         |  CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) = 0 THEN 0.0
         |       ELSE len(list_intersect(sa.shset, sb.shset))::DOUBLE
         |            / len(list_distinct(list_concat(sa.shset, sb.shset)))::DOUBLE END AS jaccard
         |  FROM cands JOIN sigs sa ON sa.id = cands.id_a
         |  JOIN sigs sb ON sb.id = cands.id_b)
         |SELECT (SELECT count(*) FROM tw)::BIGINT AS n_planted,
         |  coalesce(sum(CASE WHEN id_b = id_a + 10000000 THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_recovered,
         |  ${rnd("coalesce(sum(CASE WHEN id_b = id_a + 10000000 THEN 1 ELSE 0 END), 0)" +
           "::DOUBLE / (SELECT count(*) FROM tw)::DOUBLE", 6)} AS recall
         |FROM jac WHERE jaccard >= 0.2""".stripMargin
    },

    // hour-of-day chi-square vs uniform: densified 24-bin profile per type,
    // peak hour by max-count equi-join (ties earliest)
    "q184_hourly_uniformity" ->
      s"""WITH counts AS (SELECT event_type AS t, hour(ts)::BIGINT AS h,
         |    count(*) AS cnt
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |dense AS (SELECT t, s.h, coalesce(cnt, 0) AS cnt
         |  FROM (SELECT DISTINCT t FROM counts)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 23))::BIGINT AS h) s
         |  LEFT JOIN counts USING (t, h)),
         |stats AS (SELECT t, sum(cnt)::BIGINT AS n, max(cnt) AS mx
         |  FROM dense GROUP BY 1),
         |chi AS (SELECT d.t,
         |    sum((d.cnt - s.n / 24.0) * (d.cnt - s.n / 24.0) / (s.n / 24.0))
         |      AS chi2
         |  FROM dense d JOIN stats s USING (t) GROUP BY 1),
         |peak AS (SELECT d.t, min(d.h) AS peak_hour
         |  FROM dense d JOIN stats s USING (t) WHERE d.cnt = s.mx GROUP BY 1)
         |SELECT s.t AS event_type, s.n, ${rnd("chi2", 4)} AS chi2, peak_hour,
         |  ${rnd("s.mx::DOUBLE / s.n::DOUBLE", 6)} AS peak_share
         |FROM stats s JOIN chi ON chi.t = s.t JOIN peak ON peak.t = s.t""".stripMargin,

    // per-label centroid cosine between id-parity halves
    "q185_centroid_shift" ->
      s"""WITH dims AS (SELECT label, vec_id % 2 AS half,
         |    unnest(generate_series(1, len(embedding))) - 1 AS dim,
         |    unnest(embedding) AS x FROM embeddings),
         |means AS (SELECT label, half, dim, avg(x::DOUBLE) AS m
         |  FROM dims GROUP BY 1, 2, 3),
         |j AS (SELECT a.label, a.m AS ma, b.m AS mb
         |  FROM means a JOIN means b
         |  ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1),
         |per AS (SELECT label, sum(ma * mb) AS dot, sum(ma * ma) AS na,
         |    sum(mb * mb) AS nb, avg(abs(ma - mb)) AS shift
         |  FROM j GROUP BY 1),
         |sizes AS (SELECT label,
         |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |    sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
         |  FROM embeddings GROUP BY 1)
         |SELECT label, n_a, n_b,
         |  ${rnd("CASE WHEN na > 0 AND nb > 0" +
           " THEN dot / (sqrt(na) * sqrt(nb)) END", 6)}
         |    AS centroid_cosine,
         |  ${rnd("shift", 6)} AS mean_abs_shift
         |FROM sizes LEFT JOIN per USING (label)""".stripMargin,

    // vocab coverage curve: full-vocab counts, rank by (cnt desc, token),
    // per-k conditional mass sums
    "q180_vocab_coverage" ->
      s"""WITH counts AS (SELECT t AS token, count(*) AS cnt
         |  FROM (SELECT unnest($toksExpr) AS t FROM documents) GROUP BY 1),
         |ranked AS (SELECT cnt,
         |    row_number() OVER (ORDER BY cnt DESC, token ASC) AS rnk
         |  FROM counts),
         |tot AS (SELECT sum(cnt)::BIGINT AS total_tokens,
         |    count(*)::BIGINT AS vocab_size FROM counts),
         |ks AS (SELECT unnest([10, 100, 1000, 5000])::BIGINT AS k)
         |SELECT k,
         |  coalesce(sum(CASE WHEN rnk <= k THEN cnt END), 0)::BIGINT
         |    AS covered_tokens,
         |  ${rnd("coalesce(sum(CASE WHEN rnk <= k THEN cnt END), 0)::DOUBLE" +
           " / total_tokens::DOUBLE", 6)} AS coverage,
         |  vocab_size, total_tokens
         |FROM ks CROSS JOIN ranked CROSS JOIN tot
         |GROUP BY k, vocab_size, total_tokens""".stripMargin,

    // dedup savings: components from the shared 64-bit simhash pair CTEs,
    // lowest-id canonical per family, per-source doc/token survival sums
    "q181_dedup_savings" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
         |canon AS (SELECT component_id, min(doc_id) AS canonical
         |  FROM comp GROUP BY 1),
         |keepf AS (SELECT c.doc_id, (c.doc_id = k.canonical) AS keep
         |  FROM comp c JOIN canon k USING (component_id))
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS n_tokens,
         |  sum(CASE WHEN coalesce(kf.keep, TRUE) THEN 1 ELSE 0 END)::BIGINT
         |    AS n_surviving_docs,
         |  sum(CASE WHEN coalesce(kf.keep, TRUE) THEN n_chars ELSE 0 END)::BIGINT
         |    AS surviving_tokens,
         |  ${rnd("1.0 - sum(CASE WHEN coalesce(kf.keep, TRUE) THEN n_chars" +
           " ELSE 0 END)::DOUBLE / sum(n_chars)::DOUBLE", 6)} AS savings_frac
         |FROM documents d LEFT JOIN keepf kf ON d.doc_id = kf.doc_id
         |GROUP BY source""".stripMargin,

    // split-leakage audit: q114's component split vs the same rule with
    // the component table empty (a per-document hash split), each counted
    // over the shared near-dup pair set
    "q182_split_leakage" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
         |asg AS (SELECT d.doc_id,
         |    ${h32("coalesce(c.component_id, d.doc_id)::VARCHAR")} % 10000 AS bs,
         |    ${h32("d.doc_id::VARCHAR")} % 10000 AS bn
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |sp AS (SELECT doc_id,
         |    CASE WHEN bs < 8000 THEN 'train' WHEN bs < 9000 THEN 'val'
         |         ELSE 'test' END AS s_safe,
         |    CASE WHEN bn < 8000 THEN 'train' WHEN bn < 9000 THEN 'val'
         |         ELSE 'test' END AS s_naive
         |  FROM asg),
         |j AS (SELECT a.s_safe AS sa_safe, b.s_safe AS sb_safe,
         |    a.s_naive AS sa_naive, b.s_naive AS sb_naive
         |  FROM pairs p JOIN sp a ON a.doc_id = p.id_a
         |  JOIN sp b ON b.doc_id = p.id_b)
         |SELECT 'naive_hash' AS method, count(*)::BIGINT AS n_pairs,
         |  sum(CASE WHEN sa_naive <> sb_naive THEN 1 ELSE 0 END)::BIGINT
         |    AS n_cross_pairs,
         |  ${rnd("sum(CASE WHEN sa_naive <> sb_naive THEN 1 ELSE 0 END)" +
           "::DOUBLE / count(*)::DOUBLE", 6)} AS leakage_frac
         |FROM j
         |UNION ALL
         |SELECT 'component_safe', count(*)::BIGINT,
         |  sum(CASE WHEN sa_safe <> sb_safe THEN 1 ELSE 0 END)::BIGINT,
         |  ${rnd("sum(CASE WHEN sa_safe <> sb_safe THEN 1 ELSE 0 END)" +
           "::DOUBLE / count(*)::DOUBLE", 6)}
         |FROM j""".stripMargin,

    // binned two-sample KS: 32 shared fixed-width bins over the global
    // n_chars range, densified per source, cumulative shares, pairwise sup
    "q175_ks_drift" ->
      s"""WITH base AS (SELECT source::VARCHAR AS g, n_chars::DOUBLE AS v
         |  FROM documents WHERE n_chars IS NOT NULL),
         |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
         |binned AS (SELECT g,
         |    least(31, greatest(0, floor((v - lo) /
         |      (CASE WHEN (hi - lo) / 32 > 0 THEN (hi - lo) / 32
         |            ELSE 1.0 END))::BIGINT)) AS bin,
         |    count(*) AS cnt
         |  FROM base CROSS JOIN mm GROUP BY 1, 2),
         |dense AS (SELECT g, b.bin, coalesce(cnt, 0) AS cnt
         |  FROM (SELECT DISTINCT g FROM binned)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 31))::BIGINT AS bin) b
         |  LEFT JOIN binned USING (g, bin)),
         |cdf AS (SELECT g, bin,
         |    (sum(cnt) OVER (PARTITION BY g ORDER BY bin))::DOUBLE /
         |      sum(cnt) OVER (PARTITION BY g) AS cdf,
         |    cnt::DOUBLE / sum(cnt) OVER (PARTITION BY g) AS bin_share
         |  FROM dense),
         |pairs AS (SELECT a.g AS g_a, b.g AS g_b, a.bin,
         |    abs(a.cdf - b.cdf) AS d,
         |    greatest(a.bin_share, b.bin_share) AS sh
         |  FROM cdf a JOIN cdf b USING (bin) WHERE a.g < b.g),
         |mx AS (SELECT *, max(d) OVER (PARTITION BY g_a, g_b) AS dmax
         |  FROM pairs)
         |SELECT g_a, g_b, ${rnd("max(d)", 6)} AS ks_stat,
         |  min(CASE WHEN d = dmax THEN bin END)::BIGINT AS at_bin,
         |  ${rnd("max(sh)", 6)} AS max_bin_share
         |FROM mx GROUP BY g_a, g_b""".stripMargin,

    // sampled-pair cosine profile: id-modulus sample sides, ceil-rank
    // discrete quantiles over the pair frame (q64's selection rule)
    "q176_pair_distance_profile" ->
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings
         |  WHERE vec_id % 17 = 0),
         |b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings
         |  WHERE vec_id % 19 = 0),
         |p AS (SELECT ${cosineSql("va", "vb")} AS cos
         |  FROM a CROSS JOIN b WHERE id_a < id_b),
         |r AS (SELECT cos, row_number() OVER (ORDER BY cos) AS rn,
         |    count(*) OVER () AS n FROM p)
         |SELECT max(n)::BIGINT AS n_pairs,
         |  ${rnd("avg(cos)", 6)} AS mean_cos,
         |  ${rnd("min(cos)", 6)} AS min_cos,
         |  ${rnd("max(cos)", 6)} AS max_cos,
         |  ${rnd("max(CASE WHEN rn = ceil(0.05 * n::DOUBLE) THEN cos END)", 6)} AS p5,
         |  ${rnd("max(CASE WHEN rn = ceil(0.25 * n::DOUBLE) THEN cos END)", 6)} AS p25,
         |  ${rnd("max(CASE WHEN rn = ceil(0.5 * n::DOUBLE) THEN cos END)", 6)} AS p50,
         |  ${rnd("max(CASE WHEN rn = ceil(0.75 * n::DOUBLE) THEN cos END)", 6)} AS p75,
         |  ${rnd("max(CASE WHEN rn = ceil(0.95 * n::DOUBLE) THEN cos END)", 6)} AS p95
         |FROM r""".stripMargin,

    // surrogate-key collision audit: portable md5 hash mod 2^bits per
    // width, exact bucket dedup, birthday-bound expectation
    "q177_surrogate_key_audit" ->
      s"""WITH keys AS (SELECT DISTINCT o_orderkey::VARCHAR AS k FROM orders
         |  WHERE o_orderkey IS NOT NULL),
         |hashed AS (SELECT ${h32("k")} AS h FROM keys),
         |pairs AS (SELECT bits, h % (1::BIGINT << bits) AS sk
         |  FROM hashed CROSS JOIN
         |    (SELECT unnest([12, 16, 20, 24])::BIGINT AS bits)),
         |buckets AS (SELECT bits, sk, count(*) AS keys_in_bucket
         |  FROM pairs GROUP BY 1, 2)
         |SELECT bits, sum(keys_in_bucket)::BIGINT AS n_keys,
         |  count(*)::BIGINT AS n_hashes,
         |  (sum(keys_in_bucket) - count(*))::BIGINT AS n_collisions,
         |  ${rnd("sum(keys_in_bucket)::DOUBLE - pow(2.0, bits::DOUBLE) * " +
           "(1.0 - pow(1.0 - 1.0 / pow(2.0, bits::DOUBLE), " +
           "sum(keys_in_bucket)::DOUBLE))", 2)} AS expected_collisions,
         |  max(keys_in_bucket)::BIGINT AS max_bucket
         |FROM buckets GROUP BY bits""".stripMargin,

    // lang-ID calibration: en-marker confidence share vs gold lang label,
    // 5 fixed-width bins, n-weighted ECE repeated per row
    "q178_calibration" -> {
      def score(markers: Seq[String]) =
        s"len(list_filter($toksExpr, t -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], t)))"
      val total = Seq(
        score(Seq("the", "and", "of", "is", "that")),
        score(Seq("der", "die", "und", "ist", "das")),
        score(Seq("le", "la", "et", "est", "les")),
        score(Seq("el", "la", "que", "es", "los")),
        score(Seq("的", "是", "了", "在", "我"))).mkString(" + ")
      val en = score(Seq("the", "and", "of", "is", "that"))
      s"""WITH scored AS (SELECT
         |    CASE WHEN ($total) > 0
         |         THEN ($en)::DOUBLE / ($total)::DOUBLE ELSE 0.0 END AS conf,
         |    (lang = 'en') AS is_en
         |  FROM documents WHERE lang IS NOT NULL),
         |binned AS (SELECT
         |    least(4, greatest(0, floor(conf * 5)::BIGINT)) AS bin,
         |    count(*) AS n, avg(conf) AS mc,
         |    avg(CASE WHEN is_en THEN 1.0 ELSE 0.0 END) AS pr
         |  FROM scored GROUP BY 1),
         |e AS (SELECT sum(n * abs(mc - pr)) / sum(n) AS ece FROM binned)
         |SELECT bin, n::BIGINT AS n, ${rnd("mc", 6)} AS mean_conf,
         |  ${rnd("pr", 6)} AS pos_rate, ${rnd("abs(mc - pr)", 6)} AS gap,
         |  ${rnd("ece", 6)} AS ece
         |FROM binned CROSS JOIN e""".stripMargin
    },

    // water-filling allocation: ratio-ascending greedy prefix saturation,
    // level from the saturated totals, floor()'d proportional allocations
    "q179_water_fill" ->
      s"""WITH caps AS (SELECT source, sum(n_chars)::DOUBLE AS cap,
         |    CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.3
         |      WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1
         |      WHEN 'src4' THEN 0.1 END AS weight
         |  FROM documents GROUP BY source),
         |r AS (SELECT source, cap, weight, cap / weight AS ratio
         |  FROM caps WHERE weight IS NOT NULL AND cap > 0),
         |flagged AS (SELECT *,
         |    coalesce(sum(cap) OVER (ORDER BY ratio, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_c,
         |    coalesce(sum(weight) OVER (ORDER BY ratio, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_w,
         |    sum(weight) OVER () AS tot_w
         |  FROM r),
         |sat AS (SELECT *,
         |    cap * (tot_w - cum_w) <= weight * (30000.0 - cum_c) AS saturated
         |  FROM flagged),
         |lvl AS (SELECT CASE WHEN max(tot_w) >
         |      sum(CASE WHEN saturated THEN weight ELSE 0.0 END)
         |    THEN (30000.0 - sum(CASE WHEN saturated THEN cap ELSE 0.0 END)) /
         |      (max(tot_w) - sum(CASE WHEN saturated THEN weight ELSE 0.0 END))
         |    END AS level FROM sat)
         |SELECT source, weight, cap::BIGINT AS capacity_tokens,
         |  ${rnd("ratio", 2)} AS saturation_ratio, saturated,
         |  (CASE WHEN saturated THEN cap
         |        ELSE floor(weight * level) END)::BIGINT AS alloc_tokens,
         |  ${rnd("CASE WHEN saturated THEN 1.0 ELSE weight * level / cap END", 6)}
         |    AS fill_frac,
         |  ${rnd("level", 2)} AS water_level
         |FROM sat CROSS JOIN lvl""".stripMargin,

    "q174_lsh_tuning" ->
      s"""WITH r AS (SELECT unnest([1, 2, 4, 8, 16]) AS rows_per_band),
         |g AS (SELECT unnest(generate_series(1, 9)) AS i)
         |SELECT (16 / rows_per_band)::BIGINT AS bands,
         |  rows_per_band::BIGINT AS rows_per_band,
         |  ${rnd("pow(1.0 / (16 / rows_per_band), 1.0 / rows_per_band)", 4)}
         |    AS s_star,
         |  i / 10.0 AS sim,
         |  ${rnd("1.0 - pow(1.0 - pow(i / 10.0, rows_per_band), 16 / rows_per_band)", 4)}
         |    AS p_catch
         |FROM r CROSS JOIN g""".stripMargin,

    // clipped int8: per-dim p99.9 |x| quantile scale (quantile_disc ==
    // exact-retention percentile_approx), codes clamped to ±127
    "q135_int8_clipped" ->
      s"""WITH dims AS (SELECT vec_id,
         |    unnest(generate_series(1, len(embedding))) - 1 AS dim,
         |    unnest(embedding) AS x FROM embeddings),
         |scales AS (SELECT dim,
         |    quantile_disc(abs(x)::DOUBLE, 0.999) / 127.0 AS scale
         |  FROM dims GROUP BY 1)
         |SELECT d.vec_id, d.dim::BIGINT AS dim,
         |  CASE WHEN scale = 0.0 THEN 0
         |       ELSE greatest(least(${rnd("d.x::DOUBLE / scale", 0)}::BIGINT,
         |         127), -127) END AS code,
         |  ${rnd("scale", 9)} AS scale
         |FROM dims d JOIN scales USING (dim)""".stripMargin,

    // int8 quantization: per-dim max|x|/127 scales, half-up rounded codes
    "q120_int8_quantize" ->
      s"""WITH dims AS (SELECT vec_id,
         |    unnest(generate_series(1, len(embedding))) - 1 AS dim,
         |    unnest(embedding) AS x FROM embeddings),
         |scales AS (SELECT dim, max(abs(x))::DOUBLE / 127.0 AS scale
         |  FROM dims GROUP BY 1)
         |SELECT d.vec_id, d.dim::BIGINT AS dim,
         |  CASE WHEN scale = 0.0 THEN 0
         |       ELSE ${rnd("d.x::DOUBLE / scale", 0)}::BIGINT END AS code,
         |  ${rnd("scale", 9)} AS scale
         |FROM dims d JOIN scales USING (dim)""".stripMargin,

    // bigram LM over token STRINGS (Spark joins 64-bit hashes — q22's
    // same-counts-modulo-collision contract); MLE conditional
    // c(w1 w2) / c_prefix(w1), prefix counted over bigram positions
    "q121_bigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |bgs AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS w1,
         |    unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i + 1])) AS bg
         |  FROM toks),
         |cbt AS (SELECT bg, count(*) AS cb FROM bgs GROUP BY 1),
         |cpt AS (SELECT w1, count(*) AS cp FROM bgs GROUP BY 1)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  ${rnd("avg(ln(cb::DOUBLE / cp))", 4)} AS avg_logprob
         |FROM bgs JOIN cbt USING (bg) JOIN cpt USING (w1)
         |GROUP BY doc_id""".stripMargin,

    // PQ ADC top-k: replay q117's codebook + codes, decode each row's
    // codewords into a flat 64-vector (flatten keeps subspace order), and
    // accumulate the squared-diff terms in the expression's left-to-right
    // double order — exact rank parity, not just rounded-value parity
    "q122_pq_adc_topk" -> {
      val l2 = "list_sum(list_transform(generate_series(1, 8), i -> " +
        "((e.embedding[s.sub * 8 + i]::DOUBLE) - (c.cw[s.sub * 8 + i]::DOUBLE)) * " +
        "((e.embedding[s.sub * 8 + i]::DOUBLE) - (c.cw[s.sub * 8 + i]::DOUBLE))))"
      s"""WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |    embedding AS cw FROM embeddings ORDER BY vec_id LIMIT 16),
         |subs AS (SELECT unnest(range(0, 8)) AS sub),
         |scored AS (SELECT e.vec_id, s.sub, c.code, $l2 AS d
         |  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c),
         |codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d ASC, code ASC) AS r FROM scored) WHERE r = 1),
         |dec AS (SELECT co.vec_id,
         |    flatten(list(list_slice(cb.cw, co.sub * 8 + 1, co.sub * 8 + 8)
         |      ORDER BY co.sub)) AS dv
         |  FROM codes co JOIN cb USING (code) GROUP BY co.vec_id),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 4),
         |ad AS (SELECT q.query_id, dec.vec_id AS neighbor_id,
         |    list_sum(list_transform(generate_series(1, 64), i ->
         |      ((q.qv[i]::DOUBLE) - (dec.dv[i]::DOUBLE)) *
         |      ((q.qv[i]::DOUBLE) - (dec.dv[i]::DOUBLE)))) AS d
         |  FROM q CROSS JOIN dec),
         |ranked AS (SELECT query_id, neighbor_id, d,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY d ASC, neighbor_id ASC) AS rank FROM ad)
         |SELECT query_id, neighbor_id, ${rnd("d", 3)} AS adc_dist,
         |  rank::BIGINT AS rank FROM ranked WHERE rank <= 5""".stripMargin
    },

    // duplicate-block removal over block STRINGS (the Spark side keys the
    // frequency tables by xxhash64 block hashes — q22/q118's same-counts-
    // modulo-collision contract); clean_text re-concatenates kept blocks
    // in position order on both sides
    "q123_block_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |blk AS (SELECT doc_id,
         |    unnest(generate_series(0, (len(t) + 2) // 3 - 1)) AS b,
         |    unnest(list_transform(generate_series(0, (len(t) + 2) // 3 - 1),
         |      b -> array_to_string(list_slice(t, b * 3 + 1, b * 3 + 3), ' ')))
         |      AS bt
         |  FROM toks),
         |dg AS (SELECT doc_id, bt, count(*) AS n_occ FROM blk GROUP BY 1, 2),
         |dfc AS (SELECT bt, count(*) AS doc_freq FROM dg GROUP BY 1),
         |j AS (SELECT blk.doc_id, blk.b, blk.bt, dfc.doc_freq
         |  FROM blk JOIN dfc USING (bt))
         |SELECT doc_id, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN doc_freq > 1 THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
         |  ${rnd("sum(CASE WHEN doc_freq > 1 THEN 1 ELSE 0 END)::DOUBLE " +
              "/ count(*)::DOUBLE", 4)} AS boiler_frac,
         |  coalesce(string_agg(CASE WHEN doc_freq <= 1 THEN bt END,
         |    ' ' ORDER BY b), '') AS clean_text
         |FROM j GROUP BY doc_id""".stripMargin,

    // JL sign projection: rebuild the md5 sign matrix row-as-list so the
    // per-dim sum accumulates left-to-right like the codegen'd loop;
    // 0.25 (= 1/sqrt(16)) is a binary power, so the final scale is exact
    "q124_random_projection" -> {
      val sgn = "CASE WHEN " +
        h32("'rp:' || j::VARCHAR || ':' || (i - 1)::VARCHAR") +
        " % 2 = 0 THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END"
      s"""WITH m AS (SELECT j, list_transform(generate_series(1, 64),
         |    i -> $sgn) AS sgn
         |  FROM (SELECT unnest(range(0, 16)) AS j))
         |SELECT e.vec_id, j::BIGINT AS dim,
         |  ${rnd("0.25::DOUBLE * list_sum(list_transform(generate_series(1, 64), " +
              "i -> m.sgn[i] * (e.embedding[i]::DOUBLE)))", 6)} AS val
         |FROM embeddings e CROSS JOIN m""".stripMargin
    },

    // IVF recall@5 vs brute force: replays the q40 IVF pipeline (probe 2 of
    // 32) AND the q24 exact pipeline, then the hit-count join — the recall
    // number itself is oracle-checked, not just the two result sets
    "q125_ivf_recall" ->
      s"""WITH centroids AS (
         |  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
         |  ORDER BY vec_id LIMIT 32),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 8),
         |assigned AS (
         |  SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC,
         |          c.centroid_id ASC) AS r
         |    FROM embeddings e CROSS JOIN centroids c) WHERE r = 1),
         |probes AS (
         |  SELECT query_id, qv, centroid_id FROM (
         |    SELECT q.query_id, q.qv, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("q.qv", "c.cv")} DESC,
         |          c.centroid_id ASC) AS r
         |    FROM q CROSS JOIN centroids c) WHERE r <= 2),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, a.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${cosineSql("a.embedding", "p.qv")} DESC,
         |          a.vec_id ASC) AS rank
         |    FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id)
         |  WHERE rank <= 5),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.qv")} DESC,
         |          e.vec_id ASC) AS rank
         |    FROM q CROSS JOIN embeddings e) WHERE rank <= 5)
         |SELECT ex.query_id, count(iv.neighbor_id)::BIGINT AS n_hit,
         |  ${rnd("count(iv.neighbor_id)::DOUBLE / 5.0", 4)} AS recall
         |FROM exact ex LEFT JOIN ivf iv
         |  ON ex.query_id = iv.query_id AND ex.neighbor_id = iv.neighbor_id
         |GROUP BY ex.query_id""".stripMargin,

    // classifier quality filter: logit over the same ROUNDED features the
    // other text gates replay; keep = logit sign (exp-parity-free)
    "q126_quality_logit" -> {
      val mwl = raw"(CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) = 0 THEN 0.0 " +
        s"ELSE ${rnd(raw"list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> length(t)))::DOUBLE / len(regexp_split_to_array(trim(text), '\s+'))", 4)} END)"
      val logit = s"(-1.0 + least($tokenCountExpr::DOUBLE / 100.0, 1.0) * 2.0" +
        s" + $stopwordRatioExpr * 3.0 + $punctRatioExpr * -4.0" +
        s" + least($mwl / 10.0, 1.0) * 0.5)"
      s"""SELECT doc_id,
         |  ${rnd(s"1.0 / (1.0 + exp(-$logit))", 4)} AS quality_prob,
         |  ($logit >= 0.0) AS keep
         |FROM documents""".stripMargin
    },

    "q127_semantic_contamination" ->
      lshCrossSql(numBands = 2, bitsPerBand = 8, threshold = "0.30",
        benchPred = id => s"$id % 25 = 0"),

    // MMR rerank: the greedy unrolled as 5 SQL rounds. μ is emitted as the
    // exact double 1.0-0.7 (0.30000000000000004), matching the expression's
    // constant — NOT the decimal 0.3, which is a different double
    "q128_mmr_rerank" -> {
      val lam = "0.7::DOUBLE"
      val mu = s"${1.0 - 0.7}::DOUBLE"
      val rounds = (1 to 5).map { r =>
        val prev = s"sel${r - 1}"
        s"""scored$r AS (
           |  SELECT c.query_id, c.id, c.v, c.rel,
           |    coalesce((SELECT max(${cosineSql("c.v", "s.v")}) FROM $prev s
           |      WHERE s.query_id = c.query_id), 0.0) AS maxsim
           |  FROM cand c
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev s2
           |    WHERE s2.query_id = c.query_id AND s2.id = c.id)),
           |pick$r AS (SELECT query_id, id, v, mmr, $r AS rank FROM (
           |    SELECT query_id, id, v, $lam * rel - $mu * maxsim AS mmr,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY $lam * rel - $mu * maxsim DESC, id ASC) AS rr
           |    FROM scored$r) WHERE rr = 1),
           |sel$r AS (SELECT query_id, id, v FROM $prev
           |  UNION ALL SELECT query_id, id, v FROM pick$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 4),
         |cand AS (SELECT query_id, id, v, rel FROM (
         |    SELECT q.query_id, e.vec_id AS id, e.embedding AS v,
         |      ${cosineSql("e.embedding", "q.qv")} AS rel,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.qv")} DESC,
         |          e.vec_id ASC) AS rk
         |    FROM q CROSS JOIN embeddings e) WHERE rk <= 20),
         |sel0 AS (SELECT query_id, id, v FROM cand WHERE false),
         |$rounds
         |SELECT query_id, id AS neighbor_id, ${rnd("mmr", 4)} AS mmr,
         |  rank::BIGINT AS rank
         |FROM (SELECT * FROM pick1 UNION ALL SELECT * FROM pick2 UNION ALL
         |      SELECT * FROM pick3 UNION ALL SELECT * FROM pick4 UNION ALL
         |      SELECT * FROM pick5)""".stripMargin
    },

    // token-budget mix: running per-lang char sum in portable-hash order;
    // unique (hash, doc_id) ordering makes RANGE and ROWS frames identical.
    // The window sum MUST be cast ::BIGINT: DuckDB's sum(INT) is HUGEINT,
    // which pandas renders as float64 ("357.0" vs Spark's "357") and the
    // driver's cell hash diverges even though every value is equal (the
    // r7 hash_match:false on this gate).
    "q129_token_budget_mix" ->
      s"""SELECT doc_id, lang, n_chars, cum_tokens FROM (
         |  SELECT doc_id, lang, n_chars,
         |    (sum(n_chars) OVER (PARTITION BY lang
         |      ORDER BY ${h32("doc_id::VARCHAR")}, doc_id))::BIGINT AS cum_tokens
         |  FROM documents)
         |WHERE cum_tokens <= CASE lang WHEN 'en' THEN 20000
         |  WHEN 'de' THEN 10000 WHEN 'fr' THEN 5000 END""".stripMargin,

    // median/MAD outliers: quantile_disc == exact-retention
    // percentile_approx (q110 contract); the outlier test is the multiply
    // form 0.6745·|x−med| > 3.5·mad, strict on both sides
    "q130_mad_outliers" ->
      s"""WITH med AS (SELECT l_returnflag AS k,
         |    quantile_disc(l_extendedprice::DOUBLE, 0.5) AS med
         |  FROM lineitem GROUP BY 1),
         |mad AS (SELECT l.l_returnflag AS k, m.med AS med,
         |    quantile_disc(abs(l.l_extendedprice::DOUBLE - m.med), 0.5) AS mad
         |  FROM lineitem l JOIN med m ON l.l_returnflag = m.k GROUP BY 1, 2)
         |SELECT l.l_returnflag, count(*)::BIGINT AS n, d.med AS med,
         |  d.mad AS mad,
         |  sum(CASE WHEN abs(l.l_extendedprice::DOUBLE - d.med) * 0.6745::DOUBLE
         |      > d.mad * 3.5::DOUBLE THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
         |  ${rnd("sum(CASE WHEN abs(l.l_extendedprice::DOUBLE - d.med) * 0.6745::DOUBLE " +
              "> d.mad * 3.5::DOUBLE THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE", 4)}
         |    AS outlier_frac
         |FROM lineitem l JOIN mad d ON l.l_returnflag = d.k
         |GROUP BY l.l_returnflag, d.med, d.mad""".stripMargin,

    // per-source KL vs the corpus unigram mix; per-term arithmetic order
    // mirrors the Spark expression, the cross-vocabulary sum is rnd(4)
    "q131_source_kl" ->
      s"""WITH toks AS (SELECT source, unnest($toksExpr) AS w FROM documents),
         |sc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
         |st AS (SELECT source, sum(c) AS tot FROM sc GROUP BY 1),
         |cw AS (SELECT w, sum(c) AS cc FROM sc GROUP BY 1),
         |ct AS (SELECT sum(c) AS ctot FROM sc)
         |SELECT sc.source, max(st.tot)::BIGINT AS n_tokens,
         |  count(*)::BIGINT AS vocab,
         |  ${rnd("sum((sc.c::DOUBLE / st.tot) * " +
              "ln((sc.c::DOUBLE / st.tot) / (cw.cc::DOUBLE / ct.ctot)))", 4)} AS kl
         |FROM sc JOIN st USING (source) JOIN cw USING (w) CROSS JOIN ct
         |GROUP BY sc.source""".stripMargin,

    // lexical diversity: per-doc entropy/TTR/hapax from one word-count CTE
    "q133_lexical_diversity" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksExpr) AS w FROM documents),
         |cnt AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
         |per AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
         |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
         |  FROM cnt GROUP BY 1)
         |SELECT cnt.doc_id, max(n_tokens)::BIGINT AS n_tokens,
         |  max(n_types)::BIGINT AS n_types,
         |  ${rnd("max(n_types)::DOUBLE / max(n_tokens)", 4)} AS ttr,
         |  ${rnd("sum((c::DOUBLE / n_tokens) * (-ln(c::DOUBLE / n_tokens)))", 4)}
         |    AS entropy,
         |  ${rnd("max(n_hapax)::DOUBLE / max(n_types)", 4)} AS hapax_frac
         |FROM cnt JOIN per USING (doc_id) GROUP BY 1""".stripMargin,

    // source-similarity matrix: integer-exact dot products over the shared
    // vocabulary, double norms, pairs ordered source_a < source_b
    "q134_source_similarity" ->
      s"""WITH toks AS (SELECT source, unnest($toksExpr) AS w FROM documents),
         |sc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
         |norms AS (SELECT source, sqrt(sum(c * c)::DOUBLE) AS norm
         |  FROM sc GROUP BY 1),
         |d AS (SELECT a.source AS sa, b.source AS sb,
         |    sum(a.c * b.c)::DOUBLE AS dot
         |  FROM sc a JOIN sc b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT sa AS source_a, sb AS source_b,
         |  ${rnd("dot / (na.norm * nb.norm)", 4)} AS cos
         |FROM d JOIN norms na ON na.source = d.sa
         |JOIN norms nb ON nb.source = d.sb""".stripMargin,

    // interval x interval overlap: the oracle joins on the raw overlap
    // predicate; the Spark side's chunk-binned equi-join + owner-chunk
    // dedup must reproduce the exact pair set
    "q136_overlap_join" ->
      s"""WITH a AS (SELECT o_orderpriority, o_orderdate AS o_start,
         |    o_orderdate + INTERVAL 7 DAY AS o_end FROM orders
         |  WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1995-03-01'),
         |b AS (SELECT l_linestatus, l_shipdate,
         |    l_shipdate + to_days((l_linenumber % 7 + 1)::INTEGER) AS l_receipt
         |  FROM lineitem WHERE l_returnflag = 'R'
         |    AND l_shipdate >= '1995-01-01' AND l_shipdate < '1995-03-01')
         |SELECT o_orderpriority, l_linestatus, count(*)::BIGINT AS n_pairs,
         |  sum(date_diff('day', greatest(o_start, l_shipdate),
         |    least(o_end, l_receipt)) + 1)::BIGINT AS overlap_days
         |FROM a JOIN b ON o_start <= l_receipt AND l_shipdate <= o_end
         |GROUP BY 1, 2""".stripMargin,

    // last-touch attribution: the same running last(ignoreNulls) over a
    // rows-frame ending at the previous row, ties at equal ts broken by
    // event_id; epoch_us replays Spark's micros truncation
    "q137_attribution" ->
      s"""WITH marked AS (SELECT user_id, ts, event_id, event_type, value,
         |    last_value(CASE WHEN event_type IN ('click', 'view')
         |        THEN {'t': ts, 'ty': event_type} END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
         |  FROM events)
         |SELECT CASE WHEN lt IS NOT NULL
         |      AND epoch_us(ts) - epoch_us(lt.t) <= 86400000000
         |    THEN lt.ty ELSE '(none)' END AS attributed_type,
         |  count(*)::BIGINT AS n_conversions,
         |  ${rnd("sum(value)", 2)} AS total_value
         |FROM marked WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    // reciprocal-rank fusion: both candidate lists replayed as rank
    // windows over bit-identical cosine / composed-L2 folds, fused over
    // the ranks PRESENT (full outer join), re-ranked by (rrf DESC, id)
    "q138_rrf_fuse" -> {
      val dotCC = "list_sum(list_transform(e.embedding, x -> (x::DOUBLE) * (x::DOUBLE)))"
      val dotQQ = "list_sum(list_transform(q.qv, x -> (x::DOUBLE) * (x::DOUBLE)))"
      val dotCQ = "list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE) * (q.qv[i]::DOUBLE)))"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 6),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    ${cosineSql("e.embedding", "q.qv")} AS cos,
         |    ($dotCC + $dotQQ) - 2.0 * $dotCQ AS l2
         |  FROM embeddings e CROSS JOIN q),
         |cl AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS r_cos
         |  FROM scored QUALIFY r_cos <= 20),
         |ll AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY l2 ASC, neighbor_id ASC) AS r_l2
         |  FROM scored QUALIFY r_l2 <= 20),
         |f AS (SELECT coalesce(cl.query_id, ll.query_id) AS query_id,
         |    coalesce(cl.neighbor_id, ll.neighbor_id) AS neighbor_id,
         |    cl.r_cos, ll.r_l2
         |  FROM cl FULL OUTER JOIN ll
         |    ON cl.query_id = ll.query_id AND cl.neighbor_id = ll.neighbor_id),
         |g AS (SELECT query_id, neighbor_id, r_cos::BIGINT AS r_cos,
         |    r_l2::BIGINT AS r_l2,
         |    ${rnd("coalesce(1.0 / (60 + r_cos), 0.0) + coalesce(1.0 / (60 + r_l2), 0.0)", 8)} AS rrf
         |  FROM f)
         |SELECT query_id, neighbor_id, r_cos, r_l2, rrf,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, neighbor_id ASC)::BIGINT AS rank
         |FROM g QUALIFY rank <= 10""".stripMargin
    },

    // IVFADC: q40's coarse quantizer (first-16 centroids, cosine
    // assignment/probes) composed with q122's PQ pipeline (first-16
    // codebook, argmin-L2 codes, flat ADC fold), scan restricted to the
    // probed buckets
    "q139_ivfpq_topk" -> ivfPqOracle("embeddings"),

    // q323: the PERSISTED IVFADC artifact — q139's exact search semantics
    // with both quantizers restricted to the BASE build (80% of the
    // corpus), searching the FULL corpus: precisely what the base build
    // plus two appends, then compacted, serve (the q132/q317 pattern)
    "q323_ivfpq_index" ->
      ivfPqOracle("(SELECT * FROM embeddings WHERE vec_id % 5 != 0)"),

    // tokenizer fertility per source: whitespace words, BPE-ish subwords,
    // chars (length) and bytes (strlen)
    "q140_fertility" ->
      s"""WITH m AS (SELECT source,
         |    $tokenCountExpr AS w,
         |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS s,
         |    length(text) AS ch, strlen(text) AS by FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS n_words,
         |  sum(s)::BIGINT AS n_subwords,
         |  ${rnd("sum(s)::DOUBLE / sum(w)", 4)} AS fertility,
         |  ${rnd("sum(ch)::DOUBLE / sum(s)", 4)} AS chars_per_token,
         |  ${rnd("sum(by)::DOUBLE / sum(s)", 4)} AS bytes_per_token
         |FROM m GROUP BY 1""".stripMargin,

    // Fightin' Words log-odds z, same left-assoc arithmetic as the Spark
    // column expression, z rounded to 6dp BEFORE ranking on both sides
    "q141_logodds_terms" ->
      s"""WITH toks AS (SELECT source, unnest($toksExpr) AS w FROM documents),
         |sc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
         |st AS (SELECT source, sum(c) AS tot FROM sc GROUP BY 1),
         |cw AS (SELECT w, sum(c) AS cc FROM sc GROUP BY 1),
         |gl AS (SELECT sum(cc) AS ctot, count(*) AS vocab FROM cw),
         |scored AS (SELECT sc.source, sc.w, sc.c::BIGINT AS c,
         |    ${rnd("(ln((sc.c + 0.01) / (st.tot + 0.01 * gl.vocab - sc.c - 0.01)) - " +
                "ln(((cw.cc - sc.c) + 0.01) / (gl.ctot - st.tot + 0.01 * gl.vocab - (cw.cc - sc.c) - 0.01))) / " +
                "sqrt(1.0 / (sc.c + 0.01) + 1.0 / ((cw.cc - sc.c) + 0.01))", 6)} AS z
         |  FROM sc JOIN st USING (source) JOIN cw USING (w) CROSS JOIN gl)
         |SELECT source, row_number() OVER (PARTITION BY source
         |    ORDER BY z DESC, w ASC)::BIGINT AS rank,
         |  w AS term, c AS c_source, z
         |FROM scored QUALIFY rank <= 5""".stripMargin,

    // sign-bit pack to ONE 64-bit word (bit 63 via the signed minimum so
    // BIGINT addition can't overflow), hamming = bit_count(xor)
    "q142_hamming_topk" -> {
      def pack(e: String): String =
        s"(CASE WHEN $e[64] >= 0 THEN (-9223372036854775808)::BIGINT ELSE 0::BIGINT END" +
          s" + list_sum(list_transform(range(0, 63), i -> CASE WHEN $e[i + 1] >= 0" +
          s" THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT)"
      s"""WITH packed AS (SELECT vec_id, ${pack("embedding")} AS w FROM embeddings),
         |q AS (SELECT vec_id AS query_id, w AS qw FROM packed WHERE vec_id < 6),
         |sc AS (SELECT q.query_id, p.vec_id AS neighbor_id,
         |    bit_count(xor(p.w, q.qw))::BIGINT AS hamming
         |  FROM packed p CROSS JOIN q),
         |ranked AS (SELECT query_id, neighbor_id, hamming,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming ASC, neighbor_id ASC) AS rank FROM sc)
         |SELECT query_id, neighbor_id, hamming, rank::BIGINT AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    },

    // PSI drift: reference-anchored fixed-width bins, identical fp binning
    // expression, eps-smoothed terms, total repeated per row
    "q143_psi_drift" ->
      s"""WITH mm AS (SELECT min(value)::DOUBLE AS lo, max(value)::DOUBLE AS hi
         |  FROM events WHERE ts < '2024-01-16'),
         |r AS (SELECT least(9::BIGINT, greatest(0::BIGINT,
         |      floor((value::DOUBLE - mm.lo) / ((mm.hi - mm.lo) / 10))::BIGINT)) AS bin
         |  FROM events, mm WHERE ts < '2024-01-16' AND value IS NOT NULL),
         |c AS (SELECT least(9::BIGINT, greatest(0::BIGINT,
         |      floor((value::DOUBLE - mm.lo) / ((mm.hi - mm.lo) / 10))::BIGINT)) AS bin
         |  FROM events, mm WHERE ts >= '2024-01-16' AND value IS NOT NULL),
         |rs AS (SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM r) AS ref_share
         |  FROM r GROUP BY 1),
         |cs AS (SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM c) AS cur_share
         |  FROM c GROUP BY 1),
         |bins AS (SELECT unnest(range(0, 10)) AS bin),
         |j AS (SELECT b.bin, coalesce(rs.ref_share, 0.0) AS ref_share,
         |    coalesce(cs.cur_share, 0.0) AS cur_share
         |  FROM bins b LEFT JOIN rs ON rs.bin = b.bin LEFT JOIN cs ON cs.bin = b.bin),
         |t AS (SELECT bin, ref_share, cur_share,
         |    (cur_share - ref_share) * ln((cur_share + 1e-6) / (ref_share + 1e-6))
         |      AS psi_term FROM j)
         |SELECT bin, ${rnd("ref_share", 6)} AS ref_share,
         |  ${rnd("cur_share", 6)} AS cur_share,
         |  ${rnd("psi_term", 6)} AS psi_term,
         |  ${rnd("(SELECT sum(psi_term) FROM t)", 6)} AS psi_total
         |FROM t""".stripMargin,

    // global total-order rank: the oracle IS the naive global window — the
    // Spark side must reproduce it exactly from range-partitioned pieces
    "q144_global_rank" ->
      """SELECT o_orderkey, o_totalprice,
        |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS global_rank
        |FROM orders""".stripMargin,

    // epoch-aware mixture plan: floor() (not a double cast — Spark
    // truncates, DuckDB rounds) on every double→BIGINT landing
    "q145_epoch_mix" ->
      s"""WITH sizes AS (SELECT lang, sum(n_chars)::BIGINT AS n_tokens,
         |    CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
         |      WHEN 'fr' THEN 0.2 END AS weight
         |  FROM documents GROUP BY lang),
         |planned AS (SELECT lang, n_tokens, weight,
         |    floor(2000000.0 * weight)::BIGINT AS target_tokens,
         |    least(floor(2000000.0 * weight)::BIGINT,
         |      floor(n_tokens::DOUBLE * 4.0)::BIGINT) AS planned_tokens
         |  FROM sizes WHERE weight IS NOT NULL AND n_tokens > 0)
         |SELECT lang, n_tokens, weight, target_tokens, planned_tokens,
         |  ${rnd("planned_tokens::DOUBLE / n_tokens::DOUBLE", 4)} AS epochs,
         |  target_tokens - planned_tokens AS deficit_tokens
         |FROM planned""".stripMargin,

    // cross-source duplication matrix: q20's banded-LSH near-dup replay,
    // pairs labeled with canonically ordered sources; min/max (never avg)
    // keeps the cells fp-order-independent
    "q146_crossdup_matrix" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT doc_id AS id, $toksExpr AS t FROM documents),
         |shing AS (SELECT id, $sh AS sh FROM toks),
         |hashed AS (SELECT id, sh, list_transform(sh, x -> ${h32("x")}) AS hs FROM shing),
         |sigs AS (SELECT id, list_distinct(sh) AS shset,
         |  ${minhashSigExpr("hs", 8)} AS sig
         |  FROM hashed),
         |banded AS (SELECT id, band, array_to_string(list_slice(sig, band * 2 + 1, band * 2 + 2), '_') AS bucket
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
         |jac AS (SELECT id_a, id_b,
         |  CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) = 0 THEN 0.0
         |       ELSE len(list_intersect(sa.shset, sb.shset))::DOUBLE
         |            / len(list_distinct(list_concat(sa.shset, sb.shset)))::DOUBLE END AS jaccard
         |  FROM cands JOIN sigs sa ON sa.id = cands.id_a JOIN sigs sb ON sb.id = cands.id_b),
         |lab AS (SELECT j.jaccard, da.source AS s_a, db.source AS s_b
         |  FROM jac j JOIN documents da ON da.doc_id = j.id_a
         |             JOIN documents db ON db.doc_id = j.id_b
         |  WHERE j.jaccard >= 0.2)
         |SELECT least(s_a, s_b) AS src_a, greatest(s_a, s_b) AS src_b,
         |  count(*)::BIGINT AS n_pairs,
         |  ${rnd("min(jaccard)", 3)} AS min_jaccard,
         |  ${rnd("max(jaccard)", 3)} AS max_jaccard
         |FROM lab GROUP BY 1, 2""".stripMargin
    },

    // per-source trigram novelty: vocabulary-bounded counts only
    "q147_ngram_novelty" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT source, $toksExpr AS t FROM documents),
         |grams AS (SELECT source, unnest($sh) AS g FROM toks),
         |sg AS (SELECT source, g, count(*) AS c FROM grams GROUP BY 1, 2),
         |gs AS (SELECT g, count(*) AS n_src FROM sg GROUP BY 1),
         |agg AS (SELECT sg.source, sum(sg.c)::BIGINT AS n_instances,
         |    count(*)::BIGINT AS n_distinct,
         |    sum(CASE WHEN gs.n_src = 1 THEN 1 ELSE 0 END)::BIGINT AS n_exclusive
         |  FROM sg JOIN gs ON gs.g = sg.g GROUP BY 1)
         |SELECT source, n_instances, n_distinct, n_exclusive,
         |  ${rnd("n_distinct::DOUBLE / n_instances::DOUBLE", 4)} AS novelty,
         |  ${rnd("n_exclusive::DOUBLE / n_distinct::DOUBLE", 4)} AS exclusive_ratio
         |FROM agg""".stripMargin
    },

    // first-order transition matrix: lead over (ts, event_id) per user
    "q148_transition_matrix" ->
      s"""WITH seq AS (SELECT user_id, event_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |tr AS (SELECT event_type AS from_type, to_type FROM seq
         |  WHERE to_type IS NOT NULL),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM tr)
         |SELECT from_type, to_type, count(*)::BIGINT AS n_transitions,
         |  ${rnd("count(*)::DOUBLE / (SELECT t FROM tot)", 4)} AS share
         |FROM tr GROUP BY 1, 2""".stripMargin,

    // unordered type co-occurrence: distinct (user, type) self-join
    "q149_event_cooccurrence" ->
      """WITH du AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*)::BIGINT AS n_users
        |FROM du a JOIN du b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    // DAU + trailing-7-day distinct actives (spine range join; trailing
    // distinct counts cannot be expressed as a window)
    "q150_rolling_active" ->
      """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
        |wau AS (SELECT d.day, count(DISTINCT u.user_id)::BIGINT AS wau
        |  FROM (SELECT DISTINCT day FROM du) d
        |  JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,

    // winsorized means: cut points by the exact rank rule (value at
    // ceil(p*n) — groupQuantiles' engine-portable selection), means 2dp
    "q151_winsorized" ->
      s"""WITH r AS (SELECT l_returnflag AS k, l_extendedprice::DOUBLE AS v,
         |    row_number() OVER (PARTITION BY l_returnflag
         |      ORDER BY l_extendedprice::DOUBLE) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |cuts AS (SELECT k,
         |    max(CASE WHEN rn = ceil(0.05 * n::DOUBLE) THEN v END) AS lo,
         |    max(CASE WHEN rn = ceil(0.95 * n::DOUBLE) THEN v END) AS hi
         |  FROM r GROUP BY 1)
         |SELECT r.k AS l_returnflag, count(*)::BIGINT AS n,
         |  ${rnd("avg(r.v)", 2)} AS mean_raw,
         |  ${rnd("avg(least(greatest(r.v, c.lo), c.hi))", 2)} AS mean_wins,
         |  sum(CASE WHEN r.v < c.lo THEN 1 ELSE 0 END)::BIGINT AS n_lo,
         |  sum(CASE WHEN r.v > c.hi THEN 1 ELSE 0 END)::BIGINT AS n_hi
         |FROM r JOIN cuts c ON r.k = c.k
         |GROUP BY r.k""".stripMargin,

    // label-filtered ANN: candidates restricted to the query's label
    "q152_filtered_ann" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS lbl
         |  FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  ${cosineSql("e.embedding", "qv")} AS cosine
         |  FROM embeddings e JOIN q ON e.label = q.lbl),
         |ranked AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, ${rnd("cosine", 3)} AS cosine, rank::BIGINT AS rank
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // per-group OLS via the same centered two-pass sums (the single-pass
    // E[xy]-E[x]E[y] form cancels catastrophically and is fp-order-unstable)
    "q153_group_regression" ->
      s"""WITH b AS (SELECT l_returnflag AS k, l_quantity::DOUBLE AS x,
         |    l_extendedprice::DOUBLE AS y
         |  FROM lineitem WHERE l_quantity IS NOT NULL
         |    AND l_extendedprice IS NOT NULL),
         |m AS (SELECT k, avg(x) AS mx, avg(y) AS my FROM b GROUP BY 1),
         |s AS (SELECT b.k, count(*)::BIGINT AS n,
         |    max(m.mx) AS mx, max(m.my) AS my,
         |    sum((x - m.mx) * (y - m.my)) AS sxy,
         |    sum((x - m.mx) * (x - m.mx)) AS sxx,
         |    sum((y - m.my) * (y - m.my)) AS syy
         |  FROM b JOIN m ON b.k = m.k GROUP BY 1)
         |SELECT k AS l_returnflag, n,
         |  ${rnd("CASE WHEN sxx > 0 THEN sxy / sxx END", 6)} AS slope,
         |  ${rnd("CASE WHEN sxx > 0 THEN my - (sxy / sxx) * mx END", 4)} AS intercept,
         |  ${rnd("CASE WHEN sxx > 0 AND syy > 0 THEN (sxy * sxy) / (sxx * syy) END", 6)} AS r2
         |FROM s""".stripMargin,

    // retention cohorts: first-active-day per user, k = day - cohort_day
    "q154_retention_cohorts" ->
      s"""WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
         |cohorts AS (SELECT user_id, min(day) AS cohort_day FROM du GROUP BY 1),
         |sizes AS (SELECT cohort_day, count(*)::BIGINT AS cohort_size
         |  FROM cohorts GROUP BY 1),
         |cells AS (SELECT c.cohort_day,
         |    (du.day - c.cohort_day)::BIGINT AS k, count(*)::BIGINT AS n_active
         |  FROM du JOIN cohorts c ON du.user_id = c.user_id
         |  WHERE du.day - c.cohort_day <= 7 GROUP BY 1, 2)
         |SELECT cells.cohort_day, k, n_active, s.cohort_size,
         |  ${rnd("n_active::DOUBLE / s.cohort_size::DOUBLE", 4)} AS retention
         |FROM cells JOIN sizes s ON cells.cohort_day = s.cohort_day""".stripMargin,

    // per-node triangles over the 64-bit hamming<=7 graph (the Manku
    // combination-banded generator on the Spark side; recall-complete, so
    // the brute-forced pair CTE is the same set): the naive id-ordered
    // closure (orientation-independent result; the Spark side runs the
    // degree-oriented enumeration)
    "q155_triangle_counts" ->
      s"""WITH ${simhash64PairsCtes(7)},
         |tri AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.id_a = e1.id_b
         |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         |nt AS (SELECT node, count(*)::BIGINT AS n_triangles FROM (
         |    SELECT x AS node FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) GROUP BY 1),
         |deg AS (SELECT node, count(*)::BIGINT AS degree FROM (
         |    SELECT id_a AS node FROM pairs
         |    UNION ALL SELECT id_b FROM pairs) GROUP BY 1)
         |SELECT nt.node AS doc_id, nt.n_triangles, deg.degree,
         |  ${rnd("2.0 * nt.n_triangles::DOUBLE / (deg.degree * (deg.degree - 1))::DOUBLE", 4)} AS clustering
         |FROM nt JOIN deg ON deg.node = nt.node""".stripMargin,

    // CDC net-effect compaction: first/last op by unique sequence id
    "q156_cdc_compact" ->
      s"""WITH c AS (SELECT user_id, event_id,
         |    CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
         |      ELSE 'u' END AS op, value
         |  FROM events),
         |agg AS (SELECT user_id,
         |    min_by(op, event_id) AS first_op, max_by(op, event_id) AS last_op,
         |    max_by(value, event_id) AS lv, count(*)::BIGINT AS n_ops
         |  FROM c GROUP BY 1)
         |SELECT user_id, first_op, last_op,
         |  CASE WHEN first_op = 'c' AND last_op = 'd' THEN 'none'
         |       WHEN first_op = 'c' THEN 'c'
         |       WHEN last_op = 'd' THEN 'd'
         |       ELSE 'u' END AS net_op,
         |  ${rnd("lv", 2)} AS last_value, n_ops
         |FROM agg""".stripMargin,

    // label propagation, 3 synchronous rounds unrolled, ties to the
    // smallest label (same contract as the q102 PageRank unroll)
    "q157_label_prop" -> {
      def round(prev: String, v: String, l: String): String =
        s"""$v AS (SELECT e.s, l.label AS nl, count(*) AS cnt
           |  FROM edges e JOIN $prev l ON l.node = e.d GROUP BY 1, 2),
           |$l AS (SELECT s AS node, nl AS label FROM (
           |    SELECT s, nl, row_number() OVER (PARTITION BY s
           |      ORDER BY cnt DESC, nl ASC) AS rn FROM $v) WHERE rn = 1)"""
          .stripMargin
      s"""WITH ${simhash64PairsCtes(7)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |l0 AS (SELECT DISTINCT s AS node, s AS label FROM edges),
         |${round("l0", "v1", "l1")},
         |${round("l1", "v2", "l2")},
         |${round("l2", "v3", "l3")}
         |SELECT node AS doc_id, label AS community FROM l3""".stripMargin
    },

    // sorted-neighborhood dedup: normalized-prefix total order, pairs
    // within 8 ranks, exact Jaccard over shingle strings (the Spark side
    // verifies over 64-bit hashed sets — q20's equivalence contract)
    "q158_sorted_neighbors" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH base AS (SELECT doc_id AS id, $toksExpr AS t,
         |    substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, 24) AS sk
         |  FROM documents),
         |ranked AS (SELECT id, row_number() OVER (ORDER BY sk, id) AS r FROM base),
         |cand AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM ranked a JOIN ranked b ON b.r > a.r AND b.r - a.r <= 8),
         |shing AS (SELECT id, list_distinct($sh) AS shset FROM base),
         |jac AS (SELECT id_a, id_b,
         |  CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) = 0 THEN 0.0
         |       ELSE len(list_intersect(sa.shset, sb.shset))::DOUBLE
         |            / len(list_distinct(list_concat(sa.shset, sb.shset)))::DOUBLE END AS jaccard
         |  FROM cand JOIN shing sa ON sa.id = cand.id_a
         |            JOIN shing sb ON sb.id = cand.id_b)
         |SELECT id_a, id_b, ${rnd("jaccard", 3)} AS jaccard
         |FROM jac WHERE jaccard >= 0.2""".stripMargin
    },

    "q61_top_ngrams" -> {
      val sh = shinglesExpr("t", 3)
      s"""WITH toks AS (SELECT $toksExpr AS t FROM documents),
         |grams AS (SELECT unnest($sh) AS gram FROM toks),
         |counts AS (SELECT gram, count(*)::BIGINT AS n_occ FROM grams GROUP BY 1),
         |ranked AS (SELECT gram, n_occ,
         |    row_number() OVER (ORDER BY n_occ DESC, gram ASC) AS rank FROM counts)
         |SELECT gram, n_occ, rank::BIGINT AS rank FROM ranked WHERE rank <= 20""".stripMargin
    },

    // contamination over shingle STRINGS; the Spark side joins 64-bit
    // hashed postings (same counts modulo md5-collision odds, same pattern
    // as q22's hashed inverted index)
    "q62_contamination" -> {
      val sh = shinglesExpr("t", 8)
      s"""WITH sets AS (SELECT doc_id, list_distinct($sh) AS g8
         |  FROM (SELECT doc_id, $toksExpr AS t FROM documents)),
         |bench AS (SELECT doc_id AS bid, unnest(g8) AS g FROM sets WHERE doc_id % 10 = 0),
         |train AS (SELECT doc_id AS tid, unnest(g8) AS g FROM sets WHERE doc_id % 10 <> 0),
         |bn AS (SELECT doc_id AS bid, len(g8) AS n_bench FROM sets WHERE doc_id % 10 = 0),
         |rare AS (SELECT g FROM train GROUP BY g HAVING count(*) <= 1000),
         |shared AS (SELECT tid, bid, count(*) AS n_shared
         |  FROM train JOIN rare USING (g) JOIN bench USING (g) GROUP BY 1, 2),
         |scored AS (SELECT tid, bid, n_shared,
         |    ${rnd("n_shared::DOUBLE / n_bench", 4)} AS containment
         |  FROM shared JOIN bn USING (bid))
         |SELECT tid AS train_id, bid AS bench_id, n_shared::BIGINT AS n_shared,
         |  containment
         |FROM scored WHERE containment >= 0.5""".stripMargin
    },

    "q63_repetition_filter" -> {
      val sh = shinglesExpr("t", 3)
      val dupFrac =
        rnd("CASE WHEN coalesce(n_tri, 0) = 0 THEN 0.0 ELSE dup_tri::DOUBLE / n_tri END", 4)
      s"""WITH toks AS (SELECT doc_id, unnest($toksExpr) AS w FROM documents),
         |wcount AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
         |words AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_c FROM wcount GROUP BY 1),
         |tarr AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |tris AS (SELECT doc_id, unnest($sh) AS g FROM tarr),
         |tcount AS (SELECT doc_id, g, count(*) AS c FROM tris GROUP BY 1, 2),
         |tri AS (SELECT doc_id, sum(c) AS n_tri,
         |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_tri FROM tcount GROUP BY 1),
         |m AS (SELECT w.doc_id, w.n_words::BIGINT AS n_words,
         |    ${rnd("top_c::DOUBLE / n_words", 4)} AS top_word_frac,
         |    $dupFrac AS dup_trigram_frac
         |  FROM words w LEFT JOIN tri USING (doc_id))
         |SELECT doc_id, n_words, top_word_frac, dup_trigram_frac,
         |  (top_word_frac > 0.1 OR dup_trigram_frac > 0.4) AS repetitive
         |FROM m""".stripMargin
    },

    // quantile_disc selection semantics (value at ordered rank ceil(p*n)):
    // integer rank selection is engine-portable where interpolated
    // percentile_cont would hit fp-average drift
    "q64_group_quantiles" ->
      s"""WITH r AS (SELECT event_type, value AS v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events WHERE value IS NOT NULL)
         |SELECT event_type, max(n)::BIGINT AS n,
         |  ${rnd("max(CASE WHEN rn = ceil(0.5 * n::DOUBLE) THEN v END)", 2)} AS p50,
         |  ${rnd("max(CASE WHEN rn = ceil(0.9 * n::DOUBLE) THEN v END)", 2)} AS p90,
         |  ${rnd("max(CASE WHEN rn = ceil(0.99 * n::DOUBLE) THEN v END)", 2)} AS p99
         |FROM r GROUP BY event_type""".stripMargin,

    // the bloom prefilter must be result-invisible: the oracle IS the plain
    // semi join
    "q65_bloom_semi_join" ->
      s"""SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n_rows,
         |  ${rnd("sum(l_quantity)", 2)} AS sum_qty
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
         |  WHERE o_orderstatus = 'F' AND o_totalprice > 200000)
         |GROUP BY 1, 2""".stripMargin,

    // aligned 64-char windows at stride 32; corpus is pure ASCII (q58 note)
    // so char substring == byte substring; windows in >1000 docs stop-listed
    "q66_window_dedup_pairs" ->
      """WITH wins AS (SELECT DISTINCT doc_id, md5(substring(text, p + 1, 64)) AS h
        |  FROM documents, unnest(range(0, length(text) - 64 + 1, 32)) AS u(p)
        |  WHERE length(text) >= 64),
        |rare AS (SELECT h FROM wins GROUP BY h HAVING count(*) <= 1000),
        |pruned AS (SELECT w.doc_id, w.h FROM wins w JOIN rare USING (h))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
        |FROM pruned a JOIN pruned b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // mean-pool: avg is sum/count of doubles on both sides; per-cell inputs
    // are ~corpus/|labels| values, fp association drift ~1e-14 vs the 5e-5
    // rounding granularity (same argument as every rnd(sum(double)) gate)
    "q67_mean_pool" ->
      s"""SELECT label, (i - 1)::BIGINT AS pos,
         |  ${rnd("avg(embedding[i]::DOUBLE)", 4)} AS mean_val
         |FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) t
         |GROUP BY label, i""".stripMargin,

    "q68_pivot" -> {
      def cell(t: String) =
        s"${rnd(s"sum(CASE WHEN event_type = '$t' THEN value END)", 2)} AS $t"
      s"""SELECT strftime(ts::DATE, '%Y-%m-%d') AS day,
         |  ${cell("click")}, ${cell("view")}, ${cell("purchase")},
         |  ${cell("signup")}, ${cell("error")}
         |FROM events GROUP BY 1""".stripMargin
    },

    "q69_full_outer" ->
      """WITH c AS (SELECT c_nationkey, count(*)::BIGINT AS n_cust
        |  FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
        |s AS (SELECT s_nationkey, count(*)::BIGINT AS n_supp
        |  FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |  coalesce(n_cust, 0)::BIGINT AS n_cust,
        |  coalesce(n_supp, 0)::BIGINT AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey""".stripMargin,

    // running sum in DECIMAL: exact and order-independent, so the two
    // engines' different window-frame evaluation strategies can't drift;
    // the final DECIMAL->DOUBLE conversion is nearest-even in both
    "q70_window_running" ->
      s"""SELECT event_id, user_id,
         |  ${rnd("value - lag(value) OVER w", 2)} AS delta,
         |  (sum(value::DECIMAL(18,2)) OVER w)::DOUBLE AS running
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // the bucketing must be result-invisible: the oracle is the plain join
    "q71_bucketed_join" ->
      s"""SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
         |  ${rnd("sum(l_extendedprice)", 2)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1""".stripMargin,

    "q72_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
         |  count(*)::BIGINT AS n_rows, ${rnd("sum(l_quantity)", 2)} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q73_unpivot" -> {
      val a = s"""SELECT l_returnflag, ${rnd("sum(l_quantity)", 2)} AS sum_qty,
                 |  ${rnd("sum(l_extendedprice)", 2)} AS sum_price,
                 |  count(*)::DOUBLE AS n_rows FROM lineitem GROUP BY 1""".stripMargin
      s"""WITH a AS ($a)
         |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
         |UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a""".stripMargin
    },

    // hourly spine per user's own [first, last] bucket; forward fill via
    // last_value IGNORE NULLS over the bucket order. Buckets rendered as
    // strings (q29 precedent: sidesteps ns-vs-us timestamp repr)
    "q74_resample_fill" ->
      s"""WITH b AS (SELECT user_id AS k, date_trunc('hour', ts) AS bucket,
         |    ts, value AS v, event_id FROM events),
         |lastobs AS (SELECT k, bucket, v FROM (
         |    SELECT k, bucket, v, row_number() OVER (PARTITION BY k, bucket
         |      ORDER BY ts DESC, event_id DESC) AS rn FROM b) WHERE rn = 1),
         |spans AS (SELECT k, min(bucket)::TIMESTAMP AS b0,
         |    max(bucket)::TIMESTAMP AS b1 FROM b GROUP BY 1),
         |spine AS (SELECT k, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
         |  FROM spans),
         |j AS (SELECT s.k, s.bucket, l.v FROM spine s
         |  LEFT JOIN lastobs l ON s.k = l.k AND s.bucket = l.bucket),
         |f AS (SELECT k, bucket,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v,
         |    v IS NOT NULL AS is_observed FROM j)
         |SELECT k AS user_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS hour,
         |  ${rnd("filled_v", 2)} AS filled_v, is_observed FROM f""".stripMargin,

    // q74's prelude with linear interpolation: neighbors via IGNORE NULLS
    // windows both directions, same operand order as the Spark expression
    "q113_resample_interp" ->
      s"""WITH b AS (SELECT user_id AS k, date_trunc('hour', ts) AS bucket,
         |    ts, value AS v, event_id FROM events),
         |lastobs AS (SELECT k, bucket, v FROM (
         |    SELECT k, bucket, v, row_number() OVER (PARTITION BY k, bucket
         |      ORDER BY ts DESC, event_id DESC) AS rn FROM b) WHERE rn = 1),
         |spans AS (SELECT k, min(bucket)::TIMESTAMP AS b0,
         |    max(bucket)::TIMESTAMP AS b1 FROM b GROUP BY 1),
         |spine AS (SELECT k, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
         |  FROM spans),
         |j AS (SELECT s.k, s.bucket, l.v FROM spine s
         |  LEFT JOIN lastobs l ON s.k = l.k AND s.bucket = l.bucket),
         |f AS (SELECT k, bucket, v,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER (PARTITION BY k ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
         |    first_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER (PARTITION BY k ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
         |  FROM j)
         |SELECT k AS user_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS hour,
         |  ${rnd("CASE WHEN v IS NOT NULL THEN v ELSE pv + (nv - pv) * " +
           "(epoch(bucket)::DOUBLE - epoch(pb)::DOUBLE) / " +
           "(epoch(nb)::DOUBLE - epoch(pb)::DOUBLE) END", 2)} AS interp_v,
         |  v IS NOT NULL AS is_observed FROM f""".stripMargin,

    // exact histogram deciles: cumulative counts over sorted DISTINCT
    // scores, bucket = floor(first_rank * 10 / n) in integer arithmetic
    "q75_curriculum_bins" -> {
      val qExpr = rnd(s"least($tokenCountExpr::DOUBLE / 100.0, 1.0) * 0.4 + least($stopwordRatioExpr * 4.0, 1.0) * 0.4 + greatest(1.0 - $punctRatioExpr * 5.0, 0.0) * 0.2", 4)
      s"""WITH scored AS (SELECT doc_id, $qExpr AS q FROM documents),
         |counts AS (SELECT q, count(*) AS cnt FROM scored GROUP BY 1),
         |cum AS (SELECT q, cnt,
         |    sum(cnt) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS n FROM counts),
         |b AS (SELECT q, least(9, ((cum - cnt) * 10) // n)::BIGINT AS bucket FROM cum),
         |j AS (SELECT s.doc_id, s.q, b.bucket FROM scored s JOIN b USING (q))
         |SELECT bucket, count(*)::BIGINT AS n_docs,
         |  ${rnd("min(q)", 4)} AS min_q, ${rnd("max(q)", 4)} AS max_q
         |FROM j GROUP BY 1""".stripMargin
    },

    "q76_sql_surface" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${rnd(cosineSql("a.embedding", "b.embedding"), 3)} AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id""".stripMargin,

    // chunking keeps original case: split(trim(text)), no lower(); the
    // grid stops at len - chunkSize + step - 1 = len - 9 (no tail chunk
    // fully contained in its predecessor)
    "q77_chunking" ->
      raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, greatest(len(t) - 9, 0), 24)) AS start, t
        |  FROM t)
        |SELECT doc_id, (start // 24)::BIGINT AS chunk_idx,
        |  len(list_slice(t, start + 1, start + 32))::BIGINT AS n_tokens,
        |  md5(array_to_string(list_slice(t, start + 1, start + 32), ' ')) AS chunk_md5
        |FROM c""".stripMargin,

    "q78_vocab_oov" ->
      s"""WITH toks AS (SELECT source, unnest($toksExpr) AS token FROM documents),
         |counts AS (SELECT token, count(*)::BIGINT AS n_occ FROM toks GROUP BY 1),
         |vocab AS (SELECT token FROM (SELECT token,
         |    row_number() OVER (ORDER BY n_occ DESC, token ASC) AS rank FROM counts)
         |  WHERE rank <= 20),
         |j AS (SELECT t.source, v.token IS NOT NULL AS in_vocab
         |  FROM toks t LEFT JOIN vocab v USING (token))
         |SELECT source, count(*)::BIGINT AS n_tokens,
         |  ${rnd("sum(CASE WHEN in_vocab THEN 0 ELSE 1 END)::DOUBLE / count(*)", 4)} AS oov_rate
         |FROM j GROUP BY 1""".stripMargin,

    "q79_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksExpr) AS token FROM documents),
         |freqs AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM toks)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  ${rnd("avg(ln(cnt / n.n))", 4)} AS avg_logprob
         |FROM toks JOIN freqs USING (token) CROSS JOIN n
         |GROUP BY doc_id""".stripMargin,

    "q80_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
         |  FROM embeddings WHERE vec_id < 6),
         |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
         |    ${cosineSql("e.embedding", "qv")} AS cosine
         |  FROM embeddings e CROSS JOIN q WHERE e.label <> q.qlabel),
         |ranked AS (SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
         |SELECT query_id, neighbor_id, ${rnd("cosine", 3)} AS cosine,
         |  rank::BIGINT AS rank
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // z-score: avg/stddev_samp aggregate merges differ across engines only
    // in fp association (~1e-13 relative) — absorbed by the 4dp rounding
    "q81_zscore" ->
      s"""SELECT event_id, event_type,
         |  ${rnd("(value - avg(value) OVER w) / stddev_samp(value) OVER w", 4)} AS z
         |FROM events
         |WINDOW w AS (PARTITION BY event_type)""".stripMargin,

    // value-identical mirror of Spark's from_json(struct) classification:
    // corrupt = non-null payload that is not a parseable JSON OBJECT
    // (from_json with a struct schema also rejects valid scalars/arrays,
    // and passes NULL input through as a null struct = valid). Corruption
    // is LEADING garbage ('x' || props): Spark's Jackson parser tolerates
    // trailing characters after a valid document.
    "q82_corrupt_json" ->
      """WITH c AS (SELECT event_type,
        |    CASE WHEN event_id % 97 = 0 THEN 'x' || props ELSE props END AS payload
        |  FROM events),
        |t AS (SELECT event_type,
        |    (payload IS NOT NULL
        |     AND coalesce(json_type(TRY_CAST(payload AS JSON)), '') <> 'OBJECT')
        |      AS corrupt
        |  FROM c)
        |SELECT event_type,
        |  sum(CASE WHEN corrupt THEN 1 ELSE 0 END)::BIGINT AS n_corrupt,
        |  sum(CASE WHEN corrupt THEN 0 ELSE 1 END)::BIGINT AS n_valid
        |FROM t GROUP BY event_type""".stripMargin,

    "q84_shard_manifest" ->
      s"""SELECT ${h32("doc_id::VARCHAR")} % 16 AS shard,
         |  count(*)::BIGINT AS n_rows,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents GROUP BY 1""".stripMargin,

    // q66's aligned-window candidates + true Levenshtein verify; DuckDB's
    // levenshtein is the same unit-cost edit distance Spark's banded
    // implementation computes for kept (<= threshold) pairs
    "q85_edit_distance" ->
      """WITH wins AS (SELECT DISTINCT doc_id, md5(substring(text, p + 1, 64)) AS h
        |  FROM documents, unnest(range(0, length(text) - 64 + 1, 32)) AS u(p)
        |  WHERE length(text) >= 64),
        |rare AS (SELECT h FROM wins GROUP BY h HAVING count(*) <= 1000),
        |pruned AS (SELECT w.doc_id, w.h FROM wins w JOIN rare USING (h)),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pruned a JOIN pruned b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, levenshtein(da.text, db.text)::BIGINT AS dist
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.id_a
        |JOIN documents db ON db.doc_id = p.id_b
        |WHERE levenshtein(da.text, db.text) <= 5""".stripMargin,

    // parse_url(HOST) == the 'source.example.com' the url was built from;
    // survival rank replays portableHash32-then-id order
    "q86_domain_caps" ->
      s"""WITH d AS (SELECT doc_id, source || '.example.com' AS host,
         |    ${h32("doc_id::VARCHAR")} AS h FROM documents),
         |r AS (SELECT host,
         |    row_number() OVER (PARTITION BY host ORDER BY h, doc_id) AS rk
         |  FROM d)
         |SELECT host, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN rk > 10 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
         |FROM r GROUP BY host""".stripMargin,

    // the kept-set twin of q86: the oracle ranks with a window (DuckDB can
    // afford one), the Spark side must select the identical prefix via the
    // bounded top-k aggregate
    "q112_domain_cap_docs" ->
      s"""WITH d AS (SELECT doc_id, source || '.example.com' AS host,
         |    ${h32("doc_id::VARCHAR")} AS h FROM documents),
         |r AS (SELECT host, doc_id,
         |    row_number() OVER (PARTITION BY host ORDER BY h, doc_id) AS rk
         |  FROM d)
         |SELECT host, doc_id, rk::BIGINT AS keep_rank
         |FROM r WHERE rk <= 10""".stripMargin,

    // Okapi BM25 with the exact Spark operand order (left-assoc * and /);
    // per-doc term-score sum is <= |query| doubles, drift ~1e-16 vs the
    // 5e-5 rounding granularity (same argument as every rnd(sum) gate)
    "q87_bm25" -> {
      val terms = "'spark', 'query', 'window'"
      s"""WITH lens AS (SELECT doc_id, len($toksExpr) AS dl FROM documents),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM lens),
         |qt AS (SELECT doc_id, unnest($toksExpr) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM qt
         |  WHERE term IN ($terms) GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         |scored AS (SELECT t.doc_id,
         |    sum(ln(1.0 + (s.n - d.dfc + 0.5) / (d.dfc + 0.5))
         |      * t.tf * (1.2 + 1.0)
         |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))) AS raw
         |  FROM tf t JOIN dfreq d USING (term) JOIN lens l USING (doc_id)
         |  CROSS JOIN stats s GROUP BY 1),
         |r AS (SELECT doc_id, ${rnd("raw", 4)} AS score FROM scored)
         |SELECT doc_id, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank
         |FROM r QUALIFY rank <= 10""".stripMargin
    },

    // a non-rollup, non-cube lattice: both single-column sets but no ()
    // subtotal pair ordering a ROLLUP could express
    "q88_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |  count(*)::BIGINT AS n_orders, ${rnd("sum(o_totalprice)", 2)} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         |  (o_orderstatus), (o_orderpriority))""".stripMargin,

    // one shared WINDOW clause == Spark's single Window operator; the filter
    // applies AFTER the windows on both sides
    "q89_rank_windows" ->
      s"""SELECT * FROM (
         |  SELECT o_orderkey, o_orderstatus,
         |    rank() OVER w::BIGINT AS rnk,
         |    dense_rank() OVER w::BIGINT AS drnk,
         |    ntile(4) OVER w::BIGINT AS quartile,
         |    ${rnd("percent_rank() OVER w", 4)} AS pct_rank,
         |    ${rnd("cume_dist() OVER w", 4)} AS cume,
         |    ${rnd("lag(o_totalprice, 1) OVER w", 2)} AS prev_price,
         |    ${rnd("lead(o_totalprice, 1) OVER w", 2)} AS next_price
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_orderstatus
         |    ORDER BY o_totalprice DESC, o_orderkey))
         |WHERE o_orderkey % 20 = 0""".stripMargin,

    "q90_skew_profile" ->
      s"""WITH c AS (SELECT o_custkey::VARCHAR AS k, count(*) AS cnt
         |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
         |t AS (SELECT count(*)::DOUBLE AS n_keys, sum(cnt)::DOUBLE AS n_rows FROM c),
         |r AS (SELECT k, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, k ASC) AS rank FROM c)
         |SELECT rank::BIGINT AS rank, k AS key, cnt::BIGINT AS cnt,
         |  ${rnd("cnt / n_rows", 4)} AS share,
         |  ${rnd("cnt * n_keys / n_rows", 2)} AS x_avg
         |FROM r CROSS JOIN t WHERE rank <= 10""".stripMargin,

    // list lambdas replay the Spark HOFs with identical fold order
    // (list_sum == index-order accumulation, the cosineSql precedent)
    "q91_array_hof" -> {
      val dbl = "list_transform(embedding, x -> x::DOUBLE)"
      val l2 = s"sqrt(list_sum(list_transform($dbl, x -> x * x)))"
      s"""WITH v AS (SELECT vec_id, $dbl AS d, $l2 AS l2 FROM embeddings)
         |SELECT vec_id,
         |  len(list_filter(d, x -> x > 0))::BIGINT AS n_pos,
         |  ${rnd("list_sum(list_transform(d, x -> abs(x)))", 3)} AS l1,
         |  ${rnd("l2", 3)} AS l2,
         |  ${rnd("d[1] / l2", 4)} AS h1,
         |  ${rnd("d[2] / l2", 4)} AS h2,
         |  ${rnd("d[3] / l2", 4)} AS h3
         |FROM v""".stripMargin
    },

    // the q26 quality expression, the q27 lang argmax and the q63
    // repetition CTEs composed into one keep/drop funnel per source
    "q92_filter_funnel" ->
      s"""WITH $funnelCtes
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_quality,
         |  sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
         |  sum(CASE WHEN NOT repetitive THEN 1 ELSE 0 END)::BIGINT AS n_clean,
         |  sum(CASE WHEN q >= 0.5 AND lang_pred = 'en' AND NOT repetitive
         |    THEN 1 ELSE 0 END)::BIGINT AS n_kept
         |FROM flags JOIN frepet USING (doc_id)
         |GROUP BY source""".stripMargin,

    // the CMS counter grid replayed with the same md5 family; % == pmod
    // because the 32-bit hash is non-negative
    "q93_countmin" -> {
      val probes = (1 to 10).map(i => s"'$i'").mkString(", ")
      val b = s"${h32("j::VARCHAR || ':' || k")} % 256"
      s"""WITH keyed AS (SELECT o_custkey::VARCHAR AS k FROM orders
         |  WHERE o_custkey IS NOT NULL),
         |js AS (SELECT unnest([0, 1, 2]) AS j),
         |sk AS (SELECT j, $b AS b, count(*) AS c
         |  FROM keyed CROSS JOIN js GROUP BY 1, 2),
         |pb AS (SELECT k AS key, j, $b AS b
         |  FROM (SELECT unnest([$probes]) AS k) CROSS JOIN js),
         |est AS (SELECT key, min(coalesce(c, 0))::BIGINT AS cms_est FROM pb
         |  LEFT JOIN sk USING (j, b) GROUP BY 1),
         |exact AS (SELECT k AS key, count(*)::BIGINT AS exact_n FROM keyed
         |  WHERE k IN ($probes) GROUP BY 1)
         |SELECT key, coalesce(exact_n, 0)::BIGINT AS exact_n, cms_est,
         |  (cms_est - coalesce(exact_n, 0))::BIGINT AS overcount
         |FROM est LEFT JOIN exact USING (key)""".stripMargin
    },

    // stage times chain through per-user window minimums; comparisons run
    // on epoch_us to replay Spark's nanos->micros truncation
    "q94_conversion_funnel" ->
      s"""WITH w0 AS (SELECT user_id, event_type, ts,
         |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
         |      OVER (PARTITION BY user_id) AS t0
         |  FROM events),
         |w1 AS (SELECT *, min(CASE WHEN event_type = 'click'
         |      AND epoch_us(ts) >= t0 THEN epoch_us(ts) END)
         |      OVER (PARTITION BY user_id) AS t1 FROM w0),
         |w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
         |      AND epoch_us(ts) >= t1 THEN epoch_us(ts) END)
         |      OVER (PARTITION BY user_id) AS t2 FROM w1),
         |pu AS (SELECT DISTINCT user_id, t0 IS NOT NULL AS r0,
         |    t1 IS NOT NULL AS r1, t2 IS NOT NULL AS r2 FROM w2),
         |tot AS (SELECT coalesce(sum(CASE WHEN r0 THEN 1 ELSE 0 END), 0) AS n0,
         |    coalesce(sum(CASE WHEN r1 THEN 1 ELSE 0 END), 0) AS n1,
         |    coalesce(sum(CASE WHEN r2 THEN 1 ELSE 0 END), 0) AS n2 FROM pu)
         |SELECT 1::BIGINT AS stage_idx, 'view' AS stage, n0::BIGINT AS n_users,
         |  CASE WHEN n0 = 0 THEN 0.0 ELSE 1.0 END AS step_rate FROM tot
         |UNION ALL
         |SELECT 2::BIGINT, 'click', n1::BIGINT,
         |  CASE WHEN n0 = 0 THEN 0.0 ELSE ${rnd("n1::DOUBLE / n0", 4)} END FROM tot
         |UNION ALL
         |SELECT 3::BIGINT, 'purchase', n2::BIGINT,
         |  CASE WHEN n1 = 0 THEN 0.0 ELSE ${rnd("n2::DOUBLE / n1", 4)} END
         |FROM tot""".stripMargin,

    // gaps-and-islands twin of the native session_window: Spark merges an
    // event landing EXACTLY gap after the previous one (EventOpsSpec pins
    // this), so a new session starts only at diff > gap — same strict >
    // as q30's custom sessionizer
    "q95_session_window" ->
      s"""WITH g AS (SELECT user_id, value, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
         |         THEN 1 ELSE 0 END AS ns
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  count(*)::BIGINT AS n_events,
         |  (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us,
         |  ${rnd("sum(value)", 2)} AS session_value
         |FROM s GROUP BY user_id, sid""".stripMargin,

    // the q92 funnel x the q53/q83 near-dup clustering: per-source corpus
    // retention after quality AND dedup
    "q96_curation_pipeline" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
         |$funnelCtes,
         |ranked AS (SELECT c.component_id, c.doc_id,
         |    row_number() OVER (PARTITION BY c.component_id
         |      ORDER BY fl.q DESC, c.doc_id ASC) AS rn
         |  FROM comp c JOIN flags fl USING (doc_id)),
         |dup_dropped AS (SELECT doc_id FROM ranked WHERE rn > 1),
         |fun AS (SELECT f.doc_id, f.source,
         |    (f.q >= 0.5 AND f.lang_pred = 'en' AND NOT r.repetitive) AS pass_funnel
         |  FROM flags f JOIN frepet r USING (doc_id))
         |SELECT f.source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN pass_funnel THEN 1 ELSE 0 END)::BIGINT AS n_funnel,
         |  sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_dropped,
         |  sum(CASE WHEN pass_funnel AND dd.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_final
         |FROM fun f LEFT JOIN dup_dropped dd USING (doc_id)
         |GROUP BY f.source""".stripMargin,

    // classification by direct column comparison == the Spark side's md5
    // fingerprint equality (fingerprints are injective per engine short of
    // an md5 collision inside the table)
    "q97_snapshot_diff" ->
      """WITH newc AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 97 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 103 = 0),
        |j AS (SELECT
        |    CASE WHEN o.c_custkey IS NULL THEN 'added'
        |         WHEN n.c_custkey IS NULL THEN 'removed'
        |         WHEN o.c_name IS DISTINCT FROM n.c_name
        |           OR o.c_nationkey IS DISTINCT FROM n.c_nationkey
        |           OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |           OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
        |         THEN 'changed' ELSE 'unchanged' END AS change_type
        |  FROM customer o FULL OUTER JOIN newc n USING (c_custkey))
        |SELECT change_type, count(*)::BIGINT AS n_keys
        |FROM j GROUP BY change_type""".stripMargin,

    // min/max stringified with each engine's shortest-repr double / ISO
    // timestamp cast (identical for these value shapes)
    "q98_column_profile" -> {
      def profile(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
        .map(profile).mkString("\nUNION ALL\n")
    },

    // in-word adjacent char pairs, counted corpus-wide (BPE merge round 1)
    "q99_bpe_pairs" ->
      s"""WITH words AS (SELECT unnest($toksExpr) AS w FROM documents),
         |fw AS (SELECT w FROM words WHERE length(w) >= 2),
         |pairs AS (SELECT unnest(list_transform(
         |    generate_series(1, length(w) - 1), i -> substr(w, i, 2))) AS pair
         |  FROM fw),
         |counts AS (SELECT pair, count(*) AS n_occ FROM pairs GROUP BY 1)
         |SELECT pair, n_occ::BIGINT AS n_occ,
         |  row_number() OVER (ORDER BY n_occ DESC, pair ASC)::BIGINT AS rank
         |FROM counts QUALIFY rank <= 20""".stripMargin,

    // integer-quantized temperature weights: every threshold is exact
    // BIGINT arithmetic, so both engines agree bit-for-bit (pow(n, 0.5) of
    // an integer is the correctly-rounded sqrt in both)
    "q100_temperature_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |cw AS (SELECT source, n,
         |    floor(pow(n::DOUBLE, 0.5) * 1000)::BIGINT AS w FROM c),
         |tot AS (SELECT sum(w) AS tw FROM cw),
         |tgt AS (SELECT greatest(1, count(*) * 2 // 5) AS t FROM documents),
         |rates AS (SELECT source, n,
         |    least(10000, (tgt.t * w * 10000) // (tot.tw * n))::BIGINT AS permille
         |  FROM cw CROSS JOIN tot CROSS JOIN tgt)
         |SELECT d.source, max(r.n)::BIGINT AS n_docs,
         |  max(r.permille)::BIGINT AS permille,
         |  sum(CASE WHEN ${h32("d.doc_id::VARCHAR")} % 10000 < r.permille
         |    THEN 1 ELSE 0 END)::BIGINT AS n_kept
         |FROM documents d JOIN rates r USING (source)
         |GROUP BY d.source""".stripMargin,

    // Morton interleave is unrolled integer arithmetic on both sides; the
    // 16-way cut replays histogramBuckets' cumulative-count formula (q75)
    "q101_zorder" -> {
      val interleave = (0 until 6).map(i =>
        s"(((qa >> $i) & 1) * ${1L << (2 * i)} + ((qb >> $i) & 1) * ${1L << (2 * i + 1)})")
        .mkString(" + ")
      s"""WITH s AS (SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs
         |  FROM lineitem),
         |q AS (SELECT (l_partkey * 64) // (maxp + 1) AS qa,
         |    (l_suppkey * 64) // (maxs + 1) AS qb
         |  FROM lineitem CROSS JOIN s),
         |z AS (SELECT qa, qb, ($interleave) AS zv FROM q),
         |counts AS (SELECT zv, count(*) AS cnt FROM z GROUP BY 1),
         |cum AS (SELECT zv, cnt,
         |    sum(cnt) OVER (ORDER BY zv ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS n FROM counts),
         |b AS (SELECT zv, least(15, ((cum - cnt) * 16) // n)::BIGINT AS bucket
         |  FROM cum),
         |j AS (SELECT z.qa, z.qb, b.bucket FROM z JOIN b USING (zv))
         |SELECT bucket, count(*)::BIGINT AS n_rows,
         |  min(qa)::BIGINT AS min_a, max(qa)::BIGINT AS max_a,
         |  min(qb)::BIGINT AS min_b, max(qb)::BIGINT AS max_b
         |FROM j GROUP BY 1""".stripMargin
    },

    // three unrolled power iterations with the identical operand order;
    // per-node inflow sums are tiny (degree-bounded), drift << the 5e-7
    // rounding granularity
    "q102_pagerank" -> {
      def iter(prev: String, out: String) =
        s"""c$out AS (SELECT e.dst AS node, sum(r.pr / d.degree) AS inflow
           |  FROM edges e JOIN $prev r ON r.node = e.src
           |  JOIN deg d ON d.node = e.src GROUP BY 1),
           |$out AS (SELECT deg.node,
           |    (1.0 - 0.85) / nn.n + 0.85 * coalesce(c$out.inflow, 0.0) AS pr
           |  FROM deg CROSS JOIN nn LEFT JOIN c$out USING (node))""".stripMargin
      s"""WITH wins AS (SELECT DISTINCT doc_id, md5(substring(text, p + 1, 64)) AS h
         |  FROM documents, unnest(range(0, length(text) - 64 + 1, 32)) AS u(p)
         |  WHERE length(text) >= 64),
         |rare AS (SELECT h FROM wins GROUP BY h HAVING count(*) <= 1000),
         |pruned AS (SELECT w.doc_id, w.h FROM wins w JOIN rare USING (h)),
         |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pruned a JOIN pruned b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION SELECT id_b, id_a FROM prs),
         |deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
         |r0 AS (SELECT node, 1.0 / nn.n AS pr FROM deg CROSS JOIN nn),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT d.node, d.degree::BIGINT AS degree, ${rnd("r3.pr", 6)} AS rank
         |FROM deg d JOIN r3 ON r3.node = d.node""".stripMargin
    },

    // numeric RANGE frame on epoch micros == Spark's rangeBetween on
    // unix_micros; tied timestamps are frame-symmetric by definition
    "q103_range_frame" ->
      s"""SELECT event_id, event_type,
         |  count(*) OVER w::BIGINT AS trailing_n,
         |  ${rnd("sum(value) OVER w", 2)} AS trailing_sum
         |FROM events
         |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // schema-evolution union: missing columns are explicit NULLs
    "q104_schema_union" ->
      """SELECT c_custkey, c_name, c_acctbal, 'v1' AS batch,
        |  NULL::VARCHAR AS c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, NULL::DOUBLE, 'v2', c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin,

    // Spark dayofweek is 1=Sunday; DuckDB dayofweek/dow is 0=Sunday
    "q105_date_funcs" ->
      """WITH d AS (SELECT DISTINCT l_shipdate::DATE AS d FROM lineitem)
        |SELECT d::VARCHAR AS ship_date,
        |  date_trunc('month', d)::DATE::VARCHAR AS month_start,
        |  last_day(d)::VARCHAR AS month_end,
        |  (d + INTERVAL 30 DAY)::DATE::VARCHAR AS plus_30,
        |  date_diff('day', DATE '1994-01-01', d)::BIGINT
        |    AS days_since_epoch_start,
        |  (dayofweek(d) + 1)::BIGINT AS dow,
        |  quarter(d)::BIGINT AS qtr
        |FROM d""".stripMargin,

    // same portable-hash sample, same lag formulation — exact integers
    "q106_sequence_gaps" ->
      s"""WITH sampled AS (SELECT DISTINCT event_id AS id FROM events
         |  WHERE event_id IS NOT NULL
         |    AND ${h32("event_id::VARCHAR")} % 10000 < 9300),
         |g AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM sampled)
         |SELECT (prev + 1)::BIGINT AS gap_start, (id - 1)::BIGINT AS gap_end,
         |  (id - prev - 1)::BIGINT AS gap_len
         |FROM g WHERE prev IS NOT NULL AND id - prev > 1""".stripMargin,

    // Lloyd k-means unrolled (init = first 4 vectors in vec_id order, 2
    // rounds), mirroring Similarity.trainCentroids exactly: assignment is
    // argmax cosine with DOUBLE accumulation over FLOAT inputs (ties ->
    // lowest cid, like the first-strictly-greater Java loop), the new
    // centroid is the per-dimension DOUBLE mean truncated to FLOAT, and an
    // empty cluster keeps its previous coordinates. Summation-order fp noise
    // (~1e-16 rel) is harmless: cosine gaps between distinct centroids are
    // ~1e-2, and the float truncation collapses the mean before it feeds
    // round 2. No zero-norm guard needed — the corpus is unit-normalized.
    "q107_kmeans_train" -> {
      val dim = 64
      def iter(cin: String, cout: String) =
        s"""cn$cout AS (SELECT cid, c,
           |    sqrt(list_sum(list_transform(c, x -> x::DOUBLE * x::DOUBLE))) AS nrm
           |  FROM $cin),
           |sc$cout AS (SELECT e.vec_id, n.cid,
           |    list_sum(list_transform(generate_series(1, $dim),
           |      i -> e.embedding[i]::DOUBLE * n.c[i]::DOUBLE))
           |      / (qn.nrm * n.nrm) AS cos
           |  FROM e CROSS JOIN cn$cout n JOIN qn USING (vec_id)),
           |a$cout AS (SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
           |    FROM sc$cout) WHERE rn = 1),
           |m$cout AS (SELECT a.cid, p.i - 1 AS pos, avg(e.embedding[p.i])::FLOAT AS m
           |  FROM a$cout a JOIN e USING (vec_id) CROSS JOIN p GROUP BY 1, 2),
           |$cout AS (SELECT c.cid, list(coalesce(m.m, c.c[p.i]) ORDER BY p.i) AS c
           |  FROM $cin c CROSS JOIN p
           |  LEFT JOIN m$cout m ON m.cid = c.cid AND m.pos = p.i - 1
           |  GROUP BY 1)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (SELECT unnest(generate_series(1, $dim)) AS i),
         |qn AS (SELECT vec_id,
         |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM e),
         |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cid,
         |    embedding AS c
         |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4)),
         |${iter("c0", "c1")},
         |${iter("c1", "c2")}
         |SELECT c2.cid::BIGINT AS cid, (p.i - 1)::BIGINT AS pos,
         |  ${rnd("c2.c[p.i]::DOUBLE", 5)} AS c
         |FROM c2 CROSS JOIN p""".stripMargin
    },

    // 64-bit simhash replayed bit-for-bit (hash64 = first 16 md5 hex chars;
    // UBIGINT keeps the top bit unsigned like Java's >>> loop), then
    // BRUTE-FORCE all-pairs Hamming <= 3 — deliberately not banded, so this
    // row doubles as the recall proof for the banding in the Spark twin
    "q108_simhash64_neardups" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |hs AS (SELECT doc_id,
        |    list_transform(t, x -> ('0x' || substr(md5(x), 1, 16))::UBIGINT) AS hashes
        |  FROM toks),
        |sigs AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN list_sum(list_transform(hashes, h ->
        |             CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |           THEN (1::HUGEINT << j) ELSE 0::HUGEINT END))::UBIGINT AS sig
        |  FROM hs)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,

    // q35 (r15, FakeCodec retired): header metadata over the REAL
    // container fixtures across the full HeaderCodec surface. Dims and
    // channel counts are the generator's own fields (gen_image_fixtures
    // .py / the r13 container builders); n_bytes are the committed file
    // sizes — all decoder-independent.
    "q35_multimodal_meta" ->
      s"""WITH f(img_key, name, n_bytes, width, height, channels)
         |  AS (VALUES
         |  (0::BIGINT, 'alpha_12x5.webp', 30, 12, 5, 4),
         |  (1::BIGINT, 'extended_640x360.webp', 30, 640, 360, 4),
         |  (2::BIGINT, 'gray_1x1.jpg', 159, 1, 1, 1),
         |  (3::BIGINT, 'gray_5x7.png', 108, 5, 7, 1),
         |  (4::BIGINT, 'lossless_33x21.webp', 30, 33, 21, 3),
         |  (5::BIGINT, 'lossy_17x9.webp', 38, 17, 9, 3),
         |  (6::BIGINT, 'pixel_1x1.gif', 35, 1, 1, 3),
         |  (7::BIGINT, 'progressive_640x480.jpg', 3768, 640, 480, 3),
         |  (8::BIGINT, 'rgb_3x2.png', 85, 3, 2, 3),
         |  (9::BIGINT, 'rgb_4x3.bmp', 90, 4, 3, 3),
         |  (10::BIGINT, 'rgb_6x2.tif', 176, 6, 2, 3),
         |  (11::BIGINT, 'rgba_4x4.png', 133, 4, 4, 4),
         |  (12::BIGINT, 'rot90_2x6.tif', 188, 2, 6, 3),
         |  (13::BIGINT, 'topdown_5x4.bmp', 118, 5, 4, 3),
         |  (14::BIGINT, 'wide_300x200.gif', 35, 300, 200, 3),
         |  (15::BIGINT, 'ycbcr_8x16.jpg', 170, 8, 16, 3)),
         |c AS (SELECT doc_id % 16 AS img_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.img_key, f.name, c.n_docs, f.n_bytes::INT AS n_bytes,
         |  f.width::INT AS width, f.height::INT AS height,
         |  f.channels::INT AS channels
         |FROM c JOIN f USING (img_key)""".stripMargin,

    // blocked Jaro-Winkler linkage over canonical part names; DuckDB's
    // jaro_winkler_similarity IS the byte-based floored-transposition
    // variant the graft expression pins (StringSimilaritySpec fixture)
    "q191_jaro_linkage" ->
      s"""WITH canon AS (SELECT p_name AS name, min(p_partkey) AS id
         |  FROM part GROUP BY 1),
         |b AS (SELECT id, name, string_split(name, ' ')[-1] AS blk FROM canon),
         |p AS (SELECT a.id AS id_a, b2.id AS id_b,
         |    a.name AS name_a, b2.name AS name_b,
         |    jaro_winkler_similarity(a.name, b2.name) AS jw
         |  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id)
         |SELECT id_a, id_b, name_a, name_b, ${rnd("jw", 4)} AS jw
         |FROM p WHERE jw >= 0.8""".stripMargin,

    // same blocks, unrestricted Damerau-Levenshtein <= 4 with Levenshtein
    // alongside (dl < lev rows = transposition-involving matches)
    "q192_damerau_linkage" ->
      s"""WITH canon AS (SELECT p_name AS name, min(p_partkey) AS id
         |  FROM part GROUP BY 1),
         |b AS (SELECT id, name, string_split(name, ' ')[-1] AS blk FROM canon)
         |SELECT a.id AS id_a, b2.id AS id_b,
         |  damerau_levenshtein(a.name, b2.name)::BIGINT AS dl,
         |  levenshtein(a.name, b2.name)::BIGINT AS lev
         |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
         |WHERE damerau_levenshtein(a.name, b2.name) <= 4""".stripMargin,

    // brute-force all-pairs 3-shingle Jaccard: equality with the Spark
    // side IS the prefix filter's exact-recall proof on this corpus
    "q193_prefix_jaccard" ->
      s"""WITH t0 AS (SELECT doc_id AS id, $toksExpr AS tk FROM documents),
         |t AS (SELECT id, list_distinct(${shinglesExpr("tk", 3)}) AS toks
         |  FROM t0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |    len(list_intersect(a.toks, b.toks))::DOUBLE
         |      / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE AS jaccard
         |  FROM t a JOIN t b ON a.id < b.id
         |  WHERE len(a.toks) > 0 AND len(b.toks) > 0)
         |SELECT id_a, id_b, ${rnd("jaccard", 3)} AS jaccard
         |FROM p WHERE jaccard >= 0.5""".stripMargin,

    // CUSUM changepoint: every fp value divides exact integer sums, so the
    // running chart replays bit-for-bit; tie on |S| -> earliest day
    "q194_cusum_changepoint" ->
      s"""WITH daily AS (SELECT event_type AS k, date_trunc('day', ts) AS day,
         |    count(*) AS cnt FROM events GROUP BY 1, 2),
         |st AS (SELECT k, sum(cnt)::BIGINT AS tot,
         |    sum(cnt * cnt)::BIGINT AS totsq, count(*)::BIGINT AS n_days
         |  FROM daily GROUP BY 1),
         |s AS (SELECT d.k, d.day, st.tot, st.totsq, st.n_days,
         |    row_number() OVER (PARTITION BY d.k ORDER BY d.day) AS t,
         |    sum(d.cnt) OVER (PARTITION BY d.k ORDER BY d.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM daily d JOIN st ON st.k = d.k),
         |sv AS (SELECT k, day, tot, totsq, n_days,
         |    run::DOUBLE - t * (tot::DOUBLE / n_days) AS sval FROM s),
         |pick AS (SELECT k, day, sval, tot, totsq, n_days,
         |    row_number() OVER (PARTITION BY k
         |      ORDER BY abs(sval) DESC, day ASC) AS r FROM sv)
         |SELECT k AS event_type, n_days, strftime(day, '%Y-%m-%d') AS change_day,
         |  ${rnd("sval", 4)} AS s_at_change,
         |  ${rnd("tot::DOUBLE / n_days", 4)} AS daily_mean,
         |  CASE WHEN totsq * n_days = tot * tot THEN NULL
         |    ELSE ${rnd("abs(sval) / (sqrt(totsq::DOUBLE / n_days - " +
           "(tot::DOUBLE / n_days) * (tot::DOUBLE / n_days)) * sqrt(n_days::DOUBLE))", 4)}
         |    END AS cusum_stat
         |FROM pick WHERE r = 1""".stripMargin,

    // 2-core by 4 unrolled peel rounds over the q155 edge generator; the
    // brute-force Hamming pairs equal the Spark block-combination pairs
    // (exact recall at maxHamming 7), and convergence makes the extra
    // rounds no-ops on both sides
    "q195_kcore" -> {
      val peels = (1 to 4).map { r =>
        val prev = s"e${r - 1}"
        s"""k$r AS (SELECT s FROM $prev GROUP BY s HAVING count(*) >= 2),
           |e$r AS (SELECT e.s, e.d FROM $prev e
           |  JOIN k$r a ON e.s = a.s JOIN k$r b ON e.d = b.s)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${simhash64PairsCtes(7)},
         |e0 AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |$peels
         |SELECT s AS doc_id, count(*)::BIGINT AS core_degree,
         |  count(*) >= 2 AS stable
         |FROM e4 GROUP BY s""".stripMargin
    },

    // Cohen's kappa: all fp values divide exact integer sums (sum of
    // ca*cb longs), immune to aggregation fold order
    "q196_label_kappa" ->
      s"""WITH l AS (SELECT (n_chars >= 300)::VARCHAR AS a,
         |    ($tokenCountExpr >= 40)::VARCHAR AS b FROM documents),
         |base AS (SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT AS matches FROM l),
         |ma AS (SELECT a AS label, count(*)::BIGINT AS ca FROM l GROUP BY 1),
         |mb AS (SELECT b AS label, count(*)::BIGINT AS cb FROM l GROUP BY 1),
         |cx AS (SELECT coalesce(sum(ca * cb), 0)::BIGINT AS cxc
         |  FROM ma JOIN mb USING (label))
         |SELECT n, ${rnd("matches::DOUBLE / n", 4)} AS po,
         |  ${rnd("cxc::DOUBLE / (n * n)", 4)} AS pe,
         |  CASE WHEN cxc::DOUBLE / (n * n) = 1.0 THEN NULL
         |    ELSE ${rnd("(matches::DOUBLE / n - cxc::DOUBLE / (n * n)) / " +
           "(1.0 - cxc::DOUBLE / (n * n))", 4)} END AS kappa
         |FROM base CROSS JOIN cx""".stripMargin,

    // rolling 7-day HLL: q60's register pipeline per DAY, max-merged into
    // each window ending on an observed day; exact count alongside
    "q197_rolling_hll" -> {
      val m = 256
      val maxRho = graft.operators.Sketches.hllMaxRho(m)
      val c = graft.operators.Sketches.hllScaleC(m)
      s"""WITH h AS (SELECT ts::DATE AS day,
         |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |regs AS (SELECT day, h & ${m - 1} AS reg,
         |    max(CASE WHEN h >> 8 = 0 THEN $maxRho
         |             ELSE $maxRho - length(bin(h >> 8)) END) AS rho
         |  FROM h GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day FROM regs),
         |merged AS (SELECT d.day AS wend, r.reg, max(r.rho) AS rho
         |  FROM regs r JOIN days d ON d.day BETWEEN r.day AND r.day + 6
         |  GROUP BY 1, 2),
         |s AS (SELECT wend, count(*) AS np,
         |    sum(1::BIGINT << ($maxRho - rho))::BIGINT AS scaled
         |  FROM merged GROUP BY 1),
         |e AS (SELECT wend, np,
         |    (scaled + ($m - np) * (1::BIGINT << $maxRho))::DOUBLE AS total FROM s),
         |est AS (SELECT wend,
         |    CASE WHEN ($c)::DOUBLE / total <= ${2.5 * m} AND np < $m
         |         THEN ($m.0)::DOUBLE * ln(($m.0)::DOUBLE / ($m - np))
         |         ELSE ($c)::DOUBLE / total END AS est
         |  FROM e),
         |dv AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |exact AS (SELECT d.day AS wend,
         |    count(DISTINCT dv.user_id)::BIGINT AS exact_distinct,
         |    count(DISTINCT dv.day)::BIGINT AS n_days
         |  FROM dv JOIN days d ON d.day BETWEEN dv.day AND dv.day + 6
         |  GROUP BY 1)
         |SELECT strftime(wend, '%Y-%m-%d') AS window_end, n_days,
         |  exact_distinct, coalesce(${rnd("est", 2)}, 0.0) AS hll_distinct
         |FROM exact LEFT JOIN est USING (wend)""".stripMargin
    },

    // lead-lag Pearson from integer sums over the zero-filled spine;
    // integer zero-variance guard -> null r
    "q198_leadlag_corr" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS cnt FROM events
         |  WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
         |spine AS (SELECT unnest(generate_series(
         |    (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
         |    INTERVAL 1 DAY))::DATE AS day),
         |a AS (SELECT s.day, coalesce(d.cnt, 0) AS ca FROM spine s
         |  LEFT JOIN daily d ON d.day = s.day AND d.k = 'click'),
         |b AS (SELECT s.day, coalesce(d.cnt, 0) AS cb FROM spine s
         |  LEFT JOIN daily d ON d.day = s.day AND d.k = 'purchase'),
         |lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
         |p AS (SELECT l.lag, a.ca, b.cb FROM a CROSS JOIN lags l
         |  JOIN b ON b.day = a.day + l.lag::INT),
         |sums AS (SELECT lag, count(*)::BIGINT AS n, sum(ca)::BIGINT AS sa,
         |    sum(cb)::BIGINT AS sb, sum(ca * ca)::BIGINT AS saa,
         |    sum(cb * cb)::BIGINT AS sbb, sum(ca * cb)::BIGINT AS sab
         |  FROM p GROUP BY 1)
         |SELECT lag::INT AS lag, n,
         |  CASE WHEN n * saa - sa * sa = 0 OR n * sbb - sb * sb = 0 THEN NULL
         |    ELSE ${rnd("(n * sab - sa * sb)::DOUBLE / " +
           "(sqrt((n * saa - sa * sa)::DOUBLE) * sqrt((n * sbb - sb * sb)::DOUBLE))", 4)}
         |    END AS r
         |FROM sums""".stripMargin,

    // categorical MI in the q143 PSI report shape: per-cell terms from
    // exact integer counts + the broadcast total
    "q199_mutual_info" ->
      s"""WITH cells AS (SELECT source AS a, lang AS b, count(*)::BIGINT AS n_ab
         |  FROM documents GROUP BY 1, 2),
         |ma AS (SELECT a, sum(n_ab)::BIGINT AS n_a FROM cells GROUP BY 1),
         |mb AS (SELECT b, sum(n_ab)::BIGINT AS n_b FROM cells GROUP BY 1),
         |n AS (SELECT sum(n_ab)::BIGINT AS n FROM cells),
         |terms AS (SELECT c.a, c.b, c.n_ab,
         |    (c.n_ab::DOUBLE / n.n) * ln((n.n::DOUBLE * c.n_ab)
         |      / (ma.n_a::DOUBLE * mb.n_b)) AS term
         |  FROM cells c JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN n),
         |tot AS (SELECT sum(term) AS mi FROM terms)
         |SELECT a, b, n_ab, ${rnd("term", 6)} AS mi_term,
         |  ${rnd("(SELECT mi FROM tot)", 6)} AS mi_total
         |FROM terms""".stripMargin,

    // quantile normalization: integer ceil-rank mapping onto the pooled
    // order statistics; ties broken by doc_id on both rank sides
    "q200_quantile_norm" ->
      s"""WITH pooled AS (SELECT n_chars AS norm_value,
         |    row_number() OVER (ORDER BY n_chars, doc_id) AS target_rank
         |  FROM documents),
         |n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |ranked AS (SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id)::BIGINT AS r,
         |    count(*) OVER (PARTITION BY source)::BIGINT AS n_g
         |  FROM documents)
         |SELECT doc_id, source, n_chars, r AS group_rank, norm_value
         |FROM ranked CROSS JOIN n
         |JOIN pooled ON pooled.target_rank = (r * n.n + n_g - 1) // n_g""".stripMargin,

    // day-of-week baseline: expected divides exact integer sums; residual
    // subtracts the UNROUNDED expected (both sides)
    "q201_seasonal_residuals" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
         |d2 AS (SELECT k, day, cnt, (dayofweek(day) + 1)::INT AS dow FROM daily),
         |prof AS (SELECT k, dow, sum(cnt)::BIGINT AS tot,
         |    count(*)::BIGINT AS n_days FROM d2 GROUP BY 1, 2)
         |SELECT d2.k AS event_type, strftime(d2.day, '%Y-%m-%d') AS day,
         |  d2.dow, d2.cnt, ${rnd("tot::DOUBLE / n_days", 4)} AS expected,
         |  ${rnd("d2.cnt::DOUBLE - tot::DOUBLE / n_days", 4)} AS residual
         |FROM d2 JOIN prof USING (k, dow)""".stripMargin,

    // golden records: q53's recursive-CTE components (+ singletons), one
    // arg-max per survivorship field (rank DESC, id ASC = the Spark
    // max(struct(rank, -id)) tie rule)
    "q202_golden_records" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id FROM reach GROUP BY n),
         |labeled AS (SELECT d.doc_id,
         |    coalesce(c.component_id, d.doc_id) AS component_id
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |j AS (SELECT l.component_id, d.doc_id, d.text, d.source, d.n_chars
         |  FROM documents d JOIN labeled l USING (doc_id)),
         |wt AS (SELECT component_id, text, doc_id, row_number() OVER (
         |    PARTITION BY component_id ORDER BY n_chars DESC, doc_id ASC) AS r
         |  FROM j),
         |ws AS (SELECT component_id, source, doc_id, row_number() OVER (
         |    PARTITION BY component_id ORDER BY doc_id ASC) AS r FROM j),
         |base AS (SELECT component_id, count(*)::BIGINT AS n_members,
         |    min(doc_id) AS canonical_id FROM j GROUP BY 1)
         |SELECT b.component_id, b.n_members, b.canonical_id,
         |  wt.text AS golden_text, wt.doc_id AS text_from,
         |  ws.source AS golden_source, ws.doc_id AS source_from
         |FROM base b
         |JOIN wt ON wt.component_id = b.component_id AND wt.r = 1
         |JOIN ws ON ws.component_id = b.component_id AND ws.r = 1""".stripMargin,

    // one-scan rule report: NULL predicate results count as failures
    "q203_dq_rules" ->
      s"""WITH agg AS (SELECT count(*)::BIGINT AS n,
         |  sum(CASE WHEN coalesce(l_orderkey IS NOT NULL, false)
         |      THEN 0 ELSE 1 END)::BIGINT AS f1,
         |  sum(CASE WHEN coalesce(l_quantity >= 1 AND l_quantity <= 50, false)
         |      THEN 0 ELSE 1 END)::BIGINT AS f2,
         |  sum(CASE WHEN coalesce(l_discount >= 0.0 AND l_discount <= 0.1, false)
         |      THEN 0 ELSE 1 END)::BIGINT AS f3,
         |  sum(CASE WHEN coalesce(l_extendedprice < 20000.0, false)
         |      THEN 0 ELSE 1 END)::BIGINT AS f4,
         |  sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), false)
         |      THEN 0 ELSE 1 END)::BIGINT AS f5
         |  FROM lineitem),
         |rows_(rule, n_fail_col) AS (VALUES
         |  ('orderkey_not_null', 1), ('quantity_in_1_50', 2),
         |  ('discount_in_0_01', 3), ('price_under_20k', 4), ('flag_domain', 5))
         |SELECT rule, n AS n_rows,
         |  CASE n_fail_col WHEN 1 THEN f1 WHEN 2 THEN f2 WHEN 3 THEN f3
         |    WHEN 4 THEN f4 ELSE f5 END AS n_fail,
         |  ${rnd("(CASE n_fail_col WHEN 1 THEN f1 WHEN 2 THEN f2 WHEN 3 THEN f3 " +
           "WHEN 4 THEN f4 ELSE f5 END)::DOUBLE / n", 6)} AS fail_rate
         |FROM rows_ CROSS JOIN agg""".stripMargin,

    // orphaned FKs: NOT EXISTS per relationship (NULL child keys orphan)
    "q204_ri_orphans" -> {
      def rel(name: String, child: String, ck: String, parent: String,
              pk: String): String =
        s"""SELECT '$name' AS relationship,
           |  (SELECT count(*) FROM $child)::BIGINT AS n_child,
           |  (SELECT count(*) FROM $child c WHERE NOT EXISTS
           |    (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))::BIGINT
           |    AS n_orphans""".stripMargin
      s"""WITH rels AS (
         |${rel("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
         |UNION ALL
         |${rel("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
         |UNION ALL
         |${rel("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")})
         |SELECT relationship, n_child, n_orphans,
         |  ${rnd("n_orphans::DOUBLE / n_child", 6)} AS orphan_rate
         |FROM rels""".stripMargin
    },

    // freshness: exact integer micros under the lag arithmetic
    "q205_freshness" ->
      s"""WITH g AS (SELECT event_type,
         |    max(epoch_us(ts))::BIGINT AS last_us, count(*)::BIGINT AS n_rows
         |  FROM events GROUP BY 1),
         |gm AS (SELECT max(last_us) AS global_us FROM g)
         |SELECT event_type,
         |  strftime(make_timestamp(last_us), '%Y-%m-%d %H:%M:%S') AS last_ts,
         |  n_rows, (global_us - last_us) // 1000000 AS lag_seconds
         |FROM g CROSS JOIN gm""".stripMargin,

    // blocking-key pre-flight: Σ b(b-1)/2 per candidate, exact longs
    "q206_block_profile" -> {
      def cand(name: String, keyExpr: String): String =
        s"""SELECT '$name' AS block_key, s.n_rows, s.null_keys,
           |  b.n_blocks, b.max_block, b.est_pairs,
           |  ${rnd("b.est_pairs::DOUBLE / greatest(s.n_rows, 1)", 2)}
           |    AS pairs_per_row
           |FROM (SELECT count(*)::BIGINT AS n_rows,
           |    sum(CASE WHEN $keyExpr IS NULL THEN 1 ELSE 0 END)::BIGINT
           |      AS null_keys FROM canon) s
           |CROSS JOIN (SELECT count(*)::BIGINT AS n_blocks,
           |    coalesce(max(cb), 0)::BIGINT AS max_block,
           |    coalesce(sum(cb * (cb - 1) // 2), 0)::BIGINT AS est_pairs
           |  FROM (SELECT count(*)::BIGINT AS cb FROM canon
           |    WHERE $keyExpr IS NOT NULL GROUP BY $keyExpr)) b""".stripMargin
      s"""WITH canon AS (SELECT p_name AS name, min(p_partkey) AS id
         |  FROM part GROUP BY 1)
         |${cand("first_token", "string_split(name, ' ')[1]")}
         |UNION ALL
         |${cand("last_token", "string_split(name, ' ')[-1]")}
         |UNION ALL
         |${cand("first_char", "substr(name, 1, 1)")}""".stripMargin
    },

    // Wilson 95% interval: the formula tree mirrors the Spark column
    // expression exactly (same literals, same association) so the doubles
    // replay bit-for-bit
    "q207_wilson_rates" ->
      s"""WITH agg AS (SELECT source, count(*)::BIGINT AS n,
         |    sum(CASE WHEN coalesce(n_chars >= 300, false) THEN 1 ELSE 0
         |      END)::BIGINT AS k
         |  FROM documents GROUP BY 1),
         |t AS (SELECT source, n, k, n::DOUBLE AS nd,
         |    k::DOUBLE / n::DOUBLE AS p FROM agg)
         |SELECT source, n, k, ${rnd("p", 6)} AS rate,
         |  ${rnd("(p + (1.96 * 1.96) / (2.0 * nd) - 1.96 * sqrt(p * (1.0 - p) / nd " +
           "+ (1.96 * 1.96) / (4.0 * nd * nd))) / (1.0 + (1.96 * 1.96) / nd)", 6)}
         |    AS wilson_lo,
         |  ${rnd("(p + (1.96 * 1.96) / (2.0 * nd) + 1.96 * sqrt(p * (1.0 - p) / nd " +
           "+ (1.96 * 1.96) / (4.0 * nd * nd))) / (1.0 + (1.96 * 1.96) / nd)", 6)}
         |    AS wilson_hi
         |FROM t""".stripMargin,

    // decile lift/gains: q75's exact equal-frequency binning on the
    // quality score, decile 1 = highest scores, integer counts throughout
    "q208_lift_table" -> {
      val qExpr = rnd(s"least($tokenCountExpr::DOUBLE / 100.0, 1.0) * 0.4 + " +
        s"least($stopwordRatioExpr * 4.0, 1.0) * 0.4 + " +
        s"greatest(1.0 - $punctRatioExpr * 5.0, 0.0) * 0.2", 4)
      s"""WITH scored AS (SELECT $qExpr AS q,
         |    coalesce(n_chars >= 300, false) AS y FROM documents),
         |counts AS (SELECT q, count(*) AS cnt FROM scored GROUP BY 1),
         |cum AS (SELECT q, cnt,
         |    sum(cnt) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS cumn,
         |    sum(cnt) OVER () AS n FROM counts),
         |b AS (SELECT q,
         |    least(9, ((cumn - cnt) * 10) // n)::BIGINT AS bucket FROM cum),
         |j AS (SELECT s.q, s.y, (10 - b.bucket)::BIGINT AS decile
         |  FROM scored s JOIN b USING (q)),
         |per AS (SELECT decile, count(*)::BIGINT AS n,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS k
         |  FROM j GROUP BY 1),
         |c AS (SELECT decile, n, k,
         |    sum(k) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW)::BIGINT AS cum_k,
         |    sum(n) OVER ()::BIGINT AS tot_n, sum(k) OVER ()::BIGINT AS tot_k
         |  FROM per)
         |SELECT decile, n, k, ${rnd("k::DOUBLE / n", 6)} AS rate,
         |  CASE WHEN tot_k = 0 THEN NULL
         |    ELSE ${rnd("(k::DOUBLE / n) / (tot_k::DOUBLE / tot_n)", 4)} END AS lift,
         |  CASE WHEN tot_k = 0 THEN NULL
         |    ELSE ${rnd("cum_k::DOUBLE / tot_k", 6)} END AS capture
         |FROM c""".stripMargin
    },

    // chi-squared from observed cells only: every zero cell contributes
    // exactly its expectation e, and sum(e) over the full grid is n, so
    // chi2 = sum_observed((o-e)^2/e - e) + n; HUGEINT sums cast ::BIGINT
    "q209_chi2_independence" -> {
      val e = "ra::DOUBLE * cb::DOUBLE / n::DOUBLE"
      s"""WITH base AS (SELECT source::VARCHAR AS a, lang::VARCHAR AS b
         |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL),
         |cells AS (SELECT a, b, count(*)::BIGINT AS o FROM base GROUP BY 1, 2),
         |rt AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY 1),
         |ct AS (SELECT b, sum(o)::BIGINT AS cb FROM cells GROUP BY 1),
         |dims AS (SELECT sum(o)::BIGINT AS n,
         |    count(DISTINCT a)::BIGINT AS r, count(DISTINCT b)::BIGINT AS c
         |  FROM cells),
         |contrib AS (SELECT coalesce(sum(
         |    pow(o::DOUBLE - $e, 2) / ($e) - ($e)), 0.0) AS t_sum
         |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN dims)
         |SELECT n, r, c, ((r - 1) * (c - 1))::BIGINT AS dof,
         |  ${rnd("t_sum + n::DOUBLE", 6)} AS chi2,
         |  CASE WHEN least(r, c) - 1 <= 0 THEN NULL
         |    ELSE ${rnd("sqrt((t_sum + n::DOUBLE) / " +
           "(n::DOUBLE * (least(r, c) - 1)::DOUBLE))", 6)} END AS cramers_v
         |FROM dims CROSS JOIN contrib""".stripMargin
    },

    // BH step-up over the q175 KS sweep: asymptotic p = 2*exp(-2 D^2 ne)
    // on the ROUNDED ks_stat (both engines), q_i = min_{j>=i}(m p_j / j)
    // via the reversed running min, decisions from the rounded q
    "q210_drift_fdr" -> {
      val pExpr = "least(1.0, 2.0 * exp(-2.0 * ks_stat * ks_stat * " +
        "((n_a::DOUBLE * n_b::DOUBLE) / (n_a + n_b)::DOUBLE)))"
      s"""WITH base AS (SELECT source::VARCHAR AS g, n_chars::DOUBLE AS v
         |  FROM documents WHERE n_chars IS NOT NULL),
         |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
         |binned AS (SELECT g,
         |    least(31, greatest(0, floor((v - lo) /
         |      (CASE WHEN (hi - lo) / 32 > 0 THEN (hi - lo) / 32
         |            ELSE 1.0 END))::BIGINT)) AS bin,
         |    count(*) AS cnt
         |  FROM base CROSS JOIN mm GROUP BY 1, 2),
         |dense AS (SELECT g, b.bin, coalesce(cnt, 0) AS cnt
         |  FROM (SELECT DISTINCT g FROM binned)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 31))::BIGINT AS bin) b
         |  LEFT JOIN binned USING (g, bin)),
         |cdf AS (SELECT g, bin,
         |    (sum(cnt) OVER (PARTITION BY g ORDER BY bin))::DOUBLE /
         |      sum(cnt) OVER (PARTITION BY g) AS cdf
         |  FROM dense),
         |kpairs AS (SELECT a.g AS g_a, b.g AS g_b, abs(a.cdf - b.cdf) AS d
         |  FROM cdf a JOIN cdf b USING (bin) WHERE a.g < b.g),
         |ks AS (SELECT g_a, g_b, ${rnd("max(d)", 6)} AS ks_stat
         |  FROM kpairs GROUP BY 1, 2),
         |sizes AS (SELECT g, count(*)::BIGINT AS cnt FROM base GROUP BY 1),
         |tested AS (SELECT ks.g_a || '|' || ks.g_b AS pair, ks.ks_stat,
         |    sa.cnt AS n_a, sb.cnt AS n_b, ${rnd(pExpr, 6)} AS p_value
         |  FROM ks JOIN sizes sa ON sa.g = ks.g_a
         |  JOIN sizes sb ON sb.g = ks.g_b),
         |ranked AS (SELECT *, row_number() OVER (ORDER BY p_value, pair)
         |    AS rnk, count(*) OVER () AS m FROM tested),
         |adj AS (SELECT *, ${rnd("least(1.0, min(m::DOUBLE * p_value / rnk::DOUBLE) " +
           "OVER (ORDER BY p_value DESC, pair DESC " +
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))", 6)}
         |    AS q_value FROM ranked)
         |SELECT pair, ks_stat, n_a, n_b, p_value, rnk::BIGINT AS rank,
         |  q_value, (q_value <= 0.05) AS significant
         |FROM adj""".stripMargin
    },

    // brute-force ordered-pair containment over 3-shingle sets: equality
    // with the Spark side IS the containment prefix filter's exact-recall
    // proof (the contained side's prefix joined against FULL postings)
    "q211_containment_pairs" ->
      s"""WITH t0 AS (SELECT doc_id AS id, $toksExpr AS tk FROM documents),
         |t AS (SELECT id, list_distinct(${shinglesExpr("tk", 3)}) AS toks
         |  FROM t0),
         |tt AS (SELECT id, toks FROM t WHERE len(toks) > 0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |    len(list_intersect(a.toks, b.toks))::DOUBLE
         |      / len(a.toks)::DOUBLE AS containment
         |  FROM tt a JOIN tt b ON a.id != b.id)
         |SELECT id_a, id_b, ${rnd("containment", 3)} AS containment
         |FROM p WHERE containment >= 0.7""".stripMargin,

    // group-kfold: fold = portable-hash(source) mod 5, every source in
    // exactly one fold by construction
    "q212_group_kfold" ->
      s"""SELECT ${h32("source")} % 5 AS fold, source,
         |  count(*)::BIGINT AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin,

    // Matryoshka truncation recall: exact top-10 on the 16-dim prefix vs
    // the full 64-dim exact top-10, same tie rule (cosine DESC, id ASC)
    "q213_truncated_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 8),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.qv")} DESC,
         |          e.vec_id ASC) AS rank
         |    FROM q CROSS JOIN embeddings e) WHERE rank <= 10),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("list_slice(e.embedding, 1, 16)",
           "list_slice(q.qv, 1, 16)")} DESC,
         |          e.vec_id ASC) AS rank
         |    FROM q CROSS JOIN embeddings e) WHERE rank <= 10)
         |SELECT ex.query_id, count(tr.neighbor_id)::BIGINT AS n_hit,
         |  ${rnd("count(tr.neighbor_id)::DOUBLE / 10.0", 4)} AS recall
         |FROM exact ex LEFT JOIN tr
         |  ON ex.query_id = tr.query_id AND ex.neighbor_id = tr.neighbor_id
         |GROUP BY ex.query_id""".stripMargin,

    // Markov removal effects: 8 unrolled power iterations per scenario
    // (base + one per channel); each per-state sum is a list_sum over
    // targets ORDERED BY state — the same ascending fold the Spark driver
    // runs, so the doubles replay
    "q214_markov_attribution" -> {
      val channels = Seq("click", "error", "signup", "view")
      def chain(sfx: String, removed: Option[String]): String = {
        val rmCase = removed.map(c =>
          s"WHEN tm.t = '$c' THEN 0.0 ").getOrElse("")
        val zero = s"s${sfx}_0 AS (SELECT NULL::VARCHAR AS state, " +
          "NULL::DOUBLE AS p WHERE 1 = 0)"
        val steps = (1 to 8).map { i =>
          s"""s${sfx}_$i AS (SELECT tm.f AS state,
             |    list_sum(list(tm.p * (CASE WHEN tm.t = '(conv)' THEN 1.0
             |      WHEN tm.t = '(null)' THEN 0.0
             |      ${rmCase}ELSE coalesce(pv.p, 0.0) END) ORDER BY tm.t)) AS p
             |  FROM tm LEFT JOIN s${sfx}_${i - 1} pv ON pv.state = tm.t
             |  GROUP BY tm.f)""".stripMargin
        }
        (zero +: steps).mkString(",\n")
      }
      val chains = (chain("b", None) +:
        channels.map(c => chain(c, Some(c)))).mkString(",\n")
      val rows = channels.map { c =>
        s"""SELECT '$c' AS channel, ${rnd("b.p", 6)} AS base_conv,
           |  ${rnd("r.p", 6)} AS removed_conv,
           |  CASE WHEN b.p > 0 THEN ${rnd("(b.p - r.p) / b.p", 6)}
           |    END AS removal_effect
           |FROM (SELECT p FROM sb_8 WHERE state = '(start)') b
           |CROSS JOIN (SELECT p FROM s${c}_8 WHERE state = '(start)') r"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (SELECT user_id, event_type, event_id,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events WHERE user_id IS NOT NULL),
         |cr AS (SELECT user_id, min(rn) AS conv_rn FROM ev
         |  WHERE event_type = 'purchase' GROUP BY 1),
         |kept AS (SELECT e.user_id,
         |    CASE WHEN e.event_type = 'purchase' THEN '(conv)'
         |      ELSE e.event_type END AS state, e.rn
         |  FROM ev e LEFT JOIN cr USING (user_id)
         |  WHERE cr.conv_rn IS NULL OR e.rn <= cr.conv_rn),
         |seq AS (SELECT user_id, state, rn,
         |    lead(state) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
         |  FROM kept),
         |tr AS (SELECT '(start)' AS f, state AS t FROM seq WHERE rn = 1
         |  UNION ALL SELECT state, nxt FROM seq
         |    WHERE nxt IS NOT NULL AND state != '(conv)'
         |  UNION ALL SELECT state, '(null)' FROM seq
         |    WHERE nxt IS NULL AND state != '(conv)'),
         |cnts AS (SELECT f, t, count(*)::BIGINT AS c FROM tr GROUP BY 1, 2),
         |tot AS (SELECT f, sum(c)::BIGINT AS tc FROM cnts GROUP BY 1),
         |tm AS (SELECT c.f, c.t, c.c::DOUBLE / t.tc::DOUBLE AS p
         |  FROM cnts c JOIN tot t USING (f)),
         |$chains
         |$rows""".stripMargin
    },

    // reciprocal margin: both direction top-4 rank CTEs, per-query knn
    // mean as an ordered list_sum / 4.0 (the Spark explode-order avg),
    // mutual top-1 join, ratio margin
    "q215_reciprocal_margin" -> {
      def rank(qs: String, cs: String): String =
        s"""SELECT query_id, neighbor_id, cos, rank FROM (
           |    SELECT qa.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      ${cosineSql("e.embedding", "qa.embedding")} AS cos,
           |      row_number() OVER (PARTITION BY qa.vec_id
           |        ORDER BY ${cosineSql("e.embedding", "qa.embedding")} DESC,
           |          e.vec_id ASC) AS rank
           |    FROM $qs qa CROSS JOIN $cs e) WHERE rank <= 4""".stripMargin
      s"""WITH a AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 2 = 0),
         |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |ab AS (${rank("a", "b")}),
         |ba AS (${rank("b", "a")}),
         |avga AS (SELECT query_id,
         |    list_sum(list(cos ORDER BY rank)) / 4.0 AS knn_a
         |  FROM ab GROUP BY 1),
         |avgb AS (SELECT query_id,
         |    list_sum(list(cos ORDER BY rank)) / 4.0 AS knn_b
         |  FROM ba GROUP BY 1),
         |t1a AS (SELECT query_id AS id_a, neighbor_id AS id_b, cos
         |  FROM ab WHERE rank = 1),
         |t1b AS (SELECT query_id AS bq, neighbor_id AS bn FROM ba
         |  WHERE rank = 1),
         |m AS (SELECT t.id_a, t.id_b, t.cos, aa.knn_a, bb.knn_b
         |  FROM t1a t JOIN t1b ON t1b.bq = t.id_b AND t1b.bn = t.id_a
         |  JOIN avga aa ON aa.query_id = t.id_a
         |  JOIN avgb bb ON bb.query_id = t.id_b)
         |SELECT id_a, id_b, ${rnd("cos", 4)} AS cosine,
         |  ${rnd("cos / ((knn_a + knn_b) / 2.0)", 4)} AS margin
         |FROM m""".stripMargin
    },

    // cross-corpus containment: brute-force needle x haystack — equality
    // is the order-free containment prefix rule's exact-recall proof
    "q216_cross_containment" ->
      s"""WITH n0 AS (SELECT doc_id AS id, $toksExpr AS tk FROM documents
         |  WHERE source = 'src0'),
         |h0 AS (SELECT doc_id AS id, $toksExpr AS tk FROM documents
         |  WHERE source != 'src0'),
         |nt AS (SELECT id, list_distinct(${shinglesExpr("tk", 3)}) AS toks
         |  FROM n0),
         |ht AS (SELECT id, list_distinct(${shinglesExpr("tk", 3)}) AS toks
         |  FROM h0),
         |ntt AS (SELECT id, toks FROM nt WHERE len(toks) > 0),
         |htt AS (SELECT id, toks FROM ht WHERE len(toks) > 0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |    len(list_intersect(a.toks, b.toks))::DOUBLE
         |      / len(a.toks)::DOUBLE AS containment
         |  FROM ntt a CROSS JOIN htt b)
         |SELECT id_a, id_b, ${rnd("containment", 3)} AS containment
         |FROM p WHERE containment >= 0.6""".stripMargin,

    // q217 materialize-then-audit: DuckDB has no deflate scalar, so the
    // per-doc ratio VALUES are anchored by CompressionSpec fixtures; the
    // Spark side writes them to a per-SF audit table and the oracle
    // hash-gates the downstream aggregation (grouping, 4-dp rounding,
    // 0.35 threshold count) over the identical parquet. Per-SF
    // subdirectories mean a bench at sf0.1 or a smoke at sf0.001 can
    // NEVER clobber the gated sf0.01 artifact; the __GRAFT_SFNAME__
    // token is substituted with the run's SF dir name by graft.Verify
    // when it dumps oracle_sql.json, so the dumped oracle always reads
    // the artifact the same run just wrote (the r15 fix for the stale
    // cross-SF read).
    "q217_compression_profile" ->
      s"""WITH r AS (SELECT source, r FROM read_parquet(
         |    '/tmp/graft_materialized/__GRAFT_SFNAME__/q217_ratios/*.parquet'))
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  ${rnd("avg(r)", 4)} AS mean_ratio,
         |  ${rnd("min(r)", 4)} AS min_ratio,
         |  sum(CASE WHEN r < 0.35 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_template_like
         |FROM r GROUP BY source""".stripMargin,

    // Neyman allocation: exact integer moments, sigma and weights derived
    // in doubles, the weight total as an ordered list_sum (the Spark
    // driver's ascending-stratum fold), largest-remainder integers
    "q218_neyman_allocation" ->
      s"""WITH m AS (SELECT source::VARCHAR AS stratum,
         |    count(*)::BIGINT AS n_rows, sum(n_chars::BIGINT)::BIGINT AS s1,
         |    sum(n_chars::BIGINT * n_chars::BIGINT)::BIGINT AS s2
         |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
         |w2 AS (SELECT stratum, n_rows,
         |    sqrt(greatest(0.0, (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE
         |      / n_rows::DOUBLE) / n_rows::DOUBLE)) AS sd,
         |    n_rows::DOUBLE * sqrt(greatest(0.0, (s2::DOUBLE - s1::DOUBLE
         |      * s1::DOUBLE / n_rows::DOUBLE) / n_rows::DOUBLE)) AS wt
         |  FROM m),
         |tot AS (SELECT list_sum(list(wt ORDER BY stratum)) AS tw FROM w2),
         |shares AS (SELECT stratum, n_rows, sd,
         |    CASE WHEN tw > 0 THEN 1000.0 * wt / tw ELSE 0.0 END AS share
         |  FROM w2 CROSS JOIN tot),
         |fl AS (SELECT stratum, n_rows, sd, floor(share)::BIGINT AS fl,
         |    share - floor(share) AS frac FROM shares),
         |rem AS (SELECT 1000 - sum(fl)::BIGINT AS r FROM fl),
         |ranked AS (SELECT *, row_number() OVER (ORDER BY frac DESC,
         |    stratum ASC) AS rn FROM fl)
         |SELECT stratum, n_rows, ${rnd("sd", 4)} AS stddev,
         |  (fl + CASE WHEN rn <= r THEN 1 ELSE 0 END)::BIGINT AS alloc
         |FROM ranked CROSS JOIN rem""".stripMargin,

    // k-anonymity class-size profile: rows -> equivalence classes -> sizes
    "q219_k_anonymity" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    count(*)::BIGINT AS class_size,
        |    count(DISTINCT c_acctbal)::BIGINT AS ldiv
        |  FROM customer GROUP BY 1, 2)
        |SELECT class_size, count(*)::BIGINT AS n_classes,
        |  sum(class_size)::BIGINT AS n_rows,
        |  min(ldiv)::BIGINT AS min_l_diversity, class_size < 6 AS at_risk
        |FROM cls GROUP BY class_size""".stripMargin,

    // Adamic-Adar over the bipartite customer<->part list; the top-20 cut
    // orders by the ROUNDED score + id tie-breaks so float summation order
    // can't flip the boundary
    "q220_adamic_adar" ->
      s"""WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
         |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |d AS (SELECT i, count(*)::BIGINT AS di FROM e
         |  GROUP BY i HAVING count(*) >= 2 AND count(*) <= 1024),
         |w AS (SELECT x.u AS id_a, y.u AS id_b, 1.0 / ln(d.di) AS w
         |    FROM e x JOIN e y ON x.i = y.i AND x.u < y.u
         |    JOIN d ON d.i = x.i),
         |sc AS (SELECT id_a, id_b, count(*)::BIGINT AS n_common,
         |    ${rnd("sum(w)", 4)} AS score FROM w GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, score FROM sc
         |ORDER BY score DESC, id_a, id_b LIMIT 20""".stripMargin,

    // KMV bottom-128 sketches of distinct users per event type, combined
    // pairwise: k-mins of the union come from the two sketches alone; rho
    // (combined k-mins present in both) estimates Jaccard, rho*union the
    // intersection. 127*2^32 is double-exact on both engines.
    "q221_kmv_overlap" ->
      s"""WITH dk AS (SELECT DISTINCT event_type::VARCHAR AS g,
         |    ${h32("user_id::VARCHAR")} AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
         |    AS rn FROM dk),
         |s AS (SELECT g, list(h ORDER BY h) AS sk FROM r WHERE rn <= 128
         |  GROUP BY g),
         |p AS (SELECT a.g AS g_a, b.g AS g_b, a.sk AS sk_a, b.sk AS sk_b
         |    FROM s a JOIN s b ON a.g < b.g),
         |c AS (SELECT *, list_slice(list_sort(list_distinct(
         |      list_concat(sk_a, sk_b))), 1, 128) AS comb FROM p),
         |m AS (SELECT g_a, g_b, sk_a, sk_b, comb,
         |    len(list_filter(comb, x -> list_contains(sk_a, x)
         |      AND list_contains(sk_b, x)))::DOUBLE / len(comb) AS rho,
         |    CASE WHEN len(comb) < 128 THEN len(comb)::DOUBLE
         |      ELSE 545460846592.0 / comb[-1] END AS union_est
         |  FROM c)
         |SELECT g_a, g_b,
         |  ${rnd("CASE WHEN len(sk_a) < 128 THEN len(sk_a)::DOUBLE ELSE 545460846592.0 / sk_a[-1] END", 2)} AS n_a_est,
         |  ${rnd("CASE WHEN len(sk_b) < 128 THEN len(sk_b)::DOUBLE ELSE 545460846592.0 / sk_b[-1] END", 2)} AS n_b_est,
         |  ${rnd("union_est", 2)} AS union_est,
         |  ${rnd("rho", 4)} AS jaccard_est,
         |  ${rnd("rho * union_est", 2)} AS inter_est
         |FROM m""".stripMargin,

    // order-independent fingerprints: commutative sum/xor of the portable
    // row hash; chr(1)/chr(0) replay Spark's u0001-join / u0000-null encoding
    "q222_fingerprint" ->
      s"""WITH h AS (SELECT source, ${h32(
           "concat_ws(chr(1), coalesce(doc_id::VARCHAR, chr(0)), " +
           "coalesce(lang, chr(0)), coalesce(n_chars::VARCHAR, chr(0)), " +
           "coalesce(text, chr(0)))")} AS rh
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_rows,
         |  sum(rh)::BIGINT AS sum_hash, bit_xor(rh)::BIGINT AS xor_hash
         |FROM h GROUP BY source""".stripMargin,

    // Gini from the sorted-rank identity over exact integer totals; only
    // the final two divisions are floating point
    "q223_gini_concentration" ->
      s"""WITH t AS (SELECT source::VARCHAR AS g,
         |    sum(n_chars::BIGINT)::BIGINT AS w
         |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
         |r AS (SELECT g, w, row_number() OVER (ORDER BY w, g) AS i FROM t)
         |SELECT count(*)::BIGINT AS n_groups, sum(w)::BIGINT AS total,
         |  ${rnd("2.0 * sum(i * w)::DOUBLE / (count(*) * sum(w))::DOUBLE" +
             " - (count(*) + 1)::DOUBLE / count(*)::DOUBLE", 6)} AS gini,
         |  ${rnd("max(w)::DOUBLE / sum(w)::DOUBLE", 6)} AS top_share
         |FROM r""".stripMargin,

    // Benford: leading digit of the INTEGER part (engine-portable where
    // raw double formatting is not); 9-row spine keeps absent digits
    "q224_benford" ->
      s"""WITH e AS (SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR,
         |      1, 1)::INT AS d
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1),
         |t AS (SELECT count(*)::BIGINT AS tot FROM e),
         |c AS (SELECT d, count(*)::BIGINT AS cnt FROM e GROUP BY d),
         |s AS (SELECT unnest(generate_series(1, 9))::BIGINT AS digit)
         |SELECT digit, coalesce(cnt, 0)::BIGINT AS n,
         |  ${rnd("coalesce(cnt, 0)::DOUBLE / tot", 6)} AS share,
         |  ${rnd("log10(1.0 + 1.0 / digit)", 6)} AS expected,
         |  ${rnd("abs(coalesce(cnt, 0)::DOUBLE / tot - log10(1.0 + 1.0 / digit))", 6)} AS abs_dev
         |FROM s LEFT JOIN c ON s.digit = c.d CROSS JOIN t""".stripMargin,

    // weighted quantiles: exact integer cumulative weights, one float
    // threshold product, smallest crossing value
    "q225_weighted_quantiles" ->
      """WITH bv AS (SELECT l_returnflag AS k, l_extendedprice AS v,
        |    sum(l_quantity::BIGINT)::BIGINT AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1, 2),
        |c AS (SELECT k, v,
        |    sum(w) OVER (PARTITION BY k ORDER BY v) AS cw,
        |    sum(w) OVER (PARTITION BY k) AS tw FROM bv),
        |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q)
        |SELECT k AS l_returnflag, q, min(v) AS value
        |FROM c CROSS JOIN qs
        |WHERE cw::DOUBLE >= q * tw::DOUBLE
        |GROUP BY 1, 2""".stripMargin,

    // regularity triage: entropy from exact counts (H = ln n - sum c ln c / n),
    // CV from integer second-resolution gap moments; rounded-score ordering
    // with id tie-breaks pins the top-20 cut
    "q226_user_regularity" ->
      s"""WITH b AS (SELECT user_id AS u, event_type AS t,
         |    epoch_us(ts) // 1000000 AS s
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |ent AS (SELECT u, count(*)::BIGINT AS n_types,
         |    sum(c::DOUBLE * ln(c::DOUBLE)) AS clnc
         |  FROM (SELECT u, t, count(*)::BIGINT AS c FROM b GROUP BY 1, 2)
         |  GROUP BY u),
         |g AS (SELECT u, s - lag(s) OVER (PARTITION BY u ORDER BY s) AS g
         |  FROM b),
         |gm AS (SELECT u, count(*)::BIGINT AS ng, sum(g)::BIGINT AS sg,
         |    sum(g * g)::BIGINT AS sg2
         |  FROM g WHERE g IS NOT NULL GROUP BY u),
         |f AS (SELECT e.u, (gm.ng + 1)::BIGINT AS n_events, e.n_types,
         |    ln((gm.ng + 1)::DOUBLE) - e.clnc / (gm.ng + 1)::DOUBLE
         |      AS entropy,
         |    sqrt(greatest((gm.sg2::DOUBLE - gm.sg::DOUBLE * gm.sg::DOUBLE
         |        / gm.ng::DOUBLE) / gm.ng::DOUBLE, 0.0))
         |      / (gm.sg::DOUBLE / gm.ng::DOUBLE) AS cv
         |  FROM ent e JOIN gm ON e.u = gm.u
         |  WHERE gm.ng + 1 >= 5 AND gm.sg > 0)
         |SELECT u AS user_id, n_events, n_types,
         |  ${rnd("entropy", 4)} AS entropy, ${rnd("cv", 4)} AS gap_cv,
         |  ${rnd("entropy + cv", 4)} AS score
         |FROM f ORDER BY ${rnd("entropy + cv", 4)}, u LIMIT 20""".stripMargin,

    // CUPED: pooled theta from one global moment frame, per-arm adjusted
    // means + realized (population-variance) reduction
    "q227_cuped" ->
      s"""WITH units AS (SELECT user_id % 2 AS arm,
         |    sum(CASE WHEN ts::DATE < DATE '2024-01-16' THEN value
         |      ELSE 0.0 END) AS pre,
         |    sum(CASE WHEN ts::DATE >= DATE '2024-01-16' THEN value
         |      ELSE 0.0 END) AS post
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY user_id),
         |ctl AS (SELECT count(*)::BIGINT AS n, sum(pre) AS sp,
         |    sum(post) AS so, sum(pre * pre) AS spp,
         |    sum(pre * post) AS spo FROM units),
         |th AS (SELECT (spo - sp * so / n) / (spp - sp * sp / n) AS theta,
         |    sp / n AS mpre FROM ctl),
         |a AS (SELECT u.arm, u.post, t.theta,
         |    u.post - t.theta * (u.pre - t.mpre) AS adj
         |  FROM units u CROSS JOIN th t)
         |SELECT arm, count(*)::BIGINT AS n_units,
         |  ${rnd("sum(post) / count(*)", 4)} AS mean_post,
         |  ${rnd("sum(adj) / count(*)", 4)} AS mean_adj,
         |  ${rnd("max(theta)", 4)} AS theta,
         |  ${rnd("1.0 - (sum(adj * adj) - sum(adj) * sum(adj) / count(*))" +
             " / (sum(post * post) - sum(post) * sum(post) / count(*))", 4)}
         |    AS var_reduction
         |FROM a GROUP BY arm""".stripMargin,

    // SMD balance: one conditional-moment pass, population variances;
    // per-covariate NON-NULL ns (the operator's documented NULL stance —
    // the value sums always skipped NULLs, so the counts must too)
    "q228_covariate_balance" -> {
      def covRow(c: String): String =
        s"""SELECT '$c' AS covariate,
           |  ${rnd(s"sa_$c / na_$c", 4)} AS mean_a,
           |  ${rnd(s"sb_$c / nb_$c", 4)} AS mean_b,
           |  ${rnd(s"(sb_$c / nb_$c - sa_$c / na_$c) / sqrt(((ssa_$c / na_$c" +
               s" - (sa_$c / na_$c) * (sa_$c / na_$c)) + (ssb_$c / nb_$c" +
               s" - (sb_$c / nb_$c) * (sb_$c / nb_$c))) / 2.0)", 4)} AS smd,
           |  abs((sb_$c / nb_$c - sa_$c / na_$c) / sqrt(((ssa_$c / na_$c
           |    - (sa_$c / na_$c) * (sa_$c / na_$c)) + (ssb_$c / nb_$c
           |    - (sb_$c / nb_$c) * (sb_$c / nb_$c))) / 2.0)) < 0.1 AS balanced
           |FROM m""".stripMargin
      val sums = Seq("c_acctbal" -> "c_acctbal::DOUBLE",
        "c_nationkey" -> "c_nationkey::DOUBLE").map { case (c, e) =>
        s"""sum(CASE WHEN c_custkey % 2 = 0 AND $e IS NOT NULL
           |      THEN 1 ELSE 0 END)::BIGINT AS nb_$c,
           |    sum(CASE WHEN c_custkey % 2 <> 0 AND $e IS NOT NULL
           |      THEN 1 ELSE 0 END)::BIGINT AS na_$c,
           |    sum(CASE WHEN c_custkey % 2 = 0 THEN $e ELSE 0.0 END) AS sb_$c,
           |    sum(CASE WHEN c_custkey % 2 <> 0 THEN $e ELSE 0.0 END) AS sa_$c,
           |    sum(CASE WHEN c_custkey % 2 = 0 THEN $e * $e ELSE 0.0 END) AS ssb_$c,
           |    sum(CASE WHEN c_custkey % 2 <> 0 THEN $e * $e ELSE 0.0 END) AS ssa_$c""".stripMargin
      }.mkString(",\n    ")
      s"""WITH m AS (SELECT
         |    $sums
         |  FROM customer)
         |${covRow("c_acctbal")}
         |UNION ALL
         |${covRow("c_nationkey")}""".stripMargin
    },

    // Welch t: sample variances, Welch-Satterthwaite df
    "q229_welch_t" ->
      s"""WITH m AS (SELECT
         |    sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS nb,
         |    sum(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS na,
         |    sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice ELSE 0.0 END) AS sb,
         |    sum(CASE WHEN o_orderkey % 2 <> 0 THEN o_totalprice ELSE 0.0 END) AS sa,
         |    sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * o_totalprice ELSE 0.0 END) AS ssb,
         |    sum(CASE WHEN o_orderkey % 2 <> 0 THEN o_totalprice * o_totalprice ELSE 0.0 END) AS ssa
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |v AS (SELECT *, (ssa - sa * sa / na) / (na - 1) AS va,
         |    (ssb - sb * sb / nb) / (nb - 1) AS vb FROM m),
         |s AS (SELECT *, va / na AS sea, vb / nb AS seb FROM v)
         |SELECT na AS n_a, nb AS n_b,
         |  ${rnd("sa / na", 4)} AS mean_a, ${rnd("sb / nb", 4)} AS mean_b,
         |  ${rnd("(sb / nb - sa / na) / sqrt(sea + seb)", 4)} AS t_stat,
         |  ${rnd("(sea + seb) * (sea + seb) / (sea * sea / (na - 1)" +
             " + seb * seb / (nb - 1))", 2)} AS df
         |FROM s""".stripMargin,

    // Kaplan-Meier: exact integer curve counts; survival via exp(sum(ln))
    // over positive terms with a cumulative went-to-zero mask
    "q230_kaplan_meier" ->
      s"""WITH u AS (SELECT user_id, min(ts::DATE) AS fd, max(ts::DATE) AS ld
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1),
         |e AS (SELECT max(ld) AS cend FROM u),
         |l AS (SELECT (ld - fd)::BIGINT AS t, (cend - ld) < 3 AS cens
         |  FROM u CROSS JOIN e),
         |d AS (SELECT t, sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
         |    sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS c
         |  FROM l GROUP BY t),
         |r AS (SELECT *, sum(d + c) OVER (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS at_risk FROM d),
         |s AS (SELECT *, 1.0 - d::DOUBLE / at_risk::DOUBLE AS term FROM r),
         |z AS (SELECT *,
         |    max(CASE WHEN term = 0.0 THEN 1 ELSE 0 END) OVER wa AS zeroed,
         |    sum(CASE WHEN term > 0 THEN ln(term) END) OVER wa AS lnsum
         |  FROM s WINDOW wa AS (ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT t AS day, at_risk, d AS deaths, c AS censored,
         |  ${rnd("CASE WHEN zeroed = 1 THEN 0.0" +
             " ELSE exp(coalesce(lnsum, 0.0)) END", 6)} AS survival
         |FROM z""".stripMargin,

    // Heaps fit: per-source (N, V) points, centered log-log OLS
    "q231_heaps_fit" ->
      s"""WITH per AS (SELECT source AS g, count(*)::BIGINT AS n,
         |    count(DISTINCT w)::BIGINT AS v
         |  FROM (SELECT source, unnest($toksExpr) AS w FROM documents)
         |  GROUP BY 1),
         |pts AS (SELECT ln(n::DOUBLE) AS x, ln(v::DOUBLE) AS y FROM per
         |  WHERE n > 0 AND v > 0),
         |m AS (SELECT avg(x) AS mx, avg(y) AS my FROM pts),
         |f AS (SELECT count(*)::BIGINT AS n_groups, max(mx) AS _mx,
         |    max(my) AS _my, sum((x - mx) * (y - my)) AS sxy,
         |    sum((x - mx) * (x - mx)) AS sxx,
         |    sum((y - my) * (y - my)) AS syy
         |  FROM pts CROSS JOIN m)
         |SELECT n_groups, ${rnd("sxy / sxx", 4)} AS beta,
         |  ${rnd("exp(_my - (sxy / sxx) * _mx)", 4)} AS k,
         |  ${rnd("sxy * sxy / (sxx * syy)", 4)} AS r2
         |FROM f""".stripMargin,

    // split conformal: exact-integer OLS moments on the train split,
    // (resid, id)-ordered rank selection on calibration, coverage on test
    "q232_conformal_interval" ->
      s"""WITH b AS (SELECT doc_id AS id, len($toksExpr)::BIGINT AS x,
         |    n_chars::BIGINT AS y, ${h32("doc_id::VARCHAR")} % 3 AS split
         |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
         |    AND text IS NOT NULL),
         |f AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         |    sum(x * x)::BIGINT AS sxx FROM b WHERE split = 0),
         |ab AS (SELECT n AS n_train, b2,
         |    (sy::DOUBLE - b2 * sx::DOUBLE) / n AS a
         |  FROM (SELECT *, (n * sxy - sx * sy)::DOUBLE
         |      / (n * sxx - sx * sx)::DOUBLE AS b2 FROM f)),
         |r1 AS (SELECT id, abs(y::DOUBLE - (a + b2 * x::DOUBLE)) AS resid
         |  FROM b CROSS JOIN ab WHERE split = 1),
         |kf AS (SELECT count(*)::BIGINT AS n_cal,
         |    least(ceil((count(*) + 1)::DOUBLE * 0.9)::BIGINT,
         |      count(*)::BIGINT) AS k FROM r1),
         |q AS (SELECT n_cal, resid AS qhat
         |  FROM (SELECT resid, row_number() OVER (ORDER BY resid, id)
         |      AS rn FROM r1) CROSS JOIN kf WHERE rn = k),
         |t2 AS (SELECT count(*)::BIGINT AS nt,
         |    sum(CASE WHEN resid <= qhat THEN 1 ELSE 0 END)::BIGINT AS cov,
         |    max(qhat) AS qhat, max(n_cal)::BIGINT AS n_cal
         |  FROM (SELECT abs(y::DOUBLE - (a + b2 * x::DOUBLE)) AS resid
         |    FROM b CROSS JOIN ab WHERE split = 2) CROSS JOIN q)
         |SELECT ab.n_train, t2.n_cal, t2.nt AS n_test,
         |  ${rnd("ab.b2", 6)} AS slope, ${rnd("ab.a", 4)} AS intercept,
         |  ${rnd("t2.qhat", 4)} AS qhat,
         |  ${rnd("t2.cov::DOUBLE / t2.nt", 4)} AS coverage,
         |  0.9 AS target
         |FROM t2 CROSS JOIN ab""".stripMargin,

    // SCD2 temporal join: q16's merge shape with in-range dates, each
    // order matched to the version whose [eff, expiry) window holds its
    // order date
    "q233_scd2_temporal_join" ->
      s"""WITH target AS (
         |  SELECT c_custkey, c_acctbal, true AS current_flag,
         |    DATE '1995-01-01' AS eff_date, CAST(NULL AS DATE) AS expiry_date
         |  FROM customer),
         |updates AS (
         |  SELECT c_custkey, ${rnd("c_acctbal + 100", 2)} AS c_acctbal,
         |    DATE '1998-06-01' AS eff_date
         |  FROM customer WHERE c_custkey % 3 = 0),
         |rows_to_insert AS (
         |  SELECT u.* FROM updates u JOIN target t
         |    ON t.c_custkey = u.c_custkey
         |  WHERE t.current_flag = true AND t.c_acctbal <> u.c_acctbal),
         |dim AS (
         |  SELECT t.c_custkey,
         |    CASE WHEN u.c_custkey IS NOT NULL AND t.current_flag = true
         |        AND t.c_acctbal <> u.c_acctbal
         |      THEN false ELSE t.current_flag END AS current_flag,
         |    t.eff_date,
         |    CASE WHEN u.c_custkey IS NOT NULL AND t.current_flag = true
         |        AND t.c_acctbal <> u.c_acctbal
         |      THEN u.eff_date ELSE t.expiry_date END AS expiry_date
         |  FROM target t LEFT JOIN updates u ON t.c_custkey = u.c_custkey
         |  UNION ALL
         |  SELECT c_custkey, true AS current_flag, eff_date,
         |    CAST(NULL AS DATE) AS expiry_date FROM rows_to_insert),
         |j AS (SELECT d.eff_date, d.current_flag, o.o_totalprice
         |  FROM orders o LEFT JOIN dim d ON d.c_custkey = o.o_custkey
         |    AND d.eff_date <= o.o_orderdate::DATE
         |    AND (d.expiry_date IS NULL
         |      OR d.expiry_date > o.o_orderdate::DATE))
         |SELECT eff_date, current_flag, count(*)::BIGINT AS n_orders,
         |  ${rnd("sum(o_totalprice)", 2)} AS revenue
         |FROM j GROUP BY 1, 2""".stripMargin,

    // two-stage sign-bit retrieval: Hamming shortlist-50 (q142's packing),
    // exact-cosine rerank to 10, recall vs the exact top-10 next to the
    // one-stage Hamming recall
    "q234_hamming_rerank" -> {
      def pack(e: String): String =
        s"(CASE WHEN $e[64] >= 0 THEN (-9223372036854775808)::BIGINT ELSE 0::BIGINT END" +
          s" + list_sum(list_transform(range(0, 63), i -> CASE WHEN $e[i + 1] >= 0" +
          s" THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT)"
      s"""WITH packed AS (SELECT vec_id, embedding, ${pack("embedding")} AS w
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, w AS qw
         |  FROM packed WHERE vec_id < 8),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.qv")} DESC,
         |          e.vec_id ASC) AS rank
         |    FROM q CROSS JOIN embeddings e) WHERE rank <= 10),
         |hranked AS (SELECT q.query_id, p.vec_id AS neighbor_id,
         |    p.embedding, q.qv,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY bit_count(xor(p.w, q.qw)) ASC, p.vec_id ASC)
         |      AS hrank
         |  FROM packed p CROSS JOIN q),
         |onestage AS (SELECT query_id, neighbor_id FROM hranked
         |  WHERE hrank <= 10),
         |rerank AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${cosineSql("embedding", "qv")} DESC,
         |          neighbor_id ASC) AS rank
         |    FROM hranked WHERE hrank <= 50) WHERE rank <= 10)
         |SELECT ex.query_id,
         |  ${rnd("count(rr.neighbor_id)::DOUBLE / 10.0", 4)} AS recall_rerank,
         |  ${rnd("count(os.neighbor_id)::DOUBLE / 10.0", 4)} AS recall_hamming
         |FROM exact ex
         |LEFT JOIN rerank rr ON ex.query_id = rr.query_id
         |  AND ex.neighbor_id = rr.neighbor_id
         |LEFT JOIN onestage os ON ex.query_id = os.query_id
         |  AND ex.neighbor_id = os.neighbor_id
         |GROUP BY ex.query_id""".stripMargin
    },

    // Fellegi-Sunter EM, 5 unrolled iterations over the <= 8-row pattern
    // frame; every fold is an ascending-pattern list_sum and every product
    // is left-associated, replaying the driver's arithmetic exactly;
    // clamps mirror min(1-1e-9, max(1e-9, x))
    "q235_fellegi_sunter" -> {
      def fld(j: Int, v: String): String =
        s"(CASE WHEN (pattern >> $j) & 1 = 1 THEN $v ELSE 1.0 - $v END)"
      def cl(x: String): String =
        s"least(1.0 - 1e-9, greatest(1e-9, $x))"
      def bitSum(j: Int, w: String): String =
        s"list_sum(list(CASE WHEN (pattern >> $j) & 1 = 1 THEN n::DOUBLE * ($w) ELSE 0.0 END ORDER BY pattern))"
      val wExpr = "(pm / (pm + pu))"
      val iterCtes = (1 to 5).map { t =>
        val g = s"g${t - 1}"
        val ms = (1 to 3).map(j =>
          s"${bitSum(j - 1, wExpr)} AS a$j").mkString(",\n         |    ")
        val us = (1 to 3).map(j =>
          s"${bitSum(j - 1, s"1.0 - $wExpr")} AS b$j").mkString(",\n         |    ")
        s"""w$t AS (SELECT c.pattern, c.n,
           |    (($g.p * ${fld(0, s"$g.m1")}) * ${fld(1, s"$g.m2")}) * ${fld(2, s"$g.m3")} AS pm,
           |    (((1.0 - $g.p) * ${fld(0, s"$g.u1")}) * ${fld(1, s"$g.u2")}) * ${fld(2, s"$g.u3")} AS pu
           |  FROM cnt c CROSS JOIN $g),
           |s$t AS (SELECT
           |    list_sum(list(n::DOUBLE ORDER BY pattern)) AS totn,
           |    list_sum(list(n::DOUBLE * $wExpr ORDER BY pattern)) AS sw,
           |    list_sum(list(n::DOUBLE * (1.0 - $wExpr) ORDER BY pattern)) AS suw,
           |    $ms,
           |    $us
           |  FROM w$t),
           |g$t AS (SELECT ${cl("sw / totn")} AS p,
           |    ${cl("a1 / sw")} AS m1, ${cl("a2 / sw")} AS m2, ${cl("a3 / sw")} AS m3,
           |    ${cl("b1 / suw")} AS u1, ${cl("b2 / suw")} AS u2, ${cl("b3 / suw")} AS u3
           |  FROM s$t)"""
      }.mkString(",\n")
      def outRow(name: String, j: Int): String =
        s"""SELECT '$name' AS field, ${rnd(s"m$j", 6)} AS m,
           |  ${rnd(s"u$j", 6)} AS u,
           |  ${rnd(s"ln(m$j / u$j) / ln(2.0)", 4)} AS w_agree,
           |  ${rnd(s"ln((1.0 - m$j) / (1.0 - u$j)) / ln(2.0)", 4)} AS w_disagree,
           |  ${rnd("p", 6)} AS match_prior FROM g5"""
      s"""WITH canon AS (SELECT p_name AS name, min(p_partkey) AS id
         |  FROM part GROUP BY 1),
         |cp AS (SELECT c.id, c.name, string_split(c.name, ' ')[-1] AS blk,
         |    p.p_brand AS brand, p.p_size AS sz
         |  FROM canon c JOIN part p ON p.p_partkey = c.id),
         |cnt AS (SELECT pattern, count(*)::BIGINT AS n FROM (
         |    SELECT (CASE WHEN jaro_winkler_similarity(a.name, b.name) >= 0.85 THEN 1 ELSE 0 END)
         |      + (CASE WHEN a.brand = b.brand THEN 2 ELSE 0 END)
         |      + (CASE WHEN a.sz = b.sz THEN 4 ELSE 0 END) AS pattern
         |    FROM cp a JOIN cp b ON a.blk = b.blk AND a.id < b.id)
         |  GROUP BY 1),
         |g0 AS (SELECT 0.1::DOUBLE AS p, 0.9::DOUBLE AS m1, 0.9::DOUBLE AS m2,
         |    0.9::DOUBLE AS m3, 0.1::DOUBLE AS u1, 0.1::DOUBLE AS u2,
         |    0.1::DOUBLE AS u3),
         |$iterCtes
         |${outRow("name_sim", 1)}
         |UNION ALL
         |${outRow("brand_eq", 2)}
         |UNION ALL
         |${outRow("size_eq", 3)}""".stripMargin
    },

    // power planning: fixed z literals (no inverse normal anywhere),
    // sample variances, Spark's floor(n/2) per-arm size
    "q236_power_analysis" -> {
      val z = "2.8015852181129683" // zA + zB, the same double Spark folds
      s"""WITH m AS (SELECT event_type, count(*)::BIGINT AS n,
         |    sum(value) AS s, sum(value * value) AS ss
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |d AS (SELECT event_type, n, s / n AS mean,
         |    sqrt((ss - s * s / n) / (n - 1)) AS sd,
         |    floor(n / 2)::DOUBLE AS arm FROM m)
         |SELECT event_type, n, ${rnd("mean", 4)} AS mean,
         |  ${rnd("sd", 4)} AS stddev,
         |  ${rnd(s"$z * sd * sqrt(2.0 / arm)", 4)} AS mde_abs,
         |  ${rnd(s"($z * sd * sqrt(2.0 / arm)) / mean", 4)} AS mde_rel,
         |  ceil(2.0 * sd * sd * 7.848879734349088
         |    / ((0.05 * mean) * (0.05 * mean)))::BIGINT AS n_per_arm_5pct
         |FROM d""".stripMargin
    },

    // readability: exact integer (word, sentence, syllable-heuristic)
    // totals from one regexp pass; the two formulas are the only floats
    "q237_readability" ->
      s"""WITH pd AS (SELECT source,
         |    len($toksExpr)::BIGINT AS w,
         |    greatest(1, len(regexp_extract_all(lower(text), '[.!?]+')))::BIGINT AS st,
         |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS sy
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(w)::BIGINT AS ws, sum(st)::BIGINT AS sts,
         |    sum(sy)::BIGINT AS sys
         |  FROM pd GROUP BY 1)
         |SELECT source, n_docs,
         |  ${rnd("ws::DOUBLE / sts::DOUBLE", 4)} AS words_per_sentence,
         |  ${rnd("sys::DOUBLE / ws::DOUBLE", 4)} AS syllables_per_word,
         |  ${rnd("206.835 - 1.015 * (ws::DOUBLE / sts::DOUBLE)" +
             " - 84.6 * (sys::DOUBLE / ws::DOUBLE)", 4)} AS flesch_ease,
         |  ${rnd("0.39 * (ws::DOUBLE / sts::DOUBLE)" +
             " + 11.8 * (sys::DOUBLE / ws::DOUBLE) - 15.59", 4)} AS fk_grade
         |FROM g""".stripMargin,

    // four-fifths rule: exact integer counts; reference = max-rate group,
    // ties to the larger name (Spark's max(struct) tie rule)
    "q238_disparate_impact" ->
      s"""WITH r AS (SELECT c_mktsegment::VARCHAR AS grp,
         |    count(*)::BIGINT AS n,
         |    sum(CASE WHEN coalesce(c_acctbal > 5000, false) THEN 1
         |      ELSE 0 END)::BIGINT AS n_sel
         |  FROM customer GROUP BY 1),
         |ref AS (SELECT n_sel::DOUBLE / n AS ref_rate, grp AS ref_group
         |  FROM r ORDER BY n_sel::DOUBLE / n DESC, grp DESC LIMIT 1)
         |SELECT r.grp AS c_mktsegment, r.n, r.n_sel,
         |  ${rnd("r.n_sel::DOUBLE / r.n", 6)} AS rate, ref.ref_group,
         |  ${rnd("(r.n_sel::DOUBLE / r.n) / ref.ref_rate", 4)} AS impact_ratio,
         |  (r.n_sel::DOUBLE / r.n) / ref.ref_rate >= 0.8 AS passes_80pct
         |FROM r CROSS JOIN ref""".stripMargin,

    // burstiness: zero-filled day spine, exact integer daily-count
    // moments, population variance
    "q239_burstiness" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS cnt
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1, 2),
         |spine AS (SELECT unnest(generate_series(min(day), max(day),
         |    INTERVAL 1 DAY))::DATE AS day FROM daily),
         |dense AS (SELECT kk.k, s.day, coalesce(d.cnt, 0)::BIGINT AS c
         |  FROM (SELECT DISTINCT k FROM daily) kk CROSS JOIN spine s
         |  LEFT JOIN daily d ON d.k = kk.k AND d.day = s.day),
         |m AS (SELECT k, count(*)::BIGINT AS n_days, sum(c)::BIGINT AS s,
         |    sum(c * c)::BIGINT AS ss, max(c)::BIGINT AS peak
         |  FROM dense GROUP BY k)
         |SELECT k AS event_type, n_days, s AS n_events, peak,
         |  ${rnd("s::DOUBLE / n_days", 4)} AS mean_daily,
         |  ${rnd("((ss::DOUBLE - s::DOUBLE * s::DOUBLE / n_days) / n_days)" +
             " / (s::DOUBLE / n_days)", 4)} AS fano,
         |  ${rnd("(sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE / n_days) / n_days)" +
             " - s::DOUBLE / n_days) / (sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE" +
             " / n_days) / n_days) + s::DOUBLE / n_days)", 4)} AS burstiness
         |FROM m""".stripMargin,

    // cold-start exposure: h32(event_id) % 5 split, exact anti/semi counts
    "q240_cold_start" ->
      s"""WITH b AS (SELECT user_id AS e,
         |    ${h32("event_id::VARCHAR")} % 5 = 0 AS is_test
         |  FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
         |tr AS (SELECT DISTINCT e FROM b WHERE NOT is_test),
         |te AS (SELECT DISTINCT e FROM b WHERE is_test),
         |un AS (SELECT e FROM te ANTI JOIN tr USING (e)),
         |c AS (SELECT
         |    (SELECT count(*) FROM b WHERE is_test)::BIGINT AS n_test_events,
         |    (SELECT count(*) FROM te)::BIGINT AS n_test_entities,
         |    (SELECT count(*) FROM un)::BIGINT AS n_unseen_entities,
         |    (SELECT count(*) FROM b SEMI JOIN un USING (e)
         |      WHERE is_test)::BIGINT AS n_unseen_events)
         |SELECT n_test_events, n_test_entities, n_unseen_entities,
         |  ${rnd("n_unseen_entities::DOUBLE / n_test_entities", 6)}
         |    AS unseen_entity_share,
         |  ${rnd("n_unseen_events::DOUBLE / n_test_events", 6)}
         |    AS unseen_event_share
         |FROM c""".stripMargin,

    // q243: the gear rolling hash replayed BYTE FOR BYTE in a RECURSIVE
    // CTE — one iteration per byte position, advancing every doc's
    // (gear h, incremental FNV, chunk size) in plain per-row CASE
    // expressions and emitting the chunk's FNV at each cut. The gear
    // table is the Spark expression's own md5-derived constants (shared
    // generator, the q284 ladder precedent) as UBIGINT literals; Java's
    // signed wrap-around is mod-2^64 arithmetic via HUGEINT
    // intermediates. NOT a lambda fold: DuckDB 1.0's list_reduce
    // corrupts struct state when vectorized over multiple rows (verified
    // against a reference port — single-row folds are exact, multi-row
    // diverges), so the sequential state lives in recursion instead.
    // ascii() codepoints equal UTF-8 bytes ONLY on ASCII payloads, and
    // the Spark side (CdcChunkHashes) rolls over UTF-8 BYTES — so the
    // ASCII-only property is ENFORCED in the d CTE (octet_length ==
    // length, else error()): a future non-ASCII documents corpus fails
    // the oracle loudly instead of silently diverging on chunk counts.
    // The report compares counts, not hash values, so the
    // signed/unsigned representation difference is immaterial.
    "q243_cdc_chunk_dedup" -> {
      val gearLit = graft.functions.CdcChunkHashes.gear
        .map(g => java.lang.Long.toUnsignedString(g) + "::UBIGINT")
        .mkString("[", ",", "]")
      val b = "ascii(substr(t, i + 1, 1))"
      val m64 = "18446744073709551616"
      val fnv0 = "14695981039346656037::UBIGINT"
      val newH = s"((h::HUGEINT * 2 + g[$b + 1]::HUGEINT) % $m64)::UBIGINT"
      val newF =
        s"((xor(fnv, $b::UBIGINT)::HUGEINT * 1099511628211) % $m64)::UBIGINT"
      val cut = s"((size + 1 >= 16 AND ($newH & 63) = 0)" +
        s" OR size + 1 >= 256 OR i + 1 = length(t))"
      s"""WITH RECURSIVE gr AS (SELECT $gearLit AS g),
         |d AS (SELECT CASE WHEN octet_length(encode(text)) = length(text)
         |    THEN text ELSE error('q243 oracle replays ascii() per char '
         |      || 'and requires an ASCII-only corpus; found multibyte '
         |      || 'text in documents') END AS t FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |r AS (
         |  SELECT t, g, 0 AS i, 0::UBIGINT AS h, $fnv0 AS fnv, 0 AS size,
         |    NULL::UBIGINT AS cut_hash
         |  FROM d CROSS JOIN gr
         |  UNION ALL
         |  SELECT t, g, i + 1,
         |    CASE WHEN $cut THEN 0::UBIGINT ELSE $newH END,
         |    CASE WHEN $cut THEN $fnv0 ELSE $newF END,
         |    CASE WHEN $cut THEN 0 ELSE size + 1 END,
         |    CASE WHEN $cut THEN $newF ELSE NULL END
         |  FROM r WHERE i < length(t)),
         |ph AS (SELECT cut_hash AS ch, count(*)::BIGINT AS c FROM r
         |  WHERE cut_hash IS NOT NULL GROUP BY 1),
         |nd AS (SELECT count(*)::BIGINT AS n_docs FROM d)
         |SELECT n_docs, sum(c)::BIGINT AS n_chunks,
         |  count(*)::BIGINT AS n_distinct_chunks,
         |  ${rnd("1.0 - count(*)::DOUBLE / sum(c)", 6)} AS dedup_ratio,
         |  max(c)::BIGINT AS top_chunk_count
         |FROM ph CROSS JOIN nd GROUP BY n_docs""".stripMargin
    },

    // fixed-size chunk hashes; dedup ratio = 1 - distinct/total
    "q241_chunk_dedup" ->
      s"""WITH ch AS (SELECT unnest(list_transform(
         |    generate_series(1, len(text), 256),
         |    i -> ${h32("substr(text, i, 256)")})) AS h
         |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
         |ph AS (SELECT h, count(*)::BIGINT AS c FROM ch GROUP BY h),
         |d AS (SELECT count(*)::BIGINT AS n_docs FROM documents
         |  WHERE text IS NOT NULL AND len(text) > 0)
         |SELECT d.n_docs, sum(c)::BIGINT AS n_chunks,
         |  count(*)::BIGINT AS n_distinct_chunks,
         |  ${rnd("1.0 - count(*)::DOUBLE / sum(c)", 6)} AS dedup_ratio,
         |  max(c)::BIGINT AS top_chunk_count
         |FROM ph CROSS JOIN d GROUP BY d.n_docs""".stripMargin,

    // delta-method ratio CI: per-user sums, sample (co)variance moments,
    // fixed z literal
    "q242_ratio_metric_ci" -> {
      val seExpr = "sqrt(greatest((vx - 2.0 * r * cxy + r * r * vy)" +
        " / (n * my * my), 0.0))"
      s"""WITH u AS (SELECT event_type AS g, user_id AS un,
         |    sum(coalesce(value, 0.0)) AS x, sum(1.0::DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT g, count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         |  FROM u GROUP BY g),
         |d AS (SELECT *, sx / sy AS r, sy / n AS my,
         |    (sxx - sx * sx / n) / (n - 1) AS vx,
         |    (syy - sy * sy / n) / (n - 1) AS vy,
         |    (sxy - sx * sy / n) / (n - 1) AS cxy FROM m)
         |SELECT g AS event_type, n AS n_units, ${rnd("r", 6)} AS ratio,
         |  ${rnd(seExpr, 6)} AS se,
         |  ${rnd(s"r - 1.959963984540054 * $seExpr", 4)} AS ci_lo,
         |  ${rnd(s"r + 1.959963984540054 * $seExpr", 4)} AS ci_hi
         |FROM d""".stripMargin
    },

    // q245: exact strict-dominance skyline — the NOT EXISTS form is the
    // definition; the Spark side's running-max-over-distinct-x plan must
    // reproduce it point for point
    "q245_pareto_front" ->
      s"""WITH m AS (SELECT doc_id, n_chars,
         |    len(list_distinct($toksExpr))::BIGINT AS n_types
         |  FROM documents),
         |pts AS (SELECT n_chars, n_types, count(*)::BIGINT AS n_members,
         |    min(doc_id) AS min_id FROM m GROUP BY 1, 2)
         |SELECT n_chars, n_types, n_members, min_id FROM pts p
         |WHERE NOT EXISTS (SELECT 1 FROM pts q
         |  WHERE q.n_chars >= p.n_chars AND q.n_types >= p.n_types
         |    AND (q.n_chars > p.n_chars OR q.n_types > p.n_types))""".stripMargin,

    // q246: ONE md5 per row fanned into 64 replicate streams by the
    // portable fmix32 avalanche (xor/shift/split-multiply mod 2^32 —
    // BIGINT-overflow-safe on both engines); replicate means are
    // exact-DECIMAL-numerator single fp divisions, so only the 64-value
    // stddev is fp (rounded)
    "q246_poisson_bootstrap" -> {
      val cum = Seq("0.36787944117144233", "0.7357588823428847",
        "0.9196986029286058", "0.9810118431238463", "0.9963401531726563",
        "0.9994058151824183", "0.999916758850712", "0.9999897508033253",
        "0.999998874797402")
      val wCase = cum.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString("CASE ", " ", " ELSE 9 END")
      def mm(x: String, c: String): String =
        s"((($x % 65536) * $c) + ((($x >> 16) * $c) % 65536) * 65536) " +
          "% 4294967296"
      s"""WITH base AS (SELECT o_orderstatus AS g,
         |    ${h32("o_orderkey::VARCHAR")} AS h,
         |    o_totalprice::DECIMAL(18,2) AS v
         |  FROM orders
         |  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
         |reps AS (SELECT g, h, v, unnest(range(64)) AS rep FROM base),
         |x0 AS (SELECT g, rep, v,
         |    xor(h, (rep * 2654435761) % 4294967296) AS x FROM reps),
         |x1 AS (SELECT g, rep, v, xor(x, x >> 16) AS x FROM x0),
         |x2 AS (SELECT g, rep, v, ${mm("x", "2246822507")} AS x FROM x1),
         |x3 AS (SELECT g, rep, v, xor(x, x >> 13) AS x FROM x2),
         |x4 AS (SELECT g, rep, v, ${mm("x", "3266489909")} AS x FROM x3),
         |us AS (SELECT g, rep, v,
         |    xor(x, x >> 16)::DOUBLE / 4294967296.0 AS u FROM x4),
         |wt AS (SELECT g, rep, v, ($wCase)::BIGINT AS w FROM us),
         |rm AS (SELECT g, rep,
         |    sum(w * v)::DOUBLE / sum(w)::DOUBLE AS m
         |  FROM wt GROUP BY 1, 2),
         |se AS (SELECT g, stddev_samp(m) AS boot_se FROM rm GROUP BY 1),
         |fl AS (SELECT g, count(*)::BIGINT AS n_rows,
         |    sum(v)::DOUBLE / count(*)::DOUBLE AS est FROM base GROUP BY 1)
         |SELECT fl.g AS o_orderstatus, n_rows, ${rnd("est", 4)} AS mean,
         |  ${rnd("boot_se", 4)} AS boot_se,
         |  ${rnd("est - 1.959963984540054 * boot_se", 4)} AS ci_lo,
         |  ${rnd("est + 1.959963984540054 * boot_se", 4)} AS ci_hi
         |FROM fl JOIN se USING (g)""".stripMargin
    },

    // q247: normal-mixture mSPRT, tau2 = 10 (mirrors Stats.msprt)
    "q247_msprt" -> {
      val va = "(ssa - sa * sa / na) / (na - 1)"
      val vb = "(ssb - sb * sb / nb) / (nb - 1)"
      val vn = s"($va / na + $vb / nb)"
      val delta = "(sb / nb - sa / na)"
      val lam = s"(sqrt($vn / ($vn + 10.0)) * " +
        s"exp($delta * $delta * 10.0 / (2.0 * $vn * ($vn + 10.0))))"
      s"""WITH m AS (SELECT event_type,
         |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb,
         |    sum(CASE WHEN user_id % 2 <> 1 THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN user_id % 2 = 1 THEN value ELSE 0.0 END) AS sb,
         |    sum(CASE WHEN user_id % 2 <> 1 THEN value ELSE 0.0 END) AS sa,
         |    sum(CASE WHEN user_id % 2 = 1 THEN value * value ELSE 0.0 END) AS ssb,
         |    sum(CASE WHEN user_id % 2 <> 1 THEN value * value ELSE 0.0 END) AS ssa
         |  FROM events WHERE value IS NOT NULL GROUP BY 1)
         |SELECT event_type, (na + nb)::BIGINT AS n,
         |  ${rnd(delta, 4)} AS delta, ${rnd(lam, 4)} AS lambda,
         |  ${rnd(s"least(1.0, 1.0 / $lam)", 4)} AS always_valid_p
         |FROM m""".stripMargin
    },

    // q248: 2x2 diff-in-diff over the q227 pre/post cut (mirrors
    // Stats.diffInDiff cell moments)
    "q248_diff_in_diff" -> {
      def cell(tag: String, cond: String): String =
        s"""sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS n_$tag,
           |    sum(CASE WHEN $cond THEN value ELSE 0.0 END) AS s_$tag,
           |    sum(CASE WHEN $cond THEN value * value ELSE 0.0 END) AS ss_$tag""".stripMargin
      def mean(t: String) = s"(s_$t / n_$t)"
      def vt(t: String) =
        s"(((ss_$t - s_$t * s_$t / n_$t) / (n_$t - 1)) / n_$t)"
      val did = s"((${mean("tp")} - ${mean("t0")}) - " +
        s"(${mean("cp")} - ${mean("c0")}))"
      val se = s"sqrt(${vt("tp")} + ${vt("t0")} + ${vt("cp")} + ${vt("c0")})"
      s"""WITH m AS (SELECT
         |    ${cell("tp", "user_id % 2 = 0 AND ts::DATE >= DATE '2024-01-16'")},
         |    ${cell("t0", "user_id % 2 = 0 AND ts::DATE < DATE '2024-01-16'")},
         |    ${cell("cp", "user_id % 2 <> 0 AND ts::DATE >= DATE '2024-01-16'")},
         |    ${cell("c0", "user_id % 2 <> 0 AND ts::DATE < DATE '2024-01-16'")}
         |  FROM events WHERE value IS NOT NULL)
         |SELECT (n_tp + n_t0 + n_cp + n_c0)::BIGINT AS n,
         |  ${rnd(mean("t0"), 4)} AS treat_pre,
         |  ${rnd(mean("tp"), 4)} AS treat_post,
         |  ${rnd(mean("c0"), 4)} AS control_pre,
         |  ${rnd(mean("cp"), 4)} AS control_post,
         |  ${rnd(did, 4)} AS did, ${rnd(se, 6)} AS se,
         |  ${rnd(s"$did / $se", 4)} AS z
         |FROM m""".stripMargin
    },

    // the 20 BPE merge rounds unrolled as chained CTEs (the q107 k-means /
    // q128 MMR precedent): each round re-derives pair counts from the
    // previous round's rewritten vocabulary, picks the argmax with the
    // trainer's exact tie-break, and collapses it greedily
    "q244_bpe_learn" -> {
      val rounds = (1 to 20).map(bpeRoundCte).mkString(",\n")
      val out = (1 to 20).map(r =>
        s"""SELECT $r::BIGINT AS merge_rank, a AS "left", b AS "right",
           |  mg AS merged, n::BIGINT AS n_occ FROM bp$r""".stripMargin)
        .mkString("\nUNION ALL ")
      s"WITH $bpeBaseCte,\n$rounds\n$out"
    },

    // tokenizer economics under the 16-round chain: the final vocabulary
    // state's token counts joined against per-(source, word) counts
    "q249_bpe_encode" -> {
      val rounds = (1 to 16).map(bpeRoundCte).mkString(",\n")
      val pw =
        """pw AS (SELECT source, w, count(*)::BIGINT AS n_w FROM (
          |    SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
          |        '\s+')) AS w FROM documents)
          |  WHERE length(w) >= 1 GROUP BY 1, 2)""".stripMargin
      s"""WITH $bpeBaseCte,
         |$rounds,
         |$pw,
         |agg AS (SELECT pw.source, sum(pw.n_w)::BIGINT AS n_words,
         |    sum(pw.n_w * len(v.t))::BIGINT AS n_bpe_tokens,
         |    sum(pw.n_w * length(pw.w))::BIGINT AS n_chars
         |  FROM pw JOIN v16 v ON v.w = pw.w GROUP BY 1)
         |SELECT source, n_words, n_bpe_tokens,
         |  ${rnd("n_bpe_tokens::DOUBLE / n_words::DOUBLE", 4)} AS fertility,
         |  ${rnd("n_chars::DOUBLE / n_bpe_tokens::DOUBLE", 4)}
         |    AS chars_per_token
         |FROM agg""".stripMargin
    },

    // q250: Soundex-variant key replayed step for step (translate + 'g'
    // regexp chain — deliberately NO backreferences: RE2 lacks them)
    "q250_phonetic_blocks" -> {
      val codes = "01230120022455012623010202"
      val norm = raw"regexp_replace(lower(w), '[^a-z]', '', 'g')"
      val digits0 =
        s"translate(substr($norm, 2), 'abcdefghijklmnopqrstuvwxyz', '$codes')"
      val collapsed = (1 to 6).foldLeft(digits0) { (c, d) =>
        s"regexp_replace($c, '$d+', '$d', 'g')"
      }
      val key = s"CASE WHEN length($norm) = 0 THEN NULL ELSE " +
        s"rpad(substr($norm, 1, 1) || replace($collapsed, '0', ''), 4, '0') END"
      raw"""WITH words AS (SELECT DISTINCT p_partkey AS id, w FROM (
         |    SELECT p_partkey, unnest(regexp_split_to_array(p_name, '\s+')) AS w
         |    FROM part) WHERE length(w) > 0),
         |keyed AS (SELECT id, w, $key AS key FROM words)
         |SELECT key, count(DISTINCT id)::BIGINT AS n_records,
         |  count(DISTINCT w)::BIGINT AS n_words, min(w) AS example_word
         |FROM keyed WHERE key IS NOT NULL GROUP BY 1""".stripMargin
    },

    // q251: the EWMA recursion as the identical left fold (list over the
    // running window + list_reduce, init = first element) — fp ops match
    // order-for-order, daily means are exact-numerator single divisions
    "q251_ewma" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS n,
         |    sum(value::DECIMAL(18,2))::DOUBLE / count(*)::DOUBLE AS m
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |pre AS (SELECT k, day, n, m, list(m) OVER (PARTITION BY k
         |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS l FROM daily)
         |SELECT k AS event_type, day, n, ${rnd("m", 4)} AS daily_mean,
         |  ${rnd("list_reduce(l, (acc, x) -> 0.8 * acc + 0.2 * x)", 4)}
         |    AS ewma
         |FROM pre""".stripMargin,

    // q252: exact Mann-Whitney AUC with midranks (rank + (ties-1)/2 —
    // sums of half-integers are exact in double, one final division)
    "q252_group_auc" ->
      s"""WITH base AS (SELECT source AS g, n_chars AS s,
         |    (lang = 'en') AS y FROM documents
         |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
         |r AS (SELECT g, y,
         |    rank() OVER (PARTITION BY g ORDER BY s) AS rk,
         |    count(*) OVER (PARTITION BY g, s) AS tc FROM base),
         |a AS (SELECT g, sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
         |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS nn,
         |    sum(CASE WHEN y THEN rk::DOUBLE + (tc::DOUBLE - 1.0) / 2.0
         |      ELSE 0.0 END) AS rpos
         |  FROM r GROUP BY 1)
         |SELECT g AS source, np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
         |  ${rnd("CASE WHEN np = 0 OR nn = 0 THEN NULL ELSE (rpos - " +
            "np::DOUBLE * (np::DOUBLE + 1.0) / 2.0) / " +
            "(np::DOUBLE * nn::DOUBLE) END", 4)} AS auc
         |FROM a""".stripMargin,

    // q253: BFS unrolled 3 rounds over the q66/q102 shared-window pair
    // graph — min over (settled ∪ expanded) per round is exactly the
    // frontier expansion's distance set
    "q253_bfs_hops" -> {
      def hop(prev: String, out: String) =
        s"""$out AS (SELECT node, min(hops)::BIGINT AS hops FROM (
           |  SELECT node, hops FROM $prev UNION ALL
           |  SELECT e.dst, d.hops + 1 FROM $prev d
           |  JOIN edges e ON e.src = d.node) GROUP BY 1)""".stripMargin
      s"""WITH wins AS (SELECT DISTINCT doc_id, md5(substring(text, p + 1, 64)) AS h
         |  FROM documents, unnest(range(0, length(text) - 64 + 1, 32)) AS u(p)
         |  WHERE length(text) >= 64),
         |rare AS (SELECT h FROM wins GROUP BY h HAVING count(*) <= 1000),
         |pruned AS (SELECT w.doc_id, w.h FROM wins w JOIN rare USING (h)),
         |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pruned a JOIN pruned b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION SELECT id_b, id_a FROM prs),
         |d0 AS (SELECT doc_id AS node, 0::BIGINT AS hops FROM documents
         |  WHERE doc_id % 5 = 3),
         |${hop("d0", "d1")},
         |${hop("d1", "d2")},
         |${hop("d2", "d3")}
         |SELECT node, hops FROM d3""".stripMargin
    },

    // q254/q255 share the q251 daily-mean spine (exact-numerator single
    // divisions -> bit-identical m values, so slope/sign/tie groups match)
    "q254_theil_sen" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    sum(value::DECIMAL(18,2))::DOUBLE / count(*)::DOUBLE AS m
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |slopes AS (SELECT a.k AS k,
         |    (b.m - a.m) / (b.day - a.day)::DOUBLE AS slope
         |  FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day),
         |r AS (SELECT k, slope,
         |    row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
         |    count(*) OVER (PARTITION BY k) AS np FROM slopes)
         |SELECT k AS event_type, max(np)::BIGINT AS n_pairs,
         |  ${rnd("max(CASE WHEN rn = ceil(0.5 * np::DOUBLE) THEN slope END)", 6)}
         |    AS sen_slope
         |FROM r GROUP BY 1""".stripMargin,

    "q255_mann_kendall" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    sum(value::DECIMAL(18,2))::DOUBLE / count(*)::DOUBLE AS m
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |st AS (SELECT a.k AS k, sum(sign(b.m - a.m))::BIGINT AS s
         |  FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day
         |  GROUP BY 1),
         |cnt AS (SELECT k, count(*)::BIGINT AS nd FROM daily GROUP BY 1),
         |ties AS (SELECT k,
         |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term FROM (
         |    SELECT k, m, count(*)::BIGINT AS t FROM daily GROUP BY 1, 2)
         |  GROUP BY 1),
         |j AS (SELECT cnt.k, nd, s,
         |    (nd * (nd - 1) * (2 * nd + 5) - tie_term)::DOUBLE / 18.0
         |      AS var_s
         |  FROM cnt JOIN ties USING (k) JOIN st USING (k))
         |SELECT k AS event_type, nd AS n_days, s, ${rnd("var_s", 4)} AS var_s,
         |  ${rnd("CASE WHEN s > 0 THEN (s::DOUBLE - 1.0) / sqrt(var_s) " +
            "WHEN s < 0 THEN (s::DOUBLE + 1.0) / sqrt(var_s) " +
            "ELSE 0.0 END", 4)} AS z
         |FROM j""".stripMargin,

    // q256: diagonal Mahalanobis from exact integer moments; every score
    // is a deterministic fp function of longs, so the top-20 order
    // (score desc, doc_id) is engine-stable
    "q256_mahalanobis_outliers" -> {
      def term(f: String) = {
        val v = s"((sxx_$f::DOUBLE - sx_$f::DOUBLE * sx_$f::DOUBLE / n::DOUBLE) / " +
          s"(n::DOUBLE - 1.0))"
        s"(CASE WHEN $v = 0.0 THEN 0.0 ELSE " +
          s"(($f::DOUBLE - sx_$f::DOUBLE / n::DOUBLE) * " +
          s"($f::DOUBLE - sx_$f::DOUBLE / n::DOUBLE)) / $v END)"
      }
      val score = s"${term("n_chars")} + ${term("n_tokens")} + ${term("n_types")}"
      s"""WITH f AS (SELECT doc_id, n_chars::BIGINT AS n_chars,
         |    len($toksExpr)::BIGINT AS n_tokens,
         |    len(list_distinct($toksExpr))::BIGINT AS n_types
         |  FROM documents WHERE n_chars IS NOT NULL),
         |m AS (SELECT count(*)::BIGINT AS n,
         |    sum(n_chars) AS sx_n_chars,
         |    sum(n_chars * n_chars) AS sxx_n_chars,
         |    sum(n_tokens) AS sx_n_tokens,
         |    sum(n_tokens * n_tokens) AS sxx_n_tokens,
         |    sum(n_types) AS sx_n_types,
         |    sum(n_types * n_types) AS sxx_n_types
         |  FROM f),
         |scored AS (SELECT doc_id, n_chars, n_tokens, n_types,
         |    ${rnd(score, 4)} AS score FROM f CROSS JOIN m)
         |SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    // q257: h32(user:slot) mod |catalog| against the dense catalog index;
    // slots colliding with a positive are dropped (documented semantics)
    "q257_negative_sampling" ->
      s"""WITH pos AS (SELECT DISTINCT o_custkey AS u, l_partkey AS it
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |cat AS (SELECT p_partkey AS it,
         |    row_number() OVER (ORDER BY p_partkey) - 1 AS idx FROM part),
         |nc AS (SELECT count(*)::BIGINT AS n FROM part),
         |cand AS (SELECT u, rep AS slot,
         |    ${h32("u::VARCHAR || ':' || rep::VARCHAR")} % n AS idx
         |  FROM (SELECT DISTINCT u FROM pos) CROSS JOIN nc,
         |    unnest(range(8)) AS r(rep)),
         |neg AS (SELECT u, slot, it FROM cand JOIN cat USING (idx))
         |SELECT u AS o_custkey, slot::BIGINT AS slot,
         |  it AS neg_p_partkey FROM neg n
         |WHERE NOT EXISTS (SELECT 1 FROM pos p
         |  WHERE p.u = n.u AND p.it = n.it)""".stripMargin,

    // q258: Yuen's trimmed t (trim 0.2) — order statistics via the same
    // row_number windows, values DECIMAL through clamping so every moment
    // is exact
    "q258_yuen_trimmed_t" -> {
      val core =
        s"""WITH base AS (SELECT (o_orderkey % 2 = 0) AS b,
           |    o_totalprice::DECIMAL(18,2) AS v FROM orders
           |  WHERE o_totalprice IS NOT NULL),
           |r AS (SELECT b, v,
           |    row_number() OVER (PARTITION BY b ORDER BY v) AS rn,
           |    count(*) OVER (PARTITION BY b) AS n FROM base),
           |rg AS (SELECT *, floor(0.2 * n::DOUBLE)::BIGINT AS g FROM r),
           |lims AS (SELECT b, max(CASE WHEN rn = g + 1 THEN v END) AS lo,
           |    max(CASE WHEN rn = n - g THEN v END) AS hi
           |  FROM rg GROUP BY 1),
           |wz AS (SELECT rg.b AS b, rg.n AS n, rg.g AS g, v, rn,
           |    greatest(lo, least(hi, v)) AS wv,
           |    (rn > g AND rn <= rg.n - g) AS mid
           |  FROM rg JOIN lims ON rg.b = lims.b),
           |m AS (SELECT b, max(n)::BIGINT AS n, max(n - 2 * g)::BIGINT AS h,
           |    sum(CASE WHEN mid THEN v END)::DOUBLE /
           |      sum(CASE WHEN mid THEN 1 ELSE 0 END)::DOUBLE AS mt,
           |    sum(wv)::DOUBLE AS sw, sum(wv * wv)::DOUBLE AS sww
           |  FROM wz GROUP BY 1),
           |d AS (SELECT *,
           |    (n::DOUBLE - 1.0) * ((sww - sw * sw / n::DOUBLE) /
           |      (n::DOUBLE - 1.0)) /
           |      (h::DOUBLE * (h::DOUBLE - 1.0)) AS dj FROM m)""".stripMargin
      s"""$core
         |SELECT a.n AS n_a, bb.n AS n_b, a.h AS h_a, bb.h AS h_b,
         |  ${rnd("a.mt", 4)} AS tmean_a, ${rnd("bb.mt", 4)} AS tmean_b,
         |  ${rnd("(bb.mt - a.mt) / sqrt(a.dj + bb.dj)", 4)} AS t_stat,
         |  ${rnd("(a.dj + bb.dj) * (a.dj + bb.dj) / " +
            "(a.dj * a.dj / (a.h::DOUBLE - 1.0) + " +
            "bb.dj * bb.dj / (bb.h::DOUBLE - 1.0))", 2)} AS df
         |FROM d a CROSS JOIN d bb WHERE NOT a.b AND bb.b""".stripMargin
    },

    // q259: post-stratification over the 10% hash sample, strata = market
    // segment; population shares exact integer ratios
    "q259_poststrat_mean" ->
      s"""WITH pop AS (SELECT c_mktsegment AS s, count(*)::BIGINT AS n_pop
         |  FROM customer GROUP BY 1),
         |tot AS (SELECT sum(n_pop)::BIGINT AS n_pop_t FROM pop),
         |samp AS (SELECT c_mktsegment AS s,
         |    c_acctbal::DECIMAL(18,2) AS v FROM customer
         |  WHERE ${h32("c_custkey::VARCHAR")} % 10 = 0
         |    AND c_acctbal IS NOT NULL),
         |sm AS (SELECT s, count(*)::BIGINT AS n_s, sum(v)::DOUBLE AS sx,
         |    sum(v * v)::DOUBLE AS sxx FROM samp GROUP BY 1),
         |j AS (SELECT pop.s, n_pop, n_s, sx, sxx, n_pop_t,
         |    n_pop::DOUBLE / n_pop_t::DOUBLE AS w,
         |    sx / n_s::DOUBLE AS mean_s,
         |    (sxx - sx * sx / n_s::DOUBLE) / (n_s::DOUBLE - 1.0) AS var_s
         |  FROM pop JOIN sm USING (s) CROSS JOIN tot)
         |SELECT max(n_pop_t)::BIGINT AS n_population,
         |  sum(n_s)::BIGINT AS n_sample,
         |  ${rnd("sum(sx) / sum(n_s)::DOUBLE", 4)} AS naive_mean,
         |  ${rnd("sum(w * mean_s)", 4)} AS poststrat_mean,
         |  ${rnd("sqrt(sum(w * w * var_s / n_s::DOUBLE))", 4)} AS se
         |FROM j""".stripMargin,

    // q260: LOO 5-NN vote — self excluded up front (equivalent to the
    // Spark side's ask-k+1-drop-self under exact-duplicate ties too);
    // vote ties break to the smallest label
    "q260_knn_eval" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS tl
         |  FROM embeddings WHERE vec_id % 7 = 0),
         |scored AS (SELECT query_id, tl, e.vec_id AS nid, e.label AS nl,
         |    ${cosineSql("e.embedding", "qv")} AS c
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
         |ranked AS (SELECT query_id, tl, nl,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY c DESC, nid ASC) AS r FROM scored),
         |votes AS (SELECT query_id, tl, nl, count(*) AS cnt FROM ranked
         |  WHERE r <= 5 GROUP BY 1, 2, 3),
         |pred AS (SELECT query_id, tl, nl AS predicted FROM votes
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cnt DESC, nl ASC) = 1)
         |SELECT tl AS true_label, count(*)::BIGINT AS n_eval,
         |  sum(CASE WHEN predicted = tl THEN 1 ELSE 0 END)::BIGINT
         |    AS n_correct,
         |  ${rnd("sum(CASE WHEN predicted = tl THEN 1 ELSE 0 END)::DOUBLE" +
            " / count(*)::DOUBLE", 4)} AS accuracy
         |FROM pred GROUP BY 1""".stripMargin,

    // q261: anisotropy via the sum-vector identity (||sum u||^2 - n) /
    // (n(n-1)) over unit vectors — no pairwise join on either side
    "q261_anisotropy" ->
      s"""WITH base AS (SELECT label, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> (x::DOUBLE) * (x::DOUBLE)))) AS nrm FROM embeddings),
         |b2 AS (SELECT label, nrm,
         |    list_transform(embedding, x -> (x::DOUBLE) / nrm) AS u
         |  FROM base WHERE nrm > 0),
         |pd AS (SELECT label, i AS pos, sum(u[i]) AS s, count(*) AS n,
         |    sum(nrm) AS nrmsum
         |  FROM b2, unnest(generate_series(1, len(u))) AS t(i)
         |  GROUP BY 1, 2),
         |ag AS (SELECT label, max(n)::BIGINT AS n, sum(s * s) AS ss2,
         |    max(nrmsum) / max(n)::DOUBLE AS mean_norm
         |  FROM pd GROUP BY 1)
         |SELECT label, n, ${rnd("mean_norm", 4)} AS mean_norm,
         |  ${rnd("(ss2 - n::DOUBLE) / (n::DOUBLE * (n::DOUBLE - 1.0))", 4)}
         |    AS mean_pairwise_cos
         |FROM ag WHERE n >= 2""".stripMargin,

    // q262: the audit numbers recomputed straight from the source — any
    // delete leak on the COW table breaks the residue/count hash match
    "q262_erasure_audit" ->
      """SELECT event_type, count(*)::BIGINT AS n_before,
        |  sum(CASE WHEN user_id % 11 = 3 THEN 0 ELSE 1 END)::BIGINT AS n_after,
        |  sum(CASE WHEN user_id % 11 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
        |  0::BIGINT AS residue
        |FROM events GROUP BY 1""".stripMargin,

    // q263: q27's langId CASE replayed, row-normalized per true class
    "q263_lang_confusion" -> {
      def score(markers: Seq[String]) =
        s"len(list_filter($toksExpr, t -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], t)))"
      val en = score(Seq("the", "and", "of", "is", "that"))
      val de = score(Seq("der", "die", "und", "ist", "das"))
      val fr = score(Seq("le", "la", "et", "est", "les"))
      val es = score(Seq("el", "la", "que", "es", "los"))
      val zh = score(Seq("的", "是", "了", "在", "我"))
      s"""WITH s AS (SELECT lang AS true_lang, $en AS s_en, $de AS s_de,
         |    $fr AS s_fr, $es AS s_es, $zh AS s_zh
         |  FROM documents WHERE lang IS NOT NULL),
         |p AS (SELECT true_lang,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
         |       ELSE 'zh' END AS pred_lang FROM s),
         |c AS (SELECT true_lang, pred_lang, count(*)::BIGINT AS n
         |  FROM p GROUP BY 1, 2)
         |SELECT true_lang, pred_lang, n,
         |  ${rnd("n::DOUBLE / (sum(n) OVER (PARTITION BY true_lang))::DOUBLE", 4)}
         |    AS share_of_true
         |FROM c""".stripMargin
    },

    // q264: the IVM contract — three incremental merges must equal the
    // one-shot recompute exactly (DECIMAL sums, so no fp drift between
    // the incremental and direct paths)
    "q264_ivm_agg" ->
      s"""SELECT event_type, count(*)::BIGINT AS n,
         |  sum(coalesce(value, 0.0)::DECIMAL(18,2))::DOUBLE AS sum_value,
         |  ${rnd("sum(coalesce(value, 0.0)::DECIMAL(18,2))::DOUBLE" +
            " / count(*)::DOUBLE", 4)} AS mean_value
         |FROM events GROUP BY 1""".stripMargin,

    // q265: histogram Wasserstein-1 + KS vs the pooled corpus — CDF gaps
    // keep exact integer numerators (|cum_g·N − C_b·n_g| in HUGEINT ==
    // Spark DECIMAL(38,0)); fp enters only in the final per-group division
    "q265_emd_drift" ->
      s"""WITH base AS (SELECT event_type::VARCHAR AS g, value::DOUBLE AS v
         |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
         |ext AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
         |counts AS (SELECT g,
         |    CASE WHEN hi = lo THEN 0
         |      ELSE least(63, floor((v - lo) / (hi - lo) * 64)::BIGINT) END
         |      AS b,
         |    count(*)::BIGINT AS c FROM base, ext GROUP BY 1, 2),
         |grid AS (SELECT d.g, t.b
         |  FROM (SELECT DISTINCT g FROM counts) d
         |  CROSS JOIN generate_series(0, 63) AS t(b)),
         |fill AS (SELECT grid.g, grid.b, coalesce(counts.c, 0)::BIGINT AS c
         |  FROM grid LEFT JOIN counts
         |    ON grid.g = counts.g AND grid.b = counts.b),
         |cum AS (SELECT g, b, c,
         |    sum(c) OVER (PARTITION BY g ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER (PARTITION BY g) AS n_g FROM fill),
         |pool AS (SELECT g, b, cum, n_g,
         |    sum(cum) OVER (PARTITION BY b) AS cb FROM cum),
         |tot AS (SELECT sum(c)::BIGINT AS total FROM counts),
         |dev AS (SELECT g, n_g, total,
         |    abs(cum::HUGEINT * total::HUGEINT - cb::HUGEINT * n_g::HUGEINT)
         |      AS dev
         |  FROM pool, tot)
         |SELECT g AS event_type, max(n_g)::BIGINT AS n,
         |  ${rnd("sum(dev)::DOUBLE * ((max(hi) - max(lo)) / 64.0) / " +
            "(max(n_g)::DOUBLE * max(total)::DOUBLE)", 6)} AS emd,
         |  ${rnd("max(dev)::DOUBLE / " +
            "(max(n_g)::DOUBLE * max(total)::DOUBLE)", 6)} AS ks
         |FROM dev, ext GROUP BY 1""".stripMargin,

    // q266: Bradley-Terry MM unrolled 3 rounds — each denominator folds
    // the SORTED opponent list (list_prepend 0.0 + list_reduce == Spark's
    // aggregate with 0.0 init, order-for-order), mean-1 renorm folds the
    // sorted item list
    "q266_bradley_terry" -> {
      def mmRound(r: Int): String = {
        val prev = if (r == 1) "p0" else s"p${r - 1}"
        s"""t$r AS (SELECT pr.i, pi.p AS p,
           |    list_sort(list(struct_pack(j := pr.j, n_ij := pr.n_ij,
           |      pj := pj.p))) AS ts
           |  FROM pair pr JOIN $prev pj ON pr.j = pj.i
           |    JOIN $prev pi ON pr.i = pi.i
           |  GROUP BY 1, 2),
           |raw$r AS (SELECT t$r.i, w.wins::DOUBLE / list_reduce(
           |    list_prepend(0.0::DOUBLE,
           |      list_transform(ts, x -> x.n_ij::DOUBLE / (p + x.pj))),
           |    (a, b) -> a + b) AS praw
           |  FROM t$r JOIN wins w ON t$r.i = w.i),
           |norm$r AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(list_sort(list(struct_pack(i := i,
           |      praw := praw))), x -> x.praw)),
           |    (a, b) -> a + b) / count(*)::DOUBLE AS pbar FROM raw$r),
           |p$r AS (SELECT i, praw / pbar AS p FROM raw$r, norm$r)""".stripMargin
      }
      s"""WITH e AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
         |    p_brand AS brand, l_extendedprice AS price
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |comp AS (SELECT
         |    CASE WHEN a.price > b.price THEN a.brand
         |      WHEN a.price < b.price THEN b.brand
         |      ELSE least(a.brand, b.brand) END AS winner,
         |    CASE WHEN a.price > b.price THEN b.brand
         |      WHEN a.price < b.price THEN a.brand
         |      ELSE greatest(a.brand, b.brand) END AS loser
         |  FROM e a JOIN e b ON a.ok = b.ok AND a.ln < b.ln
         |  WHERE a.brand <> b.brand),
         |dirp AS (SELECT winner AS i, loser AS j, 1 AS win FROM comp
         |  UNION ALL SELECT loser, winner, 0 FROM comp),
         |pair AS (SELECT i, j, count(*)::BIGINT AS n_ij,
         |    sum(win)::BIGINT AS w_ij FROM dirp GROUP BY 1, 2),
         |wins AS (SELECT i, sum(w_ij)::BIGINT AS wins,
         |    sum(n_ij)::BIGINT AS n_comp FROM pair GROUP BY 1),
         |p0 AS (SELECT i, 1.0::DOUBLE AS p FROM wins),
         |${mmRound(1)},
         |${mmRound(2)},
         |${mmRound(3)}
         |SELECT w.i AS item, w.wins, w.n_comp, ${rnd("p3.p", 4)} AS strength
         |FROM p3 JOIN wins w ON p3.i = w.i""".stripMargin
    },

    // q267: delete-one-group jackknife — exact DECIMAL group sums, one
    // division per LOO mean, jackknife mean and deviance sum fold the
    // sorted 24-row list
    "q267_jackknife_se" ->
      s"""WITH base AS (SELECT ${h32("user_id::VARCHAR")} % 24 AS g,
         |    value::DECIMAL(18,2) AS v FROM events
         |  WHERE value IS NOT NULL AND user_id IS NOT NULL),
         |grp AS (SELECT g, count(*)::BIGINT AS n_g, sum(v) AS s_g
         |  FROM base GROUP BY 1),
         |tot AS (SELECT sum(n_g)::BIGINT AS n,
         |    sum(s_g)::DECIMAL(38,2) AS s FROM grp),
         |loo AS (SELECT g, (s - s_g)::DOUBLE / (n - n_g)::DOUBLE AS loo
         |  FROM grp, tot),
         |f AS (SELECT list_sort(list(struct_pack(g := g, loo := loo)))
         |    AS ls FROM loo),
         |j AS (SELECT n, s, ls, len(ls)::BIGINT AS n_groups,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(ls, x -> x.loo)), (a, b) -> a + b)
         |      / len(ls)::DOUBLE AS jm
         |  FROM f, tot)
         |SELECT n AS n_rows, n_groups, ${rnd("s::DOUBLE / n::DOUBLE", 4)}
         |    AS theta,
         |  ${rnd("jm", 4)} AS jack_mean,
         |  ${rnd("sqrt((len(ls)::DOUBLE - 1.0) / len(ls)::DOUBLE * " +
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(ls, " +
            "x -> (x.loo - jm) * (x.loo - jm))), (a, b) -> a + b))", 6)}
         |    AS se_jack
         |FROM j""".stripMargin,

    // q268: farthest-point sampling unrolled 7 greedy rounds — min-dist
    // over the selected set, argmax by (d DESC, id), distances through the
    // same list-lambda cosine as every ANN oracle
    "q268_fps_coreset" -> {
      def fpsRound(r: Int): String =
        s"""c$r AS (SELECT e.vec_id,
           |    min(1.0 - ${cosineSql("e.embedding", "s.v")}) AS d
           |  FROM embeddings e, sel${r - 1} s
           |  WHERE e.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           |  GROUP BY 1),
           |p$r AS (SELECT $r::BIGINT AS r, c.vec_id, e2.embedding AS v, c.d
           |  FROM (SELECT vec_id, d FROM c$r ORDER BY d DESC, vec_id
           |    LIMIT 1) c
           |  JOIN embeddings e2 ON e2.vec_id = c.vec_id),
           |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
           |  SELECT * FROM p$r)""".stripMargin
      s"""WITH sel0 AS (SELECT 0::BIGINT AS r, vec_id, embedding AS v,
         |    NULL::DOUBLE AS d
         |  FROM embeddings
         |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
         |${(1 to 7).map(fpsRound).mkString(",\n")}
         |SELECT r AS sel_round, vec_id, ${rnd("d", 6)} AS min_dist
         |FROM sel7""".stripMargin
    },

    // q269: winnowing — leftmost min per w=4 window over the word
    // 3-shingle hash list (list lambdas replay the Spark array pipeline
    // index-for-index), then bounded-key aggregates
    "q269_winnowing" ->
      s"""WITH per AS (SELECT doc_id, source AS src,
         |    list_transform(${shinglesExpr(toksExpr, 3)}, s -> ${h32("s")})
         |      AS hs
         |  FROM documents),
         |sel AS (SELECT doc_id, src, hs, len(hs)::BIGINT AS m,
         |    CASE WHEN len(hs) >= 4 THEN list_distinct(list_transform(
         |      generate_series(4, len(hs)),
         |      e -> e - 4 + list_position(list_slice(hs, e - 3, e),
         |        list_min(list_slice(hs, e - 3, e)))))
         |    ELSE []::BIGINT[] END AS selpos
         |  FROM per),
         |persrc AS (SELECT src, count(*)::BIGINT AS n_docs,
         |    sum(m)::BIGINT AS shingles,
         |    sum(len(selpos))::BIGINT AS fingerprints
         |  FROM sel GROUP BY 1),
         |fp AS (SELECT doc_id, src,
         |    unnest(list_distinct(list_transform(selpos, p -> hs[p]))) AS h
         |  FROM sel),
         |cnt AS (SELECT h, count(*)::BIGINT AS dc FROM fp GROUP BY 1),
         |sh AS (SELECT src, count(*)::BIGINT AS shared_docs FROM (
         |    SELECT f.doc_id, f.src, max(c.dc) AS mx
         |    FROM fp f JOIN cnt c ON f.h = c.h GROUP BY 1, 2)
         |  WHERE mx > 1 GROUP BY 1)
         |SELECT p.src AS source, p.n_docs, p.shingles, p.fingerprints,
         |  CASE WHEN p.shingles > 0 THEN
         |    ${rnd("p.fingerprints::DOUBLE / p.shingles::DOUBLE", 4)} END
         |    AS density,
         |  coalesce(sh.shared_docs, 0)::BIGINT AS shared_docs
         |FROM persrc p LEFT JOIN sh ON p.src = sh.src""".stripMargin,

    // q270: seasonal-naive (t-7) forecast eval — integer errors, so MAE
    // and both pinball losses are exact-integer numerators with one
    // division each (pinball90 = max(9e, -e)/10)
    "q270_forecast_eval" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS n
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |j AS (SELECT d.k, d.n - p.n AS e
         |  FROM daily d JOIN daily p ON d.k = p.k AND d.day = p.day + 7),
         |a AS (SELECT k, count(*)::BIGINT AS n_days,
         |    sum(abs(e))::BIGINT AS sae,
         |    sum(greatest(9 * e, -e))::BIGINT AS sp90
         |  FROM j GROUP BY 1)
         |SELECT k AS event_type, n_days,
         |  ${rnd("sae::DOUBLE / n_days::DOUBLE", 4)} AS mae,
         |  ${rnd("sae::DOUBLE / (2.0 * n_days::DOUBLE)", 4)} AS pinball50,
         |  ${rnd("sp90::DOUBLE / (10.0 * n_days::DOUBLE)", 4)} AS pinball90
         |FROM a""".stripMargin,

    // q271: ACF at calendar lags 1..7 — exact HUGEINT moments mirror the
    // Spark DECIMAL(38,0) forms; one double division at the end
    "q271_acf" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS n
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |base AS (SELECT k, count(*)::HUGEINT AS nd, sum(n)::HUGEINT AS t,
         |    sum(n * n)::HUGEINT AS sxx
         |  FROM daily GROUP BY 1),
         |head AS (SELECT k, g.l, day + g.l::INTEGER AS day, n AS n_head
         |  FROM daily, generate_series(1, 7) AS g(l)),
         |pairs AS (SELECT h.k, h.l, count(*)::HUGEINT AS c,
         |    sum(h.n_head * d.n)::HUGEINT AS sxy,
         |    sum(h.n_head)::HUGEINT AS sh, sum(d.n)::HUGEINT AS st
         |  FROM head h JOIN daily d ON h.k = d.k AND h.day = d.day
         |  GROUP BY 1, 2)
         |SELECT p.k AS event_type, p.l::BIGINT AS lag,
         |  p.c::BIGINT AS n_pairs,
         |  ${rnd("(b.nd * b.nd * p.sxy - b.nd * b.t * (p.sh + p.st) + " +
             "p.c * b.t * b.t)::DOUBLE / " +
             "(b.nd * (b.nd * b.sxx - b.t * b.t))::DOUBLE", 4)} AS acf
         |FROM pairs p JOIN base b ON p.k = b.k""".stripMargin,

    // q272: degree assortativity over the distinct customer–part edges;
    // five exact moments, doubles only inside the final sqrt-and-divide
    // (same operation order as the Spark side)
    "q272_assortativity" ->
      s"""WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
         |dl AS (SELECT u, count(*)::BIGINT AS dx FROM e GROUP BY 1),
         |dr AS (SELECT i, count(*)::BIGINT AS dy FROM e GROUP BY 1),
         |mm AS (SELECT count(*)::HUGEINT AS m, sum(dx)::HUGEINT AS sx,
         |    sum(dy)::HUGEINT AS sy, sum(dx * dy)::HUGEINT AS sxy,
         |    sum(dx * dx)::HUGEINT AS sxx, sum(dy * dy)::HUGEINT AS syy,
         |    count(DISTINCT u)::BIGINT AS n_left,
         |    count(DISTINCT i)::BIGINT AS n_right
         |  FROM e JOIN dl USING (u) JOIN dr USING (i))
         |SELECT m::BIGINT AS n_edges, n_left, n_right,
         |  ${rnd("sx::DOUBLE / m::DOUBLE", 4)} AS mean_deg_left,
         |  ${rnd("sy::DOUBLE / m::DOUBLE", 4)} AS mean_deg_right,
         |  ${rnd("CASE WHEN (m * sxx - sx * sx) = 0 OR " +
             "(m * syy - sy * sy) = 0 THEN NULL ELSE " +
             "(m * sxy - sx * sy)::DOUBLE / " +
             "sqrt((m * sxx - sx * sx)::DOUBLE * " +
             "(m * syy - sy * sy)::DOUBLE) END", 4)} AS assortativity
         |FROM mm""".stripMargin,

    // q273: growth accounting — per-user lag/lead over the distinct
    // (user, day) spine; DATE subtraction is integer days on both engines
    "q273_growth_accounting" ->
      s"""WITH du AS (SELECT DISTINCT user_id AS u, ts::DATE AS day
         |  FROM events WHERE ts IS NOT NULL),
         |x AS (SELECT u, day,
         |    lag(day) OVER (PARTITION BY u ORDER BY day) AS prev,
         |    lead(day) OVER (PARTITION BY u ORDER BY day) AS nxt
         |  FROM du)
         |SELECT day, count(*)::BIGINT AS dau,
         |  sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS new_users,
         |  sum(CASE WHEN prev IS NOT NULL AND day - prev <= 7
         |    THEN 1 ELSE 0 END)::BIGINT AS retained,
         |  sum(CASE WHEN prev IS NOT NULL AND day - prev > 7
         |    THEN 1 ELSE 0 END)::BIGINT AS resurrected,
         |  sum(CASE WHEN nxt IS NULL OR nxt - day > 7
         |    THEN 1 ELSE 0 END)::BIGINT AS churning
         |FROM x GROUP BY 1""".stripMargin,

    // q274: Spearman via value-grid midranks ×2 (integer), five exact
    // HUGEINT moments, one sqrt-and-divide in the Spark operation order
    "q274_spearman" ->
      s"""WITH base AS (SELECT l_returnflag AS g, l_quantity AS x,
         |    l_discount AS y
         |  FROM lineitem WHERE l_returnflag IS NOT NULL
         |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
         |gx AS (SELECT g, x, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
         |rx AS (SELECT g, x, 2 * (sum(c) OVER (PARTITION BY g ORDER BY x
         |    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS rx FROM gx),
         |gy AS (SELECT g, y, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
         |ry AS (SELECT g, y, 2 * (sum(c) OVER (PARTITION BY g ORDER BY y
         |    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS ry FROM gy),
         |j AS (SELECT b.g, rx.rx, ry.ry FROM base b
         |  JOIN rx ON b.g = rx.g AND b.x = rx.x
         |  JOIN ry ON b.g = ry.g AND b.y = ry.y),
         |m AS (SELECT g, count(*)::HUGEINT AS n, sum(rx)::HUGEINT AS sx,
         |    sum(ry)::HUGEINT AS sy, sum(rx * ry)::HUGEINT AS sxy,
         |    sum(rx * rx)::HUGEINT AS sxx, sum(ry * ry)::HUGEINT AS syy
         |  FROM j GROUP BY 1)
         |SELECT g AS l_returnflag, n::BIGINT AS n_rows,
         |  ${rnd("CASE WHEN (n * sxx - sx * sx) = 0 OR " +
             "(n * syy - sy * sy) = 0 THEN NULL ELSE " +
             "(n * sxy - sx * sy)::DOUBLE / " +
             "sqrt((n * sxx - sx * sx)::DOUBLE * " +
             "(n * syy - sy * sy)::DOUBLE) END", 4)} AS spearman_rho
         |FROM m""".stripMargin,

    // q275: Pettitt — delta-encoded pair signs, running-sum U over the
    // day spine, earliest-day argmax, classic p approximation
    "q275_pettitt" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS n
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |pr AS (SELECT a.k, a.day AS di, b.day AS dj,
         |    sign(b.n - a.n)::BIGINT AS s
         |  FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day),
         |del AS (SELECT k, day, sum(d)::BIGINT AS d FROM (
         |    SELECT k, di AS day, s AS d FROM pr
         |    UNION ALL SELECT k, dj AS day, -s AS d FROM pr)
         |  GROUP BY 1, 2),
         |u AS (SELECT k, day, sum(d) OVER (PARTITION BY k ORDER BY day
         |    ROWS UNBOUNDED PRECEDING) AS u FROM del),
         |nd AS (SELECT k, count(*)::BIGINT AS n_days, max(day) AS last_day
         |  FROM daily GROUP BY 1),
         |cuts AS (SELECT u.k, nd.n_days, u.day, abs(u.u)::BIGINT AS au
         |  FROM u JOIN nd ON u.k = nd.k WHERE u.day < nd.last_day),
         |km AS (SELECT k, n_days, max(au)::BIGINT AS k_stat
         |  FROM cuts GROUP BY 1, 2),
         |cd AS (SELECT c.k, min(c.day) AS change_day
         |  FROM cuts c JOIN km ON c.k = km.k AND c.au = km.k_stat
         |  GROUP BY 1)
         |SELECT km.k AS event_type, n_days, k_stat, change_day,
         |  ${rnd("least(1.0, 2.0 * exp(-6.0 * k_stat::DOUBLE * " +
             "k_stat::DOUBLE / (n_days::DOUBLE * n_days::DOUBLE * " +
             "n_days::DOUBLE + n_days::DOUBLE * n_days::DOUBLE)))", 6)}
         |    AS p_value
         |FROM km JOIN cd ON km.k = cd.k""".stripMargin,

    // q276: rank-aligned triplets (pos = next same-label id, neg = same
    // rank in the next label of the sorted cycle); margins rounded to 12
    // decimals then DECIMAL-summed, so the mean is order-free
    "q276_triplet_eval" ->
      s"""WITH labs AS (SELECT DISTINCT label::VARCHAR AS l
         |  FROM embeddings WHERE label IS NOT NULL),
         |cyc AS (SELECT l AS l_str, coalesce(lead(l) OVER (ORDER BY l),
         |    (SELECT min(l) FROM labs)) AS l_next_str FROM labs),
         |ranked AS (SELECT label AS lab, label::VARCHAR AS l,
         |    vec_id AS id, embedding AS v,
         |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS r
         |  FROM embeddings WHERE label IS NOT NULL),
         |anch AS (SELECT lab, l, r, v,
         |    lead(id) OVER (PARTITION BY l ORDER BY id) AS pid,
         |    lead(v) OVER (PARTITION BY l ORDER BY id) AS pv
         |  FROM ranked),
         |trip AS (SELECT a.lab, a.v, a.pv, n.v AS nv
         |  FROM anch a JOIN cyc ON a.l = cyc.l_str
         |  JOIN ranked n ON n.l = cyc.l_next_str AND n.r = a.r
         |  WHERE a.pid IS NOT NULL),
         |ms AS (SELECT lab,
         |    ${rnd(cosineSql("v", "pv") + " - " + cosineSql("v", "nv"),
             12)}::DECIMAL(20,12) AS m
         |  FROM trip),
         |agg AS (SELECT lab, count(*)::BIGINT AS n_triplets,
         |    sum(CASE WHEN m < 0 THEN 1 ELSE 0 END)::BIGINT AS violations,
         |    sum(m) AS msum
         |  FROM ms GROUP BY 1)
         |SELECT lab AS label, n_triplets, violations,
         |  ${rnd("violations::DOUBLE / n_triplets::DOUBLE", 4)}
         |    AS violation_rate,
         |  ${rnd("msum::DOUBLE / n_triplets::DOUBLE", 6)} AS mean_margin
         |FROM agg""".stripMargin,

    // q277: Holt recursion replayed as a RECURSIVE CTE (one row per key
    // per step — list_reduce struct-literal lambdas alias the in-flight
    // accumulator in this DuckDB version, so plain column rebinding it
    // is); alpha/beta are dyadic so every state value is fp-exact
    "q277_holt_eval" ->
      s"""WITH RECURSIVE daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::DOUBLE AS n
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |idx AS (SELECT k, n,
         |    row_number() OVER (PARTITION BY k ORDER BY day) AS i
         |  FROM daily),
         |rec AS (
         |  SELECT k, i, n AS l, 0.0::DOUBLE AS b, n AS px,
         |    0.0::DOUBLE AS sae, 0.0::DOUBLE AS nae
         |  FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT r.k, x.i,
         |    0.5 * x.n + 0.5 * (r.l + r.b),
         |    0.25 * ((0.5 * x.n + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b,
         |    x.n,
         |    r.sae + abs(x.n - (r.l + r.b)),
         |    r.nae + abs(x.n - r.px)
         |  FROM rec r JOIN idx x ON x.k = r.k AND x.i = r.i + 1),
         |fin AS (SELECT k, i AS t, sae, nae FROM rec
         |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY i DESC) = 1)
         |SELECT k AS event_type, t AS n_days,
         |  ${rnd("sae / (t - 1)::DOUBLE", 4)} AS holt_mae,
         |  ${rnd("nae / (t - 1)::DOUBLE", 4)} AS naive_mae,
         |  ${rnd("CASE WHEN nae > 0.0 THEN 1.0 - sae / nae END", 4)}
         |    AS skill
         |FROM fin WHERE t >= 2""".stripMargin,

    // q278: Kendall tau-b on the joint value grid — each unordered cell
    // pair counted once via x-order; // keeps HUGEINT halving exact
    "q278_kendall_tau" ->
      s"""WITH cells AS (SELECT l_returnflag AS g, l_quantity AS x,
         |    l_discount AS y, count(*)::BIGINT AS c
         |  FROM lineitem WHERE l_returnflag IS NOT NULL
         |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |tot AS (SELECT g, sum(c)::HUGEINT AS n,
         |    (sum(c)::HUGEINT * (sum(c)::HUGEINT - 1)) // 2 AS n0
         |  FROM cells GROUP BY 1),
         |tx AS (SELECT g, sum((cv * (cv - 1)) // 2)::HUGEINT AS n1 FROM (
         |    SELECT g, x, sum(c)::HUGEINT AS cv FROM cells GROUP BY 1, 2)
         |  GROUP BY 1),
         |ty AS (SELECT g, sum((cv * (cv - 1)) // 2)::HUGEINT AS n2 FROM (
         |    SELECT g, y, sum(c)::HUGEINT AS cv FROM cells GROUP BY 1, 2)
         |  GROUP BY 1),
         |cd AS (SELECT a.g,
         |    sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)::HUGEINT
         |      AS nc,
         |    sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)::HUGEINT
         |      AS nd
         |  FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x
         |  GROUP BY 1)
         |SELECT t.g AS l_returnflag, n::BIGINT AS n_rows,
         |  coalesce(nc, 0)::BIGINT AS concordant,
         |  coalesce(nd, 0)::BIGINT AS discordant,
         |  ${rnd("CASE WHEN (n0 - n1) = 0 OR (n0 - n2) = 0 THEN NULL " +
             "ELSE (coalesce(nc, 0) - coalesce(nd, 0))::DOUBLE / " +
             "sqrt((n0 - n1)::DOUBLE * (n0 - n2)::DOUBLE) END", 4)}
         |    AS tau_b
         |FROM tot t JOIN tx USING (g) JOIN ty USING (g)
         |LEFT JOIN cd ON t.g = cd.g""".stripMargin,

    // q279: shard + position hashes are the same portable md5 stream with
    // different salts; adjacency via a per-shard lag window
    "q279_shard_mixing" ->
      s"""WITH sh AS (SELECT source AS src,
         |    ${h32("doc_id::VARCHAR")} % 32 AS shard,
         |    ${h32("'pos:' || doc_id::VARCHAR")} AS ph,
         |    doc_id::VARCHAR AS id
         |  FROM documents),
         |adj AS (SELECT src, lag(src) OVER (PARTITION BY shard
         |    ORDER BY ph, id) AS prev FROM sh),
         |per AS (SELECT src, count(*)::BIGINT AS n_docs,
         |    sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |      AS n_follow,
         |    sum(CASE WHEN prev = src THEN 1 ELSE 0 END)::BIGINT
         |      AS adjacent_same
         |  FROM adj GROUP BY 1),
         |tot AS (SELECT sum(n_docs)::BIGINT AS n_total FROM per)
         |SELECT src AS source, n_docs, n_follow, adjacent_same,
         |  ${rnd("adjacent_same::DOUBLE / n_follow::DOUBLE", 4)}
         |    AS adj_rate,
         |  ${rnd("n_docs::DOUBLE / n_total::DOUBLE", 4)} AS share,
         |  ${rnd("(adjacent_same::DOUBLE / n_follow::DOUBLE) / " +
             "(n_docs::DOUBLE / n_total::DOUBLE)", 4)} AS lift
         |FROM per, tot""".stripMargin,

    // q280: Krippendorff alpha over three raters (corpus label, n-gram
    // langId, 200-char-prefix langId that abstains on short docs); n and
    // the marginals are integers, the diagonal weights dyadic (<=3 raters)
    "q280_krippendorff" -> {
      def toksOf(e: String) =
        raw"regexp_split_to_array(trim(lower($e)), '\s+')"
      def score(markers: Seq[String], textE: String) =
        s"len(list_filter(${toksOf(textE)}, t -> list_contains([" +
          markers.map("'" + _ + "'").mkString(",") + "], t)))"
      def langIdOf(textE: String): String = {
        val en = score(Seq("the", "and", "of", "is", "that"), textE)
        val de = score(Seq("der", "die", "und", "ist", "das"), textE)
        val fr = score(Seq("le", "la", "et", "est", "les"), textE)
        val es = score(Seq("el", "la", "que", "es", "los"), textE)
        val zh = score(Seq("的", "是", "了", "在", "我"), textE)
        val g = s"greatest($en, $de, $fr, $es, $zh)"
        s"""CASE WHEN $g = 0 THEN 'und'
           |     WHEN $en = $g THEN 'en' WHEN $de = $g THEN 'de'
           |     WHEN $fr = $g THEN 'fr' WHEN $es = $g THEN 'es'
           |     ELSE 'zh' END""".stripMargin
      }
      s"""WITH longf AS (
         |  SELECT doc_id AS u, lang AS c FROM documents
         |  UNION ALL SELECT doc_id, ${langIdOf("text")} FROM documents
         |  UNION ALL SELECT doc_id, CASE WHEN n_chars >= 200
         |    THEN ${langIdOf("substr(text, 1, 200)")} END FROM documents),
         |vals AS (SELECT u, c FROM longf WHERE c IS NOT NULL),
         |uc AS (SELECT u, c, count(*)::DOUBLE AS muc FROM vals
         |  GROUP BY 1, 2),
         |um AS (SELECT u, sum(muc) AS mu FROM uc GROUP BY 1
         |  HAVING sum(muc) >= 2),
         |j AS (SELECT uc.u, uc.c, uc.muc, um.mu FROM uc
         |  JOIN um ON uc.u = um.u),
         |d AS (SELECT sum(muc * (muc - 1.0) / (mu - 1.0)) AS occ,
         |    sum(muc) AS n, count(DISTINCT u)::BIGINT AS n_units FROM j),
         |nc AS (SELECT sum(ncv * ncv) AS snc2 FROM (
         |    SELECT c, sum(muc) AS ncv FROM j GROUP BY 1))
         |SELECT n_units, n::BIGINT AS n_values,
         |  ${rnd("occ / n", 6)} AS observed_agreement,
         |  ${rnd("1.0 - (n - 1.0) * (n - occ) / (n * n - snc2)", 6)}
         |    AS alpha
         |FROM d, nc""".stripMargin
    },

    // q281: ROLLUP levels disambiguated by the grouping bitmask
    "q281_rollup" ->
      s"""SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT
         |    AS n_orders,
         |  sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS sum_price,
         |  GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS level
         |FROM orders
         |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,

    // q282: PR curve on the q178 en-confidence — bin histogram once,
    // cumulative-from-top windows over the 20-row bin frame, F1 via the
    // 2TP/(pred+P) identity (one division)
    "q282_pr_curve" -> {
      def score(markers: Seq[String]) =
        s"len(list_filter($toksExpr, t -> list_contains([" +
          markers.map("'" + _ + "'").mkString(",") + "], t)))"
      val total = Seq(
        score(Seq("the", "and", "of", "is", "that")),
        score(Seq("der", "die", "und", "ist", "das")),
        score(Seq("le", "la", "et", "est", "les")),
        score(Seq("el", "la", "que", "es", "los")),
        score(Seq("的", "是", "了", "在", "我"))).mkString(" + ")
      val en = score(Seq("the", "and", "of", "is", "that"))
      s"""WITH scored AS (SELECT
         |    CASE WHEN ($total) > 0
         |         THEN ($en)::DOUBLE / ($total)::DOUBLE ELSE 0.0 END
         |      AS conf,
         |    (lang = 'en') AS y
         |  FROM documents WHERE lang IS NOT NULL),
         |b AS (SELECT least(19, greatest(0, floor(conf * 20)::BIGINT))
         |      AS bin,
         |    count(*)::BIGINT AS n,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos
         |  FROM scored GROUP BY 1),
         |c AS (SELECT bin, n, pos,
         |    sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
         |      ::BIGINT AS n_pred,
         |    sum(pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
         |      ::BIGINT AS tp FROM b),
         |t AS (SELECT sum(pos)::BIGINT AS p_total FROM b)
         |SELECT bin::DOUBLE / 20 AS threshold, n_pred, tp,
         |  ${rnd("tp::DOUBLE / n_pred::DOUBLE", 6)} AS "precision",
         |  ${rnd("CASE WHEN p_total > 0 THEN " +
             "tp::DOUBLE / p_total::DOUBLE END", 6)} AS recall,
         |  ${rnd("CASE WHEN n_pred + p_total > 0 THEN " +
             "2.0 * tp::DOUBLE / (n_pred + p_total)::DOUBLE END", 6)} AS f1
         |FROM c, t""".stripMargin
    },

    // q284: the SAME driver-computed discrete-Laplace cumulative literals
    // the Spark side embeds (shared generator), so the CASE ladders are
    // bit-identical
    "q284_dp_counts" -> {
      val cum = graft.operators.DataQuality.discreteLaplaceCum(1.0)
      val k = cum.last._1
      val ladder = cum.init
        .map { case (i, c) => s"WHEN u < $c THEN $i" }
        .mkString("CASE ", " ", s" ELSE $k END")
      s"""WITH c AS (SELECT event_type AS g, count(*)::BIGINT AS n_true
         |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
         |u AS (SELECT g, n_true,
         |    ${h32("'dp:' || g")}::DOUBLE / 4294967296.0 AS u FROM c)
         |SELECT g AS event_type, n_true,
         |  greatest(0, n_true + ($ladder))::BIGINT AS released_count,
         |  1.0::DOUBLE AS epsilon
         |FROM u""".stripMargin
    },

    // q285: lateness bucketed to the watermark grid FIRST (exact, since
    // watermarks are the grid points), then a keys x grid conditional sum
    "q285_lateness_profile" ->
      s"""WITH e AS (SELECT event_type AS k, event_id AS arr,
         |    floor(epoch(ts))::BIGINT AS ts
         |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
         |l AS (SELECT k, greatest(0, coalesce(max(ts) OVER (
         |    PARTITION BY k ORDER BY arr
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ts, 0))
         |    ::BIGINT AS late_by FROM e),
         |b AS (SELECT k, CASE WHEN late_by <= 0 THEN 0
         |    WHEN late_by <= 60 THEN 60 WHEN late_by <= 300 THEN 300
         |    WHEN late_by <= 900 THEN 900 WHEN late_by <= 3600 THEN 3600
         |    END AS kept_at, count(*)::BIGINT AS n
         |  FROM l GROUP BY 1, 2),
         |tot AS (SELECT k, sum(n)::BIGINT AS n_events FROM b GROUP BY 1),
         |grid AS (SELECT DISTINCT b.k, g.wm FROM b,
         |  (VALUES (0), (60), (300), (900), (3600)) g(wm)),
         |d AS (SELECT grid.k, grid.wm,
         |    sum(CASE WHEN b.kept_at IS NULL OR b.kept_at > grid.wm
         |      THEN b.n ELSE 0 END)::BIGINT AS n_dropped
         |  FROM grid LEFT JOIN b ON grid.k = b.k GROUP BY 1, 2)
         |SELECT d.k AS event_type, wm::BIGINT AS watermark_s, n_dropped,
         |  n_events,
         |  ${rnd("n_dropped::DOUBLE / n_events::DOUBLE", 6)} AS drop_rate
         |FROM d JOIN tot ON d.k = tot.k""".stripMargin,

    // q286: IPS/SNIPS with Laplace-smoothed propensities; the two double
    // folds replay the Spark sorted-context order via list(... ORDER BY x)
    "q286_ips_policy" ->
      s"""WITH base AS (SELECT (user_id % 4)::VARCHAR AS x,
         |    event_type AS a, value::DECIMAL(18,2) AS r
         |  FROM events WHERE user_id IS NOT NULL
         |    AND event_type IS NOT NULL AND value IS NOT NULL),
         |xa AS (SELECT x, a, count(*)::BIGINT AS n_xa,
         |    sum(r)::DECIMAL(38,2) AS s_xa FROM base GROUP BY 1, 2),
         |nact AS (SELECT count(DISTINCT a)::BIGINT AS n_act FROM xa),
         |nx AS (SELECT x, sum(n_xa)::BIGINT AS n_x,
         |    sum(s_xa)::DECIMAL(38,2) AS s_x FROM xa GROUP BY 1),
         |pi AS (SELECT x, n_xa AS n_m, s_xa AS s_m FROM xa
         |  QUALIFY row_number() OVER (PARTITION BY x
         |    ORDER BY s_xa::DOUBLE / n_xa::DOUBLE DESC, a ASC) = 1),
         |per AS (SELECT pi.x, n_x, s_x, n_m,
         |    (n_x + n_act)::DOUBLE / (n_m + 1)::DOUBLE AS iw,
         |    s_m::DOUBLE AS sm
         |  FROM pi JOIN nx ON pi.x = nx.x CROSS JOIN nact),
         |f AS (SELECT count(*)::BIGINT AS n_contexts,
         |    sum(n_x)::BIGINT AS n_logs, sum(n_m)::BIGINT AS n_matched,
         |    sum(s_x)::DECIMAL(38,2) AS s_all,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(sm * iw ORDER BY x)), (a, b) -> a + b) AS wr,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(n_m::DOUBLE * iw ORDER BY x)), (a, b) -> a + b) AS wsum
         |  FROM per)
         |SELECT n_contexts, n_logs, n_matched,
         |  ${rnd("s_all::DOUBLE / n_logs::DOUBLE", 4)} AS behavior_value,
         |  ${rnd("wr / n_logs::DOUBLE", 4)} AS ips_value,
         |  ${rnd("wr / wsum", 4)} AS snips_value,
         |  ${rnd("n_matched::DOUBLE / n_logs::DOUBLE", 4)} AS match_rate
         |FROM f""".stripMargin,

    // q287: exact decimal moments per (segment, half); contributions in
    // the Spark operation order; absent-period rates fill with the other
    // period's overall mean (identity-preserving)
    "q287_mix_shift" -> {
      val ra = "coalesce(sa::DOUBLE / na::DOUBLE, tsa::DOUBLE / ta::DOUBLE)"
      val rb = "coalesce(sb::DOUBLE / nb::DOUBLE, tsb::DOUBLE / tb::DOUBLE)"
      val wa = "na::DOUBLE / ta::DOUBLE"
      val wb = "nb::DOUBLE / tb::DOUBLE"
      s"""WITH base AS (SELECT event_type AS s,
         |    (date_part('day', ts) >= 16) AS pb, value::DECIMAL(18,2) AS v
         |  FROM events WHERE value IS NOT NULL
         |    AND event_type IS NOT NULL AND ts IS NOT NULL),
         |sp AS (SELECT s,
         |    sum(CASE WHEN NOT pb THEN 1 ELSE 0 END)::BIGINT AS na,
         |    sum(CASE WHEN NOT pb THEN v END)::DECIMAL(38,2) AS sa,
         |    sum(CASE WHEN pb THEN 1 ELSE 0 END)::BIGINT AS nb,
         |    sum(CASE WHEN pb THEN v END)::DECIMAL(38,2) AS sb
         |  FROM base GROUP BY 1),
         |tot AS (SELECT sum(na)::BIGINT AS ta,
         |    sum(sa)::DECIMAL(38,2) AS tsa, sum(nb)::BIGINT AS tb,
         |    sum(sb)::DECIMAL(38,2) AS tsb FROM sp)
         |SELECT s AS event_type, na AS n_a, nb AS n_b,
         |  ${rnd(wa, 6)} AS w_a, ${rnd(wb, 6)} AS w_b,
         |  ${rnd(ra, 4)} AS rate_a, ${rnd(rb, 4)} AS rate_b,
         |  ${rnd(s"(($wb) - ($wa)) * ($ra)", 6)} AS mix_contrib,
         |  ${rnd(s"($wb) * (($rb) - ($ra))", 6)} AS rate_contrib
         |FROM sp, tot""".stripMargin
    },

    // q288: x7-scaled integer decomposition; dow VALUES differ across
    // engines but only serve as a grouping key (not output)
    "q288_seasonal_decompose" ->
      s"""WITH daily AS (SELECT event_type AS k, ts::DATE AS day,
         |    count(*)::BIGINT AS n
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |f AS (SELECT k, day, n,
         |    sum(n) OVER w AS s7, count(*) OVER w AS c7
         |  FROM daily WINDOW w AS (PARTITION BY k ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |d AS (SELECT k, day, n, s7, 7 * n - s7 AS d7,
         |    dayofweek(day) AS dow FROM f WHERE c7 = 7),
         |dw AS (SELECT k, dow, sum(d7)::BIGINT AS sd,
         |    count(*)::BIGINT AS c FROM d GROUP BY 1, 2)
         |SELECT d.k AS event_type, d.day, d.n,
         |  ${rnd("s7::DOUBLE / 7.0", 4)} AS trend,
         |  ${rnd("sd::DOUBLE / (7.0 * c::DOUBLE)", 4)} AS seasonal,
         |  ${rnd("(d7 * c - sd)::DOUBLE / (7.0 * c::DOUBLE)", 4)}
         |    AS residual
         |FROM d JOIN dw ON d.k = dw.k AND d.dow = dw.dow""".stripMargin,

    // q289: identical integer-cent moments in HUGEINT; the common scale
    // cancels in r
    "q289_corr_matrix" -> {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val ps = for (i <- cs.indices; j <- cs.indices if i < j)
        yield (cs(i), cs(j))
      val moments =
        cs.map(c => s"sum($c)::HUGEINT AS s_$c") ++
        cs.map(c => s"sum($c * $c)::HUGEINT AS ss_$c") ++
        ps.map { case (a, b) => s"sum($a * $b)::HUGEINT AS sp_${a}_$b" }
      val rows = ps.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n::BIGINT AS n_rows,
           |  ${rnd(s"(n * sp_${a}_$b - s_$a * s_$b)::DOUBLE / " +
               s"sqrt((n * ss_$a - s_$a * s_$a)::DOUBLE * " +
               s"(n * ss_$b - s_$b * s_$b)::DOUBLE)", 4)} AS pearson_r
           |FROM m""".stripMargin }
      s"""WITH c AS (SELECT
         |    ${cs.map(c =>
             s"((($c)::DECIMAL(18,2)) * 100)::HUGEINT AS $c")
             .mkString(",\n|    ")}
         |  FROM lineitem
         |  WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
         |m AS (SELECT count(*)::HUGEINT AS n,
         |    ${moments.mkString(",\n|    ")}
         |  FROM c)
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // q290: vocabulary-bounded codepoint histogram; the c·log2(c) fold
    // runs in byte-order of the char (both engines' default collation)
    "q290_char_stats" ->
      s"""WITH ch AS (SELECT source AS src,
         |    unnest(string_split(text, '')) AS ch FROM documents),
         |cnt AS (SELECT src, ch, count(*)::BIGINT AS c FROM ch
         |  WHERE len(ch) > 0 GROUP BY 1, 2),
         |agg AS (SELECT src, sum(c)::BIGINT AS n_chars,
         |    count(*)::BIGINT AS n_distinct_chars,
         |    sum(CASE WHEN ascii(ch) > 127 OR ascii(ch) < 0 THEN c
         |      ELSE 0 END)::BIGINT AS n_non,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(c::DOUBLE * log2(c::DOUBLE) ORDER BY ch)),
         |      (a, b) -> a + b) AS sl
         |  FROM cnt GROUP BY 1)
         |SELECT src AS source, n_chars, n_distinct_chars,
         |  ${rnd("log2(n_chars::DOUBLE) - sl / n_chars::DOUBLE", 4)}
         |    AS entropy_bits,
         |  ${rnd("n_non::DOUBLE / n_chars::DOUBLE", 4)} AS non_ascii_ratio
         |FROM agg""".stripMargin,

    // q291: weighted lower medians on the (group, rep, value) grid with
    // q246's exact weight chain — no floating arithmetic anywhere
    "q291_median_boot_ci" -> {
      val cum = graft.operators.Stats.poissonCum.map(_.toString)
      val wCase = cum.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString("CASE ", " ", " ELSE 9 END")
      def mm(x: String, c: String): String =
        s"((($x % 65536) * $c) + ((($x >> 16) * $c) % 65536) * 65536) " +
          "% 4294967296"
      s"""WITH base AS (SELECT o_orderstatus AS g,
         |    ${h32("o_orderkey::VARCHAR")} AS h,
         |    o_totalprice::DECIMAL(18,2) AS v
         |  FROM orders
         |  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
         |nn AS (SELECT g, count(*)::BIGINT AS n_rows FROM base GROUP BY 1),
         |ptg AS (SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
         |ptc AS (SELECT g, v, c,
         |    sum(c) OVER (PARTITION BY g ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(c) OVER (PARTITION BY g) AS ng FROM ptg),
         |pt AS (SELECT g, min(v) AS med FROM ptc
         |  WHERE cum * 2 >= ng GROUP BY 1),
         |central AS (SELECT g, v FROM ptc
         |  WHERE cum * 2 >= ng - ceil(32.0 * sqrt(ng::DOUBLE))::BIGINT
         |    AND (cum - c) * 2 <= ng + ceil(32.0 * sqrt(ng::DOUBLE))::BIGINT),
         |cut AS (SELECT g, min(v) AS v_lo FROM central GROUP BY 1),
         |reps AS (SELECT g, h, v, gs.rep FROM base,
         |  generate_series(0, 63) gs(rep)),
         |x0 AS (SELECT g, rep, v,
         |    xor(h, (rep * 2654435761) % 4294967296) AS x FROM reps),
         |x1 AS (SELECT g, rep, v, xor(x, x >> 16) AS x FROM x0),
         |x2 AS (SELECT g, rep, v, ${mm("x", "2246822507")} AS x FROM x1),
         |x3 AS (SELECT g, rep, v, xor(x, x >> 13) AS x FROM x2),
         |x4 AS (SELECT g, rep, v, ${mm("x", "3266489909")} AS x FROM x3),
         |us AS (SELECT g, rep, v,
         |    xor(x, x >> 16)::DOUBLE / 4294967296.0 AS u FROM x4),
         |ws AS (SELECT g, rep, v, ($wCase)::BIGINT AS w FROM us),
         |masses AS (SELECT ws.g, rep, sum(w)::BIGINT AS wt,
         |    sum(CASE WHEN v < v_lo THEN w ELSE 0 END)::BIGINT AS below
         |  FROM ws JOIN cut ON ws.g = cut.g GROUP BY 1, 2),
         |wg AS (SELECT ws.g, rep, ws.v, sum(w)::BIGINT AS w8
         |  FROM ws JOIN central ON ws.g = central.g AND ws.v = central.v
         |  GROUP BY 1, 2, 3),
         |wc AS (SELECT g, rep, v,
         |    sum(w8) OVER (PARTITION BY g, rep ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM wg),
         |md AS (SELECT wc.g, wc.rep, min(v) AS med
         |  FROM wc JOIN masses ON wc.g = masses.g AND wc.rep = masses.rep
         |  WHERE wt > 0 AND (below + cum) * 2 >= wt GROUP BY 1, 2),
         |ci AS (SELECT g, count(*)::BIGINT AS n_reps,
         |    list(med ORDER BY med) AS ms FROM md GROUP BY 1)
         |SELECT nn.g AS o_orderstatus, n_rows, n_reps,
         |  pt.med::DOUBLE AS median,
         |  ms[greatest(1, ceil(0.025 * len(ms))::INT)]::DOUBLE AS ci_lo,
         |  ms[len(ms) + 1 - greatest(1, ceil(0.025 * len(ms))::INT)]
         |    ::DOUBLE AS ci_hi
         |FROM nn JOIN pt ON nn.g = pt.g JOIN ci ON nn.g = ci.g"""
        .stripMargin
    },

    // q292: per-half token top-20 by (count desc, gram asc), full-outer
    // churn join
    "q292_topk_churn" ->
      s"""WITH t AS (SELECT (doc_id % 2 = 1) AS pb,
         |    unnest($toksExpr) AS gram FROM documents),
         |c AS (SELECT pb, gram, count(*)::BIGINT AS n_occ FROM t
         |  GROUP BY 1, 2),
         |r AS (SELECT pb, gram, n_occ, row_number() OVER (PARTITION BY pb
         |    ORDER BY n_occ DESC, gram ASC)::BIGINT AS rnk FROM c
         |  QUALIFY rnk <= 20),
         |a AS (SELECT gram, n_occ AS n_a, rnk AS rank_a FROM r
         |  WHERE NOT pb),
         |b AS (SELECT gram, n_occ AS n_b, rnk AS rank_b FROM r WHERE pb)
         |SELECT coalesce(a.gram, b.gram) AS gram, n_a, rank_a, n_b,
         |  rank_b,
         |  CASE WHEN rank_a IS NULL THEN 'entered'
         |       WHEN rank_b IS NULL THEN 'dropped'
         |       ELSE 'steady' END AS status,
         |  (coalesce(rank_a, 0) - coalesce(rank_b, 0))::BIGINT
         |    AS rank_move
         |FROM a FULL OUTER JOIN b ON a.gram = b.gram""".stripMargin,

    // q293: category frame -> kept/OTHER fold, shares over the total
    "q293_rare_collapse" ->
      s"""WITH c AS (SELECT p_type::VARCHAR AS cat, count(*)::BIGINT AS n
         |  FROM part GROUP BY 1),
         |tot AS (SELECT sum(n)::BIGINT AS nt FROM c),
         |t AS (SELECT CASE WHEN cat IS NULL OR n < 10 THEN '__OTHER__'
         |    ELSE cat END AS category, n,
         |    CASE WHEN cat IS NULL OR n < 10 THEN 1 ELSE 0 END AS folded
         |  FROM c),
         |g AS (SELECT category, sum(n)::BIGINT AS n_rows,
         |    sum(folded)::BIGINT AS nf FROM t GROUP BY 1)
         |SELECT category, category = '__OTHER__' AS is_other, n_rows,
         |  CASE WHEN category = '__OTHER__' THEN nf ELSE 1 END::BIGINT
         |    AS n_source_categories,
         |  ${rnd("n_rows::DOUBLE / nt::DOUBLE", 6)} AS share
         |FROM g, tot""".stripMargin,

    // q294: distinct categories -> md5 buckets; birthday expectation in
    // the same operation order
    "q294_feature_hash_audit" ->
      s"""WITH b AS (SELECT ${h32("cat")} % 128 AS b,
         |    count(*)::BIGINT AS load FROM (
         |    SELECT DISTINCT p_type::VARCHAR AS cat FROM part
         |    WHERE p_type IS NOT NULL) GROUP BY 1),
         |a AS (SELECT sum(load)::BIGINT AS n_categories,
         |    count(*)::BIGINT AS n_buckets_used,
         |    sum(CASE WHEN load >= 2 THEN 1 ELSE 0 END)::BIGINT
         |      AS n_colliding_buckets,
         |    sum(CASE WHEN load >= 2 THEN load ELSE 0 END)::BIGINT
         |      AS n_collided_categories,
         |    max(load)::BIGINT AS max_bucket_load FROM b)
         |SELECT n_categories, 128::BIGINT AS n_buckets, n_buckets_used,
         |  n_colliding_buckets, n_collided_categories, max_bucket_load,
         |  ${rnd("n_categories::DOUBLE - 128.0 * (1.0 - " +
             "pow(1.0 - 0.0078125, n_categories::DOUBLE))", 4)}
         |    AS expected_collided
         |FROM a""".stripMargin,

    // q295: deterministic-sample range bounds (exact sample-grid
    // quantiles) -> realized partition loads
    "q295_range_bounds" ->
      s"""WITH base AS (SELECT o_orderkey::VARCHAR AS id, o_totalprice AS v
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |grid AS (SELECT v, count(*)::BIGINT AS c,
         |    sum(CASE WHEN ${h32("id")} % 100 < 5 THEN 1 ELSE 0 END)
         |      ::BIGINT AS sc
         |  FROM base GROUP BY 1),
         |sampled AS (SELECT v, sum(sc) OVER (ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM grid WHERE sc > 0),
         |stot AS (SELECT sum(sc)::BIGINT AS st FROM grid),
         |bounds AS (SELECT i, min(v) AS bound
         |  FROM sampled, stot, generate_series(1, 15) g(i)
         |  WHERE cum * 16 >= i * st GROUP BY 1),
         |assigned AS (SELECT g.v, g.c, count(b.i)::BIGINT AS p
         |  FROM grid g LEFT JOIN bounds b ON g.v >= b.bound GROUP BY 1, 2),
         |tot AS (SELECT sum(c)::BIGINT AS nt FROM grid)
         |SELECT p AS partition, sum(c)::BIGINT AS n_rows,
         |  ${rnd("sum(c)::DOUBLE / any_value(nt)::DOUBLE", 6)} AS share,
         |  ${rnd("sum(c)::DOUBLE * 16 / any_value(nt)::DOUBLE", 4)}
         |    AS skew_ratio
         |FROM assigned, tot GROUP BY 1""".stripMargin,

    // q296: Murphy decomposition — 12-decimal forecast sums (the q276
    // contract), bin-order folds, exact-numerator Brier
    "q296_brier_decomp" -> {
      def score(markers: Seq[String]) =
        s"len(list_filter($toksExpr, t -> list_contains([" +
          markers.map("'" + _ + "'").mkString(",") + "], t)))"
      val total = Seq(
        score(Seq("the", "and", "of", "is", "that")),
        score(Seq("der", "die", "und", "ist", "das")),
        score(Seq("le", "la", "et", "est", "les")),
        score(Seq("el", "la", "que", "es", "los")),
        score(Seq("的", "是", "了", "在", "我"))).mkString(" + ")
      val en = score(Seq("the", "and", "of", "is", "that"))
      val fd = rnd("conf", 12) + "::DECIMAL(19,12)"
      s"""WITH scored AS (SELECT
         |    CASE WHEN ($total) > 0
         |         THEN ($en)::DOUBLE / ($total)::DOUBLE ELSE 0.0 END
         |      AS conf,
         |    (lang = 'en') AS y
         |  FROM documents WHERE lang IS NOT NULL),
         |b AS (SELECT least(19, greatest(0, floor(conf * 20)::BIGINT))
         |      AS bin,
         |    count(*)::BIGINT AS n,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos,
         |    sum($fd)::DECIMAL(38,12) AS sf,
         |    sum(($fd * $fd)::DECIMAL(38,24))::DECIMAL(38,24) AS sf2,
         |    sum(CASE WHEN y THEN $fd END)::DECIMAL(38,12) AS sfy
         |  FROM scored GROUP BY 1),
         |tt AS (SELECT sum(n)::BIGINT AS nt, sum(pos)::BIGINT AS pt,
         |    sum(sf2)::DECIMAL(38,24) AS sf2t,
         |    coalesce(sum(sfy), 0)::DECIMAL(38,12) AS sfyt FROM b),
         |folds AS (SELECT
         |    list_reduce(list_prepend(0.0::DOUBLE, list(
         |      n::DOUBLE * (sf::DOUBLE / n::DOUBLE - pos::DOUBLE /
         |        n::DOUBLE) * (sf::DOUBLE / n::DOUBLE - pos::DOUBLE /
         |        n::DOUBLE) ORDER BY bin)), (a, x) -> a + x) AS relsum,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(
         |      n::DOUBLE * (pos::DOUBLE / n::DOUBLE - pt::DOUBLE /
         |        nt::DOUBLE) * (pos::DOUBLE / n::DOUBLE - pt::DOUBLE /
         |        nt::DOUBLE) ORDER BY bin)), (a, x) -> a + x) AS ressum
         |  FROM b, tt GROUP BY nt, pt)
         |SELECT nt AS n_rows,
         |  ${rnd("pt::DOUBLE / nt::DOUBLE", 6)} AS base_rate,
         |  ${rnd("(sf2t::DOUBLE - 2.0 * sfyt::DOUBLE + pt::DOUBLE) / " +
             "nt::DOUBLE", 6)} AS brier,
         |  ${rnd("relsum / nt::DOUBLE", 6)} AS reliability,
         |  ${rnd("ressum / nt::DOUBLE", 6)} AS resolution,
         |  ${rnd("(pt::DOUBLE / nt::DOUBLE) * (1.0 - pt::DOUBLE / " +
             "nt::DOUBLE)", 6)} AS uncertainty
         |FROM folds, tt""".stripMargin
    },

    // q297: IPF unrolled — 3 iterations x (row, col) scalings; margin
    // totals fold the sorted cell lists, the scale literal keeps the
    // Spark operation order ((1.0/nr)*nt)
    "q297_ipf_raking" -> {
      def stage(i: Int, src: String, key: String, other: String,
                share: String): String =
        s"""t$i AS (SELECT $key, list_reduce(list_prepend(0.0::DOUBLE,
           |    list(w * n::DOUBLE ORDER BY $other)), (a, x) -> a + x)
           |    AS mt
           |  FROM $src GROUP BY 1),
           |s$i AS (SELECT $src.r, $src.c, n,
           |    w * ($share * nt) / mt AS w
           |  FROM $src JOIN t$i USING ($key), dims)""".stripMargin
      val stages = (0 until 3).flatMap { it =>
        Seq(stage(2 * it + 1, if (it == 0) "s0" else s"s${2 * it}",
          "r", "c", "(1.0 / nr)"),
          stage(2 * it + 2, s"s${2 * it + 1}", "c", "r", "(1.0 / nc)"))
      }
      s"""WITH cells AS (SELECT event_type::VARCHAR AS r,
         |    (user_id % 4)::VARCHAR AS c, count(*)::BIGINT AS n
         |  FROM events WHERE event_type IS NOT NULL
         |    AND user_id IS NOT NULL GROUP BY 1, 2),
         |dims AS (SELECT count(DISTINCT r)::DOUBLE AS nr,
         |    count(DISTINCT c)::DOUBLE AS nc, sum(n)::DOUBLE AS nt
         |  FROM cells),
         |s0 AS (SELECT r, c, n, 1.0::DOUBLE AS w FROM cells),
         |${stages.mkString(",\n")}
         |SELECT r, c, n, ${rnd("w", 6)} AS weight,
         |  ${rnd("w * n::DOUBLE / nt", 6)} AS fitted_share
         |FROM s6, dims""".stripMargin
    },

    // q298: ordered-step conversion z between arms — strict follow after
    // the FIRST entry event, pooled-variance z in the Spark order
    "q298_funnel_ab" -> {
      val pa = "conv_a::DOUBLE / n_a::DOUBLE"
      val pb = "conv_b::DOUBLE / n_b::DOUBLE"
      val pp = "(conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE"
      val z = s"CASE WHEN ($pp) > 0.0 AND ($pp) < 1.0 THEN " +
        s"(($pb) - ($pa)) / sqrt(($pp) * (1.0 - ($pp)) * " +
        "(1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) END"
      s"""WITH base AS (SELECT user_id AS u, (user_id % 2 = 1) AS arm,
         |    event_type AS t, ts
         |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
         |    AND user_id IS NOT NULL),
         |entered AS (SELECT u, arm, min(ts) AS ta FROM base
         |  WHERE t = 'view' GROUP BY 1, 2),
         |cv AS (SELECT arm, count(*)::BIGINT AS conv FROM (
         |    SELECT DISTINCT e.u, e.arm FROM entered e
         |    JOIN base b ON b.u = e.u AND b.t = 'purchase'
         |      AND b.ts > e.ta) GROUP BY 1),
         |arms AS (SELECT entered.arm, count(*)::BIGINT AS n,
         |    coalesce(any_value(conv), 0)::BIGINT AS conv
         |  FROM entered LEFT JOIN cv ON entered.arm = cv.arm GROUP BY 1),
         |ab AS (SELECT
         |    (SELECT n FROM arms WHERE NOT arm) AS n_a,
         |    (SELECT conv FROM arms WHERE NOT arm) AS conv_a,
         |    (SELECT n FROM arms WHERE arm) AS n_b,
         |    (SELECT conv FROM arms WHERE arm) AS conv_b)
         |SELECT n_a, conv_a, ${rnd(pa, 6)} AS rate_a, n_b, conv_b,
         |  ${rnd(pb, 6)} AS rate_b, ${rnd(z, 4)} AS z,
         |  abs($z) > 1.959963984540054 AS significant_5pct
         |FROM ab""".stripMargin
    },

    // q299: corpus-wide exact paragraph dedup — first-occurrence
    // survivorship replayed as a (para → row_number by doc_id, pos)
    // window; the gate's 8-word paragraph re-flow is replicated with the
    // same slice grid (list slicing is 1-based-inclusive here vs Spark
    // slice(start, length) — both read tokens j*8+1 .. j*8+8).
    // Whitespace is an EXPLICIT class, not \s: the gate runs Java regex
    // (\s = [ \t\n\x0B\f\r]) while DuckDB runs RE2 (\s lacks \x0B) — a
    // text containing a vertical tab would tokenize differently on the
    // two sides. The class below is exactly Java's \s.
    "q299_paragraph_dedup" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')
         |    AS t FROM documents),
         |g AS (SELECT doc_id, list_transform(
         |    range(greatest(ceil(len(t)/8.0)::INT, 1)),
         |    j -> array_to_string(t[j*8+1 : j*8+8], ' ')) AS ps FROM d),
         |p AS (SELECT doc_id, unnest(ps) AS para,
         |    unnest(range(len(ps))) AS pos FROM g),
         |np AS (SELECT * FROM p
         |  WHERE NOT regexp_matches(para, '^[ \\t\\n\\x0b\\f\\r]*$$')),
         |f AS (SELECT doc_id, pos, para, row_number() OVER (
         |    PARTITION BY para ORDER BY doc_id, pos) AS rn FROM np),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(para, chr(10) ORDER BY pos) AS text_clean
         |  FROM f WHERE rn = 1 GROUP BY doc_id),
         |c AS (SELECT doc_id, count(*)::BIGINT AS n_paras
         |  FROM np GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(agg.text_clean, '') AS text_clean,
         |  coalesce(c.n_paras, 0)::BIGINT AS n_paras,
         |  coalesce(agg.n_kept, 0)::BIGINT AS n_kept
         |FROM d LEFT JOIN c USING (doc_id)
         |  LEFT JOIN agg USING (doc_id)""".stripMargin,

    // q300: real pixel decode, content-addressed. The corpus-side work
    // (payload counts per doc_id % 10) replays exactly; the per-fixture
    // decode constants are VALUES anchors — BMP/TIFF rows hand-derived
    // from tools/gen_image_fixtures.py's documented pixel matrices
    // (independent of the decoder), PNG/GIF/JPEG rows decoder-anchored
    // and asserted by CdcMultimodalSpec so drift fails the spec first.
    // Gray means are raw raster samples (not gray→sRGB display values).
    "q300_pixel_stats" ->
      s"""WITH f(img_key, name, width, height, channels,
         |       mean_1, mean_2, mean_3, mean_4) AS (VALUES
         |  (0::BIGINT, 'gray_1x1.jpg', 1, 1, 1,
         |   128.0::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE),
         |  (1::BIGINT, 'gray_5x7.png', 5, 7, 1,
         |   113.0::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE),
         |  (2::BIGINT, 'pixel_1x1.gif', 1, 1, 3,
         |   255.0::DOUBLE, 255.0::DOUBLE, 255.0::DOUBLE, NULL::DOUBLE),
         |  (3::BIGINT, 'rgb_3x2.png', 3, 2, 3,
         |   39.5::DOUBLE, 46.5::DOUBLE, 53.5::DOUBLE, NULL::DOUBLE),
         |  (4::BIGINT, 'rgb_4x3.bmp', 4, 3, 3,
         |   25.0::DOUBLE, 40.0::DOUBLE, 12.5::DOUBLE, NULL::DOUBLE),
         |  (5::BIGINT, 'rgb_6x2.tif', 6, 2, 3,
         |   100.0::DOUBLE, 50.0::DOUBLE, 30.0::DOUBLE, NULL::DOUBLE),
         |  (6::BIGINT, 'rgba_4x4.png', 4, 4, 4,
         |   72.0::DOUBLE, 79.0::DOUBLE, 86.0::DOUBLE, 93.0::DOUBLE),
         |  (7::BIGINT, 'topdown_5x4.bmp', 5, 4, 3,
         |   100.0::DOUBLE, 90.0::DOUBLE, 200.0::DOUBLE, NULL::DOUBLE),
         |  (8::BIGINT, 'wide_300x200.gif', 300, 200, 3,
         |   0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, NULL::DOUBLE),
         |  (9::BIGINT, 'ycbcr_8x16.jpg', 8, 16, 3,
         |   128.0::DOUBLE, 128.0::DOUBLE, 128.0::DOUBLE, NULL::DOUBLE)),
         |c AS (SELECT doc_id % 10 AS img_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.img_key, f.name, c.n_docs, f.width::INT AS width,
         |  f.height::INT AS height, f.channels::INT AS channels,
         |  f.mean_1, f.mean_2, f.mean_3, f.mean_4
         |FROM c JOIN f USING (img_key)""".stripMargin,

    // q301: streaming debounce replayed sequentially. The gate runs the
    // REAL flatMapGroupsWithState operator over three chronological
    // micro-batches; the oracle walks each user's events in the
    // operator's own order — (epoch_ms(ts), value): the codec sorts on
    // Timestamp.getTime, i.e. MILLISECOND precision, so ordering by the
    // full-precision µs ts here could disagree inside one millisecond —
    // emitting the first event and suppressing anything within the 12 h
    // cooldown of the last EMISSION (state chain, not window equality).
    "q301_stream_debounce" -> {
      val cool = 43200000L
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, ts, value, row_number() OVER (
         |      PARTITION BY user_id ORDER BY epoch_ms(ts), value) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND value IS NOT NULL),
         |walk(user_id, rn, last_emit, emitted, ts, value) AS (
         |  SELECT user_id, rn, epoch_ms(ts), true, ts, value
         |  FROM e WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn,
         |    CASE WHEN epoch_ms(e.ts) - w.last_emit >= $cool
         |      THEN epoch_ms(e.ts) ELSE w.last_emit END,
         |    epoch_ms(e.ts) - w.last_emit >= $cool,
         |    e.ts, e.value
         |  FROM walk w JOIN e
         |    ON e.user_id = w.user_id AND e.rn = w.rn + 1)
         |SELECT user_id, count(*)::BIGINT AS n_emitted,
         |  ${rnd("sum(value)", 2)} AS sum_emitted,
         |  max(ts) AS last_emit_ts
         |FROM walk WHERE emitted GROUP BY user_id""".stripMargin
    },

    // q302: streaming EWMA/EWMV control chart replayed sequentially.
    // The walk carries the PRE-update state the alert decision reads
    // (prev_mean/prev_sigma); the update chain is spelled with the
    // EXACT double constants the operator uses — (1.0 - 0.2), never
    // 0.8, because they are different doubles and the chains must stay
    // bit-identical for the 4-dp rounds to agree.
    "q302_stream_ewma_alerts" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, ts, value, row_number() OVER (
         |      PARTITION BY user_id ORDER BY epoch_ms(ts), value) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND value IS NOT NULL),
         |walk(user_id, rn, mean, varr, n, ts, value,
         |     alert, prev_mean, prev_sigma) AS (
         |  SELECT user_id, rn, value, 0.0::DOUBLE, 1::BIGINT, ts, value,
         |    false, 0.0::DOUBLE, 0.0::DOUBLE
         |  FROM e WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn,
         |    w.mean + 0.2 * (e.value - w.mean),
         |    (1.0 - 0.2) * (w.varr
         |      + 0.2 * (e.value - w.mean) * (e.value - w.mean)),
         |    w.n + 1, e.ts, e.value,
         |    w.n >= 5 AND sqrt(w.varr) > 0.0
         |      AND abs(e.value - w.mean) > 2.0 * sqrt(w.varr),
         |    w.mean, sqrt(w.varr)
         |  FROM walk w JOIN e
         |    ON e.user_id = w.user_id AND e.rn = w.rn + 1)
         |SELECT user_id, ts, value, ${rnd("prev_mean", 4)} AS ewma,
         |  ${rnd("prev_sigma", 4)} AS sigma,
         |  ${rnd("(value - prev_mean) / prev_sigma", 4)} AS z
         |FROM walk WHERE alert""".stripMargin,

    // q303: streaming ordered funnel replayed as the identical state
    // machine — expiry is applied BEFORE the event, completion emits and
    // resets, first-touch never restarts a chain in progress. Event
    // order is (epoch_ms, event_type), the operator's in-batch sort;
    // global ms order is monotone across the gate's chronological
    // chunks, so the operator's cross-batch-straggler guard never fires
    // and the replay may omit it.
    "q303_stream_funnel" -> {
      val W = 259200000L
      val exp = s"(w.stage > 0 AND e.t - w.start_ms > $W)"
      val st0 = s"(CASE WHEN $exp THEN 0 ELSE w.stage END)"
      val start0 = s"(CASE WHEN $exp THEN NULL ELSE w.start_ms END)"
      val hit = s"($st0 = 2 AND e.event_type = 'purchase')"
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, ts, event_type, epoch_ms(ts) AS t,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_type) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IS NOT NULL),
         |walk(user_id, rn, stage, start_ms, hit, hit_start, hit_end) AS (
         |  SELECT user_id, rn,
         |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END,
         |    CASE WHEN event_type = 'view' THEN t ELSE NULL END,
         |    false, NULL::BIGINT, NULL::TIMESTAMP
         |  FROM e WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn,
         |    CASE WHEN $st0 = 0
         |           THEN CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END
         |         WHEN $st0 = 1 AND e.event_type = 'click' THEN 2
         |         WHEN $hit THEN 0
         |         ELSE $st0 END,
         |    CASE WHEN $st0 = 0
         |           THEN CASE WHEN e.event_type = 'view' THEN e.t END
         |         WHEN $hit THEN NULL
         |         ELSE $start0 END,
         |    $hit,
         |    CASE WHEN $hit THEN $start0 END,
         |    CASE WHEN $hit THEN e.ts END
         |  FROM walk w JOIN e
         |    ON e.user_id = w.user_id AND e.rn = w.rn + 1)
         |SELECT user_id, make_timestamp(hit_start * 1000) AS start_ts,
         |  hit_end AS end_ts,
         |  (epoch_ms(hit_end) - hit_start)::BIGINT AS latency_ms
         |FROM walk WHERE hit""".stripMargin
    },

    // q304: the streaming HLL's net output (last update per type) equals
    // the batch portable-HLL replay over the same values — q60's chain
    // grouped by event_type over user_id::VARCHAR (the stream hashes
    // user_id.toString through the same md5-60-bit pipeline)
    "q304_stream_hll" -> {
      val m = 256
      val maxRho = graft.operators.Sketches.hllMaxRho(m)
      val c = graft.operators.Sketches.hllScaleC(m)
      s"""WITH base AS (SELECT event_type, user_id FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IS NOT NULL),
         |h AS (SELECT event_type,
         |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM base),
         |r AS (SELECT event_type, h & ${m - 1} AS reg, h >> 8 AS rest
         |  FROM h),
         |regs AS (SELECT event_type, reg,
         |    max(CASE WHEN rest = 0 THEN $maxRho
         |             ELSE $maxRho - length(bin(rest)) END) AS rho
         |  FROM r GROUP BY 1, 2),
         |s AS (SELECT event_type, count(*) AS np,
         |    sum(1::BIGINT << ($maxRho - rho))::BIGINT AS scaled
         |  FROM regs GROUP BY 1),
         |e AS (SELECT event_type, np,
         |    (scaled + ($m - np) * (1::BIGINT << $maxRho))::DOUBLE AS total
         |  FROM s),
         |est AS (SELECT event_type,
         |    CASE WHEN ($c)::DOUBLE / total <= ${2.5 * m} AND np < $m
         |         THEN ($m.0)::DOUBLE * ln(($m.0)::DOUBLE / ($m - np))
         |         ELSE ($c)::DOUBLE / total END AS est
         |  FROM e),
         |n AS (SELECT event_type, count(*)::BIGINT AS n_events
         |  FROM base GROUP BY 1)
         |SELECT n.event_type, n.n_events, ${rnd("est", 2)} AS hll_distinct
         |FROM n JOIN est USING (event_type)""".stripMargin
    },

    // q305: perceptual dHash pairing. The per-fixture 64-bit hashes are
    // pure integer arithmetic over decoder output (hand box-filter, no
    // interpolation), anchored here and asserted by CdcMultimodalSpec
    // first; the oracle replays the unordered pairing and the Hamming
    // distances with bit_count(xor(...)) — two's-complement bit pattern,
    // identical to java.lang.Long.bitCount on the signed value.
    "q305_image_dhash" ->
      s"""WITH d(name, h) AS (VALUES
         |  ('gray_1x1.jpg', 0::BIGINT),
         |  ('gray_5x7.png', 6148914691236517205::BIGINT),
         |  ('pixel_1x1.gif', 0::BIGINT),
         |  ('rgb_3x2.png', 2604246222170760228::BIGINT),
         |  ('rgb_4x3.bmp', 3038287259199220266::BIGINT),
         |  ('rgb_6x2.tif', 7885078839350357357::BIGINT),
         |  ('rgba_4x4.png', 3038287259199220266::BIGINT),
         |  ('topdown_5x4.bmp', 6148914691236517205::BIGINT),
         |  ('wide_300x200.gif', 0::BIGINT),
         |  ('ycbcr_8x16.jpg', 0::BIGINT))
         |SELECT a.name AS name_a, b.name AS name_b,
         |  bit_count(xor(a.h, b.h))::BIGINT AS hamming
         |FROM d a JOIN d b ON a.name < b.name""".stripMargin,

    // q306: real audio decode, content-addressed. Every constant is
    // HAND-DERIVED from the generator's sample formulas (see
    // tools/gen_image_fixtures.py): square wave ±8192 -> rms exactly
    // 8192, 199 sign flips; stereo ramp sumsq 133,330,000 / 200 ->
    // rms sqrt(666650) = 816.4864 (4dp); silence all-zero. Fixture
    // order is Media.Fixtures.audio (sorted).
    "q306_audio_stats" ->
      s"""WITH f(media_key, name, sample_rate, channels, n_frames,
         |       duration_ms, rms, zero_crossings, peak) AS (VALUES
         |  (0::BIGINT, 'ramp_stereo.wav', 4000, 2, 100::BIGINT,
         |   25::BIGINT, 816.4864::DOUBLE, 1::BIGINT, 1000),
         |  (1::BIGINT, 'silence_441_mono.wav', 44100, 1, 50::BIGINT,
         |   1::BIGINT, 0.0::DOUBLE, 0::BIGINT, 0),
         |  (2::BIGINT, 'square_8k_mono.wav', 8000, 1, 800::BIGINT,
         |   100::BIGINT, 8192.0::DOUBLE, 199::BIGINT, 8192)),
         |c AS (SELECT doc_id % 3 AS media_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.media_key, f.name, c.n_docs, f.sample_rate::INT AS
         |  sample_rate, f.channels::INT AS channels, f.n_frames,
         |  f.duration_ms, f.rms, f.zero_crossings, f.peak::INT AS peak
         |FROM c JOIN f USING (media_key)""".stripMargin,

    // q307: ISO-BMFF header walk — constants are the generator's own
    // mvhd/tkhd fields (timescale 1000 & duration 7500 -> 7500 ms;
    // timescale 600 & duration 1200 -> 2000 ms; tkhd dims 16.16).
    "q307_video_headers" ->
      s"""WITH f(media_key, name, width, height, duration_ms, n_tracks)
         |  AS (VALUES
         |  (0::BIGINT, 'clip_2trak.mp4', 320, 240, 2000::BIGINT, 2),
         |  (1::BIGINT, 'clip_640x360.mp4', 640, 360, 7500::BIGINT, 1)),
         |c AS (SELECT doc_id % 2 AS media_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.media_key, f.name, c.n_docs, f.width::INT AS width,
         |  f.height::INT AS height, f.duration_ms,
         |  f.n_tracks::INT AS n_tracks
         |FROM c JOIN f USING (media_key)""".stripMargin,

    // q308: banded image near-dups. Banding at radius 3 over 4 bands has
    // COMPLETE recall by pigeonhole, so the brute-force pairing over the
    // anchored per-fixture hashes IS the exact expected output — a
    // banding bug (dropped candidate) shows up as a missing row.
    "q308_image_neardups" ->
      s"""WITH d(name, h) AS (VALUES
         |  ('gray_1x1.jpg', 0::BIGINT),
         |  ('gray_5x7.png', 6148914691236517205::BIGINT),
         |  ('pixel_1x1.gif', 0::BIGINT),
         |  ('rgb_3x2.png', 2604246222170760228::BIGINT),
         |  ('rgb_4x3.bmp', 3038287259199220266::BIGINT),
         |  ('rgb_6x2.tif', 7885078839350357357::BIGINT),
         |  ('rgba_4x4.png', 3038287259199220266::BIGINT),
         |  ('topdown_5x4.bmp', 6148914691236517205::BIGINT),
         |  ('wide_300x200.gif', 0::BIGINT),
         |  ('ycbcr_8x16.jpg', 0::BIGINT))
         |SELECT a.name AS id_a, b.name AS id_b,
         |  bit_count(xor(a.h, b.h))::BIGINT AS hamming
         |FROM d a JOIN d b ON a.name < b.name
         |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin,

    // q309: 2x2 box-filter resize of every fixture, stats of the RESIZED
    // image. rgb_4x3.bmp (25, 35, 11) and topdown_5x4.bmp (87.5, 90,
    // 200) are hand-derived from the generator matrices through the
    // floor-average box arithmetic; the rest are decoder-anchored and
    // spec-asserted first. Resize preserves channel structure (gray
    // stays 1, RGBA stays 4) and the constant-color / linear-ramp
    // fixtures keep their means by symmetry.
    "q309_resize_stats" ->
      s"""WITH f(img_key, name, width, height, channels,
         |       mean_1, mean_2, mean_3, mean_4) AS (VALUES
         |  (0::BIGINT, 'gray_1x1.jpg', 2, 2, 1,
         |   128.0::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE),
         |  (1::BIGINT, 'gray_5x7.png', 2, 2, 1,
         |   100.75::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE),
         |  (2::BIGINT, 'pixel_1x1.gif', 2, 2, 3,
         |   255.0::DOUBLE, 255.0::DOUBLE, 255.0::DOUBLE, NULL::DOUBLE),
         |  (3::BIGINT, 'rgb_3x2.png', 2, 2, 3,
         |   31.5::DOUBLE, 38.5::DOUBLE, 45.5::DOUBLE, NULL::DOUBLE),
         |  (4::BIGINT, 'rgb_4x3.bmp', 2, 2, 3,
         |   25.0::DOUBLE, 35.0::DOUBLE, 11.0::DOUBLE, NULL::DOUBLE),
         |  (5::BIGINT, 'rgb_6x2.tif', 2, 2, 3,
         |   100.0::DOUBLE, 50.0::DOUBLE, 30.0::DOUBLE, NULL::DOUBLE),
         |  (6::BIGINT, 'rgba_4x4.png', 2, 2, 4,
         |   72.0::DOUBLE, 79.0::DOUBLE, 86.0::DOUBLE, 93.0::DOUBLE),
         |  (7::BIGINT, 'topdown_5x4.bmp', 2, 2, 3,
         |   87.5::DOUBLE, 90.0::DOUBLE, 200.0::DOUBLE, NULL::DOUBLE),
         |  (8::BIGINT, 'wide_300x200.gif', 2, 2, 3,
         |   0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, NULL::DOUBLE),
         |  (9::BIGINT, 'ycbcr_8x16.jpg', 2, 2, 3,
         |   128.0::DOUBLE, 128.0::DOUBLE, 128.0::DOUBLE, NULL::DOUBLE)),
         |c AS (SELECT doc_id % 10 AS img_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.img_key, f.name, c.n_docs, f.width::INT AS width,
         |  f.height::INT AS height, f.channels::INT AS channels,
         |  f.mean_1, f.mean_2, f.mean_3, f.mean_4
         |FROM c JOIN f USING (img_key)""".stripMargin,

    // q310: streaming windowed top-k. The gate's chronological chunking
    // means no row is ever late, so the append-mode emissions are
    // exactly the closed windows' batch truth: per-day counts, top-3 by
    // (cnt DESC, type ASC) — TopKAgg's struct(-cnt, type) order — over
    // windows whose END the final watermark (max ts − 2 h) passed. The
    // last day's window is open and must be absent.
    "q310_stream_window_topk" ->
      s"""WITH e AS (SELECT ts, event_type FROM events
         |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM e),
         |c AS (SELECT date_trunc('day', ts) AS window_start, event_type,
         |    count(*)::BIGINT AS cnt
         |  FROM e GROUP BY 1, 2),
         |r AS (SELECT window_start, event_type, cnt, row_number() OVER (
         |    PARTITION BY window_start ORDER BY cnt DESC, event_type)
         |    AS rank
         |  FROM c)
         |SELECT window_start, rank::BIGINT AS rank, event_type, cnt
         |FROM r, wm
         |WHERE rank <= 3 AND window_start + INTERVAL 1 DAY <= wm.w"""
        .stripMargin,

    // q311: stream-stream interval join ≡ the batch interval join —
    // chronological chunking + 2 h watermark > 1 h interval means no
    // match is ever lost to state eviction, so emitted pairs are the
    // exact relational answer (multiplicities included)
    "q311_stream_interval_join" ->
      s"""WITH e AS (SELECT user_id, ts, event_type, value FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IS NOT NULL AND value IS NOT NULL)
         |SELECT l.user_id, l.ts AS purchase_ts, r.ts AS click_ts,
         |  r.value AS click_value
         |FROM e l JOIN e r ON l.user_id = r.user_id
         |WHERE l.event_type = 'purchase' AND r.event_type = 'click'
         |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR"""
        .stripMargin,

    // q312: dedup-within-watermark over planted duplicates. Near twins
    // (+10 min) arrive while the original's state is provably alive
    // (watermark before their batch ≤ twin ts − 2 d < expiry) →
    // suppressed; far twins (+25 d, originals from the first 4 days)
    // arrive two chunks after the original's state expired (watermark
    // after batch 0 ≈ day 8 > expiry ≤ day 6) → re-emitted. Day-scale
    // margins on both, so no batch-boundary replay is needed.
    "q312_stream_dedup_watermark" ->
      s"""WITH base AS (SELECT event_id, ts, user_id, event_type
         |  FROM events
         |  WHERE event_id IS NOT NULL AND ts IS NOT NULL
         |    AND user_id IS NOT NULL AND event_type IS NOT NULL)
         |SELECT event_id, user_id, event_type,
         |  (CASE WHEN event_id % 7 = 0
         |      AND ts < (SELECT min(ts) FROM base) + INTERVAL 4 DAY
         |    THEN 2 ELSE 1 END)::BIGINT AS n_emitted
         |FROM base""".stripMargin,

    // q313: band-load pre-flight profile over a skew-planted synthetic
    // signature population (plain 64-bit modular arithmetic over doc_id,
    // replayed here exactly; every 11th doc's low band is zeroed — the
    // hot-template bucket the profile must name). Signatures are
    // non-negative by construction, so DuckDB's arithmetic >> equals
    // Spark's shiftrightunsigned.
    "q313_hamming_band_profile" ->
      s"""WITH x AS (SELECT doc_id,
         |    ((doc_id * 16807) % 2147483647) * 2147483648
         |      + ((doc_id * 48271) % 2147483647) AS v
         |  FROM documents),
         |s AS (SELECT CASE WHEN doc_id % 11 = 0 THEN v & -65536
         |    ELSE v END AS sig FROM x),
         |b AS (SELECT band, (sig >> (band * 16)::INT) & 65535 AS bucket
         |  FROM s CROSS JOIN (SELECT unnest(range(4)) AS band)),
         |g AS (SELECT band, bucket, count(*)::BIGINT AS s
         |  FROM b GROUP BY 1, 2)
         |SELECT band::BIGINT AS band, count(*)::BIGINT AS n_buckets,
         |  sum(CASE WHEN s >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_multi,
         |  max(s)::BIGINT AS max_bucket,
         |  sum(s * (s - 1) / 2)::BIGINT AS cand_pairs
         |FROM g GROUP BY band""".stripMargin,

    // q314: EXIF-orientation-normalized dHash pairing. rot90_2x6.tif
    // stores the rgb_6x2.tif picture rotated (lossless TIFF, Orientation
    // 6), so its NORMALIZED hash is bit-identical to the upright
    // original's anchor — the payoff row is the pair at Hamming 0, the
    // rotated-duplicate class raw stored-raster hashing misses
    // (CdcMultimodalSpec asserts the equality decoder-side first).
    // r16 widens the fixture list with the committed rotated-JPEG twins
    // (tools/GenRotatedJpeg: gray, 8x8-block-constant, quality 1.0 — the
    // construction that makes a LOSSY format rotation-exact): the APP1
    // orientation-6 path now gates on a real committed file, at the same
    // Hamming 0 as the TIFF pair. Constants decoder-anchored by
    // CdcMultimodalSpec first (q217 precedent).
    "q314_exif_orientation_dhash" ->
      s"""WITH d(name, h) AS (VALUES
         |  ('rgb_6x2.tif', 7885078839350357357::BIGINT),
         |  ('rot90_2x6.tif', 7885078839350357357::BIGINT),
         |  ('rgb_4x3.bmp', 3038287259199220266::BIGINT),
         |  ('gray_5x7.png', 6148914691236517205::BIGINT),
         |  ('rotpair_32x16.jpg', 8825501086245354106::BIGINT),
         |  ('rotpair_16x32.jpg', 8825501086245354106::BIGINT))
         |SELECT a.name AS name_a, b.name AS name_b,
         |  bit_count(xor(a.h, b.h))::BIGINT AS hamming
         |FROM d a JOIN d b ON a.name < b.name""".stripMargin,

    // q315: per-track sample-table constants straight from the
    // generator's stsd/stsz/stco fields; the tkhd-only clip's stbl
    // fields are honest NULLs (boxes absent), never fabricated zeros.
    "q315_video_tracks" ->
      s"""WITH f(media_key, name, track_id, handler, codec, width,
         |       height, n_samples, n_chunks) AS (VALUES
         |  (0::BIGINT, 'clip_2trak.mp4', 1, NULL::VARCHAR, NULL::VARCHAR,
         |   NULL::INT, NULL::INT, NULL::BIGINT, NULL::BIGINT),
         |  (0::BIGINT, 'clip_2trak.mp4', 2, NULL, NULL,
         |   NULL, NULL, NULL, NULL),
         |  (1::BIGINT, 'clip_stbl.mp4', 1, 'vide', 'avc1',
         |   320, 180, 48::BIGINT, 3::BIGINT),
         |  (1::BIGINT, 'clip_stbl.mp4', 2, 'soun', 'mp4a',
         |   NULL, NULL, 96::BIGINT, 4::BIGINT)),
         |c AS (SELECT doc_id % 2 AS media_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.media_key, f.name, c.n_docs,
         |  f.track_id::INT AS track_id, f.handler, f.codec,
         |  f.width::INT AS width, f.height::INT AS height,
         |  f.n_samples, f.n_chunks
         |FROM c JOIN f USING (media_key)""".stripMargin,

    // q326: the shingleK pre-flight replayed per k — the FULL AllPairs
    // prefix machinery (df-rank rarest-first ordering, DECIMAL-exact
    // prefix length n - ceil(n*0.5) + 1) run at k = 1..5, emitting the
    // posting-stage load numbers the Spark probe measures through the
    // operator's own stages
    "q326_shinglek_probe" -> {
      def blk(k: Int): String = {
        val units =
          if (k <= 1) "tk" else shinglesExpr("tk", k)
        s"""tkk$k AS (SELECT id, list_distinct($units) AS toks FROM t0
           |  WHERE len(list_distinct($units)) > 0),
           |pos$k AS (SELECT id, len(toks) AS n, unnest(toks) AS t
           |  FROM tkk$k),
           |tdf$k AS (SELECT t, count(*) AS tdf FROM pos$k GROUP BY 1),
           |rk$k AS (SELECT id, n, t, row_number() OVER (PARTITION BY id
           |    ORDER BY tdf, t) AS r
           |  FROM pos$k JOIN tdf$k USING (t)),
           |pr$k AS (SELECT t FROM rk$k WHERE r <= n - ceil(n * 0.5) + 1),
           |bk$k AS (SELECT t, count(*) AS c FROM pr$k GROUP BY 1)"""
          .stripMargin
      }
      def row(k: Int): String =
        s"""SELECT $k::BIGINT AS shingle_k,
           |  (SELECT count(*) FROM tkk$k)::BIGINT AS n_docs,
           |  (SELECT count(DISTINCT t) FROM pos$k)::BIGINT AS n_units,
           |  coalesce(sum(c), 0)::BIGINT AS n_prefix_postings,
           |  coalesce(max(c), 0)::BIGINT AS max_posting,
           |  (SELECT t FROM bk$k ORDER BY c DESC, t LIMIT 1) AS hot_unit,
           |  coalesce(sum(c * (c - 1)) // 2, 0)::BIGINT AS cand_pairs
           |FROM bk$k""".stripMargin
      s"""WITH t0 AS (SELECT doc_id AS id, $toksExpr AS tk FROM documents),
         |${(1 to 5).map(blk).mkString(",\n")}
         |${(1 to 5).map(row).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // q324: per-track keyframe/composition constants straight from the
    // generator's stss/ctts fields; tracks without the boxes (the mp4a
    // track and all of clip_stbl) report honest NULLs
    "q324_keyframe_tracks" ->
      s"""WITH f(media_key, name, track_id, handler, n_samples,
         |       n_keyframes, keyframe_share, n_ctts_entries,
         |       max_ctts_offset) AS (VALUES
         |  (0::BIGINT, 'clip_sync.mp4', 1, 'vide', 48::BIGINT,
         |   4::BIGINT, 0.0833::DOUBLE, 2::BIGINT, 512::BIGINT),
         |  (0::BIGINT, 'clip_sync.mp4', 2, 'soun', 96::BIGINT,
         |   NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT, NULL::BIGINT),
         |  (1::BIGINT, 'clip_stbl.mp4', 1, 'vide', 48::BIGINT,
         |   NULL, NULL, NULL, NULL),
         |  (1::BIGINT, 'clip_stbl.mp4', 2, 'soun', 96::BIGINT,
         |   NULL, NULL, NULL, NULL)),
         |c AS (SELECT doc_id % 2 AS media_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.media_key, f.name, c.n_docs,
         |  f.track_id::INT AS track_id, f.handler, f.n_samples,
         |  f.n_keyframes, f.keyframe_share, f.n_ctts_entries,
         |  f.max_ctts_offset
         |FROM c JOIN f USING (media_key)""".stripMargin,

    // q325: keyframe-aligned frames — clip_sync at exactly its stss
    // positions (1-based 1/13/25/37 -> idx 0/12/24/36), stss-less
    // clip_stbl via the all-sync stride-4 fallback truncated to its 778
    // bytes. md5 constants are byte arithmetic over the committed
    // fixtures (the q58 precedent), decoder-independent.
    "q325_keyframe_sampling" ->
      s"""WITH f(media_key, name, frame_idx, frame_md5) AS (VALUES
         |  (0::BIGINT, 'clip_sync.mp4', 0::BIGINT,
         |   'cd5838ef238dc76a465560ee34009bbd'),
         |  (0::BIGINT, 'clip_sync.mp4', 12::BIGINT,
         |   'b79be5241bbf9a390d024e8542537f65'),
         |  (0::BIGINT, 'clip_sync.mp4', 24::BIGINT,
         |   '9a84aa36de8714983e06e5514883bef0'),
         |  (0::BIGINT, 'clip_sync.mp4', 36::BIGINT,
         |   'ca4c6bef1f7c7b939c6938bbd355066b'),
         |  (1::BIGINT, 'clip_stbl.mp4', 0::BIGINT,
         |   '9deec02af3f000e228110a51c87e01e3'),
         |  (1::BIGINT, 'clip_stbl.mp4', 4::BIGINT,
         |   'f5ddce41ce3f95f9b9724ca60d082571'),
         |  (1::BIGINT, 'clip_stbl.mp4', 8::BIGINT,
         |   '9493e1ca73315138fa90d5f215e5b576'),
         |  (1::BIGINT, 'clip_stbl.mp4', 12::BIGINT,
         |   'b79be5241bbf9a390d024e8542537f65'),
         |  (1::BIGINT, 'clip_stbl.mp4', 16::BIGINT,
         |   '32b5ef77dc2862cd3444238801611c0f'),
         |  (1::BIGINT, 'clip_stbl.mp4', 20::BIGINT,
         |   '7d9c4600dd6082c57342b20f2fd9de53')),
         |c AS (SELECT doc_id % 2 AS media_key, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT f.media_key, f.name, c.n_docs, f.frame_idx, f.frame_md5
         |FROM c JOIN f USING (media_key)""".stripMargin,

    // q316: 128-bit simhash replayed bit-for-bit from the FULL md5 (word 0
    // = hex chars 1-16 — the q108 hash64 verbatim — word 1 = chars 17-32),
    // then BRUTE-FORCE all-pairs Hamming <= 4 summed across both words —
    // deliberately not banded, so this row doubles as the recall proof for
    // the Spark twin's 5x25-26-bit banding. Over the r17 planted-twin
    // population, which spans Hamming 0..4 by construction.
    "q316_simhash128_neardups" ->
      s"""WITH $plantedTwinsCte,
         |${simhash128SigsCtes("aug")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  (bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)))::BIGINT
         |    AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 4""".stripMargin,

    // q318: fully INDEPENDENT journal audit — expected fact counts are
    // recomputed from the source parquet (an all-insert CDC ingest's
    // input_rows == output_rows == table count) and the terminal status
    // row per pipeline is the pinned literal, never read back from what
    // the Spark side wrote
    "q318_journal_audit" ->
      """SELECT 'pd_nation' AS pipeline_def_id,
        |  count(*)::BIGINT AS input_rows, count(*)::BIGINT AS output_rows,
        |  'pd_nation_nation' AS task_name, 'Finished' AS status FROM nation
        |UNION ALL
        |SELECT 'pd_region', count(*)::BIGINT, count(*)::BIGINT,
        |  'pd_region_region', 'Finished' FROM region""".stripMargin,

    // q327: rerun-path audit, fully independent like q318 — expected fact
    // counts recomputed from the source parquet, status-row counts and
    // terminal literals pinned: ONE status row for the healthy pipeline
    // (a rerun that re-ran it would journal a second), TWO for the
    // planted failure (Error then Finished), one fact row each (the
    // failed first run journals no fact)
    "q327_rerun_journal" ->
      """SELECT 'pd_nation' AS pipeline_def_id,
        |  'pd_nation_nation' AS task_name, 'Finished' AS last_status,
        |  1::BIGINT AS n_status_rows, 1::BIGINT AS n_fact_rows,
        |  count(*)::BIGINT AS input_rows, count(*)::BIGINT AS output_rows
        |FROM nation
        |UNION ALL
        |SELECT 'pd_region', 'pd_region_region', 'Finished',
        |  2::BIGINT, 1::BIGINT, count(*)::BIGINT, count(*)::BIGINT
        |FROM region""".stripMargin,

    // q319: dedup-first clustering must equal the ALL-DOCS chain — pairs
    // over every doc (no rep collapse here, deliberately), components by
    // recursive CTE, docs without any link are singleton components
    "q319_dedupfirst_clusters" ->
      s"""WITH RECURSIVE ${simhash64PairsCtes(3)},
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id
         |  FROM reach GROUP BY n)
         |SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""".stripMargin,

    // q320: incremental hamming — brute-force CROSS pairs (20% batch ×
    // 80% index under the q109 split), deliberately not banded: the green
    // row proves banding recall for the asymmetric join. Over the r17
    // planted-twin population (twins scatter across the split, so ~half
    // the planted pairs land cross-side and bind the proof).
    "q320_incremental_hamming" ->
      s"""WITH $plantedTwinsCte,
         |${simhash64SigsCtes("aug")},
         |split AS (SELECT id, sig, ${h32("id::VARCHAR")} % 10000 AS b
         |  FROM sigs64)
         |SELECT a.id AS batch_id, c.id AS index_id,
         |  bit_count(xor(a.sig, c.sig))::BIGINT AS hamming
         |FROM split a JOIN split c ON a.b >= 8000 AND c.b < 8000
         |WHERE bit_count(xor(a.sig, c.sig)) <= 3""".stripMargin,

    // q322: the 128-bit incremental twin — brute-force CROSS pairs over
    // both md5-replayed signature words at Hamming <= 4, same planted
    // population and 80/20 id-hash split; the recall proof for the
    // asymmetric 5-band join
    "q322_incremental_hamming128" ->
      s"""WITH $plantedTwinsCte,
         |${simhash128SigsCtes("aug")},
         |split AS (SELECT doc_id, w0, w1, ${h32("doc_id::VARCHAR")} % 10000 AS b
         |  FROM sigs)
         |SELECT a.doc_id AS batch_id, c.doc_id AS index_id,
         |  (bit_count(xor(a.w0, c.w0)) + bit_count(xor(a.w1, c.w1)))::BIGINT
         |    AS hamming
         |FROM split a JOIN split c ON a.b >= 8000 AND c.b < 8000
         |WHERE bit_count(xor(a.w0, c.w0)) + bit_count(xor(a.w1, c.w1)) <= 4""".stripMargin,

    // q328: incremental clustering must equal the ALL-DOCS chain restricted
    // to the batch split — pairs over every doc of the planted-twin
    // population (no contraction here, deliberately), recursive-CTE
    // components, singleton batch docs to themselves
    "q328_incremental_clusters" ->
      s"""WITH RECURSIVE $plantedTwinsCte,
         |${simhash64SigsCtes("aug")},
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM sigs64 a JOIN sigs64 b ON a.id < b.id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.n = e.d),
         |comp AS (SELECT n AS doc_id, min(r) AS component_id
         |  FROM reach GROUP BY n),
         |split AS (SELECT id AS doc_id, ${h32("id::VARCHAR")} % 10000 AS b
         |  FROM sigs64)
         |SELECT s.doc_id, coalesce(c.component_id, s.doc_id) AS component_id
         |FROM split s LEFT JOIN comp c USING (doc_id)
         |WHERE s.b >= 8000""".stripMargin,

    // q283: the maintained join view must equal the full recompute —
    // count-distinct catches double-applied deltas, sums catch drops
    "q283_ivm_join" ->
      s"""SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
         |  count(DISTINCT o_orderkey)::BIGINT AS n_orders,
         |  sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin
  )
}
