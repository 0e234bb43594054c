package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Pii, VectorFunctions}
import graft.merge.{MergeInto, Scd}
import graft.merge.MergeInto._
import graft.operators.{CdcDemux, CdcProcessor, Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract: every operator from SURVEY.md §2 (plus the
  * training-data-pipeline operators) exposed as a named query over the
  * driver's parquet testdata, each with an equivalent DuckDB oracle SQL.
  *
  * Conventions keeping the Spark result and the DuckDB oracle hash-identical:
  *   - every aggregate / computed column is aliased the SAME on both sides;
  *   - doubles are rounded (money 2dp, ratios/similarities 3-4dp);
  *   - counts are cast to BIGINT on both sides;
  *   - md5-based portable hashing (not murmur3) so signatures reproduce.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Widened variant for CPU-bound scalar stages: small single-file tables
    * arrive as one partition, which would serialize hashing/UDF work onto one
    * core (no-op at real scale — see Tables.widen). */
  private def TW(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.widen(Tables.load(s, dir, name))

  /** Scratch dir for write-path gate queries (q52/q56/q59), deleted on JVM
    * exit so repeated bench/verify runs don't accumulate table copies in
    * /tmp. One hook, one dir list. */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  sys.addShutdownHook {
    scratchDirs.forEach { p =>
      try {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        if (Files.exists(p))
          Files.walk(p).sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
      } catch { case _: Exception => () } // best-effort; /tmp is ephemeral
    }
  }
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The end-to-end
    * curation pipeline exercises the widest operator slice in one plan
    * (text metrics, SimHash banding, component fixpoint, survivorship,
    * per-source accounting). */
  def entry(spark: SparkSession): DataFrame =
    queries("q96_curation_pipeline")(spark, "/root/testdata/sf0.001")

  // ==========================================================================
  // Query implementations
  // ==========================================================================

  /** TPC-H Q1-shaped pricing summary: filter -> 2-col hash agg.
    * Scale: filter + partial agg push into the scan; one shuffle on the tiny
    * (flag,status) key space. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        count(lit(1)).cast("long").as("count_order"))

  /** Projection + predicate pushdown: PushedFilters + 3-column ReadSchema. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  /** 3-way join: lineitem shuffles once on orderkey; customer side joins on
    * custkey; revenue per market segment. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val o = T(s, dir, "orders")
    val l = T(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        countDistinct(col("o_orderkey")).cast("long").as("n_orders"))
  }

  /** Small-dim star join: region/nation are broadcast (no shuffle of
    * customer). */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val r = T(s, dir, "region")
    val n = T(s, dir, "nation")
    val c = T(s, dir, "customer")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        round(avg(col("c_acctbal")), 2).as("avg_acctbal"))
  }

  /** Theta join (equi part on nationkey drives the shuffle, the `>` stays a
    * join filter — the reference's buildInnerJoinCondition shape). */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val sup = T(s, dir, "supplier")
    val c = T(s, dir, "customer")
    sup.join(c, sup("s_nationkey") === c("c_nationkey") && sup("s_acctbal") > c("c_acctbal"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).cast("long").as("n_poorer_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_cust_bal"))
  }

  /** Windowed dedup — keep the LATEST event per user (the SCD dedup pattern,
    * with the reference's ascending-order bug fixed; SURVEY §2.14). */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    T(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"), round(col("value"), 2).as("last_value"))
  }

  /** Rank-filter top-N (the reference's rerun-selection pattern,
    * M/configbuilder/Start.scala:204-205). */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    T(s, dir, "orders")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
  }

  /** Set ops: union / intersect / except over key sets. */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val c = T(s, dir, "customer")
    val fCust = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k")).distinct()
    val negCust = c.filter(col("c_acctbal") < 0).select(col("c_custkey").as("k")).distinct()
    val both = fCust.intersect(negCust).withColumn("tag", lit("both"))
    val fOnly = fCust.except(negCust).withColumn("tag", lit("f_only"))
    both.unionByName(fOnly)
  }

  /** Distinct aggregates per group. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).cast("long").as("n_parts"),
        countDistinct(col("l_suppkey")).cast("long").as("n_supps"),
        count(lit(1)).cast("long").as("n_rows"))

  /** Scalar string/null functions (SURVEY §2.9): concat_ws, translate, upper,
    * coalesce, when/otherwise, casts. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .select(
        col("c_custkey"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("joined"),
        translate(col("c_name"), "#", "-").as("dashed"),
        upper(col("c_mktsegment")).as("seg_upper"),
        length(col("c_name")).cast("long").as("name_len"),
        when(col("c_acctbal") < 0, lit("negative")).otherwise(lit("ok")).as("bal_tag"),
        coalesce(col("c_name"), lit("n/a")).as("name_or_na"))

  /** PII hashRow + hashColumns (ref hashIt / hashItComplete). */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    val rowHashed = Pii.hashRow(c, Seq("c_name", "c_mktsegment", "c_acctbal"))
    Pii.hashColumns(rowHashed, Seq("c_name"))
      .select("c_custkey", "hashed_jk", "c_name_hash")
  }

  /** PII maskIt: digit masking over free text (events.props). */
  private def q12(s: SparkSession, dir: String): DataFrame =
    Pii.mask(TW(s, dir, "events").select("event_id", "props"),
        "props", "[0-9]", "X", inPlace = false)
      .select("event_id", "props_masked")

  /** Free-text PII scrub (ref hashItPartial): SSNs injected deterministically,
    * each match replaced by its own SHA-256. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" "), substring(col("text"), 1, 40)).as("body"))
    Pii.scrubColumns(docs, Seq("body"), Seq(Pii.SsnPattern))
      .select("doc_id", "body_hash")
  }

  /** Merge-bucket grouping key (ref hashNumericalIt), portable-hash variant. */
  private def q14(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .select(col("c_custkey"),
        Hashes.groupingKey(Seq(col("c_custkey")), 500).as("grouping_jk"))

  /** SCD1 MERGE (the engine's core operator) as a pure computation:
    * delete / updateAll / insertAll clause matrix, first-clause-wins. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val target = o.filter(col("o_orderkey") % 4 =!= 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val updates = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        round(col("o_totalprice") * 1.1, 2).as("o_totalprice"))
    Scd.scd1Apply(target, updates, Seq("o_orderkey"),
      matched = Seq(
        WhenMatched(Some("updates.o_totalprice > 400000"), Delete),
        WhenMatched(None, UpdateAll)),
      notMatched = Seq(WhenNotMatched(None, InsertAll)))
  }

  /** SCD2 MERGE via the staged-union trick: expired version + new current
    * version from one merge. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val target = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit(true).as("current_flag"),
      to_date(lit("2024-01-01")).as("eff_date"),
      lit(null).cast("date").as("expiry_date"))
    val changed = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") + 100, 2).as("c_acctbal"),
        to_date(lit("2024-06-01")).as("eff_date"))
    val fresh = c.filter(col("c_custkey") % 5 === 0)
      .select((col("c_custkey") + 100000).as("c_custkey"), col("c_name"),
        col("c_acctbal"), to_date(lit("2024-06-01")).as("eff_date"))
    val updates = changed.unionByName(fresh)
    Scd.scd2Apply(target, updates, Seq("c_custkey"),
      matchCondition = "target.current_flag = true AND target.c_acctbal <> updates.c_acctbal",
      updateMap = Map(
        "current_flag" -> "false",
        "expiry_date" -> "updates.eff_date"),
      insertMap = Map(
        "c_custkey" -> "updates.c_custkey",
        "c_name" -> "updates.c_name",
        "c_acctbal" -> "updates.c_acctbal",
        "current_flag" -> "true",
        "eff_date" -> "updates.eff_date",
        "expiry_date" -> "cast(null as date)"))
  }

  /** SCD4: current table + history snapshot from one update batch, tagged and
    * unioned for inspection. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val current = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit(false).as("deleted_flag"))
    val updates = c.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") + 50, 2).as("c_acctbal"),
        lit(false).as("deleted_flag"),
        (col("c_custkey") % 10 =!= 0).as("row_active"),
        to_timestamp(lit("2024-06-01 00:00:00")).as("updated_at"))
    val (newCurrent, history) = Scd.scd4Apply(current, updates, Seq("c_custkey"))
    newCurrent
      .withColumn("src", lit("current"))
      .withColumn("history_created_at", lit(null).cast("timestamp"))
      .unionByName(history.withColumn("src", lit("history")))
      .select("src", "c_custkey", "c_name", "c_acctbal", "deleted_flag", "history_created_at")
  }

  /** Exact dedup: md5 fingerprint group-by. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(T(s, dir, "documents"), "text", "doc_id")
      .select(col("fp"), col("keep_id"), col("dup_count").cast("long").as("dup_count"))

  /** MinHash signatures (portable md5 hash families; engine-reproducible). */
  private def q19(s: SparkSession, dir: String): DataFrame =
    TW(s, dir, "documents").select(col("doc_id"),
      concat_ws(",", Dedup.minHashSignature(col("text"), 8, 3)).as("sig"))

  /** MinHash+LSH verified near-dup pairs (band/bucket join + exact Jaccard). */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.verifiedNearDups(T(s, dir, "documents"), "text", "doc_id",
        threshold = 0.2, bands = 4, rowsPerBand = 2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))

  /** SimHash signature per document. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    TW(s, dir, "documents").select(col("doc_id"), Dedup.simHash(col("text")).as("simhash"))

  /** n-gram Jaccard all-pairs over an inverted-index join (docs sharing a
    * 5-shingle, exact Jaccard >= 0.1). */
  private def q22(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(T(s, dir, "documents"), "text", "doc_id",
        shingleK = 5, threshold = 0.1)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))

  /** Embedding pairwise cosine (fixed deterministic pair set; codegen'd
    * native CosineSimilarity expression). */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val a = e.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.filter(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 3).as("cosine"))
  }

  /** Brute-force ANN top-k per query vector. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.bruteForceTopK(Tables.widen(e), queries, 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Token / character statistics per document. */
  private def q25(s: SparkSession, dir: String): DataFrame =
    TW(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("token_count"),
      TextAnalysis.subwordCount(col("text")).cast("long").as("subword_count"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.meanWordLen(col("text")).as("mean_word_len"))

  /** Quality score + stopword ratio per document. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    TW(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"))

  /** Language-ID heuristic (marker-word argmax). */
  private def q27(s: SparkSession, dir: String): DataFrame =
    TW(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  /** Rolling-hash document fingerprint. */
  private def q28(s: SparkSession, dir: String): DataFrame =
    TW(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  /** Tumbling-window aggregation over the event stream (batch shape of the
    * Structured Streaming windowed agg). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Sessionization: 30-minute-gap sessions via lag + running sum windows. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withGap = T(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
  }

  /** JSON extraction from the props payload. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 2).as("avg_k"),
        max(col("k")).cast("long").as("max_k"))

  /** CDC demux: Debezium-envelope rows built from events, demuxed into
    * upserts/deletes with row_active/deleted_flag (ref
    * M/processor/BaseProcessor.scala:40-49). */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val op = when(col("event_type") === "signup", lit("c"))
      .when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
    val payload = struct(col("event_id"), col("user_id"), col("value"))
    val envelope = ev.select(struct(
      op.as("op"), payload.as("before"), payload.as("after"),
      struct(lit("db0").as("db"), (col("user_id") % 4).as("server_id")).as("source")
    ).as("value"))
    CdcDemux.demux(envelope)
      .groupBy(col("row_active"), col("deleted_flag"), col("src_server_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** Offset bookkeeping agg (ref M/commons/Task.scala:99-100): min/max offset
    * per (topic, partition). */
  private def q33(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("event_type").as("topic"), (col("user_id") % 4).as("partition"))
      .agg(min(col("event_id")).cast("long").as("min_offset"),
        max(col("event_id")).cast("long").as("max_offset"))

  /** AES encrypt/decrypt round-trip (ref encryptIt/decryptIt): decrypt ∘
    * encrypt = identity, NULL-sentinel restored. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val codec = graft.functions.AesCodec("graft-salt", "graft-secret")
    val c = TW(s, dir, "customer").select("c_custkey", "c_name")
    val enc = graft.functions.Crypto.encryptColumns(c, Seq("c_name"), codec)
    graft.functions.Crypto.decryptColumns(enc, Seq("c_name"), codec)
  }

  /** Multimodal metadata extraction over REAL container bytes (r15 —
    * FakeCodec retired from the gate surface): batched per-partition
    * [[graft.operators.Multimodal.HeaderCodec]] parse of every DISTINCT
    * payload across the full header surface (PNG/JPEG/GIF/WebP/BMP/TIFF
    * incl. the header-only classes pixel decode refuses), joined to
    * corpus counts content-addressed — the stage-one prune of a media
    * pipeline. Constants are the generator's own dims. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(16L)).as("img_key"))
    Multimodal.headerMetaReport(docs, "img_key",
      Multimodal.Fixtures.dfOf(s, Multimodal.Fixtures.headerParsable))
  }

  /** Full CDC processor pipeline (ref BaseProcessor composition): envelope ->
    * demux -> PII mask -> full-row change hash -> merge bucket key. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val ev = TW(s, dir, "events")
    val op = when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
    val payload = struct(col("event_id"), col("user_id"), col("value"), col("props"))
    val envelope = ev.select(struct(
      op.as("op"), payload.as("before"), payload.as("after"),
      struct(lit("db0").as("db"), (col("user_id") % 4).as("server_id")).as("source")
    ).as("value"))
    CdcProcessor.process(envelope,
        piiRules = Seq(CdcProcessor.PiiRule("props", commonFlag = true,
          CdcProcessor.Mask("[0-9]", "X"))),
        joinKeys = Seq("event_id"))
      .select(col("event_id"), col("row_active"), col("deleted_flag"),
        col("props"), col("hashed_jk"), col("grouping_jk"))
  }

  /** Exact-dedup survivors (the deduplicated corpus itself). */
  private def q37(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSurvivors(T(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** SimHash near-dup pairs via byte-band candidate generation. */
  private def q38(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDups(TW(s, dir, "documents"), "text", "doc_id", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))

  /** Embedding near-dup pairs through the PUBLIC [[Dedup.embeddingNearDups]]
    * entry (the multi-band LSH path) at a high-recall operating point: 8
    * coarse 6-bit bands, cosine >= 0.40. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    Dedup.embeddingNearDups(TW(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.40, bitsPerBand = 6, numBands = 8)
      .select(col("id_a"), col("id_b"), round(col("cos"), 3).as("cos"))
  }

  /** Multi-band random-hyperplane LSH near-dups — q39's scale path: tunable
    * bucket granularity (2^bitsPerBand per band) + recall bands instead of a
    * fixed 256-bucket sign pattern. Hyperplanes are seed-deterministic and
    * embedded verbatim in the DuckDB oracle. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    Dedup.embeddingNearDupsLsh(TW(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.30, bitsPerBand = 8, numBands = 2)
      .select(col("id_a"), col("id_b"), round(col("cos"), 3).as("cos"))
  }

  /** Table-backed SCD2 WRITE path gate (q16 checks the pure scd2Apply
    * semantics; this drives the production writeScd2 end-to-end): seed a
    * c_mktsegment-PARTITIONED COW table through the bootstrap, merge a
    * changed batch through the partition-pruned staged-union path, read the
    * post-merge table back. The oracle recomputes the same post-merge state
    * relationally in DuckDB. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    import graft.merge.{ParquetTable, Scd}
    val c = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val seed = c.filter(col("c_custkey") % 10 =!= 0)
    val upd = c.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
    val root = scratchDir("graft_q52")
    val table = new ParquetTable(s, s"$root/cust_scd2", Seq("c_mktsegment"))
    val matchCond = "target.current_flag = true AND target.c_acctbal <> updates.c_acctbal"
    val insertMap = Map(
      "c_custkey" -> "updates.c_custkey", "c_name" -> "updates.c_name",
      "c_mktsegment" -> "updates.c_mktsegment", "c_acctbal" -> "updates.c_acctbal",
      "current_flag" -> "true")
    Scd.writeScd2(table, seed, Seq("c_custkey"), matchCond,
      Map("current_flag" -> "false"), insertMap)
    Scd.writeScd2(table, upd, Seq("c_custkey"), matchCond,
      Map("current_flag" -> "false"), insertMap)
    table.read.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
      col("c_acctbal"), col("current_flag"))
  }

  /** Table-backed SCD4 WRITE path gate (q17 checks the pure scd4Apply): seed
    * current through writeScd4's bootstrap, merge a mixed batch (updates +
    * soft deletes + fresh inserts) through the pruned COW path — history
    * appended first, keyed by the current version it precedes — then read
    * CURRENT and HISTORY back as one tagged frame. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    import graft.merge.Scd
    import graft.pipeline.{ScdTarget, TableConfig}
    val base = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val seed = base.filter(col("c_custkey") % 10 =!= 0)
      .withColumn("row_active", lit(true))
      .withColumn("deleted_flag", lit(false))
      .withColumn("updated_at", lit(1700000000L) + col("c_custkey"))
    val upd = base.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .withColumn("row_active", col("c_custkey") % 5 =!= 0)
      .withColumn("deleted_flag", lit(false))
      .withColumn("updated_at", lit(1700100000L) + col("c_custkey"))
    val root = scratchDir("graft_q59")
    val target = new ScdTarget(s, TableConfig("q59", "cust", "scd4"), root)
    val (current, history) = (target.table, target.history)
    Scd.writeScd4(current, history, seed, Seq("c_custkey"))
    Scd.writeScd4(current, history, upd, Seq("c_custkey"))
    val cols = Seq("c_custkey", "c_name", "c_acctbal", "row_active",
      "deleted_flag", "updated_at").map(col)
    current.read.select(lit("current").as("tbl") +: cols :+
        lit(null).cast("timestamp").as("history_created_at"): _*)
      .unionByName(history.read.select(lit("history").as("tbl") +: cols :+
        col("history_created_at"): _*))
  }

  /** IVF ANN: probe the nearest centroid buckets only — the scale path where
    * brute force would scan the full corpus per query. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfTopK(Tables.widen(e), queries, k = 3, nCentroids = 32, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Persisted IVF index: corpus committed as a ParquetTable partitioned
    * by centroid_id, probes read ONLY the probed buckets' live files off
    * disk (a partition filter pruned from the commit log), then
    * brute-force inside them — the durable-index variant of q40. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val idxDir = scratchDir("graft_q56")
    Similarity.writeIvfIndex(Tables.widen(e), nCentroids = 32, idxDir)
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfTopKFromIndex(s, idxDir, queries, k = 3, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Salted skew-join: identical result to the plain equi-join (the oracle
    * IS the plain join), with hot keys spread over 8 sub-partitions. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val l = TW(s, dir, "lineitem") // per-row hash over all columns is CPU-bound
    val dim = T(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    graft.operators.SkewJoin.saltedJoin(l, dim, Seq("l_orderkey"), saltFactor = 8)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Event-time tumbling window agg (streaming shape run on the batch frame —
    * the watermark is a no-op on static data, logic identical either way). */
  private def q42(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventTimeOps.windowedAgg(
        T(s, dir, "events"), "ts", "event_type", "value")
      .select(col("window_start"), col("event_type"),
        col("n_events").cast("long").as("n_events"),
        round(col("sum_value"), 2).as("sum_value"))

  /** Deterministic + stratified sampling (reproducible unlike rand()). */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.Sampling.stratifiedSample(docs, "lang", "doc_id", 5)
      .select(col("doc_id"), col("lang"))
      .unionByName(
        graft.operators.Sampling.deterministicSample(docs, "doc_id", 0.1)
          .select(col("doc_id"), lit("__sampled__").as("lang")))
  }

  /** Sequence packing: documents -> fixed-token-budget training packs. */
  private def q44(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packByTokenBudget(
        T(s, dir, "documents"), "source", "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 2048)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("pack_id").cast("long").as("pack_id"),
        col("pack_offset").cast("long").as("pack_offset"))

  /** As-of join: each event enriched with the most recent prior-or-equal
    * purchase value of the same user (DuckDB's native ASOF JOIN is the
    * oracle for our union+window composition). */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("purchase_value"))
    graft.operators.AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightCols = Seq("purchase_value"))
      .select(col("event_id"), col("user_id"), col("purchase_value"))
  }

  /** Corpus-level MinHash via the custom DeclarativeAggregate: one signature
    * per source over the union of member documents' shingle sets (partial
    * aggregation collapses to one signature per map task before the
    * shuffle). */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    graft.functions.MinHashAgg.register(s)
    val docs = TW(s, dir, "documents")
    val hashes = docs.select(col("source"),
      explode(graft.functions.TextHashFunctions.shingleHashes(col("text"), 3)).as("h"))
    hashes.groupBy(col("source"))
      .agg(concat_ws(",", graft.functions.MinHashAgg.minhashAgg(col("h"), 8)).as("sig"))
  }

  /** Deterministic k-per-source sample via the bounded TopKAgg — the
    * shuffle-k-not-the-corpus alternative to the window-based stratified
    * sample (map-side partial aggregation bounds each partition's
    * contribution at k rows per stratum). */
  private def q54(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.samplePerGroup(
        TW(s, dir, "documents"), "source", "doc_id", k = 10)
      .select(col("source"), col("doc_id"),
        col("sample_rank").cast("long").as("sample_rank"))

  /** Video frame sampling over REAL container bytes (r15 — FakeCodec
    * retired): every 4th 32-byte frame of each DISTINCT mp4 payload
    * (explode-with-metadata, frame_idx carried alongside), joined to
    * corpus counts content-addressed. md5 of the frame bytes stands in
    * for the frame payload in the gate (the oracle compares scalars);
    * the md5 constants are byte arithmetic over the committed fixtures,
    * decoder-independent. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(2L)).as("media_key"))
    val frames = graft.operators.Multimodal.sampleFrames(
        graft.operators.Media.Fixtures.df(s,
          graft.operators.Media.Fixtures.video),
        binCol = "media", frameBytes = 32, stride = 4)
      .select(col("media_key"), col("name"),
        col("frame_idx").cast("long").as("frame_idx"),
        md5(col("frame")).as("frame_md5"))
    graft.operators.Multimodal.contentAddressedJoin(docs, "media_key",
      frames, "media_key")
  }

  /** Source-weighted mixture sample: deterministic per-source keep ratios
    * (the dataset-mixing step of a training pipeline) as one codegen'd
    * hash filter. */
  private def q57(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureSample(
        T(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
      .select(col("doc_id"), col("source"), col("lang"))

  /** Smoothed TF-IDF top terms per document (two aggregations over the
    * exploded token table + bounded TopKAgg — no window over (doc, term)). */
  private def q55(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.tfIdfTopTerms(
        TW(s, dir, "documents"), "text", "doc_id", topN = 5)
      .select(col("doc_id"), col("term"), col("score"),
        col("rank").cast("long").as("rank"))

  /** Dedup clustering: SimHash near-dup pairs -> connected components via
    * iterative min-label propagation (the pairs->clusters step of a
    * production dedup pipeline; component id = min doc_id reachable).
    * Pairs come from the 64-bit banded generator (q108's scale path —
    * 2^16-bucket bands, not the 32-bit byte-banding whose 1024 total
    * buckets go quadratic past ~10^6 docs). */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.simHashNearDups64(TW(s, dir, "documents"), "text", "doc_id",
      maxHamming = 3)
    Dedup.connectedComponents(pairs)
      .select(col("node").cast("long").as("doc_id"),
        col("component").cast("long").as("component_id"))
  }

  /** Range join: events landing in each purchase's follow-on hour, joined
    * equi on (user, time-chunk) — never a per-key cross join. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val intervals = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("interval_id"), col("user_id"),
        col("ts").as("window_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("window_end"))
    graft.operators.RangeJoin.pointInInterval(
        ev.select(col("user_id"), col("ts"), col("value")), intervals,
        keys = Seq("user_id"), pointTs = "ts",
        startTs = "window_start", endTs = "window_end")
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** ROLLUP aggregation (hierarchical subtotals + grand total). */
  private def q48(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** Semi/anti joins (EXISTS / NOT EXISTS shapes). */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val o = T(s, dir, "orders").filter(col("o_totalprice") > 300000)
    val withBig = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_big_order").as("tag"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_big_order").as("tag"))
    withBig.unionByName(without)
  }

  /** Incremental dedup: treat high doc_ids as the "new batch" and dedupe
    * against the already-ingested remainder. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    Dedup.incrementalNew(batch, corpus, "text")
      .select(col("doc_id"), col("lang"))
  }

  /** Deterministic HLL distinct estimate vs the exact count, per returnflag
    * (register state bounded at m=256 rows per group vs the exact distinct's
    * full-value shuffle). */
  private def q60(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllDistinct(
      T(s, dir, "lineitem"), "l_orderkey", Seq("l_returnflag"), m = 256)

  /** Corpus-wide heavy hitters: top-20 word trigrams through the bounded
    * TopKAgg (no global sort of the gram vocabulary). */
  private def q61(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.topNgrams(TW(s, dir, "documents"), "text",
      n = 3, topK = 20)

  /** Benchmark-contamination scan: docs with doc_id % 10 == 0 act as the
    * held-out benchmark; any training doc containing >= 50% of a benchmark
    * doc's 8-grams is flagged. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.ngramContainment(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "text", "doc_id", shingleK = 8, threshold = 0.5)
  }

  /** Gopher/MassiveText-style within-document repetition filter metrics. */
  private def q63(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(TW(s, dir, "documents"), "doc_id", "text")

  /** Exact discrete quantiles of event value per event type (one sort per
    * group serves all three quantiles). */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Stats.groupQuantiles(
      T(s, dir, "events"), "event_type", "value", Seq(0.5, 0.9, 0.99))
    q.select(col("event_type"), col("n"),
      round(col("p50"), 2).as("p50"), round(col("p90"), 2).as("p90"),
      round(col("p99"), 2).as("p99"))
  }

  /** Bloom-prefiltered semi join: lineitems of high-value 'F' orders. The
    * oracle is the PLAIN semi join — the bloom prefilter must change
    * nothing but the amount of data reaching the shuffle. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val bigF = T(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 200000)
      .select(col("o_orderkey"))
    graft.operators.BloomJoin.bloomSemiJoin(
        T(s, dir, "lineitem"), bigF, "l_orderkey", "o_orderkey",
        expectedItems = 100000L)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Aligned-window exact-substring dedup candidates (64-char windows,
    * stride 32). */
  private def q66(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedWindowPairs(T(s, dir, "documents"), "doc_id", "text",
      window = 64, stride = 32)

  /** Mean-pooled class centroids over the labeled embeddings (the pooling
    * step of chunk->document or doc->class embedding aggregation). */
  private def q67(s: SparkSession, dir: String): DataFrame =
    Similarity.meanPool(T(s, dir, "embeddings"), "label", "embedding")
      .select(col("label"), col("pos").cast("long").as("pos"),
        round(col("mean_val"), 4).as("mean_val"))

  /** PIVOT: daily event-type value matrix (explicit pivot value list keeps
    * the output schema static — no driver-side distinct scan). */
  private def q68(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum(col("value")), 2))

  /** FULL OUTER join: high-balance customer vs supplier presence per nation
    * (each side missing some nations -> coalesced zero counts). */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).cast("long").as("n_cust"))
    val sup = T(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).cast("long").as("n_supp"))
    c.join(sup, c("c_nationkey") === sup("s_nationkey"), "full_outer")
      .select(
        coalesce(c("c_nationkey"), sup("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** lag + cumulative-sum window per user: per-event value delta and the
    * running total (running sum in DECIMAL so the cumulative fold is exact
    * and order-independent — a double running sum would drift differently
    * under each engine's frame evaluation). */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    T(s, dir, "events")
      .withColumn("delta", round(col("value") - lag(col("value"), 1).over(w), 2))
      .withColumn("running",
        sum(col("value").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .select(col("event_id"), col("user_id"), col("delta"), col("running"))
  }

  /** Bucketed co-located join: both sides written bucketed (and
    * bucket-sorted) on the join key, so the sort-merge join needs NO
    * Exchange and no per-query Sort — the write pays the shuffle once,
    * every subsequent join on the key is shuffle-free. THE layout tool for
    * a 100 TB fact table that is joined on the same key daily. The merge
    * hint keeps the demonstration on the SMJ path (the small test dim would
    * otherwise broadcast, which hides the bucketing); external table paths
    * point into the scratch dir. BucketedJoinSpec pins the plan shape
    * (SortMergeJoin, zero Exchange). */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val root = scratchDir("graft_q71")
    s.sql("DROP TABLE IF EXISTS graft_q71_li")
    s.sql("DROP TABLE IF EXISTS graft_q71_ord")
    graft.sources.Bucketing.writeBucketed(
      T(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "graft_q71_li", Seq("l_orderkey"), numBuckets = 8, path = Some(s"$root/li"))
    graft.sources.Bucketing.writeBucketed(
      T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
      "graft_q71_ord", Seq("o_orderkey"), numBuckets = 8, path = Some(s"$root/ord"))
    val li = s.table("graft_q71_li")
    val ord = s.table("graft_q71_ord")
    li.hint("merge").join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
  }

  /** CUBE grouping sets with grouping_id (q48 covers ROLLUP). */
  private def q72(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).cast("long").as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** UNPIVOT/melt: per-returnflag metrics to (key, metric, value) long
    * form — the inverse of q68's pivot. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val agg = T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).cast("double").as("n_rows"))
    agg.unpivot(Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("n_rows")),
      "metric", "value")
  }

  /** Hourly resample + forward fill over the event stream (regularizing
    * irregular per-user series onto a fixed grid). */
  private def q74(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.resampleFill(
        T(s, dir, "events"), "user_id", "ts", "value", tieCol = "event_id")
      .select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        round(col("filled_v"), 2).as("filled_v"), col("is_observed"))

  /** Curriculum binning: equal-frequency quality deciles via the exact
    * histogram algorithm (no global row_number — see
    * [[graft.operators.Stats.histogramBuckets]]), summarized per decile. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val scored = TW(s, dir, "documents") // regex-heavy scoring: widen first
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
    graft.operators.Stats.histogramBuckets(scored, "q", nBuckets = 10)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(min(col("q")), 4).as("min_q"), round(max(col("q")), 4).as("max_q"))
  }

  /** SQL facade: the graft function surface driven through `spark.sql`
    * (the SparkSessionExtensions / registry injection path) rather than the
    * Column API — same registry, same codegen'd expressions. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    T(s, dir, "embeddings").filter(col("vec_id") < 5)
      .createOrReplaceTempView("graft_q76_emb")
    s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |  round(graft_cosine(a.embedding, b.embedding), 3) AS cosine
            |FROM graft_q76_emb a JOIN graft_q76_emb b ON a.vec_id < b.vec_id""".stripMargin)
  }

  /** Fixed-token chunking with overlap (32-token chunks, 8 overlap). */
  private def q77(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.chunkByTokens(T(s, dir, "documents"),
      "doc_id", "text", chunkSize = 32, overlap = 8)

  /** Vocabulary coverage: top-20 corpus vocab (the synthetic corpus has 31
    * distinct tokens — a small cap keeps the OOV signal non-degenerate),
    * then per-source OOV rate. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val vocab = graft.operators.Corpus.buildVocab(docs, "text", vocabSize = 20)
    graft.operators.Corpus.oovRate(docs, "source", "text", vocab)
  }

  /** Unigram log-prob quality proxy per document. */
  private def q79(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.unigramLogProb(TW(s, dir, "documents"), "doc_id", "text")

  /** Hard-negative mining: top-3 most-similar different-label neighbors per
    * query vector. */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    Similarity.hardNegatives(Tables.widen(e),
        e.filter(col("vec_id") < 6).select(col("vec_id").as("query_id"),
          col("embedding"), col("label")),
        k = 3)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Per-group z-score normalization (feature prep): one pass, two window
    * aggregates over the group — no join, no second scan. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round((col("value") - avg(col("value")).over(w))
          / stddev_samp(col("value")).over(w), 4).as("z"))
  }

  /** Corrupt-record accounting (the PERMISSIVE-parse twin of the
    * reference's pipeline_error_logs containment): deterministically
    * corrupt ~1% of the JSON payloads, parse, and count valid vs corrupt
    * per event type — bad rows are quarantined by COUNTING, never by
    * failing the batch. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val corrupted = T(s, dir, "events")
      .withColumn("payload",
        when(col("event_id") % 97 === 0, concat(lit("x"), col("props")))
          .otherwise(col("props")))
    // PERMISSIVE mode yields a row (not a null struct) for malformed input;
    // the corrupt-record column is the detection channel
    val opts = new java.util.HashMap[String, String]()
    opts.put("columnNameOfCorruptRecord", "_corrupt")
    corrupted
      .withColumn("parsed",
        from_json(col("payload"), lit("k STRING, _corrupt STRING"), opts))
      .groupBy(col("event_type"))
      .agg(sum(when(col("parsed._corrupt").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_corrupt"),
        sum(when(col("parsed._corrupt").isNull, 1L).otherwise(0L))
          .cast("long").as("n_valid"))
  }

  /** Cluster survivorship: the q53 components reduced to one canonical
    * (highest-quality) doc per near-dup cluster. 64-bit banded pairs. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val pairs = Dedup.simHashNearDups64(docs, "text", "doc_id", maxHamming = 3)
    val comps = Dedup.connectedComponents(pairs)
    val scored = docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
    Dedup.clusterRepresentatives(comps, scored, "doc_id", "q")
      .select(col("component_id").cast("long").as("component_id"),
        col("canonical_doc").cast("long").as("canonical_doc"),
        col("score").as("quality"), col("n_members"))
  }

  /** Export shard manifest: deterministic 16-way shard assignment with
    * per-shard counts and id ranges. */
  private def q84(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shardManifest(T(s, dir, "documents"), "doc_id", 16)

  /** Edit-distance-verified near-dups: q66's aligned-window candidates
    * re-checked with banded Levenshtein (threshold 5) — fuzzy dedup's
    * block-then-verify shape with a true-distance verifier. */
  private def q85(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceNearDups(T(s, dir, "documents"), "doc_id", "text",
      maxDist = 5)

  /** Per-domain document caps over parse_url(HOST) — the web-corpus
    * "no host dominates" rule with deterministic hash-order survival. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/doc/"),
          col("doc_id")))
    graft.operators.Corpus.domainCapReport(docs, "url", "doc_id", cap = 10)
  }

  /** BM25 top-k retrieval over the corpus for a bag-of-words query. */
  private def q87(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopDocs(TW(s, dir, "documents"), "doc_id", "text",
      queryTerms = Seq("spark", "query", "window"), k = 10)

  /** GROUPING SETS via the Dataset API (the general form of q48's ROLLUP /
    * q72's CUBE): an explicit lattice of (status, priority), (status),
    * (priority) — both single-column subtotals but NO grand total, a shape
    * neither ROLLUP nor CUBE can express — computed in one pass: Spark
    * expands to a single Expand + aggregate, not one scan per set. */
  private def q88(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))

  /** The full rank-window surface in one pass: rank / dense_rank / ntile /
    * percent_rank / cume_dist / lag / lead share ONE window definition, so
    * Catalyst evaluates them in a single Window operator over a single
    * (partition, order) shuffle-sort — adding a function to an existing
    * frame is free; adding a differently-keyed one is another sort. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"))
      .filter(col("o_orderkey") % 20 === 0)
  }

  /** Join-key skew profile on orders.o_custkey: heavy-hitter keys with
    * share and x-mean multiple — the pre-join salting diagnostic. */
  private def q90(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.keySkewProfile(T(s, dir, "orders"), "o_custkey",
      topK = 10)

  /** Array higher-order-function surface parity (transform / filter /
    * aggregate / slice as USERS write them — the codegen'd expression twins
    * of these drive the hot paths, q23/q24): per-vector positive-component
    * count, L1/L2 norms, and the L2-normalized head of the vector. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val dbl = transform(e, x => x.cast("double"))
    val l2 = sqrt(aggregate(dbl, lit(0.0), (a, x) => a + x * x))
    T(s, dir, "embeddings").select(
      col("vec_id"),
      size(filter(dbl, x => x > 0)).cast("long").as("n_pos"),
      round(aggregate(dbl, lit(0.0), (a, x) => a + abs(x)), 3).as("l1"),
      round(l2, 3).as("l2"),
      // unit-normalized head components as doubles (a stringified array
      // would hit Spark-vs-DuckDB sci-notation formatting of tiny values)
      round(element_at(dbl, 1) / l2, 4).as("h1"),
      round(element_at(dbl, 2) / l2, 4).as("h2"),
      round(element_at(dbl, 3) / l2, 4).as("h3"))
  }

  /** Composed quality-filter funnel (the C4/Gopher keep-drop pipeline):
    * per source, how many docs survive the quality-score, lang-id and
    * repetition filters individually and jointly. One flags projection +
    * one join against the repetition metrics + one aggregation. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val flags = docs.select(col("doc_id"), col("source"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang_pred"))
    val rep = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .select(col("doc_id"), col("repetitive"))
    flags.join(rep, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("q") >= 0.5, 1L).otherwise(0L)).cast("long").as("n_quality"),
        sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).cast("long").as("n_en"),
        sum(when(!col("repetitive"), 1L).otherwise(0L)).cast("long").as("n_clean"),
        sum(when(col("q") >= 0.5 && col("lang_pred") === "en" && !col("repetitive"),
          1L).otherwise(0L)).cast("long").as("n_kept"))
  }

  /** Count-Min sketch estimates vs exact for ten probe customers — toy
    * width so the one-sided overcount is visible and checked. */
  private def q93(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.cmsEstimate(T(s, dir, "orders"), "o_custkey",
      width = 256, depth = 3, probeKeys = (1 to 10).map(_.toString))

  /** Ordered conversion funnel view -> click -> purchase over the event log. */
  private def q94(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.conversionFunnel(T(s, dir, "events"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))

  /** Native session_window sessions (10-minute gap) — the streaming-capable
    * twin of q30's lag/running-sum sessionizer. */
  private def q95(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.sessionWindowAgg(T(s, dir, "events"),
      "user_id", "ts", "value", "10 minutes")

  /** End-to-end curation pipeline — the flagship composition: the q92
    * quality/lang/repetition funnel x the q53/q83 near-dup clustering, with
    * per-source retention accounting. A doc survives when it passes all
    * three filters AND is either unclustered or its cluster's canonical. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val flags = docs.select(col("doc_id"), col("source"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang_pred"))
    val rep = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .select(col("doc_id"), col("repetitive"))
    val funnel = flags.join(rep, Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        (col("q") >= 0.5 && col("lang_pred") === "en" && !col("repetitive"))
          .as("pass_funnel"))
    val pairs = Dedup.simHashNearDups64(docs, "text", "doc_id", maxHamming = 3)
    val comps = Dedup.connectedComponents(pairs)
    // survivorship reuses the quality already computed in `flags` — one
    // text-metric pass over the corpus, not two
    val scored = flags.select(col("doc_id"), col("q"))
    val canon = Dedup.clusterRepresentatives(comps, scored, "doc_id", "q")
      .select(col("component_id"), col("canonical_doc"))
    val dupDropped = comps // (node, component) from connectedComponents
      .join(canon, col("component") === col("component_id"))
      .filter(col("node") =!= col("canonical_doc"))
      .select(col("node").as("doc_id"), lit(true).as("dup_dropped"))
    funnel.join(dupDropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("pass_funnel"), 1L).otherwise(0L)).cast("long")
          .as("n_funnel"),
        sum(when(col("dup_dropped"), 1L).otherwise(0L)).cast("long")
          .as("n_dup_dropped"),
        sum(when(col("pass_funnel") && col("dup_dropped").isNull, 1L)
          .otherwise(0L)).cast("long").as("n_final"))
  }

  /** Snapshot diff: customer vs a deterministically perturbed next version
    * (drops, acctbal updates, key-shifted additions) — the post-merge
    * validation report, counted per change type. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val compareCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val next = cust.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 101 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
      .unionByName(cust.filter(col("c_custkey") % 103 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L))
    graft.merge.SnapshotDiff.diffSummary(cust, next, Seq("c_custkey"), compareCols)
  }

  /** Catalog column profile of lineitem (one pass, all columns). */
  private def q98(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.columnProfile(T(s, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))

  /** BPE training primitive: corpus-wide top adjacent character pairs. */
  private def q99(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bpePairCounts(TW(s, dir, "documents"), "text",
      topK = 20)

  /** Temperature-weighted source rebalance at alpha=0.5 targeting ~40% of
    * the corpus — the multilingual mixing step with integer-exact
    * thresholds. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val target = math.max(1L, docs.count() * 2 / 5)
    graft.operators.Sampling.temperatureMix(docs, "source", "doc_id",
      alpha = 0.5, targetRows = target)
  }

  /** Z-order layout clustering: lineitem keys quantized to a 64x64 grid,
    * Morton-interleaved, cut into 16 equal-frequency file buckets; the
    * per-bucket min/max spans of BOTH dimensions are the file-statistics a
    * scan would prune on. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val stats = li.agg(max(col("l_partkey")).as("maxp"),
      max(col("l_suppkey")).as("maxs"))
    val quant = li.crossJoin(broadcast(stats))
      .select(expr("(l_partkey * 64) div (maxp + 1)").as("qa"),
        expr("(l_suppkey * 64) div (maxs + 1)").as("qb"))
    val z = quant.withColumn("z",
      graft.sources.Bucketing.zOrderValue(col("qa"), col("qb"), 6))
    graft.operators.Stats.histogramBuckets(z, "z", nBuckets = 16)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("qa")).cast("long").as("min_a"),
        max(col("qa")).cast("long").as("max_a"),
        min(col("qb")).cast("long").as("min_b"),
        max(col("qb")).cast("long").as("max_b"))
  }

  /** PageRank centrality (3 power iterations, d=0.85) over the q66
    * shared-window near-dup graph — pick-the-central-member scoring for
    * dup clusters. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.sharedWindowPairs(T(s, dir, "documents"), "doc_id", "text")
    graft.operators.Graph.pageRank(pairs, iterations = 3)
  }

  /** RANGE-frame sliding window: per event, the trailing 1-hour event count
    * and value sum within its type — a VALUE-range frame (all rows whose
    * event time falls in the interval), not a row-count frame, so tied
    * timestamps contribute symmetrically and the result is
    * order-of-equals independent. One shuffle+sort per partition key. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        count(lit(1)).over(w).cast("long").as("trailing_n"),
        round(sum(col("value")).over(w), 2).as("trailing_sum"))
  }

  /** Schema-evolution union: two snapshot versions with DIFFERENT column
    * sets merged via unionByName(allowMissingColumns) — absent columns
    * null-fill, nothing reorders silently. The ingestion surface behind
    * every "the upstream added a column" migration. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val v1 = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("batch", lit("v1"))
    val v2 = c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .withColumn("batch", lit("v2"))
    v1.unionByName(v2, allowMissingColumns = true)
  }

  /** Date/time scalar surface over the distinct ship dates: truncation,
    * month end, offsets, day arithmetic, calendar fields. Dates stringify
    * (ISO) so the gate pins the VALUES, not engine date encodings. */
  private def q105(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(to_date(col("l_shipdate")).as("d")).distinct()
      .select(
        col("d").cast("string").as("ship_date"),
        trunc(col("d"), "month").cast("string").as("month_start"),
        last_day(col("d")).cast("string").as("month_end"),
        date_add(col("d"), 30).cast("string").as("plus_30"),
        datediff(col("d"), lit("1994-01-01").cast("date")).cast("long")
          .as("days_since_epoch_start"),
        dayofweek(col("d")).cast("long").as("dow"),
        quarter(col("d")).cast("long").as("qtr"))

  /** Ingestion-completeness check: gaps in the event_id sequence after a
    * deterministic ~93% sample punches reproducible holes. */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val sampled = graft.operators.Sampling.deterministicSample(
      T(s, dir, "events"), "event_id", fraction = 0.93)
    graft.operators.Stats.sequenceGaps(sampled, "event_id")
  }

  /** Lloyd k-means quantizer training (deterministic init: the first k
    * vectors in vec_id order; 2 assignment/mean rounds) emitted as the
    * trained centroid matrix in (cid, pos, value) long form. The oracle
    * unrolls the same arithmetic in SQL (cosine assignment with double
    * accumulation, per-dimension double mean truncated to float) exactly
    * like q102's PageRank — closing the one previously spec-only public
    * operator. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val cents = graft.operators.Similarity.trainCentroids(emb, k = 4, iters = 2)
    val rows = for {
      (v, cid) <- cents.zipWithIndex.toSeq
      (x, pos) <- v.zipWithIndex
    } yield (cid.toLong, pos.toLong, x.toDouble)
    import s.implicits._
    rows.toDF("cid", "pos", "c")
      .select(col("cid"), col("pos"), round(col("c"), 5).as("c"))
  }

  /** 64-bit SimHash near-dups — the scale path's banding (4 x 16-bit bands,
    * 2^16 buckets per band). The oracle is BRUTE-FORCE all-pairs Hamming in
    * SQL, so a green row also proves the pigeonhole recall claim: banding
    * found every Hamming<=3 pair the exhaustive scan finds. */
  private def q108(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDups64(T(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))

  /** Incremental near-dup detection: the corpus (deterministic 80% id-hash
    * split) is signed into a MinHash index once; the remaining 20% plays
    * the incoming batch and joins against the index — the nightly-crawl
    * shape. Same operating point as q20. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val h = pmod(graft.functions.Hashes.portableHash32(
      col("doc_id").cast("string")), lit(10000L))
    val corpus = docs.filter(h < 8000)
    val batch = docs.filter(h >= 8000)
    val index = Dedup.minHashIndexTable(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2).localCheckpoint()
    Dedup.incrementalNearDups(batch, index, "text", "doc_id",
        threshold = 0.2, bands = 4, rowsPerBand = 2)
      .select(col("corpus_id"), col("batch_id"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** Approximate percentiles — the sketch that REPLACES q64's exact
    * rank-selection sort at 100 TB (bounded GK summary state, no full
    * sort). Gated in exact-retention mode: accuracy exceeds every group's
    * row count, where Spark's summary keeps all samples and its query
    * semantics pin to the same rank DuckDB's `quantile_disc` selects
    * (probed empirically on both parities). At scale you lower accuracy to
    * ~1e4 and accept the documented 1/accuracy rank error; the semantics
    * gated here are that sketch's oracle. */
  private def q110(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        percentile_approx(col("l_quantity"),
          array(lit(0.25), lit(0.5), lit(0.9), lit(0.99)), lit(1000000)).as("qs"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        element_at(col("qs"), 1).as("p25"), element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p90"), element_at(col("qs"), 4).as("p99"))

  /** Canonical text normalization over the corpus PLUS injected edge rows
    * (decomposed accents, control characters, run-on whitespace, a
    * preserved NBSP) — the ASCII corpus alone would make this gate an
    * identity test; the union pins the NFC/strip/collapse behavior against
    * DuckDB's `nfc_normalize` + the same two regexes. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edge = Seq(
      (900001L, "Cafe\u0301 du  monde"),   // decomposed accent + double space
      (900002L, "tab\there\u0007bell\u007fdel"), // control chars -> spaces
      (900003L, "  lots   of\n\nspace  "),  // collapse + trim
      (900004L, "nbsp\u00a0stays")           // non-ASCII space preserved as-is
    ).toDF("doc_id", "text")
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(edge)
    docs.select(col("doc_id"), col("text"),
        graft.operators.TextAnalysis.normalizeText(col("text")).as("norm"))
      .withColumn("changed", (col("norm") =!= col("text")).cast("int").cast("long"))
      .drop("text")
  }

  /** The documents that SURVIVE q86's per-domain cap — the kept-SET twin of
    * the count report, on the bounded TopKAgg path (no rank window). The
    * oracle IS a rank window (DuckDB can afford one), so the green row
    * proves the map-side top-k selects exactly the window's prefix. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/doc/"),
          col("doc_id")))
    graft.operators.Corpus.domainCapDocs(docs, "url", "doc_id", cap = 10)
      .select(col("host"), col("id").cast("long").as("doc_id"),
        col("sample_rank").cast("long").as("keep_rank"))
  }

  /** Hourly resample with LINEAR interpolation (q74's other fill mode). */
  private def q113(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.resampleInterpolate(
        T(s, dir, "events"), "user_id", "ts", "value", tieCol = "event_id")
      .select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        round(col("interp_v"), 2).as("interp_v"), col("is_observed"))

  /** Leakage-safe 80/10/10 split: every simhash near-dup cluster (q53's
    * components) lands wholly inside one split, so no near-dup pair can
    * straddle train and eval. Singletons split on their own id.
    * 64-bit banded pairs. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val pairs = Dedup.simHashNearDups64(docs, "text", "doc_id", maxHamming = 3)
    val components = Dedup.connectedComponents(pairs)
    graft.operators.Sampling.leakageSafeSplit(docs, components, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("component_id"), col("split"))
  }

  /** HLL sketch MERGE: q60's per-flag register tables combined by
    * per-register max into the corpus-total estimate — the rollup that
    * replaces a global distinct at scale. The oracle computes the global
    * sketch DIRECTLY from the values; equality proves max-merge == union
    * sketch. */
  private def q115(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllMergedDistinct(
      T(s, dir, "lineitem"), "l_orderkey", Seq("l_returnflag"), m = 256)

  /** SemDeDup semantic deduplication: embeddings bucketed by an 8-centroid
    * coarse quantizer (deterministic first-8 rows), within-cluster pairs at
    * cosine >= 0.4, lowest id survives. The oracle replays assignment as a
    * cross-join argmax and the prune as an EXISTS — proving the codegen'd
    * argmin + bounded within-cluster join select the same survivor set. */
  private def q116(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(TW(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 8, threshold = 0.4)
      .select(col("id").as("vec_id"), col("centroid_id"), col("kept"))

  /** Product-quantization codes: 64d cut into m=8 subspaces, ksub=16
    * deterministic codewords each; every vector compresses to 8 argmin-L2
    * code indices via the codegen'd broadcast-codebook projection. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val emb = TW(s, dir, "embeddings")
    val book = Similarity.pqCodebook(emb, m = 8, ksub = 16)
    Similarity.pqEncode(emb, book)
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").cast("long").as("sub"),
        col("col").cast("long").as("code"))
  }

  /** Per-doc duplicated-trigram fraction (RefinedWeb-style boilerplate
    * filter): of each doc's trigram positions, the share whose trigram
    * occurs in at least one OTHER document. */
  private def q118(s: SparkSession, dir: String): DataFrame =
    Dedup.dupNgramFraction(T(s, dir, "documents"), "text", "doc_id",
      shingleK = 3, minDf = 1)

  /** Efraimidis–Spirakis weighted sampling without replacement: 25 docs
    * drawn PPS by n_chars with hash-derived uniforms — deterministic, so
    * the oracle recomputes the exact same keys and winners. */
  private def q119(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      T(s, dir, "documents"), "doc_id", "n_chars", k = 25)

  /** Symmetric int8 embedding quantization: per-dim scale = max|x|/127 over
    * the corpus, code = round(x/scale) — the 4x compression pass before
    * vector serving. Exploded (vec_id, dim, code, scale) form. */
  private def q120(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(T(s, dir, "embeddings"))

  /** Bigram LM score per doc: avg ln c(w1 w2)/c_prefix(w1) — the Markov
    * perplexity-style quality filter one step up from q79's unigram. */
  private def q121(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bigramLogProb(T(s, dir, "documents"), "doc_id", "text")

  /** PQ asymmetric-distance top-k: queries scan only the 8-int CODES table
    * (q117's compression output), scoring ||q - decode(codes)||² via the
    * codegen'd broadcast-codebook ADC expression and the bounded top-k
    * aggregate. The oracle decodes every row's codewords into a flat
    * 64-vector and replays the same left-to-right double accumulation, so
    * rank order is proven identical to exact decoded-vector distance. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val emb = TW(s, dir, "embeddings")
    val book = Similarity.pqCodebook(emb, m = 8, ksub = 16)
    val codes = Similarity.pqEncode(emb, book)
    val queries = T(s, dir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.pqTopK(codes, queries, book, k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc_dist"), 3).as("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** Duplicate-block boilerplate removal with reassembly (Dolma-style
    * paragraph dedup over 3-word blocks): per-doc boilerplate fraction plus
    * the doc rebuilt from its surviving blocks in order. */
  private def q123(s: SparkSession, dir: String): DataFrame =
    Dedup.blockBoilerplate(T(s, dir, "documents"), "doc_id", "text",
        wordsPerBlock = 3, minDf = 1)
      .select(col("id").as("doc_id"), col("n_blocks"), col("n_boiler"),
        col("boiler_frac"), col("clean_text"))

  /** Johnson–Lindenstrauss sign projection 64d → 16d: the codegen'd
    * broadcast-matrix mat-vec, oracle-replayed from the same md5-derived
    * sign matrix (scale 1/√16 = 0.25 is exact in binary, so values match
    * bit-for-bit before rounding). */
  private def q124(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(TW(s, dir, "embeddings"), outDim = 16, inDim = 64)
      .select(col("vec_id"), posexplode(col("projected")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        round(col("col"), 6).as("val"))

  /** IVF recall@5 vs exact brute force at a deliberately lossy operating
    * point (probe 2 of 32 buckets): the oracle replays BOTH pipelines and
    * the hit count, proving the measured recall itself — not just the two
    * result sets — is engine-identical. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val emb = TW(s, dir, "embeddings")
    val queries = T(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val approx = Similarity.ivfTopK(emb, queries, 5, nCentroids = 32, nProbe = 2)
    Similarity.recallAtK(exact, approx, 5)
  }

  /** Classifier-based quality filtering: fixed-weight logistic over the
    * rounded text features; keep decided on the logit sign so the gate is
    * independent of exp() last-ulp differences. */
  private def q126(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.qualityLogit(
      T(s, dir, "documents"), "doc_id", "text")

  /** Semantic decontamination: every 25th vector plays the benchmark set,
    * the rest the train corpus; shared-hyperplane LSH buckets generate the
    * candidates and exact cosine verifies, so contaminated train items
    * surface without an all-pairs scan. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val emb = TW(s, dir, "embeddings")
    val bench = emb.filter(col("vec_id") % 25 === 0)
    val train = emb.filter(col("vec_id") % 25 =!= 0)
    Dedup.crossCorpusNearDups(train, bench, "vec_id", "embedding", dim = 64,
        threshold = 0.30, bitsPerBand = 8, numBands = 2)
      .select(col("id_left").as("train_id"), col("id_right").as("bench_id"),
        round(col("cos"), 3).as("cos"))
  }

  /** MMR-diversified retrieval: top-20 cosine candidates per query, greedy
    * λ=0.7 rerank to 5 picks inside one codegen'd expression; the oracle
    * unrolls the same greedy as five SQL rounds with the identical double
    * constants, so selection order AND scores are proven equal. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val emb = TW(s, dir, "embeddings")
    val queries = T(s, dir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.mmrRerank(emb, queries, nCandidates = 20, k = 5, lambda = 0.7)
      .select(col("query_id"), col("neighbor_id"),
        round(col("mmr"), 4).as("mmr"), col("rank"))
  }

  /** Token-budget mixture fill: per-language char budgets, hash-ordered
    * prefix per source — the deterministic "N tokens per source" mix
    * assembly (zh/es carry no budget and drop out entirely). */
  private def q129(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.tokenBudgetSample(
      T(s, dir, "documents"), "lang", "doc_id", "n_chars",
      budgets = Map("en" -> 20000L, "de" -> 10000L, "fr" -> 5000L))

  /** Median/MAD robust outlier report over extended price per return flag —
    * the modified-z trim pass that survives the skew a mean/stddev trim
    * (q81's z-score) is blind to. */
  private def q130(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.madOutliers(
      T(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")

  /** Per-source KL(unigram source ‖ corpus) domain-shift report. */
  private def q131(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sourceKlReport(T(s, dir, "documents"), "source", "text")

  /** Persisted-IVF APPEND path, end-to-end: build the index from 80% of the
    * corpus, append the other 20% as one committed append to the corpus
    * table (quantized against the BASE centroids — no retrain, no rewrite),
    * probe the union. The oracle restricts the centroid pool to the base
    * build but searches the full corpus — exactly what the build plus the
    * committed append serve. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val idxDir = scratchDir("graft_q132")
    // the index keeps only (id, vec), so only those two columns are
    // checkpointed — ONCE: the base write and each append otherwise re-run
    // the scan + widen exchange per lifecycle step (guide §2.4)
    val ev = Tables.widen(e).select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    Similarity.writeIvfIndex(ev.filter(col("vec_id") % 5 =!= 0),
      nCentroids = 32, idxDir)
    Similarity.appendToIvfIndex(ev.filter(col("vec_id") % 5 === 0), idxDir,
      appId = "q132", batchId = 1L)
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfTopKFromIndex(s, idxDir, queries, k = 3, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** IVF compaction (q132's maintenance close-out): two appends packed
    * into one file per bucket via
    * [[graft.operators.Similarity.compactIvfIndex]], then probed. The
    * oracle is q132's EXACT probe semantics over the full corpus —
    * compaction changes layout, never results — and the gate refuses to
    * answer unless the last commit is a compaction that replaced every
    * file live before it, so a green row proves the compaction ran. */
  private def q317(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val idxDir = scratchDir("graft_q317")
    // one scan + widen, three lifecycle readers (q132's reasoning)
    val ev = Tables.widen(e).select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    Similarity.writeIvfIndex(ev.filter(col("vec_id") % 5 =!= 0),
      nCentroids = 32, idxDir)
    Similarity.appendToIvfIndex(
      ev.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0),
      idxDir, appId = "q317", batchId = 1L)
    Similarity.appendToIvfIndex(
      ev.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0),
      idxDir, appId = "q317", batchId = 2L)
    val corpus = new graft.merge.ParquetTable(s, s"$idxDir/corpus", Seq("centroid_id"))
    val appended = corpus.liveFiles.map(_.path).toSet
    Similarity.compactIvfIndex(s, idxDir)
    require(corpus.lastMetrics.contains("filesBefore") &&
        corpus.liveFiles.forall(f => !appended(f.path)),
      "compactIvfIndex did not replace the appended files")
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfTopKFromIndex(s, idxDir, queries, k = 3, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** Persisted IVFADC index gate (r17 — q139's per-call quantizer rebuild
    * replaced by an on-disk artifact): both quantizers built ONCE from the
    * 80% base and pinned in the artifact, the 20% appended in two
    * committed appends to the codes table (assigned + PQ-encoded against
    * the pinned quantizers), the codes packed by compactIvfPqIndex, and
    * the gate refuses to answer unless the last commit is a compaction
    * that replaced every file live before it. The oracle
    * is q139's exact IVFADC search with the quantizer pool restricted to
    * the base build — so a green row proves the persisted artifact, the
    * append encoding, AND the compaction all preserve q139's in-memory
    * search semantics. */
  private def q323(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = TW(s, dir, "embeddings")
    val idxDir = scratchDir("graft_q323")
    // one scan, three lifecycle readers (q132's reasoning)
    val ev = e.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    Similarity.writeIvfPqIndex(ev.filter(col("vec_id") % 5 =!= 0),
      nCentroids = 16, m = 8, ksub = 16, path = idxDir)
    Similarity.appendToIvfPqIndex(
      ev.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0),
      idxDir, appId = "q323", batchId = 1L)
    Similarity.appendToIvfPqIndex(
      ev.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0),
      idxDir, appId = "q323", batchId = 2L)
    val codes = new graft.merge.ParquetTable(s, s"$idxDir/codes", Seq("centroid_id"))
    val appended = codes.liveFiles.map(_.path).toSet
    Similarity.compactIvfPqIndex(s, idxDir)
    require(codes.lastMetrics.contains("filesBefore") &&
        codes.liveFiles.forall(f => !appended(f.path)),
      "compactIvfPqIndex did not replace the appended files")
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfPqTopKFromIndex(s, idxDir, queries, k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc_dist"), 3).as("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-doc lexical diversity: word entropy, type-token ratio, hapax
    * fraction — the vocabulary-richness quality features. */
  private def q133(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.lexicalDiversity(
        T(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** Source-similarity matrix: cosine between per-source unigram count
    * vectors — which sources duplicate each other distributionally. */
  private def q134(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sourceSimilarityMatrix(
      T(s, dir, "documents"), "source", "text")

  /** Percentile-clipped int8 quantization (p99.9 scale, saturating ±127
    * codes) — q120's outlier-robust production variant. */
  private def q135(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8Clipped(T(s, dir, "embeddings"))

  /** Interval × interval overlap join, binned (never a cross-join): order
    * fulfilment windows [o_orderdate, +7d] against returned-lineitem
    * transit windows [l_shipdate, l_receiptdate] in early 1995, aggregated
    * per (priority, linestatus) with total overlap days. */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val a = T(s, dir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1995-03-01")
      .select(col("o_orderpriority"), col("o_orderdate").as("o_start"),
        date_add(col("o_orderdate"), 7).cast("timestamp").as("o_end"))
    val b = T(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R"
        && col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1995-03-01")
      .select(col("l_linestatus"), col("l_shipdate"),
        // no receipt date in this schema: a deterministic 1-7 day transit
        date_add(col("l_shipdate"), col("l_linenumber") % 7 + 1)
          .cast("timestamp").as("l_receipt"))
    graft.operators.RangeJoin.intervalOverlap(a, b,
        "o_start", "o_end", "l_shipdate", "l_receipt",
        chunkSeconds = 7L * 86400L)
      .groupBy("o_orderpriority", "l_linestatus")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(datediff(least(col("o_end"), col("l_receipt")),
          greatest(col("o_start"), col("l_shipdate"))) + 1).cast("long")
          .as("overlap_days"))
  }

  /** Last-touch attribution: each purchase credits the most recent
    * click/view by the same user within 24 h (ties at equal timestamps
    * broken by event id), unattributed purchases report as `(none)`. */
  private def q137(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.lastTouchAttribution(T(s, dir, "events"),
      "user_id", "ts", "event_type", "value",
      touchTypes = Seq("click", "view"), convType = "purchase",
      windowSeconds = 86400L, idCol = "event_id")

  /** Reciprocal-rank fusion of two bounded retrieval lists (cosine top-20
    * and L2 top-20) into a fused top-10 — rank positions, not raw scores,
    * so the two signals' incomparable scales never mix. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val e = TW(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.rrfFuse(e, queries, nCandidates = 20, k = 10)
  }

  /** IVF + PQ combined search (IVFADC): probe the 4 nearest of 16 coarse
    * buckets, score only those buckets' 8-int PQ codes by asymmetric
    * distance — the composed operating point of q40 (IVF) and q122 (PQ). */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val e = TW(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfPqTopK(e, queries, k = 5,
        nCentroids = 16, nProbe = 4, m = 8, ksub = 16)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc_dist"), 3).as("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-source tokenizer fertility: subwords per word, chars and bytes per
    * subword — the sequence-length cost model behind token budgeting. */
  private def q140(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.fertilityReport(
      T(s, dir, "documents"), "source", "text")

  /** Per-source distinctive terms by Dirichlet-smoothed log-odds z-score
    * (Monroe et al. 2008) — top-5 per source, z rounded before ranking. */
  private def q141(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.logOddsTerms(
      T(s, dir, "documents"), "source", "text", topK = 5, alpha = 0.01)

  /** Sign-bit binary signatures + Hamming top-k: 64 dims pack to ONE long,
    * distance = popcount(xor) — the 64x-compressed first pass of a
    * binary-then-rerank ANN pipeline. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val e = TW(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.hammingTopK(e, queries, k = 5, dim = 64)
  }

  /** PSI drift report between the first and second half-month of events
    * `value`: 10 reference-anchored fixed-width bins, ε-smoothed
    * (cur−ref)·ln(cur/ref) terms, total repeated per row. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
    graft.operators.Stats.psiReport(
      e.filter(col("ts") < "2024-01-16"),
      e.filter(col("ts") >= "2024-01-16"),
      "value", nBins = 10)
  }

  /** Global total-order rank over orders by (o_totalprice, o_orderkey) via
    * the two-pass range formulation — no single-partition global-sort
    * window anywhere in the plan (PlanSpec guards this). */
  private def q144(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.globalRank(
      T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "o_totalprice", "o_orderkey", nRanges = 32)

  /** Epoch-aware mixture plan: per-source char budgets at a 50/30/20
    * en/de/fr mix under a 4-epoch repetition cap, deficits reported. */
  private def q145(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.epochMixPlan(
      T(s, dir, "documents"), "lang", "n_chars",
      weights = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2),
      budgetTokens = 2000000L, maxEpochs = 4.0)

  /** Cross-source duplication matrix over the q20 LSH near-dup pairs:
    * which source pairs share verified near-duplicates, with pair counts
    * and min/max Jaccard per cell. Banding pinned explicitly to q20's
    * operating point (8-hash signature, 2-row bands) — the oracle replays
    * exactly that banding. */
  private def q146(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.crossSourceDupMatrix(
      TW(s, dir, "documents"), "text", "doc_id", "source", threshold = 0.2,
      bands = 4, rowsPerBand = 2)

  /** Per-source trigram novelty: distinct/total shingle ratio and the
    * exclusive-to-source share — the triage stat before pairwise dedup. */
  private def q147(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.ngramNovelty(
      TW(s, dir, "documents"), "source", "text", k = 3)

  /** First-order event transition matrix (Markov next-action counts +
    * global share), sequence fixed by (ts, event_id). */
  private def q148(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.transitionMatrix(
      T(s, dir, "events"), "user_id", "ts", "event_type", "event_id")

  /** Unordered event-type co-occurrence support: users emitting both
    * types at least once, |types|²-bounded output. */
  private def q149(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.eventCooccurrence(
      T(s, dir, "events"), "user_id", "event_type")

  /** DAU + trailing-7-day distinct actives per day (day-user table join
    * against the broadcast day spine — trailing distincts can't window). */
  private def q150(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.rollingActiveUsers(
      T(s, dir, "events"), "ts", "user_id", windowDays = 7)

  /** Winsorized per-flag price summary: mean before/after clamping into
    * [p05, p95] plus per-tail clip counts. */
  private def q151(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.winsorizedStats(
      T(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")

  /** Label-filtered ANN: top-3 cosine neighbors restricted to the query's
    * own label — the join-keyed (not crossJoin-filtered) filtered-search
    * plan. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val e = TW(s, dir, "embeddings")
    val queries = T(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    Similarity.filteredTopK(e, queries, k = 3)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 3).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Per-flag OLS of extended price on quantity (centered two-pass sums —
    * the cancellation-safe closed form). */
  private def q153(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.groupRegression(
      T(s, dir, "lineitem"), "l_returnflag", "l_quantity", "l_extendedprice")

  /** Retention cohort matrix over events: first-active-day cohorts tracked
    * 7 days, per-cell counts and shares. */
  private def q154(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.retentionCohorts(
      T(s, dir, "events"), "ts", "user_id", horizonDays = 7)

  /** Per-node triangle counts + clustering coefficient over the 64-bit
    * simhash near-dup graph at Hamming <= 7 — the Manku block-combination
    * candidate generator ([[Dedup.simHashNearDupsMulti]]), the scale-safe
    * way to widen the radius (14-bit combo keys, never byte-buckets).
    * Degree-oriented wedges — the hub-safe enumeration; oracle brute-forces
    * the 64-bit pair set (banding is recall-complete, so sets agree) and
    * uses the orientation-independent naive triangle form. */
  private def q155(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(
      Dedup.simHashNearDupsMulti(TW(s, dir, "documents"), "text", "doc_id",
        maxHamming = 7))
      .withColumnRenamed("node", "doc_id")

  /** CDC net-effect compaction: per-user op sequences (q32's op mapping)
    * collapsed to first/last/net op + last payload — the pre-MERGE shrink. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").withColumn("op",
      when(col("event_type") === "signup", lit("c"))
        .when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
    graft.operators.CdcProcessor.compactNetEffect(
        ev, "user_id", "event_id", "op", "value")
      .select(col("user_id"), col("first_op"), col("last_op"), col("net_op"),
        round(col("last_value"), 2).as("last_value"), col("n_ops"))
  }

  /** Label-propagation communities (3 synchronous rounds, min-label ties)
    * over the 64-bit simhash near-dup graph at Hamming <= 7 (the Manku
    * block-combination generator — see q155). */
  private def q157(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(
      Dedup.simHashNearDupsMulti(TW(s, dir, "documents"), "text", "doc_id",
        maxHamming = 7), rounds = 3)
      .select(col("node").as("doc_id"), col("label").as("community"))

  /** Sorted-neighborhood dedup: normalized-prefix total order (via the
    * range-partitioned global rank), rank-window candidates (exactly
    * n·window — skew-immune), exact-Jaccard verify. */
  private def q158(s: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborPairs(TW(s, dir, "documents"), "doc_id", "text",
        window = 8, threshold = 0.2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))

  /** Per-language weighted sample: 10 docs per lang, A-ES keyed by
    * n_chars — bounded TopKAgg per stratum. */
  private def q159(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.groupWeightedSample(
      T(s, dir, "documents"), "lang", "doc_id", "n_chars", k = 10)

  /** Top-10 contiguous event-type trigram paths (bounded TopKAgg over the
    * |types|³ pattern table). */
  private def q160(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.topEventTrigrams(
      T(s, dir, "events"), "user_id", "ts", "event_type", "event_id", k = 10)

  /** view→purchase funnel latency: converted-user count + exact p50/p90
    * delay seconds (rank rule). */
  private def q161(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.funnelLatency(
      T(s, dir, "events"), "user_id", "ts", "event_type", "view", "purchase")

  /** Per-dimension embedding whitening stats (centered two-pass std). */
  private def q162(s: SparkSession, dir: String): DataFrame =
    Similarity.dimStats(T(s, dir, "embeddings"))

  /** Top-20 PMI collocation pairs over the top-50 vocabulary. */
  private def q163(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.pmiPairs(
      TW(s, dir, "documents"), "doc_id", "text")

  /** Join-size pre-flight: orders ⋈ customer cardinality estimated by the
    * CMS inner product vs the exact Σ a_k·b_k — never running the join. */
  private def q164(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.cmsJoinSizeEstimate(
      T(s, dir, "orders"), "o_custkey",
      T(s, dir, "customer"), "c_custkey", width = 256, depth = 3)

  /** DSIR importance weights: source = the full corpus, target = its
    * English slice — "reweight everything toward what English looks
    * like". Hashed unigram+bigram features (8192 buckets), add-one
    * smoothing; the oracle replays the bucketing and smoothing
    * arithmetic exactly. */
  private def q165(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.dsirWeights(
      TW(s, dir, "documents"),
      T(s, dir, "documents").filter(col("lang") === "en"),
      "doc_id", "text", buckets = 8192)

  /** HLL distinct-key overlap pre-flight: how many customer keys actually
    * appear in orders — inclusion–exclusion over three deterministic
    * sketches, the companion to q164's output-size estimate. */
  private def q166(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllKeyOverlap(
      T(s, dir, "orders"), "o_custkey",
      T(s, dir, "customer"), "c_custkey", m = 256)

  /** Ranking quality (MRR + nDCG@5) of the q125 IVF operating point vs the
    * exact top-k — recall says IF the neighbors were found, this grades
    * WHERE the list put them. */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val emb = TW(s, dir, "embeddings")
    val queries = T(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
    val approx = Similarity.ivfTopK(emb, queries, 5, nCentroids = 32, nProbe = 2)
    Similarity.rankEval(exact, approx, 5)
  }

  /** Benchmark-contamination spans: longest run of consecutive shared
    * 5-shingles between each training doc (source != src0) and each
    * "benchmark" doc (source = src0) — presence says overlap exists,
    * max_run says whether to drop the doc or excise the span. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.Dedup.crossCorpusMaxRun(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "text", "doc_id", shingleK = 5, minRun = 3)
  }

  /** PII-redaction report over customer names: digit-run identifiers
    * ([0-9]{6,}) replaced by a token; the distinct-count collapse
    * (every row unique before, one template after) is the cardinality
    * a dedup/accounting pass should actually see. */
  private def q169(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactReport(
      T(s, dir, "customer"), "c_mktsegment", "c_name",
      pattern = "[0-9]{6,}", token = "[ID]")

  /** Zipf fit per source: OLS slope of ln(freq) on ln(rank) over each
    * source's top-40 tokens — the template/boilerplate source detector. */
  private def q170(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.zipfFit(
      TW(s, dir, "documents"), "source", "text", topN = 40)

  /** LSH bucket-size pre-flight for the q20 banding (8 hashes, 2-row
    * bands): per band, buckets / multi-doc buckets / max size / implied
    * candidate pairs — the go/no-go check run before the LSH self-join. */
  private def q171(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshBucketProfile(
      TW(s, dir, "documents"), "text", "doc_id",
      bands = 4, rowsPerBand = 2)

  /** Cluster-quality audit over q53's near-dup clustering: per component,
    * members / intra-edges / Hamming extremes — the chain-vs-family check
    * run before trusting a dedup pass. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.simHashNearDups64(TW(s, dir, "documents"), "text",
      "doc_id", maxHamming = 3).localCheckpoint()
    Dedup.clusterStats(Dedup.connectedComponents(pairs), pairs,
      metricCol = "hamming")
  }

  /** Weight-balanced training shards: documents dealt heaviest-first
    * round-robin into 16 shards by n_chars; the per-shard manifest shows
    * the balance hash dealing can't give under a heavy-tailed corpus. */
  private def q173(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.balancedShardReport(
      T(s, dir, "documents"), "doc_id", "n_chars",
      nShards = 16, nRanges = 32)

  /** LSH operating-point planner: the analytic band/row S-curve table for
    * a 16-hash MinHash budget — pure control-plane math, the knob chart a
    * dedup run reads before signing a corpus. */
  private def q174(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshOperatingPoints(s, numHashes = 16)

  /** Binned two-sample KS drift matrix between every source pair's doc-length
    * distribution — 32 shared fixed-width bins over the global n_chars range;
    * the multi-source shape check run before trusting a cross-source mix. */
  private def q175(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ksBinnedDrift(
      T(s, dir, "documents"), "source", "n_chars", nBins = 32)

  /** Sampled-pair cosine profile over the embeddings: exact discrete
    * quantiles + mean/extremes of the id-modulus pair sample — the stat an
    * ANN/LSH deployment reads before fixing thresholds and band counts. */
  private def q176(s: SparkSession, dir: String): DataFrame =
    Similarity.pairDistanceProfile(
      T(s, dir, "embeddings"), "vec_id", "embedding", modA = 17, modB = 19)

  /** Surrogate-key collision audit over order keys: distinct natural keys
    * vs distinct `md5-hash mod 2^bits` surrogates at 4 widths, against the
    * birthday-bound expectation — the sizing table read before swapping a
    * natural join key for a fixed-width hash id. */
  private def q177(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.surrogateKeyAudit(
      T(s, dir, "orders"), "o_orderkey", widths = Seq(12, 16, 20, 24))

  /** Calibration of the lang-ID confidence against the gold lang column:
    * per confidence bin, claimed confidence vs empirical en-rate, and the
    * n-weighted ECE — the eval a heuristic scorer gets before its output
    * gates a corpus. Confidence = en-marker share of all marker hits. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val scores = TextAnalysis.langScores(col("text"))
    val total = scores.map(_._2).reduce(_ + _)
    val conf = when(total > 0,
      scores.toMap.apply("en").cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
    val scored = TW(s, dir, "documents")
      .select(conf.as("en_conf"), (col("lang") === "en").as("is_en"))
    graft.operators.Stats.calibrationReport(scored, "en_conf", "is_en",
      nBins = 5)
  }

  /** Water-filling token allocation across sources: the max-proportional
    * mixture when capped sources can't supply their share — saturated
    * sources give everything, the rest fill at the solved water level. */
  private def q179(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.waterFillAllocation(
      T(s, dir, "documents"), "source", "n_chars",
      weights = Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.2,
        "src3" -> 0.1, "src4" -> 0.1),
      // at the sf0.001/sf0.01 gate corpora this budget saturates src0/src1
      // and leaves the rest filling proportionally — both branches exercised
      budgetTokens = 30000L)

  /** Vocabulary coverage curve: token-mass share covered by the top-k
    * tokens for four candidate vocab sizes — the tokenizer-budget sizing
    * table, one bounded top-k pass over the vocab counts. */
  private def q180(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.vocabCoverage(
      TW(s, dir, "documents"), "text", ks = Seq(10, 100, 1000, 5000))

  /** Dedup savings per source over the 64-bit SimHash near-dup families:
    * docs/tokens removed if each family keeps its lowest-id canonical —
    * the "what does dedup buy" report and the post-dedup capacity input
    * to a mixture plan. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val pairs = Dedup.simHashNearDups64(docs, "text", "doc_id",
      maxHamming = 3).localCheckpoint()
    Dedup.dedupSavingsReport(docs, pairs, "doc_id", "source", "n_chars")
  }

  /** Split-leakage audit: near-dup pairs straddling splits under a naive
    * per-document hash split vs q114's component-keyed split — the proof
    * the leakage-safe split actually held (its cross count must be 0). */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val pairs = Dedup.simHashNearDups64(docs, "text", "doc_id",
      maxHamming = 3).localCheckpoint()
    val comps = Dedup.connectedComponents(pairs)
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    // the naive method is the SAME split rule with no component table:
    // component_id degenerates to the doc id, i.e. a per-document hash
    val safe = graft.operators.Sampling.leakageSafeSplit(
      docs, comps, "doc_id", splits)
    val naive = graft.operators.Sampling.leakageSafeSplit(
      docs, comps.limit(0), "doc_id", splits)
    graft.operators.Sampling.splitLeakageAudit(pairs, "id_a", "id_b",
      Seq(("naive_hash", naive), ("component_safe", safe)), "doc_id")
  }

  /** Planted-duplicate recall of the q20 MinHash LSH operating point:
    * every 10th doc truncated to its first 70% of tokens and planted under
    * an offset id; the report is the measured recall of the banded pass on
    * those known pairs — the empirical check on q174's analytic S-curve. */
  private def q183(s: SparkSession, dir: String): DataFrame =
    Dedup.plantedDupRecall(TW(s, dir, "documents"), "text", "doc_id",
      sampleMod = 10, keepFrac = 0.7, idOffset = 10000000L,
      threshold = 0.2, bands = 4, rowsPerBand = 2)

  /** Hour-of-day chi-square uniformity per event type: diurnal-structure /
    * scheduled-job detector with the peak hour and its share. */
  private def q184(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.hourOfDayUniformity(
      T(s, dir, "events"), "event_type", "ts")

  /** Per-label centroid agreement between the two id-parity halves of the
    * embedding corpus — the encoder-stability / split-sanity audit. */
  private def q185(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidShift(
      T(s, dir, "embeddings"), "vec_id", "embedding", "label")

  /** Join pre-flight card for orders ⋈ customer on custkey: sizes, CMS
    * output-size estimate, HLL key overlap, top-key shares, and the
    * threshold-implied strategy — one row, all sketch/count-bounded. */
  private def q186(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.joinPreflightCard(
      T(s, dir, "orders"), "o_custkey", T(s, dir, "customer"), "c_custkey",
      cmsWidth = 256, cmsDepth = 3, hllM = 256,
      broadcastRowLimit = 1000L, skewShareLimit = 0.1)

  /** Per-batch dedup against the PERSISTED MinHash index: 80% of docs
    * build the index (one-time signing), the next 10% append through the
    * commit log, the last 10% query — pairs must equal a one-shot
    * incremental run over the 90% corpus, which is what the oracle
    * replays. The artifact flow a continuously-ingested corpus runs. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val h = pmod(Hashes.portableHash32(col("doc_id").cast("string")),
      lit(10000L))
    val idxDir = scratchDir("graft_q187")
    Dedup.writeMinHashIndex(docs.filter(h < 8000), idxDir,
      bands = 4, rowsPerBand = 2)
    Dedup.appendToMinHashIndex(docs.filter(h >= 8000 && h < 9000), idxDir,
      txn = Some(("q187", 1L)))
    Dedup.nearDupsAgainstIndex(s, idxDir, docs.filter(h >= 9000),
      threshold = 0.2)
      .select(col("corpus_id"), col("batch_id"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** Day-over-day value-distribution drift: the q175 binned-KS matrix over
    * per-day event values — the continuous-ingest monitor shape (every day
    * pair scored, divergence localized to its bin). */
  private def q188(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ksBinnedDrift(
      T(s, dir, "events").select(
        to_date(col("ts")).cast("string").as("day"), col("value")),
      "day", "value", nBins = 16)

  /** Self-tuned embedding near-dups: the LSH pass run at a threshold the
    * corpus itself supplies — the 95th percentile of the q176 random-pair
    * cosine sample ("flag pairs significantly closer than random"). The
    * planner-measures-then-runs loop: the profile is a bounded pair
    * sample, the threshold a 1-value control-plane collect (DPP-list
    * contract), the pass the usual banded hyperplane join. */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = T(s, dir, "embeddings")
    val thr = Similarity.pairDistanceProfile(e, "vec_id", "embedding",
        modA = 17, modB = 19, ps = Seq(0.95))
      .select(col("p95")).collect()(0).getDouble(0)
    Dedup.embeddingNearDupsLsh(e, "vec_id", "embedding", dim = 64,
        threshold = thr, bitsPerBand = 8, numBands = 2)
      .select(col("id_a"), col("id_b"), round(col("cos"), 3).as("cos"))
  }

  /** Packing-efficiency report over the q44 packs: per source, fill
    * fraction (tail-pack loss) and the share of docs crossing a pack
    * boundary — the attention-masking decision input. */
  private def q190(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packingReport(
      T(s, dir, "documents"), "source", "doc_id",
      TextAnalysis.tokenCount(col("text")), budget = 2048)

  /** Blocked record linkage over the part catalog: one canonical record
    * per distinct name (min partkey), blocked on the name's LAST token
    * (the head noun — 'cold widget'/'small widget' share a block), scored
    * by the codegen byte-based Jaro-Winkler. Cross-block fuzz is missed by
    * design — that is the blocking contract. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val canon = T(s, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
      .withColumn("blk", element_at(split(col("name"), " "), -1))
    Dedup.recordLinkagePairs(canon, "id", "name", "blk", threshold = 0.8)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        round(col("jw"), 4).as("jw"))
  }

  /** Damerau-Levenshtein edit audit on the same canonical blocks as q191:
    * pairs within typo range (dl <= 4), with plain Levenshtein alongside —
    * the dl < lev rows are exactly the transposition-involving matches a
    * Levenshtein-only matcher would score worse. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val canon = T(s, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
      .withColumn("blk", element_at(split(col("name"), " "), -1))
    val left = canon.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
    val right = canon.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
    left.join(right, "blk").filter(col("id_a") < col("id_b"))
      .withColumn("dl", graft.functions.StringSimilarity.damerauLevenshtein(
        s, col("name_a"), col("name_b")))
      .filter(col("dl") <= 4)
      .select(col("id_a"), col("id_b"), col("dl"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("lev"))
  }

  /** Exact-recall Jaccard self-join by prefix filtering (AllPairs) over
    * distinct 3-shingle sets at t = 0.5 — the third candidate generator
    * next to MinHash-LSH and rare-shingle postings, with a recall
    * GUARANTEE instead of a collision probability. Shingles, not words:
    * this corpus's 31-word vocabulary defeats any ordering at k = 1
    * (every prefix collides with ~40% of docs), while the 27k-shingle
    * space gives the filter rare units to prune on — the vocabulary-size
    * knob rule in the operator's scaladoc. The oracle brute-forces all
    * pairs: equality IS the exact-recall proof on this corpus. */
  private def q193(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJaccardPairs(
        T(s, dir, "documents"), "text", "doc_id", threshold = 0.5, shingleK = 3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))

  /** CUSUM changepoint per event type over the daily count series: the
    * day maximizing |Σcnt − t·μ| plus the σ√n-normalized statistic — the
    * pipeline-health primitive for "did this source's volume shift". */
  private def q194(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.cusumChangepoint(
        T(s, dir, "events"), "event_type", "ts")
      .withColumn("change_day",
        date_format(col("change_day"), "yyyy-MM-dd"))

  /** 2-core of the near-dup similarity graph (q155's 64-bit SimHash edge
    * generator): nodes surviving iterated degree-2 peeling — dup CLUSTERS
    * with internal redundancy, vs the pendant pairs the core drops.
    * Fixed 4 peel rounds, oracle-unrolled; `stable` proves convergence. */
  private def q195(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(
      Dedup.simHashNearDupsMulti(TW(s, dir, "documents"), "text", "doc_id",
        maxHamming = 7), k = 2, rounds = 4)
      .withColumnRenamed("node", "doc_id")

  /** Cohen's kappa between two single-pass quality heuristics (length >=
    * 300 chars vs >= 40 tokens): the chance-corrected agreement check run
    * before trusting any cheap label as a filter. */
  private def q196(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cohenKappa(
      T(s, dir, "documents")
        .withColumn("len_ok", (col("n_chars") >= 300).cast("string"))
        .withColumn("tok_ok",
          (TextAnalysis.tokenCount(col("text")) >= 40).cast("string")),
      "len_ok", "tok_ok")

  /** Rolling 7-day distinct users via HLL register merge — the bounded-
    * state twin of q150's exact rolling actives: each day's 256-register
    * sketch max-merges into its windows, so window state never scales
    * with cardinality. Exact count rides along as the error column. */
  private def q197(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllRollingDistinct(
        T(s, dir, "events"), "ts", "user_id", windowDays = 7)
      .withColumn("window_end",
        date_format(col("window_end"), "yyyy-MM-dd"))

  /** Lead-lag cross-correlation of the click and purchase daily series
    * (lags −3..3): does click volume lead purchases? Zero-variance lags
    * report null r. */
  private def q198(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.leadLagCorrelation(
      T(s, dir, "events"), "event_type", "ts", "click", "purchase", maxLag = 3)

  /** Mutual information between document source and language — the
    * source-confound audit before stratifying a mixture on either. */
  private def q199(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.mutualInformation(
      T(s, dir, "documents"), "source", "lang")

  /** Quantile normalization of document length across sources: every doc's
    * n_chars is replaced by the pooled order statistic at its within-source
    * percentile — the cross-source score calibration primitive (exact
    * ceil-rank mapping, no interpolation). */
  private def q200(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.quantileNormalize(
      T(s, dir, "documents"), "source", "n_chars", "doc_id")

  /** Day-of-week seasonal baseline + residuals per event type — the
    * de-seasonalization step before anomaly-scoring daily volumes (CUSUM
    * the residual, not the raw count). */
  private def q201(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.seasonalResiduals(
        T(s, dir, "events"), "event_type", "ts")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))

  /** Golden records over the q53 dup clusters: field-level survivorship —
    * the longest member contributes the text, the lowest-id member the
    * source; singletons survive as themselves. */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val comp = Dedup.connectedComponents(
      Dedup.simHashNearDups64(docs, "text", "doc_id", maxHamming = 3))
    Dedup.goldenRecords(T(s, dir, "documents"), comp, "doc_id",
      Seq("text" -> col("n_chars"), "source" -> negate(col("doc_id"))))
  }

  /** Declarative data-quality rule report over lineitem — every rule
    * evaluated in ONE scan (adding a rule never adds a pass); the
    * deliberately-failing price-cap rule keeps the fail path exercised. */
  private def q203(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.ruleReport(T(s, dir, "lineitem"), Seq(
      "orderkey_not_null" -> col("l_orderkey").isNotNull,
      "quantity_in_1_50" -> (col("l_quantity") >= 1 && col("l_quantity") <= 50),
      "discount_in_0_01" -> (col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
      "price_under_20k" -> (col("l_extendedprice") < 20000.0),
      "flag_domain" -> col("l_returnflag").isin("A", "N", "R")))

  /** Referential-integrity audit: orphaned foreign keys across the three
    * core relationships, one left-anti count each. */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val dq = graft.operators.DataQuality
    dq.referentialIntegrity(T(s, dir, "orders"), "o_custkey",
        T(s, dir, "customer"), "c_custkey", "orders_customer")
      .unionByName(dq.referentialIntegrity(T(s, dir, "lineitem"), "l_orderkey",
        T(s, dir, "orders"), "o_orderkey", "lineitem_orders"))
      .unionByName(dq.referentialIntegrity(T(s, dir, "lineitem"), "l_partkey",
        T(s, dir, "part"), "p_partkey", "lineitem_part"))
  }

  /** Freshness: how far each event type trails the stream's newest row. */
  private def q205(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.freshnessReport(
        T(s, dir, "events"), "event_type", "ts")
      .withColumn("last_ts",
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss"))

  /** Blocking-key pre-flight for record linkage over part names: three
    * candidate keys (first token, last token, first char) with the pair
    * work each implies — the measured input to q191's blocking choice. */
  private def q206(s: SparkSession, dir: String): DataFrame =
    Dedup.linkageBlockProfile(
      T(s, dir, "part")
        .groupBy(col("p_name").as("name")).agg(min(col("p_partkey")).as("id")),
      "id", Seq(
        "first_token" -> element_at(split(col("name"), " "), 1),
        "last_token" -> element_at(split(col("name"), " "), -1),
        "first_char" -> substring(col("name"), 1, 1)))

  /** Wilson 95% score intervals per source for the length-pass rate —
    * the error bars under any cross-source rate comparison. */
  private def q207(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.wilsonIntervals(
      T(s, dir, "documents"), "source", col("n_chars") >= 300)

  /** Decile lift/gains of the quality score against the length label:
    * does the score rank long docs first, and how much of them do the
    * top deciles capture. */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    val scored = TW(s, dir, "documents")
      .select(TextAnalysis.qualityScore(col("text")).as("q"),
        col("n_chars"))
    graft.operators.Stats.liftTable(scored, "q", col("n_chars") >= 300)
  }

  /** Chi-squared independence + Cramér's V for source × lang — the
    * effect-size companion to q199's mutual information on the same
    * confound pair: χ² feeds a significance threshold, V reads on a
    * fixed 0..1 scale. */
  private def q209(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.chiSquaredIndependence(
      T(s, dir, "documents"), "source", "lang")

  /** Benjamini–Hochberg FDR over the pairwise KS drift sweep (q175's
    * statistics): each source pair's asymptotic KS p-value
    * (2·exp(−2D²·n_eff)), then the step-up q-values and the α = 0.05
    * decisions — the multiple-testing correction the drift alert needs
    * before paging anyone about 1 pair out of many. */
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val St = graft.operators.Stats
    val docs = T(s, dir, "documents")
    val ks = St.ksBinnedDrift(docs, "source", "n_chars", nBins = 32)
    val sizes = docs.filter(col("n_chars").isNotNull)
      .groupBy(col("source").cast("string").as("g"))
      .agg(count(lit(1)).as("cnt"))
    val ne = (col("n_a").cast("double") * col("n_b").cast("double")) /
      (col("n_a") + col("n_b")).cast("double")
    val tested = ks
      .join(sizes.select(col("g").as("g_a"), col("cnt").as("n_a")), "g_a")
      .join(sizes.select(col("g").as("g_b"), col("cnt").as("n_b")), "g_b")
      .select(concat(col("g_a"), lit("|"), col("g_b")).as("pair"),
        col("ks_stat"), col("n_a"), col("n_b"),
        round(least(lit(1.0), lit(2.0) *
          exp(lit(-2.0) * col("ks_stat") * col("ks_stat") * ne)), 6)
          .as("p_value"))
    St.bhAdjust(tested, "pair", "p_value", alpha = 0.05)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Asymmetric containment near-dups over 3-shingle sets at t = 0.7:
    * ordered pairs where one doc's shingles are 70%-inside another's —
    * the quote/subset dup class Jaccard structurally misses. Oracle
    * brute-forces every ordered pair: equality is the containment prefix
    * filter's exact-recall proof. */
  private def q211(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
        T(s, dir, "documents"), "text", "doc_id",
        threshold = 0.7, shingleK = 3)
      .select(col("id_a"), col("id_b"), round(col("containment"), 3).as("containment"))

  /** Group-aware 5-fold assignment keyed on source, summarized as
    * (fold, source) counts: every source lands in exactly one fold (the
    * leakage-safe CV contract), reproducibly across engines via the
    * portable md5 hash. */
  private def q212(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.groupKFold(T(s, dir, "documents"), "source", k = 5)
      .groupBy(col("fold"), col("source"))
      .agg(count(lit(1)).as("n_docs"))

  /** Matryoshka truncation harness: recall@10 of cosine top-k over the
    * first 16 of 64 dims against the full-dimension exact top-k — the
    * measured cost of a 4× index-byte cut, same decide-from-numbers
    * contract as the PQ/int8/sign-bit variants. */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val Sim = graft.operators.Similarity
    val emb = T(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Sim.bruteForceTopK(emb, qs, k = 10)
    val trunc = Sim.truncatedTopK(emb, qs, k = 10, dims = 16)
    Sim.recallAtK(exact, trunc, k = 10)
  }

  /** Markov removal-effect attribution over user journeys (first
    * conversion absorbs): per channel, how much of the chain's conversion
    * probability disappears when the channel is removed — the data-driven
    * alternative to q137's last-touch rule, from the same event log. */
  private def q214(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.markovAttribution(
      T(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
      convType = "purchase", iters = 8)

  /** Reciprocal best matches between the even- and odd-id embedding
    * halves with ratio-margin scores (kMargin = 4) — the bitext-mining
    * alignment primitive; mutuality + the hubness-corrected margin is
    * what separates a real translation pair from a hub's easy cosine. */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.reciprocalMatches(
        emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
        kMargin = 4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"),
        round(col("margin"), 4).as("margin"))
  }

  /** Decontamination sweep: which src0 documents (the stand-in benchmark
    * set) are 60%-contained in some OTHER source's document, over
    * 3-shingle sets — q62/q127/q168 catch overlap and semantic twins;
    * this catches the benchmark item quoted inside a training page. */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.crossContainmentPairs(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "text", "doc_id", threshold = 0.6, shingleK = 3)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 3).as("containment"))
  }

  /** Per-source compression-ratio profile (codegen'd DeflateRatio): mean/
    * min deflate ratio and the count of template-like docs (< 0.35) — the
    * LZ77 quality filter next to the Gopher repetition rules. The deflate
    * scalar itself is NOT SQL-expressible (DuckDB has no compression
    * function; its per-doc values are CompressionSpec's hand-characterized
    * anchor), so the gate uses MATERIALIZE-THEN-AUDIT: the per-doc ratios
    * are written to a per-SF audit table first, the returned aggregate is
    * computed FROM that table, and the oracle aggregates the identical
    * parquet in DuckDB — grouping, 4-dp rounding and the 0.35 threshold
    * count are all hash-gated. Doubles round-trip parquet exactly, so
    * both engines fold the same bit-identical inputs. The audit table is
    * the pattern a 100 TB curation pipeline wants anyway: score once,
    * audit/aggregate many times. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    // Per-SF path: a bench at sf0.1 can never clobber the gated sf0.01
    // artifact. The oracle side stays in sync because graft.Verify
    // substitutes __GRAFT_SFNAME__ with this dir name when dumping
    // oracle_sql.json — the dumped oracle always reads what the same
    // run wrote, at ANY SF (the r15 fix: the old statically-pinned
    // sf0.01 oracle path read stale data under an sf0.001 check).
    val out = s"/tmp/graft_materialized/${new java.io.File(dir).getName}" +
      "/q217_ratios"
    TW(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.TextHashFunctions.deflateRatio(col("text")).as("r"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("r")), 4).as("mean_ratio"),
        round(min(col("r")), 4).as("min_ratio"),
        sum(when(col("r") < 0.35, 1L).otherwise(0L)).as("n_template_like"))
  }

  /** Neyman allocation of a 1000-sample audit budget across sources by
    * n_chars: strata get samples ∝ N_h·σ_h (big AND varied wins), integer
    * allocations summing to the budget exactly via largest-remainder. */
  private def q218(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.neymanAllocation(
      T(s, dir, "documents"), "source", "n_chars", budget = 1000L)

  /** Re-identification-risk profile of `customer` with quasi-identifiers
    * (nation, market segment) and `c_acctbal` as the sensitive attribute:
    * one row per equivalence-class size with the worst l-diversity and an
    * at-risk flag (k = 6). */
  private def q219(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.kAnonymityAudit(
      T(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      "c_acctbal", k = 6)

  /** Adamic–Adar "customers who buy alike" link prediction over the
    * bipartite customer↔part incidence list (orders ⋈ lineitem): top 20
    * pairs by Σ 1/ln(part degree), deterministic rounded-score ordering.
    * The hub throttle is pinned EXPLICITLY at the scale-safe 1024 default
    * (uncapped is O(d²) on the hottest item — never in a gate), and the
    * oracle replays the identical degree ceiling, so the scores hash-match
    * whether or not any part actually trips the cap at gate scale. The
    * cap's drop behaviour itself is spec-exercised in GraphSpec. */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    val edges = T(s, dir, "orders")
      .join(T(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    graft.operators.Graph.adamicAdar(edges, "o_custkey", "l_partkey",
      topN = 20, maxItemDegree = 1024)
  }

  /** KMV (bottom-k) audience-overlap estimates between event types over
    * distinct user sets (k = 128): per-side, union, intersection, and
    * Jaccard estimates — the set-intersection sketch HLL
    * inclusion–exclusion (q166) can't do accurately at small overlaps. */
  private def q221(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvOverlap(
      T(s, dir, "events"), "user_id", "event_type", k = 128)

  /** Order-independent per-source dataset fingerprints over the documents
    * table (count + sum/xor of the portable row hash) — the replica-
    * equality check that never sorts or ships a row. */
  private def q222(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.datasetFingerprint(
      TW(s, dir, "documents"), "source",
      Seq("doc_id", "lang", "n_chars", "text"))

  /** One-row Gini concentration of character mass across sources — the
    * "will the domain cap bind?" pre-flight for corpus mixing. */
  private def q223(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.giniConcentration(
      T(s, dir, "documents"), "source", "n_chars")

  /** Benford first-digit audit of order totals: 9 rows of observed vs
    * log10(1+1/d) expected shares. */
  private def q224(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.benfordAudit(T(s, dir, "orders"),
      "o_totalprice")

  /** Quantity-weighted price quantiles per return flag: the price level
    * below which 25/50/75/90% of the shipped QUANTITY sits — what the
    * unweighted quantiles can't say when big lines carry the mass. */
  private def q225(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.weightedQuantiles(T(s, dir, "lineitem"),
      "l_returnflag", "l_extendedprice", "l_quantity",
      Seq(0.25, 0.5, 0.75, 0.9))

  /** Bot triage: the 20 users whose streams are least human — low
    * event-type entropy plus metronomic inter-event gaps (integer-moment
    * CV), score ascending with id tie-breaks. */
  private def q226(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.userRegularity(T(s, dir, "events"),
      "user_id", "ts", "event_type", minEvents = 5, topN = 20)

  /** CUPED readout over a synthetic events experiment: per-user value
    * totals split at Jan 16 (pre | post), arms by user-id parity, pooled
    * theta, per-arm adjusted means + realized variance reduction. */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val units = T(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts")) < cut, col("value"))
          .otherwise(lit(0.0))).as("pre"),
        sum(when(to_date(col("ts")) >= cut, col("value"))
          .otherwise(lit(0.0))).as("post"))
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        col("pre"), col("post"))
    graft.operators.Stats.cupedAdjustment(units, "arm", "pre", "post")
  }

  /** Covariate balance (SMD) between customer-key-parity arms over
    * account balance and nation — the randomization-health audit. */
  private def q228(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.covariateBalance(T(s, dir, "customer"),
      pmod(col("c_custkey"), lit(2L)) === 0,
      Seq("c_acctbal", "c_nationkey"))

  /** Welch's t between order-key-parity arms on order totals: t statistic
    * plus Welch-Satterthwaite df from one conditional-moment pass. */
  private def q229(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.welchTTest(T(s, dir, "orders"),
      pmod(col("o_orderkey"), lit(2L)) === 0, "o_totalprice")

  /** Kaplan-Meier user-lifetime curve with 3-day right-censoring at the
    * corpus edge: at-risk, deaths, censored, survival per lifetime day. */
  private def q230(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.kaplanMeierRetention(T(s, dir, "events"),
      "user_id", "ts", censorDays = 3)

  /** Heaps'-law vocabulary-growth fit V = K*N^beta across sources:
    * log-log OLS over the per-source (tokens, vocab) points. */
  private def q231(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.heapsFit(TW(s, dir, "documents"), "source",
      "text")

  /** Split-conformal interval for predicting n_chars from the token count
    * (hash-mod-3 train/calibrate/test splits, alpha = 0.1): exact-integer
    * OLS moments, range-partitioned rank selection for q-hat, realized
    * coverage vs the 0.9 target. */
  private def q232(s: SparkSession, dir: String): DataFrame = {
    val base = TW(s, dir, "documents")
      .select(col("doc_id"),
        size(graft.operators.Dedup.tokens(col("text"))).as("n_tok"),
        col("n_chars"))
    graft.operators.Stats.conformalInterval(base, "doc_id", "n_tok",
      "n_chars", alpha = 0.1)
  }

  /** SCD2 temporal join: orders pick the customer-dimension VERSION valid
    * on their own order date (dim built like q16 but with in-range dates:
    * v1 eff 1995-01-01, changes eff 1998-06-01). Output: revenue and
    * order counts per (eff_date, current_flag) version cohort. */
  private def q233(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val target = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit(true).as("current_flag"),
      to_date(lit("1995-01-01")).as("eff_date"),
      lit(null).cast("date").as("expiry_date"))
    val changed = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") + 100, 2).as("c_acctbal"),
        to_date(lit("1998-06-01")).as("eff_date"))
    val dim = Scd.scd2Apply(target, changed, Seq("c_custkey"),
      matchCondition = "target.current_flag = true AND target.c_acctbal <> updates.c_acctbal",
      updateMap = Map(
        "current_flag" -> "false",
        "expiry_date" -> "updates.eff_date"),
      insertMap = Map(
        "c_custkey" -> "updates.c_custkey",
        "c_name" -> "updates.c_name",
        "c_acctbal" -> "updates.c_acctbal",
        "current_flag" -> "true",
        "eff_date" -> "updates.eff_date",
        "expiry_date" -> "cast(null as date)"))
    val facts = T(s, dir, "orders").select(col("o_custkey"),
      to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"))
    Scd.scd2TemporalJoin(facts, dim, "o_custkey", "c_custkey", "o_date")
      .groupBy(col("eff_date"), col("current_flag"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** Two-stage sign-bit retrieval: Hamming shortlist (50) -> exact cosine
    * rerank (10), measured as recall@10 against the exact top-k NEXT TO
    * the one-stage Hamming recall — the rerank's recovery, per query. */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val Sim = graft.operators.Similarity
    val emb = T(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Sim.bruteForceTopK(emb, qs, k = 10).localCheckpoint()
    val rerank = Sim.hammingRerankTopK(emb, qs, k = 10, nShortlist = 50,
      dim = 64)
    val oneStage = Sim.hammingTopK(emb, qs, k = 10, dim = 64)
    Sim.recallAtK(exact, rerank, k = 10)
      .select(col("query_id"), col("recall").as("recall_rerank"))
      .join(Sim.recallAtK(exact, oneStage, k = 10)
        .select(col("query_id"), col("recall").as("recall_hamming")),
        Seq("query_id"))
  }

  /** Fellegi-Sunter EM over the q191 linkage blocks: per comparison field
    * (name Jaro-Winkler >= 0.85, brand equal, size equal), the learned
    * m/u probabilities and log2 agree/disagree weights + match prior —
    * the data-chosen replacement for ad-hoc distance thresholds. */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    val part = T(s, dir, "part")
    val canon = part.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
      .withColumn("blk", element_at(split(col("name"), " "), -1))
    val full = canon.join(part.select(col("p_partkey").as("id"),
      col("p_brand").as("brand"), col("p_size").as("sz")), "id")
    val a = full.select(col("id").as("id_a"), col("name").as("name_a"),
      col("brand").as("brand_a"), col("sz").as("sz_a"), col("blk"))
    val b = full.select(col("id").as("id_b"), col("name").as("name_b"),
      col("brand").as("brand_b"), col("sz").as("sz_b"), col("blk"))
    val pairs = a.join(b, "blk").filter(col("id_a") < col("id_b"))
      .withColumn("jw", graft.functions.StringSimilarity.jaroWinkler(
        s, col("name_a"), col("name_b")))
    Dedup.fellegiSunterWeights(pairs, Seq(
      "name_sim" -> (col("jw") >= 0.85),
      "brand_eq" -> (col("brand_a") === col("brand_b")),
      "size_eq" -> (col("sz_a") === col("sz_b"))), iters = 5)
  }

  /** Power planning per event type: minimum detectable effect at today's
    * traffic (equal split) and the per-arm n a 5%-of-mean lift needs —
    * fixed z literals, one conditional-moment scan. */
  private def q236(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.powerAnalysis(T(s, dir, "events"),
      "event_type", "value")

  /** Per-source readability: Flesch ease + FK grade from exact corpus
    * (word, sentence, vowel-group-syllable) totals. */
  private def q237(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.readabilityReport(
      TW(s, dir, "documents"), "source", "text")

  /** Four-fifths-rule disparate-impact audit of a balance-threshold
    * "selection" across market segments: per-group rates, ratio vs the
    * max-rate group, pass flag. */
  private def q238(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.disparateImpact(T(s, dir, "customer"),
      "c_mktsegment", col("c_acctbal") > 5000)

  /** Per-event-type burstiness of daily volume (absent days = 0): Fano
    * factor + bounded burstiness index from exact integer moments. */
  private def q239(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.burstiness(T(s, dir, "events"),
      "event_type", "ts")

  /** Cold-start exposure of an event_id-hash test split: how much of the
    * test side rides users the train side never saw. */
  private def q240(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.coldStartReport(T(s, dir, "events"),
      "event_id", "user_id", testMod = 5)

  /** Block-level (256-char fixed chunks) dedup estimate over document
    * payloads: chunk volume, distinct chunks, the content-addressed-
    * storage savings ratio, hottest chunk count. */
  private def q241(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.chunkDedupReport(
      TW(s, dir, "documents"), "text", chunkSize = 256)

  /** Delta-method CI for value-per-event by type with the USER as the
    * independent unit — the variance the naive per-event stderr misses. */
  private def q242(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ratioMetricCI(T(s, dir, "events"),
      "event_type", "user_id", col("value"), lit(1.0))

  /** Content-defined (gear rolling hash) chunk-dedup estimate over the
    * same payloads as q241 — the insertion-immune upper bracket.
    * Oracle-gated: the per-byte rolling state unrolls as a RECURSIVE CTE
    * (one iteration per byte position) over the shared gear constants;
    * CompressionSpec + CdcMultimodalSpec anchor the values. */
  private def q243(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.cdcChunkDedupReport(
      TW(s, dir, "documents"), "text", minSize = 16, maskBits = 6,
      maxSize = 256)

  /** Learn a 20-merge BPE table from the corpus character sequences — the
    * tokenizer-training loop itself. Oracle-gated by unrolling the 20
    * rounds as chained CTEs (the q107/q128 precedent); CorpusSpec anchors
    * the classic low/lower/lowest example and batched ≡ sequential. */
  private def q244(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bpeLearn(TW(s, dir, "documents"), "text",
      nMerges = 20)

  /** Pareto frontier over per-doc (chars, distinct tokens): the curation
    * trade-off surface — no doc on it is beaten on BOTH size and lexical
    * richness. Exact NOT-EXISTS dominance oracle. */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents").select(col("doc_id"),
      col("n_chars"),
      size(array_distinct(graft.operators.Dedup.tokens(col("text"))))
        .cast("long").as("n_types"))
    graft.operators.Stats.paretoFrontier(docs, "doc_id", "n_chars",
      "n_types")
  }

  /** Poisson-bootstrap SE of mean order value per status: 64 hash-
    * deterministic Poisson(1) replicate weights per row, all replicates in
    * one pass (the bootstrap that works at 100 TB — no resampling
    * shuffle). */
  private def q246(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.poissonBootstrapSE(T(s, dir, "orders"),
      "o_orderstatus", "o_orderkey", "o_totalprice", b = 64)

  /** Always-valid p-value (normal-mixture mSPRT) per event type between
    * user-parity arms — the peeking-safe dashboard statistic. */
  private def q247(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.msprt(T(s, dir, "events"), "event_type",
      pmod(col("user_id"), lit(2L)) === 1, "value", tau2 = 10.0)

  /** Difference-in-differences across the q227 pre/post cut between
    * user-parity arms: the 2x2 panel estimator with four-cell SE. */
  private def q248(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.diffInDiff(T(s, dir, "events"),
      pmod(col("user_id"), lit(2L)) === 0,
      to_date(col("ts")) >= lit("2024-01-16").cast("date"), "value")

  /** Tokenizer economics per source under a freshly learned 16-merge BPE
    * table: fertility and chars-per-token from the trainer's final
    * vocabulary state. Oracle-gated via q244's unrolled 16-round chain. */
  private def q249(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bpeEncode(TW(s, dir, "documents"), "text",
      "source", nMerges = 16)

  /** Phonetic (Soundex-variant) blocking profile over part-name words —
    * the typo-tolerant member of the q191/q206 linkage family. */
  private def q250(s: SparkSession, dir: String): DataFrame =
    Dedup.phoneticBlocks(T(s, dir, "part"), "p_partkey", "p_name")

  /** Exact per-event-type EWMA (alpha 0.2) of the daily mean value — the
    * anomaly-baseline smoother, as an order-identical prefix fold. */
  private def q251(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.ewma(T(s, dir, "events"), "event_type",
      "ts", "value", alpha = 0.2)

  /** Per-source ROC AUC (exact Mann-Whitney with midranks) of doc length
    * as a predictor of lang='en' — the sliced classifier audit. */
  private def q252(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.groupAuc(T(s, dir, "documents"), "source",
      col("n_chars"), col("lang") === "en")

  /** Language-ID confusion matrix against the labeled lang column: the
    * diagonal share IS per-class recall; off-diagonals say where each
    * language's docs leak. */
  private def q263(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.langConfusion(TW(s, dir, "documents"),
      "text", "lang")

  /** Incremental view maintenance on the COW table: three event batches
    * merged as per-group (count, sum) deltas; the final table must
    * hash-match the oracle's one-shot recompute — the IVM correctness
    * contract (incremental == full). Vacuums to the last version after
    * the merges (retention on the snapshot chain). */
  private def q264(s: SparkSession, dir: String): DataFrame = {
    import graft.merge.{MergeInto, ParquetTable}
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val root = scratchDir("graft_q264")
    val table = new ParquetTable(s, s"$root/agg_ivm")
    (0L to 2L).foreach { b =>
      val delta = ev.filter(pmod(col("event_id"), lit(3L)) === b)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(coalesce(col("value"), lit(0.0)).cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("sum_v"))
      if (!table.exists) table.create(delta)
      else table.merge(delta, "target.event_type = updates.event_type",
        matched = Seq(MergeInto.WhenMatched(None, MergeInto.UpdateExpr(Map(
          "n" -> "target.n + updates.n",
          "sum_v" -> "CAST(target.sum_v + updates.sum_v AS DECIMAL(18,2))")))),
        notMatched = Seq(MergeInto.WhenNotMatched(None, MergeInto.InsertAll)))
    }
    table.vacuum(keepLast = 1)
    table.read.select(col("event_type"), col("n"),
      col("sum_v").cast("double").as("sum_value"),
      round(col("sum_v").cast("double") / col("n").cast("double"), 4)
        .as("mean_value"))
  }

  /** GDPR-erasure audit on the COW table: create a partitioned events
    * table, DELETE one user cohort, report per-partition before/after/
    * deleted counts plus the residue (must be zero) re-read from the
    * table — the oracle recomputes the same numbers from the source, so
    * any delete leak (a resurrected partition, a missed file) breaks the
    * hash match. */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    import graft.merge.ParquetTable
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val root = scratchDir("graft_q262")
    val table = new ParquetTable(s, s"$root/events_cow", Seq("event_type"))
    table.create(ev)
    table.delete("user_id % 11 = 3", metrics = Map("reason" -> "erasure"))
    val after = table.read.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_after"),
        sum(when(pmod(col("user_id"), lit(11L)) === 3, 1L).otherwise(0L))
          .cast("long").as("residue"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_before"))
      .join(after, Seq("event_type"), "left")
      .select(col("event_type"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_deleted"),
        coalesce(col("residue"), lit(0L)).as("residue"))
  }

  /** Exact histogram Wasserstein-1 + KS of each event type's value
    * distribution vs the pooled corpus — drift in value units (EMD) and
    * largest CDF gap (KS), exact integer numerators on a 64-bin grid. */
  private def q265(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.emdDrift(T(s, dir, "events"), "event_type",
      "value", nBins = 64)

  /** Bradley-Terry brand strengths from within-order price contests:
    * lineitem pairs inside an order vote for the pricier brand; 3 MM
    * rounds over the 25-brand win matrix, mean-1 normalized. */
  private def q266(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "lineitem")
      .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("p_brand").as("brand"), col("l_extendedprice").as("price"))
    val a = e.as("a")
    val b = e.as("b")
    val comp = a.join(b, col("a.ok") === col("b.ok") &&
        col("a.ln") < col("b.ln"))
      .filter(col("a.brand") =!= col("b.brand"))
      .select(
        when(col("a.price") > col("b.price"), col("a.brand"))
          .when(col("a.price") < col("b.price"), col("b.brand"))
          .otherwise(least(col("a.brand"), col("b.brand"))).as("winner"),
        when(col("a.price") > col("b.price"), col("b.brand"))
          .when(col("a.price") < col("b.price"), col("a.brand"))
          .otherwise(greatest(col("a.brand"), col("b.brand"))).as("loser"))
    graft.operators.Stats.bradleyTerry(comp, "winner", "loser", iters = 3)
  }

  /** Delete-one-group jackknife SE for the mean event value, units =
    * users hashed into 24 pseudo-replicates — the correlated-rows-safe
    * SE in one aggregation pass. */
  private def q267(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.jackknifeGroupSE(T(s, dir, "events"),
      col("user_id"), "value", nGroups = 24)

  /** Farthest-point (greedy k-center) coreset of 8 embeddings: selection
    * order + covering radius curve; seeded at min id, ties to smaller id. */
  private def q268(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.farthestPointSample(T(s, dir, "embeddings"),
      k = 8)

  /** Winnowing (MOSS) fingerprints over word 3-shingle hashes, window 4:
    * per-source density + cross-document shared-fingerprint triage. */
  private def q269(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.winnowingReport(TW(s, dir, "documents"),
      "doc_id", "source", "text", k = 3, w = 4)

  /** Seasonal-naive (t−7) daily-count forecast eval per event type: MAE +
    * pinball τ=0.5/0.9 with exact integer numerators. */
  private def q270(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.seasonalForecastEval(T(s, dir, "events"),
      "event_type", "ts", season = 7)

  /** Daily-count autocorrelation per event type at calendar lags 1..7 —
    * exact integer moments, one division; the seasonal-baseline licence. */
  private def q271(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.autocorrelation(T(s, dir, "events"),
      "event_type", "ts", maxLag = 7)
      .orderBy(col("event_type"), col("lag"))

  /** Degree assortativity of the customer–part purchase graph (q220's
    * edge list): do heavy buyers buy popular parts? */
  private def q272(s: SparkSession, dir: String): DataFrame = {
    val edges = T(s, dir, "orders")
      .join(T(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    graft.operators.Graph.degreeAssortativity(edges, "o_custkey",
      "l_partkey")
  }

  /** Growth-accounting ledger over the event log: per-day new / retained /
    * resurrected DAU decomposition + churning-at-risk flags (gap 7 d). */
  private def q273(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.growthAccounting(T(s, dir, "events"),
      "user_id", "ts", gapDays = 7)

  /** Spearman rank correlation (midranks, value-grid windows) between
    * quantity and discount per return flag — exact ×2-integer moments. */
  private def q274(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.spearmanByGroup(T(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_discount")

  /** Pettitt rank changepoint on daily counts per event type —
    * delta-encoded O(d²) pairs, earliest-day ties, exact integer U. */
  private def q275(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.pettittChangepoint(T(s, dir, "events"),
      "event_type", "ts")

  /** Deterministic triplet-margin eval per label over the embeddings:
    * violation rate + mean margin, rank-aligned triplets, decimal sums. */
  private def q276(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.tripletEval(TW(s, dir, "embeddings"))

  /** Holt level+trend one-step eval vs naive carry-forward per event
    * type — dyadic α/β make the whole recursion fp-exact. */
  private def q277(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.holtForecastEval(T(s, dir, "events"),
      "event_type", "ts")

  /** Kendall τ-b between quantity and discount per return flag — the
    * tie-corrected concordance on the joint value grid (grid², not rows²). */
  private def q278(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.kendallTauB(T(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_discount")

  /** Shuffle-quality audit of the 32-shard deterministic training order:
    * per-source adjacency lift vs corpus share. */
  private def q279(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shardMixingReport(TW(s, dir, "documents"),
      "doc_id", "source", nShards = 32)

  /** Krippendorff's α across THREE pseudo-annotators of document language
    * — the corpus label, the n-gram classifier, and the classifier run on
    * a 200-char prefix that abstains on shorter docs (real missing data,
    * the case α exists for; ≤3 raters keeps the weights dyadic-exact). */
  private def q280(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val prefixRater = when(col("n_chars") >= 200,
      TextAnalysis.langId(substring(col("text"), 1, 200)))
    val long = docs.select(col("doc_id"), col("lang").as("rating"))
      .unionByName(docs.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("rating")))
      .unionByName(docs.select(col("doc_id"), prefixRater.as("rating")))
    graft.operators.Stats.krippendorffAlpha(long, "doc_id", "rating")
  }

  /** Multi-granularity ROLLUP over orders: (priority, status) cells,
    * per-priority subtotals, and the grand total in ONE pass —
    * grouping_id disambiguates levels; exact decimal revenue. */
  private def q281(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        grouping_id().cast("long").as("level"))

  /** Precision/recall/F1 over a 20-point threshold grid for the q178
    * en-confidence score against the corpus label — the operating-point
    * picker (counts exact, cumulated on the bin frame). */
  private def q282(s: SparkSession, dir: String): DataFrame = {
    val scores = TextAnalysis.langScores(col("text"))
    val total = scores.map(_._2).reduce(_ + _)
    val conf = when(total > 0,
      scores.toMap.apply("en").cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
    val scored = TW(s, dir, "documents").filter(col("lang").isNotNull)
      .select(conf.as("en_conf"), (col("lang") === "en").as("is_en"))
    graft.operators.Stats.prCurve(scored, "en_conf", "is_en", nBins = 20)
  }

  /** ε-DP released event counts per type: discrete-Laplace integer noise
    * by inverse-CDF literal lookup — exact, transcendental-free rows. The
    * gate pins the seed so the oracle replays it; a production release
    * supplies a secret single-use seed (the operator's documented
    * condition — it deliberately has no default). */
  private def q284(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.dpNoisyCounts(T(s, dir, "events"),
      "event_type", seed = "dp", epsilon = 1.0)

  /** Watermark-lateness profile: per event type, events dropped at each
    * candidate watermark delay — the withWatermark() sizing card. */
  private def q285(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.latenessProfile(T(s, dir, "events"),
      "event_type", "event_id", "ts")

  /** Off-policy IPS/SNIPS value of the greedy max-mean-reward policy over
    * the event log (context = user bucket, action = type, reward =
    * value), Laplace-smoothed propensities. */
  private def q286(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ipsPolicyValue(
      T(s, dir, "events").filter(col("user_id").isNotNull),
      pmod(col("user_id"), lit(4L)), "event_type", "value")

  /** Mix-shift vs rate-shift decomposition of the mean event value
    * between month-halves — "did behavior change, or the traffic mix?" */
  private def q287(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.mixShiftDecomposition(
      T(s, dir, "events").filter(col("ts").isNotNull),
      "event_type", dayofmonth(col("ts")) >= 16, "value")

  /** Classical trend/seasonal/residual decomposition of daily counts per
    * event type — exact ×7-scaled integer arithmetic, full-frame rows. */
  private def q288(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.seasonalDecompose(T(s, dir, "events"),
      "event_type", "ts")

  /** Pairwise Pearson matrix over four lineitem measures in ONE scan —
    * integer-cent moments, k(k−1)/2 pairs from a single aggregate. */
  private def q289(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.correlationMatrix(T(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Character-level corpus QA per source: codepoint entropy, char
    * vocabulary, non-ASCII share — the encoding tripwire. */
  private def q290(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.charStats(TW(s, dir, "documents"),
      "source", "text")

  /** Percentile-bootstrap CI for the median order price per status —
    * weighted lower medians on the value grid, zero floating arithmetic. */
  private def q291(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.bootstrapMedianCI(T(s, dir, "orders"),
      "o_orderstatus", "o_orderkey", "o_totalprice", b = 64)

  /** Heavy-hitter churn: top-20 tokens of corpus half A vs half B with
    * entered/dropped/steady status and rank movement. */
  private def q292(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.topKChurn(TW(s, dir, "documents"), "text",
      pmod(col("doc_id"), lit(2L)) === 1, n = 1, topK = 20)

  /** Long-tail collapse of part types at support ≥ 10: the auditable
    * pre-encoding step (kept categories + the OTHER mass). */
  private def q293(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.rareCategoryCollapse(T(s, dir, "part"),
      "p_type", minSupport = 10L)

  /** Feature-hashing audit of part types into 2^7 buckets: observed vs
    * birthday-expected collisions — the bits-sizing gate. */
  private def q294(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.featureHashAudit(T(s, dir, "part"),
      "p_type", bits = 7)

  /** Range-partitioner pre-flight on order prices: deterministic-sample
    * bounds (16 parts, 5%) vs realized partition loads + skew ratios. */
  private def q295(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.rangePartitionAudit(T(s, dir, "orders"),
      "o_orderkey", "o_totalprice", nParts = 16, samplePct = 5)
      .orderBy(col("partition"))

  /** Murphy decomposition of the en-confidence Brier score: reliability /
    * resolution / uncertainty + the exact Brier alongside. */
  private def q296(s: SparkSession, dir: String): DataFrame = {
    val scores = TextAnalysis.langScores(col("text"))
    val total = scores.map(_._2).reduce(_ + _)
    val conf = when(total > 0,
      scores.toMap.apply("en").cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
    val scored = TW(s, dir, "documents").filter(col("lang").isNotNull)
      .select(conf.as("en_conf"), (col("lang") === "en").as("is_en"))
    graft.operators.Stats.brierDecomposition(scored, "en_conf", "is_en",
      nBins = 20)
  }

  /** IPF raking of the event_type × user-bucket table to uniform margins
    * (3 alternating scalings, sorted-fold margin totals). */
  private def q297(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ipfRaking(T(s, dir, "events"),
      col("event_type"), pmod(col("user_id"), lit(4L)), iters = 3)

  /** view→purchase funnel conversion z-test between the user_id%2 arms —
    * the ordered-step experiment readout. */
  private def q298(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.funnelConversionTest(T(s, dir, "events"),
      "user_id", "ts", "event_type", "view", "purchase",
      pmod(col("user_id"), lit(2L)) === 1)

  /** Corpus-wide exact paragraph dedup (the C4/Dolma preprocessing pass):
    * repeated paragraphs keep only their corpus-first occurrence (lowest
    * (doc_id, position)) and documents are reassembled from survivors in
    * original order. The synthetic corpus is single-line, so the gate
    * derives paragraph structure deterministically first — each doc
    * re-flowed into 8-word paragraphs — which also guarantees real
    * cross-document paragraph sharing for the survivorship race. */
  private def q299(s: SparkSession, dir: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val nP = greatest(ceil(size(t) / lit(8.0)).cast("int"), lit(1))
    val withParas = TW(s, dir, "documents").select(col("doc_id"),
      array_join(transform(sequence(lit(0), nP - 1),
        j => array_join(slice(t, j * 8 + 1, lit(8)), " ")), "\n").as("p_text"))
    graft.operators.Dedup.paragraphDedup(withParas, "doc_id", "p_text")
  }

  /** REAL pixel decode over binary media columns, content-addressed: the
    * corpus side maps rows to payloads (doc_id % 10 picks a committed
    * fixture — real PNG/JPEG/GIF/BMP/TIFF container bytes) and counts per
    * payload at full scale; each DISTINCT payload is decoded exactly once
    * executor-side by [[graft.operators.Multimodal.PixelCodec]] (the
    * JDK's own javax.imageio, headless), and decoded dims × per-channel
    * means join back to the counts. The oracle anchors the decode
    * constants: BMP/TIFF means are HAND-DERIVED from the generator's
    * documented pixel matrices (tools/gen_image_fixtures.py), the rest
    * are decoder-anchored by CdcMultimodalSpec (the q217 precedent). */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(10L)).as("img_key"))
    graft.operators.Multimodal.pixelStatsReport(docs, "img_key",
      graft.operators.Multimodal.Fixtures.df(s))
  }

  /** Drive a REAL stateful streaming query over the events table for a
    * batch-replay gate: events (null-free on the selected columns) are
    * split into three strictly-chronological parquet chunk files by
    * event-time tertile and fed through a file-source stream one file per
    * micro-batch — so per-key state genuinely carries ACROSS batches —
    * and the sink output comes back localCheckpointed and detached from
    * the memory sink. Chunking by a monotone function of event-time (ms)
    * keeps every key's events in global (epoch_ms, value) order across
    * batches, which is exactly the order the stateful operators apply
    * in-batch and the DuckDB oracles replay. Memory sink is gate-scale
    * plumbing only; a production run writes a real sink. */
  /** Shared chunked-input directory for the event-stream replay gates:
    * q301-q304/q310/q311 each used to chunk-prep their own tertile parquet
    * (3 coalesce(1) writes + a min/max scan PER GATE — the ~38 s/sweep
    * pure-harness tax the r15 verdict named). The chunk content depends
    * only on the events table, so ONE superset chunking (user_id, ts,
    * event_type, value) serves every gate — valid only while no shared
    * column carries nulls (a gate's own null filter could otherwise keep
    * a row the superset filter dropped, shifting the tertile boundaries
    * its oracle replays). The one-agg null probe checks that per dir and
    * falls back to the private per-gate chunking when it fails, so a
    * testdata regen can slow these gates but never silently flip them. */
  private val sharedChunkCols = Seq("user_id", "ts", "event_type", "value")
  private val sharedChunkDirs = new java.util.concurrent.ConcurrentHashMap[
    String, Option[(String, org.apache.spark.sql.types.StructType)]]()
  private def sharedEventChunks(s: SparkSession, dir: String)
      : Option[(String, org.apache.spark.sql.types.StructType)] =
    sharedChunkDirs.computeIfAbsent(dir, _ => {
      val ev = T(s, dir, "events").select(sharedChunkCols.map(col): _*)
      val nulls = ev.select(sharedChunkCols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)): _*).head()
      if (sharedChunkCols.indices.exists(i => nulls.getLong(i) != 0L)) None
      else {
        val root = scratchDir("graft_evchunks")
        writeTsChunks(ev, root)
        Some((root, ev.schema))
      }
    })

  private def replayEventStream(s: SparkSession, dir: String,
      prefix: String, cols: Seq[String], outputMode: String)
      (build: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame =
    sharedEventChunks(s, dir) match {
      case Some((root, schema)) =>
        runReplay(s, root, schema, prefix, outputMode)(st =>
          build(st.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
            .select(cols.map(col): _*)))
      case None =>
        replayStream(s, T(s, dir, "events")
          .filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
          .select(cols.map(col): _*), prefix, outputMode)(build)
    }

  /** Split an event frame into three strictly-chronological parquet chunk
    * files by event-time tertile under `root/in`, mod-times pinned so the
    * file source replays them in order, one per micro-batch. */
  private def writeTsChunks(ev: DataFrame, root: String): Unit = {
    val mm = ev.agg(min(unix_millis(col("ts"))),
      max(unix_millis(col("ts")))).head()
    val lo = mm.getLong(0)
    val span = math.max(1L, (mm.getLong(1) - lo) / 3 + 1)
    val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
    // ONE pass writes all three chronological chunks (r18 — previously
    // one filtered coalesce(1) pass over the events per chunk, i.e. 3
    // scans + 3 write jobs of fixed cost each per replay gate; guide
    // §2.4). Hash-repartition on the tertile key puts each chunk in one
    // task and partitionBy splits the directories, so each chunk is
    // still exactly one file; the partition column stays OUT of the data
    // files, preserving the streamed schema. Within-chunk row order is
    // shuffle-dependent, which the replay semantics tolerate: the
    // stateful ops sort each batch per key ((ts, value) — the
    // sorted-batch replay contract) and the built-in ops
    // (dropDuplicatesWithinWatermark under q312's projection, window
    // aggregates, interval join) are input-order-insensitive.
    val tmp = s"$root/tmp"
    ev.withColumn("__c",
        ((unix_millis(col("ts")) - lo) / span).cast("int"))
      .repartition(col("__c"))
      .write.mode("overwrite").partitionBy("__c").parquet(tmp)
    (0 to 2).foreach { c =>
      val dir = new java.io.File(s"$tmp/__c=$c")
      val src = Option(dir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).headOption
      val dst = new java.io.File(inDir, f"chunk$c%02d.parquet")
      src match {
        case Some(f) =>
          java.nio.file.Files.move(f.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // an empty tertile writes no partition dir; emit the empty
          // chunk file the pre-r18 per-chunk writer always produced so
          // the micro-batch count (and thus replay semantics) is
          // unchanged on sparse inputs
          val etmp = s"$root/tmp_empty$c"
          ev.filter(lit(false)).coalesce(1)
            .write.mode("overwrite").parquet(etmp)
          val ef = new java.io.File(etmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(ef.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      // strictly increasing mod-times pin the file-source order
      dst.setLastModified(1700000000000L + c * 60000L)
    }
  }

  /** Start → drain → stop a memory-sink replay over a prepared chunk dir.
    * Shuffle partitions are pinned LOW for the query's lifetime: every
    * stateful operator schedules one state-store task per shuffle
    * partition per micro-batch, and a session default sized for the batch
    * gates (32-200) buys nothing at gate scale but 3× the task-launch
    * overhead per replay (r15 verdict item 3). The conf is restored after
    * stop — batch plans around the replay are untouched.
    *
    * SEQUENTIAL-ONLY by design (r16 ADVICE): the override mutates the
    * session-global conf for the query's lifetime, so a batch plan
    * compiled CONCURRENTLY in this session would pick up 8 partitions
    * (or the restore could clobber a parallel replay's setting). The
    * Verify/Bench harness runs gates strictly one at a time, which is
    * the assumption this shortcut rides; a concurrent harness must scope
    * the setting per-query (stateful-operator conf on the stream)
    * instead. */
  private def runReplay(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      prefix: String, outputMode: String)
      (build: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame = {
    val qn = prefix + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    val prevSP = s.conf.get("spark.sql.shuffle.partitions")
    val out = try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q = build(stream).writeStream.outputMode(outputMode)
        .format("memory").queryName(qn).start()
      try q.processAllAvailable() finally q.stop()
      s.table(qn).localCheckpoint()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevSP)
    s.catalog.dropTempView(qn)
    out
  }

  /** [[replayEventStream]] over a CALLER-PREPARED event frame (must carry
    * a `ts` column and no nulls on the streamed columns) — the variant
    * the dedup gate needs to plant duplicate rows before chunking. */
  private def replayStream(s: SparkSession, ev: DataFrame,
      prefix: String, outputMode: String)
      (build: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame = {
    val root = scratchDir(prefix)
    writeTsChunks(ev, root)
    runReplay(s, root, ev.schema, prefix, outputMode)(build)
  }

  /** Streaming per-key DEBOUNCE replay gate: the real
    * flatMapGroupsWithState operator runs over three chronological
    * micro-batches (state carries across batch boundaries), and its
    * append-mode emissions must equal DuckDB's sequential recursive-CTE
    * replay of the same suppress-within-cooldown decision chain — the
    * inherently order-dependent semantics no window aggregate expresses
    * (q243 gear-replay precedent). 12 h cooldown ≈ 1.6× the median
    * inter-event gap, so both emission and suppression paths carry real
    * mass. */
  private def q301(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = replayEventStream(s, dir, "graft_q301",
        Seq("user_id", "ts", "value"), "append") { df =>
      graft.streaming.EventTimeOps.debounce(
        df.as[graft.streaming.EventTimeOps.Event],
        cooldownMs = 43200000L)(s)
    }
    out.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_emitted"),
        round(sum(col("value")), 2).as("sum_emitted"),
        max(col("ts")).as("last_emit_ts"))
  }

  /** Streaming EWMA control-chart replay gate: the real ewmaAlerts
    * operator (per-key EWMA/EWMV state, alert when an arriving value
    * sits k·σ off the PRE-update prediction) runs over three
    * chronological micro-batches; every emitted alert row must equal
    * DuckDB's recursive-CTE replay of the identical IEEE-double update
    * chain — the oracle spells (1.0 - 0.2) instead of 0.8 because those
    * are different doubles and the chains must stay bit-identical. */
  private def q302(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = replayEventStream(s, dir, "graft_q302",
        Seq("user_id", "ts", "value"), "append") { df =>
      graft.streaming.EventTimeOps.ewmaAlerts(
        df.as[graft.streaming.EventTimeOps.Event],
        alpha = 0.2, k = 2.0, warmup = 5L)(s)
    }
    out.select(col("user_id"), col("ts"), col("value"),
      round(col("ewma"), 4).as("ewma"),
      round(col("sigma"), 4).as("sigma"),
      round(col("z"), 4).as("z"))
  }

  /** Streaming ordered-funnel replay gate: the real streamingFunnel
    * state machine (first-touch view→click→purchase within a 3-day
    * window, expiry-before-apply, reset-on-complete) runs over three
    * chronological micro-batches; every emitted conversion must equal
    * DuckDB's recursive-CTE replay of the identical transition table.
    * `start_ts` is millisecond-truncated on both sides (the operator
    * stores the chain start as epoch-ms). */
  private def q303(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = replayEventStream(s, dir, "graft_q303",
        Seq("user_id", "ts", "event_type"), "append") { df =>
      graft.streaming.EventTimeOps.streamingFunnel(
        df.as[graft.streaming.EventTimeOps.TypedEvent],
        Seq("view", "click", "purchase"), windowMs = 259200000L)(s)
    }
    out.select(col("user_id"), col("start_ts"), col("end_ts"),
      col("latency_ms"))
  }

  /** Streaming HLL replay gate: streamingHllDistinct's register state
    * (m=256 bytes per event type, forever) over three chronological
    * micro-batches; the NET output — the last update per key, since
    * n_events is monotone per trigger — must equal the batch HLL oracle
    * over the same values (same md5-60-bit hash, same scaled-integer
    * harmonic sum: the q60 replay grouped by event_type). Max-merge
    * monotonicity is what makes the stream ≡ batch identity hold
    * regardless of how the batches split. */
  private def q304(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = replayEventStream(s, dir, "graft_q304",
        Seq("user_id", "ts", "event_type"), "update") { df =>
      graft.streaming.EventTimeOps.streamingHllDistinct(
        df.as[graft.streaming.EventTimeOps.TypedEvent], m = 256)(s)
    }
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n_events").desc)
    out.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  /** Perceptual image near-dup gate: dHash64 over REAL decoded pixels
    * (integer box-filter downscale — no platform-dependent interpolation
    * — so the 64-bit values anchor in an oracle), all unordered fixture
    * pairs ranked by Hamming distance. The zero-distance pairs are the
    * payoff rows: rgb_4x3.bmp ≡ rgba_4x4.png (same gradient, different
    * container + alpha channel) — exactly the transcoded-duplicate class
    * whole-file hashing can never catch. Oracle replays the pairing from
    * the spec-anchored per-fixture hashes. */
  private def q305(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.imageDHashPairs(
      graft.operators.Multimodal.Fixtures.df(s))

  /** REAL audio decode gate, content-addressed like q300: row counts per
    * payload (doc_id % 3 picks a committed WAV fixture), each distinct
    * payload decoded once via the JDK's own javax.sound.sampled; every
    * stat (rms / zero crossings / peak / frames / duration) is
    * HAND-DERIVED from the generator's documented sample formulas
    * (tools/gen_image_fixtures.py) — a fully decoder-independent
    * oracle. */
  private def q306(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(3L)).as("media_key"))
    graft.operators.Media.audioStatsReport(docs, "media_key",
      graft.operators.Media.Fixtures.df(s,
        graft.operators.Media.Fixtures.audio))
  }

  /** ISO-BMFF (MP4) header gate: the metadata pass a video corpus runs
    * before any frame work — moov/mvhd duration + first video trak's
    * 16.16 tkhd dims + track count, content-addressed over doc_id % 2;
    * constants hand-derived from the generator's mvhd/tkhd fields. */
  private def q307(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(2L)).as("media_key"))
    graft.operators.Media.videoHeaderReport(docs, "media_key",
      graft.operators.Media.Fixtures.df(s,
        graft.operators.Media.Fixtures.video))
  }

  /** BANDED image near-dup gate — the scale path q305 verifies: dHash
    * per distinct payload, candidates from shared 16-bit bands (never
    * all-pairs), exact-Hamming verify at radius 3. Recall is
    * pigeonhole-complete at this radius, so the oracle is the
    * BRUTE-FORCE pairing over the spec-anchored hashes (the q108
    * exact-recall precedent): any banding miss is a hash mismatch. */
  private def q308(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.imageNearDups(
      graft.operators.Multimodal.Fixtures.df(s), maxHamming = 3)

  /** Image RESIZE gate — the training-input normalization stage run
    * end-to-end on REAL pixels: decode → deterministic integer box
    * filter to 2×2 → lossless PNG re-encode → decode the RESIZED bytes
    * → stats. Oracle anchors: rgb_4x3.bmp (25, 35, 11) and
    * topdown_5x4.bmp (87.5, 90, 200) are HAND-DERIVED from the
    * generator pixel matrices through the box-filter arithmetic
    * (floor-average per integer box); the rest are decoder-anchored in
    * CdcMultimodalSpec first. */
  private def q309(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(10L)).as("img_key"))
    graft.operators.Multimodal.pixelStatsReport(docs, "img_key",
      graft.operators.Multimodal.Fixtures.df(s), resizeTo = Some((2, 2)))
  }

  /** Streaming windowed TOP-K replay gate: the real windowedTopEvents
    * chain — watermarked tumbling-day counts, then the bounded TopKAgg
    * per window — runs as CHAINED STATEFUL AGGREGATIONS over three
    * chronological micro-batches; append mode emits each window's top-3
    * exactly once, when the watermark closes it. The oracle replays the
    * batch count + rank over windows whose end the final watermark
    * (global max ts − 2 h) passed: the stream's chronological chunking
    * means no row is ever late, so emitted ≡ closed-window batch truth —
    * the identity the gate pins. The LAST day's window stays open
    * (end > watermark) and must NOT appear. */
  private def q310(s: SparkSession, dir: String): DataFrame = {
    val out = replayEventStream(s, dir, "graft_q310",
        Seq("ts", "event_type"), "append") { df =>
      graft.streaming.EventTimeOps.windowedTopEvents(df, "ts",
        "event_type", windowDur = "1 day", watermarkDelay = "2 hours",
        k = 3)(s)
    }
    out.select(col("window_start"), col("rank"), col("event_type"),
      col("cnt"))
  }

  /** Streaming stream-stream INTERVAL JOIN replay gate: purchases and
    * clicks (two filtered branches of the same file-source stream) join
    * on user with click_ts in [purchase_ts, purchase_ts + 1 h], both
    * sides watermarked — the condition bounds time in BOTH directions,
    * so each side's state holds only its watermark horizon. Emitted
    * pairs must equal the batch interval join exactly (chronological
    * chunking: every right row arrives before the left side's state
    * can evict — 2 h watermark > 1 h interval), which is what makes a
    * stream-stream join safe to run unbounded at 100 TB. */
  private def q311(s: SparkSession, dir: String): DataFrame = {
    val out = replayEventStream(s, dir, "graft_q311",
        Seq("user_id", "ts", "event_type", "value"), "append") { df =>
      // left side carries NO value column: only r.value is projected, and
      // every column on a stream-stream join's buffered side lives in the
      // state store for the whole watermark horizon
      val l = df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val r = df.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.streaming.EventTimeOps.intervalJoin(l, r, "user_id", "ts",
        "ts", within = "1 hour", watermark = "2 hours")
        .select(col("l.user_id").as("user_id"),
          col("l.ts").as("purchase_ts"), col("r.ts").as("click_ts"),
          col("r.value").as("click_value"))
    }
    out
  }

  /** Streaming DEDUP-WITHIN-WATERMARK replay gate: the built-in
    * dropDuplicatesWithinWatermark over a stream with PLANTED
    * duplicates — each event_id % 3 == 0 gets a twin 10 minutes later
    * (inside the 2-day horizon: state provably alive when it arrives →
    * suppressed), and each event_id % 7 == 0 from the first 4 days gets
    * a twin 25 days later (two chunks downstream: the original's state
    * expires at ts + 2 d, and the watermark after the first batch is
    * already ~8 days in — provably evicted → the twin RE-EMITS). Both
    * outcomes are decided by day-scale margins, so the oracle needs no
    * batch-boundary replay: n_emitted = 2 for far-twin keys, 1
    * otherwise. The projection drops ts (a same-batch twin's emitted
    * row is otherwise which-row-won nondeterministic). */
  private def q312(s: SparkSession, dir: String): DataFrame = {
    val keep = Seq("event_id", "ts", "user_id", "event_type")
    val base = T(s, dir, "events")
      .filter(keep.map(c => col(c).isNotNull).reduce(_ && _))
      .select(keep.map(col): _*)
    // The provably-re-emitted/provably-suppressed identities above assume
    // the base table spans weeks (tertile ≈ 10 d >> the 2 d horizon and
    // the 4 d far-twin source window). Enforce it — a short-span events
    // table would silently flip far twins to suppressed and fail the
    // hardcoded oracle with no hint why.
    val spanMs = base.agg((max(unix_millis(col("ts"))) -
      min(unix_millis(col("ts")))).as("span")).head().getLong(0)
    require(spanMs >= 10L * 86400000L,
      s"q312 needs an events span >= 10 days for its provable " +
        s"suppress/re-emit margins (got ${spanMs / 86400000L} days)")
    // ... and an UPPER bound: the far twin (+25 d) must land at least one
    // tertile chunk (span/3) after its original's state expiry (ts + 2 d
    // horizon). span <= 60 d keeps 25 d > span/3 + 2 d with margin — past
    // ~69 d the tertile chunking puts far twins in the SAME micro-batch
    // as their originals, flipping them to suppressed and failing the
    // hardcoded oracle with no hint why.
    require(spanMs <= 60L * 86400000L,
      s"q312 needs an events span <= 60 days so +25 d far twins land a " +
        s"full tertile past original-state expiry (got " +
        s"${spanMs / 86400000L} days) — widen the twin offset with the " +
        "span if the table grows")
    val near = base.filter(pmod(col("event_id"), lit(3L)) === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 MINUTES"))
    val far = base
      .join(broadcast(base.agg(min(col("ts")).as("__lo"))))
      .filter(pmod(col("event_id"), lit(7L)) === 0 &&
        col("ts") < col("__lo") + expr("INTERVAL 4 DAYS"))
      .withColumn("ts", col("ts") + expr("INTERVAL 25 DAYS"))
      .drop("__lo")
    val out = replayStream(s, base.unionByName(near).unionByName(far),
        "graft_q312", "append") { df =>
      df.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("event_id")
    }
    out.groupBy(col("event_id"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_emitted"))
  }

  /** Band-load pre-flight gate for the shared 16-bit-band Hamming
    * engine (q108 text SimHash / q308 image dHash scale path): the
    * per-band bucket profile over a SKEW-PLANTED synthetic signature
    * population — every 11th doc's signature has its low band zeroed,
    * collapsing ~9% of the corpus into ONE band-0 bucket (the
    * one-template/10⁹-thumbnails failure mode). The profile names the
    * hot band and its implied quadratic pair mass BEFORE any join runs;
    * the same numbers drive hamming64NearDups' own candidateBudget
    * refusal (DedupSpec). Signatures are plain 64-bit modular
    * arithmetic over doc_id so the oracle replays them exactly. */
  private def q313(s: SparkSession, dir: String): DataFrame = {
    val x = (col("doc_id") * 16807L) % 2147483647L * 2147483648L +
      (col("doc_id") * 48271L) % 2147483647L
    val sig = when(pmod(col("doc_id"), lit(11L)) === 0,
      x.bitwiseAND(lit(-65536L))).otherwise(x)
    graft.operators.Dedup.hamming64BucketProfile(
      T(s, dir, "documents").select(col("doc_id"), sig.as("sig")),
      "doc_id", "sig")
  }

  /** EXIF-orientation-normalized perceptual hash gate: the
    * rotated-duplicate class — rot90_2x6.tif stores rgb_6x2.tif's
    * picture rotated (lossless TIFF, Orientation tag 6), and dHash64
    * normalizes orientation before hashing, so the pair lands at
    * Hamming 0 (raw stored-raster hashing puts them bits apart). The
    * oracle anchors all four hashes; the rotated twin's equals the
    * upright original's EXACTLY — integer remap, no interpolation. */
  private def q314(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.imageDHashPairs(
      graft.operators.Multimodal.Fixtures.dfOf(s, Seq(
        "rgb_6x2.tif", "rot90_2x6.tif", "rgb_4x3.bmp", "gray_5x7.png",
        // committed rotated-JPEG twins (tools/GenRotatedJpeg): the EXIF
        // APP1 orientation-6 path on a real file, Hamming 0 by the
        // block-constant quality-1.0 construction
        "rotpair_32x16.jpg", "rotpair_16x32.jpg")))

  /** ISO-BMFF sample-table depth gate (q307's stage two): per-track
    * codec fourcc / coded dims / sample count / chunk count from the
    * stsd/stsz/stco walk, content-addressed over doc_id % 2. One
    * fixture carries the full avc1+mp4a table (constants are the
    * generator's own fields), the other is tkhd-only — its stbl fields
    * must surface as honest NULLs, never fabricated zeros-as-data. */
  private def q315(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(2L)).as("media_key"))
    graft.operators.Media.videoTrackReport(docs, "media_key",
      graft.operators.Media.Fixtures.df(s,
        graft.operators.Media.Fixtures.videoTracks))
  }

  /** The PLANTED-TWIN population shared by the Hamming recall gates
    * (q316/q320/q322): the documents corpus plus an exact twin of every
    * 7th doc (identical text → identical signature, Hamming 0 — banding
    * recall trivially due) and a near twin of every 5th (one appended
    * rare token — each signature bit flips only where the token sum was
    * tied, so twins land spread across Hamming 0..~7 and the ones inside
    * the radius BIND the pigeonhole proof on dozens of pairs instead of
    * the corpus's incidental handful; r16 verdict: q316/q320 verified 7/5
    * rows). Offsets keep id spaces disjoint; the oracles replay the same
    * augmentation in SQL. */
  private def plantedTwinDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" qq7z")).as("text")))
  }

  /** Vocabulary-driven shingleK pre-flight gate (r17 — q193's sf1 root
    * cause as a measured guard): for each k the prefix-filter's OWN
    * posting-stage numbers — distinct units, prefix-posting mass, the
    * hottest bucket BY NAME, and the exact implied candidate pairs — on
    * the synthetic 31-word corpus the k=1 row shows the quadratic
    * operating point (every prefix collides) collapsing k by k. The
    * oracle replays the full AllPairs prefix machinery (df-rank ordering,
    * decimal-exact prefix length) per k in SQL. */
  private def q326(s: SparkSession, dir: String): DataFrame =
    Dedup.shingleKProfile(T(s, dir, "documents"), "text", "doc_id",
      threshold = 0.5, ks = Seq(1, 2, 3, 4, 5))

  /** Keyframe/composition depth gate (r17 — q315's stage three): per-track
    * sync-sample count, keyframe share, and the ctts b-frame tell from the
    * stss/ctts walk. clip_sync.mp4 carries both boxes (constants are the
    * generator's own fields: 4 keyframes of 48, share 4/48, two ctts
    * entries, max offset 512); clip_stbl.mp4 carries neither — its
    * keyframe fields must surface as honest NULLs (ISO: absent stss means
    * all-sync, an inference the READER makes, never a fabricated count). */
  private def q324(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(2L)).as("media_key"))
    graft.operators.Media.videoKeyframeReport(docs, "media_key",
      graft.operators.Media.Fixtures.df(s,
        graft.operators.Media.Fixtures.videoSync))
  }

  /** KEYFRAME-ALIGNED frame sampling gate (r17 — q58 upgraded from blind
    * stride to stss truth): clip_sync samples exactly its 4 sync frames
    * (1-based stss 1/13/25/37 → idx 0/12/24/36); stss-less clip_stbl
    * exercises the documented all-sync fallback (every 4th sample) AND
    * the payload-truncation drop (only 6 of 12 stride frames fit its 778
    * bytes). md5 constants are byte arithmetic over the committed
    * fixtures, decoder-independent (the q58 precedent). */
  private def q325(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(2L)).as("media_key"))
    val frames = graft.operators.Media.keyframeSampleFrames(
        graft.operators.Media.Fixtures.df(s,
          graft.operators.Media.Fixtures.videoSync))
      .select(col("media_key"), col("name"),
        col("frame_idx").cast("long").as("frame_idx"),
        md5(col("frame")).as("frame_md5"))
    graft.operators.Multimodal.contentAddressedJoin(docs, "media_key",
      frames, "media_key")
  }

  /** 128-bit SimHash near-dups — the wider-signature regime that breaks
    * the 64-bit engine's 2^16-bucket band saturation (r15 probe: benefit
    * decay 93%→53% over one decade; this engine's 2^25-26-bucket bands
    * push the cliff out ~three decades). 5 bands, pigeonhole-complete at
    * Hamming ≤ 4 — one radius DEEPER than the 64-bit path's ≤ 3. The
    * oracle is BRUTE-FORCE all-pairs Hamming over both md5-replayed
    * signature words, so a green row is also the recall proof for the
    * 5-band scheme — run over [[plantedTwinDocs]] (r17) so the proof
    * binds on a planted population spanning Hamming 0..4, not just the
    * corpus's incidental pairs. */
  private def q316(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDups128(plantedTwinDocs(s, dir), "text", "doc_id",
        maxHamming = 4)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))

  /** Journal/bookkeeping audit — the last reference-parity layer brought
    * under the DuckDB oracle (it was spec-only through r15): a
    * deterministic TWO-TABLE metadata-driven ingest (nation + region as
    * all-insert CDC envelopes through the real
    * reader→processor→writer pipelines) journals facts and statuses, and
    * the gate returns the journal's deterministic projection. The oracle
    * is fully INDEPENDENT — it recomputes the expected fact row counts
    * from the source parquet and pins the terminal status literals — so a
    * green row proves the journal recorded what actually flowed, not just
    * that the same file reads back twice. Timestamps/runIds (wall-clock,
    * UUID) are projected OUT, as any journal audit query would. */
  private def q318(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{IngestionJob, Journal, TableConfig}
    val root = scratchDir("graft_q318")
    val journal = new Journal(s, s"$root/journal")
    import s.implicits._
    def cfg(defId: String, table: String, key: String) = TableConfig.fromRow(
      Seq((defId, table, "scd1", key, "", "", "",
        """{"format":"parquet"}""",
        """[{"condtionType":"match","condition":"updates.row_active = false",
           |  "updateInsertMap":{"deleted_flag":"true"}},
           |{"condtionType":"match"},
           |{"condtionType":"notmatch"}]""".stripMargin))
        .toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
          "partition_id_col", "updated_at_col", "extra_join_cond",
          "op_config", "merge_cond").collect().head)
    def env(table: String): DataFrame = {
      val t = T(s, dir, table)
      t.select(struct(lit("c").as("op"),
        struct(t.columns.map(col): _*).as("before"),
        struct(t.columns.map(col): _*).as("after"),
        struct(lit("db0").as("db"), lit(1L).as("server_id")).as("source"))
        .as("value"))
    }
    val cfgs = Seq(cfg("pd_nation", "nation", "n_nationkey"),
      cfg("pd_region", "region", "r_regionkey"))
    val ok = IngestionJob.run(s, cfgs, c => () => env(c.tableName),
      s"$root/tgt", journal = Some(journal), parallelism = 1)
    require(ok.values.forall(identity), s"q318 ingest failed: $ok")
    journal.facts.read
      .select(col("pipelineDefId").as("pipeline_def_id"),
        col("inputRows").as("input_rows"),
        col("outputRows").as("output_rows"))
      .join(journal.status.read.select(
        col("pipelineDefId").as("pipeline_def_id"),
        col("taskName").as("task_name"), col("status")),
        Seq("pipeline_def_id"))
  }

  /** RERUN_BATCH journal gate (r17 — q318's stage two: the rerun path
    * under the independent oracle). A two-pipeline ingest where pd_region's
    * source THROWS on the first run (journaled Error, no fact row), then
    * the real arg-dispatch entry re-runs with `RERUN_BATCH`: selection via
    * the journal's latest-status rank window (ref
    * M/configbuilder/Start.scala:198-218) must pick EXACTLY the failed
    * pipeline — the oracle pins pd_nation at ONE status row (a rerun that
    * re-ran the healthy pipeline would journal a second) and pd_region at
    * two (Error then Finished) with its single fact row coming from the
    * successful rerun. Fact counts are recomputed from the source parquet,
    * statuses are pinned literals — nothing is read back from what the
    * Spark side wrote. */
  private def q327(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Dispatch, IngestionJob, Journal, TableConfig}
    val root = scratchDir("graft_q327")
    val journal = new Journal(s, s"$root/journal")
    import s.implicits._
    def cfg(defId: String, table: String, key: String) = TableConfig.fromRow(
      Seq((defId, table, "scd1", key, "", "", "",
        """{"format":"parquet"}""",
        """[{"condtionType":"match","condition":"updates.row_active = false",
           |  "updateInsertMap":{"deleted_flag":"true"}},
           |{"condtionType":"match"},
           |{"condtionType":"notmatch"}]""".stripMargin))
        .toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
          "partition_id_col", "updated_at_col", "extra_join_cond",
          "op_config", "merge_cond").collect().head)
    def env(table: String): DataFrame = {
      val t = T(s, dir, table)
      t.select(struct(lit("c").as("op"),
        struct(t.columns.map(col): _*).as("before"),
        struct(t.columns.map(col): _*).as("after"),
        struct(lit("db0").as("db"), lit(1L).as("server_id")).as("source"))
        .as("value"))
    }
    val cfgs = Seq(cfg("pd_nation", "nation", "n_nationkey"),
      cfg("pd_region", "region", "r_regionkey"))
    // first run: pd_region's source is down
    var regionUp = false
    val source = (c: TableConfig) => () =>
      if (c.tableName == "region" && !regionUp)
        throw new RuntimeException("region source unavailable (planted)")
      else env(c.tableName)
    val ok1 = IngestionJob.run(s, cfgs, source, s"$root/tgt",
      journal = Some(journal), parallelism = 1)
    require(ok1.values.exists(identity) && !ok1.values.forall(identity),
      s"q327 needs exactly one planted failure: $ok1")
    // the source recovers; RERUN_BATCH re-runs ONLY the journaled failure
    regionUp = true
    Thread.sleep(5) // latest-status rank window needs distinct timestamps
    val ok2 = Dispatch.run(s, Seq("RERUN_BATCH"), cfgs, source,
      s"$root/tgt", journal, parallelism = 1)
    require(ok2.size == 1 && ok2.values.forall(identity),
      s"q327 rerun must run exactly the failed pipeline: $ok2")
    val statusCounts = journal.status.read
      .groupBy(col("pipelineDefId").as("pipeline_def_id"))
      .agg(count(lit(1)).cast("long").as("n_status_rows"))
    journal.latestStatus
      .select(col("pipelineDefId").as("pipeline_def_id"),
        col("taskName").as("task_name"),
        col("status").as("last_status"))
      .join(statusCounts, "pipeline_def_id")
      .join(journal.facts.read
        .groupBy(col("pipelineDefId").as("pipeline_def_id"))
        .agg(count(lit(1)).cast("long").as("n_fact_rows"),
          sum(col("inputRows")).cast("long").as("input_rows"),
          sum(col("outputRows")).cast("long").as("output_rows")),
        "pipeline_def_id")
  }

  /** Signature-dedup-first near-dup clustering — q53's chain rebuilt to
    * survive template-collapsed corpora: one representative per DISTINCT
    * SimHash signature, banding + components over representatives only,
    * every doc mapped back through its signature group (linear output —
    * no within-template pair explosion). The oracle replays the ALL-DOCS
    * brute-force chain (pairs over every doc, recursive-CTE components,
    * singletons to themselves), so a green row PROVES the rep-collapse
    * rewrite is semantics-preserving, not just self-consistent. */
  private def q319(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashDedupClusters64(TW(s, dir, "documents"), "text", "doc_id")
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("component_id"))

  /** Incremental 64-bit Hamming near-dups (q109's nightly-crawl shape for
    * the SimHash engine): the deterministic 80% id-hash split plays the
    * signed index, the remaining 20% the incoming batch — candidates are
    * banded batch×index only, never a self-join of either side. The
    * oracle brute-forces the CROSS pairs exhaustively, so the green row
    * proves banding recall for the asymmetric join too. */
  private def q320(s: SparkSession, dir: String): DataFrame = {
    // checkpoint the signatures ONCE: both engine sides (batch + index)
    // otherwise re-run the SimHash text pass over the full corpus when
    // they materialize their own checkpoints (guide §2.4 — one hash
    // pass, two cheap filtered copies)
    val sigs = graft.Tables.widen(plantedTwinDocs(s, dir))
      .select(col("doc_id"), Dedup.simHash64(col("text")).as("sig"))
      .localCheckpoint()
    val h = pmod(graft.functions.Hashes.portableHash32(
      col("doc_id").cast("string")), lit(10000L))
    Dedup.incrementalHamming64NearDups(
        sigs.filter(h >= 8000), sigs.filter(h < 8000), "doc_id", "sig")
      .select(col("batch_id"), col("index_id"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Incremental 128-BIT Hamming near-dups (r17 — q320's shape for the
    * wide engine, which is where the batch×index form matters most: the
    * 128-bit regime exists for corpora past 64-bit band saturation,
    * i.e. persisted indexes far too large to re-pair nightly). Same
    * planted-twin population and deterministic 80/20 id-hash split;
    * candidates are banded batch×index only (5×25-26-bit bands). The
    * oracle brute-forces the CROSS pairs over both md5-replayed signature
    * words — the recall proof for the asymmetric 5-band join. */
  private def q322(s: SparkSession, dir: String): DataFrame = {
    // one 128-bit hash pass, two filtered copies (q320's reasoning)
    val sigs = graft.Tables.widen(plantedTwinDocs(s, dir))
      .select(col("doc_id"), Dedup.simHash128(col("text")).as("sig"))
      .localCheckpoint()
    val h = pmod(graft.functions.Hashes.portableHash32(
      col("doc_id").cast("string")), lit(10000L))
    Dedup.incrementalHamming128NearDups(
        sigs.filter(h >= 8000), sigs.filter(h < 8000), "doc_id", "sig",
        maxHamming = 4)
      .select(col("batch_id"), col("index_id"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Persisted-MinHash-index COMPACTION gate (r17 — the artifact a
    * nightly crawl compacts most often): build the base from 80% of the
    * corpus, append two batches, compact the index table (one atomic
    * commit), REFUSE to answer unless that commit replaced every appended
    * file, then run the incremental near-dup query. The oracle is q187's
    * independent replay of the one-shot semantics over the full 90%
    * index — compaction changes layout, never results. */
  private def q321(s: SparkSession, dir: String): DataFrame = {
    val docs = TW(s, dir, "documents")
    val idxDir = scratchDir("graft_q321")
    val h = pmod(graft.functions.Hashes.portableHash32(
      col("doc_id").cast("string")), lit(10000L))
    Dedup.writeMinHashIndex(docs.filter(h < 8000), idxDir,
      bands = 4, rowsPerBand = 2)
    Dedup.appendToMinHashIndex(docs.filter(h >= 8000 && h < 8500), idxDir,
      txn = Some(("q321", 1L)))
    Dedup.appendToMinHashIndex(docs.filter(h >= 8500 && h < 9000), idxDir,
      txn = Some(("q321", 2L)))
    val index = new graft.merge.ParquetTable(s, s"$idxDir/index")
    val appended = index.liveFiles.map(_.path).toSet
    Dedup.compactMinHashIndex(s, idxDir)
    require(index.lastMetrics.contains("filesBefore") &&
        index.liveFiles.forall(f => !appended(f.path)),
      "compactMinHashIndex did not replace the appended files")
    Dedup.nearDupsAgainstIndex(s, idxDir, docs.filter(h >= 9000),
        threshold = 0.2)
      .select(col("corpus_id"), col("batch_id"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** INCREMENTAL CLUSTERING gate (r17 — the q319 × q320 composition the
    * r16 verdict called for): the 80% index side is clustered completely
    * (dedup-first chain), then the 20% batch is assigned into those
    * components WITHOUT re-clustering the corpus — batch reps band
    * against themselves and against the index only, index endpoints
    * contract to component labels. The oracle is the ALL-DOCS brute-force
    * recursive-CTE chain over the planted-twin population restricted to
    * batch ids, so a green row proves the contracted incremental graph
    * reproduces full-corpus clustering exactly (including batch docs
    * bridging two existing components). */
  private def q328(s: SparkSession, dir: String): DataFrame = {
    // checkpoint the signatures ONCE: the index clustering, the
    // index-component join, and the batch side otherwise each re-run the
    // SimHash text pass over the full corpus (guide §2.4 — one hash
    // pass, three cheap filtered reads)
    val sigs = graft.Tables.widen(plantedTwinDocs(s, dir))
      .select(col("doc_id"), Dedup.simHash64(col("text")).as("sig"))
      .localCheckpoint()
    val h = pmod(graft.functions.Hashes.portableHash32(
      col("doc_id").cast("string")), lit(10000L))
    val idx = sigs.filter(h < 8000)
    val idxComps = Dedup.hamming64DedupClusters(idx, "doc_id", "sig")
      .withColumnRenamed("id", "doc_id")
    Dedup.incrementalHamming64Clusters(sigs.filter(h >= 8000),
        idx.join(idxComps, "doc_id"), "doc_id", "sig")
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("component_id"))
  }

  /** Incremental maintenance of a JOIN view (orders ⋈ customer) across
    * three insert batches — ΔV = ΔO⋈C then O⋈ΔC — validated against the
    * full recomputed join; count-distinct catches double-applied deltas. */
  private def q283(s: SparkSession, dir: String): DataFrame = {
    import graft.merge.ParquetTable
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val c = T(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"))
    def oHalf(b: Long) = o.filter(pmod(col("o_orderkey"), lit(2L)) === b)
    def cHalf(b: Long) = c.filter(pmod(col("c_custkey"), lit(2L)) === b)
    def j(ord: DataFrame, cust: DataFrame) =
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("price"))
    val root = scratchDir("graft_q283")
    val table = new ParquetTable(s, s"$root/join_ivm")
    table.create(j(oHalf(0), cHalf(0)))       // initial view
    table.append(j(oHalf(1), cHalf(0)))       // ΔO ⋈ C
    table.append(j(o, cHalf(1)))              // O ⋈ ΔC
    table.read.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("o_orderkey")).cast("long").as("n_orders"),
        sum(col("price")).cast("double").as("sum_price"))
  }

  /** Leave-one-out 5-NN classification accuracy per class over the
    * vec_id%7 evaluation sample — the embedding-quality eval. */
  private def q260(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.knnClassifierEval(TW(s, dir, "embeddings"),
      pmod(col("vec_id"), lit(7L)) === 0, k = 5)

  /** Per-class anisotropy via the sum-vector identity (mean pairwise
    * cosine with NO pairwise join) + raw-norm means. */
  private def q261(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.labelAnisotropy(TW(s, dir, "embeddings"))

  /** Deterministic contrastive negative sampling: 8 hash-drawn part
    * candidates per purchasing customer, positives anti-joined away. */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    val pos = T(s, dir, "orders").join(T(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    graft.operators.Sampling.negativeSampling(pos, "o_custkey", "l_partkey",
      T(s, dir, "part"), "p_partkey", k = 8)
  }

  /** Yuen's 20%-trimmed t between order-parity arms on order totals —
    * the whale-proof Welch. */
  private def q258(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.yuenTrimmedT(T(s, dir, "orders"),
      pmod(col("o_orderkey"), lit(2L)) === 0, "o_totalprice", trim = 0.2)

  /** Post-stratified account-balance mean over a 10% hash sample of
    * customers, strata = market segment; naive vs corrected + SE. */
  private def q259(s: SparkSession, dir: String): DataFrame = {
    val pop = T(s, dir, "customer")
    val samp = pop.filter(pmod(graft.functions.Hashes.portableHash32(
      col("c_custkey").cast("string")), lit(10L)) === 0)
    graft.operators.Stats.postStratifiedMean(pop, "c_mktsegment",
      "c_acctbal", samp)
  }

  /** Theil-Sen robust trend slope per event type over the daily-mean
    * spine: median of all pairwise slopes, discrete-median selection. */
  private def q254(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.theilSen(T(s, dir, "events"), "event_type",
      "ts", "value")

  /** Mann-Kendall monotonic-trend test per event type: exact integer S,
    * tie-corrected variance, continuity-corrected z. */
  private def q255(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.mannKendall(T(s, dir, "events"),
      "event_type", "ts", "value")

  /** Top-20 multivariate doc outliers by diagonal Mahalanobis over
    * (chars, tokens, distinct tokens) — exact integer moments. */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.Dedup.tokens(col("text"))
    val feats = TW(s, dir, "documents").select(col("doc_id"),
      col("n_chars"), size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"))
    graft.operators.Stats.mahalanobisOutliers(feats, "doc_id",
      Seq("n_chars", "n_tokens", "n_types"), topK = 20)
  }

  /** Bounded 3-hop BFS over the shared-window dup graph from the
    * doc_id%5=3 seed set: min-hop contamination blast radius. */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.sharedWindowPairs(T(s, dir, "documents"), "doc_id", "text")
    val seeds = T(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 3).select(col("doc_id"))
    graft.operators.Graph.bfsHops(pairs, seeds, maxHops = 3)
  }

  // ==========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_pushdown" -> (q02 _),
    "q03_join_revenue" -> (q03 _),
    "q04_dim_star_join" -> (q04 _),
    "q05_theta_join" -> (q05 _),
    "q06_window_dedup" -> (q06 _),
    "q07_rank_topn" -> (q07 _),
    "q08_set_ops" -> (q08 _),
    "q09_distinct_agg" -> (q09 _),
    "q10_scalar_funcs" -> (q10 _),
    "q11_pii_hash" -> (q11 _),
    "q12_pii_mask" -> (q12 _),
    "q13_pii_scrub" -> (q13 _),
    "q14_grouping_key" -> (q14 _),
    "q15_scd1_merge" -> (q15 _),
    "q16_scd2_merge" -> (q16 _),
    "q17_scd4_merge" -> (q17 _),
    "q18_dedup_exact" -> (q18 _),
    "q19_minhash_sig" -> (q19 _),
    "q20_minhash_lsh_pairs" -> (q20 _),
    "q21_simhash" -> (q21 _),
    "q22_ngram_jaccard" -> (q22 _),
    "q23_embedding_cosine" -> (q23 _),
    "q24_ann_topk" -> (q24 _),
    "q25_token_stats" -> (q25 _),
    "q26_quality_score" -> (q26 _),
    "q27_lang_id" -> (q27 _),
    "q28_fingerprint" -> (q28 _),
    "q29_window_hour_agg" -> (q29 _),
    "q30_sessionize" -> (q30 _),
    "q31_json_extract" -> (q31 _),
    "q32_cdc_demux" -> (q32 _),
    "q33_offset_bookkeeping" -> (q33 _),
    "q34_encrypt_roundtrip" -> (q34 _),
    "q35_multimodal_meta" -> (q35 _),
    "q36_cdc_pipeline" -> (q36 _),
    "q37_dedup_survivors" -> (q37 _),
    "q38_simhash_neardups" -> (q38 _),
    "q39_embedding_neardups" -> (q39 _),
    "q40_ivf_topk" -> (q40 _),
    "q41_salted_join" -> (q41 _),
    "q42_stream_window" -> (q42 _),
    "q43_deterministic_sample" -> (q43 _),
    "q44_sequence_packing" -> (q44 _),
    "q45_asof_join" -> (q45 _),
    "q46_corpus_minhash" -> (q46 _),
    "q47_range_join" -> (q47 _),
    "q48_rollup" -> (q48 _),
    "q49_semi_anti_join" -> (q49 _),
    "q50_incremental_dedup" -> (q50 _),
    "q51_embedding_lsh" -> (q51 _),
    "q52_scd2_table_write" -> (q52 _),
    "q53_dedup_clusters" -> (q53 _),
    "q54_group_sample" -> (q54 _),
    "q55_tfidf" -> (q55 _),
    "q56_ivf_index" -> (q56 _),
    "q57_mixture_sample" -> (q57 _),
    "q58_frame_sampling" -> (q58 _),
    "q59_scd4_table_write" -> (q59 _),
    "q60_hll_distinct" -> (q60 _),
    "q61_top_ngrams" -> (q61 _),
    "q62_contamination" -> (q62 _),
    "q63_repetition_filter" -> (q63 _),
    "q64_group_quantiles" -> (q64 _),
    "q65_bloom_semi_join" -> (q65 _),
    "q66_window_dedup_pairs" -> (q66 _),
    "q67_mean_pool" -> (q67 _),
    "q68_pivot" -> (q68 _),
    "q69_full_outer" -> (q69 _),
    "q70_window_running" -> (q70 _),
    "q71_bucketed_join" -> (q71 _),
    "q72_cube" -> (q72 _),
    "q73_unpivot" -> (q73 _),
    "q74_resample_fill" -> (q74 _),
    "q75_curriculum_bins" -> (q75 _),
    "q76_sql_surface" -> (q76 _),
    "q77_chunking" -> (q77 _),
    "q78_vocab_oov" -> (q78 _),
    "q79_unigram_logprob" -> (q79 _),
    "q80_hard_negatives" -> (q80 _),
    "q81_zscore" -> (q81 _),
    "q82_corrupt_json" -> (q82 _),
    "q83_cluster_survivors" -> (q83 _),
    "q84_shard_manifest" -> (q84 _),
    "q85_edit_distance" -> (q85 _),
    "q86_domain_caps" -> (q86 _),
    "q87_bm25" -> (q87 _),
    "q88_grouping_sets" -> (q88 _),
    "q89_rank_windows" -> (q89 _),
    "q90_skew_profile" -> (q90 _),
    "q91_array_hof" -> (q91 _),
    "q92_filter_funnel" -> (q92 _),
    "q93_countmin" -> (q93 _),
    "q94_conversion_funnel" -> (q94 _),
    "q95_session_window" -> (q95 _),
    "q96_curation_pipeline" -> (q96 _),
    "q97_snapshot_diff" -> (q97 _),
    "q98_column_profile" -> (q98 _),
    "q99_bpe_pairs" -> (q99 _),
    "q100_temperature_mix" -> (q100 _),
    "q101_zorder" -> (q101 _),
    "q102_pagerank" -> (q102 _),
    "q103_range_frame" -> (q103 _),
    "q104_schema_union" -> (q104 _),
    "q105_date_funcs" -> (q105 _),
    "q106_sequence_gaps" -> (q106 _),
    "q107_kmeans_train" -> (q107 _),
    "q108_simhash64_neardups" -> (q108 _),
    "q109_incremental_neardups" -> (q109 _),
    "q110_approx_quantiles" -> (q110 _),
    "q111_normalize_text" -> (q111 _),
    "q112_domain_cap_docs" -> (q112 _),
    "q113_resample_interp" -> (q113 _),
    "q114_leakage_safe_split" -> (q114 _),
    "q115_hll_merge" -> (q115 _),
    "q116_semantic_dedup" -> (q116 _),
    "q117_pq_codes" -> (q117 _),
    "q118_dup_ngram_fraction" -> (q118 _),
    "q119_weighted_sample" -> (q119 _),
    "q120_int8_quantize" -> (q120 _),
    "q121_bigram_logprob" -> (q121 _),
    "q122_pq_adc_topk" -> (q122 _),
    "q123_block_boilerplate" -> (q123 _),
    "q124_random_projection" -> (q124 _),
    "q125_ivf_recall" -> (q125 _),
    "q126_quality_logit" -> (q126 _),
    "q127_semantic_contamination" -> (q127 _),
    "q128_mmr_rerank" -> (q128 _),
    "q129_token_budget_mix" -> (q129 _),
    "q130_mad_outliers" -> (q130 _),
    "q131_source_kl" -> (q131 _),
    "q132_ivf_append" -> (q132 _),
    "q133_lexical_diversity" -> (q133 _),
    "q134_source_similarity" -> (q134 _),
    "q135_int8_clipped" -> (q135 _),
    "q136_overlap_join" -> (q136 _),
    "q137_attribution" -> (q137 _),
    "q138_rrf_fuse" -> (q138 _),
    "q139_ivfpq_topk" -> (q139 _),
    "q140_fertility" -> (q140 _),
    "q141_logodds_terms" -> (q141 _),
    "q142_hamming_topk" -> (q142 _),
    "q143_psi_drift" -> (q143 _),
    "q144_global_rank" -> (q144 _),
    "q145_epoch_mix" -> (q145 _),
    "q146_crossdup_matrix" -> (q146 _),
    "q147_ngram_novelty" -> (q147 _),
    "q148_transition_matrix" -> (q148 _),
    "q149_event_cooccurrence" -> (q149 _),
    "q150_rolling_active" -> (q150 _),
    "q151_winsorized" -> (q151 _),
    "q152_filtered_ann" -> (q152 _),
    "q153_group_regression" -> (q153 _),
    "q154_retention_cohorts" -> (q154 _),
    "q155_triangle_counts" -> (q155 _),
    "q156_cdc_compact" -> (q156 _),
    "q157_label_prop" -> (q157 _),
    "q158_sorted_neighbors" -> (q158 _),
    "q159_group_weighted_sample" -> (q159 _),
    "q160_event_trigrams" -> (q160 _),
    "q161_funnel_latency" -> (q161 _),
    "q162_dim_stats" -> (q162 _),
    "q163_pmi_pairs" -> (q163 _),
    "q164_join_size_est" -> (q164 _),
    "q165_dsir_weights" -> (q165 _),
    "q166_key_overlap" -> (q166 _),
    "q167_rank_eval" -> (q167 _),
    "q168_contamination_spans" -> (q168 _),
    "q169_redact_report" -> (q169 _),
    "q170_zipf_fit" -> (q170 _),
    "q171_lsh_bucket_profile" -> (q171 _),
    "q172_cluster_stats" -> (q172 _),
    "q173_balanced_shards" -> (q173 _),
    "q174_lsh_tuning" -> (q174 _),
    "q175_ks_drift" -> (q175 _),
    "q176_pair_distance_profile" -> (q176 _),
    "q177_surrogate_key_audit" -> (q177 _),
    "q178_calibration" -> (q178 _),
    "q179_water_fill" -> (q179 _),
    "q180_vocab_coverage" -> (q180 _),
    "q181_dedup_savings" -> (q181 _),
    "q182_split_leakage" -> (q182 _),
    "q183_planted_recall" -> (q183 _),
    "q184_hourly_uniformity" -> (q184 _),
    "q185_centroid_shift" -> (q185 _),
    "q186_join_preflight" -> (q186 _),
    "q187_index_neardups" -> (q187 _),
    "q188_daily_value_drift" -> (q188 _),
    "q189_auto_threshold_neardups" -> (q189 _),
    "q190_packing_report" -> (q190 _),
    "q191_jaro_linkage" -> (q191 _),
    "q192_damerau_linkage" -> (q192 _),
    "q193_prefix_jaccard" -> (q193 _),
    "q194_cusum_changepoint" -> (q194 _),
    "q195_kcore" -> (q195 _),
    "q196_label_kappa" -> (q196 _),
    "q197_rolling_hll" -> (q197 _),
    "q198_leadlag_corr" -> (q198 _),
    "q199_mutual_info" -> (q199 _),
    "q200_quantile_norm" -> (q200 _),
    "q201_seasonal_residuals" -> (q201 _),
    "q202_golden_records" -> (q202 _),
    "q203_dq_rules" -> (q203 _),
    "q204_ri_orphans" -> (q204 _),
    "q205_freshness" -> (q205 _),
    "q206_block_profile" -> (q206 _),
    "q207_wilson_rates" -> (q207 _),
    "q208_lift_table" -> (q208 _),
    "q209_chi2_independence" -> (q209 _),
    "q210_drift_fdr" -> (q210 _),
    "q211_containment_pairs" -> (q211 _),
    "q212_group_kfold" -> (q212 _),
    "q213_truncated_recall" -> (q213 _),
    "q214_markov_attribution" -> (q214 _),
    "q215_reciprocal_margin" -> (q215 _),
    "q216_cross_containment" -> (q216 _),
    "q217_compression_profile" -> (q217 _),
    "q218_neyman_allocation" -> (q218 _),
    "q219_k_anonymity" -> (q219 _),
    "q220_adamic_adar" -> (q220 _),
    "q221_kmv_overlap" -> (q221 _),
    "q222_fingerprint" -> (q222 _),
    "q223_gini_concentration" -> (q223 _),
    "q224_benford" -> (q224 _),
    "q225_weighted_quantiles" -> (q225 _),
    "q226_user_regularity" -> (q226 _),
    "q227_cuped" -> (q227 _),
    "q228_covariate_balance" -> (q228 _),
    "q229_welch_t" -> (q229 _),
    "q230_kaplan_meier" -> (q230 _),
    "q231_heaps_fit" -> (q231 _),
    "q232_conformal_interval" -> (q232 _),
    "q233_scd2_temporal_join" -> (q233 _),
    "q234_hamming_rerank" -> (q234 _),
    "q235_fellegi_sunter" -> (q235 _),
    "q236_power_analysis" -> (q236 _),
    "q237_readability" -> (q237 _),
    "q238_disparate_impact" -> (q238 _),
    "q239_burstiness" -> (q239 _),
    "q240_cold_start" -> (q240 _),
    "q241_chunk_dedup" -> (q241 _),
    "q242_ratio_metric_ci" -> (q242 _),
    "q243_cdc_chunk_dedup" -> (q243 _),
    "q244_bpe_learn" -> (q244 _),
    "q245_pareto_front" -> (q245 _),
    "q246_poisson_bootstrap" -> (q246 _),
    "q247_msprt" -> (q247 _),
    "q248_diff_in_diff" -> (q248 _),
    "q249_bpe_encode" -> (q249 _),
    "q250_phonetic_blocks" -> (q250 _),
    "q251_ewma" -> (q251 _),
    "q252_group_auc" -> (q252 _),
    "q253_bfs_hops" -> (q253 _),
    "q254_theil_sen" -> (q254 _),
    "q255_mann_kendall" -> (q255 _),
    "q256_mahalanobis_outliers" -> (q256 _),
    "q257_negative_sampling" -> (q257 _),
    "q258_yuen_trimmed_t" -> (q258 _),
    "q259_poststrat_mean" -> (q259 _),
    "q260_knn_eval" -> (q260 _),
    "q261_anisotropy" -> (q261 _),
    "q262_erasure_audit" -> (q262 _),
    "q263_lang_confusion" -> (q263 _),
    "q264_ivm_agg" -> (q264 _),
    "q265_emd_drift" -> (q265 _),
    "q266_bradley_terry" -> (q266 _),
    "q267_jackknife_se" -> (q267 _),
    "q268_fps_coreset" -> (q268 _),
    "q269_winnowing" -> (q269 _),
    "q270_forecast_eval" -> (q270 _),
    "q271_acf" -> (q271 _),
    "q272_assortativity" -> (q272 _),
    "q273_growth_accounting" -> (q273 _),
    "q274_spearman" -> (q274 _),
    "q275_pettitt" -> (q275 _),
    "q276_triplet_eval" -> (q276 _),
    "q277_holt_eval" -> (q277 _),
    "q278_kendall_tau" -> (q278 _),
    "q279_shard_mixing" -> (q279 _),
    "q280_krippendorff" -> (q280 _),
    "q281_rollup" -> (q281 _),
    "q282_pr_curve" -> (q282 _),
    "q283_ivm_join" -> (q283 _),
    "q284_dp_counts" -> (q284 _),
    "q285_lateness_profile" -> (q285 _),
    "q286_ips_policy" -> (q286 _),
    "q287_mix_shift" -> (q287 _),
    "q288_seasonal_decompose" -> (q288 _),
    "q289_corr_matrix" -> (q289 _),
    "q290_char_stats" -> (q290 _),
    "q291_median_boot_ci" -> (q291 _),
    "q292_topk_churn" -> (q292 _),
    "q293_rare_collapse" -> (q293 _),
    "q294_feature_hash_audit" -> (q294 _),
    "q295_range_bounds" -> (q295 _),
    "q296_brier_decomp" -> (q296 _),
    "q297_ipf_raking" -> (q297 _),
    "q298_funnel_ab" -> (q298 _),
    "q299_paragraph_dedup" -> (q299 _),
    "q300_pixel_stats" -> (q300 _),
    "q301_stream_debounce" -> (q301 _),
    "q302_stream_ewma_alerts" -> (q302 _),
    "q303_stream_funnel" -> (q303 _),
    "q304_stream_hll" -> (q304 _),
    "q305_image_dhash" -> (q305 _),
    "q306_audio_stats" -> (q306 _),
    "q307_video_headers" -> (q307 _),
    "q308_image_neardups" -> (q308 _),
    "q309_resize_stats" -> (q309 _),
    "q310_stream_window_topk" -> (q310 _),
    "q311_stream_interval_join" -> (q311 _),
    "q312_stream_dedup_watermark" -> (q312 _),
    "q313_hamming_band_profile" -> (q313 _),
    "q314_exif_orientation_dhash" -> (q314 _),
    "q315_video_tracks" -> (q315 _),
    "q316_simhash128_neardups" -> (q316 _),
    "q317_ivf_compact" -> (q317 _),
    "q318_journal_audit" -> (q318 _),
    "q319_dedupfirst_clusters" -> (q319 _),
    "q320_incremental_hamming" -> (q320 _),
    "q321_minhash_compact" -> (q321 _),
    "q322_incremental_hamming128" -> (q322 _),
    "q323_ivfpq_index" -> (q323 _),
    "q324_keyframe_tracks" -> (q324 _),
    "q325_keyframe_sampling" -> (q325 _),
    "q326_shinglek_probe" -> (q326 _),
    "q327_rerun_journal" -> (q327 _),
    "q328_incremental_clusters" -> (q328 _)
  )

  /** Gates whose bench time is dominated by FIXED replay-harness
    * machinery — the tertile chunk write (coalesce(1) parquet per
    * chunk), cold micro-batch stream start, and memory-sink drain of
    * [[replayStream]] — ~3 s each at ANY SF, measuring harness, not
    * operator. The bench reports their subtotal separately so
    * round-over-round sweep totals compare operators (the r14 verdict's
    * tagging demand). */
  val machineryQueries: Set[String] = Set(
    "q301_stream_debounce", "q302_stream_ewma_alerts",
    "q303_stream_funnel", "q304_stream_hll",
    "q310_stream_window_topk", "q311_stream_interval_join",
    "q312_stream_dedup_watermark"
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
