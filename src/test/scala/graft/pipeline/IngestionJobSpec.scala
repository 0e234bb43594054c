package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.merge.ParquetTable
import graft.operators.CdcProcessor

/** Metadata row -> 3-node pipeline -> merged target: the reference's
  * end-to-end flow (control table drives reader/processor/writer). */
class IngestionJobSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(rows: Seq[(String, Long, String, Long)]) =
    rows.toDF("op", "id", "name", "updated_at")
      .select(struct(
        col("op"),
        struct(col("id"), col("name"), col("updated_at")).as("before"),
        struct(col("id"), col("name"), col("updated_at")).as("after"),
        struct(lit("db0").as("db"), lit(1L).as("server_id")).as("source")).as("value"))

  private def cfgRow(defId: String, table: String) = Seq((
    defId, table, "scd1", "id", "", "updated_at", "",
    """{"format":"parquet"}""",
    """[{"condtionType":"match","condition":"updates.row_active = false",
       |  "updateInsertMap":{"deleted_flag":"true"}},
       |{"condtionType":"match"},
       |{"condtionType":"notmatch"}]""".stripMargin
  )).toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
    "partition_id_col", "updated_at_col", "extra_join_cond", "op_config", "merge_cond")
    .collect().head

  test("control row drives an end-to-end CDC ingestion with soft delete") {
    val root = tmpDir("ingest")
    val journal = new Journal(spark, tmpDir("ingest_journal"))
    val cfg = TableConfig.fromRow(cfgRow("pd1", "people"))

    // batch 1: two inserts
    val b1 = envelope(Seq(("c", 1L, "alice", 1L), ("c", 2L, "bob", 1L)))
    val r1 = IngestionJob.run(spark, Seq(cfg), _ => () => b1, root, journal = Some(journal))
    assert(r1.values.forall(identity))

    // batch 2: update alice, delete bob (op=d -> row_active=false -> soft delete)
    val b2 = envelope(Seq(("u", 1L, "alicia", 2L), ("d", 2L, "bob", 2L)))
    val r2 = IngestionJob.run(spark, Seq(cfg), _ => () => b2, root, journal = Some(journal))
    assert(r2.values.forall(identity))

    val out = new ParquetTable(spark, s"$root/people").read
    val m = out.collect().map(r =>
      r.getAs[Long]("id") -> (r.getAs[String]("name"), r.getAs[Boolean]("deleted_flag"))).toMap
    assert(m(1L) == (("alicia", false)))
    assert(m(2L)._2 == true) // soft-deleted, row retained
    // journal captured facts + terminal status
    assert(journal.facts.read.count() == 2)
    assert(journal.failedPipelines.isEmpty)
  }

  test("scd2 control row: change expires the current row via config-driven merge") {
    val root = tmpDir("ingest2")
    val row = Seq((
      "pd2", "accounts", "scd2", "id", "", "", "",
      """{"format":"parquet"}""",
      """{"matchCondition":"target.current_flag = true AND target.name <> updates.name",
        |"updateMap":{"current_flag":"false"},
        |"insertMap":{"id":"updates.id","name":"updates.name","current_flag":"true"}}""".stripMargin
    )).toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
      "partition_id_col", "updated_at_col", "extra_join_cond", "op_config", "merge_cond")
      .collect().head
    val cfg = TableConfig.fromRow(row)
    assert(cfg.scd2Spec.isDefined)

    // seed: direct frame (writer creates table on first batch)
    val seed = Seq((1L, "alice", true), (2L, "bob", true))
      .toDF("id", "name", "current_flag")
      .select(struct(lit("c").as("op"),
        struct(col("id"), col("name"), col("current_flag")).as("before"),
        struct(col("id"), col("name"), col("current_flag")).as("after"),
        struct(lit("d").as("db"), lit(1L).as("server_id")).as("source")).as("value"))
    assert(IngestionJob.run(spark, Seq(cfg), _ => () => seed, root).values.forall(identity))

    val update = Seq((1L, "alicia", true)).toDF("id", "name", "current_flag")
      .select(struct(lit("u").as("op"),
        struct(col("id"), col("name"), col("current_flag")).as("before"),
        struct(col("id"), col("name"), col("current_flag")).as("after"),
        struct(lit("d").as("db"), lit(1L).as("server_id")).as("source")).as("value"))
    assert(IngestionJob.run(spark, Seq(cfg), _ => () => update, root).values.forall(identity))

    val out = new ParquetTable(spark, s"$root/accounts").read
      .select("id", "name", "current_flag")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(out.contains((1L, "alice", false)))  // expired version
    assert(out.contains((1L, "alicia", true)))  // new current
    assert(out.contains((2L, "bob", true)))     // untouched
  }

  test("processor stamps hashed_jk and grouping_jk and applies PII rules") {
    val env = envelope(Seq(("c", 1L, "ssn 123-45-6789 here", 1L)))
    val out = CdcProcessor.process(env,
      omittedCols = Seq("updated_at"),
      piiRules = Seq(CdcProcessor.PiiRule("name", commonFlag = true,
        CdcProcessor.ScrubPartial)),
      joinKeys = Seq("id"))
    assert(out.columns.contains("hashed_jk") && out.columns.contains("grouping_jk"))
    assert(!out.columns.contains("updated_at"))
    val scrubbed = out.select("name_hash").as[String].collect().head
    assert(!scrubbed.contains("123-45-6789"))
    val bucket = out.select("grouping_jk").as[Long].collect().head
    assert(bucket >= 0 && bucket < 500)
  }

  test("pii_column_details encryption_flag drives e2e encryption in the merged target") {
    import graft.functions.AesCodec
    val root = tmpDir("ingest_enc")
    val cfg = TableConfig.fromRow(cfgRow("pd_enc", "people"))
    val codec = AesCodec("salty", "sekrit")

    // the reference's pii config table shape (M/processor/BaseProcessor.scala:70-81)
    val piiDf = Seq(("name", true, null.asInstanceOf[String], true))
      .toDF("pii_column_name", "common_flag", "anonymization_flag", "encryption_flag")
    val rules = CdcProcessor.rulesFromPiiDetails(piiDf, codec)
    assert(rules == Seq(CdcProcessor.PiiRule("name", true, CdcProcessor.Encrypt(codec))))

    val b1 = envelope(Seq(("c", 1L, "alice", 1L)))
    val r = IngestionJob.run(spark, Seq(cfg), _ => () => b1, root, piiRules = rules)
    assert(r.values.forall(identity))

    val stored = new ParquetTable(spark, s"$root/people").read
      .select("name").as[String].collect().head
    assert(stored != "alice")                  // encrypted at rest
    assert(codec.decrypt(stored) == "alice")   // round-trips with the codec

    // anonymization_flag rows map to hash/scrub rules alongside encryption
    val mixed = CdcProcessor.rulesFromPiiDetails(
      Seq(("a", true, "complete", false), ("b", false, "partial", true))
        .toDF("pii_column_name", "common_flag", "anonymization_flag", "encryption_flag"),
      codec)
    assert(mixed == Seq(
      CdcProcessor.PiiRule("a", true, CdcProcessor.HashComplete),
      CdcProcessor.PiiRule("b", false, CdcProcessor.ScrubPartial),
      CdcProcessor.PiiRule("b", false, CdcProcessor.Encrypt(codec))))
  }

  test("colliding pipeline names are refused before any pipeline starts") {
    val root = tmpDir("ingest_collide")
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val b = envelope(Seq(("c", 1L, "alice", 1L)))
    def run(rows: Seq[(String, String)]) = intercept[IllegalArgumentException](
      IngestionJob.run(spark, rows.map { case (d, t) => TableConfig.fromRow(cfgRow(d, t)) },
        _ => () => { started.incrementAndGet(); b }, root)).getMessage
    val split = run(Seq(("a_b", "c"), ("a", "b_c"), ("ok", "t")))
    assert(split.contains("a_b_c <- rows (a_b, c), (a, b_c)") && !split.contains("ok_t"), split)
    assert(run(Seq(("pd1", "people"), ("pd1", "people")))
      .contains("pd1_people <- rows (pd1, people), (pd1, people)"))
    assert(started.get == 0)
  }

  test("keysFirst reorders merge keys to the front") {
    val df = Seq((1, "x", 2)).toDF("a", "b", "k")
    assert(CdcProcessor.keysFirst(df, Seq("k")).columns.toSeq == Seq("k", "a", "b"))
  }
}
