package graft.pipeline

import scala.collection.mutable

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    // one fact commit and one status commit per run
    assert(journal.facts.latestVersion == 1 && journal.status.latestVersion == 1)
    // every fact, the bootstrap's included, carries the write's row counts
    val facts = journal.facts.read.orderBy("lastUpdate")
      .select(col("inputRows"), col("outputRows"), col("operationMetrics")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getMap[String, String](2).toMap))
    val counts = Map("numInputRows" -> "2", "numSourceRows" -> "2")
    assert(facts.toSeq == Seq((2L, 2L, counts), (2L, 2L, counts)))
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

  /** Runs `body` under a fresh job group and counts the jobs started under
    * it by their [[Pipeline.TaskProperty]] ("" when a job has none). */
  private def jobsByTask[T](body: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val group = java.util.UUID.randomUUID().toString
    val counts = mutable.Map[String, Int]().withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = counts.synchronized {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group))
          counts(p.flatMap(q => Option(q.getProperty(Pipeline.TaskProperty))).getOrElse("")) += 1
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val v = body
      ListenerDrain(sc)
      (v, counts.synchronized(counts.toMap))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** SCD1, SCD2 and SCD4 control rows, each on a region-partitioned target
    * (`<type>p`) and an unpartitioned one (`<type>u`), deduped on
    * updated_at. */
  private lazy val gateCfgs: Seq[TableConfig] = {
    val scd1 = """[{"condtionType":"match"},{"condtionType":"notmatch"}]"""
    val scd2 = """{"matchCondition":"target.current_flag = true AND target.name <> updates.name",
      |"updateMap":{"current_flag":"false"},
      |"insertMap":{"id":"updates.id","name":"updates.name","region":"updates.region",
      |"updated_at":"updates.updated_at","current_flag":"true"}}""".stripMargin
    for {
      (scd, cond) <- Seq(("scd1", scd1), ("scd2", scd2), ("scd4", ""))
      part <- Seq("region", "")
    } yield TableConfig.fromRow(Seq((
      "gate", scd + (if (part.isEmpty) "u" else "p"), scd, "id", part, "updated_at", "",
      """{"format":"parquet"}""", cond
    )).toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
      "partition_id_col", "updated_at_col", "extra_join_cond", "op_config", "merge_cond")
      .collect().head)
  }

  private def regional(rows: Seq[(String, Long, String, String, Long)]) =
    rows.toDF("op", "id", "name", "region", "updated_at")
      .select(struct(
        col("op"),
        struct(col("id"), col("name"), col("region"), col("updated_at")).as("before"),
        struct(col("id"), col("name"), col("region"), col("updated_at")).as("after"),
        struct(lit("db0").as("db"), lit(1L).as("server_id")).as("source")).as("value"))

  /** The gate's two runs, each with its journal: a bootstrap batch over
    * three regions, then a merge batch touching one region (key 1 twice,
    * so the dedup drops a row). Returns each run's jobs by task. */
  private lazy val gateRuns: (Map[String, Int], Map[String, Int]) = {
    val root = tmpDir("ingest_gate")
    val journal = new Journal(spark, tmpDir("ingest_gate_j"))
    def run(b: org.apache.spark.sql.DataFrame) = jobsByTask {
      val ok = IngestionJob.run(spark, gateCfgs, _ => () => b, root, journal = Some(journal))
      assert(ok.size == 6 && ok.values.forall(identity), ok)
    }._2
    val boot = run(regional(Seq(("c", 1L, "a", "eu", 1L), ("c", 2L, "b", "us", 1L),
      ("c", 3L, "c", "ap", 1L), ("c", 4L, "d", "eu", 1L))))
    val merge = run(regional(Seq(("u", 1L, "a1", "eu", 2L), ("u", 1L, "a2", "eu", 3L),
      ("u", 4L, "d2", "eu", 2L), ("c", 5L, "e", "eu", 2L))))
    // per run, one fact per pipeline: 4 rows in; the merge batch's dedup keeps 3
    val facts = journal.facts.read.select("inputRows", "outputRows").as[(Long, Long)]
      .collect().toSeq.sorted
    assert(facts == Seq.fill(6)((4L, 3L)) ++ Seq.fill(6)((4L, 4L)), facts)
    (boot, merge)
  }

  test("every job an IngestionJob.run starts names its pipeline and task") {
    val (boot, merge) = gateRuns
    for (jobs <- Seq(boot, merge)) {
      assert(!jobs.contains(""), jobs)
      val tasks = gateCfgs.flatMap(c =>
        Seq("reader", "processor", "writer").map(t => s"gate_${c.tableName}/${c.tableName}_$t"))
      assert(jobs.keySet.subsetOf(tasks.toSet + "IngestionJob.run/journal"), jobs)
      assert(jobs.contains("IngestionJob.run/journal"))
    }
  }

  test("job-count gate: a merge batch's jobs per pipeline task, SCD1/2/4 x both layouts") {
    // Per pipeline-batch the writer's jobs are the checkpoint that dedups
    // and counts the batch, the collect of the touched partitions (the 2
    // jobs a partitioned target adds), and the merge's writes, SCD4's
    // history append included. Readers and processors start none: their
    // plans run inside the writer's checkpoint. The journal takes one job
    // per commit. A count of the batch anywhere on this path shows here.
    val (_, merge) = gateRuns
    def writer(t: String) = s"gate_$t/${t}_writer"
    assert(merge == Map(
      writer("scd1u") -> 5, writer("scd1p") -> 7,
      writer("scd2u") -> 6, writer("scd2p") -> 8,
      writer("scd4u") -> 7, writer("scd4p") -> 9,
      "IngestionJob.run/journal" -> 2), merge)
  }

  test("keysFirst reorders merge keys to the front") {
    val df = Seq((1, "x", 2)).toDF("a", "b", "k")
    assert(CdcProcessor.keysFirst(df, Seq("k")).columns.toSeq == Seq("k", "a", "b"))
  }
}
