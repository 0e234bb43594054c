package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The three assembled entry points: sharded-JDBC load, rerun dispatch,
  * history load. */
class EntriesSpec extends SparkSpec {
  import spark.implicits._

  private def cfgRow(defId: String, table: String,
                     joinKey: String = "id",
                     opConfig: String = """{"format":"parquet"}""") = Seq((
    defId, table, "scd1", joinKey, "", "updated_at", "", opConfig, ""
  )).toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
    "partition_id_col", "updated_at_col", "extra_join_cond", "op_config", "merge_cond")
    .collect().head

  /** In-memory Derby database with a lowercase `people` table. The table is
    * created under user "u" because Derby maps the JDBC user onto the default
    * schema — the Spark read connects with the same resolved credentials. */
  private def mkShardDb(db: String, rows: Seq[(Int, String, Long)]): Unit = {
    val conn = java.sql.DriverManager.getConnection(
      s"jdbc:derby:memory:$db;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE people ("id" INT, "name" VARCHAR(50), "updated_at" BIGINT)""")
      val ps = conn.prepareStatement("INSERT INTO people VALUES (?, ?, ?)")
      rows.foreach { case (i, n, u) =>
        ps.setInt(1, i); ps.setString(2, n); ps.setLong(3, u); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  test("sharded JDBC load: shard_details fan-out merges both shards via writeScd1") {
    mkShardDb("sharda", Seq((1, "alice", 1L), (2, "bob", 1L)))
    mkShardDb("shardb", Seq((1, "carol", 1L)))  // same key space as shard A

    val shardDetails = Seq(
      ("s1", "prod", "hostA", "sharda", "scope", "u", "p"),
      ("s2", "prod", "hostB", "shardb", "scope", "u", "p"),
      ("s9", "other", "hostX", "nope", "scope", "u", "p")
    ).toDF("shard_def_id", "product_name", "endpoint", "database_name",
      "secret_scope", "secret_user", "secret_password")

    val shards = ShardedJdbcLoad.shardConfigs(shardDetails, Seq("s1", "s2"),
      secrets = (scope, key) => { assert(scope == "scope"); key },
      urlFor = (_, db) => s"jdbc:derby:memory:$db")
    assert(shards.map(_.shardDefId) == Seq("s1", "s2")) // s9 filtered out
    assert(shards.head.options("user") == "u")

    val root = tmpDir("jdbcload")
    val journal = new Journal(spark, tmpDir("jdbcload_j"))
    // shard key spaces collide -> shard_id joins the merge key
    val cfg = TableConfig.fromRow(cfgRow("pdj", "people", joinKey = "id,shard_id"))
    val res = ShardedJdbcLoad.run(spark, shards, Seq(cfg), root,
      journal = Some(journal))
    assert(res.size == 2 && res.values.forall(identity))

    val out = new graft.merge.ParquetTable(spark, s"$root/people").read
    val byShard = out.select("shard_id", "id", "name").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(byShard == Set(("s1", 1, "alice"), ("s1", 2, "bob"), ("s2", 1, "carol")))
    assert(journal.failedPipelines.isEmpty)

    // idempotent re-run (same rows merge in place, no duplicates)
    ShardedJdbcLoad.run(spark, shards, Seq(cfg), root, journal = Some(journal))
    assert(new graft.merge.ParquetTable(spark, s"$root/people").read.count() == 3)

    // both shards write one target concurrently; each fact carries its own
    // shard's commit metrics (every commit, the creating one included,
    // records numSourceRows)
    val facts = journal.facts.read
      .select(col("pipelineDefId"), col("outputRows"), col("operationMetrics")("numSourceRows"))
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    assert(facts.length == 4 && facts.count(_._3.isDefined) == 4)
    facts.foreach { case (id, out, src) =>
      val rows = Map("pdj@s1" -> 2L, "pdj@s2" -> 1L)(id)
      assert(out == rows && src.forall(_ == rows.toString), (id, out, src))
    }
  }

  test("RERUN_BATCH re-runs only the failed pipeline; Finished on attempt 2") {
    val root = tmpDir("dispatch")
    val journal = new Journal(spark, tmpDir("dispatch_j"))
    val cfgA = TableConfig.fromRow(cfgRow("pd_a", "ta"))
    val cfgB = TableConfig.fromRow(cfgRow("pd_b", "tb"))
    def frame(name: String) =
      Seq((1, name, 1L, true, false)).toDF("id", "name", "updated_at", "row_active", "deleted_flag")

    @volatile var bBroken = true
    val source: TableConfig => () => org.apache.spark.sql.DataFrame = cfg => () =>
      if (cfg.pipelineDefId == "pd_b" && bBroken)
        throw new RuntimeException("shard offline")
      else frame(cfg.tableName)

    val r1 = Dispatch.run(spark, Seq("42"), Seq(cfgA, cfgB), source, root, journal)
    assert(r1("pd_a_ta") && !r1("pd_b_tb"))
    assert(journal.failedPipelines == Seq("pd_b"))
    val aVersion = new graft.merge.ParquetTable(spark, s"$root/ta").latestVersion

    bBroken = false
    val r2 = Dispatch.run(spark, Seq("RERUN_BATCH 42"), Seq(cfgA, cfgB), source, root, journal)
    assert(r2 == Map("pd_b_tb" -> true)) // pd_a NOT re-run
    assert(new graft.merge.ParquetTable(spark, s"$root/ta").latestVersion == aVersion)
    assert(journal.failedPipelines.isEmpty) // latest pd_b status is Finished
    assert(new graft.merge.ParquetTable(spark, s"$root/tb").read.count() == 1)

    // PIPELINE arg runs exactly the named set
    val r3 = Dispatch.run(spark, Seq("PIPELINE", "pd_a"), Seq(cfgA, cfgB), source, root, journal)
    assert(r3.keySet == Set("pd_a_ta"))
    // an unknown or missing id is refused before anything runs
    val bVersion = new graft.merge.ParquetTable(spark, s"$root/tb").latestVersion
    for (args <- Seq(Seq("PIPELINE pd_x,pd_a"), Seq("PIPELINE"), Seq("PIPELINE", " , "))) {
      val e = intercept[IllegalArgumentException](
        Dispatch.run(spark, args, Seq(cfgA, cfgB), source, root, journal))
      assert(e.getMessage.contains("known: pd_a, pd_b"), args)
      if (args.head.contains("pd_x")) assert(e.getMessage.contains("unknown pipeline id(s): pd_x"))
    }
    assert(new graft.merge.ParquetTable(spark, s"$root/tb").latestVersion == bVersion)
  }

  test("history load drains a throttled table stream across multiple triggers") {
    val src = tmpDir("hist_src")
    val tgt = tmpDir("hist_tgt")
    // 3 source files -> maxFilesPerTrigger=1 forces >= 3 micro-batches
    (0 until 3).foreach { i =>
      Seq((i, s"row$i")).toDF("id", "name")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val cfg = TableConfig.fromRow(
      cfgRow("pd_h", "hist", opConfig = """{"format":"parquet","triggerMode":"AvailableNow"}"""),
      checkpointLocation = tmpDir("hist_ckpt"))

    val q = HistLoad.start(spark, cfg, src, schema, tgt, maxFilesPerTrigger = 1,
      transform = _.withColumn("loaded", lit(true)))
    q.awaitTermination()

    assert(spark.read.parquet(tgt).count() == 3)
    assert(spark.read.parquet(tgt).columns.contains("loaded"))
    // file throttle observed: the drain needed more than one non-empty trigger
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      q.recentProgress.map(_.numInputRows).mkString(","))
  }
}
