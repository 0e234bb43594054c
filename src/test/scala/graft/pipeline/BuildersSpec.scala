package graft.pipeline

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.merge.ParquetTable

/** The fluent facade must be a pure re-skin: the same scenario built through
  * PipelineBuilder/ReaderBuilder/ProcessorBuilder produces byte-identical
  * table files to the functional IngestionJob path. */
class BuildersSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(rows: Seq[(String, Long, String, Long)]) =
    rows.toDF("op", "id", "name", "updated_at")
      .select(struct(
        col("op"),
        struct(col("id"), col("name"), col("updated_at")).as("before"),
        struct(col("id"), col("name"), col("updated_at")).as("after"),
        struct(lit("db0").as("db"), lit(1L).as("server_id")).as("source")).as("value"))

  private val cfg = TableConfig.fromRow(Seq((
    "pd1", "people", "scd1", "id", "", "updated_at", "",
    """{"format":"parquet"}""",
    """[{"condtionType":"match","condition":"updates.row_active = false",
       |  "updateInsertMap":{"deleted_flag":"true"}},
       |{"condtionType":"match"},
       |{"condtionType":"notmatch"}]""".stripMargin
  )).toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
    "partition_id_col", "updated_at_col", "extra_join_cond", "op_config", "merge_cond")
    .collect().head)

  /** file-name -> bytes of every file under dir (recursive). */
  private def bytesOf(dir: String): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir))
      .filterNot(_.getName.startsWith(".")) // crc files track content anyway
      .map { f =>
        // part-file names carry a per-write-job UUID; the CONTENT is what
        // must match, so normalize the name before keying
        val name = f.getPath.stripPrefix(dir)
          .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1")
        name -> java.nio.file.Files.readAllBytes(f.toPath).toSeq
      }.toMap
  }

  test("facade-built pipeline is byte-identical to IngestionJob.buildPipeline") {
    val rootF = tmpDir("builders_functional")
    val rootB = tmpDir("builders_fluent")
    val b1 = envelope(Seq(("c", 1L, "alice", 1L), ("c", 2L, "bob", 1L)))
    val b2 = envelope(Seq(("u", 1L, "alicia", 2L), ("d", 2L, "bob", 2L)))

    // functional path (as in IngestionJobSpec)
    Seq(b1, b2).foreach { b =>
      assert(IngestionJob.run(spark, Seq(cfg), _ => () => b, rootF).values.forall(identity))
    }

    // fluent path: same scenario through the builder facade
    def fluentRun(batch: DataFrame): Boolean =
      PipelineBuilder.start(spark)
        .setTableConfig(cfg)
        .addReader("people_reader", () => batch)
        .addProcessor("people_reader", "people_processor",
          ProcessorBuilder.start()
            .setOmittedCols(cfg.omittedCols).setJoinKeys(cfg.joinKeys).build())
        .addWriter("people_processor", "people_writer", rootB)
        .build().run()
    Seq(b1, b2).foreach(b => assert(fluentRun(b)))

    val f = bytesOf(s"$rootF/people")
    val b = bytesOf(s"$rootB/people")
    assert(f.keySet == b.keySet, s"file sets differ: ${f.keySet} vs ${b.keySet}")
    // commit-log JSONs carry timestamps; data + snapshot parquet must be
    // byte-identical
    val dataFiles = f.keySet.filter(_.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(k => assert(f(k) == b(k), s"bytes differ for $k"))

    val out = new ParquetTable(spark, s"$rootB/people").read
    val m = out.collect().map(r =>
      r.getAs[Long]("id") -> (r.getAs[String]("name"), r.getAs[Boolean]("deleted_flag"))).toMap
    assert(m(1L) == (("alicia", false)))
    assert(m(2L)._2 == true)
  }

  test("a journaled builder run records its fact under the runId set, else a fresh one") {
    val journal = new Journal(spark, tmpDir("builders_journal"))
    val root = tmpDir("builders_runid")
    def run(runId: Option[String], batch: DataFrame): Boolean = {
      val b = PipelineBuilder.start(spark)
        .setTableConfig(cfg).setJournal(journal)
      runId.foreach(b.setRunId)
      b.addReader("r", () => batch)
        .addProcessor("r", "p", ProcessorBuilder.start().setJoinKeys(cfg.joinKeys).build())
        .addWriter("p", "w", root)
        .build().run()
    }
    assert(run(Some("run-7"), envelope(Seq(("c", 1L, "alice", 1L), ("c", 2L, "bob", 1L)))))
    assert(run(None, envelope(Seq(("u", 1L, "alicia", 2L)))))
    val facts = journal.facts.read.select("runId", "inputRows", "operationMetrics")
      .as[(String, Long, Map[String, String])].collect().sortBy(-_._2)
    assert(facts.map(_._1).head == "run-7")
    assert(java.util.UUID.fromString(facts(1)._1).toString == facts(1)._1)
    assert(facts.map(f => (f._2, f._3("numSourceRows"))).toSeq == Seq((2L, "2"), (1L, "1")))
  }

  test("ReaderBuilder readers are lazy and read through Sources") {
    val dir = tmpDir("builders_csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "r.csv"), "1,a\n2,b\n")
    val reader = ReaderBuilder.start(spark).getCsvReader(dir + "/r.csv", "id int, v string")
    assert(reader().count() == 2)
    val pq = tmpDir("builders_pq")
    (1 to 5).toDF("x").write.mode("overwrite").parquet(pq)
    assert(ReaderBuilder.start(spark).getParquetReader(pq, readLimit = 2)().count() == 2)
  }

  test("a writer without a TableConfig is refused with a named cause") {
    val root = tmpDir("builders_bad")
    val p = PipelineBuilder.start(spark)
      .setPipelineName("x_t")
      .addReader("r", () => Seq((1L, "a")).toDF("id", "v"))
      .addProcessor("r", "p", identity)
      .addWriter("p", "w", root)
      .build()
    assert(!p.run()) // writer throws inside the task -> pipeline reports failure
    assert(p.statusOf("w") == TaskStatus.Error)
    val cause = p.errorOf("w").get
    assert(cause.isInstanceOf[IllegalStateException])
    assert(cause.getMessage.contains("writer w has no TableConfig"), cause.getMessage)
    assert(new File(root).list().isEmpty) // nothing was written
  }
}
