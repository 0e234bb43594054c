package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.merge.MergeInto._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def task(n: String, fn: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame]) =
    new Task {
      def name: String = n
      def run(s: SparkSession, in: Map[String, DataFrame]): Map[String, DataFrame] = fn(s, in)
    }

  test("reader -> processor -> writer wave order with named frame handoff") {
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val p = new Pipeline("p1", spark)
    p.addTask(task("reader", (s, _) => {
      order.add("reader")
      import s.implicits._
      Map("rawdf" -> Seq((1, "a"), (2, "b")).toDF("k", "v"))
    }))
    p.addAfter("reader", task("processor", (_, in) => {
      order.add("processor")
      Map("processedDf" -> in("rawdf").withColumn("v", upper(col("v"))))
    }))
    p.addAfter("processor", task("writer", (_, in) => {
      order.add("writer")
      assert(in.contains("processedDf"))
      Map("written" -> in("processedDf"))
    }))
    assert(p.run())
    assert(order.toArray.toSeq == Seq("reader", "processor", "writer"))
    assert(p.outputOf("writer")("written").select("v").as[String].collect().toSet == Set("A", "B"))
  }

  test("error marks descendants dead_end and fails the pipeline") {
    val p = new Pipeline("p2", spark)
    p.addTask(task("ok", (s, _) => { import s.implicits._; Map("x" -> Seq(1).toDF("a")) }))
    p.addAfter("ok", task("boom", (_, _) => throw new RuntimeException("fail here")))
    p.addAfter("boom", task("never", (_, _) => Map.empty))
    assert(!p.run())
    assert(p.statusOf("ok") == TaskStatus.Finished)
    assert(p.statusOf("boom") == TaskStatus.Error)
    assert(p.statusOf("never") == TaskStatus.DeadEnd)
    assert(p.errorOf("boom").exists(_.getMessage == "fail here"))
  }

  test("independent branches run; runAll reports per-pipeline outcome") {
    def mk(name: String, fail: Boolean) = {
      val p = new Pipeline(name, spark)
      p.addTask(task("t", (s, _) =>
        if (fail) throw new RuntimeException("x")
        else { import s.implicits._; Map("d" -> Seq(1).toDF("a")) }))
      p
    }
    val res = PipelineRunner.runAll(Seq(mk("good", false), mk("bad", true)), parallelism = 2)
    assert(res == Map("good" -> true, "bad" -> false))
  }

  test("TableConfig parses the reference's merge_cond/op_config JSON dialects") {
    val mergeCond =
      """[{"condtionType":"notmatch"},
         |{"condtionType":"match","condition":"updates.row_active=false",
         |  "updateInsertMap":{"target.deleted_flag":"true"}},
         |{"condtionType":"match","deleteOption":true,"condition":"updates.expired=true"}]""".stripMargin
    val (m, nm) = TableConfig.parseMergeCond(mergeCond)
    assert(nm == Seq(WhenNotMatched(None, InsertAll)))
    assert(m == Seq(
      WhenMatched(Some("updates.row_active=false"),
        UpdateExpr(Map("target.deleted_flag" -> "true"))),
      WhenMatched(Some("updates.expired=true"), Delete)))

    val row = Seq((
      "pd1", "emp", "scd1", "empid, deptno", "deptno", "updated_at", "",
      """{"format":"parquet","triggerMode":"ProcessingTime","triggerDuration":"2 minutes"}""",
      mergeCond
    )).toDF("pipeline_def_id", "table_name", "scd_type", "join_key",
      "partition_id_col", "updated_at_col", "extra_join_cond", "op_config", "merge_cond")
      .collect().head
    val cfg = TableConfig.fromRow(row, "/tmp/ckpt")
    assert(cfg.joinKeys == Seq("empid", "deptno"))
    assert(cfg.partitionKeys == Seq("deptno"))
    assert(cfg.matched.size == 2 && cfg.notMatched.size == 1)
    assert(cfg.writeConfig.exists(_.triggerMode == "ProcessingTime"))
    assert(cfg.writeConfig.exists(_.checkpointLocation == "/tmp/ckpt/pd1"))
  }

  test("TableConfig parses the SCD2 spec") {
    val cfg2 = TableConfig.parseScd2Spec(
      """{"matchCondition":"target.currentFlag = true and target.place <> updates.place",
         |"updateMap":{"currentFlag":"false","expryDate":"updates.effDate"},
         |"insertMap":{"empid":"updates.empid"}}""".stripMargin)
    assert(cfg2.exists(_._1.contains("currentFlag = true")))
    assert(cfg2.exists(_._2 == Map("currentFlag" -> "false", "expryDate" -> "updates.effDate")))
  }

  test("fresh journal yields empty latestStatus/failedPipelines, not an error") {
    val j = new Journal(spark, tmpDir("journal_fresh"))
    assert(j.failedPipelines.isEmpty)
    assert(j.latestStatus.count() == 0)
  }

  test("fresh journal's latestStatus has the schema the status table gets") {
    val j = new Journal(spark, tmpDir("journal_schema"))
    val empty = j.latestStatus.schema
    j.logStatus("pd1", "reader", "Finished")
    assert(empty == j.status.read.schema)
    assert(empty == j.latestStatus.schema)
  }

  test("Journal records status/facts/errors and finds failed pipelines") {
    val j = new Journal(spark, tmpDir("journal"))
    j.logStatus("pd1", "reader", "Finished")
    j.logStatus("pd1", "writer", "Error", "boom")
    j.logStatus("pd2", "reader", "Finished")
    j.logFact("pd1", "run-1", 100, 90, Map("numSourceRows" -> "100"))
    j.logErrorRows("pd1", Seq((1, "bad")).toDF("k", "v"), "parse")
    assert(j.failedPipelines == Seq("pd1"))
    assert(j.facts.read.select("inputRows").as[Long].collect().head == 100L)
    val err = j.errors.read.select("row").as[String].collect().head
    assert(err == "1|bad")
  }

  test("random failure trees: Error at the shallowest failure, DeadEnd below, Finished elsewhere") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random tree (parent(i) < i keeps it acyclic; addAfter is the only
    // public edge API, so the fuzz space is exactly what callers can
    // build) plus a random failing subset — the scheduler must stop at
    // each branch's SHALLOWEST failure: that node errors, everything
    // under it is dead_end (never the reference's Finished-on-error
    // defect), every other branch finishes, and run() is true only on a
    // failure-free tree
    val genCase = for {
      n <- Gen.choose(3, 9)
      parents <- Gen.sequence[List[Int], Int]((1 until n).toList.map(i => Gen.choose(0, i - 1)))
      fails <- Gen.listOfN(n, Gen.frequency(3 -> false, 1 -> true))
    } yield (n, parents, fails)
    val prop = Prop.forAll(genCase) { case (n, parents, fails) =>
      val p = new Pipeline("fuzz", spark)
      def mk(i: Int) = task(s"t$i", (_, _) =>
        if (fails(i)) throw new RuntimeException(s"boom$i") else Map.empty)
      p.addTask(mk(0))
      (1 until n).foreach(i => p.addAfter(s"t${parents(i - 1)}", mk(i)))
      val ok = p.run()
      def chain(i: Int): List[Int] = // ancestors root-first, self last
        if (i == 0) List(0) else chain(parents(i - 1)) :+ i
      val want = (0 until n).map { i =>
        val firstBad = chain(i).find(fails(_))
        i -> (firstBad match {
          case None => TaskStatus.Finished
          case Some(b) if b == i => TaskStatus.Error
          case _ => TaskStatus.DeadEnd
        })
      }.toMap
      val got = (0 until n).map(i => i -> p.statusOf(s"t$i")).toMap
      if (got != want || ok != fails.take(n).forall(!_))
        println(s"n=$n parents=$parents fails=$fails\ngot=$got\nwant=$want ok=$ok")
      got == want && ok == fails.take(n).forall(!_)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
