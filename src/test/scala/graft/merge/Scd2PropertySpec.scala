package graft.merge

import org.scalacheck.{Gen, Prop, Test => SCTest}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Row types for the SCD2 property model (top-level: Spark can't encode
  * case classes nested inside a test class). */
case class Scd2PropTarget(k: Int, v: Int, current_flag: Boolean,
                          eff_date: java.sql.Date,
                          expiry_date: java.sql.Date)
case class Scd2PropUpdate(k: Int, v: Int, eff_date: java.sql.Date)

/** Property-based check of the SCD2 apply loop: random multi-batch update
  * sequences against a driver-side version-chain model, then the SCD2
  * INVARIANTS the temporal join's correctness rests on — per key exactly
  * one open (current, null-expiry) version, versions chained
  * contiguously (each expiry equals the successor's eff), and the full
  * state equal to the model's chain. This is the fuzz companion to the
  * example-based ScdSpec/EmpScenarioSpec: those pin known corpora; this
  * walks random value flips, no-op repeats, and key churn across
  * batches. */
class Scd2PropertySpec extends SparkSpec {
  import spark.implicits._

  private def d(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")

  // one batch = at most one update per key (the writers' documented
  // contract — writeScd2 dedups; the pure apply requires it)
  private val genBatch: Gen[List[Scd2PropUpdate]] = for {
    n <- Gen.choose(0, 6)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 6), Gen.choose(0, 4)))
  } yield rows.groupBy(_._1).values.map(_.head).toList
    .map { case (k, v) => Scd2PropUpdate(k, v, d(1)) }

  private val genScenario: Gen[List[List[Scd2PropUpdate]]] = for {
    b1 <- genBatch; b2 <- genBatch; b3 <- genBatch; b4 <- genBatch
  } yield List(b1, b2, b3, b4).zipWithIndex
    .map { case (b, i) => b.map(_.copy(eff_date = d(i + 2))) }

  /** Driver model: per key, the version chain as (v, eff, expiry). */
  private def modelApply(state: Map[Int, List[(Int, Int, Option[Int])]],
                         batch: List[Scd2PropUpdate], day: Int)
      : Map[Int, List[(Int, Int, Option[Int])]] =
    batch.foldLeft(state) { case (s, u) =>
      val chain = s.getOrElse(u.k, Nil)
      chain.find(_._3.isEmpty) match {
        case None =>
          s.updated(u.k, chain :+ ((u.v, day, None)))
        case Some(cur @ (cv, ce, _)) if cv != u.v =>
          s.updated(u.k, chain.filterNot(_ == cur) ++
            List((cv, ce, Some(day)), (u.v, day, None)))
        case _ => s // same value: no new version
      }
    }

  test("scd2Apply holds the SCD2 invariants against the chain model") {
    val updateMap = Map(
      "current_flag" -> "false",
      "expiry_date" -> "updates.eff_date")
    val insertMap = Map(
      "k" -> "updates.k", "v" -> "updates.v", "current_flag" -> "true",
      "eff_date" -> "updates.eff_date",
      "expiry_date" -> "cast(null as date)")
    val prop = Prop.forAll(genScenario) { batches =>
      var target = Seq.empty[Scd2PropTarget].toDF()
      batches.foreach { batch =>
        if (batch.nonEmpty) {
          target = Scd.scd2Apply(target, batch.toDF(), Seq("k"),
            matchCondition =
              "target.current_flag = true AND target.v <> updates.v",
            updateMap = updateMap, insertMap = insertMap)
            .localCheckpoint() // 4 chained merges: cut the lineage
        }
      }
      val rows = target.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getBoolean(2), r.getDate(3).toString.takeRight(2).toInt,
        Option(r.getDate(4)).map(_.toString.takeRight(2).toInt)))
      val byKey = rows.groupBy(_._1)
      val model = batches.zipWithIndex.foldLeft(
        Map.empty[Int, List[(Int, Int, Option[Int])]]) {
        case (s, (b, i)) => modelApply(s, b, i + 2)
      }
      val openOk = byKey.forall { case (_, vs) =>
        vs.count(r => r._3 && r._5.isEmpty) == 1 &&
          vs.forall(r => r._3 == r._5.isEmpty)
      }
      val chainOk = byKey.forall { case (_, vs) =>
        val sorted = vs.sortBy(_._4).toList
        sorted.zip(sorted.tail).forall { case (a, b) =>
          a._5.contains(b._4) } && sorted.last._5.isEmpty
      }
      val gotChains = byKey.view.mapValues(
        _.toList.map(r => (r._2, r._4, r._5)).sortBy(_._2)).toMap
      val modelChains = model.filter(_._2.nonEmpty).map { case (k, c) =>
        k -> c.sortBy(_._2) }
      val stateOk = gotChains == modelChains
      if (!(openOk && chainOk && stateOk)) {
        println(s"batches=$batches\ngot=$gotChains\nmodel=$modelChains" +
          s"\nopenOk=$openOk chainOk=$chainOk")
      }
      openOk && chainOk && stateOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("writeScd2: a crash in any batch's commit window replays to the no-crash state") {
    // the exactly-once contract under fuzz: crash AFTER data files land
    // but BEFORE the commit record (the onPreCommit seam), restart with a
    // fresh table handle, redeliver the same (appId, batchId) txn — the
    // crash must leave the table as it was, and the final table must be
    // byte-equal to the run that never crashed, whichever batch the crash
    // hits (including the bootstrap create), on either layout.
    val updateMap = Map(
      "current_flag" -> "false", "expiry_date" -> "updates.eff_date")
    val insertMap = Map(
      "k" -> "updates.k", "v" -> "updates.v", "current_flag" -> "true",
      "eff_date" -> "updates.eff_date",
      "expiry_date" -> "cast(null as date)")
    // returns the final rows, and whether every crash left the table as
    // it was (same version, same rows) until the redelivery
    def applyAll(root: String, keys: Seq[String],
                 batches: List[List[Scd2PropUpdate]],
                 crashAt: Option[Int]): (Set[Seq[Any]], Boolean) = {
      var table = new ParquetTable(spark, root, keys)
      var atomic = true
      def state() =
        if (table.exists) Some((table.latestVersion, rowsOf(table.read))) else None
      def write(b: List[Scd2PropUpdate], i: Int): Unit =
        Scd.writeScd2(table, b.toDF(), Seq("k"),
          matchCondition =
            "target.current_flag = true AND target.v <> updates.v",
          updateMap = updateMap, insertMap = insertMap,
          txn = Some(("scd2prop", i.toLong)))
      batches.zipWithIndex.foreach { case (b, i) =>
        if (b.nonEmpty) {
          if (crashAt.contains(i)) {
            val before = state()
            table.onPreCommit = () => throw new RuntimeException("boom")
            assert(scala.util.Try(write(b, i)).isFailure,
              "injected crash must fire")
            table = new ParquetTable(spark, root, keys) // restart
            atomic &&= state() == before
            write(b, i) // redelivery, same txn
          } else write(b, i)
        }
      }
      (if (table.exists) rowsOf(table.read) else Set.empty, atomic)
    }
    // both layouts: a snapshot target and one partitioned by the key
    val prop = Prop.forAll(genScenario, Gen.choose(0, 3)) {
      (batches, crashIdx) => Seq(Nil, Seq("k")).forall { keys =>
        val (clean, _) = applyAll(tmpDir("scd2p_clean"), keys, batches, None)
        val (crashed, atomic) = applyAll(tmpDir("scd2p_crash"), keys, batches,
          Some(crashIdx))
        if (clean != crashed || !atomic)
          println(s"keys=$keys crashIdx=$crashIdx batches=$batches\n" +
            s"clean=$clean\ncrashed=$crashed\natomic=$atomic")
        clean == crashed && atomic
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("temporal join returns exactly one version for any in-range date") {
    // a fixed 3-version chain; every probe date inside [first eff, open)
    // must match exactly one version under the half-open convention
    val dim = Seq(
      Scd2PropTarget(1, 10, current_flag = false, d(2), d(5)),
      Scd2PropTarget(1, 20, current_flag = false, d(5), d(9)),
      Scd2PropTarget(1, 30, current_flag = true, d(9), null)
    ).toDF()
    val facts = (2 to 28).map(i => (1, d(i))).toDF("fk", "fd")
    val out = Scd.scd2TemporalJoin(facts, dim, "fk", "k", "fd")
    assert(out.count() == 27L, "exactly one version per probe date")
    val picked = out.select(col("fd"), col("v")).collect()
      .map(r => (r.getDate(0).toString.takeRight(2).toInt, r.getInt(1)))
      .toMap
    assert((2 to 4).forall(picked(_) == 10) &&
      (5 to 8).forall(picked(_) == 20) &&
      (9 to 28).forall(picked(_) == 30),
      "expiry day belongs to the successor (half-open windows)")
  }
}
