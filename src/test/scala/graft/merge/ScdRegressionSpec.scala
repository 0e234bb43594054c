package graft.merge

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Regressions from the round-1 review of the write paths. */
class ScdRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("writeScd2 works on a PARTITIONED table across batches") {
    val table = new ParquetTable(spark, tmpDir("scd2part"), partitionKeys = Seq("region"))
    val insertMap = Map(
      "k" -> "updates.k", "v" -> "updates.v", "region" -> "updates.region",
      "current_flag" -> "true", "eff" -> "updates.eff",
      "expiry" -> "cast(null as string)")
    def write(batch: org.apache.spark.sql.DataFrame, txnV: Long): Unit =
      Scd.writeScd2(table, batch, Seq("k"),
        matchCondition = "target.current_flag = true AND target.v <> updates.v",
        updateMap = Map("current_flag" -> "false", "expiry" -> "updates.eff"),
        insertMap = insertMap, txn = Some(("app2", txnV)))

    // batch 0 bootstraps the table SCD2-shaped through the insertMap
    write(Seq((1, "a", "eu", "d1"), (2, "b", "us", "d1")).toDF("k", "v", "region", "eff"), 0L)
    assert(table.read.columns.toSet ==
      Set("k", "v", "region", "current_flag", "eff", "expiry"))
    // batch 1 merges in place on the partitioned table (regression: this
    // previously failed with 'cannot overwrite a path being read from')
    write(Seq((1, "a2", "eu", "d2")).toDF("k", "v", "region", "eff"), 1L)
    val rows = table.read.select("k", "v", "current_flag")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSet
    assert(rows == Set((1, "a", false), (1, "a2", true), (2, "b", true)))
    // replaying batch 1 (checkpoint recovery) is a no-op
    val v = table.latestVersion
    write(Seq((1, "a2", "eu", "d2")).toDF("k", "v", "region", "eff"), 1L)
    assert(table.latestVersion == v)
    // replaying batch 0 (the CREATE) is also a no-op now
    write(Seq((9, "z", "eu", "d1")).toDF("k", "v", "region", "eff"), 0L)
    assert(table.read.filter($"k" === 9).count() == 0)
  }

  /** (region -> live file paths) of a region-partitioned table. A live
    * file is never rewritten, so the same paths mean the same bytes. */
  private def partitionFiles(t: ParquetTable): Map[String, Set[String]] =
    t.liveFiles.groupBy(_.partitionValues("region"))
      .view.mapValues(_.map(_.path).toSet).toMap

  test("writeScd2 merges touched partitions only; untouched files byte-identical") {
    val table = new ParquetTable(spark, tmpDir("scd2prune"), partitionKeys = Seq("region"))
    val insertMap = Map(
      "k" -> "updates.k", "v" -> "updates.v", "region" -> "updates.region",
      "current_flag" -> "true", "eff" -> "updates.eff",
      "expiry" -> "cast(null as string)")
    def write(batch: org.apache.spark.sql.DataFrame): Unit =
      Scd.writeScd2(table, batch, Seq("k"),
        matchCondition = "target.current_flag = true AND target.v <> updates.v",
        updateMap = Map("current_flag" -> "false", "expiry" -> "updates.eff"),
        insertMap = insertMap)

    write(Seq((1, "a", "eu", "d1"), (2, "b", "us", "d1"), (3, "c", "ap", "d1"))
      .toDF("k", "v", "region", "eff"))
    val before = partitionFiles(table)
    assert(before.keySet == Set("eu", "us", "ap"))

    // batch touches ONLY region=eu
    write(Seq((1, "a2", "eu", "d2")).toDF("k", "v", "region", "eff"))
    val after = partitionFiles(table)
    // untouched partitions: the same files
    assert(after("us") == before("us"))
    assert(after("ap") == before("ap"))
    // touched partition was rewritten (old + expired + new version)
    val eu = table.read.filter($"region" === "eu")
      .select("k", "v", "current_flag").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSet
    assert(eu == Set((1, "a", false), (1, "a2", true)))
    assert(table.lastMetrics.get("numSourceRows").contains("1"))
  }

  test("writeScd4 merges current's touched partitions only") {
    val cur = new ParquetTable(spark, tmpDir("s4prune"), partitionKeys = Seq("region"))
    val hist = new ParquetTable(spark, tmpDir("s4pruneH"))
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def batch(rows: Seq[(Int, String, String)]) = rows
      .map { case (k, v, r) => (k, v, r, false, true, ts0) }
      .toDF("k", "v", "region", "deleted_flag", "row_active", "updated_at")
    Scd.writeScd4(cur, hist, batch(Seq((1, "a", "eu"), (2, "b", "us"))), Seq("k"))
    val before = partitionFiles(cur)

    Scd.writeScd4(cur, hist, batch(Seq((1, "a2", "eu"))), Seq("k"))
    val after = partitionFiles(cur)
    assert(after("us") == before("us")) // untouched: the same files
    assert(cur.read.filter($"k" === 1).select("v").as[String].collect().toSeq == Seq("a2"))
    assert(hist.read.count() == 1) // old eu row snapshotted
  }

  test("a merge emptying a Hive-escaped partition leaves no live file there") {
    val t = new ParquetTable(spark, tmpDir("esc"), partitionKeys = Seq("p"))
    // ':' is Hive-escaped to %3A in directory names
    t.create(Seq((1, "10:30"), (2, "11:45")).toDF("k", "p"))
    t.merge(Seq((1, "10:30")).toDF("k", "p"), "target.k = updates.k",
      matched = Seq(MergeInto.WhenMatched(None, MergeInto.Delete)),
      notMatched = Nil)
    assert(t.read.select("p").as[String].collect().toSeq == Seq("11:45"))
    // the emptied partition has no live file; the other keeps its value
    assert(t.liveFiles.map(_.partitionValues("p")).toSet == Set("11:45"))
  }

  test("writeScd4 txn replay appends no duplicate history") {
    val cur = new ParquetTable(spark, tmpDir("s4cur"))
    val hist = new ParquetTable(spark, tmpDir("s4hist"))
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def batch(v: String) = Seq((1, v, false, true, ts0))
      .toDF("k", "v", "deleted_flag", "row_active", "updated_at")
    Scd.writeScd4(cur, hist, batch("v1"), Seq("k"), txn = Some(("a", 0L)))
    Scd.writeScd4(cur, hist, batch("v2"), Seq("k"), txn = Some(("a", 1L)))
    assert(hist.read.count() == 1)
    Scd.writeScd4(cur, hist, batch("v2"), Seq("k"), txn = Some(("a", 1L))) // replay
    assert(hist.read.count() == 1) // no duplicate snapshot
    assert(cur.read.select("v").as[String].collect().toSeq == Seq("v2"))
  }

  test("writeScd4 rerun without a txn after a crash appends history once") {
    // the batch path passes no txn: a rerun must still not re-append the
    // history that the crashed attempt committed before current's commit
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def batch(v: String) = Seq((1, v, false, true, ts0))
      .toDF("k", "v", "deleted_flag", "row_active", "updated_at")
    for (keys <- Seq(Nil, Seq("k"))) {
      val root = tmpDir("s4rerun")
      val cur = new ParquetTable(spark, s"$root/t", keys)
      val hist = new ParquetTable(spark, s"$root/t_history")
      def histRows = hist.read.select("v").as[String].collect().sorted.toSeq
      Scd.writeScd4(cur, hist, batch("v1"), Seq("k"))
      cur.onPreCommit = () => throw new RuntimeException("injected crash")
      intercept[RuntimeException](Scd.writeScd4(cur, hist, batch("v2"), Seq("k")))
      cur.onPreCommit = () => ()
      assert(histRows == Seq("v1"), s"the crashed attempt's history committed (keys=$keys)")
      Scd.writeScd4(cur, hist, batch("v2"), Seq("k")) // the rerun
      assert(histRows == Seq("v1"), s"the rerun appends no history again (keys=$keys)")
      assert(cur.read.select("v").as[String].collect().toSeq == Seq("v2"))
      Scd.writeScd4(cur, hist, batch("v3"), Seq("k")) // the next batch appends its own
      assert(histRows == Seq("v1", "v2"), s"keys=$keys")
    }
  }

  test("writeScd4 rerun with a different batch after a crash keeps only that batch's history") {
    // a plain next run after the crash reads a new batch: history must hold
    // the snapshot of the rows it overwrote, not of the batch that never
    // reached current
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def batch(rows: (Int, String)*) = rows.map { case (k, v) => (k, v, false, true, ts0) }
      .toDF("k", "v", "deleted_flag", "row_active", "updated_at")
    for (keys <- Seq(Nil, Seq("k"))) {
      val root = tmpDir("s4rerun_other")
      val cur = new ParquetTable(spark, s"$root/t", keys)
      val hist = new ParquetTable(spark, s"$root/t_history", keys)
      def histRows = hist.read.select("v").as[String].collect().sorted.toSeq
      Scd.writeScd4(cur, hist, batch(1 -> "a1", 2 -> "b1"), Seq("k"))
      cur.onPreCommit = () => throw new RuntimeException("injected crash")
      intercept[RuntimeException](Scd.writeScd4(cur, hist, batch(1 -> "a2"), Seq("k")))
      cur.onPreCommit = () => ()
      assert(histRows == Seq("a1"), s"the crashed attempt's history committed (keys=$keys)")
      Scd.writeScd4(cur, hist, batch(2 -> "b2"), Seq("k")) // the next run, another batch
      assert(histRows == Seq("b1"), s"keys=$keys")
      assert(cur.read.select("v").as[String].collect().sorted.toSeq == Seq("a1", "b2"))
      Scd.writeScd4(cur, hist, batch(1 -> "a3"), Seq("k"))
      assert(histRows == Seq("a1", "b1"), s"keys=$keys")
    }
  }

  test("writeScd4: a delivery whose txn commits while it waits for the lock writes nothing") {
    val root = tmpDir("s4race")
    val cur = new ParquetTable(spark, s"$root/t")
    val hist = new ParquetTable(spark, s"$root/t_history")
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def batch(v: String) = Seq((1, v, false, true, ts0))
      .toDF("k", "v", "deleted_flag", "row_active", "updated_at")
    Scd.writeScd4(cur, hist, batch("v1"), Seq("k"))
    val monitor = ParquetTable.monitorFor(cur.root)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    @volatile var late: Map[String, String] = null
    val other = new Thread(() =>
      late = Scd.writeScd4(cur, hist, batch("v2"), Seq("k"), txn = Some(("app", 1L))))
    cur.withLock {
      // the other delivery passes the first txn check and materializes its
      // batch, then waits for current's lock, held here
      other.start()
      def blocked = Option(mx.getThreadInfo(other.getId)).flatMap(i => Option(i.getLockInfo))
        .exists(_.getIdentityHashCode == System.identityHashCode(monitor))
      val deadline = System.nanoTime() + 120000000000L
      while (other.isAlive && !blocked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(blocked, "the other delivery is waiting for current's lock")
      Scd.writeScd4(cur, hist, batch("v2"), Seq("k"), txn = Some(("app", 1L)))
    }
    other.join(120000)
    assert(!other.isAlive)
    assert(late == Map.empty)
    assert(cur.latestVersion == 1 && hist.latestVersion == 0)
    assert(hist.read.select("v").as[String].collect().toSeq == Seq("v1"))
    assert(cur.read.select("v").as[String].collect().toSeq == Seq("v2"))
  }

  test("writeScd1/4 bootstrap applies insert-clause logic (tombstones excluded)") {
    val cur = new ParquetTable(spark, tmpDir("s4boot"))
    val hist = new ParquetTable(spark, tmpDir("s4bootH"))
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val first = Seq(
      (1, "live", false, true, ts0),
      (2, "ghost", false, false, ts0) // delete tombstone in the FIRST batch
    ).toDF("k", "v", "deleted_flag", "row_active", "updated_at")
    Scd.writeScd4(cur, hist, first, Seq("k"))
    assert(cur.read.select("k").as[Int].collect().toSeq == Seq(1)) // ghost not live

    val t1 = new ParquetTable(spark, tmpDir("s1boot"))
    Scd.writeScd1(t1, first, Seq("k"),
      notMatched = Seq(MergeInto.WhenNotMatched(Some("updates.row_active = true"),
        MergeInto.InsertAll)))
    assert(t1.read.select("k").as[Int].collect().toSeq == Seq(1))
  }

  test("writers count the batch they write: empty and tombstone-only batches, each SCD type") {
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def batch(rows: Seq[(Int, String, Boolean, Int)]) = rows
      .map { case (k, v, active, t) => (k, v, false, active, new java.sql.Timestamp(ts0.getTime + t)) }
      .toDF("k", "v", "deleted_flag", "row_active", "updated_at")
    val empty = batch(Nil)
    // key 1 twice: the dedup keeps its newest row
    val tombstones = batch(Seq((1, "x", false, 0), (1, "y", false, 1), (2, "z", false, 0)))
    val activeOnly = Seq(MergeInto.WhenNotMatched(Some("updates.row_active = true"),
      MergeInto.InsertAll))
    val insertMap = Map("k" -> "updates.k", "v" -> "updates.v", "current_flag" -> "true")
    val writers: Seq[(String, ParquetTable => org.apache.spark.sql.DataFrame => Map[String, String])] = Seq(
      "scd1" -> (t => b => Scd.writeScd1(t, b, Seq("k"), notMatched = activeOnly,
        dedupOrderCols = Seq("updated_at"))),
      "scd2" -> (t => b => Scd.writeScd2(t, b, Seq("k"),
        "target.current_flag = true AND target.v <> updates.v",
        Map("current_flag" -> "false"), insertMap, dedupOrderCols = Seq("updated_at"))),
      "scd4" -> { t =>
        val hist = new ParquetTable(spark, t.root + "_history")
        b => Scd.writeScd4(t, hist, b, Seq("k"), dedupOrderCols = Seq("updated_at"))
      })
    def counts(in: Int, src: Int) =
      Map("numInputRows" -> in.toString, "numSourceRows" -> src.toString)
    for ((scd, write) <- writers) {
      val t = new ParquetTable(spark, tmpDir(s"count_$scd"))
      // an empty first batch creates an empty table; an empty merge commits
      assert(write(t)(empty) == counts(0, 0) && t.lastMetrics == counts(0, 0), scd)
      assert(t.read.count() == 0, scd)
      assert(write(t)(empty) == counts(0, 0) && t.latestVersion == 1, scd)
      // a first batch of delete tombstones only
      val t2 = new ParquetTable(spark, tmpDir(s"tomb_$scd"))
      assert(write(t2)(tombstones) == counts(3, 2) && t2.lastMetrics == counts(3, 2), scd)
      val live = if (scd == "scd2") 2 else 0 // SCD2 has no tombstones: both keys are versions
      assert(t2.read.count() == live, scd)
    }
  }

  test("a batch's row count that never arrives fails with a named cause") {
    import scala.concurrent.duration._
    val e = intercept[IllegalStateException](
      Scd.observedRows(org.apache.spark.sql.Observation(), "numSourceRows", 50.millis))
    assert(e.getMessage.contains("numSourceRows") && e.getMessage.contains("not delivered"))
  }

  test("operator key specs parse correctly for both sides") {
    assert(MergeInto.extractJoinKeys(Seq("a != b", "x < y", "k")) == Seq("b", "y", "k"))
    assert(MergeInto.extractTargetKeys(Seq("a != b", "x < y", "k")) == Seq("a", "x", "k"))
  }

  test("concurrent appends to one table keep every commit (journal race)") {
    val t = new ParquetTable(spark, tmpDir("conc"))
    t.create(Seq((0, "seed")).toDF("k", "v"))
    val threads = (1 to 4).map { i =>
      new Thread(() => t.append(Seq((i, s"row$i")).toDF("k", "v")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.read.count() == 5)       // no lost appends
    assert(t.latestVersion == 4L)     // one commit per append
  }

  test("concurrent SCD1 merges on disjoint keys serialize to the union") {
    // the per-root monitor makes interleaved merges SERIALIZE (each reads
    // the previous writer's committed snapshot): four threads upserting
    // disjoint key ranges must all land — a lost update here would mean a
    // merge read a stale snapshot while another writer's COW was in flight
    val t = new ParquetTable(spark, tmpDir("conc_merge"))
    t.create(Seq((0, "seed")).toDF("k", "v"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try Scd.writeScd1(t,
          Seq((i * 10, s"v$i"), (i * 10 + 1, s"w$i")).toDF("k", "v"),
          Seq("k"))
        catch { case e: Throwable => failures.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"merge threads failed: ${failures.peek()}")
    val rows = t.read.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.size == 9, s"lost updates: $rows")
    (1 to 4).foreach { i =>
      assert(rows(i * 10) == s"v$i" && rows(i * 10 + 1) == s"w$i")
    }
    assert(t.latestVersion == 4L)     // one MERGE commit per thread
  }
}
