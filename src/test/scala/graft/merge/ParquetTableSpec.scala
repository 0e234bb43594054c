package graft.merge

import org.apache.spark.sql.functions._
import graft.SparkSpec
import MergeInto._

class ParquetTableSpec extends SparkSpec {
  import spark.implicits._

  /** The two table layouts: a snapshot table, and one partitioned by `p`. */
  private val layouts = Seq(Nil, Seq("p"))

  test("create/read/overwrite snapshots with commit log") {
    val t = new ParquetTable(spark, tmpDir("pt"))
    assert(!t.exists)
    t.create(Seq((1, "a")).toDF("k", "v"))
    assert(t.exists && t.latestVersion == 0)
    t.overwrite(Seq((2, "b")).toDF("k", "v"), Map("rows" -> "1"))
    assert(t.latestVersion == 1)
    assert(rowsOf(t.read) == Set(Seq(2, "b")))
    assert(t.lastMetrics == Map("rows" -> "1"))
  }

  test("append unions schemas (mergeSchema equivalent)") {
    val t = new ParquetTable(spark, tmpDir("pt_schema"))
    t.create(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, 9.5)).toDF("k", "extra"))
    val cols = t.read.columns.toSet
    assert(cols == Set("k", "v", "extra"))
    assert(t.read.filter(col("k") === 1).select("extra").collect().head.isNullAt(0))
  }

  test("partitioned merge rewrites only touched partitions and drops emptied ones") {
    val t = new ParquetTable(spark, tmpDir("pt_part"), partitionKeys = Seq("p"))
    t.create(Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")).toDF("k", "v", "p"))
    // update p1, delete the only row of p3 -> p3 directory must disappear
    t.merge(Seq((1, "a2", "p1"), (3, "c", "p3")).toDF("k", "v", "p"),
      "target.k = updates.k",
      matched = Seq(
        WhenMatched(Some("updates.k = 3"), Delete),
        WhenMatched(None, UpdateAll)),
      notMatched = Seq(WhenNotMatched(None, InsertAll)))
    val rows = t.read.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((1, "a2"), (2, "b")))
    assert(partitionFiles(t, "p3").isEmpty, "the emptied partition still has live files")
  }

  /** Live files of partition `p = value`. */
  private def partitionFiles(t: ParquetTable, value: String): Set[String] =
    t.liveFiles.filter(_.partitionValues.get("p").contains(value)).map(_.path).toSet

  test("delete: SQL WHERE semantics, untouched partitions keep their files") {
    val t = new ParquetTable(spark, tmpDir("pt_del"), partitionKeys = Seq("p"))
    t.create(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"),
      (4, null.asInstanceOf[String], "p3")).toDF("k", "v", "p"))
    val p2Before = partitionFiles(t, "p2")
    // NULL predicate rows (v = 'zzz' is NULL for k=4) must be KEPT
    t.delete("k = 1 OR v = 'zzz'", metrics = Map("why" -> "erasure"))
    val rows = t.read.collect().map(_.getInt(0)).toSet
    assert(rows == Set(2, 3, 4), "k=1 gone; NULL-predicate k=4 kept")
    // p2/p3 had no matching rows: their live files must be the same files
    assert(partitionFiles(t, "p2") == p2Before, "an untouched partition was rewritten")
    assert(t.lastMetrics.get("why").contains("erasure"))
    // deleting a partition's last row leaves it no live file
    t.delete("k = 3")
    assert(partitionFiles(t, "p2").isEmpty)
    // txn replay is a no-op
    t.delete("k = 2", txn = Some(("gdpr", 1L)))
    t.delete("k = 4", txn = Some(("gdpr", 1L))) // replayed id: must not run
    assert(t.read.collect().map(_.getInt(0)).toSet == Set(4))
  }

  test("delete on a snapshot table writes a new version with kept rows") {
    val t = new ParquetTable(spark, tmpDir("pt_del_snap"))
    t.create(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val v0 = t.latestVersion
    t.delete("k >= 2")
    assert(t.latestVersion == v0 + 1)
    assert(t.read.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("vacuum drops expired snapshot versions, keeps log and current read") {
    // on both layouts: the parquet files left under the root are exactly
    // those the kept versions read, orphans of a crashed write included
    def onDisk(t: ParquetTable) =
      parquetFiles(new java.io.File(t.root)).map(f =>
        java.nio.file.Paths.get(t.root).relativize(f.toPath).toString).toSet
    for (keys <- layouts) {
      val t = new ParquetTable(spark, tmpDir("pt_vac"), keys)
      t.create(Seq((1, "a", "p1")).toDF("k", "v", "p"))
      t.overwrite(Seq((2, "b", "p1")).toDF("k", "v", "p"))
      val v1 = t.liveFiles.map(_.path).toSet
      t.overwrite(Seq((3, "c", "p1")).toDF("k", "v", "p"))
      t.onPreCommit = () => throw new RuntimeException("injected crash")
      intercept[RuntimeException](t.append(Seq((4, "d", "p2")).toDF("k", "v", "p")))
      t.onPreCommit = () => ()
      val live = t.liveFiles.map(_.path).toSet
      assert(onDisk(t).size > live.size)
      t.vacuum(keepLast = 2)
      assert(onDisk(t) == live ++ v1, s"keepLast = 2 keeps two versions' files (keys=$keys)")
      t.vacuum(keepLast = 1)
      assert(onDisk(t) == live, s"only the current version's bytes survive (keys=$keys)")
      assert(t.read.collect().map(_.getInt(0)).toSeq == Seq(3))
      assert(t.latestVersion == 2, "commit log history intact")
    }
  }

  test("create on an existing table is refused and loses no row") {
    for (keys <- layouts) {
      val t = new ParquetTable(spark, tmpDir("pt_create_twice"), keys)
      t.create(Seq((1, "a", "p1")).toDF("k", "v", "p"))
      t.append(Seq((2, "b", "p2")).toDF("k", "v", "p"))
      val e = intercept[IllegalArgumentException](
        t.create(Seq((9, "z", "p1")).toDF("k", "v", "p")))
      assert(e.getMessage.contains(s"table ${t.root} already exists"), s"keys=$keys")
      assert(t.latestVersion == 1L, s"keys=$keys")
      assert(t.read.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2), s"keys=$keys")
      val fresh = new ParquetTable(spark, t.root, keys)
      assert(fresh.read.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2), s"keys=$keys")
    }
  }

  test("txn idempotency via seenTxn") {
    val t = new ParquetTable(spark, tmpDir("pt_txn"))
    t.create(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"), txn = Some(("app", 7L)))
    t.append(Seq((2, "b")).toDF("k", "v"), txn = Some(("app", 7L))) // replay
    assert(t.read.count() == 2)
    assert(t.seenTxn("app", 7L) && !t.seenTxn("app", 8L))
  }

  test("two handles whose roots spell one table differently exclude each other") {
    val dir = tmpDir("pt_two_handles")
    val a = new ParquetTable(spark, s"$dir/t")
    val b = new ParquetTable(spark, s"$dir/./t")
    a.create(Seq(0).toDF("k"))
    val monitor = ParquetTable.monitorFor(b.root)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    var other: Thread = null
    a.onPreCommit = () => {
      // B appends from its own thread while A is inside its commit window;
      // A waits (at most 5 s) until B has committed or is blocked on the
      // table's monitor
      other = new Thread(() => b.append(Seq(2).toDF("k")))
      other.start()
      def blocked = Option(mx.getThreadInfo(other.getId)).flatMap(i => Option(i.getLockInfo))
        .exists(_.getIdentityHashCode == System.identityHashCode(monitor))
      val deadline = System.nanoTime() + 5000000000L
      while (other.isAlive && !blocked && System.nanoTime() < deadline) Thread.sleep(10)
    }
    a.append(Seq(1).toDF("k"))
    a.onPreCommit = () => ()
    other.join(120000)
    assert(!other.isAlive)
    assert(a.latestVersion == 2)
    assert(b.read.as[Int].collect().sorted.toSeq == Seq(0, 1, 2))
  }

  test("seenTxn is O(1) after the initial fold: old commits never re-read") {
    val t = new ParquetTable(spark, tmpDir("pt_txn_fold"))
    t.create(Seq((1, "a")).toDF("k", "v"))
    (1L to 5L).foreach(i =>
      t.append(Seq((i.toInt, "x")).toDF("k", "v"), txn = Some(("app", i))))
    assert(t.seenTxn("app", 5L) && !t.seenTxn("app", 6L))
    // high-water covers a replay of ANY earlier batch (monotonic txn contract)
    assert(t.seenTxn("app", 2L))

    // a fresh instance folds the existing log exactly once...
    val t2 = new ParquetTable(spark, t.root)
    assert(t2.seenTxn("app", 3L))
    // ...after which old commit files are never consulted again: remove all
    // but the latest and the map must still answer every probe
    val log = new java.io.File(t.root, "_graft_log")
    log.listFiles.filter(_.getName.endsWith(".json"))
      .sortBy(_.getName).dropRight(1).foreach(f => assert(f.delete()))
    assert(t2.seenTxn("app", 5L) && !t2.seenTxn("app", 6L))
    assert(t2.seenTxn("app", 1L))
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(dir)
  }

  test("compact: snapshot table packs many small appends, contents unchanged") {
    val t = new ParquetTable(spark, tmpDir("pt_compact"))
    t.create(spark.range(0, 10).toDF("id").repartition(8))
    (1 to 4).foreach(i =>
      t.append(spark.range(i * 100, i * 100 + 10).toDF("id").repartition(8)))
    val before = t.read.collect().map(_.getLong(0)).sorted
    val vBefore = t.latestVersion
    assert(t.liveFiles.size > 8)
    t.compact() // default 128 MB target: tiny table -> 1 file
    assert(t.latestVersion == vBefore + 1)
    assert(t.liveFiles.size == 1)
    assert(t.read.collect().map(_.getLong(0)).sorted.toSeq == before.toSeq)
    assert(t.lastMetrics("filesBefore").toInt > 8)
    // re-compacting an already-packed table is a no-op (no empty commit)
    val v = t.latestVersion
    t.compact()
    assert(t.latestVersion == v)
  }

  test("compact: partitioned table collapses each partition's files in place") {
    import spark.implicits._
    val t = new ParquetTable(spark, tmpDir("pt_compact_part"),
      partitionKeys = Seq("p"))
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "p").repartition(4))
    (1 to 4).foreach(i =>
      t.append(Seq((i * 10L, "a"), (i * 10L + 1, "b")).toDF("id", "p")
        .repartition(4)))
    val before = t.read.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(t.liveFiles.size > 2)
    t.compact()
    // one file per partition value is the floor for a hive layout
    assert(t.liveFiles.size == 2)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .toSeq == before.toSeq)
    // at that floor the table is packed: a re-compact commits nothing
    val packed = t.latestVersion
    t.compact()
    assert(t.latestVersion == packed, "re-compact of a packed partitioned table committed")
    // replay protection rides the same txn record as every write
    t.append(Seq((99L, "a")).toDF("id", "p").repartition(3))
    val v = t.latestVersion
    t.compact(txn = Some(("compactor", 1L)))
    assert(t.latestVersion == v + 1)
    t.compact(txn = Some(("compactor", 1L))) // replayed -> skipped
    assert(t.latestVersion == v + 1)
  }

  test("append: a crash before the commit record leaves nothing visible; redelivery lands once") {
    for (keys <- layouts; txn <- Seq(None, Some(("app", 1L)))) {
      val root = tmpDir("pt_append_crash")
      val t = new ParquetTable(spark, root, keys)
      t.create(Seq((1, "a", "p1"), (2, "b", "p2")).toDF("k", "v", "p"))
      def ks(x: ParquetTable) = x.read.select("k").as[Int].collect().sorted.toSeq
      val batch = Seq((3, "c", "p1"), (4, "d", "p3")).toDF("k", "v", "p")
      t.onPreCommit = () => throw new RuntimeException("injected crash")
      intercept[RuntimeException](t.append(batch, txn = txn))
      val restarted = new ParquetTable(spark, root, keys)
      val why = s"keys=$keys txn=$txn"
      assert(restarted.latestVersion == 0L, why)
      assert(ks(restarted) == Seq(1, 2), s"crashed append visible: $why")
      restarted.append(batch, txn = txn) // redelivery
      assert(ks(restarted) == Seq(1, 2, 3, 4), why)
      if (txn.nonEmpty) {
        restarted.append(batch, txn = txn) // a recorded txn replays as a no-op
        assert(ks(restarted) == Seq(1, 2, 3, 4), why)
      }
    }
  }

  /** The rewriting operations, each committing one version under `txn`. */
  private def rewrites(txn: Option[(String, Long)] = None)
      : Seq[(String, ParquetTable => Unit)] = Seq(
    "compact" -> (_.compact(txn = txn)),
    "merge" -> (_.merge(Seq((1, "a2", "p1"), (7, "g", "p1")).toDF("k", "v", "p"),
      "target.k = updates.k", Seq(WhenMatched(None, UpdateAll)),
      Seq(WhenNotMatched(None, InsertAll)), txn)),
    "delete" -> (_.delete("k = 2", txn = txn)),
    "overwrite" -> (_.overwrite(Seq((9, "z", "p9")).toDF("k", "v", "p"), txn = txn)))

  private def sixRows(root: String, keys: Seq[String]): ParquetTable = {
    val t = new ParquetTable(spark, root, keys)
    t.create(Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p1"), (4, "d", "p2"),
      (5, "e", "p1"), (6, "f", "p2")).toDF("k", "v", "p").repartition(3))
    t
  }

  test("a DataFrame read before a commit keeps returning the version it was read at") {
    for (keys <- layouts) {
      val t = sixRows(tmpDir("pt_iso"), keys)
      rewrites().foreach { case (name, op) =>
        val before = t.read
        val expected = rowsOf(before)
        val v = t.latestVersion
        op(t)
        assert(t.latestVersion == v + 1, s"$name did not commit (keys=$keys)")
        assert(rowsOf(before) == expected, s"$name changed an earlier read (keys=$keys)")
      }
    }
  }

  test("a crash in merge, delete, compact or overwrite leaves version and rows as they were") {
    for (keys <- layouts) {
      val root = tmpDir("pt_op_crash")
      val t = sixRows(root, keys)
      rewrites().foreach { case (name, op) =>
        val v = t.latestVersion
        val expected = rowsOf(t.read)
        t.onPreCommit = () => throw new RuntimeException("injected crash")
        intercept[RuntimeException](op(t))
        t.onPreCommit = () => ()
        val restarted = new ParquetTable(spark, root, keys)
        assert(restarted.latestVersion == v, s"$name committed (keys=$keys)")
        assert(rowsOf(restarted.read) == expected, s"$name crash visible (keys=$keys)")
        op(t) // the retry commits the same version
        assert(t.latestVersion == v + 1)
      }
    }
  }

  test("merge, delete, compact or overwrite replayed under a committed txn changes nothing") {
    for (keys <- layouts) {
      val t = sixRows(tmpDir("pt_op_replay"), keys)
      rewrites().indices.foreach { i =>
        val txn = Some(("app", i.toLong))
        val (name, op) = rewrites(txn)(i)
        op(t)
        // a row the replay would rewrite (and compact would repack) if it ran
        t.append(Seq((10 + i, "x", "p1")).toDF("k", "v", "p"))
        val v = t.latestVersion
        val expected = rowsOf(t.read)
        op(t)
        assert(t.latestVersion == v, s"$name replay committed (keys=$keys)")
        assert(rowsOf(t.read) == expected, s"$name replay changed rows (keys=$keys)")
      }
    }
  }

  test("commit metrics round-trip control characters, quotes and backslashes") {
    val t = new ParquetTable(spark, tmpDir("pt_metrics"))
    val odd = Map("note" -> "a\nb\t\"c\\", "k\"ey\n" -> "\u0001")
    t.create(Seq(1).toDF("k"), odd)
    assert(new ParquetTable(spark, t.root).lastMetrics == odd)
  }

  /** Spark jobs started by `body` on this thread (tagged by a job group). */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listenerBus is private[spark]; drain it reflectively
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  test("read plans from the commit log: no Spark job on a 40-file table, either layout") {
    for (keys <- layouts) {
      val t = new ParquetTable(spark, tmpDir("pt_read_jobs"), keys)
      t.create(Seq((0, "v", "p0")).toDF("k", "v", "p"))
      (1 until 40).foreach(i => t.append(Seq((i, "v", s"p${i % 4}")).toDF("k", "v", "p")))
      assert(jobsDuring(t.read.columns) == 0, s"keys=$keys")
      assert(t.read.count() == 40L)
    }
  }

  test("append schema evolution fuzz: union schema, nulls where a batch lacked a column") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // random append sequences with random column subsets: the table's
    // schema must converge to the union (mergeSchema equivalent), every
    // batch's values must survive verbatim, and columns a batch never
    // carried must read back NULL for its rows
    val pool = Seq("a", "b", "c")
    val genBatches = for {
      n <- Gen.choose(1, 5)
      sets <- Gen.listOfN(n, Gen.someOf(pool))
    } yield sets.map(_.toSeq.sorted)
    val prop = Prop.forAll(genBatches) { batches => layouts.forall { keys =>
      // the partition column rides along on the partitioned layout
      val t = new ParquetTable(spark, tmpDir("pt_evofuzz"), keys)
      batches.zipWithIndex.foreach { case (cols, i) =>
        val all = cols ++ keys
        val schema = StructType(StructField("k", LongType, nullable = false) +:
          all.map(c => StructField(c, LongType, nullable = true)))
        val row = Row.fromSeq(i.toLong +: all.map(c =>
          (i * 10 + pool.indexOf(c)).toLong))
        t.append(spark.createDataFrame(
          java.util.Collections.singletonList(row), schema))
      }
      val seen = batches.flatten.distinct
      val schemaOk = t.read.columns.toSet == (Set("k") ++ seen ++ keys)
      val rows = t.read.collect().map { r =>
        r.getLong(r.fieldIndex("k")) -> r
      }.toMap
      val valsOk = batches.zipWithIndex.forall { case (cols, i) =>
        val r = rows(i.toLong)
        seen.forall { c =>
          val idx = r.fieldIndex(c)
          if (cols.contains(c)) !r.isNullAt(idx) &&
            r.getLong(idx) == (i * 10 + pool.indexOf(c)).toLong
          else r.isNullAt(idx)
        }
      }
      if (!(schemaOk && valsOk && rows.size == batches.size))
        println(s"keys=$keys batches=$batches schema=${t.read.columns.toSeq} rows=$rows")
      schemaOk && valsOk && rows.size == batches.size
    } }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
