package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.merge.ParquetTable
import graft.operators.CdcDemux
import graft.pipeline.{IngestionJob, ScdTarget, TableConfig}
import graft.sources.{OffsetTracker, Sources}

/** End-to-end streaming CDC: envelope JSON files -> file stream -> demux ->
  * foreachBatch SCD1 merge -> ParquetTable, with exactly-once semantics
  * (checkpoint + txn record). The file stream stands in for the reference's
  * Kafka+Avro source with identical envelope semantics. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def writeEnvelopes(dir: String, file: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, file), rows.mkString("\n"))
  }

  private def env(op: String, id: Long, name: String): String =
    s"""{"value":{"op":"$op","before":{"id":$id,"name":"$name"},"after":{"id":$id,"name":"$name"},"source":{"db":"db0","server_id":1}}}"""

  /** The SCD target of a control row keyed by `id`, under a fresh root. */
  private def target(dir: String, scdType: String = "scd1",
                     partitionKeys: Seq[String] = Nil): ScdTarget =
    new ScdTarget(spark, TableConfig("pd_stream", "t", scdType, joinKeys = Seq("id"),
      partitionKeys = partitionKeys), tmpDir(dir))

  test("CDC file stream -> demux -> foreachBatch SCD1 merge, upserts + deletes") {
    val inDir = tmpDir("cdc_in")
    val ckpt = tmpDir("cdc_ckpt")
    val sink = target("cdc_table")
    val table = sink.table

    writeEnvelopes(inDir, "batch1.json", Seq(
      env("c", 1, "alice"), env("c", 2, "bob"), env("u", 1, "alicia")))

    val stream = Sources.cdcFileStream(spark, inDir, payload, maxFilesPerTrigger = 5)
    val cfg = WriteStreamConfig(checkpointLocation = ckpt, triggerMode = "AvailableNow")

    def runOnce(): Unit = {
      val q = StreamSink.startForeachBatch(stream, cfg, (batch, batchId) => {
        val demuxed = CdcDemux.demux(batch)
        // soft-delete semantics: op=d rows overwrite with deleted name marker
        val upserts = demuxed.filter(col("row_active"))
          .select(col("id"), col("name"))
        val deletes = demuxed.filter(!col("row_active"))
          .select(col("id"), lit("__deleted__").as("name"))
        val merged = upserts.unionByName(deletes)
        StreamSink.scdBatch(sink)(merged, batchId)
      })
      q.awaitTermination()
    }
    runOnce()
    // dedup within the batch is by SCD1 merge order: last writer wins is NOT
    // guaranteed for same-key rows in one batch, so check the final key set
    val after1 = table.read.collect().map(r => r.getLong(0)).toSet
    assert(after1 == Set(1L, 2L))

    // second batch: update bob, delete alice, insert carol
    writeEnvelopes(inDir, "batch2.json", Seq(
      env("u", 2, "bobby"), env("d", 1, "alicia"), env("c", 3, "carol")))
    runOnce()
    val after2 = table.read.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2 == Map(1L -> "__deleted__", 2L -> "bobby", 3L -> "carol"))

    // replaying with the same checkpoint must be a no-op (no new files)
    val v = table.latestVersion
    runOnce()
    assert(table.latestVersion == v)
  }

  test("crash between data write and commit log: nothing visible, restart commits exactly once") {
    val inDir = tmpDir("crash_in")
    val ckpt = tmpDir("crash_ckpt")
    val sink = target("crash_table")
    val table = sink.table
    table.create(Seq((1L, "alice")).toDF("id", "name"))

    def runOnce(): Unit = {
      val stream = Sources.cdcFileStream(spark, inDir, payload, maxFilesPerTrigger = 5)
      val q = StreamSink.startForeachBatch(stream,
        WriteStreamConfig(checkpointLocation = ckpt), (batch, batchId) => {
          val upserts = CdcDemux.demux(batch).filter(col("row_active"))
            .select(col("id"), col("name"))
          StreamSink.scdBatch(sink)(upserts, batchId)
        })
      q.awaitTermination()
    }

    writeEnvelopes(inDir, "b1.json", Seq(env("u", 1, "alicia"), env("c", 2, "bob")))
    // kill the stream INSIDE the merge: after the new snapshot's data files
    // are written, before the commit-log record that would make them visible
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    table.onPreCommit = () => {
      fired.set(true)
      throw new RuntimeException("injected crash")
    }
    intercept[Exception] { runOnce() }
    table.onPreCommit = () => ()
    // the crash hit the real window: the seam runs only once the new
    // version's data files are written...
    assert(fired.get, "the batch failed before its data write — the injected window is wrong")
    // ...but nothing became visible: version and contents are pre-batch
    assert(table.latestVersion == 0L)
    assert(table.read.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "alice"))
    // restart from the same checkpoint: the batch replays (its txn never
    // reached the log), the merge re-runs over the SAME snapshot slot, and
    // the commit lands exactly once
    runOnce()
    assert(table.latestVersion == 1L)
    assert(table.read.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "alicia", 2L -> "bob"))
    // and a further replay with the recorded txn stays a no-op
    runOnce()
    assert(table.latestVersion == 1L)
  }

  test("partitioned table: crash after data write replays idempotently to exactly-once state") {
    // the same atomic guarantee as the snapshot layout: the crash leaves
    // version and contents as they were, and the restart commits once
    val inDir = tmpDir("pcrash_in")
    val ckpt = tmpDir("pcrash_ckpt")
    val sink = target("pcrash_table", partitionKeys = Seq("region"))
    val table = sink.table
    table.create(Seq((1L, "east", "alice"), (2L, "west", "bob"))
      .toDF("id", "region", "name"))

    val payload3 = StructType(Seq(StructField("id", LongType),
      StructField("region", StringType), StructField("name", StringType)))
    def env3(op: String, id: Long, region: String, name: String): String =
      s"""{"value":{"op":"$op","before":{"id":$id,"region":"$region","name":"$name"},"after":{"id":$id,"region":"$region","name":"$name"},"source":{"db":"db0","server_id":1}}}"""

    def runOnce(): Unit = {
      val stream = Sources.cdcFileStream(spark, inDir, payload3)
      val q = StreamSink.startForeachBatch(stream,
        WriteStreamConfig(checkpointLocation = ckpt), (batch, batchId) => {
          val upserts = CdcDemux.demux(batch).filter(col("row_active"))
            .select(col("id"), col("region"), col("name"))
          StreamSink.scdBatch(sink)(upserts, batchId)
        })
      q.awaitTermination()
    }

    writeEnvelopes(inDir, "b1.json", Seq(
      env3("u", 1, "east", "alicia"), env3("c", 3, "west", "carol")))
    table.onPreCommit = () => throw new RuntimeException("injected crash")
    intercept[Exception] { runOnce() }
    table.onPreCommit = () => ()
    def state() = table.read.select("id", "name", "region").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // nothing became visible: version and contents are pre-batch
    assert(table.latestVersion == 0L)
    assert(state() == Map(1L -> ("alice", "east"), 2L -> ("bob", "west")))
    val expected = Map(1L -> ("alicia", "east"), 2L -> ("bob", "west"),
      3L -> ("carol", "west"))
    // restart: the batch replays (its txn never reached the log) and the
    // commit lands exactly once
    runOnce()
    assert(table.latestVersion == 1L)
    assert(state() == expected)
    // further replay with the recorded txn is a no-op
    runOnce()
    assert(table.latestVersion == 1L)
    assert(state() == expected)
  }

  test("WriteStreamConfig applies trigger modes and options") {
    val cfg = WriteStreamConfig("/tmp/x", triggerMode = "ProcessingTime",
      triggerDuration = "10 seconds")
    assert(cfg.trigger == org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
    assert(WriteStreamConfig("/tmp/x", triggerMode = "Once").trigger ==
      org.apache.spark.sql.streaming.Trigger.Once())
    assert(WriteStreamConfig("/tmp/x").trigger ==
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
  }

  test("offset tracker builds startingOffsets JSON with earliest fallback") {
    val status = Seq(
      ("t1", 0, 100L), ("t1", 0, 150L), ("t1", 2, 30L), ("t2", 0, 7L)
    ).toDF("topic", "partition", "endOffset")
    val json = OffsetTracker.startingOffsets(status, "t1", numPartitions = 3)
    assert(json == """{"t1": {"0": 150, "1": -2, "2": 30}}""")
  }

  test("offsetRanges aggregates min/max per (topic, partition)") {
    val df = Seq(("t", 0, 5L), ("t", 0, 9L), ("t", 1, 2L))
      .toDF("topic", "partition", "offset")
    val out = OffsetTracker.offsetRanges(df)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((0, 5L, 9L), (1, 2L, 2L)))
  }

  test("streaming SCD4: history snapshots accumulate across micro-batches") {
    val inDir = tmpDir("scd4_in")
    val ckpt = tmpDir("scd4_ckpt")
    val sink = target("scd4_cur", scdType = "scd4")
    val (current, history) = (sink.table, sink.history)

    def env4(op: String, id: Long, name: String): String =
      s"""{"value":{"op":"$op","before":{"id":$id,"name":"$name"},"after":{"id":$id,"name":"$name"},"source":{"db":"db0","server_id":1}}}"""
    val payload4 = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))

    def runOnce(): Unit = {
      val stream = Sources.cdcFileStream(spark, inDir, payload4)
      val q = StreamSink.startForeachBatch(stream,
        WriteStreamConfig(checkpointLocation = ckpt),
        (batch, batchId) => {
          val demuxed = CdcDemux.demux(batch)
            .select(col("id"), col("name"), lit(false).as("deleted_flag"),
              col("row_active"), current_timestamp().as("updated_at"))
          StreamSink.scdBatch(sink)(demuxed, batchId)
        })
      q.awaitTermination()
    }

    writeEnvelopes(inDir, "b1.json", Seq(env4("c", 1, "v1")))
    runOnce()
    assert(current.read.select("name").as[String].collect().toSeq == Seq("v1"))
    assert(!history.exists) // first batch only created current, no history yet

    writeEnvelopes(inDir, "b2.json", Seq(env4("u", 1, "v2")))
    runOnce()
    writeEnvelopes(inDir, "b3.json", Seq(env4("u", 1, "v3")))
    runOnce()
    // delete in its own batch: one update row per target key per merge
    // (the MergeInto caller contract; the reference dedups on updated_at)
    writeEnvelopes(inDir, "b4.json", Seq(env4("d", 1, "v3")))
    runOnce()
    // current holds the final state; op=d soft-deleted it
    val cur = current.read.select("name", "deleted_flag")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(cur.length == 1 && cur.head._2 == true)
    // history snapshotted the pre-image of each ACTIVE update (v1 before b2,
    // v2 before b3); the soft delete (row_active=false) adds no snapshot
    assert(history.read.select("name").as[String].collect().toSet == Set("v1", "v2"))
  }

  test("a replayed micro-batch returns no fact and commits nothing") {
    val sink = target("replay_table")
    val batch = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
    val fact = IngestionJob.writeBatch(sink, batch, Some(("app", 0L)))
    assert(fact.map(f => (f.pipelineDefId, f.inputRows, f.outputRows)) ==
      Some(("pd_stream", 2L, 2L)))
    val v = sink.table.latestVersion
    assert(IngestionJob.writeBatch(sink, batch, Some(("app", 0L))).isEmpty)
    assert(sink.table.latestVersion == v)
    // the sink's own replay: its first delivery of batch 1 commits, the second does not
    StreamSink.scdBatch(sink)(batch, 1L)
    StreamSink.scdBatch(sink)(batch, 1L)
    assert(sink.table.latestVersion == v + 1)
  }

  test("withJournal contains batch failures: error rows + status journaled, then rethrow") {
    val journal = new graft.pipeline.Journal(spark, tmpDir("sj"))
    val failing = StreamSink.withJournal(
      (_, _) => throw new RuntimeException("merge exploded"),
      journal, "pd9", "writer")
    val batch = Seq((1, "x")).toDF("k", "v")
    val thrown = intercept[RuntimeException](failing(batch, 42L))
    assert(thrown.getMessage == "merge exploded")
    assert(journal.failedPipelines == Seq("pd9"))
    assert(journal.errors.read.count() == 1)
    // success path journals Finished
    val ok = StreamSink.withJournal((_, _) => (), journal, "pd9", "writer")
    ok(batch, 43L)
    assert(journal.latestStatus.filter(col("status") === "Finished").count() == 1)
  }

  test("continuous dedup ingestion: cross-batch and in-batch dups dropped, replay is a no-op") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val inDir = tmpDir("dedup_in")
    val ckpt = tmpDir("dedup_ckpt")
    val table = new ParquetTable(spark, tmpDir("dedup_table"))

    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def drain(): Unit = {
      val stream = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).json(inDir)
      val q = StreamSink.startForeachBatch(stream,
        WriteStreamConfig(checkpointLocation = ckpt),
        StreamSink.dedupAppendBatch(table, "text", "doc_id"))
      q.awaitTermination()
    }

    // batch 1: an in-batch duplicate pair (2 and 3) -> min doc_id survives
    writeEnvelopes(inDir, "b1.json",
      Seq(doc(1, "alpha"), doc(3, "beta"), doc(2, "beta")))
    drain()
    val after1 = table.read.select("doc_id").as[Long].collect().toSet
    assert(after1 == Set(1L, 2L))

    // batch 2: one cross-batch dup ("alpha"), one genuinely new doc
    writeEnvelopes(inDir, "b2.json", Seq(doc(9, "alpha"), doc(10, "gamma")))
    drain()
    val after2 = table.read.select("doc_id").as[Long].collect().toSet
    assert(after2 == Set(1L, 2L, 10L))

    // replay: wipe the checkpoint so both files re-deliver -> txn record
    // makes both batches no-ops
    val deleted = java.nio.file.Files.walk(Paths.get(ckpt)).iterator()
    scala.jdk.CollectionConverters.IteratorHasAsScala(deleted).asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    drain()
    assert(table.read.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 10L))
    assert(table.read.count() == 3)
  }

  test("continuous near-dup ingestion: in-batch, cross-batch and index survivors") {
    val inDir = tmpDir("nd_in")
    val ckpt = tmpDir("nd_ckpt")
    val table = new ParquetTable(spark, tmpDir("nd_table"))
    val index = new ParquetTable(spark, tmpDir("nd_index"))
    val payloadT = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def envT(id: Long, text: String): String =
      s"""{"value":{"op":"c","before":null,"after":{"doc_id":$id,"text":"$text"},"source":{"db":"db0","server_id":1}}}"""

    def runOnce(): Unit = {
      val stream = Sources.cdcFileStream(spark, inDir, payloadT)
      val q = StreamSink.startForeachBatch(stream,
        WriteStreamConfig(checkpointLocation = ckpt), (batch, batchId) => {
          val docs = CdcDemux.demux(batch).filter(col("row_active"))
            .select(col("doc_id"), col("text"))
          StreamSink.nearDupFilterBatch(table, index, "text", "doc_id",
            threshold = 0.5)(docs, batchId)
        })
      q.awaitTermination()
    }

    val longDoc = (1 to 12).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val otherDoc = (1 to 12).map(i => s"omega$i psi$i chi$i").mkString(" ")
    // batch 1: 1+2 exact dups (keep 1), 3 near-dup of 1 (dropped), 4 distinct
    writeEnvelopes(inDir, "b1.json", Seq(
      envT(1L, longDoc), envT(2L, longDoc),
      envT(3L, longDoc + " tailword"), envT(4L, otherDoc)))
    runOnce()
    assert(table.read.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    assert(index.read.select("id").as[Long].collect().toSet == Set(1L, 4L))

    // batch 2: 5 near-dups doc 1 via the INDEX (dropped, corpus not re-read
    // as text), 6 is fresh -> kept
    writeEnvelopes(inDir, "b2.json", Seq(
      envT(5L, longDoc + " extra"), envT(6L, "totally different words here")))
    runOnce()
    assert(table.read.select("doc_id").as[Long].collect().toSet == Set(1L, 4L, 6L))
    assert(index.read.select("id").as[Long].collect().toSet == Set(1L, 4L, 6L))

    // replay: no new versions on either table
    val (tv, iv) = (table.latestVersion, index.latestVersion)
    runOnce()
    assert(table.latestVersion == tv && index.latestVersion == iv)
  }

  test("stream-static SCD2 temporal enrichment: each fact gets its own-date version; replay no-op") {
    import java.sql.Date
    val inDir = tmpDir("tj_in")
    val ckpt = tmpDir("tj_ckpt")
    val out = new ParquetTable(spark, tmpDir("tj_out"))
    // static SCD2 dimension: key 1 has two versions, key 2 one open version
    val dim = Seq(
      (1L, "v1", Date.valueOf("2020-01-01"), Option(Date.valueOf("2021-01-01"))),
      (1L, "v2", Date.valueOf("2021-01-01"), Option.empty[Date]),
      (2L, "only", Date.valueOf("2020-06-01"), Option.empty[Date])
    ).toDF("k", "ver", "eff_date", "expiry_date")
    val factSchema = StructType(Seq(StructField("fid", LongType),
      StructField("k", LongType), StructField("fdate", DateType)))
    def fact(fid: Long, k: Long, d: String): String =
      s"""{"fid":$fid,"k":$k,"fdate":"$d"}"""
    writeEnvelopes(inDir, "f1.json", Seq(
      fact(10, 1, "2020-05-05"), fact(11, 1, "2021-03-01")))
    val cfg = WriteStreamConfig(checkpointLocation = ckpt,
      triggerMode = "AvailableNow")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(factSchema).json(inDir)
      val q = StreamSink.startForeachBatch(stream, cfg, (batch, batchId) =>
        out.withLock {
          if (!out.seenTxn("tj", batchId)) {
            val enriched = graft.merge.Scd
              .scd2TemporalJoin(batch, dim, "k", "k", "fdate")
              .select(col("fid"), col("ver")).localCheckpoint()
            out.append(enriched, txn = Some(("tj", batchId)))
          }
        })
      q.awaitTermination()
    }
    runOnce()
    val after1 = out.read.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after1 == Map(10L -> "v1", 11L -> "v2"),
      "facts must join the version valid on their own date")
    // batch 2: boundary date goes to the successor; orphan key enriches null
    writeEnvelopes(inDir, "f2.json", Seq(
      fact(12, 1, "2021-01-01"), fact(13, 2, "2020-07-01"),
      fact(14, 9, "2020-07-01")))
    runOnce()
    val after2 = out.read.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(after2(12L).contains("v2") && after2(13L).contains("only"))
    assert(after2(14L).isEmpty, "orphan fact survives with a NULL version")
    // replay with the same checkpoint: no new table version
    val v = out.latestVersion
    runOnce()
    assert(out.latestVersion == v)
  }

  test("streaming append sink writes through the declarative config") {
    val inDir = tmpDir("app_in")
    val outDir = tmpDir("app_out")
    writeEnvelopes(inDir, "b.json", Seq(env("c", 1, "x")))
    val stream = Sources.cdcFileStream(spark, inDir, payload)
      .select(col("value.after.*"))
    val cfg = WriteStreamConfig(checkpointLocation = tmpDir("app_ckpt"),
      outputMode = "append")
    val q = StreamSink.startAppend(stream, cfg, outDir)
    q.awaitTermination()
    assert(spark.read.parquet(outDir).count() == 1)
  }
}
