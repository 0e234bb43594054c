package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.functions.AesCodec
import graft.merge.{MergeInto, ParquetTable, Scd}
import graft.operators.CdcProcessor
import graft.pipeline.{IngestionJob, Journal, TableConfig}
import graft.sources.Sources

/** The paper's ingestion path as a workload: a control table of pipelines,
  * each taking successive CDC batches through `IngestionJob.run` with the
  * `Journal` on, closed loop from one driver.
  *
  *   - round 0 bootstraps every target and round 1 is an untimed warm
  *     round (both are set-up); timed rounds take batches 2, 3, ... until
  *     the time budget is spent;
  *   - one round = `IngestionJob.run` + the rerun-selection read
  *     `Journal.failedPipelines` + a downstream consumer read of the
  *     targets through `ParquetTable.read`.
  *
  * Outputs are checked after timing: every target must equal the same
  * batches folded serially through the pure processor/SCD functions, and
  * the journal must account for every pipeline-batch. */
final class Ingest(b: Bench) {
  import Bench._
  import Ingest.Round
  private val spark = b.spark
  private val dir = s"${b.data}/ingest"

  private implicit val formats: Formats = DefaultFormats
  private val manifest = JsonMethods.parse(
    new String(Files.readAllBytes(Paths.get(s"$dir/manifest.json")), "UTF-8"))
  private val lastBatch = (manifest \ "rounds").extract[Int]
  private val batchRows = (manifest \ "rows").extract[Map[String, Seq[Long]]]

  val cfgs: Seq[TableConfig] = spark.read.parquet(s"$dir/table_details.parquet")
    .collect().toSeq.map(TableConfig.fromRow(_, s"${b.work}/checkpoints"))
    .sortBy(_.pipelineDefId)
  private val codec = AesCodec("perfbench-salt", "perfbench-secret")
  private val rules = CdcProcessor.rulesFromPiiDetails(
    spark.read.parquet(s"$dir/pii_column_details.parquet"), codec)

  private def batch(cfg: TableConfig, n: Int): DataFrame =
    Sources.parquet(spark, f"$dir/${cfg.tableName}/b$n%03d.parquet")
  private def rowsOf(n: Int): Long = cfgs.map(c => batchRows(c.tableName)(n)).sum
  private def keys(cfg: TableConfig) = MergeInto.extractJoinKeys(cfg.joinKeys)

  /** One ingestion deployment: target tables plus its journal. */
  final class Target(root: String) {
    val tgt = s"$root/tgt"
    val journalRoot = s"$root/journal"
    val journal = new Journal(spark, journalRoot)
    def table(cfg: TableConfig): ParquetTable =
      new ParquetTable(spark, s"$tgt/${cfg.tableName}", cfg.partitionKeys)
    def history(cfg: TableConfig): ParquetTable =
      new ParquetTable(spark, s"$tgt/${cfg.tableName}_history")
  }

  private def ingest(t: Target, n: Int): Map[String, Boolean] =
    IngestionJob.run(spark, cfgs, cfg => () => batch(cfg, n), t.tgt,
      journal = Some(t.journal), parallelism = b.cores, piiRules = rules)

  /** What a downstream consumer reads after a round: each target's current
    * rows, and per tenant the point-in-time join of its orders against its
    * SCD2 customer dimension (the customer version valid when the order last
    * changed). */
  private def consumerRead(read: TableConfig => DataFrame): Seq[Row] = {
    val byName = cfgs.map(c => c.tableName -> c).toMap
    val current = cfgs.map { c =>
      val live = c.scdType match {
        case "scd2" => read(c).filter(col("current_flag"))
        case "scd4" => read(c).filter(!col("deleted_flag"))
        case _ => read(c)
      }
      live.agg(count(lit(1)).as("n")).select(lit(c.tableName).as("target"), col("n"))
    }.reduce(_ unionByName _)
    val joined = cfgs.filter(_.tableName.endsWith("_orders")).map { o =>
      val cust = byName(o.tableName.stripSuffix("_orders") + "_customer")
      Scd.scd2TemporalJoin(read(o), read(cust), "o_custkey", "c_custkey",
          "updated_at", effCol = "eff_date", expCol = "expiry_date")
        .agg(count(lit(1)).as("orders"), count(col("d.c_custkey")).as("matched"))
        .select(lit(o.tableName).as("target"), col("orders"), col("matched"))
    }.reduce(_ unionByName _)
    current.collect().toSeq ++ joined.collect()
  }

  /** Run one ingestion; every pipeline that does not finish is a failure. */
  private def ingestChecked(t: Target, n: Int): Unit = {
    val ok = b.attempt(s"IngestionJob.run b$n")(ingest(t, n)).getOrElse(Map.empty)
    cfgs.foreach { c =>
      b.check(s"pipeline ${c.pipelineDefId} b$n")(
        ok.getOrElse(s"${c.pipelineDefId}_${c.tableName}", false))
    }
  }

  /** One timed round. A traced round also records the files it added under
    * the targets and the journal (listed outside its wall time). */
  private def round(t: Target, n: Int): Round = {
    val traced = b.tracer.enabled
    val before = if (traced) (files(t.tgt), files(t.journalRoot)) else (Map.empty, Map.empty)
    val startMs = System.currentTimeMillis()
    val (_, wall) = timed {
      b.tracer.span(s"round b$n", "pipeline") {
        b.tracer.span("IngestionJob.run", "pipeline")(ingestChecked(t, n))
        b.tracer.span("Journal.failedPipelines", "journal") {
          b.check(s"Journal.failedPipelines b$n")(t.journal.failedPipelines.isEmpty)
        }
        b.tracer.span("consumer read", "table") {
          b.attempt(s"consumer read b$n")(consumerRead(c => t.table(c).read))
        }
      }
    }
    val r = Round(n, startMs, System.currentTimeMillis(), wall, rowsOf(n))
    if (!traced) r
    else {
      val tgt = files(t.tgt)
      r.copy(newTargetFiles = (tgt -- before._1.keySet).toSeq,
        newJournalFiles = (files(t.journalRoot).keySet -- before._2.keySet).size)
    }
  }

  def run(): Map[String, Any] = {
    val main = new Target(s"${b.work}/main")
    val (_, bootS) = timed(ingestChecked(main, 0))
    // the first merge round after a bootstrap runs cold (about a third
    // slower), so it is set-up, not a sample
    val warm = round(main, 1)
    val setupS = b.sessionS + bootS + warm.wall

    // Timed phase, closed loop; the traced run traces every round.
    val rounds = scala.collection.mutable.ArrayBuffer[Round]()
    val t0 = System.nanoTime()
    var n = 2
    b.tracer.enabled = b.traced
    while (n <= lastBatch && (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < b.seconds)) {
      rounds += round(main, n)
      n += 1
    }
    b.tracer.enabled = false
    val heap = b.heapMb()
    val (_, checkS) = timed(checkOutputs(main, 0 until n))

    val jobs = b.log.jobs()
    val timedRounds = rounds.toSeq
    val inRounds = timedRounds.flatMap(r => JobLog.within(jobs, r.startMs, r.endMs))
    val c = JobLog.sum(inRounds)
    val rows = timedRounds.map(_.rows).sum
    val wall = timedRounds.map(_.wall).sum
    val e2e = Map(
      "round_p50_s" -> median(timedRounds.map(_.wall)),
      "rows_per_s" -> rows / wall,
      "jobs_per_op" -> inRounds.size.toDouble / (timedRounds.size * cfgs.size),
      "bytes_written_per_row" -> (c.outBytes + c.shuffleBytes).toDouble / rows,
      "driver_heap_mb" -> heap,
      "setup_s" -> setupS)
    val diag = Map("rounds" -> timedRounds.size, "round_walls_s" -> timedRounds.map(_.wall),
      "round_tail" -> tail(timedRounds.map(_.wall)), "pipelines" -> cfgs.size,
      "cdc_rows_per_round" -> rows / timedRounds.size, "session_s" -> b.sessionS,
      "bootstrap_s" -> bootS, "warm_round_s" -> warm.wall, "check_s" -> checkS)
    val layers =
      if (b.traced) b.attempt("layer pass")(layerMetrics(timedRounds)).getOrElse(Map.empty)
      else Map.empty
    Map("metrics" -> e2e, "layers" -> layers, "diag" -> diag)
  }

  // ------------------------------------------------------------------
  // Output checks (untimed)
  // ------------------------------------------------------------------

  /** The batches folded serially through the pure functions: processor,
    * newest-per-key dedup, then the SCD apply of the pipeline's type.
    * Returns the expected target and, for SCD4, the expected history. */
  private def fold(cfg: TableConfig, batches: Seq[Int]): (DataFrame, Option[DataFrame]) = {
    var target: DataFrame = null
    var history: Option[DataFrame] = None
    batches.foreach { n =>
      val updates = Scd.dedupByKey(CdcProcessor.process(batch(cfg, n),
        piiRules = rules, joinKeys = keys(cfg)), keys(cfg), cfg.dedupKeys)
      def empty(schemaOf: DataFrame) = if (target == null) schemaOf.filter(lit(false)) else target
      target = cfg.scdType match {
        case "scd2" =>
          val (mc, um, im) = cfg.scd2Spec.get
          val shaped = updates.alias("updates")
            .select(im.toSeq.map { case (k, v) => expr(v).as(k) }: _*)
          Scd.scd2Apply(empty(shaped), updates, cfg.joinKeys, mc, um, im, cfg.extraJoinCond)
        case "scd4" =>
          val (cur, hist) = Scd.scd4Apply(empty(updates), updates, cfg.joinKeys,
            cfg.updatedAtCol, cfg.extraJoinCond)
          history = Some(history.fold(hist)(_.unionByName(hist)).localCheckpoint())
          cur
        case _ =>
          Scd.scd1Apply(empty(updates), updates, cfg.joinKeys, cfg.matched,
            cfg.notMatched, cfg.extraJoinCond)
      }
      // SCD2 reads its target twice, so an unmaterialized fold would
      // double its plan with every batch
      target = target.localCheckpoint()
    }
    (target, history)
  }

  /** Same column names and the same multiset of rows, compared by row count
    * and the sum of per-row hashes over the columns in name order: one job. */
  private def sameContent(actual: DataFrame, expected: DataFrame): Boolean = {
    val cs = actual.columns.sorted.toSeq
    cs == expected.columns.sorted.toSeq && {
      def side(df: DataFrame, n: Int) = df.select(lit(n).as("side"),
        xxhash64(cs.map(col): _*).cast("decimal(38,0)").as("h"))
      val sums = side(actual, 0).unionByName(side(expected, 1)).groupBy("side")
        .agg(count(lit(1)), sum(col("h"))).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      sums.get(0) == sums.get(1)
    }
  }

  private def checkOutputs(t: Target, applied: Seq[Int]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(b.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      cfgs.map(cfg => cfg -> Future {
        val (cur, hist) = fold(cfg, applied)
        sameContent(t.table(cfg).read, cur) &&
          hist.forall(sameContent(t.history(cfg).read, _))
      }).foreach { case (cfg, f) =>
        b.check(s"fold check ${cfg.tableName}")(Await.result(f, Duration.Inf))
      }
    } finally pool.shutdown()

    // the journal accounts for every pipeline-batch
    lazy val facts = t.journal.facts.read.agg(count(lit(1)), sum(col("inputRows"))).first()
    b.check("journal fact rows")(facts.getLong(0) == cfgs.size.toLong * applied.size)
    b.check("journal input rows")(facts.getLong(1) == applied.map(rowsOf).sum)
    b.check("journal status rows")(
      t.journal.status.read.count() == cfgs.size.toLong * applied.size)
    b.check("journal latest status") {
      val latest = t.journal.latestStatus.select("pipelineDefId", "status").collect()
      latest.length == cfgs.size && latest.forall(_.getString(1) == "Finished")
    }
  }

  // ------------------------------------------------------------------
  // Per-layer metrics (traced run only)
  // ------------------------------------------------------------------

  private def files(root: String): Map[Path, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(f => f -> Files.size(f)).toMap
  }

  /** Direct calls into each layer, one pipeline-batch at a time, each output
    * forced inside its own span so each layer's time and jobs are its own. */
  private def layerPass(t: Target, n: Int): Unit =
    cfgs.foreach { cfg =>
      b.tracer.span(s"${cfg.tableName} b$n", "pipeline") {
        val raw = b.tracer.span("Sources.parquet", "sources") {
          batch(cfg, n).localCheckpoint()
        }
        val processed = b.tracer.span("CdcProcessor.process", "operators") {
          CdcProcessor.process(raw, piiRules = rules, joinKeys = keys(cfg)).localCheckpoint()
        }
        val rows = processed.count()
        val table = t.table(cfg)
        b.tracer.span(s"Scd.write ${cfg.scdType}", "merge") {
          cfg.scdType match {
            case "scd2" =>
              val (mc, um, im) = cfg.scd2Spec.get
              Scd.writeScd2(table, processed, cfg.joinKeys, mc, um, im,
                dedupOrderCols = cfg.dedupKeys, extraCondition = cfg.extraJoinCond)
            case "scd4" =>
              Scd.writeScd4(table, t.history(cfg), processed, cfg.joinKeys,
                cfg.updatedAtCol, dedupOrderCols = cfg.dedupKeys,
                extraCondition = cfg.extraJoinCond)
            case _ =>
              Scd.writeScd1(table, processed, cfg.joinKeys, cfg.matched, cfg.notMatched,
                dedupOrderCols = cfg.dedupKeys, extraCondition = cfg.extraJoinCond)
          }
        }
        b.tracer.span("Journal.logFact", "journal") {
          t.journal.logFact(cfg.pipelineDefId, s"layers-b$n", rows, rows, table.lastMetrics)
        }
        b.tracer.span("Journal.logStatus", "journal") {
          t.journal.logStatus(cfg.pipelineDefId, cfg.tableName, "Finished")
        }
      }
    }

  private def layerMetrics(traced: Seq[Round]): Map[String, Double] = {
    // the layer pass replays the warm batch on a fresh target
    val layers = new Target(s"${b.work}/layers")
    ingest(layers, 0)
    b.tracer.enabled = true
    layerPass(layers, 1)
    b.tracer.enabled = false

    val jobs = b.log.jobs()
    val spans = b.tracer.all
    val own = b.tracer.ownJobs(jobs)
    def roundJobs(r: Round) = JobLog.within(jobs, r.startMs, r.endMs)
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def cnt(ss: Seq[Span]) = JobLog.sum(ss.flatMap(s => own.getOrElse(s.id, Nil)))
    val pb = cfgs.size.toDouble
    val nTraced = traced.size.toDouble
    val src = named(_ == "Sources.parquet")
    val cdc = named(_ == "CdcProcessor.process")
    val merge = named(_.startsWith("Scd.write"))
    val jrn = named(_.startsWith("Journal.log"))
    val mergeC = cnt(merge)
    val tracedJobs = traced.map(roundJobs)
    val tracedC = JobLog.sum(tracedJobs.flatten)
    val written = traced.flatMap(_.newTargetFiles)
    val data = written.filter(_._1.toString.endsWith(".parquet"))
    Map(
      "pipeline.round_s" -> median(traced.map(_.wall)),
      "pipeline.driver_only_s" -> median(traced.map(r =>
        r.wall - JobLog.busyMs(roundJobs(r), r.startMs, r.endMs) / 1000.0)),
      "pipeline.jobs" -> tracedJobs.map(_.size).sum / (pb * nTraced),
      "pipeline.core_idle_share" ->
        (1 - tracedC.taskMs / 1000.0 / (traced.map(_.wall).sum * b.cores)),
      "sources.s" -> secs(src),
      "sources.bytes_read" -> cnt(src).inBytes.toDouble,
      "operators.cdc_s" -> secs(cdc),
      "operators.cdc_task_cpu_s" -> cnt(cdc).cpuNs / 1e9,
      "merge.s" -> secs(merge),
      "merge.task_cpu_s" -> mergeC.cpuNs / 1e9,
      "merge.shuffle_bytes" -> mergeC.shuffleBytes.toDouble,
      "merge.spill_bytes" -> mergeC.spillBytes.toDouble,
      "merge.jobs" -> mergeC.jobs / pb,
      "merge.rewrite_rows_per_input_row" -> mergeC.outRecords / rowsOf(1).toDouble,
      "table.commits" -> written.count(_._1.toString.contains("_graft_log")) / nTraced,
      "table.files_written" -> data.size / nTraced,
      "table.bytes_written" -> data.map(_._2).sum / nTraced,
      "table.read_s" -> median(named(_ == "consumer read").map(_.seconds)),
      "journal.s" -> secs(jrn),
      "journal.jobs" -> cnt(jrn).jobs / pb,
      "journal.files_written" -> traced.map(_.newJournalFiles).sum / nTraced,
      "journal.failed_pipelines_s" ->
        median(named(_ == "Journal.failedPipelines").map(_.seconds)),
      "trace.overhead_share" ->
        traced.map(r => b.tracer.overheadSeconds(r.startMs, r.endMs)).sum / traced.map(_.wall).sum)
  }
}

object Ingest {
  private final case class Round(batch: Int, startMs: Long,
                                 endMs: Long, wall: Double, rows: Long,
                                 newTargetFiles: Seq[(Path, Long)] = Nil,
                                 newJournalFiles: Int = 0)
}
