package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.merge.{ParquetTable, Scd}
import graft.operators.CdcProcessor

/** The tables one control row writes, built once from `(cfg, targetRoot)`:
  * `<targetRoot>/<tableName>`, partitioned by the row's partition keys, and
  * for SCD4 its unpartitioned `<tableName>_history`. A stream keeps one
  * target for its whole life, so each handle's txn check folds only the log
  * records written since the previous batch. */
final class ScdTarget(spark: SparkSession, val cfg: TableConfig, targetRoot: String) {
  val table = new ParquetTable(spark, s"$targetRoot/${cfg.tableName}", cfg.partitionKeys)
  lazy val history = new ParquetTable(spark, s"${table.root}_history")
}

/** Metadata-driven ingestion: one reader -> processor -> writer pipeline per
  * `table_details` row — the reference's entry-point shape (reference
  * M/configbuilder/Start.scala:70-118 building a 3-node DAG per control row
  * and fanning all pipelines out on a driver pool).
  */
object IngestionJob {

  /** Build a batch CDC pipeline for one control row: `source` supplies the
    * envelope frame (already read), the processor applies the config-driven
    * transforms, the writer merges into the target ParquetTable by SCD type
    * and hands its journal fact to `onFact`. */
  def buildPipeline(spark: SparkSession, cfg: TableConfig,
                    source: () => DataFrame,
                    targetRoot: String,
                    shardMappings: Option[DataFrame] = None,
                    onFact: Journal.Fact => Unit = _ => (),
                    piiRules: Seq[CdcProcessor.PiiRule] = Nil): Pipeline = {
    val p = new Pipeline(s"${cfg.pipelineDefId}_${cfg.tableName}", spark)

    p.addTask(new Task {
      val name = s"${cfg.tableName}_reader"
      def run(s: SparkSession, in: Map[String, DataFrame]): Map[String, DataFrame] =
        Map("rawdf" -> source())
    })

    p.addAfter(s"${cfg.tableName}_reader", new Task {
      val name = s"${cfg.tableName}_processor"
      def run(s: SparkSession, in: Map[String, DataFrame]): Map[String, DataFrame] =
        Map("processedDf" -> CdcProcessor.process(
          in("rawdf"),
          shardMappings = shardMappings,
          omittedCols = cfg.omittedCols,
          piiRules = piiRules,
          joinKeys = graft.merge.MergeInto.extractJoinKeys(cfg.joinKeys)))
    })

    val target = new ScdTarget(spark, cfg, targetRoot)
    p.addAfter(s"${cfg.tableName}_processor", new Task {
      val name = s"${cfg.tableName}_writer"
      def run(s: SparkSession, in: Map[String, DataFrame]): Map[String, DataFrame] = {
        writeBatch(target, in("processedDf")).foreach(onFact)
        Map("written" -> target.table.read)
      }
    })
    p
  }

  /** The one writer that turns a control row into an SCD write: the
    * pipeline writer, the [[PipelineBuilder]] writer and
    * [[graft.streaming.StreamSink.scdBatch]] all call it. It merges the
    * processed batch into `target` by the row's SCD type, under `txn` when
    * one is given, and returns the batch's journal fact — `None` when the
    * txn was already committed and the replay was skipped.
    *
    * The SCD writer materializes the batch once and returns its commit's
    * metrics, counted by that same job: `numInputRows` (the processed rows)
    * becomes the fact's inputRows and `numSourceRows` (the rows left after
    * the dedup) its outputRows. The fact's runId is a fresh UUID; the
    * caller journals it. */
  private[graft] def writeBatch(target: ScdTarget, processed: DataFrame,
                                txn: Option[(String, Long)] = None): Option[Journal.Fact] = {
    val cfg = target.cfg
    val metrics = cfg.scdType match {
      case "scd2" =>
        val (mc, um, im) = cfg.scd2Spec.getOrElse(
          throw new IllegalArgumentException(s"scd2 row ${cfg.pipelineDefId} lacks merge spec"))
        Scd.writeScd2(target.table, processed, cfg.joinKeys, mc, um, im,
          cfg.dedupKeys, cfg.extraJoinCond, txn)
      case "scd4" =>
        Scd.writeScd4(target.table, target.history, processed, cfg.joinKeys,
          cfg.updatedAtCol, cfg.dedupKeys, cfg.extraJoinCond, txn)
      case _ =>
        Scd.writeScd1(target.table, processed, cfg.joinKeys, cfg.matched, cfg.notMatched,
          cfg.dedupKeys, cfg.extraJoinCond, txn)
    }
    // a skipped replay committed nothing and counted nothing
    Option.when(metrics.nonEmpty)(Journal.Fact(cfg.pipelineDefId,
      java.util.UUID.randomUUID().toString,
      metrics("numInputRows").toLong, metrics("numSourceRows").toLong, metrics))
  }

  /** Run pipelines for all control rows concurrently, then journal the run.
    * Returns per-pipeline success, keyed by pipeline name
    * (`pipelineDefId_tableName`). Rows whose names collide are refused
    * before any pipeline starts: their results would share one key, and
    * the journal would log one outcome for all of them. At most
    * `parallelism` pipelines run at once; the default is the session's
    * default parallelism.
    *
    * The journal takes two commits per run, after every pipeline has ended:
    * one pipeline_fact commit with the fact of each writer that finished,
    * then one pipeline_status commit with each pipeline's outcome. A run
    * that dies before them journals nothing. Every job the run starts
    * carries the local property [[Pipeline.TaskProperty]]: its pipeline and
    * task, or `IngestionJob.run/journal` for the two journal commits. */
  def run(spark: SparkSession, controlRows: Seq[TableConfig],
          source: TableConfig => () => DataFrame,
          targetRoot: String,
          shardMappings: Option[DataFrame] = None,
          journal: Option[Journal] = None,
          parallelism: Int = SparkSession.active.sparkContext.defaultParallelism,
          piiRules: Seq[CdcProcessor.PiiRule] = Nil): Map[String, Boolean] = {
    // each finished writer's fact, by control-row index
    val facts = new java.util.concurrent.ConcurrentHashMap[Int, Journal.Fact]()
    val pipelines = controlRows.zipWithIndex.map { case (cfg, i) =>
      cfg -> buildPipeline(spark, cfg, source(cfg), targetRoot, shardMappings,
        f => facts.put(i, f), piiRules)
    }
    val collisions = pipelines.groupBy(_._2.name).filter(_._2.size > 1)
    require(collisions.isEmpty, "pipeline names collide: " + collisions.toSeq.sortBy(_._1)
      .map { case (name, ps) =>
        s"$name <- rows " + ps.map { case (c, _) => s"(${c.pipelineDefId}, ${c.tableName})" }
          .mkString(", ")
      }.mkString("; "))
    val results = PipelineRunner.runAll(pipelines.map(_._2), parallelism)
    journal.foreach { j =>
      Pipeline.tagged(spark, "IngestionJob.run/journal") {
        j.logFacts(pipelines.indices.flatMap(i => Option(facts.get(i))))
        // journal the REAL pipelineDefId (splitting the composite pipeline
        // name would truncate ids containing underscores)
        j.logStatuses(pipelines.map { case (cfg, p) =>
          Journal.Status(cfg.pipelineDefId, p.name,
            if (results.getOrElse(p.name, false)) "Finished" else "Error")
        })
      }
    }
    results
  }
}
