package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.merge.{ParquetTable, Scd}
import graft.operators.CdcProcessor

/** Metadata-driven ingestion: one reader -> processor -> writer pipeline per
  * `table_details` row — the reference's entry-point shape (reference
  * M/configbuilder/Start.scala:70-118 building a 3-node DAG per control row
  * and fanning all pipelines out on a driver pool).
  */
object IngestionJob {

  /** Build a batch CDC pipeline for one control row: `source` supplies the
    * envelope frame (already read), the processor applies the config-driven
    * transforms, the writer merges into the target ParquetTable by SCD type. */
  def buildPipeline(spark: SparkSession, cfg: TableConfig,
                    source: () => DataFrame,
                    targetRoot: String,
                    shardMappings: Option[DataFrame] = None,
                    journal: Option[Journal] = None,
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

    p.addAfter(s"${cfg.tableName}_processor", new Task {
      val name = s"${cfg.tableName}_writer"
      def run(s: SparkSession, in: Map[String, DataFrame]): Map[String, DataFrame] =
        Map("written" -> writeBatch(s, cfg, targetRoot, in("processedDf"), journal))
    })
    p
  }

  /** Writer body shared by [[buildPipeline]] and the fluent
    * [[PipelineBuilder]] facade: materialize the processed batch ONCE
    * (counting and merging would otherwise each re-run the full
    * source->processor plan), merge by SCD type, journal the fact. */
  private[pipeline] def writeBatch(s: SparkSession, cfg: TableConfig,
                                   targetRoot: String, processed: DataFrame,
                                   journal: Option[Journal]): DataFrame = {
    val batch = processed.localCheckpoint()
    val table = new ParquetTable(s, s"$targetRoot/${cfg.tableName}", cfg.partitionKeys)
    val n = batch.count()
    // Read this commit's metrics before releasing the table's monitor:
    // pipelines sharing a target (one per JDBC shard) commit concurrently,
    // and a later read could return another pipeline's commit.
    val metrics = table.withLock {
      cfg.scdType match {
        case "scd2" =>
          val (mc, um, im) = cfg.scd2Spec.getOrElse(
            throw new IllegalArgumentException(s"scd2 row ${cfg.pipelineDefId} lacks merge spec"))
          Scd.writeScd2(table, batch, cfg.joinKeys, mc, um, im,
            dedupOrderCols = cfg.dedupKeys, extraCondition = cfg.extraJoinCond)
        case "scd4" =>
          val hist = new ParquetTable(s, s"$targetRoot/${cfg.tableName}_history")
          Scd.writeScd4(table, hist, batch, cfg.joinKeys, cfg.updatedAtCol,
            dedupOrderCols = cfg.dedupKeys, extraCondition = cfg.extraJoinCond)
        case _ =>
          Scd.writeScd1(table, batch, cfg.joinKeys, cfg.matched, cfg.notMatched,
            dedupOrderCols = cfg.dedupKeys, extraCondition = cfg.extraJoinCond)
      }
      table.lastMetrics
    }
    journal.foreach { j =>
      // outputRows comes from the commit metrics, NOT a full target scan
      // (at scale that scan would dwarf the merge itself)
      val written = metrics.get("numSourceRows").map(_.toLong).getOrElse(n)
      j.logFact(cfg.pipelineDefId, java.util.UUID.randomUUID().toString, n,
        written, metrics)
    }
    table.read
  }

  /** Run pipelines for all control rows concurrently; journal statuses.
    * Returns per-pipeline success, keyed by pipeline name
    * (`pipelineDefId_tableName`). Rows whose names collide are refused
    * before any pipeline starts: their results would share one key, and
    * the journal would log one outcome for all of them. */
  def run(spark: SparkSession, controlRows: Seq[TableConfig],
          source: TableConfig => () => DataFrame,
          targetRoot: String,
          shardMappings: Option[DataFrame] = None,
          journal: Option[Journal] = None,
          parallelism: Int = 4,
          piiRules: Seq[CdcProcessor.PiiRule] = Nil): Map[String, Boolean] = {
    val pipelines = controlRows.map(cfg =>
      cfg -> buildPipeline(spark, cfg, source(cfg), targetRoot, shardMappings, journal,
        piiRules))
    val collisions = pipelines.groupBy(_._2.name).filter(_._2.size > 1)
    require(collisions.isEmpty, "pipeline names collide: " + collisions.toSeq.sortBy(_._1)
      .map { case (name, ps) =>
        s"$name <- rows " + ps.map { case (c, _) => s"(${c.pipelineDefId}, ${c.tableName})" }
          .mkString(", ")
      }.mkString("; "))
    val results = PipelineRunner.runAll(pipelines.map(_._2), parallelism)
    journal.foreach { j =>
      pipelines.foreach { case (cfg, p) =>
        // journal the REAL pipelineDefId (splitting the composite pipeline
        // name would truncate ids containing underscores)
        j.logStatus(cfg.pipelineDefId, p.name,
          if (results.getOrElse(p.name, false)) "Finished" else "Error")
      }
    }
    results
  }
}
