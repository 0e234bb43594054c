package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.CdcProcessor
import graft.sources.Sources
import graft.streaming.{StreamSink, WriteStreamConfig}

/** One resolved JDBC shard: connection url + credential options.
  * Secrets arrive through a caller-supplied resolver over plain config —
  * no vendor secret store (SURVEY §2.14). */
final case class ShardConfig(shardDefId: String, url: String,
                             options: Map[String, String] = Map.empty)

/** Sharded-JDBC bulk load — the reference's third main (reference
  * M/configbuilder/JDBCLoadStart.scala:46-97: shard_details filter ->
  * per-shard JDBC options -> reader -> processor -> writer fan-out).
  */
object ShardedJdbcLoad {

  /** shard_details rows -> per-shard JDBC configs (ref
    * M/Pipeline/PipelineBuilder.scala:107-129 resolving secret_scope/
    * secret_user/secret_password and composing endpoint + database into the
    * url; the reference folds every shard into ONE options map so only the
    * last shard survives — here each shard keeps its own). Bounded
    * driver-side collect: shard_details is a config table. */
  def shardConfigs(shardDetails: DataFrame, shardDefIds: Seq[String],
                   secrets: (String, String) => String,
                   urlFor: (String, String) => String): Seq[ShardConfig] =
    shardDetails.filter(col("shard_def_id").isin(shardDefIds: _*))
      .collect().toSeq.map { r =>
        def s(f: String) = r.getAs[Any](f).toString
        ShardConfig(
          s("shard_def_id"),
          urlFor(s("endpoint"), s("database_name")),
          Map("user" -> secrets(s("secret_scope"), s("secret_user")),
              "password" -> secrets(s("secret_scope"), s("secret_password"))))
      }

  /** Fan out one reader -> processor -> SCD-writer pipeline per
    * (shard x control row). Every shard's rows are stamped with `shard_id`
    * and merge into the SHARED per-table target (include shard_id in the
    * control row's join keys when per-shard key spaces collide — the role
    * the reference's shard_name enrichment plays). Pipeline def ids are
    * suffixed per shard so journal rows and rerun selection stay
    * shard-granular. */
  def run(spark: SparkSession, shards: Seq[ShardConfig],
          controlRows: Seq[TableConfig], targetRoot: String,
          readLimit: Int = 1000,
          journal: Option[Journal] = None,
          piiRules: Seq[CdcProcessor.PiiRule] = Nil,
          parallelism: Int = SparkSession.active.sparkContext.defaultParallelism):
      Map[String, Boolean] = {
    val perShardRows = for {
      shard <- shards
      cfg <- controlRows
    } yield cfg.copy(pipelineDefId = s"${cfg.pipelineDefId}@${shard.shardDefId}") -> shard
    val shardOf = perShardRows.map { case (c, sh) => c.pipelineDefId -> sh }.toMap
    IngestionJob.run(spark, perShardRows.map(_._1),
      source = cfg => {
        val shard = shardOf(cfg.pipelineDefId)
        () => Sources.jdbc(spark, shard.url, cfg.tableName, shard.options, readLimit)
          .withColumn("shard_id", lit(shard.shardDefId))
      },
      targetRoot = targetRoot, journal = journal, parallelism = parallelism,
      piiRules = piiRules)
  }
}

/** Arg-dispatch entry — the reference's main switch (reference
  * M/configbuilder/Start.scala:50-69): `RERUN_BATCH` re-runs the control
  * rows whose LATEST journaled status is Error (selection via the journal's
  * rank window, ref Start.scala:198-218), `PIPELINE p1,p2` runs exactly the
  * named pipelines (an unknown or missing id is refused), anything else
  * runs the full control set.
  */
object Dispatch {

  def run(spark: SparkSession, args: Seq[String],
          controlRows: Seq[TableConfig],
          source: TableConfig => () => DataFrame,
          targetRoot: String,
          journal: Journal,
          piiRules: Seq[CdcProcessor.PiiRule] = Nil,
          parallelism: Int = SparkSession.active.sparkContext.defaultParallelism):
      Map[String, Boolean] = {
    // the reference receives one space-joined arg ("RERUN_BATCH 1,2");
    // accept both that form and pre-split argv
    val parts = args.flatMap(_.split(" ")).filter(_.nonEmpty)
    val selected = parts.headOption.getOrElse("") match {
      case "RERUN_BATCH" =>
        val failed = journal.failedPipelines.toSet
        controlRows.filter(c => failed.contains(c.pipelineDefId))
      case "PIPELINE" =>
        val wanted = parts.lift(1).getOrElse("")
          .split(",").map(_.trim).filter(_.nonEmpty).toSet
        val known = controlRows.map(_.pipelineDefId).distinct.sorted
        val unknown = wanted.toSeq.sorted.filterNot(known.contains)
        require(wanted.nonEmpty && unknown.isEmpty,
          (if (wanted.isEmpty) "PIPELINE names no pipeline id"
           else s"PIPELINE names unknown pipeline id(s): ${unknown.mkString(", ")}") +
            s" — known: ${known.mkString(", ")}")
        controlRows.filter(c => wanted.contains(c.pipelineDefId))
      case _ => controlRows
    }
    IngestionJob.run(spark, selected, source, targetRoot,
      journal = Some(journal), parallelism = parallelism, piiRules = piiRules)
  }
}

/** Assembled history load — the reference's bulk-backfill main (reference
  * M/configbuilder/HistLoadStart.scala:27-99: tuned session confs, then per
  * control row a throttled table stream -> processor -> append writer).
  */
object HistLoad {

  /** The reference's history-load session tuning (HistLoadStart.scala:27-33)
    * translated to open-source Spark: AQE on, shuffle partitions scaled to
    * cores, small input splits so the bulk scan fans out wide. */
  def tuneSession(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions",
      (4 * spark.sparkContext.defaultParallelism).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
  }

  /** Start the history load for one control row: throttled
    * [[Sources.tableStream]] (the DeltaStreamReader equivalent, file-count
    * backpressure per trigger) -> optional transform -> append stream to the
    * target path. AvailableNow (the config default) drains the source across
    * as many micro-batches as the throttle dictates, then stops. */
  def start(spark: SparkSession, cfg: TableConfig,
            sourcePath: String, sourceSchema: StructType, targetPath: String,
            maxFilesPerTrigger: Int = 20,
            transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val stream = Sources.tableStream(spark, sourcePath, sourceSchema, maxFilesPerTrigger)
    val wcfg = cfg.writeConfig.getOrElse(
      WriteStreamConfig(checkpointLocation = s"$targetPath/_graft_ckpt"))
    StreamSink.startAppend(transform(stream), wcfg, targetPath)
  }
}
