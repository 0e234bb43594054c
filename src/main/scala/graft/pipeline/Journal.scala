package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.ParquetTable

/** Status / fact / error journaling — the reference's bookkeeping tables
  * (reference M/commons/Task.scala:52-266; DDL
  * M/utility/OrchestrationLocalCreateTable.scala:24-80):
  *
  *   - pipeline_status: one row per task transition (built with typed
  *     DataFrames, not the reference's injection-prone interpolated INSERT
  *     strings — SURVEY §2.14);
  *   - pipeline_fact: per-run row counts + commit metrics, partitioned by
  *     (lastUpdateDate, pipelineDefId) exactly like the reference;
  *   - pipeline_error_logs: offending rows concat_ws'd into one column.
  */
final class Journal(spark: SparkSession, root: String) {
  import spark.implicits._

  // partitioned by date (and the fact table by pipeline too), as in the
  // reference; a ParquetTable append only adds files on either layout
  val status = new ParquetTable(spark, s"$root/pipeline_status",
    partitionKeys = Seq("lastUpdateDate"))
  val facts = new ParquetTable(spark, s"$root/pipeline_fact",
    partitionKeys = Seq("lastUpdateDate", "pipelineDefId"))
  val errors = new ParquetTable(spark, s"$root/pipeline_error_logs",
    partitionKeys = Seq("lastUpdateDate"))

  private def now = new Timestamp(System.currentTimeMillis())

  def logStatus(pipelineDefId: String, taskName: String, state: String,
                detail: String = ""): Unit = {
    val row = Seq((pipelineDefId, taskName, state, detail, now))
      .toDF("pipelineDefId", "taskName", "status", "detail", "lastUpdate")
      .withColumn("lastUpdateDate", to_date(col("lastUpdate")))
    status.append(row)
  }

  def logFact(pipelineDefId: String, runId: String, inputRows: Long,
              outputRows: Long, metrics: Map[String, String] = Map.empty): Unit = {
    val row = Seq((pipelineDefId, runId, inputRows, outputRows, metrics, now))
      .toDF("pipelineDefId", "runId", "inputRows", "outputRows",
        "operationMetrics", "lastUpdate")
      .withColumn("lastUpdateDate", to_date(col("lastUpdate")))
    facts.append(row)
  }

  /** Error rows journaled as one pipe-joined string column (ref
    * M/commons/Task.scala:93-95's concat_ws('|', cols)). */
  def logErrorRows(pipelineDefId: String, bad: DataFrame, reason: String): Unit = {
    val joined = bad.select(
      lit(pipelineDefId).as("pipelineDefId"),
      lit(reason).as("reason"),
      concat_ws("|", bad.columns.map(c => col(c).cast("string")): _*).as("row"),
      lit(now).as("lastUpdate"))
      .withColumn("lastUpdateDate", to_date(col("lastUpdate")))
    errors.append(joined)
  }

  /** Latest status per (pipeline, task) — the rerun-selection shape
    * (ref rank-window at M/configbuilder/Start.scala:204-205). A fresh
    * journal (no status rows yet) yields an empty frame, not an error. */
  def latestStatus: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (!status.exists)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pipelineDefId", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("taskName", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("detail", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lastUpdate", org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("lastUpdateDate", org.apache.spark.sql.types.DateType))))
    val w = Window.partitionBy(col("pipelineDefId"), col("taskName"))
      .orderBy(col("lastUpdate").desc)
    status.read.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** pipelineDefIds whose latest run has any errored task (rerun logic,
    * ref M/configbuilder/Start.scala:198-218). */
  def failedPipelines: Seq[String] =
    if (!status.exists) Nil
    else latestStatus.filter(col("status") === "Error")
      .select("pipelineDefId").distinct().as[String].collect().toSeq
}
