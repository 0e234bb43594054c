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
  *
  * Every log call is one commit of its table, whatever the number of rows:
  * [[IngestionJob.run]] journals a whole run as one [[logFacts]] and one
  * [[logStatuses]] after its pipelines end, while writers that journal as
  * they go (the streaming sinks, a [[PipelineBuilder]] writer) append one
  * row per commit.
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

  /** Status rows in the status table's one schema. */
  private def statusRows(rows: Seq[(String, String, String, String, Timestamp)]): DataFrame =
    rows.toDF("pipelineDefId", "taskName", "status", "detail", "lastUpdate")
      .withColumn("lastUpdateDate", to_date(col("lastUpdate")))

  def logStatus(pipelineDefId: String, taskName: String, state: String,
                detail: String = ""): Unit =
    logStatuses(Seq(Journal.Status(pipelineDefId, taskName, state, detail)))

  /** All of `rows` in one status commit; none when `rows` is empty. */
  def logStatuses(rows: Seq[Journal.Status]): Unit = if (rows.nonEmpty) {
    val at = now
    status.append(statusRows(rows.map(r =>
      (r.pipelineDefId, r.taskName, r.state, r.detail, at))))
  }

  def logFact(pipelineDefId: String, runId: String, inputRows: Long,
              outputRows: Long, metrics: Map[String, String] = Map.empty): Unit =
    logFacts(Seq(Journal.Fact(pipelineDefId, runId, inputRows, outputRows, metrics)))

  /** All of `rows` in one fact commit; none when `rows` is empty. */
  def logFacts(rows: Seq[Journal.Fact]): Unit = if (rows.nonEmpty) {
    val at = now
    facts.append(rows.map(f =>
        (f.pipelineDefId, f.runId, f.inputRows, f.outputRows, f.metrics, at))
      .toDF("pipelineDefId", "runId", "inputRows", "outputRows",
        "operationMetrics", "lastUpdate")
      .withColumn("lastUpdateDate", to_date(col("lastUpdate"))))
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
    if (!status.exists) return statusRows(Nil)
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

object Journal {

  /** One pipeline_status row: a task's state after a run. */
  final case class Status(pipelineDefId: String, taskName: String, state: String,
                          detail: String = "")

  /** One pipeline_fact row: a writer's row counts and its commit's metrics. */
  final case class Fact(pipelineDefId: String, runId: String, inputRows: Long,
                        outputRows: Long, metrics: Map[String, String])
}
