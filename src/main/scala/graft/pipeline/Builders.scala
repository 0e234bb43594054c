package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.CdcProcessor
import graft.sources.Sources

/** Fluent builder facade over the functional pipeline core — the reference's
  * builder API shape (ref M/Pipeline/PipelineBuilder.scala:12-185,
  * M/reader/ReaderBuilder.scala:6-43, M/processor/ProcessorBuilder.scala)
  * re-expressed over [[Pipeline]]/[[IngestionJob]]/[[graft.operators.CdcProcessor]].
  * Every builder method mutates-and-returns `this` exactly like the
  * reference; `build()` hands back the same [[Pipeline]] the functional API
  * constructs. Where the reference sets a `mergeSCD{1,2,4}Options` bundle
  * (M/writter/BaseWritter.scala:21-34), the builder takes the control row
  * itself ([[PipelineBuilder.setTableConfig]]), and its writer task calls
  * [[IngestionJob.writeBatch]], so facade-built pipelines are
  * behavior-identical to [[IngestionJob.buildPipeline]] ones by
  * construction.
  */

/** Reader factory (ref M/reader/ReaderBuilder.scala:6-43). Returns LAZY
  * readers (`() => DataFrame`) — the reference also just news up reader
  * objects whose read happens later inside the task. */
final class ReaderBuilder(spark: SparkSession) {
  def getCsvReader(path: String, ddlSchema: String,
                   header: Boolean = false): () => DataFrame =
    () => Sources.csv(spark, path, ddlSchema, header)

  def getParquetReader(path: String, options: Map[String, String] = Map.empty,
                       readLimit: Int = 0): () => DataFrame =
    () => Sources.parquet(spark, path, options, readLimit)

  def getSqlJdbcReader(url: String, table: String,
                       options: Map[String, String] = Map.empty,
                       readLimit: Int = 1000): () => DataFrame =
    () => Sources.jdbc(spark, url, table, options, readLimit)

  def getHttpReader(firstUrl: String, fetch: String => String,
                    maxPages: Int = 100,
                    pageSink: DataFrame => Unit = _ => ()): () => DataFrame =
    () => Sources.httpJson(spark, firstUrl, fetch, maxPages, pageSink)

  /** The reference's KafkaReader niche: a streaming CDC-envelope source. */
  def getCdcStreamReader(dir: String, payload: StructType,
                         maxFilesPerTrigger: Int = 20): () => DataFrame =
    () => Sources.cdcFileStream(spark, dir, payload, maxFilesPerTrigger)

  /** The reference's DeltaStreamReader niche: a throttled table stream. */
  def getTableStreamReader(path: String, schema: StructType,
                           maxFilesPerTrigger: Int = 20): () => DataFrame =
    () => Sources.tableStream(spark, path, schema, maxFilesPerTrigger)
}

object ReaderBuilder {
  def start(spark: SparkSession): ReaderBuilder = new ReaderBuilder(spark)
}

/** Processor configuration builder (ref M/processor/ProcessorBuilder.scala):
  * accumulates the CDC-processor knobs, `build()` returns the transform. */
final class ProcessorBuilder {
  private var shardMappings: Option[DataFrame] = None
  private var omittedCols: Seq[String] = Nil
  private var piiRules: Seq[CdcProcessor.PiiRule] = Nil
  private var joinKeys: Seq[String] = Nil
  private var groupingBuckets: Int = 500
  private var epochMillisCols: Seq[String] = Nil

  def setShardMappings(df: DataFrame): ProcessorBuilder = { shardMappings = Some(df); this }
  def setOmittedCols(cols: Seq[String]): ProcessorBuilder = { omittedCols = cols; this }
  def setPiiRules(rules: Seq[CdcProcessor.PiiRule]): ProcessorBuilder = { piiRules = rules; this }
  def setJoinKeys(keys: Seq[String]): ProcessorBuilder = { joinKeys = keys; this }
  def setGroupingBuckets(n: Int): ProcessorBuilder = { groupingBuckets = n; this }
  def setEpochMillisCols(cols: Seq[String]): ProcessorBuilder = { epochMillisCols = cols; this }

  def build(): DataFrame => DataFrame =
    df => CdcProcessor.process(df, shardMappings, omittedCols, piiRules,
      graft.merge.MergeInto.extractJoinKeys(joinKeys), groupingBuckets, epochMillisCols)
}

object ProcessorBuilder {
  def start(): ProcessorBuilder = new ProcessorBuilder()
}

/** Fluent pipeline assembly (ref M/Pipeline/PipelineBuilder.scala:12-185):
  * `start(...).set*(...).addReader(...).addProcessor(...).addWriter(...)
  * .build().run()`. Generic `addTask`/`addAfter` admit arbitrary DAG nodes;
  * the reader/processor/writer conveniences reproduce the reference's
  * 3-node CDC shape. */
final class PipelineBuilder private (spark: SparkSession) {
  private var pName: String = ""
  private var runId: String = ""
  private var tableConfig: Option[TableConfig] = None
  private var journal: Option[Journal] = None
  // (key, parent, taskFn) in insertion order; parent "" = root
  private val nodes =
    scala.collection.mutable.ListBuffer[(String, String, (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame])]()

  def setPipelineName(n: String): PipelineBuilder = { pName = n; this }
  def setRunId(id: String): PipelineBuilder = { runId = id; this }
  def setJournal(j: Journal): PipelineBuilder = { journal = Some(j); this }
  /** The control row the writer merges by: its table, SCD type and keys. */
  def setTableConfig(cfg: TableConfig): PipelineBuilder = { tableConfig = Some(cfg); this }

  def addTask(key: String)(
      fn: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame]): PipelineBuilder = {
    nodes += ((key, "", fn)); this
  }

  def addAfter(afterNodeKey: String, key: String)(
      fn: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame]): PipelineBuilder = {
    nodes += ((key, afterNodeKey, fn)); this
  }

  /** Root reader node emitting the `rawdf` channel (ref Task.rawdf). */
  def addReader(key: String, reader: () => DataFrame): PipelineBuilder =
    addTask(key)((_, _) => Map("rawdf" -> reader()))

  /** Processor node: `rawdf` in, `processedDf` out (ref Task.processedDf). */
  def addProcessor(afterNodeKey: String, key: String,
                   proc: DataFrame => DataFrame): PipelineBuilder =
    addAfter(afterNodeKey, key)((_, in) => Map("processedDf" -> proc(in("rawdf"))))

  /** Writer node merging `processedDf` into `targetRoot/<tableName>` by the
    * control row set with setTableConfig, through [[IngestionJob.writeBatch]]
    * like the functional API. A writer that runs with no row set fails its
    * task with an IllegalStateException that says so. With a journal set,
    * the writer journals its fact as soon as it has committed, under the
    * runId set by setRunId (a fresh UUID when none was). */
  def addWriter(afterNodeKey: String, key: String, targetRoot: String): PipelineBuilder =
    addAfter(afterNodeKey, key) { (s, in) =>
      val cfg = tableConfig.getOrElse(throw new IllegalStateException(
        s"writer $key has no TableConfig: call setTableConfig before the pipeline runs"))
      val target = new ScdTarget(s, cfg, targetRoot)
      IngestionJob.writeBatch(target, in("processedDf")).foreach { fact =>
        journal.foreach(_.logFacts(Seq(if (runId.isEmpty) fact else fact.copy(runId = runId))))
      }
      Map("written" -> target.table.read)
    }

  /** Assemble the [[Pipeline]]. Name defaults to the reference's composite
    * `<pipelineDefId>_<tableName>` of the control row when setPipelineName
    * was not called. */
  def build(): Pipeline = {
    val p = new Pipeline(if (pName.nonEmpty) pName
      else tableConfig.fold("")(c => s"${c.pipelineDefId}_${c.tableName}"), spark)
    nodes.foreach { case (key, parent, fn) =>
      val t = new Task {
        val name = key
        def run(s: SparkSession, in: Map[String, DataFrame]): Map[String, DataFrame] = fn(s, in)
      }
      if (parent.isEmpty) p.addTask(t) else p.addAfter(parent, t)
    }
    p
  }
}

object PipelineBuilder {
  def start(spark: SparkSession): PipelineBuilder = new PipelineBuilder(spark)
}
