package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** The operator library as a workload: the costliest curation queries of
  * `SparkEntry.queries`, one at a time into the noop sink, the way the
  * engine's own sweep times them.
  *
  * Set-up runs every query once writing its result as parquet, which both
  * warms the JIT and leaves the outputs the DuckDB oracle check compares
  * (`oracle_sql.json` beside them), and counts the rows of the tables the
  * set reads. Timed passes repeat the whole set until the time budget is
  * spent. */
final class Curation(b: Bench) {
  import Bench._
  private val spark = b.spark
  private val tables = s"${b.data}/tables"
  private val results = s"${b.work}/results"

  private def dropBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** One query's wall time, or None when it failed. */
  private def runQuery(q: String, write: Boolean): Option[Double] = {
    val r = b.attempt(q) {
      timed(b.tracer.span(q, "operators") {
        val df = SparkEntry.queries(q)(spark, tables)
        if (write) df.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
        else df.write.format("noop").mode("overwrite").save()
      })._2
    }
    dropBlocks()
    r
  }

  def run(): Map[String, Any] = {
    val queries = Curation.Queries
    Files.createDirectories(Paths.get(results))
    val (_, firstPassS) = timed(queries.foreach(runQuery(_, write = true)))
    val sfName = Paths.get(tables).getFileName.toString
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), toJson(queries.map(q =>
      q -> SparkEntry.oracleSql(q).replace("__GRAFT_SFNAME__", sfName)).toMap))
    // source rows of one pass, fixed by the seed: each query's input tables,
    // a table read by two queries counted twice
    val tableRows = Curation.Reads.values.flatten.toSeq.distinct.map(t =>
      t -> spark.read.parquet(s"$tables/$t.parquet").count()).toMap
    val passRows = queries.flatMap(Curation.Reads).map(tableRows).sum.toDouble
    val setupS = b.sessionS + firstPassS

    final case class Pass(startMs: Long, endMs: Long, wall: Double, perQuery: Map[String, Double])
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    // the traced run traces every pass
    val t0 = System.nanoTime()
    b.tracer.enabled = b.traced
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < b.seconds) {
      val startMs = System.currentTimeMillis()
      val (per, wall) = timed(queries.flatMap(q => runQuery(q, write = false).map(q -> _)).toMap)
      passes += Pass(startMs, System.currentTimeMillis(), wall, per)
    }
    b.tracer.enabled = false
    val heap = b.heapMb()

    val jobs = b.log.jobs()
    val timedPasses = passes.toSeq
    def passJobs(p: Pass) = JobLog.within(jobs, p.startMs, p.endMs)
    val c = JobLog.sum(timedPasses.flatMap(passJobs))
    val wall = timedPasses.map(_.wall).sum
    val e2e = Map(
      "round_p50_s" -> median(timedPasses.map(_.wall)),
      "rows_per_s" -> passRows * timedPasses.size / wall,
      "jobs_per_op" -> c.jobs.toDouble / (timedPasses.size * queries.size),
      "bytes_written_per_row" -> (c.outBytes + c.shuffleBytes) / (passRows * timedPasses.size),
      "driver_heap_mb" -> heap,
      "setup_s" -> setupS)
    val diag = Map("passes" -> timedPasses.size, "pass_walls_s" -> timedPasses.map(_.wall),
      "pass_tail" -> tail(timedPasses.map(_.wall)), "queries" -> queries,
      "source_rows_per_pass" -> passRows, "scanned_rows_per_pass" -> c.inRecords / timedPasses.size,
      "session_s" -> b.sessionS, "first_pass_s" -> firstPassS,
      "query_s" -> queries.map(q =>
        q -> Some(timedPasses.flatMap(_.perQuery.get(q))).filter(_.nonEmpty).map(median)).toMap)

    val layers =
      if (!b.traced) Map.empty[String, Double]
      else {
        val own = b.tracer.ownJobs(jobs)
        val spans = b.tracer.all
        val perQuery = queries.flatMap { q =>
          val ss = spans.filter(_.name == q)
          val js = ss.map(s => own.getOrElse(s.id, Nil))
          Seq(s"operators.$q.s" -> median(ss.map(_.seconds)),
            s"operators.$q.jobs" -> js.map(_.size).sum.toDouble / ss.size,
            s"operators.$q.driver_only_s" -> median(ss.zip(js).map { case (s, j) =>
              s.seconds - JobLog.busyMs(j, s.startMs, s.endMs) / 1000.0 }),
            s"operators.$q.shuffle_bytes" -> JobLog.sum(js.flatten).shuffleBytes.toDouble / ss.size)
        }
        (perQuery ++ Seq(
          "operators.gc_s" -> c.gcMs / 1000.0 / timedPasses.size,
          "operators.spill_bytes" -> c.spillBytes.toDouble / timedPasses.size,
          "trace.overhead_share" ->
            timedPasses.map(p => b.tracer.overheadSeconds(p.startMs, p.endMs)).sum / wall)).toMap
      }
    Map("metrics" -> e2e, "layers" -> layers, "diag" -> diag)
  }
}

object Curation {
  /** One costly query per family the query library's open performance work
    * targets: connected components (q53), prefix-filter Jaccard (q193), a
    * single-partition window (q257) and a streaming replay (q310). */
  val Queries: Seq[String] = Seq("q53_dedup_clusters", "q193_prefix_jaccard",
    "q257_negative_sampling", "q310_stream_window_topk")

  /** The tables each query reads. */
  val Reads: Map[String, Seq[String]] = Map(
    "q53_dedup_clusters" -> Seq("documents"),
    "q193_prefix_jaccard" -> Seq("documents"),
    "q257_negative_sampling" -> Seq("orders", "lineitem", "part"),
    "q310_stream_window_topk" -> Seq("events"))
}
