package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the counters-only
  * listener, the tracer and the run's directories and budget. */
final class Bench(val spark: SparkSession, val data: String, val work: String,
                  val seconds: Double, val traced: Boolean, val sessionS: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val log = new JobLog(spark.sparkContext)
  val tracer = new Tracer(spark.sparkContext)

  /** Operations attempted and the ones that failed or gave a wrong result;
    * every failure is also named in `failures`. */
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Run one counted operation; an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => failures += s"$what: $e"; None }
  }

  /** One counted output check. */
  def check(what: String)(ok: => Boolean): Unit =
    attempt(what)(ok).foreach(good => if (!good) failures += s"$what: mismatch")

  /** Driver heap live after a full collection, in MB: what the heap pools
    * held when a collection finished, lowest of three collections spaced so
    * Spark's cleaner can drop what the previous one found unreachable. */
  def heapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }.min
}

object Bench {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it, and
    * its value; None when there are too few samples for any tail. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val p = math.floor(100.0 * (1 - 10.0 / xs.size)).toInt
    if (p <= 50) None
    else Some(p -> xs.sorted.apply(math.ceil(p / 100.0 * xs.size).toInt - 1))
  }

  /** `v` as JSON: maps, sequences, options, numbers, strings, case classes. */
  def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}

/** Entry point of one benchmark run:
  * `--workload <name> --data <inputs> --work <workdir> --seconds <s>
  * --trace <0|1> --out <result.json>`. Writes the run's metrics, counts and
  * diagnostics as one JSON object to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bench = new Bench(spark, opt("data"), work, opt("seconds").toDouble,
      opt("trace") == "1", (System.nanoTime() - t0) / 1e9)
    val out = try {
      val res = opt("workload") match {
        case "ingest_fanout" => new Ingest(bench).run()
        case "curation_queries" => new Curation(bench).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      res ++ (if (bench.traced) Map("spans" -> bench.tracer.dump(bench.log.jobs())) else Map()) ++
        Map("main_s" -> (System.nanoTime() - t0) / 1e9)
    } finally spark.stop()
    Files.writeString(Paths.get(opt("out")), Bench.toJson(out ++ Map(
      "attempted" -> bench.attempted, "failures" -> bench.failures.toList)))
  }
}
