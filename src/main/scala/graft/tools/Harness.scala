package graft.tools

import scala.collection.mutable

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The session, warmup, quiesce and stage listener every tool main shares.
  *
  * The listener is registered once, when the harness starts, and charges
  * each job to the job group it was submitted under. [[measure]] runs its
  * body under a job group named after the measured unit. Threads started
  * inside the body inherit the group (Spark copies local properties into
  * child threads), so pipeline-task jobs count for the unit that ran them,
  * and no count depends on when a listener was added or removed. */
final class Harness(val spark: SparkSession) {
  import Harness._

  private[tools] val listener = new StageListener
  spark.sparkContext.addSparkListener(listener)

  /** Runs and times `body` under job group `unit`. The usage is read after
    * the listener bus has delivered every event of the body's jobs. */
  def measure[T](unit: String)(body: => T): Run[T] = {
    val sc = spark.sparkContext
    val (prev, prevDesc) = (sc.getLocalProperty(GroupKey), sc.getLocalProperty(DescKey))
    sc.setJobGroup(unit, unit)
    val t0 = System.nanoTime()
    val value =
      try body
      finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prevDesc)
    val seconds = (System.nanoTime() - t0) / 1e9
    Run(value, seconds, listener.take(unit))
  }

  /** Every job no [[measure]] has taken yet, merged: jobs submitted outside
    * any group, and jobs under a group set elsewhere (a streaming query
    * runs its micro-batches under its own). Reading forgets them. */
  def unattributed(): Usage = listener.takeAll()

  /** Drops every persisted block and cached plan. BLOCKING unpersist: the
    * async variant defers the block removal into the next query's timed
    * window, which is the co-scheduling noise that made all-at-once bench
    * numbers show phantom 2-3.5x regressions a one-at-a-time run disproved.
    * Cleanup cost must land here, between timings. */
  def quiesce(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Untimed warmup, so timed numbers reflect steady-state throughput. Each
    * of `queries` runs once at the smallest SF (`SPARK_GRAFT_WARMUP_DIR`),
    * which pays JIT/codegen compilation; warming only what will be timed
    * keeps a targeted run from paying the full-surface warmup. Then the
    * higher-order-function-heavy queries run at `SPARK_GRAFT_WARMUP2_DIR`:
    * the interpreted shingling/minhash/simhash paths only reach C2-compiled
    * steady state after ~10^5 inner-loop iterations, which the tiny first
    * corpus does not give, and many other queries share those paths.
    * Failures are ignored; the timed run reports them. */
  def warmup(queries: Seq[(String, Query)]): Unit = {
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val warm2 = sys.env.getOrElse("SPARK_GRAFT_WARMUP2_DIR", "/root/testdata/sf0.01")
    val runs = queries.map(_._2 -> warm) ++ HofHeavy.map(SparkEntry.queries(_) -> warm2)
    measure("warmup") {
      runs.foreach { case (fn, dir) =>
        try noop(fn(spark, dir)) catch { case _: Throwable => () }
        quiesce()
      }
    }
  }

  /** Per job group: the jobs started and the stages completed. A stage is
    * charged to the group of the first job that lists it, and a retried
    * stage keeps its last attempt. */
  private[tools] final class StageListener extends SparkListener {
    private final class Acc(var jobs: Int = 0,
                            val stages: mutable.LinkedHashMap[Int, Stage] = mutable.LinkedHashMap())
    private val groupOf = mutable.HashMap[Int, String]()
    private val byGroup = mutable.HashMap[String, Acc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
      e.stageIds.foreach(s => if (!groupOf.contains(s)) groupOf(s) = g)
      byGroup.getOrElseUpdate(g, new Acc).jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val (submitMs, completeMs) =
        (for (c <- i.completionTime; s <- i.submissionTime) yield (s, c)).getOrElse((0L, 0L))
      byGroup.getOrElseUpdate(groupOf.getOrElse(i.stageId, ""), new Acc).stages(i.stageId) =
        Stage(i.stageId, i.name, submitMs, completeMs,
          taskMs = m.executorRunTime, cpuMs = m.executorCpuTime / 1000000L,
          gcMs = m.jvmGCTime, shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          input = m.inputMetrics.bytesRead,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled, tasks = i.numTasks)
    }

    private def usage(a: Acc) = Usage(a.jobs, a.stages.values.toSeq)

    def take(group: String): Usage = {
      ListenerDrain(spark.sparkContext)
      synchronized(byGroup.remove(group).map(usage).getOrElse(Usage(0, Nil)))
    }

    def takeAll(): Usage = {
      ListenerDrain(spark.sparkContext)
      synchronized {
        val all = byGroup.values.map(usage).foldLeft(Usage(0, Nil))((a, b) =>
          Usage(a.jobs + b.jobs, a.stages ++ b.stages))
        byGroup.clear()
        all
      }
    }
  }
}

object Harness {
  /** A SparkEntry query: (session, SF dir) => result. */
  type Query = (SparkSession, String) => DataFrame

  /** Starts the session: `local[cores]` with as many shuffle partitions,
    * session time zone UTC (Tables.widen's TIMESTAMP_NTZ cast and the
    * date-bucketing operators must group identically in every run), UI
    * off, log level WARN. */
  def apply(): Harness = {
    val n = cores(sys.env)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new Harness(spark)
  }

  /** Worker threads: `SPARK_GRAFT_CPUS` when set, else the processors the
    * runtime reports. */
  def cores(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The entries of `known` that `names` names, in that order, or all of
    * `known` when `names` is empty. An unknown name fails loudly: silently
    * running a partial set reports a misleading total. */
  def select[V](known: Iterable[(String, V)], names: Seq[String]): Seq[(String, V)] = {
    val byName = known.toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown name(s): ${unknown.mkString(", ")} — known: " +
      byName.keys.toSeq.sorted.mkString(", "))
    if (names.isEmpty) known.toSeq else names.distinct.map(n => n -> byName(n))
  }

  /** Evaluates every output column of `df` (count() would let Catalyst
    * prune expensive projections away) and keeps nothing. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One completed stage: its submit and complete times (epoch ms), summed
    * task counters and tasks. `spill` is memory plus disk bytes spilled. */
  final case class Stage(id: Int, name: String, submitMs: Long, completeMs: Long,
                         taskMs: Long, cpuMs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, input: Long, spill: Long, tasks: Int) {
    def wallMs: Long = completeMs - submitMs
  }

  /** The jobs a measured unit started and the stages they completed. */
  final case class Usage(jobs: Int, stages: Seq[Stage]) {
    def taskMs: Long = stages.map(_.taskMs).sum
    def cpuMs: Long = stages.map(_.cpuMs).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def input: Long = stages.map(_.input).sum
    def spill: Long = stages.map(_.spill).sum

    /** The part of `wallSeconds` during which none of these stages ran:
      * driver planning, file listing, commit I/O and scheduling gaps. It is
      * the wall time minus the union of the stage intervals, never below 0. */
    def outsideStagesSeconds(wallSeconds: Double): Double = {
      val (busyMs, _) = stages.map(s => (s.submitMs, s.completeMs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((busy, end), (s, c)) =>
          if (c <= end) (busy, end) else (busy + c - math.max(s, end), c)
        }
      math.max(0.0, wallSeconds - busyMs / 1000.0)
    }
  }

  final case class Run[T](value: T, seconds: Double, usage: Usage)

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  private val HofHeavy = Seq("q19_minhash_sig", "q20_minhash_lsh_pairs", "q21_simhash",
    "q22_ngram_jaccard", "q38_simhash_neardups")
}
