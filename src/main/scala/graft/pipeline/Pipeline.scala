package graft.pipeline

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Control-plane DAG runner, re-expressing the reference's
  * Pipeline/PipelineGraph wave scheduler (reference M/Pipeline/Pipeline.scala:
  * 14-242) on Scala Futures:
  *
  *   - tasks exchange NAMED LAZY DataFrames (plans, not data — handing a
  *     DataFrame between driver threads costs nothing; executors only run at
  *     actions inside tasks);
  *   - each wave = all currently-runnable nodes, run concurrently;
  *   - an Error status short-circuits the pipeline and marks every
  *     descendant dead_end (the reference's marked_error sets status
  *     FINISHED — a defect we do not replicate, SURVEY §2.14).
  */
object TaskStatus extends Enumeration {
  val Init, Running, Finished, Error, DeadEnd = Value
}

/** Unit of work: consumes named frames, emits named frames
  * (ref M/commons/Task.scala:24-47's rawdf/processedDf channel map). */
trait Task extends Serializable {
  def name: String
  def run(spark: SparkSession, inputs: Map[String, DataFrame]): Map[String, DataFrame]
}

final class Pipeline(val name: String, spark: SparkSession) {
  private val tasks = mutable.LinkedHashMap[String, Task]()
  private val edges = mutable.ListBuffer[(String, String)]() // parent -> child
  private val status = mutable.Map[String, TaskStatus.Value]()
  private val outputs = mutable.Map[String, Map[String, DataFrame]]()
  private val errors = mutable.Map[String, Throwable]()

  def addTask(t: Task): Pipeline = {
    require(!tasks.contains(t.name), s"duplicate task ${t.name}")
    tasks(t.name) = t
    status(t.name) = TaskStatus.Init
    this
  }

  /** Add `child` downstream of `parent` (ref PipelineBuilder.addAfter). */
  def addAfter(parent: String, child: Task): Pipeline = {
    require(tasks.contains(parent), s"unknown parent $parent")
    addTask(child)
    edges += (parent -> child.name)
    this
  }

  def statusOf(n: String): TaskStatus.Value = status(n)
  def errorOf(n: String): Option[Throwable] = errors.get(n)
  def outputOf(n: String): Map[String, DataFrame] = outputs.getOrElse(n, Map.empty)

  private def parents(n: String): Seq[String] = edges.collect { case (p, c) if c == n => p }.toSeq

  private def runnable: Seq[String] = tasks.keys.filter { n =>
    status(n) == TaskStatus.Init && parents(n).forall(status(_) == TaskStatus.Finished)
  }.toSeq

  private def markDeadEndFrom(bad: String): Unit = {
    var frontier = edges.collect { case (p, c) if p == bad => c }.toSet
    while (frontier.nonEmpty) {
      frontier.foreach(status(_) = TaskStatus.DeadEnd)
      frontier = frontier.flatMap(b => edges.collect { case (p, c) if p == b => c })
    }
  }

  /** Level-schedule waves until nothing is runnable. Returns true when every
    * task finished.
    *
    * Tasks run on a PRIVATE cached pool (mirroring the reference's fresh
    * pool per wave, M/Pipeline/Pipeline.scala:205) — never on a shared
    * bounded pool: a caller awaiting this pipeline on such a pool while its
    * tasks queue behind it would deadlock. */
  def run(): Boolean = {
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      var wave = runnable
      while (wave.nonEmpty) {
        val fs = wave.map { n =>
          status(n) = TaskStatus.Running
          // child input = union of all parents' named outputs (ref
          // Pipeline.scala:214-223 merging parent taskOutputDataFrames)
          val in = parents(n).flatMap(p => outputs.getOrElse(p, Map.empty)).toMap
          n -> Future(Try(Pipeline.tagged(spark, s"$name/$n")(tasks(n).run(spark, in))))
        }
        fs.foreach { case (n, f) =>
          Await.result(f, Duration.Inf) match {
            case Success(out) =>
              outputs(n) = out
              status(n) = TaskStatus.Finished
            case Failure(e) =>
              errors(n) = e
              status(n) = TaskStatus.Error
              markDeadEndFrom(n)
          }
        }
        wave = runnable
      }
      tasks.keys.forall(status(_) == TaskStatus.Finished)
    } finally pool.shutdown()
  }
}

object Pipeline {

  /** The local property naming the `<pipeline>/<task>` whose body started
    * a job. Spark copies local properties into the jobs AQE submits from
    * its own threads, so every job of a task carries it. The job group and
    * description are left alone: measurement tools attribute jobs by
    * group. */
  val TaskProperty = "graft.task"

  /** Runs `body` with [[TaskProperty]] set to `task` on this thread, and
    * restores the previous value afterwards. */
  def tagged[T](spark: SparkSession, task: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TaskProperty)
    sc.setLocalProperty(TaskProperty, task)
    try body finally sc.setLocalProperty(TaskProperty, prev)
  }
}

/** Run many pipelines concurrently on a bounded pool (ref
  * M/configbuilder/Start.scala:111-118's invokeAll fan-out). */
object PipelineRunner {
  def runAll(pipelines: Seq[Pipeline], parallelism: Int): Map[String, Boolean] = {
    val ec = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(math.max(1, parallelism)))
    try {
      // each Pipeline.run() uses its own task pool, so this bounded pool only
      // limits how many pipelines are in flight — no nested-await deadlock
      val fs = pipelines.map(p => p.name -> Future(p.run())(ec))
      fs.map { case (n, f) => n -> Await.result(f, Duration.Inf) }.toMap
    } finally ec.shutdown()
  }
}
