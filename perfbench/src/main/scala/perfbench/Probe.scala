package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level counters summed over some set of jobs. */
final case class Counters(jobs: Int = 0, taskMs: Long = 0, cpuNs: Long = 0,
                          gcMs: Long = 0, shuffleBytes: Long = 0,
                          spillBytes: Long = 0, inBytes: Long = 0,
                          inRecords: Long = 0, outBytes: Long = 0,
                          outRecords: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, taskMs + o.taskMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, inBytes + o.inBytes, inRecords + o.inRecords,
    outBytes + o.outBytes, outRecords + o.outRecords)
}

/** One Spark job: when it ran, which job group submitted it, and the
  * counters of the tasks its stages ran. */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
                        counters: Counters)

/** Counters-only listener, identical in traced and untraced runs: it keeps
  * one record per job and per stage, and callers sum them over a time
  * window or a set of job groups. Nothing is printed or written here. */
final class JobLog(sc: SparkContext) extends SparkListener {
  private case class Open(group: String, startMs: Long, stages: Seq[Int])
  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  private val done = mutable.ArrayBuffer[JobRec]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobLog.GroupKey))).getOrElse("")
    open.put(e.jobId, Open(group, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = Counters(taskMs = m.executorRunTime, cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime, shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
      outBytes = m.outputMetrics.bytesWritten,
      outRecords = m.outputMetrics.recordsWritten)
    stageCounters.merge(e.stageId, c, (a: Counters, b: Counters) => a + b)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o == null) return
    // a stage shared with an earlier job ran its tasks for that job
    val mine = o.stages.filter(s => stageJob.get(s) == e.jobId)
    val c = mine.flatMap(s => Option(stageCounters.remove(s)))
      .foldLeft(Counters(jobs = 1))(_ + _)
    done.synchronized(done += JobRec(e.jobId, o.group, o.startMs, e.time, c))
  }

  /** All finished jobs, after the listener bus has delivered every event. */
  def jobs(): Seq[JobRec] = {
    org.apache.spark.ListenerDrain(sc)
    done.synchronized(done.toList)
  }
}

object JobLog {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"

  def sum(js: Iterable[JobRec]): Counters = js.foldLeft(Counters())(_ + _.counters)

  /** The jobs that started inside [fromMs, toMs]. */
  def within(js: Seq[JobRec], fromMs: Long, toMs: Long): Seq[JobRec] =
    js.filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  /** Milliseconds of [fromMs, toMs] during which at least one job ran. */
  def busyMs(js: Iterable[JobRec], fromMs: Long, toMs: Long): Long = {
    var busy = 0L
    var cur = fromMs
    js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { busy += b - from; cur = b }
      }
    busy
  }
}

/** One traced interval around a call into a layer; `bookNs` is the time the
  * tracer itself spent opening and closing it, outside its body. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
                      bookNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Each span gets its own Spark job group,
  * so every job can be traced back to the span that submitted it; spans
  * stay in memory until the run writes them out. Disabled, `span` only
  * runs its body. Spans are opened from the benchmark's driver thread only. */
final class Tracer(sc: SparkContext) {
  /** Whether `span` records; the traced run switches it per round. */
  var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val openNs = System.nanoTime()
      val id = nextId
      nextId += 1
      val prevGroup = sc.getLocalProperty(JobLog.GroupKey)
      val parent = stack.headOption.getOrElse(0)
      sc.setJobGroup(s"span-$id", name)
      stack.push(id)
      val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        val (ms2, ns2) = (System.currentTimeMillis(), System.nanoTime())
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
        spans += Span(id, name, layer, parent, ms, ms2, ns, ns2,
          bookNs = (ns - openNs) + (System.nanoTime() - ns2))
      }
    }

  def all: Seq[Span] = spans.toList

  /** Tracing overhead of the spans opened inside [fromMs, toMs]: the seconds
    * the tracer spent on their bookkeeping. The listener is the same in
    * traced and untraced runs, so this is all tracing adds to that window. */
  def overheadSeconds(fromMs: Long, toMs: Long): Double =
    spans.filter(s => s.startMs >= fromMs && s.startMs <= toMs).map(_.bookNs).sum / 1e9

  /** Jobs a span submitted itself (not through a child span): matched by job
    * group, or — for jobs another thread submitted under its own group, such
    * as a streaming query's micro-batches — by the innermost span open when
    * the job started. */
  def ownJobs(jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    val byGroup = spans.map(s => s"span-${s.id}" -> s.id).toMap
    jobs.flatMap { j =>
      byGroup.get(j.group).orElse(
        spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => -s.startNs).headOption.map(_.id))
        .map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Self time: a span's duration minus what its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Every span with its self time and the counters of its own jobs. */
  def dump(jobs: Seq[JobRec]): Seq[Map[String, Any]] = {
    val own = ownJobs(jobs)
    spans.toList.map { s =>
      val js = own.getOrElse(s.id, Nil)
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_ms" -> s.startMs, "s" -> s.seconds, "self_s" -> selfSeconds(s),
        "book_s" -> s.bookNs / 1e9,
        "busy_s" -> JobLog.busyMs(js, s.startMs, s.endMs) / 1000.0,
        "counters" -> JobLog.sum(js))
    }
  }
}
