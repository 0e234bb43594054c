package graft.tools

/** Measurement aid (optimization guide §1): runs named SparkEntry queries
  * through the same warmup and noop-sink methodology as graft.Bench, and
  * prints per query its stages sorted by executor task time — wall time,
  * task/CPU/GC time, shuffle and input volumes, callsite — the local-mode
  * substitute for the Spark UI's Stages tab (UI is disabled in bench runs).
  * The expensive operator inside a multi-stage query is thus identified by
  * measurement rather than guessed. Jobs no query submitted are printed as
  * unattributed.
  *
  * Usage: StageProfile <sfDir> <query> [query ...]   (env as graft.Bench)
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val selected = Harness.select(graft.SparkEntry.queries, args.drop(1).toSeq)
    val h = Harness()
    h.warmup(selected)
    selected.foreach { case (n, fn) =>
      val r = h.measure(n)(Harness.noop(fn(h.spark, sfDir)))
      h.quiesce()
      val u = r.usage
      println(f"%n=== $n  wall=${r.seconds}%.2fs  jobs=${u.jobs}  stages=${u.stages.size}  taskTime=${u.taskMs / 1000.0}%.1fs ===")
      println(f"${"stage"}%7s ${"wall_s"}%7s ${"task_s"}%7s ${"cpu_s"}%6s ${"gc_s"}%5s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"in_MB"}%6s ${"tasks"}%5s  name")
      u.stages.sortBy(-_.taskMs).take(25).foreach { s =>
        println(f"${s.id}%7d ${s.wallMs / 1000.0}%7.2f ${s.taskMs / 1000.0}%7.2f " +
          f"${s.cpuMs / 1000.0}%6.2f ${s.gcMs / 1000.0}%5.2f " +
          f"${s.shuffleRead / 1e6}%7.1f ${s.shuffleWrite / 1e6}%7.1f ${s.input / 1e6}%6.1f " +
          f"${s.tasks}%5d  ${s.name.linesIterator.next().take(90)}")
      }
      val other = h.unattributed()
      if (other.jobs > 0 || other.stages.nonEmpty)
        println(s"unattributed: jobs=${other.jobs}  stages=${other.stages.size}")
    }
    h.spark.stop()
  }
}
