package graft

import java.nio.file.{Files, Paths}

import graft.tools.Harness

/** Steady-state timing of SparkEntry.queries into the noop sink. Prints the
  * short stdout line; `bench_last.json` also gets each query's counters.
  * Optional args bench only the named queries, and scope the warmup to them.
  *
  * Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_BENCH_PASSES (default 3),
  * plus the harness's SPARK_GRAFT_CPUS and warmup dirs. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pass interleaving: with all samples of a query CONSECUTIVE, a
    // multi-minute external load storm poisons every one of them (r13
    // observed 10-minute load-15 storms that put 0.3 s queries at 25 s).
    // P passes over the whole set re-sample each query in windows a full
    // sweep apart; the reported number is the min across passes.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // passes=0 would make the reduce below throw a bare
    // UnsupportedOperationException("empty.reduceLeft") — fail with a
    // message that names the knob instead.
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    val selected = Harness.select(SparkEntry.queries, args.toSeq).sortBy(_._1)
    val h = Harness()
    h.warmup(selected)
    // Between queries: ContextCleaner only reclaims dead broadcasts and
    // accumulators when a JVM GC notices them — on a 48g heap GC can be
    // hundreds of queries away, so broadcast blocks ratchet up in the block
    // manager and LATE queries pay the storage-eviction tax inside their
    // timed windows (the r11/r12 late-alphabet cluster: q47/q270-q277 at
    // 4-13x their isolated cost, reproduced fast when run alone). Nudge a
    // full GC when the heap passes 60% AND every 16th query regardless
    // (~19 GCs per sweep, ~1s each — bounded, untimed; a 48-query cadence
    // still left 1.5-2x residual inflation on the heaviest late queries).
    var sinceGc = 0
    def quiesce(): Unit = {
      h.quiesce()
      val rt = Runtime.getRuntime
      sinceGc += 1
      if (sinceGc >= 16 || rt.totalMemory - rt.freeMemory > rt.maxMemory / 10 * 6) {
        System.gc()
        sinceGc = 0
      }
    }
    def onePass(): Map[String, Harness.Run[Unit]] =
      selected.map { case (name, fn) =>
        val r = h.measure(name) {
          try Harness.noop(fn(h.spark, sfDir))
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
        }
        quiesce()
        name -> r
      }.toMap
    val fastest = (1 to passes).map(_ => onePass())
      .reduce((a, b) => a.map { case (k, v) => k -> (if (b(k).seconds < v.seconds) b(k) else v) })
    val (line, record) = report(fastest.map { case (k, r) => k -> r.seconds }, sfDir,
      fastest.map { case (k, r) => k -> r.usage })
    // Full-precision, full-name record → file (committed as the round's
    // quiet-box anchor; survives any log truncation).
    Files.writeString(Paths.get("bench_last.json"), record)
    println(line)
    h.spark.stop()
  }

  /** The counters the record carries for one query next to its seconds:
    * the usage of the pass whose seconds are reported. */
  def counters(seconds: Double, u: Harness.Usage): Seq[(String, Any)] = Seq(
    "outside_stages_s" -> u.outsideStagesSeconds(seconds),
    "jobs" -> u.jobs, "stages" -> u.stages.size,
    "task_s" -> u.taskMs / 1000.0, "cpu_s" -> u.cpuMs / 1000.0, "gc_s" -> u.gcMs / 1000.0,
    "shuffle_read_bytes" -> u.shuffleRead, "shuffle_write_bytes" -> u.shuffleWrite,
    "spill_bytes" -> u.spill, "input_bytes" -> u.input)

  /** The stdout line and the `bench_last.json` record for per-query seconds.
    * With `usages`, the record also carries each query's [[counters]]; the
    * line never does.
    *
    * The line is parsed from a bounded log tail (last ~2000 chars) by bench
    * consumers, so it must stay short: query keys are the qNNN
    * prefix, timings rounded to at most 3 decimals. 144 full-name
    * full-precision entries are ~5 KB and get truncated mid-line — that is
    * exactly the r1-r7 "parsed": null failure. */
  def report(results: Map[String, Double], sfDir: String,
             usages: Map[String, Harness.Usage] = Map.empty): (String, String) = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Machinery split (r15): the streaming replay gates spend ~3 s each on
    // FIXED harness cost (chunk write, cold stream start) at any SF;
    // reporting their subtotal keeps round-over-round totals comparable as
    // operator measurements.
    val machNames = results.keySet.intersect(SparkEntry.machineryQueries)
    val machTotal = machNames.toSeq.map(results).sum
    // FULL names here: this list lands in the full-name file record and
    // must join against its queries map keys (only the size-constrained
    // stdout line abbreviates)
    val machJson = machNames.toSeq.sorted
      .map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val qsFull = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val countersJson =
      if (usages.isEmpty) ""
      else usages.toSeq.sortBy(_._1).map { case (k, u) =>
        "\"" + k + "\":" + counters(results(k), u)
          .map { case (c, v) => "\"" + c + "\":" + v }.mkString("{", ",", "}")
      }.mkString(""","counters":{""", ",", "}")
    val record =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
        s""""machinery_total":$machTotal,"machinery_queries":$machJson,""" +
        s""""sf":"$sfDir"$countersJson}""" + "\n"
    // Trailing-zero trim ("0.50"->"0.5", "1.00"->"1"): worth ~1 char on
    // ~half the entries, which is what keeps 161 queries at 2-decimal
    // resolution inside the tail budget. Locale.ROOT: a comma-decimal
    // default locale (de_DE) would emit "1,234" and break the JSON this
    // line exists to keep parseable.
    def fmt(v: Double, decimals: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    def qs(entries: Seq[(String, Double)], decimals: Int): String =
      entries.sortBy(_._1)
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v, decimals) }
        .mkString("{", ",", "}")
    def render(decimals: Int): String =
      s"""{"metric":"total","value":${fmt(total, decimals)},"unit":"sec",""" +
        s""""queries":${qs(results.toSeq, decimals)},""" +
        s""""mach":${fmt(machTotal, decimals)},"sf":"$sfDir"}"""
    // The constraint: this line plus sbt's trailing "[success] Total time:
    // ..." line (~75 chars) must fit a 2000-char log tail. 1900
    // leaves that margin while degrading precision as late as possible.
    // Past ~180 queries even 1-decimal full coverage overflows; rather than
    // an empty map (which would silently discard every per-query number),
    // keep the SLOWEST prefix that fits at 2-decimal resolution and say how
    // many fast queries were dropped — the heavy tail is the signal a bench
    // consumer reads, and the omission is explicit.
    def renderTop(keep: Int): String =
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",""" +
        s""""queries":${qs(results.toSeq.sortBy(-_._2).take(keep), 2)},""" +
        s""""queries_omitted":${results.size - math.min(keep, results.size)},""" +
        s""""mach":${fmt(machTotal, 2)},"sf":"$sfDir"}"""
    val line = Seq(3, 2, 1).map(render).find(_.length <= 1900)
      .getOrElse((results.size to 1 by -10).view.map(renderTop)
        .find(_.length <= 1900)
        .getOrElse(s"""{"metric":"total","value":$total,"unit":"sec","queries":{},"sf":"$sfDir"}"""))
    (line, record)
  }
}
