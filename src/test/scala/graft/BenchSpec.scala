package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Harness

/** Pins graft.Bench's output contract: the stdout line a bench consumer
  * parses from a bounded log tail, and the bench_last.json record. */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private val three = Map("q01_pricing_summary" -> 0.1234,
    "q20_minhash_lsh_pairs" -> 1.5, "q301_stream_debounce" -> 3.0)
  private val threeLine =
    """{"metric":"total","value":4.623,"unit":"sec",""" +
      """"queries":{"q01":0.123,"q20":1.5,"q301":3},"mach":3,"sf":"/data/sf0.1"}"""

  test("stdout line for a fixed 3-query map") {
    assert(Bench.report(three, "/data/sf0.1")._1 == threeLine)
  }

  test("328 queries: the line fits 1900 chars and names how many it omits") {
    val results = (1 to 328).map(i => f"q$i%03d_synthetic_query" -> ((i % 97) * 0.0731 + i * 1e-4)).toMap
    val line = Bench.report(results, "/data/sf0.1")._1
    assert(line.length <= 1900)
    val parsed = json.readTree(line)
    val kept = parsed.get("queries").fieldNames().asScala.toSeq
    assert(kept.nonEmpty)
    assert(parsed.get("queries_omitted").asInt() == 328 - kept.size)
    // the kept entries are the slowest ones
    val keptFull = kept.map(k => results.keys.find(_.startsWith(k + "_")).get).toSet
    val slowestOmitted = results.filterNot(r => keptFull(r._1)).values.max
    assert(keptFull.forall(results(_) >= slowestOmitted))
  }

  test("decimal separator stays '.' under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Bench.report(three, "/data/sf0.1")._1 == threeLine)
      val many = (1 to 328).map(i => f"q$i%03d_x" -> i * 0.01234).toMap
      assert(!Bench.report(many, "/data/sf0.1")._1.matches(".*\\d,\\d.*"))
    } finally Locale.setDefault(saved)
  }

  test("bench_last.json parses and carries every key at full precision") {
    val record = Bench.report(three, "/data/sf0.1")._2
    assert(record.endsWith("}\n"))
    val r = json.readTree(record)
    assert(r.fieldNames().asScala.toSeq ==
      Seq("metric", "value", "unit", "queries", "machinery_total", "machinery_queries", "sf"))
    assert(r.get("metric").asText() == "total" && r.get("unit").asText() == "sec")
    assert(r.get("value").asDouble() == three.values.sum)
    assert(r.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap == three)
    assert(r.get("machinery_total").asDouble() == 3.0)
    assert(r.get("machinery_queries").elements().asScala.map(_.asText()).toSeq ==
      Seq("q301_stream_debounce"))
    assert(r.get("sf").asText() == "/data/sf0.1")

    // with usages, each query entry carries every counter at full precision;
    // the two stages overlap, so 50 ms of the wall time ran inside a stage
    val stage = Harness.Stage(1, "s", submitMs = 1000L, completeMs = 1020L, taskMs = 1234L,
      cpuMs = 987L, gcMs = 13L, shuffleRead = 111L, shuffleWrite = 222L, input = 333L,
      spill = 444L, tasks = 4)
    val usages = three.keys.zipWithIndex.map { case (q, i) =>
      q -> Harness.Usage(3 + i, Seq(stage, stage.copy(id = 2, submitMs = 1010L, completeMs = 1050L,
        shuffleWrite = 1L << 40)))
    }.toMap
    val full = json.readTree(Bench.report(three, "/data/sf0.1", usages)._2)
    assert(full.fieldNames().asScala.toSeq == r.fieldNames().asScala.toSeq :+ "counters")
    assert(full.get("queries") == r.get("queries"))
    val counters = full.get("counters")
    assert(counters.fieldNames().asScala.toSeq == three.keys.toSeq.sorted)
    three.foreach { case (q, secs) =>
      val c = counters.get(q)
      assert(c.fieldNames().asScala.toSeq == Seq("outside_stages_s", "jobs", "stages",
        "task_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "input_bytes"))
      assert(c.get("outside_stages_s").asDouble() == math.max(0.0, secs - 0.05))
      assert(c.get("jobs").asInt() == usages(q).jobs && c.get("stages").asInt() == 2)
      assert(c.get("task_s").asDouble() == 2.468 && c.get("cpu_s").asDouble() == 1.974)
      assert(c.get("gc_s").asDouble() == 0.026)
      assert(c.get("shuffle_read_bytes").asLong() == 222L)
      assert(c.get("shuffle_write_bytes").asLong() == 222L + (1L << 40))
      assert(c.get("spill_bytes").asLong() == 888L && c.get("input_bytes").asLong() == 666L)
    }
  }
}
