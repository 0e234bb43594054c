package graft
import java.nio.file.{Files, Paths}

import graft.tools.Harness

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = args(1)
    val selected = Harness.select(SparkEntry.queries, args.drop(2).toSeq)
    val h = Harness()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(h.spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Per-SF token: q217's materialize-then-audit oracle must read the
    // artifact THIS run wrote (per-SF subdirectory), so the dumped SQL
    // carries the run's SF dir name in place of __GRAFT_SFNAME__.
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_SFNAME__", sfName))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    h.spark.stop()
  }
}
