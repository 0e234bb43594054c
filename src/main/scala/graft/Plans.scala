package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.tools.Harness

/** Dumps `explain("formatted")` for named SparkEntry queries, or for the
  * [[headline]] queries when none is named, into `<outDir>/<query>.txt` —
  * the reviewable record that filters/projections reach the scans, dims
  * broadcast and merges stay equi-joins, and the before/after plan evidence
  * of the optimization rounds (`plans/r18/`). Building a query's DataFrame
  * runs its pre-flight actions (budget estimates, localCheckpoints), so this
  * executes the decision passes but never the final query.
  *
  * Usage: Plans <sfDir> <outDir> [query ...]
  */
object Plans {
  val headline = Seq(
    "q01_pricing_summary", "q02_filter_pushdown", "q03_join_revenue",
    "q04_dim_star_join", "q15_scd1_merge", "q16_scd2_merge",
    "q20_minhash_lsh_pairs", "q24_ann_topk", "q30_sessionize",
    "q40_ivf_topk", "q41_salted_join", "q45_asof_join", "q46_corpus_minhash",
    "q47_range_join", "q54_group_sample", "q55_tfidf", "q60_hll_distinct",
    "q61_top_ngrams", "q62_contamination", "q65_bloom_semi_join",
    "q74_resample_fill", "q75_curriculum_bins", "q77_chunking",
    "q87_bm25", "q88_grouping_sets", "q90_skew_profile")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = args(1)
    val named = args.drop(2).toSeq
    val selected = Harness.select(SparkEntry.queries, if (named.isEmpty) headline else named)
    val h = Harness()
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { case (n, fn) =>
      val plan = fn(h.spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"$n.txt"), plan)
      h.quiesce()
      println(s"dumped $n (${plan.length} chars)")
    }
    h.spark.stop()
  }
}
