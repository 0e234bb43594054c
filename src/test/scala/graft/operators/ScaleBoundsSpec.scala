package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Operator-internal scale claims, bounded at two generated corpus sizes a
  * decade apart. Per-query growth (wall, jobs, shuffle and input bytes) is
  * measured by `graft.Bench`'s counters; these are the two counts no query
  * counter shows: the prefix filter's candidate pairs and the rounds of
  * connected components. */
class ScaleBoundsSpec extends SparkSpec {
  import spark.implicits._

  /** `n` documents of 30-60 words drawn from a Zipf(1.1) vocabulary of 2n
    * words, so the vocabulary grows with the corpus (Heaps' law). Every
    * 20th document is a copy of an earlier one with one word replaced: the
    * near-duplicates a Jaccard pass must find. */
  private def zipfCorpus(n: Int): DataFrame = {
    val rnd = new scala.util.Random(n)
    val cdf = (1 to 2 * n).map(r => math.pow(r, -1.1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      "w" + (if (i >= 0) i else -i - 1)
    }
    val docs = new Array[Array[String]](n)
    for (i <- 0 until n) docs(i) =
      if (i % 20 == 19) docs(rnd.nextInt(i)).updated(rnd.nextInt(30), word())
      else Array.fill(30 + rnd.nextInt(31))(word())
    docs.toSeq.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** `chains` version histories of `length` documents each: 400 words
    * drawn uniformly from 5000, each version replacing one word of the
    * previous one. Nearby versions are SimHash near-duplicates and
    * unrelated documents are not, so each history forms one component (or
    * a few, where an edit flips too many bits) whose diameter grows with
    * `length`. */
  private def chainCorpus(chains: Int, length: Int): DataFrame = {
    val rnd = new scala.util.Random(chains * 1000L + length)
    val docs = (0 until chains).flatMap { c =>
      Iterator.iterate(Array.fill(400)("v" + rnd.nextInt(5000)))(
        d => d.updated(rnd.nextInt(400), "v" + rnd.nextInt(5000)))
        .take(length).zipWithIndex
        .map { case (d, i) => ((c * length + i).toLong, d.mkString(" ")) }
    }
    docs.toDF("doc_id", "text")
  }

  // Bounds: the counts measured over three runs (identical each time: the
  // corpora and both operators are deterministic), with headroom only on
  // the candidate counts. A whole-set prefix or a label propagation without
  // pointer jumping fails them.

  test("q193 prefix filter: candidate pairs grow sub-quadratically with the corpus") {
    // t = 0.5 over 3-shingles, q193's operating point; measured 118 and 1090
    def candidates(n: Int) = Dedup.prefixCandidateCount(zipfCorpus(n), "text", "doc_id", 0.5, 3)
    val small = candidates(2000)
    assert(small <= 130, s"$small candidates at 2000 docs")
    val large = candidates(20000)
    assert(large <= 1200, s"$large candidates at 20000 docs")
  }

  test("q53 connected components: rounds grow with log diameter, not diameter") {
    // simHashNearDups64 at Hamming <= 3, q53's edge generator; measured 4 and 7
    def rounds(length: Int) = {
      Dedup.connectedComponents(Dedup.simHashNearDups64(chainCorpus(20, length), "text",
        "doc_id", maxHamming = 3))
      Dedup.lastCcRounds
    }
    val short = rounds(12)
    assert(short <= 4, s"$short rounds over 20 histories of 12 versions")
    val long = rounds(120)
    assert(long <= 7, s"$long rounds over 20 histories of 120 versions")
  }
}
