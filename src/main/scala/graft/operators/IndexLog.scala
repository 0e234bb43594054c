package graft.operators

import org.apache.spark.sql.SparkSession

/** The append-segment commit log of the persisted ANN indexes
  * ([[Similarity.appendToIvfIndex]], [[Similarity.appendToIvfPqIndex]]),
  * whose probes read bucket directories directly: a parquet table of
  * (app_id, batch_id, segment) rows under `<path>/append_log`, one row per
  * COMMITTED append segment directory under `<path>/appends/<segment>`.
  *
  * The two-step contract every writer rides:
  *   1. write the segment's data files (crash here → files with no log row,
  *      invisible to every reader; a retry overwrites the same segment dir);
  *   2. append one log row — the commit. A replayed `(appId, batchId)`
  *      already present in the log is a no-op, so foreachBatch callers get
  *      exactly-once index content.
  *
  * [[retire]] closes the maintenance loop for compaction: it removes ONLY
  * the given (already folded-into-base) segments — the log is rewritten
  * minus the folded rows, so a segment committed by a concurrent append
  * AFTER the compactor captured its fold list survives with its data
  * intact (r16 ADVICE: the previous whole-directory delete silently lost
  * such a segment). When nothing survives, the log and segment root are
  * simply deleted — the common single-writer case, with no rewrite window
  * at all. The rewrite path swaps via `append_log.tmp`; [[committed]]
  * falls back to the tmp dir when the swap crashed between delete and
  * rename, so no committed-but-unfolded segment is ever lost.
  */
private[operators] object IndexLog {

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = s"$path/append_log"
  private def tmpDir(path: String) = s"$path/append_log.tmp"
  def segmentDir(path: String, segment: String) = s"$path/appends/$segment"

  /** Committed append segments: (appId, batchId, segment). Reads the tmp
    * swap target when a [[retire]] crashed between delete and rename —
    * the tmp dir is always a fully-written replacement log. */
  def committed(spark: SparkSession, path: String): Seq[(String, Long, String)] = {
    val f = fs(spark, path)
    val dir =
      if (f.exists(new org.apache.hadoop.fs.Path(logDir(path)))) logDir(path)
      else if (f.exists(new org.apache.hadoop.fs.Path(tmpDir(path)))) tmpDir(path)
      else return Seq.empty
    spark.read.parquet(dir)
      .select("app_id", "batch_id", "segment").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
  }

  /** Append one commit row — the step that makes a segment visible. */
  def commit(spark: SparkSession, path: String, appId: String, batchId: Long,
             segment: String): Unit = {
    import spark.implicits._
    Seq((appId, batchId, segment)).toDF("app_id", "batch_id", "segment")
      .coalesce(1).write.mode("append").parquet(logDir(path))
  }

  /** Remove `folded` segments (log rows + data dirs) after their contents
    * were durably folded into the index base. Segments committed since the
    * compactor captured `folded` keep their data AND their log rows.
    *
    * ORDER MATTERS: log rows are removed BEFORE the data dirs. A crash
    * between the two leaves orphaned segment directories no log row names
    * — invisible garbage a later retire or full rebuild sweeps — whereas
    * the reverse order would leave the log pointing at DELETED data, and
    * every reader (and the compact retry itself) would throw on the
    * missing path instead of converging. Remaining crash windows all
    * converge on retry: before the log rewrite, the folded rows are still
    * listed and the refold id-dedups to the same base; between log delete
    * and tmp rename, [[committed]] serves the tmp dir. */
  def retire(spark: SparkSession, path: String,
             folded: Seq[(String, Long, String)]): Unit = {
    if (folded.isEmpty) return
    val f = fs(spark, path)
    def del(p: String) = f.delete(new org.apache.hadoop.fs.Path(p), true)
    val foldedSegs = folded.map(_._3).toSet
    val survivors = committed(spark, path).filterNot(s => foldedSegs(s._3))
    if (survivors.isEmpty) {
      del(logDir(path)); del(tmpDir(path)); del(s"$path/appends")
    } else {
      import spark.implicits._
      del(tmpDir(path))
      survivors.toDF("app_id", "batch_id", "segment")
        .coalesce(1).write.parquet(tmpDir(path))
      del(logDir(path))
      f.rename(new org.apache.hadoop.fs.Path(tmpDir(path)),
        new org.apache.hadoop.fs.Path(logDir(path)))
      foldedSegs.foreach(s => del(segmentDir(path, s)))
    }
  }
}
