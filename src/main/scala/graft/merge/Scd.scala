package graft.merge

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import MergeInto._

/** SCD Type 1 / 2 / 4 maintenance, the reference's flagship capability
  * (reference M/utility/Utility.scala:394-707 batch,
  * :731-1045 streaming twins). Each SCD is defined once, as `scdNApply`:
  * PURE DataFrame -> DataFrame semantics (target contents + update batch ->
  * post-merge contents), the unit the DuckDB oracle checks and the form
  * `SparkEntry.queries` uses. The table-backed writer `writeScdN` is that
  * applier run over the rows of the partitions its batch touches
  * ([[ParquetTable.rewrite]]), with dedup and commit metrics around it.
  *
  * A table-backed writer materializes its batch once: the deduped rows are
  * checkpointed by one job, outside the table's lock, and that job also
  * counts the rows before and after the dedup (two Observations). Every
  * commit it makes, the creating one included, records both counts as
  * `numInputRows` and `numSourceRows`, and the writer returns them. Later
  * plans read the checkpointed rows, so no count, dedup or source read
  * runs twice.
  *
  * Scale: each SCD application is one shuffled equi-join on the merge keys
  * (broadcast when the batch is small) + codegen'd CASE projection; the
  * table-backed path rewrites only touched partitions.
  */
object Scd {

  /** Windowed dedup: keep ONE row per join key, ranked by `orderCols`.
    * The reference orders ASCENDING on updated_at — keeping the OLDEST update
    * (ref M/utility/Utility.scala:406-413, a likely bug, see SURVEY §2.14).
    * Default here keeps the NEWEST; `strictParity=true` restores reference
    * behavior. */
  def dedupByKey(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                 strictParity: Boolean = false): DataFrame = {
    if (orderCols.isEmpty) return df.dropDuplicates(keys)
    val ord = orderCols.map(c => if (strictParity) col(c).asc else col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** How long a writer waits for a batch's row counts after the job that
    * counted them has returned (they arrive through the listener bus). */
  private val observationWait = 2.minutes

  /** The row count `obs` observed, failing with a named cause when it does
    * not arrive within `within`. Spark delivers an empty row when its
    * optimizer removed the observed plan, as it does for an input it has
    * proved empty (an empty batch under the dedup's window). */
  private[merge] def observedRows(obs: Observation, what: String,
                                  within: FiniteDuration = observationWait): Long = {
    val row =
      try Await.result(obs.future, within)
      catch { case e: TimeoutException =>
        throw new IllegalStateException(
          s"$what: the batch's row count was not delivered within $within", e) }
    if (row.length == 0) 0L else row.getLong(0)
  }

  /** `updates` deduped by key and checkpointed by one job, with the commit
    * metrics that job observed: `numInputRows` before the dedup and
    * `numSourceRows` after it. */
  private def materialize(updates: DataFrame, keySpecs: Seq[String],
                          dedupOrderCols: Seq[String]): (DataFrame, Map[String, String]) = {
    val (in, src) = (Observation(), Observation())
    val observed = updates.observe(in, count(lit(1)).as("rows"))
    val deduped =
      if (dedupOrderCols.isEmpty) observed
      else dedupByKey(observed, extractJoinKeys(keySpecs), dedupOrderCols)
    val batch = deduped.observe(src, count(lit(1)).as("rows")).localCheckpoint()
    (batch, Map(
      "numInputRows" -> observedRows(in, "numInputRows").toString,
      "numSourceRows" -> observedRows(src, "numSourceRows").toString))
  }

  /** The one skeleton of every table-backed writer: a seen txn returns
    * `Map.empty` before the batch is materialized; otherwise, under the
    * table's lock, the table is created from `seed(batch)`, or the rows of
    * the partitions the batch touches are rewritten to `merge(rows, batch)`,
    * and the commit metrics are returned. The txn is checked again under
    * the lock, before `merge` runs any of its steps: a concurrent delivery
    * of the same batch may have committed while this one waited. The
    * creating commit records the txn too, so a replayed batch 0 is
    * skipped. */
  private def write(table: ParquetTable, updates: DataFrame, keySpecs: Seq[String],
                    dedupOrderCols: Seq[String], txn: Option[(String, Long)])(
                    seed: DataFrame => DataFrame)(
                    merge: (DataFrame, DataFrame) => DataFrame): Map[String, String] = {
    def seen = txn.exists { case (a, v) => table.seenTxn(a, v) }
    if (seen) return Map.empty
    val (batch, metrics) = materialize(updates, keySpecs, dedupOrderCols)
    table.withLock {
      if (seen) Map.empty[String, String]
      else {
        if (!table.exists) table.create(seed(batch), metrics, txn)
        else table.rewrite(batch, txn, metrics)(merge(_, batch))
        metrics
      }
    }
  }

  /** The rows the not-matched clauses insert from `batch` into an empty
    * table. A bootstrap applies the INSERT clause logic, not the raw batch:
    * a first batch containing delete tombstones (e.g. row_active=false rows
    * excluded by a conditional insert) must not become live rows. Joining on
    * `false` makes every update row take the not-matched path. */
  private def inserted(batch: DataFrame, notMatched: Seq[WhenNotMatched]): DataFrame =
    MergeInto(batch.filter(lit(false)), batch, "false", Nil, notMatched)

  // -------------------------------------------------------------------------
  // SCD TYPE 1 — upsert in place (ref M/utility/Utility.scala:394-479)
  // -------------------------------------------------------------------------

  /** Default clause set: updateAll on match, insertAll otherwise; callers pass
    * the reference's ordered clause list for the full matrix (conditional
    * update / delete / conditional insert). */
  def scd1Apply(target: DataFrame, updates: DataFrame, keySpecs: Seq[String],
                matched: Seq[WhenMatched] = Seq(WhenMatched(None, UpdateAll)),
                notMatched: Seq[WhenNotMatched] = Seq(WhenNotMatched(None, InsertAll)),
                extraCondition: Option[String] = None): DataFrame =
    MergeInto(target, updates, buildJoinCondition(keySpecs, extraCondition),
      matched, notMatched)

  def writeScd1(table: ParquetTable, updates: DataFrame, keySpecs: Seq[String],
                matched: Seq[WhenMatched] = Seq(WhenMatched(None, UpdateAll)),
                notMatched: Seq[WhenNotMatched] = Seq(WhenNotMatched(None, InsertAll)),
                dedupOrderCols: Seq[String] = Nil,
                extraCondition: Option[String] = None,
                txn: Option[(String, Long)] = None): Map[String, String] =
    write(table, updates, keySpecs, dedupOrderCols, txn)(inserted(_, notMatched)) {
      scd1Apply(_, _, keySpecs, matched, notMatched, extraCondition)
    }

  // -------------------------------------------------------------------------
  // SCD TYPE 2 — row-versioned history (ref M/utility/Utility.scala:493-608)
  // -------------------------------------------------------------------------

  /** SCD2 via the staged-union trick the reference uses
    * (ref M/utility/Utility.scala:541-587): each changed update row appears
    * TWICE in the merge source — once keyed (expires the old current row via
    * `updateMap`) and once with NULL merge keys (falls through to the insert
    * clause, creating the new current version). One merge does both.
    *
    * @param keySpecs        join key specs ("k" or "tk = uk")
    * @param matchCondition  which matched rows count as changed, e.g.
    *                        "target.current_flag = true AND target.v <> updates.v"
    * @param updateMap       SET map expiring the old row
    *                        (e.g. "current_flag" -> "false", "expiry_at" -> "updates.eff_date")
    * @param insertMap       VALUES map creating the new current row
    */
  def scd2Apply(target: DataFrame, updates: DataFrame, keySpecs: Seq[String],
                matchCondition: String,
                updateMap: Map[String, String],
                insertMap: Map[String, String],
                extraCondition: Option[String] = None): DataFrame = {
    val uKeys = extractJoinKeys(keySpecs)
    val tKeys = extractTargetKeys(keySpecs)

    // Rows needing a NEW version: updates that match a current row AND differ
    // (ref M/utility/Utility.scala:534-538).
    val t = target.alias("target")
    val u = updates.alias("updates")
    val joinCond = expr(buildJoinCondition(keySpecs, extraCondition))
    val rowsToInsert = u.join(t, joinCond, "inner")
      .where(expr(matchCondition))
      .select(updates.columns.map(c => col(s"updates.$c")): _*)

    // Staged source: inserts carry NULL mergekeys, updates carry real keys.
    val mergeKeyCols = uKeys.indices.map(i => s"__mergekey_$i")
    val stagedInserts = mergeKeyCols.zip(uKeys).foldLeft(rowsToInsert) {
      case (d, (mk, k)) => d.withColumn(mk, lit(null).cast(updates.schema(k).dataType))
    }
    val stagedUpdates = mergeKeyCols.zip(uKeys).foldLeft(updates) {
      case (d, (mk, k)) => d.withColumn(mk, col(k))
    }
    val staged = stagedInserts.unionByName(stagedUpdates)

    val mergeCond = tKeys.zip(mergeKeyCols)
      .map { case (tk, mk) => s"target.$tk = updates.$mk" }
      .++(extraCondition.toSeq).mkString(" AND ")
    MergeInto(target, staged, mergeCond,
      matched = Seq(WhenMatched(Some(matchCondition), UpdateExpr(updateMap))),
      notMatched = Seq(WhenNotMatched(None, InsertExpr(insertMap))))
  }

  /** Temporal (point-in-time) join of a fact table against an SCD2
    * dimension: each fact row picks the dimension VERSION that was valid
    * on its own date — `eff ≤ factDate < expiry` (open expiry = NULL), the
    * half-open convention under which exactly one version matches any
    * date (a version expiring on D hands D to its successor). This is the
    * read side of [[scd2Apply]]/[[writeScd2]]: history exists so facts can
    * be joined to the dimension AS IT WAS, not as it is.
    *
    * Plan shape: a plain hash equi-join on the business key with the
    * validity window as a post-join residual filter — never a range/theta
    * join, because the SCD2 invariant (non-overlapping versions per key)
    * guarantees at most `versions-per-key` candidates per fact, a small
    * constant in any real dimension. Left join keeps orphan facts (their
    * dimension columns come back NULL — the audit signal, same stance as
    * [[graft.operators.DataQuality.referentialIntegrity]]). */
  def scd2TemporalJoin(facts: DataFrame, dim: DataFrame,
                       factKey: String, dimKey: String, factDateCol: String,
                       effCol: String = "eff_date",
                       expCol: String = "expiry_date"): DataFrame =
    facts.alias("f").join(dim.alias("d"),
      col(s"f.$factKey") === col(s"d.$dimKey") &&
        col(s"d.$effCol") <= col(s"f.$factDateCol") &&
        (col(s"d.$expCol").isNull ||
          col(s"d.$expCol") > col(s"f.$factDateCol")),
      "left")

  def writeScd2(table: ParquetTable, updates: DataFrame, keySpecs: Seq[String],
                matchCondition: String,
                updateMap: Map[String, String],
                insertMap: Map[String, String],
                dedupOrderCols: Seq[String] = Nil,
                extraCondition: Option[String] = None,
                txn: Option[(String, Long)] = None): Map[String, String] =
    write(table, updates, keySpecs, dedupOrderCols, txn) {
      // Bootstrap must already be SCD2-SHAPED (current_flag/expiry columns
      // the later matchCondition references): evaluate the insertMap over the
      // batch — exactly the rows the not-matched clause would have produced.
      batch => batch.alias("updates").select(insertMap.toSeq.map {
        case (k, v) => expr(v).as(k.split('.').last)
      }: _*)
    } {
      // Partition-bounded SCD2 (ref splices manual DPP into its SCD2 merge,
      // M/utility/Utility.scala:524-527,548-551): the rows-to-insert probe
      // and the merge read only the partitions the batch touches — the
      // staged insert rows carry the batch's own partition values — so a CDC
      // micro-batch neither reads nor rewrites untouched partitions.
      scd2Apply(_, _, keySpecs, matchCondition, updateMap, insertMap, extraCondition)
    }

  // -------------------------------------------------------------------------
  // SCD TYPE 4 — current table + history table (ref M/utility/Utility.scala:621-707)
  // -------------------------------------------------------------------------

  /** SCD4's current-table clause matrix: `row_active = false` soft-deletes,
    * everything else upserts; only active rows are inserted, which is also
    * how `writeScd4` seeds a new current table. */
  private val scd4Matched = Seq(
    WhenMatched(Some("updates.row_active = false"),
      UpdateExpr(Map("deleted_flag" -> "true"))),
    WhenMatched(None, UpdateAll))
  private val scd4NotMatched =
    Seq(WhenNotMatched(Some("updates.row_active = true"), InsertAll))

  /** Returns (newCurrent, historyAppendRows).
    *
    * Matched current rows are snapshotted into history (stamped
    * `history_created_at` from the update's `updatedAtCol`,
    * ref M/utility/Utility.scala:645-676), then the current table takes an
    * SCD1 merge where `row_active = false` updates soft-delete
    * (`deleted_flag = true`) instead of updating. */
  def scd4Apply(current: DataFrame, updates: DataFrame, keySpecs: Seq[String],
                updatedAtCol: String = "updated_at",
                extraCondition: Option[String] = None): (DataFrame, DataFrame) = {
    val joinCond = expr(buildJoinCondition(keySpecs, extraCondition))
    val historyRows = current.alias("target")
      .join(updates.alias("updates"),
        joinCond && col("updates.row_active") === lit(true), "inner")
      .select(current.columns.map(c => col(s"target.$c")) :+
        col(s"updates.$updatedAtCol").cast("timestamp").as("history_created_at"): _*)
    val newCurrent = scd1Apply(current, updates, keySpecs,
      matched = scd4Matched, notMatched = scd4NotMatched,
      extraCondition = extraCondition)
    (newCurrent, historyRows)
  }

  def writeScd4(current: ParquetTable, history: ParquetTable, updates: DataFrame,
                keySpecs: Seq[String], updatedAtCol: String = "updated_at",
                dedupOrderCols: Seq[String] = Nil,
                extraCondition: Option[String] = None,
                txn: Option[(String, Long)] = None): Map[String, String] =
    // only ACTIVE rows seed current: a first-batch tombstone is no live row
    write(current, updates, keySpecs, dedupOrderCols, txn)(inserted(_, scd4NotMatched)) {
      (rows, batch) =>
        // Partition-bounded SCD4: the history snapshot join and the current
        // table's merge read only the partitions the batch touches. History
        // is appended FIRST — it materializes while current's data files are
        // still the ones its plan reads. The append is keyed by the current
        // version it precedes, read under current's lock: a rerun after a
        // crash in current's commit window finds that key and replaces the
        // crashed attempt's history rows with its own, whatever batch it
        // carries and whether or not the caller passed a txn. The caller's
        // txn rides on current.
        val (next, hist) = scd4Apply(rows, batch, keySpecs, updatedAtCol, extraCondition)
        history.appendAs(hist, (s"scd4:${current.id}", current.latestVersion + 1))
        next
    }
}
