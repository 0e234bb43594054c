package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.merge.ParquetTable
import graft.pipeline.{IngestionJob, ScdTarget}

/** Declarative stream-writer configuration, mirroring the reference's
  * WriteStreamConfig (reference M/writter/config/WriteStreamConfig.scala:
  * 6-65): checkpoint location, output mode, format, partition columns,
  * trigger, txn identity for idempotent writes, free-form extra options.
  *
  * `txnAppId` replaces Delta's txnVersion/txnAppId pair: our commit path
  * records (appId, batchId) in the ParquetTable log and skips replays.
  */
final case class WriteStreamConfig(
    checkpointLocation: String,
    outputMode: String = "update",
    format: String = "parquet",
    partitionBy: Seq[String] = Nil,
    triggerMode: String = "AvailableNow",   // ProcessingTime | Once | AvailableNow
    triggerDuration: String = "2 minutes",
    txnAppId: Option[String] = None,
    extraOptions: Map[String, String] = Map.empty) {

  def trigger: Trigger = triggerMode match {
    case "ProcessingTime" => Trigger.ProcessingTime(triggerDuration)
    case "Once" => Trigger.Once()
    case _ => Trigger.AvailableNow()
  }

  def applyOptions[T](w: DataStreamWriter[T]): DataStreamWriter[T] = {
    val base = w.outputMode(outputMode)
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .options(extraOptions)
    if (partitionBy.nonEmpty) base.partitionBy(partitionBy: _*) else base
  }
}

/** foreachBatch sinks — the streaming twins of the batch writers
  * (reference M/writter/DeltaWritter.scala:21-169 wrapping
  * M/utility/Utility.scala:731-1045). Exactly-once comes from the checkpoint
  * (batch replay after crash) + the (appId, batchId) txn record (replayed
  * batches are skipped by the commit log).
  */
object StreamSink {

  /** The SCD sink of one control row: each micro-batch merges into
    * `target` through [[IngestionJob.writeBatch]] — the writer batch
    * pipelines use — under the txn `(appId, batchId)`. The fact it returns
    * is not journaled here. The default appId is scoped to the target
    * table's root: a fixed constant would make two queries (or a wiped
    * checkpoint) collide on (appId, batchId) and silently skip real batches
    * as replays. */
  def scdBatch(target: ScdTarget, appId: String = null): (DataFrame, Long) => Unit = {
    val id = Option(appId).getOrElse(s"graft-${target.cfg.scdType}:${target.table.root}")
    (batch, batchId) => IngestionJob.writeBatch(target, batch, Some((id, batchId)))
  }

  /** Continuous exact-dedup ingestion: each micro-batch keeps only rows
    * whose `textCol` fingerprint is new — first against the rows ALREADY IN
    * the target (left_anti on the md5 fingerprint, via
    * [[graft.operators.Dedup.incrementalNew]]), then within the batch
    * itself (first row per fingerprint by `idCol`) — and appends the
    * survivors. Replays are no-ops through the (appId, batchId) txn record.
    * Scale: the anti-join shuffles on the 128-bit fingerprint; at 100 TB
    * the target side should be a pre-computed fingerprint column (it is
    * here: the fingerprint is persisted with each row), so each batch joins
    * against fingerprints, never re-hashes the corpus. */
  def dedupAppendBatch(table: ParquetTable, textCol: String, idCol: String,
                       appId: String = null): (DataFrame, Long) => Unit = {
    val id = Option(appId).getOrElse(s"graft-dedup-append:${table.root}")
    (batch, batchId) => table.withLock {
      if (!table.seenTxn(id, batchId)) {
        import org.apache.spark.sql.functions._
        val fresh =
          if (!table.exists) batch.withColumn("__fp", md5(col(textCol)))
          else {
            val seen = table.read.select(col("__fp")).distinct()
            batch.withColumn("__fp", md5(col(textCol)))
              .join(seen, Seq("__fp"), "left_anti")
          }
        // ONE row per new fingerprint, deterministically (min id)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fp")).orderBy(col(idCol))
        val deduped = fresh.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          // materialize BEFORE appending into the directory the anti-join reads
          .localCheckpoint()
        table.append(deduped, txn = Some((id, batchId)))
      }
    }
  }

  /** Continuous NEAR-dup-filtered ingestion — [[dedupAppendBatch]]'s fuzzy
    * sibling and the steady-state form of a curation pipeline's dedup
    * stage. Each micro-batch:
    *
    *  1. exact-dedups within the batch (one row per md5 fingerprint,
    *     deterministically the min id),
    *  2. drops every doc directly near-dup (banded MinHash + exact-Jaccard
    *     >= `threshold`) to a SMALLER id in the same batch — greedy by id
    *     over direct links, the replay-deterministic form of in-batch
    *     near-dedup,
    *  3. drops every remaining doc with a near-dup match in the persisted
    *     signature index ([[graft.operators.Dedup.minHashIndexTable]] rows
    *     accumulated from all prior survivors — the corpus is NEVER
    *     re-signed),
    *  4. appends the survivors to the target table and their signature
    *     rows to the index table, both under the batch txn.
    *
    * Replay safety: the index only ever contains prior SURVIVORS'
    * signatures, and both near-dup steps exclude equal ids, so re-running
    * a batch whose index append committed before a crash reproduces the
    * same survivor set (a survivor cannot near-dup another survivor by
    * construction — step 2/3 would have dropped it) and the per-table txn
    * records skip whichever append already landed. Each append only adds
    * files, so the index never rewrites itself per batch; `compact` it as
    * a maintenance job. */
  def nearDupFilterBatch(table: ParquetTable, index: ParquetTable,
                         textCol: String, idCol: String,
                         threshold: Double, bands: Int = 4, rowsPerBand: Int = 2,
                         shingleK: Int = 3,
                         appId: String = null): (DataFrame, Long) => Unit = {
    val id = Option(appId).getOrElse(s"graft-neardup-filter:${table.root}")
    (batch, batchId) => table.withLock {
      if (!table.seenTxn(id, batchId) || !index.seenTxn(id, batchId)) {
        import org.apache.spark.sql.functions._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fp")).orderBy(col(idCol))
        val exactDeduped = batch.withColumn("__fp", md5(col(textCol)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__fp")
          .localCheckpoint()
        val inBatchPairs = graft.operators.Dedup.verifiedNearDups(
          exactDeduped, textCol, idCol, threshold, bands, rowsPerBand, shingleK)
        val survivors1 = exactDeduped.join(
          inBatchPairs.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        val sigs = graft.operators.Dedup.minHashIndexTable(
          survivors1, textCol, idCol, bands, rowsPerBand, shingleK)
          .localCheckpoint()
        val accepted =
          if (!index.exists) sigs
          else {
            val hits = graft.operators.Dedup.incrementalNearDups(
                survivors1, index.read, textCol, idCol, threshold,
                bands, rowsPerBand, shingleK)
              .select(col("batch_id").as("id")).distinct()
            sigs.join(hits, Seq("id"), "left_anti")
          }
        val keptIds = accepted.select(col("id").as(idCol))
        val survivors = survivors1.join(keptIds, Seq(idCol), "left_semi")
          .localCheckpoint() // decided BEFORE either append mutates state
        index.append(accepted.localCheckpoint(), txn = Some((id, batchId)))
        table.append(survivors, txn = Some((id, batchId)))
      }
    }
  }

  /** Start a foreachBatch stream with the declarative config (ref
    * ProcessOutputStream.processOutputStreamBatch,
    * M/writter/ProcessOutputStream.scala:50-76). */
  def startForeachBatch(df: DataFrame, cfg: WriteStreamConfig,
                        fn: (DataFrame, Long) => Unit): StreamingQuery =
    cfg.applyOptions(
      df.writeStream.foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        fn(b.toDF(), id))
    ).start()

  /** Per-batch error containment (ref M/commons/Task.scala:90-191 +
    * streamingStoreStatusAndExit): on batch failure, journal the offending
    * batch rows into pipeline_error_logs and the failure into
    * pipeline_status, then rethrow so the query stops rather than silently
    * dropping a batch. */
  def withJournal(fn: (DataFrame, Long) => Unit,
                  journal: graft.pipeline.Journal,
                  pipelineDefId: String,
                  taskName: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      try {
        fn(batch, batchId)
        journal.logStatus(pipelineDefId, taskName, "Finished", s"batch $batchId")
      } catch {
        case e: Throwable =>
          try {
            journal.logErrorRows(pipelineDefId, batch, e.toString)
            journal.logStatus(pipelineDefId, taskName, "Error",
              s"batch $batchId: ${e.getMessage}")
          } catch { case _: Throwable => () } // journaling must not mask the failure
          throw e
      }

  /** Plain append stream to a parquet path (ref StreamDeltaWritterAppendSCD*,
    * M/writter/DeltaWritter.scala:324-443: history-load append with fixed
    * trigger + per-table checkpoint). */
  def startAppend(df: DataFrame, cfg: WriteStreamConfig, path: String): StreamingQuery =
    // append is forced: file sinks reject the config default ("update")
    cfg.applyOptions(df.writeStream.format(cfg.format))
      .outputMode("append").start(path)
}
