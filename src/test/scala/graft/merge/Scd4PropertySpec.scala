package graft.merge

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Row type for the SCD4 property model (top-level for the encoder). */
case class Scd4PropRow(k: Int, v: Int, row_active: Boolean,
                       deleted_flag: Boolean,
                       updated_at: java.sql.Timestamp)

/** Property-based check of the SCD4 (current + history) pair: random
  * multi-batch sequences with upserts, soft-delete tombstones, and
  * re-activations against a driver-side model — current holds the last
  * active state (tombstones flip ONLY deleted_flag), history accumulates
  * the pre-merge snapshot of every matched active update, stamped with
  * the update's timestamp. Then the crash-replay property over
  * writeScd4's TWO commit windows: history appends first, keyed by the
  * current version it precedes, and current merges second under the
  * caller's (appId, batchId) txn, if any — a crash in either window
  * followed by redelivery, with or without a txn (a stream replay or a
  * batch rerun), of the same batch or of another one (a next run that
  * reads a new batch), must land on BOTH tables the state of a no-crash
  * run of the batches that landed (the reference's Delta txn semantics,
  * re-derived over the COW commit log). */
class Scd4PropertySpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new java.sql.Timestamp(i * 1000L)

  // one update per key per batch (the writers' dedup contract);
  // ~1 in 4 updates is a tombstone (row_active = false)
  private def genBatch(minRows: Int): Gen[List[Scd4PropRow]] = for {
    n <- Gen.choose(minRows, 6)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 6), Gen.choose(0, 4),
      Gen.frequency(3 -> true, 1 -> false)))
  } yield rows.groupBy(_._1).values.map(_.head).toList
    .map { case (k, v, act) =>
      Scd4PropRow(k, v, act, deleted_flag = false, ts(0)) }

  private val genScenario: Gen[List[List[Scd4PropRow]]] = for {
    b1 <- genBatch(0); b2 <- genBatch(0); b3 <- genBatch(0); b4 <- genBatch(0)
  } yield List(b1, b2, b3, b4).zipWithIndex
    .map { case (b, i) => b.map(_.copy(updated_at = ts(i + 1))) }

  private case class MRow(v: Int, active: Boolean, deleted: Boolean, t: Int)

  /** Driver model: (current state, history snapshots with stamp). */
  private def modelApply(state: Map[Int, MRow],
                         hist: Vector[(Int, MRow, Int)],
                         batch: List[Scd4PropRow], day: Int)
      : (Map[Int, MRow], Vector[(Int, MRow, Int)]) =
    batch.foldLeft((state, hist)) { case ((s, h), u) =>
      if (!u.row_active) {
        // tombstone: flips ONLY deleted_flag on a matched row; unknown
        // keys drop; history never snapshots a tombstone match
        s.get(u.k) match {
          case Some(cur) => (s.updated(u.k, cur.copy(deleted = true)), h)
          case None => (s, h)
        }
      } else s.get(u.k) match {
        case Some(cur) => // pre-merge snapshot to history, then UpdateAll
          (s.updated(u.k, MRow(u.v, active = true, deleted = false, day)),
            h :+ ((u.k, cur, day)))
        case None =>
          (s.updated(u.k, MRow(u.v, active = true, deleted = false, day)), h)
      }
    }

  private def tsDay(t: java.sql.Timestamp): Int = (t.getTime / 1000L).toInt

  test("scd4Apply matches the current+history model on random sequences") {
    val prop = Prop.forAll(genScenario) { batches =>
      var current = Seq.empty[Scd4PropRow].toDF()
      var history: Option[org.apache.spark.sql.DataFrame] = None
      batches.foreach { batch =>
        if (batch.nonEmpty) {
          val (nc, hr) = Scd.scd4Apply(current, batch.toDF(), Seq("k"))
          current = nc.localCheckpoint()
          history = Some(history.map(_.unionByName(hr)).getOrElse(hr)
            .localCheckpoint())
        }
      }
      val (ms, mh) = batches.zipWithIndex.foldLeft(
        (Map.empty[Int, MRow], Vector.empty[(Int, MRow, Int)])) {
        case ((s, h), (b, i)) => modelApply(s, h, b, i + 1)
      }
      val gotCur = current.collect().map(r => r.getInt(0) ->
        MRow(r.getInt(1), r.getBoolean(2) || !r.getBoolean(3),
          r.getBoolean(3), tsDay(r.getTimestamp(4)))).toMap
      // model "active" is derived: a tombstoned row keeps target's old
      // row_active (UpdateExpr touches only deleted_flag) — compare on
      // (v, deleted, ts) which the model tracks exactly
      val curOk = gotCur.keySet == ms.keySet && ms.forall { case (k, m) =>
        val g = gotCur(k); g.v == m.v && g.deleted == m.deleted && g.t == m.t
      }
      val gotHist = history.map(_.collect().map(r => (r.getInt(0),
          r.getInt(1), r.getBoolean(3), tsDay(r.getTimestamp(5))))
          .groupBy(identity).view.mapValues(_.length).toMap)
        .getOrElse(Map.empty)
      val wantHist = mh.map { case (k, m, day) => (k, m.v, m.deleted, day) }
        .groupBy(identity).view.mapValues(_.length).toMap
      val histOk = gotHist == wantHist
      if (!(curOk && histOk))
        println(s"batches=$batches\ngotCur=$gotCur\nmodelCur=$ms\n" +
          s"gotHist=$gotHist\nwantHist=$wantHist")
      curOk && histOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("writeScd4: a crash in EITHER table's commit window replays cleanly") {
    // returns both tables' final rows, whether every crash left both
    // tables as they were (same versions, same rows) until the redelivery,
    // and the batches that landed: after a crash, `other` (if given) is
    // redelivered in place of the crashed batch
    def applyAll(prefix: String, keys: Seq[String],
                 batches: List[List[Scd4PropRow]],
                 crashAt: Option[(Int, Boolean)], // (batch, onHistory?)
                 withTxn: Boolean, other: Option[List[Scd4PropRow]] = None)
        : ((Set[Seq[Any]], Map[Seq[Any], Int]), Boolean, List[List[Scd4PropRow]]) = {
      val curRoot = tmpDir(s"${prefix}_cur")
      val histRoot = tmpDir(s"${prefix}_hist")
      var cur = new ParquetTable(spark, curRoot, keys)
      var hist = new ParquetTable(spark, histRoot, keys)
      var atomic = true
      var landed = batches
      def state(t: ParquetTable) =
        if (t.exists) Some((t.latestVersion, t.read.collect().map(_.toSeq).toSeq
          .groupBy(identity).view.mapValues(_.length).toMap)) else None
      def write(b: List[Scd4PropRow], i: Int): Unit =
        Scd.writeScd4(cur, hist, b.toDF(), Seq("k"),
          txn = Option.when(withTxn)(("scd4prop", i.toLong)))
      batches.zipWithIndex.foreach { case (b, i) =>
        if (b.nonEmpty) {
          if (crashAt.contains((i, true)))
            hist.onPreCommit = () => throw new RuntimeException("boom-h")
          if (crashAt.contains((i, false)))
            cur.onPreCommit = () => throw new RuntimeException("boom-c")
          if (crashAt.exists(_._1 == i)) {
            // the hook may legitimately not fire (e.g. a bootstrap batch
            // never touches the history table) — redeliver only on crash
            val before = (state(cur), state(hist))
            val onHistory = crashAt.exists(_._2)
            val attempt = scala.util.Try(write(b, i))
            cur = new ParquetTable(spark, curRoot, keys) // restart both handles
            hist = new ParquetTable(spark, histRoot, keys)
            if (attempt.isFailure) {
              // history commits before current: a crash on current leaves
              // the history commit in place, a crash on history neither
              atomic &&= (if (onHistory) (state(cur), state(hist)) == before
                          else state(cur) == before._1)
              val again = other.getOrElse(b)
              landed = landed.updated(i, again)
              write(again, i) // redelivery, same txn (or none again)
            }
          } else write(b, i)
        }
      }
      ((if (cur.exists) rowsOf(cur.read) else Set.empty,
        state(hist).map(_._2).getOrElse(Map.empty)), atomic, landed)
    }
    // the crashed batch's index and what is redelivered: the crashed batch,
    // or another (non-empty) one stamped with the crashed batch's timestamp
    val genRedelivery = Gen.choose(0, 3).flatMap { i =>
      Gen.oneOf(Gen.const(None), genBatch(1).map(b => Some(b.map(_.copy(updated_at = ts(i + 1))))))
        .map(i -> _)
    }
    // both layouts: snapshot tables, and both tables partitioned by the key
    val prop = Prop.forAll(genScenario, genRedelivery,
      Gen.oneOf(true, false), Gen.oneOf(true, false)) {
      (batches, redelivery, onHistory, withTxn) =>
      val (crashIdx, other) = redelivery
      Seq(Nil, Seq("k")).forall { keys =>
        val (crashed, atomic, landed) = applyAll("scd4p_crash", keys, batches,
          Some((crashIdx, onHistory)), withTxn, other)
        val (clean, _, _) = applyAll("scd4p_clean", keys, landed, None, withTxn)
        if (clean != crashed || !atomic)
          println(s"keys=$keys crashIdx=$crashIdx onHistory=$onHistory withTxn=$withTxn " +
            s"other=$other batches=$batches\nclean=$clean\ncrashed=$crashed\natomic=$atomic")
        clean == crashed && atomic
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
