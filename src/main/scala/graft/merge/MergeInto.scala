package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** MERGE INTO semantics as a pure DataFrame-to-DataFrame computation.
  *
  * The reference delegates merging to Delta Lake's `DeltaTable.merge`
  * (reference M/utility/Utility.scala:433-458 and the clause ADT at
  * M/writter/BaseWritter.scala:21-34). Our environment has no Delta, so this
  * is the engine's core operator: given the current target contents and an
  * update batch, produce the post-merge contents.
  *
  * Semantics (matching Delta / SQL MERGE):
  *   - target rows joined to updates on `condition`; for each matched target
  *     row the FIRST `WhenMatched` clause whose condition holds wins
  *     (update / delete); if none holds the row is kept unchanged;
  *   - update rows that match no target row take the FIRST satisfied
  *     `WhenNotMatched` clause (insert) or are dropped;
  *   - like Delta, callers must ensure at most one update row matches a
  *     target row (the SCD writers dedup on the join keys first,
  *     ref M/utility/Utility.scala:406-413).
  *
  * Plan shape (scale reasoning): ONE shuffle for the left equi-join on the
  * merge keys plus ONE reuse of it for the anti-join insert side (Catalyst
  * dedups the exchange via ReusedExchange; with AQE the join picks broadcast
  * when the update batch is small — the common CDC case). All clause
  * evaluation is a codegen'd `CASE WHEN` projection; no driver-side loops.
  * Condition strings reference columns as `target.<c>` / `updates.<c>`.
  */
object MergeInto {

  sealed trait MatchedAction
  /** SET target.c = updates.c for every shared column. */
  case object UpdateAll extends MatchedAction
  /** SET exprs: map of target column name -> SQL expression over target./updates. */
  final case class UpdateExpr(set: Map[String, String]) extends MatchedAction
  case object Delete extends MatchedAction

  sealed trait NotMatchedAction
  case object InsertAll extends NotMatchedAction
  /** VALUES exprs: target column name -> SQL expression over updates. */
  final case class InsertExpr(values: Map[String, String]) extends NotMatchedAction

  final case class WhenMatched(condition: Option[String], action: MatchedAction)
  final case class WhenNotMatched(condition: Option[String], action: NotMatchedAction)

  private val MatchFlag = "__graft_matched"

  /** Strip an optional `target.` / `updates.` qualifier from a map key. */
  private def baseName(k: String): String = k.split('.').last

  def apply(target: DataFrame, updates: DataFrame, condition: String,
            matched: Seq[WhenMatched] = Nil,
            notMatched: Seq[WhenNotMatched] = Nil): DataFrame = {
    val outSchema: Seq[StructField] = target.schema.fields.toSeq
    val outCols = outSchema.map(_.name)
    val updateCols = updates.columns.toSet

    val t = target.alias("target")
    val u = updates.withColumn(MatchFlag, lit(true)).alias("updates")
    val joinCond = expr(condition)

    // ----- matched side: every target row, with its matching update if any.
    val joined = t.join(u, joinCond, "left")
    val isMatched = col(s"updates.$MatchFlag").isNotNull

    // Per-row winning clause index (-1 = keep row unchanged). Folded from the
    // LAST clause outward so the FIRST clause ends up as the outermost `when`
    // (first-satisfied-clause-wins, as in SQL MERGE).
    val winning = matched.zipWithIndex.reverse.foldLeft(lit(-1)) { case (els, (cl, i)) =>
      val cond = cl.condition.map(c => isMatched && expr(c)).getOrElse(isMatched)
      when(cond, lit(i)).otherwise(els)
    }
    val deleteIdxs = matched.zipWithIndex.collect { case (WhenMatched(_, Delete), i) => i }

    val tagged = joined.withColumn("__graft_clause", winning)
    val kept = if (deleteIdxs.isEmpty) tagged
               else tagged.filter(!col("__graft_clause").isin(deleteIdxs.map(Integer.valueOf): _*))

    val matchedOut = kept.select(outSchema.map { f =>
      val name = f.name
      val keepVal = col(s"target.$name")
      val v = matched.zipWithIndex.reverse.foldLeft(keepVal) { case (els, (cl, i)) =>
        cl.action match {
          case UpdateAll if updateCols.contains(name) =>
            when(col("__graft_clause") === i, col(s"updates.$name").cast(f.dataType)).otherwise(els)
          case UpdateExpr(set) =>
            set.collectFirst { case (k, e) if baseName(k) == name => e } match {
              case Some(e) =>
                when(col("__graft_clause") === i, expr(e).cast(f.dataType)).otherwise(els)
              case None => els
            }
          case _ => els
        }
      }
      v.as(name)
    }: _*)

    // ----- not-matched side: update rows with no target match.
    if (notMatched.isEmpty) return matchedOut

    val unmatched = u.join(t, joinCond, "left_anti")
    val insWinning = notMatched.zipWithIndex.reverse.foldLeft(lit(-1)) { case (els, (cl, i)) =>
      val cond = cl.condition.map(c => expr(c)).getOrElse(lit(true))
      when(cond, lit(i)).otherwise(els)
    }
    val insTagged = unmatched.withColumn("__graft_clause", insWinning)
      .filter(col("__graft_clause") >= 0)

    val insertedOut = insTagged.select(outSchema.map { f =>
      val name = f.name
      val v = notMatched.zipWithIndex.reverse.foldLeft(lit(null).cast(f.dataType)) {
        case (els, (cl, i)) =>
          cl.action match {
            case InsertAll =>
              val src = if (updateCols.contains(name)) col(s"updates.$name").cast(f.dataType)
                        else lit(null).cast(f.dataType)
              when(col("__graft_clause") === i, src).otherwise(els)
            case InsertExpr(values) =>
              val e = values.collectFirst { case (k, ex) if baseName(k) == name => ex }
              val src = e.map(x => expr(x).cast(f.dataType)).getOrElse(lit(null).cast(f.dataType))
              when(col("__graft_clause") === i, src).otherwise(els)
          }
      }
      v.as(name)
    }: _*)

    matchedOut.unionByName(insertedOut)
  }

  /** `buildInnerJoinCondition` (ref M/utility/Utility.scala:258-281): per-key
    * `"a OP b"` specs with OP in {<, <=, =, >=, >, !=} (default =), AND-folded,
    * plus an optional extra predicate — equi parts drive the shuffle keys,
    * theta parts remain join filters. */
  def buildJoinCondition(keys: Seq[String], extra: Option[String] = None): String =
    (keys.map(parseSpec).map { case (l, op, r) => s"target.$l $op updates.$r" } ++
      extra.toSeq).mkString(" AND ")

  private val SpecOps = Seq("<=", ">=", "!=", "<", ">", "=")

  /** A `"a"` or `"a OP b"` join-key spec as (target column, OP, update
    * column). Specs come from the control table's `join_key` column, so a
    * malformed one — an empty side, a second operator (`"a == b"`), a
    * column name with whitespace — is refused with the spec named. */
  private def parseSpec(k: String): (String, String, String) = {
    def refuse = throw new IllegalArgumentException(
      s"malformed join key spec '$k': expected \"col\" or \"col OP col\" " +
        s"with OP one of ${SpecOps.mkString(" ")}")
    def column(c: String) =
      if (c.isEmpty || c.exists(_.isWhitespace) || SpecOps.exists(c.contains)) refuse else c
    SpecOps.find(k.contains) match {
      case Some(op) =>
        val i = k.indexOf(op)
        (column(k.take(i).trim), op, column(k.drop(i + op.length).trim))
      case None => val c = column(k.trim); (c, "=", c)
    }
  }

  /** `extractJoinKeys` (ref M/utility/Utility.scala:325-337): `"a"` or
    * `"a OP b"` specs -> update-side column names (operator-aware: naive
    * splitting on '=' mis-parsed `!=`/`<`/`>` specs). */
  def extractJoinKeys(keys: Seq[String]): Seq[String] =
    keys.map(parseSpec(_)._3)

  /** Target-side key names from the same specs. */
  def extractTargetKeys(keys: Seq[String]): Seq[String] =
    keys.map(parseSpec(_)._1)
}
