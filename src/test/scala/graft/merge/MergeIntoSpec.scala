package graft.merge

import org.apache.spark.sql.functions._
import graft.SparkSpec
import MergeInto._

/** MERGE INTO clause-matrix semantics, modeled on the reference's SCD1 test
  * scenario (reference T/writter/DeltaWritterTest.scala:71-100): an employee
  * table merged with updates under [delete-if, updateAll, insertAll]. */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (7369, "smith", 800.0), (7499, "allen", 1600.0), (7521, "ward", 1250.0),
    (5468, "scott", 2850.0), (9999, "adams", 247.0)
  ).toDF("empid", "ename", "sal")

  private def updates = Seq(
    (9999, "adams", 500.0),   // matched -> update (sal 247 -> 500)
    (5468, "scott", 2850.0),  // matched + delete condition
    (1111, "sriram", 3000.0)  // not matched -> insert
  ).toDF("empid", "ename", "sal")

  test("delete / updateAll / insertAll clause matrix, first-clause-wins") {
    val out = MergeInto(target, updates, "target.empid = updates.empid",
      matched = Seq(
        WhenMatched(Some("updates.empid = 5468"), Delete),
        WhenMatched(None, UpdateAll)),
      notMatched = Seq(WhenNotMatched(None, InsertAll)))
    val rows = out.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set(
      (7369, "smith", 800.0), (7499, "allen", 1600.0), (7521, "ward", 1250.0),
      (9999, "adams", 500.0), (1111, "sriram", 3000.0)))
  }

  test("conditional updateExpr only touches listed columns") {
    val out = MergeInto(target, updates, "target.empid = updates.empid",
      matched = Seq(WhenMatched(Some("updates.sal > 400"),
        UpdateExpr(Map("sal" -> "updates.sal * 2")))),
      notMatched = Nil)
    val m = out.collect().map(r => r.getInt(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(m(9999) == (("adams", 1000.0)))  // 500*2; name untouched
    assert(m(5468) == (("scott", 5700.0)))  // 2850*2
    assert(m(7369) == (("smith", 800.0)))   // unmatched target kept
    assert(!m.contains(1111))               // no insert clause
  }

  test("conditional insert drops non-qualifying rows") {
    val out = MergeInto(target, updates, "target.empid = updates.empid",
      matched = Seq(WhenMatched(None, UpdateAll)),
      notMatched = Seq(WhenNotMatched(Some("updates.sal < 100"), InsertAll)))
    assert(out.filter(col("empid") === 1111).count() == 0)
    assert(out.count() == 5)
  }

  test("insertExpr computes inserted values; missing columns become null") {
    val out = MergeInto(target, updates, "target.empid = updates.empid",
      matched = Nil,
      notMatched = Seq(WhenNotMatched(None,
        InsertExpr(Map("empid" -> "updates.empid", "sal" -> "updates.sal + 1")))))
    val ins = out.filter(col("empid") === 1111).collect().head
    assert(ins.getDouble(2) == 3001.0)
    assert(ins.isNullAt(1)) // ename not in the VALUES map
  }

  test("first matched clause wins over later ones") {
    val out = MergeInto(target, updates, "target.empid = updates.empid",
      matched = Seq(
        WhenMatched(Some("updates.sal >= 500"), UpdateExpr(Map("sal" -> "-1.0"))),
        WhenMatched(None, UpdateExpr(Map("sal" -> "-2.0")))),
      notMatched = Nil)
    val m = out.collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(m(9999) == -1.0) // sal 500 matches first clause
    assert(m(5468) == -1.0)
  }

  test("buildJoinCondition parses theta operators and extra predicates") {
    assert(buildJoinCondition(Seq("a", "x = y", "p >= q"), Some("target.z < 3")) ==
      "target.a = updates.a AND target.x = updates.y AND target.p >= updates.q AND target.z < 3")
    assert(extractJoinKeys(Seq("a", "x = y")) == Seq("a", "y"))
    assert(extractTargetKeys(Seq("a", "x = y")) == Seq("a", "x"))
  }

  test("malformed join key specs are refused with the spec named") {
    for (spec <- Seq("a =", "a == b", "= b", "a = b = c", "a => b", "", " ", "a b", "a = b c")) {
      for (parse <- Seq[Seq[String] => Any](buildJoinCondition(_), extractJoinKeys,
          extractTargetKeys)) {
        val e = intercept[IllegalArgumentException](parse(Seq("k", spec)))
        assert(e.getMessage.contains(s"'$spec'"), spec)
      }
    }
  }
}
