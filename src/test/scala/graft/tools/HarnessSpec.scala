package graft.tools

import java.util.concurrent.{Callable, Executors}

import graft.SparkSpec

class HarnessSpec extends SparkSpec {

  test("select refuses unknown names and lists the known ones") {
    val known = Seq("b" -> 2, "a" -> 1, "c" -> 3)
    val e = intercept[IllegalArgumentException](Harness.select(known, Seq("c", "zz", "yy")))
    assert(e.getMessage.contains("unknown name(s): zz, yy"))
    assert(e.getMessage.contains("known: a, b, c"))
    assert(Harness.select(known, Nil) == known)
    assert(Harness.select(known, Seq("c", "a", "c")) == Seq("c" -> 3, "a" -> 1))
  }

  test("cores: SPARK_GRAFT_CPUS when set, else the runtime's processors") {
    assert(Harness.cores(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Harness.cores(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](Harness.cores(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("measure charges jobs of threads the unit starts to the unit; others are unattributed") {
    val h = new Harness(spark)
    try {
      def work(): Long = spark.range(1000).selectExpr("id % 7 as k").distinct().count()
      val onMain = h.measure("main")(work())
      assert(onMain.value == 7 && onMain.usage.jobs > 0 && onMain.usage.stages.nonEmpty)
      // a pool created inside the unit, as Pipeline.run creates its task pool
      val onPool = h.measure("pool") {
        val pool = Executors.newFixedThreadPool(2)
        try pool.submit(new Callable[Long] { def call(): Long = work() }).get()
        finally pool.shutdown()
      }
      assert(onPool.value == 7)
      assert(onPool.usage.jobs == onMain.usage.jobs)
      assert(onPool.usage.stages.size == onMain.usage.stages.size)
      // nested units: the inner one takes its own jobs, the outer one the rest
      val outer = h.measure("outer") {
        work()
        h.measure("inner")(work()).usage
      }
      assert(outer.value.jobs == onMain.usage.jobs)
      assert(outer.usage.jobs == onMain.usage.jobs)
      h.unattributed()
      work()
      assert(h.unattributed().jobs >= onMain.usage.jobs)
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    } finally spark.sparkContext.removeSparkListener(h.listener)
  }
}
