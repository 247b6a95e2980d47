package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("union of intervals counts overlapping jobs once") {
    // two jobs overlap by 2, a third touches the second, a fourth is apart
    assert(Intervals.unionLength(Seq((0L, 5L), (3L, 8L), (8L, 10L), (20L, 25L))) == 15L)
    // unsorted input, nested and empty intervals
    assert(Intervals.unionLength(Seq((10L, 12L), (0L, 10L), (2L, 3L), (7L, 7L))) == 12L)
    assert(Intervals.unionLength(Nil) == 0L)
    // the sum of job times exceeds the wall time the union reports
    val jobs = Seq((0L, 6L), (1L, 7L), (2L, 8L))
    assert(jobs.map { case (s, e) => e - s }.sum == 18L)
    assert(Intervals.unionLength(jobs) == 8L)
  }

  test("self time subtracts the union of a span's children") {
    val t = new Tracer(true)
    t.span("parent") {
      t.span("a")(Thread.sleep(20))
      t.span("b")(Thread.sleep(20))
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    val self = t.selfTimes
    val p = byName("parent")
    assert(self(p.id) == p.dur - byName("a").dur - byName("b").dur)
    assert(self(byName("a").id) == byName("a").dur)
  }

  test("phase capture returns all three Catalyst phases for a noop-sink action") {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val spark = SparkSession.builder().master("local[2]").appName("TraceSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val rec = new Recorder(spark)
      rec.install()
      val t0 = System.nanoTime()
      spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      rec.settle()
      rec.remove()
      val want = Set("analysis", "optimization", "planning")
      assert(rec.phases.exists(p => want.subsetOf(p.names)), s"phases seen: ${rec.phases}")
      val w = rec.window(t0, System.nanoTime())
      assert(w.jobs >= 1 && w.tasks >= 1)
      assert(w.jobUnionNs <= w.wallNs)
    } finally spark.stop()
  }
}
