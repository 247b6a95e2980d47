package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def flat(edges: Seq[(Long, Option[Long])], maxIters: Int = 20) =
    Hierarchy.flattenToRoot(edges.toDF("id", "parent"), maxIters)
      .as[(Long, Long, Long)].collect().toSet

  test("forest resolves to roots with exact depths") {
    // two trees: 1→(2,3), 3→(4); 10→(11)
    val edges = Seq(1L -> None, 2L -> Some(1L), 3L -> Some(1L), 4L -> Some(3L),
      10L -> None, 11L -> Some(10L))
    assert(flat(edges) == Set((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 1L),
      (4L, 1L, 2L), (10L, 10L, 0L), (11L, 10L, 1L)))
  }

  test("deep chain settles in log rounds: depth 40 within 6 doublings + slack") {
    val chain = (0L until 41L).map(i => i -> (if (i == 0) None else Some(i - 1)))
    val got = flat(chain, maxIters = 8)
    assert(got.contains((40L, 0L, 40L)))
    assert(got.size == 41)
    // depth 10,000 settles in 14 doublings under the default maxIters
    val deep = (0L to 10000L).map(i => i -> (if (i == 0) None else Some(i - 1)))
    val gotDeep = flat(deep)
    assert(gotDeep.contains((10000L, 0L, 10000L)))
    assert(gotDeep.size == 10001)
  }

  test("cycle is surfaced as an error, not an infinite loop") {
    val cyc = Seq(1L -> Some(2L), 2L -> Some(1L), 3L -> None)
    val e = intercept[IllegalStateException](flat(cyc, maxIters = 5))
    assert(e.getMessage.contains("cycle"))
  }

  test("dangling parent pointer is rejected up front") {
    val bad = Seq(1L -> None, 2L -> Some(99L))
    val e = intercept[IllegalArgumentException](flat(bad))
    assert(e.getMessage.contains("missing"))
  }

  test("rollupByRoot: per-root node counts, max depth, exact cents") {
    val edges = Seq(1L -> None, 2L -> Some(1L), 3L -> Some(2L), 9L -> None)
    val f = Hierarchy.flattenToRoot(edges.toDF("id", "parent"))
    val values = Seq((1L, 100L), (2L, 20L), (3L, 3L), (9L, 9000L)).toDF("k", "v2")
    val got = Hierarchy.rollupByRoot(f, values, "k", "v2")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 2L, 123L), (9L, 1L, 0L, 9000L)))
  }
}
