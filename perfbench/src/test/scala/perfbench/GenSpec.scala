package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmp(): Path = {
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base)
    Files.createTempDirectory(base, "gen")
  }

  /** Every generator, at a small size, into a fresh directory. */
  private def generateAll(spark: SparkSession, seed: Long): String = {
    val d = tmp()
    Gen.interactive(spark, d.resolve("interactive").toFile, seed, 50, 120, annVectors = 200)
    Gen.corpus(spark, d.resolve("corpus").toFile, seed, base = 60, verbatim = 5, chains = 5,
      maxHops = 5, junk = 3)
    Gen.events(spark, d.resolve("events").toFile, seed, files = 4, perFile = 200)
    Gen.digestTree(d)
  }

  test("one seed gives byte-identical inputs, another seed different ones") {
    val spark = SparkSession.builder().master("local[2]").appName("GenSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val a = generateAll(spark, 7)
      val b = generateAll(spark, 7)
      val c = generateAll(spark, 8)
      assert(a == b)
      assert(a != c)
    } finally spark.stop()
  }

  test("planted diff truth matches the two versions") {
    val r = Gen.rng(3, "t")
    val a = Gen.sheet(r, 2000)
    val (b, t) = Gen.secondVersion(r, a, 0.02, 0.02, 0.05)
    val ka = a.rows.map(_.head).toSet
    val kb = b.rows.map(_.head).toSet
    assert(t.deleted == (ka -- kb).size)
    assert(t.added == (kb -- ka).size)
    val aById = a.rows.map(x => x.head -> x).toMap
    assert(t.changed == b.rows.count(x => aById.get(x.head).exists(_ != x)))
    assert(t.same + t.changed + t.deleted == a.rows.length)
  }

  test("generated PDFs carry their planted page count") {
    assert(graft.ops.Pdf.pageCount(Gen.pdf(7, "t")) == 7)
  }
}
