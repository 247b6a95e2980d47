package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload w --seed n --seconds s --trace 0|1
  * --work dir`. Prints diagnostics, then as its last stdout line one
  * JSON object {correct, attempted, failed, metrics}: the end-to-end
  * metrics with --trace 0, the per-layer metrics with --trace 1.
  *
  * Run shape: JVM and Spark session start → input generation (not
  * timed) → program-side preparation, repeated, median taken →
  * warm-up → a closed loop of timed units, one client, for --seconds.
  * The traced run first repeats the untraced loop, then runs the loop
  * again with spans and listeners on; the ratio of the two is the
  * tracing overhead. */
object Main {

  val workloads = Seq("interactive_tools", "corpus_dedup", "events_stream")

  /** Input sizes per workload (also stated in perfbench/DESIGN.md). */
  def make(name: String, ctx: Ctx): Workload = name match {
    case "interactive_tools" => new InteractiveTools(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx, base = 1500, verbatim = 120, chains = 75,
      maxHops = 5, junk = 60, merges = 500)
    case "events_stream" => new EventsDrain(ctx, files = 6, perFile = 5000)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(workloads.contains(name), s"unknown workload $name (one of ${workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = new File(opts("work"))
    val work = new File(root, name)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      val tracer = new Tracer(false)
      val ctx = new Ctx(spark, work, seed, tracer)
      val wl = make(name, ctx)
      def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      val genS = timed(wl.generate())
      // warm-up, then the program-side preparation (median of its
      // repetitions), then the warm-up of what needs the preparation
      val warm0 = timed(wl.warmUp())
      val prepS = (0 until wl.prepReps).map(i => timed(wl.prepare(i)))
      val warmS = warm0 + timed(wl.warmUpPrepared())
      val setupS = sessionS + Stats.median(prepS) + warmS
      println(f"perfbench: $name seed=$seed cores=$cores session=$sessionS%.2fs generate=$genS%.2fs " +
        f"prepare=${prepS.map(p => f"$p%.2f").mkString("/")}s warm-up=$warmS%.2fs")

      def loop(): Seq[UnitOutcome] = {
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        val units = scala.collection.mutable.ArrayBuffer.empty[UnitOutcome]
        while (units.length < wl.minUnits || System.nanoTime() < deadline ||
          units.length % wl.unitsPerRound != 0)
          units += wl.runUnit(units.length)
        units.toSeq
      }
      val units = loop()
      val attempted = units.map(_.attempts).sum
      val failed = units.map(_.failures).sum
      units.flatMap(_.problems).distinct.take(20).foreach(p => println(s"perfbench: FAILED $p"))
      // a failed unit counts as slower than any success
      val samples = units.flatMap(u => if (u.failures > 0) u.samplesMs.map(_ => Double.PositiveInfinity) else u.samplesMs)
      val tailP = wl.tailPercentile
      val tailMs = Stats.percentile(samples, tailP)
      val p50 = Stats.median(samples)
      println(f"perfbench: units=${units.length} samples=${samples.length} p50=$p50%.1fms " +
        f"p$tailP=$tailMs%.1fms failed_ratio=${failed.toDouble / attempted}%.4f ($failed/$attempted)")

      val (metrics, extra) =
        if (!trace) {
          // the second GC frees what Spark's cleaner released after the first
          System.gc(); Thread.sleep(500); System.gc()
          val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
          (Seq(("setup_s", setupS, "s"),
            ("unit_p50_ms", p50, "ms"),
            ("unit_tail_ms", tailMs, "ms"),
            ("items_per_s", wl.itemsPerS(units), "1/s"),
            ("heap_live_mb", heap, "MB")), Nil)
        } else Layers.traced(ctx, wl, p50, () => loop(), cores, new File(root, "traces"))
      extra.flatMap(_.problems).distinct.take(20).foreach(p => println(s"perfbench: FAILED (traced) $p"))
      val attemptedAll = attempted + extra.map(_.attempts).sum
      val failedAll = failed + extra.map(_.failures).sum
      val correct = failedAll == 0
      val body = metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
        .foldLeft(scala.collection.immutable.ListMap.empty[String, Any])(_ + _)
      println(Json(scala.collection.immutable.ListMap(
        "correct" -> correct, "attempted" -> attemptedAll, "failed" -> failedAll, "metrics" -> body)))
    } finally spark.stop()
  }
}
