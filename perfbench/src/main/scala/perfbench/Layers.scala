package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The traced run: per-layer metrics from spans around the calls into
  * each module and from Spark's listeners, per timed unit. */
object Layers {

  /** Every per-layer metric, with its unit. A workload reports 0 for a
    * layer it never calls. */
  val names: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "driver.only_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s", "executor.cpu_share" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "sources.read_csv_s" -> "s", "xlsx.read_s" -> "s", "xlsx.write_s" -> "s", "xml.read_s" -> "s",
    "xml.write_s" -> "s", "sinks.csv.write_s" -> "s",
    "ops.compare.diff_s" -> "s", "ops.compare.summary_s" -> "s", "ops.mask.apply_s" -> "s",
    "xlsx.request_ms" -> "ms", "xml.request_ms" -> "ms", "ops.compare.request_ms" -> "ms",
    "ops.mask.request_ms" -> "ms", "ops.patterns.request_ms" -> "ms", "ops.pdf.request_ms" -> "ms",
    "ops.policy.request_ms" -> "ms", "llm.ann.request_ms" -> "ms",
    "llm.markup.strip_s" -> "s", "llm.text.quality_s" -> "s",
    "llm.dedup.shingles_s" -> "s", "llm.dedup.signatures_s" -> "s", "llm.dedup.candidates_s" -> "s",
    "llm.dedup.verify_s" -> "s", "llm.dedup.pairs_s" -> "s", "llm.dedup.clusters_s" -> "s",
    "llm.dedup.keep_s" -> "s", "llm.bpe.learn_s" -> "s", "llm.bpe.encode_s" -> "s",
    "llm.dedup.candidate_pairs" -> "count", "llm.dedup.verify_yield" -> "ratio",
    "llm.dedup.clusters_jobs" -> "count", "llm.dedup.clusters_analysis_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_memory_mb" -> "MB",
    "streaming.dropped_late_ratio" -> "ratio", "sinks.parquet.files_written" -> "count",
    "trace.overhead_ratio" -> "ratio", "trace.uncovered_ratio" -> "ratio", "trace.units" -> "count")

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Run the traced loop and reduce it to the per-layer metrics.
    * `untracedP50` is the unit p50 of the plain loop that ran just
    * before, in the same process. Returns the metrics and the traced
    * units. */
  def traced(ctx: Ctx, wl: Workload, untracedP50: Double,
      loop: () => Seq[UnitOutcome], cores: Int, traceDir: File): (Seq[(String, Double, String)], Seq[UnitOutcome]) = {
    val rec = new Recorder(ctx.spark)
    rec.install()
    ctx.tracer.enabled = true
    val units = try loop() finally { rec.settle(); ctx.tracer.enabled = false }
    rec.remove()
    val probed = wl.probe()

    val spans = ctx.tracer.spans
    val byUnit = spans.groupBy(_.unit)
    val windows = units.map(u => rec.window(u.startNs, u.startNs + u.wallNs))
    def w(f: Window => Double) = medianOr0(windows.map(f))

    // inclusive time of a named step, summed within a unit, median over
    // the units that call it
    def stepS(span: String) = medianOr0(units.indices.flatMap { i =>
      val ds = byUnit.getOrElse(i, Nil).filter(_.name == span).map(_.dur / 1e9)
      if (ds.isEmpty) None else Some(ds.sum)
    })
    def requestMs(span: String) = medianOr0(spans.filter(s => s.name == span && s.unit >= 0).map(_.dur / 1e6))
    val clusterWindows = spans.filter(_.name == "llm.dedup.clusters").map(s => rec.window(s.start, s.end))

    val uncovered = units.zipWithIndex.map { case (u, i) =>
      val mine = byUnit.getOrElse(i, Nil)
      val top = mine.filter(_.parent == -1)
      val covering = top match {
        case Seq(one) if one.name == "unit" => mine.filter(_.parent == one.id)
        case _ => top
      }
      val covered = Intervals.unionLength(Intervals.clip(covering.map(s => (s.start, s.end)),
        u.startNs, u.startNs + u.wallNs))
      1.0 - covered.toDouble / u.wallNs
    }
    val tracedSamples = units.flatMap(_.samplesMs)
    val spanMetrics = Seq("sources.read_csv", "xlsx.read", "xlsx.write", "xml.read", "xml.write",
      "sinks.csv.write", "ops.compare.diff", "ops.compare.summary", "ops.mask.apply",
      "llm.markup.strip", "llm.text.quality", "llm.dedup.pairs", "llm.dedup.clusters",
      "llm.dedup.keep", "llm.bpe.learn", "llm.bpe.encode").map(s => s"${s}_s" -> stepS(s)) ++
      Seq("xlsx.request", "xml.request", "ops.compare.request", "ops.mask.request",
        "ops.patterns.request", "ops.pdf.request", "ops.policy.request", "llm.ann.request")
        .map(s => s"${s}_ms" -> requestMs(s))
    val values: Map[String, Double] = Map(
      "catalyst.analysis_ms" -> w(_.analysisMs.toDouble),
      "catalyst.optimization_ms" -> w(_.optimizationMs.toDouble),
      "catalyst.planning_ms" -> w(_.planningMs.toDouble),
      "scheduler.jobs" -> w(_.jobs.toDouble), "scheduler.stages" -> w(_.stages.toDouble),
      "scheduler.tasks" -> w(_.tasks.toDouble),
      "driver.only_s" -> w(_.driverOnlyS),
      "executor.run_s" -> w(_.runS), "executor.cpu_s" -> w(_.cpuS), "executor.gc_s" -> w(_.gcS),
      // executor CPU over the cores' capacity during the units
      "executor.cpu_share" -> windows.map(_.cpuS).sum / (windows.map(_.wallNs).sum / 1e9 * cores),
      "shuffle.write_mb" -> w(_.shuffleWrite / 1e6), "shuffle.read_mb" -> w(_.shuffleRead / 1e6),
      "shuffle.spill_mb" -> w(_.spill / 1e6),
      "llm.dedup.clusters_jobs" -> medianOr0(clusterWindows.map(_.jobs.toDouble)),
      "llm.dedup.clusters_analysis_ms" -> medianOr0(clusterWindows.map(_.analysisMs.toDouble)),
      "trace.overhead_ratio" -> (if (tracedSamples.isEmpty) 0.0 else Stats.median(tracedSamples) / untracedP50),
      "trace.uncovered_ratio" -> medianOr0(uncovered),
      "trace.units" -> units.length.toDouble,
    ) ++ spanMetrics ++ wl.layerMetrics() ++ probed

    val example = units.indices.minBy(i => math.abs(units(i).wallNs - Stats.median(units.map(_.wallNs.toDouble))))
    describeUnit(units(example), example, byUnit.getOrElse(example, Nil), windows(example), ctx.tracer)
    writeTrace(new File(traceDir, s"${wl.name}-seed${ctx.seed}.json"), spans, units, windows)
    (names.map { case (n, unit) => (n, values.getOrElse(n, 0.0), unit) }, units)
  }

  /** One unit's wall time, split: self time per span name, the union of
    * job intervals, driver-only time, and what no span covers. */
  private def describeUnit(u: UnitOutcome, i: Int, spans: Seq[Span], win: Window, tracer: Tracer): Unit = {
    val self = tracer.selfTimes
    val bySelf = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
    val selfSum = bySelf.values.sum
    println(f"perfbench: trace of unit $i (${u.kind}): wall=${u.wallNs / 1e6}%.1fms " +
      f"jobs-union=${win.jobUnionNs / 1e6}%.1fms driver-only=${win.driverOnlyS * 1e3}%.1fms " +
      f"jobs=${win.jobs} stages=${win.stages} tasks=${win.tasks}")
    bySelf.toSeq.sortBy(-_._2).foreach { case (n, ms) => println(f"perfbench:   self $n%-24s $ms%9.1f ms") }
    println(f"perfbench:   span self-times cover $selfSum%.1f of ${u.wallNs / 1e6}%.1f ms; " +
      f"uncovered ${u.wallNs / 1e6 - selfSum}%.1f ms")
  }

  private def writeTrace(f: File, spans: Seq[Span], units: Seq[UnitOutcome], windows: Seq[Window]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Json(Map("spans" -> spans, "units" -> units.zip(windows).map { case (u, w) =>
      Map("start" -> u.startNs, "wall_ns" -> u.wallNs, "kind" -> u.kind, "engine" -> w)
    })).getBytes(UTF_8))
  }
}
