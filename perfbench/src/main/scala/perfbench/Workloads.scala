package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.llm.{Ann, Bpe, Dedup, Markup, TextAnalysis}
import graft.ops.{Compare, Mask, Patterns, Pdf, Policy}
import graft.sinks.Csv
import graft.sources.Text
import graft.streaming.EventsStream
import graft.xlsx.Xlsx
import graft.xml.Xml

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val tracer: Tracer) {
  private var n = 0
  /** A fresh output path under the work directory. */
  def out(name: String): File = {
    n += 1; val d = new File(work, "out"); d.mkdirs(); new File(d, s"$n-$name")
  }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One timed unit. `samplesMs` are the latencies it contributes (one
  * per request or pass, one per micro-batch for a stream drain);
  * `failures` counts failed checks or exceptions among `attempts`. */
final case class UnitOutcome(startNs: Long, wallNs: Long, items: Long, samplesMs: Seq[Double],
    attempts: Int, failures: Int, kind: String, problems: Seq[String] = Nil)

trait Workload {
  def name: String
  /** Write the inputs and planted truth (not part of set-up time). */
  def generate(): Unit
  /** Program-side preparation, e.g. persisting an index. Repeated
    * `prepReps` times; its median goes into setup_s. */
  def prepare(rep: Int): Unit = ()
  def prepReps: Int = 1
  /** First use of every code path, so JIT and class loading are paid
    * before timing. */
  def warmUp(): Unit
  /** Warm-up of the paths that need `prepare`. */
  def warmUpPrepared(): Unit = ()
  def runUnit(i: Int): UnitOutcome
  /** The loop ends on a multiple of this many units, so every run
    * measures the same mix, and after at least `minUnits`. */
  def unitsPerRound: Int = 1
  def minUnits: Int
  /** The tail percentile: the highest with at least ten samples above
    * it at the run's minimum sample count (p100 below 20 samples), fixed
    * per workload so every run reports the same percentile. */
  def tailPercentile: Int
  /** Throughput over the measured units. */
  def itemsPerS(units: Seq[UnitOutcome]): Double =
    units.map(_.items).sum / (units.map(_.wallNs).sum / 1e9)
  /** Trace-only extra metrics of the workload's own layers. */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Trace-only: split a unit's opaque steps by running their public
    * parts one action at a time (outside any timed unit). */
  def probe(): Map[String, Double] = Map.empty
}

object Checks {
  /** Lines of every part file a Spark text sink wrote under `dir`. */
  def partLines(dir: File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala).filter(_.nonEmpty)

  def sameMultiset(a: Seq[String], b: Seq[String]): Boolean =
    a.length == b.length && a.groupBy(identity).view.mapValues(_.size).toMap ==
      b.groupBy(identity).view.mapValues(_.size).toMap

  def rm(f: File): Unit = if (f.exists()) {
    val walk = Files.walk(f.toPath)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}

// ----------------------------------------------------------------------
// interactive_tools
// ----------------------------------------------------------------------

/** A closed-loop session of small uploads through every tool, one
  * request after another, in seeded blocks that hold each request
  * type once (so every seed has the same mix). */
final class InteractiveTools(ctx: Ctx) extends Workload {
  import ctx.{spark, span}
  val name = "interactive_tools"
  val types = Vector("csv_to_xlsx", "xlsx_to_csv", "xml_to_csv", "compare", "mask",
    "pattern", "pdf_merge", "pdf_extract", "policy", "ann")
  /** Request-type → the span (layer) its latency is reported under. */
  val layerOf = Map("csv_to_xlsx" -> "xlsx.request", "xlsx_to_csv" -> "xlsx.request",
    "xml_to_csv" -> "xml.request", "compare" -> "ops.compare.request",
    "mask" -> "ops.mask.request", "pattern" -> "ops.patterns.request",
    "pdf_merge" -> "ops.pdf.request", "pdf_extract" -> "ops.pdf.request",
    "policy" -> "ops.policy.request", "ann" -> "llm.ann.request")
  val annK = 10
  val annRecallFloor = 0.8
  private var in: Gen.Interactive = _
  private val r = Gen.rng(ctx.seed, "interactive_requests")
  private var block = Vector.empty[String]
  private def indexDir(rep: Int) = new File(ctx.work, s"ann_index_$rep").getPath
  private var index: String = _

  def generate(): Unit = in = Gen.interactive(spark, new File(ctx.work, "in"), ctx.seed)

  override def prepReps = 2
  override def prepare(rep: Int): Unit = {
    val corpus = spark.read.parquet(in.annCorpus)
    Ann.writeIndex(corpus, indexDir(rep), n = Gen.annClusters, iters = 2, files = 4)
    index = indexDir(rep)
  }

  def warmUp(): Unit = types.filter(_ != "ann").foreach(request(_, -1))
  override def warmUpPrepared(): Unit = request("ann", -1)

  def runUnit(i: Int): UnitOutcome = {
    if (block.isEmpty) block = scala.util.Random.javaRandomToRandom(
      new java.util.Random(r.nextLong())).shuffle(types)
    val t = block.head; block = block.tail
    request(t, i)
  }

  override def unitsPerRound: Int = types.length
  /** Three rounds: at least 30 requests, 10 of them above p66. */
  def minUnits: Int = 3 * types.length
  def tailPercentile = 66

  /** Each request type walks its input pool in order, so every run
    * sees the same inputs sizes in the same amounts. */
  private val uses = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private def nth(t: String): Int = { val k = uses(t); uses(t) = k + 1; k }
  private def pick[T](t: String, xs: Vector[T]): T = xs(nth(t) % xs.length)

  private def request(t: String, unit: Int): UnitOutcome = {
    ctx.tracer.unit = unit
    val prepared = prepareRequest(t)
    val t0 = System.nanoTime()
    val result = try Right(span(layerOf(t))(prepared.run())) catch { case e: Exception => Left(e) }
    val wall = System.nanoTime() - t0
    val problems = result match {
      case Left(e) => Seq(s"$t: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try prepared.check(v).map(p => s"$t: $p")
        catch { case e: Exception => Seq(s"$t check: $e") }
    }
    Checks.rm(new File(ctx.work, "out"))
    UnitOutcome(t0, wall, 1, Seq(wall / 1e6), 1, if (problems.isEmpty) 0 else 1, t, problems)
  }

  private def prepareRequest(t: String): Req = t match {
    case "csv_to_xlsx" =>
      val f = pick(t, in.csvs); val out = ctx.out("upload.xlsx")
      Req(() => {
        val df = span("sources.read_csv")(Text.readCsv(spark, f.path))
        span("xlsx.write")(Xlsx.writeWorkbook(Seq("data" -> df), out.getPath))
      }, _ => {
        val back = Xlsx.readWorkbook(spark, out.getPath).head._2.collect()
          .map(_.toSeq.map(_.toString).mkString(",")).toSeq
        if (Checks.sameMultiset(back, f.sheet.rows.map(_.mkString(",")))) Nil
        else Seq(s"xlsx round trip of ${f.path} lost rows")
      })
    case "xlsx_to_csv" =>
      val f = pick(t, in.xlsxs); val out = ctx.out("csv")
      Req(() => {
        val df = span("xlsx.read")(Xlsx.readWorkbook(spark, f.path).head._2)
        span("sinks.csv.write")(Csv.write(df, out.getPath))
        df.columns.toSeq
      }, cols => csvMatches(out, cols, f))
    case "xml_to_csv" =>
      val f = pick(t, in.xmls); val out = ctx.out("csv")
      Req(() => {
        val df = span("xml.read")(Xml.readXml(spark, f.path, "row"))
        span("sinks.csv.write")(Csv.write(df, out.getPath))
        df.columns.toSeq
      }, cols => csvMatches(out, cols, f))
    case "compare" =>
      // diff two versions, show the summary, export the field
      // mismatches as CSV and as one XML file
      val p = pick(t, in.pairs); val csv = ctx.out("mismatches"); val xml = ctx.out("mismatches.xml")
      Req(() => {
        val a = span("sources.read_csv")(Text.readCsv(spark, p.a))
        val b = span("sources.read_csv")(Text.readCsv(spark, p.b))
        val d = span("ops.compare.diff")(Compare.diff(a, b, "row_id"))
        val summary = span("ops.compare.summary")(Compare.summary(d).collect())
          .map(row => row.getString(0) -> row.getLong(1)).toMap
        val mm = Compare.mismatches(d, "row_id")
        span("sinks.csv.write")(Csv.write(mm, csv.getPath))
        span("xml.write")(Xml.writeXmlFile(mm, xml.getPath))
        summary
      }, {
        case summary: Map[_, _] =>
          val want = p.truth.byStatus.filter(_._2 > 0)
          val csvRows = Checks.partLines(csv).length.toLong
          val xmlRows = Files.readAllLines(xml.toPath, UTF_8).asScala.count(_.trim == "<row>").toLong
          Seq(
            (summary == want) -> s"summary $summary != planted $want",
            (csvRows == p.truth.fieldMismatches) -> s"$csvRows CSV mismatch rows != planted ${p.truth.fieldMismatches}",
            (xmlRows == p.truth.fieldMismatches) -> s"$xmlRows XML mismatch rows != planted ${p.truth.fieldMismatches}",
          ).collect { case (false, msg) => msg }
        case other => Seq(s"unexpected result $other")
      })
    case "mask" =>
      val f = pick(t, in.csvs.reverse)
      Req(() => {
        val df = span("sources.read_csv")(Text.readCsv(spark, f.path))
        val m = span("ops.mask.apply")(Mask.apply(df, "row_id", s"s${ctx.seed}", Tools.maskRules))
        (m.masked.collect(), m.keys.collect(), df.columns.toSeq)
      }, {
        case (masked: Array[Row @unchecked], keys: Array[Row @unchecked], cols: Seq[String @unchecked]) =>
          Tools.restoreProblems(masked, keys, cols, f.sheet)
        case other => Seq(s"unexpected result $other")
      })
    case "pattern" =>
      val f = pick(t, in.csvs.drop(3) ++ in.csvs.take(3))
      Req(() => {
        val df = span("sources.read_csv")(Text.readCsv(spark, f.path))
        df.select(Patterns.replaceAll(col("comment"), Gen.refPattern, "ref-XXXXX").as("c"),
          Patterns.countMatches(col("comment"), Gen.refPattern).as("n")).collect()
      }, {
        case rows: Array[Row @unchecked] =>
          val n = rows.map(_.getInt(1).toLong).sum
          val left = rows.count(row => Gen.refPattern.r.findFirstIn(row.getString(0)).isDefined)
          (if (n != Gen.refCount(f.sheet)) Seq(s"$n matches != planted ${Gen.refCount(f.sheet)}") else Nil) ++
            (if (left > 0) Seq(s"$left values still match after replaceAll") else Nil)
        case other => Seq(s"unexpected result $other")
      })
    case "pdf_merge" =>
      val k = nth(t)
      val docs = Vector.tabulate(2 + k % 2)(j => in.pdfs((k + j) % in.pdfs.length))
      Req(() =>
        Pdf.merge(docs.map(d => Files.readAllBytes(new File(d.path).toPath))), {
        case b: Array[Byte] =>
          val n = Pdf.pageCount(b)
          if (n == docs.map(_.pages).sum) Nil else Seq(s"merged $n pages != planted ${docs.map(_.pages).sum}")
        case other => Seq(s"unexpected result $other")
      })
    case "pdf_extract" =>
      val d = pick(t, in.pdfs)
      val group = (1 to d.pages).filter(_ % 2 == 1) // every odd page
      Req(() => Pdf.extractPages(Files.readAllBytes(new File(d.path).toPath), group), {
        case b: Array[Byte] =>
          val n = Pdf.pageCount(b)
          if (n == group.length) Nil else Seq(s"extracted $n pages != requested ${group.length}")
        case other => Seq(s"unexpected result $other")
      })
    case "policy" =>
      val tier = Seq("basic", "premium")(nth(t) % 2)
      Req(() => {
        val u = span("sources.read_csv")(Text.readCsv(spark, in.usersCsv))
        val start = col("start_date").cast("date")
        val expired = Policy.isExpired(Policy.derivedEnd(col("role"), start),
          lit(Tools.policyAsOf).cast("timestamp"))
        u.filter(Policy.canUse(col("role"), lit(tier)) && !coalesce(expired, lit(false)))
          .orderBy(Policy.tierRank(col("role")).desc, col("start_date").desc,
            col("uid").cast("long").asc)
          .limit(Tools.policyLimit).select("uid").collect().map(_.getString(0).toLong).toSeq
      }, {
        case got: Seq[_] =>
          val want = Tools.policyExpected(in.users, tier)
          if (got == want) Nil else Seq(s"policy top-${Tools.policyLimit} for $tier differs from planted")
        case other => Seq(s"unexpected result $other")
      })
    case "ann" =>
      val qs = Iterator.continually(r.nextInt(in.ann.queries.length)).distinct.take(4).toVector
      Req(() => {
        val q = spark.createDataFrame(qs.map(i => Row(i.toLong, in.ann.queries(i).toSeq)).asJava,
          StructType(Seq(StructField("qid", LongType), StructField("qe", ArrayType(FloatType, false)))))
        Ann.ivfTopKPersisted(spark, q, index, annK, nprobe = 2)
          .select("qid", "vec_id").collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
      }, {
        case got: Seq[(Long, Long) @unchecked] =>
          val recall = qs.map { qi =>
            val truth = Tools.bruteTopK(in.ann, in.ann.queries(qi), annK).toSet
            got.count { case (q, v) => q == qi && truth(v) }.toDouble / annK
          }.sum / qs.length
          if (recall >= annRecallFloor) Nil else Seq(f"ANN recall@$annK $recall%.2f < floor $annRecallFloor")
        case other => Seq(s"unexpected result $other")
      })
  }

  /** The exported rows, fields matched by column name (the readers
    * need not keep the file's column order), equal the input rows. */
  private def csvMatches(out: File, cols: Any, f: Gen.UploadFile): Seq[String] = {
    val names = cols.asInstanceOf[Seq[String]]
    val order = f.sheet.header.map(names.indexOf(_))
    val rows = Checks.partLines(out).map { l =>
      val v = l.split(",", -1); order.map(i => if (i >= 0 && i < v.length) v(i) else "").mkString(",")
    }
    if (Checks.sameMultiset(rows, f.sheet.rows.map(_.mkString(",")))) Nil
    else Seq(s"CSV export of ${f.path} differs from its rows")
  }
}

/** A request with its inputs chosen and its check ready; `run` is the
  * timed part: from the call until the result is on the driver or
  * written. */
private final case class Req(run: () => Any, check: Any => Seq[String])

/** Masking rules and the oracles of the request checks. */
object Tools {
  val maskRules: Seq[(String, Mask.MaskRule)] = Seq(
    "customer" -> Mask.FakeName, "email" -> Mask.FakeEmail(),
    "phone" -> Mask.FakePhone(), "comment" -> Mask.RandomString())
  val policyAsOf = "2024-02-15 16:00:00"
  val policyLimit = 25

  /** Joining masked ⋈ keys on ANON_ROW_ID must restore every row. */
  def restoreProblems(masked: Array[Row], keys: Array[Row], cols: Seq[String],
      sheet: Gen.Sheet): Seq[String] = {
    val ruled = maskRules.map(_._1)
    val anon = cols.length // ANON_ROW_ID is appended after the input columns
    val byId = keys.map(k => k.getString(0) -> ruled.indices.map(i => k.getString(i + 1))).toMap
    val restored = masked.toSeq.map { m =>
      val orig = byId.getOrElse(m.getString(anon), Seq.empty)
      cols.indices.map { c =>
        val j = ruled.indexOf(cols(c))
        if (j >= 0 && orig.nonEmpty) orig(j) else String.valueOf(m.get(c))
      }.mkString(",")
    }
    val c = cols.indexOf("customer")
    val unmasked = masked.count(m => m.getString(c).startsWith("Customer#"))
    (if (Checks.sameMultiset(restored, sheet.rows.map(_.mkString(",")))) Nil
     else Seq("masked ⋈ keys does not restore the input")) ++
      (if (unmasked > 0) Seq(s"$unmasked customer values left unmasked") else Nil)
  }

  def policyExpected(users: Vector[Gen.User], tier: String): Seq[Long] = {
    val rank = Map("free" -> 0, "basic" -> 1, "premium" -> 2, "admin" -> 3)
    val kstDay = java.time.LocalDate.of(2024, 2, 16) // 2024-02-15 16:00 UTC in Seoul
    users.filter { u =>
      val end = if (u.role == "basic" || u.role == "premium")
        Some(java.time.LocalDate.parse(u.startDate).plusDays(30)) else None
      rank(u.role) >= rank(tier) && !end.exists(_.isBefore(kstDay))
    }.sortBy(u => (-rank(u.role), -java.time.LocalDate.parse(u.startDate).toEpochDay, u.uid))
      .take(policyLimit).map(_.uid)
  }

  /** Exact top-k by cosine, rounded to 4 decimals like the engine, ties
    * to the smaller id. */
  def bruteTopK(ann: Gen.AnnTruth, q: Array[Float], k: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]) = a.indices.map(i => a(i).toDouble * b(i)).sum
    val qq = dot(q, q)
    ann.corpus.map { case (id, v) => (id, math.round(dot(q, v) / math.sqrt(qq * dot(v, v)) * 1e4)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }
}

// ----------------------------------------------------------------------
// corpus_dedup
// ----------------------------------------------------------------------

/** The curation chain over a generated corpus with planted verbatim
  * copies and near-duplicate version chains. */
final class CorpusDedup(ctx: Ctx, base: Int, verbatim: Int, chains: Int, maxHops: Int,
    junk: Int, merges: Int) extends Workload {
  import ctx.{spark, span}
  val name = "corpus_dedup"
  def minUnits = 2
  def tailPercentile = 100
  val recallFloor = 0.95
  private var corpus, small: Gen.Corpus = _

  def generate(): Unit = {
    corpus = Gen.corpus(spark, new File(ctx.work, "in"), ctx.seed, base, verbatim, chains, maxHops, junk)
    small = Gen.corpus(spark, new File(ctx.work, "warm"), ctx.seed + 1, base / 8, verbatim / 8,
      chains / 8, maxHops, junk / 8)
  }

  def warmUp(): Unit = chain(small).release()

  def runUnit(i: Int): UnitOutcome = {
    ctx.tracer.unit = i
    val t0 = System.nanoTime()
    val res = try Right(span("unit")(chain(corpus))) catch { case e: Exception => Left(e) }
    val wall = System.nanoTime() - t0
    val problems = res match {
      case Left(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(out) => try check(out) catch { case e: Exception => Seq(s"check: $e") }
        finally out.release()
    }
    UnitOutcome(t0, wall, corpus.docs, Seq(wall / 1e6), 1, if (problems.isEmpty) 0 else 1, "pass", problems)
  }

  /** The chain's outputs, still cached for the check; `release` frees them. */
  private final class Output(val good: DataFrame, val kept: DataFrame, val merges: Seq[(String, String)],
      val encoded: DataFrame) {
    def release(): Unit = Seq(kept, good).foreach(_.unpersist(blocking = true))
  }

  private def chain(c: Gen.Corpus): Output = {
    val docs = spark.read.parquet(c.path)
    val clean = span("llm.markup.strip") {
      val s = docs.select(col("doc_id"), Markup.stripMarkdown(col("text")).as("text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count(); s
    }
    val good = span("llm.text.quality") {
      val keep = TextAnalysis.gopherRules(col("text")).toMap.apply("keep")
      val g = clean.filter(keep).persist(StorageLevel.MEMORY_AND_DISK)
      g.count(); g
    }
    clean.unpersist(blocking = true)
    val clusters = Dedup.withMinhashDupPairs(good, "doc_id", "text") { pairs =>
      val p = span("llm.dedup.pairs")(pairs.select("a", "b").localCheckpoint(eager = true))
      span("llm.dedup.clusters")(Dedup.dupClusters(p))
    }
    val kept = span("llm.dedup.keep") {
      val k = Dedup.keepAfterDedup(good, "doc_id", clusters).persist(StorageLevel.MEMORY_AND_DISK)
      k.count(); k
    }
    val learned = span("llm.bpe.learn")(Bpe.learnMergesFast(kept, "text", merges)
      .orderBy("rank").collect().map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq)
    val encoded = span("llm.bpe.encode")(
      Bpe.encodeHistogramFast(Bpe.wordHistogram(kept, "text"), learned))
    new Output(good, kept, learned, encoded)
  }

  private def check(out: Output): Seq[String] = {
    val kept = out.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val good = out.good.count()
    val badTokens = out.encoded.filter(concat_ws("", col("toks")) =!= col("word")).count()
    val nearDup = corpus.nearDup
    val recall = nearDup.count(id => !kept(id)).toDouble / math.max(1, nearDup.length)
    val wantGood = corpus.docs - corpus.junk.length
    Seq(
      (good == wantGood) -> s"$good documents passed the quality rules != planted $wantGood",
      corpus.verbatim.forall(id => !kept(id)) -> s"${corpus.verbatim.count(kept)} verbatim copies kept",
      (recall >= recallFloor) -> f"near-duplicate recall $recall%.3f < floor $recallFloor",
      (0L until corpus.base).forall(kept) -> s"${(0L until corpus.base).count(!kept(_))} base documents dropped",
      (out.merges.length == merges) -> s"${out.merges.length} BPE merges learned != $merges",
      (badTokens == 0) -> s"$badTokens words do not re-assemble from their tokens",
    ).collect { case (false, msg) => msg }
  }

  override def itemsPerS(units: Seq[UnitOutcome]): Double =
    corpus.docs / Stats.median(units.map(_.wallNs / 1e9))

  /** The minhash stage split into its public parts, one action each. */
  override def probe(): Map[String, Double] = {
    val good = spark.read.parquet(corpus.path)
      .select(col("doc_id"), Markup.stripMarkdown(col("text")).as("text"))
      .filter(TextAnalysis.gopherRules(col("text")).toMap.apply("keep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    good.count()
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val (sh, shS) = timed { val s = Dedup.shingles(good, "doc_id", "text").persist(); s.count(); s }
      val (sig, sigS) = timed { val s = Dedup.minhashSignatures(sh).persist(); s.count(); s }
      val (cand, candS) = timed {
        val c = Dedup.lshCandidates(Dedup.lshBands(sig)).persist(); c.count(); c
      }
      val nCand = cand.count()
      val (nVer, verS) = timed(Dedup.jaccard(cand, sh).filter(col("jacc_x1e4") >= 5000).count())
      Seq(cand, sig, sh).foreach(_.unpersist(blocking = true))
      Map("llm.dedup.shingles_s" -> shS, "llm.dedup.signatures_s" -> sigS,
        "llm.dedup.candidates_s" -> candS, "llm.dedup.verify_s" -> verS,
        "llm.dedup.candidate_pairs" -> nCand.toDouble,
        "llm.dedup.verify_yield" -> (if (nCand == 0) 0.0 else nVer.toDouble / nCand))
    } finally good.unpersist(blocking = true)
  }
}

// ----------------------------------------------------------------------
// events_stream
// ----------------------------------------------------------------------

/** Drain a backlog of event files, one file per micro-batch, through
  * the exactly-once hourly window sink and the redelivery dedup. */
final class EventsDrain(ctx: Ctx, files: Int, perFile: Int) extends Workload {
  import ctx.{spark, span}
  val name = "events_stream"
  /** Two drains: at least 32 micro-batches, 10 of them above p68. */
  def minUnits = 2
  def tailPercentile = 68
  private var ev, small: Gen.Events = _
  private lazy val ss = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }
  private var expectedHourly: Map[(Long, String), (Long, Double)] = _
  /** Progress of every query run in measured units. */
  val progress = scala.collection.mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = {
    ev = Gen.events(spark, new File(ctx.work, "in"), ctx.seed, files, perFile)
    small = Gen.eventsPrefix(ev, new File(ctx.work, "warm"), 2)
    // the batch twin over the same files: every real event except the
    // planted late ones (the stream must drop exactly those)
    val late = ev.lateIds.toSeq
    val batch = spark.read.parquet(ev.dir).filter(col("event_type") =!= "sentinel")
      .filter(!col("event_id").isin(late: _*))
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    expectedHourly = hourlyMap(EventsStream.hourlyCounts(batch)
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("total_value")))
  }

  private def hourlyMap(df: DataFrame): Map[(Long, String), (Long, Double)] =
    df.select(unix_micros(col("hour_start")), col("event_type"), col("n"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

  def warmUp(): Unit = drain(small, -1, record = false)

  def runUnit(i: Int): UnitOutcome = drain(ev, i, record = true)

  private def stream(in: String): DataFrame =
    ss.readStream.schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))

  private def drain(e: Gen.Events, i: Int, record: Boolean): UnitOutcome = {
    ctx.tracer.unit = i
    val dir = ctx.out("stream")
    val hourlyOut = new File(dir, "hourly").getPath
    val dedupOut = new File(dir, "dedup").getPath
    var queries = Seq.empty[(String, StreamingQuery)]
    val t0 = System.nanoTime()
    // both queries of the session drain the backlog at the same time,
    // each on its own stream thread
    val res = try Right(span("unit")(span("streaming.drain") {
      queries = Seq(
        "hourly" -> EventsStream.runToFiles(ss, e.dir, new File(dir, "ckpt_hourly").getPath,
          hourlyOut, maxFilesPerTrigger = Some(1)),
        "dedup" -> EventsStream.dedupEvents(stream(e.dir)).writeStream.format("parquet")
          .option("path", dedupOut).option("checkpointLocation", new File(dir, "ckpt_dedup").getPath)
          .start())
      try queries.foreach(_._2.processAllAvailable()) finally queries.foreach(_._2.stop())
    })) catch { case ex: Exception => Left(ex) }
    val wall = System.nanoTime() - t0
    val ps = queries.flatMap { case (k, q) => q.recentProgress.toSeq.map(k -> _) }
    val dataBatches = ps.filter(_._2.numInputRows > 0)
    val problems = res match {
      case Left(ex) => Seq(s"${ex.getClass.getSimpleName}: ${ex.getMessage}")
      case Right(_) if !record => Nil
      case Right(_) => try check(ps, hourlyOut, dedupOut) catch { case ex: Exception => Seq(s"check: $ex") }
    }
    if (record) {
      progress ++= ps
      filesWritten += Option(new File(hourlyOut).listFiles()).getOrElse(Array.empty[File])
        .count(_.getName.endsWith(".parquet")).toDouble
    }
    Checks.rm(dir)
    UnitOutcome(t0, wall, e.rows, dataBatches.map(_._2.durationMs.get("triggerExecution").toDouble), 1,
      if (problems.isEmpty) 0 else 1, "drain", problems)
  }

  private def check(ps: Seq[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)],
      hourlyOut: String, dedupOut: String): Seq[String] = {
    val got = hourlyMap(spark.read.parquet(hourlyOut).filter(col("event_type") =!= "sentinel"))
    val sameHourly = got.keySet == expectedHourly.keySet && got.forall { case (k, (n, v)) =>
      val (wn, wv) = expectedHourly(k); n == wn && math.abs(v - wv) <= 1e-6 * math.max(1.0, math.abs(wv))
    }
    val dropped = ps.filter(_._1 == "hourly").flatMap(_._2.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark).sum
    val dedupRows = spark.read.parquet(dedupOut).filter(col("event_type") =!= "sentinel").count()
    val wantDedup = ev.rows - ev.lateIds.size - ev.redelivered
    Seq(
      sameHourly -> s"stream sink (${got.size} windows) != batch twin hourlyCounts (${expectedHourly.size})",
      (dropped == ev.lateGroups) -> s"$dropped late groups dropped by the watermark != planted ${ev.lateGroups}",
      (dedupRows == wantDedup) -> s"dedup sink holds $dedupRows rows != planted $wantDedup",
    ).collect { case (false, msg) => msg }
  }

  override def itemsPerS(units: Seq[UnitOutcome]): Double =
    ev.rows / Stats.median(units.map(_.wallNs / 1e9))

  override def layerMetrics(): Map[String, Double] = {
    val data = progress.map(_._2).filter(_.numInputRows > 0).toSeq
    def d(k: String) = Stats.median(data.map(p => p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    val hourly = progress.filter(_._1 == "hourly").map(_._2).toSeq
    val ops = hourly.flatMap(_.stateOperators.toSeq)
    val real = hourly.map(_.numInputRows).sum.toDouble
    val lastState = hourly.reverse.find(_.stateOperators.nonEmpty)
    Map(
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.wal_commit_ms" -> Stats.median(data.map(p =>
        Seq("walCommit", "commitOffsets").map(k => p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)).sum)),
      "streaming.state_commit_ms" -> Stats.median(data.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "streaming.state_rows" -> lastState.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_memory_mb" -> lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1e6).getOrElse(0.0),
      "streaming.dropped_late_ratio" -> (if (real == 0) 0.0 else ops.map(_.numRowsDroppedByWatermark).sum / real),
      "sinks.parquet.files_written" -> Stats.median(filesWritten.toSeq))
  }
}
