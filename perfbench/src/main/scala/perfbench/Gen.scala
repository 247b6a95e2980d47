package perfbench

import java.io.{BufferedWriter, ByteArrayOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every workload's files are a pure function
  * of (seed, size): the same seed writes byte-identical files, and the
  * planted ground truth (diff counts, duplicate clusters, late events,
  * page counts) is returned beside them so the output checks never
  * re-derive it from the program's own answers. */
object Gen {

  /** One independent stream per purpose, so resizing one input never
    * shifts the values of another. */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  // ------------------------------------------------------------------
  // Spreadsheet rows (lineitem-like upload)
  // ------------------------------------------------------------------

  val sheetHeader: Vector[String] = Vector("row_id", "order_key", "part_key",
    "supp_key", "quantity", "price", "discount", "ship_date", "ship_mode",
    "customer", "email", "phone", "comment")
  /** Columns an edit may change (the key never changes). */
  val editable: Vector[Int] = (1 until sheetHeader.length).toVector
  val shipModes = Vector("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  val commentWords = Vector("carefully", "final", "deposits", "quickly", "regular",
    "requests", "express", "accounts", "ironic", "packages", "blithely", "furiously",
    "pending", "theodolites", "slyly", "even", "bold", "silent", "fluffily", "special")
  /** The Pattern tool's planted target: `ref-` plus five digits. */
  val refPattern = "ref-[0-9]{5}"

  case class Sheet(header: Vector[String], rows: Vector[Vector[String]]) {
    def csvLines: Vector[String] = header.mkString(",") +: rows.map(_.mkString(","))
  }

  private def pad(n: Long, w: Int): String = {
    val s = n.toString; if (s.length >= w) s else "0" * (w - s.length) + s
  }

  private def money(cents: Long): String = s"${cents / 100}.${pad(cents % 100, 2)}"

  private def date(r: SplittableRandom): String =
    java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(1500)).toString

  def sheetRow(r: SplittableRandom, id: Long): Vector[String] = {
    val cust = r.nextInt(150000)
    val comment = {
      val words = Vector.fill(3 + r.nextInt(6))(commentWords(r.nextInt(commentWords.length)))
      if (r.nextInt(10) < 3) words :+ s"ref-${pad(r.nextInt(100000), 5)}" else words
    }.mkString(" ")
    Vector(id.toString, (1 + r.nextInt(6000000)).toString, (1 + r.nextInt(200000)).toString,
      (1 + r.nextInt(10000)).toString, (1 + r.nextInt(50)).toString,
      money(90000L + r.nextInt(10000000)), s"0.0${r.nextInt(10)}", date(r),
      shipModes(r.nextInt(shipModes.length)), s"Customer#${pad(cust, 9)}",
      s"user$cust@example.com", s"${10 + r.nextInt(25)}-${pad(r.nextInt(1000), 3)}-${pad(r.nextInt(10000), 4)}",
      comment)
  }

  def sheet(r: SplittableRandom, n: Int): Sheet =
    Sheet(sheetHeader, Vector.tabulate(n)(i => sheetRow(r, i + 1L)))

  def refCount(s: Sheet): Int = {
    val p = refPattern.r
    val c = sheetHeader.indexOf("comment")
    s.rows.iterator.map(row => p.findAllMatchIn(row(c)).size).sum
  }

  /** Planted outcome of one two-version upload. */
  case class DiffTruth(added: Long, deleted: Long, changed: Long, same: Long,
      fieldMismatches: Long) {
    def byStatus: Map[String, Long] =
      Map("added" -> added, "deleted" -> deleted, "changed" -> changed, "same" -> same)
  }

  /** Version B of `a`: seeded deletions, additions (fresh keys after
    * the last one) and 1-3 field edits per changed row. Rows keep A's
    * order so the files look like a re-export, not a reshuffle. */
  def secondVersion(r: SplittableRandom, a: Sheet, delPct: Double, addPct: Double,
      editPct: Double): (Sheet, DiffTruth) = {
    val n = a.rows.length
    val nFields = a.header.length - 1
    var deleted, changed, mismatches = 0L
    val kept = Vector.newBuilder[Vector[String]]
    a.rows.foreach { row =>
      val u = r.nextDouble()
      if (u < delPct) { deleted += 1; mismatches += nFields }
      else if (u < delPct + editPct) {
        val cols = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
          .shuffle(editable).take(1 + r.nextInt(3))
        changed += 1; mismatches += cols.size
        kept += cols.foldLeft(row)((acc, c) => acc.updated(c, acc(c) + "x"))
      } else kept += row
    }
    val nAdd = math.round(n * addPct).toInt
    val added = Vector.tabulate(nAdd)(i => sheetRow(r, n + 1L + i))
    mismatches += nAdd.toLong * nFields
    val b = Sheet(a.header, kept.result() ++ added)
    (b, DiffTruth(nAdd, deleted, changed, n - deleted - changed, mismatches))
  }

  // ------------------------------------------------------------------
  // Writers: plain bytes, fixed zip timestamps, so files are
  // byte-identical per seed.
  // ------------------------------------------------------------------

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def writeCsv(f: File, s: Sheet): Unit = writeLines(f, s.csvLines.iterator)

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def writeXml(f: File, s: Sheet): Unit = writeLines(f,
    Iterator("""<?xml version="1.0" encoding="UTF-8"?>""", "<rows>") ++
      s.rows.iterator.map(row => s.header.zip(row)
        .map { case (k, v) => s"<$k>${xmlEsc(v)}</$k>" }.mkString("  <row>", "", "</row>")) ++
      Iterator("</rows>"))

  private def colRef(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val m = (n - 1) % 26; sb.insert(0, ('A' + m).toChar); n = (n - 1) / 26 }
    sb.result()
  }

  /** An OOXML workbook the way spreadsheet apps save it: a shared
    * string table, numeric cells for the numeric columns (row_id and
    * quantity). */
  def writeXlsx(f: File, s: Sheet): Unit = {
    val numericCols = Set(0, 4)
    f.getParentFile.mkdirs()
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sid(v: String): Int = strings.getOrElseUpdate(v, strings.size)
    val sheetXml = new StringBuilder(1 << 20)
    sheetXml.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sheetXml.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    (s.header +: s.rows).zipWithIndex.foreach { case (row, i) =>
      val r = i + 1
      sheetXml.append(s"""<row r="$r">""")
      row.zipWithIndex.foreach { case (v, c) =>
        if (i > 0 && numericCols(c)) sheetXml.append(s"""<c r="${colRef(c)}$r"><v>$v</v></c>""")
        else sheetXml.append(s"""<c r="${colRef(c)}$r" t="s"><v>${sid(v)}</v></c>""")
      }
      sheetXml.append("</row>")
    }
    sheetXml.append("</sheetData></worksheet>")
    val sst = new StringBuilder(1 << 20)
    sst.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sst.append(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""")
    strings.keys.foreach(v => sst.append(s"<si><t>${xmlEsc(v)}</t></si>"))
    sst.append("</sst>")
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$main" xmlns:r="$rel">""" +
          """<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/>""" +
          s"""<Relationship Id="rId2" Type="$rel/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/sharedStrings.xml" -> sst.result(),
      "xl/worksheets/sheet1.xml" -> sheetXml.result())
    val zos = new ZipOutputStream(new FileOutputStream(f))
    try parts.foreach { case (name, body) =>
      val e = new ZipEntry(name); e.setTime(315532800000L) // 1980-01-01, the zip epoch
      zos.putNextEntry(e); zos.write(body.getBytes(UTF_8)); zos.closeEntry()
    } finally zos.close()
  }

  /** A minimal PDF 1.4 with `pages` pages, one text content stream
    * each, and an exact xref table. */
  def pdf(pages: Int, tag: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def obj(n: Int, body: String): Unit = { offsets += out.size(); put(s"$n 0 obj\n$body\nendobj\n") }
    put("%PDF-1.4\n")
    val pageObjs = (0 until pages).map(i => 3 + 2 * i)
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, s"<< /Type /Pages /Kids [${pageObjs.map(p => s"$p 0 R").mkString(" ")}] /Count $pages >>")
    pageObjs.zipWithIndex.foreach { case (p, i) =>
      obj(p, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents ${p + 1} 0 R >>")
      val cs = s"BT /F1 12 Tf 72 720 Td ($tag page ${i + 1}) Tj ET"
      obj(p + 1, s"<< /Length ${cs.length} >>\nstream\n$cs\nendstream")
    }
    val xref = out.size()
    put(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => put(f"$o%010d 00000 n \n"))
    put(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** Write generated rows as ONE parquet file at `f`. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, f: File): Unit =
    writeParquets(spark, Seq(f.getName -> rows), schema, f.getParentFile)

  // ------------------------------------------------------------------
  // interactive_tools
  // ------------------------------------------------------------------

  case class UploadFile(path: String, sheet: Sheet)
  case class ComparePair(a: String, b: String, truth: DiffTruth)
  case class PdfFile(path: String, pages: Int)
  case class User(uid: Long, name: String, role: String, startDate: String)
  case class AnnTruth(corpus: Vector[(Long, Array[Float])], queries: Vector[Array[Float]])
  case class Interactive(csvs: Vector[UploadFile], xlsxs: Vector[UploadFile],
      xmls: Vector[UploadFile], pairs: Vector[ComparePair], pdfs: Vector[PdfFile],
      usersCsv: String, users: Vector[User], annCorpus: String, ann: AnnTruth)

  val roles = Vector("free", "basic", "premium", "admin")
  val annDim = 32
  val annClusters = 16

  /** Upload-sized inputs of [minRows, maxRows] rows. */
  def interactive(spark: SparkSession, dir: File, seed: Long, minRows: Int = 300,
      maxRows: Int = 3000, annVectors: Int = 2000): Interactive = {
    val r = rng(seed, "interactive")
    // sizes follow a fixed schedule (the seed varies content, not the
    // amount of work); the first entries already span the range
    val spread = Vector(0.5, 0.0, 1.0, 0.25, 0.75, 0.125, 0.875, 0.375)
    def rows(i: Int): Int = minRows + ((maxRows - minRows) * spread(i % spread.length)).toInt
    def files(kind: String, n: Int)(write: (File, Sheet) => Unit): Vector[UploadFile] =
      Vector.tabulate(n) { i =>
        val s = sheet(r, rows(i))
        val f = new File(dir, s"$kind/upload_$i.$kind"); write(f, s)
        UploadFile(f.getPath, s)
      }
    val csvs = files("csv", 8)(writeCsv)
    val xlsxs = files("xlsx", 4)((f, s) => writeXlsx(f, s))
    val xmls = files("xml", 4)(writeXml)
    val pairs = Vector.tabulate(4) { i =>
      val a = sheet(r, rows(i))
      val (b, truth) = secondVersion(r, a, 0.02, 0.02, 0.05)
      val fa = new File(dir, s"compare/v1_$i.csv"); writeCsv(fa, a)
      val fb = new File(dir, s"compare/v2_$i.csv"); writeCsv(fb, b)
      ComparePair(fa.getPath, fb.getPath, truth)
    }
    val pdfs = Vector.tabulate(8) { i =>
      val n = 1 + (11 * spread(i)).toInt
      val f = new File(dir, s"pdf/doc_$i.pdf"); f.getParentFile.mkdirs()
      Files.write(f.toPath, pdf(n, s"doc $i"))
      PdfFile(f.getPath, n)
    }
    val users = Vector.tabulate(3000) { i =>
      User(i + 1L, s"user${pad(i + 1, 5)}", roles(r.nextInt(roles.length)),
        java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(60)).toString)
    }
    val usersCsv = new File(dir, "users.csv")
    writeLines(usersCsv, Iterator("uid,name,role,start_date") ++
      users.iterator.map(u => s"${u.uid},${u.name},${u.role},${u.startDate}"))
    val ann = annData(r, annVectors, 400)
    val annCorpus = new File(dir, "ann/corpus.parquet"); annCorpus.getParentFile.mkdirs()
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("ce", ArrayType(FloatType, containsNull = false), nullable = false)))
    writeParquet(spark, ann.corpus.map { case (id, v) => Row(id, v.toSeq) }, schema, annCorpus)
    Interactive(csvs, xlsxs, xmls, pairs, pdfs, usersCsv.getPath, users, annCorpus.getPath, ann)
  }

  private def annData(r: SplittableRandom, n: Int, nq: Int): AnnTruth = {
    def gauss(): Double = { // Box-Muller on the seeded stream
      val u = math.max(r.nextDouble(), 1e-12); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centers = Vector.fill(annClusters)(Array.fill(annDim)(gauss()))
    def near(c: Array[Double], noise: Double): Array[Float] =
      c.map(x => (x + noise * gauss()).toFloat)
    val corpus = Vector.tabulate(n)(i => (i.toLong, near(centers(i % annClusters), 0.25)))
    val queries = Vector.fill(nq)(near(centers(r.nextInt(annClusters)), 0.25))
    AnnTruth(corpus, queries)
  }

  // ------------------------------------------------------------------
  // corpus_dedup
  // ------------------------------------------------------------------

  /** Planted corpus structure. Base documents take ids [0, base), so
    * every duplicate cluster's minimum id - the keeper - is its base
    * document; copies, chain versions and junk take ids above. */
  case class Corpus(path: String, docs: Int, base: Int, verbatim: Vector[Long],
      chains: Vector[Vector[Long]], junk: Vector[Long]) {
    def nearDup: Vector[Long] = chains.flatMap(_.tail)
    def maxHops: Int = chains.map(_.length - 1).foldLeft(0)(math.max)
  }

  private val stop = Vector("the", "a", "of", "and", "to")

  /** Synthetic vocabulary: pronounceable 3-9 letter words. */
  private def vocab(r: SplittableRandom, n: Int): Vector[String] = {
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    Vector.fill(n) {
      val len = 3 + r.nextInt(7)
      (0 until len).map(i => if (i % 2 == 0) cons(r.nextInt(cons.length)) else vow(r.nextInt(vow.length))).mkString
    }.distinct
  }

  /** Markdown around plain words: headings, bold, links, inline code.
    * Markup.stripMarkdown reduces it to the words again. */
  private def markdown(r: SplittableRandom, words: Vector[String]): String = {
    val sb = new StringBuilder("# ")
    words.zipWithIndex.foreach { case (w, i) =>
      if (i == 4) sb.append("\n\n")
      else if (i > 0) sb.append(' ')
      r.nextInt(20) match {
        case 0 => sb.append(s"**$w**")
        case 1 => sb.append(s"[$w](https://example.com/$w)")
        case 2 => sb.append(s"`$w`")
        case _ => sb.append(w)
      }
    }
    sb.result()
  }

  def corpus(spark: SparkSession, dir: File, seed: Long, base: Int, verbatim: Int,
      chains: Int, maxHops: Int, junk: Int): Corpus = {
    val r = rng(seed, "corpus_dedup")
    val voc = vocab(r, 4000)
    def word(): String =
      if (r.nextInt(8) == 0) stop(r.nextInt(stop.length)) else voc(r.nextInt(voc.length))
    val baseWords = Vector.fill(base)(stop(0) +: Vector.fill(50 + r.nextInt(40))(word()))
    val baseDocs = baseWords.map(markdown(r, _))
    val docs = Vector.newBuilder[(Long, String)]
    baseDocs.zipWithIndex.foreach { case (t, i) => docs += ((i.toLong, t)) }
    var next = base.toLong
    def fresh(): Long = { val id = next; next += 1; id }
    val copies = Vector.fill(verbatim) {
      val src = r.nextInt(base); val id = fresh()
      docs += ((id, baseDocs(src))); id
    }
    // version chains: each version edits two words of the previous
    // one (3-shingle Jaccard ~0.8 per hop), so only the chain links
    // the far end to its root
    val chainIds = Vector.tabulate(chains) { c =>
      val root = r.nextInt(base)
      val hops = 1 + (c % maxHops)
      var w = baseWords(root)
      root.toLong +: Vector.fill(hops) {
        (0 until 2).foreach { _ => w = w.updated(1 + r.nextInt(w.length - 1), word()) }
        val id = fresh(); docs += ((id, markdown(r, w))); id
      }
    }
    val junkIds = Vector.fill(junk) {
      val id = fresh(); docs += ((id, markdown(r, Vector.fill(3 + r.nextInt(10))(word())))); id
    }
    val all = docs.result()
    val f = new File(dir, "documents.parquet"); f.getParentFile.mkdirs()
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    writeParquet(spark, all.map { case (id, t) => Row(id, t) }, schema, f)
    Corpus(f.getPath, all.length, base, copies, chainIds, junkIds)
  }

  // ------------------------------------------------------------------
  // events_stream
  // ------------------------------------------------------------------

  /** `lateGroups`: distinct (file, hour, event type) among the late
    * rows - what the windowed aggregate drops, since Spark counts late
    * rows after partial aggregation. */
  case class Events(dir: String, files: Int, rows: Long, lateIds: Set[Long],
      lateGroups: Long, redelivered: Long, outOfOrder: Long)

  val eventTypes = Vector("click", "view", "purchase", "signup", "error")
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false), // epoch nanoseconds
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** `files` files, file i covering event hours [2i, 2i+2) of a fixed
    * epoch, each one micro-batch. Planted: a share shifted back up to
    * 50 minutes (out of order, inside the 1 h watermark), a share
    * stamped 5-6 h behind from the fourth file on (late: behind the
    * watermark Spark applies to late rows, which is the previous
    * batch's, so always dropped), and redelivered copies of the
    * previous file's events (same id and time). Two sentinel files
    * 6 h and 12 h past the end advance the watermark so every real
    * window closes. */
  def events(spark: SparkSession, dir: File, seed: Long, files: Int, perFile: Int): Events = {
    val r = rng(seed, "events_stream")
    val hourNs = 3600L * 1000000000L
    val epochNs = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    var nextId = 0L
    var prev = Vector.empty[Row]
    val late = scala.collection.mutable.HashSet.empty[Long]
    val lateGroups = scala.collection.mutable.HashSet.empty[(Int, Long, String)]
    var rows, redelivered, ooo = 0L
    def event(ts: Long): Row = {
      val id = nextId; nextId += 1
      Row(id, ts, r.nextInt(2000).toLong, eventTypes(r.nextInt(eventTypes.length)),
        (r.nextInt(100000) / 100.0), s"""{"k": ${r.nextInt(100)}}""")
    }
    new File(dir, "in").mkdirs()
    val out = Seq.newBuilder[(String, Seq[Row])]
    (0 until files).foreach { i =>
      val start = epochNs + 2 * i * hourNs
      val fresh = Vector.fill(perFile) {
        val u = r.nextInt(100)
        var ts = start + (r.nextDouble() * 2 * hourNs).toLong
        val isLate = i >= 3 && u < 2
        if (isLate) ts = start - 5 * hourNs - (r.nextDouble() * hourNs).toLong
        else if (i > 0 && u < 12) { ts -= (r.nextDouble() * 50 * 60 * 1e9).toLong; ooo += 1 }
        val e = event(ts)
        if (isLate) { late += e.getLong(0); lateGroups += ((i, ts / hourNs, e.getString(3))) }
        e
      }
      // redeliveries come from the previous file's last 45 minutes, so
      // they sit inside the dedup state's 1 h window
      val recent = prev.filter(_.getLong(1) >= start - 45L * 60 * 1000000000L)
      val copies = if (recent.isEmpty) Vector.empty
        else Vector.fill(perFile / 50)(recent(r.nextInt(recent.length))).distinct
      redelivered += copies.length
      val batchRows = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(fresh ++ copies)
      rows += batchRows.length
      out += f"events_$i%03d.parquet" -> batchRows
      prev = fresh
    }
    val endNs = epochNs + 2 * files * hourNs
    Seq(6L, 12L).zipWithIndex.foreach { case (h, j) =>
      out += s"sentinel_$j.parquet" -> Seq(Row(-1L - j, endNs + h * hourNs, -1L, "sentinel", 0.0, ""))
    }
    writeParquets(spark, out.result(), eventSchema, new File(dir, "in"))
    Events(new File(dir, "in").getPath, files, rows, late.toSet, lateGroups.size, redelivered, ooo)
  }

  /** A stream over the first `n` files of `ev` plus its sentinels
    * (copies, same order). */
  def eventsPrefix(ev: Events, dir: File, n: Int): Events = {
    val in = new File(dir, "in"); in.mkdirs()
    new File(ev.dir).listFiles().sortBy(_.lastModified).zipWithIndex
      .filter { case (f, i) => i < n || f.getName.startsWith("sentinel") }
      .foreach { case (f, _) =>
        val to = new File(in, f.getName)
        Files.copy(f.toPath, to.toPath); to.setLastModified(f.lastModified)
      }
    ev.copy(dir = in.getPath, files = n)
  }

  /** Write several files in one Spark job: file k holds `files(k)._2`.
    * The file source orders micro-batches by modification time, so
    * file k gets second k. */
  private def writeParquets(spark: SparkSession, files: Seq[(String, Seq[Row])],
      schema: StructType, dir: File): Unit = {
    val tmp = new File(dir, "_tmp")
    val rows = files.zipWithIndex.flatMap { case ((_, rs), k) => rs.map(r => Row.fromSeq(k +: r.toSeq)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(StructField("_file", IntegerType, nullable = false) +: schema.fields))
      .repartition(files.length, org.apache.spark.sql.functions.col("_file"))
      .sortWithinPartitions("_file")
      .write.partitionBy("_file").parquet(tmp.getPath)
    files.zipWithIndex.foreach { case ((name, _), k) =>
      val part = new File(tmp, s"_file=$k").listFiles()
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file for $name, found ${part.length}")
      val f = new File(dir, name)
      Files.move(part.head.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING)
      f.setLastModified(1700000000000L + k * 1000L)
    }
    Files.walk(tmp.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** SHA-256 over every file under `dir` (relative names and bytes,
    * in name order) - the determinism check's fingerprint. */
  def digestTree(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).sorted().forEach { p =>
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    } finally walk.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}
