package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.CSVHeaderChecker
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.SparkSpec

class TextSpec extends SparkSpec {

  private def tmpFile(name: String, content: Array[Byte]): String = {
    val d = Files.createTempDirectory("textspec")
    val f = d.resolve(name)
    Files.write(f, content)
    f.toString
  }
  private def tmpFile(name: String, content: String): String =
    tmpFile(name, content.getBytes("UTF-8"))

  test("CSV reference semantics: trim, col{N} gaps, dup header last-wins, ragged rows (S1)") {
    val p = tmpFile("ragged.csv", "a, b ,,a\n1,\" x,y \",3,4,EXTRA\n2\n\n;\n")
    val df = Text.readCsv(spark, p, Some(","))
    assert(df.columns.toSeq == Seq("b", "col3", "a"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows(0) == (("x,y", "3", "4"))) // trimmed after unquote; dup col last wins
    assert(rows(1) == (("", "", "")))      // short row filled with ''
    assert(rows(2) == (("", "", "")))      // ';' overwritten by missing dup col (ref semantics)
    assert(rows.length == 3)               // blank line dropped
  }

  test("delimiter sniffing ties: tab >= comma >= semicolon (S3)") {
    assert(Text.detectDelimiter("a\tb,c") == "\t")
    assert(Text.detectDelimiter("a,b;c") == ",")
    assert(Text.detectDelimiter("x;y;z") == ";")
    assert(Text.detectDelimiter("") == "\t")
  }

  test("TXT: trimmed lines, blanks dropped (S5/P7)") {
    val p = tmpFile("t.txt", "  hello \n\n  \nworld\n")
    val vs = Text.readTxt(spark, p).collect().map(_.getString(0)).toSet
    assert(vs == Set("hello", "world"))
  }

  test("JSON: array-under-key unwrap and scalar wrap (S6)") {
    val p1 = tmpFile("a.json", """{"meta": 1, "data": [{"x": "1"}, {"x": "2"}]}""")
    val d1 = Text.readJson(spark, p1)
    assert(d1.columns.toSeq == Seq("x") && d1.count() == 2)
    val p2 = tmpFile("b.json", """{"vals": [1, 2, 3]}""")
    val d2 = Text.readJson(spark, p2)
    assert(d2.columns.toSeq == Seq("value") && d2.count() == 3)
  }

  test("JSON: multi-array documents unwrap the first array key in DOCUMENT order (S6)") {
    // "rows" precedes "aaa" in the document but not alphabetically
    val p = tmpFile("ord.json",
      """{"meta": {"deep": [true], "s": "bracket ] in string"},
        | "rows": [{"x": "1"}, {"x": "2"}], "aaa": [9]}""".stripMargin)
    val d = Text.readJson(spark, p)
    assert(d.columns.toSeq == Seq("x") && d.count() == 2)
  }

  test("firstArrayKey: document-order scan with skips, escapes and truncation") {
    import Text.firstArrayKey
    assert(firstArrayKey("""{"b": 1, "a": [1]}""") == (Some("a"), true))
    assert(firstArrayKey("""{"z": {"inner": [1]}, "y": "str ] [", "k\"ey": [2]}""")
      == (Some("k\"ey"), true))
    assert(firstArrayKey("""{"n": 1.5e3, "t": true, "u": null}""") == (None, true))
    assert(firstArrayKey("""[1, 2]""") == (None, true)) // top-level array: no key
    assert(firstArrayKey("""{"a": {"unclosed": 1""") == (None, false)) // truncated
    assert(firstArrayKey("""{"long": "tex""") == (None, false))
    assert(firstArrayKey("""{"u": "A", "arr": []}""") == (Some("arr"), true))
  }

  test("encoding: EUC-KR honored, malformed bytes fall back to UTF-8 (P11)") {
    val kr = "이름\n값\n".getBytes("EUC-KR")
    val p = tmpFile("kr.txt", kr)
    assert(Text.resolveEncoding(spark, p, "EUC-KR") == "EUC-KR")
    val vs = Text.readTxt(spark, p, "EUC-KR").collect().map(_.getString(0)).toSet
    assert(vs == Set("이름", "값"))
    // UTF-8 bytes that are invalid EUC-KR → fallback
    val utf = "héllo ✓\n".getBytes("UTF-8")
    val p2 = tmpFile("u.txt", utf)
    assert(Text.resolveEncoding(spark, p2, "EUC-KR") == "UTF-8")
  }

  test("wholetext: one row per file (S13)") {
    val p = tmpFile("w.txt", "line1\nline2\n")
    val rows = Text.readWholeText(spark, p).collect()
    assert(rows.length == 1 && rows(0).getString(0).contains("line2"))
  }

  test("splitLine: quote escapes and trim (S1 splitter)") {
    assert(Text.splitLine("""a,"b""c", d """, ',') == Seq("a", "b\"c", "d"))
    assert(Text.splitLine("""x,"a,b",y""", ',') == Seq("x", "a,b", "y"))
  }

  private def tmpDir(files: (String, Array[Byte])*): String = {
    val d = Files.createTempDirectory("textspec")
    files.foreach { case (n, b) => Files.write(d.resolve(n), b) }
    d.toString
  }
  private def contents(df: DataFrame): (Seq[String], Seq[Seq[String]]) =
    (df.columns.toSeq, df.collect().map(_.toSeq.map(_.toString)).toSeq.sortBy(_.mkString("\u0001")))

  test("CSV header names decode in the file's charset (P11)") {
    val kr = tmpFile("kr.csv", "번호,이름\n1,김철수\n".getBytes("EUC-KR"))
    assert(contents(Text.readCsv(spark, kr, Some(","), encoding = "EUC-KR")) ==
      ((Seq("번호", "이름"), Seq(Seq("1", "김철수")))))
    val jp = tmpFile("jp.csv", "番号,名前\n1,山田\n".getBytes("Shift_JIS"))
    assert(contents(Text.readCsv(spark, jp, Some(","), encoding = "Shift_JIS")) ==
      ((Seq("番号", "名前"), Seq(Seq("1", "山田")))))
  }

  test("encoding probe of a directory skips its empty _SUCCESS marker (P11)") {
    val utf = "id,이름\n1,김철수\n2,홍길동\n".getBytes("UTF-8")
    assert(Text.resolveEncoding(spark, tmpFile("u.csv", utf), "EUC-KR") == "UTF-8")
    val dir = tmpDir("_SUCCESS" -> Array.emptyByteArray, "part-00000.csv" -> utf)
    assert(Text.resolveEncoding(spark, dir, "EUC-KR") == "UTF-8")
    assert(contents(Text.readCsv(spark, dir, Some(","), encoding = "EUC-KR")) ==
      ((Seq("id", "이름"), Seq(Seq("1", "김철수"), Seq("2", "홍길동")))))
  }

  test("encoding probe: a character cut by the end of the head is not malformed (P11)") {
    // odd header length → every 2-byte EUC-KR character starts at an odd
    // offset, so both the 4 KB and the 64 KB heads end mid-character
    val body = "id,txt\n1," + "가" * 40000 + "\n"
    val p = tmpFile("long_kr.csv", body.getBytes("EUC-KR"))
    assert(Text.resolveEncoding(spark, p, "EUC-KR") == "EUC-KR")
    assert(contents(Text.readCsv(spark, p, Some(","), encoding = "EUC-KR")) ==
      ((Seq("id", "txt"), Seq(Seq("1", "가" * 40000)))))
  }

  test("CSV drops a leading UTF-8 BOM from the header names (S1)") {
    val p = tmpFile("bom.csv", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "id,name\n1,a\n".getBytes("UTF-8"))
    assert(contents(Text.readCsv(spark, p)) == ((Seq("id", "name"), Seq(Seq("1", "a")))))
  }

  test("readCsv runs no Spark job until an action") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val p = tmpFile("jobs.csv", "a;b\n1;2\n3;4\n")
    val kr = tmpFile("jobs_kr.csv", "번호,이름\n1,김\n".getBytes("EUC-KR"))
    spark.sparkContext.addSparkListener(listener)
    try {
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.set(0)
      val dfs = Seq(Text.readCsv(spark, p), Text.readCsv(spark, kr, Some(","), encoding = "EUC-KR"))
      ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get == 0)
      dfs.foreach(_.collect())
      ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get >= 2) // the listener does see the actions
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("readCsv adds no CSV header-check warning") {
    val warnings = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("csv-header-check", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val name = classOf[CSVHeaderChecker].getName
    val ctx = LoggerContext.getContext(false)
    Configurator.setLevel(name, Level.WARN)
    ctx.getConfiguration.getLoggerConfig(name).addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val parts = Files.createTempDirectory("textspec").resolve("parts").toString
      import spark.implicits._
      Seq(("1", "x"), ("2", "y"), ("3", "z")).toDF("id", "name").repartition(3)
        .write.option("header", "true").csv(parts)
      val inputs = Seq(
        Text.readCsv(spark, tmpFile("plain.csv", "id,name\n1,a\n")),
        Text.readCsv(spark, tmpFile("bom.csv",
          Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "id,name\n1,a\n".getBytes("UTF-8"))),
        Text.readCsv(spark, tmpFile("kr.csv", "번호,이름\n1,김\n".getBytes("EUC-KR")),
          Some(","), encoding = "EUC-KR"),
        Text.readCsv(spark, parts))
      inputs.foreach(_.collect())
      assert(inputs.last.count() == 3)
      assert(warnings.asScala.isEmpty, warnings.asScala.mkString("\n"))
      // the appender does receive the checker's warnings
      spark.read.option("header", "true").schema("x STRING, y STRING").csv(parts).collect()
      assert(warnings.asScala.exists(_.contains("does not conform")))
    } finally {
      ctx.getConfiguration.getLoggerConfig(name).removeAppender(appender.getName)
      Configurator.setLevel(name, Level.ERROR)
      appender.stop()
    }
  }

  test("readCsv matches the inferred-schema reference form on generated CSV (S1-S4)") {
    val content: Gen[Char => String] = for {
      value <- Gen.oneOf(Gen.alphaNumStr.map(_.take(4)),
        Gen.oneOf("", " sp ", "A", "a", "q\"q", "x y", "col2"))
      quoted <- Gen.oneOf(false, true)
      embedDelim <- Gen.oneOf(false, false, true)
    } yield (d: Char) => {
      val v = if (embedDelim) s"$value$d$value" else value
      if (quoted || v.exists(c => c == d || c == '"')) "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }
    val sheet: Gen[(Char, Boolean, Seq[Seq[String]], String, String, Int)] = for {
      d <- Gen.oneOf(',', '\t', ';')
      sniff <- Gen.oneOf(false, true)
      width <- Gen.choose(1, 4)
      header <- Gen.listOfN(width, content)
      rows <- Gen.choose(0, 4).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 6).flatMap(w => Gen.listOfN(w, content))))
      eol <- Gen.oneOf("\n", "\r\n", "\r")
      lead <- Gen.oneOf("", "", "\n", " \n\n")
      parts <- Gen.oneOf(0, 0, 1, 3) // 0 = a single file, else a directory
    } yield (d, sniff, (header +: rows).map(_.map(_(d))), eol, lead, parts)

    def write(d: Char, lines: Seq[Seq[String]], eol: String, lead: String, parts: Int): String = {
      def text(ls: Seq[Seq[String]]) = lead + ls.map(_.mkString(d.toString) + eol).mkString
      if (parts == 0) tmpFile("g.csv", text(lines))
      else {
        val chunks = lines.tail.grouped(math.max(1, (lines.length + parts - 2) / parts)).toSeq
        tmpDir(("_SUCCESS" -> Array.emptyByteArray) +: (if (chunks.isEmpty) Seq(Seq.empty) else chunks)
          .zipWithIndex.map { case (c, i) => f"part-$i%05d.csv" -> text(lines.head +: c).getBytes("UTF-8") }: _*)
      }
    }
    // equal contents, or both forms fail
    def same(path: String, delim: Option[String]): Boolean =
      Try(contents(Text.readCsv(spark, path, delim))).toOption ==
        Try(contents(CsvReference.readCsv(spark, path, delim))).toOption
    // the named edge shapes, then generated sheets
    assert(same(tmpFile("empty.csv", ""), None))
    assert(same(tmpFile("blank.csv", "\n \n"), Some(",")))
    assert(same(tmpFile("header_only.csv", "a,\"b,c\",\"d\"\"e\"\r\n"), None))
    assert(same(tmpFile("cr.csv", "\ra;b\r1;2;3\r\r4\r"), None))
    val prop = Prop.forAll(sheet) { case (d, sniff, lines, eol, lead, parts) =>
      same(write(d, lines, eol, lead, parts), if (sniff) None else Some(d.toString))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
  }
}
