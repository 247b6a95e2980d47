package graft.sources

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.control.NonFatal
import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Text-family sources with the reference's parse semantics
  * (SURVEY §2.1 S1-S6, S13; §2.3 P7, P10, P11; sniffer S3).
  *
  * All readers return all-string DataFrames (the reference's universal
  * `String(v ?? '')` coercion) and stay lazy scans — Spark's CSV/JSON/
  * text readers split large files by HDFS block, so the same code path
  * parallelizes across a cluster; only the delimiter sniff, encoding
  * probe and CSV header read a bounded head of one file on the driver
  * (mirroring the reference's first-2000-chars sample).
  */
object Text {

  /** Up to n head bytes of the first file a read of path starts from —
    * path itself, or for a directory its first non-empty file by name
    * (so Spark's empty `_SUCCESS` marker is skipped) — via the Hadoop FS
    * API, which works for any Spark-reachable filesystem. The flag is
    * true when the bytes are known to be the whole file. */
  private def headBytes(spark: SparkSession, path: String, n: Int): (Array[Byte], Boolean) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(s => s.isFile && s.getLen > 0)
          .sortBy(_.getPath.getName).headOption.map(_.getPath)
      else Some(p)
    file.fold((Array.emptyByteArray, true)) { f =>
      val in = fs.open(f)
      val bytes = try in.readNBytes(n) finally in.close()
      (bytes, bytes.length < n)
    }
  }

  /** The first n bytes of the (first) file at path, decoded as UTF-8. */
  def readHead(spark: SparkSession, path: String, n: Int = 2000): String =
    new String(headBytes(spark, path, n)._1, UTF_8)

  /** S3: delimiter sniffing over the first 2000 chars; max count wins,
    * ties tab ≥ comma ≥ semicolon (reference compare/page.tsx:181-189). */
  def detectDelimiter(sample: String): String = {
    val s = sample.take(2000)
    val comma = s.count(_ == ',')
    val tab = s.count(_ == '\t')
    val semi = s.count(_ == ';')
    if (tab >= comma && tab >= semi) "\t"
    else if (comma >= semi) ","
    else ";"
  }

  /** P11: encoding with UTF-8 fallback — probe the head bytes under the
    * requested charset (strict decode); failure falls back to UTF-8
    * (reference FileUploader.tsx:313-314 TextDecoder fallback). */
  def resolveEncoding(spark: SparkSession, path: String, encoding: String): String =
    if (encoding.equalsIgnoreCase("UTF-8")) "UTF-8"
    else {
      val (head, whole) = headBytes(spark, path, 4096)
      probeEncoding(head, whole, encoding)
    }

  /** A multi-byte character cut by the end of a partial head is not
    * malformed input, so only a whole file is decoded to its end. */
  private def probeEncoding(head: Array[Byte], whole: Boolean, encoding: String): String =
    try {
      val dec = Charset.forName(encoding).newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = CharBuffer.allocate(math.ceil(head.length * dec.maxCharsPerByte).toInt)
      if (dec.decode(ByteBuffer.wrap(head), out, whole).isError) "UTF-8" else encoding
    } catch { case NonFatal(_) => "UTF-8" }

  /** Quote-aware single-line split with `""` escape, every cell trimmed
    * after unquoting (reference splitCSVLine, compare/page.tsx:155-178). */
  def splitLine(line: String, delimiter: Char): Seq[String] = {
    val result = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (ch == '"') {
        if (inQuote && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else inQuote = !inQuote
      } else if (ch == delimiter && !inQuote) { result += cur.result(); cur.clear() }
      else cur += ch
      i += 1
    }
    result += cur.result()
    result.result().map(_.trim)
  }

  /** S1/S2/S4: CSV/TSV scan with reference semantics
    * (compare/page.tsx:134-178): header = first non-blank line, a leading
    * UTF-8 BOM dropped; empty header cell c → `col{c+1}`; duplicate names
    * → last wins; missing cells → ''; `""` quote escape; every cell
    * trimmed after unquoting (SURVEY §7.4); blank lines dropped.
    * `delimiter = None` sniffs it (S3); a head that is not valid
    * `encoding` falls back to UTF-8 (P11).
    *
    * One bounded head read (64 KB of the first file) on the driver; no
    * Spark job runs until an action. */
  def readCsv(spark: SparkSession, path: String, delimiter: Option[String] = None,
      encoding: String = "UTF-8"): DataFrame = {
    val (head, whole) = headBytes(spark, path, 65536)
    val d = delimiter.getOrElse(
      detectDelimiter(new String(head, 0, math.min(head.length, 2000), UTF_8)))
    val enc = probeEncoding(head, whole, encoding)
    // Spark 4 allows only a short charset list by default; legacy-mode
    // opens the full java.nio set (EUC-KR/CP949, Shift_JIS — the
    // reference's P11 encodings, FileUploader.tsx:233).
    val builtin = Set("iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le", "utf-32", "utf-8")
    if (!builtin.contains(enc.toLowerCase))
      spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    val opts = Map("header" -> "true", "sep" -> d, "quote" -> "\"", "escape" -> "\"",
      "encoding" -> enc, "mode" -> "PERMISSIVE")
    // The schema Spark's own inference (TextInputCSVDataSource
    // .inferFromDataset) builds after a take(1) job: its parser and safe
    // names over the same header line. Positional names instead would
    // make every file's header check log a mismatch warning.
    val conf = spark.sessionState.conf
    val csvOpts = new CSVOptions(opts, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val headerLine = CSVExprUtils.extractHeader(new String(head, enc).linesIterator, csvOpts)
    val tokens = headerLine.flatMap(l => Option(new CsvParser(csvOpts.asParserSettings).parseLine(l)))
      .getOrElse(Array.empty[String])
    val schema = StructType(CSVUtils.makeSafeHeader(tokens, conf.caseSensitiveAnalysis, csvOpts)
      .map(StructField(_, StringType)))
    val raw = spark.read.options(opts).schema(schema).csv(path)
    val cells = splitLine(headerLine.getOrElse("").stripPrefix("\uFEFF"), d.charAt(0))
    val names = tokens.indices.map { i =>
      val h = if (i < cells.length) cells(i) else ""
      if (h.isEmpty) s"col${i + 1}" else h
    }
    // last-wins on duplicate names
    val keep = names.zipWithIndex.groupBy(_._1).map(_._2.last._2).toSet
    val positional = raw.toDF(tokens.indices.map(i => s"__c$i"): _*)
    positional.select(names.zipWithIndex.collect { case (n, i) if keep(i) =>
      coalesce(trim(col(s"__c$i")), lit("")).as(n)
    }: _*)
  }

  /** S5 + P7: one trimmed line → one row, single column `value`, blank
    * lines dropped (reference FileUploader.tsx:56-62).
    *
    * Spark's text source always decodes UTF-8 (the `encoding` option is
    * CSV-only), so non-UTF-8 charsets go through a per-file binary
    * decode: still executor-side and file-parallel, but not
    * block-splittable — acceptable for legacy-encoded inputs, which the
    * reference caps at browser scale anyway. */
  def readTxt(spark: SparkSession, path: String, encoding: String = "UTF-8"): DataFrame = {
    val enc = resolveEncoding(spark, path, encoding)
    val lines =
      if (enc.equalsIgnoreCase("UTF-8")) spark.read.text(path)
      else {
        import spark.implicits._
        spark.sparkContext.binaryFiles(path)
          .flatMap { case (_, pds) => new String(pds.toArray(), enc).linesIterator }
          .toDF("value")
      }
    lines
      .select(trim(col("value")).as("value"))
      .filter(length(col("value")) > 0)
  }

  /** S13: whole file → one row, one string document
    * (reference pattern-editor/page.tsx:201-214). */
  def readWholeText(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)

  /** Document-order scan for the first top-level key whose value is an
    * array — the tie-break the reference's `Object.keys(...).find(...)`
    * applies (compare/page.tsx:87-98), which JS guarantees is insertion
    * order, not Spark's alphabetical schema order. Returns
    * (Some(key), true) when found, (None, true) when the scan PROVED
    * there is none (top level not an object, or the object closed
    * without one), and (None, false) when the sample ended mid-object
    * (truncated — caller should retry with a bigger head). */
  private[sources] def firstArrayKey(sample: String): (Option[String], Boolean) = {
    val n = sample.length
    var i = 0
    def ws(): Unit = while (i < n && sample.charAt(i).isWhitespace) i += 1
    // parse the quoted string at i (returning its unescaped value), or
    // None if truncated
    def str(): Option[String] = {
      val sb = new StringBuilder
      i += 1 // opening quote (caller checked)
      while (i < n && sample.charAt(i) != '"') {
        if (sample.charAt(i) == '\\' && i + 1 < n) {
          sample.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' if i + 5 < n =>
              sb.append(Integer.parseInt(sample.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case c => sb.append(c); i += 2
          }
        } else { sb.append(sample.charAt(i)); i += 1 }
      }
      if (i >= n) None else { i += 1; Some(sb.toString) }
    }
    // skip the value starting at i; false if the sample ends inside it
    def skipValue(): Boolean = {
      if (i >= n) return false
      sample.charAt(i) match {
        case '"' => str().isDefined
        case '{' | '[' =>
          var depth = 0
          while (i < n) {
            sample.charAt(i) match {
              case '"' => if (str().isEmpty) return false
              case '{' | '[' => depth += 1; i += 1
              case '}' | ']' => depth -= 1; i += 1; if (depth == 0) return true
              case _ => i += 1
            }
          }
          false
        case _ => // number / true / false / null
          while (i < n && !",}]".contains(sample.charAt(i)) &&
            !sample.charAt(i).isWhitespace) i += 1
          i < n
      }
    }
    ws()
    if (i >= n) return (None, false)
    if (sample.charAt(i) != '{') return (None, true) // top-level array/scalar
    i += 1
    while (true) {
      ws()
      if (i >= n) return (None, false)
      if (sample.charAt(i) == '}') return (None, true)
      if (sample.charAt(i) == ',') { i += 1; ws() }
      if (i >= n || sample.charAt(i) != '"') return (None, false)
      val key = str().getOrElse(return (None, false))
      ws()
      if (i >= n || sample.charAt(i) != ':') return (None, false)
      i += 1; ws()
      if (i >= n) return (None, false)
      if (sample.charAt(i) == '[') return (Some(key), true)
      if (!skipValue()) return (None, false)
    }
    (None, false) // unreachable
  }

  /** S6: JSON scan with array-under-key unwrap (reference
    * compare/page.tsx:87-98): top level not an array → first array-valued
    * key becomes the table; array of scalars → single `value` column.
    * "First" is first in DOCUMENT order (JS `Object.keys` insertion
    * order), resolved by a bounded head-probe of the first file — the
    * probe only runs when the inferred schema has two or more
    * array-valued keys, so the common single-array case costs no extra
    * IO. An inconclusive probe (array key past the 8 MB head) falls
    * back to schema order. */
  def readJson(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val arrayFields = raw.schema.fields.filter(_.dataType.isInstanceOf[ArrayType])
    val chosen =
      if (arrayFields.length <= 1) arrayFields.headOption
      else {
        var headBytes = 1 << 16
        var probe = firstArrayKey(readHead(spark, path, headBytes))
        while (!probe._2 && headBytes < (1 << 23)) {
          headBytes <<= 3
          probe = firstArrayKey(readHead(spark, path, headBytes))
        }
        probe._1.flatMap(k => arrayFields.find(_.name == k))
          .orElse(arrayFields.headOption)
      }
    chosen match {
      case Some(f) =>
        val exploded = raw.select(explode(col(s"`${f.name}`")).as("__e"))
        f.dataType.asInstanceOf[ArrayType].elementType match {
          case _: StructType => exploded.select(col("__e.*"))
          case _ => exploded.select(col("__e").as("value"))
        }
      case None => raw
    }
  }
}
