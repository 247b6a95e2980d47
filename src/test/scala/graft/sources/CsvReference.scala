package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The slow form of [[Text.readCsv]], kept as the property-test
  * reference: Spark infers the positional schema itself (one `take(1)`
  * job per call) and the header names come from a second head read,
  * always decoded as UTF-8. */
object CsvReference {
  def readCsv(spark: SparkSession, path: String, delimiter: Option[String] = None,
      encoding: String = "UTF-8"): DataFrame = {
    val d = delimiter.getOrElse(Text.detectDelimiter(Text.readHead(spark, path)))
    val enc = Text.resolveEncoding(spark, path, encoding)
    val builtin = Set("iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le", "utf-32", "utf-8")
    if (!builtin.contains(enc.toLowerCase))
      spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    val raw = spark.read
      .option("header", "true")
      .option("sep", d)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("encoding", enc)
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .csv(path)
    val headerLine = Text.readHead(spark, path, 65536).linesIterator
      .find(_.trim.nonEmpty).getOrElse("")
    val cells = Text.splitLine(headerLine, d.charAt(0))
    val names = raw.columns.indices.map { i =>
      val h = if (i < cells.length) cells(i) else ""
      if (h.isEmpty) s"col${i + 1}" else h
    }
    val keep = names.zipWithIndex.groupBy(_._1).map(_._2.last._2).toSet
    val positional = raw.toDF(raw.columns.indices.map(i => s"__c$i"): _*)
    positional.select(names.zipWithIndex.collect { case (n, i) if keep(i) =>
      coalesce(trim(col(s"__c$i")), lit("")).as(n)
    }: _*)
  }
}
