package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Ad-hoc CSV ingestion with header-hash grouping — the engine-side
 * re-creation of the reference's csvtool flow: drop a directory of
 * arbitrary CSVs, group the files by the MD5 of their header line
 * (reference: csvtool/csv_to_glue_catalog.py:272-276 hash, :369-377
 * grouping), infer one schema per group, and load each group as one
 * DataFrame (reference infers types with an LLM; here Spark's schema inference
 * plays that role — csv_to_glue_catalog.py:147-237).
 *
 * Only header LINES are read on the driver (one small read per file —
 * metadata-scale work, like any catalog listing); row data is loaded
 * distributed via `spark.read.csv` over each group's file list.
 */
object CsvIngest {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** First line of a file (the CSV header). */
  private def headerLine(p: Path): String = {
    val in = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try Option(in.readLine()).getOrElse("") finally in.close()
  }

  /** Group every *.csv under `dir` by md5(header line). */
  def groupByHeader(dir: String): Map[String, Seq[String]] = {
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv"))
      .toSeq.sortBy(_.toString)
    files.groupBy(p => md5hex(headerLine(p))).map {
      case (h, ps) => h -> ps.map(_.toString)
    }
  }

  /** One inferred-schema DataFrame per header group. */
  def loadGroups(spark: SparkSession, dir: String): Map[String, DataFrame] =
    groupByHeader(dir).map { case (h, files) =>
      h -> spark.read
        .option("header", "true").option("inferSchema", "true")
        .csv(files: _*)
    }
}
