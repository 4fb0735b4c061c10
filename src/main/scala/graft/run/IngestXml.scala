package graft.run

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Doc, Span}
import graft.parse.{OcrXmlParser, ParserPool}

/** XML → span-table ingestion job: the engine's analog of the
  * reference's scan + parse front end (ocr_pipeline.py:271-336 +
  * lib/ocr_step.py:365).
  *
  * Reads a directory of ALTO/PAGE XML documents with Spark's
  * `wholetext` text source (distributed, one row per file), parses
  * each payload with a *pooled* StAX parser inside `mapPartitions`
  * (one parser per task, never per row — the north_star physical
  * pattern), and writes the canonical span table
  * `(doc_id, spans array<struct<kind,text,media_ref,offset>>)`.
  *
  * Parse failures become failure rows (`kind='error'` span carrying
  * the message) instead of aborting the job — the engine equivalent
  * of the reference's per-file StepException skip
  * (ocr_pipeline.py:426-431).
  */
object IngestXml {

  val KindError = "error"

  /** Distributed parse of (doc_id, xml) rows into Doc rows. Row-level
    * failures become failure rows and tick the accumulators (the
    * north_rule lineage metrics: docs parsed, spans emitted, parse
    * failures). `vertical` selects y-center word ordering for
    * vertical-text PAGE corpora (lib/ocr_model.py:190-200; the
    * reference plumbs but never enables it — here it is a per-job
    * flag, `SPARK_GRAFT_VERTICAL=1` on the CLI mains). */
  def parseDocs(raw: Dataset[(String, String)],
      vertical: Boolean = false): Dataset[Doc] = {
    val sc = raw.sparkSession.sparkContext
    val docsParsed = sc.longAccumulator("graft.docs_parsed")
    val spansEmitted = sc.longAccumulator("graft.spans_emitted")
    val parseFailures = sc.longAccumulator("graft.parse_failures")
    import raw.sparkSession.implicits._
    raw.mapPartitions { it =>
      val parser = ParserPool.get() // one pooled parser per task
      it.map { case (docId, xml) =>
        try {
          val parsed = parser.parse(xml)
          val spans = OcrXmlParser.toSpans(docId, parsed, vertical)
          docsParsed.add(1)
          spansEmitted.add(spans.length)
          Doc(docId, spans)
        } catch {
          case e: Exception =>
            parseFailures.add(1)
            Doc(docId, Vector(Span(KindError, Option(e.getMessage).getOrElse(""), "", 0)))
        }
      }
    }
  }

  /** Distributed parse of (doc_id, xml) rows into the C9 geometry side
    * table: one row per line with a shape, joinable to the span table
    * on (doc_id, line_ref). Parse failures contribute no rows here —
    * they already surface as failure rows in [[parseDocs]].
    *
    * Scale note: the shapes output is OPT-IN and runs as a second scan
    * over the raw input (two independent sinks need two actions
    * without a cache); a corpus-scale run that wants both should
    * persist the parsed XML or derive geometry in the same job via its
    * own pipeline. */
  def parseShapes(raw: Dataset[(String, String)])
      : Dataset[(String, String, Seq[(Int, Int)])] = {
    import raw.sparkSession.implicits._
    raw.mapPartitions { it =>
      val parser = ParserPool.get()
      it.flatMap { case (docId, xml) =>
        try OcrXmlParser.lineShapes(parser.parse(xml))
          .map { case (ref, corners) => (docId, ref, corners) }
        catch { case _: Exception => Nil }
      }
    }
  }

  /** S1/S2/S3 scan front end: `paths` may name SEVERAL roots
    * (the reference's multi-directory scan, ocr_pipeline.py:58-61);
    * each is read recursively with the extension predicate (F1). */
  def readRaw(spark: SparkSession, paths: Seq[String]): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read
      .option("wholetext", "true")
      // S2: recursive subtree scan (ocr_pipeline.py:312-319); the
      // marker gate maps to ExtractMain's pending-partition filter
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.xml")
      .text(paths: _*)
      .select(
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.input_file_name(), "([^/]+)\\.xml$", 1)
          .as("doc_id"),
        org.apache.spark.sql.functions.col("value").as("xml"))
      .as[(String, String)]
  }

  def main(args: Array[String]): Unit = {
    val Array(inDirs, outPath) = args.take(2)
    val shapesPath = if (args.length > 2) Some(args(2)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest-xml")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    // S3: comma-separated multi-directory scan
    val raw = readRaw(spark, inDirs.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty))

    val docs = parseDocs(raw,
      vertical = sys.env.get("SPARK_GRAFT_VERTICAL").contains("1"))
    docs.write.mode("overwrite").parquet(outPath)
    shapesPath.foreach { sp =>
      parseShapes(raw).toDF("doc_id", "line_ref", "corners")
        .write.mode("overwrite").parquet(sp)
    }

    val summary = docs
      .map(d => (d.doc_id, d.spans.length,
        d.spans.count(_.kind == Span.KindText),
        d.spans.count(_.kind == KindError)))
      .toDF("doc_id", "n_spans", "n_text", "n_err")
      .orderBy("doc_id")
    summary.show(100, truncate = false)
    spark.stop()
  }
}
