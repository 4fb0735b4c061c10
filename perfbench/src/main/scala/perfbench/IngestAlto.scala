package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen
import graft.model.{Doc, Span}
import graft.parse.AltoWriter
import graft.run.IngestXml

/** `ingest-alto`: `IngestXml.readRaw` → `parseDocs` → span-table parquet
  * over a directory of ALTO v3 files rendered from a seeded
  * "interleaved" corpus. */
final class IngestAlto(spark: SparkSession, tr: Tracer, work: Path,
    seed: Long, nDocs: Long) extends Workload(spark, tr, work) {
  import spark.implicits._
  import IngestAlto._

  private val input = work.resolve("inputs").resolve(s"ingest-alto-seed$seed-n$nDocs")
  private val xmlDir = input.resolve("xml")
  private var want: DataFrame = _

  def units: Long = nDocs

  def layers: Seq[(String, String)] = Layers

  def prepare(): Unit = tr.span("prepare") {
    val (s, n, dir) = (seed, nDocs, xmlDir.toString)
    if (!Files.exists(input.resolve("_READY"))) {
      Workload.deleteTree(input)
      Files.createDirectories(xmlDir)
      spark.sparkContext.range(0L, n, 1L, 16).foreachPartition { it =>
        it.foreach { i =>
          val d = CorpusGen.genDoc(i, Profile, s, 0)
          Files.write(Path.of(dir, d.doc_id + ".xml"), AltoWriter.render(d))
        }
      }
      Files.createFile(input.resolve("_READY"))
    }
    want = spark.range(n).map { i =>
      val d = CorpusGen.genDoc(i, Profile, s, 0)
      (d.doc_id, spanHash(d.spans))
    }.toDF("doc_id", "want").cache()
    require(want.count() == nDocs)
  }

  private def raw() = IngestXml.readRaw(spark, Seq(xmlDir.toString))

  def plain(k: Int): Iter = {
    val out = outDir(k)
    val (wall, id, oldGen) = timed {
      IngestXml.parseDocs(raw()).write.mode("overwrite").parquet(out.toString)
    }
    Iter(wall, id, oldGen, check(out))
  }

  /** The same sequence as [[plain]], split into the listing and reading
    * of the files, the parse, and the write. Each later span re-runs the
    * layers before it, so its self time is its span minus theirs. */
  def layered(k: Int): Iter = {
    val out = outDir(k)
    val files = Observation("files")
    val spans = Observation("spans")
    val (wall, id, oldGen) = timed {
      tr.span("run.read_raw")(Workload.noop(raw().observe(files, count(lit(1)).as("n")).toDF()))
      tr.span("parse")(Workload.noop(IngestXml.parseDocs(raw()).toDF()))
      tr.span("run.write") {
        IngestXml.parseDocs(raw())
          .observe(spans, coalesce(sum(size(col("spans"))), lit(0L)).as("spans"),
            count(when(exists(col("spans"), s => s.getField("kind") === IngestXml.KindError), 1))
              .as("errors"))
          .write.mode("overwrite").parquet(out.toString)
      }
    }
    val s = (name: String) => tr.childSeconds(id, name)
    val readSpan = tr.children(id).find(_.name == "run.read_raw").get
    val layers = Map(
      "run.read_raw_s" -> s("run.read_raw"),
      "run.files" -> files.get("n").asInstanceOf[Long].toDouble,
      "run.bytes_in" -> tr.tasks(readSpan.id).inputBytes.toDouble,
      "parse.self_s" -> (s("parse") - s("run.read_raw")),
      "parse.spans_out" -> spans.get("spans").asInstanceOf[Long].toDouble,
      "parse.error_docs" -> spans.get("errors").asInstanceOf[Long].toDouble,
      "run.write_self_s" -> (s("run.write") - s("parse")))
    Iter(wall, id, oldGen, check(out), layers)
  }

  /** Documents whose parsed spans differ from the document the file was
    * rendered from, or that carry an error span. Deletes the output. */
  private def check(out: Path): Long = tr.span("check") {
    val got = spark.read.parquet(out.toString).as[Doc].map { d =>
      (d.doc_id, if (d.spans.exists(_.kind == IngestXml.KindError)) 0L else spanHash(d.spans))
    }.toDF("doc_id", "got")
    val bad = Workload.mismatches(want, got)
    Workload.deleteTree(out)
    math.min(bad, nDocs)
  }
}

object IngestAlto {
  val Profile = "interleaved"

  val Layers: Seq[(String, String)] = Seq(
    "run.read_raw_s" -> "s", "run.files" -> "count", "run.bytes_in" -> "B",
    "parse.self_s" -> "s", "parse.spans_out" -> "count", "parse.error_docs" -> "count",
    "run.write_self_s" -> "s")

  /** Hash of a span sequence under the ALTO round-trip contract:
    * (kind, text, media_ref) in offset order; offsets themselves are
    * re-numbered by the parser and are not compared. */
  def spanHash(spans: Seq[Span]): Long = {
    val sb = new StringBuilder
    spans.sortBy(_.offset).foreach { s =>
      sb ++= s.kind += '\u0002' ++= String.valueOf(s.text) += '\u0002' ++=
        String.valueOf(s.media_ref) += '\u0003'
    }
    Workload.hash64(sb.toString)
  }
}
