package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen
import graft.io.{Checkpoint, SnapshotStore}
import graft.model.{Doc, EstimationReport, Span}
import graft.run.ExtractMain
import graft.stages.{ExtractConfig, Extraction, ProcessedDoc}
import graft.text.TextRules

/** `extract-skewed`: `ExtractMain.run` over a span table of seeded
  * "skewed" documents, about 1 in 1000 of them a mega-document. */
final class ExtractSkewed(spark: SparkSession, tr: Tracer, work: Path, log: java.io.PrintStream,
    seed: Long, nDocs: Long) extends Workload(spark, tr, work) {
  import spark.implicits._
  import ExtractSkewed._

  private val cfg = ExtractConfig()
  private val input = work.resolve("inputs").resolve(s"extract-skewed-seed$seed-n$nDocs")
  private val inPath = input.resolve("spans.parquet").toString
  private var want: DataFrame = _

  def units: Long = nDocs

  def layers: Seq[(String, String)] = Layers

  def prepare(): Unit = tr.span("prepare") {
    if (!Files.exists(input.resolve("_READY"))) {
      Workload.deleteTree(input)
      CorpusGen.docs(spark, nDocs, "skewed", seed, MegaSpans)
        .write.mode(SaveMode.Overwrite).parquet(inPath)
      Files.createFile(input.resolve("_READY"))
    }
    val c = cfg
    want = spark.read.parquet(inPath).as[Doc]
      .map(d => (d.doc_id, rowHash(model(d, c))))
      .toDF("doc_id", "want").cache()
    require(want.count() == nDocs, s"input holds ${want.count()} docs, expected $nDocs")
  }

  def plain(k: Int): Iter = {
    val out = outDir(k)
    val (wall, id, oldGen) = timed {
      Workload.quiet(log)(ExtractMain.run(spark, inPath, out.toString, NParts, backup = false, cfg))
    }
    Iter(wall, id, oldGen, check(out))
  }

  /** Rows all scans of one run read per input document: each of the 8
    * partition jobs scans the whole input, and the report re-reads the
    * output. Counted in rows because Spark's parquet reader does not
    * count all the bytes it reads in the task metrics. */
  override def plainLayers(t: TaskAgg): Map[String, Double] =
    Map("io.scan_amplification" -> t.inputRecords.toDouble / nDocs)

  /** The call sequence of `ExtractMain.run` for a fresh output root, one
    * span per layer call. The scan and the pipeline are each also forced
    * on their own, so the self time of a layer is its span minus the
    * span of the layer it reads from. */
  def layered(k: Int): Iter = {
    val out = outDir(k).toString
    var (spansIn, spansOut, unestimated) = (0L, 0L, 0L)
    val (wall, id, oldGen) = timed {
      val ckpt = new Checkpoint(spark, out)
      val snap = new SnapshotStore(spark, out)
      val docs = spark.read.parquet(inPath)
        .withColumn("part", pmod(xxhash64(col("doc_id")), lit(NParts)).cast("int"))
      (0 until NParts).foreach { p =>
        val slice = docs.filter(col("part") === p).drop("part")
        tr.span("stages.scan")(Workload.noop(slice))
        tr.span("sql.process")(Workload.noop(Extraction.pipeline(slice, cfg).toDF()))
        val in = org.apache.spark.sql.Observation("spans_in")
        val attempt = snap.newDataPath(p)
        val (outDf, obs) = Extraction.observed(Extraction.pipeline(
          slice.observe(in, coalesce(sum(size(col("spans"))), lit(0L)).as("n")), cfg))
        tr.span("io.write")(outDf.write.mode(SaveMode.Overwrite).parquet(attempt))
        val m = obs.get
        val (nd, ns, nu) = (m("docs_parsed").asInstanceOf[Long],
          m("spans_emitted").asInstanceOf[Long], m("docs_unestimated").asInstanceOf[Long])
        tr.span("io.commit") {
          ckpt.commit(p, nd, ns, nu)
          snap.commit(p, attempt, nd, ns, nu)
        }
        spansIn += in.get("n").asInstanceOf[Long]
        spansOut += ns
        unestimated += nu
      }
      val all = snap.read().as[ProcessedDoc]
      val rep = tr.span("stages.report")(Extraction.writeReport(all, s"$out/report"))
      tr.span("stages.wtr")(Extraction.writeWtr(all, s"$out/report/corpus.wtr", precomputed = Some(rep)))
      tr.span("stages.replstats")(Extraction.corpusReplStats(all).collect())
    }
    val s = (name: String) => tr.childSeconds(id, name)
    val layers = Map(
      "stages.scan_s" -> s("stages.scan"),
      "sql.process_self_s" -> (s("sql.process") - s("stages.scan")),
      "sql.spans_in" -> spansIn.toDouble,
      "sql.spans_out" -> spansOut.toDouble,
      "sql.docs_unestimated" -> unestimated.toDouble,
      "io.write_self_s" -> (s("io.write") - s("sql.process")),
      "io.commit_s" -> s("io.commit"),
      "io.commits" -> tr.children(id).count(_.name == "io.commit").toDouble,
      "stages.report_s" -> s("stages.report"),
      "stages.wtr_s" -> s("stages.wtr"),
      "stages.replstats_s" -> s("stages.replstats"))
    Iter(wall, id, oldGen, check(outDir(k)), layers)
  }

  /** Documents of one iteration that fail the output check; the whole
    * input when the manifest or the report miscounts it. Deletes the
    * output root afterwards. */
  private def check(out: Path): Long = tr.span("check") {
    val snap = new SnapshotStore(spark, out.toString)
    val manifestDocs = snap.entries().values.map(_.nDocs).sum
    val reportTotal = spark.read.parquet(s"$out/report/summary")
      .as[EstimationReport].head().n_total
    val got = snap.read().as[ProcessedDoc].map(d => (d.doc_id, rowHash(d))).toDF("doc_id", "got")
    val bad = Workload.mismatches(want, got)
    Workload.deleteTree(out)
    if (manifestDocs != nDocs || reportTotal != nDocs) nDocs else math.min(bad, nDocs)
  }
}

object ExtractSkewed {
  val NParts = 8
  /** CorpusGen's line budget for a mega-document: about 28k spans. */
  val MegaSpans = 50000

  val Layers: Seq[(String, String)] = Seq(
    "stages.scan_s" -> "s", "sql.process_self_s" -> "s", "sql.spans_in" -> "count",
    "sql.spans_out" -> "count", "sql.docs_unestimated" -> "count", "io.write_self_s" -> "s",
    "io.commit_s" -> "s", "io.commits" -> "count", "io.scan_amplification" -> "ratio",
    "stages.report_s" -> "s", "stages.wtr_s" -> "s", "stages.replstats_s" -> "s")

  /** The expected output row of one input document, built in plain Scala
    * from the engine's text rules and per-document estimator: replace
    * characters in text spans, drop text spans left blank, sort stably by
    * offset, estimate, and count replacements over the raw spans. */
  def model(d: Doc, cfg: ExtractConfig): ProcessedDoc = {
    val cleaned = d.spans.flatMap { s =>
      if (s.kind != Span.KindText) Some(s)
      else {
        val t = TextRules.replaceChars(s.text, cfg.replaceDict)._1
        if (t.trim.isEmpty) None else Some(s.copy(text = t))
      }
    }.sortBy(_.offset)
    Extraction.estimateDoc(Doc(d.doc_id, cleaned), cfg)
      .copy(repl_stats = Extraction.replStatsOf(d.spans, cfg))
  }

  /** Hash of every field of an output row; the stats map in key order. */
  def rowHash(p: ProcessedDoc): Long = {
    val sb = new StringBuilder
    sb ++= p.doc_id += '\u0001'
    p.spans.foreach { s =>
      sb ++= s.kind += '\u0002' ++= String.valueOf(s.text) += '\u0002' ++=
        String.valueOf(s.media_ref) += '\u0002' ++= s.offset.toString += '\u0003'
    }
    Seq(p.page_id, p.file_identifier, p.file_name,
      java.lang.Double.doubleToLongBits(p.hit_ratio), p.n_words, p.n_errs,
      p.n_lines_in, p.n_wraps, p.n_shorts, p.n_lines_out).foreach(v => sb += '\u0001' ++= v.toString)
    p.repl_stats.toSeq.sorted.foreach { case (key, n) => sb += '\u0001' ++= key += '=' ++= n.toString }
    Workload.hash64(sb.toString)
  }
}
