package graft

import java.nio.file.{Files, Paths}

import graft.model.{Doc, Span}
import graft.parse.OcrXmlParser
import graft.stages.{ExtractConfig, Extraction, RegexRule}

/** The custom-Expression hot path must be row-for-row identical to the
  * pure-Scala model `Extraction.model` — on the real fixtures and on all
  * generator profiles (including edge cases). */
class ProcessSpansSpec extends SparkSpecBase {

  private def equivalent(docs: Seq[Doc], cfg: ExtractConfig): Unit = {
    import spark.implicits._
    val df = docs.toDF()
    val fast = Extraction.pipeline(df, cfg).collect()
      .map(p => p.doc_id -> p).toMap
    val ref = docs.map(d => Extraction.model(d, cfg))
    assert(ref.length == fast.size)
    ref.foreach { r =>
      val f = fast(r.doc_id)
      assert(f.spans == r.spans, s"spans of ${r.doc_id}")
      assert((f.hit_ratio, f.n_words, f.n_errs, f.n_lines_in, f.n_wraps,
        f.n_shorts, f.n_lines_out) ==
        ((r.hit_ratio, r.n_words, r.n_errs, r.n_lines_in, r.n_wraps,
          r.n_shorts, r.n_lines_out)), s"estimation of ${r.doc_id}")
      assert(f.repl_stats == r.repl_stats, s"repl stats of ${r.doc_id}")
      assert((f.page_id, f.file_identifier, f.file_name) == ((r.page_id, r.file_identifier, r.file_name)))
    }
  }

  test("expression path == pure model on generated profiles") {
    val generated = (0L until 120L).map { i =>
      val profile = Seq("uniform", "interleaved", "skewed", "edge")((i % 4).toInt)
      graft.gen.CorpusGen.genDoc(i, profile, 7L, 2000)
    }
    // the blank rule is String.trim (every char <= U+0020), not Spark's
    // trim (U+0020 only): the whitespace-only text spans go, the media
    // span and the padded "a" stay as they are. A null text is blank
    // on a text span (dropped) and passes untouched on a media span.
    val whitespace = Doc("ws", Seq(
      Span(Span.KindText, "\t", "line://b0/l0", 0),
      Span(Span.KindText, "\n", "line://b0/l0", 1),
      Span(Span.KindText, "   ", "line://b0/l1", 2),
      Span(Span.KindText, "", "line://b0/l1", 3),
      Span(Span.KindText, " a\t", "line://b0/l2", 4),
      Span(Span.KindMedia, "\t", "media://ws/0", 5),
      Span(Span.KindText, null, "line://b0/l3", 6),
      Span(Span.KindMedia, null, "media://ws/1", 7)))
    val docs = generated :+ whitespace
    equivalent(docs, ExtractConfig())
    equivalent(docs, ExtractConfig(
      regexRule = Some(RegexRule("([aeioubcglnt]3[:-]*\")", "3", "s")),
      pagePrefix = ""))
  }

  test("RTL reorder configs run the expression hot path and match the pure model") {
    val resDir = Paths.get("/root/reference/tests/resources")
    assume(Files.isReadable(resDir.resolve("Lubab_alAlbab.pdf_000003.xml")))
    val parser = new OcrXmlParser
    val xml = new String(Files.readAllBytes(
      resDir.resolve("Lubab_alAlbab.pdf_000003.xml")),
      java.nio.charset.StandardCharsets.UTF_8)
    val arabic = Doc("Lubab_alAlbab.pdf_000003",
      OcrXmlParser.toSpans("Lubab_alAlbab.pdf_000003", parser.parse(xml)))
    val generated = (0L until 40L).map(i =>
      graft.gen.CorpusGen.genDoc(i, "interleaved", 11L, 1500))
    val cfg = ExtractConfig(reorderRtl = true)
    equivalent(arabic +: generated, cfg)
    // the hot path must actually be taken: the analyzed plan contains
    // the custom expression (the EXECUTED plan of a local Seq is
    // pre-evaluated by ConvertToLocalRelation)
    import spark.implicits._
    val plan = Extraction.pipeline(Seq(arabic).toDF(), cfg)
      .queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("processspans"),
      s"RTL config fell off the expression path:\n$plan")
  }

  test("negative offsets sort in signed order (stable)") {
    import spark.implicits._
    val doc = Doc("neg", Seq(
      Span("text", "c", "line://b/l0", 1),
      Span("text", "a", "line://b/l0", -2),
      Span("text", "b", "line://b/l0", -1),
      Span("text", "z", "line://b/l0", 0)))
    val out = Extraction.pipeline(Seq(doc).toDF(), ExtractConfig()).collect().head
    assert(out.spans.map(_.text) == Seq("a", "b", "z", "c"))
  }

  test("expression path == pure model on reference fixtures") {
    val resDir = Paths.get("/root/reference/tests/resources")
    assume(Files.isReadable(resDir.resolve("500_gray00003.xml")))
    val parser = new OcrXmlParser
    val docs = Seq("500_gray00003.xml", "16331001.xml", "16331011.xml",
      "0041.xml", "1667524704_J_0173_0173.xml").map { name =>
      val xml = new String(Files.readAllBytes(resDir.resolve(name)),
        java.nio.charset.StandardCharsets.UTF_8)
      Doc(name.stripSuffix(".xml"),
        OcrXmlParser.toSpans(name.stripSuffix(".xml"), parser.parse(xml)))
    }
    equivalent(docs, ExtractConfig(replaceDict = graft.text.TextRules.FixtureReplaceDict))
  }
}
