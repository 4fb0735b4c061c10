package graft.stages

import java.util.regex.Pattern

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Doc, Estimation, EstimationReport, Line, Span}
import graft.sql.SpanOps
import graft.text.TextRules

/** One regex replacement rule (C2, lib/ocr_step.py:273-292). */
final case class RegexRule(pattern: String, old: String, nw: String) {
  @transient lazy val compiled: Pattern = Pattern.compile(pattern)
}

/** Configuration of the extraction pipeline — the engine twin of the
  * reference's ordered `step_NN` ini sections (ocr_pipeline.py:101-118).
  */
final case class ExtractConfig(
    replaceDict: Seq[(String, String)] = TextRules.DefaultReplaceDict,
    regexRule: Option[RegexRule] = None,
    minLineLen: Int = 2,   // get_lines min_len (lib/ocr_model.py:203)
    denseMinLen: Int = 2,  // textlines2data minlen (lib/ocr_step.py:449)
    reorderRtl: Boolean = false,
    pagePrefix: String = "p") // StepPostprocessALTO page_prefix (lib/ocr_step.py:552)

/** A document row after the full stage chain: cleaned spans plus the
  * per-document estimation record and the replacement statistics
  * (A1/A2, lib/ocr_step.py:255-268 — keys that occurred mapped to
  * their per-span hit counts; regex stats keyed `match=>replacement`).
  */
final case class ProcessedDoc(
    doc_id: String,
    spans: Seq[Span],
    page_id: String,
    file_identifier: String,
    file_name: String,
    hit_ratio: Double,
    n_words: Int,
    n_errs: Int,
    n_lines_in: Int,
    n_wraps: Int,
    n_shorts: Int,
    n_lines_out: Int,
    repl_stats: Map[String, Int] = Map.empty)

/** The extraction pipeline: the reference's per-document step chain
  * (ocr_pipeline.py:379-441 with conf/ocr_config.ini:15-37) over a
  * span table, plus its pure-Scala model and the corpus report sinks.
  *
  * Execution shape (100 TB story): the whole per-document chain is ONE
  * custom Catalyst expression ([[graft.sql.ProcessSpans]]) inside a
  * single whole-stage-codegen projection — there is NO shuffle
  * anywhere in the chain. The only shuffle in the whole job is the
  * final tiny corpus aggregate. A 10^5-span mega-doc is one row of
  * one task; nothing in the chain groups documents together.
  * [[model]] is the independent plain-Scala statement of the same
  * chain that the tests check the expression against.
  */
object Extraction {

  /** Default row cap for the driver-streamed [[writeWtr]] compat sink
    * (~10M lines ≈ a few hundred MB of text — the most one driver
    * writer should ever be asked to stream). */
  val WtrMaxRows: Long = 10L * 1000 * 1000

  /** Group consecutive cleaned text spans into lines by their
    * `line://` parent ref, preserving order — the engine's `get_lines`
    * (lib/ocr_model.py:203-214). Media/error spans are skipped. */
  def toLines(spans: Seq[Span], minLineLen: Int, reorder: Boolean): Vector[Line] = {
    val lines = Vector.newBuilder[Line]
    var curKey: String = null
    var started = false // a null line key still forms a group (the
    // ProcessSpans codegen twin groups null keys too — using null as
    // the 'no group yet' sentinel here silently dropped those spans)
    var curWords = Vector.newBuilder[String]
    def flush(): Unit = if (started) {
      val words = curWords.result()
      if (words.mkString(" ").length >= minLineLen)
        lines += Line(curKey, words, reorder)
    }
    spans.foreach { s =>
      if (s.kind == Span.KindText) {
        val key = Span.lineKey(s.media_ref)
        if (!started || key != curKey) {
          flush(); curKey = key; curWords = Vector.newBuilder[String]; started = true
        }
        curWords += s.text
      }
    }
    flush()
    lines.result()
  }

  /** Per-document estimation (StepEstimateOCR, lib/ocr_step.py:337-424):
    * line model → wrap merge → sanitize → dense filter → word/error
    * counts → hit ratio. `errorOracle` is the deterministic stand-in
    * for the LanguageTool service (E2): word string → raw error count.
    */
  def estimateDoc(doc: Doc, cfg: ExtractConfig,
      errorOracle: String => Int = TextRules.countErrors): ProcessedDoc = {
    val lines = toLines(doc.spans, cfg.minLineLen, cfg.reorderRtl)
    var ratio = Estimation.MissingRatio
    var nWords = 0; var nErrs = 0
    var nIn = 0; var nWraps = 0; var nShorts = 0; var nOut = 0
    if (lines.nonEmpty) {
      val (wordString, in, wraps, shorts, out) =
        TextRules.textlinesToData(lines.map(_.content), cfg.denseMinLen)
      if (wordString.nonEmpty) {
        nIn = in; nWraps = wraps; nShorts = shorts; nOut = out
        nWords = TextRules.splitWs(wordString).length
        val (r, e) = TextRules.hitRatio(nWords, errorOracle(wordString))
        ratio = r; nErrs = e
      }
    }
    // X4 metadata enrichment (lib/ocr_step.py:539-549): identifier =
    // id up to the first dot (split_path semantics), name = full id
    // substring_index semantics, matching the codegen twin exactly:
    // split("\\.")(0) drops trailing empties and would throw on a
    // doc_id of only dots where the twin returns ""
    val fileId = {
      val dot = doc.doc_id.indexOf('.')
      if (dot < 0) doc.doc_id else doc.doc_id.substring(0, dot)
    }
    ProcessedDoc(doc.doc_id, doc.spans, cfg.pagePrefix + fileId,
      fileId, doc.doc_id, ratio, nWords, nErrs, nIn, nWraps, nShorts, nOut)
  }

  /** A1/A2 replacement statistics of one document's raw spans — the
    * pure twin of the stats the ProcessSpans expression computes
    * inline (lib/ocr_step.py:255-268; each key counts once per span
    * in which it occurred, regex keys are `match=>replacement`). */
  def replStatsOf(spans: Seq[Span], cfg: ExtractConfig): Map[String, Int] = {
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    spans.foreach { s =>
      if (s.kind == Span.KindText) {
        val (t1, hits) = TextRules.replaceChars(s.text, cfg.replaceDict)
        hits.foreach(k => stats.update(k, stats.getOrElse(k, 0) + 1))
        cfg.regexRule.foreach { r =>
          val (_, stat) = TextRules.regexGroupReplace(t1, r.compiled, r.old, r.nw)
          stat.foreach(k => stats.update(k, stats.getOrElse(k, 0) + 1))
        }
      }
    }
    stats.toMap
  }

  /** Span clean-up of one document, the pure model of the chain
    * [[graft.sql.ProcessSpans]] runs inline: on text spans C1 char
    * replace → C2 regex replace, then drop text spans whose text is
    * blank by `String.trim` (F6, lib/ocr_step.py:581-602), then a
    * stable re-sort by offset (S8). Media spans pass untouched. */
  def cleanSpans(spans: Seq[Span], cfg: ExtractConfig): Seq[Span] =
    spans.flatMap { s =>
      if (s.kind != Span.KindText) Some(s)
      else {
        val t1 = TextRules.replaceChars(s.text, cfg.replaceDict)._1
        val t2 = cfg.regexRule.fold(t1)(r =>
          TextRules.regexGroupReplace(t1, r.compiled, r.old, r.nw)._1)
        if (t2.trim.isEmpty) None else Some(s.copy(text = t2))
      }
    }.sortBy(_.offset)

  /** The pure model of [[pipeline]] for one document: estimation over
    * the cleaned spans, replacement statistics over the raw ones. */
  def model(doc: Doc, cfg: ExtractConfig): ProcessedDoc =
    estimateDoc(Doc(doc.doc_id, cleanSpans(doc.spans, cfg)), cfg)
      .copy(repl_stats = replStatsOf(doc.spans, cfg))

  /** Full pipeline over a span table. Input: DataFrame with columns
    * (doc_id, spans). Output: Dataset[ProcessedDoc], plus the input
    * columns named in `carry`, passed through unchanged after the
    * ProcessedDoc fields (visible in `toDF()`, e.g. as a write's
    * partition column).
    *
    * Hot path: ONE custom Catalyst expression ([[graft.sql.ProcessSpans]])
    * does the whole per-doc chain over raw ArrayData — no interpreted
    * HOF chain, no encoder round-trip. RTL-reorder configs (W2) run on
    * the same path via `ProcessConfig.reorderRtl`. */
  def pipeline(docs: DataFrame, cfg: ExtractConfig = ExtractConfig(),
      carry: Seq[String] = Nil): Dataset[ProcessedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pcfg = graft.sql.ProcessConfig(
      cfg.replaceDict,
      cfg.regexRule.map(r => (r.pattern, r.old, r.nw)),
      cfg.minLineLen, cfg.denseMinLen, cfg.reorderRtl)
    val carried = carry.map(col)
    docs
      .select(Seq(col("doc_id"),
        graft.sql.ProcessSpans.process(col("spans"), pcfg).as("p")) ++ carried: _*)
      .select(Seq(col("doc_id"), col("p.spans").as("spans"),
        concat(lit(cfg.pagePrefix), substring_index(col("doc_id"), ".", 1)).as("page_id"),
        substring_index(col("doc_id"), ".", 1).as("file_identifier"),
        col("doc_id").as("file_name"),
        col("p.hit_ratio"), col("p.n_words"), col("p.n_errs"),
        col("p.n_lines_in"), col("p.n_wraps"), col("p.n_shorts"),
        col("p.n_lines_out"), col("p.repl_stats")) ++ carried: _*)
      .as[ProcessedDoc]
  }

  /** Corpus-level replacement statistics (the reference logs these per
    * file at ocr_pipeline.py:402-411; here one tiny aggregate over the
    * per-doc maps): key → total hits, descending. */
  def corpusReplStats(processed: Dataset[ProcessedDoc]): DataFrame =
    processed.select(explode(col("repl_stats")).as(Seq("key", "hits")))
      .groupBy(col("key"))
      .agg(sum(col("hits")).as("n"))
      .orderBy(desc("n"), col("key"))

  /** Attach observability metrics (E4 / north_rule "accumulator
    * metrics": docs parsed, spans emitted, parse failures) to a
    * processed stream without a second pass — read them from the
    * returned Observation after the action. */
  def observed(processed: Dataset[ProcessedDoc], name: String = "graft_metrics")
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val m = lineageMetrics(lit(true), "")
    val df = processed.toDF().observe(obs, m.head, m.tail: _*)
    (df, obs)
  }

  /** [[observed]] split by the int column `part` of a `carry`-ing
    * [[pipeline]]: per part `p` of `parts`, the metrics
    * `docs_parsed_p`, `spans_emitted_p` and `docs_unestimated_p` —
    * conditional aggregates of one Observation, so one write job
    * yields every part's lineage, exact under task retry (Observation
    * merges only successful task attempts, unlike accumulators). Read
    * them with [[partLineage]]. */
  def observedByPart(processed: Dataset[ProcessedDoc], parts: Seq[Int],
      name: String = "graft_part_metrics"): (DataFrame, org.apache.spark.sql.Observation) = {
    require(parts.nonEmpty, "no parts to observe")
    val obs = org.apache.spark.sql.Observation(name)
    val m = parts.flatMap(p => lineageMetrics(col("part") === p, s"_$p"))
    val df = processed.toDF().observe(obs, m.head, m.tail: _*)
    (df, obs)
  }

  /** Part `p`'s (docs parsed, spans emitted, docs unestimated) from a
    * completed [[observedByPart]] Observation. */
  def partLineage(obs: org.apache.spark.sql.Observation, p: Int): (Long, Long, Long) = {
    val m = obs.get
    (m(s"docs_parsed_$p").asInstanceOf[Long], m(s"spans_emitted_$p").asInstanceOf[Long],
      m(s"docs_unestimated_$p").asInstanceOf[Long])
  }

  private def lineageMetrics(keep: Column, suffix: String): Seq[Column] = Seq(
    count(when(keep, 1)).as(s"docs_parsed$suffix"),
    coalesce(sum(when(keep, size(col("spans")))), lit(0L)).as(s"spans_emitted$suffix"),
    count(when(keep && col("hit_ratio") === Estimation.MissingRatio, 1))
      .as(s"docs_unestimated$suffix"))

  /** S11 — estimation report sink, the `.wtr` analog
    * (ocr_pipeline.py:233-269): one header row (mean + five bins +
    * totals) plus the per-doc detail sorted ascending by ratio. */
  def writeReport(processed: Dataset[ProcessedDoc], outDir: String): EstimationReport = {
    val spark = processed.sparkSession
    import spark.implicits._
    val rep = report(processed)
    Seq(rep).toDS().coalesce(1).write.mode("overwrite").parquet(s"$outDir/summary")
    processed
      .filter($"hit_ratio" =!= Estimation.MissingRatio)
      .select($"doc_id", $"hit_ratio", $"n_words", $"n_errs",
        $"n_lines_in", $"n_wraps", $"n_shorts", $"n_lines_out")
      // global sort → range-partitioned ordered files; no coalesce(1):
      // the detail is O(#docs) and must stay distributed at corpus scale
      .orderBy($"hit_ratio", $"doc_id")
      .write.mode("overwrite").option("header", "true").csv(s"$outDir/detail")
    rep
  }

  /** Python `str(float)` for the domain of 3-dp-rounded ratios in
    * [0, 100]: both CPython's repr and `java.lang.Double.toString`
    * print the shortest decimal that round-trips, and they agree on
    * this range (divergences are exponent-notation corner cases
    * outside it). */
  private def pyFloatStr(x: Double): String = java.lang.Double.toString(x)

  /** Python `f"{x:.3f}"`: fixed 3 decimals, correctly rounded
    * (half-even on the exact binary value — Java's `%.3f` rounds
    * HALF_UP and can differ on formatting ties). */
  private def py3f(x: Double): String =
    new java.math.BigDecimal(x)
      .setScale(3, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** S11 — the exact `.wtr` byte layout (ocr_pipeline.py:233-269):
    * one header line `mean,b1,b2,b3,b4,b5,n_total,n_invalid`, then the
    * VALID per-doc rows `file_name,ratio(.3f),n_words,n_errs,
    * n_lines_in,n_wraps,n_shorts,n_lines_out` ascending by ratio, then
    * one blank line. Single UTF-8 file for downstream `.wtr` parsers —
    * a per-partition/compatibility sink streamed through the driver
    * (O(#docs in this partition)); the corpus-scale distributed report
    * sink remains [[writeReport]]. Divergence noted: the reference's
    * `sorted()` is stable on arrival order for equal ratios; arrival
    * order is undefined in a distributed engine, so ties break on
    * file_name. */
  def writeWtr(processed: Dataset[ProcessedDoc], path: String,
      precomputed: Option[EstimationReport] = None,
      maxRows: Long = WtrMaxRows): EstimationReport = {
    // callers that just ran writeReport pass its result — recomputing
    // here would run the corpus-wide aggregate a second time
    val rep = precomputed.getOrElse(report(processed))
    // this sink streams every row through ONE driver writer — fine for
    // the per-partition/compat use it exists for, corpus-suicide at
    // 10^12 docs. Fail fast (before opening the file) instead of
    // grinding: the distributed report sink is writeReport.
    if (rep.n_total > maxRows)
      throw new IllegalArgumentException(
        s"writeWtr is a driver-streamed per-partition sink; refusing " +
          s"${rep.n_total} rows (cap $maxRows). Use writeReport for " +
          "corpus-scale output, or raise maxRows explicitly.")
    val spark = processed.sparkSession
    import spark.implicits._
    val rows = processed
      .filter($"hit_ratio" =!= Estimation.MissingRatio)
      .select($"file_name", $"hit_ratio", $"n_words", $"n_errs",
        $"n_lines_in", $"n_wraps", $"n_shorts", $"n_lines_out")
      .as[(String, Double, Int, Int, Int, Int, Int, Int)]
      .orderBy($"hit_ratio", $"file_name")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
      w.write(s"${pyFloatStr(rep.mean)},${rep.b1},${rep.b2},${rep.b3}," +
        s"${rep.b4},${rep.b5},${rep.n_total},${rep.n_invalid}\n")
      rows.toLocalIterator().forEachRemaining { r =>
        w.write(s"${r._1},${py3f(r._2)},${r._3},${r._4},${r._5},${r._6},${r._7},${r._8}\n")
      }
      w.write("\n")
      w.flush()
    } finally out.close()
    rep
  }

  /** Corpus-level estimation report (ocr_pipeline.py:233-269 +
    * StepEstimateOCR.analyze lib/ocr_step.py:426-446): mean of valid
    * hit ratios (Python-rounded), five 15-point bins, valid/invalid
    * split. One tiny aggregate — the only shuffle of the job. */
  def report(processed: Dataset[ProcessedDoc]): EstimationReport = {
    val spark = processed.sparkSession
    import spark.implicits._
    // decimal sum: exact and associative, so the mean is independent of
    // partition/merge order (a plain double sum could drift an ulp vs
    // the reference's sequential Python sum on adversarial ratios)
    val agg = processed
      .select($"hit_ratio")
      .agg(
        sum(when($"hit_ratio" =!= Estimation.MissingRatio,
          $"hit_ratio".cast("decimal(28,10)"))).as("s"),
        count(when($"hit_ratio" =!= Estimation.MissingRatio, lit(1))).as("nv"),
        count(when($"hit_ratio" === Estimation.MissingRatio, lit(1))).as("ni"),
        count(lit(1)).as("n"),
        count(when(SpanOps.binId($"hit_ratio") === 0 && $"hit_ratio" =!= -1, 1)).as("b1"),
        count(when(SpanOps.binId($"hit_ratio") === 1, 1)).as("b2"),
        count(when(SpanOps.binId($"hit_ratio") === 2, 1)).as("b3"),
        count(when(SpanOps.binId($"hit_ratio") === 3, 1)).as("b4"),
        count(when(SpanOps.binId($"hit_ratio") >= 4, 1)).as("b5"))
      .head()
    val nv = agg.getAs[Long]("nv")
    val mean =
      if (nv == 0) 0.0
      else TextRules.pyRound(
        agg.getAs[java.math.BigDecimal]("s").doubleValue() / nv, 3)
    EstimationReport(mean,
      agg.getAs[Long]("b1"), agg.getAs[Long]("b2"), agg.getAs[Long]("b3"),
      agg.getAs[Long]("b4"), agg.getAs[Long]("b5"),
      agg.getAs[Long]("n"), agg.getAs[Long]("ni"))
  }
}
