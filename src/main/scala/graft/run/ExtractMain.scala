package graft.run

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Checkpoint
import graft.stages.{ExtractConfig, Extraction}

/** Resumable extraction job over a span table — the engine twin of
  * `python ocr_pipeline.py <data_path>` (ocr_pipeline.py:445-538).
  *
  * Usage: ExtractMain <spansParquet> <outRoot> [nParts]
  *
  * The corpus is bucketed into `nParts` logical partitions by doc_id
  * hash (the analog of the reference's directory partitions). The
  * snapshot manifest ([[graft.io.SnapshotStore]]) is the only commit
  * record: one manifest version per partition, carrying its lineage
  * metrics. A run processes every pending partition in ONE pass — one
  * scan, one codegen'd stage chain, one write job partitioned by part
  * — then commits the partitions one by one in ascending order, each
  * by renaming its staged dir into a fresh attempt dir and publishing
  * a manifest. The plan is fully narrow, with one tiny aggregate at
  * the end for the corpus report (S11).
  *
  * Crash granularity: a run killed during its write job commits
  * nothing; one killed between commits keeps the partitions committed
  * so far. Either way the next run reprocesses exactly the partitions
  * without a manifest entry and converges to the same snapshot
  * content; the killed run's staging dir is an orphan that
  * `SnapshotStore.expire` removes.
  */
object ExtractMain {

  def main(args: Array[String]): Unit = {
    val inPath = args(0)
    val outRoot = args(1)
    val nParts = if (args.length > 2) args(2).toInt else 8
    val backup = sys.env.get("SPARK_GRAFT_BACKUP").contains("1")
    // E1: an ini pipeline definition (the reference's own config file
    // format) drives the stage chain when provided
    val cfg = sys.env.get("SPARK_GRAFT_CONFIG").map { p =>
      PipelineConfig.toExtractConfig(PipelineConfig.steps(
        PipelineConfig.parseIni(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p)))))
    }.getOrElse(ExtractConfig())
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, inPath, outRoot, nParts, backup, cfg)
    spark.stop()
  }

  def run(spark: SparkSession, inPath: String, outRoot: String, nParts: Int,
      backup: Boolean = false, cfg: ExtractConfig = ExtractConfig()): Unit = {
    import spark.implicits._
    val ckpt = new Checkpoint(spark, outRoot)
    val snap = new graft.io.SnapshotStore(spark, outRoot)
    val done = snap.done()
    val todo = (0 until nParts).filterNot(done.contains)
    println(s"[extract] partitions total=$nParts pending=${todo.size}")

    if (todo.nonEmpty) {
      val docs = spark.read.parquet(inPath)
        .withColumn("part", pmod(xxhash64(col("doc_id")), lit(nParts)).cast("int"))
        .filter(col("part").isin(todo: _*))
      // S7: backup only when the config can actually modify content —
      // the reference's `if self._replacements and self.must_backup()`
      // gate (lib/ocr_step.py:230-232)
      if (backup && (cfg.replaceDict.nonEmpty || cfg.regexRule.nonEmpty))
        writeParts(docs, todo, snap.newStagingPath(), ckpt.backupPath)((_, _, _) => ())
      // one write job for every pending part; observe() collects each
      // part's lineage during it
      val (out, obs) = Extraction.observedByPart(
        Extraction.pipeline(docs, cfg, carry = Seq("part")), todo)
      writeParts(out, todo, snap.newStagingPath(), snap.newDataPath) { (p, attempt, schema) =>
        val (nDocs, nSpans, nUnest) = Extraction.partLineage(obs, p)
        val v = snap.commit(p, attempt, nDocs, nSpans, nUnest, Some(schema))
        println(s"[extract] committed part=$p snapshot=v$v docs=$nDocs " +
          s"spans=$nSpans unestimated=$nUnest")
      }
    }

    // corpus report over the CURRENT SNAPSHOT (consistent view;
    // ocr_pipeline.py:233-269): summary (mean + bins + totals) and
    // ratio-sorted detail (S11 .wtr)
    val all = snap.read().as[graft.stages.ProcessedDoc]
    val rep = Extraction.writeReport(all, s"$outRoot/report")
    println(s"[extract] report: mean=${rep.mean} bins=[${rep.b1},${rep.b2},${rep.b3},${rep.b4},${rep.b5}] " +
      s"total=${rep.n_total} invalid=${rep.n_invalid}")
    // exact-layout `.wtr` compatibility file for downstream parsers
    // (single file; SPARK_GRAFT_WTR=0 opts out for huge corpora where
    // only the distributed report makes sense)
    if (!sys.env.get("SPARK_GRAFT_WTR").contains("0")) {
      // over the driver-streamed cap the run must NOT die at its last
      // step: skip the compat file (the distributed report above is
      // the corpus-scale surface) and keep going with maintenance
      if (rep.n_total > Extraction.WtrMaxRows)
        println(s"[extract] wtr skipped: ${rep.n_total} rows exceed the " +
          s"driver-streamed cap ${Extraction.WtrMaxRows}; use the " +
          "distributed report (SPARK_GRAFT_WTR=0 silences this)")
      else {
        val stamp = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd_HH-mm").withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now())
        val wtrPath = s"$outRoot/report/corpus_$stamp.wtr"
        Extraction.writeWtr(all, wtrPath, precomputed = Some(rep))
        println(s"[extract] wtr: $wtrPath")
      }
    }
    // optional snapshot maintenance: SPARK_GRAFT_EXPIRE=<keepLast>
    // drops manifest history and GCs orphaned attempt dirs
    sys.env.get("SPARK_GRAFT_EXPIRE").map(_.toInt).foreach { keep =>
      val (m, d) = snap.expire(keep)
      println(s"[extract] expired $m snapshots, removed $d orphan dirs (keepLast=$keep)")
    }
    // A1/A2 corpus replacement statistics, reference `ſ:392` format
    // (ocr_pipeline.py:402-411) — O(#distinct keys) driver-side
    val stats = Extraction.corpusReplStats(all).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}")
    println(s"[extract] replacement stats: ${stats.mkString(", ")}")
    snap.entries().values.toSeq.sortBy(_.part).foreach { e =>
      println(s"[extract] lineage part=${e.part} docs=${e.nDocs} spans=${e.nSpans} " +
        s"unestimated=${e.nFailures} committed_at=${e.committedAt} path=${e.path}")
    }
  }

  /** Writes `df` ONCE, partitioned by its int column `part`, into the
    * fresh dir `staging`; then, for each of `parts` in ascending
    * order, moves `staging/part=p` to `dest(p)` (replacing what is
    * there) and calls `commit(p, dest(p), schema)` with the written
    * data schema. A part without rows gets an empty file carrying the
    * schema, so every part's dir reads back. Each dir gets the
    * `_SUCCESS` marker of a plain write. The staging dir is removed
    * last; a kill before that leaves it behind. */
  def writeParts(df: DataFrame, parts: Seq[Int], staging: String, dest: Int => String)(
      commit: (Int, String, StructType) => Unit): Unit = {
    val spark = df.sparkSession
    val stage = new Path(staging)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.partitionBy("part").parquet(staging)
    val schema = df.drop("part").schema
    parts.sorted.foreach { p =>
      val target = new Path(dest(p))
      val staged = new Path(stage, s"part=$p")
      if (fs.exists(target)) fs.delete(target, true)
      if (fs.exists(staged)) {
        fs.mkdirs(target.getParent)
        if (!fs.rename(staged, target))
          throw new java.io.IOException(s"cannot move $staged to $target")
        fs.create(new Path(target, "_SUCCESS")).close()
      } else {
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .write.parquet(target.toString)
      }
      commit(p, target.toString, schema)
    }
    fs.delete(stage, true)
  }
}
