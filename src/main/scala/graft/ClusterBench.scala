package graft

import org.apache.spark.sql.SparkSession

/** Multi-executor benchmark entry point, launched via spark-submit
  * (north_rule: "run via spark-submit on a multi-executor cluster at
  * two cluster sizes"). The master (e.g. `local-cluster[1,4,8192]` vs
  * `local-cluster[4,4,8192]` — real executor JVMs) comes from
  * spark-submit; this main just reads the pre-generated span corpus,
  * runs the selected job (warmup + best-of-4), and prints one JSON
  * line.
  *
  * Jobs: `extract` (default — the zero-shuffle per-doc pipeline) and
  * `dedup` (xxhash minhash + LSH band pairs over the docs' joined
  * text — the SHUFFLE-bearing dedup shape, so its scaling efficiency
  * is measured separately from the narrow path).
  *
  * Usage: spark-submit --master local-cluster[E,C,M] \
  *          --class graft.ClusterBench <jar> <spansParquet> <label> [job]
  */
object ClusterBench {

  private def dedupJob(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val text = concat_ws(" ", transform(col("spans"), s => s.getField("text")))
    graft.dedup.MinHashLsh.bandPairs(
      graft.dedup.MinHashLsh.xxhashSignature(
        docs.select(col("doc_id"), text.as("text")), "doc_id", "text", 8),
      8, 2, (a, b) => xxhash64(a, b))
  }

  /** Contraction passes before the loop (alternating shuffle + local
    * union-find); measurement knob for passes-vs-rounds tradeoff. */
  private def ccPasses: Int =
    sys.env.get("SPARK_GRAFT_CC_PASSES")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)

  /** Driver-solve ceiling for the quotient graph (edges); 0 = always
    * run the distributed loop (the measurement baseline). */
  private def ccLocalMax: Long =
    sys.env.get("SPARK_GRAFT_CC_LOCALMAX")
      .flatMap(_.toLongOption).filter(_ >= 0L).getOrElse(8000000L)

  /** Cluster job: the full dedup DECISION pipeline — LSH banding to
    * connectivity-preserving STAR edges (O(bucket) rows per bucket;
    * all-pairs expansion explodes quadratically on the massive
    * duplicate families a skewed corpus contains) plus connected
    * components, every doc labeled with its cluster's canonical
    * survivor. Iterative (label propagation with per-round
    * localCheckpoint), so its scaling behavior is measured separately
    * from the single-pass pair generation. */
  private def clusterJob(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val text = concat_ws(" ", transform(col("spans"), s => s.getField("text")))
    val edges = graft.dedup.MinHashLsh.bandStarEdges(
      graft.dedup.MinHashLsh.xxhashSignature(
        docs.select(col("doc_id"), text.as("text")), "doc_id", "text", 8),
      8, 2, (a, b) => xxhash64(a, b))
    graft.ops.ConnectedComponents.run(
      docs.select(col("doc_id")), "doc_id", edges, "d1", "d2",
      contractPasses = ccPasses, localSolveMax = ccLocalMax)
  }

  /** Curation job: the q64 shape at bench scale — quality gate →
    * LSH star edges over the survivors → converged components →
    * canonical survivor → corpus stats (docs kept, tokens kept; ONE
    * output row). The quality projection is recomputed per consumer
    * instead of cached: it is a narrow parquet scan + concat, cheaper
    * than pinning 2M documents' text in executor storage, and the
    * job's cost is dominated by the banding/components shuffles. */
  private def curateJob(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val text = concat_ws(" ", transform(col("spans"), s => s.getField("text")))
    val quality = docs
      .select(col("doc_id"), text.as("text"))
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
      .filter(col("n_tokens") >= 20) // Gopher-style short-doc gate
    val edges = graft.dedup.MinHashLsh.bandStarEdges(
      graft.dedup.MinHashLsh.xxhashSignature(
        quality.select(col("doc_id"), col("text")), "doc_id", "text", 8),
      8, 2, (a, b) => xxhash64(a, b))
    val cc = graft.ops.ConnectedComponents.run(
      quality.select(col("doc_id")), "doc_id", edges, "d1", "d2",
      contractPasses = ccPasses, localSolveMax = ccLocalMax)
    cc.filter(col("node") === col("lbl")) // canonical survivors
      .join(quality.select(col("doc_id").as("node"), col("n_tokens")), Seq("node"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_tokens")).as("tokens_kept"))
  }

  /** ExactSubstr repeated-span dedup at bench scale (q65's shape, Lee
    * et al. 2107.06499 §4 with the paper's W=50): every W-token window
    * is hashed IN the Generate — only (doc_id, offset, hash64) rows
    * ever shuffle, never the gram string — duplicated hashes are found
    * by a map-side-combined count, and per-doc duplicated-token
    * coverage comes from a gaps-and-islands window over the hit
    * offsets. Per-token intermediate (the heaviest per-byte family in
    * the bench: ~n_tokens rows per doc), so its N→4N behavior measures
    * the wide-shuffle path the way `cluster` measures the iterative
    * path. */
  private def exactSubstrJob(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val W = 50
    val base = docs.select(col("doc_id"),
        split(trim(concat_ws(" ",
          transform(col("spans"), s => s.getField("text")))), "\\s+").as("tk"))
      .withColumn("n_tokens", size(col("tk")))
    val grams = base.filter(col("n_tokens") >= W)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("n_tokens") - W),
        i => xxhash64(concat_ws(" ", slice(col("tk"), i + lit(1), lit(W))))))
        .as(Seq("s", "h")))
    val dupHashes = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val covered = grams.join(dupHashes, "h")
      .select(col("doc_id"), col("s"))
      .withColumn("brk",
        when(col("s") - lag(col("s"), 1).over(win) >= W, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(win))
      .groupBy(col("doc_id"), col("isl"))
      .agg((max(col("s")) - min(col("s")) + lit(W)).as("cov"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cov")).cast("long").as("dup_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** Parse job: (doc_id, xml) rows → pooled-StAX parse → span docs
    * (the north_star front end: no per-row parser instantiation). */
  private def parseJob(spark: SparkSession, xmlPath: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    graft.run.IngestXml.parseDocs(
      spark.read.parquet(xmlPath).as[(String, String)]).toDF()
  }

  /** PDF job: (doc_id, pdf binary) rows → from-scratch PDF text-layer
    * parse (inflate + content-stream interpret + layout sort). */
  private def pdfJob(spark: SparkSession, pdfPath: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    graft.parse.PdfExtract.extractDocs(
      spark.read.parquet(pdfPath).as[(String, Array[Byte])]).toDF()
  }

  /** Skew-join measurement: a fact table where ONE key owns ~50% of
    * all rows, joined to a non-broadcastable dimension, salted vs
    * plain. Returns (plainSec, saltedSec) for one run; the main
    * prints both so the skew-mitigation claim is measured, not just
    * unit-tested. Broadcast is disabled for the comparison — salting
    * targets exactly the broadcast-ineligible case. */
  private def skewJoinJob(spark: SparkSession, docs: org.apache.spark.sql.DataFrame)
      : (Double, Double) = {
    import org.apache.spark.sql.functions._
    // fact: doc rows keyed so key 0 is scorching hot (~50% of rows),
    // each carrying its document text — the shuffle then moves real
    // payload weight and the hot key's bytes land on ONE task unless
    // salted (the mega-document scenario of the north_rule)
    val fact = docs.select(
      when(pmod(xxhash64(col("doc_id")), lit(2)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("doc_id")), lit(1000))).as("k"),
      concat_ws(" ", transform(col("spans"), s => s.getField("text"))).as("payload"))
    val dim = spark.range(1000).select(col("id").as("k"),
      (col("id") * 7).as("dv"))
    def agg(joined: org.apache.spark.sql.DataFrame) =
      joined.groupBy().agg(sum(length(col("payload")) + col("dv"))).collect()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE's own skew handling off for the baseline so the comparison
    // isolates the explicit salting technique
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    // materialize the fact side first: the timed section is the
    // exchange + sort + join + aggregate, not the shared scan work
    val factP = fact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    factP.count()
    try {
      val plain = Bench.time(agg(factP.join(dim, Seq("k"))))
      val salted = Bench.time(agg(graft.sql.Skew.saltedJoin(factP, dim, "k", salts = 16)))
      (plain, salted)
    } finally {
      factP.unpersist(blocking = true)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON f"%.3f"
    val spansPath = args(0)
    val label = if (args.length > 1) args(1) else "run"
    val job = if (args.length > 2) args(2) else "extract"
    val spark = SparkSession.builder()
      .appName(s"graft-cluster-bench-$label")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // one scan task per generated file: the corpora are written as
    // single-row-group files, so byte-range splits below the file size
    // produce EMPTY tasks (a row group belongs to exactly one split) —
    // at 1MB this was ~2 no-op dispatches per real one, a serial driver
    // cost that lands on the larger cluster size disproportionately.
    // Sized from the ACTUAL corpus (a fixed constant silently re-splits
    // once bigger corpora push files past it); openCost = split size
    // stops FileSourceScan bin-packing two files into one task.
    // resolve the filesystem FROM the path (a qualified s3a://or hdfs://
    // corpus must not fall through to the default FS) and walk it
    // recursively (partitioned layouts nest their files)
    val corpusPath = new org.apache.hadoop.fs.Path(spansPath)
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var maxFileBytes = 0L
    var totalFileBytes = 0L
    val it = fs.listFiles(corpusPath, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        maxFileBytes = math.max(maxFileBytes, st.getLen)
        totalFileBytes += st.getLen
      }
    }
    val splitBytes = math.max(16L * 1024 * 1024, maxFileBytes + 1024 * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", splitBytes.toString)

    val docs = spark.read.parquet(spansPath)
    val n = docs.count()

    if (job == "skewjoin") {
      // warmup then best-of-3 of each variant
      skewJoinJob(spark, docs)
      val runs = (1 to 3).map(_ => skewJoinJob(spark, docs))
      val plain = runs.map(_._1).min
      val salted = runs.map(_._2).min
      val cores = spark.sparkContext.defaultParallelism
      println(f"""{"metric":"skew-join","label":"$label","cores":$cores,"n_rows":$n,"plain_sec":$plain%.3f,"salted_sec":$salted%.3f,"speedup":${plain / salted}%.2f}""")
      spark.stop()
      return
    }
    def runJob(): Unit = {
      job match {
        case "extract" => Bench.force(graft.stages.Extraction.pipeline(docs).toDF())
        case "dedup"   => Bench.force(dedupJob(docs)); spark.catalog.clearCache()
        case "cluster" =>
          val labels = clusterJob(docs)
          Bench.force(labels)
          // the final round's localCheckpoint backs the labels; free it
          // between timed runs or best-of-N accumulates one
          // MEMORY_AND_DISK block per run until the ContextCleaner wins
          org.apache.spark.sql.graftbridge.Bridge.freeLocalCheckpoint(labels)
          spark.catalog.clearCache()
        case "curate" =>
          val stats = curateJob(docs)
          Bench.force(stats)
          org.apache.spark.sql.graftbridge.Bridge.freeLocalCheckpoint(stats)
          spark.catalog.clearCache()
        case "exactsubstr" => Bench.force(exactSubstrJob(docs))
        case "parse"   => Bench.force(parseJob(spark, spansPath))
        case "pdf"     => Bench.force(pdfJob(spark, spansPath))
        case other     => throw new IllegalArgumentException(s"unknown job '$other'")
      }
    }
    // shuffle partitioning must be in place BEFORE the warmup so the
    // warmup exercises the exact plans the timed runs use (the CC loop
    // runs AQE-off, so nothing coalesces a wrong default at runtime).
    // Executors register asynchronously, so the core count is parsed
    // from the local-cluster master instead of defaultParallelism.
    val totalCores = "local-cluster\\[(\\d+),(\\d+),\\d+\\]".r
      .findFirstMatchIn(spark.sparkContext.master)
      .map(m => m.group(1).toInt * m.group(2).toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // partitions-per-core multiplier: 1 = one wave per shuffle (least
    // dispatch overhead); >1 oversplits so a skewed hot partition no
    // longer gates the whole wave — the other cores drain small tasks
    // while it runs. Knob for measuring that tradeoff on the skewed
    // corpus families.
    val shufMult = sys.env.get("SPARK_GRAFT_SHUFFLE_MULT")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(1)
    // shuffle partitioning tracks the DATA, floored by the cluster: a
    // cores-only count puts a 16M-doc corpus into 16 shuffle tasks of
    // ~350 MB decoded rows each — every one spills, and the spill
    // traffic saturates the larger cluster size disproportionately
    // (16M 4×4 setup ran at 0.70 N→4N efficiency vs 0.95 at 8M before
    // this). Target ~64 MB of on-disk parquet per task (decoded rows
    // run ~3× that); identical at BOTH cluster sizes whenever the
    // data-derived count clears the core floor, so the two legs of a
    // scaling pair do the same work — which is also the only sizing
    // that survives a 100 TB corpus, where any per-core constant is
    // orders of magnitude too few tasks.
    // ... rounded UP to a multiple of the total cores: 24 partitions
    // on 16 cores is 1.5 waves — the second wave runs half-idle in
    // EVERY shuffle stage (measured ~5% on the 8M cluster job)
    val dataParts = (totalFileBytes / (64L * 1024 * 1024)).toInt + 1
    val floor = math.max(totalCores * shufMult, 2)
    val waves = (math.max(dataParts, floor) + totalCores - 1) / totalCores
    spark.conf.set("spark.sql.shuffle.partitions",
      (waves * totalCores).toString)
    runJob() // warmup
    // executors are registered by now (post-warmup)
    val execs = spark.sparkContext.getExecutorMemoryStatus.size - 1
    val cores = spark.sparkContext.defaultParallelism
    // SPARK_GRAFT_BENCH_RUNS overrides best-of-4 for long-running
    // composite jobs (e.g. cluster = dedup + iterative components);
    // garbage or non-positive values fall back rather than crashing
    // AFTER the expensive warmup already ran
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(4)
    val sec = (1 to nRuns).map(_ => Bench.time(runJob())).min
    println(f"""{"metric":"cluster-bench","label":"$label","job":"$job","executors":$execs,"cores":$cores,"n_docs":$n,"sec":$sec%.3f,"docs_per_sec":${n / sec}%.1f}""")
    spark.stop()
  }
}

/** Deterministic span-corpus generator main (inputs for the cluster
  * bench; seed fixed, no external data). `format=xml` renders each doc
  * to canonical ALTO (AltoWriter) and stores (doc_id, xml) rows — the
  * input shape of the `parse` cluster-bench job (XML-in-parquet keeps
  * the bench off the small-file path; wholetext dir scans are covered
  * by IngestXml itself).
  * Usage: GenCorpus <out> <nDocs> [profile] [files] [format] */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val nDocs = args(1).toLong
    val profile = if (args.length > 2) args(2) else "skewed"
    val files = if (args.length > 3) args(3).toInt else 128
    val format = if (args.length > 4) args(4) else "spans"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-gen")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = graft.gen.CorpusGen.docs(spark, nDocs, profile, 42L, 50000)
    val table = format match {
      case "spans" => docs.toDF()
      case "xml" => docs.map(d => (d.doc_id, new String(
          graft.parse.AltoWriter.render(d),
          java.nio.charset.StandardCharsets.UTF_8)))
        .toDF("doc_id", "xml")
      case "pdf" => docs.map { d =>
          val tk = d.spans.filter(_.kind == graft.model.Span.KindText).map(_.text)
          val hasMedia = d.spans.exists(_.kind == graft.model.Span.KindMedia)
          (d.doc_id, graft.parse.PdfWriter.render(
            Seq(graft.parse.PdfWriter.layoutTokens(tk)),
            flate = true, withImage = hasMedia))
        }.toDF("doc_id", "pdf")
      case other => throw new IllegalArgumentException(s"unknown format '$other'")
    }
    table.repartition(files).write.mode("overwrite").parquet(out)
    println(s"""{"metric":"gen","out":"$out","n_docs":$nDocs,"files":$files,"format":"$format"}""")
    spark.stop()
  }
}
