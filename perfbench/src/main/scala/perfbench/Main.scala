package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session, prepares one workload's
  * inputs, runs its closed loop and writes one result file. `run.py` is
  * the entry point that builds, launches and reports.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --launched-ns <epoch ns> --work <dir> --result <file>
  */
object Main {

  /** Input documents per iteration. */
  val Docs: Map[String, Long] = Map("extract-skewed" -> 10000L, "ingest-alto" -> 2500L)

  val Common: Seq[(String, String)] = Seq(
    "run.first_iter_s" -> "s", "tasks.count" -> "count", "tasks.cpu_s" -> "s",
    "tasks.run_s" -> "s", "tasks.gc_s" -> "s", "tasks.skew" -> "ratio",
    "input.mb" -> "MB", "shuffle.write_mb" -> "MB", "spill.mb" -> "MB",
    "heap.old_gen_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The session `ExtractMain.main` builds, on every available core. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val spark = session(opt("cpus").toInt)
    val setupS = (epochNs() - opt("launched-ns").toLong) / 1e9
    val resultPath = Path.of(opt("result"))

    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Path.of(opt("work"))
    val runId = s"$name-seed$seed-trace${opt("trace")}-${System.currentTimeMillis()}"
    val tr = new Tracer(spark.sparkContext, runId)
    Files.createDirectories(work.resolve("logs"))
    val log = new java.io.PrintStream(
      Files.newOutputStream(work.resolve("logs").resolve(s"$runId.log")), true, "UTF-8")
    val w: Workload = name match {
      case "extract-skewed" => new ExtractSkewed(spark, tr, work, log, seed, Docs(name))
      case "ingest-alto"    => new IngestAlto(spark, tr, work, seed, Docs(name))
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9

    // closed loop: one iteration at a time; the cold first one is
    // reported on its own, the warm ones until `seconds` of timed work
    val cold = w.plain(0)
    val plainIts = mutable.ArrayBuffer.empty[Iter]
    val layeredIts = mutable.ArrayBuffer.empty[Iter]
    var spent = 0.0
    var k = 1
    def enough = spent >= seconds && plainIts.size >= 2 && (!traced || layeredIts.size >= 2)
    while (!enough) {
      val it = if (traced && k % 2 == 0) { val x = w.layered(k); layeredIts += x; x }
               else { val x = w.plain(k); plainIts += x; x }
      spent += it.wallS
      k += 1
    }
    val all = cold +: (plainIts ++ layeredIts).toSeq
    val attempted = all.size * w.units
    val failed = all.map(_.failed).sum
    val plainTasks = plainIts.map(i => tr.tasks(i.spanId)).toSeq
    val plainWall = median(plainIts.map(_.wallS).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", w.units / plainWall, "docs/s"),
        ("task_cpu_s", median(plainTasks.map(_.cpuNs / 1e9)), "s"))
      else {
        val mb = 1048576.0
        val tm = (f: TaskAgg => Double) => median(plainTasks.map(f))
        val common = Map(
          "run.first_iter_s" -> cold.wallS,
          "tasks.count" -> tm(_.tasks.toDouble),
          "tasks.cpu_s" -> tm(_.cpuNs / 1e9),
          "tasks.run_s" -> tm(_.runMs / 1e3),
          "tasks.gc_s" -> tm(_.gcMs / 1e3),
          "tasks.skew" -> tm(_.skew),
          "input.mb" -> tm(_.inputBytes / mb),
          "shuffle.write_mb" -> tm(_.shuffleWriteBytes / mb),
          "spill.mb" -> tm(_.spillBytes / mb),
          "heap.old_gen_peak_mb" -> median(plainIts.map(_.oldGenBytes / mb).toSeq),
          "trace.overhead_ratio" -> median(layeredIts.map(_.wallS).toSeq) / plainWall)
        val fromPlain = plainTasks.map(w.plainLayers)
        val own = w.layers.map { case (n, _) =>
          val vs = if (fromPlain.exists(_.contains(n))) fromPlain.map(_(n))
                   else layeredIts.map(_.layers(n)).toSeq
          n -> median(vs)
        }.toMap
        // every per-layer metric of both workloads; a layer this
        // workload does not run reports 0
        Common.map { case (n, u) => (n, common(n), u) } ++
          (ExtractSkewed.Layers ++ IngestAlto.Layers).map { case (n, u) =>
            (n, own.getOrElse(n, 0.0), u) }
      }

    tr.writeJsonl(work.resolve("traces").resolve(s"$runId.jsonl"))
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvm = Json.obj(
      "version" -> System.getProperty("java.runtime.version"),
      "vm" -> System.getProperty("java.vm.name"),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
      "flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val iters = all.map(i => Json.obj("wall_s" -> i.wallS, "failed" -> i.failed,
      "old_gen_peak_mb" -> i.oldGenBytes / 1048576.0, "layered" -> i.layers.nonEmpty))
    Files.writeString(resultPath, Json.obj(
      "run_id" -> runId, "workload" -> name, "seed" -> seed, "trace" -> traced,
      "docs_per_iteration" -> w.units, "setup_s" -> setupS, "prepare_s" -> prepareS,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
        s"${Json.str(n)}:${Json.obj("value" -> v, "unit" -> u)}" }.mkString("{", ",", "}")),
      "jvm" -> Json.Raw(jvm),
      "iterations" -> iters.map(Json.Raw)))
    log.close()
    spark.stop()
  }
}
