package graft

import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence (BASELINE.md protocol): run the
  * identical extraction job on identical input at local[N] and
  * local[4N], report docs/sec at both plus the scaling efficiency
  * `(thr_4N / thr_N) / 4` (target ≥ 0.8).
  *
  * Usage: ScalingBench [nDocs] [N] [full|read]  (defaults 40000, 8, full)
  * — `full` times the extraction pipeline, `read` only the input scan.
  */
object ScalingBench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // span rows are fat but compress well: with the default 128 MB
      // splits + 4 MB open cost a small-scale corpus collapses into a
      // handful of input splits and parallelism dies — size splits to
      // the data, not the default (same knob that must be tuned on the
      // 100 TB cluster per SURVEY.md §4)
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 40000L
    val n = if (args.length > 1) args(1).toInt else 8
    val mode = if (args.length > 2) args(2) else "full"
    def job(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = mode match {
      case "full" => graft.stages.Extraction.pipeline(df).toDF()
      case "read" => df
    }

    // generate the input ONCE, outside both timed runs
    val tmp = java.nio.file.Files.createTempDirectory("graft-scaling").toString
    val gen = session(n)
    graft.gen.CorpusGen.docs(gen, nDocs, "skewed", 42L, 50000)
      .toDF()
      // enough files that local[4N] has multiple task waves and
      // mega-docs (skew) scatter instead of forming a straggler file
      .repartition(4 * n * 8)
      .write.mode("overwrite").parquet(s"$tmp/spans")
    gen.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    def run(cores: Int): Double = {
      val s = session(cores)
      val docs = s.read.parquet(s"$tmp/spans")
      // full warmup run (JIT + codegen), then best-of-2 timed runs
      Bench.force(job(docs))
      val sec = (1 to 2).map(_ => Bench.time(Bench.force(job(docs)))).min
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      sec
    }

    val secN = run(n)
    val sec4N = run(4 * n)
    val thrN = nDocs / secN
    val thr4N = nDocs / sec4N
    val eff = (thr4N / thrN) / 4.0
    println(f"""{"metric":"scaling","mode":"$mode","n_docs":$nDocs,"cores_n":$n,"cores_4n":${4 * n},"sec_n":$secN%.3f,"sec_4n":$sec4N%.3f,"docs_per_sec_n":$thrN%.1f,"docs_per_sec_4n":$thr4N%.1f,"efficiency":$eff%.3f}""")
  }
}
