package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One iteration's record. `wallS` covers only the timed call into the
  * engine; the output check and clean-up run after it. `oldGenBytes` is
  * the peak old-generation occupancy while it ran. `layers` holds the
  * per-layer values a layered iteration measured. */
final case class Iter(wallS: Double, spanId: Long, oldGenBytes: Long,
    failed: Long, layers: Map[String, Double] = Map.empty)

/** A benchmark workload: inputs made from the seed once per run (outside
  * the timing), then a closed loop of iterations, each one job after the
  * other on the same session. */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val work: Path) {
  /** Documents one iteration processes; the unit of `docs_per_s`. */
  def units: Long

  /** Makes or reuses the seeded inputs and the expected outputs. */
  def prepare(): Unit

  /** Runs the program the way a user runs it. */
  def plain(k: Int): Iter

  /** Runs the same work as [[plain]] split into the engine's layers,
    * with one span per layer call. */
  def layered(k: Int): Iter

  /** Plain-iteration values a traced run reports, e.g. scan
    * amplification; read from the iteration's task counters. */
  def plainLayers(t: TaskAgg): Map[String, Double] = Map.empty

  /** Names and units of the per-layer metrics this workload measures. */
  def layers: Seq[(String, String)]

  protected def outDir(k: Int): Path = work.resolve("out").resolve(s"it_$k")

  /** Times `f` inside an `iteration` span. Returns the wall time, the
    * span id and the peak old-generation occupancy. */
  protected def timed(f: => Unit): (Double, Long, Long) = {
    val t0 = System.nanoTime()
    val (_, oldGen) = OldGen.peak(tr.span("iteration")(f))
    ((System.nanoTime() - t0) / 1e9, tr.lastTopLevel.id, oldGen)
  }
}

object Workload {
  /** Forces every column of `df` without writing it anywhere. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `f` with its stdout lines sent to `log` instead. */
  def quiet[A](log: java.io.PrintStream)(f: => A): A = Console.withOut(log)(f)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** 64-bit hash of a canonical string. */
  def hash64(s: String): Long = {
    val h = scala.util.hashing.MurmurHash3
    (h.stringHash(s, 0x3c6ef372).toLong << 32) | (h.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Counts the documents whose output is missing, duplicated, unexpected
    * or different. `want` has columns (doc_id, want), `got` has (doc_id,
    * got) with one row per output row. */
  def mismatches(want: DataFrame, got: DataFrame): Long = {
    val perDoc = got.groupBy("doc_id").agg(count(lit(1)).as("n"), first("got").as("got"))
    want.join(perDoc, Seq("doc_id"), "full_outer")
      .filter(col("want").isNull || col("n").isNull || col("n") =!= 1 ||
        col("got") =!= col("want"))
      .count()
  }
}
