package graft.io

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Per-partition markers of the pre-manifest commit protocol — the
  * engine twin of the reference's marker-file choreography
  * (`ocr_pipeline_open` → `busy` → `done`/`fail`,
  * ocr_pipeline.py:160-199, :338-365).
  *
  * The snapshot manifest ([[SnapshotStore]]) is the only commit record
  * `ExtractMain` writes, and nothing reads these markers back. This
  * class remains for two things:
  *  - [[backupPath]], the S7 pre-image location;
  *  - [[commit]], which the layered benchmark calls to replay the old
  *    per-partition commit sequence.
  *
  * Layout: `<root>/state/p_<p>/` holds one tiny parquet marker per
  * committed partition with its lineage metrics, written atomically by
  * Spark's output committer (temp + rename).
  */
final class Checkpoint(spark: SparkSession, root: String) {

  /** S7 — pre-image audit location for partition `p`: the input
    * snapshot written before the stage output overwrites anything
    * (the reference's `<label>_before_<StepClass>.xml` backup,
    * lib/ocr_step.py:230-243). */
  def backupPath(part: Int): String = s"$root/backup/p_$part"

  /** Atomically commit partition `p` with its lineage metrics
    * (docs parsed, spans emitted, parse failures — north_rule). */
  def commit(p: Int, docs: Long, spans: Long, failures: Long): Unit = {
    import spark.implicits._
    Seq((p, docs, spans, failures, java.time.Instant.now.toString))
      .toDF("part", "n_docs", "n_spans", "n_failures", "committed_at")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/state/p_$p")
  }
}
