package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.io.SnapshotStore
import graft.run.ExtractMain

/** Checkpoint/resume protocol (T1/J1): kill-resume idempotence — a
  * re-run after losing commits reprocesses exactly the uncommitted
  * partitions and converges to the same corpus output — plus the
  * snapshot-manifest guarantees (MERGE-style replace, isolation). */
class CheckpointSpec extends SparkSpecBase {

  test("resume reprocesses only uncommitted partitions, output identical") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val spansPath = s"$tmp/spans"
    val outRoot = s"$tmp/out"

    graft.gen.CorpusGen.docs(spark, 200, "interleaved")
      .write.mode(SaveMode.Overwrite).parquet(spansPath)

    ExtractMain.run(spark, spansPath, outRoot, nParts = 4)
    val snap = new SnapshotStore(spark, outRoot)
    assert(snap.done() == Set(0, 1, 2, 3))
    assert(snap.currentVersion().contains(4L)) // one snapshot per commit
    val full = snap.read()
      .select($"doc_id", $"hit_ratio", $"n_words").as[(String, Double, Int)]
      .collect().sortBy(_._1).toSeq
    assert(full.size == 200)

    // simulate a crash that lost the last TWO commits: drop their
    // manifests (a killed run can never leave a half-written manifest —
    // publish is a rename to a fresh name)
    new java.io.File(s"$outRoot/snapshots/v4.manifest").delete()
    new java.io.File(s"$outRoot/snapshots/v3.manifest").delete()
    assert(snap.done().size == 2)
    val survivors = snap.done()

    ExtractMain.run(spark, spansPath, outRoot, nParts = 4)
    assert(snap.done() == Set(0, 1, 2, 3))
    val resumed = snap.read()
      .select($"doc_id", $"hit_ratio", $"n_words").as[(String, Double, Int)]
      .collect().sortBy(_._1).toSeq
    assert(resumed == full)

    // snapshot isolation: the v2 view still reads exactly the two
    // surviving partitions — replaced/added commits never touched its
    // attempt dirs
    val v2 = snap.read(Some(2L))
    assert(v2.count() < 200 && v2.count() > 0)
    assert(snap.entries(Some(2L)).keySet == survivors)

    // MERGE semantics: re-committing a partition repoints the manifest
    // at a new attempt dir instead of overwriting data in place
    val before = snap.entries(Some(2L))
    val after = snap.entries()
    survivors.foreach { p => assert(before(p).path == after(p).path) }

    // the manifest entries carry the lineage metrics
    val lin = snap.entries().values.toSeq
    assert(lin.length == 4)
    assert(lin.map(_.nDocs).sum == 200)
  }

  test("expire keeps the current view, GCs unreferenced attempt dirs") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-expire").toString
    val snap = new SnapshotStore(spark, tmp)
    def write(path: String, n: Int): String = {
      spark.range(n).select($"id").write.parquet(path); path
    }
    // v1: part 0 attempt A; v2: part 1; v3: part 0 REPLACED by attempt B
    val a = write(snap.newDataPath(0), 3)
    snap.commit(0, a, 3, 3, 0)
    val b = write(snap.newDataPath(1), 5)
    snap.commit(1, b, 5, 5, 0)
    val c = write(snap.newDataPath(0), 4)
    snap.commit(0, c, 4, 4, 0)
    assert(snap.read().count() == 9) // 4 + 5

    val (mDropped, dirsDropped) = snap.expire(keepLast = 1)
    assert(mDropped == 2)
    assert(dirsDropped == 1, "exactly the replaced attempt dir is orphaned")
    assert(!new java.io.File(a).exists())
    assert(new java.io.File(b).exists() && new java.io.File(c).exists())
    // current view intact; expired versions are gone
    assert(snap.read().count() == 9)
    assert(snap.currentVersion().contains(3L))
    intercept[Exception](snap.read(Some(1L)).count())
  }

  test("compact rewrites a partition's small files, content-identical") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val snap = new SnapshotStore(spark, tmp)
    val p = snap.newDataPath(0)
    spark.range(1000).select($"id").repartition(8).write.parquet(p)
    snap.commit(0, p, 1000, 1000, 0)
    def files(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(p) == 8)
    val before = snap.read().as[Long].collect().sorted.toSeq

    val v = snap.compact(0, targetFiles = 1)
    assert(v == 2L)
    val after = snap.entries()(0)
    assert(after.path != p, "compaction must write a fresh attempt dir")
    assert(files(after.path) == 1)
    assert(snap.read().as[Long].collect().sorted.toSeq == before)
    assert(after.nDocs == 1000) // lineage carried through

    // the pre-compaction view still reads the old files until expire()
    assert(snap.read(Some(1L)).count() == 1000)
    val (_, gced) = snap.expire(keepLast = 1)
    assert(gced == 1 && !new java.io.File(p).exists())
    assert(snap.read().count() == 1000)
  }

  test("manifest publish is atomic: tmp files are invisible to readers") {
    val tmp = Files.createTempDirectory("graft-snap").toString
    val snap = new SnapshotStore(spark, tmp)
    assert(snap.currentVersion().isEmpty && snap.done().isEmpty)
    // a crashed writer leaves only a _tmp. file — readers ignore it
    val dir = new java.io.File(s"$tmp/snapshots"); dir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/snapshots/_tmp.v1.123"), "{half")
    assert(snap.currentVersion().isEmpty)
    // a real commit then publishes v1 with the entry
    val v = snap.commit(7, s"$tmp/data/p_7/a_1", 10, 20, 0)
    assert(v == 1L)
    assert(snap.done() == Set(7))
    assert(snap.entries()(7).nSpans == 20)
  }

  test("schema evolution: later snapshots add a column; time travel keeps the old schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-evo").toString
    val snap = new SnapshotStore(spark, tmp)
    // v1: partition 0 under the original schema
    val p0 = snap.newDataPath(0)
    Seq(("a", 1), ("b", 2)).toDF("doc_id", "n").write.parquet(p0)
    snap.commit(0, p0, 2, 2, 0)
    // v2: partition 1 committed by a NEWER release with an added column
    val p1 = snap.newDataPath(1)
    Seq(("c", 3, "de")).toDF("doc_id", "n", "lang").write.parquet(p1)
    snap.commit(1, p1, 1, 1, 0)

    // current read merges schemas: old rows null-backfill the new column
    val cur = snap.read()
    assert(cur.columns.toSet == Set("doc_id", "n", "lang"))
    assert(cur.count() == 3)
    assert(cur.filter(col("lang").isNull).count() == 2)
    // time travel to v1: the old schema, no phantom column
    val v1 = snap.read(Some(1L))
    assert(v1.columns.toSet == Set("doc_id", "n"))
    assert(v1.count() == 2)

    // MERGE partition 0 up to the evolved schema, then expire history:
    // the current view survives with the merged schema intact
    val p0b = snap.newDataPath(0)
    Seq(("a", 1, "en"), ("b", 2, "en")).toDF("doc_id", "n", "lang").write.parquet(p0b)
    snap.commit(0, p0b, 2, 2, 0)
    assert(snap.read().filter(col("lang").isNull).count() == 0)
    val (m, d) = snap.expire(1)
    assert(m == 2 && d >= 1)
    assert(snap.read().count() == 3)
    assert(snap.read().columns.toSet == Set("doc_id", "n", "lang"))
  }

  test("empty parts commit an empty dir; a killed run's staging dir stays invisible") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-empty").toString
    val spansPath = s"$tmp/spans"
    val outRoot = s"$tmp/out"
    graft.gen.CorpusGen.docs(spark, 3, "interleaved")
      .write.mode(SaveMode.Overwrite).parquet(spansPath)

    // 3 docs over 8 parts: at least 5 parts are empty
    ExtractMain.run(spark, spansPath, outRoot, nParts = 8)
    val snap = new SnapshotStore(spark, outRoot)
    assert(snap.done() == (0 until 8).toSet)
    assert(new java.io.File(s"$outRoot/snapshots").listFiles()
      .count(_.getName.endsWith(".manifest")) == 8)
    assert(snap.entries().values.map(_.nDocs).sum == 3)
    assert(snap.read().count() == 3)
    assert(!new java.io.File(s"$outRoot/data").list().exists(_.startsWith("_run_")),
      "a completed run removes its staging dir")

    // a run killed during its write job leaves only its staging dir
    val orphan = new java.io.File(s"$outRoot/data/_run_x")
    val rows = spark.read.parquet(snap.entries().values.find(_.nDocs > 0).get.path)
    assert(rows.count() > 0)
    rows.write.parquet(s"$orphan/part=0")
    java.nio.file.Files.writeString(new java.io.File(orphan, "_SUCCESS").toPath, "")
    new java.io.File(s"$outRoot/snapshots/v8.manifest").delete()
    val lost = (0 until 8).toSet -- snap.done()
    assert(lost.size == 1)

    ExtractMain.run(spark, spansPath, outRoot, nParts = 8)
    assert(snap.done() == (0 until 8).toSet)
    assert(snap.currentVersion().contains(8L))
    assert(snap.read().count() == 3, "the orphan's rows must never be read")
    val ids = snap.read().select($"doc_id").as[String].collect()
    assert(ids.distinct.length == 3)

    val (_, removed) = snap.expire(1)
    assert(removed >= 1)
    assert(!orphan.exists(), "expire removes a killed run's staging dir")
    assert(snap.read().count() == 3)
  }

  test("written-schema fingerprint equals the read-back one") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-schema").toString
    val snap = new SnapshotStore(spark, tmp)
    def check(df: org.apache.spark.sql.DataFrame, part: Int): Unit = {
      val path = snap.newDataPath(part)
      df.write.parquet(path)
      val readBack = spark.read.parquet(path).schema
      assert(SnapshotStore.asRead(df.schema) == readBack)
      assert(SnapshotStore.schemaHash(SnapshotStore.asRead(df.schema)) ==
        SnapshotStore.schemaHash(readBack))
      // both commit paths record the same fingerprint
      snap.commit(part, path, 1, 1, 0, Some(df.schema))
      val written = snap.entries()(part).schemaHash
      snap.commit(part, path, 1, 1, 0)
      assert(written.nonEmpty && written == snap.entries()(part).schemaHash)
    }

    val processed = graft.stages.Extraction.pipeline(
      graft.gen.CorpusGen.docs(spark, 20, "interleaved").toDF()).toDF()
    check(processed, 0)

    val inner = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("vs", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val nested = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("items", ArrayType(inner, containsNull = false), nullable = false),
      StructField("attrs", MapType(StringType,
        ArrayType(inner, containsNull = false), valueContainsNull = false), nullable = false)))
    val rows = Seq(Row(1L, Seq(Row("a", Seq(1, 2))), Map("x" -> Seq(Row("b", Seq(3))))))
    check(spark.createDataFrame(spark.sparkContext.parallelize(rows), nested), 1)

    // every commit fingerprinted alike: reads skip the schema merge
    assert(snap.entries().values.map(_.schemaHash).toSet.size == 2)
  }

  test("one run submits one write job and no marker or schema-read jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tmp = Files.createTempDirectory("graft-jobs").toString
    val spansPath = s"$tmp/spans"
    graft.gen.CorpusGen.docs(spark, 200, "interleaved")
      .write.mode(SaveMode.Overwrite).parquet(spansPath)

    val stacks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "graft-sentinel")
          sentinel.countDown()
        else stacks.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractMain.run(spark, spansPath, s"$tmp/out", nParts = 4)
      // the listener bus delivers in order: once the sentinel job is
      // seen, every job of the run has been
      spark.sparkContext.setJobDescription("graft-sentinel")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val jobs = stacks.asScala.toSeq
    assert(!jobs.exists(_.contains("SnapshotStore.commit")), "schema read-back job")
    assert(!jobs.exists(_.contains("Checkpoint.commit")), "marker commit job")
    assert(jobs.count(_.contains("ExtractMain$.writeParts")) == 1, jobs.mkString("\n---\n"))
    assert(new SnapshotStore(spark, s"$tmp/out").done() == Set(0, 1, 2, 3))
  }
}
