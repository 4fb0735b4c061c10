package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Snapshot-manifest table layout — the MERGE-style commit semantics
  * of an Iceberg table (overwrite-partition + snapshot isolation),
  * implemented on plain files because the Iceberg runtime jar cannot
  * be vendored in this sandbox (ROUND3_NOTES #7):
  *
  *  - data for partition `p`, attempt `t` lives under
  *    `<root>/data/p_<p>/a_<t>/` — attempts NEVER overwrite in place;
  *    a write covering several partitions stages under
  *    `<root>/data/_run_<t>/` and renames each partition's dir into
  *    its attempt dir before that partition's commit;
  *  - `<root>/snapshots/v<N>.manifest` is an immutable JSON-lines file
  *    listing every partition's current data path + lineage metrics;
  *  - a commit writes the new data dir, then writes the next manifest
  *    to a temp name and RENAMES it to `v<N+1>.manifest` — rename to a
  *    fresh name is atomic on HDFS/local, so a manifest either exists
  *    completely or not at all;
  *  - the current snapshot IS the max-N manifest (no mutable pointer
  *    file — nothing is ever overwritten, so no swap race);
  *  - readers pin a version: `read(version)` unions exactly that
  *    manifest's paths — a consistent view no concurrent commit can
  *    tear (snapshot isolation); a killed run leaves at most orphan
  *    data dirs and `_tmp.` files, never a visible half-commit;
  *  - re-committing a partition points the new manifest at the new
  *    attempt dir — the overwrite-partition MERGE, as metadata only.
  *
  * Single-writer (the driver), like the reference's one-pipeline-per-
  * corpus marker protocol (ocr_pipeline.py:160-199).
  */
final class SnapshotStore(spark: SparkSession, root: String) {

  /** One manifest line: a partition's committed state. `schemaHash`
    * fingerprints the data files' Spark schema (md5 of schema JSON) so
    * reads can decide cheaply whether a cross-partition schema merge
    * is needed; empty for pre-fingerprint manifests (conservatively
    * treated as "might diverge"). */
  final case class Entry(part: Int, path: String, nDocs: Long,
      nSpans: Long, nFailures: Long, committedAt: String,
      schemaHash: String = "")

  private val snapDir = s"$root/snapshots"
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fresh (never-reused) data location for an attempt at partition p. */
  def newDataPath(part: Int): String =
    s"$root/data/p_$part/a_${System.nanoTime()}"

  /** Fresh staging location for a write that covers several partitions
    * at once; its per-partition dirs are renamed to [[newDataPath]]s
    * before commit. No manifest ever references it, so a killed run's
    * staging dir is an orphan that [[expire]] collects. */
  def newStagingPath(): String =
    s"$root/data/_run_${System.nanoTime()}"

  /** Highest committed snapshot version, if any. */
  def currentVersion(): Option[Long] = {
    val dir = new Path(snapDir)
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** The entries of a snapshot (default: current). */
  def entries(version: Option[Long] = None): Map[Int, Entry] = {
    val v = version.orElse(currentVersion()).getOrElse(return Map.empty)
    val in = fs.open(new Path(snapDir, s"v$v.manifest"))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(parseLine).map(e => e.part -> e).toMap
    } finally in.close()
  }

  /** Commit partition `part` at `dataPath` into a new snapshot:
    * carries every other partition's entry forward, replaces this
    * partition's (MERGE/overwrite-partition). Returns the version.
    *
    * `written` is the schema of the DataFrame the caller wrote to
    * `dataPath`; its fingerprint is taken as Spark's file source reads
    * it back (every field nullable, see [[SnapshotStore.asRead]]), so
    * no Spark job runs. Without it the data's footer schema is read
    * back instead (one Spark job). */
  def commit(part: Int, dataPath: String, nDocs: Long, nSpans: Long,
      nFailures: Long, written: Option[StructType] = None): Long = {
    // one fingerprint per COMMIT buys every future read() the right
    // to skip Spark's all-files schema-merge pass (see read())
    val schemaHash = try {
      SnapshotStore.schemaHash(written.map(SnapshotStore.asRead)
        .getOrElse(spark.read.parquet(dataPath).schema))
    } catch { case _: Exception => "" }
    val cur = currentVersion()
    val next = cur.getOrElse(0L) + 1
    val merged = entries(cur) + (part -> Entry(part, dataPath, nDocs,
      nSpans, nFailures, java.time.Instant.now.toString, schemaHash))
    val tmp = new Path(snapDir, s"_tmp.v$next.${System.nanoTime()}")
    fs.mkdirs(new Path(snapDir))
    val out = fs.create(tmp, true)
    try {
      val w = new java.io.OutputStreamWriter(out, "UTF-8")
      merged.values.toSeq.sortBy(_.part).foreach { e =>
        w.write(s"""{"part":${e.part},"path":${json(e.path)},"n_docs":${e.nDocs},""" +
          s""""n_spans":${e.nSpans},"n_failures":${e.nFailures},""" +
          s""""committed_at":${json(e.committedAt)},""" +
          s""""schema":${json(e.schemaHash)}}""" + "\n")
      }
      w.flush()
    } finally out.close()
    // atomic publish: rename to a name that does not exist yet. The
    // store is SINGLE-WRITER by contract (the driver); this check is
    // best-effort lost-update detection, not a lock — HDFS rename
    // refuses an existing target, but a POSIX local rename would
    // silently replace it, so we probe first (TOCTOU-narrow, which is
    // acceptable for a misconfiguration guard).
    val target = new Path(snapDir, s"v$next.manifest")
    if (fs.exists(target) || !fs.rename(tmp, target))
      throw new java.io.IOException(s"snapshot v$next publish failed (concurrent writer?)")
    next
  }

  /** Partitions committed as of the current snapshot. */
  def done(): Set[Int] = entries().keySet

  /** Consistent read of the table at a snapshot (default: current):
    * exactly the manifest's paths, immune to concurrent commits.
    * SCHEMA EVOLUTION: when the manifest's schema fingerprints show
    * the partitions diverge (a column added by a newer release),
    * `mergeSchema` unions them (nulls backfill) — and a
    * version-pinned read still sees exactly the schema of ITS files
    * (time travel includes the schema). When all fingerprints agree —
    * the overwhelmingly common case — the merge pass (a footer read
    * of EVERY data file) is skipped; entries from pre-fingerprint
    * manifests merge conservatively. */
  def read(version: Option[Long] = None): DataFrame = {
    val es = entries(version)
    require(es.nonEmpty, "empty table: no committed snapshot")
    val hashes = es.values.map(_.schemaHash).toSet
    val needMerge = hashes.size > 1 || hashes.contains("")
    spark.read.option("mergeSchema", needMerge.toString)
      .parquet(es.values.toSeq.sortBy(_.part).map(_.path): _*)
  }

  /** Compact a partition's data files (the `rewrite_data_files`
    * maintenance op — incremental ticks accumulate small files):
    * rewrite the current attempt dir into `targetFiles` files at a
    * FRESH attempt path and commit the swap. Content-identical,
    * metadata-only replacement — readers pinned to older versions keep
    * the old files until [[expire]] garbage-collects them. */
  def compact(part: Int, targetFiles: Int = 1): Long = {
    val e = entries().getOrElse(part,
      throw new NoSuchElementException(s"partition $part not committed"))
    val dest = newDataPath(part)
    spark.read.parquet(e.path).coalesce(targetFiles)
      .write.parquet(dest)
    commit(part, dest, e.nDocs, e.nSpans, e.nFailures)
  }

  /** Expire history (the `expire_snapshots` maintenance op): keep the
    * newest `keepLast` manifests, delete older ones, then garbage-
    * collect every attempt dir under `data/p_*` that no surviving
    * manifest references, and every `data/_run_*` staging dir.
    * Only directories are collected; commits never leave loose files
    * under `data/p_*`. Readers pinned to an expired version lose time
    * travel — that is the retention trade; the current view is
    * untouched. Returns (#manifests deleted, #data dirs deleted). */
  def expire(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val dir = new Path(snapDir)
    if (!fs.exists(dir)) return (0, 0)
    val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted(Ordering.Long.reverse)
    // no manifests → an empty referenced-set would GC EVERY data dir;
    // a store with no committed snapshot has nothing safe to expire
    if (versions.isEmpty) return (0, 0)
    val (keep, drop) = versions.splitAt(keepLast)
    // fully qualify BOTH sides before comparing: manifest entries may
    // hold relative or scheme-less paths while listStatus returns
    // qualified ones — a string mismatch here would GC live data
    val referenced = keep.flatMap(v => entries(Some(v)).values.map(_.path))
      .map(p => fs.makeQualified(new Path(p)).toString).toSet
    drop.foreach(v => fs.delete(new Path(snapDir, s"v$v.manifest"), false))
    // orphan GC: attempt dirs under data/p_*/ not referenced by any
    // surviving manifest
    val dataDir = new Path(s"$root/data")
    var removed = 0
    if (fs.exists(dataDir)) {
      val (staging, pDirs) = fs.listStatus(dataDir).filter(_.isDirectory)
        .partition(_.getPath.getName.startsWith("_run_"))
      // a killed run's staging dir (see newStagingPath) goes whole
      staging.foreach { st =>
        fs.delete(st.getPath, true)
        removed += 1
      }
      pDirs.foreach { pDir =>
        fs.listStatus(pDir.getPath).filter(_.isDirectory).foreach { child =>
          if (!referenced.contains(fs.makeQualified(child.getPath).toString)) {
            fs.delete(child.getPath, true)
            removed += 1
          }
        }
      }
    }
    (drop.size, removed)
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def parseLine(line: String): Entry = {
    def grabNum(k: String): Long = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":(-?\\d+)").matcher(line)
      require(m.find(), s"bad manifest line: $line"); m.group(1).toLong
    }
    def grabStr(k: String, required: Boolean = true): String = {
      val m = java.util.regex.Pattern
        .compile("\"" + k + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(line)
      if (!m.find()) {
        require(!required, s"bad manifest line: $line")
        return "" // pre-fingerprint manifest: field absent
      }
      m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
    }
    Entry(grabNum("part").toInt, grabStr("path"), grabNum("n_docs"),
      grabNum("n_spans"), grabNum("n_failures"), grabStr("committed_at"),
      grabStr("schema", required = false))
  }
}

object SnapshotStore {

  /** md5 of a schema's JSON: the manifest's `schema` fingerprint. */
  def schemaHash(schema: StructType): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(schema.json.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A written schema as Spark's file source reads it back: every
    * field, array element and map value nullable, at every depth. A
    * fingerprint that disagreed with the read-back one would make
    * manifests of old and new commits look divergent and force
    * `mergeSchema` reads. */
  def asRead(schema: StructType): StructType =
    nullable(schema).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
