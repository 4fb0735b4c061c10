package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** One traced interval: a layer call made by the benchmark. Spans of one
  * run share `runId`; `parent` is 0 for a top-level span. Times are
  * nanoseconds since the tracer was created. */
final case class SpanRec(id: Long, parent: Long, name: String, runId: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters summed over the tasks a span's jobs ran. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id → run time (ms) of each of its tasks */
  val stageRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: TaskAgg): this.type = {
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    o.stageRunMs.foreach { case (s, ts) =>
      stageRunMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
    this
  }

  /** Max over median task run time in the stage that ran longest in
    * total — the stage that sets the span's time. 1.0 when no stage
    * has more than one task. */
  def skew: Double =
    if (stageRunMs.isEmpty) 1.0
    else {
      val ts = stageRunMs.values.maxBy(_.sum).sorted
      if (ts.size < 2) 1.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2)).toDouble
    }
}

/** Span recorder and task-metric listener in one. Every span sets the
  * `perfbench.span` local property while it is open; Spark copies local
  * properties into each stage it submits, so a task's metrics are
  * attributed to the innermost span whose call started its job. Spans
  * stay in memory until [[writeJsonl]]. */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  import Tracer.PropKey

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  @volatile private var current = 0L
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val own = new ConcurrentHashMap[Long, TaskAgg]

  sc.addSparkListener(this)

  def span[A](name: String)(f: => A): A = {
    val parent = current
    val rec = SpanRec(spans.size + 1L, parent, name, runId, System.nanoTime() - t0)
    spans += rec
    current = rec.id
    sc.setLocalProperty(PropKey, rec.id.toString)
    try f
    finally {
      rec.endNs = System.nanoTime() - t0
      current = parent
      sc.setLocalProperty(PropKey, if (parent == 0L) null else parent.toString)
    }
  }

  /** The most recently opened span without a parent. */
  def lastTopLevel: SpanRec = spans.findLast(_.parent == 0L).get

  def children(id: Long): Seq[SpanRec] = spans.filter(_.parent == id).toSeq

  /** Summed duration of the direct children of `id` called `name`. */
  def childSeconds(id: Long, name: String): Double =
    children(id).filter(_.name == name).map(_.seconds).sum

  /** Task counters of a span and all its descendants. Waits for the
    * listener bus first, so every finished task is counted. */
  def tasks(id: Long): TaskAgg = {
    PerfbenchBus.drain(sc)
    val ids = mutable.Set(id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    val sum = new TaskAgg
    ids.foreach(i => Option(own.get(i)).foreach(a => a.synchronized(sum.add(a))))
    sum
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      .map(_.toLong).getOrElse(current)
    stageSpan.put(e.stageInfo.stageId, id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val id: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(current)
    val a = own.computeIfAbsent(id, _ => new TaskAgg)
    a.synchronized {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** One JSON object per span, with the span's own task counters. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    PerfbenchBus.drain(sc)
    val lines = spans.map { s =>
      val a = Option(own.get(s.id)).getOrElse(new TaskAgg)
      Json.obj(
        "run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "tasks" -> a.tasks, "task_cpu_s" -> a.cpuNs / 1e9,
        "task_run_s" -> a.runMs / 1e3, "task_gc_s" -> a.gcMs / 1e3,
        "input_bytes" -> a.inputBytes, "input_records" -> a.inputRecords,
        "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "spill_bytes" -> a.spillBytes)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val PropKey = "perfbench.span"
}

/** Peak occupancy of the old generation. Objects reach it only when a
  * collection promotes them (or when they are too large for the young
  * generation), so its peak usage is its peak occupancy after GC. */
object OldGen {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def peak[A](f: => A): (A, Long) = {
    pools.foreach(_.resetPeakUsage())
    val r = f
    (r, pools.map(_.getPeakUsage.getUsed).sum)
  }
}
