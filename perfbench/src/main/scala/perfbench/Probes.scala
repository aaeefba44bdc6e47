package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sink.Sink

/** Wall clock in epoch microseconds, comparable across the benchmark's
  * processes on one host.
  */
object Clock {
  def nowUs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }
}

/** Process-level readings: resident-set high-water mark, live heap, GC and
  * CPU time.
  */
object Jvm {
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap in use right after a full collection, in MB: the live data. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of the whole process (all threads), in seconds. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

/** A [[Sink]] that times each `append` of the wrapped sink and tags it
  * with the micro-batch that issued it (Spark's `streaming.sql.batchId`
  * thread property, set while `foreachBatch` runs).
  */
final class TimedSink(inner: Sink) extends Sink {
  import TimedSink.Append
  private val log = new ConcurrentLinkedQueue[Append]()

  override def append(df: DataFrame, table: String): Unit = {
    val batch = Option(df.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)
    val t0 = Clock.nowUs()
    var ok = false
    try { inner.append(df, table); ok = true }
    finally log.add(Append(batch, table, t0, Clock.nowUs(), ok))
  }

  def appends: Vector[Append] = log.asScala.toVector
}

object TimedSink {
  final case class Append(batchId: Long, table: String, startUs: Long, endUs: Long, ok: Boolean)
}

/** Reads a finished query's checkpoint: which source files each
  * micro-batch carried. `offsets/<batch>` holds the file source's log
  * offset for the batch; the files under `sources/0` list the files of each
  * log offset.
  */
object CheckpointFiles {
  private val LogOffset = "\"logOffset\":(\\d+)".r
  private val PathField = "\"path\":\"([^\"]+)\"".r
  private val BatchField = "\"batchId\":(\\d+)".r

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  private def numbered(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?")).toSeq

  def filesByBatch(ckpt: Path): Map[Long, Seq[String]] = {
    val offsets: Seq[(Long, Long)] = numbered(ckpt.resolve("offsets")).flatMap { p =>
      lines(p).flatMap(l => LogOffset.findFirstMatchIn(l)).headOption
        .map(m => p.getFileName.toString.toLong -> m.group(1).toLong)
    }.sortBy(_._1)
    val filesOfOffset: Map[Long, Seq[String]] = numbered(ckpt.resolve("sources").resolve("0"))
      .flatMap(lines)
      .flatMap { l =>
        for (p <- PathField.findFirstMatchIn(l); b <- BatchField.findFirstMatchIn(l))
          yield b.group(1).toLong -> p.group(1).split('/').last
      }
      .distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var prev = -1L
    offsets.map { case (batch, off) =>
      val files = (prev + 1 to off).flatMap(o => filesOfOffset.getOrElse(o, Nil))
      prev = off
      batch -> files
    }.toMap
  }
}

/** Collects every streaming progress event of the run (traced runs only). */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = q.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Vector[StreamingQueryProgress] = q.asScala.toVector
}

/** Spark job and task accounting (traced runs only). A job carries the
  * micro-batch id when the streaming engine submitted it; task metrics are
  * summed per stage.
  */
final class JobLog extends SparkListener {
  import JobLog._
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()

  private def prop(s: SparkListenerJobStart, k: String): Option[String] =
    Option(s.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(s: SparkListenerJobStart): Unit = starts.put(s.jobId, s)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(starts.remove(e.jobId)).foreach { s =>
    jobs.add(Job(e.jobId, s.time * 1000L, math.max(s.time, e.time) * 1000L,
      prop(s, "spark.job.description").getOrElse(s.stageInfos.headOption.map(_.name).getOrElse("job")),
      prop(s, "streaming.sql.batchId").map(_.toLong), s.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stages.compute(e.stageId, (_, old) => Option(old).getOrElse(TaskAgg()) + TaskAgg(
      tasks = 1,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled + m.memoryBytesSpilled,
      inputBytes = m.inputMetrics.bytesRead))
  }

  def allJobs: Vector[Job] = jobs.asScala.toVector.sortBy(_.id)

  /** Task totals over the distinct stages of `js`. */
  def taskAgg(js: Seq[Job]): TaskAgg =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id))).foldLeft(TaskAgg())(_ + _)
}

object JobLog {
  final case class Job(
      id: Int, startUs: Long, endUs: Long, desc: String, batchId: Option[Long], stageIds: Seq[Int])
  final case class TaskAgg(
      tasks: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, inputBytes: Long = 0) {
    def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes)
  }
}
