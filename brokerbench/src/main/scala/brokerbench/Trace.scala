package brokerbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded span: a call from the benchmark into one engine layer. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    fsList: Long, fsWrite: Long, parquetCreated: Long, bucketsCreated: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-span Spark work, filled by [[Tracer.JobListener]] from the listener bus. */
final class SparkWork {
  val jobs = new AtomicLong
  val taskNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong
}

/** Spans kept in memory and summarised when the run ends. A span is opened
  * around each call from the benchmark into an engine layer. Jobs are
  * attributed through a Spark local property that names the innermost span
  * open on the calling thread when the job started, because adaptive query
  * execution submits stages from pool threads whose names say nothing of the
  * caller. Filesystem calls are counted by [[CountingFileSystem]] and taken
  * as process-wide deltas over the span. When tracing is off every call is
  * a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val work = new ConcurrentHashMap[Long, SparkWork]()
  private val lastEventNs = new AtomicLong(System.nanoTime())
  val PropKey = "brokerbench.span"

  def workOf(id: Long): SparkWork = work.computeIfAbsent(id, _ => new SparkWork)

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(PropKey)
      stack.set(id :: parents)
      sc.setLocalProperty(PropKey, id.toString)
      val (l0, w0, p0) = (CountingFileSystem.listOps.get, CountingFileSystem.writeOps.get,
        CountingFileSystem.parquetCreates.get)
      val b0 = CountingFileSystem.bucketSnapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val buckets = CountingFileSystem.bucketsSince(b0)
        done.add(Span(id, parents.headOption.getOrElse(0L), name, t0, t1,
          CountingFileSystem.listOps.get - l0, CountingFileSystem.writeOps.get - w0,
          CountingFileSystem.parquetCreates.get - p0, buckets))
        stack.set(parents)
        sc.setLocalProperty(PropKey, saved)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Listener-bus events arrive asynchronously; wait until none has come for
    * a quarter second (at most 10 s) before summarising. */
  def quiesce(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs.get < 250000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  final class JobListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private def touch(): Unit = lastEventNs.set(System.nanoTime())
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      workOf(id).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
        w.taskNs.addAndGet(m.executorRunTime * 1000000L)
        w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = touch()
  }

  /** Spark work of a span and all its descendants. */
  def subtreeWork(root: Span): (Long, Double, Long, Long) = {
    val children = spans.groupBy(_.parent)
    def ids(s: Span): Seq[Long] = s.id +: children.getOrElse(s.id, Nil).flatMap(ids)
    val ws = ids(root).flatMap(i => Option(work.get(i)))
    (ws.map(_.jobs.get).sum, ws.map(_.taskNs.get).sum / 1e6,
      ws.map(_.shuffleBytes.get).sum, ws.map(_.recordsRead.get).sum)
  }
}

/** The local filesystem with call counters, installed as `fs.file.impl` in
  * traced runs only. Counts directory listings, every mutating call, and
  * created parquet files with the bucket directories they land in. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = { listOps.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { listOps.incrementAndGet(); super.listLocatedStatus(f) }
  override def listStatusIterator(f: Path) = { listOps.incrementAndGet(); super.listStatusIterator(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable) = {
    writeOps.incrementAndGet()
    if (f.getName.endsWith(".parquet")) {
      parquetCreates.incrementAndGet()
      val bucket = f.getParent
      if (bucket != null && bucket.getName.startsWith("bucket=")) createdIn(bucket.toString)
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writeOps.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writeOps.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writeOps.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingFileSystem {
  val listOps = new AtomicLong
  val writeOps = new AtomicLong
  val parquetCreates = new AtomicLong
  // bucket directory -> sequence of the last create into it
  private val seqNo = new AtomicLong
  private val lastCreate = new ConcurrentHashMap[String, Long]()
  private def createdIn(bucket: String): Unit = {
    // a task writes its file under a _temporary attempt dir named after the
    // bucket path, so strip the attempt prefix to name the final bucket
    val i = bucket.indexOf("/stream_id=")
    lastCreate.put(if (i < 0) bucket else bucket.substring(i), seqNo.incrementAndGet())
  }
  def bucketSnapshot(): Long = seqNo.get
  /** Distinct bucket directories that received a parquet file after `since`. */
  def bucketsSince(since: Long): Long = lastCreate.values().asScala.count(_ > since).toLong
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this process, from /proc/self/status (VmHWM). */
  /** CPU time this JVM has used so far, all threads, in milliseconds. */
  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
