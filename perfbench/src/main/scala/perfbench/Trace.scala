package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** Counters of the local file system, shared by every instance of
  * [[CountingLocalFs]] in the process (driver and local-mode executors
  * alike). Only the outermost call of a nested chain counts, so an
  * `exists` that resolves through `getFileStatus` is one operation. */
object FsCounters {
  val metaOps = new AtomicLong()
  val bytesWritten = new AtomicLong()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  def meta[T](body: => T): T = {
    if (depth.get == 0) metaOps.incrementAndGet()
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}

/** `LocalFileSystem` that counts metadata operations and bytes written.
  * Hadoop's own local statistics report zero operations, so the traced
  * run installs this class through `spark.hadoop.fs.file.impl`. */
class CountingLocalFs extends LocalFileSystem {
  import FsCounters.meta

  override def getFileStatus(f: Path): FileStatus = meta(super.getFileStatus(f))
  override def exists(f: Path): Boolean = meta(super.exists(f))
  override def listStatus(f: Path): Array[FileStatus] = meta(super.listStatus(f))
  override def mkdirs(f: Path): Boolean = meta(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = meta(super.mkdirs(f, p))
  override def rename(src: Path, dst: Path): Boolean = meta(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    meta(super.delete(f, recursive))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    meta(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = meta {
    val inner = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    new FSDataOutputStream(new java.io.FilterOutputStream(inner) {
      override def write(b: Int): Unit = {
        inner.write(b); FsCounters.bytesWritten.incrementAndGet()
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        inner.write(b, off, len); FsCounters.bytesWritten.addAndGet(len)
      }
      override def flush(): Unit = inner.flush()
      override def close(): Unit = inner.close()
    }, null)
  }
}

/** One public call the benchmark made into a layer. Times are epoch ms
  * (the clock Spark stamps its events with); `fsMeta`/`fsBytes` are the
  * counter deltas over the call, `versions` the `v=` dirs it left. */
case class Span(name: String, startMs: Double, endMs: Double,
                fsMeta: Long, fsBytes: Long, versions: Long)

case class JobRec(id: Int, startMs: Long, endMs: Long)
case class TaskRec(launchMs: Long, runMs: Long, gcMs: Long,
                   shuffleBytes: Long, failed: Boolean)

/** Spark listener for the traced run: keeps every job interval and task
  * record with the event's own timestamp. Attribution to spans happens
  * afterwards by timestamp, which is exact here because the benchmark is
  * the only caller and makes one call at a time. */
class TraceListener extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  /** Time spent in these callbacks: the tracing's own cost. */
  val busyNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    timed(jobStarts.put(e.jobId, e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val s = jobStarts.remove(e.jobId)
    jobs.add(JobRec(e.jobId, s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks.add(TaskRec(e.taskInfo.launchTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      failed))
  }
}

/** Span recorder. Disabled (the untraced run) it only runs the body, so
  * the timed region carries no listener and no counters. */
class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val m0 = FsCounters.metaOps.get; val b0 = FsCounters.bytesWritten.get
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        spans += Span(name, t0, t1, FsCounters.metaOps.get - m0,
          FsCounters.bytesWritten.get - b0, 0L)
      }
    }

  /** A span from `startMs` to now, for work that began before the
    * recorder existed (process start to a ready session). */
  def record(name: String, startMs: Double): Unit =
    if (enabled) spans += Span(name, startMs, nowMs(),
      FsCounters.metaOps.get, FsCounters.bytesWritten.get, 0L)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch ms with sub-ms resolution, on Spark's event clock. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
