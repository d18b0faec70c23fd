package perfbench

import java.nio.file.{Files, Path => JPath, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one Spark session at `local[cores]`, one client,
  * closed loop. Reads only the inputs `run.py` generated, writes only
  * under `--work`, and leaves one JSON document at `--out` holding the
  * raw measurements (op latencies, phase times, spans, Spark jobs and
  * tasks, check results). `run.py` derives every reported metric.
  *
  * Usage: Main --workload <name> --inputs <dir> --work <dir>
  *   --seconds <s> --trace <0|1> --out <file> --cores <n>
  */
object Main {

  case class Args(workload: String, inputs: String, work: String,
                  seconds: Double, trace: Boolean, out: String, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("out"), m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "medallion_batches" => new MedallionWorkload(a.inputs)
      case "query_mix" => new QueryMixWorkload(a.inputs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val root = s"${a.work}/run"
    val loop = new Loop(new Tracer(a.trace))
    val spark = session(a)
    val listener = new TraceListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    // core.setup: process start to a ready session; the workload's own
    // set-up (its warm-up included) follows in its own spans
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    loop.tracer.record("core.setup", jvmStartMs.toDouble)
    workload.setup(spark, root, loop)
    val readyMs = System.currentTimeMillis().toDouble

    workload.run(spark, root, loop, a.seconds)
    if (a.trace) {
      org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val c0 = System.nanoTime()
    val checks = workload.check(spark, root, loop)
    System.err.println(f"[perfbench] checks: ${(System.nanoTime() - c0) / 1e9}%.3f s")

    val j = new Json
    j.num("ready_ms", readyMs)
    j.num("cores", a.cores)
    j.raw("loop", loop.toJson)
    j.arr("jobs", listener.jobs.asScala.toSeq.map(r =>
      s"[${r.id},${r.startMs},${r.endMs}]"))
    j.arr("tasks", listener.tasks.asScala.toSeq.map(t =>
      s"[${t.launchMs},${t.runMs},${t.gcMs},${t.shuffleBytes},${if (t.failed) 1 else 0}]"))
    j.arr("checks", checks.map { case (n, ok, d) =>
      val c = new Json; c.str("name", n); c.bool("ok", ok); c.str("detail", d); c.toString })
    j.num("vmhwm_kb", Loop.vmHwmKb().toDouble)
    j.num("listener_busy_s", listener.busyNs.get / 1e9)
    Files.writeString(Paths.get(a.out), j.toString)
    val s0 = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] stop: ${(System.nanoTime() - s0) / 1e9}%.3f s")
  }

  def session(a: Args): SparkSession = {
    // SparkConf picks up spark.* system properties: the session is built
    // by the program's own factory, with these two additions
    System.setProperty("spark.local.dir", s"${a.work}/spark-local")
    if (a.trace)
      System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = graft.core.SparkSessionFactory.local(a.cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One workload: `setup` prepares `root` and warms the engine (untimed
  * by the loop, but inside the reported set-up time); `run` drives the
  * closed loop on `root` until `seconds` pass and its minimum steps ran,
  * recording them as the `steps` count; `check` verifies the outputs
  * with the clock stopped, returning (name, ok, detail). */
trait Workload {
  def setup(spark: SparkSession, root: String, loop: Loop): Unit
  def run(spark: SparkSession, root: String, loop: Loop, seconds: Double): Unit
  def check(spark: SparkSession, root: String, loop: Loop): Seq[(String, Boolean, String)]
}

/** Closed-loop bookkeeping: every timed call, the ops among them, the
  * per-phase times, the steal canary around each op, and the counts the
  * derived metrics need. */
class Loop(val tracer: Tracer) {
  case class Op(kind: String, seconds: Double, ok: Boolean)
  val ops = ArrayBuffer[Op]()
  val phases = ArrayBuffer[(String, Double)]()
  val canary = ArrayBuffer[Double]()
  val counts = scala.collection.mutable.LinkedHashMap[String, Double]()
  var wallS = 0.0
  /** Heap in use after a full collection, max over timed calls' starts. */
  var liveHeapMb = 0.0
  /** The `v=` dirs the last store-counted call left. */
  var lastFresh = Set.empty[String]

  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  /** Time one call. `op` = the call is an op for op latency (else only
    * a phase in the timed region). With `store`, the `v=` version dirs
    * the call left under it are counted, with the clock stopped, into
    * its span and the `written_bytes` count. A throwing call counts as
    * a failed op and the loop goes on. */
  def timed[T](kind: String, span: String, op: Boolean,
               store: Option[String] = None)(body: => T): Option[T] =
    call(kind, span, op, store, timedRegion = true)(body)

  /** A set-up call: traced and version-counted like [[timed]], but
    * outside the timed region (no op, no wall, no canary). */
  def setupCall[T](kind: String, span: String, store: Option[String] = None)(
      body: => T): T =
    call(kind, span, op = false, store, timedRegion = false)(body).getOrElse(
      throw new IllegalStateException(s"set-up call $kind failed"))

  private def call[T](kind: String, span: String, op: Boolean,
                      store: Option[String], timedRegion: Boolean)(body: => T): Option[T] = {
    val before = store.map(Loop.versionDirs)
    if (timedRegion) {
      // every timed call starts from a collected heap: the garbage of the
      // previous call is not billed to this one, and what stays live is
      // the run's retained memory
      liveHeapMb = math.max(liveHeapMb, Loop.liveHeapMb())
      canary += Loop.canary()
    }
    val t0 = System.nanoTime()
    val r = scala.util.Try(tracer.span(span)(body))
    val s = (System.nanoTime() - t0) / 1e9
    for (b <- before; root <- store) {
      val fresh = Loop.versionDirs(root) -- b
      lastFresh = fresh
      add(s"$kind.written_bytes", fresh.toSeq.map(Loop.bytesUnder).sum.toDouble)
      add(s"$kind.versions", fresh.size.toDouble)
      if (tracer.enabled && tracer.spans.nonEmpty)
        tracer.spans(tracer.spans.size - 1) =
          tracer.spans.last.copy(versions = fresh.size.toLong)
    }
    System.err.println(f"[perfbench] $kind: $s%.3f s")
    add(s"$kind.seconds", s)
    if (timedRegion) {
      canary += Loop.canary()
      wallS += s
      if (op) ops += Op(kind, s, r.isSuccess)
      phases += ((kind, s))
      if (!op && r.isFailure) ops += Op(kind, s, ok = false)
    }
    r.failed.foreach(e => System.err.println(s"[perfbench] $kind failed: $e"))
    r.toOption
  }

  /** Whether the loop takes another plan step: until `seconds` have
    * passed and at least `min` steps ran. */
  def more(done: Int, available: Int, min: Int, seconds: Double,
           startNs: Long): Boolean =
    done < available && (done < min || (System.nanoTime() - startNs) / 1e9 < seconds)

  def toJson: String = {
    val j = new Json
    j.num("wall_s", wallS)
    j.num("live_heap_mb", math.max(liveHeapMb, Loop.liveHeapMb()))
    j.arr("ops", ops.toSeq.map(o =>
      s"[${Json.s(o.kind)},${Json.n(o.seconds)},${o.ok}]"))
    j.arr("phases", phases.toSeq.map { case (k, s) => s"[${Json.s(k)},${Json.n(s)}]" })
    j.arr("canary", canary.toSeq.map(Json.n))
    j.raw("counts", {
      val c = new Json; counts.foreach { case (k, v) => c.num(k, v) }; c.toString
    })
    j.arr("spans", tracer.spans.toSeq.map(Loop.spanJson))
    j.toString
  }
}

object Loop {
  def spanJson(s: Span): String =
    s"[${Json.s(s.name)},${Json.n(s.startMs)},${Json.n(s.endMs)},${s.fsMeta},${s.fsBytes},${s.versions}]"

  def liveHeapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Fixed single-threaded CPU loop; its time tracks host steal, not the
    * program. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 10000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def walk(root: String): Seq[JPath] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  /** Every `v=<n>` version dir under `root` (listed with java.nio, so the
    * counting file system never sees the benchmark's own listings). */
  def versionDirs(root: String): Set[String] =
    walk(root).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("v=")).map(_.toString).toSet

  /** Bytes of regular files under `p`. */
  def bytesUnder(p: String): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
}

/** Minimal JSON object writer (the harness avoids extra dependencies). */
class Json {
  private val fields = ArrayBuffer[String]()
  def raw(k: String, v: String): Unit = fields += s"${Json.s(k)}:$v"
  def num(k: String, v: Double): Unit = raw(k, Json.n(v))
  def str(k: String, v: String): Unit = raw(k, Json.s(v))
  def bool(k: String, v: Boolean): Unit = raw(k, v.toString)
  def arr(k: String, vs: Seq[String]): Unit = raw(k, vs.mkString("[", ",", "]"))
  override def toString: String = fields.mkString("{", ",", "}")
}

object Json {
  def s(v: String): String = graft.core.JsonText.escape(v)
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
