package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, StandardCopyOption}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark driver entry point.
  *
  * {{{
  * Main --workload <orders_batch|orders_stream|corpus_curation>
  *      --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  *      --stream-rate <files/s> [--trace-file <spans.json>]
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per reported figure, then
  * as its last stdout line one JSON object with `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced; traced, the
  * per-layer metrics this workload measured). Exits 3 when any correctness
  * check failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: File, streamRate: Double, traceFile: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work-dir")),
      need("--stream-rate").toDouble,
      new File(m.getOrElse("--trace-file", "trace.json")))
  }

  def main(argv: Array[String]): Unit = {
    Report.t0 // start of the run's clock
    HeapWatch.install()
    val args = parse(argv)
    val ctx = new Ctx(args)
    val workload: Workload = args.workload match {
      case "orders_batch" => new OrdersBatch(ctx)
      case "orders_stream" => new OrdersStream(ctx)
      case "corpus_curation" => new Curation(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val r = ctx.report
    try workload.run()
    catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"workload aborted: $e")
    } finally ctx.stop()
    r.info("error_rate",
      if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted, "ratio")
    r.e2e("peak_heap_mb", HeapWatch.peakAfterGcBytes / 1048576.0, "MB")
    // with the heap pinned, this reads mostly the heap size (not bounded)
    r.info("peak_rss_mb", Ctx.peakRssMb(), "MB")
    r.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    r.printAll(args.trace)
    System.out.flush()
    // non-daemon Spark threads must not keep the JVM alive
    Runtime.getRuntime.halt(if (r.correct) 0 else 3)
  }
}

object Report { val t0: Long = System.nanoTime() }

/** Metric sink and correctness ledger for one run. */
final class Report {
  final case class M(name: String, value: Double, unit: String)
  private val e2eM = mutable.LinkedHashMap[String, M]()
  private val layerM = mutable.LinkedHashMap[String, M]()
  private val infoM = mutable.LinkedHashMap[String, M]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def e2e(n: String, v: Double, u: String): Unit = {
    e2eM(n) = M(n, v, u); info(n, v, u)
  }
  def layer(n: String, v: Double, u: String): Unit = layerM(n) = M(n, v, u)
  /** A human-readable figure (workload-specific names, sample counts). */
  def info(n: String, v: Double, u: String): Unit = infoM(n) = M(n, v, u)

  /** Record the outcome of one attempted operation or check. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }
  def fail(what: String): Unit = check(ok = false, what)

  /** Diagnostic line on stderr (per-operation timings and the like). */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - Report.t0) / 1e9}%.2f s: $what")

  def correct: Boolean = failed == 0 && attempted > 0

  def printAll(trace: Boolean): Unit = {
    infoM.values.foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}"))
    if (trace) layerM.values.foreach(m =>
      println(f"layer ${m.name} ${m.value}%.6f ${m.unit}"))
    val ms = (if (trace) layerM else e2eM).values.toSeq.map { m =>
      m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))
    }
    println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(ms)))))
  }
}

/** Per-run context: arguments, scratch dirs, the report, the session. */
final class Ctx(val args: Main.Args) {
  val report = new Report
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val t0Ns: Long = System.nanoTime()
  val dir: File = args.workDir
  dir.mkdirs()
  private var session: SparkSession = _
  var tracer: Tracer = _

  def sub(name: String): File = { val f = new File(dir, name); f.mkdirs(); f }

  /** Start a session with the engine's own configuration, isolated to this
    * run: its warehouse (where WarehouseCache keeps ANN indexes) and local
    * dirs live under the run's scratch dir, never at the engine's default
    * warehouse, so no index carries across runs or checkouts. */
  def startSession(tag: String): SparkSession = {
    stop()
    val s = GraftSession.builder(cpus.toString)
      .config("spark.sql.warehouse.dir", sub(s"warehouse-$tag").getAbsolutePath)
      .config("spark.local.dir", sub(s"spark-local-$tag").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    session = s
    tracer = new Tracer(s.sparkContext, t0Ns)
    s
  }

  def spark: SparkSession = session

  def stop(): Unit = if (session != null) {
    session.stop(); session = null
  }

  /** Run `setup` `n` times, each in a fresh session (the last one stays
    * up for the measurement), and report the median as `setup_s`. Set-up
    * time is the program's: session start, warm-up, index builds. */
  def repeatedSetup(n: Int)(setup: Int => Double): Unit = {
    val times = (0 until n).map { i =>
      val t = setup(i); report.log(f"setup $i: $t%.2f s"); t }
    report.info("setup_samples", n.toDouble, "count")
    times.zipWithIndex.foreach { case (t, i) => report.info(s"setup_${i}_s", t, "s") }
    report.e2e("setup_s", Stats.median(times), "s")
  }

  /** Between phases, outside timed regions: drop persisted RDDs and
    * collect garbage, so a phase does not pay for the previous one's. */
  def quiesce(): Unit = { dropPersisted(); System.gc() }

  /** Drop every persisted/checkpointed RDD (outside timed regions). */
  def dropPersisted(): Unit =
    session.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def writeTrace(extra: Seq[(String, String)]): Unit = if (args.trace) {
    val f = args.traceFile
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, tracer.toJson(extra).getBytes("UTF-8"))
    report.info("trace_spans", tracer.all.size.toDouble, "count")
  }
}

object Ctx {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def link(src: File, dst: File): Unit =
    try Files.createLink(dst.toPath, src.toPath)
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Parquet data files (and their total bytes) under `dir`, recursively. */
  def parquetFiles(dir: File): (Int, Long) = {
    var n = 0
    var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) { n += 1; b += f.length() }
    walk(dir)
    (n, b)
  }
}

/** Heap in use right after each garbage collection, from the JVM's GC
  * notifications: its maximum over the run is what the program held live
  * at once, plus old-generation garbage not yet collected. Unlike the
  * resident set, it does not depend on how much of the pinned heap the
  * collector happened to touch. */
object HeapWatch {
  @volatile var peakAfterGcBytes = 0L

  def install(): Unit = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (p, u) if pools(p) => u.getUsed }.sum
          synchronized { if (used > peakAfterGcBytes) peakAfterGcBytes = used }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** One benchmark workload. */
trait Workload { def run(): Unit }

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secs(ns: Long): Double = ns / 1e9
  def ms(ns: Long): Double = ns / 1e6
}
