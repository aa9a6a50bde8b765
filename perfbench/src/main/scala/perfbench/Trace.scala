package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters summed over the Spark jobs of one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    this
  }

  def toJson: String = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "records_read" -> recordsRead,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords))
}

/** SparkListener that attributes task metrics to benchmark spans.
  *
  * A job belongs to the span whose id was the thread's job group when the
  * job was submitted ([[Tracer.span]] sets it), or, for micro-batches of a
  * streaming query, to `stream-batch-<id>` from the batch-id property the
  * stream thread carries. Listener callbacks run on the one shared bus
  * thread; readers synchronize on the listener. */
final class EngineListener extends SparkListener {
  private val counters = mutable.HashMap[String, Counters]()
  private val stageKey = mutable.HashMap[Int, String]()
  private val jobKey = mutable.HashMap[Int, String]()
  private var endedSyncs = Set.empty[String]

  private def keyOf(props: java.util.Properties): String =
    if (props == null) null
    else {
      val g = props.getProperty("spark.jobGroup.id")
      if (g != null && g.startsWith(Tracer.GroupPrefix)) g
      else {
        val b = props.getProperty("streaming.sql.batchId")
        if (b != null) s"stream-batch-$b" else null
      }
    }

  private def c(k: String): Counters = counters.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    if (k != null) {
      jobKey.put(e.jobId, k)
      if (!k.startsWith(Tracer.SyncPrefix)) c(k).jobs += 1
      e.stageIds.foreach(stageKey.put(_, k))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // sync markers: the end of a job run under a sync group proves every
    // event posted before it has reached this listener (FIFO bus queue)
    jobKey.remove(e.jobId).filter(_.startsWith(Tracer.SyncPrefix))
      .foreach(endedSyncs += _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(k => c(k).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val x = c(k)
      x.tasks += 1
      if (m != null) {
        x.runMs += m.executorRunTime
        x.gcMs += m.jvmGCTime
        x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        x.recordsRead += m.inputMetrics.recordsRead
        x.outputBytes += m.outputMetrics.bytesWritten
        x.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  def syncSeen(group: String): Boolean = synchronized(endedSyncs(group))

  /** Counters of one key (a copy; zero when the key ran no job). */
  def get(k: String): Counters = synchronized {
    counters.get(k).map(new Counters().add(_)).getOrElse(new Counters)
  }
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    var endNs: Long = -1L)

/** In-memory span recorder around calls into the program's layers.
  *
  * Only spans opened while `recording` is on are kept, so a traced run can
  * alternate recorded and unrecorded operations and measure the tracing
  * overhead as the difference of their latencies. Spans are written out
  * once, at exit ([[toJson]]). */
final class Tracer(sc: SparkContext, val t0Ns: Long) {
  val listener = new EngineListener
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 1L
  private var attached = false
  var recording = false

  /** Run `body` inside a span named `name`; its Spark jobs are attributed
    * to the span. A no-op wrapper when not recording. */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
        System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach the listener (before a recorded operation). */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); attached = true
  }

  /** Wait until the listener has seen every event posted so far, then
    * detach it. The wait runs a one-task marker job under a sync group;
    * callers keep it outside any timed region. */
  def detach(): Unit = if (attached) {
    sync()
    sc.removeSparkListener(listener)
    attached = false
  }

  /** Detach without waiting (for a listener whose jobs run on another
    * thread, such as a streaming query's). */
  def detachNow(): Unit = if (attached) {
    sc.removeSparkListener(listener)
    attached = false
  }

  def sync(): Unit = {
    val g = Tracer.SyncPrefix + nextId
    nextId += 1
    sc.setJobGroup(g, "sync", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.syncSeen(g) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  private def group(id: Long): String = Tracer.GroupPrefix + id

  def all: Seq[Span] = spans.toSeq

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wall time of a span in ms. */
  def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6

  /** Counters of a span and all its descendants. */
  def subtree(s: Span): Counters = {
    val acc = listener.get(group(s.id))
    spans.filter(_.parent == s.id).foreach(ch => acc.add(subtree(ch)))
    acc
  }

  def toJson(extra: Seq[(String, String)]): String = {
    val ss = spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0Ns) / 1e6,
        "end_ms" -> (s.endNs - t0Ns) / 1e6,
        "counters" -> Json.Raw(listener.get(group(s.id)).toJson)))
    }
    Json.obj(Seq("spans" -> Json.Raw(ss.mkString("[", ",", "]"))) ++
      extra.map { case (k, v) => k -> Json.Raw(v) })
  }
}

object Tracer {
  val GroupPrefix = "pb-span-"
  val SyncPrefix = "pb-span-sync-"
}

/** Minimal JSON writer for flat objects of numbers, strings and nested raw
  * JSON (the benchmark prints and writes nothing more complex). */
object Json {
  final case class Raw(json: String)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case o => str(o.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")
}
