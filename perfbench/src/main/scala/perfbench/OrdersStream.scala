package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  Trigger}

import graft.pipeline.Split
import graft.streaming.FoodOrdersStream

/** `orders_stream`: the same layers driven as a stream. An open-loop
  * generator renames small daily files into the watched dir at a fixed
  * rate (`--stream-rate` files/s, about half the drain capacity), and
  * `FoodOrdersStream.start` runs with a fixed short trigger; the run ends
  * with a backlog drain. Fixed per-micro-batch costs (planning, WAL, the
  * idempotent dynamic-overwrite sink, archiving) dominate; Clean is nearly
  * free. Latency runs from a file's due rename time to the commit of the
  * micro-batch holding it, read from the query's checkpoint. */
final class OrdersStream(ctx: Ctx) extends Workload {
  import OrdersStream._
  private val r = ctx.report
  private var query: StreamingQuery = _

  private final class Dirs(tag: String) {
    val in: File = ctx.sub(s"$tag-in")
    val out: File = ctx.sub(s"$tag-out")
    val ckpt: File = new File(ctx.dir, s"$tag-ckpt")
    val archive: File = ctx.sub(s"$tag-archive")
  }

  def run(): Unit = {
    val rate = ctx.args.streamRate
    val nMeasured = math.max(2, math.round(rate * ctx.args.seconds).toInt)
    val nFiles = SetupRepeats + WarmFiles + nMeasured + DrainFiles
    val t = System.nanoTime()
    val staging = ctx.sub("staging")
    val files = (0 until nFiles).map { k =>
      val f = new File(staging, f"food_daily_$k%05d.csv")
      f -> Gen.foodFile(f, RowsPerFile, ctx.args.seed, k)
    }
    r.info("gen_s", Stats.secs(System.nanoTime() - t), "s")
    r.info("rows_per_file", RowsPerFile.toDouble, "rows")
    r.info("stream_rate", rate, "files/s")
    var next = 0
    def take(n: Int) = { val fs = files.slice(next, next + n); next += n; fs }

    var dirs: Dirs = null
    var fed = Vector.empty[(File, Gen.FoodCounts)]
    ctx.repeatedSetup(SetupRepeats) { i =>
      val t0 = System.nanoTime()
      if (query != null) query.stop()
      val s = ctx.startSession(s"s$i")
      dirs = new Dirs(s"s$i")
      query = FoodOrdersStream.start(s, dirs.in.getAbsolutePath,
        dirs.out.getAbsolutePath, dirs.ckpt.getAbsolutePath,
        dirs.archive.getAbsolutePath, Trigger.ProcessingTime(TriggerMs))
      // set-up ends when the first micro-batch of the fresh query commits
      val first = take(1)
      first.foreach { case (f, _) => moveInto(f, dirs.in) }
      fed = first.toVector
      awaitCommits(dirs, 1)
      Stats.secs(System.nanoTime() - t0)
    }
    // JIT warm-up, once, outside set-up and measurement
    val warm = take(WarmFiles)
    warm.foreach { case (f, _) => moveInto(f, dirs.in) }
    fed ++= warm
    awaitCommits(dirs, fed.size)
    ctx.quiesce()

    val s = ctx.spark
    val tr = ctx.tracer
    val backlog = mutable.ArrayBuffer[Double]()
    val gone = new ConcurrentHashMap[String, java.lang.Double]()
    @volatile var polling = ctx.args.trace
    val poller = new Thread(() => {
      // archive lag: when each file leaves the input dir
      var present = Set.empty[String]
      while (polling) {
        val now = epochMs()
        val names = Option(dirs.in.list()).map(_.toSet).getOrElse(Set.empty)
        (present -- names).foreach(n => gone.putIfAbsent(n, now))
        present = names
        Thread.sleep(5)
      }
    })
    if (ctx.args.trace) {
      s.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent) = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent) =
          if (e.progress.numInputRows > 0) backlog.synchronized {
            backlog += Option(dirs.in.listFiles()).map(_.count(_.isFile))
              .getOrElse(0).toDouble
          }
      })
      poller.setDaemon(true)
      poller.start()
    }

    // open loop: file k is due at start + k / rate, whatever the stream
    // does, plus k / n of one trigger period. The trigger fires on
    // epoch-aligned ticks, so without the stagger every file of a run would
    // wait the same (random) share of a period for its tick; staggered, each
    // run samples the whole period evenly.
    val measured = take(nMeasured)
    val due = new Array[Double](nMeasured)
    val late = new Array[Double](nMeasured)
    val start = epochMs() + 50.0
    measured.zipWithIndex.foreach { case ((f, _), k) =>
      due(k) = start + k * 1000.0 / rate + k * TriggerMs.toDouble / nMeasured
      val wait = due(k) - epochMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      if (ctx.args.trace) {
        // alternate recorded / unrecorded files for the overhead figure
        if (k % 2 == 1) tr.attach()
        else if (k > 0) tr.detachNow()
      }
      late(k) = epochMs() - due(k)
      moveInto(f, dirs.in)
    }
    fed ++= measured
    awaitCommits(dirs, fed.size)
    if (ctx.args.trace) tr.detachNow()

    // backlog drain: every drain file at once
    val drain = take(DrainFiles)
    val drainStart = epochMs()
    drain.foreach { case (f, _) => moveInto(f, dirs.in) }
    fed ++= drain
    awaitCommits(dirs, fed.size)
    val ck = checkpoint(dirs)
    // drain throughput: one file per micro-batch, so rows per second is a
    // file's rows over the median gap between successive drain commits
    // (the first gap counted from the drop); robust to one slow batch
    val commits = drain.map { case (f, _) => ck.commitMs(f.getName) }.sorted
    val gaps = (drainStart +: commits).sliding(2).map(w => w(1) - w(0)).toSeq
    val drainRate = RowsPerFile / (Stats.median(gaps) / 1e3)
    val drainEnd = commits.last

    val lat = measured.zipWithIndex.map { case ((f, _), k) =>
      (ck.commitMs(f.getName) - due(k), ctx.args.trace && k % 2 == 1) }
    val timed = lat.filterNot(_._2).map(_._1)
    lat.zipWithIndex.foreach { case ((ms, t), k) =>
      r.log(f"file $k: latency $ms%.1f ms late ${late(k)}%.1f ms traced=$t") }
    r.log(f"drain: ${drainEnd - drainStart}%.1f ms for $DrainFiles files")
    r.e2e("items_per_s", drainRate, "items/s")
    r.e2e("op_latency_p50_ms", Stats.median(timed), "ms")
    r.info("stream_drain_rows_per_s", drainRate, "rows/s")
    r.info("stream_drain_total_rows_per_s",
      DrainFiles.toLong * RowsPerFile / ((drainEnd - drainStart) / 1e3), "rows/s")
    r.info("stream_latency_p50_ms", Stats.median(timed), "ms")
    r.info("stream_latency_samples", timed.size.toDouble, "count")
    r.info("generator_late_p50_ms", Stats.median(late.toSeq), "ms")
    r.info("generator_late_max_ms", late.max, "ms")

    // correctness: archive, then every row exactly once. The file source
    // archives a batch's files when it plans the NEXT batch, so the final
    // batch's one file stays in the input dir; every earlier file must
    // have left it for the archive.
    val lastFile = fed.last._1.getName
    def leftover = Option(dirs.in.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).map(_.getName).toSet
    val deadline = System.nanoTime() + 10L * 1000000000L
    while ((leftover - lastFile).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    polling = false
    query.stop()
    r.check(query.exception.isEmpty, s"stream failed: ${query.exception}")
    r.check((leftover - lastFile).isEmpty,
      s"input dir ends with unarchived files ${leftover - lastFile}")
    val archived = mutable.Set[String]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else archived += f.getName
    walk(dirs.archive)
    val missing = fed.map(_._1.getName).filterNot(n => archived(n) || n == lastFile)
    r.check(missing.isEmpty, s"${missing.size} files not archived")
    r.info("stream_unarchived_at_end", leftover.size.toDouble, "count")
    val exp = fed.map(_._2).reduce(_ + _)
    val out = s.read.parquet(dirs.out.getAbsolutePath)
    val agg = out.agg(org.apache.spark.sql.functions.count("*"),
      countDistinct(col("order_id"))).head()
    r.check(agg.getLong(0) == exp.total && agg.getLong(1) == exp.total,
      s"stream sink rows ${agg.getLong(0)} (distinct ${agg.getLong(1)}) != ${exp.total}")
    val byBranch = out.groupBy(col(Split.BranchCol)).count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    r.check(byBranch.getOrElse("delivered", 0L) == exp.delivered &&
      byBranch.getOrElse("other", 0L) == exp.other,
      s"stream branches $byBranch != (${exp.delivered}, ${exp.other})")
    r.check(lat.size == nMeasured && lat.forall(_._1 > 0),
      "a streamed file has no commit after its rename")
    Golden.check(ctx)

    if (ctx.args.trace) {
      val prog = query.recentProgress.filter(_.numInputRows > 0)
      def dur(k: String): Double = Stats.median(prog.toSeq
        .flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
      r.layer("stream_latest_offset_ms", dur("latestOffset"), "ms")
      r.layer("stream_get_batch_ms", dur("getBatch"), "ms")
      r.layer("stream_query_planning_ms", dur("queryPlanning"), "ms")
      r.layer("stream_wal_commit_ms", dur("walCommit"), "ms")
      r.layer("stream_add_batch_ms", dur("addBatch"), "ms")
      r.layer("stream_commit_offsets_ms", dur("commitOffsets"), "ms")
      r.layer("stream_rows_per_batch",
        Stats.median(prog.toSeq.map(_.numInputRows.toDouble)), "rows")
      val bl = backlog.synchronized(backlog.toSeq)
      r.layer("stream_backlog_files_p50", Stats.median(bl), "count")
      r.layer("stream_backlog_files_max", if (bl.isEmpty) 0.0 else bl.max,
        "count")
      val lags = fed.map(_._1.getName).flatMap(n =>
        Option(gone.get(n)).map(_.doubleValue - ck.commitMs(n)))
      r.layer("stream_archive_lag_ms", Stats.median(lags), "ms")
      val recorded = measured.zipWithIndex.filter(_._2 % 2 == 1)
        .map { case ((f, _), _) => ck.batchOf(f.getName) }
      Engine.reportCounters(ctx, "stream", recorded.map { b =>
        (tr.listener.get(s"stream-batch-$b"), ck.batchMs(b)) })
      Engine.overhead(ctx, lat)
      // micro-batches as spans of the stream (times from the checkpoint)
      val batches = fed.map(_._1.getName).map { n =>
        val b = ck.batchOf(n)
        Json.obj(Seq("name" -> "FoodOrdersStream.batch", "batch_id" -> b,
          "file" -> n, "start_ms" -> (ck.commitMs(n) - ck.batchMs(b)),
          "end_ms" -> ck.commitMs(n), "recorded" -> recorded.contains(b),
          "counters" -> Json.Raw(tr.listener.get(s"stream-batch-$b").toJson)))
      }
      ctx.writeTrace(Seq("stream_batches_epoch_ms" ->
        batches.mkString("[", ",", "]")))
    }
  }

  private def epochMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  private def moveInto(f: File, dir: File): Unit =
    Files.move(f.toPath, new File(dir, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)

  /** Block until `n` micro-batches have committed (fails after 120 s). */
  private def awaitCommits(d: Dirs, n: Int): Unit = {
    val commits = new File(d.ckpt, "commits")
    val deadline = System.nanoTime() + 120L * 1000000000L
    def done = Option(commits.list()).map(_.count(_.forall(_.isDigit)))
      .getOrElse(0)
    while (done < n) {
      if (System.nanoTime() > deadline || query.exception.isDefined)
        throw new IllegalStateException(
          s"stream committed $done of $n batches: ${query.exception}")
      Thread.sleep(5)
    }
  }

  /** The query's checkpoint, read after the fact: which batch took each
    * file (file-source log) and when each batch committed (commit-log file
    * modification time). */
  private final class Checkpoint(fileBatch: Map[String, Long],
      commit: Map[Long, Double], started: Map[Long, Double]) {
    def batchOf(name: String): Long = fileBatch(name)
    def commitMs(name: String): Double = commit(fileBatch(name))
    def batchMs(b: Long): Double = commit(b) - started(b)
  }

  private def checkpoint(d: Dirs): Checkpoint = {
    def mtimeMs(f: File): Double =
      Files.getLastModifiedTime(f.toPath).to(TimeUnit.MICROSECONDS) / 1e3
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val fileBatch = Option(new File(d.ckpt, "sources/0").listFiles())
      .getOrElse(Array.empty[File]).filter(f => !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.flatMap(l =>
        entry.findFirstMatchIn(l).map(m =>
          new File(new java.net.URI(m.group(1)).getPath).getName ->
            m.group(2).toLong)))
      .toMap
    def batchTimes(sub: String): Map[Long, Double] =
      Option(new File(d.ckpt, sub).listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.forall(_.isDigit))
        .map(f => f.getName.toLong -> mtimeMs(f)).toMap
    new Checkpoint(fileBatch, batchTimes("commits"), batchTimes("offsets"))
  }
}

object OrdersStream {
  val RowsPerFile = 5000
  val WarmFiles = 5
  val DrainFiles = 8
  val SetupRepeats = 3
  val TriggerMs = 100L
}
