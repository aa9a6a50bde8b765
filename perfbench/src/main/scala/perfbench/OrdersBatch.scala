package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pipeline.{Clean, FileClaimer, FoodOrdersDriver, FoodOrdersJob,
  Ingest, Split}

/** `orders_batch`: the paper's daily job at scale. Each operation is one
  * `FoodOrdersDriver.runCycle` (sense → claim → `runSinglePass`) over one
  * large daily file, linked into the input dir before the timer starts.
  * Loads Ingest, Clean and Sink; per-job overhead is a small share. */
final class OrdersBatch(ctx: Ctx) extends Workload {
  import OrdersBatch._
  private val r = ctx.report

  def run(): Unit = {
    val t = System.nanoTime()
    val src = new File(ctx.sub("gen"), "food_daily_src.csv")
    val expected = Gen.foodFile(src, RowsPerFile, ctx.args.seed, 0)
    r.info("gen_s", Stats.secs(System.nanoTime() - t), "s")
    r.info("rows_per_file", RowsPerFile.toDouble, "rows")
    r.info("bytes_per_file", src.length().toDouble, "bytes")

    val small = new File(ctx.sub("gen"), "food_daily_small.csv")
    val smallExpected = Gen.foodFile(small, SetupRows, ctx.args.seed, 1)
    ctx.repeatedSetup(SetupRepeats) { i =>
      // session start + the first cycle of a fresh session (small file)
      val t0 = System.nanoTime()
      val s = ctx.startSession(s"s$i")
      val in = ctx.sub(s"setup$i-in")
      Ctx.link(small, new File(in, s"food_daily_setup$i.csv"))
      val got = FoodOrdersDriver.runCycle(s, cfg(in, ctx.sub(s"setup$i-out")))
      val secs = Stats.secs(System.nanoTime() - t0)
      checkCounts(got, smallExpected, s"set-up cycle $i")
      secs
    }
    // JIT warm-up, once, outside set-up and measurement: full cycles
    val warmIn = ctx.sub("warm-in")
    val warmOut = ctx.sub("warm-out")
    (0 until WarmCycles).foreach { w =>
      Ctx.link(src, new File(warmIn, s"food_daily_warm$w.csv"))
      checkCounts(FoodOrdersDriver.runCycle(ctx.spark, cfg(warmIn, warmOut)),
        expected, s"warm-up cycle $w")
    }
    r.log("warm-up done")
    ctx.quiesce()

    val s = ctx.spark
    val tr = ctx.tracer
    val inDir = ctx.sub("in")
    val outDir = ctx.sub("out")
    val c = cfg(inDir, outDir)
    val lat = collection.mutable.ArrayBuffer[(Double, Boolean)]()
    val layers = new LayerSamples
    var ok = 0L
    val deadline = System.nanoTime() + (ctx.args.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || lat.isEmpty) {
      val f = new File(inDir, f"food_daily_$i%05d.csv")
      Ctx.link(src, f)
      val traced = ctx.args.trace && i % 2 == 1
      if (traced) { tr.attach(); tr.recording = true; prefixes(f, layers) }
      val listed = Option(inDir.list()).map(_.length).getOrElse(0)
      val sinkBefore = if (traced) Ctx.parquetFiles(outDir) else (0, 0L)
      val t0 = System.nanoTime()
      val got =
        if (traced) tr.span("op") { tracedCycle(s, c) }
        else FoodOrdersDriver.runCycle(s, c)
      val ns = System.nanoTime() - t0
      lat += ((Stats.ms(ns), traced))
      r.log(f"cycle $i: ${Stats.ms(ns)}%.1f ms traced=$traced")
      if (checkCounts(got, expected, s"cycle $i")) ok += 1
      if (traced) {
        tr.recording = false
        tr.detach()
        val after = Ctx.parquetFiles(outDir)
        layers.add("claimer_entries_listed", listed)
        layers.add("sink_files_written", after._1 - sinkBefore._1)
        layers.add("sink_bytes_per_input_byte",
          (after._2 - sinkBefore._2).toDouble / src.length())
        got.foreach { g =>
          layers.add("clean_rows_out", g.total)
          layers.add("split_rows_delivered", g.delivered)
          layers.add("split_rows_other", g.other)
        }
      }
      i += 1
    }

    val untraced = lat.filterNot(_._2).map(_._1).toSeq
    val all = lat.map(_._1).toSeq
    val timed = if (ctx.args.trace) untraced else all
    // throughput of one cycle at the median cycle time: robust to a slow
    // cycle, and stated at a fixed input size (RowsPerFile lines)
    val rowsPerS = expected.lines / (Stats.median(timed) / 1e3)
    r.e2e("items_per_s", rowsPerS, "items/s")
    r.e2e("op_latency_p50_ms", Stats.median(timed), "ms")
    r.info("etl_rows_per_s", rowsPerS, "rows/s")
    r.info("job_latency_p50_ms", Stats.median(timed), "ms")
    r.info("jobs_timed", timed.size.toDouble, "count")

    // read-back: each branch of the sink holds exactly ok × expected rows
    val back = s.read.parquet(outDir.getAbsolutePath)
      .groupBy(col(Split.BranchCol)).count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    r.check(back.getOrElse("delivered", 0L) == ok * expected.delivered,
      s"sink delivered ${back.get("delivered")} != ${ok * expected.delivered}")
    r.check(back.getOrElse("other", 0L) == ok * expected.other,
      s"sink other ${back.get("other")} != ${ok * expected.other}")
    r.check(Option(inDir.listFiles()).forall(_.forall(_.isDirectory)),
      "input dir still holds unclaimed files")
    Golden.check(ctx)

    if (ctx.args.trace) report(tr, layers, lat.toSeq, expected)
  }

  private def cfg(in: File, out: File) =
    FoodOrdersDriver.Config(in.getAbsolutePath, out.getAbsolutePath,
      prefix = "food_daily", cycles = 1)

  /** runCycle's three calls, each in its own span. */
  private def tracedCycle(s: org.apache.spark.sql.SparkSession,
      c: FoodOrdersDriver.Config): Option[FoodOrdersJob.Counts] = {
    val tr = ctx.tracer
    val conf = s.sparkContext.hadoopConfiguration
    if (!tr.span("FileClaimer.senses") {
        FileClaimer.senses(conf, c.inputDir, c.prefix) }) None
    else {
      val claimed = tr.span("FileClaimer.claimFirst") {
        FileClaimer.claimFirst(conf, c.inputDir, c.prefix) }
      Some(tr.span("FoodOrdersJob.runSinglePass") {
        FoodOrdersJob.runSinglePass(s, claimed.toString, c.outputDir) })
    }
  }

  /** Prefix spans over the same file: noop writes of Ingest, Ingest→Clean
    * and Ingest→Clean→Split; self times are successive differences. The
    * Ingest prefix keeps Clean's malformed-row filter: `readRaw` alone
    * fails under ANSI mode on 10-field rows (index 10 of a 10-element
    * split), which the full job avoids because the filter is pushed below
    * the field projection. */
  private def prefixes(f: File, layers: LayerSamples): Unit = {
    val s = ctx.spark
    val tr = ctx.tracer
    val p = f.getAbsolutePath
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    tr.span("prefix.Ingest.readRaw") {
      noop(Clean.dropMalformed(Ingest.readRaw(s, p))) }
    tr.span("prefix.Clean") { noop(Clean(Ingest.readRaw(s, p))) }
    tr.span("prefix.Split.tagged") {
      noop(Split.tagged(Clean(Ingest.readRaw(s, p)))) }
  }

  private def checkCounts(got: Option[FoodOrdersJob.Counts],
      e: Gen.FoodCounts, what: String): Boolean =
    r.check(got.contains(FoodOrdersJob.Counts(e.total, e.delivered, e.other)),
      s"$what: counts $got != (${e.total}, ${e.delivered}, ${e.other})")

  private def report(tr: Tracer, layers: LayerSamples,
      lat: Seq[(Double, Boolean)], e: Gen.FoodCounts): Unit = {
    def med(name: String): Double = Stats.median(tr.named(name).map(tr.ms))
    val ingest = med("prefix.Ingest.readRaw")
    val clean = med("prefix.Clean")
    val split = med("prefix.Split.tagged")
    val single = med("FoodOrdersJob.runSinglePass")
    r.layer("claimer_ms",
      med("FileClaimer.senses") + med("FileClaimer.claimFirst"), "ms")
    r.layer("claimer_entries_listed", layers.median("claimer_entries_listed"),
      "count")
    r.layer("ingest_self_ms", ingest, "ms")
    r.layer("clean_self_ms", clean - ingest, "ms")
    r.layer("split_self_ms", split - clean, "ms")
    r.layer("sink_self_ms", single - split, "ms")
    val ingestRowsOut = Stats.median(tr.named("prefix.Ingest.readRaw")
      .map(sp => tr.subtree(sp).recordsRead.toDouble))
    r.layer("ingest_rows_in", e.lines.toDouble, "rows")
    r.layer("ingest_rows_out", ingestRowsOut, "rows")
    r.layer("clean_rows_out", layers.median("clean_rows_out"), "rows")
    r.layer("clean_malformed_dropped",
      ingestRowsOut - layers.median("clean_rows_out"), "rows")
    r.layer("split_rows_delivered", layers.median("split_rows_delivered"),
      "rows")
    r.layer("split_rows_other", layers.median("split_rows_other"), "rows")
    r.layer("sink_files_written", layers.median("sink_files_written"), "count")
    r.layer("sink_bytes_per_input_byte",
      layers.median("sink_bytes_per_input_byte"), "ratio")
    Engine.report(ctx, "batch", tr.named("op"))
    Engine.overhead(ctx, lat)
    ctx.writeTrace(Nil)
  }
}

object OrdersBatch {
  /** One daily file: ~22 MB, ~1.5 s per cycle on 4 cores, so a run times
    * several cycles and the per-cycle overhead stays a small share. */
  val RowsPerFile = 200000
  val WarmCycles = 3
  /** The set-up cycle's file: small, so set-up time is session start and
    * per-session first-job cost rather than data volume. */
  val SetupRows = 20000
  val SetupRepeats = 3
}

/** Per-operation samples of named layer figures (medians reported). */
final class LayerSamples {
  private val m = collection.mutable.LinkedHashMap[String,
    collection.mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit =
    m.getOrElseUpdate(k, collection.mutable.ArrayBuffer()) += v
  def median(k: String): Double = m.get(k).map(b => Stats.median(b.toSeq))
    .getOrElse(0.0)
}

/** Engine counters and tracing overhead, shared by every workload. */
object Engine {
  /** Per-operation engine figures of the `ops` spans, under `prefix`. */
  def report(ctx: Ctx, prefix: String, ops: Seq[Span]): Unit =
    reportCounters(ctx, prefix,
      ops.map(sp => (ctx.tracer.subtree(sp), ctx.tracer.ms(sp))))

  /** Engine figures from (counters, wall ms) per operation: medians of
    * jobs, stages, tasks, busy share (executor run time ÷ wall × cores),
    * shuffle bytes, spill bytes and GC time. */
  def reportCounters(ctx: Ctx, prefix: String,
      cs: Seq[(Counters, Double)]): Unit = {
    val r = ctx.report
    def med(f: ((Counters, Double)) => Double): Double =
      if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
    r.layer(s"${prefix}_jobs", med(_._1.jobs.toDouble), "count")
    r.layer(s"${prefix}_stages", med(_._1.stages.toDouble), "count")
    r.layer(s"${prefix}_tasks", med(_._1.tasks.toDouble), "count")
    r.layer(s"${prefix}_busy_share",
      med { case (c, ms) => c.runMs / (ms * ctx.cpus) }, "ratio")
    r.layer(s"${prefix}_shuffle_read_bytes", med(_._1.shuffleReadBytes.toDouble),
      "bytes")
    r.layer(s"${prefix}_shuffle_write_bytes",
      med(_._1.shuffleWriteBytes.toDouble), "bytes")
    r.layer(s"${prefix}_spill_bytes", med(_._1.spillBytes.toDouble), "bytes")
    r.layer(s"${prefix}_gc_ms", med(_._1.gcMs.toDouble), "ms")
  }

  /** Tracing overhead: median latency of recorded operations minus that of
    * the unrecorded ones they alternate with, in the same traced run. */
  def overhead(ctx: Ctx, lat: Seq[(Double, Boolean)]): Unit = {
    val on = Stats.median(lat.filter(_._2).map(_._1))
    val off = Stats.median(lat.filterNot(_._2).map(_._1))
    val d = if (on.isNaN || off.isNaN) 0.0 else on - off
    ctx.report.layer("trace_overhead_ms", d, "ms")
    ctx.report.layer("trace_overhead_pct",
      if (off > 0) 100.0 * d / off else 0.0, "%")
  }
}

/** The reference fixture, read in place: 891 rows, 869 delivered, 22 other. */
object Golden {
  val Path = "src/test/resources/food_daily.csv"

  def check(ctx: Ctx): Unit = {
    val f = new File(Path)
    if (!ctx.report.check(f.isFile, s"golden fixture $Path missing")) return
    val got = FoodOrdersJob.runSinglePass(ctx.spark, f.getAbsolutePath,
      ctx.sub("golden-out").getAbsolutePath)
    ctx.report.check(got == FoodOrdersJob.Counts(891, 869, 22),
      s"golden counts $got != (891, 869, 22)")
  }
}
