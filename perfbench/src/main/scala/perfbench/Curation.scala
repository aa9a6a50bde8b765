package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.MinHashExpressions.{minhashSignature, shingleSet}
import graft.functions.TextAnalysis
import graft.similarity.Similarity

/** `corpus_curation`: no CSV, no sink. Near-dup passes (uncached
  * `Dedup.minhashDupPairsDf` + `Dedup.assignCanonical`) over a corpus with
  * planted clusters, then `Similarity.ivfTopK` panels over clustered
  * embeddings whose IVF index is built in set-up.
  * Loads text kernels, LSH shuffles, label propagation and ANN scoring. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val r = ctx.report

  def run(): Unit = {
    val t = System.nanoTime()
    val corpus = Gen.corpus(Docs, ctx.args.seed, MegaClusters)
    val vecs = Gen.embeddings(Vectors, VectorClusters, ctx.args.seed)
    var genNs = System.nanoTime() - t
    r.log("generated")
    val data = ctx.sub("corpus")
    val docsPath = new File(data, "documents.parquet").getAbsolutePath
    r.info("docs", Docs.toDouble, "count")
    r.info("planted_pairs", corpus.plantedPairs.size.toDouble, "count")
    r.info("vectors", Vectors.toDouble, "count")

    var buildMs = 0.0
    ctx.repeatedSetup(SetupRepeats) { i =>
      val t0 = System.nanoTime()
      val s = ctx.startSession(s"s$i")
      // inputs are written once, by the benchmark: not set-up time
      val w0 = System.nanoTime()
      if (i == 0) writeInputs(s, corpus, vecs, data, docsPath)
      val writeNs = System.nanoTime() - w0
      genNs += writeNs
      // index build: the first ivfTopK call in a fresh warehouse builds the
      // centroids and inverted lists (and answers one panel)
      ctx.tracer.recording = ctx.args.trace
      if (ctx.args.trace) ctx.tracer.attach()
      val b0 = System.nanoTime()
      ctx.tracer.span("Similarity.ivfTopK.build") { annPanel(s, data) }
      buildMs = Stats.ms(System.nanoTime() - b0)
      if (ctx.args.trace) ctx.tracer.detach()
      ctx.tracer.recording = false
      Stats.secs(System.nanoTime() - t0 - writeNs)
    }
    // JIT warm-up, once, outside set-up and measurement
    (0 until WarmPasses).foreach(_ => { dedupPass(ctx.spark, docsPath); ctx.dropPersisted() })
    ctx.quiesce()
    r.info("gen_s", Stats.secs(genNs), "s")
    r.log("warm-up done")

    val s = ctx.spark
    val tr = ctx.tracer
    val dedupLat = collection.mutable.ArrayBuffer[(Double, Boolean)]()
    val annLat = collection.mutable.ArrayBuffer[(Double, Boolean)]()
    var firstCanon: Map[Long, Long] = null
    var firstPanel: Map[Long, Seq[Long]] = null
    // two timed phases: near-dup passes for DedupShare of the run, then
    // ANN panels back to back (a panel right after a pass pays its garbage)
    val dedupNs = (ctx.args.seconds * DedupShare * 1e9).toLong
    val dedupEnd = System.nanoTime() + dedupNs
    var i = 0
    while (System.nanoTime() < dedupEnd || dedupLat.isEmpty) {
      val traced = ctx.args.trace && i % 2 == 1
      if (traced) {
        tr.attach(); tr.recording = true
        val docs = s.read.parquet(docsPath)
        tr.span("functions.minhashSignature+shingleSet") {
          docs.select(col("doc_id"),
            minhashSignature(TextAnalysis.tokens(col("text"))),
            shingleSet(TextAnalysis.tokens(col("text"))))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val t0 = System.nanoTime()
      val canon = tr.span("dedup.pass") { dedupPass(s, docsPath) }
      dedupLat += ((Stats.ms(System.nanoTime() - t0), traced))
      r.log(f"dedup pass $i: ${dedupLat.last._1}%.1f ms traced=$traced")
      if (traced) { tr.recording = false; tr.detach() }
      ctx.dropPersisted()
      if (firstCanon == null) firstCanon = canon
      else r.check(canon == firstCanon, s"dedup pass $i differs from pass 0")
      i += 1
    }
    ctx.quiesce()
    // the first panels after the dedup phase run slow while the ANN path
    // re-warms: checked against the others, outside both timed phases
    firstPanel = annPanel(s, data)
    (1 until WarmPanels).foreach { w =>
      r.check(annPanel(s, data) == firstPanel, s"warm-up panel $w differs")
    }
    val runEnd = System.nanoTime() + (ctx.args.seconds * 1e9).toLong - dedupNs
    var p = 0
    while (System.nanoTime() < runEnd || annLat.isEmpty) {
      val traced = ctx.args.trace && p % 2 == 1
      if (traced) { tr.attach(); tr.recording = true }
      val a0 = System.nanoTime()
      val panel = tr.span("ann.panel") { annPanel(s, data) }
      annLat += ((Stats.ms(System.nanoTime() - a0), traced))
      r.log(f"ann panel $p: ${annLat.last._1}%.1f ms traced=$traced")
      if (traced) { tr.recording = false; tr.detach() }
      r.check(panel == firstPanel, s"ANN panel $p differs from the first")
      p += 1
    }

    val dTimed = (if (ctx.args.trace) dedupLat.filterNot(_._2) else dedupLat)
      .map(_._1).toSeq
    val aTimed = (if (ctx.args.trace) annLat.filterNot(_._2) else annLat)
      .map(_._1).toSeq
    val docsPerS = Docs / (Stats.median(dTimed) / 1e3)
    r.e2e("items_per_s", docsPerS, "items/s")
    r.e2e("op_latency_p50_ms", Stats.median(aTimed), "ms")
    r.info("dedup_docs_per_s", docsPerS, "docs/s")
    r.info("dedup_passes_timed", dTimed.size.toDouble, "count")
    r.info("ann_panel_p50_ms", Stats.median(aTimed), "ms")
    r.info("ann_panels_timed", aTimed.size.toDouble, "count")
    r.info("ann_queries_per_s",
      firstPanel.size / (Stats.median(aTimed) / 1e3), "queries/s")

    r.log("measurement done")
    // correctness: planted pairs collapse to one canonical doc; no doc of
    // another cluster (or a background doc) is merged into a cluster
    val canonOf = (d: Long) => firstCanon.getOrElse(d, d)
    val found = corpus.plantedPairs.count { case (a, b) => canonOf(a) == canonOf(b) }
    val recall = found.toDouble / math.max(1, corpus.plantedPairs.size)
    r.info("dedup_pair_recall", recall, "ratio")
    r.check(recall >= MinDedupRecall,
      f"dedup pair recall $recall%.4f < $MinDedupRecall")
    val falseMerges = firstCanon.groupBy(_._2).values.count { g =>
      g.keys.map(corpus.clusterOf).toSet.size != 1 ||
        g.keys.exists(corpus.clusterOf(_) < 0)
    }
    r.check(falseMerges == 0, s"$falseMerges canonical groups mix clusters")
    // ANN recall@5 against exact brute force over the same query panel
    val truth = topK(Similarity.bruteForceTopK(s, data.getAbsolutePath, 5))
    r.check(truth.keySet == firstPanel.keySet,
      s"ANN panel queries ${firstPanel.size} != brute-force ${truth.size}")
    val hits = truth.map { case (q, nn) =>
      nn.count(firstPanel.getOrElse(q, Nil).toSet).toDouble / nn.size }
    val annRecall = if (hits.isEmpty) 0.0 else hits.sum / hits.size
    r.info("ann_recall_at_5", annRecall, "ratio")
    r.check(annRecall >= MinAnnRecall, f"ANN recall@5 $annRecall%.4f < $MinAnnRecall")
    r.log("brute-force truth done")

    if (ctx.args.trace) {
      def med(n: String) = Stats.median(tr.named(n).map(tr.ms))
      r.layer("functions_signature_ms",
        med("functions.minhashSignature+shingleSet"), "ms")
      r.layer("dedup_pairs_ms", med("Dedup.minhashDupPairsDf"), "ms")
      r.layer("dedup_canonical_ms", med("Dedup.assignCanonical"), "ms")
      r.layer("dedup_canonical_jobs", Stats.median(
        tr.named("Dedup.assignCanonical").map(sp => tr.subtree(sp).jobs.toDouble)),
        "count")
      val docs = s.read.parquet(docsPath).select("doc_id", "text")
      val cand = tr.span("Dedup.minhashCandidatesDf") {
        Dedup.minhashCandidatesDf(docs).count() }
      val verified = Dedup.minhashDupPairsDf(docs).count()
      ctx.dropPersisted()
      r.layer("dedup_candidate_pairs", cand.toDouble, "count")
      r.layer("dedup_verified_pairs", verified.toDouble, "count")
      r.layer("dedup_yield", verified.toDouble / math.max(1L, cand), "ratio")
      r.layer("dedup_pair_recall", recall, "ratio")
      r.layer("ann_panel_ms", med("ann.panel"), "ms")
      r.layer("ann_index_build_ms", buildMs - Stats.median(aTimed), "ms")
      r.layer("ann_recall_at_5", annRecall, "ratio")
      Engine.report(ctx, "dedup", tr.named("dedup.pass"))
      Engine.report(ctx, "ann", tr.named("ann.panel"))
      Engine.overhead(ctx, dedupLat.toSeq)
      ctx.writeTrace(Nil)
    }
  }

  /** One near-dup pass; returns doc_id → canonical_id for grouped docs. */
  private def dedupPass(s: SparkSession, docsPath: String): Map[Long, Long] = {
    val tr = ctx.tracer
    val docs = s.read.parquet(docsPath).select("doc_id", "text")
    // uncached form: minhashDupPairs(s, d) would serve a WarehouseCache hit
    val pairs = tr.span("Dedup.minhashDupPairsDf") {
      Dedup.minhashDupPairsDf(docs).localCheckpoint() }
    tr.span("Dedup.assignCanonical") {
      Dedup.assignCanonical(pairs).collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
    }
  }

  private def annPanel(s: SparkSession, data: File): Map[Long, Seq[Long]] =
    topK(Similarity.ivfTopK(s, data.getAbsolutePath, 5))

  private def topK(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().groupBy(_.getAs[Long]("query_id")).map { case (q, rows) =>
      q -> rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("neighbor_id"))
        .toSeq
    }

  private def writeInputs(s: SparkSession, corpus: Gen.Corpus,
      vecs: Array[(Long, Array[Float], Int)], data: File,
      docsPath: String): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    s.createDataFrame(java.util.Arrays.asList(
        corpus.docs.map { case (id, text) => Row(id, text) }: _*), docSchema)
      .repartition(ctx.cpus)
      .write.mode("overwrite").parquet(docsPath)
    val vecSchema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false),
      StructField("label", IntegerType, false)))
    s.createDataFrame(java.util.Arrays.asList(
        vecs.map { case (id, v, l) => Row(id, v.toSeq, l) }: _*), vecSchema)
      .repartition(ctx.cpus)
      .write.mode("overwrite")
      .parquet(new File(data, "embeddings.parquet").getAbsolutePath)
  }
}

object Curation {
  val Docs = 5000
  /** Two planted clusters larger than Dedup.MaxBucket (64). */
  val MegaClusters = Seq(80, 100)
  val Vectors = 6400
  val VectorClusters = 48
  /** Share of the run given to near-dup passes; panels get the rest. */
  val DedupShare = 0.62
  val WarmPasses = 3
  val WarmPanels = 2
  val SetupRepeats = 3
  val MinDedupRecall = 0.95
  val MinAnnRecall = 0.9
}
