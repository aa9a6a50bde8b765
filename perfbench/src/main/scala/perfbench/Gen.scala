package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The program under test sees only the files
  * written here; every expected result (branch counts, planted pairs) is
  * computed by the generator itself, never by the program. */
object Gen {

  /** Expected pipeline counts of one generated daily file. `lines` counts
    * data lines (malformed ones included); total = well-formed rows. */
  final case class FoodCounts(lines: Long, total: Long, delivered: Long) {
    def other: Long = total - delivered
    def +(o: FoodCounts): FoodCounts =
      FoodCounts(lines + o.lines, total + o.total, delivered + o.delivered)
  }

  // ------------------------------------------------------------ food CSVs

  /** The reference fixture's header, byte-order mark included. */
  val FoodHeader: String = "﻿Customer_id,date,time,order_id,items," +
    "amount,mode,restaurnt,Status,ratings,feedback"

  private val Items = Array("Pizza", "Margarita", "WATERZOOI", "Noodles",
    "Bread", "Fried Rice", "Salad", "Crispy Onion Rings", "Burger", "Fries",
    "Pasta", "Tacos", "Sushi", "Curry", "Waffles", "Soup")
  private val Modes = Array("Wallet", "Card", "Cash", "UPI")
  private val Restaurants = Array("Brussels Mussels ", "Saint German",
    "Gaspar's", "Frit Flagey", "Le Pain Quotidien", "Noordzee ", "Chez Leon")
  private val Feedback = Array("Late delivery", "Stale food", "Good food",
    "Complicated procedure", "Food not good", "Great service", "")
  /** Status spellings that clean (lowercase, drop `[?%&]`) to `delivered`. */
  private val DeliveredSpellings = Array("Delivered", "DeLiVered",
    "deli&vered?", "Delivered%", "DELIVERED")
  private val OtherSpellings = Array("On Hold", "Not delivered",
    "Cancelled", "Not Deli?vered", "cancel&led")

  /** The program's T2+T3 on one field: lowercase, then delete `[?%&]`. */
  def cleanField(s: String): String = s.toLowerCase.replaceAll("[?%&]", "")

  private def junk(r: SplittableRandom, s: String): String =
    if (r.nextInt(10) != 0) s
    else {
      val at = r.nextInt(s.length + 1)
      s.substring(0, at) + "?%&".charAt(r.nextInt(3)) + s.substring(at)
    }

  private def mixedCase(r: SplittableRandom, s: String): String =
    if (r.nextInt(4) != 0) s
    else s.map(ch => if (r.nextBoolean()) ch.toUpper else ch.toLower)

  /** Write one daily orders file of `rows` data lines carrying the
    * fixture's dirt: BOM header, a trailing `:` on ~90% of `items`,
    * `[?%&]` junk, mixed case, dirty status spellings and ~0.5% 10-field
    * (malformed) rows. `fileId` keeps order ids unique across files. */
  def foodFile(f: File, rows: Int, seed: Long, fileId: Int): FoodCounts = {
    val r = new SplittableRandom(seed * 1000003L + fileId)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    var total = 0L
    var delivered = 0L
    try {
      w.write(FoodHeader); w.write('\n')
      val sb = new java.lang.StringBuilder(160)
      var i = 0
      while (i < rows) {
        sb.setLength(0)
        val cust = new String(Array.fill(4)(('A' + r.nextInt(26)).toChar)) +
          (100000 + r.nextInt(900000)) +
          new String(Array.fill(2)(('A' + r.nextInt(26)).toChar))
        sb.append(cust).append(',')
        sb.append(1 + r.nextInt(28)).append("/10/2023,")
        sb.append(r.nextInt(24)).append('.').append(r.nextInt(60))
          .append('.').append(r.nextInt(60)).append(',')
        sb.append('F').append(fileId).append('R').append(i).append(',')
        val nItems = 1 + r.nextInt(4)
        var k = 0
        while (k < nItems) {
          if (k > 0) sb.append(':')
          sb.append(junk(r, mixedCase(r, Items(r.nextInt(Items.length)))))
          k += 1
        }
        if (r.nextInt(10) != 0) sb.append(':')
        sb.append(',').append(5 + r.nextInt(120)).append(',')
        sb.append(Modes(r.nextInt(Modes.length))).append(',')
        sb.append(junk(r, Restaurants(r.nextInt(Restaurants.length))))
          .append(',')
        val isDelivered = r.nextInt(40) != 0
        val status =
          if (isDelivered) DeliveredSpellings(r.nextInt(DeliveredSpellings.length))
          else OtherSpellings(r.nextInt(OtherSpellings.length))
        sb.append(status).append(',')
        sb.append(1 + r.nextInt(5))
        val malformed = r.nextInt(200) == 0
        if (!malformed) {
          sb.append(',').append(Feedback(r.nextInt(Feedback.length)))
          total += 1
          if (cleanField(status) == "delivered") delivered += 1
        }
        sb.append('\n')
        w.write(sb.toString)
        i += 1
      }
    } finally w.close()
    FoodCounts(rows.toLong, total, delivered)
  }

  // -------------------------------------------------------------- corpus

  /** A generated document corpus with planted near-duplicate clusters.
    * `clusterOf(docId)` is the planted cluster (-1 for background docs);
    * `plantedPairs` are within-cluster pairs whose exact token-3-gram
    * Jaccard is at least [[PlantedJaccard]]. */
  final case class Corpus(docs: Array[(Long, String)],
      clusterOf: Map[Long, Int], plantedPairs: Seq[(Long, Long)],
      clusterSizes: Seq[Int])

  /** Planted pairs sit clearly above the program's 0.6 verify threshold,
    * so hashing noise in the shingle space cannot decide them. */
  val PlantedJaccard = 0.7

  private def vocabulary(n: Int, r: SplittableRandom): Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "de",
      "fa", "gu", "ve", "zo", "bi", "ch", "th", "an", "or", "el", "us")
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n)
      seen += (0 until 1 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length)))
        .mkString + (if (r.nextInt(3) == 0) r.nextInt(100).toString else "")
    seen.toArray
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      var acc = 0.0
      w.map { x => acc += x / t; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def shingles(toks: Array[String]): Set[String] =
    toks.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b)
    i.toDouble / (a.size + b.size - i)
  }

  /** `nDocs` documents over a Zipfian vocabulary; a share of them are
    * members of planted near-dup clusters (copies of a base text with one
    * or two token substitutions). Most clusters have 2-6 members; the
    * `megaSizes` clusters are larger than the LSH bucket cap
    * (`Dedup.MaxBucket` = 64) so the star-pair path runs. */
  def corpus(nDocs: Int, seed: Long, megaSizes: Seq[Int]): Corpus = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val vocab = vocabulary(6000, r)
    val zipf = new Zipf(vocab.length, 1.05)
    def text(len: Int): Array[String] =
      Array.fill(len)(vocab(zipf.sample(r)))
    val smallBudget = nDocs / 5
    val sizes = mutable.ArrayBuffer[Int]() ++ megaSizes
    var used = megaSizes.sum
    while (used < megaSizes.sum + smallBudget) {
      val sz = 2 + r.nextInt(5)
      sizes += sz; used += sz
    }
    require(used < nDocs, s"corpus of $nDocs docs cannot hold $used planted")
    val texts = mutable.ArrayBuffer[(Array[String], Int)]()
    sizes.zipWithIndex.foreach { case (sz, c) =>
      val base = text(60 + r.nextInt(60))
      (0 until sz).foreach { _ =>
        val t = base.clone()
        (0 until 1 + r.nextInt(2)).foreach(_ =>
          t(r.nextInt(t.length)) = vocab(zipf.sample(r)))
        texts += ((t, c))
      }
    }
    while (texts.size < nDocs) texts += ((text(40 + r.nextInt(80)), -1))
    // shuffle ids so cluster members are not adjacent
    val ids = (0L until nDocs.toLong).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val docs = texts.indices.map(k => (ids(k), texts(k)._1.mkString(" ")))
      .toArray
    val clusterOf = texts.indices.map(k => ids(k) -> texts(k)._2).toMap
    val pairs = mutable.ArrayBuffer[(Long, Long)]()
    texts.indices.groupBy(k => texts(k)._2).foreach { case (c, members) =>
      if (c >= 0) {
        val sh = members.map(k => (ids(k), shingles(texts(k)._1)))
        for (x <- sh.indices; y <- x + 1 until sh.length)
          if (jaccard(sh(x)._2, sh(y)._2) >= PlantedJaccard)
            pairs += ((math.min(sh(x)._1, sh(y)._1),
              math.max(sh(x)._1, sh(y)._1)))
      }
    }
    Corpus(docs, clusterOf, pairs.toSeq, sizes.toSeq)
  }

  // ---------------------------------------------------------- embeddings

  /** `n` 64-d vectors around `clusters` random centres (clustered, so an
    * IVF index has structure to find). */
  def embeddings(n: Int, clusters: Int, seed: Long)
      : Array[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed * 104729L + 5)
    def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres = Array.fill(clusters)(Array.fill(64)(gauss()))
    Array.tabulate(n) { i =>
      val c = r.nextInt(clusters)
      (i.toLong, Array.tabulate(64)(d => (centres(c)(d) + 0.45 * gauss()).toFloat),
        c)
    }
  }
}
