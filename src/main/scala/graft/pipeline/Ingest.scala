package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV ingestion with the reference's exact scan semantics.
  *
  * The reference reads the file as raw text lines with the header skipped and
  * recovers columns by a naive `row.split(',')` — no quoting, no escaping
  * (reference `code/beam.py:113-116`, split at `:36,:44,:126`). We reproduce
  * that literally: lines are read whole (a separator that can't occur keeps
  * Spark's CSV reader to one column while still skipping one header line per
  * file), then split on bare commas with trailing empties preserved. A
  * field the line does not have reads as null (`get`, not `getItem`, which
  * throws `INVALID_ARRAY_INDEX` under ANSI mode), so the parse is total on
  * its own, whatever runs after it.
  *
  * Doing our own split is not just fidelity — it is the only way to keep the
  * reference's malformed-row semantics: Spark's CSV parser maps BOTH an
  * empty trailing field and a missing trailing field to null, so "all 11
  * fields present, feedback empty" (kept by the reference) and "10 fields"
  * (dropped) would be indistinguishable. The retained field count
  * ([[NFieldsCol]]) lets [[Clean.dropMalformed]] apply the reference's
  * `< 12 fields` rule exactly.
  *
  * Scan-parallel: the text read splits by file block exactly like any CSV
  * scan, and the split/projection fuses into whole-stage codegen.
  */
object Ingest {

  /** Internal column carrying the raw comma-split field count. */
  val NFieldsCol = "_n_fields"

  /** One-column line schema + reader options shared by batch and streaming
    * so both modes have IDENTICAL scan semantics. */
  val LineSchema: StructType =
    StructType(Seq(StructField("line", StringType)))

  val ReaderOptions: Map[String, String] = Map(
    "header" -> "true",       // skip_header_lines=1, per file
    "sep" -> "\u0001",        // never occurs -> whole line stays one column
    "quote" -> "",
    "encoding" -> "UTF-8")    // BOM rides on the skipped header line

  /** The naive comma-split projection over a (line: string) frame. */
  def parseLines(lines: DataFrame): DataFrame = {
    val parts = split(col("line"), ",", -1)   // limit -1 keeps trailing ""
    val fields = FoodSchema.rawColumns.zipWithIndex.map { case (c, i) =>
      get(parts, lit(i)).as(c)
    }
    lines.select(fields :+ size(parts).as(NFieldsCol): _*)
  }

  def readRaw(spark: SparkSession, path: String): DataFrame =
    parseLines(
      spark.read.schema(LineSchema).options(ReaderOptions).csv(path))
}
