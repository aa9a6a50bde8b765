package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CleanExpressions.cleanField

/** The reference's four-step cleaning chain as one projection.
  *
  * Reference order (`code/beam.py:111-121`) is semantically order-sensitive
  * and preserved exactly:
  *
  *   T1 `remove_last_colon` — strip exactly ONE trailing `:` from `items`
  *      (reference `code/beam.py:35-39`, `endswith(':')`; not rtrim, which
  *      would strip runs, and not a regex `:$`, which also matches before a
  *      final line separator such as U+2028 or U+0085).
  *   T2 lowercase — the reference lowercases the ENTIRE row string
  *      (`code/beam.py:118`); per-field lowercase is equivalent because `,`
  *      is case-invariant.
  *   T3 `remove_special_characters` — delete `[?%&]` from every field
  *      (`code/beam.py:42-45`), so `Marga?ritA` → `margarita` and
  *      `delivered?` routes to the delivered branch.
  *   T4 append constant `new_col = "1"` (`code/beam.py:120`) — added after
  *      T3, so it is never itself cleaned.
  *
  * T1–T3 run per field in [[graft.functions.CleanField]], one pass over the
  * field's UTF-8 bytes. T1 looks at the raw last byte, before T3 deletes
  * anything, so `abc:?` keeps its colon (T1 sees `?` last) and `abc?:`
  * becomes `abc`, as in the reference. ASCII fields take a byte-wise fast
  * path; a field with any non-ASCII byte is lowercased exactly as Spark's
  * `lower` does, then stripped of `?%&`.
  *
  * Malformed rows (fewer than the full field count) are dropped first — the
  * intent of the deployed guard at `code/beam.py:50-51` (the reference
  * actually leaks `None` into the sink; we implement the intent, see
  * SURVEY §2.1). Cleaning keeps null and non-null apart, so dropping before
  * or after it selects the same rows.
  *
  * The clean is one `select` of native expressions: it fuses into the
  * scan's whole-stage codegen stage — zero shuffles, linear in the input
  * splits. Batch ([[FoodOrdersJob]]) and stream share it, as does any frame
  * of the 11 raw columns.
  */
object Clean {

  /** Drop rows that did not carry all physical fields (the reference's
    * `<12 fields after T4` guard, `code/beam.py:50-51`). [[Ingest]] retains
    * the raw comma-split field count, which distinguishes a row whose last
    * field is EMPTY (11 fields — kept, like the reference) from a row whose
    * last field is MISSING (10 fields — dropped); frames from other sources
    * without the count fall back to last-column-present. */
  def dropMalformed(df: DataFrame): DataFrame =
    if (df.columns.contains(Ingest.NFieldsCol))
      df.filter(col(Ingest.NFieldsCol) >= FoodSchema.rawColumns.length)
    else
      df.filter(col(FoodSchema.rawColumns.last).isNotNull)

  /** Malformed-row drop, then T1 → T2 → T3 per field and T4, projected to
    * the declared 12-column output order. */
  def apply(df: DataFrame): DataFrame =
    dropMalformed(df).select(FoodSchema.rawColumns.map(c =>
      cleanField(col(c), stripColon = c == "items").as(c)) :+
      lit("1").as("new_col"): _*)
}
