package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The T1–T4 clean as a chain of Spark built-ins, one step per reference
  * function (`code/beam.py:111-121`): the reference that the native
  * [[graft.functions.CleanField]] kernel behind [[Clean]] must agree with.
  *
  * T1 uses `:\z` (end of input), the reference's `endswith(':')`; a bare
  * `:$` would also match before a final line separator (U+2028, U+0085,
  * `\r`, ...). T2 and T3 touch the 11 raw string columns only. */
object CleanReference {

  /** T1: strip exactly one trailing colon from the packed `items` list. */
  def removeLastColon(df: DataFrame): DataFrame =
    df.withColumn("items", regexp_replace(col("items"), ":\\z", ""))

  /** T2: lowercase every raw column (whole-row lowercase in the reference). */
  def lowercaseAll(df: DataFrame): DataFrame =
    FoodSchema.rawColumns.foldLeft(df)((d, c) => d.withColumn(c, lower(col(c))))

  /** T3: delete `?`, `%`, `&` from every raw column. */
  def removeSpecialCharacters(df: DataFrame): DataFrame =
    FoodSchema.rawColumns.foldLeft(df)((d, c) =>
      d.withColumn(c, regexp_replace(col(c), "[?%&]", "")))

  /** T4: append the constant marker column. */
  def addConstantColumn(df: DataFrame): DataFrame =
    df.withColumn("new_col", lit("1"))

  /** T1 → T2 → T3 → T4, malformed-row drop, 12-column output order. */
  def apply(df: DataFrame): DataFrame =
    Clean.dropMalformed(addConstantColumn(
      removeSpecialCharacters(lowercaseAll(removeLastColon(df)))))
      .select(FoodSchema.outputColumns.map(col): _*)
}
