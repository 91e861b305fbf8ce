package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bias/fairness slicing analyses (reference §2.5 A1-A5, A14-A17,
  * `databias/slicing_bias_analysis.py`): grouped means over sensitive
  * slices, disparity statistics, underrepresentation vs the median group,
  * pivoted heatmap aggregates, top-decile skew.
  *
  * All driver-light: each returns a DataFrame whose size is the number of
  * groups (tiny), computed with single hash-agg passes; the reference's
  * Fairlearn MetricFrame is literally `groupBy(sensitive).agg(avg)` here.
  */
object Bias {

  /** A3: disparity stats over the group means: max, min, ratio (with the
    * reference's 1e-6 epsilon), difference, and the threshold flag.
    */
  def disparity(df: DataFrame, sliceCol: String, valCol: String,
                threshold: Double): DataFrame =
    df.groupBy(col(sliceCol)).agg(avg(col(valCol)).as("m"))
      .agg(round(max(col("m")), 6).as("max_mean"),
        round(min(col("m")), 6).as("min_mean"),
        round(max(col("m")) / (min(col("m")) + 1e-6), 6).as("disparity_ratio"),
        round(max(col("m")) - min(col("m")), 6).as("disparity_diff"))
      .withColumn("alert", col("disparity_diff") > threshold)

  /** A4/A5: group counts vs the median group size; groups below the median
    * get `needed = ceil(median) - n` (the mitigation recollection target).
    */
  def underrepresentation(df: DataFrame, sliceCol: String): DataFrame = {
    val counts = df.groupBy(col(sliceCol)).agg(count(lit(1)).cast("long").as("n"))
    val withMedian = counts.crossJoin(
      counts.agg(expr("percentile(n, 0.5)").as("median_n")))
    withMedian
      .withColumn("underrepresented", col("n").cast("double") < col("median_n"))
      .withColumn("needed",
        when(col("underrepresented"),
          ceil(col("median_n")).cast("long") - col("n")).otherwise(0L))
      .select(col(sliceCol), col("n"), round(col("median_n"), 2).as("median_n"),
        col("underrepresented"), col("needed"))
      .orderBy(col(sliceCol))
  }

  /** A16: top-decile mean vs overall median — the skew diagnostic. */
  def topDecileSkew(df: DataFrame, valCol: String): DataFrame = {
    val q = df.agg(
      expr(s"percentile($valCol, 0.9)").as("p90"),
      expr(s"percentile($valCol, 0.5)").as("median"))
    df.crossJoin(q)
      .filter(col(valCol) >= col("p90"))
      .agg(
        round(first(col("p90")), 6).as("p90"),
        round(first(col("median")), 6).as("median"),
        round(avg(col(valCol)), 6).as("top_decile_mean"),
        count(lit(1)).cast("long").as("n_top"))
      .withColumn("skew_ratio",
        round(col("top_decile_mean") / col("median"), 6))
  }

  /** A17: success-rate by group (boolean rate ·100). */
  def successRate(df: DataFrame, sliceCol: String, boolCol: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(col(sliceCol))
      .agg(sum(boolCol.cast("long")).cast("long").as("n_success"),
        count(lit(1)).cast("long").as("n"))
      .withColumn("rate",
        round(col("n_success") * lit(100.0) / col("n"), 6))
      .orderBy(col(sliceCol))
}
