package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Schema/data-quality profiling — the reference's `SchemaValidator`
  * re-expressed as one-pass Spark aggregations (SURVEY.md §2.5 A6–A13).
  *
  * Reference behaviors:
  *  - A7 missing-count profile: `Validation/schema_validator.py:289-311`
  *  - A8 numeric stats: `schema_validator.py:303-311`
  *  - A9 duplicate audit: `schema_validator.py:163-179`
  *  - A6 value_counts + share: `schema_validator.py:199-235`
  *  - A13 completeness/validity quality score: `schema_validator.py:313-350`
  *
  * All of these are single-pass hash aggregates (map-side partial + final) —
  * at 100 TB each profile is one scan with no joins and a tiny (single-row or
  * per-group) result; nothing is collected to the driver mid-plan.
  */
object Profiling {

  /** Per-column null counts, one wide row (reference A7 `df.isnull().sum()`). */
  def missingProfile(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).cast("long").as("n_rows"),
      df.columns.toIndexedSeq.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"${c}_nulls")): _*)

  /** min/max/avg/stddev per numeric column, one wide row (reference A8).
    * min/max are exact; avg/stddev rounded to 6dp for oracle stability.
    */
  def numericStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        round(avg(col(c)), 6).as(s"${c}_avg"),
        round(stddev_samp(col(c)), 6).as(s"${c}_std"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Count-by-value with global share, ordered desc (reference A6). The share
    * uses an empty-frame window: Spark computes it with a single-partition
    * exchange over the (tiny) grouped result, not over the raw table.
    */
  def valueCounts(df: DataFrame, c: String): DataFrame = {
    val grouped = df.groupBy(col(c)).agg(count(lit(1)).cast("long").as("n"))
    grouped
      .withColumn("share", round(col("n") / sum(col("n")).over(Window.partitionBy()), 6))
      .orderBy(col("n").desc, col(c))
  }

  /** Row count vs distinct-key count (reference A9 duplicate audit). */
  def duplicateAudit(df: DataFrame, keyCol: String): DataFrame =
    df.agg(
      count(lit(1)).cast("long").as("n_rows"),
      countDistinct(col(keyCol)).cast("long").as("n_unique"))
      .withColumn("n_dup", col("n_rows") - col("n_unique"))

  /** Completeness + validity quality score (reference A13):
    * completeness = (1 - missing_cells/total_cells)·100,
    * validity = ((2n - issues)/2n)·100 over the two reference predicates
    * (year window, non-negative count), overall = mean of the two.
    */
  def qualityScore(df: DataFrame, yearCol: String, minYear: Int, maxYear: Int,
                   nonNegCol: String): DataFrame = {
    val nCols = df.columns.length
    val missingCells = df.columns
      .map(c => sum(when(col(c).isNull, 1L).otherwise(0L)))
      .reduce(_ + _)
    // the reference's validity gate checks an *integer* year column
    // (schema_validator.py:338-340); date/timestamp columns go through year()
    val yr = df.schema(yearCol).dataType match {
      case _: NumericType => col(yearCol)
      case _              => year(col(yearCol))
    }
    df.agg(
      count(lit(1)).cast("long").as("n_rows"),
      missingCells.cast("long").as("n_missing_cells"),
      sum(when(yr < minYear || yr > maxYear, 1L)
        .otherwise(0L)).cast("long").as("n_bad_year"),
      sum(when(col(nonNegCol) < 0, 1L).otherwise(0L)).cast("long").as("n_negative"))
      .withColumn("completeness",
        round((lit(1.0) - col("n_missing_cells") / (col("n_rows") * nCols)) * 100, 6))
      .withColumn("validity",
        round(((lit(2.0) * col("n_rows") - (col("n_bad_year") + col("n_negative")))
          / (lit(2.0) * col("n_rows"))) * 100, 6))
      .withColumn("overall_quality",
        round((col("completeness") + col("validity")) / 2.0, 6))
  }

  /** The reference's five dataset anomaly gates
    * (`schema_validator.py:140-235`), one row per FIRED gate:
    *
    *  1. extraction-failure spike: missing-intro % > 60 (critical > 80)
    *  2. duplicate ids: any duplicates (critical when dup % > 5)
    *  3. zero-citation share > 70 (warning)
    *  4. temporal bias: top year > 70 % with ≥ 2 distinct years (warning)
    *  5. domain skew: top domain > 85 % with ≥ 2 distinct domains (warning)
    *
    * One full-table aggregation pass + two top-1 lookups over the tiny
    * per-year / per-domain count tables (ties resolved by smallest year /
    * smallest domain — the reference's pandas value_counts order is
    * insertion-dependent, so this engine defines the tie deterministically).
    * Percentages rounded to 2dp like the reference's report.
    */
  def anomalyGates(df: DataFrame, idCol: String, hasIntroCol: String,
                   citationCol: String, yearCol: String,
                   domainCol: String): DataFrame = {
    def top1(c: String) = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col(c))))
      .filter(col("rk") === 1)
      .select(col(c).cast("string").as(s"top_$c"), col("cnt").as(s"top_${c}_n"))
    val nDistinct = (c: String) =>
      countDistinct(col(c)).cast("long").as(s"n_$c")
    val base = df.agg(
      count(lit(1)).cast("long").as("n"),
      sum(when(!col(hasIntroCol), 1L).otherwise(0L)).cast("long").as("n_no_intro"),
      (count(lit(1)) - countDistinct(col(idCol))).cast("long").as("n_dup"),
      sum(when(col(citationCol) === 0, 1L).otherwise(0L)).cast("long").as("n_zero_cit"),
      nDistinct(yearCol), nDistinct(domainCol))
    // one row; cached because all five gate branches below reference it —
    // uncached, the full-table aggregation would re-execute per gate
    val stats = base.crossJoin(top1(yearCol)).crossJoin(top1(domainCol)).cache()
    def pct(c: String) = round(col(c) * 100.0 / col("n"), 2)

    val gates = Seq(
      stats.filter(pct("n_no_intro") > 60).select(
        lit("extraction_failure_spike").as("anomaly_type"),
        lit(hasIntroCol).as("column_name"),
        when(pct("n_no_intro") > 80, "critical").otherwise("warning").as("severity"),
        pct("n_no_intro").as("pct"), col("n_no_intro").as("detail_n")),
      stats.filter(col("n_dup") > 0).select(
        lit("duplicate_papers").as("anomaly_type"),
        lit(idCol).as("column_name"),
        when(pct("n_dup") > 5, "critical").otherwise("warning").as("severity"),
        pct("n_dup").as("pct"), col("n_dup").as("detail_n")),
      stats.filter(pct("n_zero_cit") > 70).select(
        lit("low_citation_anomaly").as("anomaly_type"),
        lit(citationCol).as("column_name"),
        lit("warning").as("severity"),
        pct("n_zero_cit").as("pct"), col("n_zero_cit").as("detail_n")),
      stats.filter(pct(s"top_${yearCol}_n") > 70 && col(s"n_$yearCol") > 1).select(
        lit("temporal_bias").as("anomaly_type"),
        lit(yearCol).as("column_name"),
        lit("warning").as("severity"),
        pct(s"top_${yearCol}_n").as("pct"),
        col(s"top_${yearCol}_n").cast("long").as("detail_n")),
      stats.filter(pct(s"top_${domainCol}_n") > 85 && col(s"n_$domainCol") > 1).select(
        lit("domain_skew").as("anomaly_type"),
        lit(domainCol).as("column_name"),
        lit("warning").as("severity"),
        pct(s"top_${domainCol}_n").as("pct"),
        col(s"top_${domainCol}_n").cast("long").as("detail_n")))
    gates.reduce(_.unionAll(_)).orderBy(col("anomaly_type"))
  }

  /** Ordered filter-cascade attrition report: for rule k (applied on top
    * of rules 1..k-1), one row (step, rule, n_in, n_drop, n_out) — the
    * "where did my corpus go" audit every multi-rule quality pipeline
    * (Gopher/C4-style rule stacks) publishes next to its output.
    *
    * ONE corpus scan: every cumulative predicate is a conditional count in
    * a single aggregate (map-side partial), then the rule-count-sized
    * 1-row result is reshaped by exploding an array of typed structs —
    * rule names are `lit` values, never interpolated into SQL text, so any
    * name (quotes included) is safe. Rules must be deterministic Columns
    * over the input row.
    */
  def filterFunnel(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "filterFunnel needs at least one rule")
    val cum = rules.scanLeft(lit(true)) { case (acc, (_, c)) => acc && c }.tail
    val aggs: Seq[Column] = count(lit(1)).cast("long").as("n0") +:
      cum.zipWithIndex.map { case (p, i) =>
        sum(when(p, 1L).otherwise(0L)).cast("long").as(s"n${i + 1}")
      }
    val a = df.agg(aggs.head, aggs.tail: _*)
    val steps = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit((i + 1).toLong).as("step"), lit(name).as("rule"),
        col(s"n$i").as("n_in"), col(s"n${i + 1}").as("n_out"))
    }
    a.select(explode(array(steps: _*)).as("s"))
      .select(col("s.step").as("step"), col("s.rule").as("rule"),
        col("s.n_in").as("n_in"),
        (col("s.n_in") - col("s.n_out")).as("n_drop"),
        col("s.n_out").as("n_out"))
      .orderBy(col("step"))
  }

  /** Approximate-query-processing estimate audit (the BlinkDB/AQUA
    * pattern, Agarwal et al. EuroSys 2013): per group, the exact SUM next
    * to the Horvitz-Thompson estimate a deterministic `permille`/1000
    * hash sample would have produced, and their relative error. Sampling
    * is BY VALUE of the unit key — md5 low 16 bits mod 1000 — so
    * membership is engine-portable (a SQL oracle reproduces the sample
    * row-for-row), stable under reruns, and consistent across tables
    * sharing the key (joinable samples, the AQP requirement plain
    * `TABLESAMPLE` loses).
    *
    * This AUDIT form scans the full table once (both sides from one
    * aggregation) to measure the error; the production AQP flow
    * materializes the sample ONCE with the same predicate (1/1000th the
    * scan at permille=1) and serves estimates from it, quoting this
    * audit's observed error as the confidence evidence.
    */
  def hashSampleEstimate(df: DataFrame, unitKey: Column, groupCol: String,
                         valCol: String, permille: Int): DataFrame = {
    require(permille > 0 && permille < 1000, "permille in (0, 1000)")
    // low 16 bits of md5 = hex bytes 9 (chars 19-20) then 8 (chars 17-18),
    // little-endian — the md5_number_lower % 65536 convention
    val bucket = pmod(
      conv(concat(substring(md5(unitKey), 19, 2), substring(md5(unitKey), 17, 2)),
        16, 10).cast("long"), lit(1000L))
    val scale = 1000.0 / permille
    df.select(col(groupCol), col(valCol).as("__v"),
        (bucket < permille).as("__in"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_exact"),
        round(sum(col("__v")), 2).as("sum_exact"),
        sum(when(col("__in"), 1L).otherwise(0L)).cast("long").as("n_sample"),
        round(sum(when(col("__in"), col("__v")).otherwise(0.0)) * scale, 2)
          .as("est_sum"))
      .withColumn("rel_err",
        round(abs(col("est_sum") - col("sum_exact")) / col("sum_exact"), 6))
  }
}
