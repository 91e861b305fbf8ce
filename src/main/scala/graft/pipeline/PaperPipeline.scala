package graft.pipeline

import graft.embed.Embedder
import graft.operators._
import graft.sinks.{AlertSink, PlotSink}
import graft.sources.HttpSource
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference DAG's task bodies as composable `SparkSession → DataFrame`
  * stages (SURVEY.md §3.1 restatement): collect → project → extract →
  * dedup → profile → bias-analyze → (mitigate) → upsert. Airflow's
  * file-handoff between tasks becomes in-session DataFrame reuse; the
  * recursive mitigation loop stays driver-side imperative code invoking the
  * same collection stage (the tiny recommendation table is the only thing
  * collected).
  */
object PaperPipeline {

  final case class Config(
      domain: String,
      terms: Seq[String],
      scrapedAt: java.sql.Timestamp,
      source: HttpSource.SourceConfig = HttpSource.SourceConfig(),
      maxRefs: Int = 50,
      disparityThreshold: Double = 50.0)

  /** One failed validation gate, normalized for reporting: the anomaly-gate
    * rows and the quality-drop rows both reduce to this shape before the
    * K8/K9 failure report renders them.
    */
  final case class GateFailure(anomalyType: String, columnName: String,
                               severity: String, description: String,
                               value: Double)

  /** Failure-report configuration — the reference DAG's on-failure path
    * (`dags/test_dag.py:354-432` renders the dashboards,
    * `schema_validator.py:568-706` emails the anomaly report with the bias
    * viz inline). Both halves are skip-when-unconfigured: no
    * `dashboardDir` → no PNG write, no SMTP credentials → no mail — the
    * reference's unconfigured-SMTP log-and-skip, never a hard failure.
    */
  final case class ReportConfig(
      dashboardDir: Option[String] = None,
      smtp: AlertSink.SmtpConfig = AlertSink.SmtpConfig(),
      transport: () => AlertSink.SmtpTransport =
        () => new AlertSink.SslSocketTransport)

  /** Render + deliver one failure report: bar-chart PNG of the fired gates
    * (K8, written to `dashboardDir` and inlined into the mail via
    * Content-ID), severity-styled HTML alert over SMTP (K9). The gate
    * tables are tiny by construction (≤ a handful of rows), so everything
    * here is driver-side on already-collected rows except the one
    * profile aggregate for the mail header.
    */
  def reportFailure(papers: DataFrame, failures: Seq[GateFailure],
                    runTs: String, report: ReportConfig): Option[Seq[String]] = {
    val severity =
      if (failures.exists(_.severity == "critical")) "critical" else "warning"
    val chart = PlotSink.barChartPng(
      failures.map(f => (s"${f.anomalyType}:${f.columnName}", f.value)),
      s"Validation failures $runTs")
    report.dashboardDir.foreach { dir =>
      PlotSink.writePng(papers.sparkSession, chart,
        s"${dir.stripSuffix("/")}/anomaly_dashboard_$runTs.png")
      // the reference's subdomain×domain mean-citation heatmap
      // (`visualization_generator.py:385-404`) rides along with every
      // dashboard write — and, like the reference, silently skips when
      // the columns aren't present on this stage's schema
      val cols = papers.columns.toSet
      if (Set("subdomain", "domain", "citation_count").subsetOf(cols))
        PlotSink.writeHeatmap(papers, "subdomain", "domain",
          "citation_count",
          s"${dir.stripSuffix("/")}/subdomain_heatmap_$runTs.png",
          s"Mean citations: subdomain vs domain $runTs")
    }
    val prof = profile(papers).collect()(0)
    val schema = org.apache.spark.sql.types.StructType(
      Seq("anomaly_type", "column_name", "severity", "description").map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType)))
    val rows = failures.map(f =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](f.anomalyType, f.columnName, f.severity, f.description),
        schema): org.apache.spark.sql.Row)
    val html = AlertSink.renderAnomalyHtml(rows, severity, runTs,
      prof.getAs[Long]("n_rows"), prof.getAs[Double]("overall_quality"),
      inlineImageCid = Some("bias_viz"))
    val msg = AlertSink.buildMimeMessage(
      s"Data Quality Alert [${severity.toUpperCase}] $runTs",
      report.smtp.user.getOrElse("graft"),
      report.smtp.to.orElse(report.smtp.user).getOrElse("alerts"),
      html, Some(("bias_viz", chart)))
    AlertSink.sendAlert(report.smtp, msg, report.transport())
  }

  /** K8 trend panel: the run-history quality metrics as one multi-series
    * line PNG (x = run ordinal in run_ts order — timestamps are strings,
    * the ordinal is their order). Fewer than 2 recorded runs → no write
    * (the reference's trend guard, `visualization_generator.py:292-295`).
    */
  def reportTrends(spark: SparkSession, historyPath: String,
                   dashboardDir: String, runTs: String,
                   metricCols: Seq[String] =
                     Seq("completeness", "validity", "overall_quality")): Unit = {
    val runs = spark.read.parquet(historyPath)
    if (runs.count() < 2) return
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("run_ts"))
    val indexed = runs
      .select(col("run_ts") +:
        metricCols.map(m => col(m).cast("double").as(m)): _*)
      .withColumn("run_idx", row_number().over(w).cast("double"))
    val unpivoted = metricCols.map { m =>
      indexed.select(lit(m).as("metric"), col("run_idx"), col(m).as("value"))
    }.reduce(_.unionByName(_))
    PlotSink.writeLineChart(unpivoted, "run_idx", "metric", "value",
      s"${dashboardDir.stripSuffix("/")}/disparity_trends_$runTs.png",
      s"Quality metric trends $runTs", xLabel = "run", yLabel = "metric value")
  }

  // The failure report must never MASK the gate signal: any reporting
  // error (FS down, SMTP rejected) is attached as a suppressed exception
  // on the gate exception about to be thrown, not propagated in its place.
  private def tryReport(papers: DataFrame, failures: Seq[GateFailure],
                        runTs: String, report: Option[ReportConfig],
                        gateEx: Exception): Unit =
    report.foreach { r =>
      try reportFailure(papers, failures, runTs, r)
      catch { case scala.util.control.NonFatal(t) => gateEx.addSuppressed(t) }
    }

  /** Collect + project (reference steps 2a: search → flat records). */
  def collect(spark: SparkSession, cfg: Config,
              transport: HttpSource.HttpTransport): DataFrame = {
    val raw = HttpSource.searchPapers(spark, cfg.terms, cfg.source, transport)
    MetadataProjection.project(raw, cfg.domain, cfg.scrapedAt, cfg.maxRefs)
  }

  /** Keep-first dedup with the reference's seed-order priority (F1):
    * richer records first (a refs-stripped mitigation re-fetch must never
    * displace the original record that carries references_id), then
    * earliest scrape, then search_term as the deterministic tie-break.
    */
  def dedup(papers: DataFrame): DataFrame =
    Relational.dedupKeepFirst(papers, Seq("paper_id"),
      Seq(size(col("references_id")).desc, col("scraped_at"), col("search_term")))

  /** Closed-world reference filter (F3) against the collected id set. */
  def closeWorld(papers: DataFrame): DataFrame =
    Relational.closedWorldFilter(papers, "paper_id", "references_id",
      papers.select(col("paper_id")), "paper_id")

  /** Quality profile + anomaly gates (reference step 6). The validity gate
    * checks the integer publication-year column against the reference's
    * 1950..2025 window (`schema_validator.py:338-340`) — NOT the ingestion
    * timestamp, whose year is always the scrape year.
    */
  def profile(papers: DataFrame): DataFrame =
    Profiling.qualityScore(papers, "year", 1950, 2025, "citation_count")

  /** Validation gate (reference `schema_validator` DAG step): run the five
    * anomaly gates over a stage table and FAIL the run when any critical
    * anomaly fires. Returns the (tiny) anomaly table when the stage passes,
    * so callers can log warnings; throws [[CriticalAnomalyException]]
    * otherwise — the Airflow-task-failure equivalent.
    */
  def validate(papers: DataFrame, idCol: String = "paper_id",
               hasIntroCol: String = "has_intro",
               citationCol: String = "citation_count",
               yearCol: String = "year",
               domainCol: String = "domain",
               report: Option[ReportConfig] = None,
               runTs: String = "run"): DataFrame = {
    val anomalies = Profiling.anomalyGates(papers, idCol, hasIntroCol,
      citationCol, yearCol, domainCol)
    val critical = anomalies.filter(col("severity") === "critical").collect()
    if (critical.nonEmpty) {
      val ex = new CriticalAnomalyException(
        critical.map(r => s"${r.getAs[String]("anomaly_type")} " +
          s"(${r.getAs[String]("column_name")}: ${r.getAs[Double]("pct")}%)")
          .mkString("; "))
      tryReport(papers, critical.toIndexedSeq.map(r => GateFailure(
        r.getAs[String]("anomaly_type"), r.getAs[String]("column_name"),
        "critical",
        s"${r.getAs[Double]("pct")}% of rows " +
          s"(${r.getAs[Long]("detail_n")} affected)",
        r.getAs[Double]("pct"))), runTs, report, ex)
      throw ex
    }
    anomalies
  }

  /** [[validate]] plus the reference's run-over-run quality-drop gate
    * (`schema_validator.py:352-386`, gated in `test_dag.py`): append this
    * run's quality profile to the history table, then compare each metric
    * (completeness, validity, overall) with the immediately previous run.
    * A drop of more than `dropThreshold` points (reference: 5) FAILS the
    * gate — [[QualityDropException]] — exactly like a critical anomaly;
    * the profile is still recorded first so the next run compares against
    * reality, not against the last passing run. `failOnDrop = false`
    * downgrades the gate to alert-only for callers that log-and-continue.
    * Returns (anomalies, flagged-drops) — both tiny.
    */
  def validateAndTrack(papers: DataFrame, historyPath: String, runTs: String,
                       dropThreshold: Double = 5.0,
                       failOnDrop: Boolean = true,
                       report: Option[ReportConfig] = None): (DataFrame, DataFrame) = {
    val anomalies = validate(papers, report = report, runTs = runTs)
    graft.quality.RunHistory.record(profile(papers), runTs, historyPath)
    // the reference's trend panel (`plot_disparity_trends`,
    // `visualization_generator.py:283-336`): quality metrics per run as
    // a multi-series line chart — skipped below 2 runs, exactly like
    // the reference's "need 2+ runs" guard. Reporting must never mask
    // the gate (same contract as tryReport).
    report.flatMap(_.dashboardDir).foreach { dir =>
      try reportTrends(papers.sparkSession, historyPath, dir, runTs)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val drops = graft.quality.RunHistory.qualityDrop(papers.sparkSession, historyPath,
        threshold = dropThreshold)
      .filter(col("run_ts") === runTs && col("quality_dropped"))
    if (failOnDrop) {
      val flagged = drops.collect()
      if (flagged.nonEmpty) {
        val ex = new QualityDropException(
          flagged.map(r => s"${r.getAs[String]("metric")} dropped " +
            s"${r.getAs[Double]("drop")} points " +
            s"(${r.getAs[Double]("previous")} -> ${r.getAs[Double]("current")})")
            .mkString("; "))
        tryReport(papers, flagged.toIndexedSeq.map(r => GateFailure(
          "quality_drop", r.getAs[String]("metric"), "critical",
          s"${r.getAs[String]("metric")} dropped ${r.getAs[Double]("drop")} " +
            s"points (${r.getAs[Double]("previous")} -> " +
            s"${r.getAs[Double]("current")})",
          r.getAs[Double]("drop"))), runTs, report, ex)
        throw ex
      }
    }
    (anomalies, drops)
  }

  /** Bias slicing + mitigation recommendations (steps 3-5): returns the
    * (tiny) per-slice recommendation table with the reference's priority
    * tagging (A5: high when the group sits below half the median,
    * `slicing_bias_analysis.py:325-374`); the driver loop re-collects
    * underrepresented slices with the same `collect` stage, high-priority
    * first (reference O4 ordering).
    */
  def biasRecommendations(papers: DataFrame, sliceCol: String): DataFrame =
    Bias.underrepresentation(papers, sliceCol)
      .filter(col("underrepresented"))
      .withColumn("priority",
        when(col("n") < col("median_n") * 0.5, "high").otherwise("medium"))
      .orderBy((col("priority") === "high").desc, col("needed").desc, col(sliceCol))

  /** Mitigation loop (reference `bias_mitigation_collector.py:378-457`
    * semantics): iterate — re-analyze, re-collect each underrepresented
    * slice with refs disabled, union, dedup — until no slice is below the
    * median or `maxCycles` is reached (the reference caps recollection the
    * same way). Only the tiny recommendation table is ever collected.
    */
  def mitigate(spark: SparkSession, cfg: Config, papers: DataFrame,
               transport: HttpSource.HttpTransport, maxCycles: Int = 3): DataFrame = {
    // Each cycle's result is pinned with localCheckpoint: the lineage roots
    // in a live, rate-limited, non-idempotent HTTP source, so re-executing
    // it on every downstream action would re-issue all prior cycles' fetches
    // (O(cycles²) requests) and could return *different* data between the
    // convergence check and the caller's eventual materialization.
    var current = papers.localCheckpoint()
    var currentCount = current.count()
    var cycle = 0
    var done = false
    while (cycle < maxCycles && !done) {
      val recs = biasRecommendations(current, "search_term").collect()
      if (recs.isEmpty) done = true
      else {
        val terms = recs.map(_.getAs[String]("search_term")).toSeq
        val extra = collect(spark,
          cfg.copy(terms = terms, maxRefs = 0, source = cfg.source), transport)
        val merged = dedup(current.unionByName(extra, allowMissingColumns = true))
          .localCheckpoint()
        val mergedCount = merged.count()
        // fixed point: recollection added nothing new → further cycles
        // cannot help (the reference breaks on the same condition)
        if (mergedCount == currentCount) done = true
        current = merged
        currentCount = mergedCount
      }
      cycle += 1
    }
    current
  }

  /** Preprocess + embed (reference §3.2): clean → gate → chunk → embed. */
  def embedStage(papers: DataFrame, textCol: String,
                 provider: Embedder.Provider): DataFrame = {
    val cleaned = papers
      .withColumn("__clean", TextFns.cleanText(col(textCol)))
      .filter(length(col("__clean")) >= 200)
    val chunks = Chunking.chunkDocuments(
      cleaned.select(col("paper_id"), col("__clean")), "paper_id", "__clean")
    Embedder.embedChunks(chunks, "chunk_id", "chunk_text", provider)
  }
}

/** Thrown by [[PaperPipeline.validate]] when a critical anomaly gate fires —
  * the run-failure signal the reference raises as an Airflow task failure.
  */
final class CriticalAnomalyException(msg: String)
  extends RuntimeException(msg)

/** Thrown by [[PaperPipeline.validateAndTrack]] when any quality metric
  * falls more than the threshold vs the previous run — the reference gates
  * the DAG on this (`schema_validator.py:352-386`).
  */
final class QualityDropException(msg: String)
  extends RuntimeException(msg)
