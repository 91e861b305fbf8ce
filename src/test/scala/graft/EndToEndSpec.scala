package graft

import graft.embed.Embedder
import graft.operators.Similarity
import graft.pipeline.{CriticalAnomalyException, PaperPipeline, QualityDropException}
import graft.quality.RunHistory
import graft.sinks.{AlertSink, Sinks}
import graft.sources.HttpSource._
import org.apache.spark.sql.functions._

/** The reference's integration surface
  * (`tests/integration/test_end_to_end_pipeline.py`): API → metadata →
  * content → dedup → bias → embed → search → upsert, over canned payloads.
  */
object EndToEndSpec {
  def paper(id: String, cites: Int): String =
    s"""{"paperId":"$id","title":"Paper $id","abstract":"${"word " * 60}",
       |"year":2021,"citationCount":$cites,"influentialCitationCount":1,
       |"externalIds":{"DOI":"10.1/$id"},
       |"authors":[{"authorId":"a-$id","name":"Author $id"}],
       |"references":[{"paperId":"ref-common"}],
       |"fieldsOfStudy":["CS"],"publicationTypes":["JournalArticle"],
       |"tldr":{"text":"tldr $id"},"openAccessPdf":{"url":"http://x/$id"}}""".stripMargin

  /** Term-aware transport: ml → 3 papers (one duplicated across terms),
    * ai → 1 paper. Deterministic, stateless — safe to serialize.
    */
  class TermTransport extends HttpTransport {
    def get(url: String, headers: Map[String, String]): HttpResponse = {
      val body =
        if (url.contains("query=ml"))
          s"""{"data":[${paper("p1", 10)},${paper("p2", 5)},${paper("shared", 1)}]}"""
        else
          s"""{"data":[${paper("shared", 1)}]}"""
      HttpResponse(200, body)
    }
  }
}

class EndToEndSpec extends SparkSpec {
  import EndToEndSpec._

  private val ts = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
  private def cfg = PaperPipeline.Config(
    domain = "cs", terms = Seq("ml", "ai"), scrapedAt = ts,
    source = SourceConfig(minIntervalMs = 0, sleeper = HttpSourceSpec.noSleep))

  test("collect -> project -> dedup -> closed-world -> profile -> upsert") {
    val collected = PaperPipeline.collect(spark, cfg, new TermTransport)
    assert(collected.count() == 4) // 3 + 1, 'shared' twice
    val deduped = PaperPipeline.dedup(collected)
    assert(deduped.count() == 3)
    assert(deduped.filter(col("paper_id") === "shared").count() == 1)

    // closed world: 'ref-common' is not a collected paper → filtered out
    val closed = PaperPipeline.closeWorld(deduped)
    assert(closed.filter(size(col("references_id")) > 0).count() == 0)

    val profile = PaperPipeline.profile(closed)
    val prow = profile.collect()(0)
    assert(prow.getAs[Long]("n_rows") == 3)
    assert(prow.getAs[Double]("validity") == 100.0)

    // upsert through the fake JDBC connection
    SinksSpec.capturedSql.clear(); SinksSpec.batchSizes.clear()
    val stats = Sinks.jdbcUpsert(
      Sinks.coerceForDb(closed.select("paper_id", "title", "references_id")),
      "papers", Seq("paper_id"), () => SinksSpec.fakeConnection())
    assert(stats.attempted == 3 && stats.failed == 0)
  }

  test("profile's year-validity gate fires on out-of-window publication years") {
    import spark.implicits._
    val collected = PaperPipeline.collect(spark, cfg, new TermTransport)
    // force one paper outside the reference's 1950..2025 window: the gate
    // must count it (it checks the integer year column, not scraped_at)
    val skewed = collected.withColumn("year",
      when(col("paper_id") === "p1", lit(1900)).otherwise(col("year")))
    val prow = PaperPipeline.profile(skewed).collect()(0)
    assert(prow.getAs[Long]("n_bad_year") == 1L)
    assert(prow.getAs[Double]("validity") < 100.0)
  }

  test("bias recommendations drive a mitigation recollection cycle") {
    val collected = PaperPipeline.dedup(
      PaperPipeline.collect(spark, cfg, new TermTransport))
    // after keep-first dedup 'shared' survives under 'ai' (tie-break):
    // ml has 2 papers, ai has 1 -> ai is below the median (1.5)
    val recs = PaperPipeline.biasRecommendations(collected, "search_term")
    val r = recs.collect()
    assert(r.nonEmpty)
    assert(r.head.getAs[String]("search_term") == "ai")
    assert(r.head.getAs[Long]("needed") > 0)
    val augmented = PaperPipeline.mitigate(spark, cfg, collected, new TermTransport)
    // recollection re-fetches 'ai' -> only 'shared', already present
    assert(augmented.count() == collected.count())
  }

  test("embed stage + similarity search over generated vectors") {
    val collected = PaperPipeline.dedup(
      PaperPipeline.collect(spark, cfg, new TermTransport))
    val provider = new Embedder.HashingProvider(32)
    val vecs = PaperPipeline.embedStage(collected, "abstract", provider)
    assert(vecs.count() == 3) // one chunk per 300-char abstract
    val firstVec = vecs.orderBy("chunk_id").collect()(0)
      .getAs[scala.collection.Seq[Float]]("embedding")
    assert(firstVec.size == 32)
    assert(math.abs(firstVec.map(x => x * x).sum - 1.0) < 1e-3) // normalized
    // top-k self-search: 3 vectors, self excluded → 2 neighbors
    val top = Similarity.knnJoin(vecs.limit(1), vecs, "chunk_id", "embedding", 3)
    assert(top.count() == 2)
  }

  test("run history anomaly flags a volume spike") {
    val dir = Scratch.dir("graft-runs")
    import spark.implicits._
    (1 to 12).foreach { i =>
      val n = if (i == 12) 500L else 100L + i // last run spikes
      RunHistory.record(Seq((n)).toDF("n_rows"), f"2026-01-$i%02dT00", dir)
    }
    val an = RunHistory.anomalies(spark, dir, "n_rows")
    val rows = an.orderBy("run_ts").collect()
    assert(!rows.init.lastOption.exists(_.getAs[Boolean]("is_anomaly")))
    assert(rows.last.getAs[Boolean]("is_anomaly"))
  }

  test("quality-drop alert fires on a >5-point fall vs the previous run only") {
    val dir = Scratch.dir("graft-qd")
    import spark.implicits._
    // run 1: 98/96; run 2: small dip (no alert); run 3: completeness -7.5
    Seq(("2026-01-01T00", 98.0, 96.0), ("2026-01-02T00", 95.0, 95.5),
      ("2026-01-03T00", 87.5, 94.0))
      .foreach { case (ts, c, v) =>
        RunHistory.record(
          Seq((c, v, (c + v) / 2)).toDF("completeness", "validity", "overall_quality"),
          ts, dir)
      }
    val drops = RunHistory.qualityDrop(spark, dir).orderBy("run_ts", "metric")
    val flagged = drops.filter(col("quality_dropped")).collect()
    assert(flagged.length == 1)
    assert(flagged.head.getAs[String]("run_ts") == "2026-01-03T00")
    assert(flagged.head.getAs[String]("metric") == "completeness")
    assert(flagged.head.getAs[Double]("drop") == 7.5)
    // first run has no previous -> never flagged (reference has_previous=False)
    assert(drops.filter(col("run_ts") === "2026-01-01T00")
      .filter(col("quality_dropped")).count() == 0)
  }

  test("validateAndTrack fails the gate on a >5-point quality drop") {
    val dir = Scratch.dir("graft-vt")
    import spark.implicits._
    def papers(missing: Boolean) = (1 to 40).map { i =>
      (s"p$i", i % 2 == 0, i.toLong, 2000L + i % 20,
        s"d${i % 3}", if (missing && i % 2 == 1) null else s"t$i")
    }.toDF("paper_id", "has_intro", "citation_count", "year", "domain", "title")
    val (an1, d1) = PaperPipeline.validateAndTrack(papers(false), dir, "r1")
    assert(d1.count() == 0) // first run: no previous
    assert(an1.columns.contains("anomaly_type"))
    // half the titles go null -> completeness falls >5 points -> the gate
    // FAILS, like the reference's DAG-gated schema_validator
    val ex = intercept[QualityDropException] {
      PaperPipeline.validateAndTrack(papers(true), dir, "r2")
    }
    assert(ex.getMessage.contains("completeness"), ex.getMessage)
    // the failing run's profile was still recorded (next run compares
    // against reality, not against the last passing run)
    assert(spark.read.parquet(dir).filter(col("run_ts") === "r2").count() == 1)
  }

  test("validateAndTrack alert-only mode surfaces the drop without failing") {
    val dir = Scratch.dir("graft-vt2")
    import spark.implicits._
    def papers(missing: Boolean) = (1 to 40).map { i =>
      (s"p$i", i % 2 == 0, i.toLong, 2000L + i % 20,
        s"d${i % 3}", if (missing && i % 2 == 1) null else s"t$i")
    }.toDF("paper_id", "has_intro", "citation_count", "year", "domain", "title")
    PaperPipeline.validateAndTrack(papers(false), dir, "r1")
    val (_, d2) = PaperPipeline.validateAndTrack(papers(true), dir, "r2",
      failOnDrop = false)
    val flagged = d2.collect()
    assert(flagged.nonEmpty)
    assert(flagged.forall(_.getAs[String]("run_ts") == "r2"))
  }

  /** Scripted SMTP transport (the AlertPlotSinkSpec fake, inlined). */
  private class FakeSmtp extends AlertSink.SmtpTransport {
    val commands = scala.collection.mutable.ArrayBuffer.empty[String]
    var connected = false
    private val replies = Iterator("220 ready", "250 hello",
      "334 VXNlcm5hbWU6", "334 UGFzc3dvcmQ6", "235 accepted", "250 ok",
      "250 ok", "354 go ahead", "250 queued", "221 bye")
    def connect(host: String, port: Int): Unit = connected = true
    def exchange(command: Option[String]): String = {
      command.foreach(commands += _); replies.next()
    }
    def close(): Unit = ()
  }

  test("critical anomaly renders the dashboard PNG and sends the alert mail") {
    import spark.implicits._
    val dir = Scratch.dir("graft-report")
    val hist = Scratch.dir("graft-report-h")
    // 90% missing intros → extraction_failure_spike at CRITICAL severity
    val papers = (1 to 50).map { i =>
      (s"p$i", i <= 5, i.toLong % 7, 2000L + i % 20, s"d${i % 3}", s"t$i")
    }.toDF("paper_id", "has_intro", "citation_count", "year", "domain", "title")
    val fake = new FakeSmtp
    val report = PaperPipeline.ReportConfig(
      dashboardDir = Some(s"file:$dir"),
      smtp = AlertSink.SmtpConfig(user = Some("u@x"), password = Some("pw"),
        to = Some("alerts@y")),
      transport = () => fake)
    val ex = intercept[CriticalAnomalyException] {
      PaperPipeline.validateAndTrack(papers, hist, "r1", report = Some(report))
    }
    assert(ex.getMessage.contains("extraction_failure_spike"))
    assert(ex.getSuppressed.isEmpty, ex.getSuppressed.mkString("; "))
    // K8: the dashboard PNG landed and decodes
    val img = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/anomaly_dashboard_r1.png"))
    assert(img != null && img.getWidth == 800)
    // K9: the full SMTP dialogue ran; DATA carries subject + inline PNG cid
    assert(fake.commands.contains("DATA"))
    val data = fake.commands.find(_.contains("Content-ID")).get
    assert(data.contains("Subject: Data Quality Alert [CRITICAL] r1"))
    assert(data.contains("Content-ID: <bias_viz>"))
    assert(data.contains("multipart/related"))
  }

  test("dashboard writes the subdomain heatmap with the anomaly panel and trends after 2 runs") {
    import spark.implicits._
    val dir = Scratch.dir("graft-heatdash")
    val hist = Scratch.dir("graft-heatdash-h")
    def papers(failing: Boolean) = (1 to 50).map { i =>
      (s"p$i", !failing || i <= 5, i.toLong % 7, 2000L + i % 20,
        s"d${i % 3}", s"s${i % 4}", s"t$i")
    }.toDF("paper_id", "has_intro", "citation_count", "year", "domain",
      "subdomain", "title")
    val report = PaperPipeline.ReportConfig(dashboardDir = Some(s"file:$dir"),
      transport = () => new FakeSmtp)
    // two CLEAN runs: the trend panel needs 2+ recorded runs (the
    // reference's guard) — absent after run 1, present after run 2
    PaperPipeline.validateAndTrack(papers(false), hist, "r1",
      report = Some(report))
    assert(!new java.io.File(s"$dir/disparity_trends_r1.png").exists())
    PaperPipeline.validateAndTrack(papers(false), hist, "r2",
      report = Some(report))
    val trends = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/disparity_trends_r2.png"))
    assert(trends != null && trends.getWidth == 800)
    // a failing run with subdomain+domain+citation columns writes the
    // subdomain×domain heatmap next to the anomaly panel
    intercept[CriticalAnomalyException] {
      PaperPipeline.validateAndTrack(papers(true), hist, "r3",
        report = Some(report))
    }
    val heat = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/subdomain_heatmap_r3.png"))
    assert(heat != null && heat.getHeight > 60)
    assert(new java.io.File(s"$dir/anomaly_dashboard_r3.png").exists())
  }

  test("quality drop sends the alert before failing; unconfigured SMTP skips") {
    import spark.implicits._
    val hist = Scratch.dir("graft-report-q")
    def papers(missing: Boolean) = (1 to 40).map { i =>
      (s"p$i", i % 2 == 0, i.toLong, 2000L + i % 20,
        s"d${i % 3}", if (missing && i % 2 == 1) null else s"t$i")
    }.toDF("paper_id", "has_intro", "citation_count", "year", "domain", "title")
    val fake = new FakeSmtp
    val report = PaperPipeline.ReportConfig(
      smtp = AlertSink.SmtpConfig(user = Some("u@x"), password = Some("pw"),
        to = Some("alerts@y")),
      transport = () => fake)
    PaperPipeline.validateAndTrack(papers(false), hist, "r1",
      report = Some(report))
    assert(fake.commands.isEmpty) // clean run -> no report
    intercept[QualityDropException] {
      PaperPipeline.validateAndTrack(papers(true), hist, "r2",
        report = Some(report))
    }
    val data = fake.commands.find(_.contains("Content-ID")).get
    assert(data.contains("Subject: Data Quality Alert [CRITICAL] r2"))
    // quality_drop pseudo-anomaly block names the dropped metric
    assert(fake.commands.contains("RCPT TO:<alerts@y>"))
    // unconfigured credentials: gate still fires, nothing is sent
    val silent = new FakeSmtp
    val unconfigured = PaperPipeline.ReportConfig(
      smtp = AlertSink.SmtpConfig(user = None, password = None, to = None),
      transport = () => silent)
    val hist2 = Scratch.dir("graft-report-q2")
    PaperPipeline.validateAndTrack(papers(false), hist2, "r1",
      report = Some(unconfigured))
    intercept[QualityDropException] {
      PaperPipeline.validateAndTrack(papers(true), hist2, "r2",
        report = Some(unconfigured))
    }
    assert(!silent.connected && silent.commands.isEmpty)
  }
}
