package graft

import graft.sinks.{AlertSink, PlotSink}
import org.apache.spark.sql.functions._

/** K8 (PNG plot sink) + K9 (email alert sink) — rendering and MIME/SMTP
  * behavior, with the network transport faked exactly like HttpSourceSpec
  * fakes HTTP.
  */
class AlertPlotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def decode(png: Array[Byte]) =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))

  test("bar chart renders deterministic PNG with value-proportional bars") {
    val rows = Seq(("alpha", 100.0), ("beta", 50.0), ("gamma", 25.0))
    val png = PlotSink.barChartPng(rows, "test chart")
    assert(png.sameElements(PlotSink.barChartPng(rows, "test chart")),
      "same aggregate must render byte-identical PNGs")
    val img = decode(png)
    assert(img.getWidth == 800)
    // bar i occupies y in [50 + 28i + 4, 50 + 28i + 22); count colored
    // (non-white, non-black) pixels along its center line from x=180
    def barLen(i: Int): Int = {
      val y = 50 + i * 28 + 12
      (180 until img.getWidth).count { x =>
        val rgb = img.getRGB(x, y) & 0xFFFFFF
        rgb != 0xFFFFFF && rgb != 0x000000
      }
    }
    val (a, b, c) = (barLen(0), barLen(1), barLen(2))
    assert(a > b && b > c, s"$a,$b,$c")
    assert(math.abs(a.toDouble / b - 2.0) < 0.2, s"alpha/beta = ${a.toDouble / b}")
    assert(math.abs(a.toDouble / c - 4.0) < 0.4, s"alpha/gamma = ${a.toDouble / c}")
  }

  test("pie chart renders all slices with the legend") {
    val png = PlotSink.pieChartPng(
      Seq(("x", 3.0), ("y", 1.0)), "shares", size = 200)
    val img = decode(png)
    // legend swatches: x in [size+32, size+44), y in [50 + 22i, 62 + 22i)
    assert((img.getRGB(236, 55) & 0xFFFFFF) != 0xFFFFFF)
    assert((img.getRGB(236, 77) & 0xFFFFFF) != 0xFFFFFF)
    // pie body has colored pixels
    val center = img.getRGB(116, 144) & 0xFFFFFF
    assert(center != 0xFFFFFF && center != 0x000000)
  }

  test("heatmap cells color proportionally to value and render deterministically") {
    val rows = Seq("r0", "r1")
    val cols = Seq("c0", "c1")
    val values = Seq(Seq(0.0, 50.0), Seq(100.0, 75.0))
    val png = PlotSink.heatmapPng(rows, cols, values, "heat")
    assert(png.sameElements(PlotSink.heatmapPng(rows, cols, values, "heat")),
      "same matrix must render byte-identical PNGs")
    val img = decode(png)
    // probe each cell just inside its top-left corner (away from the
    // annotation text) and compare with the ramp at value/max
    def cellColor(r: Int, c: Int): Int = img.getRGB(
      PlotSink.HeatLeft + c * PlotSink.HeatCellW + 2,
      PlotSink.HeatTop + r * PlotSink.HeatCellH + 2) & 0xFFFFFF
    def expected(v: Double): Int =
      PlotSink.rampColor(v / 100.0).getRGB & 0xFFFFFF
    assert(cellColor(0, 0) == expected(0.0))
    assert(cellColor(0, 1) == expected(50.0))
    assert(cellColor(1, 0) == expected(100.0))
    assert(cellColor(1, 1) == expected(75.0))
    // ramp is monotone red-ward: high-value cell differs from low-value
    assert(cellColor(1, 0) != cellColor(0, 0))
  }

  test("line chart draws series markers at the documented transform and renders deterministically") {
    val series = Seq(
      "s0" -> Seq((0.0, 0.0), (1.0, 10.0), (2.0, 5.0)),
      "s1" -> Seq((0.0, 10.0), (1.0, 0.0), (2.0, 10.0)))
    val png = PlotSink.lineChartPng(series, "trend", "x", "y")
    assert(png.sameElements(PlotSink.lineChartPng(series, "trend", "x", "y")))
    val img = decode(png)
    // marker geometry: every point of every series must land a non-white
    // 7x7 marker centered at linePoint(...) — probe the exact center
    series.foreach { case (_, pts) =>
      pts.foreach { case (x, y) =>
        val (px, py) = PlotSink.linePoint(x, y, 0.0, 2.0, 0.0, 10.0,
          800, 480)
        val rgb = img.getRGB(px, py) & 0xFFFFFF
        assert(rgb != 0xFFFFFF, s"no marker at ($x,$y) -> ($px,$py)")
      }
    }
    // the two series use distinct palette colors at their first markers
    val (p0x, p0y) = PlotSink.linePoint(0.0, 0.0, 0.0, 2.0, 0.0, 10.0, 800, 480)
    val (p1x, p1y) = PlotSink.linePoint(0.0, 10.0, 0.0, 2.0, 0.0, 10.0, 800, 480)
    assert((img.getRGB(p0x, p0y) & 0xFFFFFF) != (img.getRGB(p1x, p1y) & 0xFFFFFF))
  }

  test("writeHeatmap pivots distributed (q31/q37's aggregate) and writes through Hadoop FS") {
    val dir = Scratch.dir("graft-heat")
    val df = Tables(spark, sf, "documents")
      .select(col("source"), col("lang"), col("n_chars"))
    PlotSink.writeHeatmap(df, "source", "lang", "n_chars",
      s"file:$dir/subdomain_heatmap.png", "Mean n_chars", topN = 3)
    val img = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/subdomain_heatmap.png"))
    assert(img != null && img.getHeight > PlotSink.HeatTop)
  }

  test("writeHeatmap survives a column value that appears only outside the top-N rows") {
    // row 'c' is OUTSIDE topN=2 by total, and column 'z' appears ONLY on
    // row 'c' — the pivot of the top-N subset therefore has no data for
    // 'z', while the column axis (derived from the full frame) includes
    // it. With an inferred pivot this desynchronized labels from value
    // indices and threw ArrayIndexOutOfBounds inside reportFailure,
    // silently dropping the alert email (reference
    // visualization_generator.py:392-401 pivots the full frame).
    val dir = Scratch.dir("graft-heatgap")
    val df = Seq(
      ("a", "x", 10.0), ("a", "y", 20.0),
      ("b", "x", 30.0), ("b", "y", 40.0),
      ("c", "z", 1.0))
      .toDF("row", "col", "v")
    PlotSink.writeHeatmap(df, "row", "col", "v",
      s"file:$dir/gap_heatmap.png", "Gap", topN = 2)
    val img = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/gap_heatmap.png"))
    assert(img != null && img.getHeight > PlotSink.HeatTop)
  }

  test("writeLineChart renders run-history-shaped series through Hadoop FS") {
    val dir = Scratch.dir("graft-line")
    val df = Seq(("validity", 1.0, 98.0), ("validity", 2.0, 97.5),
      ("completeness", 1.0, 92.0), ("completeness", 2.0, 95.0))
      .toDF("metric", "run_idx", "value")
    PlotSink.writeLineChart(df, "run_idx", "metric", "value",
      s"file:$dir/trends.png", "Quality trends")
    val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/trends.png"))
    assert(img != null && img.getWidth == 800 && img.getHeight == 480)
  }

  test("column chart bars are value-proportional in height; histogram bins the oracled way") {
    val rows = Seq(("a", 100.0), ("b", 50.0), ("c", 25.0))
    val png = PlotSink.columnChartPng(rows, "cols")
    assert(png.sameElements(PlotSink.columnChartPng(rows, "cols")))
    val img = decode(png)
    // column i occupies x in [60 + i*slot + (slot-barW)/2, +barW); count
    // colored pixels down its center column
    val slot = (800 - 60 - 20) / 3
    def colH(i: Int): Int = {
      val x = 60 + i * slot + slot / 2
      (0 until img.getHeight - 50).count { y =>
        val rgb = img.getRGB(x, y) & 0xFFFFFF
        rgb != 0xFFFFFF && rgb != 0x000000 && rgb != 0x404040
      }
    }
    val (a, b, c) = (colH(0), colH(1), colH(2))
    assert(a > b && b > c, s"$a,$b,$c")
    assert(math.abs(a.toDouble / b - 2.0) < 0.2, s"a/b = ${a.toDouble / b}")
    // histogram wrapper writes through FS and decodes
    val dir = Scratch.dir("graft-hist")
    PlotSink.writeHistogram(Tables(spark, sf, "documents"), "n_chars",
      s"file:$dir/hist.png", "n_chars distribution", nBins = 10)
    assert(javax.imageio.ImageIO.read(new java.io.File(s"$dir/hist.png")) != null)
  }

  test("box plot draws the five-number geometry; whiskers span beyond the box") {
    val groups = Seq(
      ("g1", (0.0, 25.0, 50.0, 75.0, 100.0)),
      ("g2", (10.0, 20.0, 30.0, 40.0, 50.0)))
    val png = PlotSink.boxPlotPng(groups, "boxes")
    assert(png.sameElements(PlotSink.boxPlotPng(groups, "boxes")))
    val img = decode(png)
    val (baseY, plotH) = (420 - 50, 420 - 100)
    def toY(v: Double): Int = baseY - (v / 100.0 * plotH).round.toInt
    val slot = (800 - 60 - 20) / 2
    val cx1 = 60 + slot / 2
    // g1 box spans p25..p75: colored at the box middle, white above max
    val boxMid = img.getRGB(cx1, toY(50.0)) & 0xFFFFFF
    assert(boxMid != 0xFFFFFF)
    assert((img.getRGB(cx1 - 10, toY(100.0) - 12) & 0xFFFFFF) == 0xFFFFFF)
    // whisker line exists between p75 and max (center x, above the box)
    val whisker = img.getRGB(cx1, toY(90.0)) & 0xFFFFFF
    assert(whisker != 0xFFFFFF)
    // FS wrapper over the q48-shaped distributed aggregate
    val dir = Scratch.dir("graft-box")
    PlotSink.writeBoxPlot(Tables(spark, sf, "documents"), "source", "n_chars",
      s"file:$dir/box.png", "n_chars by source")
    assert(javax.imageio.ImageIO.read(new java.io.File(s"$dir/box.png")) != null)
  }

  test("violin silhouettes mirror and scale to the max bin; FS wrapper renders") {
    val groups = Seq(("g", Seq(1.0, 4.0, 2.0)))
    val png = PlotSink.violinPng(groups, "violins")
    assert(png.sameElements(PlotSink.violinPng(groups, "violins")))
    val img = decode(png)
    val slot = 800 - 60 - 20
    val cx = 60 + slot / 2
    val baseY = 420 - 50
    val binH = (420 - 100) / 3
    // middle bin (count 4 = max) is widest; symmetric around cx
    def widthAt(binIdx: Int): Int = {
      val y = baseY - binIdx * binH - binH / 2
      (0 until img.getWidth).count { x =>
        (img.getRGB(x, y) & 0xFFFFFF) != 0xFFFFFF &&
          (img.getRGB(x, y) & 0xFFFFFF) != 0x000000
      }
    }
    assert(widthAt(1) > widthAt(0) && widthAt(1) > widthAt(2))
    val halfMax = math.max(4, slot * 2 / 5)
    val y1 = baseY - binH - binH / 2
    assert((img.getRGB(cx - halfMax + 1, y1) & 0xFFFFFF) != 0xFFFFFF)
    assert((img.getRGB(cx + halfMax - 1, y1) & 0xFFFFFF) != 0xFFFFFF)
    val dir = Scratch.dir("graft-violin")
    PlotSink.writeViolin(Tables(spark, sf, "documents"), "source", "n_chars",
      s"file:$dir/violin.png", "n_chars density by source")
    assert(javax.imageio.ImageIO.read(new java.io.File(s"$dir/violin.png")) != null)
  }

  test("text panel renders the summary box deterministically") {
    val lines = Seq("Papers Collected: 42", "Status: mitigation completed")
    val png = PlotSink.textPanelPng(lines, "Mitigation Summary")
    assert(png.sameElements(PlotSink.textPanelPng(lines, "Mitigation Summary")))
    val img = decode(png)
    // the wheat box fill is present inside the border (probe a point
    // clear of the text glyphs: right side, above the first baseline)
    assert((img.getRGB(600, 40) & 0xFFFFFF) == 0xf5deb3)
  }

  test("writeBarChart aggregates distributed and writes through Hadoop FS") {
    val dir = Scratch.dir("graft-plot")
    val counts = Tables(spark, sf, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    PlotSink.writeBarChart(counts, "source", "n",
      s"file:$dir/collection_overview.png", "Docs per source")
    val img = javax.imageio.ImageIO.read(
      new java.io.File(s"$dir/collection_overview.png"))
    assert(img != null && img.getWidth == 800 && img.getHeight > 60)
  }

  test("anomaly HTML carries severity styling, metadata and inline-image cid") {
    val anomalies = Seq(
      ("volume_drop", "paper_id", "critical", "row count fell 60%"),
      ("missing_rate", "title", "warning", "12% titles null"))
      .toDF("anomaly_type", "column_name", "severity", "description")
      .collect().toSeq
    val html = AlertSink.renderAnomalyHtml(anomalies, "critical",
      "2026-08-13T00:00", 12345L, 87.5, inlineImageCid = Some("bias_viz"))
    assert(html.contains("volume_drop - paper_id"))
    assert(html.contains("#f44336")) // critical edge color
    assert(html.contains("#ff9800")) // warning edge color
    assert(html.contains("Total Rows:</b> 12345"))
    assert(html.contains("cid:bias_viz"))
    assert(html.contains("Detected Anomalies (2)"))
  }

  test("MIME message round-trips the HTML and the inline PNG") {
    val png = PlotSink.barChartPng(Seq(("a", 1.0)), "t", width = 200)
    val msg = AlertSink.buildMimeMessage("Alert", "from@x", "to@y",
      "<html>body</html>", Some(("bias_viz", png)))
    assert(msg.contains("Subject: Alert"))
    assert(msg.contains("multipart/related"))
    assert(msg.contains("Content-ID: <bias_viz>"))
    // both base64 payloads decode back to the originals
    def payload(after: String): Array[Byte] = {
      val from = msg.indexOf(after)
      val start = msg.indexOf("\r\n\r\n", from) + 4
      val end = msg.indexOf("\r\n--", start)
      java.util.Base64.getMimeDecoder.decode(msg.substring(start, end))
    }
    assert(new String(payload("text/html"), "UTF-8") == "<html>body</html>")
    assert(payload("image/png").sameElements(png))
  }

  /** Scripted SMTP server: replies in order, records every command. */
  private class FakeSmtp(replies: Seq[String]) extends AlertSink.SmtpTransport {
    val commands = scala.collection.mutable.ArrayBuffer.empty[String]
    var connected = false
    var closed = false
    private var i = 0
    def connect(host: String, port: Int): Unit = connected = true
    def exchange(command: Option[String]): String = {
      command.foreach(commands += _)
      val r = replies(i); i += 1; r
    }
    def close(): Unit = closed = true
  }

  private val okScript = Seq("220 smtp ready", "250 hello", "334 VXNlcm5hbWU6",
    "334 UGFzc3dvcmQ6", "235 accepted", "250 ok", "250 ok", "354 go ahead",
    "250 queued", "221 bye")

  test("SMTP dialogue: EHLO, AUTH LOGIN, envelope, dot-stuffed DATA, QUIT") {
    val cfg = AlertSink.SmtpConfig(user = Some("u@x"), password = Some("pw"),
      to = Some("alerts@y"))
    val fake = new FakeSmtp(okScript)
    val message = "Subject: s\r\n\r\nline one\r\n.starts with dot\r\nend"
    val replies = AlertSink.sendAlert(cfg, message, fake)
    assert(replies.isDefined && replies.get.size == 10)
    val c = fake.commands
    assert(c(0) == "EHLO graft")
    assert(c(1) == "AUTH LOGIN")
    assert(c(2) == java.util.Base64.getEncoder.encodeToString("u@x".getBytes))
    assert(c(3) == java.util.Base64.getEncoder.encodeToString("pw".getBytes))
    assert(c(4) == "MAIL FROM:<u@x>")
    assert(c(5) == "RCPT TO:<alerts@y>")
    assert(c(6) == "DATA")
    assert(c(7).contains("\r\n..starts with dot"), c(7)) // dot-stuffed
    assert(c(7).endsWith("\r\n."))
    assert(c(8) == "QUIT")
    assert(fake.closed)
  }

  test("unconfigured credentials skip the send entirely (reference behavior)") {
    val fake = new FakeSmtp(okScript)
    val out = AlertSink.sendAlert(
      AlertSink.SmtpConfig(user = None, password = None), "m", fake)
    assert(out.isEmpty)
    assert(!fake.connected && fake.commands.isEmpty)
  }

  test("a rejected SMTP reply fails loudly and still closes the transport") {
    val cfg = AlertSink.SmtpConfig(user = Some("u"), password = Some("p"))
    val fake = new FakeSmtp(Seq("220 ready", "550 denied"))
    intercept[java.io.IOException] { AlertSink.sendAlert(cfg, "m", fake) }
    assert(fake.closed)
  }
}
