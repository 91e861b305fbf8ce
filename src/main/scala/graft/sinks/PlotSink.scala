package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K8 — PNG plot sink (`databias/visualization_generator.py:40-553`): the
  * reference renders matplotlib dashboards from pandas aggregates and
  * uploads the PNGs to GCS. Re-expressed Spark-first: the AGGREGATION is a
  * distributed query (the §2.5 oracle-checked aggregates); only the
  * vector-to-pixels step runs on the driver over the tiny collected result
  * — exactly where matplotlib ran. Rendering is JDK-only
  * (Graphics2D + ImageIO, no plotting library), and the write goes through
  * the Hadoop FS API so any warehouse URI (file:, gs:, s3a:) works — the
  * same K2 path as every other sink.
  *
  * Deterministic: fixed fonts/colors/layout, no clock — byte-stable PNGs
  * for a given aggregate (spec'd), so re-runs are idempotent in object
  * storage.
  */
object PlotSink {

  private val palette = Array(
    new java.awt.Color(0x4c72b0), new java.awt.Color(0xdd8452),
    new java.awt.Color(0x55a868), new java.awt.Color(0xc44e52),
    new java.awt.Color(0x8172b3), new java.awt.Color(0x937860))

  /** Horizontal bar chart with value labels — the
    * `plot_collection_overview` left panel (`visualization_generator
    * .py:69-80`): one bar per category, top-N by value, labels on the
    * axis, value text at the bar end.
    */
  def barChartPng(rows: Seq[(String, Double)], title: String,
                  width: Int = 800, height: Int = 0): Array[Byte] = {
    val n = rows.size
    val rowH = 28
    val h = if (height > 0) height else 60 + n * rowH + 20
    val img = new java.awt.image.BufferedImage(width, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF) // determinism
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, h)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 12))
      val labelW = 180
      val plotW = width - labelW - 90
      val maxV = math.max(rows.map(_._2).foldLeft(0.0)(math.max), 1e-12)
      rows.zipWithIndex.foreach { case ((label, v), i) =>
        val y = 50 + i * rowH
        g.setColor(java.awt.Color.BLACK)
        g.drawString(label.take(24), 16, y + 16)
        val barLen = math.max(1, (v / maxV * plotW).round.toInt)
        g.setColor(palette(i % palette.length))
        g.fillRect(labelW, y + 4, barLen, rowH - 10)
        g.setColor(java.awt.Color.DARK_GRAY)
        g.drawString(fmt(v), labelW + barLen + 6, y + 16)
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Pie chart — the `plot_collection_overview` right panel
    * (`visualization_generator.py:83-87`): share per category with
    * percentage labels.
    */
  def pieChartPng(rows: Seq[(String, Double)], title: String,
                  size: Int = 480): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(size + 220, size + 60,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, img.getWidth, img.getHeight)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 12))
      val total = math.max(rows.map(_._2).sum, 1e-12)
      var startDeg = 90.0
      rows.zipWithIndex.foreach { case ((label, v), i) =>
        val sweep = -v / total * 360.0
        g.setColor(palette(i % palette.length))
        // integer degree arithmetic accumulates gap error; track doubles
        g.fillArc(16, 44, size, size,
          math.round(startDeg).toInt, math.round(sweep).toInt)
        val pct = v / total * 100.0
        g.fillRect(size + 32, 50 + i * 22, 12, 12)
        g.setColor(java.awt.Color.BLACK)
        g.drawString(f"${label.take(20)}%s ($pct%1.1f%%)", size + 50, 61 + i * 22)
        startDeg += sweep
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def fmt(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
    else f"$v%1.2f"

  /** The YlOrRd-style ramp the heatmap cells use (reference:
    * `sns.heatmap(..., cmap='YlOrRd')`, `visualization_generator.py:
    * 391-404`): piecewise-linear pale-yellow → orange → deep red over
    * t ∈ [0,1]. Exposed for the spec's cell-color-proportionality case.
    */
  private[graft] def rampColor(t: Double): java.awt.Color = {
    val c = math.max(0.0, math.min(1.0, t))
    def lerp(a: Int, b: Int, f: Double): Int = (a + (b - a) * f).round.toInt
    // (255,255,204) -> (254,178,76) -> (189,0,38)
    if (c <= 0.5) {
      val f = c * 2.0
      new java.awt.Color(lerp(255, 254, f), lerp(255, 178, f), lerp(204, 76, f))
    } else {
      val f = (c - 0.5) * 2.0
      new java.awt.Color(lerp(254, 189, f), lerp(178, 0, f), lerp(76, 38, f))
    }
  }

  private[graft] val HeatLeft = 150
  private[graft] val HeatTop = 60
  private[graft] val HeatCellW = 90
  private[graft] val HeatCellH = 30

  /** Matrix heatmap with per-cell value annotations and a colorbar — the
    * reference's subdomain×domain citation heatmap
    * (`visualization_generator.py:385-404`). Cell (r, c) fills with
    * [[rampColor]](value/max) at a FIXED geometry (left 150, top 60,
    * 90×30 cells), value text centered-ish, row labels on the left, col
    * labels above, colorbar + min/max on the right. Deterministic bytes
    * for a given matrix.
    */
  def heatmapPng(rowLabels: Seq[String], colLabels: Seq[String],
                 values: Seq[Seq[Double]], title: String): Array[Byte] = {
    val nR = rowLabels.size
    val nC = colLabels.size
    require(values.size == nR && values.forall(_.size == nC),
      s"values must be ${nR}x$nC")
    val w = HeatLeft + nC * HeatCellW + 110
    val h = HeatTop + nR * HeatCellH + 30
    val maxV = math.max(values.flatten.foldLeft(0.0)(math.max), 1e-12)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, w, h)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 11))
      colLabels.zipWithIndex.foreach { case (cl, c) =>
        g.drawString(cl.take(12), HeatLeft + c * HeatCellW + 4, HeatTop - 8)
      }
      for (r <- 0 until nR) {
        g.setColor(java.awt.Color.BLACK)
        g.drawString(rowLabels(r).take(20), 12, HeatTop + r * HeatCellH + 19)
        for (c <- 0 until nC) {
          val v = values(r)(c)
          val x = HeatLeft + c * HeatCellW
          val y = HeatTop + r * HeatCellH
          g.setColor(rampColor(v / maxV))
          g.fillRect(x, y, HeatCellW - 2, HeatCellH - 2)
          // annotation flips to white on the dark (high) end for contrast
          g.setColor(if (v / maxV > 0.7) java.awt.Color.WHITE
                     else java.awt.Color.BLACK)
          g.drawString(fmt(v), x + 6, y + 19)
        }
      }
      // colorbar: 0 at the bottom, max at the top
      val cbX = HeatLeft + nC * HeatCellW + 20
      val cbH = math.max(nR * HeatCellH - 2, 40)
      for (i <- 0 until cbH) {
        g.setColor(rampColor(1.0 - i.toDouble / (cbH - 1)))
        g.fillRect(cbX, HeatTop + i, 16, 1)
      }
      g.setColor(java.awt.Color.BLACK)
      g.drawRect(cbX, HeatTop, 16, cbH)
      g.drawString(fmt(maxV), cbX + 20, HeatTop + 10)
      g.drawString("0", cbX + 20, HeatTop + cbH)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Vertical bar / histogram panel — the reference's quality-distribution
    * columns (`visualization_generator.py:141-150`: `ax2.bar` with
    * count+pct labels above each bar) and, fed with the q63-style
    * oracled bin counts, its intro-length histogram (`:179`). Fixed
    * geometry: plot area starts at x=60, columns are equal-width with a
    * 20% gap; value labels above each column. Deterministic bytes.
    */
  def columnChartPng(rows: Seq[(String, Double)], title: String,
                     width: Int = 800, height: Int = 420): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, height)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 11))
      val left = 60
      val baseY = height - 50
      val plotH = baseY - 50
      val n = math.max(rows.size, 1)
      val slot = (width - left - 20) / n
      val barW = math.max(2, slot * 4 / 5)
      val maxV = math.max(rows.map(_._2).foldLeft(0.0)(math.max), 1e-12)
      g.drawLine(left, baseY, width - 20, baseY)
      rows.zipWithIndex.foreach { case ((label, v), i) =>
        val x = left + i * slot + (slot - barW) / 2
        val hPix = math.max(1, (v / maxV * plotH).round.toInt)
        g.setColor(palette(i % palette.length))
        g.fillRect(x, baseY - hPix, barW, hPix)
        g.setColor(java.awt.Color.DARK_GRAY)
        g.drawString(fmt(v), x, baseY - hPix - 4)
        g.setColor(java.awt.Color.BLACK)
        g.drawString(label.take(12), x, baseY + 16)
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Per-group five-number summary box plot — the reference's citation
    * boxplot (`visualization_generator.py:103-108`). One box per group
    * from (min, p25, median, p75, max) — exactly q48's oracled
    * grouped-describe aggregate, so the INPUT is hash-checked and only
    * the 5 numbers per group reach the driver. Whiskers at min/max, box
    * p25..p75, a thick median line. Deterministic bytes.
    */
  def boxPlotPng(groups: Seq[(String, (Double, Double, Double, Double, Double))],
                 title: String, width: Int = 800,
                 height: Int = 420): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, height)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 11))
      val left = 60
      val baseY = height - 50
      val plotH = baseY - 50
      val lo = math.min(groups.map(_._2._1).foldLeft(0.0)(math.min), 0.0)
      val hi = math.max(groups.map(_._2._5).foldLeft(1e-12)(math.max), lo + 1e-12)
      def toY(v: Double): Int =
        baseY - ((v - lo) / (hi - lo) * plotH).round.toInt
      val n = math.max(groups.size, 1)
      val slot = (width - left - 20) / n
      val boxW = math.max(6, slot / 2)
      groups.zipWithIndex.foreach {
        case ((label, (mn, p25, med, p75, mx)), i) =>
          val cx = left + i * slot + slot / 2
          g.setColor(java.awt.Color.DARK_GRAY)
          g.drawLine(cx, toY(mx), cx, toY(p75)) // upper whisker
          g.drawLine(cx, toY(p25), cx, toY(mn)) // lower whisker
          g.drawLine(cx - boxW / 4, toY(mx), cx + boxW / 4, toY(mx))
          g.drawLine(cx - boxW / 4, toY(mn), cx + boxW / 4, toY(mn))
          g.setColor(palette(i % palette.length))
          g.fillRect(cx - boxW / 2, toY(p75), boxW,
            math.max(1, toY(p25) - toY(p75)))
          g.setColor(java.awt.Color.BLACK)
          g.fillRect(cx - boxW / 2, toY(med) - 1, boxW, 3) // median line
          g.drawString(label.take(12), cx - boxW / 2, baseY + 16)
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Per-group violin — the reference's citation-density violins
    * (`visualization_generator.py:111-116`). Spark-first: the silhouette
    * is the per-group BINNED histogram (the q63-oracled width-bucket
    * aggregate), mirrored around the group's axis — a fixed-bin density
    * outline rather than a KDE, so the input stays a tiny distributed
    * aggregate and the render is deterministic. `groups` = (label,
    * bottom-to-top bin counts); widths scale per group to its max bin.
    */
  def violinPng(groups: Seq[(String, Seq[Double])], title: String,
                width: Int = 800, height: Int = 420): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, height)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 11))
      val left = 60
      val baseY = height - 50
      val plotH = baseY - 50
      val n = math.max(groups.size, 1)
      val slot = (width - left - 20) / n
      groups.zipWithIndex.foreach { case ((label, bins), i) =>
        val cx = left + i * slot + slot / 2
        val maxBin = math.max(bins.foldLeft(0.0)(math.max), 1e-12)
        val halfMax = math.max(4, slot * 2 / 5)
        val binH = math.max(1, plotH / math.max(bins.size, 1))
        g.setColor(palette(i % palette.length))
        bins.zipWithIndex.foreach { case (b, j) =>
          val half = (b / maxBin * halfMax).round.toInt
          if (half > 0) {
            val y = baseY - (j + 1) * binH
            g.fillRect(cx - half, y, half * 2, binH)
          }
        }
        g.setColor(java.awt.Color.BLACK)
        g.drawString(label.take(12), cx - halfMax, baseY + 16)
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Monospace text summary panel — the reference's disparity-summary /
    * mitigation-effectiveness boxes (`visualization_generator.py:
    * 253-276,358-380`: `ax.text` on a blank axis). Deterministic bytes.
    */
  def textPanelPng(lines: Seq[String], title: String,
                   width: Int = 640): Array[Byte] = {
    val h = 70 + lines.size * 18 + 20
    val img = new java.awt.image.BufferedImage(width, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, h)
      g.setColor(new java.awt.Color(0xf5deb3)) // the reference's 'wheat' box
      g.fillRect(12, 36, width - 24, h - 48)
      g.setColor(java.awt.Color.BLACK)
      g.drawRect(12, 36, width - 24, h - 48)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.MONOSPACED, java.awt.Font.PLAIN, 12))
      lines.zipWithIndex.foreach { case (ln, i) =>
        g.drawString(ln.take(90), 24, 58 + i * 18)
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[graft] val LineLeft = 70
  private[graft] val LineTop = 40
  private[graft] val LineRight = 24
  private[graft] val LineBottom = 50

  /** The data→pixel transform [[lineChartPng]] draws with, exposed so
    * the spec can assert series-point geometry against the same math.
    */
  private[graft] def linePoint(x: Double, y: Double,
                               xMin: Double, xMax: Double,
                               yMin: Double, yMax: Double,
                               width: Int, height: Int): (Int, Int) = {
    val plotW = width - LineLeft - LineRight
    val plotH = height - LineTop - LineBottom
    val fx = if (xMax > xMin) (x - xMin) / (xMax - xMin) else 0.5
    val fy = if (yMax > yMin) (y - yMin) / (yMax - yMin) else 0.5
    (LineLeft + (fx * plotW).round.toInt,
      LineTop + plotH - (fy * plotH).round.toInt)
  }

  /** Multi-series line chart with markers, grid, axis ticks and legend —
    * the reference's disparity/collection trend panels
    * (`visualization_generator.py:280-336`: per-series `ax.plot(...,
    * marker, linewidth=2)` over run timestamps). Series share one y
    * axis (the twin-axis pair is two normalized series here); markers
    * are 7×7 squares at [[linePoint]]; deterministic bytes.
    */
  def lineChartPng(series: Seq[(String, Seq[(Double, Double)])],
                   title: String, xLabel: String = "", yLabel: String = "",
                   width: Int = 800, height: Int = 480): Array[Byte] = {
    val all = series.flatMap(_._2)
    require(all.nonEmpty, "lineChartPng needs at least one point")
    val (xMin, xMax) = (all.map(_._1).min, all.map(_._1).max)
    val (yMin0, yMax0) = (math.min(all.map(_._2).min, 0.0), all.map(_._2).max)
    val yMax = if (yMax0 > yMin0) yMax0 else yMin0 + 1.0
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
        java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_OFF)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, height)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.BOLD, 14))
      g.drawString(title, 16, 24)
      g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF, java.awt.Font.PLAIN, 11))
      val plotW = width - LineLeft - LineRight
      val plotH = height - LineTop - LineBottom
      // grid + ticks (5 divisions each axis; matplotlib's alpha-0.3 grid)
      g.setColor(new java.awt.Color(0xdddddd))
      for (i <- 0 to 5) {
        val gx = LineLeft + (plotW * i / 5.0).round.toInt
        val gy = LineTop + (plotH * i / 5.0).round.toInt
        g.drawLine(gx, LineTop, gx, LineTop + plotH)
        g.drawLine(LineLeft, gy, LineLeft + plotW, gy)
      }
      g.setColor(java.awt.Color.BLACK)
      g.drawRect(LineLeft, LineTop, plotW, plotH)
      for (i <- 0 to 5) {
        val xv = xMin + (xMax - xMin) * i / 5.0
        val yv = yMin0 + (yMax - yMin0) * (5 - i) / 5.0
        g.drawString(fmt(xv), LineLeft + (plotW * i / 5.0).round.toInt - 8,
          LineTop + plotH + 16)
        g.drawString(fmt(yv), 10, LineTop + (plotH * i / 5.0).round.toInt + 4)
      }
      if (xLabel.nonEmpty)
        g.drawString(xLabel, LineLeft + plotW / 2 - 20, height - 12)
      if (yLabel.nonEmpty) g.drawString(yLabel, 10, LineTop - 10)
      series.zipWithIndex.foreach { case ((name, pts), si) =>
        val color = palette(si % palette.length)
        g.setColor(color)
        g.setStroke(new java.awt.BasicStroke(2f))
        val sorted = pts.sortBy(_._1)
        sorted.sliding(2).foreach {
          case Seq((x1, y1), (x2, y2)) =>
            val (px1, py1) = linePoint(x1, y1, xMin, xMax, yMin0, yMax, width, height)
            val (px2, py2) = linePoint(x2, y2, xMin, xMax, yMin0, yMax, width, height)
            g.drawLine(px1, py1, px2, py2)
          case _ => ()
        }
        sorted.foreach { case (x, y) =>
          val (px, py) = linePoint(x, y, xMin, xMax, yMin0, yMax, width, height)
          g.fillRect(px - 3, py - 3, 7, 7)
        }
        // legend swatch + name, top-left inside the plot
        g.fillRect(LineLeft + 10, LineTop + 10 + si * 18, 12, 12)
        g.setColor(java.awt.Color.BLACK)
        g.drawString(name.take(28), LineLeft + 28, LineTop + 20 + si * 18)
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Top-N value_counts of `labelCol` weighted by `valueCol` → horizontal
    * bar PNG at `path` (any Hadoop FS URI). The aggregate is distributed;
    * only N (label, value) pairs reach the driver.
    */
  def writeBarChart(df: DataFrame, labelCol: String, valueCol: String,
                    path: String, title: String, topN: Int = 20): Unit = {
    val rows = df.select(col(labelCol).cast("string"), col(valueCol).cast("double"))
      .orderBy(col(valueCol).desc, col(labelCol))
      .limit(topN)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    writeBytes(df, barChartPng(rows, title), path)
  }

  /** Pivoted matrix heatmap PNG: rows = `rowCol`, columns = `colCol`,
    * cell = mean of `valueCol`, top-N rows by total value (the
    * reference's top-15-subdomains restriction,
    * `visualization_generator.py:393-396`). The pivot is the same
    * distributed aggregate the q31/q37 gate rows oracle; only the tiny
    * (topN × |columns|) matrix reaches the driver.
    */
  def writeHeatmap(df: DataFrame, rowCol: String, colCol: String,
                   valueCol: String, path: String, title: String,
                   topN: Int = 15): Unit = {
    val top = df.groupBy(col(rowCol))
      .agg(sum(col(valueCol)).as("__tot"))
      .orderBy(col("__tot").desc, col(rowCol))
      .limit(topN)
    // the column axis comes from the FULL frame, but the pivot runs on
    // the top-N-joined subset — so the axis values are passed as the
    // pivot's EXPLICIT value list: a colCol value that appears only
    // outside the top-N rows then still yields its (all-null) column,
    // keeping labels and value indices aligned (with an inferred pivot
    // they desynchronize and the render reads past the row)
    val colAxis = df.select(col(colCol).cast("string")).distinct()
      .orderBy(col(colCol)).collect().map(_.getString(0)).toSeq
    val pivoted = df.join(broadcast(top.select(col(rowCol))), Seq(rowCol))
      .groupBy(col(rowCol))
      .pivot(col(colCol).cast("string"), colAxis)
      .agg(avg(col(valueCol)))
      .orderBy(col(rowCol))
    // labels re-derived from the pivot's OWN schema (first column is
    // rowCol): the render can never disagree with the frame it reads
    val colLabels = pivoted.columns.drop(1).toSeq
    val pivot = pivoted.collect()
    val rowLabels = pivot.map(_.get(0).toString).toSeq
    val values = pivot.map(r => colLabels.indices.map { i =>
      if (r.isNullAt(i + 1)) 0.0
      else r.get(i + 1) match {
        case d: Double => d
        case n: Number => n.doubleValue()
      }
    }.toSeq).toSeq
    writeBytes(df, heatmapPng(rowLabels, colLabels, values, title), path)
  }

  /** Multi-series trend PNG: one line per `seriesCol` value over
    * (`xCol`, `valueCol`). Series count and points-per-series are
    * caller-bounded (run-history-sized); only they reach the driver.
    */
  def writeLineChart(df: DataFrame, xCol: String, seriesCol: String,
                     valueCol: String, path: String, title: String,
                     xLabel: String = "", yLabel: String = ""): Unit = {
    val pts = df.select(col(seriesCol).cast("string"),
        col(xCol).cast("double"), col(valueCol).cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val series = pts.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, ps) =>
        name -> ps.map(p => (p._2, p._3)).toSeq.sortBy(_._1)
      }
    writeBytes(df, lineChartPng(series, title, xLabel, yLabel), path)
  }

  /** Histogram PNG of `valueCol` over `nBins` equal-width bins — the
    * binning is the q63-oracled distributed aggregate (min/max in one
    * pass, one groupBy on the bin index); only nBins counts reach the
    * driver, rendered as columns labeled by bin lower bound.
    */
  def writeHistogram(df: DataFrame, valueCol: String, path: String,
                     title: String, nBins: Int = 20): Unit = {
    val mm = df.agg(min(col(valueCol)).cast("double"),
      max(col(valueCol)).cast("double")).head()
    val (lo, hi) = (mm.getDouble(0), math.max(mm.getDouble(1), mm.getDouble(0) + 1e-12))
    val binW = (hi - lo) / nBins
    val counts = df
      .select(least(greatest(
          floor((col(valueCol).cast("double") - lit(lo)) / lit(binW)),
          lit(0)), lit(nBins - 1)).cast("int").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).cast("double").as("n"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val rows = (0 until nBins).map(b =>
      (fmt(lo + b * binW), counts.getOrElse(b, 0.0)))
    writeBytes(df, columnChartPng(rows, title), path)
  }

  /** Per-group box plot PNG from the q48-oracled five-number summary —
    * quartiles computed distributively, 5 numbers per group collected.
    */
  def writeBoxPlot(df: DataFrame, groupCol: String, valueCol: String,
                   path: String, title: String, topN: Int = 10): Unit = {
    val groups = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("__n"),
        min(col(valueCol)).cast("double").as("mn"),
        expr(s"percentile($valueCol, 0.25)").as("p25"),
        expr(s"percentile($valueCol, 0.5)").as("p50"),
        expr(s"percentile($valueCol, 0.75)").as("p75"),
        max(col(valueCol)).cast("double").as("mx"))
      .orderBy(col("__n").desc, col("g"))
      .limit(topN)
      .collect().map(r => (r.getString(0),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toSeq
    writeBytes(df, boxPlotPng(groups.sortBy(_._1), title), path)
  }

  /** Per-group violin PNG: the silhouette is the per-group equal-width
    * binned histogram over the GLOBAL value range (one distributed
    * groupBy on (group, bin)); topN groups by count, nBins counts per
    * group collected.
    */
  def writeViolin(df: DataFrame, groupCol: String, valueCol: String,
                  path: String, title: String, topN: Int = 10,
                  nBins: Int = 24): Unit = {
    val mm = df.agg(min(col(valueCol)).cast("double"),
      max(col(valueCol)).cast("double")).head()
    val (lo, hi) = (mm.getDouble(0), math.max(mm.getDouble(1), mm.getDouble(0) + 1e-12))
    val binW = (hi - lo) / nBins
    val top = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("g")).limit(topN)
      .select(col("g"))
    val binned = df
      .select(col(groupCol).cast("string").as("g"),
        least(greatest(
          floor((col(valueCol).cast("double") - lit(lo)) / lit(binW)),
          lit(0)), lit(nBins - 1)).cast("int").as("bin"))
      .join(broadcast(top), Seq("g"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).cast("double").as("n"))
      .collect().groupBy(_.getString(0))
    val groups = binned.toSeq.sortBy(_._1).map { case (gName, rs) =>
      val byBin = rs.map(r => r.getInt(1) -> r.getDouble(2)).toMap
      gName -> (0 until nBins).map(b => byBin.getOrElse(b, 0.0))
    }
    writeBytes(df, violinPng(groups.map { case (n, b) => (n, b: Seq[Double]) },
      title), path)
  }

  /** Write pre-rendered PNG bytes to any Hadoop FS URI (file:, gs:, s3a:)
    * — for callers that rendered with [[barChartPng]]/[[pieChartPng]]
    * directly, e.g. the pipeline failure-report path that also inlines the
    * same bytes into the alert mail.
    */
  def writePng(spark: org.apache.spark.sql.SparkSession, bytes: Array[Byte],
               path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def writeBytes(df: DataFrame, bytes: Array[Byte], path: String): Unit =
    writePng(df.sparkSession, bytes, path)
}
