package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query at SPARK_GRAFT_SF_DIR,
  * REPS repetitions each (min-of-3 by default — two reps cannot
  * separate a load spike from a slow query), per-query MIN (single-shot
  * wall times are load-noise-dominated on a shared box; the min is the
  * reproducible figure).
  *
  * Reporting channel (two outputs, by design):
  *   1. FULL per-query JSON → `BENCH_DETAIL.json` in the repo root —
  *      THE single committed bench truth: every run overwrites it, and
  *      every run stamps reps + the noise sentinel, so the file is
  *      always self-describing. (An earlier design kept a second
  *      "cleanest-known" `_clean.json` copy beside it; two committed
  *      truths diverged by 16% in round 7 and the keeper was removed —
  *      quietness is judged by the recorded `noise_ratio`, not by which
  *      file survived.) The complete map at 234 queries is ~6 kB —
  *      larger than the driver's 2,000-char tail capture, which is why
  *      it goes to a file, never to stdout.
  *   2. ONE short (<1 kB) machine-parseable JSON line on stdout, printed
  *      after `spark.stop()` so no shutdown logging can trail it:
  *      total/mean over SUCCEEDED queries only, the slowest-10 map, the
  *      failed-query list, and a `noise_ratio` sentinel (q01 re-timed
  *      before and after the sweep; a quiet box gives ~1.0, ambient load
  *      inflates it — r3's contaminated run would have shown ~4×).
  *
  * A query whose every rep throws is recorded in `failed` and EXCLUDED
  * from total/mean — a broken query must not make the bench look faster.
  *
  * Regression sentinel: `BENCH_BASELINE.json` holds the committed
  * per-query MIN over all quotable runs. A comparable run (standard
  * corpus + box) stamps `regressions` — every query > 1.25× AND
  * > 0.25 s over its baseline — into the detail record, and a quotable
  * run advances the baseline elementwise. The PERF table quotes the flags; nobody argues
  * medians by hand (q23 oscillated 6.30→5.10→7.00 over rounds 8–10 on
  * untouched code before this existed).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    val spark = SparkEntry.localSession(cpus)
    // WindowExec's "No Partition Defined" warning fires for every
    // deliberate global-share/cumulative window (hundreds of lines per
    // sweep — enough to bury a real warning). Those sites are
    // STRUCTURALLY guarded instead: PlanShapeSpec walks every registered
    // query's plan and fails if an empty-partition window sits over
    // anything but an aggregate-bounded input, so the log line carries
    // no information here and is dropped to ERROR for the bench run.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // untimed warm-up: JIT + codegen + parquet footer reads would otherwise
    // be billed to whichever queries happen to run first
    Seq("lineitem", "orders", "documents", "embeddings", "events")
      .foreach(t => Tables(spark, sfDir, t).count())

    // one timed rep; None if it threw
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // per-query caches must not accumulate
      if (ok) Some(dt) else None
    }
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val times = (1 to reps).flatMap(_ => timeOnce(fn))
      if (times.nonEmpty) times.min else Double.NaN
    }

    val sentinel = SparkEntry.queries.get("q01_pricing_summary")
    // several untimed sentinel runs first: q01's own codegen AND the
    // JVM-wide C2 ramp on the scan/agg path must not be billed to the PRE
    // sample — with a single warm-up, a perfectly quiet box read ~0.4
    // (post 2× faster than pre), which is JIT ramp masquerading as load
    sentinel.foreach(fn => (1 to 4).foreach(_ =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }))
    val noisePre = sentinel.map(time).getOrElse(Double.NaN)
    // reps run as INTERLEAVED FULL PASSES (pass 1 over every query, then
    // pass 2, ...), not back-to-back per query: a transient ambient-load
    // spike then hits at most ONE sample of any query, and the per-query
    // min across passes discards it. Back-to-back reps put all samples of
    // one query inside the same spike — that is how a 5 s query read 57 s
    // (min-of-2!) in an otherwise-clean r4 run.
    val qseq = SparkEntry.queries.toSeq.sortBy(_._1)
    val passTimes: Seq[Map[String, Option[Double]]] = (1 to reps).map { _ =>
      qseq.map { case (name, fn) => name -> timeOnce(fn) }.toMap
    }
    val results = qseq.map { case (name, _) =>
      val ts = passTimes.flatMap(_.apply(name))
      name -> (if (ts.nonEmpty) ts.min else Double.NaN)
    }
    val noisePost = sentinel.map(time).getOrElse(Double.NaN)
    spark.stop()

    val (ok, failed) = results.partition(!_._2.isNaN)
    // locale-independent plain decimals (no %f — a comma-decimal locale
    // would corrupt the JSON)
    def r4(v: Double): Double = math.round(v * 10000) / 10000.0
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // n_queries/mean_sec: the registry grows round over round, so the
    // comparable figure across rounds is per-query mean, not the total
    val mean = if (ok.nonEmpty) total / ok.size else 0.0
    // DIRECTIONAL: post/pre. Ambient load arriving during the run slows
    // the POST sample (> 1 = contaminated); post < 1 only means the JVM
    // warmed further (harmless). The earlier max/min form misread deep
    // JIT warm-up on a quiet box as 2.4x "noise".
    val noise =
      if (noisePre.isNaN || noisePost.isNaN || math.min(noisePre, noisePost) <= 0) Double.NaN
      else noisePost / noisePre
    val slowest = ok.sortBy(-_._2).take(10)
    val failedJson = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // the PERF.md comparability rule, MACHINE-CHECKED into the record:
    // a run is quotable iff min-of-3+, the standard sf0.1 corpus, the
    // standard 32-thread box, and a clean sentinel (penalty =
    // max(noise_ratio − 1, 0) = 0, i.e. ratio ≤ 1 — the post sample ran
    // no slower than the pre). Stamping it here means a future PERF
    // table cannot silently quote a non-conforming run (the r8 table
    // quoted a mid-round run the committed file disagreed with).
    val penalty =
      if (noise.isNaN) Double.NaN else math.max(noise - 1.0, 0.0)
    // failed.isEmpty: a query that threw is EXCLUDED from the total, so
    // a run with failures is faster-looking for the wrong reason and its
    // total is not comparable against full-registry records
    val quotable = reps >= 3 && !penalty.isNaN && r4(penalty) == 0.0 &&
      cpus == 32 && sfDir.stripSuffix("/").endsWith("sf0.1") &&
      failed.isEmpty
    val quoteJson =
      s""""penalty":${if (penalty.isNaN) "null" else r4(penalty)},"quotable":$quotable"""

    // ── per-query REGRESSION SENTINEL: ratios vs the committed
    // baseline, >1.25x AND >0.25s stamped as flags. Rounds 8-10
    // adjudicated "q23 6.30→5.10→7.00 on untouched code" by hand each
    // time; the flags make the record itself say which moves exceed the
    // ambient window, so the PERF table quotes flags instead of arguing
    // medians. The denominator is the elementwise MIN OVER THE LAST K
    // QUOTABLE RUNS (K=5), each stamped with timestamp + git head — an
    // all-time min only ratchets down, so as the box ages every
    // ambient-slow run flags more (r11: 19 driver flags vs 8 builder
    // flags on identical code, all adjudicated ambient); a rolling
    // window tracks the box's current speed while the absolute floor
    // keeps flags meaning "a move worth adjudicating". Comparisons run
    // only under the FULL quotable preconditions (min-of-3+, clean
    // sentinel, no failures, standard corpus + box): a single-rep or
    // noisy run on the standard box used to stamp flags into the
    // committed detail record that PERF.md quotes.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "/root/repo/BENCH_BASELINE.json")
    val qmapRe = "\"(q[0-9][^\"]*)\":([0-9.]+)".r
    def parseQmap(txt: String): Map[String, Double] =
      qmapRe.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // prior runs, oldest first: new-format files carry a "runs" list;
    // a legacy all-time-min file becomes one synthetic run so history
    // starts from it and it ages out after K quotable runs
    val runRe =
      "\\{\"ts\":\"([^\"]*)\",\"head\":\"([^\"]*)\",\"queries\":\\{([^}]*)\\}\\}".r
    val priorRuns: Seq[(String, String, Map[String, Double])] = try {
      val src = scala.io.Source.fromFile(baselinePath, "UTF-8")
      val txt = try src.mkString finally src.close()
      val rs = runRe.findAllMatchIn(txt)
        .map(m => (m.group(1), m.group(2), parseQmap(m.group(3)))).toSeq
      if (rs.nonEmpty) rs
      else {
        val legacy = parseQmap(txt)
        if (legacy.isEmpty) Seq.empty
        else Seq(("legacy", "unknown", legacy))
      }
    } catch { case _: Throwable => Seq.empty }
    val baseline: Map[String, Double] =
      priorRuns.flatMap(_._3.keys).distinct.map { k =>
        k -> priorRuns.flatMap(_._3.get(k)).min
      }.toMap
    val comparable = quotable
    val okMap = ok.toMap
    // flag = ratio > 1.25x AND > 0.25 s over baseline: the ratio alone
    // flags sub-second jitter by the dozen (the first flagged record
    // had 44 flags, 37 of them under 1 s and 5.9 s of total excess) —
    // the floor keeps flags meaning "a move worth adjudicating"
    val regressions =
      if (comparable) ok.flatMap { case (name, t) =>
        baseline.get(name).filter(b => b > 0 && t / b > 1.25 && t - b > 0.25)
          .map(b => name -> r4(t / b))
      }.sortBy(-_._2)
      else Seq.empty
    if (quotable) {
      val head = try {
        val repoDir = new java.io.File(baselinePath).getAbsoluteFile.getParent
        val proc = new ProcessBuilder("git", "-C", repoDir, "rev-parse",
          "--short", "HEAD").redirectErrorStream(true).start()
        val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString.trim
        if (proc.waitFor() == 0 && out.nonEmpty) out else "unknown"
      } catch { case _: Throwable => "unknown" }
      val ts = java.time.Instant.ofEpochMilli(System.currentTimeMillis).toString
      val kept = (priorRuns :+ ((ts, head,
        okMap.map { case (k, v) => k -> r4(v) }))).takeRight(5)
      val denom = kept.flatMap(_._3.keys).distinct.sorted.map { k =>
        k -> r4(kept.flatMap(_._3.get(k)).min)
      }
      val runsJson = kept.map { case (t, h, qs) =>
        s"""{"ts":"$t","head":"$h","queries":${jmap(qs.toSeq.sorted)}}"""
      }.mkString("[", ",", "]")
      try {
        val w = new java.io.PrintWriter(baselinePath, "UTF-8")
        try w.println(s"""{"note":"regression-sentinel denominator: per-query min (sec) over the last 5 quotable sf0.1 min-of-3 runs (ts + git head stamped per run); written only by quotable Bench runs","runs":$runsJson,"queries":${jmap(denom)}}""")
        finally w.close()
      } catch { case _: Throwable => () }
    }
    val regJson = s""""n_regressions":${regressions.size},"regressions":${jmap(regressions)},"baseline_queries":${baseline.size}"""

    val detail = s"""{"metric":"total_min_of_$reps","value":${r4(total)},"unit":"sec","n_queries":${ok.size},"n_failed":${failed.size},"failed":$failedJson,"reps":$reps,"cpus":$cpus,"mean_sec":${r4(mean)},"noise_pre_sec":${r4(noisePre)},"noise_post_sec":${r4(noisePost)},"noise_ratio":${if (noise.isNaN) "null" else r4(noise)},$quoteJson,$regJson,"queries":${jmap(results.map { case (k, v) => k -> (if (v.isNaN) -1.0 else v) })},"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(detail) finally w.close()
    } catch { case _: Throwable => () } // summary line still goes out
    val summary = s"""{"metric":"total_min_of_$reps","value":${r4(total)},"unit":"sec","n_queries":${ok.size},"n_failed":${failed.size},"failed":$failedJson,"reps":$reps,"mean_sec":${r4(mean)},"noise_ratio":${if (noise.isNaN) "null" else r4(noise)},$quoteJson,"n_regressions":${regressions.size},"queries":${jmap(slowest)},"detail_file":"$detailPath","sf":"$sfDir"}"""
    // the ONLY stdout line after shutdown — the driver parses the last line
    println(summary)
    System.out.flush()
  }
}
