package graft

import graft.sinks.Sinks
import org.apache.spark.sql.functions._

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}

/** Mirrors the reference's upload suite semantics: batching, ON CONFLICT
  * statement shape, coercions, rename map — against a reflective fake JDBC
  * driver (no DB in the container).
  */
object SinksSpec {
  // JVM-static capture (executor threads share the JVM in local mode)
  val capturedSql = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  // JVM-static state for the stateful fake: the connect closure must
  // reference these through the companion (serialized closures would
  // otherwise ship each task a private COPY of the "database")
  val upsertTable = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val failBatches = new java.util.concurrent.atomic.AtomicInteger(0)

  def fakeConnection(): Connection = {
    var pending = 0
    lazy val stmtHandler: InvocationHandler = (_: Any, m: Method, _: Array[AnyRef]) =>
      m.getName match {
        case "addBatch" => pending += 1; null
        case "executeBatch" =>
          batchSizes.add(pending)
          val r = Array.fill(pending)(1); pending = 0; r
        case "setObject" | "close" | "clearBatch" => null
        case _ => null
      }
    val connHandler: InvocationHandler = (_: Any, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "prepareStatement" =>
          capturedSql.add(args(0).asInstanceOf[String])
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[PreparedStatement]), stmtHandler)
        case "close" | "commit" | "setAutoCommit" => null
        case "isClosed" => java.lang.Boolean.FALSE
        case _ => null
      }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), connHandler).asInstanceOf[Connection]
  }

  /** Stateful fake with real ON CONFLICT DO NOTHING semantics: `table`
    * is the shared target keyed on the statement's FIRST parameter;
    * executeBatch returns 1 per inserted row and 0 per conflict (what a
    * PostgreSQL-family driver reports), and throws SQLException for the
    * whole batch while `failNextBatches` > 0 (the poisoned-batch case).
    */
  def statefulConnection(
      table: java.util.concurrent.ConcurrentHashMap[String, String],
      failNextBatches: java.util.concurrent.atomic.AtomicInteger)
      : Connection = {
    val current = new java.util.concurrent.atomic.AtomicReference[String]()
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    lazy val stmtHandler: InvocationHandler = (_: Any, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "setObject" =>
          if (args(0).asInstanceOf[Integer] == 1)
            current.set(String.valueOf(args(1)))
          null
        case "addBatch" => pending.add(current.get()); null
        case "executeBatch" =>
          val keys = {
            val b = Seq.newBuilder[String]
            var k = pending.poll()
            while (k != null) { b += k; k = pending.poll() }
            b.result()
          }
          if (failNextBatches.getAndUpdate(n => math.max(0, n - 1)) > 0)
            throw new java.sql.SQLException("injected batch failure")
          keys.map(k =>
            if (table.putIfAbsent(k, k) == null) 1 else 0).toArray
        case "close" | "clearBatch" => null
        case _ => null
      }
    val connHandler: InvocationHandler = (_: Any, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "prepareStatement" =>
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[PreparedStatement]), stmtHandler)
        case "close" | "commit" | "setAutoCommit" => null
        case "isClosed" => java.lang.Boolean.FALSE
        case _ => null
      }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), connHandler).asInstanceOf[Connection]
  }

  /** Fake whose executeBatch reports SUCCESS_NO_INFO (-2) for every row
    * — the MySQL-rewriteBatchedStatements / Oracle batch shape.
    */
  def noInfoConnection(): Connection = {
    var pending = 0
    lazy val stmtHandler: InvocationHandler =
      (_: Any, m: Method, _: Array[AnyRef]) =>
        m.getName match {
          case "addBatch" => pending += 1; null
          case "executeBatch" =>
            val r = Array.fill(pending)(java.sql.Statement.SUCCESS_NO_INFO)
            pending = 0; r
          case _ => null
        }
    val connHandler: InvocationHandler =
      (_: Any, m: Method, _: Array[AnyRef]) =>
        m.getName match {
          case "prepareStatement" =>
            Proxy.newProxyInstance(getClass.getClassLoader,
              Array(classOf[PreparedStatement]), stmtHandler)
          case "isClosed" => java.lang.Boolean.FALSE
          case _ => null
        }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), connHandler).asInstanceOf[Connection]
  }
}

class SinksSpec extends SparkSpec {
  import SinksSpec._

  test("safeName slug matches the reference semantics") {
    assert(Sinks.safeName("Deep Learning: A Survey!") == "deep_learning_a_survey")
    assert(Sinks.safeName("  spaces   here ") == "spaces_here")
  }

  test("stage write partitions and reads back with pruning") {
    import spark.implicits._
    val dir = Scratch.dir("graft-stage")
    val df = Seq(("p1", "ml", 1), ("p2", "ml", 2), ("p3", "ai", 3))
      .toDF("paper_id", "term", "v")
    val path = Sinks.writeStage(df, dir, "Raw V2", "20260101T000000",
      partitionCols = Seq("term"))
    assert(path.contains("stage=raw_v2"))
    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    assert(back.filter(col("term") === "ml").count() == 2)
    // partition pruning visible in the plan
    val plan = back.filter(col("term") === "ml")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("term IS NOT NULL"))
  }

  test("readLatestRun scans ONLY the latest run's directory (path-level pruning)") {
    import spark.implicits._
    val dir = Scratch.dir("graft-latest")
    Seq("r0", "r1", "r2").zipWithIndex.foreach { case (ts, i) =>
      Sinks.writeStage((0 to i).map(v => (v.toLong, ts)).toDF("id", "from"),
        dir, "proc", ts)
    }
    assert(Sinks.latestRunDir(spark, s"$dir/stage=proc").get
      .endsWith("run_ts=r2"))
    val latest = Sinks.readLatestRun(spark, s"$dir/stage=proc")
    assert(latest.select("run_ts").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("r2"))
    assert(latest.count() == 3)
    // the scan's file index covers the r2 directory alone — older runs'
    // files are never listed, let alone read (the file list, not the
    // plan string, which truncates long scan locations)
    val files = latest.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("/run_ts=r2/")), files)
    // and an empty stage dir is a loud error, not an empty frame
    intercept[IllegalArgumentException] {
      Sinks.readLatestRun(spark, s"$dir/stage=nothing")
    }
  }

  test("db coercion: control chars, truncation, array->json, renames") {
    import spark.implicits._
    val df = Seq(("t\u0000itle" + "x" * 2000, Seq("r1", "r2"), true))
      .toDF("title", "references_id", "has_intro")
    val out = Sinks.coerceForDb(df)
    assert(out.columns.toSet == Set("title", "reference_ids", "has_introduction"))
    val row = out.collect()(0)
    assert(row.getAs[String]("title").length == 1000)
    assert(!row.getAs[String]("title").exists(_ < ' '))
    assert(row.getAs[String]("reference_ids") == """["r1","r2"]""")
  }

  test("jdbc upsert: ON CONFLICT statement, batching, stats") {
    import spark.implicits._
    capturedSql.clear(); batchSizes.clear()
    val df = (1 to 250).map(i => (s"p$i", i)).toDF("paper_id", "v")
      .repartition(2)
    val stats = Sinks.jdbcUpsert(df, "papers", Seq("paper_id"),
      () => SinksSpec.fakeConnection(), batchSize = 100)
    assert(stats.attempted == 250)
    assert(stats.inserted == 250)
    assert(stats.skipped == 0)
    assert(stats.failed == 0)
    assert(capturedSql.peek().startsWith("INSERT INTO papers"))
    assert(capturedSql.peek().contains("ON CONFLICT (paper_id) DO NOTHING"))
    val sizes = batchSizes.toArray(Array.empty[Integer]).map(_.toInt)
    assert(sizes.sum == 250)
    assert(sizes.max <= 100)
  }

  test("re-delivered partition: ON CONFLICT keeps the target exact, inserted does not double-count") {
    import spark.implicits._
    upsertTable.clear(); failBatches.set(0)
    val df = (1 to 120).map(i => (s"p$i", i)).toDF("paper_id", "v")
      .repartition(3)
    def run() = Sinks.jdbcUpsert(df, "papers", Seq("paper_id"),
      () => SinksSpec.statefulConnection(SinksSpec.upsertTable,
        SinksSpec.failBatches), batchSize = 50)
    val first = run()
    assert(first.inserted == 120 && first.skipped == 0 && first.failed == 0)
    assert(upsertTable.size() == 120)
    // the framework re-delivers every partition (the worst-case replay):
    // the target must not grow, and the replay reports all-skipped —
    // inserted is exact across deliveries, attempted counts traffic
    val replay = run()
    assert(upsertTable.size() == 120, "ON CONFLICT must keep the target exact")
    assert(replay.inserted == 0 && replay.skipped == 120)
    assert(replay.attempted == 120)
  }

  test("a poisoned batch is counted failed in full; its partition continues; target holds the rest") {
    import spark.implicits._
    upsertTable.clear(); failBatches.set(1)
    // ONE partition so the injected failure hits a deterministic batch:
    // rows arrive in order, the first 40-row batch throws, the remaining
    // two batches insert
    val df = (1 to 100).map(i => (f"q$i%03d", i)).toDF("paper_id", "v")
      .coalesce(1)
    val stats = Sinks.jdbcUpsert(df, "papers", Seq("paper_id"),
      () => SinksSpec.statefulConnection(SinksSpec.upsertTable,
        SinksSpec.failBatches), batchSize = 40)
    assert(stats.attempted == 100)
    assert(stats.failed == 40)
    assert(stats.inserted == 60 && stats.skipped == 0)
    assert(upsertTable.size() == 60)
    // a re-run repairs exactly the failed batch — nothing double-inserts
    failBatches.set(0)
    val repair = Sinks.jdbcUpsert(df, "papers", Seq("paper_id"),
      () => SinksSpec.statefulConnection(SinksSpec.upsertTable,
        SinksSpec.failBatches), batchSize = 40)
    assert(repair.inserted == 40 && repair.skipped == 60 && repair.failed == 0)
    assert(upsertTable.size() == 100)
  }

  test("a SUCCESS_NO_INFO driver lands rows in `unknown`, never inflating `inserted`") {
    import spark.implicits._
    // MySQL-with-rewriteBatchedStatements / Oracle shape: executeBatch
    // executes every row but reports SUCCESS_NO_INFO (-2) per row —
    // inserted-vs-conflict is unknowable, and claiming `inserted` would
    // double-count under re-delivery
    val df = (1 to 70).map(i => (s"n$i", i)).toDF("paper_id", "v")
      .coalesce(1)
    val stats = Sinks.jdbcUpsert(df, "papers", Seq("paper_id"),
      () => SinksSpec.noInfoConnection(), batchSize = 30)
    assert(stats.attempted == 70)
    assert(stats.unknown == 70)
    assert(stats.inserted == 0 && stats.skipped == 0 && stats.failed == 0)
  }

  test("json report sink writes aggregated rows") {
    val dir = java.nio.file.Paths.get(Scratch.dir("graft-report"))
    val profile = graft.operators.Profiling.missingProfile(
      Tables(spark, sf, "documents"))
    val path = dir.resolve("reports/profile.json")
    Sinks.writeJsonReport(profile, path.toString)
    val content = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    assert(content.contains("\"n_rows\""))
  }

  test("idempotentBatchAppend: retrying a batch replaces, appending a new one adds") {
    import spark.implicits._
    val dir = Scratch.dir("graft-idem")
    Sinks.idempotentBatchAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, 0L)
    // retry of batch 0 (possibly after a partial write) — replaces, no dup
    Sinks.idempotentBatchAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, 0L)
    assert(spark.read.parquet(dir).count() == 2)
    Sinks.idempotentBatchAppend(Seq((3L, "c")).toDF("id", "v"), dir, 1L)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("metrics listener records per-action durations and scan rows") {
    val l = new graft.quality.GraftMetricsListener()
    spark.listenerManager.register(l)
    try {
      val n = Tables(spark, sf, "events").filter(col("value") > 1.0).count()
      // listener events are delivered asynchronously; poll briefly
      var tries = 0
      while (l.metrics.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val m = l.metrics
      assert(m.nonEmpty, "no metrics recorded")
      assert(m.exists(x => x.error.isEmpty && x.durationNs > 0), m.toString)
      assert(m.exists(_.scanRows >= n), s"scanRows ${m.map(_.scanRows)} < $n")
    } finally spark.listenerManager.unregister(l)
  }

  test("z-ordered layout localizes BOTH dimensions per file") {
    import spark.implicits._
    val dir = Scratch.dir("graft-zorder")
    val ev = Tables(spark, sf, "events").select("event_id", "user_id", "value")
    Sinks.writeZOrdered(ev, "user_id", "value", dir, nFiles = 8)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("user_id") - min("user_id")).as("u_range"),
        (max("value") - min("value")).as("v_range"))
      .collect()
    assert(perFile.length == 8, perFile.length.toString)
    assert(spark.read.parquet(dir).count() == ev.count())
    val gu = ev.agg(max("user_id") - min("user_id")).head().getLong(0).toDouble
    val gv = ev.agg(max("value") - min("value")).head().getDouble(0)
    val avgU = perFile.map(_.getAs[Long]("u_range").toDouble).sum / perFile.length
    val avgV = perFile.map(_.getAs[Double]("v_range")).sum / perFile.length
    // every file must cover a strict sub-rectangle on average — a plain
    // sort by user_id would leave v_range ≈ global on every file
    assert(avgU < gu * 0.8, s"user range $avgU vs global $gu")
    assert(avgV < gv * 0.8, s"value range $avgV vs global $gv")
  }

  test("backfillPartitions replaces only the partitions it carries") {
    import spark.implicits._
    val dir = Scratch.dir("graft-backfill") + "/t"
    Seq((1L, "d1", "old"), (2L, "d2", "old"), (3L, "d3", "old"))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)
    // backfill day 2 with different content (two rows now)
    Sinks.backfillPartitions(
      Seq((20L, "d2", "new"), (21L, "d2", "new")).toDF("id", "day", "v"),
      dir, Seq("day"))
    val got = spark.read.parquet(dir)
      .select("id", "day", "v").as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "d1", "old"), (20L, "d2", "new"),
      (21L, "d2", "new"), (3L, "d3", "old")))
    // a re-run of the same backfill converges (idempotent)
    Sinks.backfillPartitions(
      Seq((20L, "d2", "new"), (21L, "d2", "new")).toDF("id", "day", "v"),
      dir, Seq("day"))
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("compactParquet merges small files without losing rows") {
    val base = Scratch.dir("graft-compact")
    val ev = Tables(spark, sf, "events")
    ev.repartition(32).write.parquet(s"$base/in") // 32 tiny files
    val (before, after) = Sinks.compactParquet(spark, s"$base/in", s"$base/out",
      targetBytes = Long.MaxValue)
    assert(before == 32, s"before=$before")
    assert(after == 1, s"after=$after")
    assert(spark.read.parquet(s"$base/out").count() == ev.count())
  }
}
