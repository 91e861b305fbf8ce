package graft

import graft.operators.Sessionization
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

class StreamingSpec extends SparkSpec {

  test("streaming tumbling counts equal the batch twin (complete mode)") {
    // schema as the streaming source sees the raw file (ts = plain
    // timestamp[us], read as TIMESTAMP_NTZ)
    val rawSchema = new StructType()
      .add("event_id", LongType)
      .add("ts", org.apache.spark.sql.types.TimestampNTZType)
      .add("user_id", LongType)
      .add("event_type", org.apache.spark.sql.types.StringType)
      .add("value", org.apache.spark.sql.types.DoubleType)
      .add("props", org.apache.spark.sql.types.StringType)
    // the file-stream source needs a directory: stage the single file
    val dir = java.nio.file.Paths.get(Scratch.dir("graft-events"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamingOps.readEvents(spark, dir.toString, rawSchema)
    val agg = StreamingOps.tumblingCounts(stream, "1 hour", "10 minutes")
    val streamed = StreamingOps.runToMemory(agg, "tumbling_out", "complete")
      .select("window_start", "event_type", "n", "sum_value")

    val batch = Sessionization.tumbling(
      Tables(spark, sf, "events"), "ts", "1 hour", Seq("event_type"), "value")

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stateful sessionization matches the batch twin on closed sessions") {
    import spark.implicits._
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("value"))
    // stage: real events first, then one far-future sentinel per user so
    // every real session closes via the gap path in batch 2
    val dir = Scratch.dir("graft-sess")
    ev.coalesce(1).write.parquet(s"$dir/b1")
    val maxTs = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 86400000L)
    ev.select("user_id").distinct()
      .withColumn("ts", lit(sentinelTs))
      .withColumn("value", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/b2")
    // flat dir with deterministic order: b1 then b2 (mod time)
    val flat = java.nio.file.Paths.get(Scratch.dir("graft-sess-flat"))
    def copyPart(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, flat.resolve(name))
      flat.resolve(name).toFile.setLastModified(
        if (name == "b1.parquet") 1000000L else 2000000L)
    }
    copyPart("b1", "b1.parquet"); copyPart("b2", "b2.parquet")

    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(flat.toString)
      .as[graft.streaming.StreamingOps.SessionEvent]
    val sessions = graft.streaming.StreamingOps.statefulSessions(
      stream, gapSeconds = 1800, watermark = "10 minutes")
    val streamed = graft.streaming.StreamingOps
      .runToMemory(sessions.toDF(), "sessions_out", "append")
      .filter(col("session_start") < lit(sentinelTs))

    val batch = graft.operators.Sessionization.sessionize(
      ev.withColumn("event_id", lit(0L)), "user_id", "ts", "event_id",
      "value", 1800)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))

    assert(streamed.count() == batch.count())
    assert(streamed.select("user_id", "session_start", "session_end", "n_events")
      .exceptAll(batch.select("user_id", "session_start", "session_end", "n_events"))
      .count() == 0)
  }

  test("native session_window aggregation equals the batch sessionizer") {
    import spark.implicits._
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("value"))
    val dir = Scratch.dir("graft-swin")
    ev.coalesce(1).write.parquet(s"$dir/b1")
    val maxTs = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 86400000L)
    ev.select("user_id").distinct()
      .withColumn("ts", lit(sentinelTs))
      .withColumn("value", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/b2")
    val flat = java.nio.file.Paths.get(Scratch.dir("graft-swin-flat"))
    def copyPart(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, flat.resolve(name))
      flat.resolve(name).toFile.setLastModified(
        if (name == "b1.parquet") 1000000L else 2000000L)
    }
    copyPart("b1", "b1.parquet"); copyPart("b2", "b2.parquet")

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(flat.toString)
    val agg = StreamingOps.sessionWindowCounts(stream, "30 minutes", "10 minutes")
    val streamed = StreamingOps.runToMemory(agg, "swin_out", "append")
      .filter(col("session_start") < lit(sentinelTs))
      .select("user_id", "session_start", "n_events", "sum_value")

    val batch = Sessionization.sessionize(
      ev.withColumn("event_id", lit(0L)), "user_id", "ts", "event_id",
      "value", 1800)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value"))

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("CEP pattern matches (A followed-by B within T) equal the batch twin") {
    import spark.implicits._
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    // stage: real events, then one far-future sentinel (a type that is
    // neither A nor B) to push the watermark past every pending window
    val dir = Scratch.dir("graft-cep")
    ev.coalesce(1).write.parquet(s"$dir/b1")
    val maxTs = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 86400000L)
    Seq((0L, sentinelTs, "view")).toDF("user_id", "ts", "event_type")
      .coalesce(1).write.parquet(s"$dir/b2")
    val flat = java.nio.file.Paths.get(Scratch.dir("graft-cep-flat"))
    def copyPart(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, flat.resolve(name))
      flat.resolve(name).toFile.setLastModified(
        if (name == "b1.parquet") 1000000L else 2000000L)
    }
    copyPart("b1", "b1.parquet"); copyPart("b2", "b2.parquet")

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(flat.toString)
      .as[StreamingOps.PatEvent]
    val matches = StreamingOps.patternMatches(
      stream, "click", "purchase", withinSeconds = 3600, watermark = "10 minutes")
    val streamed = StreamingOps
      .runToMemory(matches.toDF(), "cep_out", "append")
      .select("user_id", "a_ts", "b_ts")

    val batch = StreamingOps.patternMatchesBatch(ev, "click", "purchase", 3600)
      .select("user_id", "a_ts", "b_ts")

    assert(batch.count() > 0) // the data must actually exercise the pattern
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-static broadcast enrichment joins each micro-batch against the dim") {
    import spark.implicits._
    val dir = Scratch.dir("graft-ss") + "/in"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, base, 10L), (2L, base, 20L), (3L, base, 99L))
      .toDF("event_id", "ts", "dim_key").write.parquet(dir)
    val dim = Seq((10L, "gold"), (20L, "silver")).toDF("dim_key", "tier")
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    // stream-static joins need no watermark: the static side is re-planned
    // per micro-batch (picking up dim updates between batches) and
    // broadcasts like any dimension
    val enriched = stream.join(broadcast(dim), Seq("dim_key"), "left")
      .select(col("event_id"), coalesce(col("tier"), lit("unknown")).as("tier"))
    val out = StreamingOps.runToMemory(enriched, "ss_out", "append")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "gold"), (2L, "silver"), (3L, "unknown")))
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    import spark.implicits._
    val dir = Scratch.dir("graft-stream")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, base, "click", 1.0), (1L, base, "click", 1.0), (2L, base, "view", 2.0))
      .toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val deduped = StreamingOps.dedupedStream(stream, "1 minute")
    val out = StreamingOps.runToMemory(deduped, "dedup_out", "append")
    assert(out.count() == 2)
  }

  test("stream-stream interval join equals the batch twin") {
    val ev = Tables(spark, sf, "events")
      .filter(col("user_id") < 20) // keep the buffered-state volume small
    val dirL = Scratch.dir("graft-ssj-l")
    val dirR = Scratch.dir("graft-ssj-r")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("r_ts"), col("event_id").as("view_id"))
    clicks.coalesce(1).write.mode("overwrite").parquet(dirL)
    views.coalesce(1).write.mode("overwrite").parquet(dirR)

    val sl = spark.readStream.schema(clicks.schema).parquet(dirL)
    val sr = spark.readStream.schema(views.schema).parquet(dirR)
    val joined = StreamingOps.intervalJoin(sl, sr, "user_id",
      maxLagSeconds = 3600, watermark = "10 minutes")
      .select("event_id", "view_id")
    val streamed = StreamingOps.runToMemory(joined, "ssj_out", "append")

    val batch = clicks.join(views,
      clicks("user_id") === views("user_id") &&
        col("r_ts") >= col("ts") - expr("INTERVAL 3600 SECONDS") &&
        col("r_ts") <= col("ts"))
      .select("event_id", "view_id")

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming span excision matches the batch excision across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-sexc")
    val bench = Seq("the quick brown", "quick brown fox", "brown fox jumps")
      .toDF("shingle")
    val b1 = Seq(
      (1L, "intro words the quick brown fox jumps outro words"),
      (2L, "completely unrelated content"))
    val b2 = Seq((3L, "the quick brown cat naps"))
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamExcise(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bench, n = 3, s"$base/out", s"$base/ckpt")
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_tokens_kept", "kept_md5")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // doc 1: marked windows at 2,3,4 merge to the span [2,7) → 5 cut
    assert(got(1L) === ((4L, m("intro words outro words"))))
    assert(got(2L) === ((3L, m("completely unrelated content"))))
    // doc 3: only "the quick brown" matches → span [0,3)
    assert(got(3L) === ((2L, m("cat naps"))))
    // batch twin over the union is row-identical
    val twin = graft.operators.DedupOps.exciseAgainst(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 3, bench)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(twin === got)
  }

  test("streaming decontamination matches the batch operator across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-decon")
    val bench = Seq("the quick brown", "quick brown fox", "brown fox jumps")
      .toDF("shingle")
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the fence"), // 3 shared -> drop
      (2L, "completely unrelated words entirely here now"))
    val b2 = Seq(
      (3L, "the quick brown dog sits"), // 1 shared -> keep (<= 1)
      (4L, "the quick brown fox runs"))  // 2 shared -> drop
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDecontaminate(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bench, n = 3, maxSharedGrams = 1L, s"$base/out", s"$base/ckpt")
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L), kept.mkString(","))
    // batch twin: the same survivors fall out of the batch-mode count
    val union = (b1 ++ b2).toDF("doc_id", "text")
    val shared = graft.operators.DedupOps.shingles(union, "doc_id", "text", 3)
      .join(bench, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val batchKept = union.join(shared.filter(col("n") > 1)
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(batchKept.toSeq == kept.toSeq)
  }

  test("streaming DSIR scoring equals the batch scorer across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-sdsir")
    // static model: learned once from a corpus with a target slice
    val corpus = Seq(
      (0L, "quantum physics entanglement spectrum"),
      (97L, "quantum spectrum theory"),
      (1L, "mundane ordinary chatter"),
      (2L, "quantum chatter physics")).toDF("doc_id", "text")
    val ratio = graft.operators.DataSelection
      .ratioTable(corpus, "doc_id", "text", col("doc_id") % 97 === 0).persist()
    val b1 = Seq((10L, "quantum physics"), (11L, "ordinary chatter"))
    val b2 = Seq((12L, "entanglement spectrum theory"))
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDsirScore(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ratio, s"$base/out", s"$base/ckpt")
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_tokens", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val batch = graft.operators.DataSelection
      .scoreWith(ratio, (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 3)
    ratio.unpersist()
  }

  test("streaming k-means assignment equals the batch assigner across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-skm")
    // static model: trained once on a seed corpus (two separated blobs)
    val seedPts = (Seq.tabulate(6)(i => (i.toLong, Array(i * 0.01, 0.0)))
      ++ Seq.tabulate(6)(i => (6L + i, Array(5.0 + i * 0.01, 5.0))))
    val model = graft.operators.KMeansOps.fit(
      seedPts.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 2, updates = 2)
    val b1 = Seq((100L, Array(0.02, 0.01)), (101L, Array(5.01, 4.99)))
    val b2 = Seq((102L, Array(4.9, 5.1)))
    val src = MemoryStream[(Long, Array[Double])]
    val q = StreamingOps.streamKMeansAssign(
      src.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      model, s"$base/out", s"$base/ckpt")
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$base/out")
      .select("vec_id", "cluster", "d2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted
    val batch = graft.operators.KMeansOps
      .assignWith(model, (b1 ++ b2).toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 3)
    // the two blob probes land in different clusters
    assert(streamed.map(_._2).distinct.length == 2)
  }

  test("incremental dedup suppresses duplicates across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-incdedup")
    val (idx, out, ckpt) = (s"$base/index", s"$base/out", s"$base/ckpt")

    val src = MemoryStream[(Long, String)]
    val docs = src.toDF().toDF("doc_id", "text")
    val q = StreamingOps.incrementalDedup(docs, "doc_id", "text", idx, out, ckpt)

    // batch 1: one batch-local duplicate pair (1,3) — keep min id
    src.addData((1L, "alpha beta"), (2L, "gamma"), (3L, "alpha beta"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate of doc 2, plus a genuinely new doc
    src.addData((4L, "GAMMA"), (5L, "delta")) // fingerprint is case-insensitive
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L), kept.mkString(","))
    assert(spark.read.parquet(idx).select("fp").distinct().count() == 3)
  }

  test("incremental dedup retry of a batch does not erase its own output") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-retry")
    val (idx, out, ckpt) = (s"$base/index", s"$base/out", s"$base/ckpt")
    // simulate a committed batch-0 data write whose CHECKPOINT never
    // committed: both sinks hold batch=0, the source will replay it
    val b0 = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    b0.write.parquet(s"$out/batch=0")
    b0.select(graft.functions.TextFns.fingerprint(col("text")).as("fp"))
      .write.parquet(s"$idx/batch=0")

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalDedup(src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, out, ckpt) // fresh checkpoint -> batchId 0 again
    src.addData((1L, "alpha beta"), (2L, "gamma"))
    q.processAllAvailable()
    q.stop()
    // the replayed batch must overwrite-in-place, not be emptied by its own
    // prior index write
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L), kept.mkString(","))
  }

  test("incremental NEAR-dedup suppresses minhash near-dups across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-incnear")
    val (idx, out, ckpt) = (s"$base/index", s"$base/out", s"$base/ckpt")

    val textA = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong coffee near the river bank under bright morning " +
      "light as children play chess beside tall oak trees waiting for rain"
    val textB = "completely different content about spark catalyst plans " +
      "shuffles partitions and broadcast joins in a distributed engine " +
      "processing parquet tables at massive scale with adaptive execution"
    val nearA = textA.replace("waiting for rain", "hoping for snow")
    val nearB = textB.replace("massive scale", "petabyte scale")

    val src = MemoryStream[(Long, String)]
    val docs = src.toDF().toDF("doc_id", "text")
    val q = StreamingOps.incrementalNearDedup(docs, "doc_id", "text", idx, out, ckpt)

    // batch 1: two distinct docs + a batch-local near-dup of A (greedy: min id wins)
    src.addData((1L, textA), (2L, textB), (3L, nearA))
    q.processAllAvailable()
    // batch 2: cross-batch near-dup of B, one genuinely new doc, one too
    // short for a signature (always survives)
    src.addData((4L, nearB), (5L, "novel text about cohort retention and " +
      "sessionization windows over event streams with watermarks and state"),
      (6L, "tiny doc"))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L, 6L), kept.mkString(","))
    // index holds bands+sigs for the three signatured survivors only
    assert(spark.read.parquet(s"$idx/sigs").count() == 3)
  }

  test("incremental winnowing dedup drops shared-run docs deterministically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-incwin")
    val (idx, out, ckpt) = (s"$base/index", s"$base/out", s"$base/ckpt")

    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    // shares a long token run with A (plagiarized middle), new head/tail
    val plagA = "fresh start words here " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten " +
      "ending differently now"
    val textB = "entirely unrelated content spark catalyst tungsten codegen " +
      "shuffle partition broadcast join parquet scan pushdown pruning " +
      "adaptive execution skew salting watermark state store checkpoint"

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalWinnowDedup(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out, ckpt)
    // batch 1: A and B survive; batch-local exact copy of A drops (greedy)
    src.addData((1L, textA), (2L, textB), (3L, textA))
    q.processAllAvailable()
    // batch 2: cross-batch plagiarism of A drops; short doc survives
    // (no full winnowing window exists, so it never matches)
    src.addData((4L, plagA), (5L, "too short to fingerprint"))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L), kept.mkString(","))
    // index holds fingerprints for the two fingerprinted survivors only
    assert(spark.read.parquet(s"$idx/fps").select("doc_id").distinct().count() == 2)
  }

  test("incremental CDC dedup: shift-resistant cross-batch drops, char-frac rule") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-inccdc")
    val (idx, out, ckpt) = (s"$base/index", s"$base/out", s"$base/ckpt")

    val rnd = new scala.util.Random(11L)
    val textA = Array.fill(1500)(('a' + rnd.nextInt(26)).toChar).mkString
    val textB = Array.fill(1500)(('a' + rnd.nextInt(26)).toChar).mkString

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalCdcDedup(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out, ckpt)
    // batch 1: A and B survive; exact batch-local copy of A drops
    src.addData((1L, textA), (2L, textB), (3L, textA))
    q.processAllAvailable()
    // batch 2: a SHIFTED copy of A (inserted prefix re-aligns every fixed
    // window — the case CDC exists for) drops against the index; fresh
    // random text survives
    val shifted = "INSERTED LEADING EDIT " + textA
    val fresh = Array.fill(1200)(('a' + rnd.nextInt(26)).toChar).mkString
    src.addData((4L, shifted), (5L, fresh))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L), kept.mkString(","))
    // index carries hashes only — never chunk text — for survivors only
    val idxDf = spark.read.parquet(s"$idx/chunks")
    assert(idxDf.columns.toSet == Set("doc_id", "h", "len", "batch"))
    assert(idxDf.select("doc_id").distinct().count() == 3)
  }

  test("winnow dedup: crash-retry replay overwrites in place, final table identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-winretry")
    val (idx, out, ckpt) = (s"$base/index", s"$base/out", s"$base/ckpt")

    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val textB = "entirely unrelated content spark catalyst tungsten codegen " +
      "shuffle partition broadcast join parquet scan pushdown pruning " +
      "adaptive execution skew salting watermark state store checkpoint"
    // simulate a crash AFTER batch-0's data + index writes but BEFORE its
    // checkpoint commit: both sinks already hold batch=0, and a fresh
    // checkpoint makes the source replay the same rows as batchId 0. Docs
    // 1/2 share ≥ minShared fingerprints with their own prior index write —
    // the batch-exclusion filter must keep the replay from emptying itself.
    val b0 = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    b0.write.parquet(s"$out/batch=0")
    graft.operators.DedupOps.winnowingFingerprints(b0, "doc_id", "text", 3, 4)
      .write.parquet(s"$idx/fps/batch=0")

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalWinnowDedup(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out, ckpt)
    src.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    // the stream continues past the replay: a plagiarized doc must still
    // drop against the (replayed, not duplicated) batch-0 index
    src.addData((4L, "fresh head " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten" + " new tail"))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L), kept.mkString(","))
    // index was overwritten in place: one fingerprint set per survivor,
    // no doubled rows from the replay
    val fpPerDoc = spark.read.parquet(s"$idx/fps")
      .groupBy("doc_id", "fingerprint").count()
      .filter(col("count") > 1).count()
    assert(fpPerDoc == 0L, "replay duplicated index fingerprints")
  }

  test("curation stream: quality gate, decontamination, dedup and funnel stats") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-curation")
    val (idx, out, stats, ckpt) =
      (s"$base/index", s"$base/out", s"$base/stats", s"$base/ckpt")

    val benchText = "the quick brown fox jumps over the lazy dog while " +
      "seven wizards brew strong coffee near the river bank"
    val bench = graft.operators.DedupOps.shingles(
      Seq((0L, benchText)).toDF("doc_id", "text"), "doc_id", "text", 3)
    val good1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "and the lambda mu nu xi omicron pi rho sigma tau upsilon phi chi " +
      "psi omega one two three four five six seven eight nine ten of it"
    val dupOf1 = "fresh head words then " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi " +
      "psi omega one two three four five six seven eight nine ten" +
      " but a different tail"
    val good2 = "entirely unrelated content about spark catalyst tungsten " +
      "and the codegen shuffle partition broadcast join parquet scan " +
      "pushdown pruning adaptive execution skew salting watermark state"

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.curationStream(src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", bench, n = 3, maxSharedGrams = 2L,
      minQuality = 100000L, idx, out, stats, ckpt)
    // batch 0: good doc, digits-only (fails quality), benchmark plagiarism
    // (good quality, contaminated), batch-local near-dup of the good doc
    src.addData((1L, good1), (2L, "1 2 3 4 5 6 7 8 9 0 11 22 33 44 55"),
      (3L, benchText + " with some extra trailing words appended here"),
      (4L, dupOf1))
    q.processAllAvailable()
    // batch 1: cross-batch near-dup of doc 1 + a genuinely new good doc
    src.addData((5L, dupOf1 + " reworded slightly"), (6L, good2))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 6L), kept.mkString(","))
    val s = spark.read.parquet(stats).orderBy("batch_id")
      .select("batch_id", "n_in", "n_quality_drop", "n_contaminated",
        "n_dup", "n_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(s.toSeq == Seq((0L, 4L, 1L, 1L, 1L, 1L), (1L, 2L, 0L, 0L, 1L, 1L)),
      s.mkString(";"))
    // funnel telescopes: n_out = n_in - drops at every stage
    s.foreach { case (_, nIn, nq, nc, nd, nOut) =>
      assert(nOut == nIn - nq - nc - nd)
    }
  }

  test("decontaminate stream: crash-retry replay leaves no stale partial rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-deconretry")
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")

    val benchText = "the quick brown fox jumps over the lazy dog again and again"
    val bench = graft.operators.DedupOps.shingles(
      Seq((0L, benchText)).toDF("doc_id", "text"), "doc_id", "text", 3)
    // simulate the crashed attempt: batch=0 was PARTIALLY written — it holds
    // a contaminated doc (id 9) the finished batch would have filtered out.
    // The replay must fully overwrite the partition, not merge with it.
    Seq((9L, benchText + " contaminated copy"))
      .toDF("doc_id", "text").write.parquet(s"$out/batch=0")

    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamDecontaminate(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bench, n = 3, maxSharedGrams = 2L, out, ckpt)
    src.addData(
      (9L, benchText + " contaminated copy"), // shares 10 grams -> dropped
      (10L, "clean novel document about columnar storage and encodings"))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(10L), kept.mkString(","))
  }

  private def md5x(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def wordsOf(n: Int): String = Seq.fill(n)("w").mkString(" ")

  /** Batch twin of the incremental packer: the one-pass greedy scan over
    * arrival order (batch index prefixed to the per-batch md5 order key).
    */
  private def expectedPack(batches: Seq[Seq[(Long, Int)]], budget: Long,
                           nShards: Int): Map[Long, Long] = {
    import spark.implicits._
    val tok = batches.zipWithIndex.flatMap { case (b, i) =>
      b.map { case (id, n) =>
        val h = md5x(id.toString)
        (Integer.parseInt(h.substring(0, 4), 16).toLong % nShards,
          f"$i%04d#$h", id, n.toLong)
      }
    }.toDF("shard", "ord", "id", "nTok")
    graft.operators.DataSelection.packScan(tok, budget)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("bin")).toMap
  }

  test("incremental packing continues shard windows across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-incpack")
    val (st, out, ckpt) = (s"$base/state", s"$base/out", s"$base/ckpt")
    val b1 = Seq(1L -> 4, 2L -> 7, 3L -> 3, 4L -> 9, 5L -> 2, 6L -> 99)
    val b2 = Seq(11L -> 5, 12L -> 6, 13L -> 1, 14L -> 8)
    val src = MemoryStream[(Long, String)]
    val docs = src.toDF().toDF("doc_id", "text")
    val q = StreamingOps.incrementalPack(docs, "doc_id", "text",
      budget = 10L, nShards = 2, st, out, ckpt)
    src.addData(b1.map { case (id, n) => (id, wordsOf(n)) }: _*)
    q.processAllAvailable()
    src.addData(b2.map { case (id, n) => (id, wordsOf(n)) }: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    assert(got == expectedPack(Seq(b1, b2), 10L, 2))
    assert(got(6L) == -1L) // oversize rule carries into the stream
  }

  test("incremental packing retry re-packs from the same seed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Scratch.dir("graft-incpack2")
    val (st, out, ckpt) = (s"$base/state", s"$base/out", s"$base/ckpt")
    val b0 = Seq(1L -> 4, 2L -> 7, 3L -> 3)
    // simulate a crash mid-batch-0: a PARTIAL assignment write and a
    // wrong cursor landed, but the checkpoint never committed — the
    // source will replay batch 0, which must overwrite both
    Seq((0L, 1L, 0L, 4L)).toDF("shard", "id", "bin", "nTok")
      .write.parquet(s"$out/batch=0")
    Seq((0L, 7L, 9L)).toDF("shard", "bin", "fill")
      .write.parquet(s"$st/batch=0")
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalPack(src.toDF().toDF("doc_id", "text"),
      "doc_id", "text", budget = 10L, nShards = 2, st, out, ckpt)
    src.addData(b0.map { case (id, n) => (id, wordsOf(n)) }: _*)
    q.processAllAvailable()
    src.addData((11L, wordsOf(5)), (12L, wordsOf(6)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    assert(got ==
      expectedPack(Seq(b0, Seq(11L -> 5, 12L -> 6)), 10L, 2))
  }
}
