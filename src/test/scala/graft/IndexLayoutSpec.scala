package graft

import graft.operators.IndexLayout
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Version-pointer swap semantics (the object-store-safe compaction
  * primitive): a swap writes the FULL new layout to a sibling version
  * directory first and flips a tiny manifest last, so a reader resolving
  * through [[IndexLayout.resolve]] never observes a missing or partial
  * table — before the flip it reads the old version, after it the new.
  * The kill-the-compactor cases pin exactly the crash windows
  * delete-then-rename could not survive on GCS/S3.
  */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val base = Scratch.dir(tag)
    s"$base/table"
  }

  private def rows(dir: String): Set[Long] =
    spark.read.parquet(IndexLayout.resolve(spark, dir))
      .select("id").collect().map(_.getLong(0)).toSet

  test("writeSwap versions the layout with N-1 retention: the previous layout survives exactly one more swap") {
    val dir = freshDir("ixl_swap")
    Seq(1L, 2L, 3L).toDF("id").write.parquet(dir)
    assert(IndexLayout.currentVersion(spark, dir).isEmpty)
    assert(rows(dir) == Set(1L, 2L, 3L))
    IndexLayout.writeSwap(spark, dir, Seq(4L, 5L).toDF("id"), None)
    assert(IndexLayout.currentVersion(spark, dir) == Some(1))
    assert(rows(dir) == Set(4L, 5L))
    // N-1 retention: the plain directory (current until this flip) is
    // kept one more swap for readers mid-scan on it
    assert(new java.io.File(dir).exists())
    // second swap: v2 current, the plain dir (two swaps old) collected,
    // v1 (previous current) retained
    IndexLayout.writeSwap(spark, dir, Seq(6L).toDF("id"), None)
    assert(IndexLayout.currentVersion(spark, dir) == Some(2))
    assert(rows(dir) == Set(6L))
    assert(!new java.io.File(dir).exists())
    assert(new java.io.File(s"$dir.v1").exists())
    // third swap: v1 collected, v2 retained
    IndexLayout.writeSwap(spark, dir, Seq(7L).toDF("id"), None)
    assert(rows(dir) == Set(7L))
    assert(!new java.io.File(s"$dir.v1").exists())
    assert(new java.io.File(s"$dir.v2").exists())
  }

  test("N-1 retention: a reader mid-scan on the current version completes across a swap") {
    val dir = freshDir("ixl_inflight")
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(3L, 4L).toDF("id"), None)
    // the reader resolves the CURRENT version (v1) and holds its plan —
    // the minutes-long 100 TB scan in miniature
    val inFlight = spark.read.parquet(IndexLayout.resolve(spark, dir))
    // a compaction lands mid-scan
    IndexLayout.writeSwap(spark, dir, Seq(5L).toDF("id"), None)
    assert(rows(dir) == Set(5L), "new readers see the new version")
    // the in-flight read still answers from its resolved v1 files
    assert(inFlight.select("id").collect().map(_.getLong(0)).toSet
      == Set(3L, 4L))
  }

  test("snapshot pins: a pinned version survives any number of swaps; unpin releases it to the next GC") {
    val dir = freshDir("ixl_pin")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    // a slow reader pins the layout it resolved (v1) before a long scan
    val token = IndexLayout.pinCurrent(spark, dir)
    val snapshot = IndexLayout.resolve(spark, dir)
    val reader = spark.read.parquet(snapshot)
    // THREE compactions land — far beyond the N-1 retention window
    IndexLayout.writeSwap(spark, dir, Seq(3L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(4L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(5L).toDF("id"), None)
    assert(rows(dir) == Set(5L), "new readers follow the flips")
    assert(new java.io.File(snapshot).exists(), "pinned v1 must survive")
    assert(reader.select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    // unpin: the snapshot becomes ordinary retention state and the next
    // swap collects it
    IndexLayout.unpin(spark, dir, token)
    IndexLayout.writeSwap(spark, dir, Seq(6L).toDF("id"), None)
    assert(!new java.io.File(snapshot).exists(), "released pin must GC")
    assert(rows(dir) == Set(6L))
    // pinning a PLAIN (unversioned) layout holds the plain dir the same way
    val plain = freshDir("ixl_pinplain")
    Seq(7L).toDF("id").write.parquet(plain)
    val t2 = IndexLayout.pinCurrent(spark, plain)
    IndexLayout.writeSwap(spark, plain, Seq(8L).toDF("id"), None)
    IndexLayout.writeSwap(spark, plain, Seq(9L).toDF("id"), None)
    assert(new java.io.File(plain).exists(), "pinned plain dir survives")
    IndexLayout.unpin(spark, plain, t2)
    IndexLayout.writeSwap(spark, plain, Seq(10L).toDF("id"), None)
    assert(!new java.io.File(plain).exists())
    assert(rows(plain) == Set(10L))
  }

  test("resolve tolerates the manifest flip window: marker present, manifest absent → highest version") {
    val dir = freshDir("ixl_window")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(3L).toDF("id"), None)
    // simulate the object-store rename window / a lost manifest: the
    // _CURRENT file vanishes between a reader's two accesses
    assert(new java.io.File(s"$dir._CURRENT").delete())
    assert(rows(dir) == Set(3L),
      "marker-led fallback must pick the highest (complete) version")
    // …whereas a PLAIN layout with a half-prepared version sibling (a
    // first compaction mid-prepare, marker not yet written) must keep
    // resolving to the plain dir, never the in-progress sibling
    val plain = freshDir("ixl_plainprep")
    Seq(7L).toDF("id").write.parquet(plain)
    IndexLayout.prepareVersion(spark, plain, Seq(8L).toDF("id"), None)
    assert(rows(plain) == Set(7L))
  }

  test("a swap after manifest loss spares the version readers are resolving to") {
    val dir = freshDir("ixl_lostflip")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(3L).toDF("id"), None)
    // manifest lost (corruption / object-store mishap): readers fall back
    // to the highest version (v2) via the marker
    assert(new java.io.File(s"$dir._CURRENT").delete())
    val reader = spark.read.parquet(IndexLayout.resolve(spark, dir))
    // a compaction lands on the degraded table: its GC must treat v2 as
    // the spared previous layout — exactly what readers resolved — not
    // see "no manifest" and collect every version but the new one
    IndexLayout.writeSwap(spark, dir, Seq(4L).toDF("id"), None)
    assert(rows(dir) == Set(4L))
    assert(new java.io.File(s"$dir.v2").exists(), "reader-visible v2 spared")
    assert(reader.select("id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("assertAppendVisible fails loudly when a compaction flip raced a direct append") {
    val dir = freshDir("ixl_appendrace")
    Seq(1L).toDF("id").write.parquet(dir)
    val target = IndexLayout.resolve(spark, dir)
    Seq(2L).toDF("id").write.mode("append").parquet(target)
    // no flip: the append is visible
    IndexLayout.assertAppendVisible(spark, dir, target)
    // a compaction flips mid-append: the guard throws instead of
    // stranding the rows in a retired layout
    IndexLayout.writeSwap(spark, dir, Seq(9L).toDF("id"), None)
    val e = intercept[IllegalArgumentException] {
      IndexLayout.assertAppendVisible(spark, dir, target)
    }
    assert(e.getMessage.contains("concurrent compaction"))
  }

  test("hasRows is false for a directory holding no parquet data files") {
    val dir = freshDir("ixl_nofooter")
    assert(new java.io.File(dir).mkdirs())
    assert(new java.io.File(s"$dir/_SUCCESS").createNewFile())
    assert(!IndexLayout.hasRows(spark, dir),
      "a footerless directory is NOT rows — and must not throw")
    Seq(1L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(IndexLayout.hasRows(spark, dir))
  }

  /** A Spark-readable partitioned table at `dir` plus what a lifecycle
    * table can carry beside its data: `_SUCCESS` and `.crc` files, an
    * in-flight `_temporary/…` part, parquet files in hidden and
    * `_`-prefixed dirs, hidden files and empty dirs.
    */
  private def litteredTable(dir: String): Unit = {
    (0L until 40L).toDF("id").withColumn("k", col("id") % 3)
      .repartition(2).write.partitionBy("k").parquet(dir)
    val part = new java.io.File(s"$dir/k=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    def put(rel: String): Unit = {
      val to = java.nio.file.Paths.get(s"$dir/$rel")
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(part, to)
    }
    put("_temporary/0/_temporary/attempt_0/k=1/part-00009.parquet")
    put(".hidden/part-00007.parquet")
    put("_hidden/part-00008.parquet")
    put("k=1/.part-00006.parquet")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/k=2/.notes.txt"),
      "not parquet".getBytes)
    Seq("k=7", ".hidden/empty", "_temporary/1", "deep/er/est").foreach { d =>
      assert(new java.io.File(s"$dir/$d").mkdirs())
    }
  }

  /** (data-file count, data-file bytes) under `dir` by the recursive
    * `LocatedFileStatus` listing — the reference the walk must equal.
    */
  private def listedParquet(dir: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    var n = 0
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  test("the listStatus walk counts exactly what a recursive listFiles counts") {
    val dir = freshDir("ixl_walk")
    litteredTable(dir)
    // Spark reads the littered table (its listing skips every extra),
    // so hasRows answers as before: data files exist and rows do
    assert(spark.read.parquet(dir).count() == 40L)
    assert(IndexLayout.hasRows(spark, dir))
    val withData = listedParquet(dir)
    assert(withData._1 == 2 * 3 + 4, withData) // 2 tasks x 3 keys + 4 littered
    assert(IndexLayout.dataFileCount(spark, dir) == withData._1)
    assert(IndexLayout.parquetBytes(spark, dir) == withData._2)
    // files Spark could not read count alike: non-parquet files, a
    // deeper partition level, parquet at the root
    Seq("k=0/notes.txt", "notes.txt", "k=1/sub=2/x.parquet").foreach { f =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/$f").getParent)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$f"),
        "x".getBytes)
    }
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/k=1/.part-00006.parquet"),
      java.nio.file.Paths.get(s"$dir/root.parquet"))
    val all = listedParquet(dir)
    assert(all._1 == withData._1 + 2, all)
    assert(IndexLayout.dataFileCount(spark, dir) == all._1)
    assert(IndexLayout.parquetBytes(spark, dir) == all._2)
    // a single file, an absent path
    val one = s"$dir/root.parquet"
    assert(IndexLayout.dataFileCount(spark, one) == 1)
    assert(IndexLayout.parquetBytes(spark, one) == listedParquet(one)._2)
    assert(IndexLayout.dataFileCount(spark, s"$dir/absent") == 0)
    assert(IndexLayout.parquetBytes(spark, s"$dir/absent") == 0L)
    assert(!IndexLayout.hasRows(spark, s"$dir/absent"))
    // no data file anywhere: _SUCCESS, .crc, empty and hidden dirs only
    val bare = freshDir("ixl_walk_bare")
    Seq(1L).toDF("id").write.parquet(bare)
    new java.io.File(bare).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    assert(new java.io.File(s"$bare/_temporary/0").mkdirs())
    assert(new java.io.File(s"$bare/k=1").mkdirs())
    assert(listedParquet(bare)._1 == 0)
    assert(IndexLayout.dataFileCount(spark, bare) == 0)
    assert(!IndexLayout.hasRows(spark, bare))
  }

  test("the walk never builds a LocatedFileStatus and lists only what it reaches") {
    val dir = freshDir("ixl_walk_fs")
    litteredTable(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    // a directly constructed instance, not the FileSystem cache: every
    // located listing throws, every plain one is counted
    var listings = 0
    val fs = new org.apache.hadoop.fs.LocalFileSystem {
      override def listFiles(f: org.apache.hadoop.fs.Path, recursive: Boolean) =
        throw new UnsupportedOperationException(s"listFiles $f")
      override def listLocatedStatus(f: org.apache.hadoop.fs.Path) =
        throw new UnsupportedOperationException(s"listLocatedStatus $f")
      override def listStatus(f: org.apache.hadoop.fs.Path) = {
        listings += 1
        super.listStatus(f)
      }
    }
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    try {
      val files = IndexLayout.walkFiles(fs, root)
        .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      val ref = listedParquet(dir)
      assert(files.size == ref._1)
      assert(files.map(_.getLen).sum == ref._2)
      // full-path string order, the order Spark's schema inference sorts by
      val names = files.map(_.getPath.toString)
      assert(names == names.sorted)
      // one listing per directory: the root, k=0/1/2/7, .hidden and
      // .hidden/empty, _hidden, the six under _temporary, deep/er/est
      assert(listings == 1 + 4 + 2 + 1 + 6 + 3, listings)
      // stopping at the first data file lists only the dirs on the way
      // there: the root, `.hidden` (which sorts first) and its `empty/`,
      // which sorts before its part file
      listings = 0
      assert(IndexLayout.walkFiles(fs, root)
        .exists(_.getPath.getName.endsWith(".parquet")))
      assert(listings == 3, listings)
    } finally fs.close()
  }

  test("readParquet resolves the schema on the driver: the inferred frame, no job") {
    val root = Scratch.dir("ixl_readpq")
    val base = s"$root/base"
    (0L until 30L).toDF("id").withColumn("v", col("id") * 2)
      .withColumn("shard", (col("id") % 4).cast("int"))
      .write.partitionBy("shard").parquet(base)
    val segs = (0 until 3).map { b =>
      val d = s"$root/segments/batch=$b/t"
      Seq((100L + b, 7L, b)).toDF("id", "v", "shard").write.parquet(d)
      d
    }
    val tomb = s"$root/tombstones"
    Seq(1L, 2L).toDF("id").write.parquet(tomb)
    Seq(3L).toDF("id").write.mode("append").parquet(tomb)
    // one dir, two schemas: inference takes the first file in path
    // order, and so must the driver
    val ragged = s"$root/ragged"
    Seq((1.0, 2.0)).toDF("n", "avgdl").write.parquet(ragged)
    Seq((1.0, 2.0, 3.0)).toDF("n", "avgdl", "sum_len")
      .write.mode("append").parquet(ragged)
    def same(df: org.apache.spark.sql.DataFrame, jobs: Int,
             ref: org.apache.spark.sql.DataFrame, paths: Seq[String]): Unit = {
      assert(jobs == 0, s"$jobs jobs to resolve $paths")
      assert(df.schema == ref.schema, paths)
      assert(df.collect().map(_.toSeq).toSet == ref.collect().map(_.toSeq).toSet)
    }
    def check(paths: Seq[String]): Unit = {
      val (df, jobs) = jobsDuring(IndexLayout.readParquet(spark, paths))
      same(df, jobs, spark.read.parquet(paths: _*), paths)
    }
    check(Seq(base))
    assert(IndexLayout.readParquet(spark, Seq(base)).columns.toSeq ==
      Seq("id", "v", "shard"), "partition discovery still appends the key")
    check(Seq(segs.head))
    // several segments are one live relation, the rows a recursive
    // file lookup over them reads
    val (segRead, segJobs) = jobsDuring(IndexLayout.readLive(spark, None, segs)._2)
    same(segRead, segJobs,
      spark.read.option("recursiveFileLookup", "true").parquet(segs: _*), segs)
    check(IndexLayout.tombstoneFiles(spark, tomb))
    check(Seq(ragged))
    // what the driver cannot resolve is Spark's own error, unchanged
    def sameError(path: String): Unit = {
      val got = intercept[org.apache.spark.sql.AnalysisException](
        IndexLayout.readParquet(spark, Seq(path)))
      val want = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(path))
      assert(got.getMessage == want.getMessage)
    }
    sameError(s"$root/absent")
    val bare = s"$root/bare"
    assert(new java.io.File(s"$bare/_temporary/0").mkdirs())
    assert(new java.io.File(s"$bare/_SUCCESS").createNewFile())
    sameError(bare)
  }

  test("a live read of a 64-shard base lists on the driver: no job, the discovered frame, hidden files skipped") {
    val root = Scratch.dir("ixl_live64")
    val base = s"$root/base"
    (0L until 640L).toDF("id").withColumn("v", col("id") * 3)
      .withColumn("shard", (col("id") % 64).cast("int"))
      .repartition(4, col("shard"))
      .write.partitionBy("shard").parquet(base)
    // what committers, checksums and crashed tasks leave in a table:
    // hidden files and dirs (one holding a real data file), an empty
    // shard dir and a shard dir with no data file
    val dataFile = new java.io.File(s"$base/shard=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    def touch(path: String): Unit = {
      new java.io.File(path).getParentFile.mkdirs()
      assert(new java.io.File(path).createNewFile() || new java.io.File(path).exists())
    }
    def plant(dir: String): Unit = {
      assert(new java.io.File(dir).mkdirs())
      java.nio.file.Files.copy(dataFile, java.nio.file.Paths.get(dir, "part-9.parquet"))
    }
    Seq(s"$base/_SUCCESS", s"$base/.hidden", s"$base/_committed_1",
      s"$base/shard=3/_SUCCESS", s"$base/shard=3/.part-1.parquet.crc",
      s"$base/shard=3/_part-2.parquet", s"$base/shard=71/_SUCCESS").foreach(touch)
    plant(s"$base/_temporary/0/task")
    plant(s"$base/shard=5/_temporary/0")
    plant(s"$base/shard=7/.staging")
    assert(new java.io.File(s"$base/shard=70").mkdirs())
    val (live, jobs) = jobsDuring(IndexLayout.readLive(spark, Some(base), Nil)._1)
    assert(jobs == 0, s"$jobs jobs to plan a 64-shard live read")
    val discovered = spark.read.parquet(base)
    assert(live.schema == discovered.schema)
    assert(live.schema.fieldNames.toSeq == Seq("id", "v", "shard") &&
      live.schema("shard").dataType == org.apache.spark.sql.types.IntegerType)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rowsOf(live) == rowsOf(discovered) && rowsOf(live).size == 640)
    // pruned in the listing: only the kept shard dirs are scanned
    val (pruned, prunedJobs) = jobsDuring(
      IndexLayout.readLive(spark, Some(base), Nil, Some(Seq(3, 5, 70)))._1)
    assert(prunedJobs == 0)
    assert(rowsOf(pruned) == rowsOf(discovered.filter(col("shard").isin(3, 5))))
    assert(scanRoots(pruned).map(_.map(_.split("/").last).toSet) ==
      Seq(Set("shard=3", "shard=5")))
  }

  test("live reads compile nothing new across lifecycle states once the richest state ran") {
    import graft.operators.{Bm25, DedupOps}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.DataFrame
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val segs = (0 until 3).map(b => docs.filter(col("doc_id") % 5 === 0 &&
      col("doc_id") % 3 === b))
    val removals = Seq(docs.filter(col("doc_id") % 7 === 1).select("doc_id"),
      docs.filter(col("doc_id") % 7 === 2).select("doc_id"))
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val probe = docs.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    final case class Layout(name: String, build: (DataFrame, String) => Unit,
                            segment: String => String, remove: (DataFrame, String) => Unit,
                            read: String => Unit)
    val layouts = Seq(
      Layout("bm25", (df, d) => Bm25.writeIndex(df, "doc_id", "text", d),
        d => s"$d/segments", (ids, d) => Bm25.removeFromIndex(ids, "doc_id", d),
        d => Bm25.topKIndexed(spark, d, "doc_id", queries, k = 10).collect()),
      Layout("dedup", (df, d) => DedupOps.writeDedupIndex(df, "doc_id", "text", 3, d),
        d => s"$d/segments", (ids, d) => DedupOps.removeFromDedupIndex(ids, "doc_id", d),
        d => DedupOps.dedupAgainstIndex(spark, d, probe, "doc_id", "text", 3, 0.5)
          .collect()))
    def state(l: Layout, nSegs: Int, nTombs: Int): String = {
      val d = s"${Scratch.dir(s"ixl_shape_${l.name}")}/index"
      l.build(base, d)
      (0 until nSegs).foreach(b => l.build(segs(b), s"${l.segment(d)}/batch=$b"))
      removals.take(nTombs).foreach(l.remove(_, d))
      d
    }
    layouts.foreach { l =>
      l.read(state(l, 3, 2)) // the richest state, warm
      val states = for (nSegs <- Seq(0, 1, 3); nTombs <- Seq(0, 2))
        yield (nSegs, nTombs, state(l, nSegs, nTombs))
      states.foreach { case (nSegs, nTombs, d) =>
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        l.read(d)
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
        assert(compiled == 0,
          s"${l.name}: $compiled compiles reading base + $nSegs segments, $nTombs tombstone batches")
      }
    }
  }

  test("kill before the flip: readers still answer from the old version") {
    val dir = freshDir("ixl_kill")
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    // compactor dies AFTER the new layout is complete, BEFORE the flip
    val n = IndexLayout.prepareVersion(spark, dir, Seq(9L).toDF("id"), None)
    assert(new java.io.File(s"$dir.v$n").exists())
    assert(rows(dir) == Set(1L, 2L), "reader must still see the old layout")
    // ...and the flip retargets atomically
    IndexLayout.flipVersion(spark, dir, n)
    assert(rows(dir) == Set(9L))
    // a re-run after a pre-flip crash garbage-collects the orphan: plant
    // one, swap again, and only the new current version remains
    val orphan = IndexLayout.prepareVersion(spark, dir, Seq(7L).toDF("id"), None)
    assert(rows(dir) == Set(9L))
    IndexLayout.writeSwap(spark, dir, Seq(8L).toDF("id"), None)
    assert(rows(dir) == Set(8L))
    assert(!new java.io.File(s"$dir.v$orphan").exists())
  }

  test("partitioned swaps keep partition pruning through the version indirection") {
    val dir = freshDir("ixl_part")
    Seq((1L, 0), (2L, 1), (3L, 0)).toDF("id", "shard")
      .write.partitionBy("shard").parquet(dir)
    IndexLayout.writeSwap(spark, dir,
      Seq((4L, 0), (5L, 1)).toDF("id", "shard"), Some("shard"))
    assert(IndexLayout.partitionedLayout(spark, dir, "shard"))
    val scan = spark.read.parquet(IndexLayout.resolve(spark, dir))
      .filter(col("shard") === 1)
    assert(scan.select("id").collect().map(_.getLong(0)).toSeq == Seq(5L))
    val plan = scan.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*shard".r.findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("clearVersions resets to the plain layout for fresh rebuilds") {
    val dir = freshDir("ixl_reset")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    assert(IndexLayout.currentVersion(spark, dir) == Some(1))
    IndexLayout.clearVersions(spark, dir)
    assert(IndexLayout.currentVersion(spark, dir).isEmpty)
    // the versioned marker is gone too — resolve is back to plain rules
    assert(!new java.io.File(s"$dir._VERSIONED").exists())
    // the fresh build's plain overwrite is now unshadowed (overwrite:
    // under N-1 retention the plain dir may survive a first swap, which
    // is why every fresh-build caller writes mode("overwrite"))
    Seq(3L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(rows(dir) == Set(3L))
    assert(!new java.io.File(s"$dir.v1").exists())
  }

  test("a corrupt manifest is loud, never a silent fallback to stale data") {
    val dir = freshDir("ixl_corrupt")
    Seq(1L).toDF("id").write.parquet(dir)
    val w = new java.io.PrintWriter(s"$dir._CURRENT", "UTF-8")
    try w.print("not-a-number") finally w.close()
    intercept[IllegalArgumentException] { IndexLayout.resolve(spark, dir) }
  }

  test("tombstone file snapshot: a removal landing mid-compaction survives and still filters") {
    val base = Scratch.dir("ixl_tomb")
    val tomb = s"$base/tombstones"
    IndexLayout.appendTombstones(Seq(1L).toDF("id"), "id", tomb)
    // the compactor snapshots the sidecar's live files...
    val snapshot = IndexLayout.liveTombstoneFiles(spark, tomb)
    assert(snapshot.nonEmpty)
    // ...then a removal lands while it folds
    IndexLayout.appendTombstones(Seq(2L).toDF("id"), "id", tomb)
    // the fold materializes EXACTLY the snapshot and retires exactly it
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val data = Seq(1L, 2L, 3L).toDF("id")
    val folded = ids(IndexLayout.dropIdsIn(data, "id", snapshot))
    assert(folded == Set(2L, 3L), "snapshot fold drops only id 1")
    IndexLayout.retireTombstoneFiles(spark, tomb, snapshot)
    // the late tombstone survives the retire and still filters reads of
    // the folded base
    assert(IndexLayout.liveTombstoneFiles(spark, tomb).size == 1)
    assert(ids(IndexLayout.dropTombstoned(folded.toSeq.toDF("id"), "id",
      tomb)) == Set(3L), "late tombstone (id 2) must keep filtering")
    // a sidecar whose files were all retired (the next fold deletes what
    // the previous one marked) reads as no tombstones even though the
    // directory remains
    IndexLayout.retireTombstoneFiles(spark, tomb,
      IndexLayout.liveTombstoneFiles(spark, tomb))
    IndexLayout.retireTombstoneFiles(spark, tomb, Nil)
    assert(new java.io.File(tomb).isDirectory)
    assert(IndexLayout.readTombstones(spark, tomb).isEmpty)
    assert(IndexLayout.dropTombstoned(data, "id", tomb)
      .count() == 3)
  }

  test("multi-layout reads probe O(1) version manifests regardless of segment count") {
    import graft.operators.Bm25
    // segments are never versioned (plain per-batch overwrites), so a
    // read that resolves a manifest PER SEGMENT is O(segments) driver FS
    // round-trips — object-store API calls — per query for nothing (the
    // round-7 q231 regression). Pin: growing the segment count must not
    // grow the manifest-probe count of a retrieval.
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "gamma epsilon zeta"), (4L, "alpha zeta"))
      .toDF("doc_id", "text")
    def probesWithSegments(nSegs: Int): Long = {
      val dir = s"${Scratch.dir("ixl_probes")}/ix"
      Bm25.writeIndex(docs, "doc_id", "text", dir)
      (0 until nSegs).foreach { b =>
        Bm25.writeIndex(docs.withColumn("doc_id", col("doc_id") + lit(100L * (b + 1))),
          "doc_id", "text", s"$dir/segments/batch=$b")
      }
      val before = IndexLayout.manifestProbes.get()
      Bm25.topKIndexed(spark, dir, "doc_id", Seq("q" -> "alpha gamma"), k = 3)
        .count()
      IndexLayout.manifestProbes.get() - before
    }
    val two = probesWithSegments(2)
    val six = probesWithSegments(6)
    assert(six == two,
      s"manifest probes grew with segment count: $two @2 segs vs $six @6 segs")
  }

  test("manifest-loss fallback never serves a crashed-prepare partial: highest COMMITTED version wins") {
    val dir = freshDir("ixl_partial")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(3L).toDF("id"), None)
    // a compactor killed mid-prepare leaves a PARTIAL v3: data files may
    // exist but the completion marker was never stamped
    Seq(99L).toDF("id").write.parquet(s"$dir.v3")
    assert(!new java.io.File(s"$dir.v3/${IndexLayout.CommittedMarker}").exists())
    // manifest lost: fallback must serve v2 (complete), never the partial
    assert(new java.io.File(s"$dir._CURRENT").delete())
    assert(rows(dir) == Set(3L),
      "fallback must skip the markerless partial and serve v2")
    val reader = spark.read.parquet(IndexLayout.resolve(spark, dir))
    // the next swap's GC must spare v2 (what readers resolved) and is
    // free to collect the partial orphan — never the other way round
    IndexLayout.writeSwap(spark, dir, Seq(4L).toDF("id"), None)
    assert(rows(dir) == Set(4L))
    assert(new java.io.File(s"$dir.v2").exists(),
      "reader-visible complete version spared")
    assert(!new java.io.File(s"$dir.v3").exists(), "partial orphan GC'd")
    assert(reader.select("id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("pinCurrent during manifest loss pins the version readers resolve, not the plain dir") {
    val dir = freshDir("ixl_pinloss")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(3L).toDF("id"), None)
    // manifest lost: readers fall back to v2; the pin taken at the same
    // moment must protect THAT snapshot (getOrElse(0) would pin the
    // nonexistent plain dir and GC would delete v2 under the held pin)
    assert(new java.io.File(s"$dir._CURRENT").delete())
    val token = IndexLayout.pinCurrent(spark, dir)
    val snapshot = IndexLayout.resolve(spark, dir)
    assert(snapshot.endsWith(".v2"))
    assert(IndexLayout.listPins(spark, dir).map(_._1) == Seq(2))
    IndexLayout.writeSwap(spark, dir, Seq(4L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(5L).toDF("id"), None)
    IndexLayout.writeSwap(spark, dir, Seq(6L).toDF("id"), None)
    assert(new java.io.File(snapshot).exists(),
      "pinned fallback version survives the storm")
    assert(spark.read.parquet(snapshot).select("id")
      .collect().map(_.getLong(0)).toSet == Set(3L))
    IndexLayout.unpin(spark, dir, token)
    IndexLayout.writeSwap(spark, dir, Seq(7L).toDF("id"), None)
    assert(!new java.io.File(snapshot).exists())
  }

  test("listPins reports (version, token, age) for leak triage; withPin pairs pin/scan/unpin and releases on failure") {
    val dir = freshDir("ixl_pinops")
    Seq(1L).toDF("id").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("id"), None)
    assert(IndexLayout.listPins(spark, dir).isEmpty)
    val t1 = IndexLayout.pinCurrent(spark, dir)
    val pins = IndexLayout.listPins(spark, dir)
    assert(pins.map(p => (p._1, p._2)) == Seq((1, t1)))
    assert(pins.head._3 >= 0L)
    // the operator recovery for a pin leaked by a crashed reader is
    // listPins (find it) + unpin (clear it)
    IndexLayout.unpin(spark, dir, t1)
    assert(IndexLayout.listPins(spark, dir).isEmpty)
    // withPin: body gets the CONCRETE pinned data dir, pin released after
    val got = IndexLayout.withPin(spark, dir) { pinned =>
      assert(pinned.endsWith(".v1"))
      assert(IndexLayout.listPins(spark, dir).map(_._1) == Seq(1))
      spark.read.parquet(pinned).count()
    }
    assert(got == 1L)
    assert(IndexLayout.listPins(spark, dir).isEmpty, "released on success")
    intercept[RuntimeException] {
      IndexLayout.withPin(spark, dir)(_ => throw new RuntimeException("scan died"))
    }
    assert(IndexLayout.listPins(spark, dir).isEmpty, "released on failure")
  }

  test("single-maintainer lease: second maintainer fails loudly naming the holder; release recovers; withLease releases on failure") {
    val base = Scratch.dir("ixl_lease")
    val path = s"$base/index"
    // build BEFORE taking the lease: rebuilds are themselves leased now
    import spark.implicits._
    graft.operators.Bm25.writeIndex(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", path)
    IndexLayout.acquireLease(spark, path, "compactor-A")
    val e = intercept[IllegalStateException] {
      IndexLayout.acquireLease(spark, path, "compactor-B")
    }
    assert(e.getMessage.contains("already held"))
    assert(e.getMessage.contains("compactor-A"))
    assert(IndexLayout.leaseHolder(spark, path).exists(_.contains("compactor-A")))
    // EVERY maintenance entry point refuses under the held lease — the
    // two-concurrent-maintainers interleave lands here, loudly, instead
    // of double-flipping versions and clearing each other's snapshots:
    // compaction, removal, APPEND (its stats swap carries tomb_dirs
    // forward, so an unleased append racing a removal's commit would
    // swap the removal's batch back OUT of the listed set — the
    // resurrection lost-update), and REBUILD (its clears would delete
    // _CURRENT/_VERSIONED out from under a running compactor, whose
    // flip then shadows the fresh build with a stale manifest)
    intercept[IllegalStateException] {
      graft.operators.Bm25.compactIndex(spark, path)
    }
    intercept[IllegalStateException] {
      graft.operators.Bm25.removeFromIndex(Seq(1L).toDF("doc_id"), "doc_id", path)
    }
    intercept[IllegalStateException] {
      graft.operators.Bm25.appendToIndex(
        Seq((2L, "gamma")).toDF("doc_id", "text"), "doc_id", "text", path)
    }
    intercept[IllegalStateException] {
      graft.operators.Bm25.writeIndex(
        Seq((3L, "delta")).toDF("doc_id", "text"), "doc_id", "text", path)
    }
    // crash recovery: operator verifies the holder is dead, releases
    IndexLayout.releaseLease(spark, path)
    assert(IndexLayout.leaseHolder(spark, path).isEmpty)
    graft.operators.Bm25.compactIndex(spark, path) // now succeeds
    // withLease must release on a thrown body — the index stays
    // maintainable after a failed (but not crashed) compaction
    intercept[RuntimeException] {
      IndexLayout.withLease(spark, path, "bad-op")(
        throw new RuntimeException("fold died"))
    }
    IndexLayout.withLease(spark, path, "ok-op")(())
    assert(IndexLayout.leaseHolder(spark, path).isEmpty)
  }

  test("clearSegmentDirs deletes exactly the snapshot, not the segment root") {
    val base = Scratch.dir("ixl_segs")
    Seq(1L).toDF("id").write.parquet(s"$base/segments/batch=0")
    Seq(2L).toDF("id").write.parquet(s"$base/segments/batch=1")
    val snapshot = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(base))
    assert(snapshot.size == 2)
    // a segment arrives after the snapshot was taken
    Seq(3L).toDF("id").write.parquet(s"$base/segments/batch=2")
    IndexLayout.clearSegmentDirs(spark, snapshot)
    val left = IndexLayout.segmentDirs(spark, IndexLayout.Paths.nested(base))
    assert(left.size == 1 && left.head.endsWith("batch=2"))
  }

  test("folded segments get N-1 retention: files survive one fold, the next fold retires them") {
    val base = Scratch.dir("ixl_ret")
    val paths = IndexLayout.Paths.nested(base)
    val segRoot = paths.segRoot
    Seq(1L).toDF("id").write.parquet(s"$segRoot/batch=0")
    Seq(2L).toDF("id").write.parquet(s"$segRoot/batch=1")
    val snap1 = IndexLayout.segmentDirs(spark, paths)
    assert(snap1.size == 2)
    // fold 1 RETIRES (marks) its snapshot instead of deleting it: a
    // reader that listed segments just before the fold keeps its files
    IndexLayout.retireSegmentDirs(spark, segRoot, snap1)
    // the pre-fold reader's files are still readable...
    assert(spark.read.parquet(snap1: _*).count() == 2)
    // ...but new listings skip them (their rows are in the folded base —
    // reading them again would double-count)
    assert(IndexLayout.segmentDirs(spark, paths).isEmpty)
    // a new segment lands; only IT is live
    Seq(3L).toDF("id").write.parquet(s"$segRoot/batch=2")
    val snap2 = IndexLayout.segmentDirs(spark, paths)
    assert(snap2.size == 1 && snap2.head.endsWith("batch=2"))
    // fold 2 deletes what fold 1 marked and marks its own snapshot
    IndexLayout.retireSegmentDirs(spark, segRoot, snap2)
    val fs = new org.apache.hadoop.fs.Path(segRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$segRoot/batch=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$segRoot/batch=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$segRoot/batch=2")))
    assert(IndexLayout.segmentDirs(spark, paths).isEmpty)
  }

  test("isSegmentPath anchors to the batch-dir tail") {
    assert(IndexLayout.isSegmentPath("/idx/segments/batch=3"))
    assert(IndexLayout.isSegmentPath("/idx/segments/batch=3/"))
    assert(IndexLayout.isSegmentPath("/lake/vec.segments/batch=12"))
    // a BASE index that merely lives under some other dataset's segment
    // tree must NOT be misclassified (it would skip clears and lease)
    assert(!IndexLayout.isSegmentPath("/lake/segments/batch=42/bm25"))
    assert(!IndexLayout.isSegmentPath("/idx/mysegments/batch=3"))
    assert(!IndexLayout.isSegmentPath("/idx/segments"))
  }

  test("upgrade stamps pre-marker version dirs, restoring the manifest-loss fallback") {
    val base = Scratch.dir("ixl_adopt")
    val dir = s"$base/t"
    Seq(1L).toDF("v").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("v"), None) // v1
    IndexLayout.writeSwap(spark, dir, Seq(3L).toDF("v"), None) // v2 current
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a version dir written before the completion marker
    // existed: strip v2's marker
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir.v2/${IndexLayout.CommittedMarker}"), false)
    // upgrade stamps ONLY the manifest-current version (known complete)
    IndexLayout.upgrade(spark, IndexLayout.Paths.nested(base, "t"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir.v2/${IndexLayout.CommittedMarker}")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base + "._LEASE")))
    // manifest loss after adoption: fallback serves v2, not the stale v1
    fs.delete(new org.apache.hadoop.fs.Path(dir + "._CURRENT"), false)
    assert(IndexLayout.resolve(spark, dir) == s"$dir.v2")
    assert(spark.read.parquet(IndexLayout.resolve(spark, dir))
      .head().getLong(0) == 3L)
  }

  test("manifest loss over only pre-marker version dirs is refused, naming upgrade") {
    val dir = s"${Scratch.dir("ixl_premarker")}/t"
    Seq(1L).toDF("v").write.parquet(dir)
    IndexLayout.writeSwap(spark, dir, Seq(2L).toDF("v"), None)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir.v1/${IndexLayout.CommittedMarker}"), false)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "._CURRENT"), false)
    val e = intercept[IllegalArgumentException](IndexLayout.resolve(spark, dir))
    assert(e.getMessage.contains("IndexLayout.upgrade"), e.getMessage)
  }

  test("all five layouts: default-argument segment writes are unpartitioned; live read equals a rebuild") {
    import graft.operators.{Bm25, BqIndex, DedupOps, IvfIndex, IvfPq, PortableAnn}
    import org.apache.spark.sql.DataFrame
    // One row per persisted layout: build a base and stream segments
    // through the PUBLIC writers with default arguments, then read the
    // live index (base + segments, through the one segment reader) and
    // compare it with a from-scratch build over the same rows. The
    // segment layout is fixed by the segment's path, so no default can
    // write a `<key>=` partition dir inside a segment.
    final case class Layout(
        name: String, corpus: DataFrame, idCol: String,
        paths: String => IndexLayout.Paths,
        build: (DataFrame, String) => Unit,
        segment: (DataFrame, String, Long) => Unit,
        live: String => Set[Seq[Any]],
        rebuilt: (DataFrame, String) => Set[Seq[Any]],
        remove: (DataFrame, String) => Unit,
        compact: String => Unit,
        maintain: (String, IndexLayout.MaintenanceThresholds) =>
          IndexLayout.MaintenanceOutcome)
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val embs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val qvs = embs.select(col("vec_id"),
      PortableAnn.quant(col("embedding")).as("qv"))
    val qvec = embs.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val textQs = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    val probe = docs.filter(col("doc_id") < 30)
      .select(col("doc_id") + 500000L as "doc_id", col("text"))
    val ivf = IvfIndex.train(embs, "vec_id", "embedding", k = 6, iters = 2)
    val pq = IvfPq.train(embs, "vec_id", "embedding", nlist = 6,
      coarseIters = 2, m = 8, k = 12, pqIters = 2)
    def collected(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    def fresh(tag: String): String =
      s"${Scratch.dir(tag)}/index"
    def rebuiltBy(build: (DataFrame, String) => Unit,
                  live: String => Set[Seq[Any]])(all: DataFrame,
                                                 streamed: String) = {
      val d = fresh("ixl_rebuild")
      build(all, d)
      live(d)
    }
    val bm25Build = (df: DataFrame, p: String) =>
      Bm25.writeIndex(df, "doc_id", "text", p)
    val bm25Live = (p: String) =>
      collected(Bm25.topKIndexed(spark, p, "doc_id", textQs, k = 10))
    val dedupBuild = (df: DataFrame, p: String) =>
      DedupOps.writeDedupIndex(df, "doc_id", "text", 3, p)
    val dedupLive = (p: String) => collected(
      DedupOps.dedupAgainstIndex(spark, p, probe, "doc_id", "text", 3, 0.5))
    val ivfBuild = (df: DataFrame, p: String) =>
      IvfIndex.writeIndex(df, "vec_id", "embedding", ivf, p)
    val ivfLive = (p: String) => collected(
      IvfIndex.searchPruned(spark, p, embs.filter(col("vec_id") < 5),
          "vec_id", "embedding", ivf, nprobe = 6, topK = 5)
        .select(col("query_id"), col("vec_id"), round(col("sim"), 9),
          col("rank")))
    val pqBuild = (df: DataFrame, p: String) =>
      IvfPq.writeIndex(df, "vec_id", "embedding", pq, p)
    val pqLive = (p: String) => collected(
      IvfPq.searchPruned(spark, p, qvec, "vec_id", "embedding", pq,
          nprobe = 6, shortlist = 40, topK = 5)
        .select(col("vec_id"), round(col("dist"), 9)))
    val bqLive = (p: String) => collected(BqIndex.readCodes(spark, p, "vec_id"))
    val nested = IndexLayout.Paths.nested(_: String)
    val sibling = IndexLayout.Paths.sibling(_: String)
    val layouts = Seq(
      Layout("bm25", docs, "doc_id", nested, bm25Build,
        (df, p, b) => Bm25.writeIndex(df, "doc_id", "text",
          s"$p/segments/batch=$b"),
        bm25Live, rebuiltBy(bm25Build, bm25Live),
        (ids, p) => Bm25.removeFromIndex(ids, "doc_id", p),
        p => Bm25.compactIndex(spark, p),
        (p, t) => Bm25.maintain(spark, p, "doc_id", t)),
      Layout("dedup", docs, "doc_id", nested, dedupBuild,
        (df, p, b) => DedupOps.writeDedupIndex(df, "doc_id", "text", 3,
          s"$p/segments/batch=$b"),
        dedupLive, rebuiltBy(dedupBuild, dedupLive),
        (ids, p) => DedupOps.removeFromDedupIndex(ids, "doc_id", p),
        p => DedupOps.compactDedupIndex(spark, p),
        (p, t) => DedupOps.maintain(spark, p, "doc_id", t)),
      Layout("ivf", embs, "vec_id", sibling, ivfBuild,
        (df, p, b) => IvfIndex.writeSegment(df, "vec_id", "embedding", ivf,
          p, b),
        ivfLive, rebuiltBy(ivfBuild, ivfLive),
        (ids, p) => IvfIndex.removeFromIndex(ids, "vec_id", p),
        p => IvfIndex.compactIndex(spark, p),
        (p, t) => IvfIndex.maintain(spark, p, "vec_id", "embedding", ivf,
          t)._1),
      Layout("ivfpq", embs, "vec_id", sibling, pqBuild,
        (df, p, b) => IvfPq.writeSegment(df, "vec_id", "embedding", pq,
          p, b),
        pqLive, rebuiltBy(pqBuild, pqLive),
        (ids, p) => IvfIndex.removeFromIndex(ids, "vec_id", p),
        p => IvfIndex.compactIndex(spark, p),
        (p, t) => IvfPq.maintain(spark, p, "vec_id", "embedding", pq, t)._1),
      // BQ's build trains its threshold model on the rows it is given;
      // the rebuild is every live vector encoded with the index's model
      Layout("bq", qvs, "vec_id", nested,
        (df, p) => { BqIndex.writeIndex(df, "vec_id", "qv", p); () },
        (df, p, b) => BqIndex.writeSegment(df, "vec_id", "qv", p, b),
        bqLive,
        (all, streamed) => collected(BqIndex.encode(all, "vec_id", "qv",
          BqIndex.readModel(spark, streamed))),
        (ids, p) => BqIndex.removeFromIndex(ids, "vec_id", p),
        p => BqIndex.compactIndex(spark, p),
        (p, t) => BqIndex.maintain(spark, p, qvs, "vec_id", "qv", t)))
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(d))
    // every (path, size) under the index's parent dir (the sibling
    // layouts keep segments and tombstones beside the index path)
    def files(dir: String): Set[(String, Long)] = {
      val root = java.nio.file.Paths.get(dir).getParent
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => (root.relativize(f).toString, java.nio.file.Files.size(f)))
          .toSet
      finally walk.close()
    }
    layouts.foreach { l =>
      val slice = (i: Int) => l.corpus.filter(col(l.idCol) % 4 === i)
      val dir = fresh(s"ixl_five_${l.name}")
      l.build(slice(0), dir)
      // batch 0 lands partially, batch 1 lands, then batch 0 is REPLAYED
      // in full over its own segment
      l.segment(slice(1).filter(col(l.idCol) % 8 === 1), dir, 0L)
      l.segment(slice(2), dir, 1L)
      l.segment(slice(1), dir, 0L)
      val segs = IndexLayout.segmentDirs(spark, l.paths(dir))
      assert(segs.size == 2, s"${l.name}: $segs")
      segs.foreach { seg =>
        val root = java.nio.file.Paths.get(new java.net.URI(seg))
        val walk = java.nio.file.Files.walk(root)
        val partitionDirs =
          try walk.iterator().asScala.filter(f => f != root &&
              java.nio.file.Files.isDirectory(f) &&
              f.getFileName.toString.contains("=")).toList
          finally walk.close()
        assert(partitionDirs.isEmpty,
          s"${l.name}: partition dirs inside segment $seg: $partitionDirs")
      }
      val all = slice(0).unionByName(slice(1)).unionByName(slice(2))
      assert(l.live(dir) === l.rebuilt(all, dir), l.name)

      // lifecycle state of every kind: a compaction version and _FOLDED
      // markers from a fold, then a live segment and live tombstones
      val p = l.paths(dir)
      val ids = (i: Int) => slice(i).select(l.idCol).limit(3)
      l.remove(ids(1), dir)
      l.compact(dir)
      l.segment(slice(3), dir, 2L)
      l.remove(ids(2), dir)
      val before = files(dir)
      assert(before.exists(_._1.endsWith("._CURRENT")), l.name)
      assert(before.exists(_._1.endsWith("._FOLDED")), l.name)
      assert(IndexLayout.segmentDirs(spark, p).size == 1, l.name)
      assert(exists(p.tombDir), l.name)

      // a held lease: maintain reports the skip, touches nothing and
      // runs no Spark job (no drift audit, no stats read)
      IndexLayout.acquireLease(spark, p.root, "spec-holder")
      try {
        val held = files(dir)
        val (out, jobs) = jobsDuring(l.maintain(dir,
          IndexLayout.MaintenanceThresholds(maxLiveSegments = 1)))
        assert(out.skippedOnLease, s"${l.name}: $out")
        assert(jobs == 0, s"${l.name}: $jobs Spark jobs under a held lease")
        assert(files(dir) === held, l.name)
      } finally IndexLayout.releaseLease(spark, p.root)

      // a rebuild clears every piece of it
      l.build(slice(0), dir)
      val after = files(dir).map(_._1)
      assert(!exists(p.segRoot), l.name)
      assert(!exists(p.tombDir), l.name)
      assert(!after.exists(f => f.endsWith("._CURRENT") ||
        f.endsWith("._VERSIONED") || f.endsWith("._FOLDED")),
        s"${l.name}: $after")
    }
  }
}
