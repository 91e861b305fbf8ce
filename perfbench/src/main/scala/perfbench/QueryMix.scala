package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._

/** query_mix: registry queries (relational, window and pipeline groups)
  * run back to back, in a seeded order per pass. Each op is one query:
  * `QDef.run` builds the DataFrame on the driver (layer `queries`), then
  * `collect()` plans, compiles and executes it (layers `catalyst`,
  * `codegen`, `exec`). Per-query caches are cleared between queries, as
  * the registry's own bench does.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx._

  private val names = (plan \ "queries").extract[List[String]]
  private val passes = (plan \ "passes").extract[List[List[String]]]
  private val defs = {
    val byName = graft.QueryRegistry.all.map(q => q.name -> q).toMap
    names.map(n => n -> byName.getOrElse(n, sys.error(s"query $n is not registered"))).toMap
  }
  /** per query: the sorted-row hash of every run, the cold one first */
  private val hashes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Int]]

  private def runOne(name: String): (DataFrame, Array[Row]) = {
    val df = rec.span("queries", name)(defs(name).run(spark, inputs))
    (df, rec.span("exec", "collect")(df.collect()))
  }

  private def rowHash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(Main.rowStrings(rows.toSeq).sorted)

  def setup(rep: Int): Unit = {
    // a set-up registers the tables afresh (footer reads, schema
    // inference) and runs one pass; the first pass is the cold one
    graft.Tables.invalidate()
    spark.catalog.clearCache()
    names.foreach { n =>
      val (df, rows) = runOne(n)
      hashes(n) = hashes.getOrElse(n, Vector.empty) :+ rowHash(rows)
      // the cold pass's rows go to the DuckDB oracle, which run.py checks
      // after the JVM has exited; every later run must hash the same
      if (rep == 1)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .write.parquet(s"$out/oracle/$n")
      spark.catalog.clearCache()
    }
    if (rep == 1) {
      val sql = names.flatMap(n => defs(n).oracle.map(n -> _)).toMap
      val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
      try w.write(org.json4s.jackson.Serialization.write(sql)) finally w.close()
    }
  }

  /** Whole passes until the deadline, and at least two, so every query is
    * timed equally often whatever the seeded order, and at two places in
    * the order: a query early in a pass runs up to 1.5x slower than late
    * in one (the JIT is still warming), which one pass per run turned into
    * a 0.19 ten-seed spread of the latency.
    */
  def run(deadlineNs: Long): Unit = {
    val it = Iterator.continually(passes).flatten
    var done = 0
    while (done < 2 || System.nanoTime() < deadlineNs) {
      it.next().foreach { n =>
        var rows: Array[Row] = null
        if (rec.op("query", n) { rows = runOne(n)._2 }.error.isEmpty)
          hashes(n) = hashes(n) :+ rowHash(rows)
        spark.catalog.clearCache()
      }
      done += 1
    }
  }

  /** every run of a query returns the rows of its cold run, the one the
    * oracle checks
    */
  def checks(): Seq[Check] = hashes.toSeq.map { case (n, hs) =>
    Check(s"stable:$n", hs.distinct.map(_.toString), Seq(hs.head.toString))
  }
}
