package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in `graft.queries.*` as `QDef`s (Spark impl + DuckDB
  * oracle side by side); this object only flattens them into the maps the
  * driver consumes.
  */
object SparkEntry {

  /** Worker threads for a local entry point: `SPARK_GRAFT_CPUS` when it
    * parses to a positive Int, else 4. Validated in this one place: Bench
    * interpolates the value unquoted into its detail JSON, so a
    * non-numeric string would emit malformed JSON.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    .filter(_ > 0).getOrElse(4)

  /** The one session builder, shared by every entry point and the test
    * suites: `local[cpus]` with one shuffle partition per thread, UTC
    * session time, nanosecond Parquet timestamps read as longs (the
    * events table's encoding varies; [[Tables]] normalizes it), no UI,
    * WARN logging.
    */
  def localSession(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.collect { case QDef(n, _, Some(sql)) => n -> sql }.toMap
}
