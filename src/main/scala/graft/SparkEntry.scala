package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticQueries, CurationQueries, EmbeddingQueries, MediaQueries, NearQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes `(spark, sfDir)` and reads only the driver's parquet
  * testdata; `oracleSql` holds the DuckDB-runnable twin for the correctness
  * gate (column names are aligned on both sides — the driver hashes values
  * under sorted column names).
  */
object SparkEntry {

  /** Session confs every query path depends on — runtime SQLConfs, so setting
    * them here also covers driver-created sessions:
    *   - `nanosAsLong`: if the harness ships `events.ts` as parquet
    *     TIMESTAMP(NANOS) again (it did through round 7), Spark only reads it
    *     (as an epoch-ns long) with this legacy conf; the schema-adaptive
    *     [[graft.sources.Events]] accessor handles either encoding;
    *   - UTC session timezone: the NTZ→timestamp cast in `Events.tsMicros`
    *     reinterprets wall-clock fields in the session zone, and DuckDB's
    *     `epoch_ns(ts)` oracle treats naive timestamps as UTC — any other
    *     zone silently shifts every derived event time.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** The one place a session is made — every graft main and the test
    * suites call it: `local[cpus]` with one shuffle partition per core, UI
    * off, WARN logging, then [[configure]]. `cpus` defaults to `SPARK_GRAFT_CPUS` when
    * set, else the cores the JVM sees.
    */
  def session(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
                .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's full dataflow (dedup → ±2 s joins → filter → double-entry
    * fan-out) over the synthetic CDC feed.
    */
  def entry(spark: SparkSession): DataFrame =
    NearQueries.transfers(configure(spark), "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (NearQueries.queries ++ AnalyticQueries.queries ++ TextQueries.queries ++
      EmbeddingQueries.queries ++ MediaQueries.queries ++ CurationQueries.queries).map {
      case (k, f) => k -> ((s: SparkSession, dir: String) => f(configure(s), dir))
    }

  /** The registered names a query-name filter selects: every name, sorted,
    * for an empty filter, else the filter's names in its order. An unknown
    * name fails loudly — a typo'd filter must not time or dump nothing and
    * let a downstream gate pass vacuously.
    */
  def select(filter: Seq[String]): Seq[String] = {
    val registered = queries.keySet
    val unknown = filter.filterNot(registered)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (filter.isEmpty) registered.toSeq.sorted else filter.distinct
  }

  /** Run one registered query to completion through the `noop` sink — a bare
    * `.count()` would let Catalyst prune projection-only queries down to a
    * parquet metadata scan and time nothing.
    */
  def materialize(spark: SparkSession, name: String, sfDir: String): Unit =
    queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    NearQueries.oracleSql ++ AnalyticQueries.oracleSql ++ TextQueries.oracleSql ++
      EmbeddingQueries.oracleSql ++ MediaQueries.oracleSql ++ CurationQueries.oracleSql
}
