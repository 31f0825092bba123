package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators.{Curation, Dedup, Etl, Multimodal, Relational, Similarity, TextAnalysis}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3ShippingPriority(spark, "/root/testdata/sf0.001")

  /** The local session the mains (Bench, Verify, Cli, Probe) share:
    * `local[cpus]` with one shuffle partition per core, UTC, UI off.
    * `SPARK_GRAFT_CPUS` sets the core count (default 4); A/B runs
    * should pass the host's `nproc`. Returned unbuilt so a main can add
    * its own static confs before `getOrCreate`. */
  private[graft] def localSession(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Etl.queries ++ TextAnalysis.queries ++
      Dedup.queries ++ Similarity.queries ++ Multimodal.queries ++
      Streams.queries ++ Curation.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ Etl.oracleSql ++ TextAnalysis.oracleSql ++
      Dedup.oracleSql ++ Similarity.oracleSql ++ Multimodal.oracleSql ++
      Streams.oracleSql ++ Curation.oracleSql
}
