package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by module (graft.queries.*); each module pairs
  * Spark DataFrame programs with DuckDB oracle SQL over the same tables.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    CoreQueries,
    EventQueries,
    TextQueries,
    VectorQueries,
    ExtendedQueries,
    PipelineQueries,
    CorpusQueries,
    CurationQueries,
    SignalQueries,
    SelectionQueries,
    AnalyticsQueries,
    ScaleQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** The queries `envVar` names (comma-separated, e.g.
    * `SPARK_GRAFT_BENCH_ONLY=q44_minhash_fast,q24_minhash_lsh`), or every
    * query when it is unset. A name that is no query fails loudly.
    */
  def selectedBy(envVar: String, env: collection.Map[String, String] = sys.env)
      : Map[String, (SparkSession, String) => DataFrame] =
    env.get(envVar) match {
      case None => queries
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- queries.keySet
        require(unknown.isEmpty,
          s"$envVar names no such query: ${unknown.mkString(", ")}")
        queries.filter(kv => names(kv._1))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
