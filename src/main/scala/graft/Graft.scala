package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference deploys Apache Pinot 1.2.0 behind a broker endpoint
  * (`/root/reference/lib/apache-pinot-solution-stack.ts:722,726`); our engine's
  * "broker" is a configured SparkSession. Catalyst plays the broker's
  * plan/scatter/gather role (partial agg -> shuffle -> final agg, see
  * SURVEY.md §3.2); these configs make that efficient at both local test
  * scale and cluster scale:
  *
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces Pinot's broker-side segment pruning heuristics at 100 TB.
  *  - shuffle.partitions=32 for local[32]; on a real cluster this would be
  *    ~2-3x total executor cores (AQE coalesces down, so erring high is safe).
  *  - UTC session timezone: determinism for the DuckDB oracle and for any
  *    cross-timezone cluster.
  *  - GraftExtensions: the graft functions and rules, including
  *    plans.HoistLiterals, so repeated query shapes reuse compiled code.
  */
object Graft {
  def session(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
