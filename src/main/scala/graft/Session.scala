package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main or spec starts Spark, so every entry point
  * runs the same configuration:
  *
  *   - `local[n]` with n = `SPARK_GRAFT_CPUS`, else every core the JVM
  *     sees, and n shuffle partitions;
  *   - UTC session time zone (after the NTZ→Timestamp cast in
  *     `Tables.events`, a non-UTC wall clock would plan and answer
  *     differently from the DuckDB oracle), Spark UI off;
  *   - the RocksDB state store, which `transformWithState` requires;
  *   - log level WARN, with [[Quiet]] silencing WindowExec's per-task
  *     warning so JSON result lines stay in a bounded stdout tail.
  *
  * A setting one caller really needs differently is set on the returned
  * session with `spark.conf.set` at that call site.
  */
object Session {
  def apply(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Quiet.install() // after setLogLevel, which resets the root config
    spark
  }
}
