package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's only SparkSession builders.
  *
  * `batch` copies `graft.Bench`'s settings (local slots, shuffle partitions
  * equal to the slots, UTC session time zone, UI off); `streaming` adds
  * `graft.StreamBench`'s RocksDB state store provider. Every scratch path
  * Spark writes (warehouse, local dirs, checkpoints) sits under `workDir`.
  */
object Sessions {
  private def builder(slots: Int, workDir: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")

  def batch(slots: Int, workDir: String): SparkSession =
    quiet(builder(slots, workDir).getOrCreate())

  def streaming(slots: Int, workDir: String): SparkSession =
    quiet(builder(slots, workDir)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate())

  private def quiet(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.install()
    spark
  }
}
