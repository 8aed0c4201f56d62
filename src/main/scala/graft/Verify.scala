package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args = subset of query names (dev loop, like
    // Bench); the driver passes exactly two args and gets everything.
    // Unknown names fail before the session starts: filterKeys alone
    // dropped them and wrote an empty oracle_sql.json that read as clean
    val unknown = args.drop(2).toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"[verify] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected =
      if (args.length <= 2) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.drop(2).toSet).toMap
    val spark = Session()
    // cluster-shape overrides for the config-invariance sweep: a 100 TB
    // deployment runs AQE with shuffle.partitions=200 (the Spark
    // default), not the local thread count — results must be identical
    // under both shapes (BASELINE.md records the 427/427 sweep)
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    sys.env.get("SPARK_GRAFT_AQE").filter(_.nonEmpty)
      .foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // stdout AND an artifact: round 5's stderr-only logging let 18
        // crashed queries vanish from the correctness record entirely
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        println(s"[verify] FAILED $name: $msg")
        failures(name) = msg
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    spark.stop()
  }
}
