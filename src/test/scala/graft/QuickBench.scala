package graft

/** Dev-loop micro-bench (test tree only; the driver artifact stays
  * `graft.Bench`): runs each named query N times in one JVM and prints
  * min/median — min-of-N in a warm JVM is far more stable than the
  * 2-pass protocol when A/B-ing a single query's re-plan. */
object QuickBench {
  def main(args: Array[String]): Unit = {
    val reps = sys.env.getOrElse("QB_REPS", "6").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      sys.env.getOrElse("QB_PARALLELISM_FIRST", "true"))
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(",")}")
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = ts.sorted
      println(f"[qb] $name%-30s min=${sorted.head}%6.3f med=${sorted(reps / 2)}%6.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
