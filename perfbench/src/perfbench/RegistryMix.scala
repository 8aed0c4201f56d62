package perfbench

import org.apache.spark.sql.DataFrame

/** Batch workload: a fixed mix of registry queries, one at a time, over
  * the seeded tables in `tablesDir`. Each query is timed in two parts:
  * plan construction (`Query.run`, which includes its eager
  * `localCheckpoint` jobs) and execution (the returned plan written to the
  * no-op sink).
  *
  * An untimed warm-up pass runs the mix once. After the timed pass, the
  * DataFrames the timed `Query.run` calls returned are written to parquet
  * under `dumpDir` (untimed) together with `oracle_sql.json`;
  * `perfbench/run.py` checks those dumps against DuckDB after the run, so
  * the verified rows are the ones the timed pass produced. */
object RegistryMix {
  /** Query families: each stresses plan construction, execution, or both.
    * Nine queries, so the median is one query's time; q89 costs between
    * the cheap health/exec queries and the build-heavy graph/build ones,
    * so a stall on a neighbour moves the median only a little. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q176_label_propagation", "q384_eigenvector_centrality"),
    "build" -> Seq("q164_dedup_split", "q435_prefix_filter_join"),
    "health" -> Seq("q22_anomaly_flags", "q26_ml_detect_udaf"),
    "exec" -> Seq("q37_embedding_neardup", "q401_knn_label_audit", "q89_curation_pipeline"))

  val Queries: Seq[(String, String)] =
    for ((family, qs) <- Families; q <- qs) yield (q, family)
}

final class RegistryMix(ctx: Ctx, tablesDir: String, dumpDir: String) extends Workload {
  import RegistryMix._

  private val registry = graft.Registry.all.map(q => q.name -> q).toMap
  /** Queries that failed in the warm-up pass: name -> message. */
  private val warmFailures = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def build(name: String): DataFrame = registry(name).run(ctx.spark, tablesDir)

  /** The tables are generated before the JVM starts. */
  def generate(): Unit = ()

  /** One untimed pass over the mix, run like the timed one. */
  def warmUp(): Unit =
    Queries.foreach { case (name, _) =>
      try build(name).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => warmFailures(name) = s"query $name: ${Main.describe(e)}" }
    }

  /** Writes each timed result and the oracle SQL for the check in run.py. */
  private def dump(frames: collection.Map[String, DataFrame],
      failed: collection.mutable.Map[String, String]): Unit = {
    frames.foreach { case (name, df) =>
      try df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
      catch { case e: Throwable => failed(name) = s"query $name: dump: ${Main.describe(e)}" }
    }
    val oracle = Queries.flatMap { case (name, _) => registry(name).oracle.map(name -> _) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dumpDir, "oracle_sql.json"),
      Json.obj(oracle))
  }

  def measure(): Outcome = {
    val t = ctx.tracer
    val failed = warmFailures.clone()
    // per query: (build s, exec s) and the DataFrame the timed build returned
    val times = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val timedFrames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    Queries.foreach { case (name, family) =>
      if (!failed.contains(name)) {
        val attrs = Map("query" -> name, "family" -> family)
        try {
          val s0 = System.nanoTime()
          val df = t.span("registry.build", attrs, layer = "registry.build")(build(name))
          val s1 = System.nanoTime()
          t.span("registry.exec", attrs, layer = "registry.exec") {
            df.write.format("noop").mode("overwrite").save()
          }
          val s2 = System.nanoTime()
          times(name) = ((s1 - s0) / 1e9, (s2 - s1) / 1e9)
          timedFrames(name) = df
        } catch { case e: Throwable => failed(name) = s"query $name: ${Main.describe(e)}" }
      }
    }
    org.apache.spark.PerfbenchShim.drainListeners(ctx.spark.sparkContext)
    dump(timedFrames, failed)

    val ok = Queries.filterNot(q => failed.contains(q._1))
    val perQuery = ok.map { case (name, _) => times(name)._1 + times(name)._2 }
    val total = perQuery.sum
    val buildS = ok.map { case (n, _) => times(n)._1 }.sum
    val execS = ok.map { case (n, _) => times(n)._2 }.sum
    val families = Families.flatMap { case (f, _) =>
      val qs = ok.filter(_._2 == f).map(_._1)
      Seq(s"registry.$f.build_s" -> qs.map(times(_)._1).sum,
        s"registry.$f.exec_s" -> qs.map(times(_)._2).sum)
    }
    val b = t.countsFor("registry.build")
    val x = t.countsFor("registry.exec")
    val layer = if (!t.enabled) Nil else Seq(
      "registry.build_s" -> buildS,
      "registry.build_jobs" -> b.jobs.toDouble,
      "registry.exec_s" -> execS,
      "registry.exec_jobs" -> x.jobs.toDouble,
      "registry.tasks" -> (b.tasks + x.tasks).toDouble,
      "registry.task_run_s" -> (b.taskRunMs + x.taskRunMs) / 1000.0,
      "registry.task_wait_s" -> (b.taskWaitMs + x.taskWaitMs) / 1000.0,
      "registry.busy_share" -> x.taskRunMs / 1000.0 / (ctx.slots * execS),
      "registry.shuffle_write_bytes" -> (b.shuffleWriteBytes + x.shuffleWriteBytes).toDouble,
      "registry.shuffle_read_bytes" -> (b.shuffleReadBytes + x.shuffleReadBytes).toDouble,
      "registry.spill_bytes" -> (b.spillBytes + x.spillBytes).toDouble,
      "registry.scan_bytes" -> (b.scanBytes + x.scanBytes).toDouble,
      "registry.peak_exec_mem_bytes" -> math.max(b.peakExecMemBytes, x.peakExecMemBytes).toDouble
    ) ++ families
    Outcome(
      attempted = Queries.size,
      failures = failed.values.toSeq,
      e2e = Seq(
        "latency_p50_ms" -> Stats.percentile(perQuery, 50) * 1000,
        "latency_tail_ms" -> Stats.percentile(perQuery, 75) * 1000,
        "work_s" -> total),
      named = Seq(
        ("registry_total_s", total, "s"),
        ("registry_query_p50_s", Stats.percentile(perQuery, 50), "s"),
        ("registry_query_p75_s", Stats.percentile(perQuery, 75), "s"),
        ("registry_queries_timed", perQuery.size.toDouble, "count"),
        ("registry_build_s", buildS, "s"),
        ("registry_exec_s", execS, "s")),
      layer = layer,
      info = Seq("check_queries" -> ok.map(_._1)) ++
        ok.map { case (n, _) => s"q.$n" -> Map("build_s" -> times(n)._1, "exec_s" -> times(n)._2) })
  }
}
