package graft
import org.apache.spark.sql.SparkSession

/** Driver benchmark main. Prints ONE self-contained JSON line per
  * completed pass (the driver keeps a bounded stdout tail and parses the
  * LAST JSON line, so every printed line must stand alone), and writes the
  * full per-query map to a file.
  *
  * Wall-budget protocol (round 8): round 7's artifact was killed at the
  * driver's timeout (rc=124) because 439 queries × (warmup + 2 timed
  * passes) + 2 forked streaming runs no longer fit. The ladder now is:
  *
  *   pass 1  — timed, cold (doubles as the warmup; always runs)
  *   pass 2  — timed, warm, INTERRUPTIBLE: re-times queries one at a
  *             time while budget (minus the streaming reserve and a
  *             30 s margin) remains; a re-timed query reports
  *             min(cold, warm), the rest keep pass 1. `"pass2_n"`
  *             records how many were re-timed.
  *   stream  — two forked fresh-JVM StreamBench runs; skipped if the
  *             remaining budget is under the reserve.
  *
  * `SPARK_GRAFT_BENCH_BUDGET_S` (default 1500) bounds this main's own
  * wall clock; the artifact records which rungs ran (`"passes"`,
  * `stream_eps = -1` when skipped) so rounds stay comparable. min-of-2
  * after an effective warmup matches the r6/r7 protocol closely enough
  * for round-over-round deltas: pass 2 runs with JIT + codegen + parquet
  * footer caches hot, exactly like r6's timed passes.
  */
object Bench {
  /** Streaming-fork reserve: two fresh JVMs × (startup + warmup + timed
    * 300k-event run) measured ≈ 90 s each on this machine; 240 s keeps
    * slack for a loaded box. */
  private val StreamReserveS = 240.0

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9
    // default calibrated against the driver's observed wall ceiling:
    // round 6's full run succeeded at 1633 s of sbt wall, round 7's was
    // killed at what would have been ≈1890 s — so the ceiling sits in
    // (1633, 1890]. 1500 s for this main + ~100 s sbt/JVM start stays
    // under it, and the pass-2 gate degrades gracefully when a loaded
    // machine makes pass 1 slow
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    def remainingS: Double = budgetS - elapsedS
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the same session config as Verify, so Bench times the plans Verify checks
    val spark = Session()
    // run the FULL plan (sorts, projections and all) into the no-op
    // sink — a count() would let the optimizer strip the final orderBy
    // and prune columns, timing a cheaper plan than Verify executes.
    // failures must be LOUD: name + exception per query, and a "failed"
    // list in the artifact — round 5 shipped 18 crashed queries as silent
    // -1.0 sentinels that made the total LOOK smaller than round 4's
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        println(s"[bench] FAILED $name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        false
      }
    // optional args = subset of query names (dev loop); driver passes none.
    // Unknown names must be LOUD: filterKeys silently dropped typos (a
    // 5-sentinel subset request quietly ran n=4 with nfail=0)
    val fullRegistry = args.isEmpty
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"[bench] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected =
      if (fullRegistry) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val s0 = System.nanoTime()
      if (run(name, fn)) (System.nanoTime() - s0) / 1e9 else -1.0
    }

    def s3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // emit artifact + stdout lines for the results so far; called after
    // EVERY completed rung so a later timeout kill still leaves a
    // complete, parseable line as the last JSON in the driver's tail
    def emit(results: Map[String, Double], passes: Int, eps: Long,
        epsRuns: Seq[Long], pass2n: Int = 0): Unit = {
      val qs = results.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + s3(v) }
        .mkString("{", ",", "}")
      // total sums RUNNING queries only — a -1.0 sentinel must never make
      // the suite look faster; failed queries are named separately
      val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
      val total = results.values.filter(_ >= 0).sum
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val runsJson = epsRuns.mkString("[", ",", "]")
      val detailed =
        s"""{"metric":"total","value":${s3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","passes":$passes,"pass2_n":$pass2n,"stream_eps":$eps,"stream_eps_runs":$runsJson}"""
      val qfile = writeQueryMap(detailed, fullRegistry, sfDir, results.size)
      // detailed per-query line first (for humans / full logs) ...
      println(detailed)
      // ... then a SHORT final line: the driver keeps only a bounded tail
      // of stdout — the LAST line must be self-contained and small so
      // json.loads always sees one complete object at the end of the tail.
      // `qfile` is the file writeQueryMap ACTUALLY wrote (round 8 hardcoded
      // the canonical name even when the write was diverted to the partial
      // file, pointing readers at a stale map)
      println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","n":${results.size},"nfail":${failed.size},"sf":"$sfDir","passes":$passes,"pass2_n":$pass2n,"stream_eps":$eps,"stream_eps_runs":$runsJson,"wall":${s3(elapsedS)},"qfile":"$qfile"}""")
    }

    // pass 1: timed, cold — the first run also JITs + fills codegen and
    // parquet-footer caches, so it reads high; pass 2 is the warm number
    val pass1 = selected.map { case (name, fn) => name -> timeOnce(name, fn) }
    val pass1Wall = elapsedS
    emit(pass1, passes = 1, eps = -1L, epsRuns = Nil)
    // pass 2 is INTERRUPTIBLE: re-time queries one at a time while the
    // remaining budget (after the streaming reserve, with a 30 s margin)
    // allows — a query re-timed warm gets min(cold, warm), the rest keep
    // their cold pass-1 number. An all-or-nothing gate wasted the round-8
    // measurement: pass 1 took 717 s of a 1500 s budget, leaving 540 s
    // that could warm-retime ~80% of the suite but not 100% — so retime
    // as much as fits instead of nothing. `"pass2_n"` records coverage.
    val streamReserve = if (fullRegistry) StreamReserveS else 0.0
    var pass2n = 0
    val results = {
      val merged = scala.collection.mutable.Map[String, Double](pass1.toSeq: _*)
      val it = selected.iterator
      var go = true
      while (go && it.hasNext) {
        if (remainingS - streamReserve < 30.0) {
          println(s"[bench] pass 2 stopped after $pass2n/${selected.size} queries: ${s3(remainingS)}s left of ${s3(budgetS)}s budget")
          go = false
        } else {
          val (name, fn) = it.next()
          val warm = timeOnce(name, fn)
          val cold = pass1(name)
          merged(name) = if (cold < 0 || warm < 0) -1.0 else math.min(cold, warm)
          pass2n += 1
        }
      }
      merged.toMap
    }
    if (pass2n > 0) emit(results, passes = 2, eps = -1L, epsRuns = Nil,
      pass2n = pass2n)
    spark.stop()
    // streaming throughput under a PINNED protocol (full driver runs
    // only): two FRESH forked JVMs each driving graft.StreamBench at
    // 100 patients x 600 sim-seconds (fixed work, in-JVM warmup inside
    // the fork), report max + both raw runs — the pair makes run-to-run
    // spread visible instead of folding it into one number.
    val epsRuns =
      if (fullRegistry && remainingS > streamReserve) Seq(streamEpsOnce(), streamEpsOnce())
      else { if (fullRegistry) println(s"[bench] skipping streaming forks: ${s3(remainingS)}s left"); Nil }
    val eps = if (epsRuns.nonEmpty) epsRuns.max else -1L
    emit(results, passes = if (pass2n > 0) 2 else 1, eps = eps,
      epsRuns = epsRuns, pass2n = pass2n)
  }

  /** Full-registry sf0.1 runs own `BENCH_QUERIES.json`; anything else
    * (subset args, alternate SF) goes to `BENCH_QUERIES_partial.json`.
    * Belt and braces: even a "full" run refuses to shrink an existing
    * map — round 7 clobbered the committed 436-query map with a 1-query
    * sf10 run TWICE (cdef9c6 repaired, 86b9336 reintroduced). */
  private[graft] def writeQueryMap(detailed: String, fullRegistry: Boolean,
      sfDir: String, n: Int,
      baseDir: java.nio.file.Path = java.nio.file.Paths.get(".")): String = {
    val canonical = fullRegistry && sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val target = baseDir.resolve("BENCH_QUERIES.json")
    // count the keys INSIDE the "queries" object only — the round-8 regex
    // ("q[^"]*":) also matched the "queries": key itself, so a steady-state
    // full run (same registry size) read existingN = n + 1 and every
    // canonical refresh was silently diverted to the partial file
    val existingN =
      if (java.nio.file.Files.exists(target)) {
        val s = java.nio.file.Files.readString(target)
        val open = s.indexOf("\"queries\":{")
        if (open < 0) 0
        else {
          val start = open + "\"queries\":{".length
          val close = s.indexOf('}', start) // flat object: values are numbers
          val body = if (close < 0) "" else s.substring(start, close)
          "\"[^\"]+\":".r.findAllIn(body).size
        }
      } else 0
    val path =
      if (canonical && n >= existingN) target
      else {
        if (canonical)
          println(s"[bench] refusing to shrink BENCH_QUERIES.json ($existingN queries) to $n; writing partial file")
        baseDir.resolve("BENCH_QUERIES_partial.json")
      }
    java.nio.file.Files.write(path, (detailed + "\n").getBytes("UTF-8"))
    path.getFileName.toString
  }

  /** Fork `graft.StreamBench 100 600` in a fresh JVM (inheriting this
    * JVM's module flags and classpath); return the run's events/s.
    * Fresh-JVM fixed-work with in-fork warmup is the pinned protocol. */
  private def streamEpsOnce(): Long = {
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"),
        "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.StreamBench", "100", "600")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val lines = scala.io.Source.fromInputStream(p.getInputStream)
        .getLines().toVector
      p.waitFor()
      lines.reverseIterator
        .find(_.contains("\"stream_events_per_sec\""))
        .flatMap(l => """"value":([0-9.eE+]+)""".r.findFirstMatchIn(l))
        .map(_.group(1).toDouble).getOrElse(-1.0).round
    } catch { case _: Throwable => -1L }
  }
}
