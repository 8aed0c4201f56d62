package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** JVM side of one benchmark run: builds the session, sets the workload
  * up (timed), runs it, checks it, and writes a result file that
  * `perfbench/run.py` turns into the final report line.
  *
  * {{{
  * perfbench.Main --workload ward_live|registry_mix --seed N
  *   --seconds S --trace 0|1 --work-dir DIR --out FILE --launch-ms EPOCH_MS
  *   [--tables DIR --dump DIR]
  * }}}
  */
object Main {
  /** Every per-layer metric a traced run reports; layers a workload does
    * not exercise report 0. */
  val PerLayer: Seq[String] = Seq(
    "registry.build_s", "registry.build_jobs", "registry.exec_s", "registry.exec_jobs",
    "registry.tasks", "registry.task_run_s", "registry.task_wait_s", "registry.busy_share",
    "registry.shuffle_write_bytes", "registry.shuffle_read_bytes", "registry.spill_bytes",
    "registry.scan_bytes", "registry.peak_exec_mem_bytes") ++
    RegistryMix.Families.flatMap { case (f, _) => Seq(s"registry.$f.build_s", s"registry.$f.exec_s") } ++
    Seq("stream.batches", "stream.trigger_ms_p50", "stream.trigger_ms_p99",
      "stream.planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
      "stream.latest_offset_ms", "stream.add_batch_ms", "state.commit_ms",
      "state.rows_total", "state.memory_bytes", "state.rows_updated",
      "stream.shuffle_write_bytes", "stream.task_run_s", "stream.busy_share",
      "stream.rows_dropped_by_watermark", "sink.windows", "sink.alerts",
      "gen.lag_ms_p99", "gen.backlog_max_events")

  /** Input generation is repeated this often; set-up counts the median. */
  val GenerateReps = 3

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Peak resident set of this process in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Peak heap in use right after a collection, in MB: the largest live
    * set the run held, independent of how far the collector let the heap
    * grow between collections. */
  object LiveHeap {
    @volatile private var peakBytes = 0L
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }, null, null)
      case _ => ()
    }

    def peakMb: Double = peakBytes / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    LiveHeap.install()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val workDir = opt("work-dir")
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    val tracer = new Tracer(trace)
    val spark =
      if (workload == "registry_mix") Sessions.batch(slots, workDir)
      else Sessions.streaming(slots, workDir)
    tracer.sc = Some(spark.sparkContext)
    if (trace) spark.sparkContext.addSparkListener(new LayerListener(tracer))
    val sessionS = (System.currentTimeMillis() - opt("launch-ms").toDouble) / 1000.0
    val ctx = new Ctx(opt("seed").toLong, opt("seconds").toDouble, tracer, workDir, slots, spark)
    val w: Workload = workload match {
      case "ward_live" => new WardLive(ctx)
      case "registry_mix" => new RegistryMix(ctx, opt("tables"), opt("dump"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def timed(body: => Unit): Double = {
      val s = System.nanoTime()
      body
      (System.nanoTime() - s) / 1e9
    }
    val generateS = (1 to GenerateReps).map(_ => timed(w.generate()))
    val warmUpS = timed(w.warmUp())
    val o = w.measure()
    val rss = peakRssMb()
    val liveHeap = LiveHeap.peakMb
    val spans = if (trace) {
      tracer.writeSpans(java.nio.file.Paths.get(workDir, "spans.jsonl"))
      tracer.summary.map { case (n, c, tot, self) =>
        Map("name" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self)
      }
    } else Nil
    val layer = o.layer.toMap
    val result = Json.obj(Seq(
      "workload" -> workload,
      "attempted" -> o.attempted,
      "failed" -> (if (o.invalid) o.attempted else math.min(o.attempted, o.failures.size)),
      "invalid" -> o.invalid,
      "failures" -> o.failures,
      "jvm_setup_s" -> (sessionS + Stats.median(generateS) + warmUpS),
      "setup_parts" -> Map("session_s" -> sessionS, "generate_s" -> generateS,
        "warm_up_s" -> warmUpS),
      "e2e" -> (o.e2e.toMap + ("peak_rss_mb" -> rss) + ("peak_live_heap_mb" -> liveHeap)),
      "named" -> o.named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "layer" -> (if (trace) PerLayer.map(n => n -> layer.getOrElse(n, 0.0)).toMap else Map.empty),
      "info" -> o.info.toMap,
      "spans" -> spans))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), result)
    ctx.spark.stop()
  }
}
