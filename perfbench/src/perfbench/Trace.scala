package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval, in epoch microseconds. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, attrs: Map[String, String] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** Work counted for one layer from Spark's task metrics. */
final class LayerCounts {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var peakExecMemBytes = 0L
}

/** In-memory span recorder. Disabled, `span` only runs its body.
  *
  * Enabled, a span also becomes the Spark job-group property
  * [[Tracer.SpanKey]] of the calling thread for its duration, so the
  * [[LayerListener]] parents every Spark job that body starts to it and
  * counts the job's tasks against the span's layer. Micro-batch jobs are
  * parented through Spark's own query-id and batch-id properties.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val layerOf = new ConcurrentHashMap[Long, String]()
  private val batchIds = new ConcurrentHashMap[(String, Long), java.lang.Long]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val counts = new ConcurrentHashMap[String, LayerCounts]()
  /** Query ids whose micro-batches belong to the measured run. */
  val measuredQueries: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  @volatile var sc: Option[SparkContext] = None

  private val epochOffsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + epochOffsetUs
  def toUs(nanoTime: Long): Long = nanoTime / 1000L + epochOffsetUs

  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Run `body` inside a span named `name`; `layer` names the counters its
    * Spark tasks are added to (none when empty). */
  def span[T](name: String, attrs: Map[String, String] = Map.empty,
      layer: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      if (layer.nonEmpty) layerOf.put(id, layer)
      stack.set(id :: stack.get())
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanKey))
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(id, parent, name, t0, nowUs, attrs))
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, prevProp.orNull))
        stack.set(stack.get().tail)
      }
    }

  def newId(): Long = ids.incrementAndGet()

  /** Record an interval timed elsewhere; returns its id. */
  def record(name: String, parent: Long, startUs: Long, endUs: Long,
      attrs: Map[String, String] = Map.empty, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else ids.incrementAndGet()
      spans.add(Span(sid, parent, name, startUs, endUs, attrs))
      sid
    }

  /** Stable span id of micro-batch `batchId` of query `queryId`, shared by
    * the progress listener (which records it) and the job listener. */
  def batchSpanId(queryId: String, batchId: Long): Long =
    batchIds.computeIfAbsent((queryId, batchId), _ => {
      val id = ids.incrementAndGet()
      if (measuredQueries.contains(queryId)) layerOf.put(id, "stream")
      java.lang.Long.valueOf(id)
    })

  def layer(spanId: Long): Option[String] = Option(layerOf.get(spanId))
  def countsFor(layer: String): LayerCounts =
    counts.computeIfAbsent(layer, _ => new LayerCounts)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the union of its children's intervals within it. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, group) =>
      val total = group.map(_.durUs).sum
      val self = group.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0L
        var reach = s.startUs
        ivs.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        s.durUs - covered
      }.sum
      (name, group.size, total / 1000.0, self / 1000.0)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"attrs":$attrs}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val QueryIdKey = "sql.streaming.queryId"
  private val BatchIdKey = "streaming.sql.batchId"

  /** The span a job belongs to, from its submitting thread's properties. */
  def parentOf(t: Tracer, props: java.util.Properties): Long =
    if (props == null) 0L
    else Option(props.getProperty(BatchIdKey)).zip(Option(props.getProperty(QueryIdKey)))
      .map { case (b, q) => t.batchSpanId(q, b.toLong) }
      .orElse(Option(props.getProperty(SpanKey)).map(_.toLong))
      .getOrElse(0L)
}

/** Records Spark job and stage spans and adds task metrics to the layer
  * of the span each job belongs to. Attached only to traced runs. */
final class LayerListener(t: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long, String)] // job -> (span, parent, startUs, layer)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Tracer.parentOf(t, e.properties)
    val layer = t.layer(parent).getOrElse("")
    jobSpan(e.jobId) = (t.newId(), parent, e.time * 1000L, layer)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    if (layer.nonEmpty) t.countsFor(layer).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (id, parent, start, layer) =>
      t.record("spark.job", parent, start, e.time * 1000L,
        Map("job" -> e.jobId.toString, "layer" -> layer), id = id)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(ms => stageSubmitMs(e.stageInfo.stageId) = ms)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for {
      job <- stageJob.remove(info.stageId)
      (jobSpanId, _, _, _) <- jobSpan.get(job)
      start <- info.submissionTime
      end <- info.completionTime
    } t.record("spark.stage", jobSpanId, start * 1000L, end * 1000L,
      Map("stage" -> info.stageId.toString, "tasks" -> info.numTasks.toString))
    stageSubmitMs.remove(info.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageJob.get(e.stageId).flatMap(jobSpan.get).map(_._4).getOrElse("")
    val m = e.taskMetrics
    if (layer.nonEmpty && m != null) {
      val c = t.countsFor(layer)
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      stageSubmitMs.get(e.stageId).foreach { s =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }
}
