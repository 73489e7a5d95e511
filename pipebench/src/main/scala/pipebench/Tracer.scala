package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one span (or for the whole run). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var maxStageTasks = 0L
  var planningMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var gcMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    maxStageTasks = math.max(maxStageTasks, o.maxStageTasks)
    planningMs += o.planningMs; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; gcMs += o.gcMs
  }

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "max_stage_tasks" -> maxStageTasks,
    "planning_ms" -> planningMs, "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuNs / 1e6,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> input, "gc_ms" -> gcMs)
}

/** One streaming micro-batch as reported by `StreamingQueryListener`. */
final case class BatchProgress(
    query: String,
    batchId: Long,
    inputRows: Long,
    durations: Map[String, Long],
    stateRows: Long,
    stateCommitMs: Long,
    stateMemoryBytes: Long)

/** Listener-based tracer: registers Spark's public `SparkListener`,
  * `QueryExecutionListener` and `StreamingQueryListener` and attributes
  * every job, stage, task and query plan to the innermost span open at
  * the event's wall-clock time. Only installed for traced runs.
  */
final class Tracer(spark: SparkSession, spans: Spans) {
  private val perSpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val markerStages = mutable.HashSet.empty[Int]
  private val progress = mutable.ArrayBuffer.empty[BatchProgress]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var streamsStarted = 0
  private var streamsTerminated = 0
  private val drainGroup = s"pipebench-drain-${java.util.UUID.randomUUID()}"
  @volatile private var drained = new CountDownLatch(1)

  private def counters(span: Int): Counters = perSpan.getOrElseUpdate(span, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == drainGroup) {
        markerStages ++= e.stageInfos.map(_.stageId)
        drained.countDown()
      } else {
        val span = spans.at(e.time)
        counters(span).jobs += 1
        e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
        jobStartMs(e.jobId) = e.time
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStartMs.remove(e.jobId).foreach(t0 => jobIntervals += t0 -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      if (!markerStages.contains(info.stageId)) {
        val c = counters(stageSpan.getOrElse(info.stageId, spans.at(info.submissionTime.getOrElse(0L))))
        c.stages += 1
        c.maxStageTasks = math.max(c.maxStageTasks, info.numTasks.toLong)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (!markerStages.contains(e.stageId)) {
        val c = counters(stageSpan.getOrElse(e.stageId, spans.at(e.taskInfo.launchTime)))
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        counters(spans.at(phases.values.map(_.startTimeMs).min)).planningMs += ms
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized(streamsStarted += 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        progress += BatchProgress(
          Option(p.name).getOrElse(p.id.toString),
          p.batchId,
          p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum,
          ops.map(_.commitTimeMs).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized(streamsTerminated += 1)
  }

  private val gcEmitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.collect {
    case e: NotificationEmitter => e
  }
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq.filter(_.getType == MemoryType.HEAP)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Stop-the-world collections, attributed by their start time (G1's
    * concurrent cycle runs beside the application and is not counted).
    */
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (!info.getGcName.contains("Concurrent")) Tracer.this.synchronized {
          counters(spans.at(jvmStartMs + info.getGcInfo.getStartTime)).gcMs += info.getGcInfo.getDuration
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Wait until every event posted so far has reached the listeners: a
    * marker job travels the same queue as the job/task/plan events (its
    * own stages are not counted), and each started stream must have
    * reported its termination.
    */
  def drain(): Unit = {
    drained = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setJobGroup(drainGroup, "listener drain marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    drained.await(30, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(streamsTerminated < streamsStarted) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    gcEmitters.foreach(_.removeNotificationListener(gcListener))
  }

  /** Counters summed over the spans under `include` (inclusive) that are
    * not under `exclude`.
    */
  def within(include: Set[Int], exclude: Set[Int]): Counters = synchronized {
    val byId = spans.closed.map(s => s.id -> s).toMap
    def under(id: Int, roots: Set[Int]): Boolean =
      id >= 0 && (roots.contains(id) || byId.get(id).exists(s => under(s.parent, roots)))
    val t = new Counters
    perSpan.foreach { case (id, c) => if (under(id, include) && !under(id, exclude)) t.add(c) }
    t
  }

  /** Milliseconds of the given spans' wall time during which at least
    * one Spark job was running; the rest is driver-side work alone
    * (planning, commits, file listing, stream start and stop).
    */
  def jobBusyMs(within: Seq[Spans#Span]): Long = synchronized {
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    jobIntervals.sortBy(_._1).foreach { case (a, b) =>
      if (merged.nonEmpty && a <= merged.last._2)
        merged(merged.size - 1) = merged.last._1 -> math.max(b, merged.last._2)
      else merged += a -> b
    }
    within.map { s =>
      merged.map { case (a, b) => math.max(0L, math.min(b, s.endMs) - math.max(a, s.startMs)) }.sum
    }.sum
  }

  def batches: Seq[BatchProgress] = synchronized(progress.toSeq)

  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Spans with their attributed counters and the stream progress log. */
  def toJson: String = synchronized {
    val spanJson = spans.closed.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "duration_ms" -> s.durationMs,
        "engine" -> Json.Raw(perSpan.get(s.id).map(_.toJson).getOrElse("{}")))
    }
    val batchJson = progress.map { b =>
      Json.obj("query" -> b.query, "batch_id" -> b.batchId, "input_rows" -> b.inputRows,
        "duration_ms" -> Json.Raw(Json.obj(b.durations.toSeq.sortBy(_._1): _*)),
        "state_rows" -> b.stateRows, "state_commit_ms" -> b.stateCommitMs,
        "state_memory_bytes" -> b.stateMemoryBytes)
    }
    Json.obj(
      "spans" -> Json.Raw(spanJson.mkString("[", ",", "]")),
      "unattributed" -> Json.Raw(perSpan.get(-1).map(_.toJson).getOrElse("{}")),
      "stream_batches" -> Json.Raw(batchJson.mkString("[", ",", "]")))
  }
}
