package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from the benchmark's own code and from
  * Spark's listener interfaces. Nothing here runs inside the engine.
  *
  * Times are epoch nanoseconds, so the benchmark's spans (from `System.nanoTime`)
  * line up with listener events (epoch milliseconds).
  */
object Trace {
  /** A closed interval of work. `parent` is the id of the span that caused it (0 = none). */
  final case class Span(id: Long, parent: Long, layer: String, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** The benchmark's own spans are recorded while `on` (a traced pass). */
  @volatile var on = false
  /** Listener events are recorded for the whole timed phase of a traced
    * run, because they arrive after the pass that caused them; they are
    * assigned to passes by time afterwards.
    */
  @volatile var recordEvents = false

  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + nanoOffset

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  val spans = new ConcurrentLinkedQueue[Span]()

  /** Runs `body` as a span of `layer` under `parent` when tracing is on. */
  def span[T](parent: Long, layer: String, name: String)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextId()
      val t0 = now()
      try body(id) finally spans.add(Span(id, parent, layer, name, t0, now()))
    }

  // ---- Spark scheduler events -------------------------------------------

  final case class Job(id: Int, group: String, startMs: Long, stageIds: Seq[Int], var endMs: Long = -1)
  final case class Stage(id: Int, var startMs: Long = -1, var endMs: Long = -1, var tasks: Int = 0,
      var taskMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0, var shuffleWrite: Long = 0,
      var shuffleRead: Long = 0, var spill: Long = 0, var input: Long = 0,
      taskTimes: scala.collection.mutable.ArrayBuffer[Long] = scala.collection.mutable.ArrayBuffer.empty)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  @volatile private var sentinelsSeen = Set.empty[String]

  /** Scheduler listener: jobs, stages and task metrics in a traced run,
    * plus the drain sentinels, which are seen in every mode.
    */
  final class SchedulerProbe extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (recordEvents || group.startsWith("pb:"))
        jobs.put(e.jobId, Job(e.jobId, group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        j.endMs = e.time
        if (j.group.startsWith("pb:sentinel")) {
          jobs.remove(e.jobId)
          sentinelsSeen += j.group
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (recordEvents) stages.computeIfAbsent(e.stageInfo.stageId, id => Stage(id))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = stages.get(e.stageInfo.stageId)
      if (st != null) st.synchronized {
        st.startMs = e.stageInfo.submissionTime.getOrElse(-1L)
        st.endMs = e.stageInfo.completionTime.getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stages.get(e.stageId)
      val m = e.taskMetrics
      if (st != null && m != null) st.synchronized {
        st.tasks += 1
        st.taskMs += m.executorRunTime
        st.taskTimes += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Blocks until the listener bus has delivered everything posted before
    * this call: a tagged one-task job is the last event in the queue.
    */
  def drain(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long = 60000): Unit = {
    val tag = s"pb:sentinel-${nextId()}"
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!sentinelsSeen(tag) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(sentinelsSeen(tag), "listener bus did not drain")
    // stream events travel on their own bus: wait until every started
    // query's termination has been delivered
    while (StreamProbe.open() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  // ---- the plan each timed action executed ------------------------------

  /** frame plan -> (pass, op) of the noop action about to run on it */
  val wanted = java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[LogicalPlan, (Int, String)]())
  /** Index of the pass whose sink plans the fidelity check compares: the
    * first warm-up pass.
    */
  val CheckPass: Int = -1
  /** op -> the optimized plan the noop sink wrote in the plan-check pass.
    * Only the logical plan is kept: the executed plan would hold the
    * query's broadcasts in memory for the rest of the run.
    */
  val checkedSink = new ConcurrentHashMap[String, Option[LogicalPlan]]()
  /** (pass, op, analysis ms, optimization ms, planning ms) of each sink execution */
  val sinkPhases = new ConcurrentLinkedQueue[(Int, String, Long, Long, Long)]()
}

/** Captures the optimized plan under the noop sink for the frames the
  * main loop registers in `Trace.wanted` (by identity of the frame's plan).
  * Named in `spark.sql.queryExecutionListeners`, so the child sessions the
  * engine creates for its streams report too.
  */
final class SinkCapture extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical match {
      case w: V2WriteCommand =>
        val key = Trace.wanted.remove(w.query)
        if (key != null) {
          if (key._1 == Trace.CheckPass)
            Trace.checkedSink.put(key._2, qe.optimizedPlan.collectFirst { case c: V2WriteCommand => c.query })
          val ph = qe.tracker.phases
          def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
          Trace.sinkPhases.add((key._1, key._2, ms("analysis"), ms("optimization"), ms("planning")))
        }
      case _ =>
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    qe.logical match {
      case w: V2WriteCommand => Trace.wanted.remove(w.query)
      case _ =>
    }
}

/** Streaming progress, seen only through this listener. It is named in
  * `spark.sql.streaming.streamingQueryListeners` when the benchmark builds
  * its session, so every session (including child sessions the engine
  * creates for its streams) instantiates one; all feed the static buffers.
  */
final class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    StreamProbe.started.incrementAndGet()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    StreamProbe.terminated.incrementAndGet()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.recordEvents) {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val so = p.stateOperators.toSeq
      StreamProbe.batches.add(StreamProbe.Batch(
        java.time.Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"), d("addBatch"),
        d("queryPlanning"), d("walCommit"), so.map(_.commitTimeMs).sum, p.numInputRows,
        so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum))
    }
}

object StreamProbe {
  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long, planningMs: Long,
      walCommitMs: Long, stateCommitMs: Long, inputRows: Long, stateRows: Long, stateBytes: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()
  val started = new java.util.concurrent.atomic.AtomicLong(0)
  val terminated = new java.util.concurrent.atomic.AtomicLong(0)
  def open(): Long = started.get() - terminated.get()
  def all: Seq[Batch] = batches.asScala.toSeq
}
