package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Trace.Span

/** Per-layer metrics of a traced run, computed from the benchmark's spans,
  * the scheduler and streaming listeners and the emulated endpoint, one
  * set per traced pass and reported as the median over traced passes.
  */
object Layers {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use right after the most recent collection of each heap pool. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Heap in use after full collections, repeated (at most 8 times) until
    * one frees less than 1 MB: each collection lets Spark's cleaner drop
    * the blocks of shuffles and broadcasts the previous one found
    * unreachable.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var used = collect()
    var freed = Long.MaxValue
    var rounds = 1
    while (freed >= (1L << 20) && rounds < 8) {
      Thread.sleep(50)
      val next = collect()
      freed = used - next
      used = math.min(used, next)
      rounds += 1
    }
    used / 1048576.0
  }

  /** Layers whose self time is reported, as `self.<layer>_s`. */
  val selfLayers: Seq[String] = Seq("pass", "op", "build", "action", "hygiene", "job", "stage",
    "llm", "llm.call", "llm.queue", "ops.render", "ops.parse", "operators.stable_match", "stream.batch")

  /** Layers whose spans can contain jobs, calls and micro-batches. */
  private val containers = Set("build", "action", "llm", "ops.parse", "operators.stable_match")

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs",
    "spark.plan.analysis_ms", "spark.plan.optimization_ms", "spark.plan.planning_ms",
    "spark.exec.action_s", "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks",
    "spark.exec.task_s", "spark.exec.cpu_s", "spark.exec.slot_util", "spark.exec.task_skew",
    "spark.exec.shuffle_write_mb", "spark.exec.shuffle_read_mb", "spark.exec.spill_mb",
    "spark.exec.input_mb", "spark.exec.gc_s",
    "core.hygiene_s", "core.blocks_left",
    "llm.calls", "llm.prompts", "llm.prompts_per_call", "llm.distinct_prompt_share", "llm.retries",
    "llm.failures", "llm.call_p50_ms", "llm.call_p99_ms", "llm.queue_wait_s",
    "llm.endpoint_busy_share", "llm.in_flight_max", "llm.prompt_mb", "llm.response_mb",
    "llm.prompts_per_s",
    "ops.render_s", "ops.parse_s", "ops.parse_ok_share", "operators.stable_match_s", "eval.metrics_s",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.state_commit_ms",
    "streaming.state_rows", "streaming.state_mb", "streaming.harness_s", "streaming.batch_p50_ms",
    "streaming.batch_p90_ms", "streaming.rows_per_s",
    "jvm.gc_s", "jvm.heap_after_gc_mb",
    "trace.overhead_s", "trace.spans") ++ selfLayers.map(l => s"self.${l.replace('.', '_')}_s")

  private val Mb = 1048576.0

  /** Inputs that are not spans or listener events. */
  final case class Extra(cores: Int, llmOps: Set[String], parseOkShare: Double,
      sinkPhases: Seq[(Int, String, Long, Long, Long)], frameAnalysisMs: Seq[(Int, Long)])

  def perLayer(passes: Seq[Main.Pass], times: Seq[Main.OpTime], x: Extra, spansOut: Path): Map[String, Double] = {
    val own = Trace.spans.asScala.toSeq
    val jobs = Trace.jobs.values.asScala.filterNot(_.group.startsWith("pb:sentinel")).toSeq
    val calls = Endpoint.calls.asScala.toSeq
    val batches = StreamProbe.all
    val traced = passes.filter(_.traced)
    val out = Files.newBufferedWriter(spansOut)
    val perPass = try traced.map { p =>
      def inPass(ns: Long) = ns >= p.startNs && ns <= p.endNs
      val ds = own.filter(s => inPass(s.startNs))
      val boxes = ds.filter(s => containers(s.layer))
      val passSpan = ds.find(_.layer == "pass").map(_.id).getOrElse(0L)
      def innermost(ns: Long): Option[Span] =
        boxes.filter(c => c.startNs <= ns && ns <= c.endNs).minByOption(_.durNs)
      val syn = mutable.ArrayBuffer.empty[Span]
      // jobs -> the benchmark span that ran them; stages -> the job that submitted them
      val pj = jobs.filter(j => inPass(j.startMs * 1000000L))
      val jobSpan = pj.map { j =>
        val parent = innermost(j.startMs * 1000000L)
        val s = Span(Trace.nextId(), parent.map(_.id).getOrElse(passSpan), "job", s"job ${j.id}",
          j.startMs * 1000000L, math.max(j.endMs, j.startMs) * 1000000L)
        syn += s
        val isAction =
          if (j.group.endsWith(":action")) true
          else if (j.group.endsWith(":build")) false
          else parent.exists(_.layer == "action")
        (j, s, isAction)
      }
      val stageOwner = mutable.Map.empty[Int, (Trace.Stage, Span, Boolean)]
      for ((j, js, isAction) <- jobSpan.sortBy(_._1.startMs); sid <- j.stageIds) {
        Option(Trace.stages.get(sid)).filter(st => st.startMs >= 0 && !stageOwner.contains(sid)).foreach { st =>
          val s = Span(Trace.nextId(), js.id, "stage", s"stage $sid", st.startMs * 1000000L, st.endMs * 1000000L)
          syn += s
          stageOwner(sid) = (st, s, isAction)
        }
      }
      val pc = calls.filter(c => inPass(c.startNs))
      for (c <- pc) {
        val parent = stageOwner.get(c.stageId).map(_._2.id)
          .orElse(innermost(c.startNs).map(_.id)).getOrElse(passSpan)
        val call = Span(Trace.nextId(), parent, "llm.call", s"${c.prompts.size} prompts", c.startNs, c.endNs)
        syn += call
        syn += Span(Trace.nextId(), call.id, "llm.queue", "queue", c.startNs, c.grantedNs)
      }
      val pb = batches.filter(b => inPass(b.startMs * 1000000L))
      val batchSpans = pb.map { b =>
        val st = b.startMs * 1000000L
        val s = Span(Trace.nextId(), innermost(st).map(_.id).getOrElse(passSpan), "stream.batch",
          "micro-batch", st, (b.startMs + b.triggerMs) * 1000000L)
        syn += s
        s
      }
      val all = ds ++ syn
      all.foreach { s =>
        out.write(Json(Map("pass" -> p.index, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
        out.newLine()
      }

      val m = mutable.LinkedHashMap.empty[String, Double]
      val pt = times.filter(_.pass == p.index)
      def dur(layer: String, f: Span => Boolean = _ => true) =
        ds.filter(s => s.layer == layer && f(s)).map(_.durNs).sum / 1e9
      m("queries.build_s") = pt.map(_.buildNs).sum / 1e9
      m("queries.build_jobs") = jobSpan.count(!_._3)
      val ph = x.sinkPhases.filter(_._1 == p.index)
      m("spark.plan.analysis_ms") = ph.map(_._3).sum + x.frameAnalysisMs.filter(_._1 == p.index).map(_._2).sum
      m("spark.plan.optimization_ms") = ph.map(_._4).sum
      m("spark.plan.planning_ms") = ph.map(_._5).sum
      val actionS = pt.map(_.actionNs).sum / 1e9
      val ast = stageOwner.values.filter(_._3).map(_._1).toSeq
      val taskS = ast.map(_.taskMs).sum / 1000.0
      m("spark.exec.action_s") = actionS
      m("spark.exec.jobs") = jobSpan.count(_._3)
      m("spark.exec.stages") = ast.size
      m("spark.exec.tasks") = ast.map(_.tasks).sum
      m("spark.exec.task_s") = taskS
      m("spark.exec.cpu_s") = ast.map(_.cpuNs).sum / 1e9
      m("spark.exec.slot_util") = if (actionS > 0) taskS / (actionS * x.cores) else 0.0
      m("spark.exec.task_skew") = ast.filter(_.taskTimes.size >= 2).map { st =>
        val ts = st.taskTimes.map(_.toDouble).toSeq
        ts.max / math.max(1.0, Stats.median(ts))
      }.maxOption.getOrElse(1.0)
      m("spark.exec.shuffle_write_mb") = ast.map(_.shuffleWrite).sum / Mb
      m("spark.exec.shuffle_read_mb") = ast.map(_.shuffleRead).sum / Mb
      m("spark.exec.spill_mb") = ast.map(_.spill).sum / Mb
      m("spark.exec.input_mb") = ast.map(_.input).sum / Mb
      m("spark.exec.gc_s") = ast.map(_.gcMs).sum / 1000.0
      m("core.hygiene_s") = pt.map(_.hygieneNs).sum / 1e9
      m("core.blocks_left") = p.blocksLeft.toDouble

      val ok = pc.filterNot(_.failed)
      val prompts = ok.map(_.prompts.size).sum
      val failedKeys = pc.filter(_.failed).map(_.prompts).toSet
      val service = pc.map(c => (c.endNs - c.grantedNs) / 1e6)
      m("llm.calls") = pc.size
      m("llm.prompts") = prompts
      m("llm.prompts_per_call") = if (ok.isEmpty) 0.0 else prompts.toDouble / ok.size
      m("llm.distinct_prompt_share") =
        if (prompts == 0) 0.0 else ok.flatMap(_.prompts).distinct.size.toDouble / prompts
      m("llm.retries") = ok.count(c => failedKeys(c.prompts))
      m("llm.failures") = pc.count(_.failed)
      m("llm.call_p50_ms") = if (service.isEmpty) 0.0 else Stats.quantile(service, 0.5)
      m("llm.call_p99_ms") = if (service.isEmpty) 0.0 else Stats.quantile(service, 0.99)
      m("llm.queue_wait_s") = pc.map(c => c.grantedNs - c.startNs).sum / 1e9
      m("llm.endpoint_busy_share") = Stats.covered(pc.map(c => (c.grantedNs, c.endNs))) / 1e9 / p.wallS
      m("llm.in_flight_max") = pc.map(_.inFlight.toDouble).maxOption.getOrElse(0.0)
      m("llm.prompt_mb") = pc.map(_.promptBytes).sum / Mb
      m("llm.response_mb") = pc.map(_.responseBytes).sum / Mb
      m("llm.prompts_per_s") = prompts / p.wallS
      m("ops.render_s") = dur("ops.render")
      m("ops.parse_s") = dur("ops.parse")
      m("ops.parse_ok_share") = x.parseOkShare
      m("operators.stable_match_s") = dur("operators.stable_match")
      m("eval.metrics_s") = dur("action", s => x.llmOps(s.name))

      val trig = pb.map(_.triggerMs.toDouble)
      m("streaming.batches") = pb.size
      m("streaming.trigger_ms") = trig.sum
      m("streaming.add_batch_ms") = pb.map(_.addBatchMs).sum
      m("streaming.query_planning_ms") = pb.map(_.planningMs).sum
      m("streaming.wal_commit_ms") = pb.map(_.walCommitMs).sum
      m("streaming.state_commit_ms") = pb.map(_.stateCommitMs).sum
      m("streaming.state_rows") = pb.map(_.stateRows.toDouble).maxOption.getOrElse(0.0)
      m("streaming.state_mb") = pb.map(_.stateBytes).maxOption.getOrElse(0L) / Mb
      val streamBuilds = ds.filter(s => s.layer == "build" && batchSpans.exists(_.parent == s.id))
      m("streaming.harness_s") = streamBuilds.map(_.durNs).sum / 1e9 -
        batchSpans.filter(b => streamBuilds.exists(_.id == b.parent)).map(_.durNs).sum / 1e9
      m("streaming.batch_p50_ms") = if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.5)
      m("streaming.batch_p90_ms") = if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.9)
      m("streaming.rows_per_s") = pb.map(_.inputRows).sum / p.wallS
      m("jvm.gc_s") = p.gcMs / 1000.0
      m("jvm.heap_after_gc_mb") = p.heapAfterGcMb
      m("trace.spans") = all.size

      val children = all.groupBy(_.parent)
      for (layer <- selfLayers) {
        val self = all.filter(_.layer == layer).map { s =>
          val kids = children.getOrElse(s.id, Nil)
            .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          s.durNs - Stats.covered(kids)
        }.sum
        m(s"self.${layer.replace('.', '_')}_s") = self / 1e9
      }
      m.toMap
    } finally out.close()

    val untracedWall = Stats.median(passes.filterNot(_.traced).map(_.wallS))
    names.map { n =>
      n -> (if (n == "trace.overhead_s") Stats.median(traced.map(_.wallS)) - untracedWall
            else Stats.median(perPass.map(_.getOrElse(n, 0.0))))
    }.toMap
  }
}
