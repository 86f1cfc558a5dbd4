package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.SparkEntry
import graft.core.{SessionHygiene, Tables}

/** The benchmark's JVM side: runs one workload's operations in a closed
  * loop on one `local[N]` session and writes `result.json` (and, when
  * tracing, `spans.jsonl`) to the output directory. `run.py` generates the
  * inputs, checks the outputs with DuckDB and prints the result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  */
object Main {

  /** Task threads of the `local[N]` session. */
  val Cores = 4
  /** Fewest timed passes per run (and per kind, in a traced run). */
  val MinPasses = 3

  /** A workload's operations (registry queries, or `llm_*` runs of the
    * [[LlmWorkload]] pipeline) and its untimed warm-up passes, the first of
    * them plan-checked. Passes of many short Spark jobs keep speeding up
    * while the JIT compiles; passes that mostly wait on the emulated
    * endpoint do not. Why each operation was chosen: README.md.
    */
  final case class Workload(ops: Seq[String], warmUpPasses: Int)

  val Workloads: Map[String, Workload] = Map(
    "integration" -> Workload(Seq("q71_llm_generate", "q72_llm_score_rank", "q35_stable_matching",
      "q12_setop_intersect", "q185_char_entropy", "q77_streaming_dedup"), warmUpPasses = 4),
    "llm_latency" -> Workload(Seq("llm_narrow", "llm_medium", "llm_wide"), warmUpPasses = 2))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("out"))
  }

  /** One operation: a registry query, or one run of the LLM pipeline. */
  sealed trait Op { def name: String }
  final case class QueryOp(name: String) extends Op
  final case class LlmOp(batch: LlmWorkload.Batch) extends Op { def name: String = batch.name }

  /** Timings of one operation inside one pass. */
  final case class OpTime(pass: Int, op: String, buildNs: Long, actionNs: Long, hygieneNs: Long,
      error: Option[String]) {
    def opS: Double = (buildNs + actionNs) / 1e9
  }

  final case class Pass(index: Int, traced: Boolean, startNs: Long, endNs: Long, heapLiveMb: Double,
      gcMs: Long, heapAfterGcMb: Double, blocksLeft: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val queries = SparkEntry.queries
    val llm = LlmWorkload.batches(a.seed).map(b => b.name -> b).toMap
    val workload = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val ops: Seq[Op] = workload.ops.map { n =>
      if (llm.contains(n)) LlmOp(llm(n))
      else {
        require(queries.contains(n), s"unknown operation $n")
        QueryOp(n)
      }
    }
    val failures = ArrayBuffer.empty[String]
    val probe = new Trace.SchedulerProbe
    val frameAnalysisMs = ArrayBuffer.empty[(Int, Long)]

    def session(): SparkSession = {
      val work = Paths.get(a.out).toAbsolutePath
      val b = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
      Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
      val listeners = Tables.sessionConfs.get("spark.sql.streaming.streamingQueryListeners").toSeq :+
        classOf[StreamProbe].getName
      b.config("spark.sql.streaming.streamingQueryListeners", listeners.mkString(","))
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.queryExecutionListeners", classOf[SinkCapture].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.sparkContext.addSparkListener(probe)
      s
    }

    /** Materializes a stage boundary of the LLM pipeline as its own layer span. */
    def boundaryIn(parent: Long)(layer: String, df: DataFrame): DataFrame =
      Trace.span(parent, layer, layer)(_ => df.localCheckpoint(eager = true))

    def build(s: SparkSession, op: Op, buildSpan: Long): DataFrame = op match {
      case QueryOp(n) => queries(n)(s, a.data)
      case LlmOp(b) if Trace.on =>
        LlmWorkload.run(s, b, boundaryIn(buildSpan),
          rendered = bb => Trace.span(buildSpan, "ops.render", "ops.render")(_ => LlmWorkload.render(bb))).result
      case LlmOp(b) => LlmWorkload.run(s, b, (_, df) => df).result
    }

    val ownPlans = scala.collection.mutable.Map.empty[String, LogicalPlan]
    var checkNs = 0L
    var opRuns = 0

    /** One pass over every operation in a seeded order. The plan-check pass
      * also keeps each frame's own optimized plan (taken after the action,
      * before hygiene drops its caches) for the fidelity check; `checkNs`
      * is the time that took.
      */
    def pass(s: SparkSession, index: Int, traced: Boolean, times: ArrayBuffer[OpTime]): Pass = {
      val checkPlans = index == Trace.CheckPass
      val sc = s.sparkContext
      val order = new Random(a.seed * 1000003L + index).shuffle(ops)
      val gc0 = Layers.gcMs()
      Trace.on = traced
      Endpoint.recording = traced
      val t0 = Trace.now()
      var blocksLeft = 0L
      Trace.span(0L, "pass", s"pass$index") { passSpan =>
        for (op <- order) Trace.span(passSpan, "op", op.name) { opSpan =>
          if (traced) sc.setJobGroup(s"pb:$index:${op.name}:build", op.name)
          val tb = System.nanoTime()
          var ta = tb
          val err = try {
            val df = Trace.span(opSpan, "build", op.name)(id => build(s, op, id))
            ta = System.nanoTime()
            if (traced) {
              frameAnalysisMs += index -> df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
              sc.setJobGroup(s"pb:$index:${op.name}:action", op.name)
            }
            if (traced || checkPlans) Trace.wanted.put(df.queryExecution.commandExecuted, (index, op.name))
            Trace.span(opSpan, "action", op.name)(_ => df.write.format("noop").mode("overwrite").save())
            if (checkPlans) {
              val c0 = System.nanoTime()
              ownPlans(op.name) = df.queryExecution.optimizedPlan
              checkNs += System.nanoTime() - c0
            }
            None
          } catch {
            case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
          val te = System.nanoTime()
          if (traced) sc.clearJobGroup()
          Trace.span(opSpan, "hygiene", op.name)(_ => SessionHygiene.dropAllBlocks(s))
          val th = System.nanoTime()
          if (traced) blocksLeft += sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
          if (err.isDefined) ta = math.min(ta, te)
          times += OpTime(index, op.name, ta - tb, te - ta, th - te, err)
          opRuns += 1
        }
      }
      val t1 = Trace.now()
      Trace.on = false
      Endpoint.recording = false
      val heapAfterGc = Layers.heapAfterGcMb()
      // deliver the pass's pending listener events first
      Trace.drain(s)
      val live = Layers.liveHeapMb()
      Pass(index, traced, t0, t1, live, Layers.gcMs() - gc0, heapAfterGc, blocksLeft)
    }

    // ---- set-up: JVM start to the first timed pass: session start and the
    // warm-up passes; the plan check's own time is left out
    val spark = session()
    for (i <- Trace.CheckPass until Trace.CheckPass - workload.warmUpPasses by -1) {
      val warm = ArrayBuffer.empty[OpTime]
      pass(spark, i, traced = false, warm)
      warm.flatMap(t => t.error.map(e => s"warm-up ${t.op}: $e")).foreach(failures += _)
    }
    val setupS = (System.currentTimeMillis() * 1000000L - jvmStartNs - checkNs) / 1e9

    // ---- timed passes: untraced, or alternating untraced/traced --------
    val times = ArrayBuffer.empty[OpTime]
    val passes = ArrayBuffer.empty[Pass]
    Trace.recordEvents = a.trace
    val timedStart = System.nanoTime()
    def enough: Boolean = {
      val untraced = passes.count(!_.traced)
      val traced = passes.count(_.traced)
      val elapsed = (System.nanoTime() - timedStart) / 1e9
      elapsed >= a.seconds && untraced >= MinPasses && (!a.trace || traced >= MinPasses)
    }
    while (!enough) {
      val i = passes.size
      passes += pass(spark, i, traced = a.trace && i % 2 == 1, times)
    }
    Trace.drain(spark)
    Trace.recordEvents = false
    times.filter(_.error.isDefined).foreach(t => failures += s"pass ${t.pass} ${t.op}: ${t.error.get}")

    // plan fidelity: the noop sink must have run the frame's own optimized
    // plan, with every output column and the final sort
    val fidelity = ops.map { op =>
      val verdict = (Option(Trace.checkedSink.get(op.name)), ownPlans.get(op.name)) match {
        case (Some(sunk), Some(own)) =>
          if (sunk.exists(_.canonicalized == own.canonicalized)) "ok"
          else s"plan under the noop sink differs from the frame's own optimized plan:\n" +
            s"sink:\n${sunk.map(_.treeString).getOrElse("<none>").take(3000)}\nframe:\n${own.treeString.take(3000)}"
        case _ => "no captured sink plan"
      }
      if (verdict != "ok") failures += s"fidelity ${op.name}: $verdict"
      op.name -> verdict
    }.toMap

    // ---- verification pass (untimed): outputs for the DuckDB oracle, or
    // the LLM pipeline's answers against a direct replay
    val verifyDir = Paths.get(a.out, "verify")
    Files.createDirectories(verifyDir)
    val oracles = ArrayBuffer.empty[(String, String)]
    var (responses, parsedOk) = (0, 0)
    for (op <- ops.sortBy(_.name)) {
      try op match {
        case QueryOp(n) =>
          queries(n)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(verifyDir.resolve(n).toString)
          SparkEntry.oracleSql.get(n) match {
            case Some(sql) => oracles += n -> sql
            case None => failures += s"verify $n: no oracle SQL to check the output against"
          }
        case LlmOp(b) =>
          val run = LlmWorkload.run(spark, b, (_, df) => df.localCheckpoint(eager = true))
          val (bad, ok) = LlmWorkload.verify(b, run)
          bad.foreach(m => failures += s"verify $m")
          responses += b.asked.map(_.targetSchema.size).sum
          parsedOk += ok
      } catch {
        case e: Throwable => failures += s"verify ${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      SessionHygiene.dropAllBlocks(spark)
    }

    // ---- result ---------------------------------------------------------
    val untraced = passes.filterNot(_.traced)
    val okTimes = times.filter(t => t.error.isEmpty && untraced.exists(_.index == t.pass))
    val opTimes = ops.map(op => op.name -> okTimes.filter(_.op == op.name).map(_.opS).toSeq).toMap
    val perOp = opTimes.map { case (name, xs) =>
      name -> Map("n" -> xs.size, "median_s" -> Stats.median(xs), "q1_s" -> Stats.quantile(xs, 0.25),
        "q3_s" -> Stats.quantile(xs, 0.75), "max_s" -> xs.maxOption.getOrElse(Double.NaN))
    }
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(untraced.map(_.wallS).toSeq),
      // the median over operations of each one's median time: the median of
      // all samples would jump between the few operations' clusters
      "op_p50_s" -> Stats.median(opTimes.values.map(Stats.median).toSeq),
      "heap_live_mb" -> untraced.map(_.heapLiveMb).min)
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else Layers.perLayer(passes.toSeq, times.toSeq,
        Layers.Extra(Cores, ops.collect { case LlmOp(b) => b.name }.toSet,
          if (responses == 0) 0.0 else parsedOk.toDouble / responses,
          Trace.sinkPhases.asScala.toSeq, frameAnalysisMs.toSeq),
        Paths.get(a.out, "spans.jsonl"))
    val sc = spark.sparkContext
    val rt = ManagementFactory.getRuntimeMXBean
    val fingerprint = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> rt.getInputArguments.asScala.find(_.startsWith("-Xmx")).getOrElse("default"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "workload" -> a.workload, "seed" -> a.seed, "run_seconds" -> a.seconds)
    val result = Map(
      "fingerprint" -> fingerprint,
      // every operation run (warm-up, timed) plus one output check per operation
      "attempted" -> (opRuns + ops.size),
      "failures" -> failures.toSeq,
      "operations" -> ops.map(_.name),
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
        "heap_live_mb" -> p.heapLiveMb)).toSeq,
      "ops" -> perOp,
      "fidelity" -> fidelity,
      "oracles" -> oracles.toMap,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer)
    Files.writeString(Paths.get(a.out, "result.json"), Json(result))
    spark.stop()
    System.exit(0)
  }
}
