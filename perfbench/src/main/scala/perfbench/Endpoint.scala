package perfbench

import java.security.MessageDigest
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore}
import java.util.concurrent.atomic.AtomicInteger

import graft.llm.{LlmClient, LlmClientFactory, MockLlmClient}

/** An emulated LLM inference endpoint.
  *
  * Answers are [[MockLlmClient]]'s, so every output stays checkable against
  * a direct replay. Each call holds one of `Slots` JVM-wide server slots (a
  * call that finds every slot busy queues for one) and sleeps for
  * `FixedMs + PromptTokenMs * promptTokens + DecodeStepMs * decodeSteps`
  * (a token is 4 characters). A generation call decodes its prompts in
  * lockstep, so its decode steps are the tokens of its longest response; a
  * scoring call reads the option probabilities off one forward pass over
  * the prompt and decodes nothing.
  *
  * The constants are the roofline floor of the reference's model,
  * Llama-3.1-70B in GPTQ-INT4 (70.6 B parameters, 4 bits each: 35.3 GB of
  * weights), on one NVIDIA A100 80GB SXM (2,039 GB/s HBM2e, 312 TFLOPS dense
  * BF16, from NVIDIA's data sheet). Every forward pass reads all weights
  * once: 35.3 GB / 2,039 GB/s = 17.3 ms, paid once per call and once per
  * decode step. Prefill computes 2 FLOP per parameter per token:
  * 141 GFLOP / 312 TFLOPS = 0.45 ms per prompt token. A real server is
  * slower than this floor.
  *
  * The first attempt of about one call in `FailOneIn` fails after the fixed
  * cost, chosen by a hash of the call's prompts, so the same calls fail on
  * every pass and the operator's retry path runs.
  */
object Endpoint {
  val FixedMs = 17.3
  val PromptTokenMs = 0.45
  val DecodeStepMs = 17.3
  val Slots = 8
  val FailOneIn = 50

  private val slots = new Semaphore(Slots, true)
  private val inFlight = new AtomicInteger(0)

  /** One attempt at the endpoint, recorded only while tracing is on. */
  final case class Call(startNs: Long, grantedNs: Long, endNs: Long, stageId: Int,
      prompts: Seq[String], promptBytes: Long, responseBytes: Long, failed: Boolean,
      inFlight: Int)

  val calls = new ConcurrentLinkedQueue[Call]()
  @volatile var recording = false

  def tokens(chars: Int): Int = (chars + 3) / 4

  private def sleepMs(ms: Double): Unit = {
    val nanos = (ms * 1e6).toLong
    Thread.sleep(nanos / 1000000, (nanos % 1000000).toInt)
  }

  /** Runs one attempt: queue for a slot, pay the latency, answer or fail.
    * `decodeChars` is the longest response's length (0 for scoring), and
    * `responseChars` the bytes the endpoint sends back.
    */
  def call[T](prompts: Seq[String], fail: Boolean)(answer: => T)(decodeChars: T => Int,
      responseChars: T => Int): T = {
    val t0 = Trace.now()
    slots.acquire()
    val granted = Trace.now()
    val n = inFlight.incrementAndGet()
    var respBytes = 0L
    try {
      val promptTokens = prompts.map(p => tokens(p.length)).sum
      if (fail) {
        sleepMs(FixedMs)
        throw new RuntimeException("emulated transient endpoint failure")
      }
      val out = answer
      respBytes = responseChars(out).toLong
      sleepMs(FixedMs + PromptTokenMs * promptTokens + DecodeStepMs * tokens(decodeChars(out)))
      out
    } finally {
      inFlight.decrementAndGet()
      slots.release()
      if (recording) {
        val tc = org.apache.spark.TaskContext.get()
        calls.add(Call(t0, granted, Trace.now(), if (tc == null) -1 else tc.stageId(),
          prompts, prompts.map(_.getBytes("UTF-8").length.toLong).sum, respBytes, fail, n))
      }
    }
  }

  /** True for the deterministic ~1/FailOneIn share of call keys. */
  def failsFirst(key: String): Boolean = {
    val d = MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
    java.lang.Math.floorMod(((d(0) & 0xff) << 8) | (d(1) & 0xff), FailOneIn) == 0
  }
}

/** Client for one partition: remembers which call keys it has already
  * failed once, so the operator's retry of the same batch succeeds.
  */
final class EmulatedClient extends LlmClient {
  private val mock = new MockLlmClient()
  private val failedOnce = scala.collection.mutable.Set.empty[String]

  private def firstAttemptFails(key: String): Boolean =
    Endpoint.failsFirst(key) && failedOnce.add(key)

  override def generate(prompts: Seq[String]): Seq[String] =
    Endpoint.call(prompts, firstAttemptFails(prompts.mkString("\u0000")))(
      mock.generate(prompts))(_.map(_.length).maxOption.getOrElse(0), _.map(_.length).sum)

  override def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)] =
    Endpoint.call(Seq(prompt), firstAttemptFails(prompt + "\u0001" + candidates.mkString("\u0000")))(
      mock.scoreCandidates(prompt, candidates))(_ => 0, _.map(_._1.length).sum)
}

final case class EmulatedFactory() extends LlmClientFactory {
  override def create(): LlmClient = new EmulatedClient
}
