package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.util.hashing.MurmurHash3

import graft.serving.ServingClient

/** Latency-bearing stand-in for an LLM endpoint. Every call parks its
  * caller for 2 ms plus 100 µs per prompt (10 µs per embedded text), so a
  * call costs wall time but no CPU and starts no thread. Responses are a
  * pure function of (system prompt, prompt):
  *   - "JUDGE…" answers "yes" for about 80% of prompts;
  *   - "SCORE…" answers a score in [0, 10);
  *   - anything else echoes the prompt behind a short prefix.
  * Embeddings are signed word-hash vectors ([[StandInServing.vector]]):
  * texts that share words point the same way, unrelated texts are near
  * orthogonal, so similarity thresholds see real geometry. */
final case class StandInServing() extends ServingClient {
  import StandInServing._
  override def embeddingDim: Int = Dim

  def generate(prompts: Seq[String], systemPrompt: String): Seq[String] = {
    ServingMeter.call(prompts.length, 0, CallMicros + PromptMicros * prompts.length)
    prompts.map(respond(systemPrompt, _))
  }

  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    ServingMeter.call(0, texts.length, CallMicros + TextMicros * texts.length)
    texts.map(vector(_, Dim))
  }
}

object StandInServing {
  val Dim = 64
  val CallMicros = 2000L
  val PromptMicros = 100L
  val TextMicros = 10L

  def respond(systemPrompt: String, prompt: String): String = {
    val h = MurmurHash3.stringHash(prompt)
    if (systemPrompt.startsWith("JUDGE")) if ((h & 0xff) < 205) "yes" else "no"
    else if (systemPrompt.startsWith("SCORE")) (((h >>> 8) & 0x3ff) % 100 / 10.0).toString
    else s"Answer: $prompt"
  }

  /** Unit-length signed bag-of-words vector: each lower-cased word adds ±1
    * at a hashed coordinate. */
  def vector(text: String, dim: Int): Array[Double] = {
    val v = new Array[Double](dim)
    text.toLowerCase.split("[^\\p{L}\\p{N}]+").foreach { w =>
      if (w.nonEmpty) {
        val h = MurmurHash3.stringHash(w, 0x5bd1e995)
        v(Math.floorMod(h, dim)) += (if ((h & 0x10000) != 0) 1.0 else -1.0)
      }
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    if (norm > 0) { var i = 0; while (i < dim) { v(i) /= norm; i += 1 } }
    v
  }
}

/** Process-wide counters of the stand-in. Spark runs tasks in this JVM
  * (`local[n]`), so the copies of the client that tasks deserialize all
  * count here. */
object ServingMeter {
  final case class Snapshot(calls: Long, prompts: Long, embedTexts: Long, waitNanos: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(calls - o.calls, prompts - o.prompts, embedTexts - o.embedTexts, waitNanos - o.waitNanos)
  }

  private val calls = new AtomicLong
  private val prompts = new AtomicLong
  private val embedTexts = new AtomicLong
  private val waitNanos = new AtomicLong
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger

  def snapshot: Snapshot = Snapshot(calls.get, prompts.get, embedTexts.get, waitNanos.get)

  /** Highest number of calls in flight at once since the last reset. */
  def takeMaxInflight(): Int = maxInflight.getAndSet(0)

  private[perfbench] def call(nPrompts: Int, nTexts: Int, micros: Long): Unit = {
    calls.incrementAndGet()
    prompts.addAndGet(nPrompts)
    embedTexts.addAndGet(nTexts)
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
    val start = System.nanoTime()
    val deadline = start + micros * 1000L
    var left = deadline - start
    while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
    val end = System.nanoTime()
    inflight.decrementAndGet()
    waitNanos.addAndGet(end - start)
    Trace.record("serving.call", start, end)
  }
}
