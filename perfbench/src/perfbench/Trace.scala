package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds (wall clock at
  * nanosecond resolution), so spans line up with Spark's listener event
  * times, which are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(epochMs: Long): Boolean =
    epochMs >= startNs / 1000000L && epochMs <= endNs / 1000000L
}

/** In-memory span log for the traced pass. Off (every call a no-op apart
  * from running its body) unless [[Trace.start]] was called. Spans from
  * task threads (serving calls) take the innermost driver span open at
  * the time as parent. */
object Trace {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  @volatile private var spans: ConcurrentLinkedQueue[Span] = null
  @volatile private var open: List[Int] = Nil
  private val ids = new java.util.concurrent.atomic.AtomicInteger

  def start(): Unit = { spans = new ConcurrentLinkedQueue[Span]; open = Nil }
  def stop(): Seq[Span] = {
    val s = Option(spans).map(_.asScala.toVector).getOrElse(Vector.empty)
    spans = null; open = Nil
    s.sortBy(_.startNs)
  }

  /** Runs `body` inside a driver span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val log = spans
    if (log == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = nowNs
      try body
      finally {
        open = open.tail
        log.add(Span(id, parent, name, start, nowNs))
      }
    }
  }

  /** Records a finished interval measured with `System.nanoTime`. */
  def record(name: String, startNano: Long, endNano: Long): Unit = {
    val log = spans
    if (log != null)
      log.add(Span(ids.incrementAndGet(), open.headOption.getOrElse(0), name,
        startNano + epochOffsetNs, endNano + epochOffsetNs))
  }
}

/** Spark-side counters of the traced pass, collected from listener events
  * and attributed to driver spans by time: a job or stage belongs to the
  * span during which it was submitted. */
final class Recorder extends SparkListener {
  final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long, written: Long)

  private val jobStarts = new ConcurrentLinkedQueue[Long]
  private val stageSubmits = new ConcurrentHashMap[Int, Long]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmits.putIfAbsent(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.outputMetrics.bytesWritten))
  }

  def jobsIn(s: Span): Int = jobStarts.asScala.count(s.contains)

  def tasksIn(s: Span): Seq[TaskRec] = {
    val stages = stageSubmits.asScala.collect { case (id, t) if s.contains(t) => id }.toSet
    tasks.asScala.filter(t => stages.contains(t.stageId)).toVector
  }

  def stagesIn(s: Span): Int = stageSubmits.asScala.values.count(s.contains)
}
