package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.core.{Pipeline, Storage}

/** One benchmark run: set up a workload, warm it up, run it as a closed
  * loop with one client for `--seconds`, check every pass's output, and
  * print the end-to-end metrics (`--trace 0`) or, after one more traced
  * pass, the per-layer metrics (`--trace 1`). The last stdout line is the
  * result as one JSON object.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <scratch dir> */
object Main {
  /** Full passes before timing starts: the first loads classes and
    * compiles generated code (3 to 5 times a steady pass), the rest let
    * the JIT settle, which takes about four more passes. */
  val WarmupPasses = 5
  val MinTimedPasses = 3
  val SetupRepeats = 3

  /** One untraced pass: its wall and CPU time, the serving traffic it
    * caused, and the verdict of its output check. */
  final case class Pass(wallS: Double, cpuS: Double, llmPrompts: Long, checkS: Double,
      errors: Seq[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(args("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}; " +
        s"choose one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    sys.exit(new Run(wl, seed, seconds, traced, work).apply())
  }

  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

final class Run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, work: String) {
  import Main._

  private val cpus = LocalSpark.cpusFromEnv.toInt
  private val outPath = s"$work/out/${wl.name}.parquet"
  private val serving = StandInServing()
  private var reference: Option[(Long, Long)] = None
  private var attempted = 0
  private var failed = 0

  def apply(): Int = {
    val spark = LocalSpark.session(cpus.toString)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var inputRows = 0L
    val prepareS = median((1 to SetupRepeats).map { _ =>
      wl.release()
      val t0 = System.nanoTime()
      inputRows = wl.prepare(spark, seed)
      (System.nanoTime() - t0) / 1e9
    })
    val warmupPasses = (1 to WarmupPasses).map(_ => pass(spark))
    val warmup = warmupPasses.map(_.wallS)
    val warmupS = warmup.sum
    val setupS = sessionS + prepareS + warmupS

    val timed = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    while (timed.length < MinTimedPasses || (System.nanoTime() - start) / 1e9 < seconds)
      timed += pass(spark)
    val ok = timed.filter(_.errors.isEmpty)
    val timeS = median(ok.map(_.wallS))
    val endToEnd = Seq(
      ("time_to_result_s", timeS, "s"),
      ("rows_per_s", inputRows / timeS, "1/s"),
      ("cpu_s", median(ok.map(_.cpuS)), "s"),
      ("setup_s", setupS, "s"))
    val llmPrompts = median(ok.map(_.llmPrompts.toDouble))

    val layers = if (traced) Some(tracedPass(spark, timeS)) else None
    val correct = failed == 0
    println(f"# ${wl.name} seed $seed: $inputRows input rows, ${timed.length} timed passes " +
      f"after ${warmup.length} warm-up, ${if (correct) "output check passed" else "OUTPUT CHECK FAILED"}")
    println(s"# pass walls: warm-up ${warmup.map(w => f"$w%.3f").mkString(" ")}, timed " +
      timed.map(p => f"${p.wallS}%.3f").mkString(" ") + "; checks " +
      (warmupPasses ++ timed).map(p => f"${p.checkS}%.3f").mkString(" "))
    println(f"# setup_s = session $sessionS%.3f + generate/cache $prepareS%.3f (median of " +
      f"$SetupRepeats) + warm-up $warmupS%.3f")
    (endToEnd ++ Seq(("llm_prompts", llmPrompts, "count"),
      ("fail_ratio", failed.toDouble / attempted, "ratio"))).foreach { case (n, v, u) =>
      println(f"#   $n%-18s $v%14.4f $u")
    }
    val reported = layers.getOrElse(endToEnd)
    val metrics = reported.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else if (u == "count") v.round.toString else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    if (correct) 0 else 1
  }

  /** Runs the pipeline once through `Pipeline.apply` and `Storage.write`,
    * then checks what was written. */
  private def pass(spark: SparkSession): Pass = {
    val s0 = ServingMeter.snapshot
    val c0 = cpuNanos
    val t0 = System.nanoTime()
    val result = try {
      Storage.write(Pipeline(wl.ops(serving))(wl.input), outPath)
      None
    } catch { case e: Exception => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNanos - c0) / 1e9
    val s = ServingMeter.snapshot - s0
    val v0 = System.nanoTime()
    val errors = result match {
      case Some(e) => Seq(s"pass threw ${e.getClass.getName}: ${e.getMessage}")
      case None => verify(spark)._1
    }
    val checkS = (System.nanoTime() - v0) / 1e9
    attempted += 1
    if (errors.nonEmpty) {
      failed += 1
      errors.foreach(e => System.err.println(s"[perfbench] ${wl.name}: $e"))
    }
    Pass(wall, cpu, s.prompts + s.embedTexts, checkS, errors)
  }

  /** Output check: the workload's invariants plus an order-independent
    * digest over every column, which must equal the first pass's. Each
    * row's 64-bit hash is masked to 32 bits before the sum, so the sum
    * cannot overflow. One job reads the result back; the invariants run
    * on the collected rows. Returns the violations and those rows. */
  private def verify(spark: SparkSession): (Seq[String], Seq[Row]) = {
    val out = spark.read.parquet(outPath)
    val h = xxhash64(out.columns.map(c => col(c)).toIndexedSeq: _*).bitwiseAND(lit(0xFFFFFFFFL))
    val collected = out.select(h +: wl.checkColumns: _*).collect()
    val digest = (collected.length.toLong, collected.map(_.getLong(0)).sum)
    val rows = collected.map(r => Row.fromSeq(r.toSeq.tail)).toIndexedSeq
    val drift = reference match {
      case None => reference = Some(digest); None
      case Some(d) if d != digest => Some(s"digest $digest differs from the first pass's $d")
      case _ => None
    }
    ((wl.check(rows) ++ drift).toVector, rows)
  }

  /** One pass with the op-by-op fold, the listener and spans switched on,
    * followed by the prefix materializations that give per-op rows and
    * incremental times. */
  private def tracedPass(spark: SparkSession, untracedS: Double): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sc.addSparkListener(rec)
    ServingMeter.takeMaxInflight()
    Trace.start()
    val s0 = ServingMeter.snapshot
    val t0 = System.nanoTime()
    val (ops, frames) = Trace.span("pass") {
      val ops = wl.ops(serving)
      Pipeline(ops).validate(wl.input.columns.toIndexedSeq)
      val frames = ops.scanLeft(wl.input)((d, op) => Trace.span(s"apply:${op.name}")(op(d)))
      Trace.span("sink")(Storage.write(frames.last, outPath))
      (ops, frames)
    }
    val tracedS = (System.nanoTime() - t0) / 1e9
    val s = ServingMeter.snapshot - s0
    val maxInflight = ServingMeter.takeMaxInflight()
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sc.removeSparkListener(rec)
    attempted += 1
    val (errors, outRows) = verify(spark)
    if (errors.nonEmpty) {
      failed += 1
      errors.foreach(e => System.err.println(s"[perfbench] ${wl.name} traced: $e"))
    }

    // the session's first noop write pays a one-off set-up; keep it out of
    // prefix 0, which every incremental time is measured against
    wl.input.write.format("noop").mode("overwrite").save()
    val prefix = frames.zipWithIndex.map { case (d, k) =>
      Trace.span(s"prefix:$k") {
        val obs = Observation(s"prefix$k")
        val t = System.nanoTime()
        d.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t) / 1e9, obs.get("rows").asInstanceOf[Long])
      }
    }
    val spans = Trace.stop()
    writeSpans(spans)

    def spanOf(name: String) = spans.find(_.name == name)
    val applySpans = ops.map(op => spanOf(s"apply:${op.name}").get)
    val sink = spanOf("sink").get
    val rowsOut = ops.zipWithIndex.map { case (op, i) => op.name -> prefix(i + 1)._2 }.toMap
    val rowsIn = ops.zipWithIndex.map { case (op, i) => op.name -> prefix(i)._2 }.toMap
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = out(n) = (v, u)

    put("core.plan_s", applySpans.map(_.seconds).sum, "s")
    put("core.plan_jobs", applySpans.map(rec.jobsIn).sum.toDouble, "count")
    put("core.exec_s", sink.seconds, "s")
    val sinkTasks = rec.tasksIn(sink)
    put("core.write_mb", sinkTasks.map(_.written).sum / 1048576.0, "MB")

    val mine = ops.zipWithIndex.map { case (op, i) => op.name -> i }.toMap
    Run.allOpNames.foreach { name =>
      val i = mine.get(name)
      put(s"ops.$name.apply_s", i.map(applySpans(_).seconds).getOrElse(0.0), "s")
      put(s"ops.$name.apply_jobs", i.map(j => rec.jobsIn(applySpans(j)).toDouble).getOrElse(0.0), "count")
      put(s"ops.$name.rows_out", i.map(j => prefix(j + 1)._2.toDouble).getOrElse(0.0), "count")
      put(s"ops.$name.incr_s", i.map(j => prefix(j + 1)._1 - prefix(j)._1).getOrElse(0.0), "s")
    }

    val taskS = sinkTasks.map(_.runMs).sum / 1e3
    put("spark.jobs", rec.jobsIn(sink).toDouble, "count")
    put("spark.stages", rec.stagesIn(sink).toDouble, "count")
    put("spark.tasks", sinkTasks.length.toDouble, "count")
    put("spark.task_s", taskS, "s")
    put("spark.task_cpu_s", sinkTasks.map(_.cpuNs).sum / 1e9, "s")
    put("spark.gc_s", sinkTasks.map(_.gcMs).sum / 1e3, "s")
    put("spark.shuffle_write_mb", sinkTasks.map(_.shuffleWrite).sum / 1048576.0, "MB")
    put("spark.shuffle_read_mb", sinkTasks.map(_.shuffleRead).sum / 1048576.0, "MB")
    put("spark.spill_mb", sinkTasks.map(_.spill).sum / 1048576.0, "MB")
    put("spark.peak_exec_mem_mb",
      (if (sinkTasks.isEmpty) 0L else sinkTasks.map(_.peakMem).max) / 1048576.0, "MB")
    put("spark.busy_ratio", taskS / (sink.seconds * cpus), "ratio")
    val skews = sinkTasks.groupBy(_.stageId).values.filter(_.length >= 2).map { ts =>
      val run = ts.map(_.runMs.toDouble)
      run.max / math.max(1.0, median(run))
    }
    put("spark.skew", if (skews.isEmpty) 1.0 else skews.max, "ratio")

    val needed = wl.llmOps.toSeq.map(rowsIn.getOrElse(_, 0L)).sum
    put("serving.calls", s.calls.toDouble, "count")
    put("serving.prompts", s.prompts.toDouble, "count")
    put("serving.embed_texts", s.embedTexts.toDouble, "count")
    put("serving.wait_s", s.waitNanos / 1e9, "s")
    put("serving.max_inflight", maxInflight.toDouble, "count")
    put("serving.redundancy",
      if (needed == 0) 0.0 else (s.prompts + s.embedTexts).toDouble / needed, "ratio")
    put("llm_prompts", (s.prompts + s.embedTexts).toDouble, "count")

    val dedup = wl.dedupMetrics(outRows, rowsOut, rowsIn)
    Seq("dedup.exact_recall", "dedup.near_recall", "dedup.sem_keep_ratio").foreach { n =>
      put(n, dedup.getOrElse(n, 0.0), "ratio")
    }
    put("trace.overhead_s", tracedS - untracedS, "s")

    println(f"# traced pass ${tracedS}%.4f s against the untraced median ${untracedS}%.4f s")
    out.toSeq.map { case (n, (v, u)) => (n, v, u) }
  }

  private def writeSpans(spans: Seq[Span]): Unit = {
    val dir = new java.io.File(s"$work/trace")
    dir.mkdirs()
    val runId = s"${wl.name}-seed$seed"
    val w = new java.io.PrintWriter(new java.io.File(dir, s"$runId.jsonl"), "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }
}

object Run {
  /** Every op name of every workload: each traced run reports the same
    * metric set, with zeros for ops its pipeline does not contain. */
  lazy val allOpNames: Seq[String] =
    Workloads.all.flatMap(_.ops(StandInServing()).map(_.name)).distinct
}
