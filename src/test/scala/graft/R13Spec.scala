package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins.
  *
  * 1. Auto-knob job accounting: the r10-vs-r12 same-day A/B measured
  *    lshTopK's two eager gate jobs (auto-bits corpus count + broadcast
  *    gate query count, both added in r11) as the one REAL code
  *    regression inside the cross-round drift — 2 × the ~55 ms
  *    scheduling floor on every call at bench scale. The knobs stay
  *    (they are the 100 TB OOM guards); the pin is that they ride ONE
  *    job. Same contract for similarityJoin's auto path (r12 verdict
  *    #5): bits=0 must run exactly one ids-only count job feeding both
  *    knobs (key width and enumerate-stage width).
  */
class R13Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Jobs started inside `body`, attributed via an exclusive job group
    * (gate jobs run eagerly in the calling thread, so they inherit it).
    * The status store is fed asynchronously off the listener bus, so
    * poll until the count is stable. */
  private def jobsDuring(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    var spins = 0
    while (cur != last && spins < 20) {
      last = cur; Thread.sleep(200)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
      spins += 1
    }
    cur
  }

  /** One shared DataFrame: spark.read.parquet runs an eager
    * schema-inference job per CALL, which would otherwise be counted
    * by the probe. Reused, no further scan-infra jobs occur at plan
    * time. */
  private lazy val emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  test("lshTopK auto-bits + broadcast gate cost exactly one job") {
    import graft.ops.sim.Similarity
    // an exchange-free query side: a global limit would plant a shuffle
    // INSIDE the counted plan and AQE would materialize it as its own
    // stage job — a property of the caller's plan, not of the gate
    val queries = emb.where(col("vec_id") < 20)
    emb.schema // force any remaining scan infra outside the probe
    var df: DataFrame = null
    val n = jobsDuring("r13-lsh-gate") {
      df = Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 5)
    }
    assert(n == 1, s"expected exactly 1 gate job (combined count), saw $n")
    assert(df.count() > 0) // the plan the gate produced still runs
  }

  test("lshTopK explicit bits still gates the broadcast with one query-side job") {
    import graft.ops.sim.Similarity
    val queries = emb.where(col("vec_id") < 20)
    emb.schema
    val n = jobsDuring("r13-lsh-gate-explicit") {
      Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 5, bits = 8)
    }
    assert(n == 1, s"expected exactly 1 gate job (query side only), saw $n")
  }

  test("similarityJoin auto path costs exactly one count job for both knobs") {
    import graft.ops.sim.Similarity
    emb.schema
    val n = jobsDuring("r13-simjoin-gate") {
      Similarity.similarityJoin(emb, "embedding", "vec_id", 0.4)
    }
    assert(n == 1, s"expected exactly 1 ids-only count job, saw $n")
  }

  // ── artifact JSON must be locale-proof (r12 advice) ──

  test("jnum formats with Locale.ROOT regardless of the default locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.jnum(0.4, 2) == "0.40")
      assert(Bench.jnum(58.893, 3) == "58.893")
      // the trap jnum exists to avoid: the f interpolator is
      // locale-sensitive, and a comma is invalid JSON here
      assert(f"${0.4}%.2f" == "0,40")
    } finally java.util.Locale.setDefault(prev)
  }

  // ── wave failure path: scratch must not be stranded (r12 verdict #7) ──

  test("a failed wave job reclaims its own shuffle scratch before rethrowing") {
    import org.apache.spark.graftbridge.ShuffleCleanup
    val sc = spark.sparkContext
    // poison AFTER the exchange: the shuffle map stage completes and
    // writes real files; the result stage then dies on the marker row —
    // the executor-loss / disk-full / bad-row failure shape the waves
    // meet at 100 TB
    val poison = udf((x: Long) => {
      if (x == 42L) throw new RuntimeException("poisoned row"); x
    })
    val df = spark.range(1000).toDF("id")
      .repartition(8, col("id")).withColumn("p", poison(col("id")))
    val before = ShuffleCleanup.liveShuffleIds(sc)
    // toRdd materializes the AQE shuffle stage, so the files exist NOW
    val created = ShuffleCleanup.lineageShuffleIds(df.queryExecution.toRdd) -- before
    assert(created.nonEmpty, "test plan must have registered a shuffle")
    intercept[Exception] {
      graft.ops.dedup.MinHashDeduplicateFilter()
        .checkpointReclaimingOnFailure(df, sc, created)
    }
    assert((ShuffleCleanup.liveShuffleIds(sc) intersect created).isEmpty,
      "failed wave stranded its shuffle scratch")
  }

  // ── agg_vendi seam oracle: data → gram matrix → spectrum ──

  test("Vendi.kernel is bit-identical to the agg_vendi_gram query's matrix") {
    val dir = "/root/testdata/sf0.001"
    // same ordered capped sample on both paths
    val sm = spark.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id")
    val vecs = sm.select(col("embedding").cast("array<double>")).limit(128)
      .collect().map(_.getSeq[Double](0).toArray)
    val k = graft.ops.eval.Vendi.kernel(vecs)
    val ids = sm.select("vec_id").limit(128).collect().map(_.getLong(0))
    val idx = ids.zipWithIndex.toMap
    val gram = SparkEntry.queries("agg_vendi_gram")(spark, dir).collect()
    assert(gram.length == ids.length * (ids.length + 1) / 2)
    gram.foreach { r =>
      val (i, j) = (idx(r.getLong(0)), idx(r.getLong(1)))
      val kij = r.getDouble(2)
      assert(kij == k(i)(j), s"kernel mismatch at ($i,$j): $kij vs ${k(i)(j)}")
    }
  }

  test("Jacobi eigenvalues match an independent power-iteration eigensolver") {
    // deterministic pseudo-random PSD gram matrix (rank ≤ dim)
    val rng = new scala.util.Random(13L)
    val vecs = Array.fill(8)(Array.fill(5)(rng.nextDouble() - 0.5))
    val m = graft.ops.eval.Vendi.kernel(vecs)
    val jac = graft.ops.eval.Vendi.jacobiEigenvalues(m).sorted
    // naive: power iteration + deflation (written independently of the
    // Jacobi sweep; valid for symmetric PSD input)
    def naiveEig(m0: Array[Array[Double]]): Array[Double] = {
      val n = m0.length
      val a = m0.map(_.clone())
      val out = Array.ofDim[Double](n)
      for (e <- 0 until n) {
        var v = Array.tabulate(n)(i => 1.0 / math.sqrt(n.toDouble) + i * 1e-3)
        var lam = 0.0
        for (_ <- 0 until 3000) {
          val w = Array.tabulate(n)(i => (0 until n).map(j => a(i)(j) * v(j)).sum)
          val norm = math.sqrt(w.map(x => x * x).sum)
          if (norm > 1e-14) v = w.map(_ / norm)
          lam = (0 until n).map(i => (0 until n).map(j => v(i) * a(i)(j) * v(j)).sum).sum
        }
        out(e) = lam
        for (i <- 0 until n; j <- 0 until n) a(i)(j) -= lam * v(i) * v(j)
      }
      out
    }
    val ref = naiveEig(m).sorted
    jac.zip(ref).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-7, s"eig mismatch: $a vs $b")
    }
  }

  test("combined gate count agrees with separate counts (empty query side included)") {
    import graft.ops.sim.Similarity
    // 0-row query side: the union carries no side=1 rows, the gate must
    // read that as qCount=0 (broadcast) and still produce a valid plan
    val out = Similarity.lshTopK(emb, emb.limit(0), "embedding", "vec_id", k = 3)
    assert(out.count() == 0)
  }
}
