package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Partitioning

/** `core.Partitioning`'s stage-width module: the width function, the
  * widen-if-starved rule, its zero-job width probe, and the single-job
  * gate counts.
  *
  * 1. `stageWidth` floors at the session default, caps at 8× slots and
  *    is monotone in the row count.
  * 2. `lazyScanWidth` reads a plan's width WITHOUT executing it: zero
  *    jobs for a narrow plan and for every refusal (shuffle lineage, an
  *    unbuilt cache, width-changing nodes over a built cache), and the
  *    cached RDD's width for a built cache.
  * 3. `widenIfStarved` probes width first and evaluates its by-name work
  *    gate only when the input is starved.
  * 4. `oneJobCount` equals count() in exactly one job on an
  *    exchange-free input and stays correct on shuffle lineage.
  */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Jobs started inside `body`, attributed via an exclusive job group
    * (gate jobs run eagerly in the calling thread, so they inherit it).
    * The status store is fed asynchronously, so poll until stable. */
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

  /** Deterministic synthetic vectors: 64 dims of sin((id+1) * dim). */
  private def vecs(n: Int): DataFrame = {
    val dims = (1 to 64).map(d => sin((col("id") + 1) * d))
    spark.range(n).select(col("id").as("vec_id"),
      array(dims: _*).as("embedding"))
  }

  // ── stageWidth ──

  test("stageWidth: floor at session default, cap at 8x slots, monotone") {
    import Partitioning.stageWidth
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cap = math.max(base, 8 * spark.sparkContext.defaultParallelism)
    // tiny corpus: never plan coarser than the session default
    assert(stageWidth(2000, spark) == base)
    // huge corpus: bounded by the slot-derived cap
    assert(stageWidth(100_000_000L, spark) == cap)
    // monotone non-decreasing in n across the range
    val ns = Seq(0L, 2000L, 200000L, 2000000L, 100000000L)
    val ps = ns.map(stageWidth(_, spark))
    assert(ps == ps.sorted)
    assert(ps.forall(p => p >= base && p <= cap))
  }

  // ── lazyScanWidth: the zero-execution width probe ──

  test("lazyScanWidth reads a narrow plan's width with zero jobs") {
    val narrow = vecs(100).coalesce(1)
    var got: Option[Int] = None
    val n = jobsDuring("lazy-width-narrow") {
      got = Partitioning.lazyScanWidth(narrow)
    }
    assert(got.contains(1), s"expected Some(1) for a coalesced scan, got $got")
    assert(n == 0, s"width probe of a narrow plan ran $n job(s)")
  }

  test("lazyScanWidth refuses a shuffle-lineage plan with zero jobs") {
    // hash repartition → Exchange → AQE wraps the plan; probing its RDD
    // would materialize the shuffle
    val shuffled = vecs(100).repartition(2, col("vec_id"))
    var got: Option[Int] = Some(-1)
    val n = jobsDuring("lazy-width-shuffle") {
      got = Partitioning.lazyScanWidth(shuffled)
    }
    assert(got.isEmpty, s"expected None for shuffle lineage, got $got")
    assert(n == 0, s"the WHOLE POINT is zero jobs; saw $n")
  }

  test("lazyScanWidth refuses an UNMATERIALIZED cache with zero jobs") {
    // shuffle-lineage plan behind a cache: the scan node is an
    // InMemoryTableScanExec (not an Exchange), but building its RDD
    // would execute the cached plan — cache build + shuffle jobs
    val cached = vecs(100).repartition(2, col("vec_id")).cache()
    try {
      var got: Option[Int] = Some(-1)
      val n = jobsDuring("lazy-width-unbuilt-cache") {
        got = Partitioning.lazyScanWidth(cached)
      }
      assert(got.isEmpty,
        s"expected None for a cached-but-unbuilt shuffle lineage, got $got")
      assert(n == 0, s"the zero-jobs contract is the whole point; saw $n")
    } finally cached.unpersist(true)
  }

  test("lazyScanWidth answers a MATERIALIZED cache's width with zero jobs") {
    val cached = vecs(100).repartition(2, col("vec_id")).cache()
    try {
      cached.count() // materialize OUTSIDE the probed window
      var got: Option[Int] = None
      val n = jobsDuring("lazy-width-built-cache") {
        got = Partitioning.lazyScanWidth(cached)
      }
      assert(got.contains(2),
        s"a built cache's width is pure metadata (2 cached partitions), got $got")
      assert(n == 0, s"reading a built cache's width ran $n job(s)")
    } finally cached.unpersist(true)
  }

  test("lazyScanWidth refuses coalesce and union over a BUILT cache") {
    val c = vecs(1000).repartition(8).cache()
    try {
      c.count() // materialize: the cache scan alone answers Some(8)
      assert(Partitioning.lazyScanWidth(c.select(col("vec_id"))) == Some(8),
        "width-preserving narrow chain over a built cache must still answer")
      assert(Partitioning.lazyScanWidth(c.coalesce(1)).isEmpty,
        "coalesce over a built cache must refuse — root width ≠ scan width")
      assert(Partitioning.lazyScanWidth(c.union(c)).isEmpty,
        "union over built caches must refuse — root width ≠ scan width")
    } finally { c.unpersist(); () }
  }

  // ── widenIfStarved: the one rule ──

  /** Partition count of the outermost repartition in `df`'s plan. */
  private def repartitionedTo(df: DataFrame): Option[Int] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation =>
        r.numPartitions
    }

  test("widenIfStarved: width-first gate order — work paid only when starved") {
    val floor = spark.sparkContext.defaultParallelism
    // wide input: the by-name work gate must NEVER be evaluated (the
    // common big-cluster path pays zero gate jobs) — a throwing thunk
    // is the strongest possible pin on that ordering
    val wide = vecs(400).coalesce(floor)
    assert(Partitioning.widenIfStarved(wide,
      work = sys.error("work evaluated on a wide input")) eq wide)
    // shuffle-lineage input: same refusal, same zero-evaluation pin
    val shuffled = vecs(400).repartition(2, col("vec_id"))
    assert(Partitioning.widenIfStarved(shuffled,
      work = sys.error("work evaluated on shuffle lineage")) eq shuffled)
    // starved input: the gate IS consulted; widens to the slot count
    // only when it says the work pays for the exchange
    val starved = vecs(400).coalesce(1)
    assert(repartitionedTo(Partitioning.widenIfStarved(starved, work = true))
      .contains(floor))
    assert(Partitioning.widenIfStarved(starved, work = false) eq starved)
    // with a key the widening hash-partitions on it
    val keyed = Partitioning.widenIfStarved(starved, key = Some(col("vec_id")))
    assert(repartitionedTo(keyed).contains(floor))
    assert(keyed.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression])
  }

  // ── oneJobCount: correct and exactly one job ──

  test("oneJobCount equals count() and costs exactly one job") {
    val emb = vecs(3000)
    val expected = emb.where(col("vec_id") % 3 === 0).count()
    var got = -1L
    val n = jobsDuring("one-job-count") {
      got = Partitioning.oneJobCount(emb.where(col("vec_id") % 3 === 0))
    }
    assert(got == expected, s"oneJobCount $got != count() $expected")
    assert(n == 1, s"expected exactly 1 job, saw $n")
  }

  test("oneJobCount costs exactly one job on an exchange-free input") {
    var c = -1L
    val n = jobsDuring("one-job-narrow") {
      c = Partitioning.oneJobCount(vecs(123))
    }
    assert(c == 123L)
    assert(n == 1, s"exchange-free fast path must stay one job, saw $n")
  }

  test("oneJobCount on a shuffle-lineage input is correct via the fallback") {
    // groupBy lineage: the narrow projection still carries the exchange,
    // and toRdd would finalize it under AQE. The fallback must return
    // the right number.
    val grouped = vecs(200)
      .groupBy((col("vec_id") % 7).as("g")).count()
    assert(Partitioning.oneJobCount(grouped) == 7L)
  }
}
