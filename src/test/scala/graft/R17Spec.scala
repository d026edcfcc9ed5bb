package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.sim.Similarity

/** Round-17 pins — the structural kill of the rankTopK
  * ObjectHashAggregate sort-fallback cliff (r16 verdict #1).
  *
  * 1. `partialTopK` bound: every task emits ≤ k rows per query key —
  *    the invariant that makes the downstream TopK aggregation's input
  *    (and any sort-based fallback it takes) k×tasks-bounded per query
  *    instead of candidate-stream-sized. Measured failure this kills:
  *    at ×1000 on the DEFAULT fallbackThreshold (128 keys) the old
  *    plan sorted a multi-billion-row candidate stream and died ENOSPC.
  * 2. Exactness at >128 query keys on the DEFAULT threshold: the
  *    pre-reduced rankTopK equals a window row_number reference under
  *    the documented (score desc, id asc) total order, ties included —
  *    the bit-identity claim behind reusing the r16 ×1000 digests.
  * 3. `query_id` type passthrough: the pre-reduce must not change the
  *    operator's output schema (oracle hash compares schemas).
  * 4. lshTopK emit-once: no (query, neighbor) pair leaves the join
  *    twice without a dedup exchange.
  */
class R17Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Synthetic scored candidate stream: `q` queries × `rowsPerQ`
    * candidates across `parts` partitions, scores quantized to 2
    * decimals so ties are plentiful and the id tiebreak must decide. */
  private def scored(q: Int, rowsPerQ: Int, parts: Int): DataFrame =
    spark.range(q.toLong * rowsPerQ).repartition(parts)
      .select((col("id") % q).as("query_id"), col("id").as("neighbor_id"),
        (round(sin(col("id") * 7919) * 100) / 100).as("cos"))

  private def vecs(n: Int): DataFrame = {
    val dims = (1 to 64).map(d => sin((col("id") + 1) * d))
    spark.range(n).select(col("id").as("vec_id"),
      array(dims: _*).as("embedding"))
  }

  // ── the per-task per-query bound (the structural guarantee) ──

  test("partialTopK emits at most k rows per query per task") {
    val k = 5
    val pre = Similarity.partialTopK(scored(300, 40, 8), k)
    val maxPer = pre
      .groupBy(spark_partition_id().as("__p"), col("query_id"))
      .count().agg(max("count")).first().getLong(0)
    assert(maxPer <= k, s"per-task per-query bound violated: $maxPer > $k")
    // and it is a pure reduction: total rows ≤ parts × queries × k
    assert(pre.count() <= 8L * 300 * k)
  }

  // ── exactness at >fallbackThreshold keys on the DEFAULT conf ──

  test("rankTopK equals the window row_number reference at 200 query " +
      "keys on the DEFAULT fallbackThreshold, ties included") {
    // this test MUST run on the default threshold (128 — getOption
    // answers registered defaults) — the whole point is that the
    // pre-reduce makes the default harmless
    assert(spark.conf.getOption(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      .forall(_ == "128"))
    val k = 7
    val df = scored(200, 50, 8)
    val got = Similarity.rankTopK(df, k)
    val want = df
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "pre-reduced rankTopK diverged from the row_number total-order reference")
  }

  test("bruteForceTopK end-to-end at 200 queries on the DEFAULT threshold") {
    val emb = vecs(400)
    val res = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 200), "embedding", "vec_id", 3)
    // every query present, exactly k ranks each, ranks dense 1..k
    val perQ = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.count() == 200)
    assert(perQ.where(col("n") =!= 3 || col("mx") =!= 3 || col("mn") =!= 1)
      .isEmpty)
  }

  // ── schema passthrough ──

  test("partialTopK preserves the query_id column type") {
    val df = scored(10, 5, 2)
      .withColumn("query_id", concat(lit("q"), col("query_id")))
    val pre = Similarity.partialTopK(df, 3)
    assert(pre.schema("query_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(pre.where(col("query_id").startsWith("q")).count() == pre.count())
  }

  // ── lshTopK emit-once: no duplicate pairs without a dedup exchange ──

  test("lshTopK emits each (query, neighbor) pair at most once under " +
      "multi-table collisions (emit-once replaced dropDuplicates)") {
    // clone clusters: groups of identical vectors collide in EVERY
    // table, the maximal multi-collision shape — if a pair could leak
    // once per table, a neighbor would appear several times in a top-k
    val base = vecs(40)
    val corpus = (0 until 4).map(i =>
      base.select((col("vec_id") + lit(i * 1000)).as("vec_id"),
        col("embedding"))).reduce(_ unionAll _)
    val res = Similarity.lshTopK(corpus, base.filter(col("vec_id") < 8),
      "embedding", "vec_id", k = 6, bits = 8)
    val dup = res.groupBy("query_id", "neighbor_id").count()
      .where(col("count") > 1)
    assert(dup.isEmpty, "a candidate pair was emitted more than once")
    // and ranks stay dense 1..k per query
    val bad = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .where(col("n") =!= col("mx"))
    assert(bad.isEmpty, "rank sequence not dense — duplicate or lost rows")
  }
}
