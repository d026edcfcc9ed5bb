package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 pins — the r15 ADVICE closures on the heal-gate plumbing,
  * seen from the operators.
  *
  * 1. ivfTopK with a shuffle-lineage query set on a starved corpus still
  *    heals and stays correct: its query count takes the AQE-managed
  *    fallback instead of finalizing exchanges through `toRdd`.
  * 2. `sideCounts` (via lshTopK bits=0) accepts a shuffle-lineage corpus:
  *    the tagged union then carries an exchange, and the old direct
  *    runJob would have driven it through toRdd — the fallback must
  *    yield the same auto-bits/gate decisions, i.e. the same plan shape
  *    and rows as a narrow corpus of identical content.
  */
class R16Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vecs(n: Int): DataFrame = {
    val dims = (1 to 64).map(d => sin((col("id") + 1) * d))
    spark.range(n).select(col("id").as("vec_id"),
      array(dims: _*).as("embedding"))
  }

  test("ivfTopK accepts a shuffle-lineage query set on a starved corpus") {
    import graft.ops.sim.Similarity
    val corpus = vecs(400).coalesce(1) // 1 split: gate consults qCount
    // a query set with an exchange in its lineage (repartition) and
    // enough rows to clear MinHealQueries — before r16 the gate drove
    // its exchanges through toRdd; now it must both heal and be correct
    val queries = vecs(1200).repartition(4, col("vec_id"))
    val res = Similarity.ivfTopK(corpus, queries, "embedding",
      "vec_id", k = 3, nLists = 4, nProbe = 4)
    val plan = res.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("roundrobin"),
      s"the heal must still fire for a shuffled 1200-row query set:\n$plan")
    assert(res.count() == 1200 * 3)
  }

  // ── sideCounts fallback: lshTopK bits=0 over a shuffled corpus ──

  test("lshTopK auto-bits works over a shuffle-lineage corpus") {
    import graft.ops.sim.Similarity
    val narrow = vecs(400)
    val shuffled = vecs(400).repartition(2, col("vec_id"))
    val queries = vecs(20)
    // bits=0 ⇒ sideCounts sees corpus+queries; the shuffled corpus puts
    // an exchange in the tagged union, taking the r16 fallback. Same
    // content ⇒ same auto-bits ⇒ same rows as the narrow corpus.
    val a = Similarity.lshTopK(narrow, queries, "embedding", "vec_id", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.lshTopK(shuffled, queries, "embedding", "vec_id", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b, s"narrow vs shuffled corpus disagree: ${a.size} vs ${b.size}")
  }
}
