package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.eval.CorpusEvaluators

/** Corpus-level evaluators against a naive in-test reference. */
class CorpusEvaluatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Direct CIDEr-unigram: a null side is an empty token list, document
    * frequency counts every pair whose reference has the token, and
    * idf = ln(pairs / dfreq). */
  private def naiveCider(pairs: Seq[(Long, String, String)]): Map[Long, Double] = {
    def toks(s: String) =
      if (s == null) Seq.empty[String] else s.split("\\s+").filter(_.nonEmpty).toSeq
    def tf(s: String) = toks(s).groupBy(identity).map { case (t, v) => t -> v.size }
    val n = pairs.size.toDouble
    val dfreq = pairs.flatMap(p => tf(p._3).keys).groupBy(identity)
      .map { case (t, v) => t -> v.size }
    pairs.map { case (id, pred, ref) =>
      val (tp, tr) = (tf(pred), tf(ref))
      def w(m: Map[String, Int]) =
        m.map { case (t, c) => t -> c * dfreq.get(t).map(d => math.log(n / d)).getOrElse(0.0) }
      val (wp, wr) = (w(tp), w(tr))
      val dot = wp.map { case (t, x) => x * wr.getOrElse(t, 0.0) }.sum
      val np = math.sqrt(wp.values.map(x => x * x).sum)
      val nr = math.sqrt(wr.values.map(x => x * x).sum)
      id -> (if (np == 0 || nr == 0) 0.0
        else BigDecimal(dot / (np * nr)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("ciderUnigram keeps null-side pairs at score 0 and counts their refs in dfreq") {
    val pairs = Seq[(Long, String, String)](
      (1L, null, "a b c"), // null prediction: ref tokens still count in dfreq
      (2L, "a b", "a b d"),
      (3L, "x y", "x z"),
      (4L, "a c", null))  // null reference
    val got = CorpusEvaluators.ciderUnigram(pairs.toDF("id", "pred", "ref"),
      "pred", "ref", "id").as[(Long, Double)].collect().toMap
    val want = naiveCider(pairs)
    assert(got.keySet == pairs.map(_._1).toSet, s"pairs lost: $got")
    assert(got(1L) == 0.0 && got(4L) == 0.0)
    want.foreach { case (id, s) =>
      assert(math.abs(got(id) - s) < 1e-6, s"id $id: got ${got(id)}, want $s")
    }
  }
}
