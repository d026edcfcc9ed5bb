package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.dedup.MinHashDeduplicateFilter

/** Round-18 pins — the minhash band-verify witness walk (r17 verdict
  * #1: the band merge self-join was the engine's largest remaining
  * constant). The walk must reproduce the join's drop set EXACTLY:
  *
  * 1. Small buckets (≤ maxBandBucket): all-pairs keep-first semantics —
  *    j drops iff SOME earlier i in a shared bucket has Jaccard ≥
  *    threshold, including witnesses that were themselves dropped.
  * 2. Big buckets (> maxBandBucket): the min-only approximation is
  *    PRESERVED — a pair of later members that would match under
  *    all-pairs semantics must NOT drop (the documented recall cap),
  *    even when the bucket overflows mid-stream.
  * 3. Equal-orderKey rows never pair (the join's strict i < j), in
  *    small buckets and in a big bucket's streamed tail alike.
  * 4. The walk's emissions stay ids-only and bucket-local: several
  *    buckets hashed into one partition don't leak witnesses across
  *    bucket boundaries.
  */
class R18Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Synthetic banded table (doc_id, __sh, __band) — full control over
    * bucket membership, unlike text fixtures where banding is implicit. */
  private def banded(rows: Seq[(Long, Array[Long], Long)]) =
    rows.toDF("doc_id", "__sh", "__band")

  /** Sorted shingle array with `n` elements starting at `from`. */
  private def sh(from: Long, n: Int): Array[Long] =
    Array.tabulate(n)(i => from + i)

  private def walk(df: org.apache.spark.sql.DataFrame,
      cap: Int = 1024): Set[Long] = {
    val op = MinHashDeduplicateFilter("text", "doc_id", maxBandBucket = cap)
    op.bandVerifyDups(df).as[Long].collect().toSet
  }

  test("witness walk: all-pairs small-bucket semantics, dropped rows still witness") {
    // bucket 7: a=base, b≈a (dup), c≈b but NOT ≈a — c must drop via the
    // already-dropped b (witnesses are earlier rows, dropped or not).
    // 100-element sets, k replacements → J = (100−k)/(100+k):
    // J(a,b)=97/103≈0.942 ≥ 0.9; J(a,c)=94/106≈0.887 < 0.9;
    // J(b,c)=97/103≈0.942 ≥ 0.9.
    val a = sh(0, 100) // {0..99}
    val b = sh(0, 100).patch(0, (1000L to 1002L), 3).sorted
    val c = sh(0, 100).patch(0, (1000L to 1005L), 6).sorted
    val rows = Seq((1L, a, 7L), (2L, b, 7L), (3L, c, 7L),
      (9L, sh(5000, 50), 7L)) // dissimilar bucket-mate survives
    assert(walk(banded(rows)) == Set(2L, 3L))
  }

  test("witness walk: j with no earlier match survives even when a LATER row matches") {
    // keep-first: similarity to a LATER row never drops the earlier one
    val rows = Seq((5L, sh(0, 100), 1L), (6L, sh(0, 100), 1L))
    assert(walk(banded(rows)) == Set(6L))
  }

  test("witness walk: big-bucket min-only approximation is preserved") {
    // cap 3, bucket of 5: min m=0 is dissimilar to everything; x,y are
    // mutually similar later members. Under all-pairs y would drop via
    // x; under the join's min-only big-bucket path NEITHER drops. The
    // walk must reproduce the approximation (drop set identity, not
    // "better recall").
    val m = sh(0, 50)
    val x = sh(10000, 100)
    val y = sh(10000, 100).patch(0, Seq(99999L), 1).sorted // ~0.98 vs x
    val filler1 = sh(20000, 40)
    val filler2 = sh(30000, 40)
    val rows = Seq((0L, m, 4L), (1L, x, 4L), (2L, y, 4L),
      (3L, filler1, 4L), (4L, filler2, 4L))
    assert(walk(banded(rows), cap = 3) == Set.empty[Long])
    // control: the same bucket under the cap drops y via x
    assert(walk(banded(rows), cap = 1024) == Set(2L))
    // and a big bucket still drops members similar to the MIN: replace
    // the min with x's twin
    val rows2 = Seq((0L, x, 4L), (1L, y, 4L), (2L, m, 4L),
      (3L, filler1, 4L), (4L, filler2, 4L))
    assert(walk(banded(rows2), cap = 3) == Set(1L))
  }

  test("witness walk: equal orderKey values never pair") {
    val a = sh(0, 100)
    val rows = Seq((1L, a, 2L), (1L, a, 2L)) // identical id, identical set
    assert(walk(banded(rows)) == Set.empty[Long])
    // but a later distinct id still drops against either equal-key row
    val rows2 = Seq((1L, a, 2L), (1L, a, 2L), (2L, a, 2L))
    assert(walk(banded(rows2)) == Set(2L))
  }

  test("witness walk: big-bucket stream never pairs a row with an equal-key pool") {
    // cap 2, four rows sharing the minimum doc_id: the bucket overflows
    // with an all-min pool, and the 4th row streams against it. Equal
    // keys never pair (the join's strict i < j), so nothing drops.
    val a = sh(0, 100)
    val rows = Seq.fill(4)((1L, a, 3L))
    assert(walk(banded(rows), cap = 2) == Set.empty[Long])
    // a later distinct key still drops against the min pool
    assert(walk(banded(rows :+ ((2L, a, 3L))), cap = 2) == Set(2L))
  }

  test("witness walk: buckets are independent across and within partitions") {
    // same pair of similar docs split across two bands: dup emitted in
    // both buckets, distinct-able; a third doc alone in its bucket never
    // sees a witness from another bucket
    val a = sh(0, 100); val b = sh(0, 100)
    val rows = Seq((1L, a, 10L), (2L, b, 10L), (1L, a, 11L), (2L, b, 11L),
      (3L, a, 12L))
    val ids = walk(banded(rows))
    assert(ids == Set(2L)) // 3 has no bucket-mate; 2 drops (bands collapse via Set)
  }

  test("walked minhash still matches brute-force pairwise keep-first end to end") {
    // the R6 fixture shape, re-asserted at the operator level post-walk:
    // near-dup cluster (distinct shingle sets) + uniques
    val base = (0 until 80).map(t => s"tok$t")
    val rows = (0L until 150L).map { i =>
      val drop = (i % 80).toInt
      (i, base.zipWithIndex.collect { case (w, p) if p != drop => w }.mkString(" "))
    } ++ (1000L until 1040L).map(i =>
      (i, s"unique document $i about ${i * 31} and ${i * 7} and ${i * 13}"))
    val df = rows.toDF("doc_id", "text")
    val op = MinHashDeduplicateFilter("text", "doc_id", threshold = 0.9)
    val kept = op(df).select("doc_id").as[Long].collect().toSet
    val shs = rows.map { case (id, text) =>
      id -> graft.functions.kernels.shingleHashes(text.split("\\s+").toSeq, 3)
    }.sortBy(_._1)
    val drops = (for {
      ((i, si), xi) <- shs.zipWithIndex
      (j, sj) <- shs.drop(xi + 1)
      if graft.functions.kernels.jaccardSorted(si, sj) >= 0.9
    } yield j).toSet
    assert(kept == rows.map(_._1).toSet -- drops)
  }
}
