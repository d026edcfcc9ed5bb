package graft.ops.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Op
import graft.functions.text._

/** Deduplication family — SURVEY §2.3.
  *
  * Reference semantics are order-dependent: first occurrence in file order
  * wins (`general_text/filter/hash_deduplicate_filter.py:78-88`). We make
  * that explicit and distributed-safe with a stable `orderKey` column: the
  * row with the smallest `orderKey` in each duplicate group is kept.
  *
  * Scale notes (100 TB): exact dedup is ONE hash-partitioned shuffle on the
  * digest (window over hash). Near-dup (MinHash/SimHash) avoids the O(n²)
  * pairwise pass of the reference via LSH banding: a self-join keyed on
  * band buckets — shuffle is proportional to candidate pairs, not n².
  * Candidate pairs are then verified EXACTLY (Jaccard / Hamming), so
  * banding only prunes; with 128 perms / 32 bands the probability of
  * missing a true pair at threshold 0.9 is ~1e-15.
  */

/** Exact dedup on the digest of one or more columns
  * (`hash_deduplicate_filter.py:10-88`: md5/sha256/xxh3 over concat). */
final case class HashDeduplicateFilter(cols: Seq[String] = Seq("text"),
    orderKey: String = "doc_id", algo: String = "md5") extends Op {
  val name = "hash_deduplicate_filter"
  val inputKeys = cols :+ orderKey
  val outputKeys = Nil
  def digest: Column = {
    val c = concat_ws("\u0001", cols.map(col): _*)
    algo match {
      case "md5"    => md5(c)
      case "sha256" => sha2(c, 256)
      case "xxh64"  => xxhash64(c).cast("string")
      case other    => throw new IllegalArgumentException(s"algo $other")
    }
  }
  def apply(df: DataFrame): DataFrame =
    Dedup.keepFirst(df, digest, col(orderKey))
}

/** CCNet-style dedup on the first 64 bits of a digest
  * (`text_pt/filter/ccnet_deduplicate_filter.py:43-78`; sha1 there, md5
  * prefix here — same hash-prefix semantics, portable oracle). */
final case class CCNetDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id") extends Op {
  val name = "ccnet_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame =
    Dedup.keepFirst(df, hashPrefix64(col(inputKey)), col(orderKey))
}

/** Dedup on the hash of the SORTED DISTINCT word n-gram set — robust to
  * reordering/small shifts (`ngramhash_deduplicate_filter.py:10-53`). */
final case class NgramHashDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id", n: Int = 3) extends Op {
  val name = "ngram_hash_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    // imperative kernel building the identical digest input (sorted
    // distinct n-grams concatenated) -- same grouping as the expression
    // form, ~5x faster than the nested array expression tree
    val nn = n
    val digest = udf { ws: Seq[String] =>
      val set = new java.util.TreeSet[String]()
      if (ws != null && ws.length >= nn) {
        var i = 0
        while (i <= ws.length - nn) { set.add(ws.slice(i, i + nn).mkString(" ")); i += 1 }
      }
      val sb = new StringBuilder
      set.forEach(g => sb.append(g))
      org.apache.commons.codec.digest.DigestUtils.md5Hex(sb.toString)
    }
    Dedup.keepFirst(df, digest(words(col(inputKey))), col(orderKey))
  }
}

/** MinHash + LSH-banding near-dedup
  * (`minhash_deduplicate_filter.py:9-88`: datasketch MinHash 128 perms,
  * threshold 0.9). Pipeline: shingle → 128-perm minhash signature → 32
  * band keys → ONE band-keyed exchange + per-bucket witness walk with
  * the EXACT Jaccard verify (ids-only output) → drop the later row of
  * every similar pair. */
final case class MinHashDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id", ngram: Int = 3, numPerm: Int = 128,
    bands: Int = 32, threshold: Double = 0.9,
    maxBandBucket: Int = 1024,
    scratchBudgetBytes: Long = 0L) extends Op {
  require(numPerm % bands == 0, "bands must divide numPerm")
  require(scratchBudgetBytes >= 0,
    "scratchBudgetBytes must be >= 0 (0 = auto-size from spark.local.dir)")
  val name = "minhash_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil

  /** Sorted distinct 64-bit shingle hashes per doc — hashed ONCE per
    * document, so the pair-verify below is a cheap merge-walk instead of
    * per-pair string hashing. 64-bit: the chance any pair's Jaccard is
    * perturbed by a collision is ~|shingles|²/2⁶⁴ ≈ 1e-13 — the
    * exact-string SQL oracle still reproduces decisions.
    * Kernel shared with the SQL-registered `minhash_bands`
    * ([[graft.functions.kernels]]). */
  private val shingleHashes = {
    val nn = ngram
    udf { ws: Seq[String] => graft.functions.kernels.shingleHashes(ws, nn) }
  }

  /** Band bucket keys from the hashed shingle set (LSH pruning only) —
    * the PACKED long form ([[graft.functions.kernels.minhashBandKeysPacked]]):
    * identical grouping to the SQL-surface "band:hash" strings (the
    * packing is injective), but the corpus-sized band-key stage
    * allocates one long[] per row instead of `bands` strings + a
    * copyOfRange each, and every banded row / band SMJ sort key carries
    * 8 fixed bytes instead of a ~14-char string. The 8 GiB/32-thread
    * ×1000 heap probe died of GC-overhead in exactly this stage's
    * DISK_ONLY cache build (band-key UDF churn feeding the columnar
    * serializer); packed keys cut that stage's allocation ~8×. */
  private val bandKeys = {
    val (np, nb) = (numPerm, bands)
    udf { hs: Seq[Long] => graft.functions.kernels.minhashBandKeysPacked(hs, np, nb) }
  }

  def apply(df: DataFrame): DataFrame = {
    // The shingle table feeds the identical-set window, the banding pass,
    // and BOTH sides of the pair verify — uncached, each consumer re-runs
    // the shingle hashing over the whole corpus. Persist it, materialize
    // the duplicate ids eagerly, release. DISK_ONLY, same reasoning as
    // repsB below: this table is corpus-sized (~8 B × every shingle), so
    // at the scales where caching matters its MEMORY_AND_DISK batches
    // crowd the heap while the downstream window-sort + band-key stage
    // (full-corpus sort pages + UDF churn + cache builders) already runs
    // near the GC ceiling — a ×1000 (5M-doc, 378M-shingle) probe on an
    // 8 GiB / 32-thread JVM died of GC-overhead-limit in exactly that
    // stage. At small SF the OS page cache serves the re-reads at memory
    // speed anyway, so DISK_ONLY costs nothing locally.
    //
    // EXECUTOR SIZING (round-11 probe matrix, ×1000 = 5M docs / 378M
    // shingles, ParallelGC): the stage's live set is the UNIFIED-POOL
    // sort pages of the identical-set window (the pool fills to its
    // cap, ~0.6×heap by default, before spilling) PLUS ~85 MB per
    // executor thread of UNTRACKED allocations (DISK_ONLY columnar
    // batch builders, shuffle fetch buffers, window-partition row
    // copies). GC-overhead death when live exceeds ~90% of heap, i.e.
    //   heap ≳ 3.3 × threads × 85 MB   (at default memory fraction)
    // Measured: 8 GiB/32t dies (live 7.3/7.8 GB, 99 back-to-back full
    // GCs); 12 GiB/32t and 16 GiB/32t complete; 8 GiB/32t ALSO
    // completes with spark.memory.fraction=0.35 (pool capped at
    // 2.6 GB → live ~5.4 GB — the escape hatch for heap-starved
    // executors, at the price of extra window-sort spill I/O). The
    // old "≥500 MB/thread" rule from round 9 was a coincidence of the
    // two probed points; the pool term does not scale with threads.
    // Per-thread overhead grows with document shingle count (~75 here).
    val withSh = shingled(df)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val groups = bandGroupCount(withSh)
      val dups = (
        if (groups <= 1) duplicateIds(withSh)
        else groupedDuplicateIds(withSh, groups)
      ).localCheckpoint() // eager: one id column — lets apply() unpersist
      df.join(dups, Seq(orderKey), "left_anti")
    } finally withSh.unpersist(false)
  }

  /** How many sequential band waves to split the LSH pass into, from the
    * measured shingle volume. The band exchange replicates each doc's
    * shingle array once per band, so the banded table is ~bands ×
    * corpus-shingle bytes — LINEAR in corpus size but with a ×32
    * constant: a 5M-doc ×1000 probe needed ~105 GB of shuffle scratch
    * and died on a 70 GB-free disk while the same plan at ×100 (a tenth
    * the corpus) ran fine. Splitting the band set into waves divides the
    * PEAK footprint by the wave count at unchanged total bytes: every
    * band bucket lives wholly inside one wave, so the union of the
    * waves' verified pairs is EXACTLY the single-pass candidate set
    * (grouping is a partition of bands, not an approximation).
    * One small agg over the already-persisted shingle table; corpora
    * under the budget keep the single-job plan bit for bit.
    *
    * The budget governs a wave's PEAK on-disk bytes, which since the
    * r18 witness walk is ~2× the wave's banded-table slice, not 1×:
    * the wave holds the band exchange's shuffle files (1×) plus the
    * reduce-side (__band, orderKey) sort's spill (≤1× — it re-spills
    * the fetched slice), and neither can be reclaimed until the wave's
    * job finishes. (The pre-r18 merge self-join held THREE copies —
    * window exchange + two differently-projected sorted join inputs —
    * measured at ×1000 when a 5-wave split sized 1× peaked ~60 GB and
    * filled the disk mid-sort-spill.) */
  private[graft] def bandGroupCount(withSh: DataFrame): Int = {
    val row = withSh.agg(
      sum(size(col("__sh"))).cast("long"), count(lit(1))).first()
    val shEntries = if (row.isNullAt(0)) 0L else row.getLong(0)
    val rows = row.getLong(1)
    // the budget defends a REAL disk, so by default it tracks that disk:
    // waves trade wall for bounded scratch (×1000 paid ×23.6 wall at a
    // 24 GiB constant that ignored the machine), and a constant budget
    // on a roomier disk serializes waves for no protection at all.
    // Explicit scratchBudgetBytes overrides for shared-disk deployments.
    val budget =
      if (scratchBudgetBytes > 0) scratchBudgetBytes
      else MinHashDeduplicateFilter.autoScratchBudget(withSh.sparkSession)
    // 8 B per shingle hash + ~48 B/row of band key, id, and row headers,
    // ×2 concurrent on-disk copies per wave (band exchange + walk sort
    // spill; the pre-r18 join shape held 3 — see the scaladoc)
    val bandedBytes = (shEntries * 8L + rows * 48L) * bands * 2L
    val g = ((bandedBytes + budget - 1) / budget).toInt
    val groups = math.max(1, math.min(bands, g))
    // scale-evidence breadcrumb: when waves engage, record the estimate
    // that sized them (stdout JSON so bench harnesses that keep only
    // "metric" lines capture it; silent in the common single-pass case)
    if (groups > 1) println(s"""{"metric":"minhash_waves","rows":$rows,""" +
      s""""shingle_entries":$shEntries,"estimated_scratch_bytes":$bandedBytes,""" +
      s""""budget_bytes":$budget,"groups":$groups}""")
    groups
  }

  /** (orderKey, sorted distinct shingle hashes) per row. */
  private[graft] def shingled(df: DataFrame): DataFrame =
    df.select(col(orderKey), shingleHashes(words(col(inputKey))).as("__sh"))

  /** The ids to drop, as a lazily-planned single-column DataFrame —
    * split from apply() so plan lints can inspect the exchanges before
    * the eager checkpoint erases them. */
  private[graft] def duplicateIds(withSh: DataFrame): DataFrame = {
    val (identDups, reps) = collapseIdentical(withSh)
    val banded = reps.withColumn("__band", explode(bandKeys(col("__sh"))))
      .select(col(orderKey), col("__sh"), col("__band"))
    identDups.union(bandVerifyDups(banded)).distinct()
  }

  /** Skew phase: collapse IDENTICAL shingle sets first. Exact-duplicate
    * clusters (m copies of one doc) share every band, so the band
    * self-join would emit O(m²) candidate pairs per cluster — the 100 TB
    * skew killer. Identical sets have J=1 ≥ any threshold, and because
    * identical docs are interchangeable, keeping only the min-orderKey
    * representative per set is EXACT under keep-first semantics: any
    * doc the oracle would drop via a collapsed member is also dropped
    * via that member's (earlier) representative. Empty shingle sets
    * produce no bands (never candidates) and are left alone.
    * Returns (dropped ids, surviving representatives). */
  private def collapseIdentical(withSh: DataFrame): (DataFrame, DataFrame) = {
    val nonEmpty = withSh.filter(size(col("__sh")) > 0)
    val wIdent = Window.partitionBy(col("__sh")).orderBy(col(orderKey))
    val ranked = nonEmpty.withColumn("__rn", row_number().over(wIdent))
    val identDups = ranked.filter(col("__rn") > 1).select(col(orderKey))
    val reps = ranked.filter(col("__rn") === 1).drop("__rn")
    (identDups, reps)
  }

  /** LSH verify over a banded table (orderKey, __sh, __band): the ids of
    * rows similar to an earlier row in a shared band bucket.
    *
    * r18 (guide §2.3/§2.4): a streaming per-bucket WITNESS WALK — one
    * hash exchange on __band + in-partition sort by (__band, orderKey),
    * then a bounded-memory pass — replaces the former band merge
    * SELF-JOIN. The join shape referenced the banded table twice with
    * different projections, so the whole corpus lineage (scan → shingle
    * UDF → identical-collapse window → band explode → band window) was
    * planned, computed, and SPILLED once per side: three concurrent
    * corpus×bands-sized on-disk copies per wave (window exchange + two
    * sorted join inputs) and C(m,2) Jaccard walks per m-member bucket.
    * Dedup only needs ONE earlier witness per dropped row (the same
    * argument as SemDeduplicateFilter's walk), so the walk early-exits
    * on the first hit — a bucket of m mutual near-dups costs ~m merge
    * walks instead of C(m,2) — while a bucket of dissimilar rows still
    * pays every i<j pair, exactly the join's worst case, minus the join
    * machinery. Only duplicate ids (one long each) ever leave the walk.
    *
    * The drop set is IDENTICAL to the join's by construction:
    *  - bucket ≤ maxBandBucket: the join emitted j iff SOME i < j in the
    *    bucket had Jaccard ≥ threshold; the walk tests exactly those i
    *    in ascending order and stops at the first witness. Same set,
    *    same Jaccard kernel (kernels.jaccardSorted = the JaccardSorted
    *    expression's merge walk, bit for bit).
    *  - bucket > maxBandBucket: the join paired non-min members against
    *    the bucket-minimum row(s) only; the walk freezes its pool at the
    *    min-orderKey member(s) the moment the bucket overflows the cap
    *    (sorted input: the min rows are the buffer's head) and verifies
    *    the rest against that pool — the same documented approximation.
    *  - rows sharing an orderKey value never pair (the join's strict
    *    i < j); the walk skips equal-key pairs explicitly. */
  private[graft] def bandVerifyDups(banded: DataFrame): DataFrame = {
    val parted = banded
      .select(col("__band"), col(orderKey), col("__sh"))
      .repartition(col("__band"))
      .sortWithinPartitions(col("__band"), col(orderKey))
    val outSchema = org.apache.spark.sql.types.StructType(
      Seq(banded.schema(orderKey)))
    val (cap, th) = (maxBandBucket, threshold)
    import org.apache.spark.sql.{Encoders, Row}
    parted.mapPartitions { it =>
      val rows = it.buffered
      new Iterator[Row] {
        private val out = new scala.collection.mutable.Queue[Row]()
        /** Consume one whole bucket from `rows`, enqueueing its dropped
          * ids. Buffers at most cap+1 (id, shingles) pairs: past the cap
          * the bucket is big and only the min-key pool is retained. */
        private def drainBucket(): Unit = {
          val band = rows.head.getLong(0)
          val ids = new scala.collection.mutable.ArrayBuffer[Any]()
          val shs = new scala.collection.mutable.ArrayBuffer[Array[Long]]()
          var nMin = 0 // big mode: pool size (leading min-orderKey rows)
          while (rows.hasNext && rows.head.getLong(0) == band) {
            val r = rows.next()
            val id = r.get(1)
            val sh = {
              val s = r.getSeq[Long](2)
              val a = new Array[Long](s.length)
              var i = 0; while (i < a.length) { a(i) = s(i); i += 1 }
              a
            }
            if (nMin > 0) {
              // big bucket: stream against the frozen min pool; equal
              // keys never pair, as in the small-bucket walk below
              var k = 0; var hit = false
              while (!hit && k < nMin) {
                if (ids(k) != id &&
                    graft.functions.kernels.jaccardSorted(shs(k), sh) >= th)
                  hit = true
                k += 1
              }
              if (hit) out.enqueue(Row(id))
            } else {
              ids += id; shs += sh
              if (ids.length > cap) {
                // cap overflow: switch to min-only semantics. The pool is
                // every buffered row sharing the minimum orderKey (one
                // row for unique keys); verify the rest of the buffer
                // against it, then stream.
                nMin = 1
                while (nMin < ids.length && ids(nMin) == ids(0)) nMin += 1
                var j = nMin
                while (j < ids.length) {
                  var k = 0; var hit = false
                  while (!hit && k < nMin) {
                    if (graft.functions.kernels.jaccardSorted(shs(k), shs(j)) >= th)
                      hit = true
                    k += 1
                  }
                  if (hit) out.enqueue(Row(ids(j)))
                  j += 1
                }
                ids.takeInPlace(nMin); shs.takeInPlace(nMin)
              }
            }
          }
          if (nMin == 0) {
            // small bucket: all-pairs witness semantics with early exit
            var j = 1
            while (j < ids.length) {
              var i = 0; var hit = false
              while (!hit && i < j) {
                if (ids(i) != ids(j) &&
                    graft.functions.kernels.jaccardSorted(shs(i), shs(j)) >= th)
                  hit = true
                i += 1
              }
              if (hit) out.enqueue(Row(ids(j)))
              j += 1
            }
          }
        }
        def hasNext: Boolean = {
          while (out.isEmpty && rows.hasNext) drainBucket()
          out.nonEmpty
        }
        def next(): Row = {
          if (!hasNext) throw new NoSuchElementException("empty walk")
          out.dequeue()
        }
      }
    }(Encoders.row(outSchema))
  }

  /** `localCheckpoint()` that reclaims the wave's own shuffles before
    * rethrowing when the materializing job DIES mid-run (executor loss,
    * disk-full, a poisoned row). Without this the failed wave's
    * registered shuffle files are stranded until ContextCleaner's
    * eventual GC path — scratch held on the next attempt's disk budget
    * exactly when the machine is already in trouble (r12 verdict #7:
    * the happy path of wave budgeting was pinned, the failure path was
    * not). `created` is scoped to the wave's OWN executed-RDD lineage
    * (see the caller), so a concurrent query's shuffles are never
    * swept; the map stages that already completed wrote real files, so
    * there is real scratch to reclaim even though the action failed.
    *
    * Coverage boundary (r14, stated honestly): this guards the
    * CHECKPOINT action. A wave that instead dies during AQE stage
    * materialization (inside the caller's `toRdd`, BEFORE `created` can
    * be computed — the lineage walk needs the final RDD) leaves any
    * earlier completed stages' files to ContextCleaner's eventual GC
    * path: bounded-scratch degrades for that wave, it does not break,
    * and a delta-scoped sweep there would re-open the concurrent-query
    * deletion hazard lineage-scoping exists to close. R14Spec pins the
    * map-stage-death case (nothing landed → reclamation is a no-op). */
  private[graft] def checkpointReclaimingOnFailure(idsDf: DataFrame,
      sc: org.apache.spark.SparkContext, created: Set[Int],
      cleanup: (org.apache.spark.SparkContext, Set[Int]) => Unit =
        org.apache.spark.graftbridge.ShuffleCleanup.removeShuffles): DataFrame =
    try idsDf.localCheckpoint()
    catch { case t: Throwable =>
      // The cleanup itself can plausibly fail under the SAME conditions
      // that killed the checkpoint (executor loss, disk-full): never let
      // its exception REPLACE the original failure — the caller needs
      // the root cause, and the cleanup error rides along as suppressed.
      // (`cleanup` is injectable for exactly that test; production
      // callers always use the default ShuffleCleanup.removeShuffles.)
      try cleanup(sc, created)
      catch { case cleanupErr: Throwable => t.addSuppressed(cleanupErr) }
      throw t
    }

  /** Bounded-scratch variant of [[duplicateIds]]: the 128-perm signature
    * is computed ONCE into a per-doc band-key array, then the band set is
    * processed in `groups` sequential waves, each wave's surviving dup
    * ids eagerly materialized (localCheckpoint) so the previous wave's
    * shuffle files can be reclaimed before the next wave shuffles. Peak
    * scratch ≈ single-pass footprint / groups; the result is EXACTLY the
    * single-pass result (bands partition into waves; every band bucket —
    * hence every candidate pair — lives wholly inside one wave). */
  private[graft] def groupedDuplicateIds(withSh: DataFrame,
      groups: Int): DataFrame = {
    val sc = withSh.sparkSession.sparkContext
    val (identDups, reps) = collapseIdentical(withSh)
    // DISK_ONLY, deliberately: this cache exists only when the corpus
    // already blew the scratch budget, i.e. it is far bigger than the
    // heap — a MEMORY_AND_DISK unroll of corpus-sized columnar blocks
    // across 32 tasks GC-thrashed an 8 GiB ×1000 run to death before
    // the first wave even shuffled, while straight-to-disk writes the
    // blocks through a bounded serialization buffer with no unroll
    // pressure on the heap at all
    val repsB = reps.withColumn("__bands", bandKeys(col("__sh")))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      // materialize the shared inputs BEFORE the first per-wave shuffle
      // snapshot: their backing shuffles (the identical-set window) must
      // never be classified as wave scratch — repsB's cached blocks are
      // all that survives for later waves to read
      val identIds = identDups.localCheckpoint() // eager
      repsB.count()
      val per = bands / groups
      val extra = bands % groups
      // wave g covers [start, start+len) of the band-key array
      val ranges = (0 until groups).scanLeft((0, 0)) { case ((s, l), g) =>
        (s + l, per + (if (g < extra) 1 else 0))
      }.tail
      val waves = ranges.zipWithIndex.map { case ((start, len), g) =>
        val before = org.apache.spark.graftbridge.ShuffleCleanup.liveShuffleIds(sc)
        // slice() is 1-based
        val banded = repsB.withColumn("__band",
          explode(slice(col("__bands"), start + 1, len)))
          .select(col(orderKey), col("__sh"), col("__band"))
        // distinct() BEFORE the checkpoint, not only after the union:
        // the witness walk emits ≤ one id per (row, band-in-wave) — the
        // pre-r18 join emitted one per (pair, shared band), QUADRATIC in
        // cluster size, which checkpointed 15-20 GB of rdd blocks per
        // wave at ×1000 and filled the disk at wave 3 of 13 — and
        // localCheckpoint MATERIALIZES its input. The distinct's
        // map-side combine collapses the remaining band multiplicity
        // inside the wave's own exchange, so the checkpoint stores ≤ one
        // id per corpus row (~40 MB). The cross-wave distinct below
        // still collapses ids found by several waves.
        val idsDf = bandVerifyDups(banded).distinct()
        // Attribute the wave's shuffles from the wave's OWN executed RDD
        // lineage (toRdd also materializes the AQE stages), not from a
        // global registered-ids delta: a delta would sweep up — and
        // delete mid-job — shuffles any CONCURRENT query on this session
        // registered during the wave. `-- before` additionally shields
        // the shared prologue (identical-set window behind repsB's cached
        // blocks, reachable through the cache's recompute lineage), which
        // later waves still depend on if a DISK_ONLY block is lost.
        val created =
          org.apache.spark.graftbridge.ShuffleCleanup.lineageShuffleIds(
            idsDf.queryExecution.toRdd) -- before
        val ids = checkpointReclaimingOnFailure(idsDf, sc, created) // eager
        // Reclaim the wave's shuffle scratch NOW, synchronously: the
        // localCheckpoint above truncated the ids' lineage, so the
        // shuffles this wave created are unreachable by any plan.
        // Waiting for ContextCleaner's weak-ref GC path (even behind a
        // System.gc() nudge) is not a guarantee — explicit GC may be
        // disabled (-XX:+DisableExplicitGC) and the cleaner's shuffle
        // handling is async by default — and the bounded-scratch contract
        // is exactly that wave g's files are gone before wave g+1
        // shuffles.
        org.apache.spark.graftbridge.ShuffleCleanup.removeShuffles(sc, created)
        println(s"""{"metric":"minhash_wave","wave":${g + 1},"of":$groups,""" +
          s""""bands":$len,"shuffles_removed":${created.size}}""")
        ids
      }
      (identIds +: waves).reduce(_ union _).distinct()
    } finally repsB.unpersist(false)
  }
}

object MinHashDeduplicateFilter {
  /** Used when the shuffle-dir free space can't be measured (statfs
    * unavailable, misconfigured dir) — the round-8/9 constant, proven to
    * complete at ×1000. */
  val FallbackScratchBudgetBytes: Long = 24L << 30

  /** LOCAL MODE ONLY: half the usable space of the FIRST spark.local.dir
    * at plan time — conservative (other tasks' spills, temp_ sort files
    * and rdd_ checkpoint blocks share the same volume and sit OUTSIDE the
    * banded estimate), yet it tracks the actual resource the waves
    * protect. Multiple local dirs: Spark round-robins blocks across them,
    * so the first dir's free space is a lower-bound proxy, which only
    * ever errs toward MORE protection.
    *
    * CLUSTER CAVEAT: wave shuffle scratch lives on EXECUTOR disks, and on
    * YARN/K8s the executors' actual dirs come from LOCAL_DIRS /
    * emptyDir volumes that override the conf — a statfs of the DRIVER's
    * dir can grossly oversize the budget and silently re-enable the
    * disk-full failure the waves exist to prevent. So auto-sizing only
    * happens when the context is local (driver disk == executor disk by
    * construction); any non-local master falls back to the ×1000-proven
    * 24 GiB constant, and cluster operators should set
    * `scratchBudgetBytes` explicitly to (executor scratch volume)/2. */
  private[dedup] def autoScratchBudget(
      spark: org.apache.spark.sql.SparkSession): Long =
    autoScratchBudgetImpl(spark.sparkContext.isLocal,
      spark.sparkContext.getConf.get(
        "spark.local.dir", System.getProperty("java.io.tmpdir", "/tmp")))

  private[graft] def autoScratchBudgetImpl(isLocal: Boolean,
      dirs: String): Long =
    if (isLocal) autoScratchBudgetFromDirs(dirs)
    else FallbackScratchBudgetBytes

  private[graft] def autoScratchBudgetFromDirs(dirs: String): Long = {
    val first = dirs.split(",").head.trim
    val usable =
      try new java.io.File(first).getUsableSpace
      catch { case _: Throwable => 0L }
    if (usable <= 0L) FallbackScratchBudgetBytes else usable / 2
  }
}

/** SimHash near-dedup (`simhash_deduplicate_filter.py:15-85`): 60-bit
  * simhash over word hashes; pairs within Hamming distance k are dups.
  * The reference does O(n²) pairwise; we band the fingerprint into k+1
  * segments (pigeonhole: hamming ≤ k ⇒ at least one segment equal) →
  * self-join on segments → exact `bit_count(xor)` verify.
  *
  * Scale note: unlike minhash banding, the segment explode replicates
  * only the 8-byte fingerprint (k+1 = 4 ways), never a per-doc array, so
  * no scratch-budget waves are needed — measured at ×1000 (5M docs,
  * 8 GiB JVM): 188.3 s vs 27.3 s at ×100, ×6.9 wall for 10× data,
  * no spill/scratch incident (BASELINE.md round 9). */
final case class SimHashDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id", hammingK: Int = 3,
    maxBandBucket: Int = 4096) extends Op {
  val name = "simhash_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil
  private val BITS = 60
  private val SEGS = hammingK + 1
  private val segBits = BITS / SEGS
  // when (k+1) doesn't divide 60, the LAST segment absorbs the remainder
  // bits — otherwise the top bits fall in no segment and the pigeonhole
  // guarantee (hamming ≤ k ⇒ some segment equal) silently breaks
  private def segWidth(s: Int): Int =
    if (s == SEGS - 1) BITS - s * segBits else segBits

  /** 60-bit simhash via the native expression shared with the
    * SQL-registered `simhash60` — per-word 60-bit hash (md5 prefix),
    * ±1 bit votes, sign → fingerprint ([[graft.functions.kernels]]). */
  def simhash(c: Column): Column = graft.functions.hashExpressions.simhash60(c)

  def apply(df: DataFrame): DataFrame = {
    val withSig = df.select(col(orderKey), simhash(col(inputKey)).as("__sig"))
    // identical-fingerprint collapse (hamming 0 ≤ k always, and identical
    // sigs are interchangeable → min-representative is exact) — same skew
    // reasoning as MinHashDeduplicateFilter
    val wIdent = Window.partitionBy(col("__sig")).orderBy(col(orderKey))
    val ranked = withSig.withColumn("__rn", row_number().over(wIdent))
    val identDups = ranked.filter(col("__rn") > 1).select(col(orderKey))
    val reps = ranked.filter(col("__rn") === 1).drop("__rn")
    val seg = explode(array((0 until SEGS).map(s =>
      concat_ws(":", lit(s),
        shiftright(col("__sig"), s * segBits)
          .bitwiseAND((1L << segWidth(s)) - 1))): _*))
    val banded = reps.withColumn("__seg", seg)
    // Segment stats as window aggregates — same one-fewer-exchange /
    // no-stats-join reasoning as MinHashDeduplicateFilter.duplicateIds.
    // r17 (guide §2.4): the window is ORDERED over the full frame so
    // `first(__sig)` also yields the bucket-minimum row's SIGNATURE in
    // the same Window node. The big-bucket star path used to fetch
    // sig_i/sig_j by joining BACK to `reps` on i and then j — two
    // corpus-sized merge joins (each an exchange + sort over a full
    // re-computation of the scan→simhash→identical-collapse lineage,
    // keyed by orderKey so no other exchange could be reused) that ran
    // at EVERY scale even when no bucket overflowed the cap, because
    // the join sides don't know the overflow set is empty. The banded
    // row already carries sig_j, and sig_i is a per-segment constant —
    // plan-wide: 15 → 9 Exchanges, 3 → 1 SortMergeJoins, 2 fewer
    // corpus lineage recomputations; the added sort by (__seg, orderKey)
    // is absorbed by the candidate join's own required sort order.
    val wSeg = Window.partitionBy(col("__seg")).orderBy(col(orderKey))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bandedS = banded
      .withColumn("__cnt", count(lit(1)).over(wSeg))
      .withColumn("__bmin", min(col(orderKey)).over(wSeg))
      .withColumn("__bminsig", first(col("__sig")).over(wSeg))
    val small = bandedS.filter(col("__cnt") <= maxBandBucket)
    val l = small.select(col(orderKey).as("i"), col("__sig").as("sig_i"), col("__seg"))
    val r = small.select(col(orderKey).as("j"), col("__sig").as("sig_j"), col("__seg"))
    val candSmall = l.join(r.hint("merge"), Seq("__seg")).where(col("i") < col("j"))
      .select(col("i"), col("j"), col("sig_i"), col("sig_j"))
    val bigSigs = bandedS.filter(col("__cnt") > maxBandBucket)
    val candBig = bigSigs.filter(col(orderKey) =!= col("__bmin"))
      .select(col("__bmin").as("i"), col(orderKey).as("j"),
        col("__bminsig").as("sig_i"), col("__sig").as("sig_j"))
    val bandDups = candSmall.union(candBig)
      .where(bit_count(col("sig_i").bitwiseXOR(col("sig_j"))) <= hammingK)
      .select(col("j").as(orderKey))
    val dups = identDups.union(bandDups).distinct()
    // shuffle_hash: dups is 8-byte ids but CAN be corpus-sized (dup-heavy
    // corpora), while its narrow static estimate invites a broadcast that
    // would OOM at scale; hashing the id side beats sorting the full df
    df.join(dups.hint("shuffle_hash"), Seq(orderKey), "left_anti")
  }
}

/** Semantic (embedding-cosine) near-dedup
  * (`sem_deduplicate_filter.py:63-155`: BERT embeddings, full cosine
  * matrix, drop later row of any pair with cos ≥ 1-eps).
  *
  * Default mode "lsh" is the 100 TB path: multi-table random-hyperplane
  * buckets generate candidates (work ∝ candidates, not n²), then the
  * EXACT cosine verifies — recall < 1 by construction (pairs whose
  * vectors land in different buckets in every table are missed; with
  * 8 bits × 4 tables at cos ≥ 0.95 recall ≈ 0.89). Mode "exact"
  * reproduces the reference's full pairwise matrix — O(n²), only for
  * small-n verification runs, never at scale.
  *
  * The LSH verify is a streaming per-bucket walk (one exchange + sort
  * by (bucket, orderKey), then a bounded-memory pass), not a bucket
  * self-join: dedup only needs ONE earlier witness per dropped row, so
  * the walk early-exits on the first hit — a bucket of m mutual
  * duplicates costs ~m cosines instead of the join's C(m,2). A ×1000
  * probe (2M vectors whose duplicate clusters the bucket join scored
  * all-pairs) ran the join form in 862 s; the witness walk removes the
  * by-construction quadratic verify while producing the identical drop
  * set (every pair the join would test is tested unless a dup is
  * already proven). Witness checks per row are capped at the first
  * `maxBucket` bucket members — exact for buckets ≤ maxBucket; larger
  * buckets check later members against that prefix pool only, a
  * documented approximation (superset of the keep set; same class as
  * MinHashDeduplicateFilter's maxBandBucket, strictly better recall
  * than its min-only star since the pool holds 4096 earlier members,
  * not one). `maxBucket = Int.MaxValue` restores the exact
  * every-pair-verified semantics of the pre-cap self-join form, and the
  * approximation is observable at runtime: rows that overflowed their
  * bucket's pool are counted in the `graft.semdedup.cappedRows`
  * accumulator (visible in the Spark UI / status API; 0 ⇒ the run was
  * exact). */
final case class SemDeduplicateFilter(embKey: String = "embedding",
    orderKey: String = "vec_id", eps: Double = 0.05, mode: String = "lsh",
    bits: Int = 0, tables: Int = 4, dim: Int = 64,
    maxBucket: Int = 4096) extends Op {
  require(mode == "lsh" || mode == "exact", s"mode $mode")
  require(bits >= 0 && bits <= 63,
    s"bits must be in [0, 63] (Long bucket-code width), got $bits")
  require(maxBucket > 0, "maxBucket must be positive")
  val name = "sem_deduplicate_filter"
  val inputKeys = Seq(embKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val v = df.select(col(orderKey), col(embKey).cast("array<double>").as("__v"))
    // bits = 0 (default) → auto-size from the corpus count, same
    // constant-occupancy reasoning as Similarity.similarityJoin: a fixed
    // width is linear occupancy growth, and here overflow past maxBucket
    // silently costs RECALL (rows checked against the capped pool only) —
    // auto keeps buckets at the density the cap assumes. Floor 8 makes
    // small corpora identical to the old fixed default.
    // oneJobCount: v is an exchange-free projection, so the auto-bits
    // gate costs ONE job, not count()'s 2 AQE jobs
    val b = if (bits == 0 && mode == "lsh")
      graft.ops.sim.Similarity.autoBits(
        graft.core.Partitioning.oneJobCount(v)) else bits
    val dups =
      if (mode == "exact") {
        val cos = Dedup.cosine(col("vi"), col("vj"))
        val l = v.select(col(orderKey).as("i"), col("__v").as("vi"))
        val r = v.select(col(orderKey).as("j"), col("__v").as("vj"))
        l.crossJoin(r).where(col("i") < col("j")).where(cos >= 1.0 - eps)
          .select(col("j").as(orderKey)).distinct()
      } else {
        // One hash exchange on the bucket key + in-partition sort groups
        // each bucket's members in orderKey order; the walk then streams
        // rows, keeping a pool of the bucket's first maxBucket vectors.
        // A row similar to ANY pool member is a dup (dropped rows stay
        // in the pool: the reference drops the later row of every
        // similar pair, so an already-dropped row still witnesses).
        // The cosine is the same strict left fold as the codegen'd
        // CosineSimilarity expression — decisions are bit-identical to
        // the SQL oracle's replay.
        val bucketed = v.withColumn("__bucket", explode(
          graft.ops.sim.CosineLsh.buckets(col("__v"), b, dim, tables)))
          .select(col("__bucket"), col(orderKey), col("__v"))
        val parted = bucketed.repartition(col("__bucket"))
          .sortWithinPartitions(col("__bucket"), col(orderKey))
        val outSchema = org.apache.spark.sql.types.StructType(
          Seq(parted.schema(orderKey)))
        val (mb, th) = (maxBucket, 1.0 - eps)
        // observable cap (see scaladoc): counts rows that arrived after
        // their bucket's pool was full — 0 means the run was exact
        val capped = df.sparkSession.sparkContext
          .longAccumulator("graft.semdedup.cappedRows")
        import org.apache.spark.sql.{Encoders, Row}
        parted.mapPartitions { it =>
          val pool = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
          var cur: String = null
          it.flatMap { row =>
            val b = row.getString(0)
            if (b != cur) { cur = b; pool.clear() }
            val vec = row.getSeq[Double](2).toArray
            var dup = false
            var k = 0
            while (!dup && k < pool.length) {
              if (Dedup.cosineFold(pool(k), vec) >= th) dup = true
              k += 1
            }
            if (pool.length < mb) pool += vec else capped.add(1)
            if (dup) Iterator.single(Row(row.get(1))) else Iterator.empty
          }
        }(Encoders.row(outSchema)).distinct()
      }
    // see SimHashDeduplicateFilter: id-side shuffle_hash, never broadcast
    df.join(dups.hint("shuffle_hash"), Seq(orderKey), "left_anti")
  }
}

/** Greedy k-center coreset selection over embeddings
  * (`kcentergreedy_filter.py:14-218`): keep k maximally-diverse rows.
  * The final selection is sequential-greedy on the driver (the reference
  * does the same in numpy), but the driver pool is built by a
  * DISTRIBUTED pre-selection — greedy k-center is composable, so each
  * range partition reduces its slice to its own ≤ k local centers
  * (covering ALL rows, unlike a truncating prefix cap), and the driver
  * merges ≤ preParts × k ≤ maxCandidates candidates. Driver memory is
  * bounded by maxCandidates regardless of n.
  *
  * Deterministic given the same input: range partitioning by orderKey,
  * each greedy pass starts from its smallest id, distance ties break
  * toward the smallest id. */
final case class KCenterGreedyFilter(embKey: String = "embedding",
    orderKey: String = "vec_id", k: Int = 100,
    maxCandidates: Int = 200000) extends Op {
  require(k <= maxCandidates, "k must be ≤ maxCandidates")
  val name = "kcenter_greedy_filter"
  val inputKeys = Seq(embKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val preParts = math.max(1, math.min(64, maxCandidates / k))
    val slim = df.select(col(orderKey).cast("long").as("__id"),
      col(embKey).cast("array<double>").as("__v"))
    val parted =
      if (preParts > 1) slim.repartitionByRange(preParts, col("__id")) else slim
    val kk = k
    import org.apache.spark.sql.{Encoders, Row}
    val candidates = parted.mapPartitions { it =>
      val rows = it.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .toArray.sortBy(_._1)
      if (rows.length <= kk) rows.iterator.map(r => Row(r._1, r._2.toSeq))
      else {
        val ids = KCenterGreedyFilter.greedy(rows, kk).toSet
        rows.iterator.filter(r => ids(r._1)).map(r => Row(r._1, r._2.toSeq))
      }
    }(Encoders.row(parted.schema))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (candidates.length <= k) return df
    val chosen = KCenterGreedyFilter.greedy(candidates, k)
    val keepDf = df.sparkSession
      .createDataset(chosen.toSeq)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF(orderKey)
    df.join(broadcast(keepDf), Seq(orderKey), "left_semi")
  }
}

object KCenterGreedyFilter {
  /** Greedy 2-approx k-center over (id, vec) rows SORTED by id: seed at
    * the smallest id, then repeatedly add the point with the largest
    * min-distance to the chosen set (ties → smallest id via scan order).
    * Returns min(k, n) chosen ids in selection order. */
  private[dedup] def greedy(rows: Array[(Long, Array[Double])],
      k: Int): Array[Long] = {
    val n = rows.length
    val dist = Array.fill(n)(Double.MaxValue)
    val chosen = new scala.collection.mutable.ArrayBuffer[Long](k)
    var next = 0
    var c = 0
    while (c < k && c < n) {
      chosen += rows(next)._1
      val cv = rows(next)._2
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < n) {
        val d = Dedup.sqDist(rows(i)._2, cv)
        if (d < dist(i)) dist(i) = d
        if (dist(i) > bestD) { bestD = dist(i); best = i }
        i += 1
      }
      next = best
      c += 1
    }
    chosen.toArray
  }
}

object Dedup {
  private[dedup] val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Keep the row with the smallest orderKey per group — ONE shuffle
    * (hash partition by groupExpr), window row_number. */
  def keepFirst(df: DataFrame, groupExpr: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(groupExpr).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Cosine similarity via the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]) — strict left fold, so results
    * are bit-reproducible against SQL oracles that fold the same way. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.cosineSim(a, b)

  /** The same strict left fold as [[graft.functions.CosineSimilarity]]
    * (single loop accumulating dot and both norms, then one divide) over
    * plain arrays — for imperative kernels whose decisions must be
    * bit-identical to the expression's and to the SQL oracle's. */
  def cosineFold(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = a(i); val yi = b(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private[dedup] def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
