package graft.functions

/** Shared imperative kernels behind the dedup / similarity operators AND
  * their SQL-registered expressions ([[graft.GraftExtensions]]). One
  * implementation per kernel — the operator UDFs and the Catalyst
  * expressions both call these, so `spark.sql("SELECT simhash60(text)…")`
  * is bit-identical to `SimHashDeduplicateFilter`'s internal fingerprint.
  *
  * All kernels are pure functions of their inputs with fixed constants —
  * reproducible across runs, sessions, and cluster sizes.
  */
object kernels {

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Thread-local md5 (digest instances are not thread-safe; allocation
    * per row would dominate the hot loops). */
  def md5: java.security.MessageDigest = md5Local.get()

  /** Non-empty whitespace tokens — the JVM-side twin of
    * [[graft.functions.text.words]]. */
  def splitWords(s: String): Array[String] =
    if (s == null) Array.empty else s.split("\\s+").filter(_.nonEmpty)

  /** First 60 bits of md5 (= first 15 hex chars) as a long — the
    * replayable-hash idiom in fixed-width form: DuckDB recomputes it as
    * `('0x' || substr(md5(s), 1, 15))::BIGINT` (60 bits always fit a
    * signed BIGINT; 16 nibbles could overflow it). */
  def md5Prefix60(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var bi = 0
    while (bi < 8) { h = (h << 8) | (d(bi) & 0xffL); bi += 1 }
    h >>> 4
  }

  /** [[md5Prefix60]] of the space-joined k-gram `words(start..start+k)`,
    * computed directly over the words' UTF-8 byte arrays: UTF-8 encoding
    * distributes over concatenation and ' ' is the single byte 0x20, so
    * feeding word bytes and separators to the digest is byte-identical
    * to hashing the joined String — without building it. */
  def md5Prefix60Gram(words: Array[Array[Byte]], start: Int, k: Int): Long = {
    val md = md5Local.get()
    md.reset()
    var j = 0
    while (j < k) {
      if (j > 0) md.update(' '.toByte)
      md.update(words(start + j))
      j += 1
    }
    val d = md.digest()
    var h = 0L
    var bi = 0
    while (bi < 8) { h = (h << 8) | (d(bi) & 0xffL); bi += 1 }
    h >>> 4
  }

  private val gramMemo =
    ThreadLocal.withInitial[java.util.HashMap[String, java.lang.Long]](() =>
      new java.util.HashMap[String, java.lang.Long](1 << 12))

  /** [[md5Prefix60]] with a bounded per-thread memo (cleared at 64k
    * entries). Gram streams are zipf-distributed — most occurrences are
    * repeats of a small head — so memoizing recovers most of the md5
    * CPU without touching the replayable definition. */
  def md5Prefix60Memo(s: String): Long = {
    val m = gramMemo.get()
    val hit = m.get(s)
    if (hit != null) hit.longValue()
    else {
      val h = md5Prefix60(s)
      if (m.size >= (1 << 16)) m.clear()
      m.put(s, h)
      h
    }
  }

  // ── SimHash ────────────────────────────────────────────────────────────

  /** 60-bit simhash over word tokens
    * (reference `simhash_deduplicate_filter.py:15-85`): per-word 60-bit
    * hash (md5 prefix = first 15 hex chars), ±1 bit votes, sign →
    * fingerprint. */
  def simhash60(ws: Iterable[String]): Long = {
    val md = md5Local.get()
    val votes = new Array[Int](60)
    if (ws != null) ws.foreach { w =>
      md.reset()
      val d = md.digest(w.getBytes("UTF-8"))
      var h = 0L
      var bi = 0
      while (bi < 8) { h = (h << 8) | (d(bi) & 0xffL); bi += 1 }
      h = h >>> 4 // first 60 bits = first 15 hex chars
      var k = 0
      while (k < 60) {
        if (((h >> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
    }
    var sig = 0L
    var k = 0
    while (k < 60) { if (votes(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  // ── MinHash ────────────────────────────────────────────────────────────

  /** Universal-hash permutation constants h_i(x) = (a_i·x + b_i) mod P
    * over the 32-bit shingle hash; fixed constants → reproducible. */
  val MINHASH_P = 4294967311L // prime > 2^32
  private def minhashA(i: Int): Long = 2L * i + 3
  private def minhashB(i: Int): Long = (i * 2654435761L + 12345) % MINHASH_P

  /** Sorted distinct 64-bit word-shingle hashes (n-word shingles joined by
    * a single space, Murmur3 high/low halves). 64-bit: the chance any
    * pair's Jaccard is perturbed by a collision is ~|shingles|²/2⁶⁴. */
  def shingleHashes(ws: Seq[String], n: Int): Array[Long] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    if (ws != null && ws.length >= n) {
      var i = 0
      while (i <= ws.length - n) {
        val g = ws.slice(i, i + n).mkString(" ")
        val h = scala.util.hashing.MurmurHash3.stringHash(g).toLong << 32 |
          (scala.util.hashing.MurmurHash3.stringHash(g.reverse).toLong & 0xffffffffL)
        set.add(h); i += 1
      }
    }
    val out = new Array[Long](set.size)
    var i = 0
    val it = set.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Exact Jaccard over two SORTED-distinct long arrays — the scalar
    * twin of the [[graft.functions.JaccardSorted]] expression (same
    * merge walk, same int-counter division, same union==0 → 1.0), for
    * imperative kernels whose keep/drop decisions must be bit-identical
    * to the expression's and to the SQL oracle's. */
  def jaccardSorted(x: Array[Long], y: Array[Long]): Double = {
    val n = x.length; val m = y.length
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val xa = x(i); val yb = y(j)
      if (xa == yb) { inter += 1; i += 1; j += 1 }
      else if (xa < yb) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  /** LSH band bucket keys from the hashed shingle set: minhash signature
    * of `numPerm` permutations, split into `bands` bands of
    * numPerm/bands rows; key = "band:hash(rows)". Empty input → no keys
    * (never a candidate). */
  def minhashBandKeys(hs: Seq[Long], numPerm: Int, bands: Int): Array[String] = {
    if (hs == null || hs.isEmpty) return Array.empty[String]
    val sig = minhashSig(hs, numPerm)
    val rb = numPerm / bands
    Array.tabulate(bands)(bi =>
      bi + ":" + java.util.Arrays.hashCode(
        java.util.Arrays.copyOfRange(sig, bi * rb, (bi + 1) * rb)))
  }

  /** Packed variant of [[minhashBandKeys]] for the internal dedup hot
    * path: the SAME (band, Arrays.hashCode-of-band-slice) pair, packed
    * `(band << 32) | (hash & 0xffffffff)` into one long instead of a
    * "band:hash" string. Key equality is preserved exactly (band < 2³¹
    * and a 32-bit hash make the packing injective), so grouping/joining
    * on packed keys reproduces the string keys' candidate sets
    * bit-for-bit — while a banded row carries 8 fixed bytes instead of a
    * ~14-char string, and the corpus-sized band-key stage allocates one
    * long[] per row instead of `bands` strings + a copyOfRange each (an
    * 8 GiB/32-thread ×1000 probe died of GC-overhead building exactly
    * this stage's DISK_ONLY cache). The string form stays as the
    * SQL-registered `minhash_bands` surface. */
  def minhashBandKeysPacked(hs: Seq[Long], numPerm: Int, bands: Int): Array[Long] = {
    if (hs == null || hs.isEmpty) return Array.empty[Long]
    val sig = minhashSig(hs, numPerm)
    val rb = numPerm / bands
    val out = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      // replicate java.util.Arrays.hashCode(long[]) over the band's
      // slice without materializing the copy
      var h = 1
      var k = bi * rb
      val end = (bi + 1) * rb
      while (k < end) { val e = sig(k); h = 31 * h + (e ^ (e >>> 32)).toInt; k += 1 }
      out(bi) = (bi.toLong << 32) | (h.toLong & 0xffffffffL)
      bi += 1
    }
    out
  }

  /** numPerm-permutation minhash signature over the 64-bit shingle set
    * (low 32 bits of each shingle feed the universal-hash family —
    * unchanged from the original in-line form so band keys are stable
    * across the string/packed split). */
  private def minhashSig(hs: Seq[Long], numPerm: Int): Array[Long] = {
    val m = hs.length
    val arr = new Array[Long](m)
    var j = 0
    hs.foreach { h => arr(j) = h & 0xffffffffL; j += 1 }
    val sig = new Array[Long](numPerm)
    var i = 0
    while (i < numPerm) {
      val ai = minhashA(i); val bi = minhashB(i)
      var mn = Long.MaxValue
      var k = 0
      while (k < m) {
        val h = (ai * arr(k) + bi) % MINHASH_P
        if (h < mn) mn = h
        k += 1
      }
      sig(i) = mn; i += 1
    }
    sig
  }

  // ── Random-hyperplane LSH ──────────────────────────────────────────────

  /** Deterministic pseudo-random hyperplanes: plane p, component i has
    * weight in {-1, +1} from the parity of the first md5 nibble of
    * "p:i". md5 — not an integer mix — so an external system (the DuckDB
    * correctness oracle, a Python re-implementation) can reproduce the
    * exact bucket assignment with its own md5:
    * `('0x' || substr(md5(p || ':' || i), 1, 1))::INT % 2`. Computed once
    * per (bits, dim, tables) via the [[planes]] cache. */
  private def planeWeight(p: Int, i: Int): Double = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s"$p:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0
  }

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** Precomputed weight matrix for (bits, dim, tables), cached JVM-wide —
    * the expression-tree equivalent (tables × bits × dim terms) blows up
    * codegen. */
  def planes(bits: Int, dim: Int, tables: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((bits, dim, tables),
      _ => Array.tabulate(tables * bits, dim)(planeWeight))

  /** One sign-bucket key per table, namespaced "t:bucket" so tables never
    * cross-match; explode + join on the key gives OR-amplification. */
  def lshBuckets(vec: Seq[Double], bits: Int, dim: Int,
      tables: Int): Array[String] = {
    // 63 = the Long code width: `1L << bi` shifts mod 64, so bits >= 64
    // would silently wrap and overwrite low code bits — degenerate
    // COARSER buckets instead of the wider keys the caller asked for.
    // Enforced here (not only at operator boundaries) because the kernel
    // is also reachable via the SQL-registered `cosine_lsh_buckets`.
    require(bits >= 1 && bits <= 63,
      s"bits must be in [1, 63] (Long bucket-code width), got $bits")
    if (vec == null || vec.isEmpty) return Array.empty[String]
    val w = planes(bits, dim, tables)
    val arr = vec.toArray
    Array.tabulate(tables) { ti =>
      var code = 0L
      var bi = 0
      while (bi < bits) {
        val wp = w(ti * bits + bi)
        var dot = 0.0
        var i = 0
        val n = math.min(wp.length, arr.length)
        while (i < n) { dot += arr(i) * wp(i); i += 1 }
        if (dot > 0.0) code |= (1L << bi)
        bi += 1
      }
      s"$ti:$code"
    }
  }
}
