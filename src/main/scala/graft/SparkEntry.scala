package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FilterOp, RefineOp, Storage}
import graft.ops.filter._
import graft.ops.refine._
import graft.ops.dedup._
import graft.ops.eval._
import graft.ops.gen._
import graft.ops.text._
import graft.ops.reasoning._
import graft.ops.conversations._
import graft.ops.text2sql._
import graft.ops.sim.Similarity
import graft.ops.multimodal._
import graft.serving.MockServing
import graft.streaming.Streaming

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent oracle where the semantics are
  * SQL-expressible. Column names are aligned between the Spark result and
  * the oracle SQL (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the minimum end-to-end slice of SURVEY §7.3 — refine → filter →
    * order-sensitive dedup over the documents table. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Storage.table(spark, "/root/testdata/sf0.001", "documents")
    val pipeline = graft.core.Pipeline.of(
      RemoveExtraSpacesRefiner("text"),
      WordNumberFilter("text", 5, 100000),
      HashDeduplicateFilter(Seq("text"), "doc_id"),
      MinHashDeduplicateFilter("text", "doc_id", threshold = 0.9),
      SimHashDeduplicateFilter("text", "doc_id"),
      // model-scored pretrain filter through the Scorer seam (mock
      // deterministic; min 0 keeps the smoke non-empty at sf0.001)
      FineWebEduFilter("text", graft.serving.ServingScorer(mock), minScore = 0.0),
      QualityScoreEvaluator("text"),
      LanguageIdEvaluator("text"),
      TokenCountEvaluator("text"))
    pipeline(docs)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Storage.table(s, dir, name)

  // ---- oracle SQL snippets (DuckDB dialect) -------------------------------
  /** Non-empty whitespace tokens of a column. */
  private def sqlWords(c: String) =
    s"list_filter(regexp_split_to_array($c, '\\s+'), x -> x <> '')"
  private def sqlWordCount(c: String) = s"len(${sqlWords(c)})"
  private val D = "documents"

  /** Where sim_ivf_topk exports its trained centroids for the DuckDB
    * oracle to read back (absolute so the static oracle SQL can name
    * it; under the system temp dir, never inside the read-only
    * testdata). */
  private val IvfCentroidDir = "/tmp/graft_ivf_centroids"

  /** Export only when an oracle replay will actually read it: Verify
    * sets `graft.ivf.export` (and a manual run can set the env var).
    * A bench pass must NOT pay the coalesce(1) parquet write inside the
    * timed query — it's oracle plumbing, not operator work. */
  private def ivfExportDir: Option[String] =
    if (sys.props.get("graft.ivf.export").contains("true") ||
        sys.env.contains("GRAFT_IVF_EXPORT")) Some(IvfCentroidDir)
    else None

  private case class Q(fn: (SparkSession, String) => DataFrame, sql: Option[String])
  private def oracled(sql: String)(fn: (SparkSession, String) => DataFrame) = Q(fn, Some(sql))
  private def rowsOnly(fn: (SparkSession, String) => DataFrame) = Q(fn, None)

  private lazy val registry: Map[String, Q] = relational ++ filters ++ dedups ++
    refiners ++ evals ++ aggs ++ filters2 ++ refiners2 ++ misc ++ serving ++
    text2sql ++ advanced ++ corpus ++ domain ++ codeq ++ modelScored ++ extras2

  // ---- relational / TPC-H-ish bench surface -------------------------------
  private def relational: Map[String, Q] = Map(
    // DECIMAL sums are canonicalized to round(CAST(.. AS DOUBLE), 2) in the
    // final projection on BOTH sides: Spark widens sum(decimal(20,2)) to
    // decimal(30,2) while DuckDB widens to decimal(38,2), and the driver's
    // value hash sees the differing physical type (r1 hash_match=false).
    "q1_pricing" -> oracled(
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_base_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum(col("l_quantity").cast("decimal(20,2)")).cast("double"), 2).as("sum_qty"),
            round(sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double"), 2).as("sum_base_price"),
            count(lit(1)).as("count_order"))
    },
    "q3_revenue_by_customer" -> oracled(
      """SELECT c_custkey, c_name,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      // No forced broadcast: customer grows linearly with SF (TPC-H sf100 ≈
      // 15M rows) — let AQE's size threshold pick broadcast vs shuffle join;
      // orders⋈lineitem co-shuffles on the orderkey either way.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,4)")).cast("double"), 4).as("revenue"))
    },
    "q5_region_revenue" -> oracled(
      """SELECT r_name, n_name,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE), 4) AS revenue
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier"); val l = t(s, dir, "lineitem")
      // region/nation/supplier are genuinely bounded dims (25 nations, 5
      // regions; supplier = 0.01×customer) → broadcast all; single shuffle
      // for the final agg.
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,4)")).cast("double"), 4).as("revenue"))
    })

  // ---- rule filters (§2.2) -----------------------------------------------
  private def filterQ(op: FilterOp, sqlPred: String): Q =
    oracled(s"SELECT doc_id, n_chars FROM $D WHERE $sqlPred") { (s, dir) =>
      op(t(s, dir, D)).select("doc_id", "n_chars")
    }

  private def filters: Map[String, Q] = Map(
    "filter_word_number" -> filterQ(WordNumberFilter("text", 40, 100000),
      s"${sqlWordCount("text")} >= 40 AND ${sqlWordCount("text")} < 100000"),
    "filter_char_number" -> filterQ(CharNumberFilter("text", 200),
      "length(text) >= 200"),
    "filter_content_null" -> filterQ(ContentNullFilter("text"),
      "text IS NOT NULL AND trim(text) <> ''"),
    "filter_unique_words" -> filterQ(UniqueWordsFilter("text", 0.5),
      s"CAST(len(list_distinct(${sqlWords("text")})) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) >= 0.5"),
    "filter_mean_word_length" -> filterQ(MeanWordLengthFilter("text", 3.0, 10.0),
      s"CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) BETWEEN 3.0 AND 10.0"),
    "filter_stop_word" -> filterQ(StopWordFilter("text", 0.06),
      s"CAST(len(list_filter(${sqlWords("lower(text)")}, w -> list_contains(${sqlLex(Lexicons.englishStopwords)}, w))) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) > 0.06"),
    "filter_language" -> filterQ(LanguageFilter("lang", Seq("en", "fr")),
      "lang IN ('en','fr')"),
    "filter_colon_end" -> filterQ(ColonEndFilter("text"),
      "NOT ends_with(rtrim(text), ':')"),
    "filter_blocklist" -> filterQ(BlocklistFilter("text", Seq("dup", "slow"), 2),
      s"len(list_filter(${sqlWords("lower(text)")}, w -> list_contains(['dup','slow'], w))) < 2"),
    "filter_watermark" -> filterQ(WatermarkFilter("text", Seq("watermark", "copyright")),
      "NOT regexp_matches(lower(text), 'watermark|copyright')"),
    "filter_alpha_words" -> filterQ(AlphaWordsFilter("text", 0.6),
      s"CAST(len(list_filter(${sqlWords("text")}, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) >= 0.6"),
    "filter_ngram" -> filterQ(NgramFilter("text", 5, 0.4, 1.0),
      s"(${sqlNgramUnique("text", 5)}) BETWEEN 0.4 AND 1.0"))

  /** DuckDB literal string list. */
  private def sqlLex(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB unique-n-gram ratio (matches text.ngramUniqueRatio). */
  private def sqlNgramUnique(c: String, n: Int): String = {
    val grams = s"CASE WHEN len(${sqlWords(c)}) < $n THEN [] " +
      s"ELSE list_transform(range(0, len(${sqlWords(c)}) - $n + 1), " +
      s"i -> array_to_string(list_slice(${sqlWords(c)}, i + 1, i + $n), ' ')) END"
    s"CASE WHEN len($grams) = 0 THEN 1.0 ELSE " +
      s"CAST(len(list_distinct($grams)) AS DOUBLE) / CAST(len($grams) AS DOUBLE) END"
  }

  // ---- dedup (§2.3) -------------------------------------------------------
  private def dedupOracle(hashExpr: String): String =
    s"""SELECT doc_id, n_chars FROM (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (PARTITION BY $hashExpr ORDER BY doc_id) AS rn
       |  FROM $D) WHERE rn = 1""".stripMargin

  private def dedups: Map[String, Q] = Map(
    "dedup_hash" -> oracled(dedupOracle("md5(text)")) { (s, dir) =>
      HashDeduplicateFilter(Seq("text"), "doc_id")(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_sha256" -> oracled(dedupOracle("sha256(text)")) { (s, dir) =>
      HashDeduplicateFilter(Seq("text"), "doc_id", algo = "sha256")(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_ccnet" -> oracled(dedupOracle("substr(md5(text), 1, 16)")) { (s, dir) =>
      CCNetDeduplicateFilter("text", "doc_id")(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_ngram_hash" -> oracled(dedupOracle(
      s"md5(array_to_string(list_sort(list_distinct(${sqlWordNgrams("text", 3)})), ''))")) {
      (s, dir) =>
        NgramHashDeduplicateFilter("text", "doc_id", 3)(t(s, dir, D))
          .select("doc_id", "n_chars")
    },
    "dedup_minhash" -> oracled(
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlWordNgrams("text", 3)}) AS g FROM $D)
         |SELECT d.doc_id, d.n_chars FROM $D d WHERE NOT EXISTS (
         |  SELECT 1 FROM sh a, sh b
         |  WHERE b.doc_id = d.doc_id AND a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.9)
         |""".stripMargin) { (s, dir) =>
      MinHashDeduplicateFilter("text", "doc_id", ngram = 3, threshold = 0.9)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_sem" -> oracled(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT d.vec_id, d.label FROM embeddings d WHERE NOT EXISTS (
        |  SELECT 1 FROM v a, v b
        |  WHERE b.vec_id = d.vec_id AND a.vec_id < b.vec_id
        |    AND list_dot_product(a.e, b.e) /
        |        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.95)
        |""".stripMargin) { (s, dir) =>
      // mode=exact: the oracle is the full pairwise matrix; the operator's
      // DEFAULT is the LSH path (dedup_sem_lsh below)
      SemDeduplicateFilter("embedding", "vec_id", eps = 0.05, mode = "exact")(
        t(s, dir, "embeddings"))
        .select("vec_id", "label")
    },
    // the LSH default path, fully oracled: the md5-parity hyperplanes are
    // reproduced in SQL (sqlLshBucketCtes), candidates = any shared
    // bucket, exact cosine >= 1-eps verifies — recall < 1 vs the exact
    // twin above is BY DESIGN, but the bucket assignment itself is
    // deterministic and the oracle replays it bit for bit
    "dedup_sem_lsh" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${sqlLshBucketCtes(bits = 8, dim = 64, tables = 4)},
         |cand AS (SELECT DISTINCT l.vec_id AS i, r.vec_id AS j
         |  FROM buckets l JOIN buckets r
         |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
         |dups AS (SELECT DISTINCT c.j FROM cand c
         |  JOIN v a ON a.vec_id = c.i JOIN v b ON b.vec_id = c.j
         |  WHERE ${sqlCosine("a.e", "b.e", 64)} >= (1.0::DOUBLE - 0.05::DOUBLE))
         |SELECT d.vec_id, d.label FROM embeddings d
         |WHERE d.vec_id NOT IN (SELECT j FROM dups)""".stripMargin) { (s, dir) =>
      // bits pinned to the oracle's CTE width (the operator DEFAULT is
      // bits = 0 → auto-sized from the corpus count)
      SemDeduplicateFilter("embedding", "vec_id", eps = 0.05, bits = 8)(
        t(s, dir, "embeddings"))
        .select("vec_id", "label")
    },
    "dedup_minhash_mllib" -> rowsOnly { (s, dir) =>
      MinHashLSHDeduplicateFilter("text", "doc_id", ngram = 3, threshold = 0.9)(
        t(s, dir, D)).select("doc_id", "n_chars")
    },
    // exact brute-force twin of the banded simhash dedup: per-word 60-bit
    // md5-prefix hash, ±1 bit votes → signature, then keep a row iff it is
    // its signature's first holder AND no earlier representative is within
    // Hamming distance 3 (the pigeonhole banding finds exactly these pairs
    // when buckets fit under maxBandBucket, so banded ≡ brute force here)
    "dedup_simhash" -> oracled(
      s"""WITH w AS (
         |  SELECT doc_id, (('0x' || substr(md5(u.w), 1, 16))::UBIGINT >> 4) AS h
         |  FROM $D, unnest(${sqlWords("text")}) AS u(w)),
         |bits AS (
         |  SELECT doc_id, b.k,
         |    SUM(CASE WHEN ((h >> b.k) & 1) = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM w, range(60) AS b(k) GROUP BY doc_id, b.k),
         |sigagg AS (
         |  SELECT doc_id, SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << k) ELSE 0 END) AS sig
         |  FROM bits GROUP BY doc_id),
         |sigs AS (
         |  SELECT d.doc_id, d.n_chars, COALESCE(s.sig, 0)::UBIGINT AS sig
         |  FROM $D d LEFT JOIN sigagg s USING (doc_id)),
         |reps AS (SELECT *, row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
         |  FROM sigs)
         |SELECT r.doc_id, r.n_chars FROM reps r
         |WHERE r.rn = 1 AND NOT EXISTS (
         |  SELECT 1 FROM reps p WHERE p.rn = 1 AND p.doc_id < r.doc_id
         |    AND bit_count(xor(p.sig, r.sig)) <= 3)""".stripMargin) { (s, dir) =>
      SimHashDeduplicateFilter("text", "doc_id", hammingK = 3)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    // Full value oracle (round 12, closing the longest-standing
    // no_oracle): greedy k-center is deterministic — seed at the
    // smallest id, running min-dist, argmax ties toward the smallest
    // id — so DuckDB replays the ENTIRE selection with a recursive CTE
    // whose state is (step, per-point running min-dist); each step's
    // argmax comes from a scalar subquery over the previous step's
    // working table (DuckDB permits the second recursive reference).
    // Distances use sqlSqDist's ascending left-to-right fold =
    // Dedup.sqDist's loop, so argmax comparisons are bit-identical.
    // Validity precondition, R12Spec-pinned: at verify scale every
    // range partition holds ≤ k rows (500 ≤ 64×100 at sf0.01), so the
    // operator's distributed pre-selection passes ALL rows to the
    // driver greedy and the full-corpus replay is exact.
    "dedup_kcenter" -> oracled(
      s"""WITH RECURSIVE pts AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |sel AS (
         |  SELECT 1 AS step, p.id, p.e,
         |    ${sqlSqDist("p.e", "c.e", 64)} AS mindist, c.id AS chosen_id
         |  FROM pts p, (SELECT id, e FROM pts ORDER BY id LIMIT 1) c
         |  UNION ALL
         |  SELECT s.step + 1, s.id, s.e,
         |    least(s.mindist, ${sqlSqDist("s.e", "nx.e", 64)}) AS mindist,
         |    nx.id AS chosen_id
         |  FROM sel s,
         |    (SELECT id, e FROM sel ORDER BY mindist DESC, id LIMIT 1) nx
         |  WHERE s.step < 100)
         |SELECT e.vec_id, e.label FROM embeddings e
         |JOIN (SELECT DISTINCT chosen_id FROM sel) c ON c.chosen_id = e.vec_id""".stripMargin) {
      (s, dir) =>
        KCenterGreedyFilter("embedding", "vec_id", k = 100)(t(s, dir, "embeddings"))
          .select("vec_id", "label")
    })

  /** DuckDB word n-grams (matches text.wordNgrams). */
  private def sqlWordNgrams(c: String, n: Int): String =
    s"CASE WHEN len(${sqlWords(c)}) < $n THEN [] " +
      s"ELSE list_transform(range(0, len(${sqlWords(c)}) - $n + 1), " +
      s"i -> array_to_string(list_slice(${sqlWords(c)}, i + 1, i + $n), ' ')) END"

  // ---- refiners (§2.4) ----------------------------------------------------
  private def refineQ(op: RefineOp, sqlExpr: String): Q =
    oracled(s"SELECT doc_id, $sqlExpr AS text FROM $D") { (s, dir) =>
      op(t(s, dir, D)).select("doc_id", "text")
    }

  private def refiners: Map[String, Q] = Map(
    "refine_remove_extra_spaces" -> refineQ(RemoveExtraSpacesRefiner("text"),
      "trim(regexp_replace(text, '\\s+', ' ', 'g'))"),
    "refine_lowercase" -> refineQ(LowercaseRefiner("text"), "lower(text)"),
    "refine_remove_number" -> refineQ(RemoveNumberRefiner("text"),
      "regexp_replace(text, '[0-9]', '', 'g')"),
    "refine_remove_stopwords" -> refineQ(RemoveStopwordsRefiner("text"),
      s"array_to_string(list_filter(${sqlWords("text")}, " +
        s"w -> NOT list_contains(${sqlLex(Lexicons.englishStopwords)}, lower(w))), ' ')"),
    "refine_remove_punctuation" -> refineQ(RemovePunctuationRefiner("text"),
      """regexp_replace(text, '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', '', 'g')"""),
    "refine_html_url_remover" -> refineQ(HtmlUrlRemoverRefiner("text"),
      "regexp_replace(regexp_replace(text, 'https?://[^\\s]+', '', 'g'), '<[^>]+>', '', 'g')"))

  // ---- sample evaluators (§2.5) + text analysis ---------------------------
  private def evals: Map[String, Q] = Map(
    "eval_ngram_score" -> oracled(
      s"SELECT doc_id, round(${sqlNgramUnique("text", 5)}, 6) AS ngram_score FROM $D") {
      (s, dir) =>
        NgramSampleEvaluator("text", 5)(t(s, dir, D)).select("doc_id", "ngram_score")
    },
    "eval_lexical_diversity" -> oracled(sqlLexicalDiversity) { (s, dir) =>
      LexicalDiversitySampleEvaluator("text")(t(s, dir, D))
        .select("doc_id", "ttr", "rttr", "mtld", "hdd")
    },
    // float canonicalization: floor(x * 1e6) — the multiply and floor are
    // the SAME IEEE ops in both engines, unlike decimal rounding, where
    // Java rounds the shortest repr and DuckDB scales first (observed
    // divergence on an ari one ulp under a half boundary at sf0.1)
    "eval_langkit" -> oracled(
      s"""SELECT doc_id, length(text) AS char_count,
         |  CAST(${sqlWordCount("text")} AS BIGINT) AS word_count,
         |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS sentence_count,
         |  CAST(floor((CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) /
         |        CAST(${sqlWordCount("text")} AS DOUBLE)) * 1000000.0) AS BIGINT) AS mwl_micro,
         |  CAST(floor((4.71 * (CAST(length(text) AS DOUBLE) / CAST(${sqlWordCount("text")} AS DOUBLE))
         |    + 0.5 * (CAST(${sqlWordCount("text")} AS DOUBLE) /
         |             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
         |    - 21.43) * 1000000.0) AS BIGINT) AS ari_micro
         |FROM $D""".stripMargin) { (s, dir) =>
      LangkitSampleEvaluator("text")(t(s, dir, D))
        .select(col("doc_id"), col("char_count"), col("word_count"),
          col("sentence_count"),
          floor(col("mean_word_len") * 1000000.0).cast("long").as("mwl_micro"),
          floor(col("ari") * 1000000.0).cast("long").as("ari_micro"))
    },
    "text_token_count" -> oracled(
      s"""SELECT doc_id, CAST(${sqlWordCount("text")} AS BIGINT) AS word_tokens,
         |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS bpe_tokens
         |FROM $D""".stripMargin) { (s, dir) =>
      TokenCountEvaluator("text")(t(s, dir, D))
        .select("doc_id", "word_tokens", "bpe_tokens")
    },
    "text_fingerprint" -> oracled(
      s"""SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
         |  list_transform(${sqlWords("text")}, w -> ('0x' || substr(md5(w),1,8))::BIGINT)),
         |  (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
         |FROM $D""".stripMargin) { (s, dir) =>
      FingerprintEvaluator("text")(t(s, dir, D)).select("doc_id", "fingerprint")
    },
    "text_quality_score" -> oracled(
      s"""SELECT doc_id, round((
         |  least(CAST(${sqlWordCount("text")} AS DOUBLE) / 100.0, 1.0)
         |  + CAST(len(list_distinct(${sqlWords("text")})) AS DOUBLE) /
         |    CAST(${sqlWordCount("text")} AS DOUBLE)
         |  + least(CAST(len(list_filter(${sqlWords("lower(text)")},
         |      w -> list_contains(${sqlLex(Lexicons.englishStopwords)}, w))) AS DOUBLE) /
         |      CAST(${sqlWordCount("text")} AS DOUBLE) * 5.0, 1.0)
         |) / 3.0, 6) AS quality_score FROM $D""".stripMargin) { (s, dir) =>
      QualityScoreEvaluator("text")(t(s, dir, D)).select("doc_id", "quality_score")
    })

  // DuckDB mirror of the reference's MTLD + HD-D
  // (`lexical_diversity_sample_evaluator.py:13-90`): tokens are lowercased
  // with string.punctuation stripped; MTLD folds a (factors, token_count,
  // seen-types, ttr) accumulator forward and backward at threshold 0.72;
  // HD-D sums per-type hypergeometric contributions at sample size 42 via
  // the ratio-product form of C(N-42,c)/C(N,c).
  private val sqlNormToks =
    s"""list_transform(${sqlWords("text")}, t -> lower(translate(t, '!"#$$%&''()*+,-./:;<=>?@[\\]^_`{|}~', '')))"""

  // MTLD as a recursive CTE over factor segments, all-scalar state: the
  // greedy boundary of the segment starting at st is the smallest p with
  // distinct(st..p)/(p-st+1) ≤ 0.72, where distinct(st..p) counts
  // positions whose previous same-token occurrence (`pv`, precomputed)
  // lies before st. A list_reduce fold would be the natural shape, but
  // DuckDB's struct-accumulator reduce both miscomputes late fields and
  // segfaults at corpus size — the recursion only carries (st, factors).
  // Literals are CAST to DOUBLE: bare 1.0 infers DECIMAL(2,1) and rounds.
  private def sqlMtldBoundary(st: String): String =
    s"""list_min(list_filter(range($st, wc + 1), p ->
       |  CAST(len(list_filter(range($st, p + 1), q -> pv[q] < $st)) AS DOUBLE)
       |    / CAST(p - $st + 1 AS DOUBLE) <= 0.72))""".stripMargin

  private def sqlHdd(toks: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_distinct($toks), t ->
       |  (1.0 - list_reduce(list_prepend(1.0,
       |      list_transform(range(0, len(list_filter($toks, x -> x = t))),
       |        i -> (CAST(len($toks) AS DOUBLE) - 42.0 - i) / (CAST(len($toks) AS DOUBLE) - i))),
       |    (a, b) -> a * b)) / 42.0)), (a, b) -> a + b)""".stripMargin

  private def sqlLexicalDiversity: String =
    s"""WITH RECURSIVE base AS (SELECT doc_id, $sqlNormToks AS toks,
       |  ${sqlWordCount("text")} AS wc,
       |  len(list_distinct(${sqlWords("text")})) AS uc FROM $D),
       |b2 AS (
       |  SELECT doc_id, 'f' AS pass, toks AS tk, wc FROM base
       |  UNION ALL
       |  SELECT doc_id, 'b' AS pass, list_reverse(toks) AS tk, wc FROM base),
       |b3 AS (SELECT doc_id, pass, wc,
       |  list_transform(range(1, wc + 1), p ->
       |    coalesce(list_max(list_filter(range(1, p), q -> tk[q] = tk[p])), 0)) AS pv
       |  FROM b2),
       |segs AS (
       |  SELECT doc_id, pass, wc, pv, 1 AS st, CAST(0.0 AS DOUBLE) AS factors FROM b3
       |  UNION ALL
       |  SELECT doc_id, pass, wc, pv, ${sqlMtldBoundary("st")} + 1 AS st,
       |    factors + CAST(1.0 AS DOUBLE) AS factors
       |  FROM segs WHERE ${sqlMtldBoundary("st")} IS NOT NULL),
       |term AS (
       |  SELECT doc_id, pass, wc, factors,
       |    CASE WHEN st > wc THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(len(list_filter(range(st, wc + 1), q -> pv[q] < st)) AS DOUBLE)
       |           / CAST(wc - st + 1 AS DOUBLE) END AS rt
       |  FROM segs WHERE ${sqlMtldBoundary("st")} IS NULL),
       |pass_val AS (
       |  SELECT doc_id,
       |    CASE WHEN (factors + (CAST(1.0 AS DOUBLE) - rt) / (1.0 - 0.72)) = 0 THEN -1.0
       |         ELSE CAST(wc AS DOUBLE) / (factors + (CAST(1.0 AS DOUBLE) - rt) / (1.0 - 0.72)) END AS v
       |  FROM term),
       |mtldv AS (SELECT doc_id, round(SUM(v) / 2.0, 6) AS mtld FROM pass_val GROUP BY doc_id)
       |SELECT b.doc_id,
       |  round(CAST(uc AS DOUBLE) / CAST(wc AS DOUBLE), 6) AS ttr,
       |  round(CAST(uc AS DOUBLE) / sqrt(CAST(wc AS DOUBLE)), 6) AS rttr,
       |  CASE WHEN wc > 50 THEN m.mtld ELSE NULL END AS mtld,
       |  CASE WHEN wc > 50 AND wc < 1000 THEN round(${sqlHdd("toks")}, 6)
       |       ELSE NULL END AS hdd
       |FROM base b JOIN mtldv m ON b.doc_id = m.doc_id""".stripMargin

  // ---- dataset-level aggregations (§2.6) ----------------------------------
  private def aggs: Map[String, Q] = Map(
    "agg_category_distribution" -> oracled(
      s"SELECT lang, COUNT(*) AS n FROM $D GROUP BY lang") { (s, dir) =>
      DatasetEvaluators.categoryDistribution(t(s, dir, D), "lang")
    },
    "agg_token_stats" -> oracled(
      s"""SELECT CAST(SUM(wc) AS BIGINT) AS total_tokens,
         |  round(CAST(SUM(wc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
         |  MIN(wc) AS min_tokens, MAX(wc) AS max_tokens
         |FROM (SELECT CAST(${sqlWordCount("text")} AS BIGINT) AS wc FROM $D)""".stripMargin) {
      (s, dir) => DatasetEvaluators.tokenStats(t(s, dir, D), "text")
    },
    "agg_numeric_stats" -> oracled(
      """SELECT COUNT(o_totalprice) AS n,
        |  round(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(o_totalprice) AS DOUBLE), 6) AS mean,
        |  round(sqrt((CAST(SUM(CAST(o_totalprice AS DECIMAL(19,6)) * x) AS DOUBLE)
        |    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE) /
        |      CAST(COUNT(o_totalprice) AS DOUBLE)) /
        |    (CAST(COUNT(o_totalprice) AS DOUBLE) - 1.0)), 6) AS stddev
        |FROM (SELECT o_totalprice, CAST(o_totalprice AS DECIMAL(18,6)) AS x FROM orders)""".stripMargin) {
      (s, dir) => DatasetEvaluators.numericStats(t(s, dir, "orders"), "o_totalprice")
    })

  // ---- remaining rule filters (§2.2) --------------------------------------
  private def filters2: Map[String, Q] = Map(
    // documents have no sentence punctuation; map spaces → '.' first so the
    // sentence counter sees real variance (30..60 sentences keeps a subset)
    "filter_sentence_number" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE len(regexp_extract_all(translate(text, ' ', '.'), '[.!?]+'))
         |      BETWEEN 30 AND 60""".stripMargin) { (s, dir) =>
      SentenceNumberFilter("text", 30, 60)(
        t(s, dir, D).withColumn("text", translate(col("text"), " ", ".")))
        .select("doc_id", "n_chars")
    },
    "filter_no_punc" -> filterQ(NoPuncFilter("text", 56),
      s"coalesce(list_max(list_transform(regexp_split_to_array(text, '[.!?,;:]'), " +
        s"s -> len(list_filter(regexp_split_to_array(s, '\\s+'), x -> x <> '')))) <= 56, TRUE)"),
    "filter_symbol_word_ratio" -> filterQ(SymbolWordRatioFilter("text", 0.4),
      s"CAST(length(text) - length(translate(text, '#', '')) + " +
        s"len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) <= 0.4"),
    "filter_html_entity" -> filterQ(HtmlEntityFilter("text"),
      "NOT regexp_matches(text, '&(nbsp|lt|gt|amp|quot|apos|hellip|ndash|mdash|lsquo|rsquo|ldquo|rdquo);')"),
    "filter_id_card" -> filterQ(IDCardFilter("text"),
      "NOT regexp_matches(lower(text), '(id number|id card|idcard|identification number)') " +
        "AND NOT regexp_matches(text, '[0-9]{17}[0-9Xx]')"),
    "filter_special_character" -> filterQ(SpecialCharacterFilter("text"),
      "NOT regexp_matches(text, '[\\x{00A0}\\x{FEFF}\\x{2424}\\x{3000}\\x{FFFD}]|\\{\\{|\\}\\}|&#[0-9]+;')"),
    "filter_lorem_ipsum" -> filterQ(LoremIpsumFilter("text", 3e-8),
      "CAST(len(regexp_extract_all(lower(text), 'lorem ipsum')) AS DOUBLE) / " +
        "CAST(length(text) AS DOUBLE) <= 0.00000003"),
    "filter_capital_words" -> filterQ(CapitalWordsFilter("text", 0.2),
      s"CAST(len(list_filter(${sqlWords("text")}, w -> upper(w) = w AND lower(w) <> w)) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) <= 0.2"),
    "filter_line_ellipsis" -> filterQ(LineEndWithEllipsisFilter("text", 0.3),
      s"CAST(len(list_filter(split(text, chr(10)), l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE) / " +
        s"CAST(len(split(text, chr(10))) AS DOUBLE) <= 0.3"),
    "filter_line_bullet" -> filterQ(LineStartWithBulletpointFilter("text", 0.9),
      s"CAST(len(list_filter(split(text, chr(10)), l -> regexp_matches(ltrim(l), '^([*\\-•‣▶►]|[0-9]+[.)])'))) AS DOUBLE) / " +
        s"CAST(len(split(text, chr(10))) AS DOUBLE) <= 0.9"),
    "filter_line_javascript" -> filterQ(LineWithJavascriptFilter("text", 3),
      "len(list_filter(split(text, chr(10)), l -> contains(lower(l), 'javascript'))) <= 3"),
    "filter_curly_bracket" -> oracled(
      """SELECT event_id FROM events
        |WHERE CAST(length(props) - length(translate(props, '{}', '')) AS DOUBLE) /
        |      CAST(length(props) AS DOUBLE) <= 0.2""".stripMargin) { (s, dir) =>
      CurlyBracketFilter("props", 0.2)(t(s, dir, "events")).select("event_id")
    },
    "filter_general" -> oracled(
      """SELECT event_id, user_id, value FROM events
        |WHERE value > 100 AND event_type IN ('purchase','view')""".stripMargin) {
      (s, dir) =>
        GeneralFilter(Seq(col("value") > 100,
          col("event_type").isin("purchase", "view")), Seq("value", "event_type"))(
          t(s, dir, "events")).select("event_id", "user_id", "value")
    })

  // ---- remaining refiners (§2.4) ------------------------------------------
  private def refiners2: Map[String, Q] = Map(
    "refine_remove_emoji" -> refineQ(RemoveEmojiRefiner("text"),
      "regexp_replace(text, '[\\x{1F300}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{FE0F}\\x{1F000}-\\x{1F02F}]', '', 'g')"),
    "refine_remove_repetitions_punct" -> refineQ(
      RemoveRepetitionsPunctuationRefiner("text"),
      RemoveRepetitionsPunctuationRefiner.punct.foldLeft("text") { (acc, ch) =>
        val esc = ch match {
          case c if "\\^$.|?*+()[]{}".contains(c) => "\\" + c
          case '\'' => "''"
          case c => c.toString
        }
        val rep = if (ch == '\'') "''" else ch.toString
        s"regexp_replace($acc, '$esc{2,}', '$rep', 'g')"
      }),
    "refine_remove_image_refs" -> refineQ(RemoveImageRefsRefiner("text"),
      """regexp_replace(regexp_replace(text, '!\[[^\]]*\]\([^)]*\)', '', 'g'), '<img[^>]*>', '', 'g')"""),
    "refine_html_entity" -> refineQ(HtmlEntityRefiner("text"),
      "replace(replace(replace(replace(replace(replace(text, '&nbsp;', ' '), " +
        "'&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&apos;', '''')"),
    "refine_remove_contractions" -> refineQ(RemoveContractionsRefiner("text"),
      "replace(replace(replace(replace(replace(replace(replace(replace(replace(" +
        "text, 'can''t', 'cannot'), 'won''t', 'will not'), 'n''t', ' not'), " +
        "'''re', ' are'), '''ve', ' have'), '''ll', ' will'), '''m', ' am'), " +
        "'it''s', 'it is'), 'let''s', 'let us')"),
    "refine_reference_remover" -> refineQ(ReferenceRemoverRefiner("text"),
      """regexp_replace(text, '\[[0-9]+(,\s*[0-9]+)*\]', '', 'g')"""),
    "refine_text_normalization" -> refineQ(TextNormalizationRefiner("text"),
      """regexp_replace(regexp_replace(text, '\$\s*([0-9]+(\.[0-9]+)?)', '\1 dollars', 'g'), """ +
        """'([0-9]{1,2})/([0-9]{1,2})/([0-9]{4})', '\3-\1-\2', 'g')"""),
    "refine_pii_anonymize" -> refineQ(PIIAnonymizeRefiner("text"),
      """regexp_replace(regexp_replace(regexp_replace(text, """ +
        """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), """ +
        """'\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}', '<PHONE>', 'g'), """ +
        """'\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g')"""),
    "refine_ner" -> refineQ(NERRefiner("text"),
      """regexp_replace(text, '([a-z],? )([A-Z][a-z]+( [A-Z][a-z]+)+)', '\1<ENTITY>', 'g')"""),
    "refine_stemming" -> refineQ(StemmingRefiner("text"),
      s"""array_to_string(list_transform(${sqlWords("text")}, w ->
         | CASE WHEN length(w) > 5 AND ends_with(w, 'ing') THEN substr(w, 1, length(w)-3)
         |      WHEN length(w) > 4 AND ends_with(w, 'ed') THEN substr(w, 1, length(w)-2)
         |      WHEN length(w) > 3 AND ends_with(w, 's') AND NOT ends_with(w, 'ss')
         |        THEN substr(w, 1, length(w)-1)
         |      ELSE w END), ' ')""".stripMargin))

  // ---- sorts / limits / set ops (§2.9) + paired evaluators ----------------
  private def misc: Map[String, Q] = Map(
    "sort_topk_orders" -> oracled(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice").limit(10)
    },
    "join_bucketed" -> oracled(
      // co-located join: both sides persisted bucketed on the join key →
      // zero Exchange in the join AND the downstream groupBy (PlanSpec
      // asserts it); the pattern that amortizes one shuffle across every
      // later consumer at 100 TB
      """SELECT l_orderkey, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey""".stripMargin) { (s, dir) =>
      graft.core.Partitioning.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        "graft_li_bucketed", "l_orderkey", 16)
      graft.core.Partitioning.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey")),
        "graft_o_bucketed", "l_orderkey", 16)
      s.table("graft_li_bucketed").join(s.table("graft_o_bucketed"), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(20,2)")).cast("double"), 2).as("sum_qty"))
    },
    "source_xlsx_roundtrip" -> oracled(
      // end-to-end codec gate: write a slice through the xlsx sink, read
      // it back through the xlsx source, oracle against the parquet
      // original (xlsx numerics are untyped → DOUBLE on both sides)
      """SELECT CAST(doc_id AS DOUBLE) AS doc_id, md5(text) AS digest,
        |  CAST(n_chars AS DOUBLE) AS n_chars
        |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)""".stripMargin) {
      (s, dir) =>
        val src = t(s, dir, D).orderBy("doc_id").limit(50)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
            col("n_chars"))
        val path = java.nio.file.Files.createTempDirectory("graft_xlsx")
          .toString + "/docs.xlsx"
        Storage.write(src, path)
        Storage.read(s, path)
    },
    "source_pickle_roundtrip" -> oracled(
      // end-to-end codec gate like the xlsx one; pickle is typed, so
      // longs and strings survive exactly (no DOUBLE coercion)
      """SELECT doc_id, md5(text) AS digest, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)""".stripMargin) {
      (s, dir) =>
        val src = t(s, dir, D).orderBy("doc_id").limit(50)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
            col("n_chars").cast("long").as("n_chars"))
        val path = java.nio.file.Files.createTempDirectory("graft_pkl")
          .toString + "/docs.pkl"
        Storage.write(src, path)
        Storage.read(s, path)
    },
    "setop_union_users" -> oracled(
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |UNION
        |SELECT user_id FROM events WHERE value > 150""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "purchase").select("user_id")
        .union(e.filter(col("value") > 150).select("user_id"))
        .distinct()
    },
    "eval_qa_f1" -> oracled(
      s"""WITH pairs AS (
         |  SELECT a.doc_id, a.text AS pred, b.text AS gold
         |  FROM $D a JOIN $D b ON b.doc_id = a.doc_id + 1),
         |toks AS (
         |  SELECT doc_id,
         |    ${sqlF1Norm("pred")} AS p,
         |    ${sqlF1Norm("gold")} AS g
         |  FROM pairs),
         |ov AS (
         |  SELECT doc_id, p, g,
         |    list_reduce(list_prepend(0, list_transform(
         |      list_intersect(list_distinct(p), list_distinct(g)),
         |      tk -> least(len(list_filter(p, x -> x = tk)),
         |                  len(list_filter(g, y -> y = tk))))),
         |      (a, b) -> a + b) AS overlap
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN len(p) = 0 OR len(g) = 0 OR overlap = 0 THEN 0.0
         |       ELSE round(2.0 * (CAST(overlap AS DOUBLE) / CAST(len(p) AS DOUBLE))
         |              * (CAST(overlap AS DOUBLE) / CAST(len(g) AS DOUBLE))
         |              / ((CAST(overlap AS DOUBLE) / CAST(len(p) AS DOUBLE))
         |               + (CAST(overlap AS DOUBLE) / CAST(len(g) AS DOUBLE))), 6)
         |  END AS f1
         |FROM ov""".stripMargin) { (s, dir) =>
      val d = t(s, dir, D)
      val a = d.select(col("doc_id"), col("text").as("pred"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("gold"))
      QAF1SampleEvaluator("pred", "gold")(a.join(b, Seq("doc_id")))
        .select("doc_id", "f1")
    },
    "eval_bleu" -> oracled {
      // smoothed BLEU-4: per n, bag-intersection overlap with +1
      // smoothing; geometric mean × brevity penalty
      def grams(c: String, n: Int) = sqlWordNgrams(c, n)
      def prec(n: Int) =
        s"""(CAST(list_reduce(list_prepend(0, list_transform(
           |  list_intersect(list_distinct(${grams("pred", n)}), list_distinct(${grams("gold", n)})),
           |  tk -> least(len(list_filter(${grams("pred", n)}, x -> x = tk)),
           |              len(list_filter(${grams("gold", n)}, y -> y = tk))))),
           |  (a, b) -> a + b) + 1 AS DOUBLE) /
           | CAST(len(${grams("pred", n)}) + 1 AS DOUBLE))""".stripMargin
      s"""WITH pairs AS (
         |  SELECT a.doc_id, a.text AS pred, b.text AS gold
         |  FROM $D a JOIN $D b ON b.doc_id = a.doc_id + 1)
         |SELECT doc_id, round(
         |  CASE WHEN ${sqlWordCount("pred")} >= ${sqlWordCount("gold")} THEN 1.0
         |       ELSE exp(1.0 - CAST(${sqlWordCount("gold")} AS DOUBLE) /
         |                      CAST(${sqlWordCount("pred")} AS DOUBLE)) END
         |  * exp((ln(${prec(1)}) + ln(${prec(2)}) + ln(${prec(3)}) + ln(${prec(4)})) / 4.0),
         |  6) AS bleu
         |FROM pairs""".stripMargin
    } { (s, dir) =>
      val d = t(s, dir, D)
      val a = d.select(col("doc_id"), col("text").as("pred"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("gold"))
      BleuSampleEvaluator("pred", "gold")(a.join(b, Seq("doc_id")))
        .select("doc_id", "bleu")
    },
    "eval_presidio" -> oracled(
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |     + len(regexp_extract_all(text, '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}'))
         |     + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS pii_count
         |FROM $D""".stripMargin) { (s, dir) =>
      PresidioSampleEvaluator("text")(t(s, dir, D)).select("doc_id", "pii_count")
    },
    "agg_bench_accuracy" -> oracled(
      """SELECT COUNT(*) AS total,
        |  CAST(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' AND value > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
        |  round(CAST(SUM(CASE WHEN event_type = 'purchase' AND value > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        |FROM events""".stripMargin) { (s, dir) =>
      DatasetEvaluators.benchAccuracy(t(s, dir, "events"),
        col("event_type") === "purchase", col("value") > 0)
    },
    "agg_bench_accuracy_by" -> oracled(
      """SELECT event_type, COUNT(*) AS total,
        |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
        |  round(CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS DOUBLE) /
        |        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      DatasetEvaluators.benchAccuracyBy(t(s, dir, "events"), "event_type",
        col("value") > 100)
    })

  // ---- LLM-backed ops via deterministic MockServing (§2.8) ----------------
  // MockServing responses are pure functions of (system, prompt), so even
  // the LLM family gets full value-level oracles:
  //   echo  → 'echo[<sys>]:<prompt>' ; JUDGE → yes iff even length ;
  //   SCORE → (len % 100)/10.0 ; embed_i → ((md5_32 + 31 i) % 1000)/1000
  private val mock = MockServing()

  private def serving: Map[String, Q] = Map(
    "gen_prompted" -> oracled(
      s"SELECT doc_id, 'echo[SYS]:' || text AS gen FROM $D") { (s, dir) =>
      PromptedGenerator("text", "gen", mock, "SYS")(t(s, dir, D))
        .select("doc_id", "gen")
    },
    "gen_format_str" -> oracled(
      s"SELECT doc_id, 'echo[]:Q(' || lang || '): ' || text AS gen FROM $D") {
      (s, dir) =>
        FormatStrPromptedGenerator("Q({lang}): {text}", "gen", mock)(t(s, dir, D))
          .select("doc_id", "gen")
    },
    "filter_prompted" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE length(text) % 2 = 0") { (s, dir) =>
      PromptedFilter("text", mock)(t(s, dir, D)).select("doc_id", "n_chars")
    },
    "refine_prompted" -> oracled(
      s"SELECT doc_id, 'echo[REWRITE]:' || text AS text FROM $D") { (s, dir) =>
      PromptedRefiner("text", mock, "REWRITE")(t(s, dir, D))
        .select("doc_id", "text")
    },
    "eval_prompted" -> oracled(
      s"SELECT doc_id, CAST(length(text) % 100 AS DOUBLE) / 10.0 AS llm_score FROM $D") {
      (s, dir) =>
        PromptedEvaluator("text", "llm_score", mock)(t(s, dir, D))
          .select("doc_id", "llm_score")
    },
    "refine_condor" -> oracled(
      s"""SELECT doc_id, 'echo[CRITIQUE]:' || text AS critique,
         |  'echo[REWRITE]:' || text || ' <CRIT> echo[CRITIQUE]:' || text AS text
         |FROM $D""".stripMargin) { (s, dir) =>
      CondorRefiner("text", mock)(t(s, dir, D))
        .select("doc_id", "critique", "text")
    },
    "gen_chunked" -> oracled(
      s"""SELECT doc_id, array_to_string(list_transform(
         |  list_transform(range(0, greatest(CAST(ceil(CAST(${sqlWordCount("text")} AS DOUBLE) / 20.0) AS BIGINT), 1)),
         |    i -> array_to_string(list_slice(${sqlWords("text")}, i*20 + 1, i*20 + 20), ' ')),
         |  c -> 'echo[]:' || c), ' | ') AS gen
         |FROM $D""".stripMargin) { (s, dir) =>
      ChunkedPromptedGenerator("text", "doc_id", "gen", mock, chunkWords = 20)(
        t(s, dir, D)).select("doc_id", "gen")
    },
    // emitted as integer thousandths (exact) rather than doubles — string
    // canonicalization that is stable across engines' float formatting
    "gen_embedding" -> oracled(
      s"""SELECT doc_id, array_to_string(list_transform(range(0, 16),
         |  i -> (('0x' || substr(md5(text), 1, 8))::BIGINT + 31*i) % 1000), ',') AS emb
         |FROM $D""".stripMargin) { (s, dir) =>
      EmbeddingGenerator("text", "emb", mock)(t(s, dir, D))
        .select(col("doc_id"),
          concat_ws(",", transform(col("emb"),
            x => round(x * 1000).cast("long"))).as("emb"))
    },
    "gen_rows" -> oracled(
      "SELECT range AS id, 'echo[GEN]:seed-' || range AS content FROM range(100)") {
      (s, _) => RowGenerator.domainRows(s, 100, mock)
    },
    "gen_text2qa" -> oracled(
      s"""SELECT doc_id, 'echo[QGEN]:' || text AS question,
         |  'echo[AGEN]:echo[QGEN]:' || text AS answer FROM $D""".stripMargin) {
      (s, dir) =>
        Text2QAGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "question", "answer")
    },
    "text_language_id" -> oracled(
      s"SELECT doc_id, lang_pred FROM ($sqlLangIdPredict) q") { (s, dir) =>
      LanguageIdEvaluator("text")(t(s, dir, D)).select("doc_id", "lang_pred")
    },
    // fused predict-then-filter on RAW text (reference's LanguageFilter
    // shape, language_filter.py:69) — no precomputed lang column
    "filter_language_text" -> oracled(
      s"""SELECT doc_id, n_chars FROM ($sqlLangIdPredict) q
         |WHERE lang_pred IN ('en','fr')""".stripMargin) { (s, dir) =>
      LanguageFilter("text", Seq("en", "fr"), fromText = true)(t(s, dir, D))
        .select("doc_id", "n_chars")
    })

  /** DuckDB twin of [[LanguageIdEvaluator.predict]]: marker-hit argmax
    * with name-order tie-break, 'und' when nothing hits. */
  private def sqlLangIdPredict: String = {
    def hits(l: String) =
      s"len(list_filter(${sqlWords("lower(text)")}, w -> list_contains(${sqlLex(LanguageIdEvaluator.markers(l))}, w)))"
    s"""WITH s AS (SELECT doc_id, n_chars, ${hits("de")} AS sde, ${hits("en")} AS sen,
       |  ${hits("es")} AS ses, ${hits("fr")} AS sfr FROM $D)
       |SELECT doc_id, n_chars, CASE
       |  WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
       |  WHEN sde >= sen AND sde >= ses AND sde >= sfr THEN 'de'
       |  WHEN sen >= ses AND sen >= sfr THEN 'en'
       |  WHEN ses >= sfr THEN 'es' ELSE 'fr' END AS lang_pred
       |FROM s""".stripMargin
  }

  // ---- Text2SQL suite (§2.10) over a synthesized SQL corpus ---------------
  // The reference ships per-db_id SQLite files; here the SQL corpus is
  // synthesized deterministically from testdata so every step has a
  // value-level oracle.
  private def synthSql = concat(lit("SELECT a FROM t"),
    repeat(lit(" JOIN b ON 1=1"), (col("doc_id") % 7).cast("int")),
    lit(" WHERE x > 0"))
  private val synthSqlSql =
    "'SELECT a FROM t' || repeat(' JOIN b ON 1=1', CAST(doc_id % 7 AS INT)) || ' WHERE x > 0'"

  private def text2sql: Map[String, Q] = Map(
    "t2s_extract" -> oracled(
      s"""SELECT doc_id, trim(regexp_extract(
         |  'intro ```sql SELECT ' || doc_id || ' FROM t ``` outro',
         |  '(?s)```sql\\s*(.*?)```', 1)) AS sql FROM $D""".stripMargin) { (s, dir) =>
      t(s, dir, D).withColumn("raw",
        concat(lit("intro ```sql SELECT "), col("doc_id"), lit(" FROM t ``` outro")))
        .withColumn("sql", SqlExtract(col("raw")))
        .select("doc_id", "sql")
    },
    "t2s_executability" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 2 = 0") { (s, dir) =>
      val withSql = t(s, dir, D).withColumn("sql",
        when(col("doc_id") % 2 === 0,
          concat(lit("-- c\nSELECT "), col("doc_id"), lit(" AS x")))
          .otherwise(concat(lit("DROP TABLE t"), col("doc_id"))))
      SQLExecutabilityFilter("sql")(withSql).select("doc_id", "n_chars")
    },
    "t2s_classify" -> oracled(
      s"""WITH c AS (SELECT doc_id, lower($synthSqlSql) AS s FROM $D),
         |n AS (SELECT doc_id,
         |  len(regexp_extract_all(s, '\\bjoin\\b')) + len(regexp_extract_all(s, '\\bgroup\\s+by\\b'))
         |  + len(regexp_extract_all(s, '\\border\\s+by\\b'))
         |  + len(regexp_extract_all(s, '\\b(sum|avg|min|max|count)\\s*\\('))
         |  + len(regexp_extract_all(s, '\\bwhere\\b'))
         |  + len(regexp_extract_all(s, '\\b(union|intersect|except)\\b'))
         |  + greatest(len(regexp_extract_all(s, '\\bselect\\b')) - 1, 0) AS comp
         |  FROM c)
         |SELECT doc_id, CASE WHEN comp <= 1 THEN 'easy' WHEN comp <= 3 THEN 'medium'
         |  WHEN comp <= 5 THEN 'hard' ELSE 'extra' END AS hardness FROM n""".stripMargin) {
      (s, dir) =>
        SQLComponentClassifier("sql")(t(s, dir, D).withColumn("sql", synthSql))
          .select("doc_id", "hardness")
    },
    "t2s_prompt" -> oracled(
      s"""SELECT d.doc_id,
         |  '-- schema' || chr(10) || 'CREATE TABLE t_' || d.lang || '(x INT)' ||
         |  chr(10) || '-- question: ' || d.text || chr(10) || 'SELECT' AS prompt
         |FROM $D d""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, D)
      val schemas = docs.select(col("lang")).distinct()
        .withColumn("schema_ddl", concat(lit("CREATE TABLE t_"), col("lang"), lit("(x INT)")))
      Text2SQLPromptGenerator("lang", "text", "prompt", schemas)(docs)
        .select("doc_id", "prompt")
    },
    "t2s_variation" -> oracled(
      s"SELECT doc_id, 'echo[VARY]:' || ($synthSqlSql) AS variation FROM $D") {
      (s, dir) =>
        SQLVariationGenerator("sql", "variation", mock)(
          t(s, dir, D).withColumn("sql", synthSql)).select("doc_id", "variation")
    },
    "t2s_question_gen" -> oracled(
      s"SELECT doc_id, 'echo[QUESTION]:' || ($synthSqlSql) AS question FROM $D") {
      (s, dir) =>
        Text2SQLQuestionGenerator("sql", "question", mock)(
          t(s, dir, D).withColumn("sql", synthSql)).select("doc_id", "question")
    },
    "t2s_cot_voting" -> oracled(
      s"SELECT doc_id, 'echo[COT]:' || ($synthSqlSql) || '#0' AS cot FROM $D") {
      (s, dir) =>
        Text2SQLCoTVotingGenerator("sql", "cot", mock, samples = 3)(
          t(s, dir, D).withColumn("sql", synthSql)).select("doc_id", "cot")
    },
    "t2s_execution" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 2 = 0") { (s, dir) =>
      // distinct-statement count bounded by the mod (the reference caps
      // synthesis via generate_num the same way) — exec cost stays flat
      // as the corpus scales. Odd rows carry DDL: the SELECT/WITH guard
      // must reject them WITHOUT executing (a DROP reaching the live
      // session would be a real side effect).
      val withSql = t(s, dir, D).withColumn("sql",
        when(col("doc_id") % 2 === 0,
          concat(lit("SELECT "), col("doc_id") % 1000, lit(" AS x")))
          .otherwise(concat(lit("DROP TABLE IF EXISTS t"), col("doc_id"))))
      SQLExecutionFilter("sql", timeoutSec = 5)(withSql).select("doc_id", "n_chars")
    },
    "t2s_exec_classify" -> oracled(
      // generation-execution agreement difficulty: even rows' gold matches
      // all 10 mock candidates (cnt=10 → easy), odd rows' gold differs
      // (cnt=0 → extra)
      s"""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'easy' ELSE 'extra' END
         |  AS difficulty FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D)
        .withColumn("prompt",
          concat(lit("```sql SELECT "), col("doc_id") % 5, lit(" AS x ```")))
        .withColumn("gold_sql",
          when(col("doc_id") % 2 === 0,
            concat(lit("SELECT "), col("doc_id") % 5, lit(" AS x")))
            .otherwise(concat(lit("SELECT "), (col("doc_id") + 1) % 5, lit(" AS x"))))
      SQLExecutionClassifier("prompt", "gold_sql", mock)(df)
        .select("doc_id", "difficulty")
    },
    "t2s_correspondence" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE length('question: ' || text || chr(10) || 'sql: SELECT ' || doc_id
         |  || ' AS x' || chr(10) || 'schema: ') % 2 = 0""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("question", col("text"))
        .withColumn("sql", concat(lit("SELECT "), col("doc_id"), lit(" AS x")))
      Text2SQLCorrespondenceFilter("question", "sql", mock)(df)
        .select("doc_id", "n_chars")
    },
    "t2s_by_column" -> oracled(
      """SELECT lang AS db_id,
        |  'echo[SQLGEN]:CREATE TABLE t_' || lang || '(x INT) -- variant ' || v AS sql
        |FROM (SELECT DISTINCT lang FROM documents) d, range(3) r(v)""".stripMargin) {
      (s, dir) =>
        val dbs = t(s, dir, D).select(col("lang").as("db_id")).distinct()
          .withColumn("schema_ddl",
            concat(lit("CREATE TABLE t_"), col("db_id"), lit("(x INT)")))
        SQLByColumnGenerator("db_id", "schema_ddl", mock, generateNum = 3)(dbs)
    })

  // ---- similarity / multimodal / streaming tiers --------------------------
  /** DuckDB sequential-fold cosine over DOUBLE[] (bit-matches
    * Similarity.cosine's fold order). */
  private def sqlCosine(a: String, b: String, dim: Int): String = {
    def fold(prods: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, $prods), (acc, x) -> acc + x)"
    val dot = fold(s"list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i])")
    val na = s"sqrt(${fold(s"list_transform(range(1, ${dim + 1}), i -> $a[i] * $a[i])")})"
    val nb = s"sqrt(${fold(s"list_transform(range(1, ${dim + 1}), i -> $b[i] * $b[i])")})"
    s"($dot) / (($na) * ($nb))"
  }

  /** DuckDB sequential-fold dot product over DOUBLE[] (bit-matches the
    * `dot += ct(j) * v(j)` loop in Similarity.ivfTopK's centroid
    * ranking). */
  private def sqlDot(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  /** DuckDB twin of `Dedup.sqDist`: Σ (a_i − b_i)², folded left-to-right
    * in ascending index order — the same IEEE summation order as the
    * Scala loop, so the doubles (and therefore every greedy argmax
    * comparison built on them) are bit-identical. */
  private def sqlSqDist(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** DuckDB twin of `kernels.lshBuckets` / `cosine_lsh_buckets`: CTEs
    * `wt` (±1 plane weights from md5-nibble parity, one ORDERED list per
    * plane), `dots` (left-to-right folded dot per (vec, plane) — the same
    * summation order as the kernel, so signs are bit-identical), `codes`
    * and `buckets` ("table:code" keys). Expects a prior CTE `v(vec_id, e)`
    * with e = CAST(embedding AS DOUBLE[]). */
  private def sqlLshBucketCtes(bits: Int, dim: Int, tables: Int): String = {
    val tb = tables * bits
    // kernel parity on malformed vectors: null/empty vectors emit NO
    // buckets (kernels.lshBuckets returns empty — never a candidate), and
    // a short vector zero-pads the tail terms (adding +0.0 to a
    // left-to-right fold is IEEE-exact, matching the kernel's
    // min-length loop for the sign test)
    s"""wt AS (SELECT p.g AS p,
       |    list(CASE WHEN ('0x' || substr(md5(p.g || ':' || i.g), 1, 1))::INT % 2 = 0
       |              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END ORDER BY i.g) AS w
       |  FROM range(0, $tb) p(g), range(0, $dim) i(g) GROUP BY 1),
       |dots AS (SELECT v.vec_id, wt.p,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, ${dim + 1}),
       |        i -> CASE WHEN i <= len(v.e) THEN v.e[i] * wt.w[i]
       |             ELSE 0.0::DOUBLE END)),
       |      (acc, x) -> acc + x) AS dot
       |  FROM v, wt WHERE v.e IS NOT NULL AND len(v.e) > 0),
       |codes AS (SELECT vec_id, p // $bits AS tbl,
       |    SUM(CASE WHEN dot > 0 THEN (1::BIGINT << (p % $bits)) ELSE 0 END) AS code
       |  FROM dots GROUP BY 1, 2),
       |buckets AS (SELECT vec_id, tbl || ':' || code AS bucket FROM codes)""".stripMargin
  }

  private def advanced: Map[String, Q] = Map(
    "sim_topk_brute" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlCosine("q.e", "c.e", 64)} AS cos
         |  FROM v q, v c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 5)
    },
    // LSH top-k, fully oracled: same md5-parity bucket replay as
    // dedup_sem_lsh; candidates = shared bucket, exact cosine, rank ties
    // by neighbor_id (the bounded top-k aggregator's ordering)
    "sim_lsh_topk" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${sqlLshBucketCtes(bits = 8, dim = 64, tables = 4)},
         |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |scored AS (SELECT p.query_id, p.neighbor_id,
         |    ${sqlCosine("a.e", "b.e", 64)} AS cos
         |  FROM pairs p JOIN v a ON a.vec_id = p.query_id
         |  JOIN v b ON b.vec_id = p.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // bits pinned to the oracle's CTE width (the operator DEFAULT is
      // bits = 0 → auto-sized from the corpus count)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 5, bits = 8)
    },
    // Full value oracle despite the MLlib k-means: training isn't
    // SQL-replayable, but the RUN exports its trained centroids
    // (ivfTopK exportDir) and everything downstream — raw-dot argmax
    // assignment (normalization provably drops out of the argsort),
    // top-nProbe probing with the same (dot DESC, list_id) tie-break as
    // the stable sortBy, exact in-list cosine rank — replays bit for
    // bit. Export is keyed by corpus row count so the sf0.01 verify
    // export and the sf0.1 bench export coexist.
    "sim_ivf_topk" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |cent AS (SELECT list_id, center FROM read_parquet('$IvfCentroidDir/*/*.parquet')
         |  WHERE sf_rows = (SELECT count(*) FROM embeddings)),
         |ranked AS (SELECT vec_id, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, list_id) AS rn
         |  FROM (SELECT v.vec_id, c.list_id, ${sqlDot("c.center", "v.e", 64)} AS dot
         |        FROM v CROSS JOIN cent c)),
         |assign AS (SELECT vec_id, list_id FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, list_id FROM ranked WHERE rn <= 4 AND vec_id < 5),
         |scored AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ${sqlCosine("vq.e", "va.e", 64)} AS cos
         |  FROM probes q JOIN assign a ON a.list_id = q.list_id AND a.vec_id <> q.vec_id
         |  JOIN v vq ON vq.vec_id = q.vec_id JOIN v va ON va.vec_id = a.vec_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 5, nLists = 16, nProbe = 4,
        exportDir = ivfExportDir)
    },
    // The synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.51
    // at sf0.01), so a 0.9 threshold correctly returns zero pairs; 0.4 has
    // real matches (59 at sf0.01). 8 bits × 16 tables: per-bit collision
    // p = 1 - arccos(0.4)/π ≈ 0.63 → recall ≈ 1-(1-p^8)^16 ≈ 0.33 at the
    // threshold (rising steeply for closer pairs) with ~half the candidate
    // pairs of a 6-bit table set — more tables beats wider buckets.
    "sim_join" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${sqlLshBucketCtes(bits = 8, dim = 64, tables = 16)},
         |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM buckets l JOIN buckets r
         |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT c.a, c.b, ${sqlCosine("va.e", "vb.e", 64)} AS cos
         |FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
         |WHERE ${sqlCosine("va.e", "vb.e", 64)} >= 0.4::DOUBLE""".stripMargin) {
      (s, dir) =>
        Similarity.similarityJoin(t(s, dir, "embeddings"),
          "embedding", "vec_id", threshold = 0.4, bits = 8, tables = 16)
    },
    "mm_binary_meta" -> oracled(
      s"""SELECT doc_id, octet_length(encode(text)) AS byte_length,
         |  md5(text) AS digest, 'unknown' AS format FROM $D""".stripMargin) {
      (s, dir) =>
        BinaryMetadataEvaluator("payload")(
          t(s, dir, D).withColumn("payload", col("text").cast("binary")))
          .select("doc_id", "byte_length", "digest", "format")
    },
    "mm_decode_double" -> oracled(
      s"""WITH h AS (SELECT doc_id,
         |  ('0x' || substr(md5(substr(text, 1, 64)), 1, 8))::BIGINT AS hv FROM $D)
         |SELECT doc_id, CAST(hv % 640 + 1 AS INT) AS width,
         |  CAST((hv // 640) % 480 + 1 AS INT) AS height, 3 AS channels FROM h""".stripMargin) {
      (s, dir) =>
        ImageDecodeDouble("payload")(
          t(s, dir, D).withColumn("payload", col("text").cast("binary")))
          .select(col("doc_id"), col("decoded.width").as("width"),
            col("decoded.height").as("height"), col("decoded.channels").as("channels"))
    },
    "mm_resize_double" -> oracled(
      s"""WITH h AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(substr(text, 1, 64)), 1, 8))::BIGINT % 640 + 1 AS INT) AS w,
         |  CAST((('0x' || substr(md5(substr(text, 1, 64)), 1, 8))::BIGINT // 640) % 480 + 1 AS INT) AS h
         |  FROM $D)
         |SELECT doc_id,
         |  CAST(floor(w * least(1.0, 256.0 / CAST(greatest(w, h) AS DOUBLE))) AS INT) AS rw,
         |  CAST(floor(h * least(1.0, 256.0 / CAST(greatest(w, h) AS DOUBLE))) AS INT) AS rh
         |FROM h""".stripMargin) { (s, dir) =>
      val decoded = ImageDecodeDouble("payload")(
        t(s, dir, D).withColumn("payload", col("text").cast("binary")))
      ImageResizeDouble("decoded", 256)(decoded)
        .select(col("doc_id"), col("resized.width").as("rw"), col("resized.height").as("rh"))
    },
    "mm_frame_sample" -> oracled(
      s"""SELECT doc_id, array_to_string(
         |  list_filter(${sqlWords("text")}, (x, i) -> (i - 1) % 10 = 0), ' ')
         |  AS sampled_frames FROM $D""".stripMargin) { (s, dir) =>
      FrameSampler("frames", every = 10)(
        t(s, dir, D).withColumn("frames", words(col("text"))))
        .select(col("doc_id"),
          concat_ws(" ", col("sampled_frames")).as("sampled_frames"))
    },
    // REAL codec round trips (JDK ImageIO / javax.sound — no stubs): the
    // query synthesizes a payload whose content is a closed-form function
    // of doc_id, runs the real encoder+decoder, and the oracle computes
    // the same statistics directly from the formula. A hash match proves
    // the bytes were genuinely encoded and parsed, pixel for pixel.
    "mm_decode_png" -> oracled(
      s"""WITH d AS (SELECT doc_id, CAST(doc_id % 24 + 8 AS INT) AS width,
         |    CAST(doc_id % 12 + 4 AS INT) AS height FROM $D),
         |p AS (SELECT d.doc_id, d.width, d.height,
         |    SUM((d.doc_id*31 + x.g*7 + y.g*13) % 256) AS s
         |  FROM d, generate_series(0, 30) AS x(g), generate_series(0, 14) AS y(g)
         |  WHERE x.g < d.width AND y.g < d.height
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, width, height, 1 AS channels,
         |  round(CAST(s AS DOUBLE) / (width * height), 6) AS pixel_mean
         |FROM p""".stripMargin) { (s, dir) =>
      val synth = udf((id: Long) =>
        MediaCodec.encodeGrayPng((id % 24 + 8).toInt, (id % 12 + 4).toInt,
          (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
      ImageDecoder("payload")(t(s, dir, D).select(col("doc_id"))
        .withColumn("payload", synth(col("doc_id"))))
        .select(col("doc_id"), col("decoded.width").as("width"),
          col("decoded.height").as("height"), col("decoded.channels").as("channels"),
          round(col("decoded.pixel_sum").cast("double") / col("decoded.pixel_count"), 6)
            .as("pixel_mean"))
    },
    "mm_resize_png" -> oracled(
      s"""WITH d AS (SELECT doc_id, CAST(doc_id % 24 + 8 AS INT) AS w,
         |    CAST(doc_id % 12 + 4 AS INT) AS h FROM $D),
         |r AS (SELECT doc_id, w, h,
         |    CASE WHEN greatest(w, h) <= 8 THEN w
         |      ELSE greatest(1, w * 8 // greatest(w, h)) END AS rw,
         |    CASE WHEN greatest(w, h) <= 8 THEN h
         |      ELSE greatest(1, h * 8 // greatest(w, h)) END AS rh FROM d),
         |p AS (SELECT r.doc_id, r.rw, r.rh,
         |    SUM((r.doc_id*31 + (x.g * r.w // r.rw)*7 + (y.g * r.h // r.rh)*13) % 256) AS s
         |  FROM r, generate_series(0, 7) AS x(g), generate_series(0, 7) AS y(g)
         |  WHERE x.g < r.rw AND y.g < r.rh
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, rw, rh,
         |  round(CAST(s AS DOUBLE) / (rw * rh), 6) AS pixel_mean
         |FROM p""".stripMargin) { (s, dir) =>
      val synth = udf((id: Long) =>
        MediaCodec.encodeGrayPng((id % 24 + 8).toInt, (id % 12 + 4).toInt,
          (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
      val resized = ImageResizer("payload", "resized_png", maxSide = 8)(
        t(s, dir, D).select(col("doc_id")).withColumn("payload", synth(col("doc_id"))))
      ImageDecoder("resized_png", "rd")(resized)
        .select(col("doc_id"), col("rd.width").as("rw"), col("rd.height").as("rh"),
          round(col("rd.pixel_sum").cast("double") / col("rd.pixel_count"), 6)
            .as("pixel_mean"))
    },
    "mm_wav_meta" -> oracled(
      s"""SELECT doc_id,
         |  CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
         |  CAST(doc_id % 2 + 1 AS INT) AS channels, 16 AS bits,
         |  CAST(doc_id % 100 + 50 AS BIGINT) AS n_frames,
         |  round(CAST(doc_id % 100 + 50 AS DOUBLE) * 1000
         |    / (8000 + (doc_id % 4) * 4000), 6) AS duration_ms
         |FROM $D""".stripMargin) { (s, dir) =>
      val synth = udf((id: Long) =>
        MediaCodec.encodeWavPcm16((8000 + (id % 4) * 4000).toInt, (id % 2 + 1).toInt,
          (id % 100 + 50).toInt, (f, c) => ((id * 7 + f * 11 + c) % 65536 - 32768).toInt))
      WavMetadataEvaluator("payload")(t(s, dir, D).select(col("doc_id"))
        .withColumn("payload", synth(col("doc_id"))))
        .select(col("doc_id"), col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"), col("audio_meta.bits").as("bits"),
          col("audio_meta.n_frames").as("n_frames"),
          round(col("audio_meta.duration_ms"), 6).as("duration_ms"))
    },
    "mm_vqa" -> oracled(
      s"""SELECT doc_id, 'echo[VQA]:' || base64(encode(text)) || ' <Q> what is '
         |  || doc_id AS answer FROM $D""".stripMargin) { (s, dir) =>
      PromptedVQAGenerator("payload", "question", "answer", mock)(
        t(s, dir, D)
          .withColumn("payload", col("text").cast("binary"))
          .withColumn("question", concat(lit("what is "), col("doc_id"))))
        .select("doc_id", "answer")
    },
    "mm_speech2text" -> oracled(
      s"SELECT doc_id, 'echo[ASR]:' || base64(encode(text)) AS transcript FROM $D") {
      (s, dir) =>
        Speech2TextGenerator("payload", "transcript", mock)(
          t(s, dir, D).withColumn("payload", col("text").cast("binary")))
          .select("doc_id", "transcript")
    },
    "filter_presidio_pii" -> oracled(
      // inject emails on id%4=0 rows; the filter must drop exactly those
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 4 <> 0") { (s, dir) =>
      val withPii = t(s, dir, D).withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" contact bob@example.com")))
          .otherwise(col("text")))
      PresidioFilter("text", 0)(withPii).select("doc_id", "n_chars")
    },
    "filter_composition_task" -> oracled(
      // sub-tasks = first 3 words; runnable set = the testdata vocab's
      // frequent words → rows whose head words stray are dropped
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE NOT EXISTS (SELECT 1 FROM unnest(list_slice(${sqlWords("text")}, 1, 3)) u(t)
         |                  WHERE t NOT IN ('the','a','spark','join','filter','data','table','row'))""".stripMargin) {
      (s, dir) =>
        val withTasks = t(s, dir, D).withColumn("sub_tasks",
          slice(words(col("text")), 1, 3))
        CompositionTaskFilter("sub_tasks",
          Seq("the", "a", "spark", "join", "filter", "data", "table", "row"))(withTasks)
          .select("doc_id", "n_chars")
    },
    "stream_window_agg" -> oracled(
      """SELECT CAST(epoch_ns(ts) // 300000000000 AS BIGINT) * 300 AS window_start,
        |  event_type, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Streaming.windowedEventStats(t(s, dir, "events"), widthSec = 300)
    },
    // streamingDedup (dropDuplicatesWithinWatermark) as an oracled query:
    // the events table is split into 3 time tiers replayed as ordered
    // micro-batches (pinned ascending mtimes, maxFilesPerTrigger=1), and
    // the dedup key is TIER-scoped (tier:user_id), so every key's
    // duplicates live inside one micro-batch — the kept-row SET is then
    // exactly DISTINCT (tier, user_id) regardless of intra-batch row
    // order, i.e. deterministic and SQL-replayable, while the query still
    // exercises the real streaming machinery end-to-end: file-source
    // batch ordering, watermark advance across a 10-day tier gap ≫ the
    // 10-minute delay (so earlier tiers' state is evicted — TiersSpec
    // pins the numRowsTotal bound), and no late-row loss (tiers ascend in
    // event time, so no batch ever starts below the watermark).
    "stream_dedup_horizon" -> oracled(
      """WITH b AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi FROM events)
        |SELECT DISTINCT CAST(least(((epoch_ns(ts) - lo) * 3) // (hi - lo + 1), 2) AS BIGINT) AS tier,
        |  user_id
        |FROM events, b""".stripMargin) { (s, dir) =>
      val events = t(s, dir, "events")
      val ns = Streaming.tsEpochNanos(events)
      val bounds = events.agg(min(ns), max(ns)).head()
      // empty events table: no bounds row values — the kept set is empty
      // (guard, or getLong NPEs on the null aggregate)
      if (bounds.isNullAt(0))
        events.select(lit(0L).as("tier"), col("user_id")).limit(0)
      else {
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        // integer `div` throughout: epoch nanos exceed 2^53, and tier
        // boundaries must match the oracle's BIGINT arithmetic bit for bit
        val tiered = events.withColumn("__ns", ns).withColumn("tier",
          expr(s"least((__ns - ${lo}L) * 3 div ${hi - lo + 1}L, 2L)")).drop("__ns")
        val dirP = java.nio.file.Files.createTempDirectory("graft_sdh")
        val qn = "sdh_" + java.util.UUID.randomUUID().toString.replace("-", "")
        // r17 (guide §2.4/§2.3, measured): the old staging ran THREE
        // serial filter+coalesce(1) write jobs, each
        // a single-threaded full scan of events (~0.9 s/pass warm). One
        // hash-repartition on the tier value + partitionBy writes all
        // three tier files in one job (the scan stays parallel; each tier
        // lands wholly in one task, so each __pt dir holds exactly one
        // file): ~0.5 s/pass warm, identical bytes per tier.
        var ss: SparkSession = null
        try {
          val w = java.nio.file.Files.createTempDirectory("graft_sdh_w")
          try {
            tiered.withColumn("__pt", col("tier"))
              .repartition(col("__pt"))
              .write.mode("overwrite").partitionBy("__pt").parquet(w.toString)
            (0 to 2).foreach { i =>
              val td = w.resolve(s"__pt=$i")
              // an empty tier writes no directory (tiny-SF correctness
              // runs) — same as the old find-none behavior: stage nothing
              if (java.nio.file.Files.isDirectory(td)) {
                val parts = java.nio.file.Files.list(td).iterator()
                scala.jdk.CollectionConverters.IteratorHasAsScala(parts).asScala
                  .filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
                    case Seq(f) =>
                      val dst = java.nio.file.Files.copy(f, dirP.resolve(f"b$i%02d.parquet"))
                      // file source replays oldest-mtime-first: pin batch order
                      java.nio.file.Files.setLastModifiedTime(dst,
                        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
                    case fs => throw new IllegalStateException(
                      s"tier $i staged ${fs.size} files (hash repartition must " +
                        "place one tier in one task)")
                  }
              }
            }
          } finally deleteRecursively(w)
          // State width derived from the staged volume (guide §2.2 "fewer,
          // larger partitions", measured): a stateful streaming query
          // pins its state width to
          // spark.sql.shuffle.partitions at start, and every micro-batch
          // pays a per-partition state-store load + commit (delta file +
          // fsync) REGARDLESS of rows — at the bench's 2 MB staged input,
          // 32-wide state made each of the 4 micro-batches (3 data + the
          // watermark-eviction batch) a 2-4 s addBatch of almost pure
          // store-commit overhead. Width scales with the bytes each
          // micro-batch actually carries (one staged tier file), capped at
          // the session's own shuffle width so a big-corpus run keeps the
          // deployment's configured parallelism — nothing here is a
          // local[32] constant. The kept SET is state-width-invariant
          // (DISTINCT keys), so the oracle hash is unchanged.
          val maxFileBytes = (0 to 2).map(i => dirP.resolve(f"b$i%02d.parquet"))
            .filter(p => java.nio.file.Files.exists(p))
            .map(java.nio.file.Files.size(_)).foldLeft(0L)(math.max)
          val sessionW = s.conf.get("spark.sql.shuffle.partitions").toInt
          val stateW = math.max(1L, math.min(sessionW.toLong,
            (maxFileBytes + (32 << 20) - 1) / (32 << 20))).toInt
          // a sibling session scopes the width to THIS streaming query —
          // the caller's session conf is never mutated
          ss = s.newSession()
          ss.conf.set("spark.sql.shuffle.partitions", stateW)
          val stream = ss.readStream.schema(tiered.schema)
            .option("maxFilesPerTrigger", 1).parquet(dirP.toString)
          val out = Streaming.streamingDedup(stream,
              concat_ws(":", col("tier"), col("user_id")), watermark = "10 minutes")
            .select(col("tier"), col("user_id"))
          val q = out.writeStream.outputMode("append").format("memory").queryName(qn)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          // Materialize the kept set OFF the memory sink so the sink's
          // driver-held rows and temp view don't outlive the query across
          // repeated bench passes. Driver footprint class is unchanged:
          // the memory sink already held exactly these rows (the distinct
          // (tier, user_id) key set — bounded by key cardinality, not by
          // the event count).
          val rows = ss.table(qn).collect()
          val schema = ss.table(qn).schema
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally {
          if (ss != null) ss.catalog.dropTempView(qn)
          deleteRecursively(dirP)
        }
      }
    })

  private def words(c: org.apache.spark.sql.Column) = graft.functions.text.words(c)

  /** Best-effort recursive delete for the tiny temp trees the streaming
    * query stages (a handful of parquet files) — failures are swallowed:
    * cleanup must never fail the query that produced a correct result. */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
                      catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  // ---- reasoning + conversations + storage-payload ops --------------------
  // synthesized reasoning columns over documents: question carries the id
  // digits, answers are boxed for even ids only
  private def withReasoningCols(df: DataFrame): DataFrame = df
    .withColumn("question", concat(col("text"), lit(" "), col("doc_id")))
    .withColumn("answer",
      when(col("doc_id") % 2 === 0,
        concat(lit("the result is \\boxed{"), col("doc_id"), lit("}")))
        .otherwise(lit("no final value")))
    .withColumn("golden_answer", col("doc_id").cast("string"))
  private val sqlReasoningAnswer =
    """CASE WHEN doc_id % 2 = 0 THEN 'the result is \boxed{' || doc_id || '}'
      |     ELSE 'no final value' END""".stripMargin

  private def domain: Map[String, Q] = Map(
    "reasoning_answer_extract" -> oracled(
      s"""WITH r AS (SELECT doc_id, $sqlReasoningAnswer AS ans FROM $D)
         |SELECT doc_id, CASE
         |  WHEN len(regexp_extract_all(ans, '\\\\boxed\\{([^}]*)\\}', 1)) > 0
         |    THEN (regexp_extract_all(ans, '\\\\boxed\\{([^}]*)\\}', 1))[-1]
         |  WHEN len(regexp_extract_all(ans, '-?[0-9]+(\\.[0-9]+)?', 0)) > 0
         |    THEN (regexp_extract_all(ans, '-?[0-9]+(\\.[0-9]+)?', 0))[-1]
         |  ELSE '' END AS extracted
         |FROM r""".stripMargin) { (s, dir) =>
      withReasoningCols(t(s, dir, D))
        .select(col("doc_id"), AnswerExtraction.finalAnswer(col("answer")).as("extracted"))
    },
    "filter_answer_format" -> oracled(
      s"""WITH r AS (SELECT doc_id, n_chars, $sqlReasoningAnswer AS ans FROM $D)
         |SELECT doc_id, n_chars FROM r
         |WHERE regexp_matches(ans, '\\\\boxed\\{[^}]*\\}')
         |   OR regexp_matches(lower(ans), 'answer\\s*(is|:)')""".stripMargin) {
      (s, dir) =>
        AnswerFormatFilter("answer")(withReasoningCols(t(s, dir, D)))
          .select("doc_id", "n_chars")
    },
    "filter_answer_groundtruth" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 2 = 0") { (s, dir) =>
      AnswerGroundTruthFilter("answer", "golden_answer")(
        withReasoningCols(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "filter_answer_ngram" -> oracled(
      s"""WITH r AS (SELECT doc_id, n_chars, text AS question,
         |  CASE WHEN doc_id % 2 = 0 THEN text ELSE lang END AS ans FROM $D),
         |g AS (SELECT doc_id, n_chars,
         |  list_distinct(${sqlWordNgrams("question", 3)}) AS qg,
         |  list_distinct(${sqlWordNgrams("ans", 3)}) AS ag FROM r)
         |SELECT doc_id, n_chars FROM g
         |WHERE len(list_distinct(list_concat(qg, ag))) = 0
         |   OR CAST(len(list_intersect(qg, ag)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(qg, ag))) AS DOUBLE) <= 0.5""".stripMargin) {
      (s, dir) =>
        val df = t(s, dir, D).withColumn("question", col("text"))
          .withColumn("ans",
            when(col("doc_id") % 2 === 0, col("text")).otherwise(col("lang")))
        AnswerNgramFilter("question", "ans", 3, 0.5)(df).select("doc_id", "n_chars")
    },
    "filter_answer_token_length" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE ${sqlWordCount("text")} <= 60") {
      (s, dir) =>
        AnswerTokenLengthFilter("text", 60)(t(s, dir, D)).select("doc_id", "n_chars")
    },
    "gen_reasoning_answer" -> oracled(
      s"""SELECT doc_id, 'echo[ANSWER]:' || text || ' ' || doc_id AS answer,
         |  CAST(doc_id AS VARCHAR) AS extracted_answer FROM $D""".stripMargin) {
      (s, dir) =>
        ReasoningAnswerGenerator("question", mock)(
          withReasoningCols(t(s, dir, D)).drop("answer"))
          .select("doc_id", "answer", "extracted_answer")
    },
    "gen_pseudo_answer" -> oracled(
      s"SELECT doc_id, '0' AS pseudo_answer FROM $D") { (s, dir) =>
      PseudoAnswerGenerator("question", mock, samples = 3)(
        withReasoningCols(t(s, dir, D)))
        .select("doc_id", "pseudo_answer")
    },
    "gen_reasoning_question" -> oracled(
      // seed problem → synthesized question
      // (`reasoning_question_generator.py`)
      s"SELECT doc_id, 'echo[QUESTIONGEN]:' || text AS generated_question FROM $D") {
      (s, dir) =>
        ReasoningQuestionGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "generated_question")
    },
    "conv_build_stats" -> oracled(
      s"""SELECT doc_id, 2::BIGINT AS n_turns, 1::BIGINT AS n_user_turns,
         |  CAST(length(text) + length('echo[ASSIST]:' || text) AS BIGINT)
         |    AS total_content_chars
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = PromptedGenerator("text", "output", mock, "ASSIST")(t(s, dir, D))
      val conv = ConversationBuilder("text", "output")(df)
      ConversationStatsEvaluator()(conv)
        .select("doc_id", "n_turns", "n_user_turns", "total_content_chars")
    },
    "conv_scenario_chain" -> oracled(
      // ScenarioExtract → ScenarioExpand → AtomTask, the first three ops
      // of the 7-op func-call chain (`func_call_generators.py:26-191`)
      s"""SELECT doc_id, 'echo[SCENARIO]:' || text AS scenario,
         |  'echo[EXPAND]:echo[SCENARIO]:' || text AS modified_scenario,
         |  'echo[ATOM]:echo[SCENARIO]:' || text AS atom_task
         |FROM $D""".stripMargin) { (s, dir) =>
      val s1 = ScenarioExtractGenerator("text", mock)(t(s, dir, D))
      val s2 = ScenarioExpandGenerator("scenario", mock)(s1)
      AtomTaskGenerator("scenario", mock)(s2)
        .select("doc_id", "scenario", "modified_scenario", "atom_task")
    },
    "conv_seq_task" -> oracled(
      // section parsing of "### Subsequent Task:" / "### Composition
      // Task:" (`func_call_generators.py:243-256`) — the crafted task
      // carries the sections through the echo
      s"""SELECT doc_id, 'sub-' || doc_id AS subsequent_task,
         |  'comp-' || doc_id AS composition_task FROM $D""".stripMargin) {
      (s, dir) =>
        val withTask = t(s, dir, D).withColumn("atom_task",
          concat(lit("### Subsequent Task: sub-"), col("doc_id"),
            lit("\n### Composition Task: comp-"), col("doc_id")))
        SequentialTaskGenerator("atom_task", mock)(withTask)
          .select("doc_id", "subsequent_task", "composition_task")
    },
    "conv_paraseq_task" -> oracled(
      s"""SELECT doc_id, 'par-' || doc_id AS parallel_task,
         |  'sub-' || doc_id AS subsequent_task,
         |  'comp-' || doc_id AS composition_task FROM $D""".stripMargin) {
      (s, dir) =>
        val withTask = t(s, dir, D).withColumn("atom_task",
          concat(lit("### Parallel Task: par-"), col("doc_id"),
            lit("\n### Subsequent Task: sub-"), col("doc_id"),
            lit("\n### Composition Task: comp-"), col("doc_id")))
        ParaSeqTaskGenerator("atom_task", mock)(withTask)
          .select("doc_id", "parallel_task", "subsequent_task", "composition_task")
    },
    "conv_function_gen" -> oracled(
      s"""SELECT doc_id,
         |  'echo[FUNCGEN]:comp-' || doc_id || ' <SUB> ' || text AS functions
         |FROM $D""".stripMargin) { (s, dir) =>
      val withCols = t(s, dir, D)
        .withColumn("composition_task", concat(lit("comp-"), col("doc_id")))
      FunctionGenerator("composition_task", Seq("text"), mock)(withCols)
        .select("doc_id", "functions")
    },
    "conv_multiturn" -> oracled(
      // multi-turn loop (`func_call_generators.py:479-540`): even rows'
      // task carries <final> → dialog completes after the assistant turn;
      // odd rows' <func_call> is answered by the tool agent
      s"""WITH b AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'do <final>done</final> task ' || doc_id
         |       ELSE 'call <func_call>f' || doc_id || '</func_call> now' END AS task,
         |  'fn-' || doc_id AS fns FROM $D),
         |p AS (SELECT doc_id, task || ' <SUB> ' || fns AS seed FROM b)
         |SELECT doc_id, CASE WHEN doc_id % 2 = 0
         |  THEN 'user: echo[USERGEN]:' || seed || chr(10) ||
         |       'assistant: echo[ASSIST]:user: echo[USERGEN]:' || seed
         |  ELSE 'user: echo[USERGEN]:' || seed || chr(10) ||
         |       'assistant: echo[ASSIST]:user: echo[USERGEN]:' || seed || chr(10) ||
         |       'tool: echo[TOOL]:f' || doc_id
         |END AS conv_text FROM p""".stripMargin) { (s, dir) =>
      val withCols = t(s, dir, D)
        .withColumn("task",
          when(col("doc_id") % 2 === 0,
            concat(lit("do <final>done</final> task "), col("doc_id")))
            .otherwise(concat(lit("call <func_call>f"), col("doc_id"),
              lit("</func_call> now"))))
        .withColumn("functions", concat(lit("fn-"), col("doc_id")))
      MultiTurnConversationGenerator("task", Seq(), "functions", mock,
        maxTurns = 1)(withCols)
        .select(col("doc_id"),
          concat_ws("\n", transform(col("conversations"),
            x => concat(x("role"), lit(": "), x("content")))).as("conv_text"))
    },
    "conv_multiturn2" -> oracled(
      // the UNROLLED loop at maxTurns = 2: even rows complete in turn 1
      // (<final> echoed back) so turn 2's generation is discarded; odd
      // rows take a second assistant+tool turn whose assistant content is
      // ASSIST over the whole turn-1 transcript and whose <func_call>
      // extraction (first match) is the same fN → same tool answer
      s"""WITH b AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'do <final>done</final> task ' || doc_id
         |       ELSE 'call <func_call>f' || doc_id || '</func_call> now' END AS task,
         |  'fn-' || doc_id AS fns FROM $D),
         |p AS (SELECT doc_id, task || ' <SUB> ' || fns AS seed FROM b),
         |l AS (SELECT doc_id,
         |  'user: echo[USERGEN]:' || seed AS u_line,
         |  'assistant: echo[ASSIST]:user: echo[USERGEN]:' || seed AS a1_line,
         |  'tool: echo[TOOL]:f' || doc_id AS t_line FROM p)
         |SELECT doc_id, CASE WHEN doc_id % 2 = 0
         |  THEN u_line || chr(10) || a1_line
         |  ELSE u_line || chr(10) || a1_line || chr(10) || t_line || chr(10) ||
         |    'assistant: echo[ASSIST]:' || u_line || chr(10) || a1_line || chr(10) ||
         |    t_line || chr(10) || t_line
         |END AS conv_text FROM l""".stripMargin) { (s, dir) =>
      val withCols = t(s, dir, D)
        .withColumn("task",
          when(col("doc_id") % 2 === 0,
            concat(lit("do <final>done</final> task "), col("doc_id")))
            .otherwise(concat(lit("call <func_call>f"), col("doc_id"),
              lit("</func_call> now"))))
        .withColumn("functions", concat(lit("fn-"), col("doc_id")))
      MultiTurnConversationGenerator("task", Seq(), "functions", mock,
        maxTurns = 2)(withCols)
        .select(col("doc_id"),
          concat_ws("\n", transform(col("conversations"),
            x => concat(x("role"), lit(": "), x("content")))).as("conv_text"))
    },
    "gen_question_fusion" -> oracled(
      s"""SELECT doc_id,
         |  'echo[FUSION:parallel]:' || text || ' <FUSE> alt ' || doc_id || '#0' AS fused_question_0,
         |  'echo[FUSION:parallel]:' || text || ' <FUSE> alt ' || doc_id || '#1' AS fused_question_1
         |FROM $D""".stripMargin) { (s, dir) =>
      val withP2 = t(s, dir, D)
        .withColumn("problem_2", concat(lit("alt "), col("doc_id")))
      ReasoningQuestionFusionGenerator("text", "problem_2", mock,
        numPrompts = 2)(withP2)
        .select("doc_id", "fused_question_0", "fused_question_1")
    },
    "gen_funccall_chain" -> oracled(
      s"""SELECT doc_id, 'echo[SCENARIO]:' || text AS scenario,
         |  'echo[ATOM]:echo[SCENARIO]:' || text AS atom_task,
         |  'echo[FUNC]:echo[ATOM]:echo[SCENARIO]:' || text AS function
         |FROM $D""".stripMargin) { (s, dir) =>
      FuncCallChainGenerator("text", mock)(t(s, dir, D))
        .select("doc_id", "scenario", "atom_task", "function")
    },
    "pipeline_text_chain" -> oracled(
      // the SURVEY §7.3 minimum slice as one lazy plan: refine →
      // word-filter → order-sensitive dedup (also the representative
      // rows/sec chain recorded per BASELINE.md)
      s"""WITH r AS (SELECT doc_id, n_chars,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text FROM $D),
         |f AS (SELECT * FROM r WHERE ${sqlWordCount("text")} >= 10),
         |d AS (SELECT doc_id, n_chars,
         |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f)
         |SELECT doc_id, n_chars FROM d WHERE rn = 1""".stripMargin) { (s, dir) =>
      val p = graft.core.Pipeline.of(
        LowercaseRefiner("text"),
        RemoveExtraSpacesRefiner("text"),
        WordNumberFilter("text", 10, Int.MaxValue),
        HashDeduplicateFilter(Seq("text"), "doc_id"))
      p(t(s, dir, D)).select("doc_id", "n_chars")
    },
    "gen_retrieval" -> oracled {
      // RAG chain: mock-embed 3 query docs + a 50-doc corpus, cosine
      // top-1 context (self excluded), answer = LLM(context <SEP> query)
      val emb = (c: String) => s"""list_transform(range(0, 16),
        | i -> CAST((('0x' || substr(md5($c), 1, 8))::BIGINT + 31*i) % 1000 AS DOUBLE) / 1000.0)""".stripMargin
      s"""WITH corpus AS (SELECT doc_id, text, ${emb("text")} AS e FROM $D WHERE doc_id < 50),
         |queries AS (SELECT doc_id, text, e FROM corpus WHERE doc_id < 3),
         |scored AS (SELECT q.doc_id AS qid, c.doc_id AS cid, c.text AS ctx,
         |    ${sqlCosine("q.e", "c.e", 16)} AS cos
         |  FROM queries q, corpus c WHERE c.doc_id <> q.doc_id),
         |ranked AS (SELECT qid, ctx,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT q.doc_id, 'echo[RAG]:' || r.ctx || ' <SEP> ' || q.text AS answer
         |FROM queries q JOIN ranked r ON r.qid = q.doc_id AND r.rnk = 1""".stripMargin
    } { (s, dir) =>
      val corpus = t(s, dir, D).filter(col("doc_id") < 50)
      val queries = corpus.filter(col("doc_id") < 3)
      RetrievalGenerator("text", "answer", corpus, "text", "doc_id", mock, k = 1)(
        queries).select("doc_id", "answer")
    },
    "kbc_chunks_semantic" -> oracled(
      // embedding-boundary chunking: mock sentence embeddings, boundary
      // where adjacent cosine < 0.75, chunks re-joined '. ' in order
      s"""WITH c AS (SELECT doc_id, translate(text, ' ', '.') AS t FROM $D),
         |s AS (SELECT doc_id, unnest(list_filter(list_transform(
         |    regexp_split_to_array(t, '[.!?]+'), x -> trim(x)), x -> x <> ''))
         |    AS sent, generate_subscripts(list_filter(list_transform(
         |    regexp_split_to_array(t, '[.!?]+'), x -> trim(x)), x -> x <> ''), 1) - 1 AS sp
         |  FROM c),
         |e AS (SELECT doc_id, sp, sent, list_transform(range(0, 16),
         |    i -> CAST((('0x' || substr(md5(sent), 1, 8))::BIGINT + 31*i) % 1000 AS DOUBLE) / 1000.0) AS emb
         |  FROM s),
         |b AS (SELECT doc_id, sp, sent, emb,
         |    lag(emb) OVER (PARTITION BY doc_id ORDER BY sp) AS prev FROM e),
         |f AS (SELECT doc_id, sp, sent,
         |    CASE WHEN prev IS NULL THEN 1
         |         WHEN ${sqlCosine("prev", "emb", 16)} < 0.75 THEN 1 ELSE 0 END AS bd
         |  FROM b),
         |g AS (SELECT doc_id, sp, sent,
         |    SUM(bd) OVER (PARTITION BY doc_id ORDER BY sp) AS grp FROM f),
         |ch AS (SELECT doc_id, grp, MIN(sp) AS first_sp,
         |    string_agg(sent, '. ' ORDER BY sp) AS raw_chunk
         |  FROM g GROUP BY doc_id, grp)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY first_sp) - 1 AS INT) AS pos,
         |  raw_chunk
         |FROM ch""".stripMargin) { (s, dir) =>
      ChunkSplitter("text", "doc_id", mode = "semantic",
        serving = Some(mock), simThreshold = 0.75)(
        t(s, dir, D).withColumn("text", translate(col("text"), " ", ".")))
    },
    "kbc_chunks_merged" -> oracled(
      // token chunks at 20 with min 12: every full window stands alone,
      // a short tail (< 12 tokens) merges backward into the previous
      // chunk — the reference's min_tokens_per_chunk behavior
      s"""WITH c AS (SELECT doc_id, ${sqlWords("text")} AS ws,
         |  CAST(${sqlWordCount("text")} AS INT) AS wc FROM $D),
         |m AS (SELECT doc_id, ws, wc,
         |  CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) AS n0,
         |  CASE WHEN wc % 20 BETWEEN 1 AND 11
         |        AND CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) > 1
         |       THEN CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) - 1
         |       ELSE CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) END AS m
         |  FROM c)
         |SELECT doc_id, CAST(i AS INT) AS pos,
         |  CASE WHEN i < m - 1
         |       THEN array_to_string(list_slice(ws, i*20 + 1, i*20 + 20), ' ')
         |       ELSE array_to_string(list_slice(ws, i*20 + 1, wc), ' ') END AS raw_chunk
         |FROM m, unnest(range(0, m)) u(i)""".stripMargin) { (s, dir) =>
      ChunkSplitter("text", "doc_id", mode = "token", chunkSize = 20,
        minChunkTokens = 12)(t(s, dir, D))
    },
    "kbc_chunks_sentence" -> oracled(
      // sentence-mode chunking (spaces → '.' first so sentences exist)
      s"""WITH c AS (SELECT doc_id, translate(text, ' ', '.') AS t FROM $D)
         |SELECT doc_id, unnest(list_transform(
         |  list_filter(list_transform(regexp_split_to_array(t, '[.!?]+'), s -> trim(s)),
         |    s -> s <> ''),
         |  (x, i) -> struct_pack(pos := CAST(i - 1 AS INT), raw_chunk := x)),
         |  recursive := true)
         |FROM c""".stripMargin) { (s, dir) =>
      ChunkSplitter("text", "doc_id", mode = "sentence")(
        t(s, dir, D).withColumn("text", translate(col("text"), " ", ".")))
    },
    "pretrain_format_convert" -> oracled(
      // SFT → pretrain-format conversion (`reasoning/generate/
      // reasoning_pretrain_format_convert_generator.py`)
      s"""SELECT doc_id, 'Question: ' || text || chr(10) || 'Answer: ' ||
         |  'echo[ANSWER]:' || text AS pretrain_text FROM $D""".stripMargin) {
      (s, dir) =>
        val answered = PromptedGenerator("text", "ans", mock, "ANSWER")(t(s, dir, D))
        answered.select(col("doc_id"),
          concat(lit("Question: "), col("text"), lit("\nAnswer: "), col("ans"))
            .as("pretrain_text"))
    },
    "gen_multihop_qa" -> oracled(
      // multi-hop QA from chunk pairs (`text2multihopqa_generator.py:23`):
      // adjacent-chunk pairing → joint prompt → LLM
      s"""WITH p AS (SELECT a.doc_id, a.text AS t1, b.text AS t2
         |  FROM $D a JOIN $D b ON b.doc_id = a.doc_id + 1)
         |SELECT doc_id, 'echo[MULTIHOP]:' || t1 || ' <HOP> ' || t2 AS qa FROM p""".stripMargin) {
      (s, dir) =>
        val d = t(s, dir, D)
        val pairs = d.select(col("doc_id"), col("text").as("t1"))
          .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("t2")),
            Seq("doc_id"))
        Text2MultiHopQAGenerator("t1", "t2", mock)(pairs).select("doc_id", "qa")
    },
    "gen_sql" -> oracled(
      s"""SELECT doc_id, trim('echo[SQLGEN]:CREATE TABLE t_' || lang || '(x INT)') AS sql
         |FROM $D""".stripMargin) { (s, dir) =>
      val withSchema = t(s, dir, D).withColumn("schema_ddl",
        concat(lit("CREATE TABLE t_"), col("lang"), lit("(x INT)")))
      SQLGenerator("schema_ddl", "sql", mock)(withSchema).select("doc_id", "sql")
    },
    "gen_consistent_chat" -> oracled(
      """SELECT t.i AS topic_id, s.j AS intent_id,
        |  'echo[CHAT]:topic-' || t.i || ':intent-' || s.j AS dialog
        |FROM range(5) t(i), range(4) s(j)""".stripMargin) { (s, _) =>
      ConsistentChatGenerator.grid(s, 5, 4, mock)
    },
    "gen_bench_answer" -> oracled(
      s"""SELECT doc_id, 'echo[ANSWER]:' || text AS answer FROM $D""") {
      (s, dir) =>
        BenchAnswerGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "answer")
    },
    "gen_sft_seed" -> oracled(
      s"""SELECT doc_id, lang AS instruction, 'ans:' || lang AS output
         |FROM $D""".stripMargin) { (s, dir) =>
      SFTGeneratorSeed("lang", mock)(t(s, dir, D))
        .select("doc_id", "instruction", "output")
    },
    "gen_sft_parse" -> oracled(
      s"""WITH j AS (SELECT doc_id, to_json(struct_pack(instruction := text,
         |  output := 'echo[SFT]:' || text)) AS raw FROM $D)
         |SELECT doc_id, json_extract_string(raw, '$$.instruction') AS instruction,
         |  json_extract_string(raw, '$$.output') AS output FROM j""".stripMargin) {
      (s, dir) =>
        // SFT-from-seed shape (`sft_generator_from_seed.py:32-71`): LLM
        // emits JSON; parse it back into typed columns with from_json
        val raw = t(s, dir, D).withColumn("raw",
          to_json(struct(col("text").as("instruction"),
            concat(lit("echo[SFT]:"), col("text")).as("output"))))
        raw.select(col("doc_id"),
          from_json(col("raw"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("instruction",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("output",
              org.apache.spark.sql.types.StringType)))).as("__p"))
          .select(col("doc_id"), col("__p.instruction").as("instruction"),
            col("__p.output").as("output"))
    },
    "pipeline_bench_eval" -> oracled(
      // full bench-eval pipeline: generate → extract → match vs golden →
      // accuracy stats, the BenchDatasetEvaluator end-to-end shape
      s"""SELECT COUNT(*) AS total, COUNT(*) AS valid,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
         |  round(CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) /
         |        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
         |FROM $D""".stripMargin) { (s, dir) =>
      // golden = doc_id for even rows, unanswerable otherwise; the mock
      // answers echo the question (which carries the id digits)
      val qa = withReasoningCols(t(s, dir, D)).drop("answer")
        .withColumn("golden_answer",
          when(col("doc_id") % 2 === 0, col("doc_id").cast("string"))
            .otherwise(lit("impossible")))
      val answered = ReasoningAnswerGenerator("question", mock)(qa)
      val matched = col("extracted_answer") === col("golden_answer")
      DatasetEvaluators.benchAccuracy(answered, matched, lit(true))
    },
    "kbc_clean_chunks" -> oracled(
      // KBC chunk-clean chain (`kbc_text_cleaner`): chunk → LLM-clean
      // each chunk → reassemble in order
      s"""SELECT doc_id, array_to_string(list_transform(
         |  list_transform(range(0, greatest(CAST(ceil(CAST(${sqlWordCount("text")} AS DOUBLE) / 30.0) AS BIGINT), 1)),
         |    i -> array_to_string(list_slice(${sqlWords("text")}, i*30 + 1, i*30 + 30), ' ')),
         |  c -> 'echo[CLEAN]:' || c), ' | ') AS cleaned
         |FROM $D""".stripMargin) { (s, dir) =>
      ChunkedPromptedGenerator("text", "doc_id", "cleaned", mock,
        chunkWords = 30, systemPrompt = "CLEAN")(t(s, dir, D))
        .select("doc_id", "cleaned")
    },
    "agentic_rag_chain" -> oracled(
      // AgenticRAG atomic→depth→width task synthesis
      // (`agenticrag_atomic_task_generator.py:36` et seq.)
      s"""SELECT doc_id, 'echo[ATOMIC]:' || text AS atomic_task,
         |  'echo[DEPTH]:echo[ATOMIC]:' || text AS depth_qa,
         |  'echo[WIDTH]:echo[DEPTH]:echo[ATOMIC]:' || text AS width_qa
         |FROM $D""".stripMargin) { (s, dir) =>
      val s1 = AgenticRAGAtomicTaskGenerator("text", mock)(t(s, dir, D))
      val s2 = AgenticRAGDepthQAGenerator("atomic_task", mock)(s1)
      AgenticRAGWidthQAGenerator("depth_qa", mock)(s2)
        .select("doc_id", "atomic_task", "depth_qa", "width_qa")
    },
    "agg_vendi" -> rowsOnly { (s, dir) =>
      val v = graft.ops.eval.Vendi.score(
        t(s, dir, "embeddings").orderBy("vec_id"), "embedding")
      s.createDataFrame(Seq(Tuple1(BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP))))
        .toDF("vendi")
    },
    // The seam oracle for agg_vendi (r12 verdict #4): the eigen
    // spectrum is inherently non-replayable in SQL, but the GRAM MATRIX
    // the Jacobi sweep consumes is not — this query computes it with
    // the codegen'd cosine expression over the same ordered capped
    // sample score() reads, and DuckDB replays every entry bit for bit
    // (Vendi.kernel documents the op-order identity; R13Spec pins
    // kernel == this query's values and Jacobi == an independent
    // eigensolver, closing the chain data → matrix → spectrum).
    // The pair join is definitionally dense — O(cap²) = ≤ 128² rows,
    // a bounded broadcast-nested-loop, never corpus-scale.
    "agg_vendi_gram" -> oracled(
      s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings ORDER BY vec_id LIMIT 128),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM s)
         |SELECT a.vec_id AS i, b.vec_id AS j,
         |  (${sqlCosine("a.e", "b.e", 64)}) / n.nn AS kij
         |FROM s a, s b, n WHERE a.vec_id <= b.vec_id""".stripMargin) { (s, dir) =>
      val cap = 128
      val sm = t(s, dir, "embeddings").orderBy("vec_id").limit(cap)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val nD = sm.count().toDouble // ≤ cap rows — one tiny bounded job
      val a = sm.select(col("vec_id").as("i"), col("e").as("ea"))
      val b = sm.select(col("vec_id").as("j"), col("e").as("eb"))
      a.join(b, col("i") <= col("j"))
        .select(col("i"), col("j"),
          (Similarity.cosine(col("ea"), col("eb")) / lit(nD)).as("kij"))
    },
    "jdbc_payload_merge" -> oracled(
      s"""SELECT doc_id, to_json(struct_pack(lang := lang, source := source,
         |  n_chars := n_chars)) AS data FROM $D""".stripMargin) { (s, dir) =>
      SystemColumnMerger(Seq("doc_id"), "data")(
        t(s, dir, D).select("doc_id", "lang", "source", "n_chars"))
    })

  // ---- corpus-level evaluators, nested aggs, windows, chunk explode -------
  private def corpus: Map[String, Q] = Map(
    "eval_cider" -> oracled(
      s"""WITH pairs AS (
         |  SELECT a.doc_id AS doc_id, a.text AS pred, b.text AS gold
         |  FROM $D a JOIN $D b ON b.doc_id = a.doc_id + 1),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pairs),
         |rdist AS (SELECT doc_id, unnest(list_distinct(${sqlWords("gold")})) AS tok FROM pairs),
         |idf AS (SELECT tok, ln((SELECT n FROM nn) / COUNT(*)) AS idf FROM rdist GROUP BY tok),
         |pt AS (SELECT doc_id, tok, COUNT(*) AS tf_p FROM
         |  (SELECT doc_id, unnest(${sqlWords("pred")}) AS tok FROM pairs) GROUP BY doc_id, tok),
         |rt AS (SELECT doc_id, tok, COUNT(*) AS tf_r FROM
         |  (SELECT doc_id, unnest(${sqlWords("gold")}) AS tok FROM pairs) GROUP BY doc_id, tok),
         |j AS (SELECT coalesce(pt.doc_id, rt.doc_id) AS doc_id,
         |  coalesce(pt.tok, rt.tok) AS tok,
         |  coalesce(tf_p, 0) AS tf_p, coalesce(tf_r, 0) AS tf_r
         |  FROM pt FULL JOIN rt ON pt.doc_id = rt.doc_id AND pt.tok = rt.tok),
         |w AS (SELECT j.doc_id, tf_p * coalesce(idf.idf, 0.0) AS wp,
         |  tf_r * coalesce(idf.idf, 0.0) AS wr FROM j LEFT JOIN idf ON j.tok = idf.tok),
         |s AS (SELECT doc_id, SUM(wp * wr) AS dot, sqrt(SUM(wp * wp)) AS np,
         |  sqrt(SUM(wr * wr)) AS nr FROM w GROUP BY doc_id)
         |SELECT doc_id, CASE WHEN np = 0 OR nr = 0 THEN 0.0
         |  ELSE round(dot / (np * nr), 6) END AS cider FROM s""".stripMargin) {
      (s, dir) =>
        val d = t(s, dir, D)
        val pairs = d.select(col("doc_id"), col("text").as("pred"))
          .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("gold")),
            Seq("doc_id"))
        CorpusEvaluators.ciderUnigram(pairs, "pred", "gold", "doc_id")
    },
    "eval_cider_d" -> oracled {
      // full CIDEr-D mirror (`cider/cider.py:10-120`): per-n clipped
      // tf-idf cosine × gaussian length penalty over bigram-count delta
      // grams are 60-bit md5 prefixes on BOTH sides (see ciderD's kernel
      // note): same counts, 8-byte exchange keys
      def side(c: String) = (1 to 4).map(k =>
        s"SELECT doc_id, $k AS n, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram " +
          s"FROM (SELECT doc_id, unnest(${sqlWordNgrams(c, k)}) AS g FROM pairs)")
        .mkString(" UNION ALL ")
      s"""WITH pairs AS (
         |  SELECT a.doc_id, a.text AS pred, b.text AS gold
         |  FROM $D a JOIN $D b ON b.doc_id = a.doc_id + 1),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM pairs),
         |pg AS (${side("pred")}),
         |rg AS (${side("gold")}),
         |pt AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS DOUBLE) AS tf_p FROM pg GROUP BY doc_id, n, gram),
         |rt AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS DOUBLE) AS tf_r FROM rg GROUP BY doc_id, n, gram),
         |j AS (SELECT coalesce(pt.doc_id, rt.doc_id) AS doc_id, coalesce(pt.n, rt.n) AS n,
         |  coalesce(pt.gram, rt.gram) AS gram, coalesce(tf_p, 0) AS tf_p, coalesce(tf_r, 0) AS tf_r
         |  FROM pt FULL JOIN rt ON pt.doc_id = rt.doc_id AND pt.n = rt.n AND pt.gram = rt.gram),
         |dfq AS (SELECT n, gram, CAST(COUNT(*) AS DOUBLE) AS dfreq FROM rt GROUP BY n, gram),
         |w AS (SELECT j.doc_id, j.n,
         |  tf_p * (ln((SELECT nd FROM nn)) - ln(greatest(1.0, coalesce(dfreq, 0.0)))) AS wp,
         |  tf_r * (ln((SELECT nd FROM nn)) - ln(greatest(1.0, coalesce(dfreq, 0.0)))) AS wr
         |  FROM j LEFT JOIN dfq ON j.n = dfq.n AND j.gram = dfq.gram),
         |s AS (SELECT doc_id, n, SUM(least(wp, wr) * wr) AS dot,
         |  sqrt(SUM(wp * wp)) AS np, sqrt(SUM(wr * wr)) AS nr
         |  FROM w GROUP BY doc_id, n),
         |lens AS (SELECT doc_id, CAST(greatest(${sqlWordCount("pred")} - 1, 0) AS DOUBLE) AS lp,
         |  CAST(greatest(${sqlWordCount("gold")} - 1, 0) AS DOUBLE) AS lr FROM pairs),
         |v AS (SELECT s.doc_id,
         |  (CASE WHEN np = 0 OR nr = 0 THEN 0.0 ELSE dot / (np * nr) END)
         |    * exp(-((lp - lr) * (lp - lr)) / 72.0) AS val
         |  FROM s JOIN lens ON s.doc_id = lens.doc_id)
         |SELECT doc_id, round(SUM(val) / 4.0 * 10.0, 6) AS cider_d FROM v GROUP BY doc_id""".stripMargin
    } { (s, dir) =>
      val d = t(s, dir, D)
      val pairs = d.select(col("doc_id"), col("text").as("pred"))
        .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("gold")),
          Seq("doc_id"))
      CorpusEvaluators.ciderD(pairs, "pred", "gold", "doc_id")
    },
    "refine_remove_emoticons" -> refineQ(RemoveEmoticonsRefiner("text"),
      s"array_to_string(list_filter(${sqlWords("text")}, w -> NOT list_contains(" +
        RemoveEmoticonsRefiner.table
          .map(e => "'" + e.replace("\\", "\\\\").replace("'", "''") + "'")
          .mkString("[", ",", "]") + ", w)), ' ')"),
    "refine_spelling" -> refineQ(SpellingCorrectionRefiner("text"),
      s"array_to_string(list_transform(${sqlWords("text")}, w -> CASE " +
        SpellingCorrectionRefiner.defaults.toSeq.sortBy(_._1)
          .map { case (k, v) => s"WHEN w = '$k' THEN '$v'" }.mkString(" ") +
        " ELSE w END), ' ')"),
    "filter_lexical_diversity" -> filterQ(LexicalDiversityFilter("text", 0.45, 1.0),
      s"CAST(len(list_distinct(${sqlWords("text")})) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) BETWEEN 0.45 AND 1.0"),
    // array outputs are emitted as canonical strings: the driver's oracle
    // checker cannot sort/hash array-typed cells (r1 err rows)
    "agg_collect_docs" -> oracled(
      s"SELECT lang, array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids FROM $D GROUP BY lang") {
      (s, dir) =>
        t(s, dir, D).groupBy("lang")
          .agg(concat_ws(",", array_sort(collect_list(col("doc_id")))).as("doc_ids"))
    },
    "kbc_chunks" -> oracled(
      s"""SELECT doc_id, unnest(list_transform(
         |  range(0, greatest(CAST(ceil(CAST(${sqlWordCount("text")} AS DOUBLE) / 20.0) AS BIGINT), 1)),
         |  i -> struct_pack(pos := CAST(i AS INT),
         |    chunk := array_to_string(list_slice(${sqlWords("text")}, i*20 + 1, i*20 + 20), ' '))),
         |  recursive := true)
         |FROM $D""".stripMargin) { (s, dir) =>
      // materialized word array + outer explode: same single-tokenize
      // plan shape as ChunkSplitter (PlanSpec2)
      val ws = col("__ws")
      val nChunks = ceil(size(ws).cast("double") / 20.0).cast("int")
      t(s, dir, D).withColumn("__ws", words(col("text")))
        .withColumn("__chunks",
          transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
            i => concat_ws(" ", slice(ws, i * 20 + 1, lit(20)))))
        .select(col("doc_id"), posexplode_outer(col("__chunks")).as(Seq("pos", "chunk")))
        .where(col("chunk").isNotNull)
    },
    // l_quantity is the LAST ordering key: the synthetic lineitem carries
    // full (suppkey, shipdate, orderkey, linenumber) duplicates with
    // different quantities at sf0.1, and a ROWS-frame running sum between
    // such peers is otherwise physical-order-dependent (engines disagree)
    "window_running_sum" -> oracled(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER w AS rn,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) OVER w AS DOUBLE), 2) AS run_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, dir) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        t(s, dir, "lineitem").select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"),
          round(sum(col("l_quantity").cast("decimal(20,2)")).over(w).cast("double"), 2).as("run_qty"))
    },
    "agg_mmd" -> oracled(
      // RBF MMD² is plain SQL over the capped sample: k(a,b) =
      // exp(-γ(|a|² + |b|² - 2a·b)); the three FILTERed averages are the
      // xx / yy / xy kernel means. 6-dp round absorbs summation-order drift.
      """WITH e AS (
        |  SELECT label < 5 AS inx, embedding::DOUBLE[] AS v
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 500)
        |), p AS (
        |  SELECT a.inx AS ia, b.inx AS ib,
        |    exp(CAST(-0.01 AS DOUBLE) * (
        |      list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
        |      - 2 * list_dot_product(a.v, b.v))) AS kv
        |  FROM e a, e b
        |)
        |SELECT round(
        |    avg(kv) FILTER (WHERE ia AND ib)
        |  + avg(kv) FILTER (WHERE NOT ia AND NOT ib)
        |  - 2 * avg(kv) FILTER (WHERE ia AND NOT ib), 6) AS mmd
        |FROM p""".stripMargin) { (s, dir) =>
      // orderBy before the driver-side sample cap → deterministic metric
      val v = CorpusEvaluators.mmdRbf(t(s, dir, "embeddings").orderBy("vec_id"),
        "embedding", col("label") < 5)
      s.createDataFrame(Seq(Tuple1(
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        .toDF("mmd")
    })

  // ---- code-data ops (§2.2/§2.5 code families) over synthesized code ------
  // synthesized "code": comment header for id%3=0, injected base64 blob
  // for id%3=1, auto-gen marker for id%5=0
  private def withCodeCol(df: DataFrame): DataFrame = df.withColumn("code",
    when(col("doc_id") % 5 === 0, concat(lit("# generated by tool, do not edit\n"), col("text")))
      .when(col("doc_id") % 3 === 0, concat(lit("# header comment\n"), col("text")))
      .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" "), repeat(lit("QWER"), 20)))
      .otherwise(col("text")))
  private val sqlCodeCol =
    """CASE WHEN doc_id % 5 = 0 THEN '# generated by tool, do not edit' || chr(10) || text
      |     WHEN doc_id % 3 = 0 THEN '# header comment' || chr(10) || text
      |     WHEN doc_id % 3 = 1 THEN text || ' ' || repeat('QWER', 20)
      |     ELSE text END""".stripMargin

  private def codeq: Map[String, Q] = Map(
    "filter_code_length" -> oracled(
      s"""WITH c AS (SELECT doc_id, n_chars, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, n_chars FROM c
         |WHERE len(split(code, chr(10))) <= 10
         |  AND list_max(list_transform(split(code, chr(10)), l -> length(l))) <= 400""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeLengthFilter("code", 10, 400)(
          withCodeCol(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "eval_code_comment_ratio" -> oracled(
      s"""WITH c AS (SELECT doc_id, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, round(
         |  CAST(len(list_filter(split(code, chr(10)),
         |    l -> starts_with(ltrim(l), '#') OR starts_with(ltrim(l), '//'))) AS DOUBLE) /
         |  CAST(len(split(code, chr(10))) AS DOUBLE), 6) AS comment_ratio
         |FROM c""".stripMargin) { (s, dir) =>
      graft.ops.code.CodeCommentRatioEvaluator("code")(
        withCodeCol(t(s, dir, D))).select("doc_id", "comment_ratio")
    },
    "filter_code_encoded" -> oracled(
      s"""WITH c AS (SELECT doc_id, n_chars, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, n_chars FROM c
         |WHERE NOT regexp_matches(code, '[A-Za-z0-9+/=]{65,}')
         |  AND NOT regexp_matches(code, '(0x)?[0-9a-fA-F]{128,}')""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeEncodedDataFilter("code", 64)(
          withCodeCol(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "filter_code_composition" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) /
         |      CAST(length(text) AS DOUBLE) >= 0.83""".stripMargin) { (s, dir) =>
      graft.ops.code.CodeTextCompositionFilter("text", 0.83)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "filter_code_autogen" -> oracled(
      s"""WITH c AS (SELECT doc_id, n_chars, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, n_chars FROM c
         |WHERE NOT regexp_matches(lower(code),
         |  '(auto-generated|autogenerated|do not edit|generated by)')""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeAutoGeneratedFilter("code")(
          withCodeCol(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "text_smiles_extract" -> oracled(
      s"""SELECT doc_id,
         |  coalesce(array_to_string(regexp_extract_all(text, '[A-Za-z0-9@+\\-\\[\\]\\(\\)=#$$%/\\\\]{6,}'), ' '), '')
         |    AS smiles_candidates
         |FROM $D""".stripMargin) { (s, dir) =>
      t(s, dir, D).select(col("doc_id"),
        concat_ws(" ",
          graft.ops.code.SmilesExtract.candidates(col("text"))).as("smiles_candidates"))
    })

  // ---- model-scored filter families (§2.2 PT + SFT) -----------------------
  // ServingScorer over MockServing: score = (length(text) % 100) / 10.0 —
  // deterministic and SQL-expressible, so every threshold filter in the
  // family gets a full value-level oracle. Production binds a classifier /
  // reward endpoint through the same Scorer seam.
  private lazy val mockScorer = graft.serving.ServingScorer(mock)
  private val sqlMockScore = "CAST(length(text) % 100 AS DOUBLE) / 10.0"

  private def scoredQ(op: graft.core.Op, scoreKey: String, sqlPred: String): Q =
    oracled(
      s"SELECT doc_id, $sqlMockScore AS $scoreKey FROM $D WHERE $sqlPred") {
      (s, dir) => op(t(s, dir, D)).select("doc_id", scoreKey)
    }

  private def modelScored: Map[String, Q] = Map(
    "filter_pt_fineweb_edu" -> scoredQ(
      FineWebEduFilter("text", mockScorer), "fineweb_edu_score",
      s"$sqlMockScore >= 2.5"),
    "filter_pt_perplexity" -> scoredQ(
      PerplexityFilter("text", mockScorer, minScore = 2.0, maxScore = 8.0),
      "perplexity", s"$sqlMockScore BETWEEN 2.0 AND 8.0"),
    "filter_pt_qurating" -> scoredQ(
      QuratingFilter("text",
        graft.serving.ServingScorer(mock, dimension = "educational_value")),
      "qurating_score", s"$sqlMockScore BETWEEN 0 AND 9"),
    "filter_pt_textbook" -> scoredQ(
      TextbookFilter("text", mockScorer), "textbook_score",
      s"$sqlMockScore BETWEEN 0.99 AND 1.0"),
    "filter_pt_pair_qual" -> scoredQ(
      PairQualFilter("text", mockScorer, minScore = 5.0), "pair_qual_score",
      s"$sqlMockScore >= 5.0"),
    "filter_sft_alpagasus" -> scoredQ(
      AlpagasusFilter("text", mockScorer), "alpagasus_score",
      s"$sqlMockScore BETWEEN 3 AND 5"),
    "filter_sft_deita_quality" -> scoredQ(
      DeitaQualityFilter("text", mockScorer), "deita_quality",
      s"$sqlMockScore >= 2.5"),
    "filter_sft_deita_complexity" -> scoredQ(
      DeitaComplexityFilter("text", mockScorer), "deita_complexity",
      s"$sqlMockScore BETWEEN 3.0 AND 5.0"),
    "filter_sft_rm" -> scoredQ(
      RMFilter("text", mockScorer), "rm_score",
      s"$sqlMockScore BETWEEN 0.2 AND 0.8"),
    "filter_sft_superfiltering" -> scoredQ(
      SuperfilteringFilter("text", mockScorer), "superfiltering_score",
      s"$sqlMockScore BETWEEN 0.0 AND 1.0"),
    "filter_sft_treeinstruct" -> scoredQ(
      TreeinstructFilter("text", mockScorer), "treeinstruct_score",
      s"$sqlMockScore BETWEEN 7 AND 100"),
    "filter_pt_debertav3" -> scoredQ(
      DebertaV3Filter("text", mockScorer), "debertav3_quality",
      s"$sqlMockScore BETWEEN 1.0 AND 2.0"),
    "filter_sft_instag" -> scoredQ(
      InstagFilter("text", mockScorer), "instag_score",
      s"$sqlMockScore BETWEEN 0.0 AND 1.0"),
    "eval_pt_model_score" -> oracled(
      s"SELECT doc_id, $sqlMockScore AS model_score FROM $D") { (s, dir) =>
      ModelScoreEvaluator("text", mockScorer, "model_score")(t(s, dir, D))
        .select("doc_id", "model_score")
    })

  // ---- round-2 coverage extensions: spider classifier, code ops,
  // ---- LLM language filter, reasoning LLM evaluators ----------------------
  private def extras2: Map[String, Q] = Map(
    "t2s_schema_walk" -> oracled(
      // live-catalog schema discovery: one Derby table per document lang,
      // walked back out via DatabaseMetaData into CREATE TABLE DDL
      // (identifiers and types come back Derby-canonical: uppercase,
      // INTEGER, sized VARCHAR)
      """SELECT 'T_' || upper(lang) AS table_name,
        |  'CREATE TABLE T_' || upper(lang) ||
        |  ' (X INTEGER NOT NULL, Y VARCHAR(10), PRIMARY KEY (X))' AS schema_ddl
        |FROM (SELECT DISTINCT lang FROM documents)""".stripMargin) { (s, dir) =>
      // distinct langs is a bounded dim (the catalog itself); collected
      // only to CREATE the tables being discovered
      val langs = t(s, dir, D).select("lang").distinct()
        .collect().map(_.getString(0)).sorted
      val db = s"graft_walk_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        langs.foreach { l =>
          st.execute(s"CREATE TABLE t_$l (x INT NOT NULL, y VARCHAR(10), PRIMARY KEY (x))")
        }
        st.close()
      } finally conn.close()
      val out = SchemaWalk.walk(s, url)
      // in-memory Derby dbs live until dropped; the walk is eager, so the
      // db can go away before the DataFrame is consumed
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
      out
    },
    "t2s_vec_rewrite" -> oracled(
      // lembed('model','text') → vec_f32('[…]') with the mock embedding
      // grid (hash32 + 31i mod 1000, 3-decimal components)
      s"""SELECT doc_id,
         |  'SELECT id FROM items ORDER BY vec_distance_cos(emb, vec_f32(''[' ||
         |  array_to_string(list_transform(range(0, 16),
         |    i -> '0.' || lpad(((('0x' || substr(md5(text), 1, 8))::BIGINT + 31*i)
         |      % 1000)::VARCHAR, 3, '0')), ',') ||
         |  ']'')) LIMIT 5' AS vec_sql
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("sql",
        concat(lit("SELECT id FROM items ORDER BY vec_distance_cos(emb, lembed('m1', '"),
          regexp_replace(col("text"), "'", "''"),
          lit("')) LIMIT 5")))
      VecSqlRewriteGenerator("sql", "vec_sql", mock)(df).select("doc_id", "vec_sql")
    },
    "t2s_classify_spider" -> oracled(
      // six structural variants with Spider-hardness ground truth — the
      // oracle pins expected labels per variant rather than re-deriving
      // them, so it checks the classifier's DECISIONS, not its regexes
      s"""SELECT doc_id, CASE doc_id % 6
         |  WHEN 0 THEN 'easy' WHEN 1 THEN 'easy' WHEN 2 THEN 'medium'
         |  WHEN 3 THEN 'hard' WHEN 4 THEN 'hard' ELSE 'extra' END AS hardness
         |FROM $D""".stripMargin) { (s, dir) =>
      val sql = when(col("doc_id") % 6 === 0, lit("SELECT a FROM t"))
        .when(col("doc_id") % 6 === 1, lit("SELECT a FROM t WHERE x > 0"))
        .when(col("doc_id") % 6 === 2,
          lit("SELECT a, b FROM t WHERE x > 0 AND y < 2"))
        .when(col("doc_id") % 6 === 3,
          lit("SELECT a FROM t JOIN u ON t.id = u.id WHERE x > 0 ORDER BY a"))
        .when(col("doc_id") % 6 === 4,
          lit("SELECT a FROM t WHERE x IN (SELECT y FROM u)"))
        .otherwise(lit("SELECT a, count(b), sum(c) FROM t JOIN u ON 1=1 JOIN v ON 1=1 " +
          "WHERE x > 0 OR y < 2 GROUP BY a ORDER BY a LIMIT 5"))
      SpiderHardnessClassifier("sql")(t(s, dir, D).withColumn("sql", sql))
        .select("doc_id", "hardness")
    },
    "filter_code_doc_quality" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE ${sqlWordCount("text")} BETWEEN 40 AND 100000
         |  AND CAST(len(list_filter(${sqlWords("text")}, w -> upper(w) = w AND lower(w) <> w)) AS DOUBLE) /
         |      CAST(greatest(${sqlWordCount("text")}, 1) AS DOUBLE) <= 0.3""".stripMargin) {
      (s, dir) =>
        // curly/dup-line/entropy terms are non-selective on this corpus
        // (single-line brace-free text) but still evaluated
        graft.ops.code.CodeDocumentQualityFilter("text", minWords = 40,
          maxFracAllCapsWords = 0.3, minEntropyUnigram = 0.5)(t(s, dir, D))
          .select("doc_id", "n_chars")
    },
    "filter_code_file_type" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE NOT (doc_id % 3 = 0 AND doc_id % 2 = 1)""".stripMargin) { (s, dir) =>
      // type cycles text/json/scala; text files need a doc-style name
      val df = t(s, dir, D)
        .withColumn("file_type",
          when(col("doc_id") % 3 === 0, "text")
            .when(col("doc_id") % 3 === 1, "json").otherwise("scala"))
        .withColumn("file_name",
          when(col("doc_id") % 2 === 0, "README.md").otherwise("notes.md"))
      graft.ops.code.CodeFileTypeContentFilter("text", "file_type", "file_name")(df)
        .select("doc_id", "n_chars")
    },
    "filter_code_quality_score" -> oracled(
      s"""SELECT doc_id, CAST(length(text) % 100 AS DOUBLE) / 10.0 AS code_quality_score
         |FROM $D WHERE CAST(length(text) % 100 AS DOUBLE) / 10.0 BETWEEN 2.0 AND 8.0""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeQualityScoreFilter("text", mockScorer, minScore = 2.0, maxScore = 8.0)(
          t(s, dir, D)).select("doc_id", "code_quality_score")
    },
    "eval_code_sandbox" -> oracled(
      s"""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'PASS' ELSE 'FAIL' END AS sandbox_status
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("generated_code",
        when(col("doc_id") % 2 === 0, lit("run ok")).otherwise(lit("fail now")))
      graft.ops.code.CodeSandboxSampleEvaluator("generated_code")(df)
        .select("doc_id", "sandbox_status")
    },
    "filter_llm_language" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE lang IN ('en', 'fr')") { (s, dir) =>
      LLMLanguageFilter("lang", mock, Seq("en", "fr"))(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "eval_reasoning_category" -> oracled(
      s"""SELECT doc_id, 'cat-' || (doc_id % 4) AS question_category FROM $D""") {
      (s, dir) =>
        val df = t(s, dir, D).withColumn("instruction",
          concat(lit("{\"category\": \"cat-"), col("doc_id") % 4, lit("\"}")))
        ReasoningCategorySampleEvaluator("instruction", mock)(df)
          .select("doc_id", "question_category")
    },
    "eval_reasoning_difficulty" -> oracled(
      s"SELECT doc_id, CAST(doc_id % 10 AS DOUBLE) AS difficulty_score FROM $D") {
      (s, dir) =>
        val df = t(s, dir, D).withColumn("instruction",
          concat(lit("Rating: "), col("doc_id") % 10))
        ReasoningDifficultySampleEvaluator("instruction", mock)(df)
          .select("doc_id", "difficulty_score")
    },
    "eval_reasoning_solvable" -> oracled(
      s"SELECT doc_id, length(text) % 2 = 0 AS solvable FROM $D") { (s, dir) =>
      ReasoningSolvableSampleEvaluator("text", mock)(t(s, dir, D))
        .select("doc_id", "solvable")
    },
    "agg_smiles_equivalence" -> oracled(
      // gold vs synthesized SMILES equivalence accuracy — string-equality
      // degrade of RDKit canonical compare (seam documented in the op)
      s"""SELECT COUNT(*) AS total,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS equivalent,
         |  round(CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) /
         |        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D)
        .withColumn("golden_label", concat(lit("C"), col("doc_id") % 7))
        .withColumn("synth_smiles",
          when(col("doc_id") % 2 === 0, concat(lit("C"), col("doc_id") % 7))
            .otherwise(concat(lit("N"), col("doc_id") % 7)))
      SmilesEquivalenceDatasetEvaluator("golden_label", "synth_smiles")(df)
    },
    "kbc_qa_extract" -> oracled(
      s"""SELECT doc_id, v.pos, 'q' || doc_id || '-' || (v.pos + 1) AS question,
         |  'a' || doc_id || '-' || (v.pos + 1) AS answer
         |FROM $D, (VALUES (0), (1)) v(pos)""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("text",
        concat(lit("Q: q"), col("doc_id"), lit("-1 A: a"), col("doc_id"),
          lit("-1 Q: q"), col("doc_id"), lit("-2 A: a"), col("doc_id"), lit("-2")))
      QAExtractGenerator("text", "doc_id")(df)
        .select("doc_id", "pos", "question", "answer")
    },
    "kbc_mathbook_extract" -> oracled(
      s"""SELECT doc_id, v.pos,
         |  CASE v.pos WHEN 0 THEN 'solve x' ELSE 'compute y' END AS question,
         |  CASE v.pos WHEN 0 THEN 'img' || doc_id ELSE '' END AS images
         |FROM $D, (VALUES (0), (1)) v(pos)""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("text",
        concat(lit("solve x <image>img"), col("doc_id"),
          lit(".jpg</image><SPACE>compute y")))
      MathbookQuestionExtract("text", "doc_id")(df)
        .select(col("doc_id"), col("pos"), col("question"),
          concat_ws(",", col("images")).as("images"))
    },
    "mm_vqa_format" -> oracled(
      s"""SELECT doc_id, to_json(struct_pack(
         |  messages := [
         |    struct_pack(role := 'user', content := 'what is ' || doc_id),
         |    struct_pack(role := 'assistant', content := text)],
         |  images := ['img' || doc_id || '.jpg'])) AS sharegpt
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D)
        .withColumn("question", concat(lit("what is "), col("doc_id")))
        .withColumn("answer", col("text"))
        .withColumn("images", array(concat(lit("img"), col("doc_id"), lit(".jpg"))))
      VQAFormatter()(df).select("doc_id", "sharegpt")
    },
    "mm_pdf_merge" -> oracled(
      // 3 synthesized pages per doc reassembled in page order
      s"""WITH pages AS (SELECT doc_id, v.p AS page,
         |  'p' || v.p || ':' || lang AS content
         |  FROM $D, (VALUES (0), (1), (2)) v(p))
         |SELECT doc_id, string_agg(content, chr(10) || chr(10) ORDER BY page) AS document
         |FROM pages GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val pages = t(s, dir, D)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0), lit(2))).as("page"))
        .withColumn("content", concat(lit("p"), col("page"), lit(":"), col("lang")))
      PDFMerger()(pages).select("doc_id", "document")
    },
    "gen_llm_output_parse" -> oracled(
      s"""SELECT doc_id, 'q' || doc_id AS question, 'a' || doc_id AS answer
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("raw",
        concat(lit("Question: q"), col("doc_id"), lit("\nAnswer: a"), col("doc_id")))
      LLMOutputParser("raw")(df).select("doc_id", "question", "answer")
    },
    "eval_text2qa" -> oracled(
      s"""SELECT doc_id, CAST(length(text || ' <A> a' || doc_id) % 100 AS DOUBLE) / 10.0
         |  AS qa_score FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("question", col("text"))
        .withColumn("answer", concat(lit("a"), col("doc_id")))
      Text2QASampleEvaluator("question", "answer", mockScorer)(df)
        .select("doc_id", "qa_score")
    },
    "eval_qurating_dims" -> oracled(
      // all four axes score through the same mock → identical values per
      // row; real raters differ per dimension through the Scorer seam
      s"""SELECT doc_id,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_writing_style,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_required_expertise,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_facts_and_trivia,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_educational_value
         |FROM $D""".stripMargin) { (s, dir) =>
      QuratingSampleEvaluator("text", mock)(t(s, dir, D))
        .select("doc_id", "qurating_writing_style", "qurating_required_expertise",
          "qurating_facts_and_trivia", "qurating_educational_value")
    },
    "gen_code_chain" -> oracled(
      // code → instruction → enhanced → code, the four-op code-generate
      // family as one chain; the final fence parse falls back to the
      // stripped response (no ``` in the echo)
      s"""SELECT doc_id, 'echo[CODE2INST]:' || text AS instruction,
         |  'echo[CODEENH]:echo[CODE2INST]:' || text AS enhanced_instruction,
         |  'echo[INST2CODE]:echo[CODEENH]:echo[CODE2INST]:' || text AS generated_code
         |FROM $D""".stripMargin) { (s, dir) =>
      val s1 = graft.ops.code.CodeToInstructionGenerator("text", mock)(t(s, dir, D))
      val s2 = graft.ops.code.CodeEnhancementInstructionGenerator("instruction", mock)(s1)
      graft.ops.code.CodeInstructionToCodeGenerator("enhanced_instruction", mock)(s2)
        .select("doc_id", "instruction", "enhanced_instruction", "generated_code")
    },
    "gen_phi4qa" -> oracled(
      s"SELECT doc_id, 'echo[PHI4QA]:' || text AS generated_content FROM $D") {
      (s, dir) =>
        graft.ops.code.Phi4QAGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "generated_content")
    },
    "gen_code_instruction" -> oracled(
      // seed → instruction (`code_gen_instruction.py:19`), the standalone
      // sibling of the gen_code_chain ops
      s"SELECT doc_id, 'echo[CODEINST]:' || text AS instruction FROM $D") {
      (s, dir) =>
        graft.ops.code.CodeInstructionGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "instruction")
    },
    "filter_code_generic_score" -> oracled(
      s"""SELECT doc_id, $sqlMockScore AS code_score
         |FROM $D WHERE $sqlMockScore BETWEEN 2.0 AND 8.0""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeGenericScoreFilter("text", mockScorer,
          minScore = 2.0, maxScore = 8.0)(t(s, dir, D))
          .select("doc_id", "code_score")
    },
    "eval_code_encoded" -> oracled(
      // base64-ish blob or long hex run → encoded-data flag
      // (`code_encoded_data_sample_evaluator`); the %3==1 code rows carry
      // an 80-char QWER run that trips the 65+-char blob pattern
      s"""WITH c AS (SELECT doc_id, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, CAST(CASE WHEN regexp_matches(code, '[A-Za-z0-9+/=]{65,}')
         |  OR regexp_matches(code, '(0x)?[0-9a-fA-F]{128,}') THEN 1 ELSE 0 END AS INT)
         |  AS encoded_flag
         |FROM c""".stripMargin) { (s, dir) =>
      graft.ops.code.CodeEncodedDataSampleEvaluator("code")(
        withCodeCol(t(s, dir, D))).select("doc_id", "encoded_flag")
    },
    "filter_langkit" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE ${sqlWordCount("text")} BETWEEN 30 AND 80
         |  AND length(text) BETWEEN 1 AND 1000000""".stripMargin) { (s, dir) =>
      LangkitFilter("text", minWords = 30, maxWords = 80)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "gen_condor_pairs" -> oracled(
      s"""SELECT doc_id, 'echo[CONDORQ]:' || lang AS instruction,
         |  'echo[CONDORA]:echo[CONDORQ]:' || lang AS response FROM $D""".stripMargin) {
      (s, dir) =>
        CondorGenerator("lang", mock)(t(s, dir, D))
          .select("doc_id", "instruction", "response")
    },
    "filter_reasoning_question" -> oracled(
      // mock judge: yes iff even question length
      s"SELECT doc_id, n_chars FROM $D WHERE length(text) % 2 = 0") { (s, dir) =>
      ReasoningQuestionFilter("text", mock)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "filter_answer_model_judge" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE length(text || ' <VS> g' || doc_id) % 2 = 0""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("golden_answer",
        concat(lit("g"), col("doc_id")))
      ReasoningAnswerModelJudgeFilter("text", "golden_answer", mock)(df)
        .select("doc_id", "n_chars")
    },
    "eval_code_stats" -> oracled(
      s"""WITH c AS (SELECT doc_id, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, CAST(len(split(code, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(list_max(list_transform(split(code, chr(10)), l -> length(l))) AS BIGINT)
         |    AS max_line_length,
         |  round(CAST(length(regexp_replace(code, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) /
         |        CAST(greatest(length(code), 1) AS DOUBLE), 6) AS alnum_ratio,
         |  CAST(CASE WHEN regexp_matches(lower(code),
         |    '(auto-generated|autogenerated|do not edit|generated by)') THEN 1 ELSE 0 END AS INT)
         |    AS autogen_flag
         |FROM c""".stripMargin) { (s, dir) =>
      val df = withCodeCol(t(s, dir, D))
      val s1 = graft.ops.code.CodeLengthSampleEvaluator("code")(df)
      val s2 = graft.ops.code.CodeTextCompositionSampleEvaluator("code")(s1)
      graft.ops.code.CodeAutoGeneratedSampleEvaluator("code")(s2)
        .select("doc_id", "n_lines", "max_line_length", "alnum_ratio", "autogen_flag")
    })

  /** DuckDB QA-F1 token normalization (matches QAF1SampleEvaluator.norm). */
  private def sqlF1Norm(c: String): String =
    s"""list_filter(regexp_split_to_array(regexp_replace(regexp_replace(lower($c), """ +
      """'[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', ' ', 'g'), """ +
      """'\b(a|an|the)\b', ' ', 'g'), '\s+'), x -> x <> '')"""

  // ---- driver contract ----------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
