package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Op
import graft.ops.dedup.{HashDeduplicateFilter, MinHashDeduplicateFilter, SemDeduplicateFilter}
import graft.ops.eval.NgramSampleEvaluator
import graft.ops.filter.WordNumberFilter
import graft.ops.gen.{EmbeddingGenerator, PromptedEvaluator, PromptedFilter, PromptedGenerator}
import graft.ops.refine.{HtmlUrlRemoverRefiner, LowercaseRefiner, RemoveExtraSpacesRefiner}
import graft.serving.ServingClient

/** One DataFlow-shaped pipeline with its seeded input and its output
  * invariants. */
trait Workload {
  def name: String

  /** Generates the input from `seed` and caches it; returns the number of
    * generated input rows. */
  def prepare(spark: SparkSession, seed: Long): Long
  def input: DataFrame
  def release(): Unit = Option(input).foreach(_.unpersist(blocking = true))

  def ops(serving: ServingClient): Seq[Op]

  /** Ops that send each of their input rows to the serving stand-in once. */
  def llmOps: Set[String] = Set.empty

  /** Columns of the written result that [[check]] reads. */
  def checkColumns: Seq[Column]

  /** Invariant violations of a written result, given its rows projected
    * onto [[checkColumns]] (empty when the result is correct). */
  def check(rows: Seq[Row]): Seq[String]

  /** The `dedup.*` useful-work metrics, from the same rows and the rows
    * each op emitted and received (by op name). */
  def dedupMetrics(rows: Seq[Row], rowsOut: Map[String, Long],
      rowsIn: Map[String, Long]): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(new PtClean, new SftSynth)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Over rows of (doc_id, text, ...): planted exact duplicates must all be
    * gone, and no two rows may share a text (null counts as one text). */
  private[perfbench] def dedupInvariants(rows: Seq[Row], exactDups: Set[Long]): Seq[String] = {
    val ids = rows.map(_.getLong(0)).toSet
    val leftover = exactDups.count(ids.contains)
    val shared = rows.groupBy(r => Option(r.getString(1))).count(_._2.length > 1)
    Seq(
      Option.when(leftover > 0)(s"$leftover planted exact duplicates survived"),
      Option.when(shared > 0)(s"$shared texts occur in more than one output row")).flatten
  }
}

/** Pretraining clean: refiners, a rule filter, exact and MinHash dedup, and
  * a quality score. No serving at all. */
final class PtClean extends Workload {
  val name = "pt_clean"
  private var corpus: Corpus = _
  var input: DataFrame = _

  def prepare(spark: SparkSession, seed: Long): Long = {
    corpus = Gen.corpus(seed, PtClean.Docs, 150, 300)
    input = spark.createDataFrame(corpus.docs).cache()
    input.count()
  }

  def ops(serving: ServingClient): Seq[Op] = Seq(
    HtmlUrlRemoverRefiner("text"), RemoveExtraSpacesRefiner("text"), LowercaseRefiner("text"),
    WordNumberFilter("text", minWords = 20),
    HashDeduplicateFilter(Seq("text"), "doc_id"),
    MinHashDeduplicateFilter("text", "doc_id"),
    NgramSampleEvaluator("text", 5, "quality"))

  def checkColumns: Seq[Column] = Seq(col("doc_id"), col("text"))

  def check(rows: Seq[Row]): Seq[String] = {
    val empty = rows.count(r => r.isNullAt(1) || r.getString(1).trim.isEmpty)
    Workloads.dedupInvariants(rows, corpus.exactDups) ++
      Option.when(empty > 0)(s"$empty null or empty texts survived the word-count filter")
  }

  override def dedupMetrics(rows: Seq[Row], rowsOut: Map[String, Long],
      rowsIn: Map[String, Long]): Map[String, Double] = {
    val ids = rows.map(_.getLong(0)).toSet
    def recall(planted: Set[Long]) = planted.count(id => !ids.contains(id)).toDouble / planted.size
    Map("dedup.exact_recall" -> recall(corpus.exactDups),
      "dedup.near_recall" -> recall(corpus.nearDups))
  }
}

object PtClean { val Docs = 1200 }

/** SFT synthesis: generate, judge, score and embed through serving, then
  * semantic dedup. The same generator as pt_clean, but its dedup is vector
  * LSH instead of MinHash. */
final class SftSynth extends Workload {
  val name = "sft_synth"
  private var corpus: Corpus = _
  var input: DataFrame = _

  def prepare(spark: SparkSession, seed: Long): Long = {
    corpus = Gen.corpus(seed, SftSynth.Docs, 150, 300)
    input = spark.createDataFrame(corpus.docs).cache()
    input.count()
  }

  def ops(serving: ServingClient): Seq[Op] = Seq(
    PromptedGenerator("text", "response", serving, "SFT",
      "Write an instruction and its answer for: "),
    PromptedFilter("response", serving, "JUDGE"),
    PromptedEvaluator("response", "score", serving, "SCORE"),
    EmbeddingGenerator("response", "embedding", serving),
    SemDeduplicateFilter("embedding", "doc_id", eps = 0.05, dim = serving.embeddingDim))

  override val llmOps = Set("prompted_generator", "prompted_filter", "prompted_evaluator",
    "embedding_generator")

  def checkColumns: Seq[Column] = Seq(col("doc_id"), col("text"), col("score"))

  def check(rows: Seq[Row]): Seq[String] = {
    val badScore = rows.count(r => r.isNullAt(2) || r.getDouble(2) < 0 || r.getDouble(2) >= 10)
    Workloads.dedupInvariants(rows, corpus.exactDups) ++
      Option.when(badScore > 0)(s"$badScore rows have a score outside [0, 10)")
  }

  override def dedupMetrics(rows: Seq[Row], rowsOut: Map[String, Long],
      rowsIn: Map[String, Long]): Map[String, Double] = {
    val op = "sem_deduplicate_filter"
    Map("dedup.sem_keep_ratio" -> rowsOut(op).toDouble / math.max(1L, rowsIn(op)))
  }
}

object SftSynth { val Docs = 2000 }
