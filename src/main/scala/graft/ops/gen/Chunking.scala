package graft.ops.gen

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Op
import graft.functions.text._

/** Document chunking — the KBC chunk generator's four modes
  * (`knowledge_cleaning/generate/kbc_chunk_generator.py:21-107`:
  * token/sentence/semantic/recursive, chunk_size 512, min 100). Explodes
  * one row per chunk (the reference's row-multiplying UDTF shape).
  *
  * `minChunkTokens > 0` greedily MERGES forward: sentences/windows
  * accumulate into the current chunk until it reaches the minimum (the
  * reference's min_tokens_per_chunk merge — short chunks are not
  * dropped, they coalesce with their successor; a short tail joins the
  * previous chunk).
  *
  * Mode "semantic" mirrors the reference's embedding-boundary chunker:
  * sentences are embedded through the `serving` seam (narrow
  * mapPartitions), and a chunk boundary opens where the cosine between
  * adjacent sentence embeddings drops below `simThreshold`. */
final case class ChunkSplitter(inputKey: String = "text",
    idKey: String = "doc_id", mode: String = "token", chunkSize: Int = 512,
    minChunkTokens: Int = 0,
    serving: Option[graft.serving.ServingClient] = None,
    simThreshold: Double = 0.5) extends Op {
  val name = "chunk_splitter"
  val inputKeys = Seq(inputKey, idKey)
  val outputKeys = Seq("pos", "raw_chunk")

  private def chunksExpr: Column = mode match {
    case "token" =>
      // words() is materialized into its own column first (see apply):
      // ArrayTransform is CodegenFallback, so a split embedded in the
      // lambda body would re-tokenize the document once PER CHUNK.
      val ws = col("__ws")
      val n = ceil(size(ws).cast("double") / chunkSize.toDouble).cast("int")
      transform(sequence(lit(0), greatest(n - 1, lit(0))),
        i => concat_ws(" ", slice(ws, i * chunkSize + 1, lit(chunkSize))))
    case "sentence" =>
      // split on sentence punctuation, drop empty segments
      filter(transform(split(col(inputKey), "[.!?]+"), s => trim(s)), s => s =!= "")
    case "recursive" =>
      // paragraph → line → token fallback: split on blank lines first,
      // then oversized paragraphs by token windows
      val paras = filter(transform(split(col(inputKey), "\n\n+"), s => trim(s)),
        s => s =!= "")
      flatten(transform(paras, p => {
        val ws = filter(split(p, "\\s+"), w => w =!= "")
        val n = ceil(size(ws).cast("double") / chunkSize.toDouble).cast("int")
        transform(sequence(lit(0), greatest(n - 1, lit(0))),
          i => concat_ws(" ", slice(ws, i * chunkSize + 1, lit(chunkSize))))
      }))
    case other => throw new IllegalArgumentException(s"chunk mode $other")
  }

  /** Greedy forward merge to the token minimum, tail merged backward. */
  private val mergeShort = {
    val minT = minChunkTokens
    udf { chunks: Seq[String] =>
      if (chunks == null) Seq.empty[String]
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var curTokens = 0
        chunks.foreach { c =>
          if (curTokens > 0) cur.append(' ')
          cur.append(c)
          curTokens += c.split("\\s+").count(_.nonEmpty)
          if (curTokens >= minT) { out += cur.toString; cur.clear(); curTokens = 0 }
        }
        if (curTokens > 0) {
          if (out.nonEmpty) out(out.length - 1) = out.last + " " + cur.toString
          else out += cur.toString
        }
        out.toSeq
      }
    }
  }

  private def semanticChunks(df: DataFrame): DataFrame = {
    val client = serving.getOrElse(throw new IllegalArgumentException(
      "mode=semantic requires a serving client for sentence embeddings"))
    val sentences = df.select(col(idKey),
      posexplode(filter(transform(split(col(inputKey), "[.!?]+"), s => trim(s)),
        s => s =!= "")).as(Seq("__sp", "__sent")))
    // When the corpus scan is narrower than the session, the
    // per-sentence embed runs at the scan's split count (sf0.1's single
    // parquet split: cpu_ratio 1.51 on 32 cores) because mapPartitions
    // chains on the scan. The downstream id window re-exchanges anyway,
    // so widening by id BEFORE the embed parallelizes it at unchanged
    // exchange count, and the exchange carries raw sentences instead of
    // sentence+embedding rows. A wide scan's plan is untouched.
    val parted = graft.core.Partitioning.widenIfStarved(sentences,
      key = Some(col(idKey)))
    val embedded = graft.serving.LLMMap.embedded(parted, "__sent", "__emb", client)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idKey).orderBy("__sp")
    val withPrev = embedded.withColumn("__prev", lag(col("__emb"), 1).over(w))
    val boundary = when(col("__prev").isNull, lit(1))
      .when(graft.functions.expressions.cosineSim(col("__prev"), col("__emb"))
        < simThreshold, lit(1))
      .otherwise(lit(0))
    val grouped = withPrev.withColumn("__grp",
      sum(boundary).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    grouped.groupBy(col(idKey), col("__grp"))
      .agg(min(col("__sp")).as("__first"),
        array_join(transform(array_sort(collect_list(struct(col("__sp"), col("__sent")))),
          s => s("__sent")), ". ").as("raw_chunk"))
      .withColumn("pos",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(idKey).orderBy("__first")) - 1).cast("int"))
      .select(col(idKey), col("pos"), col("raw_chunk"))
  }

  def apply(df: DataFrame): DataFrame = {
    if (mode == "semantic") return semanticChunks(df)
    val tokenized =
      if (mode == "token") df.withColumn("__ws", words(col(inputKey)))
      else df
    val base = tokenized.withColumn("__chunks", chunksExpr)
    val merged =
      if (minChunkTokens > 0) base.withColumn("__chunks", mergeShort(col("__chunks")))
      else base
    // posexplode_OUTER, then drop the null rows of empty arrays: an inner
    // posexplode makes InferFiltersFromGenerate push a `size(chunks) > 0`
    // filter below the projections, re-inlining (and re-evaluating) the
    // whole chunk expression once more per document
    merged.select(col(idKey), posexplode_outer(col("__chunks")).as(Seq("pos", "raw_chunk")))
      .where(col("raw_chunk").isNotNull)
  }
}
