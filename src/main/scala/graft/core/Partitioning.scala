package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Partitioning, stage-width and skew utilities for the 100 TB tier.
  *
  * AQE (on by default in Spark 4) already handles runtime skew-join
  * splitting and partition coalescing by shuffle BYTES. It cannot size a
  * stage whose cost is CPU per row: a quadratic bucket walk, an embed or
  * an n-gram pass over a compact scan. The one home for that decision is
  * here: [[stageWidth]] sizes a keyed CPU-bound exchange from a row
  * count, and [[widenIfStarved]] gives a plan-time-narrow input the
  * session's slot count. Both read the session, so no operator does.
  * The gate counts feeding them ([[oneJobCount]], [[sideCounts]]) live
  * here too, so no operator drives an RDD to size a stage.
  * The other helpers cover deliberate co-partitioning to reuse a
  * partitioning across stages, and salted aggregation for heavy-hitter
  * keys feeding non-join operators.
  */
object Partitioning {

  /** Partition count for a keyed CPU-bound stage over `n` rows: ~512
    * rows per partition, clamped to [spark.sql.shuffle.partitions,
    * 8 × defaultParallelism]. The floor never plans coarser than the
    * session default; the cap bounds the task count on small clusters
    * while staying 8× the slot count at any scale. Byte-driven
    * machinery mis-sizes such stages in both directions: a similarity
    * join's enumerate stage costs Σ C(bucket, 2) while its shuffle is
    * linear, and at ×1000 a 32-partition run left a 9-task straggler
    * tail for hours. local[32] examples: 2k rows → 32, 200k → 256,
    * 2M → 256 (capped). */
  private[graft] def stageWidth(n: Long, spark: SparkSession): Int = {
    val base = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val cap = math.max(base, 8 * spark.sparkContext.defaultParallelism)
    // clamp in Long BEFORE narrowing: (n / 512L).toInt overflows negative
    // past n ≈ 1.1e12, and max(base, negative) would silently return the
    // session base — the opposite of the intended scaling direction
    math.min(cap.toLong, math.max(base.toLong, n / 512L)).toInt
  }

  /** Widen-if-starved: repartition `df` to the session's slot count
    * (`defaultParallelism`) when its plan-time width ([[lazyScanWidth]])
    * is below it and `work` says the stage above is heavy enough to pay
    * for an exchange; otherwise return `df` itself. `key` hash-partitions
    * (for a stage whose consumer clusters on it anyway); without one the
    * repartition is round-robin. A narrow stage over a compact scan runs
    * at the scan's split count however many cores the session has: the
    * lshTopK probe over a 2-split ×100 corpus ran 546 s against 78 s at
    * full width.
    *
    * Order is deliberate: the width probe runs first and costs no job,
    * and `work` is BY-NAME, so a gate count inside it is paid only when
    * the input is actually starved. A wide cluster scan answers from
    * planning alone and its plan is untouched. Shuffle-lineage and
    * unbuilt-cache inputs are never widened (their width is unknowable
    * without executing them); a caller feeding such a compact input
    * should materialize or repartition it explicitly. */
  private[graft] def widenIfStarved(df: DataFrame, key: Option[Column] = None,
      work: => Boolean = true): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    lazyScanWidth(df) match {
      case Some(w) if w < slots && work =>
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"split-starved input ($w partitions) widened to $slots slots")
        key.fold(df.repartition(slots))(k => df.repartition(slots, k))
      case _ => df
    }
  }

  /** True iff `plan` is non-adaptive and exchange-free — the
    * precondition for driving its RDD directly: `toRdd` on a plan AQE
    * wrapped in `AdaptiveSparkPlanExec` finalizes the adaptive plan,
    * which MATERIALIZES every exchange in the lineage (real shuffle
    * jobs, not reusable by the later full query). */
  private def exchangeFree(plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    !plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case _ => false
    }
  }

  /** Width (RDD partition count) of `df`'s plan WITHOUT executing
    * anything; `None` when that needs execution.
    *
    * AQE only wraps plans containing exchanges or subqueries, so a
    * non-adaptive plan with no exchange is narrow over its scan and
    * building its RDD graph is pure planning (zero jobs). An
    * adaptive plan would be finalized by `toRdd`, materializing its
    * exchanges, so it answers None — with one exception: Spark 4.1 wraps
    * ANY plan over a cache scan, and a BUILT cache answers its width
    * from the existing cached RDD (pure metadata). The AQE shell is
    * unwrapped for inspection only (via `inputPlan`, never finalized).
    * An unbuilt cache would execute the cache build, so it answers
    * None. The cached width answers for the root only while every node
    * above the cache scan preserves partition count: coalesce, union
    * and cartesian product don't, so they answer None too. */
  private[graft] def lazyScanWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.{CoalesceExec, UnionExec}
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    def unbuilt(s: InMemoryTableScanExec): Boolean =
      !s.relation.cacheBuilder.isCachedColumnBuffersLoaded
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val in = a.inputPlan
        val hazard = in.exists {
          case s: InMemoryTableScanExec => unbuilt(s)
          case _: Exchange | _: AdaptiveSparkPlanExec | _: CoalesceExec |
              _: UnionExec | _: CartesianProductExec => true
          case _ => false
        }
        if (hazard) None
        else in.collectFirst { case s: InMemoryTableScanExec =>
          s.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions
        } // no cache ⇒ AQE wrapped for another reason (subquery) ⇒ None
      case p =>
        val hazard = p.exists {
          case _: Exchange => true
          case s: InMemoryTableScanExec => unbuilt(s)
          case _ => false
        }
        if (hazard) None else Some(df.queryExecution.toRdd.getNumPartitions)
    }
  }

  /** Row count in exactly ONE Spark job when the plan allows it: a
    * DataFrame `count()` is 2+ jobs under AQE, each a ~55 ms scheduling
    * floor in local mode — the measurable cost of an auto-knob gate at
    * bench scale. The fast path drives `toRdd` directly, legal only on
    * an exchange-free plan; a shuffle-lineage input falls back to a
    * plain AQE-managed `count()`. */
  private[graft] def oneJobCount(df: DataFrame): Long = {
    val narrow = df.select(lit(1))
    if (!exchangeFree(narrow.queryExecution.executedPlan)) narrow.count()
    else narrow.sparkSession.sparkContext
      .runJob(narrow.queryExecution.toRdd, (it: Iterator[InternalRow]) => {
        var c = 0L; while (it.hasNext) { it.next(); c += 1L }; c
      })
      .sum
  }

  /** Per-side row counts of a tagged plan (`__side` int column, 0 or 1)
    * in exactly ONE Spark job — two gate counts for the price of
    * [[oneJobCount]]. A shuffle-lineage input falls back to one
    * AQE-managed aggregation. */
  private[graft] def sideCounts(tagged: DataFrame): (Long, Long) = {
    if (!exchangeFree(tagged.queryExecution.executedPlan)) {
      val m = tagged.groupBy(col("__side")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      return (m.getOrElse(0, 0L), m.getOrElse(1, 0L))
    }
    tagged.sparkSession.sparkContext
      .runJob(tagged.queryExecution.toRdd, (it: Iterator[InternalRow]) => {
        var c0 = 0L; var c1 = 0L
        it.foreach(r => if (r.getInt(0) == 0) c0 += 1 else c1 += 1)
        (c0, c1)
      })
      .foldLeft((0L, 0L)) { case ((a0, a1), (b0, b1)) => (a0 + b0, a1 + b1) }
  }

  /** Co-partition both sides on the join key so repeated joins/aggs on
    * the same key reuse one shuffle (the poor-man's bucketing for
    * non-table data; for persisted data use `writeBucketed`). */
  def coPartition(left: DataFrame, right: DataFrame, key: String,
      numPartitions: Int): (DataFrame, DataFrame) =
    (left.repartition(numPartitions, col(key)),
      right.repartition(numPartitions, col(key)))

  /** Salted two-phase aggregation: groupBy(key, salt) partial → groupBy
    * key final. Caps per-task input for heavy-hitter keys at
    * 1/saltBuckets of the key's rows. `partialAggs` must be mergeable by
    * the matching `finalAggs` (e.g. sum→sum, count→sum, max→max). */
  def saltedAgg(df: DataFrame, key: String, saltBuckets: Int,
      partialAggs: Seq[Column], finalAggs: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partial = salted.groupBy(col(key), col("__salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
    partial.groupBy(col(key)).agg(finalAggs.head, finalAggs.tail: _*)
      .drop("__salt")
  }

  /** Salted broadcast join for a skewed fact side against a small dim:
    * explode the dim `saltBuckets`× with a salt column, salt the fact
    * rows, join on (key, salt) — spreads one hot key over many tasks. */
  def saltedBroadcastJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val saltedDim = dim
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    saltedFact.join(broadcast(saltedDim), Seq(key, "__salt")).drop("__salt")
  }

  /** Persist bucketed by key — co-located scan-side joins with zero
    * shuffle for every later consumer of the same key. Written as an
    * EXTERNAL table (explicit path at the default warehouse location):
    * managed CTAS refuses any pre-existing non-empty location
    * (LOCATION_ALREADY_EXISTS) — a landmine when a previous session, a
    * crashed run, or an unchecked filesystem delete leaves the directory
    * behind — while external + overwrite owns the directory lifecycle
    * itself, making the write idempotent without a manual delete. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").option("path", loc.toString).saveAsTable(table)
  }
}
