package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** Scale-adaptive parallelism floor for heavy per-row compute that sits
  * directly on a table scan.
  *
  * The text/embedding operators do most of their work in the narrow stage
  * right after the scan (regex tokenization, shingle assembly, dimension
  * explodes, 64-way vote aggregates), so their wall clock is bounded by the
  * SCAN's split count — and a small or range-partitioned table yields a
  * handful of one-rowgroup files that pin the whole pipeline to that file
  * count while the rest of the cluster idles (measured: the sf0.1 documents
  * table plans 5 splits on a 32-core host, so every shingle pass ran at
  * 5/32 of the machine). This is the classic "too few / unsplittable input
  * partitions" case: repartition immediately after the read.
  *
  * Scale-adaptive: the floor only fires when the planned split count is
  * BELOW the cluster's default parallelism. A production-scale corpus
  * plans orders of magnitude more splits than cores, so this is a
  * structural no-op there — no shuffle is ever added at 100 TB.
  *
  * The repartition hashes on `keyCol` (every caller has a unique id
  * column): a keyless round-robin repartition pays a local sort of its
  * input per task to stay deterministic under retries (SPARK-23207);
  * hashing a unique key spreads as evenly without the sort.
  */
object Parallelism {

  /** Planned partition count, probed WITHOUT executing anything — or None
    * when the plan is not scan-shaped. `Dataset.rdd` under AQE materializes
    * every non-result query stage, so probing it on a frame that contains
    * exchanges would eagerly run the upstream plan at DataFrame-CONSTRUCTION
    * time (and that work is NOT reused by the real action). An exchange-free
    * plan (a file scan, a local relation, a checkpointed LogicalRDD) never
    * goes adaptive, so its `.rdd` is plain lazy RDD assembly. Plans WITH
    * exchanges return None: their downstream parallelism is already set by
    * `spark.sql.shuffle.partitions` / AQE, so the floor is moot there anyway.
    */
  private[llm] def plannedSplits(df: DataFrame): Option[Int] = {
    // ONE QueryExecution serves both probes: `df.rdd` would build a
    // second (deserializing) QueryExecution — planning a graft scan twice
    // per call was measured at +0.1-0.25 s on the text operators
    val qe = castToImpl(df).queryExecution
    val hasExchange =
      qe.sparkPlan.collectFirst { case e: Exchange => e }.isDefined
    if (hasExchange) None else Some(qe.toRdd.getNumPartitions)
  }

  def fanOut(df: DataFrame, keyCol: String): DataFrame =
    fanOutKeys(df, Seq(keyCol))

  /** [[fanOutBytes]]'s threshold in bytes per planned split. A constant:
    * no caller needs another value. */
  private val FANOUT_MIN_BYTES = 512L << 10

  /** Byte-gated floor for MODERATE per-row compute (token-count
    * aggregates): the flat floor was measured HARMFUL on these at small
    * scale — one hash-agg update per exploded token doesn't amortize the
    * extra exchange — but the balance flips once each split carries
    * enough text. Fires only when the plan-time input size exceeds
    * [[FANOUT_MIN_BYTES]] (512 KB) per planned split. Heavy per-row
    * stages (regex + shingle assembly) keep the unconditional [[fanOut]]. */
  def fanOutBytes(df: DataFrame, keyCol: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    plannedSplits(df) match {
      case Some(parts) if parts < target &&
          castToImpl(df).queryExecution.optimizedPlan.stats.sizeInBytes >
            BigInt(FANOUT_MIN_BYTES) * parts =>
        df.repartition(target, col(s"`${keyCol.replace("`", "``")}`"))
      case _ => df
    }
  }

  /** Multi-column form: fanning a pair frame by its JOIN keys lets the
    * downstream self-join reuse the exchange (same keys, same partition
    * count) instead of paying a second shuffle — guide §2.4. */
  def fanOutKeys(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    plannedSplits(df) match {
      case Some(parts) if parts < target =>
        df.repartition(target,
          keyCols.map(k => col(s"`${k.replace("`", "``")}`")): _*)
      case _ => df
    }
  }
}
