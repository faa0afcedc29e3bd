package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: assign documents (in a
  * deterministic id order) to fixed token-budget bins — the step that
  * turns a cleaned corpus into context-window-sized training sequences.
  *
  * Bin identity is the budget grid over the EXCLUSIVE running token
  * total: doc d lands in bin ⌊cum_before(d) / budget⌋. This is
  * deterministic, order-stable, and — unlike true first-fit packing —
  * embarrassingly scalable, because it only needs a global prefix sum.
  *
  * The prefix sum is computed with a two-phase distributed scan, NOT a
  * `Window.orderBy` without partitioning (which Spark executes in a
  * single task and is exactly the kind of plan that dies at 100 TB):
  *   1. range-partition by the order column and sort within partitions;
  *   2. aggregate per-partition token totals (one tiny row per
  *      partition), prefix-scan them on the driver, broadcast the
  *      offsets;
  *   3. one narrow pass per partition accumulates the local running sum
  *      on top of its partition's offset.
  * The result is independent of the partition boundaries — they shift
  * the offsets, never the global cumulative values.
  */
object Packing {

  /** Returns (idCol, n_tokens, seq_id): one row per input row with its
    * assigned training-sequence bin. `idCol` must be unique (it defines
    * the packing order); token counts are capped at the budget per the
    * grid semantics (a doc longer than the budget still gets a bin —
    * callers wanting to drop or split oversized docs filter first).
    * The internal range-partitioned cache is registered with
    * [[Intermediates]].
    */
  def packByBudget(
      df: DataFrame, idCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    // _pid rides as a COLUMN captured on the cached sort — NOT
    // TaskContext.getPartitionId in a later pass, whose value is the
    // enclosing stage's partition index and shifts when a downstream
    // union/recompute wraps this plan (same fix as Layout.zorderFiles)
    // both scan phases must see one materialization
    val slim = Intermediates.persist(df
      .select(col(idCol).cast("long").as("_id"), col(tokenCol).cast("long").as("_tok"))
      .repartitionByRange(parts, col("_id"))
      .sortWithinPartitions("_id")
      .withColumn("_pid", spark_partition_id()))
    val totals = slim
      .groupBy("_pid").agg(sum("_tok").as("_t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // exclusive prefix over partition totals — O(parts) driver work
    val offsets = new Array[Long](parts)
    var acc = 0L
    var p = 0
    while (p < parts) {
      offsets(p) = acc
      acc += totals.getOrElse(p, 0L)
      p += 1
    }
    // exclusive running total = partition offset + windowed prefix sum
    // within the partition (parallel — one window per range partition)
    val offArr = array(offsets.map(lit(_)): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy("_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val run = element_at(offArr, col("_pid") + 1) +
      coalesce(sum("_tok").over(w), lit(0L))
    slim
      .withColumn("_run", run)
      .withColumn("seq_id", expr(s"_run div ${budget}L"))
      .select(col("_id").as(idCol), col("_tok").as("n_tokens"), col("seq_id"))
  }
}
