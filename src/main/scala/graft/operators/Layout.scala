package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering of a table so
  * correlated range predicates prune files instead of scanning them —
  * the Z-ORDER move every lakehouse layout optimizer (Delta OPTIMIZE
  * ZORDER, Iceberg rewrite, Hudi clustering) applies before handing a
  * 100 TB table to selective readers.
  *
  * Why it matters at scale: parquet pruning works on per-file min/max
  * stats. A table sorted by ONE column prunes only predicates on that
  * column; interleaving the bits of several bucketized columns (a
  * Morton / Z-curve) gives every listed column locality inside each
  * file, so min/max spans stay narrow on ALL of them — a range filter
  * on any dimension skips most files (Morton 1966; the standard
  * lakehouse layout technique).
  *
  * Everything here is pure integer Column arithmetic (bucketize →
  * bit-interleave → range-bucket by rank), deterministic and
  * engine-portable, so the whole layout decision is oracle-replayable
  * in SQL — including WHICH file every row lands in.
  */
object Layout {

  /** Morton/Z-value of two pre-bucketized dimensions, each in
    * [0, 2^bits): bit i of `a` lands at output bit 2i+1, bit i of `b`
    * at 2i. Pure shifts/masks — codegen-friendly, no UDF. Out-of-range
    * inputs fail loudly rather than silently aliasing distant rows
    * into the same curve position.
    */
  def zValue(a: Column, b: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31]")
    val bound = lit(1L << bits)
    val guard = when(a < 0 || a >= bound || b < 0 || b >= bound,
      raise_error(concat(lit(s"z_value: inputs must lie in [0, 2^$bits): got ("),
        a.cast("string"), lit(", "), b.cast("string"), lit(")")))
        .cast("long")).otherwise(lit(0L))
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)),
        shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)))
    }
    terms.reduce(_ + _) + guard
  }

  /** Equi-width bucket of `c` over [lo, hi] into [0, 2^bits), clamped
    * at the edges (values at `hi` land in the top bucket).
    */
  def bucketize(c: Column, lo: Double, hi: Double, bits: Int = 8): Column = {
    require(hi > lo, "hi > lo")
    val n = 1 << bits
    least(greatest(
      floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(n)).cast("long"),
      lit(0L)), lit((n - 1).toLong))
  }

  /** Assign every row to one of `nFiles` files by Z-curve rank: rows
    * are ranked by (z, tiebreak) and files are contiguous rank ranges
    * of near-equal size — exactly what a layout rewrite job does before
    * writing each range as one parquet file.
    *
    * The global rank uses the same two-phase distributed scan as
    * [[Packing.packByBudget]] — range-partition + sort-within on
    * (z, tiebreak), per-partition counts prefix-scanned on the driver
    * (O(parts) state), one narrow pass adding each partition's offset —
    * NEVER an unpartitioned `Window.orderBy`, which executes as a
    * single task and is exactly the plan that dies at 100 TB. The
    * result is independent of partition boundaries.
    *
    * Output: input columns + (z, file_id). Deterministic: the tiebreak
    * column must be unique per row. The internal sorted cache is
    * registered with [[Intermediates]].
    */
  def zorderFiles(df: DataFrame, z: Column, tiebreak: Column,
      nFiles: Int): DataFrame = {
    require(nFiles >= 1, "nFiles >= 1")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    // _pid is captured as a COLUMN on the cached sort, and the rank
    // phase keys off the column value — NOT TaskContext.getPartitionId,
    // whose value is the enclosing stage's partition index and shifts
    // when a downstream union/recompute wraps this plan
    // the count phase and the rank phase must see one sort
    val sorted = Intermediates.persist(
      df.withColumn("z", z).withColumn("_tb", tiebreak.cast("long"))
        .repartitionByRange(parts, col("z"), col("_tb"))
        .sortWithinPartitions(col("z"), col("_tb"))
        .withColumn("_pid", spark_partition_id()))
    val counts = sorted.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val offsets = new Array[Long](parts)
    var acc = 0L
    var p = 0
    while (p < parts) {
      offsets(p) = acc
      acc += counts.getOrElse(p, 0L)
      p += 1
    }
    val totalRows = math.max(acc, 1L)
    // rank = partition offset + local row_number: the window is
    // partitioned by _pid (parallel — range partitions are already
    // sorted, never one global task); offsets ride as a constant-folded
    // literal array
    val offArr = array(offsets.map(lit(_)): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy("z", "_tb")
    val rank = element_at(offArr, col("_pid") + 1) +
      row_number().over(w).cast("long") - 1
    sorted
      .withColumn("file_id", ((rank * nFiles) / lit(totalRows)).cast("int"))
      .drop("_tb", "_pid")
  }

  /** Per-file min/max spans of the laid-out dimensions — the pruning
    * report: narrow spans on every dimension are what let a selective
    * reader skip files. This is the evidence table a layout optimizer
    * emits after a rewrite.
    */
  def fileSpans(laidOut: DataFrame, dims: Seq[(String, Column)]): DataFrame = {
    val aggs = dims.flatMap { case (name, c) =>
      Seq(min(c).as(s"min_$name"), max(c).as(s"max_$name")) } :+
      count(lit(1)).as("n_rows")
    laidOut.groupBy(col("file_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("file_id")
  }
}
