package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Unlike
  * `df.sample` (seeded per-partition RNG ⇒ results change with
  * partitioning), these are pure functions of the data: re-runs,
  * retries, and different cluster layouts select the same rows — which
  * is what a reproducible data pipeline needs.
  */
object Sampling {

  /** Systematic sampling by a dense numeric key (every k-th row by id) —
    * fully oracle-expressible; use when the key is already uniform.
    */
  def systematicSample(df: DataFrame, key: Column, numerator: Int, denominator: Int): DataFrame =
    df.filter(pmod(key, lit(denominator.toLong)) < numerator)

  /** Deterministic global-shuffle key: an affine permutation-style hash
    * of a numeric id over the prime field M = 1e9+7 — portable integer
    * arithmetic (so an external oracle can reproduce it exactly, which
    * `xxhash64` is not guaranteed to be across engines) and independent
    * of partitioning. Training pipelines order by this key to break
    * source/temporal locality before sharding; at scale the ordering is
    * `repartitionByRange(shuffleKey)` + `sortWithinPartitions`, never a
    * global sort to one task. Collisions are possible (it is a hash,
    * not a bijection) — tie-break on the id when a total order matters.
    */
  def shuffleKey(id: Column, salt: Long = 40503L): Column = {
    val M = 1000000007L
    // 2654435761 (Knuth's multiplicative constant) reduced mod M, so the
    // product of two sub-M longs stays < 1e18.1 — no overflow under ANSI
    val P = 654435747L
    pmod(pmod(id, lit(M)) * lit(P) + lit(salt % M), lit(M))
  }

  /** Per-group row cap (the RefinedWeb/CCNet "at most N documents per
    * domain" move): keep the first `cap` rows of each group in
    * deterministic hash order, so the retained set is an unbiased,
    * partitioning-independent sample of the group and over-represented
    * domains can't dominate a training mix. Expressed as a rank filter
    * so Catalyst plans it as `WindowGroupLimit`: every map task keeps
    * only its local first-`cap` rows per group BEFORE the exchange —
    * the shuffle carries O(groups·cap) rows per task, not the table.
    * `order` must be a total order (pass a tie-break column last) or
    * the kept set is nondeterministic under retries.
    */
  def groupCap(df: DataFrame, group: Column, cap: Int, order: Column*): DataFrame = {
    require(cap >= 1, "cap >= 1")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(group).orderBy(order: _*)))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** α=0.5 temperature-scaled mixture rates (the multilingual-pretraining
    * "sample source s with probability ∝ n_s^α" move, α fixed at 1/2):
    * per-stratum keep rate √(min_w / n_w), which realizes kept_s ∝ √n_s
    * scaled so the SMALLEST stratum keeps everything — the maximal
    * corpus at the α=0.5 mixture. α=1/2 is not just a default: √ is a
    * correctly-rounded IEEE op, so the rate — and therefore the exact
    * kept row set — is bit-reproducible in any engine from the integer
    * stratum weights, with no cross-engine `pow` or order-dependent
    * double summation anywhere (the only aggregates are integer sums
    * and an integer min).
    *
    * Returns (stratum, n_w, rate); both inputs of the rate are exact
    * BIGINTs. O(strata) rows — broadcast it into the keep filter.
    */
  def temperatureRates(df: DataFrame, stratum: Column, weight: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // constant partition key: the window runs over the O(strata)-row
    // aggregate, not the corpus — same pattern as the mix-share windows
    val w = Window.partitionBy(lit(1))
    df.groupBy(stratum.as("stratum")).agg(sum(weight).as("n_w"))
      .withColumn("rate",
        sqrt(min(col("n_w")).over(w).cast("double") / col("n_w").cast("double")))
  }

  /** Apply [[temperatureRates]] as deterministic systematic sampling:
    * keep a row iff `cycleKey % cycle < ⌊rate·cycle⌋` (rates quantized
    * to 1/cycle steps; the binding stratum's rate is exactly 1.0 so it
    * keeps every residue). `cycleKey` must be uniform WITHIN each
    * stratum — see the [[stratifiedSystematic]] caveat. The corpus is
    * scanned twice (stats, then filter) but only (stratum, weight)
    * partials shuffle; the rate table is broadcast. Keeps the `rate`
    * column for accounting.
    */
  def temperatureMix(df: DataFrame, stratum: Column, weight: Column,
      cycleKey: Column, cycle: Int = 20): DataFrame = {
    require(cycle >= 2, "cycle >= 2 (rate quantization grain)")
    val rates = temperatureRates(df, stratum, weight)
      .select(col("stratum"), col("rate"))
    df.join(broadcast(rates), stratum === col("stratum"))
      .filter(pmod(cycleKey, lit(cycle.toLong)) <
        floor(col("rate") * cycle))
      .drop("stratum")
  }

  /** Leakage-free (cluster-aware) train/val/test split: every document
    * whose content is identical to another's lands in the SAME split,
    * so a verbatim duplicate of a training document can never sit in
    * the eval set and inflate its scores — the eval-contamination mode
    * a row-level split (e.g. a plain hash of the doc id) cannot
    * prevent. Mechanism: content clusters are keyed by digest, each
    * cluster's representative is its minimum id, and the split bucket
    * is a [[shuffleKey]] hash of the REPRESENTATIVE — one decision per
    * cluster, inherited by every member. NULL content forms its own
    * cluster (digest coalesced, never a dropped join key).
    *
    * Returns (idCol, cluster_rep, split) with buckets in per-mille:
    * [0, trainPerMille) → train, [trainPerMille, valPerMille) → val,
    * rest → test.
    *
    * 100 TB shape: document TEXT never crosses an exchange — the
    * cluster pass shuffles (digest, id) pairs with map-side min
    * combine, and the assignment join carries (digest, id) against the
    * (digest, rep) cluster table. Near-duplicate-aware splits compose
    * the same way: feed `Dedup.connectedComponents` labels in as
    * `rep` instead of the exact-digest minimum.
    */
  def leakproofSplit(df: DataFrame, textCol: String, idCol: String,
      trainPerMille: Int = 900, valPerMille: Int = 950): DataFrame = {
    require(0 < trainPerMille && trainPerMille <= valPerMille && valPerMille <= 1000,
      "0 < trainPerMille <= valPerMille <= 1000")
    // the bucket is modular arithmetic on the representative id: a
    // non-integral id column would make shuffleKey NULL and silently
    // route every cluster to 'test' — reject it loudly instead (the
    // same lossy-cast trap mmrRerank guards against)
    Checks.requireIntegralId(df, idCol, s"leakproofSplit: id column '$idCol'")
    val digest = coalesce(sha2(col(textCol), 256), lit("<null>"))
    val keyed = df.select(col(idCol), digest.as("__sha"))
    val reps = keyed.groupBy("__sha").agg(min(col(idCol)).as("cluster_rep"))
    splitByRep(keyed.join(reps, "__sha").select(col(idCol), col("cluster_rep")),
      idCol, trainPerMille, valPerMille)
  }

  /** NEAR-DUPLICATE-aware [[leakproofSplit]]: the cluster an id
    * inherits its split from is the connected component over exact-dup
    * edges UNION verified near-dup pairs
    * ([[Dedup.minhashNearDups]] at `threshold` — banded LSH
    * candidates, exact-Jaccard verification), so a paraphrase-level
    * copy of a training document can no longer sit in the eval set —
    * the contamination mode the exact-digest split closes only for
    * VERBATIM duplicates (Lee et al. 2022 measure this near-dup
    * train/eval overlap directly). Exact edges stay in the union
    * because sub-shingle docs have no LSH signature yet still need
    * their verbatim copies co-located. `cluster_rep` is the component
    * label (the cluster's minimum id); unpaired docs are their own
    * singleton cluster.
    *
    * 100 TB shape: document text never crosses an exchange — the edge
    * list carries (id, id) pairs (exact edges shuffle digests, LSH
    * candidates shuffle band keys + signatures), components label only
    * PAIRED nodes (the duplicate-pair list, not the corpus), and the
    * assignment join is (id, component). Recall caveat, documented:
    * banding misses a (1−j^r)^b fraction of true-j pairs, so this is
    * leakproof up to LSH recall — the exhaustive alternative is the
    * O(n²) oracle, not a production shape.
    *
    * Returns `(split, pairs)`: the split and the verified near-dup pair
    * list `(id_a, id_b)` its components were built from — for callers
    * that audit the split against the pairs (the
    * `pipe_split_leakproof_neardup_leaks` census joins both) with ONE
    * MinHash signature/band/verify pass. The pair list is persisted
    * (duplicate-pair scale, not corpus scale) and registered with
    * [[Intermediates]], like the signature cache under it; the
    * components loop's measure-then-choose count fills it, so
    * split-only callers pay no extra job for it.
    */
  def leakproofSplitNearDup(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5,
      trainPerMille: Int = 900, valPerMille: Int = 950): (DataFrame, DataFrame) = {
    require(0 < trainPerMille && trainPerMille <= valPerMille && valPerMille <= 1000,
      "0 < trainPerMille <= valPerMille <= 1000")
    Checks.requireIntegralId(df, idCol,
      s"leakproofSplitNearDup: id column '$idCol'")
    val pairs = Intermediates.persist(
      Dedup.minhashNearDups(df, textCol, idCol, threshold).select("id_a", "id_b"))
    val edges = exactDupEdges(df, textCol, idCol).unionByName(pairs)
    val comps = Dedup.connectedComponents(edges)
    (splitFromComponents(df, idCol, comps, trainPerMille, valPerMille), pairs)
  }

  /** (rep, member) edges of the exact-content duplicate groups — the
    * verbatim half of the near-dup split's edge set.
    */
  private def exactDupEdges(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val digest = coalesce(sha2(col(textCol), 256), lit("<null>"))
    val keyed = df.select(col(idCol).as("id"), digest.as("__sha"))
    val exactReps = keyed.groupBy("__sha").agg(min(col("id")).as("rep"))
    keyed.join(exactReps, "__sha")
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
  }

  /** Component labels → (id, cluster_rep, split) via [[splitByRep]];
    * unlabelled ids are their own singleton cluster.
    */
  private def splitFromComponents(df: DataFrame, idCol: String,
      comps: DataFrame, trainPerMille: Int, valPerMille: Int): DataFrame = {
    val assigned = df.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_rep"))
    splitByRep(assigned, idCol, trainPerMille, valPerMille)
  }

  /** Shared split-assignment arithmetic: one [[shuffleKey]] bucket per
    * cluster representative, inherited by every member.
    */
  private def splitByRep(assigned: DataFrame, idCol: String,
      trainPerMille: Int, valPerMille: Int): DataFrame = {
    val bucket = pmod(shuffleKey(col("cluster_rep")), lit(1000L))
    assigned.select(col(idCol), col("cluster_rep"),
      when(bucket < trainPerMille, "train")
        .when(bucket < valPerMille, "val")
        .otherwise("test").as("split"))
  }

  /** Per-stratum rates: `fractions` maps stratum value → (num, denom).
    * Strata missing from the map are dropped.
    */
  def stratifiedSystematic(
      df: DataFrame, stratum: Column, key: Column,
      fractions: Map[String, (Int, Int)]): DataFrame = {
    val keep = fractions.foldLeft(lit(false)) { case (acc, (s, (n, d))) =>
      acc || (stratum === s && pmod(key, lit(d.toLong)) < n)
    }
    df.filter(keep)
  }
}
