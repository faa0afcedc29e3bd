package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Chunking, Decontaminate, Dedup, Intermediates, Sampling, Search, Similarity, TextAnalysis}
import graft.sources.Tables

/** Corpus-preparation pipeline stages a training-data pipeline runs
  * between raw ingestion and tokenization: lexical search, context
  * chunking, deterministic global shuffle, incremental ingestion.
  * Each is oracle-checked with portable arithmetic (integer hashes,
  * sha-256 digests, doubles rounded before comparison/ordering).
  */
object PipelineQueries {

  /** Shared fixture of the near-dup ingest rows: the history is 80% of
    * the corpus, the batch is the %5==0 docs plus replays of the %7==0
    * history docs under shifted ids. The history's [[Dedup.nearDupIndex]]
    * is PERSISTED and content-stamped ([[BuiltOnce]]): the first
    * invocation prices the index build, every later one the
    * steady-state serve — the amortization an incremental ingest
    * actually has (history docs are signed ONCE ever, not once per
    * query run).
    *
    * Serve-pricing profile (round 10, sf0.1, `Test/runMain
    * graft.DevR10`): invocation #1 = 9.3 s (index build), #2/#3 =
    * 3.5–3.8 s — the stamp does NOT re-trigger the build (the stamp agg
    * itself is 0.13 s). The steady state decomposes as batch signature
    * pass 0.3 s + in-batch resolve (banded self-join + components)
    * 1.5 s + verified screen join 2.0 s: all BATCH-side work, the
    * honest per-batch cost of an ingest whose rejections must be
    * signature-verified. The r9 bench uptick over r8 (2.1 → 2.8 s) is
    * the verify join that round added — an unverified band hit's
    * false-reject rate grows with corpus size — not a stale-index
    * rebuild.
    */
  /** The history slice the persisted near-dup index (`graft_nd_idx_*`
    * and its `_hot` census) is built over and stamped on.
    */
  private def ndHistory(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)

  /** Stamp of that slice — shared with [[graft.TmpSweep]] so the
    * sweeper judges the nd-index dirs' liveness by the SAME stamp
    * [[BuiltOnce]] stamped them with.
    */
  private[graft] def ndIndexContentStamp(s: SparkSession, d: String): String =
    BuiltOnce.contentStamp(ndHistory(Tables.documents(s, d)),
      Seq(col("doc_id"), col("text")))

  private def ndIngestParts(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val history = ndHistory(docs)
    val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_nd_idx_" +
      BuiltOnce.dirKey(d)
    BuiltOnce(idxDir, history, Seq(col("doc_id"), col("text"))) {
      Dedup.nearDupIndex(history, "text", "doc_id")
        .write.mode("overwrite").parquet(idxDir)
    }
    // the index's saturated-band census, ALSO build-once (its own
    // marker, so index dirs persisted by earlier rounds backfill it):
    // the hot set changes only when the index does, and re-aggregating
    // the whole exploded index per screen call was this query's r11
    // cost creep (verdict #3)
    val hotDir = idxDir + "_hot"
    BuiltOnce(hotDir, history, Seq(col("doc_id"), col("text"))) {
      s.read.parquet(idxDir)
        .filter(size(col("bands")) > 0)
        .select(explode(col("bands")).as("band"))
        .groupBy("band").agg(count(lit(1)).as("c"))
        .filter(col("c") > Dedup.HotBandCap)
        .select("band")
        .write.mode("overwrite").parquet(hotDir)
    }
    (s.read.parquet(idxDir), s.read.parquet(hotDir), batch)
  }

  private def ndIngestAccepted(s: SparkSession, d: String): DataFrame = {
    val (idx, hot, batch) = ndIngestParts(s, d)
    Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id",
      knownHotBands = Some(hot))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 keyword retrieval: top-20 docs for a 3-term query. Ranks on
    // the ROUNDED score with doc_id tie-break so the cut is engine-stable
    "text_bm25_search" -> ((s, d) =>
      Search.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        Seq("vector", "merge", "window"), 20)),

    // Avro container-file round trip through the `graft-avro` V2 batch
    // source (sources/AvroFileSource.scala — the READ half of the
    // connector surface; writes go through the distributed AvroFiles
    // writer, deflate-coded, sync-marker-splittable): events →
    // .avro part files → V2 scan → month × type aggregate. The oracle
    // computes the SAME aggregate straight off the parquet, so any
    // value corrupted, dropped, or duplicated in
    // encode→container→split-read→decode flips the hash. The files live
    // in a query-lifetime scratch dir, deleted at the next registry build
    "pipe_avro_roundtrip" -> ((s, d) => {
      val dir = Intermediates.scratchDir(s, "avro")
      graft.sources.AvroFiles.write(
        Tables.events(s, d).select("event_id", "user_id", "event_type", "value", "ts"),
        dir, deflate = true)
      graft.sources.AvroFiles.read(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyyMM").as("month"))
        .agg(count(lit(1)).as("n"),
          sum("user_id").as("uid_sum"),
          round(sum(col("value").cast("decimal(28,10)")).cast("double"), 6)
            .as("value_sum"))
        .orderBy("event_type", "month")}),

    // context-window chunking: 32-token windows, stride 24 (8-token
    // overlap); every chunk row is emitted verbatim so the oracle pins
    // each window boundary and its exact text
    "pipe_chunk_docs" -> ((s, d) =>
      Chunking.chunkTokens(Tables.documents(s, d), "text", "doc_id", 32, 24)
        .orderBy("doc_id", "chunk_id")),

    // deterministic global shuffle: portable affine hash key over the
    // 1e9+7 field, 32 output shards, dense position within each shard.
    // At scale: repartitionByRange(shuffle_key) + sortWithinPartitions;
    // the rank-per-shard window partitions on shard (bounded fan-in)
    "pipe_shuffle_global" -> ((s, d) => {
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"),
          Sampling.shuffleKey(col("doc_id")).as("shuffle_key"))
        .withColumn("shard", pmod(col("shuffle_key"), lit(32L)))
      keyed
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy("shuffle_key", "doc_id"))
          .cast("long"))
        .orderBy("shard", "pos")}),

    // corpus release diff: two snapshots are carved deterministically
    // from the documents table (old drops ids ≡4 mod 5; new drops ids
    // ≡3 mod 7 and appends " v2" to ids ≡0 mod 11), and snapshotDiff
    // must classify every id as added/removed/changed purely from the
    // digest full-outer join — the oracle re-derives each status from
    // the carving arithmetic alone, no hashing. The append uses
    // concat_ws so a NULL-text doc still DIFFERS from its old form
    // (plain concat would null out and diff as unchanged while the
    // oracle's arithmetic classifies it changed)
    "pipe_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val old = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
      val nw = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
        .withColumn("text", when(pmod(col("doc_id"), lit(11L)) === 0,
          concat_ws("", coalesce(col("text"), lit("")), lit(" v2")))
          .otherwise(col("text")))
      Dedup.snapshotDiff(old, nw, "text", "doc_id")
        .orderBy("doc_id")}),

    // incremental ingestion: history = digests of doc_id % 5 != 0; the
    // new batch = the % 5 == 0 docs plus re-submissions of the % 7 == 0
    // docs under shifted ids (both engines build identical frames, as
    // in text_scrub). Replays of history dedup away in the anti-join;
    // replays of in-batch docs dedup away in the min-id group
    "pipe_ingest_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      val fresh = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("text"))
      val replayed = docs.filter(pmod(col("doc_id"), lit(7L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.incrementalIngest(history, fresh.unionByName(replayed),
        "text", "doc_id")
        .orderBy("doc_id")}),

    // batch analog of the streaming corpus ingest (the ev_dedup_replay
    // move): the same prepared→resolve stages CorpusIngest runs per
    // micro-batch, applied to the whole table as one batch — quality
    // gate at 30 tokens, then one survivor per digest with the smallest
    // doc_id (deterministic min-struct, no window). The streaming
    // properties themselves (sink-as-state anti-join, crash-replay
    // no-op, checkpoint restart) are spec-pinned in CorpusIngestSpec
    "pipe_stream_ingest" -> ((s, d) => {
      val resolved = graft.streaming.CorpusIngest.resolveBatch(
        graft.streaming.CorpusIngest.prepared(
          Tables.documents(s, d), minTokens = 30))
      resolved.select("doc_id", "source", "n_tokens").orderBy("doc_id")}),

    // hybrid retrieval: BM25 top-50 ∪ exact-cosine top-50 (vec 0 as the
    // query, vec→doc via id mod |documents|), fused by reciprocal-rank.
    // With two lists the per-doc sum is two IEEE-commutative terms, so
    // the fused score is bit-exact across engines before rounding
    "sim_hybrid_rrf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.count() // 1 driver scalar: the vec→doc modulus
      val lex = Search.bm25TopK(docs, "text", "doc_id",
        Seq("vector", "merge", "window"), 50)
        // constant partition key: the input is the bounded top-50 list, so
        // a global window is correct and scale-safe — the lit(1) key just
        // silences WindowExec's single-partition warning in bench logs
        .withColumn("rank", row_number().over(
          Window.partitionBy(lit(1)).orderBy(desc("score"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val sem = Similarity
        .bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = 50)
        .select(pmod(col("neighbor_id"), lit(nDocs)).as("doc_id"),
          col("rank").cast("long").as("rank"))
        .groupBy("doc_id").agg(min(col("rank")).as("rank"))
      Search.rrfFuse(Seq(lex, sem), "doc_id")
        .withColumn("rrf", round(col("rrf"), 9))
        .orderBy(desc("rrf"), col("doc_id"))
        .limit(20)}),

    // deterministic 90/5/5 train/val/test split on the shuffle key —
    // replay-stable and partitioning-independent, with per-(split,
    // source) document and token accounting
    "pipe_split_train" -> ((s, d) => {
      val key = Sampling.shuffleKey(col("doc_id"))
      val bucket = pmod(key, lit(1000L))
      Tables.documents(s, d)
        .select(
          when(bucket < 900, "train").when(bucket < 950, "val")
            .otherwise("test").as("split"),
          col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
        .orderBy("split", "source")}),

    // NEAR-DUP-aware incremental ingest against the PERSISTED
    // (digest, sig, bands) index (ndIngestParts): exact replays reject
    // on the digest screen deterministically — including docs too
    // short to shingle; band hits against history are CANDIDATES,
    // rejected only when signature agreement >= threshold (an
    // unverified band hit would make the false-reject rate grow with
    // corpus size); in-batch near-dup clusters resolve through the
    // same agreement measure to one min-id member. Rows-only (the
    // hashes are xxhash64, which SQL cannot replay); the _miss row
    // below is the oracle-checked property
    "pipe_ingest_neardup" -> ((s, d) =>
      ndIngestAccepted(s, d).select("doc_id").orderBy("doc_id")),

    // VIOLATION row for pipe_ingest_neardup, asserted EMPTY: (a) an
    // accepted doc whose exact digest exists in history — the digest
    // screen covers EVERY doc (even sub-shingle ones with no band
    // keys), so one slipping through would be a bug, not bad luck;
    // (b) an accepted doc that is not the minimum id of its in-batch
    // exact-text group. Both classes are pure digest arithmetic a SQL
    // oracle replays exactly
    "pipe_ingest_neardup_miss" -> ((s, d) => {
      val (_, _, batch) = ndIngestParts(s, d)
      val docs = Tables.documents(s, d)
      val history = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      // accepted feeds BOTH violation branches: without a persist the
      // entire ingest (signature pass, in-batch resolve, exact + band
      // screens) evaluates twice under the one action (measured at
      // sf0.1: the plan carried 166 parquet scans / 214 Exchanges;
      // with it, half — the r17 plan diff). Tiny frame (doc_id, sha)
      val accepted = Intermediates.persist(ndIngestAccepted(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("sha")))
      val histShas = history.select(sha2(col("text"), 256).as("sha")).distinct()
      val viol1 = accepted.join(histShas, Seq("sha"), "left_semi")
        .select(col("doc_id"), lit("exact_in_history").as("reason"))
      val minPerText = batch
        .select(col("doc_id"), sha2(col("text"), 256).as("sha"))
        .groupBy("sha").agg(min(col("doc_id")).as("keep"))
      val viol2 = accepted.join(minPerText, "sha")
        .filter(col("doc_id") =!= col("keep"))
        .select(col("doc_id"), lit("not_min_of_batch_group").as("reason"))
      viol1.unionByName(viol2).orderBy("doc_id", "reason")}),

    // LEAKAGE-FREE split: same 90/5/5 arithmetic but decided once per
    // content-duplicate CLUSTER (bucket of the min-id representative's
    // shuffle key), so a verbatim duplicate of a training doc can never
    // land in val/test and inflate eval — the contamination mode
    // pipe_split_train's row-level hash cannot prevent. Reported as
    // per-split doc + cluster counts; the zero-leak property itself is
    // the companion row below
    "pipe_split_leakproof" -> ((s, d) =>
      Sampling.leakproofSplit(Tables.documents(s, d), "text", "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster_rep").as("n_clusters"))
        .orderBy("split")),

    // VIOLATION row for pipe_split_leakproof: any cluster straddling
    // two splits appears here — the oracle asserts the EMPTY set (same
    // property-row move as text_longest_dup_bound)
    "pipe_split_leakproof_leaks" -> ((s, d) =>
      Sampling.leakproofSplit(Tables.documents(s, d), "text", "doc_id")
        .groupBy("cluster_rep")
        .agg(countDistinct("split").as("n_splits"))
        .filter(col("n_splits") > 1)
        .orderBy("cluster_rep")),

    // NEAR-DUP-aware leakage-free split: the cluster is the connected
    // component over exact-dup edges UNION verified near-dup pairs, so
    // a PARAPHRASE-level copy of a training doc can no longer inflate
    // eval (pipe_split_leakproof closes only the verbatim half of the
    // contamination story). Rows-only (minhash is xxhash64 arithmetic
    // SQL cannot replay); the _leaks row below is the oracle-checked
    // property
    "pipe_split_leakproof_neardup" -> ((s, d) =>
      Sampling.leakproofSplitNearDup(Tables.documents(s, d), "text", "doc_id")
        ._1.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster_rep").as("n_clusters"))
        .orderBy("split")),

    // VIOLATION rows for pipe_split_leakproof_neardup, asserted EMPTY:
    // (a) a cluster straddling two splits; (b) a VERIFIED near-dup
    // pair (LSH candidates, exact-Jaccard >= 0.5) whose ends landed in
    // different splits — the eval-contamination census itself, over
    // the strongest pair set the engine can produce
    "pipe_split_leakproof_neardup_leaks" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // one MinHash pass serves both the split's components AND the v2
      // pair audit (r17: the pair list here was a SECOND full LSH
      // signature/band/verify pass over the corpus — the split returns
      // the identical persisted pair frame it was built from). split
      // itself feeds three consumers (v1, sa, sb), so it is persisted too
      val (split0, pairs) = Sampling
        .leakproofSplitNearDup(docs, "text", "doc_id", 0.5)
      val split = Intermediates.persist(split0)
      val v1 = split.groupBy("cluster_rep")
        .agg(countDistinct("split").as("n_splits"))
        .filter(col("n_splits") > 1)
        .select(col("cluster_rep").as("id_a"),
          lit(null).cast("long").as("id_b"),
          lit("cluster_straddles").as("reason"))
      val sa = split.select(col("doc_id").as("id_a"), col("split").as("split_a"))
      val sb = split.select(col("doc_id").as("id_b"), col("split").as("split_b"))
      val v2 = pairs.join(sa, "id_a").join(sb, "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"),
          lit("neardup_pair_straddles").as("reason"))
      v1.unionByName(v2).orderBy("reason", "id_a", "id_b")}),

    // passage-level duplication census: per doc, distinct 4-gram count
    // and how many of those grams appear in >= 2 docs. Spark counts
    // 8-byte hashed grams, the oracle counts the gram strings — equal
    // up to a ~2^-64 collision (same contract as text_decontaminate)
    "text_dup_passages" -> ((s, d) =>
      Decontaminate.duplicatePassageStats(
        Tables.documents(s, d), "text", "doc_id", n = 4)
        .orderBy("doc_id")),

    // length-curriculum with round-robin source interleaving: rank docs
    // within each source by token count (easy-first), then emit the
    // first 100 of the (rank, source) order — each difficulty tier
    // cycles through every source before advancing, the standard
    // anti-clumping order for curriculum training
    "pipe_curriculum" -> ((s, d) => {
      val ranked = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("source").orderBy("tok", "doc_id")).cast("long"))
      ranked.orderBy("rank", "source").limit(100)}),

    // per-source quality percentile: percent_rank of the (single-pass)
    // quality score within each source — the normalization step before
    // cross-source curriculum mixing (a 0.6 from a clean source and a
    // 0.6 from a noisy one mean different things; percentiles compare).
    // Window is partitioned by source, never global
    "pipe_quality_percentile" -> ((s, d) =>
      TextAnalysis.withFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"),
          col("f.quality").as("quality"))
        .withColumn("q_pct", round(percent_rank().over(
          Window.partitionBy("source").orderBy("quality")), 6))
        .orderBy("doc_id")),

    // Count-Min heavy hitters: one-pass sketched frequencies for the
    // vocabulary head (no SQL oracle — the sketch layout is
    // Spark-internal; the ≥exact / ≤exact+eps·N guarantees are
    // asserted in SketchesSpec)
    "text_cms_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketches.cmsTermCounts(s, Tables.documents(s, d),
        "text", Seq("join", "hash", "row", "batch", "scan", "column",
          "customer", "filter", "vector", "merge", "window", "table"))
        .orderBy("term")),

    // the CMS one-sided guarantee as an oracle row (same move as the
    // dedup_*_superset queries): a Count-Min estimate can NEVER
    // undercount, so probe terms where est < exact must be empty —
    // checkable without replaying the sketch layout in SQL
    "text_cms_lower_bound" -> ((s, d) => {
      val probes = Seq("join", "hash", "row", "batch", "scan", "column",
        "customer", "filter", "vector", "merge", "window", "table")
      val docs = Tables.documents(s, d)
      val est = graft.operators.Sketches.cmsTermCounts(s, docs, "text", probes)
      val exact = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(col("term").isin(probes: _*))
        .groupBy("term").agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("term"), "left")
        .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
        .filter(col("est_count") < col("n_exact"))
        .select("term", "est_count", "n_exact")
        .orderBy("term")}),

    // Z-ORDER layout rewrite (the Delta/Iceberg OPTIMIZE move): bucket
    // two correlated read dimensions (quality, length) to 4 bits each,
    // interleave them into a Morton z-value, rank rows along the curve
    // with the two-phase distributed scan (never a single-task global
    // window), and cut the rank range into 8 equal "files". The output
    // is the per-file min/max SPAN table — the evidence a selective
    // reader uses to skip files; narrow spans on BOTH dimensions are
    // the whole point of the curve. Every step is integer arithmetic
    // (+ the 6-dp-rounded quality both engines share), so file
    // membership itself is oracle-replayed exactly
    "pipe_zorder_layout" -> ((s, d) => {
      // r17: (a) quality through the single-pass features struct —
      // qualityScoreFrom is spec-pinned BIT-identical to the text-column
      // form, which re-parses the document once per component ratio;
      // (b) project down to (doc_id, qb, lb) BEFORE zorderFiles, whose
      // range exchange + internal persist otherwise carry the full
      // document row (text included) — the curve needs only the z
      // inputs and the tiebreak (guide §2.3: project before the
      // exchange). File membership is unchanged: z and tiebreak are
      // computed from the same values
      val feat = TextAnalysis
        .withFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"),
          graft.operators.Layout.bucketize(
            TextAnalysis.qualityScoreFrom(col("f")), 0.0, 1.0, bits = 4)
            .as("qb"),
          graft.operators.Layout.bucketize(
            col("n_chars"), 0.0, 1024.0, bits = 4).as("lb"))
      val laidOut = graft.operators.Layout.zorderFiles(
        feat,
        graft.operators.Layout.zValue(col("qb"), col("lb"), bits = 4),
        col("doc_id"), nFiles = 8)
      graft.operators.Layout.fileSpans(laidOut,
        Seq("q" -> col("qb"), "len" -> col("lb")))}),

    // per-source document cap (RefinedWeb's "at most N per domain"):
    // rank in deterministic shuffle-key order so the kept set is an
    // unbiased, re-run-stable sample; Catalyst plans the rank filter as
    // WindowGroupLimit (partial per-task top-cap BEFORE the exchange —
    // pinned in PlanSpec), so the shuffle carries O(sources·cap) rows
    "pipe_source_cap" -> ((s, d) =>
      Sampling.groupCap(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            Sampling.shuffleKey(col("doc_id")).as("sk")),
          col("source"), cap = 10, col("sk"), col("doc_id"))
        .orderBy("source", "sk", "doc_id"))
  )

  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       | / (sqrt(list_sum(list_transform(list_zip($a, $a), x -> x[1]::DOUBLE * x[2]::DOUBLE)))
       |    * sqrt(list_sum(list_transform(list_zip($b, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE)))))""".stripMargin

  def oracleSql: Map[String, String] = Map(

    // the Spark side aggregates what survived the avro round trip; the
    // oracle aggregates the source parquet directly — equal iff the
    // container write/split-read preserved every row and value
    "pipe_avro_roundtrip" ->
      """SELECT event_type, strftime(ts, '%Y%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6) AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "pipe_source_cap" ->
      """WITH k AS (
        |  SELECT doc_id, source,
        |    ((doc_id % 1000000007) * 654435747 + 40503) % 1000000007 AS sk
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, sk,
        |    row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rn
        |  FROM k
        |)
        |SELECT doc_id, source, sk FROM r
        |WHERE rn <= 10
        |ORDER BY source, sk, doc_id""".stripMargin,

    "text_cms_lower_bound" ->
      ("SELECT CAST(NULL AS VARCHAR) AS term, CAST(NULL AS BIGINT) AS est_count, " +
        "CAST(NULL AS BIGINT) AS n_exact WHERE 1=0"),

    // percent_rank has identical ANSI semantics in both engines (peers
    // share a rank; (rank-1)/(n-1)); ordering is by the already-rounded
    // quality value so peer groups agree bit-for-bit
    "pipe_quality_percentile" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, ${TextQueries.qualityExpr} AS quality
         |  FROM documents)
         |SELECT doc_id, source, quality,
         |  round(percent_rank() OVER (PARTITION BY source ORDER BY quality), 6)
         |    AS q_pct
         |FROM q ORDER BY doc_id""".stripMargin,

    "text_bm25_search" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, toks, len(toks) AS dl FROM d
        |), stats AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
        |  WHERE term IN ('vector', 'merge', 'window')
        |  GROUP BY doc_id, dl, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |)
        |SELECT doc_id,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |            * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
        |        6) AS score
        |FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,

    "pipe_chunk_docs" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |  start // 24 AS chunk_id,
        |  CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_tok,
        |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
        |FROM (SELECT doc_id, toks,
        |        unnest(range(0, greatest(len(toks), 1), 24)) AS start
        |      FROM d)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "pipe_shuffle_global" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    ((doc_id % 1000000007) * 654435747 + 40503) % 1000000007
        |      AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id, shuffle_key, shuffle_key % 32 AS shard,
        |  row_number() OVER (PARTITION BY shuffle_key % 32
        |                     ORDER BY shuffle_key, doc_id) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,

    // digest-keyed min-struct resolve ≡ min doc_id per text (sha-256 is
    // injective on the corpus); the gate replays the same token count
    "pipe_stream_ingest" ->
      """WITH q AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 30
        |), k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text)
        |SELECT q.doc_id, q.source, q.n_tokens
        |FROM q JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    // each status re-derived from the carving arithmetic: added = in
    // new only, removed = in old only, changed = in both and modified
    "pipe_snapshot_diff" ->
      """SELECT doc_id, CASE
        |    WHEN doc_id % 5 = 4 AND doc_id % 7 != 3 THEN 'added'
        |    WHEN doc_id % 7 = 3 AND doc_id % 5 != 4 THEN 'removed'
        |    ELSE 'changed' END AS status
        |FROM documents
        |WHERE (doc_id % 5 = 4 AND doc_id % 7 != 3)
        |   OR (doc_id % 7 = 3 AND doc_id % 5 != 4)
        |   OR (doc_id % 11 = 0 AND doc_id % 5 != 4 AND doc_id % 7 != 3)
        |ORDER BY doc_id""".stripMargin,
    "pipe_ingest_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0
        |), novel AS (
        |  SELECT doc_id, sha256(text) AS content_sha FROM batch
        |  WHERE sha256(text) NOT IN (
        |    SELECT sha256(text) FROM documents WHERE doc_id % 5 <> 0)
        |)
        |SELECT min(doc_id) AS doc_id, content_sha
        |FROM novel GROUP BY content_sha ORDER BY doc_id""".stripMargin,

    "sim_hybrid_rrf" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents
         |), base AS (
         |  SELECT doc_id, toks, len(toks) AS dl FROM d
         |), stats AS (
         |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
         |), tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
         |  WHERE term IN ('vector', 'merge', 'window')
         |  GROUP BY doc_id, dl, term
         |), dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), lex0 AS (
         |  SELECT doc_id,
         |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |          * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
         |        6) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50
         |), lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM lex0
         |), semv AS (
         |  SELECT c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings c JOIN embeddings q
         |    ON q.vec_id = 0 AND c.vec_id != 0
         |), semr AS (
         |  SELECT neighbor_id,
         |    row_number() OVER (ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM semv
         |), sem AS (
         |  SELECT neighbor_id % (SELECT count(*) FROM documents) AS doc_id,
         |    min(rank) AS rank
         |  FROM semr WHERE rank <= 50 GROUP BY 1
         |), u AS (
         |  SELECT doc_id, (1.0::DOUBLE) / (60 + rank) AS contrib FROM lex
         |  UNION ALL
         |  SELECT doc_id, (1.0::DOUBLE) / (60 + rank) AS contrib FROM sem
         |)
         |SELECT doc_id, round(sum(contrib), 9) AS rrf,
         |  count(*) AS n_lists
         |FROM u GROUP BY doc_id
         |ORDER BY round(sum(contrib), 9) DESC, doc_id LIMIT 20""".stripMargin,

    "pipe_split_train" ->
      """WITH k AS (
        |  SELECT source,
        |    ((doc_id % 1000000007) * 654435747 + 40503) % 1000000007 % 1000
        |      AS bucket,
        |    len(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |)
        |SELECT CASE WHEN bucket < 900 THEN 'train'
        |            WHEN bucket < 950 THEN 'val'
        |            ELSE 'test' END AS split,
        |  source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens
        |FROM k GROUP BY split, source ORDER BY split, source""".stripMargin,

    // cluster = identical text (window PARTITION BY text groups NULLs
    // together, matching the coalesced-digest cluster), rep = min id,
    // bucket = the rep's shuffle-key arithmetic — one decision per
    // cluster inherited by every member
    "pipe_split_leakproof" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY text) AS rep
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, rep,
        |    ((rep % 1000000007) * 654435747 + 40503) % 1000000007 % 1000
        |      AS bucket
        |  FROM c)
        |SELECT CASE WHEN bucket < 900 THEN 'train'
        |            WHEN bucket < 950 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
        |FROM b GROUP BY split ORDER BY split""".stripMargin,
    // the leak census must be EMPTY by construction
    "pipe_split_leakproof_leaks" ->
      "SELECT CAST(NULL AS BIGINT) AS cluster_rep, CAST(NULL AS BIGINT) AS n_splits WHERE 1=0",
    // near-dup leak census: the expected violation set is EMPTY (the
    // minhash pair search is xxhash64 arithmetic SQL cannot replay;
    // the empty census over the engine's own verified pairs is the
    // assertable property — the sim_lsh_recall move)
    "pipe_split_leakproof_neardup_leaks" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |  CAST(NULL AS VARCHAR) AS reason WHERE 1=0""".stripMargin,
    // deterministic-rejection property: the expected answer is EMPTY
    "pipe_ingest_neardup_miss" ->
      "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS reason WHERE 1=0",

    "text_dup_passages" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(t[i:i+3], ' ')
        |                   FOR i IN range(1, len(t) - 2)]) AS gs
        |  FROM toks WHERE len(t) >= 4
        |), c AS (
        |  SELECT doc_id, unnest(gs) AS g FROM grams
        |), d AS (
        |  SELECT g, count(*) AS nd FROM c GROUP BY g
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS dup_frac
        |FROM c JOIN d USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pipe_curriculum" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS tok,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY len(string_split_regex(trim(text),
        |                         '\s+')), doc_id) AS rank
        |  FROM documents
        |)
        |SELECT doc_id, source, tok, rank
        |FROM r ORDER BY rank, source LIMIT 100""".stripMargin,

    // full replay of the layout decision: same 4-bit buckets (shared
    // 6-dp quality expression), the 8-term Morton interleave as
    // explicit shifts/masks, the same (z, doc_id) total order and the
    // same integer rank→file cut — so the hash checks file MEMBERSHIP,
    // not just the span summary
    "pipe_zorder_layout" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    least(greatest(CAST(floor((${TextQueries.qualityExpr}) * 16) AS BIGINT), 0), 15) AS qb,
         |    least(greatest(CAST(floor(n_chars::DOUBLE / 1024.0 * 16) AS BIGINT), 0), 15) AS lb
         |  FROM documents
         |), z AS (
         |  SELECT doc_id, qb, lb,
         |    ((qb >> 0) & 1) * 2 + ((lb >> 0) & 1) * 1 +
         |    ((qb >> 1) & 1) * 8 + ((lb >> 1) & 1) * 4 +
         |    ((qb >> 2) & 1) * 32 + ((lb >> 2) & 1) * 16 +
         |    ((qb >> 3) & 1) * 128 + ((lb >> 3) & 1) * 64 AS zv
         |  FROM b
         |), r AS (
         |  SELECT qb, lb,
         |    row_number() OVER (ORDER BY zv, doc_id) - 1 AS rn,
         |    count(*) OVER () AS n
         |  FROM z
         |)
         |SELECT CAST((rn * 8) // n AS INT) AS file_id,
         |  min(qb) AS min_q, max(qb) AS max_q,
         |  min(lb) AS min_len, max(lb) AS max_len,
         |  count(*) AS n_rows
         |FROM r GROUP BY 1 ORDER BY file_id""".stripMargin
  )
}
