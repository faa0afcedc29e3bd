package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Projection, Similarity}
import graft.sources.Tables

/** Similarity-search + multimodal query surface over `embeddings` and
  * the synthetic media table (north-star extensions).
  */
object SimilarityQueries {

  private val Dim = 64 // embedding dimensionality of the testdata tables

  /** Cluster count for the SemDeDup-style queries: corpus size over the
    * target cluster size (1000), floored at 8. A FIXED k makes
    * within-cluster pair search quadratic in corpus size (measured
    * 346× time at 10× vectors, sf1→sf10); scaling k with n pins the
    * EXPECTED cluster size — and so the total pair work per vector —
    * constant (seed-Voronoi cells are unbalanced, so the target is set
    * small enough that even the big cells stay cheap). At both oracle
    * gate SFs (0.01/0.1) this evaluates to exactly 8, so gate results
    * are unchanged; the oracles replay the same formula via a subquery.
    */
  private def scaledK(emb: DataFrame): Int =
    math.max(8, math.ceil(emb.count() / 1000.0).toInt)

  /** Run `build` once per (index dir, corpus content) — see
    * [[BuiltOnce]] for the marker/stamp semantics (full-content
    * xxhash64 XOR stamp, and the serve-only pricing note for
    * cross-round bench comparisons).
    */
  private def builtOnce(dir: String, corpus: DataFrame)(build: => Unit): Unit =
    BuiltOnce(dir, corpus, Seq(col("vec_id"), col("embedding")))(build)

  /** Stamp of the corpus the persisted IVF layouts
    * (`graft_ivf_idx_*` / `graft_ivf_app_*`) are keyed on — shared with
    * [[graft.TmpSweep]] so the sweeper judges an index dir's liveness by
    * the SAME stamp [[builtOnce]] stamped it with.
    */
  private[graft] def ivfContentStamp(s: SparkSession, d: String): String =
    BuiltOnce.contentStamp(Tables.embeddings(s, d),
      Seq(col("vec_id"), col("embedding")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact brute-force cosine top-5 for a 10-query panel
    "sim_bruteforce_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // contrastive triplet mining: hardest same-label positive + hardest
    // cross-label negative per anchor, with the training margin. Exact
    // and tie-broken deterministically, so the DuckDB replay matches on
    // hash; the argmaxes are partial max(struct) aggregates — no
    // candidate rows cross the shuffle
    "sim_hard_triplets" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardTriplets(emb.filter(col("vec_id") < 10), emb)
        .orderBy("anchor_id")}),

    // binary-quantized (sign-bit) ANN top-5, same panel: Hamming
    // candidates (k·16) + exact-cosine rerank. UNLIKE the LSH/IVF paths
    // this is fully oracle-checked — the candidate stage is
    // integer-only (popcount of sign disagreements), so DuckDB replays
    // the whole pipeline including the prefilter cut. rerankFactor=16
    // because one 64-bit code per 64-dim vector quantizes hard: measured
    // avg exact-top-5 hits at that width are 4.6/4.0/3.0 at
    // sf0.001/0.01/0.1 (min 3/2/2) — the production tuning knob a real
    // corpus sets by dim/recall target, while the oracle replays any
    // setting exactly
    "sim_binary_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.binaryTopK(emb.filter(col("vec_id") < 10), emb,
        k = 5, rerankFactor = 16)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // MMR-diversified top-10 from a 30-candidate pool (λ=0.5): greedy
    // relevance-minus-redundancy selection, fully oracle-checked — the
    // DuckDB replay runs the same greedy loop as a recursive CTE with a
    // LATERAL argmax per step. λ=0.5 keeps both weights exact binary
    // doubles; every cosine uses the shared left-to-right fold, so the
    // argmax decisions agree bit-for-bit across engines
    "sim_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrRerank(emb.filter(col("vec_id") < 10), emb,
        m = 10, poolSize = 30, lambda = 0.5)
        .withColumn("rel", round(col("rel"), 9))
        .withColumn("score", round(col("score"), 9))
        .orderBy("query_id", "sel_rank")}),

    // LSH-bucketed approximate top-5, same panel (rows-only; recall vs
    // brute force asserted in SimilaritySpec)
    "sim_lsh_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        dim = Dim, planes = 4, tables = 12)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // LSH recall as a checkable row (the dedup_*_superset move for ANN):
    // per query, the LSH top-5 must recover >= 2 of the exact top-5 —
    // the output is the VIOLATION set, so the oracle asserts the empty
    // set. Both sides are deterministic (seeded planes, exact ranking);
    // measured floor: min hits = 2 at sf0.01, 3 at sf0.1. Any
    // signature/banding regression that tanks recall flips this row red
    // while the pair lists themselves stay rows-only
    "sim_lsh_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val panel = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
        .select("query_id", "neighbor_id")
      val lsh = Similarity.lshTopK(panel, emb, k = 5,
        dim = Dim, planes = 4, tables = 12)
        .select("query_id", "neighbor_id")
      val hits = exact.join(lsh, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
        .filter(col("hits") < 2)
        .orderBy("query_id")}),

    // IVF (inverted-file) approximate top-5: centroid cells from labels,
    // nprobe=4 (rows-only; recall + centroid math asserted in
    // SimilaritySpec)
    "sim_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.centroids(emb, "label"), k = 5, nprobe = 4)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // IVF over LEARNED centroids: 3 Lloyd's rounds refine 8 cells, then
    // the same inverted-file probe (rows-only; convergence + recall
    // asserted in SimilaritySpec)
    "sim_ivf_kmeans_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.kmeansCentroids(emb, k = 8, iters = 3), k = 5, nprobe = 4)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // RECALL FLOOR for the learned-centroid ANN path (the
    // sim_lsh_recall move): per query, IVF-over-kmeans top-5 must
    // recover >= 2 of the exact top-5. Both sides deterministic (xxhash
    // seed pick + exact-decimal centroid means; exact ranking), so the
    // violation set is stably empty — a Lloyd's/assignment regression
    // that tanks recall flips this row red while sim_ivf_kmeans_topk
    // itself stays rows-only
    "sim_kmeans_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val panel = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
        .select("query_id", "neighbor_id")
      val approx = Similarity.ivfTopK(panel, emb,
        Similarity.kmeansCentroids(emb, k = 8, iters = 3), k = 5, nprobe = 4)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
        .filter(col("hits") < 2)
        .orderBy("query_id")}),

    // IVF with EXHAUSTIVE probing (nprobe = all 10 label cells): the
    // candidate set degenerates to the whole corpus, so the output must
    // equal brute force EXACTLY — which makes the whole inverted-file
    // path (cell assignment, probe, candidate scoring, ranking)
    // oracle-checkable, not just recall-bounded in spec
    "sim_ivf_exhaustive_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.centroids(emb, "label"), k = 5, nprobe = 10)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // the PERSISTED inverted file end to end (build-once / query-many):
    // build writes cell-partitioned postings into a tmpdir keyed by the
    // sf dir, serve probes ALL 10 label cells so the result must equal
    // brute force EXACTLY — build+serve are oracle-checked end to end;
    // the partition-pruned nprobe<cells read is pinned in IvfIndexSpec.
    // The build runs ONCE per (sfDir, corpus count) — a completion
    // marker makes later invocations pure index serves, which is both
    // the production shape and what the bench should price
    "sim_ivf_index_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_" +
        BuiltOnce.dirKey(d)
      builtOnce(dir, emb) {
        Similarity.buildIvfIndex(emb, Similarity.centroids(emb, "label"), dir)
      }
      Similarity.ivfIndexTopK(emb.filter(col("vec_id") < 10), dir,
        k = 5, nprobe = 10)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // incremental index maintenance, oracle-checked end to end: build
    // the persisted index from HALF the corpus, append the other half
    // to the frozen codebook (the FAISS `add` move — only the touched
    // cell directories change), then exhaustively probe: the served
    // union must equal brute force over the whole corpus exactly. The
    // overwrite-then-append sequence plus the completion marker makes
    // reruns idempotent AND cheap: after the first invocation the query
    // is a pure index serve, the amortized cost a build-once index
    // actually has (the file-level append delta is pinned in
    // IvfIndexSpec)
    "sim_ivf_index_append" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_app_" +
        BuiltOnce.dirKey(d)
      builtOnce(dir, emb) {
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          Similarity.centroids(emb, "label"), dir)
        Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 2 =!= 0), dir)
      }
      Similarity.ivfIndexTopK(emb.filter(col("vec_id") < 10), dir,
        k = 5, nprobe = 10)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // embedding near-dups, PRODUCTION SHAPE (the headline near-dup
    // query): same-label top-20 pairs searched only within semantic
    // clusters — assignment is the narrow native NearestCentroid map and
    // the pair join is an equi-join on (cell, label), never O(label²).
    // The oracle replays the identical cluster scoping, so the hash
    // checks assignment, scoping, and scores end to end
    "sim_neardup_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticNearDups(emb, k = scaledK(emb),
        topPairs = 20, alsoMatch = Seq("label"))
        .withColumn("cos", round(col("cos"), 9))
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))}),

    // ORACLE COMPANION: the exact same-label search without cluster
    // scoping (O(block²) within each label) — the small-SF ground truth
    // the production shape is judged against; never the path to run at
    // corpus scale
    "sim_neardup_blocked" -> ((s, d) =>
      Similarity.cosineNearDupsBlocked(Tables.embeddings(s, d),
        Seq("label"), topPairs = 20) // limit taken on raw cos ordering
        .withColumn("cos", round(col("cos"), 9))
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))),

    // SemDeDup-style semantic dedup: nearest-seed-centroid clustering
    // (narrow native assignment), then top-20 cosine pairs searched only
    // within clusters — oracle-checked end to end (assignment argmax,
    // tie rule, pair scores)
    "sim_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticNearDups(emb, k = scaledK(emb), topPairs = 20)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))}),

    // clustering cohesion report over the same seed cells as
    // sim_semantic_dedup: per-cell member count + exact-decimal mean
    // cosine to the centroid (oracle-checked; the go/no-go diagnostic
    // before trusting cluster-scoped dedup)
    "sim_cluster_quality" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.clusterQuality(emb, Similarity.seedCentroids(emb, k = 8))
        .orderBy("cell")}),

    // per-label embedding outliers: the 5 vectors farthest (lowest
    // cosine) from their own label's centroid — the geometric
    // mislabeled-example sweep. Centroids are the order-independent
    // fixed-point means ([[Similarity.centroids]]), so the oracle
    // replays the ENTIRE pass — per-dimension scaled-long sums, the
    // sequential cosine fold, the ascending rank — from first
    // principles and the flagged set hash-matches exactly
    "sim_embed_outliers" -> ((s, d) =>
      Similarity.groupOutliers(Tables.embeddings(s, d), topN = 5)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("cell", "rank")),

    // IVF + int8 candidate scoring + fp32 rerank of the k·4 shortlist
    // (rows-only; approx-score fidelity and recall asserted in
    // SimilaritySpec) — the 4×-less-IO form of sim_ivf_topk
    "sim_ivf_quantized_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfQuantizedTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.centroids(emb, "label"), k = 5, nprobe = 4)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // ORACLE COMPANION for the quantized path (the
    // sim_ivf_exhaustive_topk move): probe ALL 10 label cells and rerank
    // a shortlist covering the whole corpus (k·4000 ≥ any gate SF), so
    // the int8 candidate stage may only reorder candidates the fp32
    // rerank fully re-scores — the output must equal brute force
    // EXACTLY, making quantize→score→rerank oracle-checked end to end
    "sim_ivf_quantized_exhaustive" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfQuantizedTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.centroids(emb, "label"), k = 5, nprobe = 10,
        rerankFactor = 4000)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // IVF + PQ-ADC candidate scoring + fp32 rerank (rows-only; the two
    // companion rows below carry the oracle): candidates are scored from
    // m=8 one-byte codes via the query's precomputed ADC lookup table —
    // 32× less candidate I/O than fp32, the memory-bound big-corpus ANN
    // layout (codebooks learned in 2 Lloyd's rounds, deterministic init)
    "sim_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebooks(emb, dim = Dim, m = 8, ksub = 16, iters = 2)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.centroids(emb, "label"), cb, k = 5, nprobe = 6,
        rerankFactor = 16)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // ORACLE COMPANION for the PQ path (the sim_ivf_exhaustive move):
    // probe ALL 10 label cells with a corpus-covering shortlist, so the
    // ADC stage may only reorder candidates the fp32 rerank fully
    // re-scores — the output must equal brute force EXACTLY, making
    // learn→encode→ADC→rerank oracle-checked end to end
    "sim_pq_exhaustive_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebooks(emb, dim = Dim, m = 8, ksub = 16, iters = 2)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
        Similarity.centroids(emb, "label"), cb, k = 5, nprobe = 10,
        rerankFactor = 4000)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // RECALL FLOOR for the PQ path (the sim_lsh_recall move): per
    // query, IVF-PQ top-5 must recover >= 2 of the exact top-5 — the
    // output is the VIOLATION set, so the oracle asserts empty. Both
    // sides deterministic (xxhash codebook init, exact-decimal Lloyd's
    // means, exact ranking)
    "sim_pq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val panel = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
        .select("query_id", "neighbor_id")
      val cb = Similarity.pqCodebooks(emb, dim = Dim, m = 8, ksub = 16, iters = 2)
      val approx = Similarity.ivfPqTopK(panel, emb,
        Similarity.centroids(emb, "label"), cb, k = 5, nprobe = 6,
        rerankFactor = 16)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
        .filter(col("hits") < 2)
        .orderBy("query_id")}),

    // JL random-projection ANN (project→shortlist→rerank): candidates
    // ranked on the 32-dim projected corpus — half the bytes of the
    // fp32 64-dim column feed the candidate scan — then the top-200 per
    // query are rescored exactly in full width (rows-only; the recall
    // floor and exhaustive equivalence are the two companion rows)
    "sim_project_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Projection.projectedTopK(emb.filter(col("vec_id") < 10), emb,
        k = 5, dim = Dim, outDim = 32, shortlist = 200)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // ORACLE COMPANION (the sim_ivf_exhaustive move): a shortlist that
    // covers any gate corpus means the projected ranking may only
    // reorder candidates the exact rerank fully re-scores — the output
    // must equal brute force EXACTLY, so project→shortlist→rerank is
    // oracle-checked end to end
    "sim_project_exhaustive_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Projection.projectedTopK(emb.filter(col("vec_id") < 10), emb,
        k = 5, dim = Dim, outDim = 32, shortlist = 1000000)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("query_id", "rank")}),

    // RECALL FLOOR for the projected path (the sim_lsh_recall move):
    // per query, project+rerank top-5 must recover >= 2 of the exact
    // top-5 — the output is the VIOLATION set, so the oracle asserts
    // empty. Both sides deterministic (seeded matrix, exact ranking);
    // measured floor at seed 31: min hits 4 at sf0.01, 2 at sf0.1
    // (random-Gaussian corpus vectors are the WORST case for this —
    // near-zero cosine gaps between true neighbors and the pack; real
    // embedding corpora cluster, which widens the gaps JL must preserve)
    "sim_project_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val panel = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
        .select("query_id", "neighbor_id")
      val approx = Projection.projectedTopK(panel, emb, k = 5, dim = Dim,
        outDim = 32, shortlist = 200)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
        .filter(col("hits") < 2)
        .orderBy("query_id")}),

    // symmetric int8 embedding quantization (training-corpus compression):
    // per-vector scale, integer code checksums, and worst reconstruction
    // residual — every op IEEE-deterministic (no transcendentals), so the
    // oracle replays the identical doubles. Narrow per-row map
    "sim_quantize_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      emb.withColumn("q",
          explode(array(graft.operators.Quantize.int8(col("embedding")))))
        .select(col("vec_id"),
          round(col("q.scale"), 9).as("scale"),
          col("q.q_sum").as("q_sum"),
          col("q.q_l1").as("q_l1"),
          round(col("q.max_err"), 9).as("max_err"))
        .orderBy("vec_id")}),

    // multimodal: codec-free payload stats (oracle-checked)
    "mm_blob_stats" -> ((s, d) =>
      Multimodal.blobStats(
        Multimodal.syntheticMedia(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // multimodal: partition-wise decode → typed metadata (real WAV/BMP
    // header parsing, stub fallback for codec formats; rows-only —
    // decoder behavior asserted in MultimodalSpec)
    "mm_meta" -> ((s, d) =>
      Multimodal.extractMeta(
        Multimodal.syntheticMedia(Tables.documents(s, d)),
        () => new Multimodal.HeaderDecoder)
        .toDF().orderBy("doc_id")),

    // multimodal: frame sampling shape (rows-only)
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.syntheticMedia(Tables.documents(s, d)),
        () => new Multimodal.HeaderDecoder, stride = 30)
        .groupBy("doc_id").agg(count(lit(1)).as("n_sampled"))
        .orderBy("doc_id")),

    // multimodal: REAL PNG/JPEG decode — encode one image per document
    // (dims derived from doc_id), probe it back through javax.imageio.
    // byte_len is dropped: container size is codec business, not oracle
    // arithmetic
    "mm_image_probe" -> ((s, d) =>
      Multimodal.extractMeta(
        Multimodal.syntheticImages(Tables.documents(s, d)),
        () => new Multimodal.ImageIODecoder)
        .toDF()
        .select("doc_id", "format", "width", "height", "n_frames")
        .orderBy("doc_id")),

    // multimodal: REAL PNG pixel round-trip — decode the lossless even-id
    // images, nearest-neighbour resize to 16×16 RGB, checksum the tensor.
    // The oracle recomputes the expected sum arithmetically from the
    // generator formula, so a wrong decode OR a wrong sampling grid
    // flips the row red (JPEGs are lossy and sit out)
    "mm_image_resize" -> ((s, d) =>
      Multimodal.pixelChecksum(
        Multimodal.resizeMedia(
          Multimodal.syntheticImages(
            Tables.documents(s, d).filter(col("doc_id") % 2 === 0)),
          () => new Multimodal.ImageIODecoder, outW = 16, outH = 16))
        .orderBy("doc_id")),

    // multimodal: MULTI-FRAME GIF sampling — every 2nd frame of each
    // synthetic animated GIF decoded through ImageIO's sequence reader
    // and checksummed. The generator's indexed palette makes GIF
    // storage lossless, so the oracle predicts each sampled frame's
    // byte sum arithmetically: wrong frame indexing, wrong frame count,
    // or a decode regression all flip the hash
    "mm_gif_frames" -> ((s, d) =>
      Multimodal.frameChecksum(
        Multimodal.sampleFrames(
          Multimodal.syntheticGifs(Tables.documents(s, d)),
          () => new Multimodal.ImageIODecoder, stride = 2))
        .orderBy("doc_id", "frame_idx")),

    // multimodal: codec-free feature extraction — 8-bin byte-value
    // histogram per payload, L1-normalized (media content signature
    // before any decode). One scalar column per bin. Oracle parity
    // scope: the oracle recomputes over CODE POINTS, equal to bytes
    // because this corpus is ASCII; the operator itself is byte-defined
    "mm_features" -> ((s, d) => {
      val feats = Multimodal.histogramFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, d)), bins = 8).toDF()
      feats.select(col("doc_id") +:
          (0 until 8).map(i => round(col("f")(i), 6).as(s"f$i")): _*)
        .orderBy("doc_id")})
  )

  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       | / (sqrt(list_sum(list_transform(list_zip($a, $a), x -> x[1]::DOUBLE * x[2]::DOUBLE)))
       |    * sqrt(list_sum(list_transform(list_zip($b, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE)))))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // recall property oracle: the expected answer is the EMPTY set —
    // every query must recover >= 2 exact neighbors via LSH (DuckDB
    // cannot replay the hash side; the floor property is what SQL can
    // express, same move as dedup_minhash_superset)
    "sim_lsh_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS hits WHERE 1=0",
    // same property-oracle shape for the learned-centroid ANN path
    "sim_kmeans_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS hits WHERE 1=0",
    // same property-oracle shape for the JL-projection path (DuckDB
    // cannot replay the seeded Gaussian matrix; the floor property is
    // what SQL can express)
    "sim_project_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS hits WHERE 1=0",
    // same property-oracle shape for the product-quantization path
    // (DuckDB cannot replay the Lloyd's-learned codebooks; the floor
    // property is what SQL can express)
    "sim_pq_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS hits WHERE 1=0",
    // corpus-covering shortlist ⇒ identical to the brute-force oracle
    // (see the query comment)
    "sim_pq_exhaustive_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // corpus-covering shortlist ⇒ identical to the brute-force oracle
    // (see the query comment)
    "sim_project_exhaustive_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // same IEEE ops as Quantize: scale = max|v|/127; codes round half
    // away from zero via the SAME floor/ceil formula (both engines'
    // built-in `round` algorithms are not spelled identically; the
    // explicit formula is) — integer checksums exact, double residuals
    // bit-identical
    "sim_quantize_int8" ->
      """WITH t AS (
        |  SELECT vec_id,
        |    [x::DOUBLE FOR x IN embedding] AS v,
        |    list_max([abs(x::DOUBLE) FOR x IN embedding]) / 127.0 AS s
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, v, s,
        |    [CASE WHEN s > 0 THEN
        |       CASE WHEN x >= 0 THEN floor(x / s + 0.5)
        |            ELSE ceil(x / s - 0.5) END
        |     ELSE 0 END FOR x IN v] AS codes
        |  FROM t)
        |SELECT vec_id, round(s, 9) AS scale,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |  CAST(list_sum([abs(c) FOR c IN codes]) AS BIGINT) AS q_l1,
        |  round(list_max([abs(v[i] - codes[i] * s)
        |                  FOR i IN range(1, len(v) + 1)]), 9) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // exact replay: per anchor, rank positives and negatives separately
    // with the SAME (cos DESC, id ASC) total order the Spark argmax
    // encodes as max(struct(cos, -id)); margins subtract the unrounded
    // cosines on both sides
    "sim_hard_triplets" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS anchor_id, q.label AS al,
         |    c.vec_id AS cid, c.label AS cl,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), pos AS (
         |  SELECT anchor_id, cid, cos_raw,
         |    row_number() OVER (PARTITION BY anchor_id
         |                       ORDER BY cos_raw DESC, cid) AS rn
         |  FROM scored WHERE cl = al
         |), neg AS (
         |  SELECT anchor_id, cid, cos_raw,
         |    row_number() OVER (PARTITION BY anchor_id
         |                       ORDER BY cos_raw DESC, cid) AS rn
         |  FROM scored WHERE cl != al)
         |SELECT p.anchor_id, p.cid AS pos_id, round(p.cos_raw, 9) AS pos_cos,
         |  n.cid AS neg_id, round(n.cos_raw, 9) AS neg_cos,
         |  round(p.cos_raw - n.cos_raw, 9) AS margin
         |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
         |WHERE p.rn = 1 AND n.rn = 1
         |ORDER BY p.anchor_id""".stripMargin,
    // full replay of the binary-quantized ANN, INCLUDING the candidate
    // cut: Hamming distance = count of sign disagreements (integer —
    // bit-exact across engines), candidates = top k·16 by (ham, id),
    // rerank by exact cosine. The only doubles are the rerank cosines,
    // which reuse the proven cosSql form
    "sim_binary_topk" ->
      s"""WITH ham AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    q.embedding AS qv, c.embedding AS cv,
         |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
         |      x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS BIGINT) AS ham
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), cand AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY ham, neighbor_id) AS hrank
         |  FROM ham
         |), reranked AS (
         |  SELECT query_id, neighbor_id, ham,
         |    ${cosSql("qv", "cv")} AS cos_raw
         |  FROM cand WHERE hrank <= 80
         |), ranked AS (
         |  SELECT query_id, neighbor_id, ham, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM reranked)
         |SELECT query_id, rank, neighbor_id, ham, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // greedy MMR replay: candidate pool (top-30 by cosine), then a
    // recursive CTE whose LATERAL picks each step's argmax of
    // 0.5·rel − 0.5·max(pairwise cos vs selected) with ties to the
    // smaller id — the exact loop Similarity.mmrRerank runs per group.
    // The selected set is carried as a list of (vector, norm) structs
    // so the penalty lambda needs no join in the recursive term
    "sim_mmr_rerank" ->
      s"""WITH RECURSIVE cand AS (
         |  SELECT query_id, neighbor_id, cv, cos_raw,
         |    sqrt(list_sum(list_transform(list_zip(cv, cv),
         |      x -> x[1]::DOUBLE * x[2]::DOUBLE))) AS nrm
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      c.embedding AS cv,
         |      ${cosSql("q.embedding", "c.embedding")} AS cos_raw,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |                 c.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings c
         |      ON q.vec_id < 10 AND c.vec_id != q.vec_id)
         |  WHERE rn <= 30
         |), rec AS (
         |  SELECT query_id, 0 AS step, CAST(NULL AS BIGINT) AS pick,
         |    CAST(NULL AS DOUBLE) AS rel, CAST(NULL AS DOUBLE) AS score,
         |    CAST([] AS BIGINT[]) AS chosen,
         |    CAST([] AS STRUCT(v FLOAT[], nrm DOUBLE)[]) AS sel
         |  FROM (SELECT DISTINCT query_id FROM cand)
         |  UNION ALL
         |  SELECT r.query_id, r.step + 1, p.neighbor_id, p.cos_raw, p.score,
         |    list_append(r.chosen, p.neighbor_id),
         |    list_append(r.sel, {'v': p.cv, 'nrm': p.nrm})
         |  FROM rec r, LATERAL (
         |    SELECT c.neighbor_id, c.cv, c.nrm, c.cos_raw,
         |      0.5 * c.cos_raw - 0.5 * coalesce(list_max(list_transform(r.sel,
         |        s -> list_sum(list_transform(list_zip(c.cv, s.v),
         |               x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (c.nrm * s.nrm))),
         |        0.0) AS score
         |    FROM cand c
         |    WHERE c.query_id = r.query_id
         |      AND NOT list_contains(r.chosen, c.neighbor_id)
         |    ORDER BY score DESC, c.neighbor_id
         |    LIMIT 1) p
         |  WHERE r.step < 10
         |)
         |SELECT query_id, step AS sel_rank, pick AS neighbor_id,
         |  round(rel, 9) AS rel, round(score, 9) AS score
         |FROM rec WHERE step >= 1 ORDER BY query_id, sel_rank""".stripMargin,
    "sim_bruteforce_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // identical to the brute-force oracle: exhaustive probing IS brute
    // force (see the query comment)
    "sim_ivf_exhaustive_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // identical brute-force replay: the build-half + append-half index
    // under exhaustive probing must serve exactly what one-shot brute
    // force computes over the union
    "sim_ivf_index_append" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // identical brute-force replay: exhaustive probing of the PERSISTED
    // index must reproduce exact top-k (checks build assignment, the
    // partitioned round trip, and serve scoring together)
    "sim_ivf_index_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // same assignment CTEs as sim_semantic_dedup; the cosine here is
    // against the RAW seed vector (cosSql normalizes internally)
    "sim_cluster_quality" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, [x::DOUBLE FOR x IN embedding] AS c
         |  FROM embeddings WHERE vec_id < 8
         |), normed AS (
         |  SELECT cell,
         |    [x * (CASE WHEN list_sum([y * y FOR y IN c]) > 0
         |          THEN 1.0 / sqrt(list_sum([y * y FOR y IN c]))
         |          ELSE 0 END) FOR x IN c] AS cn
         |  FROM seeds
         |), assigned AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, n.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum(list_transform(
         |          list_zip([x::DOUBLE FOR x IN e.embedding], n.cn),
         |          p -> p[1] * p[2])) DESC, n.cell) AS rn
         |    FROM embeddings e CROSS JOIN normed n)
         |  WHERE rn = 1
         |), j AS (
         |  SELECT a.cell,
         |    CAST(coalesce(round(${cosSql("a.embedding", "s.c")}, 9), 0.0)
         |         AS DECIMAL(28,9)) AS cos9
         |  FROM assigned a JOIN seeds s ON a.cell = s.cell)
         |SELECT cell, count(*) AS n,
         |  round((sum(cos9)::DOUBLE) / count(*), 6) AS mean_cos
         |FROM j GROUP BY cell ORDER BY cell""".stripMargin,

    // replays groupOutliers from first principles: exactMean's
    // fixed-point arithmetic (x·1e9 nudged ±0.5, truncated toward
    // zero, summed as exact BIGINTs, one final double division), the
    // sequential cosine fold, zero-norm exclusion, ascending rank
    "sim_embed_outliers" ->
      s"""WITH el AS (
         |  SELECT label, vec_id, [x::DOUBLE FOR x IN embedding] AS v
         |  FROM embeddings
         |), comp AS (
         |  SELECT label, vec_id, CAST(i.i AS INT) AS pos,
         |         v[CAST(i.i AS INT)] AS x
         |  FROM el, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) i
         |), cent AS (
         |  SELECT label, pos,
         |    (sum(CAST(trunc(x * 1e9 +
         |           CASE WHEN x >= 0 THEN 0.5 ELSE -0.5 END) AS BIGINT))::DOUBLE)
         |      / (count(x)::DOUBLE * 1e9) AS m
         |  FROM comp GROUP BY label, pos
         |), cvec AS (
         |  SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label
         |), scored AS (
         |  SELECT e.label AS cell, e.vec_id,
         |    ${cosSql("e.v", "c.c")} AS cos_raw
         |  FROM el e JOIN cvec c ON e.label = c.label
         |  WHERE list_sum([y * y FOR y IN e.v]) > 0
         |    AND list_sum([y * y FOR y IN c.c]) > 0
         |), ranked AS (
         |  SELECT cell, vec_id, cos_raw,
         |    row_number() OVER (PARTITION BY cell
         |                       ORDER BY cos_raw ASC, vec_id) AS rank
         |  FROM scored)
         |SELECT cell, rank, vec_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY cell, rank""".stripMargin,

    // replays NearestCentroid exactly: centroids normalized via
    // inv = 1/sqrt(Σc²) then multiplied element-wise, score = sequential
    // v·ĉ fold, argmax ties to the lowest cell (row_number DESC, cell)
    "sim_semantic_dedup" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, [x::DOUBLE FOR x IN embedding] AS c
         |  FROM embeddings WHERE vec_id <
         |    (SELECT greatest(8, CAST(ceil(count(*) / 1000.0) AS BIGINT))
         |     FROM embeddings)
         |), normed AS (
         |  SELECT cell,
         |    [x * (CASE WHEN list_sum([y * y FOR y IN c]) > 0
         |          THEN 1.0 / sqrt(list_sum([y * y FOR y IN c]))
         |          ELSE 0 END) FOR x IN c] AS cn
         |  FROM seeds
         |), assigned AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, n.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum(list_transform(
         |          list_zip([x::DOUBLE FOR x IN e.embedding], n.cn),
         |          p -> p[1] * p[2])) DESC, n.cell) AS rn
         |    FROM embeddings e CROSS JOIN normed n)
         |  WHERE rn = 1
         |)
         |SELECT id_a, id_b, round(cos_raw, 9) AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos_raw
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  ORDER BY cos_raw DESC, id_a, id_b
         |  LIMIT 20)
         |ORDER BY round(cos_raw, 9) DESC, id_a, id_b""".stripMargin,

    // the production query's oracle replays the SAME cluster scoping
    // (assignment CTEs identical to sim_semantic_dedup) plus the label
    // equi-key — hash-checks assignment, scoping, and scores together
    "sim_neardup_cosine" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, [x::DOUBLE FOR x IN embedding] AS c
         |  FROM embeddings WHERE vec_id <
         |    (SELECT greatest(8, CAST(ceil(count(*) / 1000.0) AS BIGINT))
         |     FROM embeddings)
         |), normed AS (
         |  SELECT cell,
         |    [x * (CASE WHEN list_sum([y * y FOR y IN c]) > 0
         |          THEN 1.0 / sqrt(list_sum([y * y FOR y IN c]))
         |          ELSE 0 END) FOR x IN c] AS cn
         |  FROM seeds
         |), assigned AS (
         |  SELECT vec_id, embedding, label, cell FROM (
         |    SELECT e.vec_id, e.embedding, e.label, n.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum(list_transform(
         |          list_zip([x::DOUBLE FOR x IN e.embedding], n.cn),
         |          p -> p[1] * p[2])) DESC, n.cell) AS rn
         |    FROM embeddings e CROSS JOIN normed n)
         |  WHERE rn = 1
         |)
         |SELECT id_a, id_b, round(cos_raw, 9) AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos_raw
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.label = b.label AND a.vec_id < b.vec_id
         |  ORDER BY cos_raw DESC, id_a, id_b
         |  LIMIT 20)
         |ORDER BY round(cos_raw, 9) DESC, id_a, id_b""".stripMargin,

    "sim_neardup_blocked" ->
      s"""SELECT id_a, id_b, round(cos_raw, 9) AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos_raw
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  ORDER BY cos_raw DESC, id_a, id_b
         |  LIMIT 20)
         |ORDER BY round(cos_raw, 9) DESC, id_a, id_b""".stripMargin,

    // exhaustive probing + corpus-covering rerank ⇒ identical to the
    // brute-force oracle (see the query comment)
    "sim_ivf_quantized_exhaustive" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_raw
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos_raw, 9) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "mm_blob_stats" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS content_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      s"""$stubProbeSql
         |SELECT doc_id, format, byte_len, width, height, n_frames
         |FROM probed ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      s"""$stubProbeSql
         |SELECT doc_id,
         |  CAST(ceil(n_frames / 30.0) AS BIGINT) AS n_sampled
         |FROM probed ORDER BY doc_id""".stripMargin,
    // the image table is generated FROM doc_id (dims = 8 + id mod 24/17,
    // format alternates png/jpeg), so the oracle predicts the real
    // ImageIO probe output purely arithmetically
    "mm_image_probe" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(8 + doc_id % 24 AS INT) AS width,
        |  CAST(8 + doc_id % 17 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // replay of generator formula ∘ nearest-neighbour grid: out pixel
    // (x, y) samples source (sx, sy) = (⌊x·w/16⌋, ⌊y·h/16⌋) whose RGB
    // is ((37sx+101sy+id) mod 256, 7sx mod 256, 13sy mod 256); PNG
    // decode is lossless so equality is exact
    "mm_image_resize" ->
      """WITH g AS (SELECT unnest(generate_series(0, 15)) AS i),
        |px AS (
        |  SELECT d.doc_id,
        |    (x.i * (8 + d.doc_id % 24)) // 16 AS sx,
        |    (y.i * (8 + d.doc_id % 17)) // 16 AS sy
        |  FROM documents d, g x, g y
        |  WHERE d.doc_id % 2 = 0)
        |SELECT doc_id,
        |  CAST(sum((37 * sx + 101 * sy + doc_id) % 256
        |           + (7 * sx) % 256 + (13 * sy) % 256) AS BIGINT) AS px_sum,
        |  CAST(768 AS BIGINT) AS px_len
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replay of the GIF generator formula ∘ frame sampling: frames
    // 0, 2, 4 of n = 2 + id mod 4; frame f row y contributes
    // w · ((37f+id)%256 + (7y)%256 + (13y+f)%256) to the byte sum
    "mm_gif_frames" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(2 + doc_id % 4 AS INT) - 1, 2)) AS frame_idx
        |  FROM documents
        |), rows_ AS (
        |  SELECT doc_id, frame_idx,
        |    unnest(generate_series(0, CAST(8 + doc_id % 17 AS INT) - 1)) AS y
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST((8 + doc_id % 24) * sum((37 * frame_idx + doc_id) % 256
        |       + (7 * y) % 256 + (13 * y + frame_idx) % 256) AS BIGINT) AS px_sum,
        |  CAST((8 + doc_id % 24) * (8 + doc_id % 17) * 3 AS BIGINT) AS px_len
        |FROM rows_ GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_features" ->
      """WITH chars AS (
        |  SELECT doc_id, greatest(length(text), 1) AS n,
        |         unnest(string_split(text, '')) AS c
        |  FROM documents),
        |hist AS (
        |  SELECT doc_id,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 0)::DOUBLE / max(n), 6) AS f0,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 1)::DOUBLE / max(n), 6) AS f1,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 2)::DOUBLE / max(n), 6) AS f2,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 3)::DOUBLE / max(n), 6) AS f3,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 4)::DOUBLE / max(n), 6) AS f4,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 5)::DOUBLE / max(n), 6) AS f5,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 6)::DOUBLE / max(n), 6) AS f6,
        |    round(count(*) FILTER (WHERE ord(c) // 32 = 7)::DOUBLE / max(n), 6) AS f7
        |  FROM chars GROUP BY doc_id)
        |-- LEFT JOIN from documents: an empty text unnests to zero char
        |-- rows and would otherwise drop the doc, while the engine emits
        |-- its zero vector
        |SELECT d.doc_id,
        |  coalesce(f0, 0.0) AS f0, coalesce(f1, 0.0) AS f1,
        |  coalesce(f2, 0.0) AS f2, coalesce(f3, 0.0) AS f3,
        |  coalesce(f4, 0.0) AS f4, coalesce(f5, 0.0) AS f5,
        |  coalesce(f6, 0.0) AS f6, coalesce(f7, 0.0) AS f7
        |FROM documents d LEFT JOIN hist USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
  )

  /** DuckDB replica of [[Multimodal.StubDecoder.probe]] over the
    * synthetic media table (blob = UTF-8 bytes of `documents.text`):
    * java.util.Arrays.hashCode via list_reduce with explicit 32-bit
    * signed wrap, then the stub's floorMod field derivations (>> n on a
    * Java int is floor division — exact in doubles since |h| < 2^31).
    * Yields CTE `probed(doc_id, format, byte_len, width, height,
    * n_frames)`. The synthetic blobs are English text, never RIFF/BMP
    * magic, so HeaderDecoder's fallback (the stub) is the path probed on
    * both engines.
    */
  private val stubProbeSql: String =
    """WITH raw AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS byte_len FROM documents
      |), hashed AS (
      |  SELECT doc_id, byte_len,
      |    list_reduce(
      |      list_prepend(CAST(1 AS BIGINT),
      |        [CAST(CASE WHEN v > 127 THEN v - 256 ELSE v END AS BIGINT)
      |         FOR v IN [ (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
      |                    + strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1
      |                    FOR i IN range(1, byte_len + 1)]]),
      |      (acc, x) -> CAST(((acc * 31 + x + 2147483648) % 4294967296 + 4294967296)
      |                       % 4294967296 - 2147483648 AS BIGINT)) AS h
      |  FROM raw
      |), shifted AS (
      |  SELECT doc_id, byte_len, h,
      |    CAST(floor(h / 4.0) AS BIGINT) AS h2,
      |    CAST(floor(h / 16.0) AS BIGINT) AS h4,
      |    CAST(floor(h / 64.0) AS BIGINT) AS h6
      |  FROM hashed
      |), probed AS (
      |  SELECT doc_id,
      |    ['jpeg','png','wav','mp4'][CAST(((h % 4) + 4) % 4 AS INT) + 1] AS format,
      |    byte_len,
      |    64 + CAST(((h2 % 1920) + 1920) % 1920 AS INT) AS width,
      |    64 + CAST(((h4 % 1080) + 1080) % 1080 AS INT) AS height,
      |    1 + CAST(((h6 % 300) + 300) % 300 AS INT) AS n_frames
      |  FROM shifted
      |)""".stripMargin
}
