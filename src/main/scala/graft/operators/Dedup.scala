package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{TextHash, TextHashExprs}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH
  * near-dup, SimHash, and exact n-gram Jaccard (the verification oracle
  * for the approximate paths).
  *
  * Scale design (100 TB): exact dedup shuffles 32-byte digests, not
  * document bodies; MinHash/LSH shuffles k×8-byte signatures and joins on
  * (band, bucket) so candidate generation is O(collisions), never O(n²);
  * the exact-Jaccard verifier runs only on candidate pairs. The O(n²)
  * blocked variant exists for oracle verification at small SF only.
  */
object Dedup {

  // --- shingling ---------------------------------------------------------

  /** Distinct word n-gram shingles of a text column (empty when the text
    * is NULL or has fewer than n tokens). The text is split a fixed
    * number of times per row, never once per shingle (see [[ngramList]]).
    */
  def shingles(text: Column, n: Int = 3): Column =
    array_distinct(ngramList(split(trim(text), "\\s+"), n))

  /** Word n-grams of a token array, in order and with repeats; empty when
    * the array is NULL or shorter than n. Zips the n shifted copies of the
    * array, so the lambda reads only its own struct fields: a lambda that
    * referenced `toks` itself would re-evaluate the whole token array per
    * element (higher-order functions run interpreted, with no
    * subexpression elimination).
    */
  private[operators] def ngramList(toks: Column, n: Int): Column = {
    val shifted = (0 until n).map(k => slice(toks, lit(k + 1), size(toks) - lit(n - 1)))
    when(size(toks) >= n,
      transform(arrays_zip(shifted: _*),
        z => concat_ws(" ", (0 until n).map(k => z(k.toString)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b))).cast("double")

  /** Shingle set folded to 64-bit hashes: set cardinalities (and hence
    * Jaccard) are preserved up to a ~2^-64 collision chance, while
    * downstream intersections/joins compare longs instead of strings —
    * the representation every pairwise stage should run on at scale.
    *
    * Never materializes shingle strings: tokens are hashed once, then
    * each n-gram hash is a rotate-XOR mix of n consecutive token hashes
    * (bit ops only — no allocation, no ANSI overflow, order-sensitive so
    * "a b c" ≠ "c b a"). Delegates to the native
    * [[graft.plans.HashedShinglesExpr]] (one imperative pass per row);
    * [[hashedShinglesHof]] keeps the original Column-API fold as the
    * executable spec the native expression is cross-checked against.
    */
  def hashedShingles(text: Column, n: Int = 3): Column =
    TextHashExprs.hashedShingles(text, n)

  /** Higher-order-function reference form of [[hashedShingles]] (slow:
    * interpreted, allocates per step — retained only as the parity spec
    * for the native expression).
    */
  def hashedShinglesHof(text: Column, n: Int = 3): Column = {
    def rot(c: Column, k: Int): Column =
      if (k == 0) c
      else shiftleft(c, k).bitwiseOR(shiftrightunsigned(c, 64 - k))
    def toksH: Column = // fresh tree per use — each use is one evaluation
      transform(split(trim(text), "\\s+"), t => xxhash64(t))
    // zip the hash array against its own shifted copies: element i of the
    // result mixes token hashes i, i+1, …, i+n-1; positions past
    // size-n+1 see a null partner and null out, then get filtered. Each
    // shifted copy re-evaluates tokenization ONCE PER ROW (never per
    // element — element_at inside a lambda would inline the whole
    // tokenize+hash tree per shingle position).
    // rotation schedule (j*21) mod 64: gcd(21,64)=1 ⇒ distinct non-zero
    // rotations for every position j in 1..63 (a schedule that wraps to
    // 0 would make positions interchangeable and XOR-cancel equal tokens)
    val mixed = (1 until n).foldLeft(toksH) { (acc, j) =>
      zip_with(acc, slice(toksH, lit(j + 1), lit(1 << 30)),
        (a, b) => a.bitwiseXOR(rot(b, (j * 21) % 64)))
    }
    array_distinct(filter(mixed, x => x.isNotNull))
  }

  // --- exact dedup -------------------------------------------------------

  /** Exact duplicate groups, shuffling only a content digest: returns
    * (keep_id, n_copies) per distinct content; keep_id = min id.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** One surviving row per distinct content (drop exact duplicates,
    * keeping the lowest id deterministically).
    */
  def dropExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Corpus release diff: classify every document id as `added`
    * (only in `newDf`), `removed` (only in `oldDf`) or `changed` (in
    * both with different content digests); unchanged docs don't appear.
    * The dataset-versioning primitive behind release notes, downstream
    * cache invalidation, and incremental re-processing ("re-embed only
    * what changed").
    *
    * Scale design (100 TB): both sides reduce to (id, 32-byte digest)
    * in their scan projections — the full-outer join shuffles digests,
    * never bodies, and the comparison is one digest equality per id.
    *
    * Row PRESENCE is tracked by explicit flags, not by digest nullity:
    * `sha2(NULL)` is NULL, so a null-text doc would otherwise be
    * indistinguishable from an absent row and misclassify as `added`
    * forever. With flags, null-text docs diff like any other: NULL ↔
    * NULL is unchanged (null-safe equality), NULL ↔ text is `changed`.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   textCol: String, idCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      sha2(col(textCol), 256).as("old_sha"), lit(true).as("in_old"))
    val n = newDf.select(col(idCol).as("id"),
      sha2(col(textCol), 256).as("new_sha"), lit(true).as("in_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(!coalesce(col("in_old"), lit(false)), lit("added"))
          .when(!coalesce(col("in_new"), lit(false)), lit("removed"))
          .when(!(col("old_sha") <=> col("new_sha")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("id").as(idCol), col("status"))
  }

  /** Incremental corpus ingestion: from `batch`, keep only documents
    * whose content digest is NOT already in `history`, deduplicating
    * within the batch too (min id wins per digest). Returns
    * (idCol, content_sha).
    *
    * Scale design (100 TB): at scale `history` is a digest-only index
    * table (32-byte sha per ever-ingested doc), so the anti-join
    * shuffles digests on both sides, never document bodies — the batch
    * is digested in its scan projection. The streaming corpus
    * ([[graft.streaming.CorpusIngest]]) puts a sharded Bloom filter in
    * front of the same exact screen; Bloom false positives must never
    * drop docs, so the exact anti-join stays the semantic.
    */
  def incrementalIngest(history: DataFrame, batch: DataFrame,
                        textCol: String, idCol: String): DataFrame =
    incrementalIngestDigests(
      history.select(sha2(col(textCol), 256).as("content_sha")),
      batch, textCol, idCol)

  /** [[incrementalIngest]] against a pre-digested history index — the
    * form a long-running ingestion service uses (the index table stores
    * one `content_sha` per ever-ingested doc; bodies are never re-read
    * to re-digest). See StreamingIngestSpec for the foreachBatch wiring.
    */
  def incrementalIngestDigests(seenDigests: DataFrame, batch: DataFrame,
                               textCol: String, idCol: String): DataFrame = {
    val seen = seenDigests.select(col("content_sha")).distinct()
    batch
      .select(col(idCol), sha2(col(textCol), 256).as("content_sha"))
      .join(seen, Seq("content_sha"), "left_anti")
      .groupBy(col("content_sha"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("content_sha"))
  }

  /** The NEAR-DUP ingest index of a corpus — one
    * (digest, sig, bands) row per distinct content, the state
    * [[incrementalIngestNearDup]] screens against. `digest` (NULL
    * text coalesced to a sentinel) carries the exact screen — it
    * covers EVERY doc, including those too short to shingle; `sig`
    * (the 64-long MinHash signature, NULL for sub-shingle docs) lets
    * the screen VERIFY a band collision by signature-agreement
    * fraction instead of trusting it — an unverified single-band hit
    * is only ~J^(1/rowsPerBand) evidence, and its false-reject rate
    * would otherwise grow with the corpus; `bands` are the LSH keys
    * candidate generation joins on. ~(32 B + 8·numHashes B + 8·bands
    * B) per ever-seen doc — bodies are never stored or re-read.
    *
    * At scale this is a persisted, appendable table: after accepting a
    * batch, append the batch's own rows
    * (see [[graft.streaming.CorpusIngest]] for the partitioned,
    * prune-friendly layout).
    */
  def nearDupIndex(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    df.select(coalesce(sha2(col(textCol), 256), lit("<null>")).as("digest"),
        hashedShingles(col(textCol), shingleN).as("sh"))
      .dropDuplicates("digest")
      .select(col("digest"),
        when(size(col("sh")) > 0,
          TextHashExprs.minhashSig(col("sh"), numHashes)).as("sig"))
      .withColumn("bands",
        when(col("sig").isNotNull, lshBands(col("sig"), bands, rpb))
          .otherwise(array().cast("array<bigint>")))
  }

  /** Near-duplicate-aware incremental ingestion — the LSH form of
    * [[incrementalIngestDigests]], screening a batch against a
    * [[nearDupIndex]] of everything ever accepted. Two screens:
    *
    *  1. EXACT: anti-join on content digest. Deterministic, covers
    *     every doc including those too short to shingle (which have no
    *     bands and are invisible to every LSH stage).
    *  2. NEAR-DUP, VERIFIED: band-key equality generates CANDIDATES
    *     only; a candidate rejects its batch doc only when the
    *     MinHash signature-agreement fraction with the colliding
    *     history doc — the standard unbiased Jaccard estimate — is at
    *     least `threshold`. An unverified single-band hit is only
    *     ~J^(1/rowsPerBand) evidence of similarity, and trusting it
    *     makes the false-reject rate GROW with corpus size (the union
    *     bound over ever-more landed docs); verification pins the
    *     per-candidate reject decision to the estimator's fixed
    *     variance (σ ≈ √(J(1−J)/numHashes)) instead.
    *
    * Before the screens, the batch resolves internally: exact digest
    * groups keep their min id, then near-dup clusters — banded
    * candidates verified by the SAME signature-agreement measure,
    * connected components — keep their min-id member. Using one
    * measure for in-batch pairing and the history screen keeps the
    * two decisions consistent (a pair that would reject across
    * batches also clusters within one), which is what makes feeding a
    * batch's accepted output back as history and re-running the same
    * batch a no-op — the crash-replay property
    * [[graft.streaming.CorpusIngest.startNearDup]] builds on.
    * Resolution runs BEFORE the screens so acceptance never depends
    * on a batch member the screen rejects. Returns the accepted rows
    * of `batch`.
    *
    * 100 TB shape: candidate generation joins single-long band keys;
    * only verified-candidate pairs carry two fixed 8·numHashes-byte
    * signatures; batch text never shuffles against history. Note the
    * agreement verify joins SIGNATURES, not shingle sets — the exact
    * [[minhashNearDups]] verify would need history shingle sets, which
    * an index that never stores bodies cannot provide, and whose size
    * is unbounded where a signature's is fixed.
    *
    * The internal signature cache (the band screen re-reads it at
    * action time) is registered with [[Intermediates]].
    *
    * `knownHotBands`: a one-column `band` frame of the index's
    * saturated bands (count > [[HotBandCap]]), precomputed when the
    * index was BUILT. Passing it skips the per-call census aggregation
    * over the whole exploded index — the right shape for a static
    * index screened by many batches (the census changes only when the
    * index does, so it belongs at build time, not per batch). When
    * None the census runs inline (exact, same result).
    */
  def incrementalIngestNearDup(index: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      knownHotBands: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    // LOUD parameter guard: the index stores signatures but not the
    // (numHashes, bands) they were built with. Screening with a
    // different numHashes would zip_with-null-pad the agreement (nulls
    // count as disagreement) and a different banding would shift every
    // band key — either way the near-dup screen silently degrades to
    // admit-everything. One limit(1) probe of the index pins both (a
    // single row-group read per call; caching the verdict by plan
    // identity would be unsound — the "same" index dir re-read after an
    // append is a new plan over new files). A row with a signature but
    // NULL bands (a hand-built or foreign index) surfaces as nb = -1 so
    // the require below fires with its message instead of an NPE.
    index.filter(col("sig").isNotNull)
      .select(size(col("sig")).as("nh"),
        coalesce(size(col("bands")), lit(-1)).as("nb"))
      .limit(1).collect().headOption.foreach { r =>
        require(r.getInt(0) == numHashes && r.getInt(1) == bands,
          s"index was built with numHashes=${r.getInt(0)}, " +
            s"bands=${r.getInt(1)} (-1 = null bands column); caller " +
            s"passed numHashes=$numHashes, " +
            s"bands=$bands — signature screens across mismatched " +
            "parameters silently reject nothing, so this is an error")
      }
    // 1. exact within-batch dedup by digest, min id per group.
    //    groupBy keys NULL texts together, same as everywhere else.
    val uniq = dropExact(batch, textCol, idCol)
    // 2. within-batch near-dup resolution (verified by signature
    //    agreement — the same measure as the history screen). The
    //    pair plan is consumed eagerly by the components loop inside
    //    resolveClusters, under the persist below.
    val sigs = Intermediates.persist(
      docSignatures(uniq, textCol, idCol, numHashes, shingleN))
    val pairs = pairsByAgreement(sigs, threshold, bands, rpb)
    val resolved = resolveClusters(uniq, idCol, pairs)
    // 3. exact history screen: digest anti-join (NULL text coalesced
    //    to the index's sentinel so null-content replays screen too)
    val idxDigests = index
      .select(coalesce(col("digest"), lit("<null>")).as("__sha")).distinct()
    val freshExact = resolved
      .withColumn("__sha", coalesce(sha2(col(textCol), 256), lit("<null>")))
      .join(idxDigests, Seq("__sha"), "left_anti")
    // 4. near-dup history screen: band hits are candidates; reject
    //    only on signature agreement >= threshold
    val batchBands = sigs
      .join(freshExact.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("sig"),
        explode(lshBands(col("sig"), bands, rpb)).as("band"))
    val idxBands0 = index.filter(size(col("bands")) > 0)
      .select(col("sig").as("h_sig"), explode(col("bands")).as("band"))
    // the SAME hot-band policy as in-batch pairing (pairsByAgreement):
    // a band held by more than HotBandCap index rows is boilerplate-
    // saturated — drop it from the candidate join, so (a) the in-batch
    // and cross-batch screens share one measure (a pair whose only
    // shared band is hot co-lands whether its docs arrive together or
    // apart), and (b) per-band join fan-out is bounded by the cap no
    // matter how large the history grows. Residual asymmetry: each
    // screen caps on its OWN population (batch vs index), so a band can
    // be cold in a small batch yet hot in the corpus — batch-boundary
    // dependence is confined to the cap's saturation regime
    val hotIdx = knownHotBands.map(_.select("band")).getOrElse(
      idxBands0.groupBy("band")
        .agg(count(lit(1)).as("c")).filter(col("c") > HotBandCap)
        .select("band"))
    val idxBands = idxBands0.join(hotIdx, Seq("band"), "left_anti")
    val colliding = batchBands.join(idxBands, Seq("band"))
      .filter(sigAgreement(col("sig"), col("h_sig")) >= threshold)
      .select(col("id").as(idCol)).distinct()
    freshExact.join(colliding, Seq(idCol), "left_anti").drop("__sha")
  }

  // --- MinHash + LSH -----------------------------------------------------


  /** k MinHash values over a PRE-HASHED shingle set (longs): h_i(S) =
    * min_{s∈S} ((a_i · (s mod p) + b_i) mod p) with p = 2^31-1: the
    * 31-bit domain keeps a·h+b inside a long under ANSI arithmetic
    * (Spark 4 errors on silent overflow). Hashing shingle strings once
    * up front (hashedShingles) instead of inside each of the k hash
    * functions cuts the string-hash work k-fold. Seeds are deterministic
    * so signatures are reproducible across runs/executors.
    */
  def minhashSignature(shHashed: Column, k: Int = 64): Column = {
    // (a, b) draws come from the ONE shared derivation — any drift
    // between this Column form and the native MinHashSigExpr would
    // silently break their bit-for-bit parity contract
    val params = TextHash.minhashParams(k)
    val p = TextHash.MersennePrime31
    val folded = transform(shHashed, s => pmod(s, lit(p)))
    array(params.toSeq.map { case (a, b) =>
      array_min(transform(folded,
        h => pmod(h * lit(a) + lit(b), lit(p))))
    }: _*)
  }

  /** LSH banding: explode the signature into one 64-bit bucket key per
    * band. Two docs sharing any band bucket become a candidate pair.
    * The band index is hashed ALONGSIDE the band slice (xxhash64's seed
    * is fixed at 42; the extra column separates the bands' key spaces
    * just as a per-band seed would), so a single long is the whole join
    * key; a cross-band hash collision (~2^-64) can only ADD a candidate
    * pair, which the exact-Jaccard verification stage filters — never a
    * correctness risk.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)), b))

  /** Signature-agreement fraction of two equal-length MinHash
    * signatures — the standard unbiased estimator of their sets'
    * Jaccard similarity (each position agrees with probability J;
    * σ ≈ √(J(1−J)/k)). Fixed-size inputs make this the verify measure
    * of choice when one side's shingle set is unavailable or unbounded
    * (a history index never stores bodies).
    */
  def sigAgreement(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v).cast("double") / size(a).cast("double")

  /** Near-dup pairs over a PERSISTED `(id, sig)` frame, verified by
    * [[sigAgreement]] >= threshold (estimated Jaccard) instead of the
    * exact shingle-set Jaccard [[minhashPairsFromSigs]] uses — the
    * ingest-path variant, where pairing must use the SAME measure as
    * the signature-only history screen so in-batch and cross-batch
    * decisions agree. Caller owns the persist lifecycle of `sigs`.
    *
    * HOT-BAND CAP: the band self-join is quadratic in a bucket's
    * membership, so a batch of thousands of boilerplate near-identical
    * docs would degrade on its shared bands. A band held by more than
    * `hotBandCap` docs is dropped from candidate generation — the
    * stop-fingerprint move ([[SubstringDedup]]'s df-cap): such a band
    * is boilerplate-saturated, and any true near-dup pair it holds
    * almost surely shares another, colder band (a J ≥ t pair agrees on
    * each of the `bands` bands independently with prob ~t^rowsPerBand,
    * so missing ALL others requires every one of bands−1 coin flips to
    * fail — and the docs a hot band clusters are precisely the ones
    * sharing many bands). Recall cost is therefore confined to pairs
    * whose ONLY collision is a >cap boilerplate band; candidate volume
    * drops from O(hot²) to ≤ bands·cap per doc.
    */
  /** Boilerplate-saturation cap shared by BOTH band screens: in-batch
    * pairing ([[pairsByAgreement]]) counts a band's batch membership,
    * the cross-batch history screens ([[incrementalIngestNearDup]]
    * and the ingest's index screen) count its index membership — one
    * constant, one policy, so the two decisions agree wherever the
    * populations do.
    */
  /** var, not val: test-injectable so specs can drive the saturation
    * regime (together-vs-apart co-landing, incremental-census
    * equivalence) without constructing >256 colliding docs. Production
    * code never writes it.
    */
  private[graft] var HotBandCap: Int = 256

  private[graft] def pairsByAgreement(sigs: DataFrame, threshold: Double,
      bands: Int, rowsPerBand: Int, hotBandCap: Int = HotBandCap): DataFrame = {
    val buckets0 = sigs.select(col("id"),
      explode(lshBands(col("sig"), bands, rowsPerBand)).as("band"))
    val hot = buckets0.groupBy("band")
      .agg(count(lit(1)).as("c")).filter(col("c") > hotBandCap)
      .select("band")
    val buckets = buckets0.join(hot, Seq("band"), "left_anti")
    val cands = buckets.as("l")
      .join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sv = sigs.select(col("id"), col("sig"))
    cands
      .join(sv.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sv.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** (id, shingle-set, MinHash signature) computed as a single NARROW
    * projection via the native [[graft.plans.MinHashSigExpr]]: no
    * explode, no groupBy — the signature stage is map-only work
    * co-located with the scan, so at cluster scale nothing but the tiny
    * (id, sig) pairs ever reaches a shuffle. (Earlier form exploded one
    * row per shingle into k min-aggregates — a full corpus shuffle.)
    */
  /** `(id, sh, sig)` per shingle-able doc — exposed within the engine
    * so ingest paths can compute signatures ONCE and share them
    * between pairing ([[minhashPairsFromSigs]]) and band-key
    * derivation ([[lshBands]]).
    */
  private[graft] def docSignatures(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, shingleN: Int = 3): DataFrame =
    withSignatures(df, textCol, idCol, numHashes, shingleN)

  private def withSignatures(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleN: Int): DataFrame =
    // `sh` is sorted at build so the LSH candidates' exact-Jaccard
    // verify is a codegen'd sorted merge (MinHash is a min over the
    // set — element order cannot change `sig`)
    signaturesFromShingled(
      shingledDocs(df, textCol, idCol, Nil, shingleN), numHashes)

  /** The SHARED hashed-shingle pass (r18): one `(id, sh, blockCols…)`
    * projection — `sh` = the sorted hashed shingle array every pairwise
    * dedup stage runs on — that BOTH the exact PPJoin
    * ([[ngramJaccardFromShingled]]) and the MinHash path
    * ([[minhashFromShingled]]) consume. A query running both passes over
    * the same corpus (`dedup_components_refine`,
    * `dedup_minhash_superset`) persists this frame so the corpus is
    * tokenized and hash-shingled ONCE instead of once per operator; the
    * MinHash side computes its `(id, sh, sig)` cache FROM this cache
    * instead of from a second parquet scan. Expression-identical to what
    * each operator derived on its own, so results are bit-for-bit
    * unchanged.
    *
    * Deliberately does NOT carry the MinHash signature: a first cut
    * cached one combined (id, sh, sig, blocks) frame, and the sig
    * column's 8·numHashes B/row inflated the relation's stats enough
    * that AQE stopped broadcast-converting the PPJoin's verify joins
    * (3 SortMergeJoin / 7 Exchange vs 2 BroadcastHashJoin / 5 — measured
    * 2.5× slower on the exact phase at sf1). Two caches with honest
    * per-consumer stats beat one cache with inflated ones.
    */
  private[graft] def shingledDocs(
      df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], shingleN: Int = 3): DataFrame =
    df.select(Seq(col(idCol).as("id"),
      sort_array(hashedShingles(col(textCol), shingleN)).as("sh")) ++
      blockCols.map(col): _*)

  private def signaturesFromShingled(
      shingled: DataFrame, numHashes: Int): DataFrame =
    shingled.select(col("id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", TextHashExprs.minhashSig(col("sh"), numHashes))

  /** [[minhashNearDups]] over a pre-shingled `(id, sh, …)` frame
    * ([[shingledDocs]]) — the shared-shingle seam. The caller owns the
    * shingled frame's own lifecycle.
    */
  private[graft] def minhashFromShingled(
      shingled: DataFrame, threshold: Double,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    minhashPairsFromSigs(signaturesFromShingled(shingled, numHashes),
      threshold, bands, numHashes / bands)
  }

  /** Near-duplicate pairs by MinHash+LSH with exact-Jaccard
    * verification of candidates: `(id_a, id_b, jaccard)` with
    * id_a < id_b, jaccard >= threshold. The internal signature cache
    * is registered with [[Intermediates]].
    *
    * bands × rowsPerBand must equal the signature length; with 16×4 the
    * candidate-recall at j=0.8 is ≈ 1-(1-0.8^4)^16 ≈ 0.9997.
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numHashes: Int = 64,
      bands: Int = 16, shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    minhashPairsFromSigs(
      withSignatures(df, textCol, idCol, numHashes, shingleN),
      threshold, bands, numHashes / bands)
  }

  /** [[minhashNearDups]] over a precomputed `(id, sh, sig)`
    * frame ([[docSignatures]]) — the single-signature-pass seam: an
    * ingest that needs signatures for pairing AND for band keys
    * computes them once and feeds both stages.
    */
  private[graft] def minhashPairsFromSigs(sigs: DataFrame,
      threshold: Double, bands: Int, rowsPerBand: Int): DataFrame = {
    // read by both bucket-join branches and both verify joins
    // (MEMORY_AND_DISK, O(n·(shingles+numHashes)·8B))
    val withSig = Intermediates.persist(sigs)
    // candidate generation shuffles only (id, band) — 16 bytes of key per
    // row; shingle sets are joined back AFTER pair dedup so the band
    // self-join never carries array payloads
    val buckets = withSig
      .select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("band"))
    val cands = buckets.as("l")
      .join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = withSig.select(col("id"), col("sh"))
    cands
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      // `sh` is sorted at signature build: one codegen'd merge per
      // candidate instead of [[jaccard]]'s per-pair hash set (the
      // helper stays as the order-agnostic reference form). The merge
      // relies on the sort_array in withSignatures
      .withColumn("n_common",
        graft.plans.SortedLongOverlap(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard pairs within blocking keys via a PREFIX-FILTERED
    * set-similarity join (AllPairs/PPJoin family — Bayardo et al. WWW'07,
    * Xiao et al. WWW'08): shingle sets are sorted into a global order
    * (ascending hash), and a pair with Jaccard ≥ t must share an element
    * within each side's first |S| − ⌈t·|S|⌉ + 1 elements — so only that
    * prefix is exploded for candidate generation (at t=0.9 that's ~10% of
    * the shingles; join volume shrinks quadratically). A symmetric size
    * predicate (⌈t·|A|⌉ ≤ |B| and ⌈t·|B|⌉ ≤ |A|) prunes inside the join,
    * and survivors are verified with one exact codegen'd sorted-merge
    * overlap count ([[graft.plans.SortedLongOverlap]]) per candidate
    * pair. No false negatives: the prefix bound is exact, and
    * every stage is a codegen'd join — no O(block²) pairwise scans. This
    * is the exact ground truth the LSH path is verified against.
    *
    * `dfCap`: with it set, shingles appearing in more than `dfCap`
    * documents (globally — document frequency over the DISTINCT shingle
    * sets, before blocking) are removed from the SETS — Jaccard over
    * the rare-shingle subspace, the stop-shingle semantics of
    * [[graft.operators.CosinePairs.tfCosinePairs]]'s cap and
    * `text_winnow_pairs`' fingerprint discard, well-defined on both
    * engines rather than a lossy candidate heuristic. This is the
    * saturated-vocabulary guard: the PPJoin prefix filter bounds
    * candidate volume by Σ df² over prefix shingles, which stays
    * subquadratic while the shingle space grows with the corpus
    * (Heaps' law) but degenerates when a FIXED vocabulary saturates
    * and every df scales with N — there, capping df bounds per-shingle
    * join fan-out at dfCap² regardless of corpus size. None = exact
    * full-vocabulary semantics (the oracle-companion form; quadratic on
    * saturated vocabularies by nature — any exact all-pairs similarity
    * is). The internal shingle cache is registered with
    * [[Intermediates]].
    */
  def ngramJaccardBlocked(
      df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], threshold: Double, shingleN: Int = 3,
      dfCap: Option[Int] = None): DataFrame =
    ngramJaccardFromShingled(
      shingledDocs(df, textCol, idCol, blockCols, shingleN),
      blockCols, threshold, dfCap)

  /** [[ngramJaccardBlocked]] over a pre-shingled
    * `(id, sh, blockCols…)` frame ([[shingledDocs]]) — the shared-shingle
    * seam. `base` is persisted for the multi-consumer reads (prefix
    * join + both verify joins); when the caller already persisted it,
    * that second persist is a no-op.
    */
  private[graft] def ngramJaccardFromShingled(
      base: DataFrame, blockCols: Seq[String], threshold: Double,
      dfCap: Option[Int]): DataFrame = {
    require(threshold > 0.0, "zero-overlap pairs never materialize; threshold must be > 0")
    require(dfCap.forall(_ >= 2), "dfCap >= 2 (df=1 shingles never pair)")
    val withSets = dfCap match {
      case None => base
      case Some(c) =>
        // stop-shingle removal BEFORE sizes/prefixes, so capped-out
        // shingles vanish from the sets on both sides of every pair.
        // Only (id, long) rows reach the shuffles; the rebuilt sh stays
        // sorted (sort_array) and containsNull=false (collect_list), so
        // the merge verify below compiles the same null-free
        // loop. Docs whose whole set is capped away drop out here —
        // same outcome as the sz>0 filter on an empty set. `ds` feeds
        // two un-shareable subtrees (the df aggregate and the join
        // probe side — different child plans, no exchange reuse), so it
        // is persisted for the life of the returned plan: without it
        // the native shingling pass over the whole corpus runs TWICE
        // when `t` materializes.
        val ds = Intermediates.persist(
          base.select(col("id"), explode(col("sh")).as("s")))
        val keep = ds.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= c).select("s")
        val capped = ds.join(keep, "s")
          .groupBy("id").agg(sort_array(collect_list(col("s"))).as("sh"))
        base.drop("sh").join(capped, "id")
    }
    // read by the prefix join and both verify joins (the size/filter on
    // top of the cached array column is per-read noise, not a recompute)
    val t = Intermediates.persist(withSets)
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    // minimum overlap a qualifying pair must have with THIS set:
    // |∩| ≥ t·|∪| ≥ t·max(|A|,|B|) ≥ ⌈t·|S|⌉ for each side.
    // The 1e-6 slack absorbs double rounding in t·sz: IEEE can round
    // the product a hair ABOVE an exact integer (0.07·100 →
    // 7.000000000000001, ceil 8) which would shorten the prefix / over-
    // tighten the size pruning and silently DROP a qualifying pair.
    // Max abs error of the product is ~5e-7 for sz ≤ 2^31, so the slack
    // strictly covers it; erring low only admits extra candidates,
    // which the exact verification filter removes — never false
    // negatives.
    def minOverlapOf(sz: Column): Column =
      ceil(lit(threshold) * sz - lit(1e-6)).cast("int")
    val minOverlap = minOverlapOf(col("sz"))
    // prefix tokens with their 0-based POSITION in the sorted array —
    // feeds the PPJoin positional filter below
    val pre = t.select(Seq(col("id"), col("sz"),
      posexplode(slice(col("sh"), lit(1), col("sz") - minOverlap + lit(1)))
        .as(Seq("p", "s"))) ++
      blockCols.map(col): _*)
    // PPJoin pair bound (Xiao et al., WWW'08): jac ≥ t ⇔ |∩| ≥ t·|∪|
    // ⟹ |∩| ≥ ⌈t/(1+t)·(|A|+|B|)⌉ =: α — tighter than either per-side
    // bound alone (same 1e-6 under-round slack as minOverlapOf)
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("l.sz") + col("r.sz")) - lit(1e-6)).cast("int")
    val cands = pre.as("l")
      .join(pre.as("r"),
        blockCols.map(c => col(s"l.$c") === col(s"r.$c"))
          .reduce(_ && _) && col("l.s") === col("r.s") && col("l.id") < col("r.id") &&
          // symmetric size pruning: jac ≥ t ⇒ t·|A| ≤ |∩| ≤ |B| (and vice versa)
          col("r.sz") >= minOverlapOf(col("l.sz")) &&
          col("l.sz") >= minOverlapOf(col("r.sz")) &&
          // POSITIONAL filter: tokens are globally sorted, so a match at
          // 0-based positions (p_l, p_r) bounds the overlap by
          // min(sz_l − p_l, sz_r − p_r) — the tokens at/after the match.
          // Sound: for a qualifying pair, its FIRST common token lies in
          // both prefixes (else the suffix alone can't reach minOverlap)
          // and at that match this bound ≥ |∩| ≥ α, so the pair survives
          // through at least that row — no false negatives
          least(col("l.sz") - col("l.p"), col("r.sz") - col("r.p")) >= alpha)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = t.select(col("id"), col("sh"), col("sz"))
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), "id_b")
      // verify: one codegen'd sorted merge per candidate (the `sh`
      // arrays are sorted at vector build) — `array_intersect` would
      // allocate and fill a hash set and materialize the intersection
      // array per pair when only its SIZE is needed. The merge relies
      // on the sort_array on `sh` above
      .withColumn("n_common",
        graft.plans.SortedLongOverlap(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // --- near-dup cluster resolution --------------------------------------

  /** Edge-count ceiling for the driver-local union-find fast path
    * (16 B/edge ⇒ ≤ ~16 MB collected). Near-dup edge lists are usually
    * MUCH smaller than the corpus — at 100 TB the corpus never fits a
    * driver, but its duplicate-pair list routinely does; crossing the
    * ceiling falls back to the distributed loop automatically (the same
    * measure-then-choose move AQE makes for broadcast joins).
    */
  val LocalComponentsMaxEdges = 1000000L

  /** Connected components over a near-dup pair list: every node gets the
    * MINIMUM id reachable through any chain of pairs as its component
    * label — the step that turns pairwise near-dup output into "keep one
    * canonical doc per duplicate cluster".
    *
    * Iterative min-label propagation with pointer jumping (the
    * Shiloach-Vishkin shortcutting idea, as used by Hash-to-Min-style
    * MapReduce components — Rastogi et al., ICDE'13): each round takes
    * the minimum over direct neighbors' labels AND the label of the
    * current label, converging in O(log diameter) rounds; `maxIter`
    * bounds pathological graphs. Each round is one equi-join + one aggregation over the
    * EDGE list only — nodes outside any pair are their own component
    * and never enter the loop. Deterministic: labels are min ids,
    * independent of partitioning and join order.
    *
    * Input: (id_a, id_b) pairs (any extra columns ignored).
    * Output: (id, component) for every id appearing in a NON-SELF pair
    * (an id paired only with itself is its own trivial component and
    * emits no row, like any unpaired id). The distributed loop's final
    * label cache is registered with [[Intermediates]]; intermediate
    * rounds are released as the loop advances.
    */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 20,
      localMaxEdges: Long = LocalComponentsMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    // lineage truncation per round WITH a releasable handle: iterative
    // DataFrame loops otherwise stack each round's plan on the last and
    // the optimizer re-traverses an exponentially growing tree. A
    // round-trip through a persisted RDD[Row] cuts the plan AND (unlike
    // localCheckpoint, whose blocks bypass the CacheManager and wait
    // for the ContextCleaner) lets each round free its predecessor
    // deterministically. State volume is tiny: one (id, component) row
    // per PAIRED node, never the corpus.
    def materialize(df: DataFrame): (DataFrame, () => Unit) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(rdd, df.schema), () => { rdd.unpersist(false); () })
    }
    // symmetric edge list; self-loops dropped (an id appearing ONLY in
    // self-pairs therefore gets no output row — it is its own trivial
    // component). Symmetrization via explode, NOT a two-branch union:
    // `pairs` is typically an expensive near-dup plan (candidate join +
    // exact verify), and a union would evaluate that whole plan once
    // per branch before the persist below can help (measured: the
    // doubled n-gram verify dominated dedup_components at sf10)
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist()
    // measure-then-choose: the edge list is fully materialized here (the
    // count doubles as the cache warm-up the loop needed anyway); small
    // long-keyed graphs resolve exactly on the driver in one pass instead
    // of O(log diameter) rounds of join jobs
    val edgeCount = edges.count()
    val longKeyed = edges.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (edgeCount <= localMaxEdges && longKeyed) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      // union-find, min id as root: union always hangs the larger root
      // under the smaller, so find(x) IS the component's minimum id —
      // identical labels to the distributed min-propagation
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labelled = parent.keysIterator
        .map(id => (id, find(id))).toSeq.sortBy(_._1)
      return spark.createDataFrame(labelled).toDF("id", "component")
    }
    var (labels, release) = materialize(
      edges.groupBy("src")
        .agg(min(col("dst")).as("min_dst"))
        .select(col("src").as("id"),
          least(col("min_dst"), col("src")).as("component")))
    var converged = false
    var it = 0
    try {
      while (!converged && it < maxIter) {
        // candidate 1: min over neighbors' current labels (1 hop)
        val viaNeighbors = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("component")).as("n_component"))
        // candidate 2: the label of my label (pointer jumping) — halves
        // chain distance each round, so convergence is O(log diameter)
        // rather than O(diameter); every label is itself a paired node,
        // so the self-join always resolves
        val viaJump = labels.as("l")
          .join(labels.select(col("id").as("component"),
            col("component").as("j_component")), Seq("component"))
          .select(col("id"), col("j_component"))
        // the OLD label rides along in the materialized state so the
        // convergence check is a filter+count over the same cached RDD —
        // not an extra join (which would re-shuffle both rounds' labels
        // every iteration)
        val (next, nextRelease) = materialize(
          labels
            .join(viaNeighbors, Seq("id"), "left")
            .join(viaJump, Seq("id"), "left")
            .select(col("id"),
              least(col("component"),
                least(coalesce(col("n_component"), col("component")),
                  coalesce(col("j_component"), col("component"))))
                .as("component"),
              col("component").as("old")))
        // this count materializes `next`'s backing RDD, so the previous
        // round can be released immediately after
        val changed = next.filter(col("component") < col("old")).count()
        release()
        labels = next.select("id", "component")
        release = nextRelease
        converged = changed == 0
        it += 1
      }
      if (!converged) {
        release() // the failure path must not orphan the last round's cache
        throw new IllegalArgumentException(
          s"label propagation did not converge in $maxIter rounds")
      }
      val last = release
      Intermediates.onRelease(spark)(last())
      labels
    } finally edges.unpersist()
  }

  /** One surviving id per near-dup cluster (the minimum id), given the
    * full node set and a pair list: nodes in no pair survive as-is;
    * within a cluster only the minimum id survives.
    */
  def resolveClusters(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // --- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: bit b is set when the sum of
    * ±1 votes (sign of token-hash bit b) is positive. The Column-level
    * reference the native [[graft.plans.TextHashExprs.simhashSig]] is
    * checked against.
    */
  def simhash(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    val hashes = transform(toks, t => xxhash64(t))
    // single pass over the token hashes accumulating all 64 bit-votes in
    // an array (xxhash64 evaluated once per token, not once per bit);
    // shift amounts are statically unrolled — they must be literals
    val votes = aggregate(
      hashes,
      array((0 until 64).map(_ => lit(0L)): _*),
      (acc, h) => array((0 until 64).map { b =>
        element_at(acc, b + 1) +
          when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)
      }: _*))
    // reference `votes` exactly ONCE — Catalyst has no let-binding, so a
    // per-bit re-reference would inline (and re-evaluate) the whole
    // aggregate 64 times
    val powers = array((0 until 64).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within blocking keys: hamming(sig) <= maxDist.
    * The internal signature cache is registered with [[Intermediates]].
    */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], maxDist: Int = 12): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist in [0, 64)")
    // signatures via the native per-row expression — a narrow projection
    // (no explode/groupBy shuffle); persisted because both join branches
    // read it (MEMORY_AND_DISK, O(n·8B))
    val t = Intermediates.persist(df.select((idCol +: blockCols).map(col) :+
      graft.plans.TextHashExprs.simhashSig(col(textCol)).as("sig"): _*))
    // LOSSLESS band blocking (Manku et al., WWW'07): split the 64 bits
    // into maxDist+1 disjoint bands — a pair within hamming maxDist
    // differs in at most maxDist bands, so BY PIGEONHOLE it agrees
    // exactly on at least one; candidates are the band equi-join, and
    // the hamming verify keeps the output identical to the all-pairs
    // block join. Without this the per-(blockCols) self-join is
    // quadratic in block occupancy (measured 91× time at 10× docs,
    // sf1→sf10, before banding)
    val nBands = maxDist + 1
    val w = 64 / nBands // first nBands-1 bands w bits; last takes the rest
    // adaptive: bands narrower than 6 bits (≤ 64 values) collide so
    // often that the explode + pair-dedup costs MORE than the plain
    // block join they replace (measured at radius 12: 170 s banded vs
    // 66 s plain at sf10) — wide radii fall back to the exhaustive
    // block join, which is also exactly the small-block regime they
    // are used in (oracle machinery, not production paths)
    if (w < 6) {
      val l = t.select(Seq(col(idCol).as("id_a"), col("sig").as("sig_a")) ++
        blockCols.map(col): _*)
      val r = t.select(Seq(col(idCol).as("id_b"), col("sig").as("sig_b")) ++
        blockCols.map(col): _*)
      l.join(r, blockCols).filter(col("id_a") < col("id_b"))
        .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
        .filter(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
    } else {
      def bandVal(sig: Column, j: Int): Column =
        if (j == nBands - 1) shiftrightunsigned(sig, j * w)
        else shiftrightunsigned(sig, j * w).bitwiseAND(lit((1L << w) - 1))
      val banded = t.select(
        (Seq(col(idCol), col("sig")) ++ blockCols.map(col)) :+
          explode(array((0 until nBands).map(j =>
            struct(lit(j).as("bj"), bandVal(col("sig"), j).as("bv"))): _*))
            .as("band"): _*)
        .select(Seq(col(idCol), col("sig"), col("band.bj").as("bj"),
          col("band.bv").as("bv")) ++ blockCols.map(col): _*)
      val l = banded.select(Seq(col(idCol).as("id_a"), col("sig").as("sig_a"),
        col("bj"), col("bv")) ++ blockCols.map(col): _*)
      val r = banded.select(Seq(col(idCol).as("id_b"), col("sig").as("sig_b"),
        col("bj"), col("bv")) ++ blockCols.map(col): _*)
      l.join(r, blockCols ++ Seq("bj", "bv"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
        .filter(col("hamming") <= maxDist)
        // a pair may agree on several bands: one row per pair (hamming
        // is functionally determined by the pair, any copy works)
        .dropDuplicates("id_a", "id_b")
        .select("id_a", "id_b", "hamming")
    }
  }
}
