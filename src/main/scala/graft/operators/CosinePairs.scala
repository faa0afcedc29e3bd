package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Nullability.knownNotNull
import graft.plans.{SortedTermDot, SuffixSqMass}

/** Exact all-pairs cosine similarity join over term-frequency vectors
  * (Bayardo/Ramakrishnan/Tumkur "Scaling Up All Pairs Similarity
  * Search", WWW'07, with the L2 residual candidate bound from L2AP —
  * Anastasiu & Karypis, ICDE'14 — the weighted-cosine sibling of the
  * PPJoin prefix-filter family in [[Dedup.ngramJaccardBlocked]]).
  *
  * Documents become sparse integer tf vectors over word n-gram shingles
  * (shingles, not unigrams: the synthetic corpus has a ~31-word
  * vocabulary, so unigram vectors are dense and every pair is similar;
  * 3-gram space decorrelates unrelated documents while near-duplicates
  * keep cosine ≈ 1). Shingles are hashed to 64-bit terms at the
  * tokenizer — the same rotate-XOR-mixed token-hash identity contract
  * as the Jaccard/MinHash shingle family
  * ([[graft.plans.HashedShingleListExpr]], the multiplicity-keeping tf
  * form), so everything past the tokenizer shuffles and compares
  * longs, never strings. All arithmetic that decides the answer is integer-exact —
  * dot products and squared norms are BIGINT sums of BIGINT products —
  * and the only floating point is the final
  * `dot / (sqrt(n2_a)·sqrt(n2_b))`, identical correctly-rounded IEEE
  * ops on identical integers in any engine, so a SQL oracle replays
  * bit-for-bit modulo 64-bit shingle-hash collisions (~n²/2⁶⁵ — the
  * accepted contract everywhere the engine hashes shingles).
  *
  * Scale shape (the reason this is not a naive inverted-index
  * self-join): terms are globally ordered by (document frequency ASC,
  * term), and each document only indexes its PREFIX under that order —
  * the shortest prefix whose REMAINING suffix has L2 mass below the
  * threshold. Soundness: take a qualifying pair (cos ≥ t) and its
  * first shared term s in the global order. If s were outside a's
  * prefix, every shared term would lie in a's suffix, so
  * dot(a,b) ≤ ‖a_suffix‖·‖b‖ < t·‖a‖·‖b‖ (Cauchy-Schwarz) —
  * contradiction; hence s is in BOTH prefixes and the prefix-to-prefix
  * equi-join on the term loses no pairs. Hot shingles (large df) sort
  * LAST, so they land in suffixes and never generate candidates — the
  * candidate volume is Σ df² over RARE terms only, which is what makes
  * the join survive a corpus-scale document table.
  *
  * Two more exactness-preserving cuts keep the per-candidate cost flat:
  *
  *  - POSITIONAL L2 filter (L2AP): each exploded prefix token carries
  *    the suffix squared mass `rsq` from its position on. For a
  *    qualifying pair, the FIRST shared term (positions p in a, q in b)
  *    has every shared term at/after it on both sides, so
  *    dot ≤ ‖a[p:]‖·‖b[q:]‖ (Cauchy–Schwarz) and
  *    `rsq_a(p)·rsq_b(q) ≥ t²·n2_a·n2_b` must hold at that row — join
  *    rows failing it can be dropped with no false negatives (the
  *    pair's first-shared-term row always survives to the pair-dedup).
  *    A relative 1e-9 slack absorbs the double rounding; erring low
  *    only admits extra candidates for the exact verify to reject.
  *  - MERGE verification: survivors are verified by
  *    [[graft.plans.SortedTermDot]] — a codegen'd O(|a|+|b|) linear
  *    merge over term-sorted parallel arrays (the earlier map-probe
  *    fold was O(|a|·|b|) interpreted work per candidate, the dominant
  *    cost of the whole join).
  */
object CosinePairs {

  /** Word n-gram shingle list WITH multiplicity (unlike the hashed
    * distinct shingles in [[graft.plans.TextHashExprs]] — tf weighting
    * needs the counts). Empty for NULL text and texts shorter than n
    * tokens. The lowercased text is split a fixed number of times per
    * row, never once per shingle (see [[Dedup.ngramList]]).
    */
  def shingleList(text: Column, n: Int): Column =
    Dedup.ngramList(split(trim(lower(text)), "\\s+"), n)

  /** All document pairs with tf-cosine ≥ `threshold` over `shingleN`-gram
    * vectors: `(id_a, id_b, cosine)` with id_a < id_b, cosine exact and
    * rounded to 6 for cross-engine output stability. The per-document
    * vector cache (read by the prefix explode and both verify joins) is
    * registered with [[Intermediates]].
    *
    * `dfCap`: with it set, terms appearing in more than `dfCap`
    * documents are removed from the VECTORS (stop-shingle removal —
    * cosine over the rare-term subspace, a well-defined semantics both
    * engines can replay, not a lossy candidate heuristic). This is the
    * saturated-vocabulary guard: the prefix filter bounds candidate
    * volume by Σ df² over prefix terms, which stays subquadratic when
    * the term space grows with the corpus (Heaps' law, true of real
    * text) but degenerates when a FIXED vocabulary saturates and every
    * df scales with N — there, capping df bounds per-term join fan-out
    * at dfCap² regardless of corpus size. None = exact full-vocabulary
    * semantics (the oracle-companion form; quadratic on saturated
    * vocabularies by nature — any exact all-pairs similarity is).
    */
  def tfCosinePairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3,
      dfCap: Option[Int] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "0 < threshold <= 1")
    require(dfCap.forall(_ >= 2), "dfCap >= 2 (df=1 terms never pair)")
    // (id, term, tf) — integer term frequencies per document. Terms are
    // the native per-position rotate-XOR shingle hashes over the
    // LOWERCASED text (lowercasing is this operator's normalization
    // contract; the Jaccard family hashes case-sensitively): one O(len)
    // scan per document, and only (id, long) rows reach the groupBy.
    // The Column-HOF [[shingleList]] form is retained as the executable
    // string-semantics reference the specs replay; it materializes every
    // shingle string, which the long hashes here avoid.
    val dt = df
      .select(col(idCol).as("id"),
        explode(graft.plans.TextHashExprs.hashedShingleList(
          lower(col(textCol)), shingleN)).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
    // global term order key: document frequency. The join is by term —
    // the inverted-index build — and only (term, df) pairs shuffle.
    val dfreqAll = dt.groupBy("term").agg(count(lit(1)).as("df"))
    val dfreq = dfCap.fold(dfreqAll)(c => dfreqAll.filter(col("df") <= c))
    // per-document sorted vector state: terms ascending (df, term) so a
    // position index IS the global order; struct sort gives a total
    // order because terms are unique within a document. With dfCap the
    // inner join here IS the stop-shingle removal: capped-out terms
    // vanish from the vectors before norms/prefixes are computed.
    // `rsqs` is the per-position suffix squared mass (L2AP bound);
    // (vterms, vtfs) is the SAME vector re-sorted by term value — the
    // representation the per-candidate merge verify consumes.
    val docs = Intermediates.persist(dt.join(dfreq, "term")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("term"), col("tf"))))
        .as("ts"))
      .select(col("id"),
        transform(col("ts"), x => x("term")).as("terms"),
        transform(col("ts"), x => x("tf")).as("tfs"))
      .withColumn("rsqs", SuffixSqMass(col("tfs")))
      // n2 IS the whole-vector suffix mass — rsqs[0] — so norms, the
      // prefix bound and the join's positional bound all read the SAME
      // integer array (no second fold, no drift between derivations)
      .withColumn("n2", element_at(col("rsqs"), 1))
      .withColumn("vts", sort_array(arrays_zip(col("terms"), col("tfs"))))
      // knownNotNull: terms/tfs come from the SAME struct-sort so the
      // zip never pads — asserting element non-nullness here compiles
      // the per-candidate merge verify with no null branches
      // (SortedMergeExprs specializes on the static containsNull)
      .select(col("id"), col("terms"), col("tfs"), col("n2"), col("rsqs"),
        transform(col("vts"), x => knownNotNull(x("terms"))).as("vterms"),
        transform(col("vts"), x => knownNotNull(x("tfs"))).as("vtfs")))
    // prefix length: drop the longest TAIL whose squared mass stays
    // under t²·n2. rsqs[i] is exactly the tail mass starting at i and
    // DESCENDS in i, so the tail length is the count of positions whose
    // suffix mass is under the bound — one filter over the array
    // already computed for the positional join bound.
    val bound = lit(threshold * threshold) * col("n2").cast("double")
    val tailLen = size(filter(col("rsqs"), r => r.cast("double") < bound))
    val pre = docs
      .select(col("id"), col("n2"),
        explode(slice(arrays_zip(col("terms"), col("rsqs")),
          lit(1), size(col("terms")) - tailLen)).as("e"))
      .select(col("id"), col("n2"),
        col("e.terms").as("term"), col("e.rsqs").as("rsq"))
    // candidate pairs: prefix-to-prefix equi-join — a qualifying pair's
    // first shared term is in both prefixes (Scaladoc proof) — pruned
    // by the positional L2 bound at the matched positions. rsq/n2
    // multiply as doubles (no 64-bit overflow for any document size);
    // the relative slack covers the conversions' rounding.
    val tt = lit(threshold * threshold)
    val cands = pre.as("l")
      .join(pre.as("r"),
        col("l.term") === col("r.term") && col("l.id") < col("r.id") &&
          col("l.rsq").cast("double") * col("r.rsq").cast("double") >=
            tt * col("l.n2").cast("double") * col("r.n2").cast("double") *
              lit(1.0 - 1e-9))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact verification: BIGINT dot via one codegen'd sorted merge of
    // the term-sorted parallel arrays per candidate
    val sides = docs.select(col("id"), col("vterms"), col("vtfs"), col("n2"))
    cands
      .join(sides.select(col("id").as("id_a"), col("vterms").as("ta"),
        col("vtfs").as("fa"), col("n2").as("n2_a")), "id_a")
      .join(sides.select(col("id").as("id_b"), col("vterms").as("tb"),
        col("vtfs").as("fb"), col("n2").as("n2_b")), "id_b")
      .withColumn("cos_raw",
        // terms are sorted UNIQUE ascending by construction (the `vts`
        // struct sort over per-document-distinct terms), as the merge
        // requires
        SortedTermDot(col("ta"), col("fa"), col("tb"), col("fb"))
          .cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cosine"))
  }
}
