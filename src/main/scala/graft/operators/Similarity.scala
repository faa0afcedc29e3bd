package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.ParquetRead

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, same contract:
  *  - brute-force cosine top-k: exact; O(|Q|·n) — the baseline and the
  *    verification oracle. Scales by broadcasting the (small) query set
  *    against the partitioned corpus — no shuffle of the corpus at all.
  *  - LSH (random hyperplane) bucketed top-k: approximate; candidates
  *    come from an equi-join on bucket signature, so corpus pairs never
  *    materialize — the 100 TB path (IVF with learned centroids would
  *    slot into the same shape: replace signature with nearest-centroid
  *    id).
  */
object Similarity {

  /** Sequential dot product in double (deterministic, engine-portable:
    * same left-to-right summation an oracle's list_sum does). Backed by
    * the native codegen'd [[graft.plans.VectorDot]] expression — an
    * interpreted zip_with+aggregate fold costs ~10× on pairwise stages.
    */
  def dot(x: Column, y: Column): Column = graft.plans.VectorDot(x, y)

  /** Vector L2 norm in double. */
  def l2norm(x: Column): Column = sqrt(dot(x, x))

  /** Cosine similarity of two float-array columns, computed in double
    * with a single sequential fold per row (deterministic, engine-
    * portable). For pairwise stages prefer precomputing `l2norm` per row
    * (see the join operators below): this form evaluates three dots per
    * pair. Zero-norm inputs yield null, never NaN (Spark sorts NaN above
    * every real value in descending order — a padded all-zeros embedding
    * would otherwise rank as everyone's #1 neighbor).
    */
  def cosine(a: Column, b: Column): Column =
    safeRatio(dot(a, b), l2norm(a) * l2norm(b))

  /** num/den with null (not NaN/Inf) when den is 0 or either is null. */
  private def safeRatio(num: Column, den: Column): Column =
    when(den > 0, num / den)

  /** Exact top-k cosine neighbors for each query vector. The query set is
    * broadcast; ranking is deterministic (score desc, neighbor id asc).
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms computed once per row BEFORE the join: each pair then costs
    // one dot, not three
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Contrastive triplet mining (the embedding-model training-data prep
    * step): for each anchor in `panel`, the hardest POSITIVE (most
    * similar candidate with the SAME label, excluding self) and the
    * hardest NEGATIVE (most similar candidate with a DIFFERENT label),
    * plus the margin between them. Anchors lacking either side are
    * dropped.
    *
    * Scale shape: the panel broadcasts, the corpus is scored in one
    * narrow pass, and the per-anchor argmaxes are `max(struct)`
    * aggregates — partial (map-side) combining means the shuffle
    * carries two structs per (anchor × input partition), never scored
    * candidate rows (contrast with the rank-window ANN paths, which
    * shuffle every candidate). Ties break deterministically: max of
    * (cos, -candidate_id) prefers the smaller id at equal cosine, and
    * no arithmetic here is order-dependent, so results are exact and
    * replay-stable.
    */
  def hardTriplets(panel: DataFrame, corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = panel.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"),
      col(vecCol).as("qv"), l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(labelCol).as("cand_label"),
      col(vecCol).as("cv"), l2norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("anchor_id") =!= col("cand_id"))
      .withColumn("cos",
        safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
    val pick = struct(col("cos").as("c"), (-col("cand_id")).as("ni"))
    scored.groupBy("anchor_id")
      .agg(
        max(when(col("cand_label") === col("anchor_label"), pick)).as("pos"),
        max(when(col("cand_label") =!= col("anchor_label"), pick)).as("neg"))
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("anchor_id"),
        (-col("pos")("ni")).as("pos_id"),
        round(col("pos")("c"), 9).as("pos_cos"),
        (-col("neg")("ni")).as("neg_id"),
        round(col("neg")("c"), 9).as("neg_cos"),
        round(col("pos")("c") - col("neg")("c"), 9).as("margin"))
  }

  /** Random-hyperplane signature: bit i = sign(v · h_i). Deterministic
    * seeded planes; `planes` controls bucket granularity (2^planes
    * buckets).
    */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int = 8, seed: Long = 7L): Column = {
    val rnd = new scala.util.Random(seed)
    val hs = Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
    // dim must match the data: a mismatch nulls every plane dot, which
    // would silently collapse ALL vectors into bucket 0 and turn the LSH
    // join into a full cross-product — fail loudly instead
    val guard = when(size(vec) =!= dim,
      raise_error(concat(lit(s"hyperplaneSignature: dim=$dim but embedding has "),
        size(vec), lit(" elements"))).cast("long"))
      .otherwise(0L)
    hs.zipWithIndex.map { case (h, i) =>
      val harr = array(h.map(lit): _*)
      when(dot(vec, harr) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ + _) + guard
  }

  /** Approximate top-k via multi-table hyperplane LSH: `tables`
    * independent signatures of `planes` bits each; a corpus vector is a
    * candidate when it shares ANY table's bucket with the query. Fewer
    * planes per table = higher per-table collision probability; more
    * tables = higher union recall. Candidates (not all pairs) are scored
    * exactly, so the pair space never materializes — the 100 TB path.
    */
  /** Shared candidate-scoring tail for the ANN paths: join prepared
    * corpus (neighbor_id, cv, cn, <joinKey>) against broadcast queries
    * (query_id, qv, qn, <joinKey>), score with precomputed norms, rank
    * deterministically, keep top-k. `dedupe` only when the candidate
    * generator can emit the same (query, neighbor) pair more than once —
    * the distinct costs a shuffle.
    */
  private def scoreCandidates(
      c: DataFrame, q: DataFrame, joinKey: String, k: Int,
      dedupe: Boolean): DataFrame = {
    val joined = c.join(broadcast(q), Seq(joinKey))
      .filter(col("query_id") =!= col("neighbor_id"))
    val unique = if (dedupe) joined.dropDuplicates("query_id", "neighbor_id") else joined
    val scored = unique
      .withColumn("cos", safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      planes: Int = 4, tables: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // all `tables` bucket signatures in ONE native pass per row
    // (graft.plans.HyperplaneSigsExpr) — the Column-per-plane form built
    // tables×planes literal-array dot trees that dominated planning and
    // codegen time; posexplode recovers the (table_id, bucket) join key
    def withKeys(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.select(col(id), col(v), col(n),
        posexplode(graft.plans.HyperplaneSigs(col(v), dim, planes, tables, 7L))
          .as(Seq("t", "b")))
        .withColumn("bucket", struct(col("t"), col("b")))
        .drop("t", "b")
    val c = withKeys(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), l2norm(col(vecCol)).as("cn")), "neighbor_id", "cv", "cn")
    val q = withKeys(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), l2norm(col(vecCol)).as("qn")), "query_id", "qv", "qn")
    // multi-table signatures DO produce duplicate pairs → dedupe
    scoreCandidates(c, q, "bucket", k, dedupe = true)
  }

  /** Binary-quantized (1-bit) ANN: pack each vector's SIGNS into
    * `array<long>` words ([[graft.plans.SignPackExpr]] — 32× smaller
    * than fp32), generate candidates by exact Hamming distance between
    * codes (XOR+POPCNT per word, [[graft.plans.HammingDistExpr]]), then
    * rerank only the best `k·rerankFactor` candidates per query with
    * the exact cosine. The sign-bit code is Charikar's SimHash for
    * vectors (STOC'02) used ASYMMETRICALLY: instead of hashing into
    * bucket tables (lossy candidate sets, `lshTopK`), every corpus row
    * gets an exact integer distance — so unlike the LSH/IVF paths the
    * whole candidate stage is integer-only and an oracle can replay it
    * bit-for-bit; the only doubles are the final rerank cosines.
    *
    * Scale shape: the query panel broadcasts (codes + vectors); the
    * corpus is scanned once, each row paying words(dim/64) XOR+POPCNTs
    * per query instead of the brute-force dim-FMA dot. Both rank
    * windows are `row_number <= n` forms, so Spark's WindowGroupLimit
    * keeps a per-partition bounded heap BELOW the shuffle — only
    * ~k·rerankFactor candidate rows per (query, partition) ever cross,
    * and the fp32 dot runs on candidates only, never the corpus.
    * Output: (query_id, rank, neighbor_id, ham, cos).
    */
  def binaryTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.plans.BinaryCodes.{hamming, signPack}
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"), signPack(col(vecCol)).as("qcode"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"), signPack(col(vecCol)).as("ccode"))
    val paired = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", hamming(col("qcode"), col("ccode")))
      // rows with null codes (null vector/element, mismatched dims)
      // are EXCLUDED before ranking: Spark's ascending default is
      // NULLS FIRST, which would seat them as every query's best
      // candidates and silently evict real ones — and the oracle
      // (NULLS LAST) would disagree
      .filter(col("ham").isNotNull)
    val hw = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("neighbor_id"))
    val cand = paired.withColumn("hrank", row_number().over(hw))
      .filter(col("hrank") <= k * rerankFactor)
    val scored = cand.withColumn("cos",
      safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
      // a zero-norm corpus vector sign-packs to a VALID all-zero code,
      // survives the Hamming prefilter, then gets NULL cos from
      // safeRatio; Spark's desc NULLS LAST would seat it last but a
      // SQL replay dividing by zero yields inf/nan and orders
      // differently — exclude degenerate candidates before ranking,
      // mirroring the null-ham exclusion above
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "ham", "cos")
  }

  /** Maximal-marginal-relevance (MMR, Carbonell & Goldstein SIGIR'98)
    * diversified top-m: greedily pick the candidate maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` — relevance minus the
    * worst redundancy against what is already selected. The
    * training-data use: a plain top-k of near-duplicate passages wastes
    * m−1 slots; MMR trades a little relevance for coverage.
    *
    * Two stages with different execution models, deliberately:
    *  1. candidate POOL — distributed exactly like [[bruteForceTopK]]
    *     (broadcast panel, WindowGroupLimit-bounded top-`poolSize` per
    *     query); this is the only stage that sees the corpus.
    *  2. greedy selection — inherently sequential (each pick changes
    *     the next argmax), but over ≤`poolSize` rows per query, so it
    *     runs as `flatMapGroups` on bounded groups: O(m·poolSize) dots
    *     per query, zero corpus data, no driver involvement. No
    *     composition of declarative ops expresses an iterated
    *     data-dependent argmax; this is the documented
    *     `mapGroups`-as-last-resort case with a hard group bound. The
    *     grouping adds one exchange beyond the pool window's, but it
    *     carries only the ≤|Q|·poolSize pooled rows — query-side
    *     traffic, independent of corpus size (riding the window's
    *     partitioning instead would be correctness-by-physical-
    *     coincidence, not worth the declared-shuffle it saves).
    *
    * Determinism / oracle parity: every cosine is the same
    * left-to-right double fold the scan stage used ([[dot]] semantics,
    * `num / (normA * normB)` association), the empty-set penalty is
    * 0.0, and ties break on the smaller neighbor id — so a SQL replay
    * (recursive CTE + LATERAL argmax) reproduces the selection
    * bit-for-bit. λ defaults to 0.5: both weights are exact binary
    * doubles, keeping `λ·rel − (1−λ)·pen` engine-exact.
    * Output: (query_id, sel_rank, neighbor_id, rel, score).
    */
  def mmrRerank(
      queries: DataFrame, corpus: DataFrame, m: Int, poolSize: Int,
      lambda: Double = 0.5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // the greedy stage needs a typed Long group key, so non-integral id
    // columns are REJECTED up front: a lossy cast("long") on e.g. a
    // string id would NULL every id, the non-null-safe pool join would
    // then drop every row, and "unsupported" would manifest as a
    // silently-empty result instead of an error
    Checks.requireIntegralId(queries, idCol, s"mmrRerank: queries id column '$idCol'")
    Checks.requireIntegralId(corpus, idCol, s"mmrRerank: corpus id column '$idCol'")
    // normalize to the group encoder's shape up front: integral ids
    // widen to long, double vectors narrow to float — so any corpus the
    // sibling operators accept works here too
    val fvec = col(vecCol).cast("array<float>") // norms from the SAME
    val q = queries.select(col(idCol).cast("long").as("query_id"), // narrowed
      fvec.as("qv"), l2norm(fvec).as("qn")) // values the greedy stage dots
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      fvec.as("cv"), l2norm(fvec).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("rel", safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
      .filter(col("rel").isNotNull)
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("neighbor_id"))
    val pool = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolSize)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("cv"))
      .as[(Long, Long, Double, Array[Float])]
    pool.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        val cand = it.toArray.sortBy(_._2) // id order; ≤ poolSize rows
        val n = cand.length
        // norms once per candidate, same sqrt(dot(v,v)) fold as l2norm
        def dotD(a: Array[Float], b: Array[Float]): Double = {
          // equal lengths REQUIRED, matching the null-on-mismatch
          // convention of VectorDot/HammingDistExpr — a truncated
          // partial dot would silently mis-rank; unreachable while the
          // pool stage filters rel-null rows, so a hit here means that
          // invariant broke and deserves a loud failure
          if (a.length != b.length) throw new IllegalStateException(
            s"mmrRerank: dimension mismatch in greedy stage " +
              s"(${a.length} vs ${b.length})")
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        }
        val nrm = cand.map(x => math.sqrt(dotD(x._4, x._4)))
        val taken = new Array[Boolean](n)
        val picks = Seq.newBuilder[(Long, Int, Long, Double, Double)]
        val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
        var step = 1
        val mm = math.min(m, n)
        while (step <= mm) {
          var best = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              // true max over the selected set (can be negative), 0.0
              // only for the empty set — matches the oracle's
              // coalesce(list_max(...), 0.0), never a clamp
              var pen = 0.0
              if (sel.nonEmpty) {
                pen = Double.NegativeInfinity
                var j = 0
                while (j < sel.length) {
                  val s = sel(j)
                  val pc = dotD(cand(i)._4, cand(s)._4) / (nrm(i) * nrm(s))
                  if (pc > pen) pen = pc
                  j += 1
                }
              }
              val score = lambda * cand(i)._3 - (1.0 - lambda) * pen
              // ties → smaller neighbor_id; cand is id-sorted so strict >
              if (best < 0 || score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          taken(best) = true
          sel += best
          picks += ((qid, step, cand(best)._2, cand(best)._3, bestScore))
          step += 1
        }
        picks.result()
      }
      .toDF("query_id", "sel_rank", "neighbor_id", "rel", "score")
  }

  /** Elementwise mean vectors per cell (IVF centroids). Computed via
    * posexplode + per-(cell, position) aggregation — scales to any
    * corpus because no vector list is ever collected per group.
    */
  def centroids(df: DataFrame, cellCol: String, vecCol: String = "embedding"): DataFrame =
    df.select(col(cellCol).as("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(exactMean(col("v")).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), transform(col("pm"), x => x.getField("m")).as("centroid"))

  /** Order-independent mean via scaled-long fixed point: each input
    * rounds deterministically to an integer number of 1e-9 units
    * (half-away-from-zero, pure primitive ops — no BigDecimal in the
    * hot loop), the long sum is exact and associative-commutative, and
    * one final division lands in double. A double `avg` would depend
    * on the shuffle-fetch merge order of partial sums (non-associative
    * float addition) — run-to-run centroid jitter that can flip a
    * borderline vector's cell and break the documented determinism of
    * the k-means path. An earlier decimal(38,15) form had the same
    * guarantee but its interpreted wide-decimal sum dominated the
    * whole k-means bench; the long sum stays inside whole-stage
    * codegen as a primitive loop.
    *
    * `count(v)` (not count(*)) keeps avg's null semantics: a null
    * element is skipped, never deflating the mean. Overflow headroom:
    * unit-scale embeddings scale to ~1e9 per element, so a group can
    * sum ~9e9 rows before nearing Long.MaxValue; the guard checks
    * count·max|scaled| and errors loudly instead of wrapping silently
    * when a group is too large or a component too big.
    */
  private def exactMean(v: Column): Column = {
    val d = v.cast("double")
    // round-half-away-from-zero to 1e-9 units: truncate-toward-zero
    // cast after a signed +-0.5 nudge, all primitive codegen
    val scaled = (d * 1e9 + when(d >= 0, 0.5).otherwise(-0.5)).cast("long")
    val n = count(v)
    val maxAbs = greatest(max(abs(scaled)), lit(1L))
    val guard = when(n > lit(Long.MaxValue) / maxAbs, raise_error(lit(
      "exactMean: fixed-point sum could overflow (group too large for 1e-9 units)"
    )).cast("long")).otherwise(lit(0L))
    (sum(scaled) + guard).cast("double") / (n.cast("double") * 1e9)
  }

  /** IVF (inverted-file) approximate top-k: vectors are assigned to
    * their nearest centroid cell once; a query scores only vectors in
    * its `nprobe` nearest cells. The cell table is tiny and broadcast;
    * the corpus is scanned by cell — the candidate set is
    * O(n·nprobe/cells) instead of O(n). Centroids here come from
    * [[centroids]] over a labeling (k-means iterations would refine the
    * same shape without changing any plan).
    */
  /** Centroid table with precomputed norms — broadcast everywhere. */
  private def withCentroidNorms(cells: DataFrame): DataFrame =
    cells.select(col("cell"), col("centroid"),
      l2norm(col("centroid")).as("centroid_n"))

  /** Nearest-cell assignment against a (broadcast) normed centroid
    * table: input rows carry a precomputed norm so each (row, cell)
    * pair costs ONE dot product, not three. Extra input columns ride
    * through untouched. Used only for the `nprobe > 1` QUERY side —
    * query sets are small, so the window shuffle is trivial; the corpus
    * side goes through the narrow [[assignTop1]] path instead.
    */
  private def assignToCells(cellsN: DataFrame)(
      df: DataFrame, id: String, vec: String, norm: String,
      keep: Int): DataFrame = {
    val scored = df.join(broadcast(cellsN))
      .withColumn("cell_sim",
        safeRatio(dot(col(vec), col("centroid")), col(norm) * col("centroid_n")))
    val w = Window.partitionBy(id).orderBy(col("cell_sim").desc, col("cell"))
    scored.withColumn("cr", row_number().over(w))
      .filter(col("cr") <= keep)
      .drop("centroid", "centroid_n", "cell_sim", "cr")
  }

  /** Collect the (tiny by construction: k rows) cell table to the
    * driver once, in ascending-cell order so matrix row i ↔ i-th
    * smallest cell id — the same ties→lowest-cell rule as the
    * join+window assignment. Returns (projected schema, rows, k×dim
    * double matrix); the rows rebuild a LocalRelation for the query
    * side so the centroid aggregation job runs exactly once per call.
    */
  private def collectCellMatrix(cells: DataFrame)
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row], Array[Array[Double]]) = {
    val projected = cells.select(col("cell"), col("centroid")).orderBy("cell")
    val rows = projected.collect()
    require(rows.nonEmpty, "ivf: empty cell table — need at least one centroid")
    val matrix = rows.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    (projected.schema, rows, matrix)
  }

  /** Narrow top-1 cell assignment for the CORPUS side: the k×dim
    * centroid matrix rides inside the native
    * [[graft.plans.NearestCentroid]] expression, so corpus rows never
    * cross an exchange (the old join+window form shuffled the whole
    * corpus — vectors included — just to learn its cell; at 100 TB
    * that exchange IS the job). `element_at` maps the matrix index
    * back to the (possibly sparse) cell ids; the Generate barrier
    * binds the k-dot scan once per row (same move as
    * [[semanticNearDups]]).
    */
  private def assignTop1(df: DataFrame, vec: String,
      cellRows: Array[org.apache.spark.sql.Row],
      matrix: Array[Array[Double]]): DataFrame = {
    val cellIds = array(cellRows.map(r => lit(r.get(0))): _*)
    df.withColumn("cell", explode(array(element_at(cellIds,
      graft.plans.NearestCentroid(col(vec), matrix) + 1))))
  }

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, cells: DataFrame, k: Int,
      nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (cellSchema, cellRows, matrix) = collectCellMatrix(cells)
    // corpus side: narrow native assignment, zero shuffle
    val c = assignTop1(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cn")),
      "cv", cellRows, matrix)
    // query side: LocalRelation rebuilt from the collected rows (no
    // recompute), broadcast join + window for the nprobe-cell fan-out
    val local = corpus.sparkSession.createDataFrame(
      cellRows.toSeq.asJava, cellSchema)
    val q = assignToCells(withCentroidNorms(local))(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn")),
      "query_id", "qv", "qn", nprobe)
    // each corpus vector sits in exactly one cell and each query probes
    // distinct cells → pairs are already unique, skip the distinct shuffle
    scoreCandidates(c, q, "cell", k, dedupe = false)
  }

  /** Build-once / query-many IVF index persisted to storage: the cell
    * table plus a postings table PARTITIONED BY cell — the inverted
    * file realized as a lakehouse directory layout, so every later
    * query panel reads only its probed cells' files via partition
    * pruning (pinned in IvfIndexSpec). The assignment pass is the same
    * narrow [[assignTop1]] map as [[ivfTopK]], paid ONCE at build
    * instead of per query panel. The one deliberate exchange here —
    * `repartition(cell)` before the write — buys a one-file-per-cell
    * layout (a straight dynamic-partition write would emit
    * tasks×cells fragments at fleet scale); it is build-time cost
    * amortized over every query served from the index. `cell` must be
    * an atomic type (it becomes a directory key).
    */
  def buildIvfIndex(corpus: DataFrame, cells: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import scala.jdk.CollectionConverters._
    val (cellSchema, cellRows, matrix) = collectCellMatrix(cells)
    val posted = assignTop1(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cn")),
      "cv", cellRows, matrix)
    posted.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/postings")
    // persist the already-collected rows, not the `cells` plan — the
    // centroid aggregation job must not run a second time
    corpus.sparkSession.createDataFrame(cellRows.toSeq.asJava, cellSchema)
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Append a corpus shard to a persisted [[buildIvfIndex]] index
    * without rebuilding — the FAISS `add` semantics: the shard is
    * assigned to the EXISTING (frozen) centroids in the same narrow
    * [[assignTop1]] pass as the build, and appended into the
    * partitioned postings layout. The dynamic-partition append touches
    * only the cell directories the shard lands in; the cell table is
    * unchanged, so concurrent readers keep a consistent codebook and
    * [[ivfIndexTopK]] immediately serves the union through the same
    * partition-pruned path. Centroid drift from many appends degrades
    * recall gracefully (cells get less tight), never correctness —
    * re-run [[buildIvfIndex]] to re-learn when the shard mass warrants
    * it.
    */
  def appendToIvfIndex(shard: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (_, cellRows, matrix) =
      collectCellMatrix(ParquetRead(shard.sparkSession, s"$path/cells"))
    val posted = assignTop1(
      shard.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cn")),
      "cv", cellRows, matrix)
    // same one-file-per-cell discipline as the build: without the
    // repartition every append multiplies per-cell fragment counts
    posted.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/postings")
  }

  /** Serve top-k from a persisted [[buildIvfIndex]] index. The probed
    * cell set (≤ |panel|·nprobe ids) is collected and pushed as a
    * static IN filter, so the postings scan plans with partition
    * filters and never lists — let alone reads — unprobed cells. No
    * corpus vector crosses an exchange at query time.
    */
  def ivfIndexTopK(queries: DataFrame, path: String, k: Int,
      nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = queries.sparkSession
    val (cellSchema, cellRows, _) =
      collectCellMatrix(ParquetRead(spark, s"$path/cells"))
    val local = spark.createDataFrame(cellRows.toSeq.asJava, cellSchema)
    val q = assignToCells(withCentroidNorms(local))(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn")),
      "query_id", "qv", "qn", nprobe)
    val probed = q.select("cell").distinct().collect().map(_.get(0))
    val posts = ParquetRead(spark, s"$path/postings")
      .filter(col("cell").isInCollection(probed.toSeq))
    scoreCandidates(posts, q, "cell", k, dedupe = false)
  }

  /** IVF top-k with int8-quantized candidate scoring and exact fp32
    * rerank — the big-corpus ANN layout: the inverted file prunes to
    * O(n·nprobe/cells) candidates, those are scored on 4×-smaller int8
    * codes (under symmetric per-vector quantization the scales cancel
    * in cosine, so the approximate score is pure integer-code
    * arithmetic), and only the top `k·rerankFactor` shortlist per query
    * is rescored against the fp32 vectors. At 100 TB the quantized
    * corpus is what streams off disk; full-precision vectors are
    * touched for k·factor rows per query.
    */
  def ivfQuantizedTopK(
      queries: DataFrame, corpus: DataFrame, cells: DataFrame, k: Int,
      nprobe: Int = 3, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor >= 1")
    import scala.jdk.CollectionConverters._
    val (cellSchema, cellRows, matrix) = collectCellMatrix(cells)
    // one native quantization pass per row; codes + code-norm are field
    // reads off the struct (qnorm = sqrt(Σc²) left-to-right, the same
    // fold vector_dot would produce)
    def prep(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        l2norm(col(vecCol)).as(n),
        Quantize.int8(col(vecCol)).as("q8"))
        .select(col(id), col(v), col(n),
          col("q8.codes").as(s"${v}q"), col("q8.qnorm").as(s"${n}q"))
    // narrow corpus assignment + LocalRelation query side, as in ivfTopK
    val c = assignTop1(prep(corpus, "neighbor_id", "cv", "cn"),
      "cv", cellRows, matrix)
    val local = corpus.sparkSession.createDataFrame(
      cellRows.toSeq.asJava, cellSchema)
    val q = assignToCells(withCentroidNorms(local))(
      prep(queries, "query_id", "qv", "qn"),
      "query_id", "qv", "qn", nprobe)
    val cand = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("acos",
        safeRatio(dot(col("qvq"), col("cvq")), col("qnq") * col("cnq")))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("acos").desc, col("neighbor_id"))
    val shortlist = cand.withColumn("ar", row_number().over(wA))
      .filter(col("ar") <= k * rerankFactor)
    val wE = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .withColumn("cos", safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Learn product-quantization codebooks (Jégou et al., TPAMI 2011):
    * the `dim`-dimensional space splits into `m` contiguous subspaces of
    * `dim/m` dims; each subspace gets its own `ksub`-entry codebook,
    * refined by `iters` Lloyd's rounds — ALL subspaces in each round are
    * learned in ONE corpus pass (encode is the narrow native
    * [[graft.plans.PqEncodeExpr]]; the update is a single aggregation of
    * at most m·ksub·dsub per-position partial means, `exactMean`-exact
    * so the learned matrix is bit-stable at any parallelism). Driver
    * state is the m×ksub×dsub codebook ((64-dim, m=8, ksub=16) → 8 KiB)
    * — the same bounded-collect discipline as [[kmeansCentroids]].
    *
    * Init: the `ksub` vectors with the smallest xxhash64(id), sliced
    * into their m subvectors — deterministic and seed-free, matching the
    * k-means init move. Empty codes keep their previous entry.
    */
  def pqCodebooks(
      df: DataFrame, dim: Int, m: Int, ksub: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1 && iters >= 0, "m >= 1, ksub >= 1, iters >= 0")
    require(dim % m == 0, s"pq: dim=$dim must split evenly into m=$m subspaces")
    val dsub = dim / m
    val spark = df.sparkSession
    import spark.implicits._
    val seeds: Array[Array[Double]] = df
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(ksub)
      .select(col(vecCol).cast("array<double>"))
      .as[Seq[Double]].collect().map(_.toArray)
    require(seeds.nonEmpty, "pqCodebooks: input corpus is empty")
    require(seeds.forall(_.length == dim),
      s"pqCodebooks: corpus vectors must have dim=$dim")
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      // short corpora (< ksub rows) recycle seeds rather than fail
      Array.tabulate(ksub)(c => seeds(c % seeds.length).slice(j * dsub, (j + 1) * dsub))
    }
    var it = 0
    while (it < iters) {
      // one narrow encode pass (Generate barrier binds the m×ksub scan
      // once per row), then per-(subspace, code, position) exact means —
      // map-side combine keeps the shuffle at m·ksub·dsub rows
      val next = df
        .withColumn("codes", explode(array(PqEncodeCol(col(vecCol), cb))))
        .filter(col("codes").isNotNull)
        .select(col("codes"), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
        .withColumn("j", (col("pos") / lit(dsub)).cast("int"))
        .withColumn("spos", pmod(col("pos"), lit(dsub)))
        .withColumn("code", element_at(col("codes"), col("j") + 1))
        .groupBy("j", "code", "spos")
        .agg(exactMean(col("v")).as("mv"))
        .as[(Int, Int, Int, Double)].collect()
      val byEntry = next.groupBy(r => (r._1, r._2))
      cb = Array.tabulate(m) { j =>
        Array.tabulate(ksub) { c =>
          byEntry.get((j, c)) match {
            case Some(rows) => rows.sortBy(_._3).map(_._4).toArray
            case None => cb(j)(c) // empty code keeps its entry
          }
        }
      }
      it += 1
    }
    cb
  }

  // thin aliases so the PQ plumbing reads at the operator level
  private def PqEncodeCol(v: Column, cb: Array[Array[Array[Double]]]): Column =
    graft.plans.PqEncode(v, cb)

  /** IVF top-k with PQ-ADC candidate scoring and exact fp32 rerank —
    * the memory-bound big-corpus layout: the inverted file prunes to
    * O(n·nprobe/cells) candidates; each candidate is scored from its m
    * one-byte PQ codes (32× smaller than fp32 at dim 64 / m 8) via the
    * query's precomputed ADC lookup table — m table reads + adds per
    * pair instead of a dim-length dot; only the top `k·rerankFactor`
    * shortlist per query touches full-precision vectors. At 100 TB the
    * PQ codes are what streams off disk: a 10⁹-vector corpus is ~8 GB
    * of codes vs 256 GB of fp32.
    *
    * Approximate score: adc_dot / (‖q‖·‖x̂‖), where x̂ is the codebook
    * reconstruction — its norm is the same m-lookup fold over a constant
    * per-entry ‖entry‖² table. Ranking ties break on neighbor id;
    * exhaustive probing with a corpus-covering shortlist degenerates to
    * exact brute force (the oracle-equivalence row).
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, cells: DataFrame,
      codebooks: Array[Array[Array[Double]]], k: Int,
      nprobe: Int = 3, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor >= 1")
    import scala.jdk.CollectionConverters._
    val ksub = codebooks.head.length
    val (cellSchema, cellRows, matrix) = collectCellMatrix(cells)
    // corpus side: narrow cell assignment + narrow PQ encode — the
    // corpus never crosses an exchange and never carries a LUT
    val c0 = assignTop1(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cn")),
      "cv", cellRows, matrix)
    val c = c0.withColumn("codes", explode(array(PqEncodeCol(col("cv"), codebooks))))
      .filter(col("codes").isNotNull)
    // query side: LocalRelation cell fan-out + per-query ADC LUT (built
    // once per query row, materialized into the broadcast relation)
    val local = corpus.sparkSession.createDataFrame(cellRows.toSeq.asJava, cellSchema)
    val q = assignToCells(withCentroidNorms(local))(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn")),
      "query_id", "qv", "qn", nprobe)
      .withColumn("lut", graft.plans.PqLut(col("qv"), codebooks))
    // constant ‖entry‖² table: reconstruction norm is the same m-lookup
    // fold as the ADC dot, against a literal array
    val normLut = typedlit(codebooks.flatMap(_.map(_.map(x => x * x).sum)).toSeq)
    val cand = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("acos", safeRatio(
        graft.plans.PqAdc(col("lut"), col("codes")),
        col("qn") * sqrt(graft.plans.PqAdc(normLut, col("codes")))))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("acos").desc_nulls_last, col("neighbor_id"))
    val shortlist = cand.withColumn("ar", row_number().over(wA))
      .filter(col("ar") <= k * rerankFactor)
    val wE = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .withColumn("cos", safeRatio(dot(col("qv"), col("cv")), col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Nearest-centroid cell id for each row of `df`, against a DRIVER-side
    * centroid array (k × dim doubles — tiny by construction; broadcast
    * as a literal-free native batch via [[graft.plans.NearestCentroid]]).
    * Ties break to the lower cell id; zero vectors go to cell 0.
    */
  def assignCells(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("cell", graft.plans.NearestCentroid(col(vecCol), centroids))

  /** Lloyd's k-means over the embedding column: `iters` rounds of
    * (assign to nearest centroid by cosine) → (recompute elementwise
    * means). Each round is one narrow pass over the corpus (the k×dim
    * centroid matrix rides inside a native expression — no join, no
    * explode) plus one aggregation of k×dim partial sums; the corpus is
    * never collected and no state beyond the centroid matrix ever
    * reaches the driver, so the shape is identical at 2k vectors and at
    * 100 TB. Initial centroids are the k vectors with the smallest
    * xxhash64(id) — deterministic, seed-free, and scan-local (a top-k,
    * not a sort). Returns (cell, centroid) for [[ivfTopK]].
    */
  def kmeansCentroids(
      df: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    var cents: Array[Array[Double]] = df
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k)
      .select(col(vecCol).cast("array<double>"))
      .as[Seq[Double]].collect().map(_.toArray)
    var it = 0
    while (it < iters) {
      // mean per (cell, position) without ever grouping whole vectors:
      // posexplode → (cell, pos) partial sums (map-side combine) →
      // k×dim rows to the driver, reassembled into the next matrix
      val next = assignCells(df, cents, vecCol)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(exactMean(col("v")).as("m"))
        .as[(Int, Int, Double)].collect()
      val byCell = next.groupBy(_._1)
      cents = cents.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) => rows.sortBy(_._2).map(_._3).toArray
          case None => cents(c) // empty cell keeps its centroid
        }
      }.toArray
      it += 1
    }
    cents.zipWithIndex.toSeq.toDF("centroid", "cell")
      .select(col("cell"), col("centroid"))
  }

  /** SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    * by nearest-seed-centroid, then search pairs only WITHIN a cluster
    * (Abbas et al. 2023, "SemDeDup" — cluster-scoped pairwise search
    * turns the O(n²) embedding-dedup problem into O(Σ cluster²)).
    *
    * Seeds are the first `k` vectors by id — deterministic and
    * oracle-replayable (swap in [[kmeansCentroids]]' matrix for learned
    * cells; the plan shape is identical). Assignment is a NARROW map via
    * the native [[graft.plans.NearestCentroid]] expression (k×dim seed
    * matrix rides inside the expression — no join, no explode), so the
    * only shuffle at any scale is the intra-cluster self-join on `cell`
    * — an equi-join, never a cartesian.
    */
  def semanticNearDups(
      df: DataFrame, k: Int, topPairs: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      alsoMatch: Seq[String] = Nil,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    // `centroids` overrides the deterministic id-seed matrix — pass
    // [[kmeansCentroids]]' collected matrix for BALANCED cells (seed
    // Voronoi cells are unbalanced, and pair cost is Σ cell²; see
    // SCALE.md). The registered queries keep seeds because the oracle
    // replays the assignment in SQL; k is ignored when overriding.
    // Assignment binds through a Generate barrier: `cell` is consumed
    // by the join key AND its implicit isnotnull filter, and Catalyst
    // has no let-binding — a plain withColumn would re-run the k-dot
    // nearest_centroid scan 2-3× per row (visible in PLANS.md before
    // this change). Same move as TextAnalysis.withFeatures
    val assigned = df.withColumn("cell", explode(array(
      graft.plans.NearestCentroid(col(vecCol),
        centroids.getOrElse(seedCentroids(df, k, idCol, vecCol))))))
    // alsoMatch columns join the equi-key (e.g. label-scoped near-dup
    // queries): pairs must agree on cell AND every listed column, which
    // only shrinks blocks — the scale shape is unchanged
    // kernel = true: the production pair stage (native per-block scan,
    // k rows out per sub-block) — bit-identical to the join form, which
    // remains the oracle-companion shape (sim_neardup_blocked)
    cosineNearDupsBlocked(assigned, "cell" +: alsoMatch, topPairs, idCol,
      vecCol, kernel = true)
  }

  /** First `k` vectors by id as a driver-side centroid matrix —
    * deterministic, oracle-replayable seeds for [[semanticNearDups]] /
    * [[clusterQuality]]. k×dim doubles of driver state — the same
    * bounded collect as the k-means init.
    */
  def seedCentroids(df: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    require(k >= 1, "k >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // orderBy+limit (a TakeOrdered, not a sort) so sparse/offset id
    // spaces still yield k seeds; on the dense testdata ids this equals
    // the oracles' `WHERE vec_id < k` replay
    val seeds = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col(idCol))
      .limit(k)
      .select(col("v"))
      .as[Seq[Double]].collect().map(_.toArray)
    // fail here with a named message instead of letting NearestCentroid's
    // require(centroids.nonEmpty) surface an opaque error downstream
    require(seeds.nonEmpty,
      "seedCentroids: input corpus is empty — no seed vectors to cluster around")
    seeds
  }

  /** Clustering diagnostics: per cell, member count and mean cosine to
    * the cell's (raw, unnormalized) centroid — the cohesion report a
    * pipeline reads before trusting cluster-scoped dedup or IVF probes.
    * Per-row cosines are rounded to 9 dp then decimal-summed, so the
    * mean is bit-stable at any parallelism (same discipline as
    * [[graft.operators.TextAnalysis.lmScore]]). Assignment is the
    * narrow native map; the only joins are a broadcast of the k-row
    * centroid table and the final k-row aggregate.
    */
  def clusterQuality(df: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
    assignCells(df, centroids, vecCol)
      .join(broadcast(cents), "cell")
      // zero-norm members (cosine undefined → null) count as 0 cohesion
      // rather than silently shrinking the mean's numerator only
      .withColumn("cos9",
        coalesce(
          round(cosine(col(vecCol).cast("array<double>"), col("centroid")), 9),
          lit(0.0))
          .cast("decimal(28,9)"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("cos9")).as("s"))
      .withColumn("mean_cos",
        round(col("s").cast("double") / col("n").cast("double"), 6))
      .select(col("cell"), col("n"), col("mean_cos"))
  }

  /** Per-group embedding outliers: the `topN` vectors FARTHEST (lowest
    * cosine) from their own group's centroid — the mislabeled-example /
    * noise-detection pass a training-data pipeline runs before trusting
    * labels (Northcutt et al. 2021 "confident learning" flags the same
    * rows from model confidences; the geometric form needs no model).
    * Centroids come from [[centroids]] (order-independent fixed-point
    * means, so the flagged set is replay-stable and cross-engine
    * exact); zero-norm vectors have undefined cosine and are excluded
    * (NULL ordering differs across engines; a zero embedding is a data
    * bug caught by its own filter, not an "outlier").
    *
    * Output: (cell, rank, idCol, cos) — rank 1 = farthest.
    *
    * 100 TB shape: the centroid pass shuffles (group, pos, long)
    * partials with map-side combine; the corpus is then scanned ONCE
    * against the broadcast ≤|groups|-row centroid table, and the
    * per-group rank is a `row_number <= topN` window — Spark plans a
    * bounded WindowGroupLimit heap below the exchange, so only
    * O(groups·topN) candidate rows ever shuffle, never the corpus.
    */
  def groupOutliers(df: DataFrame, topN: Int,
      groupCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topN >= 1, "groupOutliers: topN >= 1")
    // centroid norms are computed ONCE in the ≤|groups|-row table (the
    // qn/cn move of the top-k operators): cosine() would re-fold the
    // identical centroid self-dot for every corpus row. The den keeps
    // cosine's exact factor order (row norm × centroid norm) so scores
    // are bit-identical to the cosine() form and its oracle replay.
    val cents = centroids(df.select(col(groupCol), col(vecCol)), groupCol, vecCol)
      .withColumn("cnorm", l2norm(col("centroid")))
    val scored = df
      .select(col(groupCol).as("cell"), col(idCol),
        col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(cents), "cell")
      .withColumn("cos", safeRatio(dot(col("__v"), col("centroid")),
        l2norm(col("__v")) * col("cnorm")))
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy("cell").orderBy(col("cos").asc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("cell"), col("rank"), col(idCol), col("cos"))
  }

  /** Exact near-duplicate pairs by cosine within blocking keys (the
    * embedding analog of Dedup.ngramJaccardBlocked).
    *
    * Skew: a plain self-join on the block key runs each block's entire
    * O(size²) pair space on ONE task (the block key is the shuffle key),
    * so the single largest block sets the wall-clock — on unbalanced
    * blocks (seed-Voronoi cells; label blocks) that one straggler task
    * dominated the sf10 measurement (SCALE.md decade-2 flag). Fix: the
    * classic TRIANGLE SPLIT for distributed all-pairs — rows of a block
    * of size m are hashed into s = ⌈m / targetBlockRows⌉ sub-groups, and
    * the pair space becomes s(s+1)/2 independent (i ≤ j) sub-block
    * tasks. Each unordered pair is generated exactly once: a cross pair
    * (gx ≠ gy) only in sub-block (min,max) with the lower-group row on
    * the left, a same-group pair only in the diagonal block under
    * id < id. Output ids re-canonicalized via least/greatest, so the
    * result — and the oracle hash — is bit-identical to the naive join
    * (dot is IEEE-commutative). Replication cost is (s+1)/2 copies of
    * each row, paid ONLY by oversized blocks; for blocks under the
    * target, s = 1 and the plan degenerates to the plain equi-join.
    */
  def cosineNearDupsBlocked(
      df: DataFrame, blockCols: Seq[String], topPairs: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetBlockRows: Int = 4096, kernel: Boolean = false): DataFrame = {
    require(targetBlockRows >= 1, "targetBlockRows >= 1")
    // measured block sizes → per-row sub-split factor. One extra narrow
    // scan of `df` (k-row aggregate, broadcast back); at corpus scale the
    // quadratic pair stage this distributes dwarfs a third linear scan.
    val sizes = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
    val withS = df.join(broadcast(sizes), blockCols)
      .withColumn("_s",
        greatest(lit(1), ceil(col("_bsz") / lit(targetBlockRows))).cast("int"))
      .withColumn("_g", pmod(xxhash64(col(idCol)), col("_s")).cast("int"))
    if (kernel) return kernelPairs(withS, blockCols, topPairs, idCol, vecCol)
    val l = withS.select(Seq(col(idCol).as("id_l"), col(vecCol).as("va"),
      l2norm(col(vecCol)).as("na"), col("_g").as("_b1"),
      explode(sequence(col("_g"), col("_s") - lit(1))).as("_b2")) ++
      blockCols.map(col): _*)
    val r = withS.select(Seq(col(idCol).as("id_r"), col(vecCol).as("vb"),
      l2norm(col(vecCol)).as("nb"), col("_g").as("_b2"),
      explode(sequence(lit(0), col("_g"))).as("_b1")) ++
      blockCols.map(col): _*)
    l.join(r, blockCols ++ Seq("_b1", "_b2"))
      // diagonal sub-blocks hold the same rows on both sides: order by id.
      // Off-diagonal sub-blocks hold disjoint row sets: every (left,
      // right) combination is a distinct pair already
      .filter(col("_b1") =!= col("_b2") || col("id_l") < col("id_r"))
      .withColumn("id_a", least(col("id_l"), col("id_r")))
      .withColumn("id_b", greatest(col("id_l"), col("id_r")))
      .withColumn("cos", safeRatio(dot(col("va"), col("vb")), col("na") * col("nb")))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(topPairs)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** [[plans.CosTopPairs]] pair stage for `kernel = true`: one shuffle
    * (hash-agg on the sub-block key) collects each sub-block, the native
    * kernel scans its pair space with vectors widened to primitive
    * double[] ONCE per block instead of deserialized per pair, and only
    * k rows per sub-block reach the global top-k cut. Same triangle
    * split, same shuffle key, same result bit-for-bit (spec-pinned) —
    * the join form materializes m²/2 joined rows per block first, which
    * measured ~97% of sim_semantic_dedup's sf10 wall-clock.
    *
    * Per-task memory is one sub-block of widened vectors (≤ ~2·
    * targetBlockRows · dim doubles ≈ 50 MB at 4096×768) — bounded by
    * the same knob that bounds the join form's straggler.
    * Requires a LongType id (the kernel's pair ranking is primitive-long
    * on ids); callers with other id types use the join form.
    */
  private def kernelPairs(
      withS: DataFrame, blockCols: Seq[String], topPairs: Int,
      idCol: String, vecCol: String): DataFrame = {
    // row of group g belongs to sub-blocks {(min(x,g),max(x,g)) : x<s} —
    // exactly its s triangle cells, the diagonal (g,g) once
    val expl = withS
      .withColumn("_sb", explode(transform(
        sequence(lit(0), col("_s") - lit(1)),
        x => struct(least(x, col("_g")).as("b1"),
          greatest(x, col("_g")).as("b2")))))
      .select(Seq(col(idCol).cast("long").as("_id"), col("_g"),
        col(vecCol).as("_vec"), col("_sb.b1").as("_b1"),
        col("_sb.b2").as("_b2")) ++ blockCols.map(col): _*)
    expl.groupBy((blockCols ++ Seq("_b1", "_b2")).map(col): _*)
      .agg(collect_list(struct(col("_id"), col("_g"), col("_vec")))
        .as("_rows"))
      .select(explode(graft.plans.CosTopPairs(
        col("_rows"), col("_b1") === col("_b2"), topPairs)).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"),
        col("_p.cos").as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(topPairs)
  }
}
