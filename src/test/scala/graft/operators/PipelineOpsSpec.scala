package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Ground-truth checks for the corpus-pipeline stages: BM25 against a
  * hand-computed score, chunking against enumerated windows, the
  * shuffle key against its closed form, incremental ingest against a
  * constructed history/batch pair.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bm25 matches a hand-computed score on a tiny corpus") {
    // 3 docs; query = {cat}: df(cat)=2, N=3, dl = 4,2,3 → avgdl = 3
    val docs = Seq(
      (1L, "cat sat on mat"),
      (2L, "dog barks"),
      (3L, "cat cat toy")).toDF("doc_id", "text")
    val got = Search.bm25(docs, "text", "doc_id", Seq("cat"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def score(tf: Long, dl: Long): Double =
      idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0))
    assert(got.keySet == Set(1L, 3L)) // doc 2 has no query term
    assert(math.abs(got(1L) - score(1, 4)) < 1e-12)
    assert(math.abs(got(3L) - score(2, 3)) < 1e-12)
  }

  test("bm25TopK ranks higher-tf shorter docs first, ties by id") {
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val top = Search.bm25TopK(docs, "text", "doc_id", Seq("a"), 5)
      .select("doc_id").as[Long].collect()
    assert(top.sameElements(Array(1L, 2L))) // identical scores → id order
  }

  test("chunkTokens enumerates overlapping windows incl. the short tail") {
    val docs = Seq((7L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val rows = Chunking.chunkTokens(docs, "text", "doc_id", 4, 3)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      (0L, 4L, "t0 t1 t2 t3"),
      (1L, 4L, "t3 t4 t5 t6"),
      (2L, 4L, "t6 t7 t8 t9"),
      (3L, 1L, "t9")))
  }

  test("chunkTokens with stride == size partitions exactly") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val rows = Chunking.chunkTokens(docs, "text", "doc_id", 3, 3)
      .orderBy("chunk_id").select("chunk_text").as[String].collect()
    assert(rows.toSeq == Seq("a b c", "d e f"))
  }

  test("shuffleKey matches its closed form and is partition-independent") {
    val ids = (0L until 1000L)
    val expected = ids.map(i => (i % 1000000007L * 654435747L + 40503L) % 1000000007L)
    val one = ids.toDF("id").repartition(1)
      .select(Sampling.shuffleKey(col("id"))).as[Long].collect()
    val many = ids.toDF("id").repartition(7)
      .select(Sampling.shuffleKey(col("id"))).as[Long].collect()
    assert(one.toSeq == expected)
    assert(many.sorted.toSeq == expected.sorted)
    // spreads across shards (not constant / degenerate)
    assert(expected.map(_ % 32).distinct.size == 32)
  }

  test("incrementalIngest drops seen digests, dedups batch by min id") {
    val history = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "beta"),  // replay of history → dropped
      (11L, "gamma"), // novel
      (12L, "gamma"), // in-batch dup → min id 11 wins
      (13L, "delta")).toDF("doc_id", "text")
    val got = Dedup.incrementalIngest(history, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(11L, 13L))
  }

  test("rrfFuse sums reciprocal ranks across lists, counts list hits") {
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val sem = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val got = Search.rrfFuse(Seq(lex, sem), "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(got(0)._2 - 1.0 / 61) < 1e-15 && got(0)._3 == 1)
    assert(math.abs(got(1)._2 - (1.0 / 62 + 1.0 / 61)) < 1e-15 && got(1)._3 == 2)
    assert(math.abs(got(2)._2 - 1.0 / 62) < 1e-15 && got(2)._3 == 1)
  }

  test("rrfFuse ranks a doc found by both modalities above single-modality docs") {
    val lex = Seq((10L, 1L), (11L, 2L)).toDF("doc_id", "rank")
    val sem = Seq((11L, 1L), (12L, 2L)).toDF("doc_id", "rank")
    val top = Search.rrfFuse(Seq(lex, sem), "doc_id")
      .orderBy(desc("rrf")).select("doc_id").as[Long].collect()
    assert(top.head == 11L) // rank-2 lex + rank-1 sem beats any single hit
  }

  test("pipeline ops survive empty inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Search.bm25(empty, "text", "doc_id", Seq("x")).count() == 0)
    assert(Chunking.chunkTokens(empty, "text", "doc_id", 4, 4).count() == 0)
    assert(Dedup.incrementalIngest(empty, empty, "text", "doc_id").count() == 0)
  }
}
