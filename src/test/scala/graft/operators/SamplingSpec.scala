package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)

  test("systematic sample rate is exact on dense ids") {
    val n = Sampling.systematicSample(docs, col("doc_id"), 3, 4).count()
    assert(n == docs.filter($"doc_id" % 4 < 3).count())
  }

  test("stratified rates apply per stratum; unknown strata dropped") {
    val kept = Sampling.stratifiedSystematic(
      docs, col("lang"), col("doc_id"), Map("en" -> (1, 2)))
    assert(kept.select("lang").distinct().as[String].collect().toSeq == Seq("en"))
  }

  test("groupCap keeps at most cap rows per group, deterministically") {
    val keyed = docs.select(col("doc_id"), col("source"),
      Sampling.shuffleKey(col("doc_id")).as("sk"))
    val capped = Sampling.groupCap(keyed, col("source"), 5, col("sk"), col("doc_id"))
    val perGroup = capped.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(perGroup.values.forall(_ <= 5))
    // groups smaller than cap are untouched
    val sizes = keyed.groupBy("source").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (s, n) => assert(perGroup(s) == math.min(n, 5L)) }
    // re-run under a different partitioning keeps the SAME rows
    val again = Sampling.groupCap(keyed.repartition(13), col("source"), 5,
      col("sk"), col("doc_id")).select("doc_id").as[Long].collect().toSet
    assert(again == capped.select("doc_id").as[Long].collect().toSet)
    // kept rows are exactly the first-cap in (sk, doc_id) order per group
    val expected = keyed.as[(Long, String, Long)].collect()
      .groupBy(_._2).values.flatMap(_.sortBy(r => (r._3, r._1)).take(5).map(_._1)).toSet
    assert(again == expected)
  }

  test("temperatureRates: √(min/n) per stratum, binding stratum at 1.0") {
    // weights 100 vs 400 → rates 1.0 and √(100/400) = 0.5 exactly
    val df = (0 until 100).map(i => ("small", i.toLong, 1L)) ++
      (0 until 100).map(i => ("big", i.toLong, 4L))
    val rates = Sampling.temperatureRates(
      df.toDF("src", "id", "w"), col("src"), col("w"))
      .as[(String, Long, Double)].collect()
      .map { case (k, n, r) => k -> ((n, r)) }.toMap
    assert(rates("small") == ((100L, 1.0)))
    assert(rates("big") == ((400L, 0.5)))
  }

  test("temperatureMix keeps all of the binding stratum, √-rate of the rest") {
    val df = ((0 until 100).map(i => ("small", i.toLong, 1L)) ++
      (0 until 100).map(i => ("big", i.toLong, 4L))).toDF("src", "id", "w")
    val kept = Sampling.temperatureMix(df, col("src"), col("w"),
      col("id"), cycle = 20)
    val per = kept.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(per("small") == 100) // rate 1.0 → every residue kept
    assert(per("big") == 50)    // rate 0.5 → residues 0..9 of 0..19
    // deterministic under repartitioning (pure function of the data)
    val again = Sampling.temperatureMix(df.repartition(7), col("src"),
      col("w"), col("id"), cycle = 20)
      .select("src", "id").as[(String, Long)].collect().toSet
    assert(again == kept.select("src", "id")
      .as[(String, Long)].collect().toSet)
  }

  test("leakproofSplit: identical content always lands in one split") {
    // ids deliberately far apart so a row-level id-hash split WOULD
    // scatter them; every duplicate group must still agree, and NULL
    // texts form one cluster of their own (not dropped join keys)
    val docs = ((0L until 300L).map(i => (i, Some(s"unique text $i"))) ++
      Seq(5000L, 90001L, 123456L).map(i => (i, Some("the repeated article"))) ++
      Seq(7777L, 31415L).map(i => (i, Option.empty[String])))
      .toDF("doc_id", "text")
    val got = Sampling.leakproofSplit(docs, "text", "doc_id")
    assert(got.count() == docs.count()) // total assignment, no drops
    val dupSplits = got.filter(col("doc_id").isin(5000L, 90001L, 123456L))
      .select("cluster_rep", "split").distinct()
      .as[(Long, String)].collect().toSeq
    assert(dupSplits == Seq(5000L -> dupSplits.head._2),
      s"duplicate cluster split apart: $dupSplits")
    val nullSplits = got.filter(col("doc_id").isin(7777L, 31415L))
      .select("cluster_rep", "split").distinct().collect()
    assert(nullSplits.length == 1, "NULL texts must form one cluster")
    // no cluster anywhere straddles splits (the registered leak census)
    assert(got.groupBy("cluster_rep")
      .agg(countDistinct("split").as("s")).filter(col("s") > 1).isEmpty)
  }

  test("leakproofSplit matches the row-level bucket arithmetic on unique docs") {
    // with no duplicates every cluster is a singleton whose rep is the
    // doc itself, so the split must equal pipe_split_train's row-level
    // rule — the operator only ever DIFFERS where duplicates exist
    val docs = (0L until 500L).map(i => (i, s"u $i")).toDF("doc_id", "text")
    val got = Sampling.leakproofSplit(docs, "text", "doc_id")
    val rowLevel = docs.select(col("doc_id"),
      pmod(Sampling.shuffleKey(col("doc_id")), lit(1000L)).as("b"))
      .withColumn("want", when(col("b") < 900, "train")
        .when(col("b") < 950, "val").otherwise("test"))
    assert(got.join(rowLevel, "doc_id")
      .filter(col("split") =!= col("want")).isEmpty)
    assert(got.filter(col("cluster_rep") =!= col("doc_id")).isEmpty)
  }

  test("leakproofSplitNearDup: near-dup chains and exact dups share one split") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo"
    val b = base.replace("echo", "CHANGED1")   // verified near-dup of base
    val c = b.replace("november", "CHANGED2")  // near-dup of b, NOT of base
    val docs = ((0L until 200L).map(i => (i + 10000L, s"unique doc number $i body")) ++
      Seq((1L, base), (500L, base),            // exact dup pair
        (42L, b), (9001L, c),                  // transitive chain via b
        (77L, "a b")))                          // sub-shingle singleton
      .toDF("doc_id", "text")
    val (got, splitPairs) = Sampling.leakproofSplitNearDup(docs, "text", "doc_id")
    assert(got.count() == docs.count(), "total assignment, no drops")
    // the exact pair AND the transitive near-dup chain form ONE cluster
    // labelled by its min id, all in one split
    val chain = got.filter(col("doc_id").isin(1L, 500L, 42L, 9001L))
      .select("cluster_rep", "split").distinct()
      .as[(Long, String)].collect().toSeq
    assert(chain.size == 1 && chain.head._1 == 1L,
      s"exact+near-dup chain must be one min-id cluster: $chain")
    // sub-shingle docs (no signature) are their own singleton cluster
    assert(got.filter(col("doc_id") === 77L)
      .select("cluster_rep").as[Long].head == 77L)
    // the registered leak census: no cluster straddles splits
    assert(got.groupBy("cluster_rep")
      .agg(countDistinct("split").as("s")).filter(col("s") > 1).isEmpty)
    // and no VERIFIED near-dup pair straddles splits either
    val pairs = graft.operators.Dedup.minhashNearDups(docs, "text", "doc_id")
    val sa = got.select(col("doc_id").as("id_a"), col("split").as("split_a"))
    val sb = got.select(col("doc_id").as("id_b"), col("split").as("split_b"))
    assert(pairs.join(sa, "id_a").join(sb, "id_b")
      .filter(col("split_a") =!= col("split_b")).isEmpty)
    // the returned pair list IS the verified near-dup edge set
    val returned = splitPairs.as[(Long, Long)].collect().toSet
    assert(returned.contains((42L, 9001L)) &&
      returned == pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
  }
}
