package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Trained hashed-feature logistic regression: determinism,
  * learnability (beats the base rate by a wide margin on the quality
  * concept), featurization correctness, and the registered violation
  * row's floor.
  */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def labeled = {
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("text"),
      (TextAnalysis.qualityScore(col("text")) >= 0.7).cast("int").as("y"),
      when(pmod(xxhash64(col("doc_id")), lit(10)) < 8, "train")
        .otherwise("holdout").as("split"))
  }

  test("featureEntries counts match the brute-force token bucketing") {
    val dim = 64
    val viaEntries = labeled.limit(50)
      .select(col("doc_id"), explode(QualityClassifier.featureEntries(col("text"), dim)).as("e"))
      .select(col("doc_id"), col("e.b").as("b"), col("e.cnt").cast("long").as("cnt"))
    val bruteForce = labeled.limit(50)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), QualityClassifier.bucketOf(col("tok"), dim).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
    assert(viaEntries.exceptAll(bruteForce).isEmpty && bruteForce.exceptAll(viaEntries).isEmpty)
  }

  test("training is bit-deterministic across runs") {
    val tr = labeled.filter(col("split") === "train")
    val m1 = QualityClassifier.train(tr, "text", "y")
    val m2 = QualityClassifier.train(tr, "text", "y")
    assert(m1.bias == m2.bias)
    assert(m1.weights.sameElements(m2.weights))
    assert(m1.mu.sameElements(m2.mu) && m1.sd.sameElements(m2.sd))
  }

  test("learned model clears the holdout accuracy floor with margin") {
    val l = labeled
    val model = QualityClassifier.train(
      l.filter(col("split") === "train"), "text", "y")
    val acc = l.withColumn("pred", QualityClassifier.prediction(col("text"), model))
      .groupBy("split")
      .agg((sum((col("pred") === col("y")).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("acc"))
      .as[(String, Double)].collect().toMap
    // prototype measured ~0.96/0.97 at both gate SFs; the registered
    // violation row uses 0.85 — assert the wide margin actually exists
    assert(acc("train") >= 0.90, s"train acc ${acc("train")}")
    assert(acc("holdout") >= 0.90, s"holdout acc ${acc("holdout")}")
    // and the trained model genuinely beats always-predict-majority
    val base = math.max(
      l.filter(col("y") === 1).count().toDouble / l.count(),
      l.filter(col("y") === 0).count().toDouble / l.count())
    assert(acc("holdout") > base + 0.1,
      s"holdout ${acc("holdout")} vs base rate $base")
  }

  test("registered violation row is empty (floor 0.85 holds end to end)") {
    val df = graft.SparkEntry.queries("text_train_classifier")(spark, dir)
    assert(df.count() === 0)
  }

  test("mini-batch GD: equal-or-better holdout accuracy at a fraction of the passes") {
    // the registered config (12 iterations over rotating 1/4 hash
    // slices ≈ 3 effective corpus passes) must match or beat 10
    // full-batch passes on held-out accuracy, and its final full-pass
    // loss must clear the learned-nothing bar by a wide margin
    // (measured: holdout 0.9787 vs 0.9787 at sf0.01, 0.9742 vs 0.9660
    // at sf0.1; loss ~0.09 vs ln2 = 0.693)
    val l = labeled.cache()
    def acc(cfg: QualityClassifier.TrainConfig): (Double, QualityClassifier.Model) = {
      val m = QualityClassifier.train(
        l.filter(col("split") === "train"), "text", "y", cfg)
      val a = l.filter(col("split") === "holdout")
        .withColumn("pred", QualityClassifier.prediction(col("text"), m))
        .agg((sum((col("pred") === col("y")).cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("acc"))
        .as[Double].head()
      (a, m)
    }
    val (accFull, _) = acc(QualityClassifier.TrainConfig())
    val (accMini, mMini) =
      acc(QualityClassifier.TrainConfig(iters = 12, batchInv = 4))
    assert(accMini >= accFull - 1e-9,
      s"mini-batch holdout $accMini must not trail full-batch $accFull")
    val loss = QualityClassifier.logLoss(
      l.filter(col("split") === "train"), "text", "y", mMini)
    assert(loss < 0.3, s"full-pass loss $loss should be far under ln2")
    l.unpersist()
    ()
  }

  test("mini-batch training is bit-deterministic and partitioning-independent") {
    val tr = labeled.filter(col("split") === "train")
    val cfg = QualityClassifier.TrainConfig(iters = 6, batchInv = 4)
    val m1 = QualityClassifier.train(tr, "text", "y", cfg)
    val m2 = QualityClassifier.train(tr.repartition(13), "text", "y", cfg)
    assert(m1.bias == m2.bias && m1.weights.sameElements(m2.weights))
  }
}
