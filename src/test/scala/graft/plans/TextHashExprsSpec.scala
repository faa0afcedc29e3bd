package graft.plans

import graft.SparkSpec

class TextHashExprsSpec extends SparkSpec {
  import spark.implicits._

  test("hashed_shingle_list: multiplicity kept; distinct of it IS hashed_shingles") {
    import org.apache.spark.sql.functions._
    val texts = Seq("a b a b a", "x y z x y z x y", "one two", "",
      "  padded   run\tof words  padded   run\tof words ")
    val df = texts.toDF("text")
    val rows = df.select(
      TextHashExprs.hashedShingleList($"text", 3).as("all"),
      TextHashExprs.hashedShingles($"text", 3).as("set"),
      size(split(trim($"text"), "\\s+")).as("ntok")).collect()
    rows.foreach { r =>
      val all = r.getSeq[Long](0)
      val set = r.getSeq[Long](1)
      assert(all.distinct == set, "set form is exactly distinct-of-list")
      if (all.nonEmpty) assert(all.length == r.getInt(2) - 2,
        "one element per shingle position")
    }
    // "a b a" at positions 0 and 2 must collide (same token triple)
    val aba = rows(0).getSeq[Long](0)
    assert(aba(0) == aba(2) && aba(0) != aba(1))
    // set sizes and signature shapes through the Column entry points
    val abcd = Seq("a b c d").toDF("text").select(
      size(TextHashExprs.hashedShingles($"text", 3)),
      size(TextHashExprs.hashedShingles($"text", 2)),
      size(TextHashExprs.minhashSig(TextHashExprs.hashedShingles($"text", 3), 16)))
      .collect().head
    assert(abcd.getInt(0) == 2 && abcd.getInt(1) == 3 && abcd.getInt(2) == 16)
    val sigs = graft.sources.Tables.embeddings(spark, sf001).limit(3)
      .select(HyperplaneSigs($"embedding", 64, 4, 6)).as[Seq[Long]].collect()
    assert(sigs.forall(s => s.length == 6 && s.forall(b => b >= 0 && b < 16)))
  }

}
