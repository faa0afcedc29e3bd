package graft

/** Dev-only micro-harness for lm scoring (not part of the driver
  * contract): times the token-cached form with and without an eager
  * checkpoint of its result, on one sf dir.
  */
object DevLm {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.get(GraftSession.envCpus)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    docs.count() // warm
    def time(tag: String)(f: => Unit): Unit = {
      val samples = (1 to 5).map { _ =>
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[devlm] $tag%-24s median ${samples.sorted.apply(2)}%.3f s (${samples.map(s => f"$s%.2f").mkString(",")})")
    }
    def lm() = graft.operators.TextAnalysis.lmScore(docs, "text", "doc_id")
    val release = () => graft.operators.Intermediates.release(spark)
    time("cached + checkpoint") {
      try lm().orderBy("doc_id").localCheckpoint(true).count() finally release()
      ()
    }
    time("cached, count only") {
      try lm().count() finally release()
      ()
    }
    spark.stop()
  }
}
