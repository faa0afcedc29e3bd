package graft

/** Dev probe: near-dup edge-list size per SF dir — the input to
  * connectedComponents' measure-then-choose strategy switch
  * (Dedup.LocalComponentsMaxEdges). `Test/runMain graft.DevEdges <dirs...>`.
  */
object DevEdges {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { d =>
      val pairs = graft.operators.Dedup.ngramJaccardBlocked(
        graft.sources.Tables.documents(spark, d), "text", "doc_id",
        Seq("lang", "source"), threshold = 0.5)
      println(s"[edges] $d = ${pairs.count()}")
      graft.operators.Intermediates.release(spark)
    }
    spark.stop()
  }
}
