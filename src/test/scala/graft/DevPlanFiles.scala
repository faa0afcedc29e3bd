package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev aid (round 17 optimization campaign): dump the
  * `.explain("formatted")` output of named queries to one file each —
  * plan artifacts read in place of a live Spark UI (`plans/r18/`). It
  * regenerates the round-17 `<query>_{before,after}.txt` set, which is
  * no longer in the tree; `git show e913dce:plans/r17/<file>` prints
  * the checked-in originals.
  *
  * Usage: `Test/runMain graft.DevPlanFiles <sfdir> <outdir> <suffix> q1,q2,... [exec]`
  * (pass `ALL` for every registered query).
  *
  * With the optional 5th arg `exec` (r18, judge r17 #4), each query is
  * additionally EXECUTED (collect) and the post-action AQE final plan —
  * the only artifact that can show runtime decisions like
  * ReusedExchange or AQE join-strategy changes, which the formatted
  * pre-execution dump cannot — is written to
  * `<query>_<suffix>_executed.txt`.
  */
object DevPlanFiles {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args(3) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val exec = args.length > 4 && args(4) == "exec"
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.get(8)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      println(s"[devplanfiles] wrote $outDir/${n}_$suffix.txt")
      if (exec) {
        df.collect() // materializes the AQE final plan in THIS QueryExecution
        Files.writeString(Paths.get(s"$outDir/${n}_${suffix}_executed.txt"),
          df.queryExecution.executedPlan.toString)
        println(s"[devplanfiles] wrote $outDir/${n}_${suffix}_executed.txt")
      }
    }
    spark.stop()
  }
}
