package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Schemas
import graft.sources.Tables

class EnrichSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GraftConfig.dev

  test("enrich emits the MESSAGE_HISTORY schema") {
    val out = Enrich(Tables.messages(spark, sf0001), cfg)
    assert(out.schema.fieldNames.toSeq == Schemas.history.fieldNames.toSeq)
    val n = out.count()
    assert(n == 1000L) // nothing dropped: encryption never fails on strings
  }

  test("date_partition buckets by month and prunes on write") {
    val out = Enrich.plain(Tables.messages(spark, sf0001))
    val parts = out.select("date_partition").distinct().as[String].collect()
    assert(parts.forall(_.matches("\\d{6}M")))
    val dir = tmpDir("hist")
    out.write.partitionBy("date_partition").parquet(dir)
    val back = spark.read.parquet(dir).filter($"date_partition" === parts.head)
    assert(back.count() > 0)
  }

  test("summary is the distinct triple set") {
    val hist = Enrich.plain(Tables.messages(spark, sf0001))
    val s = Enrich.summary(hist)
    assert(s.count() == hist.select("username", "jid", "date_partition").distinct().count())
    assert(s.columns.toSeq == Seq("username", "jid", "first_date_partition"))
  }

  test("config rejects non-16-byte keys") {
    intercept[IllegalArgumentException] { GraftConfig("short", "fedcba9876543210") }
    intercept[IllegalArgumentException] { GraftConfig("0123456789abcdef", "bad") }
  }
}
