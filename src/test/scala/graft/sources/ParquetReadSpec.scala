package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sink.ParquetUpsertSink

/** [[ParquetRead]] plans a read with no Spark job, with the schema
  * Spark's own inference gives, and Spark's own errors where it cannot.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  /** Descriptions of the jobs started while `body` planned, counted by
    * a listener and drained with a marker job (delivered after every
    * earlier event).
    */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    def drain(mark: String): Unit = {
      sc.setJobDescription(mark)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains(mark)) {
        assert(System.nanoTime() < deadline, s"listener never saw $mark")
        Thread.sleep(10)
      }
    }
    sc.addSparkListener(listener)
    try {
      drain("parquet-read start")
      jobs.clear()
      body
      drain("parquet-read end")
    } finally sc.removeSparkListener(listener)
    jobs.toArray.toSeq.map(_.toString).filterNot(_.startsWith("parquet-read "))
  }

  /** A history table as the stream writes it: partitioned by month. */
  private def historyTable(): String = {
    val path = tmpDir("pr_history")
    val sink = new ParquetUpsertSink(spark, path, Some("date_partition"))
    sink.upsert(Seq(("m1", "u1", 10L, "202401M"), ("m2", "u2", 20L, "202402M"),
      ("m3", "u1", 30L, "202402M")).toDF("message_id", "username", "sent_time", "date_partition"),
      Seq("message_id"), "sent_time")
    path
  }

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "nation" -> Tables.nation, "region" -> Tables.region,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings,
    "events" -> Tables.events, "messages" -> Tables.messages)

  test("planning a history read and every Tables loader launches no Spark job") {
    val path = historyTable()
    val sink = new ParquetUpsertSink(spark, path, Some("date_partition"))
    assert(jobsDuring {
      sink.read().filter(col("username") === "u1" && col("date_partition") === "202402M")
    }.isEmpty, "ParquetUpsertSink.read() planned with a Spark job")
    for ((name, load) <- loaders)
      assert(jobsDuring(load(spark, sf0001)).isEmpty, s"Tables.$name planned with a Spark job")
    // the read still returns the rows
    assert(sink.read().filter(col("username") === "u1").count() == 2)
  }

  /** The schema, or the error's condition (else class), of a planning. */
  private def outcome(plan: => DataFrame): Either[String, StructType] =
    try Right(plan.schema) catch {
      case e: AnalysisException => Left(Option(e.getCondition).getOrElse(e.getClass.getName))
      case e: Exception => Left(e.getClass.getName)
    }

  private def sameAsSpark(path: String): Unit = {
    val ours = outcome(ParquetRead(spark, path))
    assert(ours == outcome(spark.read.parquet(path)), path)
  }

  test("the footer schema equals Spark's inferred schema on every testdata table") {
    for (sf <- Seq(sf0001, sf001);
         f <- new java.io.File(sf).listFiles().map(_.getName).sorted
         if f.endsWith(".parquet")) {
      sameAsSpark(s"$sf/$f")
      assert(ParquetRead.footerSchema(spark, Seq(s"$sf/$f")).isDefined, s"$sf/$f fell back")
    }
  }

  test("a date_partition table keeps its partition column last, with the same type") {
    val path = historyTable()
    sameAsSpark(path)
    val s = ParquetRead(spark, path).schema
    assert(s.last == StructField("date_partition", StringType))
    assert(ParquetRead.footerSchema(spark, Seq(path)).isDefined)
    // the multi-root form equals Spark's basePath read
    val parts = Seq(s"$path/date_partition=202402M", s"$path/date_partition=202401M")
    val ours = ParquetRead.under(spark, path, parts)
    val theirs = spark.read.option("basePath", path).parquet(parts: _*)
    assert(ours.schema == theirs.schema)
    assert(ours.collect().toSet == theirs.collect().toSet)
  }

  test("events keeps Spark's schema with nanosAsLong on and off") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    try for (v <- Seq("true", "false")) {
      spark.conf.set(key, v)
      sameAsSpark(s"$sf0001/events.parquet")
      sameAsSpark(s"$sf001/events.parquet")
    } finally spark.conf.set(key, prev)
    assert(Tables.events(spark, sf0001).schema("ts").dataType == TimestampType)
  }

  test("nested struct, array and map columns keep Spark's schema") {
    val path = tmpDir("pr_nested")
    Seq((1L, ("a", Seq(1.5, 2.5)), Map("k" -> Seq(1, 2)), Seq(("x", 3L))))
      .toDF("id", "s", "m", "arr")
      .write.parquet(path)
    sameAsSpark(path)
    assert(ParquetRead(spark, path).collect().toSeq == spark.read.parquet(path).collect().toSeq)
  }

  test("missing, empty, _SUCCESS-only and corrupt-footer reads fail as Spark fails") {
    val missing = tmpDir("pr_missing")
    val empty = tmpDir("pr_empty"); Files.createDirectories(Paths.get(empty))
    val success = tmpDir("pr_success"); Files.createDirectories(Paths.get(success))
    Files.write(Paths.get(success, "_SUCCESS"), Array.emptyByteArray)
    for ((p, cond) <- Seq(missing -> "PATH_NOT_FOUND", empty -> "UNABLE_TO_INFER_SCHEMA",
        success -> "UNABLE_TO_INFER_SCHEMA")) {
      assert(ParquetRead.footerSchema(spark, Seq(p)).isEmpty)
      assert(outcome(ParquetRead(spark, p)) == Left(cond), p)
      assert(outcome(spark.read.parquet(p)) == Left(cond), p)
    }
    // the first footer in path order is not parquet: Spark's error
    val corrupt = tmpDir("pr_corrupt")
    spark.range(3).write.parquet(corrupt)
    Files.write(Paths.get(corrupt, "a-corrupt.parquet"), "not parquet".getBytes("UTF-8"))
    assert(ParquetRead.footerSchema(spark, Seq(corrupt)).isEmpty)
    val ours = intercept[Exception](ParquetRead(spark, corrupt))
    val theirs = intercept[Exception](spark.read.parquet(corrupt))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getMessage.contains("a-corrupt.parquet") && theirs.getMessage.contains("a-corrupt.parquet"))
  }
}
