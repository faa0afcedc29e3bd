package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The `graft-avro` V2 batch source: typed round-trips, sync-marker
  * split reading, decode-level column pruning, and failure modes.
  */
class AvroFileSourceSpec extends SparkSpec {
  import spark.implicits._

  private def avroDir(tag: String): String =
    tmpDir(s"graft_avro_$tag")

  private def withSQLConf[A](kv: (String, String))(body: => A): A = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }

  test("round-trip: primitives, nulls, arrays, maps, struct, timestamp, decimal") {
    val dir = avroDir("types")
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1L, CAST(0.5 AS DOUBLE), 'alpha', true, CAST(7 AS INT),
         CAST('2024-03-01 12:34:56.789012' AS TIMESTAMP), CAST('2024-03-01' AS DATE),
         CAST(12.34 AS DECIMAL(10,2)), array(1L, 2L, 3L), map('a', 1L, 'b', 2L),
         named_struct('x', 1L, 'y', 'inner'), CAST('wire' AS BINARY)),
        (2L, CAST(NULL AS DOUBLE), NULL, false, CAST(NULL AS INT),
         CAST(NULL AS TIMESTAMP), CAST(NULL AS DATE),
         CAST(NULL AS DECIMAL(10,2)), array(4L), map('c', CAST(NULL AS BIGINT)),
         named_struct('x', CAST(NULL AS BIGINT), 'y', 'only'), CAST(NULL AS BINARY))
      AS t(id, d, s, b, i, ts, dt, dec, arr, m, st, bin)""")
    AvroFiles.write(df, dir)
    val back = AvroFiles.read(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val exp = df.orderBy("id").collect().toSeq
    val got = back.orderBy("id").collect().toSeq
    // Row.equals on Map columns compares by content; binary needs care
    assert(got.length == exp.length)
    exp.zip(got).foreach { case (e, g) =>
      (0 until e.length).foreach { i =>
        (e.get(i), g.get(i)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a, b) => assert(a == b, s"col $i: $a != $b")
        }
      }
    }
  }

  test("split reads: small sync blocks + small maxPartitionBytes lose and duplicate nothing") {
    val dir = avroDir("splits")
    // ~200 KB of rows in ONE partition → one file, many 4 KiB blocks
    val df = spark.range(20000).select($"id",
      concat(lit("payload_"), $"id").as("s")).coalesce(1)
    AvroFiles.write(df, dir, syncInterval = 4 * 1024)
    withSQLConf("spark.sql.files.maxPartitionBytes" -> (16 * 1024).toString) {
      val back = AvroFiles.read(spark, dir)
      val parts = back.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.partitions.size
      }.getOrElse(0)
      assert(parts > 4, s"expected many byte-range splits, got $parts")
      assert(back.count() == 20000)
      assert(back.agg(sum($"id")).as[Long].head() == 20000L * 19999 / 2)
      // every row exactly once
      assert(back.groupBy("id").count().filter($"count" =!= 1).count() == 0)
    }
  }

  test("column pruning reaches the scan: readSchema carries only requested fields") {
    val dir = avroDir("prune")
    val df = spark.range(100).select($"id",
      concat(lit("wide_"), $"id").as("wide"),
      ($"id" * 2).as("narrow"))
    AvroFiles.write(df, dir)
    val q = AvroFiles.read(spark, dir).select($"narrow")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("narrow"),
      s"pruning must reach the avro reader schema: ${scan.scan.readSchema()}")
    assert(q.agg(sum($"narrow")).as[Long].head() == 9900L)
  }

  test("deflate-coded files read back identically") {
    val dir = avroDir("deflate")
    val df = spark.range(1000).select($"id", lit("zzzzzzzzzz").as("pad"))
    AvroFiles.write(df, dir, deflate = true)
    assert(AvroFiles.read(spark, dir).count() == 1000)
    assert(AvroFiles.read(spark, dir).agg(sum($"id")).as[Long].head() == 499500L)
  }

  test("empty frame round-trips schema; missing path fails loudly") {
    val dir = avroDir("empty")
    val df = spark.range(0).select($"id", lit("x").as("s"))
    AvroFiles.write(df, dir)
    val back = AvroFiles.read(spark, dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(back.count() == 0)
    val e = intercept[Exception](
      AvroFiles.read(spark, "/nonexistent_graft_avro").schema)
    assert(e.getMessage.contains("does not exist"))
  }

  test("multi-partition write produces one part file per non-empty partition") {
    val dir = avroDir("parts")
    val df = spark.range(0, 1000, 1, 8).select($"id")
    AvroFiles.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length == 8)
    assert(AvroFiles.read(spark, dir).count() == 1000)
  }

  test("schema evolution: added nullable columns resolve to null on old files") {
    val dir = avroDir("evolve_add")
    AvroFiles.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    val evolved = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("score", DoubleType), // added after these files were written
      StructField("tags", ArrayType(StringType))))
    val back = spark.read.format("graft-avro").schema(evolved).load(dir)
      .orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(back.forall(r => r.isNullAt(2) && r.isNullAt(3)))
    // a non-nullable added column cannot be defaulted — loud failure
    val bad = StructType(Seq(StructField("id", LongType),
      StructField("must_exist", LongType, nullable = false)))
    val e = intercept[Exception] {
      spark.read.format("graft-avro").schema(bad).load(dir).collect()
    }
    assert(e.getMessage.contains("must_exist") ||
      Option(e.getCause).exists(_.getMessage.contains("must_exist")))
  }

  test("schema evolution: int->long / float->double promotion per the avro spec") {
    val dir = avroDir("evolve_promote")
    AvroFiles.write(
      Seq((1, 1.5f), (2, 2.5f)).toDF("n", "x"), dir) // written narrow
    val wide = StructType(Seq(
      StructField("n", LongType), StructField("x", DoubleType)))
    val back = spark.read.format("graft-avro").schema(wide).load(dir)
      .orderBy("n").collect()
    assert(back.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
  }

  test("schema evolution: files from different schema generations read uniformly") {
    // the 100 TB case: a table directory whose old files predate a column
    val oldDir = avroDir("evolve_gen_old")
    val dir = avroDir("evolve_gen")
    AvroFiles.write(Seq((1L, "old")).toDF("id", "name"), oldDir)
    AvroFiles.write(Seq((2L, "new", 0.9)).toDF("id", "name", "score"), dir)
    val old = new java.io.File(oldDir).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    java.nio.file.Files.copy(old.toPath,
      new java.io.File(dir, "part-aa-old-gen.avro").toPath)
    val merged = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = spark.read.format("graft-avro").schema(merged).load(dir)
      .orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getLong(0) == 1L && back(0).isNullAt(2)) // old generation
    assert(back(1).getLong(0) == 2L && back(1).getDouble(2) == 0.9)
  }
}
