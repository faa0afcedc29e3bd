package graft.sources

import java.nio.file.{Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** No engine code plans a parquet read without a schema outside
  * [[ParquetRead]]: `spark.read.parquet(p)` with no schema runs a Spark
  * job to infer one. Scans `src/main/scala` for reader chains —
  * `.read`, then any `.format/.option/.options/.schema(...)` links, then
  * `.parquet(` or `.load(` (a `.load` reads parquet when the chain names
  * no format or `format("parquet")`) — that carry no `.schema(` link.
  * Comments are blanked first. A reader held in a variable is out of
  * its sight.
  */
class SchemaLessReadGuardSpec extends AnyFunSuite {

  /** Files allowed a schema-less read, with the reason. */
  private val exempt = Map(
    "graft/sources/ParquetRead.scala" ->
      "the helper itself: its fallback is Spark's own inference",
    "graft/Bench.scala" -> "tool-only: times full table reads",
    "graft/IngestBench.scala" -> "tool-only: times the ingest of a table",
    "graft/streaming/StreamingBench.scala" -> "tool-only: counts a written table")

  private val chain = ("""\.read(?![\w(])((?:\s*\.\s*(?:format|option|options|schema)""" +
    """\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*(parquet|load)\(""").r

  /** Line numbers of the schema-less parquet reads in `src`. */
  private[sources] def schemaLessReads(src: String): Seq[Int] = {
    val code = SourceScan.blankComments(src)
    chain.findAllMatchIn(code).filter { m =>
      val links = m.group(1)
      val parquet = m.group(2) == "parquet" ||
        !links.contains(".format(") || links.contains("format(\"parquet\")")
      parquet && !links.matches("""(?s).*\.\s*schema\(.*""")
    }.map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the scanner finds the schema-less read forms and nothing else") {
    val src = Seq(
      "val a = spark.read.parquet(p)",                                // 1
      "val b = spark.read.schema(s).parquet(p)",
      "val c = spark.read.option(\"basePath\", b)\n  .parquet(x: _*)", // 3
      "// spark.read.parquet(commented)",
      "val d = spark.read.format(\"parquet\").load(p)",               // 6
      "val e = spark.read.load(p)",                                    // 7
      "val f = spark.read.format(\"graft-avro\").load(p)",
      "var n = in.read(buf)",
      "/** `spark.read.parquet(dir)` in a doc */",
      "val g = s.read.option(\"k\", f(1)).schema(t).parquet(p)",
      "val h = df.sparkSession.read.parquet(dir)"                      // 12
    ).mkString("\n")
    assert(schemaLessReads(src) == Seq(1, 3, 6, 7, 12))
  }

  test("no src/main parquet read outside ParquetRead plans without a schema") {
    val root = Paths.get("src/main/scala")
    val files = SourceScan.files("src/main/scala").filter(_.toString.endsWith(".scala"))
    def rel(f: Path): String = root.relativize(f).toString.replace('\\', '/')
    assert(exempt.keys.forall(k => files.exists(rel(_) == k)), "an exemption names a missing file")
    val found = for {
      f <- files if !exempt.contains(rel(f))
      line <- schemaLessReads(SourceScan.read(f))
    } yield s"src/main/scala/${rel(f)}:$line"
    assert(found.isEmpty,
      "schema-less parquet reads (plan them with graft.sources.ParquetRead): " + found.mkString(", "))
  }
}
