package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Intermediates

/** The one [[BuiltOnce]] policy every cross-session artifact shares: an
  * unreadable marker rebuilds, a failed marker write keeps the call's
  * answer and rebuilds next time, and the artifact dir ends owner-only.
  */
class BuiltOnceSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq(col("doc_id"), col("text"))
  private def corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a marker that cannot be read rebuilds instead of failing the call") {
    val dir = tmpDir("bo_unreadable")
    val marker = new Path(dir, "_graft_built")
    fs(marker).mkdirs(marker) // a directory squatting on the marker
    var builds = 0
    BuiltOnce(dir, corpus, keys) { builds += 1 }
    assert(builds == 1)
    BuiltOnce(dir, corpus, keys) { builds += 1 }
    assert(builds == 2, "still unreadable, so still absent: rebuilt")
  }

  test("a failed marker write keeps the build's result; the next call rebuilds") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftnomark.impl", classOf[NoMarkerFs].getName)
    val local = tmpDir("bo_nomark")
    var builds = 0
    def call(): String = {
      BuiltOnce(s"graftnomark:$local", corpus, keys) {
        builds += 1
        Files.createDirectories(Paths.get(local))
        Files.write(Paths.get(local, "data"), s"build $builds".getBytes("UTF-8"))
      }
      new String(Files.readAllBytes(Paths.get(local, "data")), "UTF-8")
    }
    assert(call() == "build 1")
    assert(call() == "build 2", "nothing was stamped, so the next call rebuilds")
    // control: where the marker can be written, the build runs once
    val ok = tmpDir("bo_marker_ok")
    BuiltOnce(ok, corpus, keys) { builds += 1 }
    BuiltOnce(ok, corpus, keys) { builds += 1 }
    assert(builds == 3)
  }

  test("an IVF artifact dir is owner-only after its build") {
    val data = tmpDir("bo_ivf")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .write.parquet(s"$data/embeddings.parquet")
    val idx = new Path(
      s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_${BuiltOnce.dirKey(data)}")
    try {
      SimilarityQueries.queries("sim_ivf_index_topk")(spark, data)
        .write.format("noop").mode("overwrite").save()
      assert(fs(idx).getFileStatus(idx).getPermission.toShort == 448.toShort,
        "graft_ivf_idx_* must be 0700 on a world-shared tmp")
    } finally { fs(idx).delete(idx, true); Intermediates.release(spark) }
  }
}

/** Local filesystem under the `graftnomark:` scheme whose every
  * `_graft_built` create fails — a marker write that cannot succeed.
  * Registered through `fs.graftnomark.impl`.
  */
class NoMarkerFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftnomark:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (f.getName == "_graft_built")
      throw new java.io.IOException("injected marker write fault")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}
