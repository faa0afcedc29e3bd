package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Persisted IVF index: build-once layout, partition-pruned serving,
  * and exact agreement with the in-memory inverted file.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val dir = {
    val d = tmpDir("graft_ivf_spec")
    Similarity.buildIvfIndex(emb, Similarity.centroids(emb, "label"), d)
    d
  }

  // descend through AQE wrappers (AdaptiveSparkPlanExec + materialized
  // query stages are leaves to TreeNode.collect)
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
    }.flatten

  private def postingsScans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    allScans(df.queryExecution.executedPlan).filter(
      _.metadata.get("Location").exists(_.contains("postings")))
  }

  test("persisted index serves the same top-k as the in-memory inverted file") {
    val queries = emb.filter(col("vec_id") < 10)
    val fromIndex = Similarity.ivfIndexTopK(queries, dir, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toString)
    val inMemory = Similarity.ivfTopK(queries, emb,
        Similarity.centroids(emb, "label"), k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toString)
    assert(fromIndex.sameElements(inMemory))
  }

  test("serving reads only probed cells: partition filters prune the postings scan") {
    // a single query probing 2 of the 10 label cells must plan the
    // postings read with a partition filter on cell — at 100 TB this
    // pruning IS the difference between an index probe and a table scan
    val one = emb.filter(col("vec_id") === 3)
    val df = Similarity.ivfIndexTopK(one, dir, k = 5, nprobe = 2)
    val scans = postingsScans(df)
    assert(scans.nonEmpty, "expected a postings file scan")
    val scan = scans.head
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("cell")),
      scan.metadata.toString)
    // the pruned read touches at most nprobe of the 10 cell directories
    assert(scan.selectedPartitions.partitionCount <= 2,
      s"expected <= 2 probed cells, read ${scan.selectedPartitions.partitionCount}")
  }

  test("append: shard joins the index in place; union served, codebook frozen") {
    // build from the first half only, append the second half, and the
    // served results must equal an index built from everything at once
    // (same frozen centroids → identical assignment → identical serve)
    val d2 = tmpDir("graft_ivf_app")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    Similarity.buildIvfIndex(half, Similarity.centroids(emb, "label"), d2)
    val cellsBefore = spark.read.parquet(s"$d2/cells").collect().map(_.toString).sorted
    Similarity.appendToIvfIndex(rest, d2)
    // cell table untouched by the append
    val cellsAfter = spark.read.parquet(s"$d2/cells").collect().map(_.toString).sorted
    assert(cellsBefore.sameElements(cellsAfter))
    // postings now cover the full corpus exactly once
    val posts = spark.read.parquet(s"$d2/postings")
    assert(posts.count() == emb.count())
    assert(posts.select("neighbor_id").distinct().count() == emb.count())
    // and the appended index serves exactly what the all-at-once index
    // serves (dir is built from the same centroid table over full emb)
    val queries = emb.filter(col("vec_id") < 10)
    val appended = Similarity.ivfIndexTopK(queries, d2, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toString)
    val oneShot = Similarity.ivfIndexTopK(queries, dir, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toString)
    assert(appended.sameElements(oneShot))
  }

  test("index layout: one directory per cell, postings cover the corpus exactly") {
    val cells = spark.read.parquet(s"$dir/cells")
    val posts = spark.read.parquet(s"$dir/postings")
    assert(cells.count() == 10) // one per label
    assert(posts.count() == emb.count()) // every vector posted once
    assert(posts.select("neighbor_id").distinct().count() == emb.count())
    // every posting's cell exists in the cell table
    assert(posts.join(cells.select("cell"), Seq("cell"), "left_anti").count() == 0)
  }

  test("append is incremental at file level: untouched cells' files never rewritten") {
    // the FAISS-add promise made concrete in the lakehouse layout: an
    // appended shard may only ADD files under the cell directories it
    // lands in — every pre-existing postings file must survive
    // byte-identical (same path, same length), and with the
    // one-file-per-cell repartition discipline the delta is exactly one
    // new file in the single landed cell
    val d3 = tmpDir("graft_ivf_delta")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 5),
      Similarity.centroids(emb, "label"), d3)
    def fileMap(): Map[String, Long] = {
      val base = java.nio.file.Paths.get(d3, "postings")
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
      finally s.close()
    }
    val before = fileMap()
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") === 3), d3) // 1 vector
    val after = fileMap()
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz),
        s"pre-existing postings file $p changed or vanished on append")
    }
    val added = after.keySet -- before.keySet
    assert(added.size == 1, s"one-vector append must add exactly one file: $added")
    val touchedCells = added.map(_.split('/').head)
    assert(touchedCells.size == 1, s"append touched ${touchedCells.size} cells")
    // and the landed cell is the one the frozen codebook assigns
    val assigned = spark.read.parquet(s"$d3/postings")
      .filter(col("neighbor_id") === 3).select("cell").collect().map(_.get(0))
    assert(assigned.length == 1 &&
      touchedCells.head == s"cell=${assigned.head}")
  }
}
