package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-wh")
    sys.addShutdownHook(deleteTree(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the engine's compile behaviour: each generated class once per JVM
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // same optimizer rule as production sessions (GraftSession)
    graft.plans.BandJoinRule.install(s)
    s
  }

  /** Delete `p` and everything under it, best effort: an entry that
    * is already gone or cannot be deleted is left as it is.
    */
  def deleteTree(p: Path): Unit =
    try {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toList finally s.close()
      all.reverse.foreach { e =>
        try Files.deleteIfExists(e) catch { case NonFatal(_) => () }
      }
    } catch { case NonFatal(_) => () }

  /** Delete the temp roots a suite made and the BuiltOnce artifacts
    * (`graft_<tag>_<dirKey>…` in `java.io.tmpdir`) keyed on any
    * directory under them — the only tmp entries keyed on those paths.
    */
  def deleteTmpRoots(roots: Seq[Path]): Unit = {
    val keys = roots.flatMap { r =>
      val dirs = try {
        val s = Files.walk(r)
        try s.iterator().asScala.filter(Files.isDirectory(_)).toList
        finally s.close()
      } catch { case NonFatal(_) => Nil }
      (r.resolve("out") :: dirs).map(d => graft.queries.BuiltOnce.dirKey(d.toString))
    }.toSet
    val tmp = Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val artifacts = try tmp.iterator().asScala.filter { e =>
      val name = e.getFileName.toString
      name.startsWith("graft_") && keys.exists(k => name.contains(s"_$k"))
    }.toList finally tmp.close()
    (artifacts ++ roots).foreach(deleteTree)
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  /** Data root for hand-invoked dev profiles (the ignored Dev* suites):
    * overridable via `-Dgraft.testdata=…` or GRAFT_TESTDATA so they
    * stay runnable on a checkout whose test data lives elsewhere.
    */
  def devDataRoot: String =
    sys.props.get("graft.testdata")
      .orElse(sys.env.get("GRAFT_TESTDATA"))
      .getOrElse("/root/testdata")

  private val tmpRoots = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh path that does NOT yet exist (Spark writers refuse to
    * overwrite an existing dir in default mode). Its parent is a new
    * temp root, deleted after the suite with everything under it.
    */
  def tmpDir(prefix: String): String = {
    val root = Files.createTempDirectory(prefix)
    tmpRoots.synchronized(tmpRoots += root)
    root.resolve("out").toString
  }

  override protected def afterAll(): Unit =
    try TestSpark.deleteTmpRoots(tmpRoots.synchronized(tmpRoots.toList))
    finally super.afterAll()
}
