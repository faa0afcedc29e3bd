package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** The L* memo (`TextQueries.longestDupLenMemo`, a [[BuiltOnce]]
  * artifact) must never serve a stale length: its stamp folds the
  * corpus CONTENT in (count + order-independent xxhash64 over
  * (doc_id, text)), so rewriting the SAME path with different documents
  * must re-search. That stamp is the only thing standing between the
  * memoization and a silent wrong answer, so it gets its own spec.
  */
class LongestDupMemoSpec extends SparkSpec {
  import spark.implicits._

  // fillers with no internal or cross-filler 8-gram repeats (each a
  // distinct-character sequence, mutually different)
  private val f1 = "abcdefghijklmnopqrst"
  private val f2 = "uvwxyz0123456789ABCD"
  private val f3 = "EFGHIJKLMNOPQRSTUVWX"
  private val f4 = "YZ!@#$%^&*()-=+[]{};"

  private def write(dir: String, shared: String): Unit =
    Seq((1L, f1 + shared + f2), (2L, f3 + shared + f4))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def lstar(dir: String): Option[Int] = {
    val rows = TextQueries.queries("text_longest_dup")(spark, dir)
      .select("len").distinct().collect()
    rows.headOption.map(_.getInt(0))
  }

  test("L* memo serves repeats and invalidates on content change") {
    val dir = tmpDir("ldmemo")
    val shared20 = "qqwweerrttyyuuiioopp" // 20 chars, no 8-gram repeat inside
    write(dir, shared20)
    assert(lstar(dir).contains(20), "corpus A: the planted 20-char dup")
    // memo hit: same content, same answer
    assert(lstar(dir).contains(20))
    // REWRITE the same path with a longer planted duplicate: the stamp
    // changes, the memo must re-search — a stale 20 here would be the
    // silent-wrong-answer failure this spec exists to catch
    val shared31 = "zzxxccvvbbnnmmasdfghjkl12345678"
    assert(shared31.length == 31)
    write(dir, shared31)
    assert(lstar(dir).contains(31), "corpus B at the same path: re-searched")
  }

  /** The memo's [[BuiltOnce]] artifact dir for `dir` at the queries'
    * (8, 600) range, and its value file.
    */
  private def artifact(dir: String) = new Path(
    s"${System.getProperty("java.io.tmpdir")}/graft_ldup_${BuiltOnce.dirKey(dir)}_8_600")
  private def valueFile(dir: String) = new Path(artifact(dir), "lstar")

  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def overwrite(p: Path, body: String): Unit = {
    val out = fs(p).create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  test("L* memo survives a fresh session via the persisted marker (r16)") {
    val dir = tmpDir("ldmemo2")
    write(dir, "qqwweerrttyyuuiioopp")
    assert(lstar(dir).contains(20))
    // the cold search persisted L* in the artifact's value file
    val file = valueFile(dir)
    assert(fs(file).exists(file), "cold search must persist L*")
    // nothing is held in the JVM, so every call reads what a fresh
    // session would. Proof the next call is served from DISK (not a
    // re-search): plant a different — wrong but well-formed — length
    // and observe it served. The artifact is trusted exactly when its
    // stamp matches the corpus content, so this "wrong" serve is only
    // reachable by editing the file, as here.
    overwrite(file, "19")
    assert(lstar(dir).contains(19), "fresh session must hit the marker, not re-search")
    // a TORN or foreign value file is a miss: re-search, never a crash
    overwrite(file, "garbage with no newline")
    assert(lstar(dir).contains(20), "corrupt marker must re-search, never crash")
    overwrite(file, s"${BuiltOnce.dirKey(dir)}|v3 n=2 x=1 s=1|8|600\n19")
    assert(lstar(dir).contains(20), "foreign (older-layout) body must re-search")
    // an Int-overflowing digit value is ALSO a miss (the length-bounded
    // parse keeps toInt total), never a crash
    overwrite(file, "99999999999")
    assert(lstar(dir).contains(20), "overflowing value must miss, never crash")
    // an I/O failure is a miss on READ: a directory squatting on the
    // value file makes open throw
    fs(file).delete(file, false)
    fs(file).mkdirs(file)
    assert(lstar(dir).contains(20), "marker I/O failure must miss, never crash")
    // ...and on WRITE: a content change re-runs the search, whose value
    // file cannot be written past the squatter — the search's answer
    // stands, and the artifact is left unstamped for the new content
    val shared31 = "zzxxccvvbbnnmmasdfghjkl12345678"
    write(dir, shared31)
    assert(lstar(dir).contains(31), "new content: re-searched despite the failed write")
    assert(!BuiltOnce.stampOf(fs(file), artifact(dir))
      .contains(TextQueries.ldupContentStamp(spark, dir)),
      "a failed value write must not stamp the artifact")
    // once the squatter is gone the next call rebuilds and stamps
    fs(file).delete(file, true)
    assert(lstar(dir).contains(31))
    assert(fs(file).exists(file))
    assert(BuiltOnce.stampOf(fs(file), artifact(dir))
      .contains(TextQueries.ldupContentStamp(spark, dir)))
  }

  test("marker directory is owner-only — including a PRE-EXISTING dir (r17 trust-boundary fix)") {
    val dir = tmpDir("ldmemo3")
    write(dir, "qqwweerrttyyuuiioopp")
    // pre-create the artifact dir at default perms: Hadoop's
    // mkdirs(path, perm) chmods only FRESH dirs, so BuiltOnce must
    // setPermission unconditionally to close the world-shared-tmp hole
    val preDir = artifact(dir)
    fs(preDir).mkdirs(preDir)
    fs(preDir).setPermission(preDir, new FsPermission(493.toShort)) // 0755
    assert(fs(preDir).getFileStatus(preDir).getPermission.toShort == 493.toShort)
    assert(lstar(dir).contains(20))
    assert(fs(preDir).exists(valueFile(dir)))
    assert(fs(preDir).getFileStatus(preDir).getPermission.toShort == 448.toShort,
      "graft_ldup_* artifact dirs must be 0700 on a world-shared tmp, " +
        "even when the dir pre-existed at default umask")
  }
}
