package graft

import java.nio.file.Path

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every public name in `src/main` has a caller outside the specs. The
  * scan covers top-level public types, and the public `def`/`val`
  * members of top-level `object`s (class members implement Spark
  * interfaces and are out of scope). A name counts as used when some
  * file of `src/main`, `perfbench/src` or `tools` mentions it outside a
  * declaration; specs do not count. Comments are blanked first. The
  * match is by name, so a name that another identifier shares counts as
  * used; `apply`, `main`, `implicit` and `override` members are skipped,
  * because their callers do not name them.
  */
class ZeroCallerGuardSpec extends AnyFunSuite {

  /** Names that stay without a caller, with the reason. */
  private val keep = Map(
    "GenData" -> "entry point: `runMain graft.GenData <sf> <dir>` generates test data",
    "MessageFunctions.tryDecryptStanza" ->
      "reference parity row X2: Encryptor's catch-all turns undecryptable input into null",
    "MessageTypes.nameToCode" ->
      "the reference's 18 declared constants (MessageType.java:6-24) that the taxonomy spec checks",
    "CosinePairs.shingleList" -> "Column reference form the native shingle expressions are compared against",
    "Dedup.minhashSignature" -> "Column reference form the native MinHash is compared against",
    "Dedup.hashedShinglesHof" -> "Column reference form the native hashed shingles are compared against",
    "Dedup.simhash" -> "Column reference form the native SimHash is compared against",
    "TextAnalysis.meanTokenLen" -> "Column reference form the native text features are compared against",
    "TextAnalysis.qualityScore" -> "Column reference form the native text features are compared against",
    "TextAnalysis.langScore" -> "Column reference form the native text features are compared against",
    "TextAnalysis.langId" -> "Column reference form the native language markers are compared against",
    "SubstringDedup.hasDupOfLen" -> "spec oracle: maximality of the longest-duplicate search",
    "Quantize.int8Error" -> "spec oracle: the int8 round-trip error bound",
    "QualityClassifier.logLoss" -> "spec oracle: the trained classifier's loss",
    "Retention" -> "ROADMAP direction 1: the TTL form the table store is to apply",
    "Retention.compact" -> "ROADMAP direction 1: the TTL form the table store is to apply",
    "CorpusIngest.startNearDup" -> "ROADMAP direction 1: the streaming corpus ingest the table store lifts from",
    "MessagePipeline.decodeWithDeadLetter" ->
      "ROADMAP direction 2: the dead-letter split whose counts the pipeline is to publish")

  private val topLevel =
    """(?m)^((?:private|protected)\S*\s+)?(?:(?:final|sealed|abstract|case|implicit)\s+)*(class|trait|object)\s+(\w+)""".r
  private val member =
    """^  ((?:(?:@\w+|override|final|implicit|lazy|private\S*|protected\S*)\s+)*)(?:def|val)\s+(\w+).*""".r

  /** The public names `code` (comments blanked) declares: top-level
    * types by name, members of top-level objects as `Object.member`.
    */
  private def declared(code: String): Seq[String] =
    topLevel.findAllMatchIn(code).filter(_.group(1) == null).toSeq.flatMap { m =>
      val name = m.group(3)
      // an object's members are its two-space-indented lines, up to the
      // next line that starts at column 0 (its `}` or the next definition)
      val body = if (m.group(2) != "object") Nil
        else code.substring(m.end).linesIterator.drop(1)
          .takeWhile(l => l.isEmpty || l.head.isWhitespace).toSeq
      name +: body.collect {
        case member(mods, n) if n != "apply" && n != "main" &&
            !Seq("private", "protected", "override", "implicit").exists(mods.contains) =>
          s"$name.$n"
      }
    }

  /** The names declared in `sources` that no text of `corpus` uses:
    * every occurrence of the name is a declaration.
    */
  private def zeroCaller(sources: Seq[String], corpus: Seq[String]): Seq[String] = {
    def count(re: Regex): Map[String, Int] =
      corpus.flatMap(re.findAllMatchIn(_).map(m => m.group(m.groupCount))).groupMapReduce(identity)(_ => 1)(_ + _)
    val words = count("""\w+""".r)
    val decls = count("""\b(?:def|val|var|class|trait|object|type)\s+(\w+)""".r)
    sources.flatMap(declared).distinct.filter { q =>
      val n = q.split('.').last
      words.getOrElse(n, 0) <= decls.getOrElse(n, 0)
    }
  }

  test("the scanner reports exactly the public names nothing uses") {
    val src = Seq(
      "object Used {",
      "  def called(x: Int): Int = x",
      "  def orphan: Int = 1",
      "  val orphanVal = 2",
      "  private def hidden = 3",
      "  private[graft] val scoped = 4",
      "  override def toString = \"Used\"",
      "  implicit val enc: Int = 5",
      "  def apply(): Int = 6",
      "  object Nested { def inner = 7 }",
      "  // def commented = 8",
      "}",
      "final case class Orphan(a: Int)",
      "private class Hidden",
      "object Braceless extends Used.type",
      "class Widget {",
      "  def classMember = 9",
      "}").mkString("\n")
    val caller = "val y = Used.called(1) + Widget.toString + Braceless"
    val code = SourceScan.blankComments(src)
    assert(declared(code) == Seq("Used", "Used.called", "Used.orphan", "Used.orphanVal",
      "Orphan", "Braceless", "Widget"))
    assert(zeroCaller(Seq(code), Seq(code, caller)) == Seq("Used.orphan", "Used.orphanVal", "Orphan"))
  }

  test("every public src/main name has a caller outside the specs") {
    def text(f: Path): String =
      if (f.toString.endsWith(".scala")) SourceScan.blankComments(SourceScan.read(f)) else SourceScan.read(f)
    val sources = SourceScan.files("src/main/scala").filter(_.toString.endsWith(".scala")).map(text)
    val corpus = sources ++
      (SourceScan.files("src/main/resources") ++ SourceScan.files("perfbench/src") ++
        SourceScan.files("tools")).map(text)
    val found = zeroCaller(sources, corpus)
    assert((keep.keySet -- found).isEmpty,
      "keep-map entries that now have a caller or are gone: " + (keep.keySet -- found).toSeq.sorted.mkString(", "))
    assert((found.toSet -- keep.keySet).isEmpty,
      "public names in src/main that only specs use (delete them, or keep one with a reason): " +
        (found.toSet -- keep.keySet).toSeq.sorted.mkString(", "))
  }
}
