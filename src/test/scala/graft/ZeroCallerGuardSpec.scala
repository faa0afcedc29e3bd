package graft

import java.nio.file.Path

import org.scalatest.funsuite.AnyFunSuite

/** Every public name in `src/main` has a caller outside the specs. The
  * scan covers top-level public types, and the public `def`/`val`
  * members of top-level `object`s (class members implement Spark
  * interfaces and are out of scope). The texts searched are the files of
  * `src/main`, `perfbench/src` and `tools`; specs do not count, and
  * comments are blanked first.
  *  - A type is used when some text mentions its name outside a
  *    declaration.
  *  - A member `Obj.m` is used when some text names it as `Obj.m`, when a
  *    file that imports `Obj`'s members (`import ….Obj._`, `….Obj.{…}`,
  *    `….Obj.m`) mentions `m` outside a declaration, or when its own
  *    file does so other than as `x.m`. A member whose name is a common
  *    word (`x.m` on some other value) is therefore not taken as used.
  *
  * `apply`, `main`, `implicit` and `override` members are skipped,
  * because their callers do not name them.
  */
class ZeroCallerGuardSpec extends AnyFunSuite {

  /** Names that stay without a caller, with the reason. */
  private val keep = Map(
    "GenData" -> "entry point: `runMain graft.GenData <sf> <dir>` generates test data",
    "SparkEntry.entry" -> "entry point (README layout): external callers invoke `graft.SparkEntry.entry` by name",
    "Schemas.history" -> "the MESSAGE_HISTORY schema that EnrichSpec checks Enrich's output against",
    "MessageFunctions.tryDecryptStanza" ->
      "reference parity row X2: Encryptor's catch-all turns undecryptable input into null",
    "MessageTypes.nameToCode" ->
      "the name→code direction of the reference's taxonomy (MessageType.java:6-24) that the taxonomy spec checks",
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
    "Retention.live" -> "ROADMAP direction 1: the TTL form the table store is to apply",
    "Retention.compact" -> "ROADMAP direction 1: the TTL form the table store is to apply",
    "CorpusIngest.start" -> "ROADMAP direction 1: the streaming corpus ingest the table store lifts from",
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

  private val word = """\w+""".r
  private val declaration = """\b(?:def|val|var|class|trait|object|type)\s+(\w+)""".r
  private val qualified = """\b(\w+)\s*\.\s*(?=(\w+))""".r
  private val memberImport = """\bimport\s+(?:[\w.]*\.)?(\w+)\.(?:_|\{|\w)""".r

  private def counts(names: Iterator[String]): Map[String, Int] =
    names.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** What one text says about the names it mentions. */
  private final class Text(code: String) {
    val words: Map[String, Int] = counts(word.findAllIn(code))
    val decls: Map[String, Int] = counts(declaration.findAllMatchIn(code).map(_.group(1)))
    /** Mentions of a name with no `.` directly before it. */
    val bare: Map[String, Int] = counts(word.findAllMatchIn(code).filter { m =>
      var i = m.start - 1
      while (i >= 0 && code(i).isWhitespace) i -= 1
      i < 0 || code(i) != '.'
    }.map(_.matched))
    val pairs: Set[(String, String)] =
      qualified.findAllMatchIn(code).map(m => (m.group(1), m.group(2))).toSet
    val importsMembersOf: Set[String] = memberImport.findAllMatchIn(code).map(_.group(1)).toSet
    def bareUse(n: String): Boolean = bare.getOrElse(n, 0) > decls.getOrElse(n, 0)
  }

  /** The names declared in `sources` that nothing in `sources` or
    * `others` uses, by the rules of the class doc.
    */
  private def zeroCaller(sources: Seq[String], others: Seq[String]): Seq[String] = {
    val own = sources.map(new Text(_))
    val texts = own ++ others.map(new Text(_))
    def total(f: Text => Map[String, Int], n: String) = texts.map(f(_).getOrElse(n, 0)).sum
    def used(q: String, home: Text): Boolean = q.split('.') match {
      case Array(t) => total(_.words, t) > total(_.decls, t)
      case Array(obj, m) =>
        texts.exists(_.pairs((obj, m))) || home.bareUse(m) ||
          texts.exists(t => (t ne home) && t.importsMembersOf(obj) && t.bareUse(m))
    }
    sources.indices.flatMap(i => declared(sources(i)).map(_ -> own(i)))
      .distinctBy(_._1).collect { case (q, home) if !used(q, home) => q }
  }

  test("the scanner reports exactly the public names nothing uses") {
    val src = Seq(
      "object Used {",
      "  def called(x: Int): Int = x + local",
      "  def orphan: Int = 1",
      "  val orphanVal = 2",
      "  private def hidden = 3",
      "  private[graft] val scoped = 4",
      "  override def toString = \"Used\"",
      "  implicit val enc: Int = 5",
      "  def apply(): Int = 6",
      "  object Nested { def inner = 7 }",
      "  // def commented = 8",
      "  def local = 10",
      "  def common = 11",
      "}",
      "final case class Orphan(a: Int)",
      "private class Hidden",
      "object Braceless extends Used.type",
      "class Widget {",
      "  def classMember = 9",
      "}",
      "object Imported {",
      "  def viaImport = 12",
      "}").mkString("\n")
    val caller = "val y = Used.called(1) + Widget.toString + Braceless + other.common(2)"
    val importer = "import graft.Imported._\nval w = viaImport"
    val code = SourceScan.blankComments(src)
    assert(declared(code) == Seq("Used", "Used.called", "Used.orphan", "Used.orphanVal",
      "Used.local", "Used.common", "Orphan", "Braceless", "Widget", "Imported", "Imported.viaImport"))
    assert(zeroCaller(Seq(code), Seq(caller, importer)) ==
      Seq("Used.orphan", "Used.orphanVal", "Used.common", "Orphan"))
  }

  test("every public src/main name has a caller outside the specs") {
    def text(f: Path): String =
      if (f.toString.endsWith(".scala")) SourceScan.blankComments(SourceScan.read(f)) else SourceScan.read(f)
    val sources = SourceScan.files("src/main/scala").filter(_.toString.endsWith(".scala")).map(text)
    val others = (SourceScan.files("src/main/resources") ++ SourceScan.files("perfbench/src") ++
      SourceScan.files("tools")).map(text)
    val found = zeroCaller(sources, others)
    assert((keep.keySet -- found).isEmpty,
      "keep-map entries that now have a caller or are gone: " + (keep.keySet -- found).toSeq.sorted.mkString(", "))
    assert((found.toSet -- keep.keySet).isEmpty,
      "public names in src/main that only specs use (delete them, or keep one with a reason): " +
        (found.toSet -- keep.keySet).toSeq.sorted.mkString(", "))
  }
}
