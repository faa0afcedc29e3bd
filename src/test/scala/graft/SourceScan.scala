package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Helpers for the specs that scan the repository's own source text. */
object SourceScan {

  /** The regular files under `dir`, relative to the repository root;
    * fails when `dir` is missing, so a spec run from elsewhere cannot
    * pass by scanning nothing.
    */
  def files(dir: String): List[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root),
      s"$dir: run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sorted
    finally s.close()
  }

  def read(f: Path): String = new String(Files.readAllBytes(f), "UTF-8")

  /** `src` with every comment blanked to spaces (newlines kept), so
    * offsets and line numbers stay those of the file.
    */
  def blankComments(src: String): String = {
    val out = new StringBuilder(src)
    var i = 0
    def blank(from: Int, to: Int): Unit =
      for (j <- from until math.min(to, src.length) if src(j) != '\n') out(j) = ' '
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) src.length else end + 3
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        i = j + 1
      } else if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i)
        val stop = if (end < 0) src.length else end
        blank(i, stop); i = stop
      } else if (src.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < src.length && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else i += 1
    }
    out.toString
  }
}
