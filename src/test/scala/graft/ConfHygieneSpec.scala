package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Guards the session rules in main sources. A runtime
  * `conf.set`/`conf.unset` is a session-wide change that concurrent
  * queries in the same session see, so operators take their settings as
  * arguments, or run in a fresh child session. [[Session]] holds the one
  * remaining write (`Session.child`, onto the session it has just made)
  * and the one `SparkSession.builder`; both scans fail on any other site,
  * so every main builds from the same defaults. */
class ConfHygieneSpec extends AnyFunSuite {

  /** The one file allowed to build sessions and write their conf. */
  private val sessionFile = "graft/Session.scala"

  /** File (relative to `src/main/scala`) -> number of flip sites. */
  private val allowed = Map(sessionFile -> 1)

  /** `src` with comments blanked; string and char literals are kept, so
    * a `//` inside a string is not taken for a comment. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        } while (depth > 0 && i < src.length)
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"' || (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\'))) {
        val q = src(i)
        out += q; i += 1
        while (i < src.length && src(i) != q && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { out += src(i); i += 1 }
          out += src(i); i += 1
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("the comment stripper keeps code and string literals only") {
    val src = "a // conf.set(x)\n/* conf.set( /* nested */ */ b\n" +
      "val u = \"hdfs://h/p\" // conf.unset(k)\nc.conf.set(\"k\", 'x')"
    val stripped = stripComments(src)
    assert(stripped.linesIterator.toSeq ===
      Seq("a ", " b", "val u = \"hdfs://h/p\" ", "c.conf.set(\"k\", 'x')"))
  }

  /** Main source file (relative to `src/main/scala`) -> number of
    * comment-stripped matches of `pattern`, for files with any. */
  private def sitesOf(pattern: scala.util.matching.Regex): Map[String, Int] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root (no $root)")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    files.flatMap { f =>
      val code = stripComments(new String(
        java.nio.file.Files.readAllBytes(f), "UTF-8"))
      val n = pattern.findAllMatchIn(code).size
      if (n > 0) Some(root.relativize(f).toString.replace('\\', '/') -> n)
      else None
    }.toMap
  }

  test("no session-conf flip in src/main outside the allowlist") {
    assert(sitesOf("conf\\.(set|unset)\\(".r) === allowed,
      "session-conf flips differ from the allowlist: pass the setting to " +
        "the operator, or run the query in a Session.child")
  }

  test("no SparkSession.builder in src/main outside Session") {
    assert(sitesOf("SparkSession\\s*\\.\\s*builder\\b".r).keySet ===
      Set(sessionFile),
      "build sessions through Session.builder, which holds the defaults")
  }
}
