package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps test-only code out of `src/main`: every top-level `object`,
  * `class` and `trait` there must be reachable from the product, not just
  * from specs. A declaration passes when, with comments and string
  * literals stripped, at least one of these holds:
  *  - another `src/main` file names it;
  *  - its own file names it outside its body (the codegen helpers that
  *    `Expressions` calls);
  *  - `perfbench/harness` or a `tools/` script names it;
  *  - it defines `main`.
  * A module whose only caller is a spec belongs in `src/test` (as that
  * spec's reference) or nowhere. */
class ReachabilitySpec extends AnyFunSuite {

  /** Source with comments, string literals and char literals blanked —
    * prose and SQL/codegen strings naming an object are not calls. */
  private def strip(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        var open = true
        while (i < n && open) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2; open = depth > 0 }
          else i += 1
        }
        out += ' '
      } else if (at("\"\"\"")) {
        val j = src.indexOf("\"\"\"", i + 3)
        i = if (j < 0) n else j + 3
        while (i < n && src(i) == '"') i += 1
        out ++= "\"\""
      } else if (src(i) == '"') {
        i += 1
        while (i < n && src(i) != '"') i += (if (src(i) == '\\') 2 else 1)
        i += 1
        out ++= "\"\""
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 2) == '\'' ||
          (src(i + 1) == '\\' && src.indexOf('\'', i + 3) > i && src.indexOf('\'', i + 3) <= i + 8))) {
        i = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1
        out ++= "' '"
      } else {
        out += src(i)
        i += 1
      }
    }
    out.result()
  }

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val TopDecl =
    ("""(?m)^(?:(?:private|protected)(?:\[\w+\])? |case |final |abstract |sealed )*""" +
      """(?:object|class|trait) (\w+)""").r

  private def files(dir: String, exts: String*): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && exts.exists(p.toString.endsWith)).toVector
      finally walk.close()
    }
  }

  /** Identifier tokens of `src`, minus the names its own `class`/`trait`/
    * `object` declarations introduce (a declaration is not a reference). */
  private def refs(src: String): Set[String] =
    Ident.findAllIn(
      src.replaceAll("""\b(?:class|trait|object)\s+\w+""", " ")).toSet

  /** Index of the brace closing the body that opens at or after `from`
    * (the declaration's own line end when the object has no body). */
  private def bodyEnd(src: String, from: Int): Int = {
    val open = src.indexOf('{', from)
    val eol = { val e = src.indexOf('\n', from); if (e < 0) src.length else e }
    if (open < 0 || src.substring(from, open).contains("\n")) eol
    else {
      var depth = 0
      var k = open
      var done = false
      while (k < src.length && !done) {
        if (src(k) == '{') depth += 1
        else if (src(k) == '}') { depth -= 1; done = depth == 0 }
        if (!done) k += 1
      }
      math.min(k + 1, src.length)
    }
  }

  /** Top-level `src/main` declarations that nothing outside the specs names. */
  private def unreachable(): Seq[String] = {
    val main = files("src/main/scala", ".scala")
      .map(p => p -> strip(Files.readString(p))).toMap
    val mainRefs = main.map { case (p, s) => p -> refs(s) }
    val outside =
      files("perfbench/harness", ".scala").flatMap(p => refs(strip(Files.readString(p)))) ++
        files("tools", ".sh", ".py").flatMap(p => refs(Files.readString(p)))
    val outsideRefs = outside.toSet
    main.toSeq.flatMap { case (p, s) =>
      TopDecl.findAllMatchIn(s).flatMap { m =>
        val name = m.group(1)
        val end = bodyEnd(s, m.end)
        val body = s.substring(m.start, end)
        val named =
          mainRefs.exists { case (q, r) => q != p && r(name) } ||
            refs(s.substring(0, m.start) + s.substring(end))(name) ||
            outsideRefs(name) ||
            """\bdef\s+main\s*\(""".r.findFirstIn(body).isDefined
        if (named) None else Some(name)
      }
    }.sorted
  }

  test("stripping blanks comments and string literals, keeps code") {
    val src = "val a = Foo.x // Bar.y\n/* Baz /* nested */ Qux */ " +
      "val b = \"Quux.z\" + \"\"\"Corge\"\"\" + 'c' + Grault.w"
    assert(refs(strip(src)) == Set("val", "a", "Foo", "x", "b", "Grault", "w"))
  }

  test("top-level objects, classes and traits are all checked; nested ones are not") {
    val src = "object A {\n  class Nested\n}\nfinal case class B(x: Int)\n" +
      "class C extends (Int => Int) { def apply(i: Int) = i }\n" +
      "private[graft] sealed trait D\n"
    assert(TopDecl.findAllMatchIn(src).map(_.group(1)).toSeq == Seq("A", "B", "C", "D"))
  }

  test("every src/main object has a caller outside the specs") {
    assert(files("src/main/scala", ".scala").nonEmpty,
      "run from the repository root")
    val orphans = unreachable()
    assert(orphans.isEmpty,
      s"src/main declarations named only by specs (move them to src/test or " +
        s"delete them): ${orphans.mkString(", ")}")
  }
}
