package graft

import java.nio.file.{Files, Paths}

/** Generates REGISTRY.md — the USER-FACING index of the query registry
  * (name → capability → operator entry points → oracle) — from the
  * registry itself plus the registration comments in the family files.
  * COVERAGE.md is builder-facing evidence; this answers "which query
  * demonstrates X, and which operators does it exercise?" for a consumer
  * of the library.
  *
  * Usage (from the repo root): tools/run.sh graft.RegistryDoc
  * RegistryDocSpec asserts the committed file stays in sync with
  * SparkEntry.all — regenerate after any registry change. */
object RegistryDoc {

  /** The family files that hold the `Query("…"` registrations. */
  private[graft] val Families: Seq[String] =
    Seq("RelationalQueries", "CorpusQueries")
      .map(f => s"src/main/scala/graft/registry/$f.scala")

  private val EntryRe = """^\s*Query\("(q\d+\w*)",.*$""".r
  /** Operator objects a query body references — the entry-point citation. */
  private val OpRe =
    ("""(?:Dedup|Ann|TextOps|TimeOps|RobustZ|Sketches|TfIdf|Collocations|""" +
      """LmScore|AggOps|WindowOps|JoinOps|SetOps|RangeJoin|Mixture|Packing|""" +
      """Splits|Calibrate|Sessionize|ScanOps|Graph|Coverage|""" +
      """Expressions|Multimodal|MediaHeaders|Crypto|UpsertWriter|StreamJoin|""" +
      """Bars)\.\w+""").r

  /** (capability first sentence, entry points) per query, parsed from one
    * family file: the capability is the run of consecutive `//` lines
    * immediately ABOVE the `Query("…"` registration, cut at the first
    * sentence; the entry points are the operator references in the
    * program, from the registration to its `oracleSql =` argument. */
  private[graft] def parse(source: String): Map[String, (String, Seq[String])] = {
    val lines = source.linesIterator.toVector
    val entryAt = lines.indices.flatMap { i =>
      lines(i) match { case EntryRe(name) => Some(i -> name); case _ => None }
    }
    entryAt.map { case (i, name) =>
      val commentLines = Iterator.iterate(i - 1)(_ - 1)
        .takeWhile(x => x >= 0 && lines(x).trim.startsWith("//"))
        .toVector.reverse.map(x => lines(x).trim.stripPrefix("//").trim)
      val oracleAt = lines.indexWhere(l =>
        !l.trim.startsWith("//") && l.contains("oracleSql ="), i)
      require(oracleAt >= i, s"$name: no oracleSql argument; fix RegistryDoc.parse")
      val program = lines.slice(i, oracleAt) :+
        lines(oracleAt).take(lines(oracleAt).indexOf("oracleSql ="))
      val ops = program
        .filterNot(_.trim.startsWith("//")) // prose mentions are not calls
        .flatMap(l => OpRe.findAllIn(l)).distinct
      val cap = commentLines.mkString(" ").replaceAll("\\s+", " ").trim match {
        case "" =>
          // No registration comment: fall back to the capability implied
          // by the query's first operator entry point (never a bare
          // "(see source)" placeholder).
          ops.headOption.map(o => s"exercises `$o`")
            .getOrElse("inline Column composition")
        case s =>
          val cut = s.indexWhere(c => c == '.' || c == ':')
          val sentence = (if (cut > 0) s.take(cut) else s).trim
          // Length cap lands on a WORD boundary with an explicit ellipsis —
          // a hard take(n) clipped cells mid-word ("per-group windo").
          val head =
            if (sentence.length <= 120) sentence
            else {
              val sp = sentence.lastIndexOf(' ', 119)
              sentence.take(if (sp > 0) sp else 119).trim + "…"
            }
          // Don't leave a dangling open parenthesis when the sentence cut
          // landed inside a parenthetical.
          if (head.count(_ == '(') > head.count(_ == ')'))
            head.take(head.lastIndexOf('(')).trim
          else head
      }
      name -> (cap, ops.toSeq)
    }.toMap
  }

  def render(): String = {
    val parsed = Families.map(f => parse(Files.readString(Paths.get(f)))).reduce(_ ++ _)
    val rows = SparkEntry.all.map(_.name).sorted.map { name =>
      val (cap, ops) = parsed.getOrElse(name, ("inline Column composition", Seq.empty))
      val opsTxt = if (ops.isEmpty) "inline Column expressions"
        else ops.take(6).map(o => s"`$o`").mkString(", ")
      s"| `$name` | $cap | $opsTxt | DuckDB SQL |"
    }
    // No stripMargin: the markdown table rows START with '|', which
    // stripMargin would eat as its margin character.
    "# REGISTRY — query index (generated)\n\n" +
      "Generated by `tools/run.sh graft.RegistryDoc` from `SparkEntry.all` and\n" +
      "the registration comments in `src/main/scala/graft/registry/` — regenerate\n" +
      s"after any registry change (RegistryDocSpec pins the sync). ${rows.size}\n" +
      "queries; each record carries the DuckDB SQL that the correctness gate\n" +
      "compares its program against.\n\n" +
      "| query | capability | operator entry points | oracle |\n" +
      "|---|---|---|---|\n" +
      rows.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("REGISTRY.md")
    Files.writeString(Paths.get(out), render())
    println(s"wrote $out (${SparkEntry.all.size} queries)")
  }
}
