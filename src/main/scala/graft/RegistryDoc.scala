package graft

import java.nio.file.{Files, Paths}

/** Generates REGISTRY.md — the USER-FACING index of the query registry
  * (name → capability → operator entry points → oracle family) — from the
  * registry itself plus the scaladoc-style comments in SparkEntry.scala.
  * COVERAGE.md is builder-facing evidence; this answers "which query
  * demonstrates X, and which operators does it exercise?" for a consumer
  * of the library.
  *
  * Usage (from the repo root): tools/run.sh graft.RegistryDoc
  * RegistryDocSpec asserts the committed file stays in sync with
  * SparkEntry.queries — regenerate after any registry change. */
object RegistryDoc {

  private val EntryRe = """^\s*"(q\d+\w*)" ->.*$""".r
  /** Operator objects a query body references — the entry-point citation. */
  private val OpRe =
    ("""(?:Dedup|Ann|TextOps|TimeOps|RobustZ|Sketches|TfIdf|Collocations|""" +
      """LmScore|AggOps|WindowOps|JoinOps|SetOps|RangeJoin|Mixture|Packing|""" +
      """Splits|Calibrate|Sessionize|ScanOps|Graph|Coverage|Salting|""" +
      """Expressions|Multimodal|MediaHeaders|Crypto|UpsertWriter|StreamJoin|""" +
      """Bars)\.\w+""").r

  /** (capability first sentence, entry points) per query, parsed from the
    * `queries` map region of SparkEntry.scala: the capability is the run
    * of consecutive `//` lines immediately ABOVE the registration, cut at
    * the first sentence; the entry points are the operator references in
    * the lines from the registration to the next one. */
  private[graft] def parse(source: String): Map[String, (String, Seq[String])] = {
    val lines = source.linesIterator.toVector
    val start = lines.indexWhere(_.contains("def queries:"))
    val end = lines.indexWhere(_.contains("def oracleSql"), start)
    require(start >= 0 && end > start, "SparkEntry.scala changed shape; fix RegistryDoc.parse")
    val entryAt = (start until end).flatMap { i =>
      lines(i) match { case EntryRe(name) => Some(i -> name); case _ => None }
    }
    entryAt.zipWithIndex.map { case ((i, name), j) =>
      val commentLines = Iterator.iterate(i - 1)(_ - 1)
        .takeWhile(x => x > start && lines(x).trim.startsWith("//"))
        .toVector.reverse.map(x => lines(x).trim.stripPrefix("//").trim)
      val bodyEnd = entryAt.lift(j + 1).map(_._1).getOrElse(end)
      val ops = lines.slice(i, bodyEnd)
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
    val src = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val parsed = parse(src)
    val oracled = SparkEntry.oracleSql.keySet
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (cap, ops) = parsed.getOrElse(name, ("inline Column composition", Seq.empty))
      val oracle = if (oracled.contains(name)) "DuckDB SQL" else "rows-only"
      val opsTxt = if (ops.isEmpty) "inline Column expressions"
        else ops.take(6).map(o => s"`$o`").mkString(", ")
      s"| `$name` | $cap | $opsTxt | $oracle |"
    }
    // No stripMargin: the markdown table rows START with '|', which
    // stripMargin would eat as its margin character.
    "# REGISTRY — query index (generated)\n\n" +
      "Generated by `tools/run.sh graft.RegistryDoc` from `SparkEntry.queries`\n" +
      "and the registration comments in `SparkEntry.scala` — regenerate after\n" +
      s"any registry change (RegistryDocSpec pins the sync). ${rows.size}\n" +
      "queries; \"DuckDB SQL\" = cross-engine oracled by the driver's\n" +
      "correctness gate, \"rows-only\" = smoke-checked.\n\n" +
      "| query | capability | operator entry points | oracle |\n" +
      "|---|---|---|---|\n" +
      rows.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("REGISTRY.md")
    Files.writeString(Paths.get(out), render())
    println(s"wrote $out (${SparkEntry.queries.size} queries)")
  }
}
