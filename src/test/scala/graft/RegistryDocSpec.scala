package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** REGISTRY.md is generated from the registry (RegistryDoc) — this pins it
  * to the code so the user index cannot silently rot: every registered
  * query appears exactly once, nothing unregistered appears, and the
  * committed bytes equal a fresh render (regenerate with
  * `tools/run.sh graft.RegistryDoc` after any registry change). */
class RegistryDocSpec extends AnyFunSuite {

  test("REGISTRY.md matches a fresh render of the registry") {
    val path = Paths.get("REGISTRY.md")
    assert(Files.exists(path), "REGISTRY.md missing — run tools/run.sh graft.RegistryDoc")
    val committed = Files.readString(path)
    assert(committed == RegistryDoc.render(),
      "REGISTRY.md is stale — regenerate with tools/run.sh graft.RegistryDoc")
  }

  test("every query is indexed exactly once, nothing extra") {
    val committed = Files.readString(Paths.get("REGISTRY.md"))
    val indexed = """\| `(q\d+\w*)` \|""".r
      .findAllMatchIn(committed).map(_.group(1)).toSeq
    assert(indexed.distinct.size == indexed.size, "duplicate registry rows")
    assert(indexed.toSet == SparkEntry.queries.keySet,
      s"drift: missing=${(SparkEntry.queries.keySet -- indexed).toSeq.sorted.take(5)} " +
        s"extra=${(indexed.toSet -- SparkEntry.queries.keySet).toSeq.sorted.take(5)}")
  }

  test("no placeholder capabilities and no mid-word truncation") {
    val committed = Files.readString(Paths.get("REGISTRY.md"))
    assert(!committed.contains("(see SparkEntry.scala)"),
      "placeholder capability cell survived — RegistryDoc fallback regressed")
    // Property against the parser itself: every capability is either the
    // complete first sentence of its registration comment, a fallback
    // naming an operator entry point, or a WORD-BOUNDARY prefix marked
    // with an explicit ellipsis — never a hard character clip
    // ("per-group windo", the r12 artifact).
    val parsed = RegistryDoc.Families
      .map(f => RegistryDoc.parse(Files.readString(Paths.get(f)))).reduce(_ ++ _)
    assert(parsed.keySet == SparkEntry.queries.keySet)
    parsed.foreach { case (name, (cap, _)) =>
      assert(cap.nonEmpty, s"$name: empty capability")
      assert(cap.length <= 121, s"$name: capability over length cap: $cap")
      if (cap.endsWith("…")) {
        val stem = cap.dropRight(1)
        assert(stem.nonEmpty && !stem.endsWith(" "),
          s"$name: malformed ellipsis cell: $cap")
      }
    }
  }
}
