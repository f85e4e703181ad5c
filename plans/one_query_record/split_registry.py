"""Splits SparkEntry.scala's two name-keyed maps (Spark programs, DuckDB
oracle SQL) into one Query(name, run, oracleSql) record per query, in two
family files, moving every program and SQL text byte-for-byte.

Usage: python3 split_registry.py <SparkEntry.scala> <out_dir>
"""
import re
import sys

IDENT = re.compile(r"[A-Za-z0-9_]")


def skip_string(t, i):
    """t[i] starts a string literal (possibly after an interpolator prefix);
    returns the index just past it."""
    interp = i > 0 and IDENT.match(t[i - 1]) is not None
    if t.startswith('"""', i):
        j = i + 3
        while True:
            if interp and t.startswith("$$", j):
                j += 2
                continue
            if interp and t.startswith("${", j):
                j = skip_code(t, j + 2, closer="}")
                continue
            if t.startswith('"""', j):
                k = j
                while k < len(t) and t[k] == '"':
                    k += 1
                return k
            j += 1
    j = i + 1
    while t[j] != '"':
        if t[j] == "\\":
            j += 2
            continue
        if interp and t.startswith("$$", j):
            j += 2
            continue
        if interp and t.startswith("${", j):
            j = skip_code(t, j + 2, closer="}")
            continue
        j += 1
    return j + 1


def skip_code(t, i, closer=None):
    """Scans code from i. With `closer`, returns the index past the closer
    that ends the current nesting level. Without, returns the index of the
    first depth-0 ',' or unmatched ')'."""
    depth = 0
    while i < len(t):
        c = t[i]
        if t.startswith("//", i):
            i = t.index("\n", i)
            continue
        if t.startswith("/*", i):
            i = t.index("*/", i) + 2
            continue
        if c == '"':
            i = skip_string(t, i)
            continue
        if c == "'":
            if t[i + 1] == "\\" and t[i + 3] == "'":
                i += 4
                continue
            if t[i + 2] == "'":
                i += 3
                continue
            i += 1
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            if depth == 0:
                if closer is not None:
                    assert c == closer, (c, t[i - 40:i + 40])
                    return i + 1
                return i
            depth -= 1
        elif c == "," and depth == 0 and closer is None:
            return i
        i += 1
    raise ValueError("unterminated")


ENTRY = re.compile(r'^    "(q\d+\w*)" ->', re.M)


def parse_map(t, start, end):
    """Entries of a `Map(` literal whose body is t[start:end]: returns a list
    of (name, leading_text, value_text). leading_text holds the comment and
    blank lines above the entry, value_text the text after `->`."""
    out = []
    pos = start
    while True:
        m = ENTRY.search(t, pos, end)
        if not m:
            rest = t[pos:end]
            assert rest.strip() == "", rest
            return out
        lead = t[pos:m.start()]
        for line in lead.splitlines():
            assert line.strip() == "" or line.strip().startswith("//"), line
        vstart = m.end()
        vend = skip_code(t, vstart)
        out.append((m.group(1), lead, t[vstart:vend]))
        pos = vend + 1 if t[vend] == "," else vend
        if t[vend] == ")":
            return out
        # keep the rest of the comma line (a trailing newline) with the next lead
        if t[pos] == "\n":
            pos += 1


MEMBER = re.compile(r"^  (?:private |lazy |final )*(?:def|val) (\w+)", re.M)


def is_comment(line):
    s = line.strip()
    return s.startswith(("/**", "*", "//")) or s.endswith("*/")


def parse_members(t, start, end):
    """Top-level members in t[start:end]: (name, text incl. the comment
    lines directly above it)."""
    ms = list(MEMBER.finditer(t, start, end))
    lead_starts = []
    for m in ms:
        p = m.start()
        while True:
            prev = t.rfind("\n", start, p - 1) + 1
            if prev <= start or not is_comment(t[prev:p - 1]):
                break
            p = prev
        lead_starts.append(p)
    out = []
    for k, m in enumerate(ms):
        stop = lead_starts[k + 1] if k + 1 < len(ms) else end
        out.append((m.group(1), t[lead_starts[k]:stop].rstrip()))
    return out


def words(s):
    return set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", s))


def strip_comments(s):
    return re.sub(r"//[^\n]*", "", re.sub(r"/\*.*?\*/", "", s, flags=re.S))


def main(src_path, out_dir):
    t = open(src_path).read()
    q_open = t.index("  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(\n")
    q_body = t.index("\n", q_open) + 1
    q_close = t.index("\n  )\n\n  // ------------------------------------------------------------- oracle SQL", q_body)
    o_open = t.index("  def oracleSql: Map[String, String] = Map(\n")
    o_body = t.index("\n", o_open) + 1
    o_close = t.rindex("\n  )\n}")

    progs = parse_map(t, q_body, q_close + 1)
    orcs = parse_map(t, o_body, o_close + 1)
    assert len(progs) == 203 and len(orcs) == 203, (len(progs), len(orcs))
    assert len({n for n, _, _ in progs}) == 203
    orc = {n: (lead, v) for n, lead, v in orcs}
    assert set(orc) == {n for n, _, _ in progs}

    obj = t.index("object SparkEntry {\n")
    entry_doc = t.index("  /** Flagship")
    prog_helpers = parse_members(t, obj, entry_doc)
    hdr_end = t.index("\n  // ------------------------------------------------------------- oracle SQL")
    orc_helpers = parse_members(t, t.index("\n", hdr_end + 1) + 1, o_open)
    helpers = prog_helpers + orc_helpers
    names = [n for n, _ in helpers]
    assert len(set(names)) == len(names)
    hbody = dict(helpers)

    # helper -> helpers it references
    hdeps = {n: words(strip_comments(hbody[n])) & set(names) - {n} for n in names}

    def closure(ws):
        seen = set()
        todo = list(ws & set(names))
        while todo:
            h = todo.pop()
            if h in seen:
                continue
            seen.add(h)
            todo += list(hdeps[h])
        return seen

    fam = {}
    for n, lead, v in progs:
        prog_code = strip_comments(v)
        used = closure(words(prog_code))
        # Tables.names covers every table, documents and embeddings included
        reads = re.search(r'"(documents|embeddings)"|Tables\.names', prog_code) or any(
            re.search(r'"(documents|embeddings)"', hbody[h]) for h in used)
        fam[n] = "corpus" if reads else "relational"
    counts = {f: sum(1 for x in fam.values() if x == f) for f in ("relational", "corpus")}
    print("families:", counts, file=sys.stderr)
    for n, lead, v in progs:
        ov = orc[n][1]
        o_reads = re.search(r"\b(documents|embeddings)\b", strip_comments(ov) + "".join(
            strip_comments(hbody[h]) for h in closure(words(strip_comments(ov)))))
        if bool(o_reads) != (fam[n] == "corpus"):
            print("oracle/program family differ:", n, fam[n], file=sys.stderr)

    need = {"relational": set(), "corpus": set()}
    for n, lead, v in progs:
        olead, ov = orc[n]
        need[fam[n]] |= closure(words(strip_comments(v)) | words(strip_comments(ov)))
    shared = need["relational"] & need["corpus"]
    # a helper a shared helper uses is shared too
    shared = closure(shared)
    only = {f: need[f] - shared for f in need}
    print("shared:", sorted(shared), file=sys.stderr)
    print("relational-only:", sorted(only["relational"]), file=sys.stderr)
    print("corpus-only:", sorted(only["corpus"]), file=sys.stderr)
    unused = set(names) - need["relational"] - need["corpus"]
    assert not unused, unused

    def record(n, lead, v):
        v = v.strip(" \n")
        assert v.startswith("((s, d) =>"), (n, v[:40])
        assert v.endswith(")")
        assert skip_code(v, 1) == len(v) - 1, n  # outer parens wrap the lambda
        run = v[1:-1]
        olead, ov = orc[n]
        ov = ov.lstrip(" ")
        text = lead + f'    Query("{n}", {run}, oracleSql ='
        comment = "".join("  " + l + "\n" if l.strip() else "\n"
                          for l in olead.split("\n")[:-1] if l.strip())
        if ov.startswith("\n"):
            text += "\n" + comment + ov[1:].rstrip() + ")"
        elif comment:
            text += "\n" + comment + "      " + ov.rstrip() + ")"
        else:
            text += " " + ov.rstrip() + ")"
        return text

    for f, obj_name, doc in (
            ("relational", "RelationalQueries",
             "The relational family: queries whose programs read neither\n"
             "  * `documents` nor `embeddings` (events, the TPC-H-style tables and the\n"
             "  * market tables). Each record holds the Spark program and the DuckDB\n"
             "  * SQL that checks it, with the registration comment above."),
            ("corpus", "CorpusQueries",
             "The corpus family: queries whose programs read `documents` or\n"
             "  * `embeddings` (text dedup, similarity, quality and curation). Each\n"
             "  * record holds the Spark program and the DuckDB SQL that checks it,\n"
             "  * with the registration comment above.")):
        body_helpers = [hbody[h] for h in names if h in only[f]]
        recs = [record(n, lead, v) for n, lead, v in progs if fam[n] == f]
        recs_txt = ",\n".join(recs)
        # the first record's lead starts with a blank line only if it had one
        code = "\n".join(body_helpers + recs)
        out = ("package graft\npackage registry\n\n" + imports(code) +
               "import QueryHelpers._\n\n" +
               f"/** {doc} */\nprivate[graft] object {obj_name} {{\n\n" +
               ("\n\n".join(body_helpers) + "\n\n" if body_helpers else "") +
               "  val all: Seq[Query] = Seq(\n" + recs_txt.lstrip("\n") + "\n  )\n}\n")
        open(f"{out_dir}/{obj_name}.scala", "w").write(out)

    sh = [hbody[h] for h in names if h in shared]
    out = ("package graft\npackage registry\n\n" +
           "import org.apache.spark.sql.{DataFrame, SparkSession}\n\n" +
           "/** The helpers both query families use: table loading and eager frame\n"
           "  * sharing. */\nprivate[graft] object QueryHelpers {\n\n" +
           "\n\n".join(h.replace("  private ", "  ", 1) for h in sh) + "\n}\n")
    open(f"{out_dir}/QueryHelpers.scala", "w").write(out)


OPERATORS = ["AggOps", "Calibrate", "Coverage", "Graph", "JoinOps", "Mixture",
             "Packing", "RangeJoin", "Salting", "ScanOps", "Sessionize", "SetOps",
             "Splits", "Spread", "UpsertRouter", "UpsertWriter", "WindowOps"]


def imports(code):
    """The registry's imports that `code` uses."""
    used = words(strip_comments(code))
    out = []
    for line in IMPORTS.splitlines():
        m = re.match(r"import ([\w.]+)\.\{(.*)\}$", line)
        if m:
            names = [n.strip() for n in m.group(2).split(",") if n.strip() in used]
            if len(names) > 1:
                out.append(f"import {m.group(1)}.{{{', '.join(names)}}}")
            elif names:
                out.append(f"import {m.group(1)}.{names[0]}")
        elif line.endswith("functions._"):
            out.append(line)
        elif line.endswith("operators._"):
            if used & set(OPERATORS):
                out.append(line)
        elif line.split(".")[-1] in used:
            out.append(line)
    return "\n".join(out) + "\n"


IMPORTS = """import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{RobustZ, Sketches, TextOps, TfIdf, TimeOps}
import graft.operators._
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.multimodal.Multimodal
import graft.plans.Expressions
"""

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
