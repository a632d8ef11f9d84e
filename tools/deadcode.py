#!/usr/bin/env python3
"""List the library code that only tests reach.

    python3 tools/deadcode.py

One identifier-count pass over every Scala file under `src/main`,
`perfbench/src` and `src/test` (comments and string literals stripped,
except the `${…}` and `$name` interpolations of an interpolated string,
which are code).
A `def` declared in a class, object or trait body under `src/main`
that is public or qualified-private (`private[graft]`, `protected[x]`:
visible to a whole package, tests included) is reported when no
non-test file names it outside its own declarations: no other `src/main` file, no `perfbench/src` file, and no
other line of its own file. Overrides and `main` entry points are
skipped, and so are names declared more than once in `src/main`
(overloads, or one name in several objects), because a name count
cannot tell their callers apart.

Each reported name is either test-only (some spec calls it) or
unreferenced. The script exits 1 when a reported name is not in
ALLOWED below, or when an ALLOWED name is no longer reported (a stale
entry would outlive its code); every entry there states why the def
stays.

The same pass lists each orphaned scaladoc under `src/main`: a
`/** … */` block followed by another one with only blanks or
annotations between them. Scaladoc attaches only the second block to
the next definition, so the first documents nothing (or, worse, its
text reads as the doc of the wrong def). Any orphan makes the script
exit 1.

It also lists each thread pool built under `src/main` outside
`operators/Par.scala` (`Executors.new…`, `ThreadPoolExecutor`,
`ForkJoinPool` in code, not in comments or strings): `Par` is the one
fan-out, with the one failure, interrupt and drain contract. Any such
pool makes the script exit 1.
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN, BENCH, TEST = "src/main", "perfbench/src", "src/test"

# name -> why the def stays although no workload calls it
ALLOWED = {
    # scan twins: the corpus-scan form of an index-served request, kept
    # as the oracle the index-served answer must equal
    "bm25": "scan twin, oracle for TextIndexSpec",
    "tfidf": "scan twin, oracle for TextIndexSpec",
    "minShouldMatch": "scan twin, oracle for TextIndexSpec and SearchOpsSpec; "
                      "the only path that serves minMatch = 0",
    "topHits": "scan twin, oracle for TextIndexSpec",
    "significantTerms": "scan twin, oracle for TextIndexSpec",
    "collapse": "scan twin, oracle for TextIndexSpec and SearchOpsSpec",
    "rareTerms": "scan twin, oracle for TextIndexSpec",
    "rescore": "scan twin, oracle for TextIndexSpec and SearchOpsSpec",
    # single analyzer stages: AnalyzerSpec chains them into the staged
    # reference the fused pipelines must equal
    "asciiFoldTokens": "analyzer stage of AnalyzerSpec's staged reference",
    "ngramTokens": "analyzer stage of AnalyzerSpec's staged reference",
    "porterStemTokens": "analyzer stage of AnalyzerSpec's staged reference",
    "possessiveStem": "analyzer stage of AnalyzerSpec's staged reference",
    # vector search without a persisted index: the oracles the
    # AnnIndex-served and batched paths are checked against
    "knnLsh": "per-query twin, oracle for SimilaritySpec's batched LSH",
    "knnIvf": "per-query twin, oracle for SimilaritySpec's batched IVF",
    "ivfContract": "index trained in the call, oracle for AnnIndexSpec",
    "pqContract": "index trained in the call, oracle for AnnIndexSpec",
    "ivfPqContract": "index trained in the call, oracle for AnnIndexSpec",
}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"^\s*((?:(?:final|override|implicit|inline|private"
                 r"(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)def\s+"
                 r"([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(r"\b(object|class|trait)\b")
CHAR = re.compile(r"'(\\.|[^\\'])'")


def interpolations(lit):
    """The code inside an interpolated string literal: each `${…}` body
    and `$name`, space-separated. The rest of the literal is text, so a
    name inside it (`.as("bm25")`, an error message) is no reference."""
    out, i, n = [], 0, len(lit)
    while i < n:
        if lit.startswith("$$", i):
            i += 2
        elif lit.startswith("${", i):
            depth, j = 1, i + 2
            while j < n and depth:
                depth += {"{": 1, "}": -1}.get(lit[j], 0)
                j += 1
            out.append(lit[i + 2:j - 1])
            i = j
        elif lit[i] == "$" and IDENT.match(lit, i + 1):
            m = IDENT.match(lit, i + 1)
            out.append(m.group())
            i = m.end()
        else:
            i += 1
    return " ".join(out)


def strip(src, strings=True):
    """`src` with comments and string literals blanked, newlines kept.
    With `strings` False, an interpolated literal keeps its
    [[interpolations]]: `s"${call(x)}"` is a reference to `call`."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * src.count("\n", i, j))
            i = j
        elif src[i] == '"':
            if src.startswith('"""', i):
                j = src.find('"""', i + 3)
                j = n if j < 0 else j + 3
                while j < n and src[j] == '"':
                    j += 1
            else:
                j = i + 1
                while j < n and src[j] not in '"\n':
                    j += 2 if src[j] == "\\" else 1
                j = min(j + 1, n)
            lit = src[i:j]
            code = ("" if strings or not (i and IDENT.match(src[i - 1]))
                    else interpolations(lit))
            out.append('"' + code + '"' + "\n" * lit.count("\n"))
            i = j
        elif src[i] == "'" and CHAR.match(src, i):
            # a char literal such as '{' must not open a brace
            out.append("' '")
            i = CHAR.match(src, i).end()
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


POOL = re.compile(r"\bExecutors\s*\.\s*new\w*|\bThreadPoolExecutor\b|\bForkJoinPool\b")
POOL_HOME = os.path.join(MAIN, "scala", "graft", "operators", "Par.scala")

ANNOTATION = re.compile(r"@[\w.]+(\([^()]*\))?")


def doc_blocks(src):
    """(start, end) offsets of each `/** … */` block in `src`, skipping
    string and char literals and line comments."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            if src.startswith("/**", i) and not src.startswith("/**/", i):
                out.append((i, j))
            i = j
        elif src[i] == '"':
            if src.startswith('"""', i):
                j = src.find('"""', i + 3)
                j = n if j < 0 else j + 3
            else:
                j = i + 1
                while j < n and src[j] not in '"\n':
                    j += 2 if src[j] == "\\" else 1
                j = min(j + 1, n)
            i = j
        elif src[i] == "'" and CHAR.match(src, i):
            i = CHAR.match(src, i).end()
        else:
            i += 1
    return out


def orphaned_docs(src):
    """1-based line of each doc block followed by another doc block
    with only blanks or annotations between them."""
    blocks = doc_blocks(src)
    return [src.count("\n", 0, a) + 1
            for (a, b), (c, _) in zip(blocks, blocks[1:])
            if not ANNOTATION.sub("", src[b:c]).strip()]


def scala_files(top):
    for d, _, fs in os.walk(os.path.join(ROOT, top)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.relpath(os.path.join(d, f), ROOT)


def member_defs(code):
    """(name, audited) of each def whose innermost enclosing brace opens
    a class, object or trait body; a qualified `private[x]` or
    `protected[x]` def is audited like a public one."""
    defs, stack = [], []
    for line in code.split("\n"):
        m = DEF.match(line)
        if m and (not stack or stack[-1]):
            mods = m.group(1)
            if "override" not in mods:
                defs.append((m.group(2),
                             not re.search(r"(?:private|protected)(?!\[)", mods)))
        for k, ch in enumerate(line):
            if ch == "{":
                stack.append(bool(TEMPLATE.search(line[:k])))
            elif ch == "}" and stack:
                stack.pop()
    return defs


def main():
    counts, tests, declared = {}, Counter(), Counter()
    orphans, pools = [], []
    public = {}
    for top in (MAIN, BENCH, TEST):
        for path in scala_files(top):
            src = open(os.path.join(ROOT, path), encoding="utf-8").read()
            c = Counter(IDENT.findall(strip(src, strings=False)))
            if top == TEST:
                tests.update(c)
                continue
            counts[path] = c
            if top == MAIN:
                orphans.extend((path, ln) for ln in orphaned_docs(src))
                if path != POOL_HOME:
                    code = strip(src)
                    pools.extend((path, code.count("\n", 0, m.start()) + 1,
                                  re.sub(r"\s", "", m.group()))
                                 for m in POOL.finditer(code))
                for name, pub in member_defs(strip(src)):
                    declared[name] += 1
                    if pub and name != "main":
                        public.setdefault(name, path)
    live = Counter()
    for c in counts.values():
        live.update(c)
    found = []
    for name, path in sorted(public.items(), key=lambda kv: (kv[1], kv[0])):
        if declared[name] > 1 or live[name] > declared[name]:
            continue
        found.append((path, name, "test-only" if tests[name] else "unreferenced"))
    bad = 0
    for path, name, kind in found:
        why = ALLOWED.get(name)
        if why is None:
            bad += 1
        print(f"{path}: {name} ({kind}) "
              + (f"allowed: {why}" if why else "NOT ALLOWED"))
    stale = sorted(set(ALLOWED) - {name for _, name, _ in found})
    for name in stale:
        print(f"STALE allow-list entry, no longer reported: {name}")
    for path, ln in orphans:
        print(f"{path}:{ln}: orphaned scaladoc, followed by another doc block")
    for path, ln, what in pools:
        print(f"{path}:{ln}: thread pool ({what}) outside {POOL_HOME}")
    print(f"{len(found)} defs with no non-test caller, {bad} not allowed, "
          f"{len(stale)} stale allow-list entries, "
          f"{len(orphans)} orphaned scaladocs, "
          f"{len(pools)} thread pools outside Par")
    return 1 if bad or stale or orphans or pools else 0


if __name__ == "__main__":
    sys.exit(main())
