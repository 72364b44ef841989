#!/usr/bin/env python3
"""Code-only line counts for the Scala sources.

Usage: python3 tools/loc.py [repo_root] [--files] [--dups [--runs]]

Counts lines that carry code: blank lines, `//` line comments and
`/* ... */` block comments (scaladoc included, nesting honoured) do not
count; a line with code before a trailing comment does, and so does any
non-blank line inside a string literal (the oracle SQL is code). Prints
one row per `graft.*` package (the first directory under `graft/`, or
`graft` for top-level files) with code and raw (`wc -l`) lines, then
totals for src/main and src/test. `--files` adds one row per file.
Deleting comments does not reduce the code figure; deleting code does.

`--dups` reports, per package of src/main, the code lines that lie
inside a window of 6 consecutive code lines (each stripped of leading
and trailing whitespace) that appears at least twice anywhere in
src/main: a measure of copied text, for finding what to share.
`--runs` adds one line per copied run (a maximal stretch of such
lines in one file), as `file:first-last ~ partner_file:line`, where
the partner is another place the run's first window appears.
"""
import collections
import os
import sys


DUP_WINDOW = 6


def code_lines(text):
    """Number of lines in `text` that hold code outside comments."""
    return sum(code_line_flags(text))


def code_line_flags(text):
    """Per line of `text`, whether it holds code outside comments."""
    flags = []
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                if not line[i].isspace():
                    has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_triple = has_code = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and (
                    line[i + 2] == "'" or line[i + 1] == "\\"):
                has_code = True
                i = line.index("'", i + 2) + 1 if "'" in line[i + 2:] else n
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        flags.append(has_code)
    return flags


def package_of(rel):
    parts = rel.split(os.sep)
    if "graft" not in parts:
        return "(other)"
    rest = parts[parts.index("graft") + 1:]
    return "graft" if len(rest) == 1 else "graft." + rest[0]


def read_all(root):
    """{relative path: text} for every .scala file under `root`."""
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, root)] = fh.read()
    return out


def scan(root):
    """{file: (code, raw)} for every .scala file under `root`."""
    return {rel: (code_lines(text), text.count("\n"))
            for rel, text in read_all(root).items()}


def dups(root):
    """({file: (duplicated code lines, code lines)}, copied runs) for
    `root`; a run is (file, first line, last line, partner file, partner
    line), line numbers 1-based in the source text."""
    seqs = {}
    for rel, text in read_all(root).items():
        lines = text.split("\n")
        seqs[rel] = [(n + 1, ln.strip()) for n, (ln, c) in
                     enumerate(zip(lines, code_line_flags(text))) if c]
    windows = collections.defaultdict(list)
    for rel, seq in sorted(seqs.items()):
        for i in range(len(seq) - DUP_WINDOW + 1):
            key = tuple(ln for _, ln in seq[i:i + DUP_WINDOW])
            windows[key].append((rel, seq[i][0]))
    out, runs = {}, []
    for rel, seq in sorted(seqs.items()):
        dup = [None] * len(seq)
        for i in range(len(seq) - DUP_WINDOW + 1):
            where = windows[tuple(ln for _, ln in seq[i:i + DUP_WINDOW])]
            if len(where) > 1:
                partner = next(w for w in where if w != (rel, seq[i][0]))
                for j in range(i, i + DUP_WINDOW):
                    dup[j] = dup[j] or partner
        out[rel] = (sum(d is not None for d in dup), len(seq))
        i = 0
        while i < len(seq):
            if dup[i] is None:
                i += 1
                continue
            j = i
            while j + 1 < len(seq) and dup[j + 1] is not None:
                j += 1
            runs.append((rel, seq[i][0], seq[j][0]) + dup[i])
            i = j + 1
    return out, runs


def report(files, per_file):
    """Print {file: (a, b)} summed per package, then the total."""
    pkgs = {}
    for rel, (a, b) in files.items():
        pa, pb = pkgs.get(package_of(rel), (0, 0))
        pkgs[package_of(rel)] = (pa + a, pb + b)
    for pkg in sorted(pkgs):
        a, b = pkgs[pkg]
        print(f"  {pkg:32s} {a:7d} {b:7d}")
        if per_file:
            for rel in sorted(files):
                if package_of(rel) == pkg:
                    fa, fb = files[rel]
                    print(f"    {os.path.basename(rel):30s} {fa:7d} {fb:7d}")
    print(f"  {'total':32s} {sum(a for a, _ in files.values()):7d} "
          f"{sum(b for _, b in files.values()):7d}")


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    repo = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    per_file = "--files" in argv
    if "--dups" in argv:
        files, runs = dups(os.path.join(repo, "src", "main", "scala"))
        print(f"src/main{'':26s} {'dup':>7s} {'code':>7s}")
        report(files, per_file)
        if "--runs" in argv:
            for rel, first, last, prel, pline in runs:
                print(f"  {rel}:{first}-{last} ~ {prel}:{pline}")
        return
    for tree in ("main", "test"):
        root = os.path.join(repo, "src", tree, "scala")
        print(f"src/{tree}{'':26s} {'code':>7s} {'raw':>7s}")
        report(scan(root), per_file)


if __name__ == "__main__":
    main(sys.argv[1:])
