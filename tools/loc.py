#!/usr/bin/env python3
"""Code-only line counts for the Scala sources.

Usage: python3 tools/loc.py [repo_root] [--files]

Counts lines that carry code: blank lines, `//` line comments and
`/* ... */` block comments (scaladoc included, nesting honoured) do not
count; a line with code before a trailing comment does, and so does any
non-blank line inside a string literal (the oracle SQL is code). Prints
one row per `graft.*` package (the first directory under `graft/`, or
`graft` for top-level files) with code and raw (`wc -l`) lines, then
totals for src/main and src/test. `--files` adds one row per file.
Deleting comments does not reduce the code figure; deleting code does.
"""
import os
import sys


def code_lines(text):
    """Number of lines in `text` that hold code outside comments."""
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    count = 0
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
        if has_code:
            count += 1
    return count


def package_of(rel):
    parts = rel.split(os.sep)
    if "graft" not in parts:
        return "(other)"
    rest = parts[parts.index("graft") + 1:]
    return "graft" if len(rest) == 1 else "graft." + rest[0]


def scan(root):
    """{file: (code, raw)} for every .scala file under `root`."""
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    text = fh.read()
                raw = text.count("\n")
                out[os.path.relpath(p, root)] = (code_lines(text), raw)
    return out


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    repo = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    per_file = "--files" in argv
    for tree in ("main", "test"):
        root = os.path.join(repo, "src", tree, "scala")
        files = scan(root)
        pkgs = {}
        for rel, (c, r) in files.items():
            pc, pr = pkgs.get(package_of(rel), (0, 0))
            pkgs[package_of(rel)] = (pc + c, pr + r)
        print(f"src/{tree}{'':26s} {'code':>7s} {'raw':>7s}")
        for pkg in sorted(pkgs):
            c, r = pkgs[pkg]
            print(f"  {pkg:32s} {c:7d} {r:7d}")
            if per_file:
                for rel in sorted(files):
                    if package_of(rel) == pkg:
                        fc, fr = files[rel]
                        print(f"    {os.path.basename(rel):30s} {fc:7d} {fr:7d}")
        tc = sum(c for c, _ in files.values())
        tr = sum(r for _, r in files.values())
        print(f"  {'total':32s} {tc:7d} {tr:7d}")


if __name__ == "__main__":
    main(sys.argv[1:])
