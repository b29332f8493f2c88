#!/usr/bin/env python3
"""Count code, comment and blank lines of every Scala source under a root.

    python3 scripts/loc.py [root]             # root defaults to src/main
    python3 scripts/loc.py --options [root]   # settable-option census

One line per file (code, comment, blank, path), then the totals. A line
with any code on it counts as code, even if it also carries a trailing
comment; a line holding only comment text (``//``, ``/* */``, scaladoc)
counts as comment; a line of whitespace counts as blank, also inside a
block comment. Block comments nest, as in Scala, and comment markers
inside string and character literals are not comments.

``--options`` prints every ``spark.graft.*`` conf key and
``SPARK_GRAFT_*`` env var named in code (comments skipped), with the
number of code occurrences, then the number of distinct names. A name
built by string interpolation is printed as written (``$x`` included).
"""
import os
import re
import sys

_INTERP = r"\$\{[^}]*\}|\$[A-Za-z_]\w*"
OPTION = re.compile(rf"spark\.graft\.(?:\w|\.(?=[\w$])|{_INTERP})+"
                    rf"|SPARK_GRAFT_(?:[A-Z0-9_]|{_INTERP})+")


def classify(text):
    """Yields ('code' | 'comment' | 'blank', code text) for each line of
    `text`; the code text is the line with its comments removed."""
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        code = comment = False
        kept = []      # spans of the line outside comments
        i, n = 0, len(line)
        while i < n:
            c, two = line[i], line[i:i + 2]
            start = i
            if depth:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    comment = comment or not c.isspace()
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
                kept.append(line[start:i])
            elif two == "//":
                comment = comment or bool(line[i + 2:].strip())
                break
            elif two == "/*":
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code, in_triple = True, True
                i += 3
                kept.append(line[start:i])
            elif c == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
                kept.append(line[start:i])
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                code = True
                end = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = end + 1 if end > 0 else n
                kept.append(line[start:i])
            else:
                code = code or not c.isspace()
                i += 1
                kept.append(c)
        yield ("code" if code else "comment" if comment else "blank"), "".join(kept)


def sources(root):
    """(path, text) of every Scala source under `root`, sorted by path."""
    paths = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".scala"))
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield p, fh.read().rstrip("\n")


def options(root):
    counts = {}
    for _, text in sources(root):
        for _, code in classify(text):
            for name in OPTION.findall(code):
                counts[name] = counts.get(name, 0) + 1
    for name in sorted(counts):
        print(f"{counts[name]:>7}  {name}")
    print(f"{len(counts):>7}  distinct names")


def main(argv):
    args = argv[1:]
    if args[:1] == ["--options"]:
        return options(args[1] if len(args) > 1 else "src/main")
    root = args[0] if args else "src/main"
    totals = {"code": 0, "comment": 0, "blank": 0}
    n_files = 0
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for p, text in sources(root):
        n_files += 1
        counts = {"code": 0, "comment": 0, "blank": 0}
        for kind, _ in classify(text):
            counts[kind] += 1
        for k in totals:
            totals[k] += counts[k]
        print(f"{counts['code']:>7} {counts['comment']:>7} {counts['blank']:>7}  {p}")
    print(f"{totals['code']:>7} {totals['comment']:>7} {totals['blank']:>7}  "
          f"total ({n_files} files, {sum(totals.values())} lines)")


if __name__ == "__main__":
    main(sys.argv)
