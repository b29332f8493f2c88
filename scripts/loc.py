#!/usr/bin/env python3
"""Count code, comment and blank lines of every Scala source under a root.

    python3 scripts/loc.py [root]        # root defaults to src/main

One line per file (code, comment, blank, path), then the totals. A line
with any code on it counts as code, even if it also carries a trailing
comment; a line holding only comment text (``//``, ``/* */``, scaladoc)
counts as comment; a line of whitespace counts as blank, also inside a
block comment. Block comments nest, as in Scala, and comment markers
inside string and character literals are not comments.
"""
import os
import sys


def classify(text):
    """Yields 'code', 'comment' or 'blank' for each line of `text`."""
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        code = comment = False
        i, n = 0, len(line)
        while i < n:
            c, two = line[i], line[i:i + 2]
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
            elif two == "//":
                comment = comment or bool(line[i + 2:].strip())
                break
            elif two == "/*":
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code, in_triple = True, True
                i += 3
            elif c == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                code = True
                end = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = end + 1 if end > 0 else n
            else:
                code = code or not c.isspace()
                i += 1
        yield "code" if code else "comment" if comment else "blank"


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    paths = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".scala"))
    totals = {"code": 0, "comment": 0, "blank": 0}
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            counts = {"code": 0, "comment": 0, "blank": 0}
            for kind in classify(fh.read().rstrip("\n")):
                counts[kind] += 1
        for k in totals:
            totals[k] += counts[k]
        print(f"{counts['code']:>7} {counts['comment']:>7} {counts['blank']:>7}  {p}")
    print(f"{totals['code']:>7} {totals['comment']:>7} {totals['blank']:>7}  "
          f"total ({len(paths)} files, {sum(totals.values())} lines)")


if __name__ == "__main__":
    main(sys.argv)
