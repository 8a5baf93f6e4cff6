#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per directory.

  python3 tools/codelines.py [DIR ...]      # default: src/main/scala/graft/sources

A line counts when it holds at least one character outside a comment.
Line comments (`//`), block and scaladoc comments (`/* */`, nested as
Scala nests them) are skipped; comment markers inside string literals
(`"..."`, `\"\"\"...\"\"\"`, char literals) are not comments. Prints one
line per directory (recursive over `*.scala`) and, for several
directories, a total.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(text):
    n = 0
    depth = 0          # block-comment nesting
    triple = False     # inside a """ string (spans lines)
    for line in text.splitlines():
        code = False
        i, end = 0, len(line)
        single = False  # inside a "..." string (never spans lines)
        while i < end:
            c, two = line[i], line[i:i + 2]
            if depth:
                if two == "/*":
                    depth += 1; i += 2
                elif two == "*/":
                    depth -= 1; i += 2
                else:
                    i += 1
            elif triple:
                code = True
                if line.startswith('"""', i):
                    triple = False; i += 3
                else:
                    i += 1
            elif single:
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    single = False; i += 1
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth += 1; i += 2
            elif line.startswith('"""', i):
                code = True; triple = True; i += 3
            elif c == '"':
                code = True; single = True; i += 1
            elif c == "'" and i + 2 < end and (line[i + 2] == "'" or line[i + 1] == "\\"):
                code = True  # char literal such as '"' or '\n'
                i = line.index("'", i + 2) + 1 if "'" in line[i + 2:] else end
            else:
                if not c.isspace():
                    code = True
                i += 1
        n += code
    return n


def count_dir(d):
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def main(argv):
    dirs = argv or ["src/main/scala/graft/sources"]
    grand = 0
    for d in dirs:
        path = d if os.path.isabs(d) else os.path.join(REPO, d)
        if not os.path.isdir(path):
            sys.exit(f"codelines: no such directory: {d}")
        n = count_dir(path)
        grand += n
        print(f"{n:7d}  {d}")
    if len(dirs) > 1:
        print(f"{grand:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
