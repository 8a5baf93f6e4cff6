#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per directory or file.

  python3 tools/codelines.py [PATH ...]     # default: src/main/scala/graft/sources

A line counts when it holds at least one character outside a comment.
Line comments (`//`), block and scaladoc comments (`/* */`, nested as
Scala nests them) are skipped; comment markers inside string literals
(`"..."`, `\"\"\"...\"\"\"`, char literals) are not comments. Prints one
line per PATH — a single `.scala` file, or a directory counted
recursively over its `*.scala` files — and, for several paths, a total.
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


def count_file(f):
    with open(f, encoding="utf-8") as fh:
        return code_lines(fh.read())


def count_dir(d):
    return sum(count_file(os.path.join(root, f))
               for root, _, files in os.walk(d) for f in files if f.endswith(".scala"))


def main(argv):
    paths = argv or ["src/main/scala/graft/sources"]
    grand = 0
    for p in paths:
        path = p if os.path.isabs(p) else os.path.join(REPO, p)
        if os.path.isdir(path):
            n = count_dir(path)
        elif os.path.isfile(path) and path.endswith(".scala"):
            n = count_file(path)
        else:
            sys.exit(f"codelines: no such directory or .scala file: {p}")
        grand += n
        print(f"{n:7d}  {p}")
    if len(paths) > 1:
        print(f"{grand:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
