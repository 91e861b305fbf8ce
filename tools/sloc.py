#!/usr/bin/env python3
"""Non-blank, non-comment line count of Scala sources, per file and in total.

    python3 tools/sloc.py                      # src/main
    python3 tools/sloc.py src/main/scala/graft/streaming/StreamingOps.scala src/test

A line counts when it holds a non-whitespace character outside a comment.
Comments are `//` to the end of the line and `/* ... */` blocks, scaladoc
included; block comments nest, as in Scala. Comment markers inside string
literals (plain, interpolated, triple-quoted) and character literals are
text, not comments. A line inside a multi-line string counts unless it is
blank. Directories are walked for `*.scala` files; the output is one
`count  path` line per file in path order, then `count  total`.
"""
import os
import re
import sys

# a character literal: 'a', '\n', '\'', 'A'
CHAR_LITERAL = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def code_lines(src):
    """Number of lines of `src` (Scala source text) that hold code."""
    count = 0
    depth = 0        # block-comment nesting
    string = None    # None, '"' or '"""'
    has_code = False
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if src.startswith("*/", i):
                depth -= 1
                i += 2
            elif src.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
        elif string == '"""':
            if src.startswith('"""', i):
                # in `""""` the quotes before the last three are text
                while src.startswith('"', i + 3):
                    i += 1
                string = None
                i += 3
            else:
                i += 1
            has_code = has_code or not c.isspace()
        elif string:
            if c == "\\":
                i += 2
            else:
                string = None if c == '"' else string
                i += 1
            has_code = True
        elif src.startswith("//", i):
            nl = src.find("\n", i)
            i = n if nl < 0 else nl
        elif src.startswith("/*", i):
            depth = 1
            i += 2
        elif src.startswith('"""', i):
            string = '"""'
            has_code = True
            i += 3
        elif c == '"':
            string = '"'
            has_code = True
            i += 1
        else:
            m = CHAR_LITERAL.match(src, i) if c == "'" else None
            i = m.end() if m else i + 1
            has_code = has_code or not c.isspace()
    return count + has_code


def scala_files(paths):
    """The `.scala` files named by `paths` (files, or directories walked)."""
    out = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                out += [os.path.join(d, f) for f in names if f.endswith(".scala")]
        else:
            out.append(p)
    return sorted(out)


def main(argv):
    total = 0
    for path in scala_files(argv or ["src/main"]):
        with open(path, encoding="utf-8") as f:
            k = code_lines(f.read())
        total += k
        print(f"{k:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
