#!/usr/bin/env python3
"""Count code, comment and blank lines of Scala (and Java) sources.

Usage: loc.py <path>...

Each path is a file or a directory; directories are walked for
`*.scala` and `*.java` files.  Prints `code comment blank path` per
file, sorted by path, then the totals and the comment share of all
lines.

A line is blank when it holds only whitespace, code when any character
outside a comment is not whitespace, and comment otherwise.  `//` line
comments and `/* ... */` block comments (Scala nests them) are
recognised outside string and character literals; `"..."` with escapes
and multi-line triple-quoted strings are strings.  A line holding code and a
trailing comment counts as code.
"""
import os
import sys

EXTS = (".scala", ".java")


def classify(text):
    """(code, comment, blank) line counts of one source text."""
    code = comment = blank = 0
    depth = 0        # block-comment nesting carried across lines
    triple = False   # inside a """ string carried across lines
    for line in text.splitlines():
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            if triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                i, triple = end + 3, False
                continue
            if depth:
                has_comment = True
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
                continue
            c = line[i]
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                has_comment, depth, i = True, 1, i + 2
            elif line.startswith('"""', i):
                has_code, triple, i = True, True, i + 3
            elif c == '"':
                has_code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and line[i + 1] == "\\":
                has_code = True
                end = line.find("'", i + 2)
                i = n if end < 0 else end + 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code, i = True, i + 3
            else:
                has_code, i = True, i + 1
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
        else:
            blank += 1
    return code, comment, blank


def files_of(paths):
    out = []
    for p in paths:
        if os.path.isdir(p):
            for dp, _, fs in os.walk(p):
                out += [os.path.join(dp, f) for f in fs if f.endswith(EXTS)]
        elif os.path.isfile(p):
            out.append(p)
        else:
            sys.exit(f"loc.py: no such file or directory: {p}")
    return sorted(set(out))


def main(argv):
    if not argv:
        sys.exit(__doc__)
    total = [0, 0, 0]
    for f in files_of(argv):
        with open(f, encoding="utf-8") as fh:
            counts = classify(fh.read())
        total = [a + b for a, b in zip(total, counts)]
        print(f"{counts[0]:7d} {counts[1]:7d} {counts[2]:7d} {f}")
    lines = sum(total)
    share = 100.0 * total[1] / lines if lines else 0.0
    print(f"{total[0]:7d} {total[1]:7d} {total[2]:7d} total "
          f"(code comment blank; comments {share:.1f}% of {lines} lines)")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BrokenPipeError:
        # the reader closed the pipe (`loc.py src | head`): stop without
        # a traceback; stdout goes to devnull so the exit flush is quiet
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(1)
