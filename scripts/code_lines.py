#!/usr/bin/env python3
"""Count code lines in Scala (or Java) sources.

Usage: code_lines.py PATH [PATH ...]

A code line is a line that still holds something once comments are gone:
blank lines, `//` line comments and `/* ... */` block comments (scaladoc
included) do not count. Comment markers inside string literals ("..."
and triple-quoted) are text, not comments. Directories are walked for
`*.scala` and `*.java` files. Prints one `<lines>  <path>` row per file
and a `<lines>  total` row.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` holding code outside comments."""
    n = 0
    in_block = 0          # block-comment nesting depth (Scala nests them)
    in_triple = False     # inside a """...""" string, which may span lines
    for line in text.splitlines():
        has_code = in_triple and line.strip() != ""
        i = 0
        in_str = False
        while i < len(line):
            c = line[i]
            two = line[i:i + 2]
            if in_block:
                if two == "/*":
                    in_block += 1
                    i += 2
                elif two == "*/":
                    in_block -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif in_str:
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                in_block = 1
                i += 2
            elif line.startswith('"""', i):
                in_triple = True
                has_code = True
                i += 3
            elif c == '"':
                in_str = True
                has_code = True
                i += 1
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                has_code = True  # a char literal such as '"'
                i += 3
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            n += 1
    return n


def sources(path):
    if os.path.isdir(path):
        for root, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                if f.endswith((".scala", ".java")):
                    yield os.path.join(root, f)
    else:
        yield path


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        for f in sources(p):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
