#!/usr/bin/env python3
"""Count non-blank, non-comment (nbnc) lines of Scala source files.

A line counts when, after removing comments, any non-whitespace text is
left. Handled comment forms: `// ...` to end of line, `/* ... */` and
`/** ... */` (spanning lines, nested as Scala nests them, or closing
mid-line with code after it). Comment markers inside string literals
("...", s"...", and triple-quoted strings) and character literals do not
start a comment.

Usage:
  python3 tools/nbnc.py FILE_OR_DIR...

Prints one `count  path` line per Scala file (directories are walked for
`*.scala`) and a final `total` line.
"""
import os
import sys


def nbnc_lines(text: str) -> int:
    """nbnc line count of one Scala source text."""
    count = 0
    depth = 0          # open /* */ comments (Scala nests them)
    in_triple = False  # inside a """...""" literal spanning lines
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                code = True
                end = line.find('"""', i)
                if end < 0:
                    i = n
                else:
                    in_triple = False
                    i = end + 3
                continue
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
                continue
            if c == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
                continue
            if c == "'" and i + 2 < n and (line[i + 2] == "'" or
                                           line[i + 1] == "\\"):
                # a character literal such as '/' or '\n'
                code = True
                close = line.find("'", i + 3 if line[i + 1] == "\\" else i + 2)
                i = n if close < 0 else close + 1
                continue
            if not c.isspace():
                code = True
            i += 1
        if code:
            count += 1
    return count


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in sorted(files):
                    if f.endswith(".scala"):
                        yield os.path.join(root, f)
        else:
            yield p


def main(argv) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in sorted(scala_files(argv)):
        with open(path, encoding="utf-8") as fh:
            n = nbnc_lines(fh.read())
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
