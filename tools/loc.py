#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per package.

Usage: python3 tools/loc.py [src_root]   (default: src/main/scala)

A line counts when anything other than whitespace is left on it after
removing `//` line comments and `/* ... */` block comments (nested, as
Scala nests them). Comment markers inside string literals ("...",
triple-quoted and interpolated) and character literals are text, not
comments. The package of a file is its first directory under
`<src_root>/graft/` (`graft` for files directly in it). Prints one
`<package> <lines>` row per package, sorted by name, then the total.
"""

import os
import sys


def code_lines(src):
    """Yield, per source line, whether it carries code."""
    i, n = 0, len(src)
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    has_code = False
    while i < n:
        c = src[i]
        if c == "\n":
            yield has_code
            has_code = False
            i += 1
            continue
        if depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str == '"""':
            if not c.isspace():
                has_code = True
            if src.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and src[j] == '"':
                    j += 1
                i = j
                in_str = None
            else:
                i += 1
            continue
        if in_str == '"':
            has_code = True
            if c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
            continue
        if src.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if src.startswith('"""', i):
            has_code = True
            in_str = '"""'
            i += 3
            continue
        if c == '"':
            has_code = True
            in_str = '"'
            i += 1
            continue
        if c == "'" and i + 2 < n:
            # character literal ('x', '"', '\n', 'A'); a lone quote
            # (a Scala 2 symbol) falls through as code
            if src[i + 1] == "\\":
                end = src.find("'", i + 3, i + 9)
            else:
                end = i + 2 if src[i + 2] == "'" else -1
            if end > 0 and "\n" not in src[i + 1:end]:
                has_code = True
                i = end + 1
                continue
        if not c.isspace():
            has_code = True
        i += 1
    yield has_code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    base = os.path.join(root, "graft")
    counts = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, base)
            parts = rel.split(os.sep)
            pkg = "graft" if len(parts) == 1 or parts[0] == ".." else parts[0]
            with open(path, encoding="utf-8") as fh:
                n = sum(code_lines(fh.read()))
            counts[pkg] = counts.get(pkg, 0) + n
    for pkg in sorted(counts):
        print(f"{pkg} {counts[pkg]}")
    print(f"total {sum(counts.values())}")


if __name__ == "__main__":
    main()
