#!/usr/bin/env python3
"""Scala line counts per scope: raw lines and code lines.

Usage: python3 tools/loc.py [repo_root]

Prints, for src/main and src/test, the raw line count (what `wc -l`
gives) and the code-only count: lines that hold something other than
whitespace and comments. Block comments (scaladoc included) and `//`
comments are recognised outside string literals, triple-quoted ones
included.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` carrying code outside comments."""
    count = 0
    depth = 0          # block-comment nesting (Scala nests them)
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
            elif in_triple:
                has_code = has_code or not line[i].isspace()
                if line.startswith('"""', i):
                    in_triple, i = False, i + 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                has_code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                has_code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                has_code, i = True, i + 3  # a char literal such as '"'
            else:
                has_code = has_code or not line[i].isspace()
                i += 1
        count += has_code
    return count


def scope(root):
    raw = code = 0
    for base, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(base, f), encoding="utf-8") as fh:
                    text = fh.read()
                raw += text.count("\n")
                code += code_lines(text)
    return raw, code


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    print("%-6s %8s %8s" % ("scope", "raw", "code"))
    for name in ("main", "test"):
        raw, code = scope(os.path.join(repo, "src", name))
        print("%-6s %8d %8d" % (name, raw, code))


if __name__ == "__main__":
    main()
