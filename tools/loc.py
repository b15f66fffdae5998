#!/usr/bin/env python3
"""Line counts for the Scala sources under src/main.

Prints, for src/main as a whole and for each package directory under
src/main/scala/graft, two numbers:

  total  every line of every .scala file
  code   lines that carry at least one character outside a comment
         (blank lines, `//` lines and scaladoc/block-comment lines are
         not code)

Usage: python3 tools/loc.py [repo root]   (default: the current directory)
"""
import os
import sys


def code_lines(text):
    """Count lines holding code outside comments and blank space.

    A small scanner: tracks (nested) block comments across lines and
    skips string and char literals, so `"/*"` inside a string does not
    open a comment.
    """
    depth = 0  # block-comment nesting (Scala block comments nest)
    in_triple = False
    n = 0
    for line in text.split("\n"):
        i, has_code, L = 0, False, len(line)
        while i < L:
            if in_triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    i = L
                else:
                    in_triple, i = False, end + 3
            elif depth > 0:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
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
                while i < L and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < L and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # char literal ('x' or '\n'); a bare ' is a symbol/identifier char
                has_code = True
                end = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = L if end < 0 else end + 1
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            n += 1
    return n


def count(paths):
    total = code = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            text = f.read()
        total += len(text.split("\n")) - (1 if text.endswith("\n") else 0)
        code += code_lines(text)
    return total, code


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    main_dir = os.path.join(repo, "src", "main")
    pkg_root = os.path.join(main_dir, "scala", "graft")
    rows = [("src/main", scala_files(main_dir))]
    top = [os.path.join(pkg_root, f) for f in sorted(os.listdir(pkg_root))
           if f.endswith(".scala")]
    rows.append(("graft (top level)", top))
    for d in sorted(os.listdir(pkg_root)):
        if os.path.isdir(os.path.join(pkg_root, d)):
            rows.append(("graft/" + d, scala_files(os.path.join(pkg_root, d))))
    print(f"{'scope':<20} {'files':>5} {'total':>7} {'code':>7}")
    for name, files in rows:
        total, code = count(files)
        print(f"{name:<20} {len(files):>5} {total:>7} {code:>7}")


if __name__ == "__main__":
    main()
