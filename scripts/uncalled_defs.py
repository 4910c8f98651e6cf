#!/usr/bin/env python3
"""List public defs under src/main/scala that main code names only where
they are defined.

A def counts when it is a member of a class, object or trait body (not a
local def) and is not private, protected or an override. For each one the
script counts word-boundary mentions of its name:

  main       mentions in src/main/scala other than `def <name>` lines
  test       mentions in src/test/scala
  perfbench  mentions in perfbench/src

and prints `file:line name main=N test=N perfbench=N` when main is 0. The
scan is lexical: a name shared by two defs counts as called if either is
mentioned, so a listed def is a candidate for deletion, not a proof. It
only reports; it exits 0 whatever it finds.

Usage: python3 scripts/uncalled_defs.py [repo_root]
"""
import os
import re
import sys

SKIP = {"main", "apply", "unapply"}
DEF = re.compile(r"^\s*((?:[a-z]+\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)")
TYPE = re.compile(r"\b(object|class|trait)\b")


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def code_lines(text):
    """Lines with comments and string literals blanked (brace counting
    and def detection must not see braces or `def` inside them)."""
    out, in_block, in_triple = [], False, False
    for line in text.split("\n"):
        buf, i = [], 0
        while i < len(line):
            if in_block:
                j = line.find("*/", i)
                if j < 0:
                    i = len(line)
                else:
                    in_block, i = False, j + 2
            elif in_triple:
                j = line.find('"""', i)
                if j < 0:
                    i = len(line)
                else:
                    in_triple, i = False, j + 3
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line.startswith('"""', i):
                in_triple, i = True, i + 3
            elif line[i] == '"':
                j = i + 1
                while j < len(line) and line[j] != '"':
                    j += 2 if line[j] == "\\" else 1
                buf.append('""')
                i = j + 1
            elif line.startswith("'{'", i) or line.startswith("'}'", i):
                i += 3
            else:
                buf.append(line[i])
                i += 1
        out.append("".join(buf))
    return out


def member_defs(path):
    """(line number, name) of every public member def in one file."""
    stack, found = [], []
    for n, line in enumerate(code_lines(open(path, encoding="utf-8").read()), 1):
        m = DEF.match(line)
        if m and (not stack or stack[-1]):
            mods = m.group(1).split()
            if not {"private", "protected", "override"} & set(mods) and \
                    not re.search(r"private\[|protected\[", m.group(1)) and \
                    m.group(2) not in SKIP:
                found.append((n, m.group(2)))
        opens_type = bool(TYPE.search(line)) and not m
        for ch in line:
            if ch == "{":
                stack.append(opens_type)
                opens_type = False
            elif ch == "}" and stack:
                stack.pop()
    return found


def mentions(files):
    """name -> (all word mentions, mentions on `def <name>` lines)."""
    words, defs = {}, {}
    for f in files:
        for line in code_lines(open(f, encoding="utf-8").read()):
            for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", line):
                words[w] = words.get(w, 0) + 1
            for w in re.findall(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", line):
                defs[w] = defs.get(w, 0) + 1
    return words, defs


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_src = os.path.join(root, "src", "main", "scala")
    main_files = list(scala_files(main_src))
    main_words, main_def_lines = mentions(main_files)
    test_words, _ = mentions(scala_files(os.path.join(root, "src", "test", "scala")))
    bench_words, _ = mentions(scala_files(os.path.join(root, "perfbench", "src")))
    count = 0
    for f in main_files:
        for line, name in member_defs(f):
            in_main = main_words.get(name, 0) - main_def_lines.get(name, 0)
            if in_main == 0:
                count += 1
                print(f"{os.path.relpath(f, root)}:{line} {name} main=0 "
                      f"test={test_words.get(name, 0)} "
                      f"perfbench={bench_words.get(name, 0)}")
    print(f"{count} public defs named in main code only at their definition")


if __name__ == "__main__":
    main()
