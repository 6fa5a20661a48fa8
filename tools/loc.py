#!/usr/bin/env python3
"""Count code lines of Scala sources: lines with a token outside comments.

    python3 tools/loc.py [path ...]

Each path is a file or a directory searched for *.scala files; the default
is src/ and perfbench/src/ under the current directory. Blank lines and lines
that hold only comment text (`//`, `/* */` and `/** */`, nested as Scala
nests them) do not count; a line with code and a trailing comment does.
String and char literals are read as code, so a `//` inside one starts no
comment. Prints `code  total  path` per file, then one line per scope
(src/main, src/test, perfbench/src/...: the path up to the scope's package
root) and a grand total.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold a character outside comments."""
    code = set()
    line = 0
    depth = 0  # block-comment nesting
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif c.isspace():
            i += 1
        else:
            code.add(line)
            if text.startswith('"""', i):
                j = text.find('"""', i + 3)
                j = n if j < 0 else j + 3
                while j < n and text[j] == '"':  # a closing """ may end in more quotes
                    j += 1
            elif c == '"':
                j = i + 1
                while j < n and text[j] not in '"\n':
                    j += 2 if text[j] == "\\" else 1
                j += 1
            elif c == "'" and i + 2 < n and text[i + 1] == "\\":
                j = text.find("'", i + 3) + 1 or i + 1  # an escaped char literal
            elif c == "'" and i + 2 < n and text[i + 2] == "'":
                j = i + 3  # a char literal
            else:
                j = i + 1
            # every line a literal spans counts
            for k in range(text.count("\n", i, j)):
                code.add(line + 1 + k)
            line += text.count("\n", i, j)
            i = j
    return len(code)


def scope_of(path):
    """The directory above the first `scala` directory of the path."""
    parts = path.split(os.sep)
    return os.sep.join(parts[: parts.index("scala")]) if "scala" in parts else os.path.dirname(path)


def main(args):
    roots = args or [p for p in ("src", os.path.join("perfbench", "src")) if os.path.isdir(p)]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(names) if f.endswith(".scala")]
    scopes = {}
    total_code = total_lines = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            text = fh.read()
        c, t = code_lines(text), text.count("\n") + (not text.endswith("\n") and text != "")
        print(f"{c:7d} {t:7d}  {f}")
        s = scopes.setdefault(scope_of(f), [0, 0])
        s[0] += c
        s[1] += t
        total_code += c
        total_lines += t
    for s, (c, t) in sorted(scopes.items()):
        print(f"{c:7d} {t:7d}  [{s}]")
    print(f"{total_code:7d} {total_lines:7d}  [total]")


if __name__ == "__main__":
    main(sys.argv[1:])
