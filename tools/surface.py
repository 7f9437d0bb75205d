#!/usr/bin/env python3
"""Public surface and size of Scala source files.

    python3 tools/surface.py <file.scala>...

For each file prints `wc -l`, the count of non-comment, non-blank lines,
and the public `def` / `class` / `case class` / `trait` / `object` names
declared inside each top-level object, nested members qualified by their
enclosing type (`CellModel.assign`). A name counts once however often it
is overloaded. `private`/`protected` members (any qualifier), members of
private types and `override` members (their name is counted where it is
declared) are left out; so are local defs inside method bodies.
A closing TOTAL line sums the three figures over all files.
"""
import re
import sys

DECL = re.compile(
    r"^(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|sealed\s+"
    r"|implicit\s+|lazy\s+|abstract\s+|case\s+(?=class|object))*)"
    r"(?P<kind>def|class|trait|object)\s+(?P<name>[A-Za-z_][\w]*|`[^`]+`)")


def strip_comments(text):
    """Source with comments removed and string/char literals masked to
    placeholder characters of the same line structure, so braces inside
    them do not count."""
    out = []
    i, n = 0, len(text)
    depth = 0  # nested /* */ depth (Scala block comments nest)
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                if c == "\n":
                    out.append("\n")
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            # keep the literal's non-blank lines (SQL is code) without its braces
            out.append(re.sub(r"[^\n\s]", "s", text[i:j]))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append('""')
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            out.append("' '")
            i = (j + 1) if j >= 0 else n
        else:
            out.append(c)
            i += 1
    return "".join(out)


def code_lines(text):
    return sum(1 for line in strip_comments(text).split("\n") if line.strip())


def public_names(text):
    """Public names declared inside top-level objects, qualified by any
    enclosing type below the top-level object."""
    names = []
    # one entry per open brace: (depth before it, type name or None for a
    # method body or any other block, whether that scope is public)
    stack = []
    depth = 0
    pending = None  # the declaration the next opening brace belongs to
    for raw in strip_comments(text).split("\n"):
        m = DECL.match(raw.strip())
        if m:
            kind, name = m.group("kind"), m.group("name")
            mods = m.group("mods")
            private = bool(re.search(r"private|protected", mods))
            # an override implements a name its parent type already counts
            if (stack and all(s[1] is not None and s[2] for s in stack) and not private
                    and "override" not in mods):
                q = ".".join([s[1] for s in stack[1:]] + [name])
                if q not in names:
                    names.append(q)
            pending = (name if kind != "def" else None, not private)
        for ch in raw:
            if ch == "{":
                public = stack[-1][2] if stack else True
                stack.append((depth,) + (pending or (None, public)))
                pending = None
                depth += 1
            elif ch == "}":
                depth -= 1
                if stack and stack[-1][0] == depth:
                    stack.pop()
    return names


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total_wc = total_code = total_names = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            text = f.read()
        wc = text.count("\n")
        code = code_lines(text)
        names = public_names(text)
        total_wc += wc
        total_code += code
        total_names += len(names)
        print(f"{path}: wc -l {wc}, code lines {code}, public names {len(names)}")
        for name in names:
            print(f"  {name}")
    print(f"TOTAL: wc -l {total_wc}, code lines {total_code}, public names {total_names}")


if __name__ == "__main__":
    main(sys.argv[1:])
