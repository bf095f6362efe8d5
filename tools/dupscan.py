#!/usr/bin/env python3
"""Count the lines of src/main that repeat code written elsewhere.

A window is 6 consecutive lines of one file, each trimmed and with its
whitespace runs collapsed to one space. A window is skipped when any of
its lines is blank or starts with `//`, `/**`, `*`, `import` or
`package`, or when its 6 lines together are under 144 characters.

Windows are visited file by file (paths sorted), top to bottom. Every
window whose text was already seen is a copy; the total is the number
of distinct lines the copies cover. Each repeated window is printed
with the places it occurs, the first being the original.

Usage: python3 tools/dupscan.py [srcRoot]   (default: src/main)
"""
import os, re, sys
from collections import defaultdict

WIDTH = 6
MIN_CHARS = 144
SKIP_PREFIXES = ("//", "/**", "*", "import", "package")


def norm(line):
    return re.sub(r"\s+", " ", line.strip())


def counted(window):
    if any(l == "" or l.startswith(SKIP_PREFIXES) for l in window):
        return False
    return sum(len(l) for l in window) >= MIN_CHARS


def scala_files(root):
    out = []
    for d, _, fs in os.walk(root):
        out.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(out)


def scan(root):
    """{window text: [(path, first line index), ...]} for every counted window."""
    seen = defaultdict(list)
    for path in scala_files(root):
        with open(path, encoding="utf-8") as fh:
            lines = [norm(l) for l in fh]
        for i in range(len(lines) - WIDTH + 1):
            w = tuple(lines[i:i + WIDTH])
            if counted(w):
                seen[w].append((path, i))
    return seen


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    seen = scan(root)
    covered = set()
    for w, sites in sorted(seen.items(), key=lambda kv: kv[1][0]):
        if len(sites) < 2:
            continue
        print("  ".join(f"{p}:{i + 1}" for p, i in sites))
        print("    " + w[0][:100])
        for p, i in sites[1:]:
            covered.update((p, i + k) for k in range(WIDTH))
    print(f"total {len(covered)}")


if __name__ == "__main__":
    main()
