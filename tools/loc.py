"""Count Scala code lines: block comments stripped, then blank and `//`
lines dropped. The count every CHANGES.md entry quotes.

    python3 tools/loc.py                      # total over src/main/scala
    python3 tools/loc.py FILE_OR_DIR ...      # total over these paths
    python3 tools/loc.py --dups [PATH ...]    # duplicated code lines

Prints the total as a comma-grouped integer (e.g. 26,400).

`--dups` counts the code lines that lie in a window of 6 consecutive code
lines, at least 150 characters long once each line is stripped, whose text
occurs more than once across the given files (a window made only of
`package`/`import` lines does not count).
"""
import os
import re
import sys
from collections import defaultdict

BLOCK = re.compile(r"/\*.*?\*/", re.S)
DUP_WINDOW = 6
DUP_MIN_CHARS = 150


def code_line_list(text):
    """The stripped code lines of one Scala source text."""
    lines = (l.strip() for l in BLOCK.sub("", text).splitlines())
    return [l for l in lines if l and not l.startswith("//")]


def code_lines(text):
    """Code lines of one Scala source text."""
    return len(code_line_list(text))


def duplicate_lines(sources, window=DUP_WINDOW, min_chars=DUP_MIN_CHARS):
    """Code lines of `sources` (a list of source texts) inside a repeated
    window of `window` code lines and at least `min_chars` characters."""
    files = [code_line_list(t) for t in sources]
    where = defaultdict(list)
    for f, lines in enumerate(files):
        for i in range(len(lines) - window + 1):
            w = lines[i:i + window]
            if sum(map(len, w)) < min_chars or all(
                    l.startswith(("package ", "import ")) for l in w):
                continue
            where["\n".join(w)].append((f, i))
    dup = set()
    for starts in where.values():
        if len(starts) > 1:
            for f, i in starts:
                dup.update((f, j) for j in range(i, i + window))
    return len(dup)


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def sources(paths):
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                yield fh.read()


def count(paths):
    return sum(code_lines(t) for t in sources(paths))


def main(argv):
    dups = argv[:1] == ["--dups"]
    argv = argv[1:] if dups else argv
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(root, "src", "main", "scala")]
    n = duplicate_lines(list(sources(paths))) if dups else count(paths)
    print(f"{n:,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
