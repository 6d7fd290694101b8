"""Count Scala code lines: block comments stripped, then blank and `//`
lines dropped. The count every CHANGES.md entry quotes.

    python3 tools/loc.py                      # total over src/main/scala
    python3 tools/loc.py FILE_OR_DIR ...      # total over these paths

Prints the total as a comma-grouped integer (e.g. 26,400).
"""
import os
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)


def code_lines(text):
    """Code lines of one Scala source text."""
    lines = BLOCK.sub("", text).splitlines()
    return sum(1 for l in lines
               if l.strip() and not l.strip().startswith("//"))


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def count(paths):
    total = 0
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                total += code_lines(fh.read())
    return total


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(root, "src", "main", "scala")]
    print(f"{count(paths):,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
