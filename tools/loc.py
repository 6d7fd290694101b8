"""Count Scala code lines: block comments stripped, then blank and `//`
lines dropped. The count every CHANGES.md entry quotes.

    python3 tools/loc.py                      # total over src/main/scala
    python3 tools/loc.py FILE_OR_DIR ...      # total over these paths
    python3 tools/loc.py --dups [PATH ...]    # duplicated code lines

Prints the total as a comma-grouped integer (e.g. 26,400).

`--dups` counts the code lines touched by a window of 60 consecutive code
tokens (a `\\w+` run or one punctuation character) that occurs more than
once across the given files, so a copy counts however its lines are
wrapped. Comments and the leading `|` of a `stripMargin` line are dropped
before tokenizing, and a window that touches a `package` or `import` line
does not count. Each duplicated run of lines is printed as
`path:first-last` on stderr; the total alone goes to stdout.
"""
import os
import re
import sys
from collections import defaultdict

BLOCK = re.compile(r"/\*.*?\*/", re.S)
# a trailing `//` comment: preceded by whitespace, so `s3://` stays code
TRAILING = re.compile(r"\s//.*$")
TOKEN = re.compile(r"\w+|[^\w\s]")
DUP_TOKENS = 60


def code_line_list(text):
    """The stripped code lines of one Scala source text."""
    lines = (l.strip() for l in BLOCK.sub("", text).splitlines())
    return [l for l in lines if l and not l.startswith("//")]


def code_lines(text):
    """Code lines of one Scala source text."""
    return len(code_line_list(text))


def tokens(text):
    """(token, line number, in a package/import line) for each code token
    of one Scala source text; line numbers are 1-based source lines."""
    # blank a block comment out but keep its newlines, so numbers hold
    text = BLOCK.sub(lambda m: "\n" * m.group().count("\n"), text)
    out = []
    for n, line in enumerate(text.splitlines(), 1):
        line = TRAILING.sub("", line).strip()
        if line.startswith("//"):
            continue
        header = line.startswith(("package ", "import "))
        if line.startswith("|"):
            line = line[1:]
        out.extend((t, n, header) for t in TOKEN.findall(line))
    return out


def duplicate_runs(sources, window=DUP_TOKENS):
    """{file index: sorted source line numbers} of the code lines of
    `sources` (a list of source texts) touched by a window of `window`
    tokens that occurs more than once."""
    files = [tokens(t) for t in sources]
    where = defaultdict(list)
    for f, toks in enumerate(files):
        headers = [0]
        for _, _, h in toks:
            headers.append(headers[-1] + h)
        for i in range(len(toks) - window + 1):
            if headers[i + window] == headers[i]:
                where[tuple(t for t, _, _ in toks[i:i + window])].append((f, i))
    dup = defaultdict(set)
    for starts in where.values():
        if len(starts) > 1:
            for f, i in starts:
                dup[f].update(n for _, n, _ in files[f][i:i + window])
    return {f: sorted(lines) for f, lines in dup.items()}


def duplicate_lines(sources, window=DUP_TOKENS):
    """Code lines of `sources` inside a repeated `window`-token window."""
    return sum(map(len, duplicate_runs(sources, window).values()))


def runs(lines):
    """Maximal (first, last) ranges of consecutive numbers in `lines`."""
    out = []
    for n in lines:
        if out and n == out[-1][1] + 1:
            out[-1][1] = n
        else:
            out.append([n, n])
    return [tuple(r) for r in out]


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def sources(paths):
    """(path, text) of every Scala file under `paths`."""
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                yield f, fh.read()


def count(paths):
    return sum(code_lines(t) for _, t in sources(paths))


def dups(paths):
    """Duplicated code lines under `paths`; each run goes to stderr."""
    files = list(sources(paths))
    names = [f for f, _ in files]
    found = duplicate_runs([t for _, t in files])
    for f in sorted(found):
        for first, last in runs(found[f]):
            print(f"{os.path.relpath(names[f])}:{first}-{last}",
                  file=sys.stderr)
    return sum(map(len, found.values()))


def main(argv):
    want_dups = argv[:1] == ["--dups"]
    argv = argv[1:] if want_dups else argv
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(root, "src", "main", "scala")]
    n = dups(paths) if want_dups else count(paths)
    print(f"{n:,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
