"""Compare two graft.Verify dump dirs exactly, query by query.

    python3 tools/dump_diff.py PARENT_DIR CHANGE_DIR

Each query's output (one parquet directory per query) is read as a
multiset of rows with check.py's canon/table_rows: columns sorted by name,
floats by repr, so values compare bit for bit and row order is ignored.
Prints every query whose columns or rows differ, or that was dumped on
one side only. Then compares the two dirs' `oracle_sql.json` files key by
key, each SQL text with every whitespace run collapsed to one space, and
prints each key whose text differs or that one side lacks. Exits 1 if
either check finds anything.
"""
import collections
import json
import os
import re
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import table_rows  # noqa: E402


def queries(dump_dir):
    return {n for n in os.listdir(dump_dir)
            if os.path.isdir(os.path.join(dump_dir, n))}


def diff_query(parent_dir, change_dir):
    """None when the two dumps hold the same rows, else what differs."""
    pc, pr = table_rows(pq.read_table(parent_dir))
    cc, cr = table_rows(pq.read_table(change_dir))
    if pc != cc:
        return f"columns {pc} vs {cc}"
    only_p = collections.Counter(pr) - collections.Counter(cr)
    only_c = collections.Counter(cr) - collections.Counter(pr)
    if not only_p and not only_c:
        return None
    return (f"{sum(only_p.values())} rows only in parent "
            f"(first {next(iter(only_p), None)}), {sum(only_c.values())} "
            f"only in change (first {next(iter(only_c), None)})")


def oracle_sql(dump_dir):
    """{query: oracle SQL with whitespace runs collapsed}; {} if the dump
    has no oracle_sql.json."""
    path = os.path.join(dump_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return {k: re.sub(r"\s+", " ", v).strip()
                for k, v in json.load(fh).items()}


def diff_oracles(p, c):
    """[(key, why)] for each key of the oracle maps `p` and `c` whose SQL
    differs or that only one side has."""
    out = []
    for key in sorted(p.keys() | c.keys()):
        if key not in c or key not in p:
            out.append((key, f"only in {'parent' if key in p else 'change'}"))
        elif p[key] != c[key]:
            at = len(os.path.commonprefix([p[key], c[key]]))
            out.append((key, f"SQL differs from character {at}: "
                             f"{p[key][at:at + 60]!r} vs {c[key][at:at + 60]!r}"))
    return out


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = argv
    p, c = queries(parent), queries(change)
    differing = []
    for name in sorted(p | c):
        if name not in c or name not in p:
            why = f"dumped only in {'parent' if name in p else 'change'}"
        else:
            why = diff_query(os.path.join(parent, name),
                             os.path.join(change, name))
        if why:
            differing.append(name)
            print(f"DIFF {name}: {why}")
    print(f"{len(p | c)} queries compared, {len(differing)} differ")
    po, co = oracle_sql(parent), oracle_sql(change)
    oracles = diff_oracles(po, co)
    for key, why in oracles:
        print(f"ORACLE {key}: {why}")
    print(f"{len(po.keys() | co.keys())} oracle keys compared, "
          f"{len(oracles)} differ")
    return 1 if differing or oracles else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
