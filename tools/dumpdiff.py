#!/usr/bin/env python3
"""Compare two graft.Verify / graft.VerifyOne dump directories query by
query, with DuckDB: each `<dir>/<name>/` parquet result must match in
schema (column names and types, in order) and in rows, in order (the
dumps write one file per query, so file order is output order). Values
compare by repr, so NaN equals NaN and a last-ulp double difference
still shows.

Usage: dumpdiff.py <dirA> <dirB> [name ...]

A name selects the query directory of that name or with that prefix
followed by `_` (`q125` selects `q125_bm25_served_index`). With no
names, every query directory in either dump is compared. Prints one
SAME/DIFF/MISSING line per query; exit status 0 when all are SAME.
"""
import os
import sys

import duckdb


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def selected(names, wanted):
    if not wanted:
        return sorted(names)
    out = set()
    for w in wanted:
        hits = {n for n in names if n == w or n.startswith(w + "_")}
        out |= hits or {w}  # an unmatched name reports as MISSING
    return sorted(out)


def load(con, d, name):
    rel = con.sql(f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')")
    schema = list(zip(rel.columns, map(str, rel.types)))
    return schema, [tuple(map(repr, r)) for r in rel.fetchall()]


def compare(con, a, b, name):
    try:
        sa, ra = load(con, a, name)
        sb, rb = load(con, b, name)
    except duckdb.Error as e:
        return f"MISSING {name}: {str(e).splitlines()[0]}"
    if sa != sb:
        return f"DIFF {name}: schema {sa} vs {sb}"
    if len(ra) != len(rb):
        return f"DIFF {name}: {len(ra)} vs {len(rb)} rows"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"DIFF {name}: row {i}: {x} vs {y}"
    return f"SAME {name} ({len(ra)} rows)"


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    a, b, wanted = argv[1], argv[2], argv[3:]
    con = duckdb.connect()
    lines = [compare(con, a, b, n)
             for n in selected(queries(a) | queries(b), wanted)]
    print("\n".join(lines))
    return 0 if lines and all(l.startswith("SAME") for l in lines) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
