#!/usr/bin/env python3
"""Behaviour check between two graft.Verify runs (dev tooling only).

Compares, query by query, the parquet outputs two `graft.Verify` runs
wrote (for example the parent commit's and a change's): by content, with
columns matched by name and rows sorted, so partition layout and column
order do not count. It also compares the two `oracle_sql.json` files
after rewriting each absolute `.../refdata/` prefix to `refdata/` (the
oracles embed the checkout's path), and lists the queries that wrote an
output on one side only (a query Verify could not run leaves none).

Prints one line per difference and a summary; exits 0 when the runs
agree, 1 when they differ.

Usage: python3 tools/compare_verify.py <verifyDirA> <verifyDirB>
       python3 tools/compare_verify.py --self-test
"""
import json
import os
import re
import sys
import tempfile

import duckdb

REFDATA = re.compile(r"""[^\s'"(]*/refdata/""")


def outputs(d):
    """Query name -> its parquet files, for every query Verify wrote."""
    out = {}
    for name in os.listdir(d):
        sub = os.path.join(d, name)
        if os.path.isdir(sub):
            files = sorted(os.path.join(sub, f) for f in os.listdir(sub)
                           if f.endswith(".parquet"))
            if files:
                out[name] = files
    return out


def content(con, files):
    """(sorted (column, type) pairs, sorted rows with columns by name)."""
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    cols = sorted(zip(rel.columns, map(str, rel.types)))
    order = ", ".join('"' + c.replace('"', '""') + '"' for c, _ in cols)
    rows = con.sql(f"SELECT {order} FROM read_parquet({files!r})").fetchall()
    return cols, sorted(map(repr, rows))


def oracles(d):
    with open(os.path.join(d, "oracle_sql.json"), encoding="utf-8") as f:
        return {k: REFDATA.sub("refdata/", v) for k, v in json.load(f).items()}


def compare(a, b):
    """Lines describing every difference between Verify runs a and b."""
    con = duckdb.connect()
    oa, ob = outputs(a), outputs(b)
    diffs = [f"only in {a}: {q}" for q in sorted(oa.keys() - ob.keys())]
    diffs += [f"only in {b}: {q}" for q in sorted(ob.keys() - oa.keys())]
    for q in sorted(oa.keys() & ob.keys()):
        (ca, ra), (cb, rb) = content(con, oa[q]), content(con, ob[q])
        if ca != cb:
            diffs.append(f"SCHEMA {q}: {ca} vs {cb}")
        elif len(ra) != len(rb):
            diffs.append(f"ROWCOUNT {q}: {len(ra)} vs {len(rb)}")
        elif ra != rb:
            first = next(x for x in zip(ra, rb) if x[0] != x[1])
            diffs.append(f"VALUES {q}: first differing rows {first[0]} vs {first[1]}")
    sa, sb = oracles(a), oracles(b)
    diffs += [f"ORACLE {q}: differs after refdata prefix normalisation"
              for q in sorted(sa.keys() | sb.keys()) if sa.get(q) != sb.get(q)]
    print(f"{len(oa.keys() & ob.keys())} outputs compared, {len(sa.keys() | sb.keys())} oracles")
    return diffs


def self_test():
    """Two runs that agree up to layout and checkout path, then a
    corrupted output and a one-sided failure, which must be flagged."""
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as tmp:
        runs = []
        for side, order in (("a", "x, y"), ("b", "y DESC, x")):
            d = os.path.join(tmp, side)
            os.makedirs(os.path.join(d, "q1"))
            con.execute(f"COPY (SELECT * FROM (VALUES (1, 'p'), (2, 'q')) t(x, y) "
                        f"ORDER BY {order}) TO '{d}/q1/part-0.parquet' (FORMAT PARQUET)")
            with open(os.path.join(d, "oracle_sql.json"), "w", encoding="utf-8") as f:
                json.dump({"q1": f"SELECT * FROM '/checkouts/{side}/refdata/t.csv'"}, f)
            runs.append(d)
        a, b = runs
        assert compare(a, b) == [], "equal runs reported different"
        con.execute(f"COPY (SELECT * FROM (VALUES (1, 'p'), (2, 'Q')) t(x, y)) "
                    f"TO '{b}/q1/part-0.parquet' (FORMAT PARQUET)")
        os.makedirs(os.path.join(a, "q2"))
        con.execute(f"COPY (SELECT 1 AS z) TO '{a}/q2/part-0.parquet' (FORMAT PARQUET)")
        got = compare(a, b)
        assert any(d.startswith("VALUES q1") for d in got), got
        assert any(d.endswith(": q2") and d.startswith("only in") for d in got), got
    print("self-test OK")


def main(argv):
    if argv == ["--self-test"]:
        self_test()
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    diffs = compare(*argv)
    for d in diffs:
        print(f"-> {d}")
    print("IDENTICAL" if not diffs else f"{len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
