#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare (optimization-round
safety net): runs every oracle_sql.json query over the raw testdata tables
and diffs rows against the graft.Verify parquet dumps.

Usage: python3 scripts/oracle_check.py /root/testdata/sf0.01 /tmp/verify-out
"""
import json, math, sys

import duckdb


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver hashing is exact; for the local net, round to 9 dp to
        # absorb double formatting (NOT value) differences
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_of(cur):
    # None sorts before everything (sortable mixed-type key)
    return [tuple((c is not None, canon(c)) for c in r) for r in cur.fetchall()]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "part", "supplier", "nation",
              "region", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad = []
    for name in sorted(oracle):
        try:
            want = rows_of(con.execute(oracle[name]))
        except Exception as e:
            bad.append((name, f"oracle failed: {e}"))
            continue
        try:
            got = rows_of(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
        except Exception as e:
            bad.append((name, f"spark output unreadable: {e}"))
            continue
        if len(want) != len(got):
            bad.append((name, f"rows {len(got)} != oracle {len(want)}"))
            continue
        try:
            want, got = sorted(want), sorted(got)
        except TypeError as e:
            # a column whose values canon() maps to different Python types
            # (e.g. DECIMAL on one side, DOUBLE on the other) cannot be ordered
            bad.append((name, f"rows not comparable (mixed column types): {e}"))
            continue
        if want != got:
            diffs = [(a, b) for a, b in zip(want, got) if a != b]
            bad.append((name, f"{len(diffs)} differing rows, first: {diffs[0]}"))
        else:
            print(f"ok   {name} ({len(want)} rows)")
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    print(f"\n{len(oracle) - len(bad)}/{len(oracle)} oracle queries match")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
