#!/usr/bin/env python3
"""Compare two graft.Verify output directories key by key.

Usage: python3 tools/compare_outputs.py <dirA> <dirB>

Every key directory present in either side must be present in both, and
the two tables must be equal: same Arrow schema (field names, types,
nullability and Spark's schema metadata) and the same rows in the same
order. `oracle_sql.json` must be byte-identical. Prints one line per
difference and a summary; exits 1 on any difference, 0 otherwise.
"""
import os
import sys

import pyarrow.parquet as pq


def keys(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    a_keys, b_keys = keys(a_dir), keys(b_dir)
    diffs = [f"only in {a_dir}: {k}" for k in sorted(a_keys - b_keys)]
    diffs += [f"only in {b_dir}: {k}" for k in sorted(b_keys - a_keys)]
    shared = sorted(a_keys & b_keys)
    n_equal = 0
    for k in shared:
        a = pq.read_table(os.path.join(a_dir, k))
        b = pq.read_table(os.path.join(b_dir, k))
        if not a.schema.equals(b.schema, check_metadata=True):
            diffs.append(f"schema {k}: {a.schema} != {b.schema}")
        elif not a.equals(b):
            diffs.append(f"rows {k}: {a.num_rows} vs {b.num_rows} rows differ")
        else:
            n_equal += 1
    oracles = [os.path.join(d, "oracle_sql.json") for d in (a_dir, b_dir)]
    if all(os.path.exists(p) for p in oracles):
        with open(oracles[0], "rb") as fa, open(oracles[1], "rb") as fb:
            if fa.read() != fb.read():
                diffs.append("oracle_sql.json differs")
    else:
        diffs.append("oracle_sql.json missing on at least one side")
    for line in diffs:
        print(line)
    print(f"{n_equal} of {len(shared)} shared keys equal; "
          f"{len(diffs)} differences")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
