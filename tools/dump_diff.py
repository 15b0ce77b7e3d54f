#!/usr/bin/env python3
"""Compare two graft.Verify dumps: the oracle SQL and every query's output.

Usage: python3 tools/dump_diff.py <dirA> <dirB>

Exits 1 if the two oracle_sql.json files do not parse to equal dicts, or
if any query's canonical sorted-row hash differs (a query dumped on one
side only counts as a difference). The canonical form is selfcheck.py's
`canon` — columns sorted by name, floats rounded to 6 places, rows
sorted by every column — so a refactor that must not change any answer
can be checked without running the DuckDB oracles.
"""
import glob
import hashlib
import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import canon  # noqa: E402


def output_hash(query_dir: str) -> str:
    files = sorted(glob.glob(f"{query_dir}/*.parquet"))
    if not files:
        return "NO_PARQUET"
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    try:
        df = canon(df)
    except (TypeError, ValueError):
        # unorderable cells (arrays, maps): sort on their text form
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.iloc[df.astype(str).apply(tuple, axis=1).argsort()]
    h = hashlib.sha256(repr(list(df.dtypes.astype(str).items())).encode())
    h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def query_hashes(dump: str) -> dict:
    return {os.path.basename(d): output_hash(d)
            for d in sorted(glob.glob(f"{dump}/q*")) if os.path.isdir(d)}


def main(a: str, b: str) -> int:
    failed = False
    oa = json.load(open(f"{a}/oracle_sql.json"))
    ob = json.load(open(f"{b}/oracle_sql.json"))
    if oa != ob:
        failed = True
        for k in sorted(set(oa) | set(ob)):
            if oa.get(k) != ob.get(k):
                print(f"ORACLE_DIFF {k}")
    else:
        print(f"oracle_sql.json: {len(oa)} entries, equal")
    ha, hb = query_hashes(a), query_hashes(b)
    diff = sorted(k for k in set(ha) | set(hb) if ha.get(k) != hb.get(k))
    for k in diff:
        print(f"OUTPUT_DIFF {k}: {ha.get(k, 'MISSING')[:12]} vs {hb.get(k, 'MISSING')[:12]}")
    print(f"outputs: {len(set(ha) | set(hb)) - len(diff)}/{len(set(ha) | set(hb))} hashes equal")
    return 1 if failed or diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: dump_diff.py <dirA> <dirB>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
