#!/usr/bin/env python3
"""Compare two graft.Verify output directories as decoded tables.

    python3 tools/verify_diff.py <dirA> <dirB>

Raw parquet bytes are not reproducible between two runs of the same code
(parquet-mr writes each column chunk's encodings list in varying order),
so each query's output is compared decoded, with pyarrow: schema (with
its metadata), row order and values, and every file's footer key-value
metadata. `oracle_sql.json` is compared byte for byte.

Prints `SAME n/N` over the queries found on either side, then one line
per query that differs or is missing on one side. Exits 1 on any
difference, 0 when both directories hold the same results.
"""
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def queries(root):
    """query name -> sorted parquet part files, for every query dir."""
    return {d.name: sorted(d.glob("*.parquet"))
            for d in sorted(root.iterdir())
            if d.is_dir() and any(d.glob("*.parquet"))}


def decoded(files):
    """(table, footer key-values per file) of one query's parts."""
    table = pa.concat_tables([pq.read_table(f) for f in files])
    footers = [pq.read_metadata(f).metadata for f in files]
    return table, footers


def difference(fa, fb):
    """None if both sides decode the same, else why not."""
    ta, ka = decoded(fa)
    tb, kb = decoded(fb)
    if not ta.schema.equals(tb.schema, check_metadata=True):
        return f"schema {ta.schema} != {tb.schema}"
    if ta.num_rows != tb.num_rows:
        return f"rows {ta.num_rows} != {tb.num_rows}"
    if not ta.equals(tb):
        return "values or row order differ"
    if ka != kb:
        return "footer key-value metadata differs"
    return None


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a, b = Path(sys.argv[1]), Path(sys.argv[2])
    qa, qb = queries(a), queries(b)
    names = sorted(set(qa) | set(qb))
    bad = []
    for n in names:
        if n not in qa or n not in qb:
            bad.append((n, f"missing in {a if n not in qa else b}"))
            continue
        why = difference(qa[n], qb[n])
        if why:
            bad.append((n, why))
    print(f"SAME {len(names) - len(bad)}/{len(names)}")
    for n, why in bad:
        print(f"  DIFF {n}: {why}")
    oa, ob = a / "oracle_sql.json", b / "oracle_sql.json"
    oracle_same = (oa.is_file() and ob.is_file()
                   and oa.read_bytes() == ob.read_bytes())
    print(f"oracle_sql.json: {'identical' if oracle_same else 'DIFFERS'}")
    sys.exit(1 if bad or not oracle_same else 0)


if __name__ == "__main__":
    main()
