#!/usr/bin/env python3
"""Check a `graft.Verify` dump against the DuckDB oracle.

    sbt "runMain graft.Verify <sfDir> <outDir> [entry,entry,...]"
    python3 tools/check_oracle.py <outDir> <sfDir> [--only entry,entry,...]

For every entry in `<outDir>/oracle_sql.json` (or only those named by
`--only`, which mirrors Verify's third argument) this runs the entry's
oracle SQL in DuckDB over views of every `<sfDir>/*.parquet` table, reads
Spark's result from `<outDir>/<entry>/*.parquet`, and compares the two:
columns by name, rows sorted by every column, row counts first. Integer,
string, bool, decimal and temporal values must match exactly; only
floating-point columns get a relative tolerance (1e-9). NULL equals NULL,
and NaN equals NaN. An entry whose dump holds `_ERROR.json`, or has no
dump at all, fails.

Exit code 0 when every checked entry matches, 1 otherwise.
"""
import argparse
import decimal
import glob
import json
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

RTOL = 1e-9


def views(con, sf_dir):
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def spark_result(out_dir, entry):
    d = os.path.join(out_dir, entry)
    if os.path.exists(os.path.join(d, "_ERROR.json")):
        with open(os.path.join(d, "_ERROR.json")) as f:
            raise ValueError("Spark entry failed: " + f.read()[:300])
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet under {d}")
    return pa.concat_tables([pq.read_table(f) for f in files])


def sort_key(v):
    """Total order over one cell: NULL first, then by type, then value."""
    if v is None:
        return (0, "", 0)
    if isinstance(v, float) and math.isnan(v):
        return (1, "nan", 0)
    if isinstance(v, (bool, int, float, decimal.Decimal)):
        return (2, "num", v)  # Python compares these exactly across types
    if isinstance(v, (str, bytes)):
        return (3, type(v).__name__, v)
    return (4, type(v).__name__, repr(v))


def rows_of(table, cols):
    data = [table.column(c).to_pylist() for c in cols]
    rows = list(zip(*data)) if data else []
    return sorted(rows, key=lambda r: tuple(sort_key(v) for v in r))


def is_float(t):
    return pa.types.is_floating(t)


def cell_eq(a, b, fuzzy):
    if a is None or b is None:
        return a is None and b is None
    if fuzzy:
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or math.isclose(a, b, rel_tol=RTOL, abs_tol=0.0)
    return a == b


def compare(entry, sql, con, out_dir):
    got = spark_result(out_dir, entry)
    want = con.execute(sql).arrow()
    if isinstance(want, pa.RecordBatchReader):
        want = want.read_all()
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns differ: spark {gcols} vs oracle {wcols}"
    if got.num_rows != want.num_rows:
        return f"row count: spark {got.num_rows} vs oracle {want.num_rows}"
    fuzzy = [is_float(got.schema.field(c).type) or is_float(want.schema.field(c).type)
             for c in gcols]
    for i, (g, w) in enumerate(zip(rows_of(got, gcols), rows_of(want, gcols))):
        for c, a, b, fz in zip(gcols, g, w, fuzzy):
            if not cell_eq(a, b, fz):
                return f"row {i} column {c}: spark {a!r} vs oracle {b!r}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir", help="the Verify output directory")
    ap.add_argument("sf_dir", help="the directory of the scale factor's parquet tables")
    ap.add_argument("--only", help="comma-separated entry names to check")
    args = ap.parse_args()

    with open(os.path.join(args.out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = sorted(oracle)
    if args.only:
        wanted = [n for n in args.only.split(",") if n]
        unknown = [n for n in wanted if n not in oracle]
        if unknown:
            sys.exit(f"check_oracle: no oracle SQL for {', '.join(unknown)}")
        names = sorted(wanted)

    con = duckdb.connect()
    views(con, args.sf_dir)
    failed = []
    for name in names:
        try:
            err = compare(name, oracle[name], con, args.out_dir)
        except Exception as e:  # a failed dump or oracle query fails the entry
            err = f"{type(e).__name__}: {e}"
        print(f"{'ok  ' if err is None else 'FAIL'} {name}" + ("" if err is None else f": {err}"))
        if err is not None:
            failed.append(name)
    print(f"{len(names) - len(failed)}/{len(names)} entries match the oracle")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
