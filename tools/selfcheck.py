#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir> [query,query,...]

The optional 3rd arg restricts the check to those queries (pass the same
names as SPARK_GRAFT_ONLY gave graft.Verify — Verify always dumps the FULL
oracle map, so a subset re-run needs this to avoid "no spark output" noise
for the queries it didn't run).

For each query in <verifyOutDir>/oracle_sql.json: run the SQL in DuckDB
(tables = parquet files in sfDir), read the spark result parquet, sort
columns by name, sort rows, compare cell-by-cell with a float tolerance
mirror of the driver's hash compare (tight: values must round-trip equal
at 1e-9 relative).
"""
import json, math, sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def typesig(t):
    """Canonical numeric-strict signature for an Arrow type.

    The driver's hash gate is sensitive to the physical numeric type the
    oracle materializes (e.g. DuckDB sum(BIGINT) widens to HUGEINT =
    decimal128(38,0)), while to_pylist() collapses both to Python int —
    round 1 shipped two hash failures that local value-compare missed.
    Numerics compare at class+width; everything else at class level
    (timestamp/string unit or nullability differences don't hash-diverge).
    """
    if pa.types.is_integer(t):
        return ("int", t.bit_width, pa.types.is_signed_integer(t))
    if pa.types.is_floating(t):
        return ("float", t.bit_width)
    if pa.types.is_decimal(t):
        return ("decimal", t.precision, t.scale)
    if pa.types.is_boolean(t):
        return ("bool",)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ("string",)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return ("binary",)
    if pa.types.is_timestamp(t):
        return ("timestamp",)
    if pa.types.is_date(t):
        return ("date",)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list",) + typesig(t.value_type)
    if pa.types.is_struct(t):
        return ("struct",) + tuple(
            (f.name,) + typesig(f.type) for f in t)
    return (str(t),)


def type_mismatches(stbl, otbl):
    """Columns whose Arrow types diverge, split (fail, warn).

    Calibrated against the round-1 driver run: int64 vs HUGEINT
    (decimal128(38,0)) FAILED the driver hash (e3/e4), while double vs
    DECIMAL(p,s) PASSED (k1/s5). So integer-class divergence is fatal;
    float-vs-decimal is only a warning.
    """
    def kind(sig):
        return sig[0]
    ot = {f.name: f.type for f in otbl.schema}
    fail, warn = [], []
    for f in stbl.schema:
        o = ot.get(f.name)
        if o is None:
            continue
        ss, os_ = typesig(f.type), typesig(o)
        if ss == os_:
            continue
        rec = (f.name, str(f.type), str(o))
        both_fractional = {kind(ss), kind(os_)} <= {"float", "decimal"}
        if both_fractional:
            warn.append(rec)
        else:
            fail.append(rec)
    return fail, warn


def load_rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(
        (tuple(canon(col[i]) for col in data) for i in range(tbl.num_rows)),
        key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():  # Spark-written multi-file table (e.g. GenData sf1)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_ok = n_bad = 0
    for name in sorted(oracle):
        spark_path = Path(out_dir) / name
        if not spark_path.exists():
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            otbl = con.execute(oracle[name]).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        stbl = pq.read_table(spark_path)
        ocols, orows = load_rows(otbl)
        scols, srows = load_rows(stbl)
        if ocols != scols:
            print(f"FAIL {name}: columns differ spark={scols} oracle={ocols}")
            n_bad += 1
            continue
        tfail, twarn = type_mismatches(stbl, otbl)
        for cname, st, ot_ in twarn:
            print(f"warn {name}: {cname} spark={st} oracle={ot_} "
                  "(float/decimal — driver hash tolerated this in r1)")
        if tfail:
            print(f"FAIL {name}: column types diverge (driver hash would differ):")
            for cname, st, ot_ in tfail:
                print(f"  {cname}: spark={st} oracle={ot_}")
            n_bad += 1
            continue
        if len(orows) != len(srows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            n_bad += 1
            continue
        bad = [(i, s, o) for i, (s, o) in enumerate(zip(srows, orows)) if s != o]
        if bad:
            i, s, o = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ; first at {i}:")
            print(f"  cols : {scols}")
            print(f"  spark: {s}")
            print(f"  duck : {o}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(srows)} rows)")
            n_ok += 1
    # rows-only checks for oracle-less queries
    for d in sorted(Path(out_dir).iterdir()):
        if d.is_dir() and d.name not in oracle and (not only or d.name in only):
            n = pq.read_table(d).num_rows
            print(f"rows {d.name}: {n} {'ok' if n > 0 else 'EMPTY!'}")
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
