#!/usr/bin/env python3
"""Driver-simulation: compare Verify parquet dumps against DuckDB oracles.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir>

Mimics the round driver: registers each testdata parquet as a DuckDB view,
runs every oracle_sql.json entry, and compares (rows, schema names, ARROW
TYPES, sorted typed-value multiset) against the Spark parquet output.

TYPE-STRICT (round 7): the driver's hash is type-sensitive — DuckDB
sum(BIGINT) surfaces as arrow decimal128(38,0), and a Spark int64 column
with numerically identical values still hash-fails. The r6 checker compared
through Python floats (1234 == 1234.0), which is exactly the blind spot that
let q_rollup/q_pivot/q_salted_agg ship red. This version compares the arrow
schema of the oracle result against the arrow schema of the Spark parquet
(normalizing only representation-level spellings that carry no value
semantics: large_string==string, large_binary==binary, timestamp tz label),
and compares values through arrow->python (Decimal stays Decimal, int stays
int) so a type mismatch can never slip through as "values equal".
"""
import sys, os, json, glob, math
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_type(t: pa.DataType) -> str:
    """Canonical spelling of an arrow type: collapse representation-level
    variants (large_* offsets, timestamp tz spelling) but keep everything
    that changes the VALUE domain (int64 vs decimal128 vs float64)."""
    if pa.types.is_large_string(t):
        return "string"
    if pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        # Spark's INT96 parquet timestamps read back as timestamp[ns] where
        # DuckDB produces timestamp[us]; the driver's hash treats the two as
        # the same instant (q_transcripts is green in CORRECTNESS_r06), and
        # values still compare exactly as datetimes below.
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    return v


def row_key(row):
    """Sort key that orders None after every value of a column, so a
    nullable column mixing None with values sorts instead of raising."""
    return tuple((v is None, v) for v in row)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        spark_dir = f"{out_dir}/{name}"
        if not os.path.isdir(spark_dir):
            print(f"[MISS] {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            duck = con.execute(sql).arrow()
        except Exception as e:
            print(f"[ORACLE-ERR] {name}: {str(e)[:200]}")
            n_fail += 1
            continue
        files = glob.glob(f"{spark_dir}/*.parquet")
        spark = pa.concat_tables([pq.read_table(f) for f in files]) \
            if files else pa.table({})
        d_cols = sorted(duck.column_names)
        s_cols = sorted(spark.column_names)
        if d_cols != s_cols:
            print(f"[SCHEMA] {name}: duck={d_cols} spark={s_cols}")
            n_fail += 1
            continue
        # --- the type-strict gate: arrow type per column must agree ---
        d_types = {f.name: canon_type(f.type) for f in duck.schema}
        s_types = {f.name: canon_type(f.type) for f in spark.schema}
        mismatched = {c: (d_types[c], s_types[c])
                      for c in d_cols if d_types[c] != s_types[c]}
        if mismatched:
            print(f"[TYPES] {name}: duck!=spark for {mismatched}")
            n_fail += 1
            continue
        if duck.num_rows != spark.num_rows:
            print(f"[ROWS] {name}: duck={duck.num_rows} spark={spark.num_rows}")
            n_fail += 1
            continue
        dv = sorted((tuple(norm(row[c]) for c in d_cols)
                     for row in duck.to_pylist()), key=row_key)
        sv = sorted((tuple(norm(row[c]) for c in d_cols)
                     for row in spark.to_pylist()), key=row_key)
        if dv != sv:
            diffs = [(a, b) for a, b in zip(dv, sv) if a != b][:3]
            print(f"[VALUES] {name}: first diffs {diffs}")
            n_fail += 1
            continue
        print(f"[OK] {name}: {duck.num_rows} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
