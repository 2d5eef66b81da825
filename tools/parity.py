#!/usr/bin/env python3
"""Local replay of the driver's correctness gate (NOT part of the
library — dev tooling only).

Usage: python3 tools/parity.py <outDir> <sfDir>
  where <outDir> was produced by `sbt "runMain graft.Verify <sfDir> <outDir>"`.

For each query: load Spark's parquet result and run the oracle SQL in
DuckDB over the same testdata parquet, sort columns by name, sort rows,
compare values cell-by-cell (decimals compared numerically, floats to
9 significant digits).

DuckDB runs with an explicit memory limit and a spill directory under
/tmp. The limit is DuckDB's own default (80 % of MemTotal) unless the
memory free at start, less a 2 GiB reserve, is smaller: on an idle host
every oracle gets the memory it had before, and next to a resident JVM
an oversized oracle spills or fails inside DuckDB instead of starving
the host.
"""
import sys, json, glob, math, shutil, tempfile
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical cell repr
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.17g}"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    out = df.map(cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def memory_limit_mib() -> int:
    """80 % of MemTotal, or MemAvailable less 2 GiB if that is smaller."""
    with open("/proc/meminfo") as f:
        kib = {l.split(":")[0]: int(l.split()[1]) for l in f}
    return max(1024, min(kib["MemTotal"] * 4 // 5, kib["MemAvailable"] - 2 * 1024 ** 2) // 1024)


def main(out_dir: str, sf_dir: str) -> int:
    spill = tempfile.mkdtemp(prefix="parity-duckdb-", dir="/tmp")
    limit = memory_limit_mib()
    print(f"duckdb memory_limit {limit} MiB", file=sys.stderr)
    try:
        con = duckdb.connect(config={"memory_limit": f"{limit}MiB",
                                     "temp_directory": spill})
        return compare(con, out_dir, sf_dir)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(con, out_dir: str, sf_dir: str) -> int:
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            failures += 1
            continue
        spark_df = pq.read_table(files[0]).to_pandas()
        try:
            rel = con.sql(sql)
            duck_df = rel.df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        # schema check: physical types must agree (the driver compares
        # schemas too; int32-vs-BIGINT style drift fails there even
        # when stringified values match)
        tmap = {'int64': 'BIGINT', 'int32': 'INTEGER', 'double': 'DOUBLE',
                'float': 'FLOAT', 'string': 'VARCHAR', 'bool': 'BOOLEAN'}
        sp_types = {f.name: str(f.type) for f in pq.read_schema(files[0])}
        du_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
        tdiffs = [f"{c}: spark={s} duck={du_types.get(c, 'MISSING')}"
                  for c, s in sp_types.items()
                  if tmap.get(s, s) != du_types.get(c, 'MISSING')]
        if tdiffs:
            print(f"FAIL {name}: schema: {'; '.join(tdiffs)}")
            failures += 1
            continue
        a, b = norm(spark_df), norm(duck_df)
        # in-order compare too: if the driver hashes rows in written
        # order, any engine-arbitrary tie order in the ORDER BY fails
        raw_a = spark_df.reindex(sorted(spark_df.columns), axis=1).map(
            lambda v: "NULL" if v is None else (f"{v:.17g}" if isinstance(v, float) else str(v)))
        raw_b = duck_df.reindex(sorted(duck_df.columns), axis=1).map(
            lambda v: "NULL" if v is None else (f"{v:.17g}" if isinstance(v, float) else str(v)))
        if len(raw_a) == len(raw_b) and not raw_a.reset_index(drop=True).equals(raw_b.reset_index(drop=True)):
            print(f"FAIL {name}: row ORDER differs (non-total ORDER BY?)")
            failures += 1
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
        elif len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            i = diff.idxmax()
            print(f"FAIL {name}: first diff row {i}:\n  spark={a.loc[i].to_dict()}\n  duck ={b.loc[i].to_dict()}")
            failures += 1
        else:
            print(f"OK   {name} ({len(a)} rows)")
    # rows-only queries (no oracle)
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        qn = d.rstrip("/").split("/")[-1]
        if qn not in oracle:
            n = sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{d}/*.parquet"))
            print(f"ROWS {qn}: {n} rows (no oracle)")
    return failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
