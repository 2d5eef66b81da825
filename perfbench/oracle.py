"""DuckDB oracle for the benchmark's outputs.

Each check names a parquet directory Spark wrote and the SQL that must
reproduce it over the generated tables. Cells are normalized the way
tools/parity.py does it: columns sorted by name, every cell rendered as
text (floats with 17 significant digits, lists element-wise, NULL for
missing), rows sorted; physical column types must agree. For results
whose row order is part of the answer the unsorted rows must agree too.
"""
import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TYPE_NAMES = {"int64": "BIGINT", "int32": "INTEGER", "double": "DOUBLE",
              "float": "FLOAT", "string": "VARCHAR", "large_string": "VARCHAR",
              "bool": "BOOLEAN"}


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.17g}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _text(df):
    return df.reindex(sorted(df.columns), axis=1).map(_cell)


def _sorted(df):
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _read(path):
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
                   if not os.path.basename(f).startswith(("_", ".")))
    if not files:
        return None, None
    tables = [pq.read_table(f) for f in files]
    return pa.concat_tables(tables).to_pandas(), tables[0].schema


def check(checks, data_root):
    """Returns a list of (name, ok, detail)."""
    cons = {}
    out = []
    for c in checks:
        data = c["data"]
        if data not in cons:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_root, data, t)}.parquet')")
            cons[data] = con
        name = c["name"]
        try:
            spark_df, schema = _read(c["path"])
            if spark_df is None:
                out.append((name, False, "no spark output"))
                continue
            rel = cons[data].sql(c["sql"])
            duck_df = rel.df()
            duck_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
            tdiff = [f"{f.name}: spark={f.type} duck={duck_types.get(f.name, 'MISSING')}"
                     for f in schema
                     if TYPE_NAMES.get(str(f.type), str(f.type)) != duck_types.get(f.name, "MISSING")]
            if tdiff:
                out.append((name, False, "schema: " + "; ".join(tdiff)))
                continue
            a, b = _text(spark_df), _text(duck_df)
            if list(a.columns) != list(b.columns):
                out.append((name, False, f"columns {list(a.columns)} vs {list(b.columns)}"))
            elif len(a) != len(b):
                out.append((name, False, f"rows {len(a)} vs {len(b)}"))
            elif c["ordered"] and not a.reset_index(drop=True).equals(b.reset_index(drop=True)) \
                    and _sorted(a).equals(_sorted(b)):
                out.append((name, False, "row order differs"))
            elif not _sorted(a).equals(_sorted(b)):
                sa, sb = _sorted(a), _sorted(b)
                i = (sa != sb).any(axis=1).idxmax()
                out.append((name, False, f"first diff row {i}: spark={sa.loc[i].to_dict()} "
                                         f"duck={sb.loc[i].to_dict()}"))
            else:
                out.append((name, True, f"{len(a)} rows"))
        except Exception as e:  # an oracle error is a failed check, not a crash
            out.append((name, False, f"{type(e).__name__}: {e}"))
    for con in cons.values():
        con.close()
    return out
