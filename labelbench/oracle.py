"""DuckDB oracle check of the benchmark's results.

Each request's full result (written by the JVM as parquet) is compared
with its oracle SQL run by DuckDB over the same generated tables, by the
rules of the engine's oracle check: columns sorted by name, rows sorted
with a type-aware key, cells equal exactly except floats, which may
differ by 1e-9 relative. DuckDB answers are cached per (inputs, SQL).
"""
import decimal
import glob
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq


def _cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return str(a) == str(b)


def _cell_key(v):
    if v is None:
        return (0, 0, 0, "")
    if isinstance(v, bool):
        return (1, 3, 0, str(v))
    if isinstance(v, float):
        return (1, 2, 0, "") if math.isnan(v) else (1, 1, float(f"{v:.9e}"), "")
    if isinstance(v, (int, decimal.Decimal)):
        return (1, 1, v, "")
    return (1, 3, 0, str(v))


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(zip(*data), key=lambda r: tuple(_cell_key(v) for v in r))


def _oracle_table(con, sql, cache_dir, key):
    path = os.path.join(cache_dir, hashlib.sha256((key + sql).encode()).hexdigest()[:24] + ".parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    table = con.execute(sql).fetch_arrow_table()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return table


def check(data_dir, results_dir, oracle_sql, names, cache_dir, cache_key, threads):
    """Returns {request: None if its result matches the oracle, else why}."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'spill')}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{src}')")
    verdicts = {}
    for name in names:
        if name not in oracle_sql:
            verdicts[name] = "no oracle SQL"
            continue
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no result written"
            continue
        try:
            duck = _oracle_table(con, oracle_sql[name], cache_dir, cache_key)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = f"oracle SQL error: {e}"
            continue
        spark = pq.read_table(files)
        s_cols, s_rows = _rows(spark)
        d_cols, d_rows = _rows(duck)
        if s_cols != d_cols:
            verdicts[name] = f"columns spark={s_cols} duckdb={d_cols}"
        elif len(s_rows) != len(d_rows):
            verdicts[name] = f"rows spark={len(s_rows)} duckdb={len(d_rows)}"
        else:
            verdicts[name] = next(
                (f"row {i} col {c}: spark={sv!r} duckdb={dv!r}"
                 for i, (sr, dr) in enumerate(zip(s_rows, d_rows))
                 for c, sv, dv in zip(s_cols, sr, dr) if not _cells_equal(sv, dv)),
                None)
    con.close()
    return verdicts
