"""Take the ``query_mix`` pins: run every query on the benchmark's sf0.01
tables, check its rows against the query's DuckDB ``oracle_sql()``, and
print the pins (row count, hash checksum, float column sums) as the JSON
object for ``meta.json``'s ``query_mix_pins``. Exits 1 if any query
disagrees with its oracle.

    python3 perfbench/pins.py > pins.json
"""

import decimal
import json
import math
import os
import shutil
import sys
import tempfile

import run
import workloads


def _plain(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        "" if v is None else f"{v:.3f}" if isinstance(v, float) else str(v)
        for v in row
    )


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row equality; floats within 1e-6."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not (math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
                          or (math.isnan(a) and math.isnan(b))):
                    return False
            elif a != b:
                return False
    return True


def main() -> int:
    import duckdb

    sys.path.insert(0, run.ROOT)
    from cdm_data_loader_utils_spark import queries as Q
    from cdm_data_loader_utils_spark.operators.cache import release
    from cdm_data_loader_utils_spark.session import get_spark

    os.makedirs(run.OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="pins-", dir=run.OUT_DIR)
    con = duckdb.connect()
    data = workloads.QUERY_DATA
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{data}/{f}'")
    spark = get_spark(app_name="perfbench-pins", master="local[4]",
                      shuffle_partitions=4, extra_conf=run._session_conf(work))
    pins, bad = {}, []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        qmap, oracle = Q.queries(), Q.oracle_sql()
        for name in sorted(workloads.QUERIES):
            df = qmap[name](spark, data)
            cols = sorted(df.columns)
            got = [tuple(_plain(r[c]) for c in cols) for r in df.collect()]
            pins[name] = workloads.result_pin(df)
            release(df)
            cur = con.execute(oracle[name])
            ocols = [d[0] for d in cur.description]
            want = [tuple(_plain(row[ocols.index(c)]) for c in cols)
                    for row in cur.fetchall()]
            ok = (sorted(ocols) == cols and rows_equal(got, want)
                  and pins[name]["rows"] == len(got))
            print(f"{name}: {len(got)} rows, oracle {'agrees' if ok else 'DISAGREES'}",
                  file=sys.stderr)
            if not ok:
                bad.append(name)
    finally:
        run._stop_session(spark)
        con.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(pins, indent=1, sort_keys=True))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
