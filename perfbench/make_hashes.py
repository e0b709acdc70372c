"""Regenerate ``expected_hashes.json`` for the batch workload.

    python3 perfbench/make_hashes.py

Builds the fixture (``gen.FIXTURE_SEED``), runs each batch query on
Spark and hashes its rows with ``tools/check_oracle.py``'s
order-insensitive normalisation.  It then runs the query's DuckDB
oracle (``__spark_entry__.oracle_sql()``) over the same files and
records whether the oracle's hash agrees: ``confirmed``, ``differs``,
``timeout`` (after ``ORACLE_TIMEOUT_S``) or ``no oracle``.  Only re-run this when the fixture
generator or the query set changes; a changed hash for an unchanged
query is a correctness regression, not a reason to regenerate.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import batch_relational  # noqa: E402
import gen  # noqa: E402

ORACLE_TIMEOUT_S = 120.0


def _oracle_hash(con, sql: str) -> str:
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return batch_relational.result_hash(cols, res.fetchall())
    except duckdb.InterruptException:
        return "timeout"
    finally:
        timer.cancel()


def main() -> int:
    import __spark_entry__ as entry
    from projetbigdatastreaming_spark.session import get_session

    fixture = os.path.join(ROOT, ".perfbench", "hash-fixture")
    shutil.rmtree(fixture, ignore_errors=True)
    gen.write_fixture(fixture)
    cpus = os.cpu_count() or 1
    spark = get_session(
        app_name="perfbench-hashes", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    fns, oracles = entry.queries(), entry.oracle_sql()
    out = {}
    for name in batch_relational.QUERIES + (batch_relational.GRAPH_QUERY,):
        df = fns[name](spark, fixture)
        rows = df.collect()
        h, n = batch_relational.result_hash(df.columns, rows), len(rows)
        if name not in oracles:
            verdict = "no oracle"
        else:
            oh = _oracle_hash(con, oracles[name])
            verdict = "timeout" if oh == "timeout" else (
                "confirmed" if oh == h else f"differs (oracle {oh})"
            )
        out[name] = {"hash": h, "rows": n, "oracle": verdict}
        print(name, out[name], flush=True)
    spark.stop()
    shutil.rmtree(fixture, ignore_errors=True)
    with open(os.path.join(HERE, "expected_hashes.json"), "w") as f:
        json.dump(
            {"fixture_seed": gen.FIXTURE_SEED, "queries": out}, f, indent=2
        )
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
