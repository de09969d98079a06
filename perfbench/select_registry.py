"""Record a full registry pass and freeze the benchmark's registry queries.

Runs every ``registry.REGISTRY`` query over the benchmark's generated
tables on ``local[<nproc>]``: one cold pass, then one warm pass, each query
built and run with a noop action, and prints the queries ranked by warm
action time (executor-side work).  Each query named in ``--names`` then has
its result digest (row count + order-insensitive value hash) frozen, after
the result is confirmed once against the query's DuckDB oracle SQL and
found deterministic.  Writes ``registry_queries.json`` next to this file.

    python3 perfbench/select_registry.py --names a,b
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SF = 0.01
ORACLE_TIMEOUT_S = 120.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_pass(spark, reg, data_dir) -> dict:
    out = {}
    for name, (fn, _) in reg.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, data_dir)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            out[name] = {"build_s": t1 - t0, "action_s": t2 - t1, "wall_s": t2 - t0}
        except Exception as e:  # a broken query is recorded, not fatal
            out[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
        print(name, out[name], file=sys.stderr, flush=True)
    return out


def _oracle(data_dir: str, sql: str):
    import duckdb

    from questdb_spark.sources.parquet import TPCH_TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
        )
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True, help="comma-separated queries to freeze")
    args = ap.parse_args()

    tmp = os.path.join(harness.WORK, "tmp", str(os.getpid()))
    harness.isolate(tmp)
    sys.path.insert(0, harness.ROOT)
    import checks
    import datagen
    from questdb_spark.registry import REGISTRY

    path = os.path.join(harness.HERE, "registry_queries.json")
    data_dir = datagen.ensure_dataset(os.path.join(harness.WORK, "data"), SF)
    spark = harness.start_session()
    try:
        cold = _timed_pass(spark, REGISTRY, data_dir)
        warm = _timed_pass(spark, REGISTRY, data_dir)
        ranked = sorted(
            (n for n, r in warm.items() if "wall_s" in r), key=lambda n: -warm[n]["action_s"]
        )
        for n in ranked:
            print(f"{n:40s} warm {warm[n]['wall_s']:.2f} s, action {warm[n]['action_s']:.2f} s")
        picked: dict[str, dict] = {}
        rejected: dict[str, str] = {}
        for name in args.names.split(","):
            fn, oracle_sql = REGISTRY[name]
            got = fn(spark, data_dir).toPandas()
            try:
                want = _oracle(data_dir, oracle_sql)
            except Exception as e:  # slow or unsupported oracle: skip query
                rejected[name] = f"oracle: {type(e).__name__}"
                continue
            if not checks.same_result(got, want):
                rejected[name] = "engine result differs from the DuckDB oracle"
                continue
            again = fn(spark, data_dir).toPandas()
            if checks.result_digest(again) != checks.result_digest(got):
                rejected[name] = "result not deterministic"
                continue
            rows, digest = checks.result_digest(got)
            picked[name] = {"rows": rows, "digest": digest}
            print("picked", name, rows, digest, file=sys.stderr, flush=True)
    finally:
        spark.stop()
        harness.shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    record = {
        "sf": SF,
        "cores": harness.cores(),
        "queries": picked,
        "rejected": rejected,
        "full_pass": {"cold": cold, "warm": warm},
    }
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(path)


if __name__ == "__main__":
    main()
