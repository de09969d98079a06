"""Self-test of the benchmark's output checks: an injected wrong result
must be counted as a failed operation.  Needs no Spark session.

    python3 perfbench/test_checks.py      (or: python3 -m pytest perfbench)
"""

from __future__ import annotations

import os
import random
import sys
import tempfile
import types

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402


def test_digest_sees_one_wrong_value():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    b = a.iloc[::-1].reset_index(drop=True)  # order must not matter
    assert checks.same_result(a, b)
    assert checks.result_digest(a) == checks.result_digest(b)
    bad = a.copy()
    bad.loc[1, "v"] = 0.2000001
    assert not checks.same_result(a, bad)
    assert checks.result_digest(a) != checks.result_digest(bad)


def test_dialect_verify_counts_injected_wrong_result():
    import duckdb

    from w_dialect import DialectInteractive, Statements

    with tempfile.TemporaryDirectory() as d:
        data_dir = datagen.ensure_dataset(d, 0.0005)
        wl = DialectInteractive()
        stream = Statements(random.Random(7))
        con = duckdb.connect()
        for t in ("events", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        con.execute("CREATE VIEW clicks AS SELECT * FROM events WHERE event_type='click'")
        con.execute(
            "CREATE VIEW purchases AS SELECT * FROM events WHERE event_type='purchase'"
        )
        wl.digests, wl.stmts, ops = {}, {}, []
        for i in range(12):
            (key, text, _, twin), _ = stream.next()
            right = checks.result_digest(con.execute(twin).df())
            wl.digests.setdefault(key, []).append((str(i), right))
            wl.stmts[key] = (text, twin)
            ops.append({"op": str(i), "ok": True})
        con.close()
        # inject: op 5 returned a result with one row missing
        key5 = next(k for k, runs in wl.digests.items() if any(o == "5" for o, _ in runs))
        runs = wl.digests[key5]
        wl.digests[key5] = [
            (o, (dg[0] - 1, "0" * 32) if o == "5" else dg) for o, dg in runs
        ]
        wl.verify(types.SimpleNamespace(data={0.1: data_dir}), ops)
    assert [r["op"] for r in ops if not r["ok"]] == ["5"]


def test_wal_shadow_check_counts_injected_wrong_read():
    from w_wal import WalIngest

    wl = WalIngest()
    ts = pd.to_datetime(["2024-03-01 00:10", "2024-03-01 00:20", "2024-03-01 01:05"])
    wl.shadow = pd.DataFrame(
        {"ts": ts, "sym": ["A", "B", "A"], "price": [1.0, 2.0, 3.0], "qty": [5, 6, 7]}
    )
    latest = pd.DataFrame(
        {"sym": ["A", "B"], "ts": ts[[2, 1]], "price": [3.0, 2.0], "qty": [7, 6]}
    )
    view = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-03-01 00:00", "2024-03-01 00:00", "2024-03-01 01:00"]),
            "sym": ["A", "B", "A"],
            "n": [1, 1, 1],
            "q": [5, 6, 7],
            "hi": [1.0, 2.0, 3.0],
        }
    )
    lo = np.datetime64("2024-03-01T00:00")
    assert wl._check_reads(latest, view, lo)
    stale = latest.assign(price=[1.0, 2.0])  # the upsert of A was lost
    assert not wl._check_reads(stale, view, lo)


def test_wal_view_check_sees_stale_previous_day_bucket():
    from w_wal import WalIngest, _view_lo

    wl = WalIngest()
    rng = np.random.default_rng(3)
    wl.shadow = wl._batch(rng, 0, slices=4)  # the first day
    step = 5  # odd: carries late rows into the first day
    batch = wl._batch(rng, step)
    lo = _view_lo(step)
    assert batch["ts"].min() >= lo  # the view read covers the late rows
    stale = wl._want_view(lo)  # the view before the late rows land
    wl.shadow = pd.concat([wl.shadow, batch]).drop_duplicates(["ts", "sym"], keep="last")
    sh = wl.shadow
    latest = sh.loc[sh.groupby("sym")["ts"].idxmax(), ["sym", "ts", "price", "qty"]]
    assert wl._check_reads(latest, wl._want_view(lo), lo)
    assert not wl._check_reads(latest, stale, lo)


def test_registry_check_counts_injected_wrong_result():
    from w_dialect import DialectInteractive

    wl = DialectInteractive()
    good = pd.DataFrame({"k": [1, 2], "v": [3.5, 4.5]})
    rows, digest = checks.result_digest(good)
    wl.registry = {"queries": {"q": {"rows": rows, "digest": digest}}}
    assert wl.registry_result_ok("q", good)
    assert not wl.registry_result_ok("q", good.assign(v=[3.5, 4.25]))
    assert not wl.registry_result_ok("q", good.iloc[:1])


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
