"""Smoke self-tests for the benchmark's output checks: each check must pass
a clean fixture and reject a deliberately perturbed copy of it.

    python3 wlbench/selftest.py

No Spark: the fixtures are small pandas frames built with the package's
oracle and codec. ``run.py`` also calls ``run_all`` after every run.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from wlbench import checks
else:
    from . import checks


def _points(seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    parts = []
    for k in range(3):
        t = 1_577_836_800 + np.arange(300) * 20.0
        v = 5.0 + k + rng.normal(0, 0.1, 300)
        v[150:] += 4.0  # a level shift
        v[40] *= 30.0  # an outlier
        keep = np.ones(300, bool)
        keep[200:204] = False  # a gap
        parts.append(pd.DataFrame({"series_key": f"u{k}", "t": t[keep], "value": v[keep]}))
    return pd.concat(parts, ignore_index=True)


def _bump(df: pd.DataFrame, col: str, row: int = 0, by: float = 1.0) -> pd.DataFrame:
    out = df.copy()
    out.loc[out.index[row], col] = out.loc[out.index[row], col] + by
    return out


def _flip_payload(comp: pd.DataFrame) -> pd.DataFrame:
    out = comp.copy()
    p = bytearray(out.loc[0, "payload"])
    p[-1] ^= 0x01
    out.loc[0, "payload"] = bytes(p)
    return out


def cases():
    """(check name, clean errors, perturbed errors) for every check."""
    pts = _points()
    t1m = checks.oracle_tier(pts, 60)
    t1h = checks.cascade(t1m, 3600)
    t1d = checks.cascade(t1h, 86400)
    tiers = {"1m": t1m, "1h": t1h, "1d": t1d}
    secs = {"1m": 60, "1h": 3600, "1d": 86400}
    comp = checks.encode_tier(t1m, "1m", 60)
    decoded = checks.decode_store(comp)
    lineage = pd.DataFrame({"step": ["gaps", "outliers"], "n_rows_out": [int(t1m["cnt"].sum()), 5]})
    first = {t: checks.digest(df) for t, df in tiers.items()}
    lo, hi, keys = int(t1m["bucket_start"].min()) + 600, int(t1m["bucket_start"].min()) + 3000, ["u0", "u2"]
    read = decoded[decoded["series_key"].isin(keys) & decoded["bucket_start"].between(lo, hi)]
    store = pts.copy()
    latest = {(r.series_key, r.t): r.value for r in store.iloc[[3, 50, 400]].itertuples()}
    query = pd.DataFrame({"k": np.arange(5, dtype=np.int64), "x": np.linspace(0.5, 2.5, 5), "s": list("abcde")})

    yield "pass digests", checks.check_digests(first, first, "clean"), checks.check_digests(
        first, {**first, "1h": checks.digest(_bump(t1h, "vmax"))}, "perturbed"
    )
    yield "cascades", checks.check_cascades(tiers, secs), checks.check_cascades({**tiers, "1h": _bump(t1h, "vmax")}, secs)
    yield "full decode", checks.check_decode(comp, t1m), checks.check_decode(comp, _bump(t1m, "vsum", 5, 1e-9))
    yield "cnt vs lineage", checks.check_cnt_vs_lineage(t1m, lineage), checks.check_cnt_vs_lineage(
        _bump(t1m, "cnt", 2, 1), lineage
    )
    yield "oracle sample", checks.check_oracle(pts, t1m, 60), checks.check_oracle(pts, _bump(t1m, "vfirst", 7, 0.5), 60)
    yield "store upserts", checks.check_store(store, len(store), latest), checks.check_store(
        pd.concat([store, store.iloc[[10]]]), len(store), latest
    )
    yield "store last-write-wins", checks.check_store(store, len(store), latest), checks.check_store(
        _bump(store, "value", 50, 0.25), len(store), latest
    )
    scratch = checks.rollup(store, 60)
    yield "tiers vs from-scratch", checks.compare_tiers(scratch.iloc[::-1], scratch, "clean"), checks.compare_tiers(
        _bump(scratch, "cnt", 3, 1), scratch, "perturbed"
    )
    yield "payloads", checks.check_payloads(comp, t1m, 60), checks.check_payloads(_flip_payload(comp), t1m, 60)
    small = checks.encode_tier(t1m, "1m", 60, chunk_buckets=30)
    yield "payloads, small chunks", checks.check_payloads(small, t1m, 60, 30), checks.check_payloads(
        comp, t1m, 60, 30
    )
    yield "read vs decode", checks.check_read(read, decoded, keys, lo, hi), checks.check_read(
        read.iloc[1:], decoded, keys, lo, hi
    )
    yield "query vs duckdb", checks.check_vs_duckdb(query, query.copy(), "q"), checks.check_vs_duckdb(
        _bump(query, "x", 2, 1e-6), query, "q"
    )
    yield "query dtype kinds", checks.check_vs_duckdb(query, query.copy(), "q"), checks.check_vs_duckdb(
        query.assign(k=query["k"].astype(float)), query, "q"
    )
    yield "rows-only digest", checks.digest(query) != checks.digest(query.copy()), checks.digest(
        query
    ) != checks.digest(_bump(query, "x", 4, 1.0))


def run_all() -> list[str]:
    """Failures: a check that rejects its clean fixture or accepts its
    perturbed one."""
    bad = []
    for name, clean, perturbed in cases():
        if clean:
            bad.append(f"self-test {name}: clean fixture rejected: {clean}")
        if not perturbed:
            bad.append(f"self-test {name}: perturbed fixture accepted")
    return bad


if __name__ == "__main__":
    failures = run_all()
    for name, clean, perturbed in cases():
        print(f"{name:24s} clean={'pass' if not clean else 'FAIL'} perturbed={'rejected' if perturbed else 'ACCEPTED'}")
    for f in failures:
        print(f, file=sys.stderr)
    sys.exit(1 if failures else 0)
