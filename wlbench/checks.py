"""Output checks, run outside the timed windows on frames collected to the
driver. Every check returns a list of error strings; an empty list passes.

The references here are independent of the production path where that is
possible: tiers are re-derived with pandas group-bys, corrections with the
pandas-frame oracle (``oracle.correction.process_series``), payloads and
decodes with the codec's batch functions on the driver.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import numpy as np
import pandas as pd

ROLLUP_COLS = ["series_key", "bucket_start", "cnt", "vsum", "vmin", "vmax", "vfirst", "vlast"]
EXACT_COLS = ["cnt", "vmin", "vmax", "vfirst", "vlast"]
# vsum is a float fold whose association order depends on partitioning
VSUM_RTOL = 1e-9


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """Row count plus an order-free sum of per-row 64-bit hashes."""
    if len(df) == 0:
        return (0, 0)
    cols = sorted(df.columns)
    h = pd.util.hash_pandas_object(df[cols], index=False).to_numpy(dtype=np.uint64)
    return (len(df), int(h.sum(dtype=np.uint64)))


def check_digests(first: dict, other: dict, label: str) -> list[str]:
    return [
        f"{label}: tier {t} digest {other.get(t)} != first pass {d}"
        for t, d in first.items()
        if other.get(t) != d
    ]


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["series_key", "bucket_start"]).reset_index(drop=True)


def compare_tiers(got: pd.DataFrame, want: pd.DataFrame, label: str) -> list[str]:
    """Same (series_key, bucket_start) rows; exact aggregates except vsum."""
    got, want = _sorted(got[ROLLUP_COLS]), _sorted(want[ROLLUP_COLS])
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    errs = []
    for c in ("series_key", "bucket_start"):
        if not (got[c].to_numpy() == want[c].to_numpy()).all():
            return [f"{label}: bucket keys differ"]
    for c in EXACT_COLS:
        a, b = got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float)
        bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        if bad.any():
            errs.append(f"{label}: {int(bad.sum())} rows differ in {c}")
    a, b = got["vsum"].to_numpy(dtype=float), want["vsum"].to_numpy(dtype=float)
    if not np.allclose(a, b, rtol=VSUM_RTOL, atol=1e-12, equal_nan=True):
        errs.append(f"{label}: vsum differs beyond rtol {VSUM_RTOL}")
    return errs


def cascade(lower: pd.DataFrame, sec: int) -> pd.DataFrame:
    """pandas reference for ``rollup.cascade``."""
    df = lower.sort_values(["series_key", "bucket_start"]).assign(
        coarse=lambda d: (d["bucket_start"] // sec) * sec
    )
    g = df.groupby(["series_key", "coarse"], sort=True)
    out = g.agg(cnt=("cnt", "sum"), vsum=("vsum", "sum"), vmin=("vmin", "min"), vmax=("vmax", "max")).reset_index()
    # first/last are positional picks (the finest bucket), NaN included
    out["vfirst"] = g["vfirst"].nth(0).to_numpy()
    out["vlast"] = g["vlast"].nth(-1).to_numpy()
    return out.rename(columns={"coarse": "bucket_start"})[ROLLUP_COLS]


def rollup(points: pd.DataFrame, sec: int) -> pd.DataFrame:
    """pandas reference for ``rollup.rollup`` over unique-time points."""
    df = points.sort_values(["series_key", "t"], kind="stable").assign(
        bucket_start=lambda d: (np.floor(d["t"] / sec) * sec).astype("int64")
    )
    g = df.groupby(["series_key", "bucket_start"], sort=True)["value"]
    out = pd.DataFrame(
        {
            "cnt": g.count(),
            "vsum": g.sum(min_count=1),
            "vmin": g.min(),
            "vmax": g.max(),
            "vfirst": g.nth(0).to_numpy(),
            "vlast": g.nth(-1).to_numpy(),
        }
    ).reset_index()
    return out[ROLLUP_COLS]


def check_cascades(tiers: dict[str, pd.DataFrame], secs: dict[str, int]) -> list[str]:
    names = list(tiers)
    errs = []
    for fine, coarse in zip(names, names[1:]):
        errs += compare_tiers(tiers[coarse], cascade(tiers[fine], secs[coarse]), f"{coarse} vs cascade({fine})")
    return errs


def decode_store(comp: pd.DataFrame) -> pd.DataFrame:
    from series_correction_project_updated_spark.functions import compress as codec

    if len(comp) == 0:
        return pd.DataFrame({"series_key": [], "bucket_start": [], "value": []})
    ts, vals, offsets = codec.decode_chunks([bytes(p) for p in comp["payload"]])
    counts = np.diff(offsets)
    return pd.DataFrame(
        {
            "series_key": np.repeat(comp["series_key"].to_numpy(), counts),
            "bucket_start": np.asarray(ts, dtype=np.int64),
            "value": vals,
        }
    )


def check_decode(comp: pd.DataFrame, tier: pd.DataFrame, value_col: str = "vsum") -> list[str]:
    """A full decode of the compressed store equals the tier column, bit
    for bit (Gorilla XOR is lossless)."""
    dec = decode_store(comp).sort_values(["series_key", "bucket_start"]).reset_index(drop=True)
    ref = _sorted(tier)
    if len(dec) != len(ref):
        return [f"decode: {len(dec)} points, tier has {len(ref)}"]
    if not (dec["series_key"].to_numpy() == ref["series_key"].to_numpy()).all() or not (
        dec["bucket_start"].to_numpy() == ref["bucket_start"].to_numpy()
    ).all():
        return ["decode: bucket keys differ from the tier"]
    a = dec["value"].to_numpy(dtype=np.float64).view(np.uint64)
    b = ref[value_col].to_numpy(dtype=np.float64).view(np.uint64)
    n = int((a != b).sum())
    return [f"decode: {n} values differ from tier {value_col}"] if n else []


def check_cnt_vs_lineage(tier: pd.DataFrame, lineage: pd.DataFrame) -> list[str]:
    """sum(cnt) of the finest tier equals the gap step's output rows (the
    synthetic input has no NaN values, so every corrected row is counted)."""
    cnt = int(tier["cnt"].sum())
    rows = int(lineage.loc[lineage["step"] == "gaps", "n_rows_out"].sum())
    return [] if cnt == rows else [f"sum(cnt)={cnt} != lineage gap rows {rows}"]


def oracle_tier(points: pd.DataFrame, sec: int, config: dict | None = None) -> pd.DataFrame:
    """The pandas-frame oracle on each series, then a pandas rollup."""
    from series_correction_project_updated_spark.oracle.correction import process_series

    parts = []
    for key, frame in points.groupby("series_key", sort=True):
        out = process_series(frame[["t", "value"]].reset_index(drop=True), "t", "value", config)
        parts.append(out.assign(series_key=key))
    return rollup(pd.concat(parts, ignore_index=True), sec)


def check_oracle(points: pd.DataFrame, tier: pd.DataFrame, sec: int, config: dict | None = None) -> list[str]:
    keys = set(points["series_key"])
    got = tier[tier["series_key"].isin(keys)]
    return compare_tiers(got, oracle_tier(points, sec, config), f"oracle sample of {len(keys)} series")


def check_store(store: pd.DataFrame, expected_rows: int, latest: dict) -> list[str]:
    """(series_key, t) is unique, the row count is the base grid plus every
    distinct new time, and each late key holds its last-write-wins value."""
    errs = []
    dups = int(store.duplicated(["series_key", "t"]).sum())
    if dups:
        errs.append(f"store: {dups} duplicate (series_key, t) rows")
    if len(store) != expected_rows:
        errs.append(f"store: {len(store)} rows, expected {expected_rows}")
    idx = store.drop_duplicates(["series_key", "t"]).set_index(["series_key", "t"])["value"]
    want = pd.Series(latest, dtype=float)
    want.index = pd.MultiIndex.from_tuples(want.index, names=["series_key", "t"])
    got = idx.reindex(want.index)
    bad = int((got.to_numpy() != want.to_numpy()).sum())
    if bad:
        errs.append(f"store: {bad} late points missing or not last-write-wins")
    return errs


def encode_tier(tier: pd.DataFrame, name: str, sec: int, chunk_buckets: int = 16384) -> pd.DataFrame:
    """The codec's batch encoder over a whole tier on the driver, with the
    chunking and row layout of ``compress_rollup``."""
    from series_correction_project_updated_spark.functions import compress as codec

    span = sec * chunk_buckets
    t = _sorted(tier)
    keys = t["series_key"].to_numpy()
    ts = t["bucket_start"].to_numpy("int64")
    cs = (ts // span) * span
    change = np.flatnonzero((keys[1:] != keys[:-1]) | (cs[1:] != cs[:-1])) + 1
    offsets = np.concatenate([[0], change, [len(t)]]).astype(np.int64)
    g0, g1 = offsets[:-1], offsets[1:] - 1
    return pd.DataFrame(
        {
            "series_key": keys[g0],
            "tier": name,
            "chunk_start": cs[g0],
            "codec": "gorilla-dod-xor-v2",
            "n_points": (offsets[1:] - g0).astype(np.int64),
            "t_min": ts[g0],
            "t_max": ts[g1],
            "payload": codec.encode_chunks(ts, t["vsum"].to_numpy("float64"), offsets),
        }
    )


def check_payloads(comp: pd.DataFrame, tier: pd.DataFrame, sec: int, chunk_buckets: int = 16384) -> list[str]:
    """Payloads equal the encoder applied to the final tier, byte for byte."""
    want = encode_tier(tier, "", sec, chunk_buckets)
    want_map = {(k, int(c)): p for k, c, p in zip(want["series_key"], want["chunk_start"], want["payload"])}
    got_map = {
        (k, int(c)): bytes(p)
        for k, c, p in zip(comp["series_key"], comp["chunk_start"], comp["payload"])
    }
    if len(got_map) != len(comp):
        return [f"payloads: {len(comp) - len(got_map)} duplicate chunks in the store"]
    if set(got_map) != set(want_map):
        return [f"payloads: chunk set differs ({len(got_map)} stored vs {len(want_map)} expected)"]
    bad = sum(got_map[k] != want_map[k] for k in want_map)
    return [f"payloads: {bad} chunks differ from a fresh encode"] if bad else []


def check_read(got: pd.DataFrame, decoded: pd.DataFrame, keys, lo: int, hi: int) -> list[str]:
    """A read_range result equals decode-then-filter of the whole store."""
    want = decoded[
        decoded["series_key"].isin(keys)
        & (decoded["bucket_start"] >= lo)
        & (decoded["bucket_start"] <= hi)
    ].sort_values(["series_key", "bucket_start"]).reset_index(drop=True)
    got = got.sort_values(["series_key", "bucket_start"]).reset_index(drop=True)
    if len(got) != len(want):
        return [f"read: {len(got)} points, decode-then-filter gives {len(want)}"]
    same = (
        (got["series_key"].to_numpy() == want["series_key"].to_numpy()).all()
        and (got["bucket_start"].to_numpy() == want["bucket_start"].to_numpy()).all()
        and (
            got["value"].to_numpy(dtype=np.float64).view(np.uint64)
            == want["value"].to_numpy(dtype=np.float64).view(np.uint64)
        ).all()
    )
    return [] if same else ["read: values differ from decode-then-filter"]


@functools.lru_cache(maxsize=None)
def _oracle_test():
    """The repository's DuckDB oracle test module, loaded from its file so
    that the benchmark uses the test's canonicalizer (``_kinds``,
    ``_normalize``) and cannot drift from its strictness."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "test_queries_oracle.py")
    spec = importlib.util.spec_from_file_location("wlbench_oracle_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_vs_duckdb(got: pd.DataFrame, want: pd.DataFrame, name: str) -> list[str]:
    """Same strictness as the repo's DuckDB oracle test: dtype kinds,
    columns, row count and order-free values with no tolerance."""
    oracle = _oracle_test()
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    if oracle._kinds(got) != oracle._kinds(want):
        return [f"{name}: dtype kinds {oracle._kinds(got)} vs {oracle._kinds(want)}"]
    got, want = oracle._normalize(got), oracle._normalize(want)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns differ"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs {len(want)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=0, rtol=0)
    except AssertionError as exc:
        return [f"{name}: values differ ({str(exc).splitlines()[0]})"]
    return []
