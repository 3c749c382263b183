"""The benchmark's workloads. Each is one closed-loop client in the driver
process: ``setup`` builds its inputs from the seed, ``op`` runs one timed
unit of work and returns its wall and its read latencies, ``check``
validates the final outputs outside the timed windows.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from . import checks, layers

TIER_SEC = {"1m": 60, "1h": 3600, "1d": 86400}
BASE_EPOCH = 1_577_836_800  # sources.synth.BASE_EPOCH
READ_KEYS = 5


class Workload:
    scaling = False  # also time one op at local[1] in the traced run
    warmup_reads = 2  # reads after a warm-up op, enough to warm the decode path

    def __init__(self, spark, work: str, seed: int, trace: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.errors: list[str] = []
        self.failed_ops: set[int] = set()
        self.spans: list[tuple[str, int, float, float]] = []
        self.read_log: list[tuple[int, float, float, int]] = []

    def rebind(self, spark) -> None:
        self.spark = spark

    def op_spans(self, op: int) -> dict[str, tuple[float, float]]:
        return {name: (t0, t1) for name, i, t0, t1 in self.spans if i == op and name != "read"}

    def read_metrics(self, execs, ops) -> dict[str, float]:
        return layers.median_of(
            [layers.read_call(execs, t0, t1, n) for i, t0, t1, n in self.read_log if i in ops]
        )

    def span(self, name: str, op: int, t0: float) -> float:
        t1 = time.time()
        self.spans.append((name, op, t0, t1))
        return t1

    def fail(self, op: int, errs: list[str]) -> None:
        if errs:
            self.errors += errs
            self.failed_ops.add(op)

    def _timed_reads(self, store_path: str, n: int, t_lo: int, t_hi: int, keys: list[str], op: int):
        """``n`` seeded read_range calls (key subset × window) on a store."""
        from series_correction_project_updated_spark.operators.compress import read_range

        comp = self.spark.read.parquet(store_path)
        out = []
        for _ in range(n):
            ks = sorted(self.rng.choice(keys, size=min(READ_KEYS, len(keys)), replace=False).tolist())
            width = (t_hi - t_lo) // 6
            lo = int(self.rng.integers(t_lo, t_hi - width))
            hi = lo + width
            t0 = time.time()
            got = read_range(comp, lo, hi, ks).toPandas()
            t1 = self.span("read", op, t0)
            out.append((t1 - t0, ks, lo, hi, got))
            if self.trace:
                self.read_log.append((op, t0, t1, len(got)))
        return out


class Backfill(Workload):
    """The batch job: one ``run_pipeline`` pass with the default config over
    a seeded pages table, into a fresh output directory."""

    scaling = True

    n_urls = 200
    samples_per_url = 500
    interval_sec = 20
    reads_per_op = 8

    def setup(self):
        from series_correction_project_updated_spark.sources.synth import generate_pages

        self.pages_path = os.path.join(self.work, "pages")
        generate_pages(
            self.spark,
            n_urls=self.n_urls,
            samples_per_url=self.samples_per_url,
            interval_sec=self.interval_sec,
            seed=self.seed,
        ).write.mode("overwrite").parquet(self.pages_path)
        self.pages = self.spark.read.parquet(self.pages_path)
        self.keys = sorted(r[0] for r in self.pages.select("url").distinct().collect())
        self.first_tiers = None
        self.last_out = None

    def op(self, i: int, warm: bool = False):
        from series_correction_project_updated_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.work, f"pass_{i}")
        t0 = time.time()
        run_pipeline(self.spark, self.pages, out)
        wall = self.span("pass", i, t0) - t0
        t_lo = BASE_EPOCH
        t_hi = BASE_EPOCH + self.samples_per_url * self.interval_sec
        comp_path = os.path.join(out, "compressed_1m")
        n = self.warmup_reads if warm else self.reads_per_op
        reads = self._timed_reads(comp_path, n, t_lo, t_hi, self.keys, i)
        self._after_pass(i, out, reads)
        return wall, [r[0] for r in reads]

    def rebind(self, spark) -> None:
        super().rebind(spark)
        self.pages = spark.read.parquet(self.pages_path)

    def layer_metrics(self, execs, ops, cores) -> dict[str, float]:
        per_pass = [layers.backfill_pass(execs, *self.op_spans(i)["pass"], cores) for i in ops]
        out = layers.median_of(per_pass)
        if not 0.9 <= out["trace.coverage"] <= 1.1:
            self.fail(ops[-1], [f"traced pass: Spark executions cover {out['trace.coverage']:.3f} of its wall"])
        return {**out, **self.read_metrics(execs, ops)}

    def _collect(self, out: str, name: str) -> pd.DataFrame:
        return self.spark.read.parquet(os.path.join(out, name)).toPandas()

    def _after_pass(self, i: int, out: str, reads) -> None:
        tiers = {t: self._collect(out, f"rollup_{t}") for t in TIER_SEC}
        comp = self._collect(out, "compressed_1m")
        if self.first_tiers is None:
            self.first_tiers = tiers
            self.first_digest = {t: checks.digest(df[checks.ROLLUP_COLS]) for t, df in tiers.items()}
            self.first_cores = self.spark.sparkContext.defaultParallelism
        elif self.spark.sparkContext.defaultParallelism == self.first_cores:
            dig = {t: checks.digest(df[checks.ROLLUP_COLS]) for t, df in tiers.items()}
            self.fail(i, checks.check_digests(self.first_digest, dig, f"pass {i}"))
        else:  # another parallelism may reorder the JVM's vsum folds
            for t in TIER_SEC:
                self.fail(i, checks.compare_tiers(tiers[t], self.first_tiers[t], f"pass {i} {t} vs first pass"))
        decoded = checks.decode_store(comp)
        for _, ks, lo, hi, got in reads:
            self.fail(i, checks.check_read(got, decoded, ks, lo, hi))
        if self.last_out and self.last_out != out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out, self.last_tiers, self.last_comp, self.last_op = out, tiers, comp, i

    def check(self) -> None:
        from pyspark.sql import functions as F

        from series_correction_project_updated_spark.sources.synth import pages_to_series

        i, tiers, comp = self.last_op, self.last_tiers, self.last_comp
        self.fail(i, checks.check_cascades(tiers, TIER_SEC))
        self.fail(i, checks.check_decode(comp, tiers["1m"]))
        lineage = self._collect(self.last_out, "lineage")
        self.fail(i, checks.check_cnt_vs_lineage(tiers["1m"], lineage))
        # the hot url (url_id 0) sorts first
        sample = [self.keys[0]] + self.rng.choice(self.keys[1:], size=3, replace=False).tolist()
        pts = (
            pages_to_series(self.pages.where(F.col("url").isin(sample)))
            .toPandas()
            .sort_values(["series_key", "t"], kind="stable")
        )
        self.fail(i, checks.check_oracle(pts, tiers["1m"], TIER_SEC["1m"]))
        self.bytes_per_point = float(comp["payload"].map(len).sum()) / float(comp["n_points"].sum())


class LateRefresh(Workload):
    """Maintenance and serving: each round upserts a seeded late batch into a
    day-partitioned point store, refreshes the 1m tier, cascades 1h and 1d,
    refreshes the compressed 1m store, publishes a new version, and then
    serves seeded ``read_range`` calls from what it published."""

    n_series = 50
    days = 3
    step = 60
    t0 = 1_704_067_200  # 2024-01-01T00:00:00Z
    # 6 h chunks of 1m buckets, 12 per series: a read window can miss most
    # of a series' chunks, and a late batch touches only a few
    chunk_buckets = 360
    late_points = 300
    # late data lands on a few series, in the last hours of the last day
    late_series = 5
    late_hours = 12
    reads_per_op = 6

    def setup(self):
        """The standing state, written with pandas and pyarrow (no Spark job):
        the day-partitioned store, its 1m/1h/1d tiers and the compressed 1m
        store, each as the package would lay it out."""
        self.points_path = os.path.join(self.work, "points")
        self.keys = [f"s{k:04d}" for k in range(self.n_series)]
        per_day = 86400 // self.step
        level = self.rng.uniform(0.0, 10.0, self.n_series)
        days = []
        for d in range(self.days):
            i = np.arange(d * per_day, (d + 1) * per_day)
            day = pd.DataFrame(
                {
                    "series_key": np.repeat(self.keys, per_day),
                    "t": np.tile(self.t0 + i * self.step, self.n_series).astype(np.float64),
                    "value": np.round(
                        np.repeat(level, per_day)
                        + np.tile(np.sin(i / 90.0), self.n_series)
                        + self.rng.random(self.n_series * per_day),
                        6,
                    ),
                }
            )
            date = str(pd.Timestamp(self.t0 + d * 86400, unit="s").date())
            _write(day, os.path.join(self.points_path, f"bucket_date={date}"))
            days.append(day)
        v = self._vdir(0)
        t1m = checks.rollup(pd.concat(days, ignore_index=True), TIER_SEC["1m"])
        t1h = checks.cascade(t1m, TIER_SEC["1h"])
        for name, tier in (("t1m", t1m), ("t1h", t1h), ("t1d", checks.cascade(t1h, TIER_SEC["1d"]))):
            _write(tier, os.path.join(v, name))
        _write(checks.encode_tier(t1m, "1m", TIER_SEC["1m"], self.chunk_buckets), os.path.join(v, "c1m"))
        self._publish(0)
        self.expected_rows = self.n_series * self.days * per_day
        self.latest: dict = {}
        self.last_reads = []
        self.invalidated: dict[int, int] = {}

    def _vdir(self, v: int) -> str:
        return os.path.join(self.work, f"v{v}")

    def _publish(self, v: int) -> None:
        cur = os.path.join(self.work, "CURRENT")
        with open(cur + ".tmp", "w") as fh:
            fh.write(str(v))
        os.replace(cur + ".tmp", cur)
        if v > 0:
            shutil.rmtree(self._vdir(v - 1), ignore_errors=True)
        self.version = v

    def late_batch(self) -> pd.DataFrame:
        """~300 points on ``late_series`` seeded series in the last
        ``late_hours`` of the last day: overwrites of stored times, new
        off-cadence times, and duplicate timestamps inside the batch."""
        rng, k = self.rng, self.late_points
        minutes = self.late_hours * 60
        start = self.t0 + self.days * 86400 - minutes * self.step
        n_dup = k // 5
        n = k - n_dup
        keys = rng.choice(self.n_series, self.late_series, replace=False)[rng.integers(0, self.late_series, n)]
        minute = rng.integers(0, minutes, n)
        off = np.where(rng.random(n) < 0.5, 0, rng.integers(1, self.step, n))
        b = pd.DataFrame(
            {
                "series_key": [f"s{x:04d}" for x in keys],
                "t": (start + minute * self.step + off).astype(np.float64),
                "value": np.round(rng.normal(5.0, 2.0, n), 6),
            }
        )
        dup = b.iloc[rng.choice(n, n_dup, replace=False)].copy()
        dup["value"] = np.round(dup["value"] + rng.normal(0.0, 1.0, n_dup), 6)
        return pd.concat([b, dup]).iloc[rng.permutation(k)].reset_index(drop=True)

    def _expect(self, batch: pd.DataFrame) -> None:
        won = batch.groupby(["series_key", "t"])["value"].max()
        for (key, t), v in won.items():
            if (key, t) not in self.latest and (t - self.t0) % self.step != 0:
                self.expected_rows += 1
            self.latest[(key, t)] = v

    def op(self, i: int, warm: bool = False):
        from pyspark.sql import functions as F

        from series_correction_project_updated_spark.operators.compress import refresh_compressed
        from series_correction_project_updated_spark.operators.ingest import upsert_points
        from series_correction_project_updated_spark.operators.refresh import (
            invalidated_buckets,
            refresh_cascade,
            refresh_tier,
        )

        batch = self.late_batch()
        self._expect(batch)
        spark, old, new = self.spark, self._vdir(self.version), self._vdir(self.version + 1)
        t_arrive = t0 = time.time()
        late = spark.createDataFrame(batch, "series_key string, t double, value double")
        days = sorted({str(d) for d in pd.to_datetime(batch["t"], unit="s").dt.date})
        merged = upsert_points(spark.read.parquet(self.points_path), late, prune_partition_col="bucket_date")
        stage = os.path.join(new, "points_stage")
        merged.where(F.col("bucket_date").isin(days)).write.partitionBy("bucket_date").parquet(stage)
        for d in days:
            live = os.path.join(self.points_path, f"bucket_date={d}")
            shutil.rmtree(live, ignore_errors=True)
            os.replace(os.path.join(stage, f"bucket_date={d}"), live)
        shutil.rmtree(stage, ignore_errors=True)
        t0 = self.span("ingest", i, t0)

        store = spark.read.parquet(self.points_path)
        t1m = refresh_tier(
            spark.read.parquet(os.path.join(old, "t1m")), store, late, "1m", prune_partition_col="bucket_date"
        )
        t1m.write.parquet(os.path.join(new, "t1m"))
        t1m = spark.read.parquet(os.path.join(new, "t1m"))
        t0 = self.span("tier_1m", i, t0)

        inv = invalidated_buckets(late, "1m")
        refresh_cascade(t1m, spark.read.parquet(os.path.join(old, "t1h")), inv, "1h").write.parquet(
            os.path.join(new, "t1h")
        )
        refresh_cascade(
            spark.read.parquet(os.path.join(new, "t1h")), spark.read.parquet(os.path.join(old, "t1d")), inv, "1d"
        ).write.parquet(os.path.join(new, "t1d"))
        t0 = self.span("cascade", i, t0)

        refresh_compressed(
            spark.read.parquet(os.path.join(old, "c1m")), t1m, inv, "1m", chunk_buckets=self.chunk_buckets
        ).write.parquet(os.path.join(new, "c1m"))
        t0 = self.span("compress", i, t0)
        self._publish(self.version + 1)
        wall = self.span("publish", i, t0) - t_arrive
        if self.trace:  # outside the round's spans
            self.invalidated[i] = inv.count()
        lo, hi = self.t0, self.t0 + self.days * 86400 - self.step
        n = self.warmup_reads if warm else self.reads_per_op
        self.last_reads = self._timed_reads(os.path.join(new, "c1m"), n, lo, hi, self.keys, i)
        self.last_op = i
        return wall, [r[0] for r in self.last_reads]

    def layer_metrics(self, execs, ops, cores) -> dict[str, float]:
        rounds = [
            layers.refresh_round(execs, self.op_spans(i), self.late_points, self.invalidated[i], cores)
            for i in ops
        ]
        return {**layers.median_of(rounds), **self.read_metrics(execs, ops)}

    def sweep(self, op: int) -> dict[str, tuple[float, float]]:
        """One pass over the registry entries of the ``adhoc`` analyst, in a
        seeded order, each drained to the driver; then their checks."""
        import duckdb

        from series_correction_project_updated_spark import queries

        sf = os.path.join(self.work, "sf")
        write_query_tables(sf, self.seed)
        spans, results = {}, {}
        start = time.time()
        for name in self.rng.permutation(layers.QUERY_NAMES):
            t0 = time.time()
            results[name] = queries.resolve_query(name)(self.spark, sf).toPandas()
            spans[name] = (t0, time.time())
        spans["sweep"] = (start, time.time())
        con = duckdb.connect()
        for t in QUERY_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name, got in results.items():
            sql = getattr(queries, ORACLE_SQL[name]) if name in ORACLE_SQL else queries.REGISTRY[name][1]
            if sql is not None:
                self.fail(op, checks.check_vs_duckdb(got, con.sql(sql).df(), name))
            else:
                again = queries.resolve_query(name)(self.spark, sf).toPandas()
                if checks.digest(got) != checks.digest(again):
                    self.fail(op, [f"{name}: rows differ between two runs"])
        con.close()
        return spans

    def check(self) -> None:
        i, v = self.last_op, self._vdir(self.version)
        store = self.spark.read.parquet(self.points_path).select("series_key", "t", "value").toPandas()
        self.fail(i, checks.check_store(store, self.expected_rows, self.latest))
        tiers = {t: self.spark.read.parquet(os.path.join(v, f"t{t}")).toPandas() for t in TIER_SEC}
        want = {"1m": checks.rollup(store, 60)}
        want["1h"] = checks.cascade(want["1m"], 3600)
        want["1d"] = checks.cascade(want["1h"], 86400)
        for t in TIER_SEC:
            self.fail(i, checks.compare_tiers(tiers[t], want[t], f"refreshed {t} vs from-scratch"))
        comp = self.spark.read.parquet(os.path.join(v, "c1m")).toPandas()
        self.fail(i, checks.check_payloads(comp, tiers["1m"], 60, self.chunk_buckets))
        decoded = checks.decode_store(comp)
        for _, ks, lo, hi, got in self.last_reads:
            self.fail(i, checks.check_read(got, decoded, ks, lo, hi))
        self.bytes_per_point = float(comp["payload"].map(len).sum()) / float(comp["n_points"].sum())


QUERY_TABLES = ["events", "documents"]
# entries folded out of REGISTRY keep their standalone oracle SQL
ORACLE_SQL = {"q_asof_fwd_near": "SQL_ASOF_FWD_NEAR"}
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "data column join small customer query order group stream filter big vector"
).split()


def write_query_tables(sf: str, seed: int) -> None:
    """Seeded ``events`` (10,000 rows) and ``documents`` (500 rows) with the
    shape of the sf0.01 test tables, the only two the sweep's entries read."""
    os.makedirs(sf, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = 10_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
            "value": np.round(np.clip(rng.lognormal(3.4, 1.0, n), 0.01, 490.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    ).to_parquet(os.path.join(sf, "events.parquet"), index=False)
    m = 500
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))) for _ in range(m)]
    pd.DataFrame(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "zh", "es", "de", "fr"], m, p=[0.44, 0.15, 0.14, 0.14, 0.13]),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"), index=False)


def _write(df: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet"))


WORKLOADS = {"backfill": Backfill, "late_refresh": LateRefresh}
