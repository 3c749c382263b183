"""Per-layer metrics of a traced run: the benchmark's spans around public
calls, joined with the SQL executions of Spark's event log.

Inside ``run_pipeline`` an execution is attributed to a layer by the
output directory it writes (``fused_1m`` → correction kernel,
``compressed_1m`` → encoder, coarser ``rollup_*`` → cascade, the other
writes → sink) or, when it writes nothing, to the pipeline's own actions
(counts and collects). Elsewhere an execution belongs to the span it
started in.
"""

from __future__ import annotations

import statistics

from .eventlog import Execution, in_span

MB = 1024.0 * 1024.0

QUERY_NAMES = [
    "q_asof_fwd_near",
    "q_asof_dirs",
    "q_word_overlap_pairs",
    "q_drift_classes",
    "q_refresh_late",
    "q_dedup_resolve",
    "q_quantile_tier",
    "q_stream_rollup_1m",
    "q_hygiene",
    "q_smooth",
    "q_correct_series",
    "q_correct_chunked",
]

CORRECT = [
    "correct.stage_s", "correct.python_run_s", "correct.python_init_s", "correct.to_python_mb",
    "correct.from_python_mb", "correct.shuffle_write_mb", "correct.shuffle_write_s", "correct.tasks",
    "correct.task_skew", "correct.rows_in", "correct.rows_out",
]
ENCODE = [
    "compress.encode_s", "compress.python_init_s", "compress.python_run_s", "compress.tasks",
    "compress.tasks_useful_ratio", "compress.shuffle_write_mb", "compress.points",
]
TRICKLE = [
    "compress.refresh_s", "compress.refresh_tasks", "compress.refresh_python_init_s",
    "compress.chunks_reencoded",
]
READ = [
    "compress.read_python_run_s", "compress.read_chunks_decoded", "compress.read_useful_ratio",
    "compress.read_files_scanned",
]
REFRESH = [
    "ingest.upsert_s", "ingest.rows_written", "refresh.tier_1m_s", "refresh.invalidated_buckets",
    "refresh.rows_written", "refresh.write_amplification",
]
ROLLUP = ["rollup.cascade_s", "rollup.shuffle_write_mb"]
PIPELINE = ["pipeline.pass_s", "pipeline.self_s", "pipeline.actions_s", "pipeline.sink_s", "pipeline.jobs"]
QUERIES = [f"queries.{q}_s" for q in QUERY_NAMES] + ["queries.jobs_per_sweep"]
SPARK = ["spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.cpu_util", "spark.gc_s", "spark.spill_mb"]
TRACE = ["trace.coverage", "trace.overhead_ratio"]
SCALING = ["scaling.backfill_speedup_4_over_1"]
# peak VmHWM of the JVM plus the largest Python worker over the whole run; a
# per-layer metric because it spread by 23% across seeds on this box
MEMORY = ["peak_rss_mb"]

ALL = CORRECT + ENCODE + TRICKLE + READ + REFRESH + ROLLUP + PIPELINE + QUERIES + SPARK + TRACE + SCALING + MEMORY

UNITS = {
    "_s": "s", "_mb": "MB", "tasks": "count", "task_skew": "ratio", "rows_in": "count",
    "rows_out": "count", "points": "count", "_ratio": "ratio", "decoded": "count",
    "scanned": "count", "written": "count", "buckets": "count", "amplification": "ratio",
    "jobs": "count", "per_sweep": "count", "cpu_util": "ratio", "coverage": "ratio",
    "4_over_1": "ratio", "reencoded": "count",
}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    raise KeyError(name)


def _sum(xs: list[Execution], attr: str) -> float:
    return float(sum(getattr(x, attr) for x in xs))


def spark_totals(xs: list[Execution], wall: float, cores: int) -> dict[str, float]:
    cpu = _sum(xs, "cpu_ns") / 1e9
    return {
        "spark.jobs": _sum(xs, "jobs"),
        "spark.tasks": _sum(xs, "tasks"),
        "spark.task_cpu_s": cpu,
        "spark.cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
        "spark.gc_s": _sum(xs, "gc_ms") / 1000.0,
        "spark.spill_mb": _sum(xs, "spill_bytes") / MB,
    }


def _python(xs: list[Execution], prefix: str) -> dict[str, float]:
    return {
        f"{prefix}.python_run_s": _sum(xs, "py_run_ms") / 1000.0,
        f"{prefix}.python_init_s": (_sum(xs, "py_init_ms") + _sum(xs, "py_start_ms")) / 1000.0,
    }


def backfill_pass(execs: list[Execution], t0: float, t1: float, cores: int) -> dict[str, float]:
    xs = in_span(execs, t0, t1)
    wall = t1 - t0
    fused = [x for x in xs if (x.name or "").startswith("fused_")]
    comp = [x for x in xs if (x.name or "").startswith("compressed_")]
    casc = [x for x in xs if x.name in ("rollup_1h", "rollup_1d")]
    actions = [x for x in xs if x.name is None]
    sink = [x for x in xs if x not in fused + comp + casc + actions]
    spans = _sum(xs, "wall_s")
    skews = [x.task_skew for x in fused if x.py_tasks]
    py_tasks = _sum(comp, "py_tasks")
    out = {
        "correct.stage_s": _sum(fused, "py_stage_s"),
        **_python(fused, "correct"),
        "correct.to_python_mb": _sum(fused, "to_python_bytes") / MB,
        "correct.from_python_mb": _sum(fused, "from_python_bytes") / MB,
        "correct.shuffle_write_mb": _sum(fused, "shuffle_write_bytes") / MB,
        "correct.shuffle_write_s": _sum(fused, "shuffle_write_ns") / 1e9,
        "correct.tasks": _sum(fused, "py_tasks"),
        "correct.task_skew": max(skews) if skews else 0.0,
        "correct.rows_in": _sum(fused, "exchange_records"),
        "correct.rows_out": _sum(fused, "py_rows_out"),
        "compress.encode_s": _sum(comp, "wall_s"),
        **_python(comp, "compress"),
        "compress.tasks": py_tasks,
        "compress.tasks_useful_ratio": _sum(comp, "py_tasks_with_output") / py_tasks if py_tasks else 0.0,
        "compress.shuffle_write_mb": _sum(comp, "shuffle_write_bytes") / MB,
        "compress.points": _sum(comp, "exchange_records"),
        "rollup.cascade_s": _sum(casc, "wall_s"),
        "rollup.shuffle_write_mb": _sum(casc, "shuffle_write_bytes") / MB,
        "pipeline.pass_s": wall,
        "pipeline.self_s": wall - spans,
        "pipeline.actions_s": _sum(actions, "wall_s"),
        "pipeline.sink_s": _sum(sink, "wall_s"),
        "pipeline.jobs": _sum(xs, "jobs"),
        "trace.coverage": spans / wall,
    }
    out.update(spark_totals(xs, wall, cores))
    return out


def refresh_round(
    execs: list[Execution], spans: dict[str, tuple[float, float]], late_points: int,
    invalidated: int, cores: int,
) -> dict[str, float]:
    def xs(name):
        return in_span(execs, *spans[name])

    def wall(name):
        return spans[name][1] - spans[name][0]

    ingest, tier, casc, comp = xs("ingest"), xs("tier_1m"), xs("cascade"), xs("compress")
    t0, t1 = spans["ingest"][0], spans["publish"][1]
    every = in_span(execs, t0, t1)
    ingest_rows = _sum(ingest, "records_written")
    refresh_rows = _sum(tier + casc, "records_written")
    chunks = _sum(comp, "records_written")
    out = {
        "compress.refresh_s": wall("compress"),
        "compress.refresh_tasks": _sum(comp, "py_tasks"),
        "compress.refresh_python_init_s": (_sum(comp, "py_init_ms") + _sum(comp, "py_start_ms")) / 1000.0,
        "compress.chunks_reencoded": _sum(comp, "py_rows_out"),
        "ingest.upsert_s": wall("ingest"),
        "ingest.rows_written": ingest_rows,
        "refresh.tier_1m_s": wall("tier_1m"),
        "refresh.invalidated_buckets": float(invalidated),
        "refresh.rows_written": refresh_rows,
        "refresh.write_amplification": (ingest_rows + refresh_rows + chunks) / late_points,
        "rollup.cascade_s": wall("cascade"),
        "rollup.shuffle_write_mb": _sum(casc, "shuffle_write_bytes") / MB,
        "trace.coverage": _sum(every, "wall_s") / (t1 - t0),
    }
    out.update(spark_totals(every, t1 - t0, cores))
    return out


def read_call(execs: list[Execution], t0: float, t1: float, returned: int) -> dict[str, float]:
    xs = in_span(execs, t0, t1)
    decoded = _sum(xs, "py_rows_out")
    return {
        "compress.read_python_run_s": _sum(xs, "py_run_ms") / 1000.0,
        # chunk rows fed to the decode UDF, i.e. those the stat filter kept
        "compress.read_chunks_decoded": _sum(xs, "py_rows_in"),
        "compress.read_useful_ratio": returned / decoded if decoded else 0.0,
        "compress.read_files_scanned": _sum(xs, "files_read"),
    }


def query_metrics(execs: list[Execution], spans: dict[str, tuple[float, float]]) -> dict[str, float]:
    out = {f"queries.{q}_s": spans[q][1] - spans[q][0] for q in QUERY_NAMES}
    out["queries.jobs_per_sweep"] = _sum(in_span(execs, *spans["sweep"]), "jobs")
    return out


def median_of(samples: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for s in samples for k in s}
    return {k: statistics.median([s[k] for s in samples if k in s]) for k in keys}
