"""Metric names, units and the statistics the report uses.

``END_TO_END`` and ``PER_LAYER`` are the metrics the last output line
carries (untraced and traced runs respectively); ``BENCHMARK.json``
lists exactly these. ``REPORT_ONLY`` metrics are printed in the
human-readable report but are not in the result line: ``fail_frac`` is
zero on a correct build, ``job_tail_s`` needs more jobs than a short
run holds, and ``first_job_s`` is one cold sample per run, which an
occasional host stall doubles.
"""

from __future__ import annotations

import math
import re

END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "throughput_mb_s": "MB/s",
    "peak_rss_mb": "MB",
}
REPORT_ONLY = {"first_job_s": "s", "job_tail_s": "s", "fail_frac": "frac"}

_COMMON_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "core_busy_frac": "frac",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}
PER_LAYER = {
    f"{layer}.{k}": u
    for layer in ("plans", "ingest", "operators", "streaming")
    for k, u in _COMMON_UNITS.items()
}
PER_LAYER.update(
    {
        "ingest.python_s": "s",
        "ingest.docs": "count",
        "ingest.fragments": "count",
        "ingest.records": "count",
        "ingest.fields": "count",
        "ingest.record_yield": "ratio",
        "ingest.task_skew": "ratio",
        "operators.python_s": "s",
        "operators.minhash_candidates": "count",
        "operators.minhash_verified_frac": "frac",
        "operators.lm_scored_docs": "count",
        "operators.survivor_frac": "frac",
        "operators.staged_coverage_frac": "frac",
        "plans.analysis_s": "s",
        "plans.optimizer_s": "s",
        "plans.planning_s": "s",
        "plans.physical_nodes": "count",
        "plans.exchanges": "count",
        "streaming.appended_rows": "count",
        "streaming.retired_rows": "count",
        "streaming.retrains_fired": "count",
        "streaming.fsck_findings": "count",
        "streaming.files_written": "count",
        "streaming.bytes_written_mb": "MB",
        "streaming.write_amp": "ratio",
        "streaming.mean_file_kb": "KB",
        "session.start_s": "s",
        "session.ship_s": "s",
        "session.workers_warm_s": "s",
        "trace.jobs": "count",
        "trace.overhead_frac": "frac",
    }
)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest whole percentile with at least ten samples beyond it,
    and its value (nearest rank); ``(None, None)`` below 11 samples."""
    n = len(values)
    if n < 11:
        return None, None
    p = math.floor(100 * (n - 10) / n)
    while p > 0 and n - math.ceil(p * n / 100) < 10:
        p -= 1
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p * n / 100) - 1)], p
