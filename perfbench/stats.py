"""Metric catalogue and the statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the single list of metric names and
units: ``run.py`` prints exactly these, and the tests check that
``BENCHMARK.json`` names the same ones.
"""

from __future__ import annotations

import math
import statistics

#: name -> (unit, better)
#: ``setup_s`` and ``op_cpu_s`` are CPU seconds of the driver JVM, the
#: Python driver and the Python workers (see ``run.tree_cpu_s``);
#: ``bytes_written_per_input_byte`` is undefined (None) for the read-only
#: catalog workload.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "bytes_written_per_input_byte": ("ratio", "lower"),
}

_LEDGER_OPS = ("write", "merge", "update", "read", "read_changes", "compact")

#: name -> unit. Times, jobs, bytes and rows are per measured op unless
#: the unit says otherwise; ``session.*`` are one-off set-up times.
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "tables.load_s": "s/op",
    "spark.action_s": "s/op",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.driver_gap_s": "s/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.input_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "runner.pseudonymisation_s": "s/op",
    "runner.feature_extraction_s": "s/op",
    "runner.failed": "count",
    "runner.skipped": "count",
    "incremental.read_increment_s": "s/op",
    "incremental.write_increment_s": "s/op",
    "incremental.changes_rows": "rows/op",
    "watermark.get_s": "s/op",
    "watermark.update_s": "s/op",
    "watermark.jobs": "jobs/op",
    "pseudonymise.transform_s": "s/op",
    "pseudonymise.rows": "rows/op",
    "feature_extraction.build_s": "s/op",
    "feature_extraction.build_jobs": "jobs/op",
    **{f"ledger.{op}_s": "s/op" for op in _LEDGER_OPS},
    **{f"ledger.{op}_calls": "calls/op" for op in _LEDGER_OPS},
    **{f"ledger.{op}_jobs": "jobs/op" for op in _LEDGER_OPS},
    "ledger.bytes_written": "B/op",
    "ledger.files_written": "files/op",
    "ledger.bytes_written_per_input_byte": "ratio",
    "ledger.rows_rewritten_per_row_changed": "ratio",
    "ledger.versions_per_read": "versions",
    "merge.apply_change_feed_s": "s/op",
    "matview.refresh_mapped_index_s": "s/op",
    "matview.compact_mapped_index_s": "s/op",
    "matview.compactions_run": "count",
    "matview.compactions_skipped": "count",
    "matview.changes_consumed": "versions/op",
    "matview.stale_fraction": "fraction",
    "sketch.kll_refresh_s": "s/op",
    "sketch.tdigest_refresh_s": "s/op",
    "dedup.lsh_refresh_s": "s/op",
    "trace.op_p50_s": "s",
    "trace.op_cpu_s": "s",
    "trace.unattributed_tasks": "tasks",
}

#: Layers only the ``catalog_analytics`` workload reaches: the registry's
#: ``fn()``, an explicit planning step and the query families. A traced
#: catalog run prints them after ``PER_LAYER``; the workload is not in
#: ``BENCHMARK.json`` (see README), so neither are they.
CATALOG_LAYER = {
    "queries.build_s": "s/op",
    "queries.build_jobs": "jobs/op",
    "spark.plan_s": "s/op",
    **{
        f"catalog.{fam}_s": "s/query"
        for fam in ("relational", "sketch", "dedup", "similarity", "textstats", "graph", "ml")
    },
}

#: Fewest samples that must lie beyond a reported tail percentile, and
#: fewest ops before any tail is reported.
TAIL_BEYOND = 10
TAIL_MIN_OPS = 20


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it, as ``{"value", "percentile", "samples"}``; None below
    ``TAIL_MIN_OPS`` samples. The value is the sample at that rank
    (nearest-rank, no interpolation)."""
    n = len(values)
    if n < TAIL_MIN_OPS:
        return None
    xs = sorted(values)
    k = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return {"value": xs[k - 1], "percentile": round(100.0 * k / n, 2), "samples": n}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan
