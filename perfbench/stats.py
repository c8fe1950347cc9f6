"""Metric names and the order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: end-to-end metrics, reported on every workload by an untraced run
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_beyond_heap_mb": "MB",
    "op_success_ratio": "ratio",
}

#: per-layer metrics, reported on every workload by a traced run (0 where
#: the workload does not reach the layer)
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "logstore.store.plan_ms": "ms",
    "logstore.store.plan_jobs": "count",
    "logstore.store.exec_ms": "ms",
    "logstore.store.point_read_ms": "ms",
    "logstore.store.scan_ms": "ms",
    "logstore.store.global_scan_ms": "ms",
    "logstore.store.cursor_ms": "ms",
    "logstore.store.combined_ms": "ms",
    "logstore.tile.tile_bytecap_ms": "ms",
    "logstore.tile.jobs": "count",
    "logstore.tile.chunks_per_doc": "count",
    "logstore.tile.reassemble_ms": "ms",
    "logstore.codec.zip_mb_per_s": "MB/s",
    "logstore.store.append_ms": "ms",
    "logstore.store.append_files": "count",
    "logstore.store.append_bytes": "bytes",
    "ingest.mb_per_s": "MB/s",
    "ingest.store_bytes_per_payload_byte": "ratio",
    "registry.fn_ms": "ms",
    "registry.fn_jobs": "count",
    "registry.action_ms": "ms",
    "sql.analysis_ms": "ms",
    "sql.optimization_ms": "ms",
    "sql.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.task_skew": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "scan.files_read_ratio": "ratio",
    "scan.bytes_read": "bytes",
    "python.udf_rows": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "trace.overhead_pct": "%",
}

#: a percentile is reported as supported when at least this many samples
#: lie beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile, ``0 < p <= 100``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(math.ceil(p / 100.0 * len(xs)), 1) - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - max(math.ceil(p / 100.0 * n), 1)


def samples_needed(p: float, beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which ``beyond`` of them lie above percentile ``p``."""
    n = 1
    while samples_beyond(n, p) < beyond:
        n += 1
    return n


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def mean(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.fmean(values) if values else default


def spread(values) -> float:
    """Inter-quartile range as a share of the median (0 for a zero median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0
