"""Metric names and units: the single list ``BENCHMARK.json`` mirrors
(``test_perfbench.py`` holds the two equal)."""

from __future__ import annotations

# name -> (unit, better, bound). Each bound holds the quartile spread of
# ten runs (ten seeds) on a 4-vCPU host; set-up gets the largest.
END_TO_END = {
    "wall_s": ("s", "lower", 0.24),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "scaling_eff": ("ratio", "higher", 0.24),
}

# Stages with the full event-log breakdown, and the stages that only
# report their benchmark spans.
FULL_STAGES = (
    "extract", "gate", "line_dedup", "minhash_pairs", "semantic_dups",
    "increment_dedup",
)
LIGHT_STAGES = (
    "cc_clusters", "canonical_ids", "canonical_keep", "embed", "embed_center",
    "mixture_plan", "packing", "extract_1core",
)
SPAN_COUNTERS = {"build_s": "s", "action_s": "s", "rows_out": "count"}
LOG_COUNTERS = {
    "out_mb": "MB", "cpu_s": "s", "gc_s": "s", "python_s": "s",
    "to_python_mb": "MB", "from_python_mb": "MB", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "fetch_wait_s": "s", "spill_disk_mb": "MB",
    "task_skew": "ratio", "tasks_failed": "count",
}
NEAR_DUP_COUNTERS = {
    "band_python_s": "s", "verify_python_s": "s", "verify_yield": "ratio",
}
EXTRA = {
    "increment_dedup.band_scan_mb": "MB",
    "minhash_pairs.selfjoin_s": "s",
    "minhash_pairs.joinback_s": "s",
    "extract_narrow.action_s": "s",
    "setup.session_s": "s",
    "setup.generate_s": "s",
    "setup.prepare_s": "s",
    "error_rate": "ratio",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out: dict[str, str] = {}
    for stage in FULL_STAGES:
        for c, u in {**SPAN_COUNTERS, **LOG_COUNTERS}.items():
            out[f"{stage}.{c}"] = u
        if stage in ("minhash_pairs", "increment_dedup"):
            for c, u in NEAR_DUP_COUNTERS.items():
                out[f"{stage}.{c}"] = u
    for stage in LIGHT_STAGES:
        for c, u in SPAN_COUNTERS.items():
            out[f"{stage}.{c}"] = u
    out.update(EXTRA)
    return out
