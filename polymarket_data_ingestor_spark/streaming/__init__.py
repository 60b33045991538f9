"""Streaming collection and live processing.

Names are re-exported lazily (PEP 562): importing ``streaming.collector``
loads neither pyspark nor pandas, and a live name imports :mod:`.live` on
first use.
"""

import importlib

_EXPORTS = {
    **dict.fromkeys(["FrameWriter", "split_markets", "take_chunk"], "collector"),
    **dict.fromkeys(
        [
            "read_frames_stream",
            "write_frames_stream",
            "live_ticks",
            "apply_cdc_stream",
            "bootstrap_dedup_state",
            "live_cusum",
            "bloom_geometry",
            "compact_state_labels",
            "expire_state_labels",
            "fold_labeled_state",
            "live_dedup_stream",
            "live_rollup",
            "live_distinct_rollup",
            "live_quantile_rollup",
            "live_heavy_hitters",
            "live_labeled_rollup",
            "live_sample_rollup",
            "live_minhash_rollup",
            "live_corr_rollup",
            "live_linreg_rollup",
            "live_topk_rollup",
            "live_dq_check",
            "live_dq_split",
            "live_materialize",
            "read_rollup_state",
            "read_window_state",
            "state_labels",
            "validate_state_label",
        ],
        "live",
    ),
}
__all__ = list(_EXPORTS)


def __getattr__(name):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f"{__name__}.{module}"), name)
