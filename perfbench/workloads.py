"""The benchmark's workloads: fixed op cycles, owned here.

The registry's ``QUERIES`` order is rotated from the correctness history on
import, so the cycles below name their ops explicitly; a new history file
cannot reorder a run. A run repeats its cycle until ``--seconds`` have
passed, and always ends on a cycle boundary, so every run times the same
mix of ops.
"""

from __future__ import annotations

FEED = "feed"

# Short relational, window and toolbox queries whose plans run in the JVM.
# Per-op cost is fixed overhead (driver construction, Catalyst, task
# scheduling); no op starts a Python worker, a stream or a file write, so a
# change to those layers should leave this workload unchanged.
ANALYTICS = [
    "q03_constant_label", "q50_shuffle_permutation", "q51_repeat",
    "q07_semi_join", "q52_split_assign", "q163_ab_metrics", "q08_anti_join",
    "q10_count_distinct", "q80_grouping_sets", "q11_rollup",
    "q100_heavy_hitters", "q71_cube", "q12_mean_variance", "q13_window_rank",
    "q75_stddev", "q15_topk", "q76_regexp_extract", "q16_intersect",
    "q77_null_funcs", "q16_union", "q18_string_split", "q22_array_ops",
    "q23_correlated_subquery", "q24_hash_mod_split", "q25_time_bucket",
    "q27_pivot",
]

# The LLM-data path and the write path: Python-worker Arrow kernels,
# dedup/ANN candidate joins with persisted intermediates, micro-batch
# streams with state and checkpoints, format round-trips through part-file
# publish, and one feed pass of minibatches to a driver-side loop. Kinds are
# interleaved so every run covers each of them. The per-op median sits among
# the sub-second text and Arrow ops: a mix whose median fell in the gap
# between two latency clusters read up to 15 % apart run to run, so the
# mid-latency ops that straddled it (q44, q46, q48, q155) are left out.
PIPELINE = [
    "q30_dedup_exact", "q69_stream_sliding", "q144_embl_roundtrip",
    "q35_ann_cosine_topk", "q45_url_extract", "q47_strip_markup",
    "q181_sparse_manifest_roundtrip", "q40_text_fingerprint", "q103_semdedup",
    "q137_url_canonicalize", FEED, "q64_batch_transform", "q41_vocab_topk",
    "q38_text_quality", "q170_stream_normalizer", "q49_centroids",
    "q105_embedding_covariance", "q66_media_meta",
    "q122_fastq_roundtrip", "q65_grouped_normalize", "q86_pack_sequences",
    "q139_temperature_mix", "q37_text_token_stats", "q131_token_budget_sample",
]

WORKLOADS = {"analytics": ANALYTICS, "pipeline": PIPELINE}


def op_kind(name: str) -> str:
    """'feed', 'stream', 'roundtrip' or 'query' — the per-type medians."""
    if name == FEED:
        return FEED
    if "_stream_" in name:
        return "stream"
    if name.endswith("_roundtrip"):
        return "roundtrip"
    return "query"
