"""Micro-batch phase totals from ``StreamingQueryProgress`` JSON documents."""

from __future__ import annotations

from perfbench.stats import median

PHASES = {
    "latestOffset": "stream.latest_offset_ms",
    "queryPlanning": "stream.query_planning_ms",
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}
KEYS = (
    "stream.batches", "stream.empty_batch_ratio", "stream.batch_p50_ms",
    "stream.state_rows", "stream.state_commit_ms", "stream.input_rows",
) + tuple(PHASES.values())


def summarize(progress: "list[dict]") -> "dict[str, float]":
    """Totals over every batch attempt in ``progress`` (one dict per
    ``QueryProgressEvent``). ``stream.state_rows`` is the state size each
    query ended with, summed over queries; the batch median is taken over
    ``triggerExecution``."""
    out = dict.fromkeys(KEYS, 0.0)
    trigger = []
    last_state: "dict[str, float]" = {}
    empty = 0
    for p in progress:
        d = p.get("durationMs") or {}
        for phase, key in PHASES.items():
            out[key] += d.get(phase, 0)
        if "triggerExecution" in d:
            trigger.append(d["triggerExecution"])
        rows = p.get("numInputRows", 0) or 0
        out["stream.input_rows"] += rows
        empty += rows == 0
        ops = p.get("stateOperators") or []
        out["stream.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        last_state[p.get("runId") or p.get("id")] = sum(
            o.get("numRowsTotal", 0) for o in ops
        )
    out["stream.batches"] = float(len(progress))
    out["stream.empty_batch_ratio"] = empty / len(progress) if progress else 0.0
    out["stream.batch_p50_ms"] = median(trigger) if trigger else 0.0
    out["stream.state_rows"] = float(sum(last_state.values()))
    return out
