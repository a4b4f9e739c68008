"""Metrics from one worker result: the end-to-end set of an untraced run and
the per-layer set of a traced run, plus the human-readable table."""

from __future__ import annotations

import glob
import sys

from perfbench import eventlog, spans, stats, streamstats

# Per-layer figures are per op run unless the unit says otherwise.
SELF_LAYERS = ("op", "build", "exec", "feed", "stream", "io.read", "io.write", "io.publish")


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _kind_p50(ops: "list[dict]", kind: str) -> float:
    xs = [o["latency"] for o in ops if o["kind"] == kind]
    return stats.median(xs) if xs else 0.0


def end_to_end(result: dict) -> "dict[str, dict]":
    ops = result["ops"]
    lat = [o["latency"] for o in ops]
    tail, _, _ = stats.tail(lat)
    return {
        "setup_s": _m(result["setup_s"], "s"),
        "op_p50_s": _m(stats.median(lat), "s"),
        "op_tail_s": _m(tail, "s"),
        "ops_per_s": _m(len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": _m(result["peak_rss_mb"], "MB"),
    }


def per_layer(result: dict, eventlog_dir: str) -> "dict[str, dict]":
    ops = result["ops"]
    n = len(ops)
    lat = [o["latency"] for o in ops]
    queries = [o for o in ops if "build" in o]
    sp = [spans.Span(**s) for s in result["spans"]]
    out = {
        "session.get_spark_s": _m(result["session.get_spark_s"], "s"),
        "session.warmup_s": _m(result["session.warmup_s"], "s"),
        "build.s": _m(sum(o["build"] for o in queries) / max(1, len(queries)), "s/op"),
        "build.share": _m(
            sum(o["build"] for o in queries) / max(1e-9, sum(o["latency"] for o in queries)),
            "ratio",
        ),
    }
    for phase in ("analysis", "optimization", "planning"):
        key = f"plan.{phase}_s"
        out[key] = _m(sum(o.get(key, 0.0) for o in queries) / max(1, len(queries)), "s/op")
    exec_spans = [s.duration for s in sp if s.name == "exec"]
    out["exec.s"] = _m(sum(exec_spans) / max(1, len(exec_spans)), "s/op")

    # job groups are "<op id>|build" and "<op id>|exec"; the feed runs in build
    windows = [
        (f"{s.op}|{'exec' if s.name == 'exec' else 'build'}", s.wall_start, s.wall_start + s.duration)
        for s in sp
        if s.name in ("build", "exec", "feed") and s.op is not None
    ]
    [path] = glob.glob(f"{eventlog_dir}/*")  # one session, one log
    with open(path) as fh:
        groups = eventlog.aggregate(fh, windows)
    totals = dict.fromkeys(eventlog.EXEC_KEYS, 0.0)
    for g in groups.values():
        for k, v in g.items():
            totals[k] += v
    for k in eventlog.EXEC_KEYS:
        out[k] = _m(totals[k] / n, _unit(k))
    out["build.jobs"] = _m(
        sum(g["exec.jobs"] for name, g in groups.items() if name.endswith("|build")) / n,
        "count/op",
    )

    stream_ops = [o for o in ops if o["kind"] == "stream"]
    st = streamstats.summarize(result["stream_progress"])
    for k, v in st.items():
        additive = k not in ("stream.empty_batch_ratio", "stream.batch_p50_ms")
        out[k] = _m(v / max(1, len(stream_ops)) if additive else v, _unit(k))
    out["stream.op_p50_s"] = _m(_kind_p50(ops, "stream"), "s")

    self_by_layer = spans.layer_self_times(sp)
    rt = max(1, sum(o["kind"] == "roundtrip" for o in ops))
    out["io.write_s"] = _m(self_by_layer.get("io.write", 0.0) / rt, "s/op")
    out["io.read_s"] = _m(self_by_layer.get("io.read", 0.0) / rt, "s/op")
    out["io.publish_s"] = _m(self_by_layer.get("io.publish", 0.0) / rt, "s/op")
    written = result["written"]
    files = sum(w[0] for w in written.values())
    wbytes = sum(w[1] for w in written.values())
    in_mb = sum(
        g["exec.input_mb"] for name, g in groups.items() if name.split("|")[0] in written
    )
    out["io.files_written"] = _m(files / rt, "count/op")
    out["io.bytes_written_per_input_byte"] = _m(
        wbytes / (in_mb * eventlog.MB) if in_mb else 0.0, "ratio"
    )
    out["io.roundtrip_op_p50_s"] = _m(_kind_p50(ops, "roundtrip"), "s")

    feed = result["feed"] or {}
    out["feed.batches"] = _m(feed.get("batches", 0), "count")
    out["feed.batch_gap_p50_ms"] = _m(feed.get("gap_p50_ms", 0.0), "ms")
    out["feed.first_batch_s"] = _m(feed.get("first_batch_s", 0.0), "s")
    out["feed.rows_per_s"] = _m(feed.get("rows_per_s", 0.0), "1/s")

    out["cache.persisted_after_release"] = _m(
        sum(o.get("persisted_after_release", 0) for o in ops), "count"
    )
    out["scratch.leaked_dirs"] = _m(len(result["leaked_dirs"]), "count")
    out["host.jvm_control_s"] = _m(result["host.jvm_control_s"], "s")
    out["host.py_control_s"] = _m(result["host.py_control_s"], "s")

    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = _m(self_by_layer.get(layer, 0.0) / n, "s/op")
    op_wall = sum(s.duration for s in sp if s.parent is None and s.op is not None)
    in_ops = sum(t for s, t in zip(sp, spans.self_times(sp)) if s.op is not None)
    out["trace.self_coverage"] = _m(in_ops / op_wall if op_wall else 0.0, "ratio")
    out["trace.op_p50_s"] = _m(stats.median(lat), "s")
    out["trace.ops_per_s"] = _m(n / sum(lat), "1/s")
    return out


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s/op"
    if key.endswith("_mb"):
        return "MB/op"
    if key.endswith("_ms"):
        return "ms/op"
    if key.endswith("ratio"):
        return "ratio"
    return "count/op"


def print_report(args, result: dict, metrics: "dict[str, dict]") -> None:
    """Every metric by name and unit, then the within-run op figures the
    single result line cannot carry (tail percentile, counts, per-kind
    medians, the failed-op ratio)."""
    ops = result["ops"]
    lat = [o["latency"] for o in ops]
    tail, pct, beyond = stats.tail(lat)
    failed = sum(not o["ok"] for o in ops)
    w = sys.stdout.write
    w(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
      f"seconds={args.seconds}\n")
    for name, m in metrics.items():
        w(f"{name:36s} {m['value']:>14.6g} {m['unit']}\n")
    w(f"# ops={len(ops)} failed={failed} failed_ops_ratio={failed / len(ops):.4g} "
      f"op_tail=p{pct:.1f} ({tail:.4g} s, {beyond} ops beyond) "
      f"checks={sum(o.get('check', 0.0) for o in ops):.4g} s\n")
    for kind in sorted({o["kind"] for o in ops}):
        xs = [o["latency"] for o in ops if o["kind"] == kind]
        q1, q2, q3 = stats.quartiles(xs)
        w(f"# {kind}: n={len(xs)} p25={q1:.4g} p50={q2:.4g} p75={q3:.4g} s\n")
    if result.get("feed"):
        f = result["feed"]
        w(f"# feed: first_batch={f['first_batch_s']:.4g} s "
          f"rows_per_s={f['rows_per_s']:.6g} batches={f['batches']}\n")
