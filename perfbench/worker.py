"""One measured process: set up a session, run a workload's op cycle in a
closed loop, check every op against its oracle result, write a JSON result.

Started by ``perfbench/run.py`` as a fresh process per run; not meant to be
called by hand. With ``--trace 1`` it also records spans, job groups, the
Spark event log, Catalyst phase times and streaming progress.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import sys
import time

import numpy as np


def process_age() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def warm_up(spark, sf_dir: str) -> None:
    """A fixed warm-up over each execution shape the ops use: scan, join,
    aggregate, window, higher-order lambda and an Arrow batch in every
    Python worker."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fireworks_spark.tables import table

    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    r.join(n, r.r_regionkey == n.n_regionkey).groupBy("r_name").count().count()
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    n.select(F.sum("n_nationkey").over(w)).count()
    n.select(F.transform(F.split("n_name", ""), lambda c: F.xxhash64(c))).count()

    def batch(it):
        import numpy as _np

        (_np.arange(256, dtype=_np.uint64)[:, None] ^ 1).sum()
        yield from it

    cpus = spark.sparkContext.defaultParallelism
    n.repartition(cpus).mapInPandas(batch, n.schema).count()


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event's JSON
    in its ``progress`` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def run_feed(spark, sf_dir: str, seed: int, expected) -> "tuple[dict, list[str]]":
    """One feed pass: shuffled, standardized order columns streamed as
    1024-row pandas minibatches to a loop on the driver. Returns the feed
    figures and the mismatches against the oracle totals.

    ``orders`` (150k rows at sf0.1) keeps the pass near 2 s; the driver-side
    iterator converts row by row, so all of lineitem would take a third of
    a run."""
    from fireworks_spark import mlfeed
    from fireworks_spark.pipeline import Pipe
    from fireworks_spark.tables import table

    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    t0 = time.perf_counter()
    df = (
        Pipe(table(spark, sf_dir, "orders"))[cols]
        .shuffle(seed)
        .standardize(["o_custkey", "o_totalprice"])
        .df
    )
    arrivals = []
    rows = 0
    sums = np.zeros(3)
    std_sum = np.zeros(2)
    std_sq = np.zeros(2)
    for pdf in mlfeed.batch_iterator(df, 1024, drop_tail=False):
        arrivals.append(time.perf_counter())
        rows += len(pdf)
        sums += pdf[cols].to_numpy(np.float64).sum(axis=0)
        s = pdf[["o_custkey_std", "o_totalprice_std"]].to_numpy(np.float64)
        std_sum += s.sum(axis=0)
        std_sq += (s * s).sum(axis=0)
    end = time.perf_counter()
    gaps = np.diff([t0] + arrivals)
    figures = {
        "latency": end - t0,
        "first_batch_s": arrivals[0] - t0 if arrivals else end - t0,
        "rows_per_s": rows / (end - t0),
        "batches": len(arrivals),
        "gap_p50_ms": float(np.median(gaps[1:]) * 1e3) if len(gaps) > 1 else 0.0,
    }
    problems = []
    exp = expected.iloc[0]
    if rows != int(exp["n"]):
        problems.append(f"rows {rows} != {int(exp['n'])}")
    for got, col in zip(sums, cols):
        if not np.isclose(got, float(exp[col]), rtol=1e-9):
            problems.append(f"sum({col}) {got} != {float(exp[col])}")
    if rows and not (
        np.allclose(std_sum / rows, 0.0, atol=1e-6)
        and np.allclose(std_sq / rows, 1.0, rtol=1e-6)
    ):
        problems.append("standardized columns are not mean 0, variance 1")
    return figures, problems


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--oracle-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    tracer = None
    if args.trace:
        from perfbench.spans import Tracer, wrap_layers

        tracer = Tracer()
        wrap_layers(tracer)
    from fireworks_spark.session import get_spark

    extra = None
    if args.trace:
        logdir = os.path.abspath("eventlog")
        os.makedirs(logdir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{os.cpu_count()}]", extra_conf=extra)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf_dir)
    t2 = time.perf_counter()
    result = {
        "setup_s": process_age(),
        "session.get_spark_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }

    from perfbench.workloads import FEED, WORKLOADS, op_kind
    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.oracle import compare
    from fireworks_spark.registry import QUERIES

    cycle = WORKLOADS[args.workload]
    expected = {}
    for name in dict.fromkeys(cycle):
        with open(os.path.join(args.oracle_dir, f"{name}.pkl"), "rb") as fh:
            expected[name] = pickle.load(fh)

    sc = spark.sparkContext
    listener = None
    if args.trace:
        listener = progress_listener()
        spark.streams.addListener(listener)
    scratch = os.environ["FIREWORKS_SCRATCH_DIR"]
    scratch_before = _fw_dirs(scratch)

    ops = []  # one dict per op run
    checked: "set[str]" = set()
    feed = None
    start = time.perf_counter()
    while True:
        for name in cycle:
            op_id = f"{len(ops)}:{name}"
            rec = {"op": name, "kind": op_kind(name), "ok": True}
            if tracer is not None:
                tracer.op = op_id
                persisted = set(sc._jsc.getPersistentRDDs().keySet())
                sc.setJobGroup(op_id + "|build", name)
            t_a = time.perf_counter()
            df = None
            try:
                if name == FEED:
                    with _span(tracer, "op:" + name), _span(tracer, "feed"):
                        figures, problems = run_feed(
                            spark, args.sf_dir, args.seed, expected[name]
                        )
                    rec["latency"] = figures.pop("latency")
                    feed = feed or figures
                else:
                    with _span(tracer, "op:" + name):
                        with _span(tracer, "build"):
                            df = QUERIES[name](spark, args.sf_dir)
                        t_b = time.perf_counter()
                        if tracer is not None:
                            sc.setJobGroup(op_id + "|exec", name)
                        with _span(tracer, "exec"):
                            df.write.mode("overwrite").format("noop").save()
                        t_c = time.perf_counter()
                    rec.update(latency=t_c - t_a, build=t_b - t_a)
                    if tracer is not None:
                        sc.setJobGroup("perfbench|check", "check")
                        rec.update(_plan_phases(df))
                    problems = []
                    if name not in checked:
                        t_d = time.perf_counter()
                        problems = compare(df, expected[name])
                        rec["check"] = time.perf_counter() - t_d
                checked.add(name)
                if problems:
                    rec["ok"] = False
                    rec["error"] = "; ".join(problems)[:500]
            except Exception as exc:  # the op counts as failed; keep going
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                rec.setdefault("latency", time.perf_counter() - t_a)
            if tracer is not None:
                sc.setJobGroup("perfbench|release", "release")
            if df is not None:
                release_caches(df)
            spark.catalog.clearCache()
            if tracer is not None:
                rec["persisted_after_release"] = len(
                    set(sc._jsc.getPersistentRDDs().keySet()) - persisted
                )
                tracer.op = None
            if not rec["ok"]:
                print(f"[perfbench] {name} FAILED: {rec['error']}", file=sys.stderr)
            ops.append(rec)
        if time.perf_counter() - start >= args.seconds:
            break

    result["ops"] = ops
    result["feed"] = feed
    result["leaked_dirs"] = sorted(_fw_dirs(scratch) - scratch_before)
    if args.trace:
        import bench

        result["host.jvm_control_s"] = bench.external_control_time(spark)
        result["host.py_control_s"] = bench.python_control_time(spark)
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(listener)
        result["stream_progress"] = list(listener.progress)
        result["spans"] = [vars(s) for s in tracer.spans]
        result["written"] = tracer.written
    spark.stop()
    _write(args.out, result)


def _span(tracer, name: str):
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


def _plan_phases(df) -> dict:
    """Catalyst phase times of the op's own QueryExecution, forced to the
    executed plan after the timed write."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"plan.{phase}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _fw_dirs(base: str) -> "set[str]":
    return {n for n in os.listdir(base) if n.startswith("fw_")}


def _write(path: str, result: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, path)


if __name__ == "__main__":
    main()
