"""The repository's benchmark: one seeded workload per run, checked against
the DuckDB oracle, with end-to-end metrics (``--trace 0``) or per-layer
metrics from a separately traced run (``--trace 1``).

    python3 perfbench/run.py --workload analytics --seed 7 --seconds 10 --trace 0

Run it from the repository root. Everything it makes goes under
``.perfbench/`` there:

1. inputs: ``tools/gen_testdata.generate`` at sf0.1 for the seed, cached by
   (sf, seed), schemas checked against the in-repo ``testdata_sf3`` fixture;
2. oracle results: ``perfbench/oracle.py`` in its own process, before any
   Spark session, cached by (sf, seed, op);
3. the measured process: a fresh session (``get_spark`` with library
   defaults plus a fixed warm-up), then the workload's op cycle in a
   closed loop (one client, one op at a time) until ``--seconds`` have
   passed, ending on a cycle boundary. Each op is built and materialized to
   the ``noop`` sink inside the timed window; its check against the oracle
   and the release of its cached frames happen outside it.

The peak RSS of the measured process tree (driver Python, JVM, Python
workers) is sampled from ``/proc`` while it runs. The last stdout line is
the result; the line before it is a record with the host fingerprint that
``perfbench/compare.py`` reads.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

SF = 0.1
REF_FIXTURE = "testdata_sf3"
REQUIRED = ("fireworks_spark/session.py", "tools/gen_testdata.py", "bench.py", REF_FIXTURE)
CACHE = os.path.join(ROOT, ".perfbench")


def fingerprint() -> dict:
    """Host and toolchain identity; ``compare.py`` refuses to compare runs
    whose fingerprints differ. The code identity rides along separately."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=60
    ).stderr.splitlines()
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 1024**2),
        "kernel": platform.release(),
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
        **{
            pkg: importlib.metadata.version(pkg)
            for pkg in ("pyspark", "pyarrow", "duckdb", "pandas", "numpy")
        },
    }


def code_identity() -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=ROOT
        )
        commit = out.stdout.strip() or None
    digest = hashlib.sha256()
    for base in ("fireworks_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        digest.update(f.encode() + fh.read())
    return {"commit": commit, "source_sha256": digest.hexdigest()[:16]}


def prepare_inputs(seed: int) -> str:
    """sf0.1 tables for ``seed``, generated once and checked against the
    in-repo fixture's schemas."""
    import pyarrow.parquet as pq

    sf_dir = os.path.join(CACHE, "data", f"sf{SF}-seed{seed}")
    if not os.path.exists(os.path.join(sf_dir, "_COMPLETE")):
        from tools.gen_testdata import generate

        tmp = sf_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):  # it prints progress
            generate(SF, tmp, os.path.join(ROOT, REF_FIXTURE), seed=seed)
        shutil.rmtree(sf_dir, ignore_errors=True)
        os.rename(tmp, sf_dir)
        open(os.path.join(sf_dir, "_COMPLETE"), "w").close()
    ref = os.path.join(ROOT, REF_FIXTURE)
    for f in sorted(os.listdir(ref)):
        if f.endswith(".parquet"):
            got = pq.read_schema(os.path.join(sf_dir, f)).remove_metadata()
            want = pq.read_schema(os.path.join(ref, f)).remove_metadata()
            if not got.equals(want):
                raise SystemExit(f"generated {f} schema {got} != fixture {want}")
    return sf_dir


def _pids() -> "dict[int, int]":
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _tree(root: int, parents: "dict[int, int]") -> "set[int]":
    tree = {root}
    grew = True
    while grew:
        kids = {p for p, pp in parents.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    return tree


def _rss_mb(pids) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 1024**2


def run_process(cmd: "list[str]", env: dict, cwd: str, timeout: float) -> float:
    """Run ``cmd`` and wait until it and every process it started have
    ended. Returns the peak RSS of the whole tree in MB: the highest level
    held over two consecutive 0.1 s samples. A single sample can catch a
    child between the JVM's vfork and its exec, when the child still reports
    the JVM's whole RSS as its own."""
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr)
    seen: "set[int]" = set()
    samples = [0.0]
    deadline = time.monotonic() + timeout
    while proc.poll() is None:
        tree = _tree(proc.pid, _pids())
        seen |= tree
        samples.append(_rss_mb(tree))
        if time.monotonic() > deadline:
            proc.kill()
        time.sleep(0.1)
    peak = max(min(a, b) for a, b in zip(samples, samples[1:] + [0.0]))
    # the JVM and Python workers outlive the driver briefly; wait, then kill
    end = time.monotonic() + 30
    alive = {p for p in seen if os.path.exists(f"/proc/{p}")} - {proc.pid}
    while alive and time.monotonic() < end:
        time.sleep(0.1)
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0:
        raise SystemExit(f"{cmd[2]} {cmd[3]} exited with {proc.returncode}")
    print(f"[perfbench] {' '.join(cmd[3:5])}: {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return peak


def worker_env(run_dir: str) -> dict:
    """Every file a session writes lands under ``run_dir``: scratch
    directories, Spark local dirs, temp files and the JVM's tmpdir. The
    library's own overrides (``FIREWORKS_*``, ``SPARK_DRIVER_MEMORY``) are
    dropped, so the session is built with library defaults."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("FIREWORKS_") and k != "SPARK_DRIVER_MEMORY"
    }
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update(
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        FIREWORKS_SCRATCH_DIR=os.path.join(run_dir, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
    )
    return env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    from perfbench.report import end_to_end, per_layer, print_report

    host = fingerprint()
    sf_dir = prepare_inputs(args.seed)
    oracle_dir = os.path.join(CACHE, "oracle", f"sf{SF}-seed{args.seed}")
    run_dir = os.path.join(CACHE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = worker_env(run_dir)
    ops = list(dict.fromkeys(WORKLOADS[args.workload]))
    if not all(os.path.exists(os.path.join(oracle_dir, f"{op}.pkl")) for op in ops):
        run_process(
            [sys.executable, "-m", "perfbench.oracle", "--sf-dir", sf_dir,
             "--out", oracle_dir, "--ops", ",".join(ops)],
            env, run_dir, timeout=600,
        )
    worker = [
        sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
        "--sf-dir", sf_dir, "--oracle-dir", oracle_dir, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    out = os.path.join(run_dir, "result.json")
    # the whole run must end within 180 s
    timeout = max(10.0, 170.0 - (time.monotonic() - start))
    peak = run_process(worker + ["--out", out], env, run_dir, timeout=timeout)
    with open(out) as fh:
        result = json.load(fh)
    result["peak_rss_mb"] = peak

    if args.trace:
        metrics = per_layer(result, os.path.join(run_dir, "eventlog"))
    else:
        metrics = end_to_end(result)
    ops = result["ops"]
    failed = sum(not o["ok"] for o in ops)
    print_report(args, result, metrics)
    record = {
        "perfbench_record": 1, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "host": host, "code": code_identity(),
        "metrics": {k: v["value"] for k, v in metrics.items()},
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": metrics,
    }))
    # the worker's full result (per-op records, spans, stream progress) is
    # kept beside the caches for inspection
    kept = os.path.join(CACHE, "results")
    os.makedirs(kept, exist_ok=True)
    os.replace(out, os.path.join(
        kept, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
