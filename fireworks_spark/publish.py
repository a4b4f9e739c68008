"""The one on-disk contract for every custom file format: part files,
their listing, and their publication.

Every connector in ``sources``, ``edge_formats`` and ``io_formats`` keeps
only its parse, serialize, validation and schema; the plumbing is here.

**Part files.** A writer task names its files
``part-<5-digit partition id>-<32-hex attempt token>.<ext>``; a writer
that emits several files per partition (``write_pickle``) appends
``-<4+ digit sequence>`` before the extension. Per-record formats
(``write_pdb_seqres``, ``write_nib``) name each file after its record
instead. Every file is written under a dot-hidden, per-attempt scratch name
and renamed visible only when the task's serializer returns, so a task
killed mid-write never leaves a truncated visible file
(:func:`stage_parts`). Under :func:`object_store_semantics` the manifest
protocol writes parts straight to their final names instead (PUT
visibility makes the scratch rename unnecessary, and rename may not
exist).

**Attempt dedup.** Each task reports its partition id, attempt token and
file count; Spark returns exactly one successful attempt per partition.
After the job the driver deletes every part of any other attempt (a
failed or zombie attempt that still renamed files) and every stranded
scratch file. Readers apply the same rule again (:func:`list_parts`): per
partition id, only the files of one attempt (the lexicographically first
token) are read, because a zombie can land a file after the driver's
scan. Names outside the scheme are user files and are always read.

**Publication** (:func:`staged_publish`). Output is staged in a fresh
directory and becomes visible in one step, so a rerun REPLACES the
previous output and a failed job leaves it intact:

- ``commit_protocol="rename"`` (default): stage in ``<path>.tmp-<id>``,
  then swap it in with two renames (``path`` -> ``<path>.old-<id>``,
  tmp -> ``path``). Atomic against job failure, not against a hard crash
  between the two renames (the old data survives in the ``.old-*``
  sibling) and not between concurrent writers (serialize them
  externally). Stale siblings are swept by the next write.
- ``commit_protocol="manifest"``: the rename-free commit Iceberg/Delta
  use, for object stores (S3/GCS/ABFS), whose "rename" is copy+delete:

  1. the writer materializes a new GENERATION of immutable data files
     under ``<path>/gen-<n>-<uuid>/`` — unique names, never overwritten;
  2. it then publishes the generation with ONE object write: a
     ``_manifest-<n>-<uuid>.json`` in ``<path>`` listing exactly the
     files of that generation (single-object PUT is atomic on every
     object store; on a local filesystem the manifest is staged
     dot-hidden and renamed within the same directory, the one rename
     POSIX guarantees atomic);
  3. readers list the manifests, pick the highest generation that
     PARSES, and trust only the files it names. A writer that died after
     step 1 left data files but no manifest — invisible. A torn local
     manifest write fails JSON parsing — skipped, the previous
     generation serves.

  Old generations are swept on the next successful commit (``keep``
  generations stay). Concurrent writers must still be serialized
  externally: generation numbers are assigned by list-then-put, which
  two simultaneous writers could race (last manifest wins; no data is
  corrupted — the loser's generation becomes unreferenced and is swept).

**Filesystem contract.** Tasks write into a directory the driver
created, so ``path`` must be on a filesystem shared by the driver and
every executor (always true on a local master; NFS/fuse on a cluster, or
an object-store mount with the manifest protocol). A remote executor
writing into its own local disk is caught after the job: the files
visible to the driver must equal the files the committed attempts
reported, else the write raises RuntimeError.

**Reading.** :func:`scan_parts` runs one task per listed file; the
driver touches only the listing (and, for some formats, a schema probe
of the first file).

Reference parity note: the reference's TablePipe persists via SQLAlchemy
transactions (database.py); this module is the file-backed face of the
same durability contract.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import re
import shutil
import time
import uuid


_MANIFEST_GLOB = "_manifest-*.json"
_URI_RE = re.compile(r"^([a-z][a-z0-9+.-]*)://")

# Schemes with object-store PUT-visibility semantics (no atomic rename).
# Deliberately excludes file:// and hdfs://, which both provide atomic
# rename and must keep the scratch+rename torn-part guard.
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "gcs", "abfs", "abfss",
     "wasb", "wasbs", "oss", "cos", "swift", "r2"}
)


def object_store_semantics(path: "str | None" = None) -> bool:
    """True when ``path`` should be treated with PUT-visibility semantics:
    a file becomes visible only once fully written (the object-store PUT
    contract) and rename is NOT assumed atomic (or available at all).

    Enabled by a URI scheme on the path (``s3://``, ``gs://``, ``abfs://``,
    ... — anything ``scheme://``) or globally by ``FIREWORKS_OBJECT_STORE=1``
    in the environment (the switch for an object-store *mount*, e.g.
    s3fs/gcsfuse, where the path looks POSIX but rename is copy+delete).

    Under these semantics every writer in this module and its callers goes
    rename-free: manifests are committed with one direct write (the PUT is
    the atomic commit point) and data parts are written straight to their
    final names (a killed writer's partial PUT never becomes visible, so
    the POSIX truncated-file hazard the scratch+rename dance guards against
    does not exist). On POSIX this mode is still safe — a torn direct
    manifest write is unparseable JSON, which readers skip — it just loses
    the hard no-partial-file guarantee for data parts, which only object
    stores provide natively.
    """
    if path:
        m = _URI_RE.match(path)
        # Allowlist of schemes that actually carry PUT semantics. file://
        # has full POSIX atomic rename and hdfs:// has atomic rename too —
        # routing either through the direct-write branch would silently
        # drop the torn-part scratch+rename guard for filesystems that
        # need it (and this module opens paths with POSIX APIs anyway, so
        # only file:// could even have worked). An EXPLICIT scheme decides
        # either way: the env switch exists for scheme-LESS paths on
        # object-store mounts (s3fs/gcsfuse) and must not drag file:///
        # hdfs:// into the rename-free branch when it is set.
        if m:
            return m.group(1) in _OBJECT_STORE_SCHEMES
    return os.environ.get("FIREWORKS_OBJECT_STORE", "").lower() in (
        "1",
        "true",
        "yes",
    )


def _manifests(path: str) -> list[tuple[int, str]]:
    """(generation, manifest-path) pairs, unsorted, parse-safe (a manifest
    whose name doesn't parse is ignored)."""
    out = []
    for m in glob.glob(os.path.join(path, _MANIFEST_GLOB)):
        try:
            gen = int(os.path.basename(m).split("-")[1])
        except (IndexError, ValueError):
            continue
        out.append((gen, m))
    return out


def new_generation(path: str) -> tuple[int, str]:
    """Allocate the next generation: returns (gen, data_dir). The data dir
    is created; the generation stays INVISIBLE to readers until
    :func:`commit_generation` publishes its manifest."""
    os.makedirs(path, exist_ok=True)
    gens = [g for g, _ in _manifests(path)]
    gen = (max(gens) + 1) if gens else 1
    data_dir = os.path.join(path, f"gen-{gen:08d}-{uuid.uuid4().hex[:8]}")
    os.makedirs(data_dir)
    return gen, data_dir


def commit_generation(
    path: str, gen: int, data_dir: str, files: list[str], keep: int = 1
) -> None:
    """Publish generation ``gen``: one manifest write naming ``files``
    (paths relative to ``path``), then sweep generations older than the
    newest ``keep``. The manifest write is the commit point."""
    rel = [os.path.relpath(f, path) for f in files]
    doc = {"generation": gen, "data_dir": os.path.relpath(data_dir, path),
           "files": sorted(rel)}
    name = f"_manifest-{gen:08d}-{uuid.uuid4().hex[:8]}.json"
    if object_store_semantics(path):
        # RENAME-FREE commit: one direct write of the manifest object. On
        # an object store the PUT itself is the atomic visibility point (no
        # partial object is ever listable); on POSIX a writer killed
        # mid-write leaves a torn manifest that fails JSON parsing, which
        # current_files() skips — the previous generation keeps serving.
        with open(os.path.join(path, name), "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
    else:
        staged = os.path.join(path, "." + name)
        with open(staged, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # same-directory rename of a single file: atomic on POSIX; this is
        # the ONLY rename in the protocol and exists purely to hide the
        # torn-write window on local filesystems — object-store paths take
        # the direct-PUT branch above and never rename.
        os.rename(staged, os.path.join(path, name))
    sweep_generations(path, keep=keep)


def current_files(path: str) -> list[str]:
    """Absolute paths of the newest committed generation's files; [] when
    no generation has ever committed. Torn/unparseable manifests are
    skipped (a crashed local writer's partial manifest must not shadow the
    previous good generation)."""
    best: dict | None = None
    for gen, m in sorted(_manifests(path)):
        try:
            with open(m) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        if best is None or doc.get("generation", -1) >= best["generation"]:
            best = doc
    if best is None:
        return []
    return [os.path.join(path, f) for f in best["files"]]


def has_manifest(path: str) -> bool:
    return bool(os.path.isdir(path) and _manifests(path))


def sweep_generations(path: str, keep: int = 1) -> None:
    """Remove data dirs and manifests of all but the newest ``keep``
    committed generations, plus any UNCOMMITTED gen-* dir older than the
    newest committed one (a crashed writer's orphan), plus any aged
    dot-hidden staged manifest the committed history has caught up to (a
    writer that died between staging and renaming). The newest
    generation is never touched."""
    ms = sorted(_manifests(path))
    if not ms:
        return
    # Conservative: if the newest manifest does not parse (it always does
    # when called from commit_generation, which just wrote it; an external
    # caller might race a writer), sweep nothing — deleting data dirs
    # while unable to prove which one is live is the one unforgivable move.
    try:
        with open(ms[-1][1]) as fh:
            json.load(fh)
    except (OSError, ValueError):
        return
    live = ms[-keep:]
    live_gens = {g for g, _ in live}
    live_dirs = set()
    for _, m in live:
        try:
            with open(m) as fh:
                live_dirs.add(json.load(fh).get("data_dir"))
        except (OSError, ValueError):
            pass
    newest = ms[-1][0]
    for gen, m in ms:
        if gen not in live_gens:
            os.remove(m)
    for d in glob.glob(os.path.join(path, "gen-*")):
        base = os.path.basename(d)
        try:
            gen = int(base.split("-")[1])
        except (IndexError, ValueError):
            continue
        if base not in live_dirs and gen <= newest:
            shutil.rmtree(d, ignore_errors=True)
    # A writer that died BETWEEN staging and renaming its manifest leaks
    # the dot-hidden ._manifest-*.json forever (readers never see it, but
    # nothing else removes it). Sweep staged manifests for generations the
    # committed history has caught up to — with an age grace so a
    # concurrent writer's milliseconds-old staging (stage -> rename is one
    # commit_generation call) is never yanked mid-commit.
    # Two independent safety rails on the staged sweep: (a) only staged
    # manifests whose generation is STRICTLY below the newest committed
    # one — a writer that stalls between stage and rename still owns the
    # newest+1 (or a contended newest) generation, and yanking its staging
    # would make its commit_generation rename fail ENOENT; a staged
    # manifest for an already-superseded generation can never commit
    # usefully. (b) a wide mtime grace (10 min, not seconds) so GC pauses,
    # NFS latency or server-side mtime skew on a *current*-generation
    # writer can't be mistaken for death either.
    for s in glob.glob(os.path.join(path, "._manifest-*.json")):
        try:
            gen = int(os.path.basename(s).split("-")[1])
            aged = time.time() - os.path.getmtime(s) > 600
        except (IndexError, ValueError, OSError):
            continue
        if gen < newest and aged:
            try:
                os.remove(s)
            except OSError:
                pass


# --------------------------------------------------------------------------
# part files: one writer driver, one staged publish, one listing, one reader
# --------------------------------------------------------------------------

_PART_RE = re.compile(r"part-(\d{5})-([0-9a-f]{32})(?:-\d{4,})?\.[^.]+")


def _visible(d: str) -> list[str]:
    return sorted(
        os.path.join(d, n)
        for n in os.listdir(d)
        if not n.startswith((".", "_")) and os.path.isfile(os.path.join(d, n))
    )


def staged_publish(
    path: str, fill, commit_protocol: str = "rename", keep: int = 1
) -> None:
    """Stage a directory, let ``fill(stage)`` write the new output into
    it, then publish it with ``commit_protocol`` (module docstring). A
    failure in ``fill`` removes the stage and leaves ``path`` as it was."""
    if commit_protocol == "manifest":
        gen, stage = new_generation(path)
    elif commit_protocol == "rename":
        for stale in glob.glob(f"{path}.tmp-*") + glob.glob(f"{path}.old-*"):
            shutil.rmtree(stale, ignore_errors=True)
        stage = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(stage)
    else:
        raise ValueError(
            f"unknown commit_protocol {commit_protocol!r} "
            "(expected 'rename' or 'manifest')"
        )
    try:
        fill(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if commit_protocol == "manifest":
        commit_generation(path, gen, stage, _visible(stage), keep=keep)
        return
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def run_attempt(stage, ext, serialize, direct, pid, attempt, batches) -> int:
    """One task attempt's share of :func:`stage_parts` (executor side):
    ``serialize(pid, batches, new_part)`` receives only non-empty batches
    and is not called for an empty partition. ``new_part()`` returns the
    path to write the attempt's next part to; ``new_part(name)`` names a
    per-record file instead. Files become visible only after ``serialize``
    returns. Returns the number of files made visible."""
    made: list = []

    def new_part(name: "str | None" = None) -> str:
        if name is None:
            seq = f"-{len(made):04d}" if made else ""
            name = f"part-{pid:05d}-{attempt}{seq}.{ext}"
        final = os.path.join(stage, name)
        # unique per file, so two records naming one file still land as
        # one file and fail the count check; the extension stays last, as
        # some codecs (numpy.savez) append one otherwise
        hidden = f".{attempt}-{len(made)}-{name}"
        scratch = final if direct else os.path.join(stage, hidden)
        made.append((scratch, final))
        return scratch

    batches = (b for b in batches if len(b))
    first = next(batches, None)
    if first is not None:
        serialize(pid, itertools.chain([first], batches), new_part)
    for scratch, final in made:
        if scratch != final:
            os.rename(scratch, final)
    return len(made)


def stage_parts(df, stage: str, ext: str, serialize, direct: bool = False):
    """Write ``df`` into ``stage`` as part files, one Spark action. Each
    task runs :func:`run_attempt`; afterwards every file of an attempt
    Spark did not commit, and every stranded scratch file, is deleted,
    and the visible files must equal the committed attempts' count (the
    shared-filesystem check; for per-record files it also catches two
    records writing one name). ``direct`` is decided on the driver and
    shipped in the closure: executors must not re-derive it."""

    def task(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        attempt = uuid.uuid4().hex
        n = run_attempt(stage, ext, serialize, direct, pid, attempt, batches)
        yield pd.DataFrame({"pid": [pid], "attempt": [attempt], "files": [n]})

    schema = "pid int, attempt string, files long"
    done = df.mapInPandas(task, schema).collect()
    committed = {(f"{r.pid:05d}", r.attempt) for r in done}
    for name in os.listdir(stage):
        m = _PART_RE.fullmatch(name)
        if name.startswith(".") or (m and m.groups() not in committed):
            # a zombie may rename its scratch away first
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(stage, name))
    landed, reported = len(_visible(stage)), sum(r.files for r in done)
    if landed != reported:
        raise RuntimeError(
            f"write to {stage}: tasks reported {reported} files but "
            f"{landed} landed — two records share one file name, or the "
            "driver and executors do not share this filesystem (see "
            "fireworks_spark.publish)"
        )


def publish_parts(df, path: str, ext: str, serialize) -> None:
    """:func:`stage_parts` under the default rename publication."""
    staged_publish(path, lambda stage: stage_parts(df, stage, ext, serialize))


def list_parts(path: str, exts: "tuple[str, ...] | None" = None) -> list[str]:
    """The files a reader of ``path`` reads: a file (or a ``scheme://``
    URI) as itself, a glob's sorted matches, or a directory's visible
    files — the newest committed generation's when it holds a manifest —
    ending in one of ``exts`` (all when None), with one attempt kept per
    partition id (module docstring). Raises FileNotFoundError when
    nothing matches."""
    if os.path.isdir(path):
        files = current_files(path) if has_manifest(path) else _visible(path)
        if exts:
            files = [f for f in files if f.endswith(exts)]
        token: dict = {}
        kept = []
        for f in sorted(files):
            m = _PART_RE.fullmatch(os.path.basename(f))
            if m and token.setdefault(m.group(1), m.group(2)) != m.group(2):
                continue
            kept.append(f)
        files = kept
    elif os.path.isfile(path) or _URI_RE.match(path):
        files = [path]
    else:
        files = sorted(glob.glob(path))
    if not files:
        kind = "/".join(exts) + " " if exts else ""
        raise FileNotFoundError(f"no {kind}files under {path}")
    return files


def scan_parts(spark, files: list[str], parse, schema):
    """One task per file: ``parse(file)`` yields pandas frames of
    ``schema``."""

    def task(batches):
        for b in batches:
            for f in b["f"]:
                yield from parse(f)

    paths = spark.createDataFrame([(f,) for f in files], "f string")
    return paths.repartition(len(files)).mapInPandas(task, schema)
