"""Source/sink helpers (SURVEY.md §2.1).

Round-trip design: every non-parquet format query materializes the
driver's parquet data into the target format under a scratch dir, reads
it back through the format's own scan path, and runs an aggregation —
so CSV/JSON scans and all sinks are still oracle-checkable against the
original table (the round trip must be lossless for the checked columns).

Scale notes: writes go through `df.write` (distributed, one file per
partition — no driver collect); reads are plain `spark.read` scans that
keep Catalyst pushdown/pruning. A partitioned sink (`partitionBy`)
produces the directory layout that enables static partition pruning on
read-back, which the `s_partitioned_sink_pruned` query then exercises.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time
import uuid as _uuid
from collections.abc import Callable, Sequence

SCRATCH_ROOT = os.environ.get("IRIS_PYSPARK_SCRATCH", "/tmp/iris_pyspark_scratch")

#: Process nonce folded into every artifact fingerprint (round 11) AND
#: into the scratch path itself (round 12). Scratch artifacts are
#: *within-invocation* materializations of a subplan consumed several
#: times (oriented edge lists, MinHash signatures, BM25 postings);
#: serving one built by a PREVIOUS process would make a bench/oracle
#: invocation start from precomputed intermediates instead of the
#: parquet inputs. The nonce makes any artifact from another process
#: read as stale, so each process builds its artifacts exactly once
#: (first use) and reuses them only within itself. Round 12 (ADVICE
#: r11): the token is uuid4-based, not bare getpid() — Linux pid
#: recycling could let a later invocation match an earlier builder's
#: fingerprint and silently serve precomputed intermediates — and the
#: scratch path is scoped by the token so two CONCURRENT invocations
#: (bench + oracle) never share a write target (mode('overwrite')
#: deletes parquet files another process may be lazily reading).
_PROC_TOKEN = f"p{os.getpid()}-{_uuid.uuid4().hex[:10]}"
_PROCESS_NONCE = f"proc={_PROC_TOKEN}"
_TOKEN_RE = re.compile(r"p(\d+)-[0-9a-f]+")

#: Wall-clock seconds spent BUILDING scratch artifacts this process,
#: keyed by artifact name (additive across rebuilds). bench.py reports
#: this as an additive JSON key so the warm min-of-N per-query numbers
#: can be read alongside the one-time build cost a cold consumer pays
#: (VERDICT r11 task 2). Every build goes through `materialize`, so
#: every build is recorded here.
ARTIFACT_BUILD_SECONDS: dict[str, float] = {}


def scratch_dir(sf_dir: str, name: str) -> str:
    """Per-(scale-factor, process, query) scratch path. The process
    token segment means concurrent invocations write disjoint trees;
    the trees of exited processes are removed by gc_scratch."""
    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(SCRATCH_ROOT, sf, _PROC_TOKEN, name)


def table_fingerprint(sf_dir: str, *tables: str, params: str = "") -> str:
    """Fingerprint of artifact INPUTS: derivation params + the process
    nonce (see _PROCESS_NONCE) + the absolute path, size, and mtime of
    every source parquet file. Metadata-only — no Spark job, no data
    read. Changes whenever the driver regenerates the scale-factor
    data, a differently-located sf_dir shares a basename with a cached
    one, the derivation parameters change, or another process built the
    artifact — the stale-reuse failure modes of a bare path check plus
    the cross-invocation-precomputation one."""
    parts = [_PROCESS_NONCE, params]
    for t in tables:
        p = os.path.abspath(os.path.join(sf_dir, f"{t}.parquet"))
        st = os.stat(p)
        parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _fingerprint_file(path: str) -> str:
    return path.rstrip("/") + ".fingerprint"


def artifact_is_current(path: str, fingerprint: str) -> bool:
    """True iff `path` holds a COMPLETE artifact built from inputs
    matching `fingerprint` (sidecar file — a stale artifact must never
    be served). Completeness marker: directory artifacts (Spark sink
    output) need _SUCCESS — an interrupted write must never be trusted;
    a plain-file artifact IS its own marker provided it was published
    with an atomic os.replace (the house rule for file artifacts)."""
    if os.path.isfile(path):
        pass  # atomic-rename publish: existence == completeness
    elif not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    fp_file = _fingerprint_file(path)
    if not os.path.exists(fp_file):
        return False
    with open(fp_file) as f:
        return f.read() == fingerprint


def mark_artifact(path: str, fingerprint: str) -> None:
    """Record the input fingerprint next to a freshly written artifact.
    Written AFTER the parquet commit: a crash between the two leaves a
    _SUCCESS-complete artifact with no/old sidecar, which
    artifact_is_current treats as stale → rebuild, never wrong reuse."""
    with open(_fingerprint_file(path), "w") as f:
        f.write(fingerprint)


def materialize(
    sf_dir: str,
    name: str,
    build: Callable[[str], object],
    *,
    tables: Sequence[str] = (),
    params: str = "",
) -> str:
    """Path of the scratch artifact `name` (scratch_dir(sf_dir, name)),
    built by `build(path)` unless a complete artifact from the same
    inputs (`tables` under sf_dir, `params`, this process) is already
    there. A build is timed into ARTIFACT_BUILD_SECONDS[name] and then
    marked with its fingerprint.

    `build` must publish a COMPLETE artifact at `path` (see
    artifact_is_current): a Spark sink (which writes _SUCCESS last) for
    a directory, or an atomic os.replace for a single file. The sidecar
    sits beside `path`, never inside it, so a directory artifact read
    by a file source holds only data plus `_`-prefixed markers."""
    path = scratch_dir(sf_dir, name)
    fingerprint = table_fingerprint(sf_dir, *tables, params=params)
    if not artifact_is_current(path, fingerprint):
        # Drop an older sidecar first: a build that fails part-way must
        # read as stale, never as the previous inputs' artifact.
        with contextlib.suppress(FileNotFoundError):
            os.remove(_fingerprint_file(path))
        t0 = time.perf_counter()
        build(path)
        ARTIFACT_BUILD_SECONDS[name] = round(
            ARTIFACT_BUILD_SECONDS.get(name, 0.0) + time.perf_counter() - t0, 4
        )
        mark_artifact(path, fingerprint)
    return path


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # the pid exists but belongs to another user
    return True


def gc_scratch(root: str | None = None) -> list[str]:
    """Delete the scratch trees of processes that are no longer running.

    Every scratch path is `<root>/<sf>/<token>/...` with token
    `p<pid>-<hex>` (see _PROC_TOKEN), and every fingerprint carries the
    token, so no process can ever reuse another's artifacts: a tree is
    garbage exactly when its owner has exited. A tree whose owner pid is
    alive is kept — it may be a concurrent run mid-read — and so is this
    process's own tree. Entries that are not token directories (loose
    files at the root or under <sf>) are never touched. A recycled pid
    can only keep a dead tree until the next sweep, never delete a live
    one.

    Returns the list of deleted paths (for the session-start log/test).
    """
    root = root or SCRATCH_ROOT
    if not os.path.isdir(root):
        return []
    deleted: list[str] = []
    for sf_entry in os.scandir(root):
        if not sf_entry.is_dir(follow_symlinks=False):
            continue
        for entry in os.scandir(sf_entry.path):
            owner = _TOKEN_RE.fullmatch(entry.name)
            if (
                owner is None
                or entry.name == _PROC_TOKEN
                or not entry.is_dir(follow_symlinks=False)
                or _pid_alive(int(owner[1]))
            ):
                continue
            shutil.rmtree(entry.path, ignore_errors=True)
            deleted.append(entry.path)
    return deleted
