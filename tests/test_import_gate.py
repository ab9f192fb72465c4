"""Import gate — the fast pre-commit tripwire for refactor breakage.

Round 2 shipped a refactor that deleted a module-level symbol
(EVENTS_RAW_SCHEMA) while a test module still imported it at collection
time and a registered query imported it inside its function body. The
first broke `pytest tests/` wholesale; the second was a runtime crash
invisible until that query ran. Both classes are catchable in seconds
without starting Spark:

  * import every query module and every test module (collection-time
    imports execute);
  * statically resolve every `import`/`from ... import ...` that appears
    INSIDE a registered query's function body — deferred imports never
    execute at module load, so they need this explicit check.

Run this file alone (`pytest tests/test_import_gate.py`) before any
snapshot commit; it needs no SparkSession and finishes in ~2 seconds.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import os
import sys

from iris_pyspark_spark.registry import load_all


def test_all_query_modules_import_and_register():
    reg = load_all()  # imports every module in _QUERY_MODULES
    assert len(reg) >= 200
    for name, q in reg.items():
        assert callable(q.fn), name


def test_all_test_modules_import():
    """Equivalent of pytest collection: every tests/*.py must import.
    A test module that dies at import hides EVERY test in the file."""
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    for fname in sorted(os.listdir(tests_dir)):
        if not fname.endswith(".py") or fname == os.path.basename(__file__):
            continue
        mod_name = f"_import_gate_probe.{fname[:-3]}"
        spec = importlib.util.spec_from_file_location(
            mod_name, os.path.join(tests_dir, fname)
        )
        mod = importlib.util.module_from_spec(spec)
        # Register before exec so dataclass/typing lookups by module work.
        sys.modules[mod_name] = mod
        try:
            spec.loader.exec_module(mod)  # raises on broken import
        finally:
            sys.modules.pop(mod_name, None)


def _function_body_imports(fn) -> list[ast.stmt]:
    """All Import/ImportFrom nodes anywhere inside fn's body."""
    src = inspect.getsource(fn)
    # getsource of a decorated function keeps the decorators; dedent for ast.
    import textwrap

    tree = ast.parse(textwrap.dedent(src))
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
    ]


def test_registered_query_body_imports_resolve():
    """Deferred imports inside query bodies must resolve NOW: the module
    exists and, for `from m import x`, every name x exists on m. This is
    exactly the check that would have caught round 2's deleted
    EVENTS_RAW_SCHEMA before it shipped."""
    reg = load_all()
    problems: list[str] = []
    for qname, q in reg.items():
        pkg = sys.modules[q.fn.__module__].__package__
        for node in _function_body_imports(q.fn):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    try:
                        importlib.import_module(alias.name)
                    except ImportError as e:
                        problems.append(f"{qname}: import {alias.name} → {e}")
            else:  # ImportFrom, possibly relative
                target = "." * node.level + (node.module or "")
                try:
                    resolved = importlib.util.resolve_name(target, pkg)
                    mod = importlib.import_module(resolved)
                except ImportError as e:
                    problems.append(f"{qname}: from {target} → {e}")
                    continue
                for alias in node.names:
                    if alias.name != "*" and not hasattr(mod, alias.name):
                        problems.append(
                            f"{qname}: from {resolved} import {alias.name} "
                            "→ name does not exist"
                        )
    assert not problems, "\n".join(problems)


#: (banned pattern, the top-level subpackages or modules allowed to use
#: it; empty for nowhere). Each primitive owns a job so that no module
#: hand-rolls it:
#:   * sources.materialize owns the scratch-artifact check → build →
#:     record → mark sequence (a hand-rolled build would skip
#:     ARTIFACT_BUILD_SECONDS or the completeness rules);
#:   * streaming.drain owns starting and awaiting every streaming query,
#:     with its state-partition policy and restored confs;
#:   * streaming.drain owns each query's checkpoint location and the
#:     checkpoint manager chosen for it, so no query picks either one
#:     behind the drain's back;
#:   * streaming.drain sizes each drain's state, so no engine code
#:     passes a partition count of its own, and only the session policy
#:     and the drain write the shuffle width;
#:   * session.configure applies the runtime confs once per session, and
#:     only the registry's query door calls it;
#:   * session.scoped_confs is the one conf writer: every override is
#:     restored when its block ends.
_OWNED_SEAMS = (
    (r"\b(artifact_is_current|mark_artifact|record_build_seconds)\b", ("sources",)),
    (r"availableNow|awaitTermination", ("streaming",)),
    (r"checkpointLocation|checkpointFileManagerClass", ("streaming",)),
    (r"\bshuffle_partitions=", ()),
    (r"spark\.sql\.shuffle\.partitions", ("session", "streaming")),
    (r"\bconfigure\(", ("session", "registry")),
    (r"conf\.(set|unset)\(", ("session",)),
)


def test_engine_seams_go_through_their_primitive():
    """No engine module outside a seam's owners matches its banned
    pattern (see _OWNED_SEAMS). A file's owner name is its top-level
    subpackage, or for a top-level module its name without `.py`."""
    import re

    pkg = os.path.dirname(inspect.getfile(load_all))
    seams = [(re.compile(pat), owners) for pat, owners in _OWNED_SEAMS]
    hits = []
    for dirpath, _dirnames, filenames in os.walk(pkg):
        for fname in filenames:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            top = os.path.relpath(path, pkg).split(os.sep)[0].removesuffix(".py")
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    for banned, owners in seams:
                        if top not in owners and banned.search(line):
                            hits.append(
                                f"{os.path.relpath(path, pkg)}:{lineno}: {line.strip()}"
                            )
    assert not hits, "\n".join(hits)


def test_one_session_builder():
    """`session.get_spark` is the one session builder for bench.py, the
    tools and the engine; a private builder drifts from its confs. The
    exception is tools/preflight.py, whose vanilla session is the point:
    it replays the driver, which does not use our factory."""
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allowed = {"iris_pyspark_spark/session.py", "tools/preflight.py"}
    paths = [os.path.join(root, "bench.py"), *glob.glob(os.path.join(root, "tools", "*.py"))]
    paths += glob.glob(os.path.join(root, "iris_pyspark_spark", "**", "*.py"), recursive=True)
    hits = []
    for path in paths:
        rel = os.path.relpath(path, root)
        if rel in allowed:
            continue
        with open(path) as f:
            hits += [f"{rel}:{n}" for n, line in enumerate(f, 1) if "SparkSession.builder" in line]
    assert not hits, hits


def test_readme_coverage_table_in_sync():
    """The README operator-coverage table must match the registry at
    HEAD: registering a query without re-running
    tools/gen_readme_coverage.py fails here, which is what keeps the
    published counts honest."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from gen_readme_coverage import build_table
    finally:
        sys.path.pop(0)

    table, n_total, n_oracled = build_table()
    text = open(os.path.join(root, "README.md")).read()
    assert table in text, "README table differs from registry — run tools/gen_readme_coverage.py"
    counts = f"{n_total} registered queries, {n_oracled} with full DuckDB value-hash oracles"
    assert counts in text, f"README counts stale — expected '{counts}'"


def test_readme_proof_ledger_in_sync():
    """The README driver-proof ledger must match the CORRECTNESS_r*.json
    files at HEAD — a new round's record landing without a README regen
    fails here, keeping rotation progress auditable."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from gen_readme_coverage import build_ledger
    finally:
        sys.path.pop(0)

    ledger = build_ledger()
    text = open(os.path.join(root, "README.md")).read()
    assert ledger in text, (
        "README proof ledger differs from CORRECTNESS_r*.json — run "
        "tools/gen_readme_coverage.py"
    )
