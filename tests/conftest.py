from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iris_pyspark_spark.session import get_spark  # noqa: E402
from iris_pyspark_spark.testing import make_oracle_con  # noqa: E402

#: t2 correctness runs at sf0.01, same as the driver.
SF_DIR = os.environ.get("IRIS_PYSPARK_TEST_SF_DIR", "/root/testdata/sf0.01")

#: Smoke-tier correctness representatives: one cheap, driver-proven query
#: per SURVEY §2 row (a query may represent several rows). `pytest -m
#: smoke` runs these plus the import/registry/plan gates in well under
#: two minutes — the per-batch feedback loop; the full suite stays the
#: pre-snapshot gate.
SMOKE_QUERIES = frozenset({
    "s_recursive_glob_scan",        # S1 S5
    "s_orc_scan_roundtrip",         # S2 S4
    "s_json_predicate_scan",        # S3 P1 P2 P3
    "st_python_stream_source",      # S6 T5
    "j_semi_anti_having",           # P4 J4 J5 A6
    "w_forward_fill",               # P5 W3
    "pipeline_pretrain_corpus",     # P6
    "pipeline_data_curation",       # P7 N1
    "j_q17_small_qty_revenue",      # J1 J2 A1 A2
    "n_vocab_coverage",             # J3
    "sql_q5_local_supplier_volume", # J6
    "j_theta_self_pairs",           # J7 J9 J10
    "u_cogrouped_asof",             # J8
    "e_cumulative_reach",           # A3
    "a_approx_percentile",          # A4 A8 (rows-only)
    "a_grouping_id",                # A5
    "sql_q8_market_share",          # A7
    "a_stats_formulas",             # A8
    "a_bool_listagg",               # A9
    "w_gaps_islands_streaks",       # W1 W2
    "n_tfidf_top_terms",            # W4 N5
    "o_offset_pagination",          # O1 O2
    "o_union_by_name_evolution",    # O3
    "o_except",                     # O4
    "n_pii_redaction",              # F1
    "t_time_weighted_avg",          # F2 T4
    "f_math_funcs",                 # F3
    "f_array_funcs",                # F4
    "f_map_transform",              # F5
    "f_variant_type",               # F6
    "n_fingerprint",                # F7
    "u_scalar_pandas_udf",          # U1
    "u_grouped_map_apply_in_pandas",# U2
    "u_udaf_udtf_compose",          # U3 U4
    "m_decode_metadata",            # U5
    "st_pipeline_ingest",           # T1 T5 T6 T7
    "t_sliding_session_compare",    # T2 T3
    "n_exact_dedup",                # N1
    "n_dedup_clusters",             # N2
    "n_cosine_topk",                # N3
    "n_ivf_knn",                    # N4
    "m_doc_embedding_multimodal",   # N6
    "n_knn_classify",               # N7
})

#: The one registry-wide plan audit is minutes-long — full-suite only.
_SMOKE_EXCLUDED_PLAN_TESTS = {"test_registry_wide_no_accidental_cartesians"}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.fspath.basename
        base = item.function.__name__ if hasattr(item, "function") else ""
        smoke = False
        if fname in ("test_import_gate.py", "test_registry_order.py"):
            smoke = True
        elif fname == "test_plans.py" and base not in _SMOKE_EXCLUDED_PLAN_TESTS:
            smoke = True
        elif base in ("test_oracle_match", "test_rows_only"):
            params = getattr(item, "callspec", None)
            if params is not None and params.params.get("name") in SMOKE_QUERIES:
                smoke = True
        elif base in ("test_entry_smoke", "test_every_query_has_registry_consistency"):
            smoke = True
        if smoke:
            item.add_marker(pytest.mark.smoke)


@pytest.fixture(scope="session")
def spark():
    # Suite wall-clock is ~600 tiny Spark jobs dominated by per-job task
    # scheduling, not data volume: more local threads than 8 just add
    # dispatch overhead for MB-scale partitions. The session runs at the
    # engine's own shuffle width (session.RUNTIME_CONFS), the width every
    # query sees on a driver session, with Spark's default shuffle and
    # RDD compression (static confs, fixed once the JVM is up).
    cpus = os.environ.get("IRIS_PYSPARK_TEST_CPUS", "8")
    s = get_spark(app_name="iris-pyspark-tests", master=f"local[{cpus}]")
    # Whole-stage codegen OFF for the suite: at sf0.01 Janino
    # compilation of ~700 generated stages dominates wall-clock
    # (A/B: 40 scalar queries 20.9s with codegen vs 10.3s without;
    # even the unrolled 64-dim similarity expressions are faster
    # interpreted at this data size). Correctness is identical;
    # the driver's own sweep and the /verify contract drive run
    # vanilla sessions WITH codegen, so the production path stays
    # exercised end-to-end each round.
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    yield s


@pytest.fixture(scope="session")
def jobs_of(spark):
    """`jobs_of(thunk)` -> (thunk's result, Spark jobs it launched on
    this thread). The status tracker is fed by the asynchronous listener
    bus, so the count waits for the bus to drain."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(thunk):
        group = f"jobs_of-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            out = thunk()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def oracle():
    con = make_oracle_con(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def query_result(spark, sf_dir):
    """Session-scoped (DataFrame, pandas) cache per registered query.

    Several test files exercise the same registered queries (oracle
    match, approx-accuracy envelopes, plan-shape gates), and many query
    builders do EAGER work inside fn() — staging scratch artifacts,
    draining AvailableNow streams — so each uncached re-invocation
    repeats real Spark jobs, not just plan construction. One execution
    per query per session is both faster and closer to the driver's
    behavior (which also runs each query exactly once)."""
    from iris_pyspark_spark.registry import load_all

    reg = load_all()
    cache: dict[str, tuple] = {}

    def run(name: str):
        if name not in cache:
            df = reg[name].fn(spark, sf_dir)
            cache[name] = (df, df.toPandas())
        return cache[name]

    return run
