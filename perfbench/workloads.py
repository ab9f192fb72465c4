"""The benchmark's workloads: frozen query lists over the vendored tables.

A list is frozen here so that growing or reordering the engine's registry
never changes what a workload measures. The seed only reorders a list
within each pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # data/sf<sf>
    queries: tuple[str, ...]
    pass_s: float  # sizing estimate of one warm pass on 4 cores

    def passes(self, seconds: float) -> int:
        """Whole passes in `seconds`, at least one. Fixed by the arguments,
        not by how fast this run happens to go: a pass count that varied
        with host speed would move `pass_s` (the first pass runs slower)
        and `peak_rss_mb` (memory sinks accumulate) between runs."""
        return max(1, round(seconds / self.pass_s))

    def sf_dir(self, sf: str | None = None) -> str:
        """The tables at this workload's scale factor, or at `sf`."""
        return os.path.join(DATA_DIR, f"sf{sf or self.sf}")


#: About two non-headline, non-streaming queries from each family prefix.
#: At sf0.01 fixed per-query overhead dominates: Py4J DataFrame
#: construction, eager collects inside query functions, planning, and job
#: and stage launch.
BREADTH = (
    "sql_exists_not_exists",
    "j_inner_equi", "j_asof_sink_rates",
    "s_csv_scan_roundtrip", "s_benford_qc",
    "p_case_when",
    "a_rollup", "a_mcnemar_test",
    "w_rank_dense_ntile",
    "o_intersect", "o_offset_pagination",
    "f_string_funcs", "f_json_funcs",
    "u_scalar_pandas_udf", "u_grouped_map_apply_in_pandas",
    "t_sliding_window",
    "e_bounce_rate",
    "n_token_count", "n_bpe_pair_counts",
    "m_struct_columns",
    "ml_linreg_normal_eq_check",
    "g_degree_distribution",
)

#: Structured Streaming queries, each drained to completion (AvailableNow)
#: inside its query function: state-store load and commit, checkpoint and
#: WAL writes, the memory sink, and (st_stateful_rocksdb) Python state
#: workers over the RocksDB store.
STREAM = (
    "st_tumbling_window_stream",
    "st_session_window_stream",
    "st_dedup_within_watermark",
    "st_stream_static_join",
    "st_complete_mode_agg",
    "st_checkpoint_resume",
    "st_stateful_rocksdb",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("breadth-sf0.01", "0.01", BREADTH, pass_s=9.5),
        Workload("stream-sf0.01", "0.01", STREAM, pass_s=12.0),
    )
}
