"""Operator edge cases: nulls, empties, and degenerate sizes — the
inputs a 100 TB pipeline hits constantly. Small synthetic frames, no
oracle (behavior contracts, not value parity)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from iris_pyspark_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    shingle_rows,
)
from iris_pyspark_spark.operators.sessionize import sessionize
from iris_pyspark_spark.operators.similarity import cosine_topk_blockwise


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_short_and_empty_text(spark):
    df = _docs(spark, [(1, "only two"), (2, "one"), (3, "")])
    out = {r.doc_id: r["__sh"] for r in shingle_rows(df, "doc_id", "text", 3).collect()}
    # Shorter-than-k docs yield their single all-tokens shingle;
    # empty text yields one empty shingle (split('') -> ['']).
    assert out == {1: "only two", 2: "one", 3: ""}


def test_shingles_null_text_drops_row(spark):
    df = _docs(spark, [(1, "a b c d"), (2, None)])
    ids = {r.doc_id for r in shingle_rows(df, "doc_id", "text", 3).collect()}
    assert ids == {1}  # null text has no tokens; doc absent from signatures


def test_minhash_signature_width_and_determinism(spark):
    df = _docs(spark, [(1, "w x y z"), (2, "w x y z")])
    sigs = {r.doc_id: r.sig for r in minhash_signatures(df, "doc_id", "text", 2, 8).collect()}
    assert len(sigs[1]) == 8
    assert sigs[1] == sigs[2]  # identical text -> identical signature


def test_exact_dedup_null_and_case(spark):
    df = _docs(
        spark,
        [(1, "Hello"), (2, "  hello "), (3, None), (4, None), (5, "other")],
    )
    out = {r.doc_id: r.n_copies for r in exact_dedup(df, "doc_id", "text").collect()}
    # Case/whitespace-normalized dupes collapse; nulls group together
    # (sha2(null) is null -> one null-key group keeps the min id).
    assert out[1] == 2 and 2 not in out
    assert out[5] == 1
    assert out[3] == 2 and 4 not in out


def test_exact_dedup_counts_matches_window_form(spark):
    """The round-11 aggregation form (one hash aggregate, no window
    sort) must emit exactly the rows of the window form's
    (id, n_copies) projection — including the null-hash group."""
    from iris_pyspark_spark.operators.dedup import exact_dedup_counts

    df = _docs(
        spark,
        [(1, "Hello"), (2, "  hello "), (3, None), (4, None), (5, "other"),
         (6, "OTHER"), (7, "unique")],
    )
    window_form = {
        (r.doc_id, r.n_copies)
        for r in exact_dedup(df, "doc_id", "text")
        .select("doc_id", "n_copies")
        .collect()
    }
    agg_form = {
        (r.doc_id, r.n_copies)
        for r in exact_dedup_counts(df, "doc_id", "text").collect()
    }
    assert agg_form == window_form


def test_sessionize_single_event_per_user(spark):
    df = spark.createDataFrame(
        [Row(user_id=1, event_id=1, ts=dt.datetime(2024, 1, 1, 10, 0, 0))]
    )
    out = sessionize(df, key="user_id", ts="ts", gap_seconds=1800, tie_break="event_id")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].session_id == 1


def test_cosine_topk_k_larger_than_corpus(spark):
    rows = [Row(vec_id=i, embedding=[float(i + 1)] * 4) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_blockwise(
        df, df.toPandas(), c_id="vec_id", c_vec="embedding", k=10, dim=4,
        out_query_col="q_id",
    )
    got = out.groupBy("q_id").count().collect()
    # k > corpus: each query gets corpus-1 neighbors (self excluded), no crash.
    assert all(r["count"] == 2 for r in got)


def test_unrolled_fast_path_keyword_column_names(spark):
    """The unrolled F.expr backtick-quotes identifier parts (doubling
    embedded backticks), so columns named like SQL keywords/literals
    ('order', 'true'), or with a space or a backtick in the name — which
    would otherwise throw ParseException or resolve to a literal —
    resolve as the named columns (ADVICE r07)."""
    import math

    from pyspark.sql import functions as F

    from iris_pyspark_spark.operators.similarity import (
        cosine_unrolled,
        dot_unrolled,
        l2_sq_unrolled,
    )

    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "order array<double>, true array<double>"
    )
    assert df.select(dot_unrolled("order", "true", 2).alias("d")).first()["d"] == 11.0
    # alias-qualified keyword parts quote per-part: `a`.`order`
    assert (
        df.alias("a").select(dot_unrolled("a.order", "a.true", 2).alias("d")).first()["d"]
        == 11.0
    )
    assert (
        df.select(l2_sq_unrolled("order", "true", 2).alias("d")).first()["d"] == 8.0
    )
    got = (
        df.withColumn("na", F.sqrt(dot_unrolled("order", "order", 2)))
        .withColumn("nb", F.sqrt(dot_unrolled("true", "true", 2)))
        .select(cosine_unrolled("order", "true", 2, "na", "nb").alias("c"))
        .first()["c"]
    )
    assert abs(got - 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))) < 1e-15
    odd = df.toDF("my emb", "a`b")
    assert odd.select(dot_unrolled("my emb", "a`b", 2).alias("d")).first()["d"] == 11.0
    assert odd.select(l2_sq_unrolled("a`b", "my emb", 2).alias("d")).first()["d"] == 8.0
    got = (
        odd.withColumn("n 1", F.sqrt(dot_unrolled("my emb", "my emb", 2)))
        .withColumn("n`2", F.sqrt(dot_unrolled("a`b", "a`b", 2)))
        .select(cosine_unrolled("my emb", "a`b", 2, "n 1", "n`2").alias("c"))
        .first()["c"]
    )
    assert abs(got - 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))) < 1e-15


def test_l2_literal_sql_bit_identical_to_lit_fold(spark):
    """l2_sq_literal_spark_sql spells a constant comparison vector as
    repr(x)D double literals in ONE parsed expression; its value must be
    bit-identical to the F.lit/Column fold it replaced (k-center's
    per-round plan), including subnormals, -0.0, and keyword-named
    columns (the `_bq` quoting applies here too)."""
    import struct

    from pyspark.sql import functions as F

    from iris_pyspark_spark.operators.similarity import l2_sq_literal_spark_sql

    point = [0.1, -0.30000000000000004, 5e-324, -0.0]
    df = spark.createDataFrame(
        [([1.5, 2.5, 0.0, 1e-9],)], "order array<double>"
    )
    fast = df.select(
        F.expr(l2_sq_literal_spark_sql("order", point, 4)).alias("d")
    ).first()["d"]
    # The reference: the same left-associated sum built Column by
    # Column against F.lit literals.
    fold = None
    for i, x in enumerate(point):
        d = F.col("order").getItem(i).cast("double") - F.lit(float(x))
        fold = d * d if fold is None else fold + d * d
    fold = df.select(fold.alias("d")).first()["d"]
    assert struct.pack(">d", fast) == struct.pack(">d", fold)


def test_frame_sampling_empty_payload(spark):
    from pyspark.sql import functions as F

    from iris_pyspark_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, "some text"), (2, "")], "doc_id long, text string"
    ).withColumn("payload", F.encode(F.col("text"), "UTF-8"))
    out = {r.doc_id: (r.n_frames, r.sampled_frames) for r in sample_frames(df).collect()}
    assert out[1] == (1, [0])
    # Empty payload: zero frames and NO phantom sampled index.
    assert out[2] == (0, [])


def test_asof_join_rejects_overlapping_columns(spark):
    import datetime as ddt

    import pytest

    from iris_pyspark_spark.operators.asof import asof_join

    t = ddt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t, 10.0)], "k long, ts timestamp, value double")
    right = spark.createDataFrame([(1, t, 99.0)], "k long, rts timestamp, value double")
    with pytest.raises(ValueError, match="share non-key column"):
        asof_join(left, right, on="k", left_time="ts", right_time="rts")


def test_simhash_multiband_recall(spark):
    """A pair differing ONLY in high bits must be found (the old
    single-prefix blocking missed exactly this case)."""
    from pyspark.sql import functions as F

    from iris_pyspark_spark.operators.dedup import simhash_near_pairs

    # Hashes differ in bits 60-63 → hamming 4, identical elsewhere.
    # (two's-complement: the sign bit set means a negative int64)
    h1 = ((0xF << 60) | 0x12345) - (1 << 64)
    h2 = 0x12345
    df = spark.createDataFrame(
        [(1, h1), (2, h2)], "doc_id long, simhash long"
    )
    got = simhash_near_pairs(df, "doc_id", "simhash", max_hamming=8).collect()
    assert len(got) == 1 and got[0].hamming == 4


def test_simhash_pigeonhole_at_exact_limit(spark):
    """Hamming == max_hamming with one differing bit per byte: with
    max_hamming=8 the old uniform-width banding made 9 bands of 8 bits;
    band 8's shift of 64 wrapped to 0 (JVM masks shifts mod 64), so only
    8 real bands partitioned the word and this pair — one differing bit
    in each — was missed. Exact floor/remainder widths guarantee a clean
    band exists (9 bands, 8 differing bits, pigeonhole)."""
    from iris_pyspark_spark.operators.dedup import simhash_near_pairs

    h1 = 0x12345
    h2 = h1 ^ 0x0101010101010101  # flip bits 0, 8, 16, ..., 56 → hamming 8
    df = spark.createDataFrame([(1, h1), (2, h2)], "doc_id long, simhash long")
    got = simhash_near_pairs(df, "doc_id", "simhash", max_hamming=8).collect()
    assert len(got) == 1 and got[0].hamming == 8


def test_simhash_two_level_no_clean_band(spark):
    """Round-12 two-level banding: max_hamming=8 splits into FIVE bands
    (13,13,13,13,12 bits) with single-bit multi-indexing, so a pair can
    qualify even when EVERY band differs — as long as some band differs
    by exactly one bit (pigeonhole: 2x5 = 10 > 8 guarantees one). This
    pair puts 2 differing bits in each of bands 0-2 and exactly 1 in
    bands 3 and 4: no exact-band match exists anywhere, so recall here
    depends entirely on the flipped-key probe index."""
    from iris_pyspark_spark.operators.dedup import simhash_near_pairs

    h1 = 0x5A5A5
    # bands at offsets 0,13,26,39,52 — flip bits {0,1, 13,14, 26,27, 39, 52}
    h2 = h1 ^ (
        (1 << 0) | (1 << 1) | (1 << 13) | (1 << 14)
        | (1 << 26) | (1 << 27) | (1 << 39) | (1 << 52)
    )
    df = spark.createDataFrame([(1, h1), (2, h2)], "doc_id long, simhash long")
    got = simhash_near_pairs(df, "doc_id", "simhash", max_hamming=8).collect()
    assert len(got) == 1 and got[0].hamming == 8
    # One more differing bit pushes past the limit: must NOT be emitted.
    h3 = h2 ^ (1 << 53)
    df9 = spark.createDataFrame([(1, h1), (2, h3)], "doc_id long, simhash long")
    assert simhash_near_pairs(df9, "doc_id", "simhash", max_hamming=8).collect() == []


def test_simhash_rejects_single_band_limits(spark):
    """max_hamming < 2 means one 64-bit band, whose mask overflows a
    LongType literal; the operator must say so at the call."""
    import pytest

    from iris_pyspark_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame([(1, 0x12345)], "doc_id long, simhash long")
    for max_hamming in (0, 1):
        with pytest.raises(ValueError, match="max_hamming must be >= 2"):
            simhash_near_pairs(df, "doc_id", "simhash", max_hamming=max_hamming)


def test_connected_components_chain_and_islands(spark, tmp_path):
    """Transitive closure must cross chains (1-2, 2-3 → one component)
    and keep disjoint components apart; the fixed point is min-id."""
    from iris_pyspark_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    out = connected_components(
        edges, "src", "dst", scratch_path=str(tmp_path / "cc")
    )
    got = {r.id: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_cosine_selfsim_slabs_match_unsharded(spark):
    """Sharding the query side into bounded slabs must be invisible in
    the result: slabs partition the query set and each slab sees the
    full corpus."""
    import random

    from iris_pyspark_spark.operators.similarity import cosine_topk_selfsim

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(4)])
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run(slab_rows):
        out = cosine_topk_selfsim(
            df, c_id="vec_id", c_vec="embedding", k=3, dim=4, slab_rows=slab_rows
        )
        return sorted(
            (r.vec_id, r.neighbor_id, round(r.sim, 12), r.rnk) for r in out.collect()
        )

    assert run(slab_rows=3) == run(slab_rows=100)  # 4 slabs vs 1 slab


def test_cosine_selfsim_scale_guard_refuses_driver_funnel(spark):
    """Past max_driver_rows the operator must refuse loudly (total slab
    traffic through the driver = the whole corpus) and point at the
    bucketed ANN paths, instead of silently becoming a driver funnel."""
    import pytest

    from iris_pyspark_spark.operators.similarity import (
        SelfSimScaleGuard,
        cosine_topk_selfsim,
    )

    rows = [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(SelfSimScaleGuard, match="ivf_assign"):
        cosine_topk_selfsim(
            df, c_id="vec_id", c_vec="embedding", k=2, dim=2, max_driver_rows=5
        )


def test_forward_fill_leading_nulls_stay_null(spark):
    """Rows before a key's first non-null have nothing to carry forward
    — they must stay NULL, and fills must never cross keys."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    rows = [
        # user 1: null, 10.0, null, null, 20.0  →  null, 10, 10, 10, 20
        (1, 1, None), (1, 2, 10.0), (1, 3, None), (1, 4, None), (1, 5, 20.0),
        # user 2: all null  →  all null (and must not see user 1's 20.0)
        (2, 6, None), (2, 7, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, seq long, v double")
    w = (
        Window.partitionBy("user_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r.seq: r.filled
        for r in df.select(
            "seq", F.last("v", ignorenulls=True).over(w).alias("filled")
        ).collect()
    }
    assert got == {1: None, 2: 10.0, 3: 10.0, 4: 10.0, 5: 20.0, 6: None, 7: None}


def test_pq_codes_exact_codeword_zero_distance(spark):
    """A vector that IS a codeword must pick that code with d2 == 0 in
    every subspace (tie-break safety: equal-distance codes pick the
    lowest id)."""
    from iris_pyspark_spark.operators.similarity import pq_codes

    dim, subs, sub_dim = 8, 2, 4
    cb_rows = [
        Row(code=0, cemb=[float(i) for i in range(dim)]),
        Row(code=1, cemb=[float(i * 2) for i in range(dim)]),
    ]
    cb = spark.createDataFrame(cb_rows, "code int, cemb array<float>")
    corpus = spark.createDataFrame(
        [Row(vec_id=7, embedding=[float(i * 2) for i in range(dim)])],
        "vec_id long, embedding array<float>",
    )
    out = pq_codes(
        corpus, cb, c_id="vec_id", c_vec="embedding",
        n_subs=subs, sub_dim=sub_dim,
    ).collect()
    assert len(out) == subs
    assert all(r.code == 1 and r.d2 == 0.0 for r in out), out


def test_artifact_fingerprint_gates_reuse(tmp_path, sf_dir):
    """Artifact reuse must require BOTH a complete write (_SUCCESS) and a
    matching input fingerprint; parameter changes and source-data changes
    each invalidate (the ADVICE r03 stale-artifact class)."""
    import os

    from iris_pyspark_spark.sources import (
        artifact_is_current,
        mark_artifact,
        table_fingerprint,
    )

    art = str(tmp_path / "artifact")
    fp = table_fingerprint(sf_dir, "documents", params="k3-h32")
    # No directory at all -> stale.
    assert not artifact_is_current(art, fp)
    # Complete marker but no fingerprint sidecar -> stale (never trust
    # a pre-fingerprint-era artifact).
    os.makedirs(art)
    open(os.path.join(art, "_SUCCESS"), "w").close()
    assert not artifact_is_current(art, fp)
    # Marked with the current fingerprint -> current.
    mark_artifact(art, fp)
    assert artifact_is_current(art, fp)
    # Changed params -> stale.
    fp_other = table_fingerprint(sf_dir, "documents", params="k5-h64")
    assert fp_other != fp
    assert not artifact_is_current(art, fp_other)
    # Different source table (stand-in for regenerated data: path/size/
    # mtime all enter the fingerprint) -> stale.
    fp_embed = table_fingerprint(sf_dir, "embeddings", params="k3-h32")
    assert not artifact_is_current(art, fp_embed)


def test_materialize_builds_once_and_records_seconds(tmp_path, sf_dir, monkeypatch):
    """`materialize` runs `build` only when no current artifact exists:
    the same inputs are served, changed params rebuild, a build that
    raises leaves no sidecar (so the next call rebuilds), and every
    build's seconds land in ARTIFACT_BUILD_SECONDS under its name."""
    import os
    import time

    import pytest

    from iris_pyspark_spark import sources

    monkeypatch.setattr(sources, "SCRATCH_ROOT", str(tmp_path))
    monkeypatch.setattr(sources, "ARTIFACT_BUILD_SECONDS", {})
    builds: list[str] = []

    def build(path: str) -> None:
        time.sleep(0.01)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()
        builds.append(path)

    def broken(path: str) -> None:
        raise RuntimeError("build failed")

    def run(params: str, fn=build) -> str:
        return sources.materialize(
            sf_dir, "unit/artifact", fn, tables=("documents",), params=params
        )

    path = run("v1")
    assert path == sources.scratch_dir(sf_dir, "unit/artifact")
    assert builds == [path]
    assert sources.ARTIFACT_BUILD_SECONDS["unit/artifact"] >= 0.01
    # Same inputs: served as is.
    assert run("v1") == path
    assert len(builds) == 1
    # Changed params: rebuilt, and the seconds accumulate.
    first = sources.ARTIFACT_BUILD_SECONDS["unit/artifact"]
    run("v2")
    assert len(builds) == 2
    assert sources.ARTIFACT_BUILD_SECONDS["unit/artifact"] > first
    # A failed build leaves no sidecar; the next call rebuilds.
    with pytest.raises(RuntimeError):
        run("v3", broken)
    assert not os.path.exists(path + ".fingerprint")
    run("v3")
    assert len(builds) == 3
    assert run("v3") == path and len(builds) == 3


def test_scratch_gc_removes_only_dead_owners_trees(tmp_path):
    """gc_scratch deletes a <root>/<sf>/<token> tree exactly when the
    pid in its token is no longer running: a finished child's tree
    goes; this process's tree, a live process's tree and loose files
    (at the root and beside the token trees) stay."""
    import os
    import subprocess
    import sys

    from iris_pyspark_spark import sources

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait(timeout=60)
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        root = str(tmp_path / "scratch")
        trees = {
            "dead": f"p{child.pid}-0123456789",
            "live": f"p{live.pid}-abcdef0123",
            "own": sources._PROC_TOKEN,
        }
        for token in trees.values():
            art = os.path.join(root, "sf0.01", token, "coorder", "pairs")
            os.makedirs(art)
            open(os.path.join(art, "_SUCCESS"), "w").close()
            sources.mark_artifact(art, "fp")
        loose = [os.path.join(root, "stray.log"), os.path.join(root, "sf0.01", "notes.txt")]
        for f in loose:
            open(f, "w").close()

        deleted = sources.gc_scratch(root=root)

        dead = os.path.join(root, "sf0.01", trees["dead"])
        assert deleted == [dead]
        assert not os.path.exists(dead)
        for key in ("live", "own"):
            assert os.path.isdir(os.path.join(root, "sf0.01", trees[key], "coorder", "pairs"))
        assert all(os.path.exists(f) for f in loose)
    finally:
        live.kill()
        live.wait(timeout=60)


def test_misra_gries_invariants_under_decrement(spark):
    """Force the Misra-Gries decrement path (capacity far below the
    vocabulary) on a skewed stream and check the two mergeable-sketch
    invariants the query relies on: estimates never exceed true counts,
    undercount is bounded by the recorded dropped mass, and the genuinely
    heavy term still surfaces with a positive estimate."""
    from collections import Counter

    from iris_pyspark_spark.operators.sketches import (
        DROPS_SENTINEL,
        mg_partial_counters,
    )

    # 1 heavy term (400x), 3 medium (50x), 60 rare singletons; vocab 64
    # >> capacity 8, so decrements must fire.
    tokens = (
        ["heavy"] * 400
        + ["mid_a", "mid_b", "mid_c"] * 50
        + [f"rare_{i}" for i in range(60)]
    )
    true = Counter(tokens)
    df = spark.createDataFrame([(t,) for t in tokens], "term string").coalesce(1)
    rows = mg_partial_counters(df, "term", capacity=8).collect()
    drops = sum(r.est for r in rows if r.term == DROPS_SENTINEL)
    ests = {r.term: r.est for r in rows if r.term != DROPS_SENTINEL}
    assert drops > 0, "capacity 8 over vocab 64 must decrement"
    assert len(ests) <= 8
    for t, e in ests.items():
        assert e <= true[t], f"{t}: est {e} exceeds true {true[t]}"
    for t, c in true.items():
        assert c - ests.get(t, 0) <= drops, (
            f"{t}: undercount {c - ests.get(t, 0)} exceeds drop mass {drops}"
        )
    assert ests.get("heavy", 0) > 0, "heavy hitter must survive the sketch"


def test_misra_gries_merge_across_partitions(spark):
    """The MERGE claim is the point of the sketch: per-partition
    summaries summed by term must still satisfy both invariants with
    the error bound equal to the SUM of per-partition drop masses —
    on 4 partitions with skew, decrements firing in each."""
    from collections import Counter

    from iris_pyspark_spark.operators.sketches import (
        DROPS_SENTINEL,
        mg_partial_counters,
    )

    tokens = (
        ["heavy"] * 400
        + ["mid_a", "mid_b", "mid_c"] * 50
        + [f"rare_{i}" for i in range(60)] * 3
    )
    true = Counter(tokens)
    df = spark.createDataFrame([(t,) for t in tokens], "term string").repartition(4)
    rows = mg_partial_counters(df, "term", capacity=8).collect()
    total_drops = sum(r.est for r in rows if r.term == DROPS_SENTINEL)
    merged = Counter()
    for r in rows:
        if r.term != DROPS_SENTINEL:
            merged[r.term] += r.est
    assert total_drops > 0
    for t, e in merged.items():
        assert e <= true[t], f"{t}: merged est {e} exceeds true {true[t]}"
    for t, c in true.items():
        assert c - merged.get(t, 0) <= total_drops, (
            f"{t}: undercount {c - merged.get(t, 0)} > summed drops {total_drops}"
        )
    assert merged.get("heavy", 0) > 0


def test_apply_state_dedup_invariant_to_batch_split(spark, sf_dir):
    """st_apply_state_dedup's contract: the checked output equals the
    batch census NO MATTER how the stream was micro-batched, because
    per-key state merges order-insensitively (count + lexicographic
    min) and the final readout takes each key's last update. Proven
    here by re-running the same stateful pipeline over the SAME
    snapshot with all files in ONE trigger (vs the query's one-file-
    per-trigger default) and asserting identical rows."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iris_pyspark_spark.queries.streaming_parity import st_apply_state_dedup
    from iris_pyspark_spark.sources import scratch_dir
    from iris_pyspark_spark.streaming import drain_to_table

    base = st_apply_state_dedup(spark, sf_dir).orderBy(
        "user_id", "event_type"
    ).toPandas()

    # Same source snapshot (built by the call above), drained in ONE
    # micro-batch: no maxFilesPerTrigger option.
    src = scratch_dir(sf_dir, "aps_src")
    stream = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string"
    ).parquet(src)
    keyed = stream.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("n_seen", LongType()),
            StructField("first_ts_us", LongType()),
            StructField("first_event_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("fts", LongType()),
            StructField("feid", LongType()),
        ]
    )

    def track(key, pdfs, state):
        import numpy as np

        if state.exists:
            n, fts, feid = state.get
        else:
            n, fts, feid = 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            ts = pdf["ts_us"].to_numpy(dtype="int64")
            eid = pdf["event_id"].to_numpy(dtype="int64")
            i = np.lexsort((eid, ts))[0]
            if fts is None or (int(ts[i]), int(eid[i])) < (fts, feid):
                fts, feid = int(ts[i]), int(eid[i])
        state.update((n, fts, feid))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_seen": [n],
                "first_ts_us": [fts],
                "first_event_id": [feid],
            }
        )

    updates = keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sink = drain_to_table(updates, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n_seen"))
    one_batch = (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            "n_seen",
            (F.col("n_seen") - 1).cast("long").alias("n_dupes"),
            "first_ts_us",
            "first_event_id",
        )
        .orderBy("user_id", "event_type")
        .toPandas()
    )
    pd.testing.assert_frame_equal(base, one_batch)


def test_asof_join_boundary_is_inclusive(spark):
    """Backward as-of must carry a right row whose time EQUALS the left
    row's time (at-or-before), and the earliest left rows (before any
    right row) must carry NULL — the two boundary semantics
    j_asof_rate_spine's oracle (DuckDB ASOF JOIN, >=) relies on."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from iris_pyspark_spark.operators.asof import asof_join

    d = dt.date
    left = spark.createDataFrame(
        [
            Row(k=1, ld=d(1995, 1, 1)),   # before any snapshot -> NULL
            Row(k=1, ld=d(1995, 6, 1)),   # exactly ON a snapshot -> that one
            Row(k=1, ld=d(1995, 7, 15)),  # between -> earlier one
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rd=d(1995, 6, 1), rate=101),
            Row(k=1, rd=d(1995, 8, 1), rate=202),
        ]
    )
    out = {
        r["ld"]: (r["rate"], r["rd"])
        for r in asof_join(
            left=left, right=right, on="k", left_time="ld", right_time="rd"
        ).collect()
    }
    assert out[d(1995, 1, 1)] == (None, None)
    assert out[d(1995, 6, 1)] == (101, d(1995, 6, 1))
    assert out[d(1995, 7, 15)] == (101, d(1995, 6, 1))


def test_apply_state_day_census_invariant_to_batch_split(spark, sf_dir):
    """st_apply_state_day_census's contract (eighth wave): the per-day
    duplicate census equals the single-batch result no matter how the
    4-file round-robin snapshot was micro-batched, because every state
    component merges order-invariantly (count, min, max) and the
    readout takes each key's max-n row. Proven by draining the SAME
    staged snapshot in ONE trigger and asserting identical rows."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from iris_pyspark_spark.queries.streaming_parity import (
        st_apply_state_day_census,
    )
    from iris_pyspark_spark.sources import scratch_dir
    from iris_pyspark_spark.streaming import drain_to_table

    base = (
        st_apply_state_day_census(spark, sf_dir).orderBy("epoch_day").toPandas()
    )

    src = scratch_dir(sf_dir, "aps_day_src")  # staged by the call above
    # Round 12: the staged source holds per-(user, day) PARTIALS
    # (n, mn, mx) — the one-trigger drain folds the same partials the
    # 4-trigger query folds, proving the fold is batch-split-invariant.
    keyed = spark.readStream.schema(
        "user_id long, epoch_day long, n long, mn long, mx long"
    ).parquet(src)  # no maxFilesPerTrigger: one data micro-batch
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("epoch_day", LongType()),
            StructField("n", LongType()),
            StructField("min_eid", LongType()),
            StructField("max_eid", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mn", LongType()),
            StructField("mx", LongType()),
        ]
    )

    def census(key, pdfs, state):
        if state.exists:
            n, mn, mx = state.get
        else:
            n, mn, mx = 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += int(pdf["n"].sum())
            lo, hi = int(pdf["mn"].min()), int(pdf["mx"].max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        state.update((n, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "epoch_day": [key[1]],
                "n": [n],
                "min_eid": [mn],
                "max_eid": [mx],
            }
        )

    updates = keyed.groupBy("user_id", "epoch_day").applyInPandasWithState(
        census, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sink = drain_to_table(updates, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "epoch_day").orderBy(F.desc("n"))
    final = (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    single = (
        final.groupBy("epoch_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_user_days"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_multi_event"),
            F.sum(F.col("n") - 1).cast("long").alias("total_dupes"),
            F.max("n").cast("long").alias("max_events"),
            F.sum(F.col("max_eid") - F.col("min_eid"))
            .cast("long")
            .alias("eid_span_sum"),
        )
        .orderBy("epoch_day")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        base.reset_index(drop=True), single.reset_index(drop=True)
    )
