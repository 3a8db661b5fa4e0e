"""Degenerate-input behavior: operators must return empty/identity results
— never crash — on empty edge lists, empty corpora, and single-element
inputs. The reference never exercises these shapes (its datasets are fixed
benchmark files), but a driver pointed at a filtered or tiny partition of a
100 TB table will produce them constantly, so they are part of this
engine's contract."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_edges(spark):
    return spark.createDataFrame([], "src long, dst long, cnt long")


def test_pagerank_on_empty_graph(spark, empty_edges):
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import pagerank

    assert pagerank(empty_edges).count() == 0


def test_connected_components_single_vertex_self_loop(spark):
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        connected_components,
    )

    e = spark.createDataFrame([(7, 7, 1)], "src long, dst long, cnt long")
    out = connected_components(e).collect()
    assert [(r["v"], r["label"]) for r in out] == [(7, 7)]


def test_bfs_isolated_source_component(spark):
    """Source vertex (min id) in a 2-vertex component, rest unreachable:
    unreachable vertices are filtered, reachable ones get exact hops."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import bfs

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (10, 11, 1), (11, 10, 1)],
        "src long, dst long, cnt long",
    )
    out = {r["v"]: r["dist"] for r in bfs(e).collect()}
    assert out == {1: 0, 2: 1}


def test_triangles_on_empty_pairs(spark):
    """The CSR arm builds its adjacency from the pair list: an empty list
    is the empty graph (n = 0), not a ``max()`` of a zero-size array."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import triangles

    pairs = spark.createDataFrame([], "src long, dst long, cnt long")
    assert triangles(pairs).count() == 0


def test_csr_kernels_on_empty_csr():
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    indptr, nbrs = np.array([0], np.int64), np.array([], np.int32)
    assert len(graph._pr_power(indptr, nbrs, np.zeros(0))) == 0
    assert len(graph._min_label_fixpoint(indptr, nbrs)) == 0


def test_degrees_empty(spark, empty_edges):
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import degrees

    assert degrees(empty_edges).count() == 0


def test_blocked_apply_empty_and_singleton(spark):
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import blocked_apply

    def kernel(ids_a, mat_a, ids_b, mat_b, same):
        if same:
            ia, ib = np.triu_indices(len(ids_a), k=1)
            a, b = ids_a[ia], ids_a[ib]
        else:
            a = np.repeat(ids_a, len(ids_b))
            b = np.tile(ids_b, len(ids_a))
        return pd.DataFrame({"a": np.minimum(a, b), "b": np.maximum(a, b)})

    empty = spark.createDataFrame([], "vec_id long, v array<double>").cache()
    assert blocked_apply(empty, kernel, "a long, b long").count() == 0

    one = spark.createDataFrame(
        [(5, [1.0, 2.0])], "vec_id long, v array<double>"
    ).cache()
    # a single point has no pairs
    assert blocked_apply(one, kernel, "a long, b long").count() == 0


def test_iterate_zero_rounds_is_identity(spark):
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import iterate

    s0 = spark.createDataFrame([(1,), (2,)], "v long")
    out = iterate(s0, lambda s, i: s.where(F.lit(False)), 0)
    assert out.count() == 2


def test_correlation_on_constant_column(spark):
    """corr(X, c) is NULL for a constant column (zero variance) — must
    propagate as NULL, not NaN-crash the rounding."""
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        correlation_pairs,
    )

    df = spark.createDataFrame(
        [(float(i), 3.0) for i in range(10)], "x double, c double"
    )
    row = correlation_pairs(df, ["x", "c"]).collect()[0]
    assert row["corr_x_c"] is None


def test_knn_search_more_k_than_corpus(spark):
    """k larger than the corpus: every corpus point is a neighbor, no
    padding rows, no crash."""
    from spark_ml_algo_lib_master_tongji_spark.operators.knn import knn_search

    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)], "id long, v array<double>"
    )
    queries = spark.createDataFrame(
        [(100, [0.5, 0.0])], "id long, v array<double>"
    )
    out = knn_search(corpus, queries, k=10)
    assert out.count() == 3
    assert {r["nid"] for r in out.collect()} == {0, 1, 2}


def test_sequence_pack_and_chunks_empty_corpus(spark):
    """Packing and chunking over an empty documents frame return empty —
    the window cumsum and the explode both tolerate zero rows."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        doc_chunks,
        sequence_pack,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert sequence_pack(empty).count() == 0
    assert doc_chunks(empty).count() == 0


def test_domain_mix_null_source_raises(spark, tmp_path):
    """A NULL source must fail loudly, not silently drop the doc from the
    mix (the rate equi-join would otherwise discard it)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_domain_mix,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    rows = [(0, "a b c", None), (1, "d e", "src0")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    cat = Catalog(spark, str(tmp_path))
    # The contract is the MESSAGE, not the wrapper type: when the first
    # evaluation of the raise_error happens inside the broadcast-exchange
    # thread (AQE plan-order dependent), Spark surfaces it wrapped in
    # SparkException instead of SparkRuntimeException.
    with pytest.raises(Exception, match="NULL source"):
        pipeline_domain_mix(cat).collect()


def _doc_catalog(spark, tmp_path, rows, sub="d"):
    # distinct subdir per case: session-shared derivations (doc_features)
    # are cached per sf_dir, so reusing one path would serve stale frames
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    d = tmp_path / sub
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return Catalog(spark, str(d))


def test_vocab_prune_empty_and_single_doc(spark, tmp_path):
    """Empty corpus → empty result (the top-V limit and the anti-join
    tolerate zero rows); a single doc whose tokens all fit the cap has
    zero unks and ratio 0."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_vocab_prune,
    )

    assert pipeline_vocab_prune(_doc_catalog(spark, tmp_path, [], "e")).count() == 0
    cat = _doc_catalog(spark, tmp_path, [(3, "a b c a")], "one")
    rows = pipeline_vocab_prune(cat).collect()
    assert [(r["doc_id"], r["n_tokens"], r["n_unk"], r["unk_ratio"]) for r in rows] == [
        (3, 4, 0, 0.0)
    ]


def test_quality_filter_empty_and_single_doc(spark, tmp_path):
    """Empty corpus → empty; a singleton language's median is the doc's
    own quality, so the doc always survives its own gate."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_quality_filter,
    )

    assert (
        pipeline_quality_filter(_doc_catalog(spark, tmp_path, [], "e")).count()
        == 0
    )
    cat = _doc_catalog(spark, tmp_path, [(1, "the and of words here")], "one")
    rows = pipeline_quality_filter(cat).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1
    assert rows[0]["lang_median"] == rows[0]["quality"]


def test_pii_scrub_empty_corpus(spark):
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pii_scrub,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert pii_scrub(empty).count() == 0


def test_chunk_dedup_empty_and_self_duplicate(spark, tmp_path):
    """Empty corpus → empty; a single doc_id % 10 == 0 doc gets a re-crawl
    copy, so its one chunk reports exactly (n_copies=2, keeper=original)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        pipeline_chunk_dedup,
    )

    assert pipeline_chunk_dedup(_doc_catalog(spark, tmp_path, [], "e")).count() == 0
    cat = _doc_catalog(spark, tmp_path, [(10, "x y z")], "one")
    rows = pipeline_chunk_dedup(cat).collect()
    assert len(rows) == 1
    assert (rows[0]["keeper_doc_id"], rows[0]["n_copies"]) == (10, 2)


def test_delta_decisions_empty_increment(spark, tmp_path):
    """An empty re-crawl batch yields zero decisions — every stage
    (fingerprint join, signature banding, winnow overlap, anti-joins)
    must tolerate an empty delta frame."""
    from spark_ml_algo_lib_master_tongji_spark.operators import dedup

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    idx = dedup.build_dedup_index(base, str(tmp_path / "idx"))
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = dedup.delta_decisions(empty, idx.fps, idx.sigs, idx.winnow, base)
    assert out.count() == 0
    assert out.columns == ["doc_id", "decision", "keeper_doc_id"]


def test_delta_decisions_all_new_and_short_docs(spark, tmp_path):
    """An increment sharing nothing with the base (incl. sub-3-token docs
    that have no shingles OR winnow grams) decides everything 'new' with
    self-keepers — the no-signature path must not drop rows."""
    from spark_ml_algo_lib_master_tongji_spark.operators import dedup

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    idx = dedup.build_dedup_index(base, str(tmp_path / "idx"))
    delta = spark.createDataFrame(
        [(10, "completely unrelated fresh content nothing shared here at all"),
         (11, "xy"),  # < 3 tokens: no shingles, no winnow grams
         (12, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.delta_decisions(
            delta, idx.fps, idx.sigs, idx.winnow, base
        ).collect()
    }
    assert set(rows) == {10, 11, 12}
    for d, r in rows.items():
        assert r["decision"] == "new" and r["keeper_doc_id"] == d


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """A fixture dir whose documents/events/embeddings tables are EMPTY
    but carry the real schemas — the filtered-to-nothing partition shape
    of a production run."""
    from tests.conftest import SF_SMOKE

    d = tmp_path_factory.mktemp("empty_sf")
    for t in ("documents", "events", "embeddings", "lineitem"):
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").limit(0).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


def test_text_rows_on_empty_corpus(spark, empty_sf):
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        dedup_substring_spans,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        text_gopher_rules,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, empty_sf)
    assert text_gopher_rules(cat).count() == 0
    assert dedup_substring_spans(cat).count() == 0


def test_profiles_on_empty_corpus(spark, empty_sf):
    """Profiling an empty table must report the emptiness, not crash:
    one row per column/signal with zero counts and NULL extrema."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_profile_columns,
        pipeline_profile_quantiles,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, empty_sf)
    cols = pipeline_profile_columns(cat).collect()
    assert len(cols) == 5
    for r in cols:
        assert r["n_rows"] == 0 and r["n_nulls"] == 0 and r["n_distinct"] == 0
        assert r["min_str"] is None and r["max_str"] is None
    quants = pipeline_profile_quantiles(cat).collect()
    assert len(quants) == 2
    for r in quants:
        assert r["p50"] is None and r["p99"] is None and r["max_val"] is None


def test_joins_on_empty_events(spark, empty_sf):
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_asof_join_click_attribution,
        q_range_join_value_tiers,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, empty_sf)
    assert q_asof_join_click_attribution(cat).count() == 0
    assert q_range_join_value_tiers(cat).count() == 0


def test_asof_with_no_clicks_yields_all_null_matches(spark, tmp_path):
    """Purchases with ZERO clicks anywhere: every purchase must survive
    with NULL click columns (left as-of), not be dropped."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_asof_join_click_attribution,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    base = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    base.where(F.col("event_type") != "click").write.parquet(
        str(tmp_path / "events.parquet")
    )
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").limit(0).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
    cat = Catalog(spark, str(tmp_path))
    out = q_asof_join_click_attribution(cat).collect()
    n_purch = base.where(F.col("event_type") == "purchase").count()
    assert len(out) == n_purch > 0
    assert all(
        r["click_id"] is None and r["gap_us"] is None for r in out
    )


def test_round12_rows_on_empty_tables(spark, empty_sf):
    """The round-12 analytics rows on filtered-to-nothing partitions:
    the funnel still emits its one rollup row (all zeros), the t-test
    emits one row with zero counts and NULL moments, the quantile
    anchor emits NULLs (never a crash), and the per-group outputs
    (retention, histogram) are simply empty."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_events_retention_cohorts,
        q_funnel_conversion,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        stat_approx_quantile_accuracy,
        stat_value_histogram,
        stat_welch_ttest,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, empty_sf)
    f = q_funnel_conversion(cat).collect()
    assert [tuple(r) for r in f] == [(0, 0, 0, 0)]
    assert q_events_retention_cohorts(cat).count() == 0
    assert stat_value_histogram(cat).count() == 0
    t = stat_welch_ttest(cat).first()
    assert t["n_a"] == 0 and t["n_b"] == 0 and t["mean_diff"] is None
    q = stat_approx_quantile_accuracy(cat).first()
    assert q["p50"] is None and q["approx_ok"] is None


def test_histogram_on_constant_values(spark, tmp_path):
    """All-equal values ⇒ width 0: every row pins to bucket 0 with
    bucket_lo = the value (the explicit degenerate branch, not a
    division by zero)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        stat_value_histogram,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    d = tmp_path / "const_sf"
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").withColumn(
        "value", F.lit(5.0)
    )
    n = ev.count()
    ev.write.parquet(str(d / "events.parquet"))
    rows = stat_value_histogram(Catalog(spark, str(d))).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["bucket"] == 0 and r["n"] == n
    assert abs(r["bucket_lo"] - 5.0) < 1e-9
    assert abs(r["sum_value"] - 5.0 * n) < 1e-6


# ---- driver-side arm of the near-dup pair rows ------------------------------
#
# dedup_simhash_pairs, dedup_ngram_jaccard and sim_lsh_bucket_pairs run on
# the driver below their ceilings (tests/test_dedup_kernels.py). On inputs
# the kernels cannot reproduce exactly they must hand over to the
# distributed arm; on the rest they must equal it (or, where the
# distributed arm fails, the DuckDB oracle).

_PAIR_ROWS = (
    ("dedup", "dedup_simhash_pairs", "LOCAL_MAX_DOCS"),
    ("dedup", "dedup_ngram_jaccard", "LOCAL_MAX_DOCS"),
    ("similarity", "sim_lsh_bucket_pairs", "LOCAL_MAX_VECTORS"),
)


def _ops(mod):
    import importlib

    return importlib.import_module(
        f"spark_ml_algo_lib_master_tongji_spark.operators.{mod}"
    )


def _both_arms(monkeypatch, cat, mod, name, ceiling):
    """(driver-side rows, distributed rows, driver-side schema,
    distributed schema) of one pair row."""
    m_ = _ops(mod)

    def forbidden(*_a, **_k):
        raise AssertionError("wrong arm dispatched")

    with monkeypatch.context() as m:
        m.setattr(m_, "spread", forbidden)
        local = getattr(m_, name)(cat)
        local_rows = sorted(map(tuple, local.collect()))
    with monkeypatch.context() as m:
        m.setattr(m_, ceiling, -1)
        dist = getattr(m_, name)(cat)
        dist_rows = sorted(map(tuple, dist.collect()))
    return local_rows, dist_rows, local.schema, dist.schema


def _emb_catalog(spark, tmp_path, rows, sub):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    d = tmp_path / sub
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return Catalog(spark, str(d))


def test_pair_rows_on_empty_tables(spark, monkeypatch, empty_sf):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, empty_sf)
    for mod, name, ceiling in _PAIR_ROWS:
        local, dist, ls, ds = _both_arms(monkeypatch, cat, mod, name, ceiling)
        assert local == dist == [], name
        assert ls == ds, name


def test_pair_rows_on_null_and_short_texts(spark, monkeypatch, tmp_path):
    """A NULL text has no tokens: SimHash 0 (so two NULL texts are a
    hamming-0 pair, as in the distributed arm) and no shingles. The
    distributed n-gram arm fails on a NULL text (NGram's UDF dereferences
    it), so that row is checked against its DuckDB oracle, which reads
    NULL as no shingles."""
    import duckdb

    from spark_ml_algo_lib_master_tongji_spark.oracles import DEDUP_ORACLES
    from tests.compare import assert_match

    text = "a b c d e f g h"
    cat = _doc_catalog(
        spark,
        tmp_path,
        [(1, None), (2, text), (3, text + " i"), (4, ""), (5, None), (6, "x y")],
        "nulls",
    )
    local, dist, ls, ds = _both_arms(monkeypatch, cat, *_PAIR_ROWS[0])
    assert local == dist and ls == ds
    assert (1, 5, 0) in local

    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{cat.sf_dir}/documents.parquet/*.parquet')"
    )
    out = dedup_ngram_jaccard(cat)
    assert [tuple(r) for r in out.collect()] == [(2, 3, 0.8571)]
    assert_match(out, con, DEDUP_ORACLES["dedup_ngram_jaccard"], "nulls")
    con.close()


def test_pair_rows_when_every_text_is_under_three_tokens(
    spark, monkeypatch, tmp_path
):
    cat = _doc_catalog(
        spark, tmp_path, [(1, "a b"), (2, "a b"), (3, "x"), (4, "")], "short"
    )
    local, dist, ls, ds = _both_arms(monkeypatch, cat, *_PAIR_ROWS[0])
    assert local == dist and ls == ds
    assert (1, 2, 0) in local
    local, dist, ls, ds = _both_arms(monkeypatch, cat, *_PAIR_ROWS[1])
    assert local == dist == [] and ls == ds


def test_doc_local_arms_decline_repeated_ids(spark, tmp_path):
    """A repeated doc_id makes the self-joins multiset joins; the driver-side
    arms emit each id pair once, so they must hand over."""
    from spark_ml_algo_lib_master_tongji_spark.operators import dedup

    cat = _doc_catalog(
        spark, tmp_path, [(1, "a b c d"), (1, "a b c e"), (2, "a b c d")], "dup"
    )
    assert dedup._simhash_pairs_local(cat, 6) is None
    assert dedup._ngram_jaccard_local(cat) is None


@pytest.mark.parametrize(
    "bad",
    [
        (3, None, 0),  # NULL vector
        (3, [1.0, 2.0], 0),  # ragged
        (3, [1.0, None, 0.5], 0),  # NULL element
        (3, [1.0, float("nan"), 0.5], 0),  # NaN element
    ],
    ids=["null", "ragged", "null-element", "nan-element"],
)
def test_lsh_local_arm_declines_null_ragged_or_nonfinite(
    spark, tmp_path, bad
):
    """Vectors the numpy kernel cannot reproduce exactly (the distributed
    arm reads dim from one row, orders NaN above every number and yields
    NULL dots for NULL elements) take the distributed arm."""
    from spark_ml_algo_lib_master_tongji_spark.operators import similarity

    rows = [(1, [1.0, 0.0, 0.5], 0), (2, [2.0, 0.0, 1.0], 0), bad]
    cat = _emb_catalog(spark, tmp_path, rows, "bad")
    assert similarity._lsh_pairs_local(cat, 8, 0.35) is None
    cat = _emb_catalog(spark, tmp_path, rows[:2], "good")
    assert similarity._lsh_pairs_local(cat, 8, 0.35).collect() == [(1, 2, 1.0)]


def test_pair_rows_over_the_pair_ceiling_run_distributed(
    spark, monkeypatch, tmp_path
):
    """Twelve identical rows form one block of 66 pairs (three for the
    n-gram prefix): with the pair ceiling at 65 every row must take the
    distributed arm, which still returns all 66 pairs."""
    from spark_ml_algo_lib_master_tongji_spark.operators import pairs

    monkeypatch.setattr(pairs, "LOCAL_MAX_PAIRS", 65)
    docs = _doc_catalog(
        spark, tmp_path, [(i, "one two three four") for i in range(12)], "hot"
    )
    emb = _emb_catalog(
        spark, tmp_path, [(i, [0.5, -1.0, 2.0], 0) for i in range(12)], "hotv"
    )
    for (mod, name, _ceiling), cat in zip(_PAIR_ROWS, (docs, docs, emb)):
        m_ = _ops(mod)
        real, calls = m_.spread, []
        with monkeypatch.context() as m:
            m.setattr(m_, "spread", lambda df, *a: calls.append(1) or real(df, *a))
            out = getattr(m_, name)(cat).collect()
        assert calls, f"{name} stayed on the driver over the pair ceiling"
        assert len(out) == 66, name
