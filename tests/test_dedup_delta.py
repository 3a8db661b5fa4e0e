"""Delta dedup against the persisted keeper index (operators/dedup.py).

The load-bearing claims, each pinned here:
1. the persisted-index path returns EXACTLY the decisions a from-scratch
   recompute (fresh sketches, no parquet round-trip) returns;
2. the parquet store round-trip is lossless for all three sketch tables;
3. the decisions match the DuckDB twin (the driver's check, kept in CI);
4. the fixture increment exercises all three decision branches, and the
   exact branch maps every re-crawl to its original document;
5. the short-document edge (<3 tokens → '' near-dup text) that the
   oracle pins with coalesce stays '' on the Spark side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.functions import text as TXT
from spark_ml_algo_lib_master_tongji_spark.operators import dedup
from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

from tests.compare import assert_match
from tests.conftest import SF_ORACLE


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delta_equals_fresh_recompute(spark):
    """Persisted-index decisions == decisions from fresh (never-written)
    base sketches — the store round-trip cannot change a single verdict."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        winnow_fp_stream,
    )

    cat = Catalog(spark, SF_ORACLE)
    base = cat.documents.select("doc_id", "text")
    fresh_fps = (
        base.select(TXT.fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    fresh_sigs = dedup.minhash_signatures(base)
    fresh = dedup.delta_decisions(
        dedup._delta_docs(cat),
        fresh_fps,
        fresh_sigs,
        # the store materializes the capped postings at build time; the
        # fresh arm caps on the fly — this equality IS the
        # capped-at-build == capped-on-the-fly pin (round-8 verdict 3)
        dedup.capped_postings(winnow_fp_stream(base)),
        base,
    )
    via_index = dedup.dedup_delta(cat)
    assert _sorted_rows(via_index) == _sorted_rows(fresh)


def test_index_roundtrip_lossless(spark):
    """Every row of the three read-back sketch tables equals the freshly
    computed frame it was written from."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        winnow_fp_stream,
    )

    cat = Catalog(spark, SF_ORACLE)
    idx = dedup._dedup_index(cat)
    base = cat.documents.select("doc_id", "text")
    fresh_fps = (
        base.select(TXT.fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    assert _sorted_rows(idx.fps.select("fp", "keeper_doc_id")) == _sorted_rows(
        fresh_fps
    )
    fresh_sigs = dedup.minhash_signatures(base)
    assert _sorted_rows(idx.sigs.select("doc_id", "sig")) == _sorted_rows(
        fresh_sigs
    )
    assert _sorted_rows(idx.winnow.select("doc_id", "fp")) == _sorted_rows(
        dedup.capped_postings(winnow_fp_stream(base))
    )


def test_delta_matches_duckdb_oracle(spark, duck):
    cat = Catalog(spark, SF_ORACLE)
    o = all_oracles()
    assert_match(dedup.dedup_delta(cat), duck, o["dedup_delta"], "dedup_delta")
    assert_match(
        dedup.dedup_index_stats(cat),
        duck,
        o["dedup_index_stats"],
        "dedup_index_stats",
    )


def test_delta_decision_branches(spark):
    """All three branches fire on the fixture, and exact re-crawls map to
    their originals (fixture texts are unique, so the elected keeper IS
    the source doc)."""
    cat = Catalog(spark, SF_ORACLE)
    rows = dedup.dedup_delta(cat).collect()
    by_decision: dict[str, list] = {}
    for r in rows:
        by_decision.setdefault(r["decision"], []).append(r)
    assert set(by_decision) == {"dup_exact", "dup_near", "dup_partial", "new"}
    # every %10==0 re-crawl (unchanged text) must be exact with its source
    # as keeper; OTHER slices may legitimately degenerate to exact too
    # (e.g. a ≤21-token doc's partial splice reverses a ≤1-token tail —
    # the text is unchanged), so assert per-source, not per-slice.
    for r in rows:
        if (
            r["doc_id"] >= dedup.DELTA_EXACT_OFFSET
            and r["doc_id"] < dedup.DELTA_NEAR_OFFSET
        ):
            assert r["decision"] == "dup_exact"
    for r in by_decision["dup_exact"]:
        # fixture texts are unique → the elected keeper IS the source doc
        assert r["keeper_doc_id"] == r["doc_id"] % 1_000_000
    for r in by_decision["dup_near"]:
        # a near-dup's keeper is a real base doc, never itself
        assert r["keeper_doc_id"] < dedup.DELTA_EXACT_OFFSET
    for r in by_decision["dup_partial"]:
        # partial overlap points at base evidence; only the near/partial
        # mutation slices can share a token run with the base
        assert r["keeper_doc_id"] < dedup.DELTA_EXACT_OFFSET
        assert r["doc_id"] >= dedup.DELTA_NEAR_OFFSET
    # the spliced slice must actually exercise the winnow branch
    assert any(
        r["doc_id"] >= dedup.DELTA_PARTIAL_OFFSET
        for r in by_decision["dup_partial"]
    )
    for r in by_decision["new"]:
        assert r["keeper_doc_id"] == r["doc_id"]
    # increment decided exactly once each
    assert len(rows) == len({r["doc_id"] for r in rows})


def test_index_merge_absorbs_new_docs(spark, tmp_path):
    """The refresh loop: merging the 'new'-decided increment docs into a
    version-2 store makes a re-run of the SAME increment decide each of
    them dup_exact against itself. Other docs' decisions can only
    STRENGTHEN (new < partial < near < exact): the store only grew, and
    any upgrade's evidence is necessarily a newly-stored doc (id ≥ the
    delta offset); an unchanged decision keeps its keeper because new
    store ids are larger than every base id, so min-elections are
    undisturbed."""
    cat = Catalog(spark, SF_ORACLE)
    idx = dedup._dedup_index(cat)
    delta = dedup._delta_docs(cat)
    base = cat.documents.select("doc_id", "text")
    before = {r["doc_id"]: r for r in dedup.dedup_delta(cat).collect()}
    new_ids = [d for d, r in before.items() if r["decision"] == "new"]
    assert new_ids
    new_docs = delta.where(F.col("doc_id").isin(new_ids))
    idx2 = dedup.merge_dedup_index(idx, new_docs, str(tmp_path / "v2"))
    after = {
        r["doc_id"]: r
        for r in dedup.delta_decisions(
            delta,
            idx2.fps,
            idx2.sigs,
            idx2.winnow,
            base.unionByName(new_docs),
        ).collect()
    }
    assert set(after) == set(before)
    rank = {"new": 0, "dup_partial": 1, "dup_near": 2, "dup_exact": 3}
    upgraded = 0
    for d, r in after.items():
        if d in set(new_ids):
            assert r["decision"] == "dup_exact" and r["keeper_doc_id"] == d
            continue
        assert rank[r["decision"]] >= rank[before[d]["decision"]]
        if r["decision"] == before[d]["decision"]:
            assert r["keeper_doc_id"] == before[d]["keeper_doc_id"]
        else:
            upgraded += 1
            # an upgrade's evidence can only be a newly-stored doc
            assert r["keeper_doc_id"] >= dedup.DELTA_EXACT_OFFSET
    # sanity: the fixture actually exercises both the unchanged and the
    # upgraded paths (reversed/spliced docs share reversed-run content)
    assert upgraded > 0


def test_merged_store_capped_view_exact_across_cap_crossing(spark, tmp_path):
    """The versioned store's winnow view == a from-scratch capped
    recompute over base ∪ increment, INCLUDING a fingerprint that was
    under the df-cap at build and crosses it at merge: its base-version
    postings are on disk but the cumulative over-cap list must hide
    them. Also pins refresh write volume ∝ increment: the v1 root holds
    only increment-sized sigs/postings, never a copy of v0's."""
    import os

    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        WINNOW_K,
        WINNOW_W,
        winnow_fp_stream,
    )

    run = " ".join(f"hot{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    cap = dedup.WINNOW_DF_MAX
    base_rows = [
        (i, f"u{i} v{i} w{i} {run} x{i} y{i} z{i}") for i in range(cap)
    ]  # shared run in exactly WINNOW_DF_MAX docs: at the cap, kept at v0
    inc_rows = [
        (100 + i, f"a{i} b{i} c{i} {run} d{i} e{i} f{i}") for i in range(3)
    ]  # 3 more docs with the run: df crosses the cap at merge
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")
    idx = dedup.build_dedup_index(base, str(tmp_path / "v0"))
    # the shared-run fp is under the cap at v0 → present in the view
    shared_fps = {
        r["fp"]
        for r in winnow_fp_stream(base)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") == cap)
        .collect()
    }
    assert shared_fps
    v0_fps = {r["fp"] for r in idx.winnow.collect()}
    assert shared_fps <= v0_fps
    idx2 = dedup.merge_dedup_index(idx, inc, str(tmp_path / "v1"))
    want = sorted(
        tuple(r)
        for r in dedup.capped_postings(
            winnow_fp_stream(base.unionByName(inc))
        ).collect()
    )
    got = sorted(tuple(r) for r in idx2.winnow.select("doc_id", "fp").collect())
    assert got == want
    # the crossed fp vanished from the merged view (its v0 postings are
    # still on disk — the anti-join hides them)
    assert not shared_fps & {fp for _, fp in got}
    # the pinned v0 handle still reads its original files unchanged
    assert {r["fp"] for r in idx.winnow.collect()} == v0_fps
    # write ∝ increment: v1's sig/posting bytes ≪ v0's (3 docs vs 8,
    # and no base rewrite)
    def table_bytes(root, name):
        d = os.path.join(root, name)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert table_bytes(str(tmp_path / "v1"), "sigs") < table_bytes(
        str(tmp_path / "v0"), "sigs"
    )
    n_v1_postings = spark.read.parquet(str(tmp_path / "v1") + "/winnow").count()
    n_inc_postings = winnow_fp_stream(inc).count()
    assert n_v1_postings <= n_inc_postings


def test_two_refresh_chain_store_equals_recompute(spark, tmp_path):
    """v0 → merge → v1 → merge → v2 on a seeded random corpus: after EACH
    refresh, all three read-back sketch surfaces equal a from-scratch
    recompute over the union corpus — fps (min-keeper election), sigs
    (union), winnow (capped view) — including fps that cross the df-cap
    at DIFFERENT versions. This is the multi-version manifest's exactness
    contract; the single-merge tests can't see a v1-written posting being
    hidden by a v2 cap crossing."""
    import random

    from spark_ml_algo_lib_master_tongji_spark.functions import text as TXT
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        WINNOW_K,
        WINNOW_W,
        winnow_fp_stream,
    )

    rng = random.Random(2020)
    run_a = " ".join(f"ha{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    run_b = " ".join(f"hb{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    cap = dedup.WINNOW_DF_MAX

    def doc(i, runs):
        pre = " ".join(f"w{rng.randrange(40)}" for _ in range(rng.randrange(3, 9)))
        post = " ".join(f"z{rng.randrange(40)}" for _ in range(rng.randrange(3, 9)))
        return (i, f"{pre} {' '.join(runs)} {post}" if runs else f"{pre} {post}")

    # run_a: cap-1 docs at v0, crosses at v1. run_b: spread so it crosses
    # only at v2. Plus plain docs and one exact cross-version duplicate.
    base_rows = (
        [doc(i, [run_a]) for i in range(cap - 1)]
        + [doc(100 + i, [run_b]) for i in range(3)]
        + [doc(200 + i, []) for i in range(10)]
    )
    inc1_rows = (
        [doc(300 + i, [run_a]) for i in range(2)]  # a crosses (cap+1 total)
        + [doc(400 + i, [run_b]) for i in range(2)]  # b at 5 ≤ cap
        + [doc(500 + i, []) for i in range(5)]
        + [(590, base_rows[200 - 200 + len(base_rows) - 1][1])]  # exact dup
    )
    inc2_rows = (
        [doc(600 + i, [run_b]) for i in range(cap)]  # b crosses now
        + [doc(700 + i, []) for i in range(5)]
        + [(790, inc1_rows[0][1])]  # exact dup of a v1 doc
    )
    schema = "doc_id long, text string"
    base = spark.createDataFrame(base_rows, schema)
    inc1 = spark.createDataFrame(inc1_rows, schema)
    inc2 = spark.createDataFrame(inc2_rows, schema)

    def check(idx, union_df):
        got_w = sorted(tuple(r) for r in idx.winnow.select("doc_id", "fp").collect())
        want_w = sorted(
            tuple(r)
            for r in dedup.capped_postings(winnow_fp_stream(union_df)).collect()
        )
        assert got_w == want_w
        want_fps = sorted(
            tuple(r)
            for r in union_df.select(
                TXT.fingerprint(F.col("text")).alias("fp"), "doc_id"
            )
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keeper_doc_id"))
            .collect()
        )
        got_fps = sorted(
            tuple(r) for r in idx.fps.select("fp", "keeper_doc_id").collect()
        )
        assert got_fps == want_fps
        want_sigs = sorted(
            tuple(r) for r in dedup.minhash_signatures(union_df).collect()
        )
        got_sigs = sorted(tuple(r) for r in idx.sigs.select("doc_id", "sig").collect())
        assert got_sigs == want_sigs

    idx0 = dedup.build_dedup_index(base, str(tmp_path / "v0"))
    check(idx0, base)
    idx1 = dedup.merge_dedup_index(idx0, inc1, str(tmp_path / "v1"))
    check(idx1, base.unionByName(inc1))
    idx2 = dedup.merge_dedup_index(idx1, inc2, str(tmp_path / "v2"))
    u2 = base.unionByName(inc1).unionByName(inc2)
    check(idx2, u2)
    # the engineered crossings actually happened at different versions —
    # the winnowing guarantee pins exactly ONE fp per shared run: a
    # K+W−1-token run has exactly one all-inside window, whose min (over
    # the run's own W gram hashes) is context-independent.
    import hashlib

    def run_fp(run: str) -> int:
        t = run.split(" ")
        grams = [
            " ".join(t[i : i + WINNOW_K]) for i in range(len(t) - WINNOW_K + 1)
        ]
        return min(
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
        )

    v0_fps = {r["fp"] for r in idx0.winnow.collect()}
    v1_fps = {r["fp"] for r in idx1.winnow.collect()}
    v2_fps = {r["fp"] for r in idx2.winnow.collect()}
    fa, fb = run_fp(run_a), run_fp(run_b)
    assert fa in v0_fps and fa not in v1_fps and fa not in v2_fps
    assert fb in v0_fps and fb in v1_fps and fb not in v2_fps
    # pinned handles keep reading their own manifests
    assert {r["fp"] for r in idx0.winnow.collect()} == v0_fps
    assert {r["fp"] for r in idx1.winnow.collect()} == v1_fps


def _store_surfaces(idx):
    spark = idx.sigs.sparkSession
    return (
        sorted(tuple(r) for r in idx.fps.select("fp", "keeper_doc_id").collect()),
        sorted(tuple(r) for r in idx.sigs.select("doc_id", "sig").collect()),
        sorted(tuple(r) for r in idx.winnow.select("doc_id", "fp").collect()),
        sorted(
            tuple(r) for r in idx.winnow_df(spark).select("fp", "df").collect()
        ),
        sorted(
            r["fp"]
            for r in spark.read.parquet(f"{idx.path}/winnow_overcap").collect()
        ),
    )


def test_compacted_store_equals_fresh_build(spark, tmp_path):
    """compact_dedup_index rewrites an N-root manifest as one root whose
    every surface equals a from-scratch build over the union corpus, and
    a refresh chained onto the compacted base stays exact (round-9
    verdict item 6)."""
    import random

    rng = random.Random(7)

    def doc(i):
        return (
            i,
            " ".join(f"t{rng.randrange(60)}" for _ in range(rng.randrange(6, 14))),
        )

    schema = "doc_id long, text string"
    base = spark.createDataFrame([doc(i) for i in range(15)], schema)
    inc1 = spark.createDataFrame(
        [doc(100 + i) for i in range(6)] + [(190, base.collect()[0][1])], schema
    )
    inc2 = spark.createDataFrame([doc(200 + i) for i in range(5)], schema)
    idx = dedup.build_dedup_index(base, str(tmp_path / "v0"))
    idx = dedup.merge_dedup_index(idx, inc1, str(tmp_path / "v1"))
    idx = dedup.merge_dedup_index(idx, inc2, str(tmp_path / "v2"))
    u = base.unionByName(inc1).unionByName(inc2)

    compacted = dedup.compact_dedup_index(idx, str(tmp_path / "compact"))
    fresh = dedup.build_dedup_index(u, str(tmp_path / "fresh"))
    assert len(compacted.roots) == 1
    assert _store_surfaces(compacted) == _store_surfaces(fresh)

    # a live root is refused as the target
    import pytest

    with pytest.raises(ValueError, match="live version root"):
        dedup.compact_dedup_index(idx, str(tmp_path / "v1"))

    # refresh chained onto the compacted base stays exact
    inc3 = spark.createDataFrame(
        [doc(300 + i) for i in range(4)] + [(390, inc2.collect()[0][1])], schema
    )
    after = dedup.merge_dedup_index(compacted, inc3, str(tmp_path / "v3"))
    fresh2 = dedup.build_dedup_index(
        u.unionByName(inc3), str(tmp_path / "fresh2")
    )
    assert _store_surfaces(after) == _store_surfaces(fresh2)


def test_fps_refresh_writes_delta_only(spark, tmp_path):
    """The refresh's fps table holds ONLY new-or-improved election rows
    (round-9 verdict item 3 — the former corpus-wide rewrite); an
    increment of pure losing duplicates writes an EMPTY but readable fps
    delta and the merged election is unchanged."""
    schema = "doc_id long, text string"
    texts = [f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(10)]
    base = spark.createDataFrame(list(enumerate(texts)), schema)
    idx = dedup.build_dedup_index(base, str(tmp_path / "v0"))

    # inc1: 2 brand-new texts + 1 losing duplicate (doc_id above keeper)
    inc1 = spark.createDataFrame(
        [(100, "newone x y z"), (101, "newtwo p q r"), (102, texts[3])], schema
    )
    idx1 = dedup.merge_dedup_index(idx, inc1, str(tmp_path / "v1"))
    v1_fps = spark.read.parquet(str(tmp_path / "v1" / "fps"))
    got = {
        (r["fp"], r["keeper_doc_id"]) for r in v1_fps.collect()
    }
    assert len(got) == 2  # only the two NEW fps; the losing dup wrote no row
    assert {k for _, k in got} == {100, 101}

    # inc2: all losing duplicates → EMPTY delta, still readable
    inc2 = spark.createDataFrame([(200, texts[0]), (201, texts[1])], schema)
    idx2 = dedup.merge_dedup_index(idx1, inc2, str(tmp_path / "v2"))
    assert spark.read.parquet(str(tmp_path / "v2" / "fps")).count() == 0
    # merged election identical to before the no-op refresh
    assert sorted(
        tuple(r) for r in idx2.fps.select("fp", "keeper_doc_id").collect()
    ) == sorted(tuple(r) for r in idx1.fps.select("fp", "keeper_doc_id").collect())

    # an increment doc with a SMALLER doc_id than the keeper wins the
    # election — the improved row is in the delta and the merged view
    inc3 = spark.createDataFrame([(-5, texts[0])], schema)
    idx3 = dedup.merge_dedup_index(idx2, inc3, str(tmp_path / "v3"))
    v3 = {
        (r["fp"], r["keeper_doc_id"])
        for r in spark.read.parquet(str(tmp_path / "v3" / "fps")).collect()
    }
    assert {k for _, k in v3} == {-5}
    merged = dict(
        (r["fp"], r["keeper_doc_id"]) for r in idx3.fps.collect()
    )
    fp0 = next(iter(v3))[0]
    assert merged[fp0] == -5


def test_env_index_dir_reuses_complete_store(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_INDEX_DIR = deliberate cross-session reuse: a COMPLETE
    store at the stable path is read back, never rebuilt or rmtree'd (a
    concurrent reader's files must survive); an incomplete one (missing
    _SUCCESS) is rebuilt in place."""
    import os

    from spark_ml_algo_lib_master_tongji_spark import derive

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    def clear():
        app = spark.sparkContext.applicationId
        for k in [k for k in derive._MEMO if k[0] == app and "dedup_index" in str(k)]:
            del derive._MEMO[k]

    clear()
    cat = Catalog(spark, SF_ORACLE)
    idx1 = dedup._dedup_index(cat)
    marker = os.path.join(idx1.path, "fps", "_SUCCESS")
    mtime1 = os.path.getmtime(marker)
    n1 = idx1.winnow.count()
    clear()
    idx2 = dedup._dedup_index(cat)  # fresh build() call, same env path
    assert idx2.path == idx1.path
    assert os.path.getmtime(marker) == mtime1  # reused, not rewritten
    assert idx2.winnow.count() == n1
    # incomplete store (lost _SUCCESS) → rebuilt in place
    os.remove(marker)
    clear()
    idx3 = dedup._dedup_index(cat)
    assert os.path.exists(marker)
    assert idx3.winnow.count() == n1


def test_retire_roots_after_compact(spark, tmp_path):
    """retire_roots deletes exactly the version roots the compacted
    manifest no longer references; the survivor stays intact and
    readable, and a refresh chained on top stays exact (round-10 verdict
    item 5). Remote roots refuse up front, deleting nothing."""
    import os

    import pytest

    schema = "doc_id long, text string"
    base = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(12)], schema
    )
    inc1 = spark.createDataFrame([(100, "newone x y z w")], schema)
    idx = dedup.build_dedup_index(base, str(tmp_path / "v0"))
    idx = dedup.merge_dedup_index(idx, inc1, str(tmp_path / "v1"))
    compacted = dedup.compact_dedup_index(idx, str(tmp_path / "compact"))

    # remote root in the manifest → all-or-nothing refusal
    fake = dedup.DedupIndex.__new__(dedup.DedupIndex)
    fake.roots = [str(tmp_path / "v0"), "s3a://bucket/store/v1"]
    with pytest.raises(ValueError, match="local roots"):
        dedup.retire_roots(fake, compacted)
    assert os.path.isdir(tmp_path / "v0")  # nothing was deleted

    dead = dedup.retire_roots(idx, compacted)
    assert sorted(dead) == [str(tmp_path / "v0"), str(tmp_path / "v1")]
    assert not os.path.exists(tmp_path / "v0")
    assert not os.path.exists(tmp_path / "v1")
    assert os.path.isdir(tmp_path / "compact")

    # the survivor is readable and a refresh chain on top stays exact
    reopened = dedup.DedupIndex(spark, compacted.roots)
    inc2 = spark.createDataFrame([(200, "newtwo p q r s")], schema)
    after = dedup.merge_dedup_index(reopened, inc2, str(tmp_path / "v2"))
    fresh = dedup.build_dedup_index(
        base.unionByName(inc1).unionByName(inc2), str(tmp_path / "fresh")
    )
    assert _store_surfaces(after) == _store_surfaces(fresh)
    # retiring against itself is a no-op
    assert dedup.retire_roots(reopened, after) == []


def test_publish_store_lock(tmp_path):
    """_publish_store: adopts a complete competitor store (dropping its
    own build), replaces an incomplete leftover, steals a stale lock,
    and waits out a briefly-held live lock (round-10 verdict item 6)."""
    import os
    import threading
    import time

    def mk_store(path, tag):
        for t in ("fps", "sigs", "winnow", "winnow_df", "winnow_overcap"):
            os.makedirs(os.path.join(path, t))
            open(os.path.join(path, t, "_SUCCESS"), "w").close()
        with open(os.path.join(path, "tag"), "w") as f:
            f.write(tag)

    def tag_of(path):
        return open(os.path.join(path, "tag")).read()

    # 1) complete store already at path → ours is dropped, theirs kept
    path, tmp = str(tmp_path / "a"), str(tmp_path / "a.build-x")
    mk_store(path, "winner")
    mk_store(tmp, "loser")
    dedup._publish_store(tmp, path)
    assert not os.path.exists(tmp) and tag_of(path) == "winner"

    # 2) incomplete leftover at path → replaced by ours
    path, tmp = str(tmp_path / "b"), str(tmp_path / "b.build-x")
    mk_store(path, "half")
    os.remove(os.path.join(path, "fps", "_SUCCESS"))
    mk_store(tmp, "ours")
    dedup._publish_store(tmp, path)
    assert tag_of(path) == "ours" and not os.path.exists(f"{path}.publish-lock")

    # 3) stale lock (older than the bound) is stolen
    path, tmp = str(tmp_path / "c"), str(tmp_path / "c.build-x")
    mk_store(tmp, "ours")
    lock = f"{path}.publish-lock"
    os.mkdir(lock)
    old = time.time() - dedup._PUBLISH_LOCK_STALE_SEC - 5
    os.utime(lock, (old, old))
    dedup._publish_store(tmp, path)
    assert tag_of(path) == "ours" and not os.path.exists(lock)

    # 4) live lock blocks until released, then publish proceeds
    path, tmp = str(tmp_path / "d"), str(tmp_path / "d.build-x")
    mk_store(tmp, "ours")
    lock = f"{path}.publish-lock"
    os.mkdir(lock)
    t = threading.Timer(0.3, os.rmdir, args=(lock,))
    t.start()
    t0 = time.monotonic()
    dedup._publish_store(tmp, path)
    t.join()
    assert time.monotonic() - t0 >= 0.25  # actually waited for the holder
    assert tag_of(path) == "ours"


def test_same_store_path_local_spellings():
    """The duplicate-root guard treats anything without '://' as a local
    path (round-10 ADVICE: urlparse mis-read a ':' first segment as a
    scheme and stripped '?'/'#' as query/fragment)."""
    same = dedup._same_store_path
    assert same("weird:name/store", "weird:name/store")
    assert same("./x/../store", "store")
    assert not same("store?v=1", "store")  # '?' is part of a local name
    assert not same("store#frag", "store")
    assert same("file:///tmp/store", "/tmp/store")
    assert same("hdfs://nn:8020/a/b/../b", "hdfs://NN:8020/a/b")
    assert not same("s3a://bucket/store", "s3a://other/store")


def test_gc_shared_stores(tmp_path):
    """Shared-root housekeeping: orphaned old stores (and stale .build-*
    leftovers) are deleted; live-fixture keys and young dirs survive
    regardless of key (round-10 ADVICE)."""
    import os
    import time

    root = str(tmp_path / "stores")
    os.makedirs(root)
    live_key = dedup._store_cache_key(SF_ORACLE)
    old = time.time() - 8 * 86400

    def mk(name, aged):
        p = os.path.join(root, name)
        os.makedirs(p)
        if aged:
            os.utime(p, (old, old))
        return p

    live_old = mk(live_key, aged=True)  # live fixture key: kept even old
    live_tmp = mk(f"{live_key}.build-app1", aged=True)  # live key leftover
    orphan_old = mk("deadbeef0000", aged=True)
    orphan_tmp = mk("deadbeef0000.build-app2", aged=True)
    orphan_new = mk("cafebabe0000", aged=False)  # young: maybe publishing

    dead = dedup.gc_shared_stores(root, live_sf_dirs=(SF_ORACLE,))
    assert sorted(dead) == sorted([orphan_old, orphan_tmp])
    assert os.path.isdir(live_old) and os.path.isdir(live_tmp)
    assert os.path.isdir(orphan_new)
    assert not os.path.exists(orphan_old)
    # missing root is a no-op
    assert dedup.gc_shared_stores(str(tmp_path / "nope")) == []


def test_delta_near_text_short_doc_is_empty_string(spark):
    """<3-token docs produce '' (not NULL) as the near-dup mutated text —
    the contract the oracle's coalesce mirrors."""
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "a b c d")], "doc_id long, text string"
    )
    t = F.split(F.col("text"), " ")
    out = {
        r["doc_id"]: r["r"]
        for r in df.select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(t, 3, F.greatest(F.size(t), F.lit(1)))
            ).alias("r"),
        ).collect()
    }
    assert out == {1: "", 2: "", 3: "c d"}


def test_estimator_anchor_oracles(spark, duck):
    """ml_est_kmeans_wssse / ml_est_linreg_rmse — the round-8 estimator
    promotions: value-hash match incl. the TRUE anchor bit."""
    from spark_ml_algo_lib_master_tongji_spark.operators import ml_estimators as me

    cat = Catalog(spark, SF_ORACLE)
    o = all_oracles()
    w = me.ml_est_kmeans_wssse(cat)
    assert_match(w, duck, o["ml_est_kmeans_wssse"], "ml_est_kmeans_wssse")
    assert w.first()["est_in_band"] is True
    r = me.ml_est_linreg_rmse(cat)
    assert_match(r, duck, o["ml_est_linreg_rmse"], "ml_est_linreg_rmse")
    assert r.first()["est_within_tol"] is True


def test_estimator_anchor_oracles_r9(spark, duck):
    """ml_est_logreg_acc / ml_est_als_mse — the round-9 estimator
    promotions: value-hash match incl. the TRUE anchor bit, and the
    anchored metric actually clears its deterministic twin with margin
    (the band's job is catching degenerate fits, so check the degenerate
    levels too: LR well above the majority baseline, ALS well below the
    variance)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import ml_estimators as me

    cat = Catalog(spark, SF_ORACLE)
    o = all_oracles()
    a = me.ml_est_logreg_acc(cat)
    assert_match(a, duck, o["ml_est_logreg_acc"], "ml_est_logreg_acc")
    arow = a.first()
    assert arow["est_in_band"] is True
    assert arow["centroid_acc"] > 2 * arow["majority_acc"]
    assert me._logreg_est_acc(cat) > 2 * arow["majority_acc"]
    m = me.ml_est_als_mse(cat)
    assert_match(m, duck, o["ml_est_als_mse"], "ml_est_als_mse")
    mrow = m.first()
    assert mrow["est_in_band"] is True
    assert mrow["baseline_mse"] > 0


def test_round10_promotion_oracles(spark, duck):
    """The round-10 rows-only promotions: the exact spill-tree search and
    its vote are FULL value-hash rows against the brute-force twin (the
    search is exact, so brute force is its ground truth); the IVF /
    ALS-recommend / sampled-betweenness anchors hash-match with every
    boolean TRUE and their measured metric clears the floor with margin
    over the degenerate level."""
    from spark_ml_algo_lib_master_tongji_spark.operators import (
        graph_extra as ge,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators import knn as K
    from spark_ml_algo_lib_master_tongji_spark.operators import (
        ml_estimators as me,
    )

    cat = Catalog(spark, SF_ORACLE)
    o = all_oracles()

    hits = K.ml_knn_spilltree(cat)
    assert_match(hits, duck, o["ml_knn_spilltree"], "ml_knn_spilltree")
    assert_match(
        K.ml_knn_spilltree_classifier(cat),
        duck,
        o["ml_knn_spilltree_classifier"],
        "ml_knn_spilltree_classifier",
    )

    r = K.sim_ivf_recall(cat)
    assert_match(r, duck, o["sim_ivf_recall"], "sim_ivf_recall")
    assert r.first()["recall_ok"] is True

    a = me.ml_est_als_rec_topk(cat)
    assert_match(a, duck, o["ml_est_als_rec_topk"], "ml_est_als_rec_topk")
    arow = a.first()
    assert arow["sorted_ok"] is True and arow["est_in_band"] is True
    assert arow["n_recs"] == 3 * arow["n_users"]

    b = ge.graph_betweenness_overlap(cat)
    assert_match(
        b, duck, o["graph_betweenness_overlap"], "graph_betweenness_overlap"
    )
    brow = b.first()
    assert brow["overlap_ok"] is True
    # the floor genuinely separates the estimator from a random top-k set
    assert ge.BETW_OVERLAP_FLOOR > 2 * brow["k"] / brow["n_verts"]


def test_combined_estimator_anchor_rows(spark, duck):
    """ml_est_clf_acc_anchors / ml_est_reg_rmse_anchors / ml_est_lda_ppx —
    the nine-estimator promotion rows: value-hash match incl. every TRUE
    bit; the shared scalars equal the plain metric queries' outputs (one
    fit serves both); the bands genuinely separate fitted from degenerate
    (majority / constant-mean / vocab-blind) at fixture scale."""
    import math

    from spark_ml_algo_lib_master_tongji_spark.operators import ml_estimators as me

    cat = Catalog(spark, SF_ORACLE)
    o = all_oracles()
    c = me.ml_est_clf_acc_anchors(cat)
    assert_match(c, duck, o["ml_est_clf_acc_anchors"], "ml_est_clf_acc_anchors")
    crow = c.first()
    assert all(
        crow[k] is True
        for k in ("dt_ok", "rf_ok", "gbt_ok", "pipe_ok", "svc_ok", "lrb_ok")
    )
    # a degenerate plurality predictor must fail the floors it anchors
    f = me.TREE_CLF_CENTROID_FLOORS
    assert crow["bin_majority_acc"] < f["gbt"] * crow["bin_centroid_acc"]
    assert 0.126 < f["dt"] * crow["centroid_acc"]  # 10-class majority ceiling
    r = me.ml_est_reg_rmse_anchors(cat)
    assert_match(r, duck, o["ml_est_reg_rmse_anchors"], "ml_est_reg_rmse_anchors")
    rrow = r.first()
    assert all(rrow[k] is True for k in ("dt_ok", "rf_ok", "gbt_ok"))
    # the constant-mean predictor (ratio 1.0) sits outside the band
    assert me.TREE_REG_SIGMA_BAND[1] < 1.0
    ld = me.ml_est_lda_ppx(cat)
    assert_match(ld, duck, o["ml_est_lda_ppx"], "ml_est_lda_ppx")
    lrow = ld.first()
    assert lrow["est_in_band"] is True
    assert lrow["uniform_logppx"] == round(math.log(lrow["vocab"]), 4)
    # shared-fit consistency: plain metric queries emit the same scalars
    assert me.ml_est_lda(cat).first()["vocab"] == lrow["vocab"]
    assert me.ml_est_dt_classifier(cat).first()["accuracy"] == me._dt_clf_acc(cat)
    assert me.ml_est_gbt_regressor(cat).first()["rmse"] == me._gbt_reg_rmse(cat)
    # sparse-PCA trace anchor: SQL-exact total variance + top-k mass band
    from spark_ml_algo_lib_master_tongji_spark.operators import ml_extra

    sp = ml_extra.ml_est_spca_energy(cat)
    assert_match(sp, duck, o["ml_est_spca_energy"], "ml_est_spca_energy")
    sprow = sp.first()
    assert sprow["est_in_band"] is True
    # the mass equals the spectrum row's sum (shared fit), and the flat
    # spectrum's k/vocab mass sits outside the band floor
    mass = sum(
        r["explained_variance"] for r in ml_extra.ml_est_pca_sparse(cat).collect()
    )
    assert ml_extra.SPCA_MASS_BAND[0] <= mass <= ml_extra.SPCA_MASS_BAND[1]
    assert ml_extra.SPCA_K / ml_extra.SPCA_VOCAB < ml_extra.SPCA_MASS_BAND[0]


def test_substring_spans_are_real_and_cover_recrawls(spark):
    """Every reported span must be a REAL duplicated substring — the token
    slices [a_start, a_end] of doc_a and [b_start, b_end] of doc_b must be
    identical text (the md5-gram islands can't fake this) — and every
    exact re-crawl pair that survives the winnow candidate gate must get
    a full-document span (a_start = 1, a_end = doc token count)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        _docs_with_recrawl,
        dedup_substring_spans,
        dedup_winnow_pairs,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    toks = {
        r["doc_id"]: r["text"].split(" ")
        for r in _docs_with_recrawl(cat).collect()
    }
    spans = dedup_substring_spans(cat).collect()
    assert spans
    for r in spans:
        a = toks[r["doc_a"]][r["a_start"] - 1 : r["a_end"]]
        b = toks[r["doc_b"]][r["b_start"] - 1 : r["b_end"]]
        assert a == b and len(a) == r["n_tokens"], r
    full = {
        (r["doc_a"], r["doc_b"])
        for r in spans
        if r["a_start"] == 1 and r["a_end"] == len(toks[r["doc_a"]])
        and r["b_start"] == 1 and r["b_end"] == len(toks[r["doc_b"]])
    }
    recrawl_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_winnow_pairs(cat).collect()
        if r["doc_b"] == r["doc_a"] + 1_000_000
    }
    assert recrawl_pairs and recrawl_pairs <= full


def test_span_removal_splices_real_duplicates_and_keeps_the_rest(spark):
    """Span removal must (a) keep the keeper copies whole (no recrawl
    ORIGINAL appears in the output — only larger-id victims), (b) remove
    exactly the span-covered positions: re-splicing each victim's kept
    tokens from the raw text must reproduce clean_text, and (c) fully
    blank every exact re-crawl copy (its span covers the whole doc)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        _docs_with_recrawl,
        dedup_substring_spans,
        pipeline_span_removal,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    toks = {
        r["doc_id"]: r["text"].split(" ")
        for r in _docs_with_recrawl(cat).collect()
    }
    spans = {}
    for r in dedup_substring_spans(cat).collect():
        spans.setdefault(r["doc_b"], []).append((r["b_start"], r["b_end"]))
    out = {r["doc_id"]: r for r in pipeline_span_removal(cat).collect()}
    assert set(out) == set(spans)
    for doc_id, r in out.items():
        t = toks[doc_id]
        covered = set()
        for s, e in spans[doc_id]:
            covered.update(range(s, e + 1))
        want_clean = " ".join(
            tok for i, tok in enumerate(t, start=1) if i not in covered
        )
        assert r["clean_text"] == want_clean, doc_id
        assert r["n_tokens_before"] == len(t)
        assert r["n_tokens_removed"] == len(covered)
    recrawl_victims = [d for d in out if d >= 1_000_000]
    assert recrawl_victims
    for d in recrawl_victims:
        assert out[d]["clean_text"] == "" and out[d]["n_tokens_removed"] == len(
            toks[d]
        )
