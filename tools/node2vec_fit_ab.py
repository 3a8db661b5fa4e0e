"""Decompose ``graph_node2vec_embeddings``'s cost into walk
materialization vs Word2Vec fit — committed so the PLANS claim about its
5.78× decade ratio (round-12 slice) stays reproducible (the
``funnel_shape_ab`` convention).

Round-12 verdict item 4: the embeddings row was the slice's second-worst
decade ratio, hypothesized training-bound (Word2Vec fit over a 10× walk
corpus), with the instruction to (a) time fit vs walk materialization
separately and (b) record the knob that controls the fit cost. Stages,
each timed after the previous stage's result is persisted+materialized,
so no stage re-times its upstream:

- **walks**: the exact uniform walk corpus (``_uniform_walks`` called
  directly — bypasses the ``derive.frame`` memo so the real cost is
  visible), persisted + counted.
- **sentences**: the groupBy(walk_id) collect_list reshape the fit
  consumes, from the persisted walks.
- **fit(dim)**: seeded spark.ml Word2Vec on the persisted sentences, at
  vectorSize 8 / 16 (shipped) / 32, windowSize 3, minCount 1 — the knob
  sweep. Vocabulary size is asserted identical across dims (same corpus,
  same minCount), so the sweep measures cost, not a changed model.

If walks were a meaningful share, the fix would be persisting the walk
corpus across the three node2vec rows — but that already exists
(``derive.frame``: the registry's embeddings row consumes the same
session-shared walk table as the two walk rows; this tool bypasses it
only to measure).

Round-14 extension (round-13 verdict item 4): a ``numPartitions``
∈ {1, 8} arm at the 10× fixture — spark.ml ``Word2Vec``'s own scale
lever, kept at 1 in the shipped row for seeded determinism. The arm
PROVES the documented remediation instead of just citing it: fit time
per partition count is recorded, vocab identity across arms is
asserted (partitioning cannot change the vocabulary), and quality of
the scaled arm is anchored by top-10 cosine neighbor CONTAINMENT vs
the numPartitions=1 reference on a deterministic node sample (exact
hashes cannot be expected — each partition applies its gradient
updates independently — so containment far above the 10/|V| chance
level is the right bar).

Usage: python tools/node2vec_fit_ab.py [sf_dir ...]  (default sf0.1 + sf1m;
the numPartitions arm runs only at the 10× fixture)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

REPO = Path(__file__).resolve().parent.parent
DIMS = (8, 16, 32)


def timed(label: str, thunk):
    t0 = time.perf_counter()
    out = thunk()
    dt = time.perf_counter() - t0
    print(f"#   {label}: {dt:.2f}s", file=sys.stderr)
    return out, round(dt, 2)


def run(spark, sf_dir: str) -> dict:
    from pyspark.ml.feature import Word2Vec

    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import (
        _uniform_walks,
    )

    cat = Catalog(spark, sf_dir)
    out: dict = {}

    walks = _uniform_walks(cat).persist()
    (_, out["walks_s"]) = timed("walks materialize", walks.count)

    seqs = walks.groupBy("walk_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("step", "node"))),
            lambda s: s["node"].cast("string"),
        ).alias("sentence")
    ).persist()
    (n_walks, out["sentences_s"]) = timed("sentence reshape", seqs.count)
    out["n_walks"] = n_walks

    vocab_sizes = set()
    for dim in DIMS:
        def fit(d=dim):
            m = Word2Vec(
                vectorSize=d,
                windowSize=3,
                minCount=1,
                seed=2020,
                inputCol="sentence",
            ).fit(seqs)
            return m.getVectors().count()

        n_vocab, out[f"fit_dim{dim}_s"] = timed(f"w2v fit dim={dim}", fit)
        vocab_sizes.add(n_vocab)
    assert len(vocab_sizes) == 1, vocab_sizes  # same corpus, same vocab
    out["n_vocab"] = vocab_sizes.pop()
    total = out["walks_s"] + out["sentences_s"] + out["fit_dim16_s"]
    out["fit_share_dim16"] = round(out["fit_dim16_s"] / total, 3)
    if Path(sf_dir).name == "testdata_sf1m":
        out.update(_parts_ab(seqs))
    seqs.unpersist(blocking=False)
    walks.unpersist(blocking=False)
    return out


def _parts_ab(seqs, topk: int = 10, n_sample: int = 50) -> dict:
    """numPartitions {1, 8} arm: fit time, vocab identity, and top-k
    cosine neighbor containment of the scaled arm vs the serial
    reference on a deterministic every-Nth node sample.

    Absolute containment numbers need a baseline to be interpretable:
    top-10 neighbor sets in a 200k-vocab / dim-16 space are highly
    sensitive to ANY training perturbation, so the third arm refits
    serially (numPartitions=1) with a different seed — the
    "training-noise floor". The scaled arm passes if its containment is
    far above chance AND at least comparable to the seed-noise
    baseline: then switching numPartitions is no more destructive than
    re-seeding a serial run, which nobody considers a quality change."""
    import numpy as np
    from pyspark.ml.feature import Word2Vec

    out: dict = {}
    vecs: dict[str, dict] = {}
    for label, nparts, seed in (
        ("parts1", 1, 2020),
        ("parts8", 8, 2020),
        ("seedvar", 1, 2021),
    ):
        def fit(p=nparts, s=seed):
            m = Word2Vec(
                vectorSize=16,
                windowSize=3,
                minCount=1,
                seed=s,
                numPartitions=p,
                inputCol="sentence",
            ).fit(seqs)
            return {
                r["word"]: np.asarray(r["vector"], dtype=float)
                for r in m.getVectors().collect()
            }

        vecs[label], out[f"fit_{label}_s"] = timed(
            f"w2v fit numPartitions={nparts} seed={seed}", fit
        )
    assert set(vecs["parts1"]) == set(vecs["parts8"]), (
        "vocab must not depend on parts"
    )
    words = sorted(vecs["parts1"])
    nv = len(words)

    def norm_mat(v):
        m = np.stack([v[w] for w in words])
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    mref = norm_mat(vecs["parts1"])
    sample = list(range(0, nv, max(1, nv // n_sample)))[:n_sample]
    ref_top = {
        i: set(np.argsort(-(mref @ mref[i]))[1 : topk + 1]) for i in sample
    }
    for label in ("parts8", "seedvar"):
        ma = norm_mat(vecs[label])
        hits = sum(
            len(ref_top[i] & set(np.argsort(-(ma @ ma[i]))[1 : topk + 1]))
            for i in sample
        )
        out[f"{label}_containment_at10"] = round(
            hits / (len(sample) * topk), 3
        )
    out["containment_chance_level"] = round(topk / nv, 4)
    # the scaled arm must preserve neighborhood structure far above the
    # 10/|V| chance level AND roughly match the serial re-seed noise
    # floor; exact-match is not the bar (independent per-partition
    # gradient application)
    assert out["parts8_containment_at10"] > 10 * out["containment_chance_level"]
    assert (
        out["parts8_containment_at10"]
        >= 0.5 * out["seedvar_containment_at10"]
    )
    return out


def main() -> None:
    from spark_ml_algo_lib_master_tongji_spark.session import get_session

    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        str(REPO / "testdata_sf1m"),
    ]
    spark = get_session(app_name="node2vec-fit-ab", shuffle_partitions=32)
    results = {}
    for sf_dir in sf_dirs:
        print(f"# {sf_dir}", file=sys.stderr)
        results[Path(sf_dir).name] = run(spark, sf_dir)
        spark.catalog.clearCache()
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
