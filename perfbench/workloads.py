"""The benchmark's workloads: which registry queries run, in which fixed
order, on which input.

Each workload is a subset of a broader query family, sized so that one
pass (a cold batch job in a fresh JVM) takes about 20 s on a 4-core host,
so a run of two passes stays under a minute even when co-tenants slow the
host by a third.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: registry query names, run in this order in every pass
    queries: tuple[str, ...]
    #: input kind understood by ``inputs.prepare``
    input: str
    #: table read once after session start (the warm-up read)
    warmup_table: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="graph_iter",
            why="iterative graph algorithms over one shared edge list: many small checkpointed supersteps, so driver and scheduler time dominate",
            queries=(
                "graph_pagerank",
                "graph_connected_components",
            ),
            input="fixture",
            warmup_table="lineitem",
        ),
        Workload(
            name="llm_dedup",
            why="near-duplicate text and embedding dedup on a seeded 3x replicated corpus: dense LSH buckets, executor and shuffle bound",
            queries=(
                "dedup_simhash_pairs",
                "dedup_ngram_jaccard",
                "sim_lsh_bucket_pairs",
            ),
            input="neardup",
            warmup_table="documents",
        ),
    )
}
