"""Benchmark inputs.

Two kinds, both built inside the checkout:

* ``fixture``: a committed copy of the sf0.01 test fixture's ``lineitem``,
  ``documents`` and ``embeddings`` (``perfbench/data/sf0.01``, see
  TESTDATA.md; generated with seed 42). Read-only and independent of ``--seed``; the
  artifact records ``input_seed: 42``.
* ``neardup``: the same fixture's ``documents``/``embeddings`` tables
  replicated ``REPLICAS``x with per-replica key offsets. In replicas k>0
  each token is suffixed with probability ``MUTATE_PCT``% by a hash of
  (doc, position, replica) salted with ``--seed``, so replicas are near-
  rather than exact duplicates and every LSH bucket is ``REPLICAS``x
  denser than in the source. Modelled on
  ``tools/scale_testdata.py --mutate-docs``, plus the seed salt.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"
FIXTURE_DIR = DATA / "sf0.01"
FIXTURE_SEED = 42
REPLICAS = 3
MUTATE_PCT = 10

#: table -> key column shifted by replica * (max key + 1)
_NEARDUP_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def neardup_sql(src: str, out: str, table: str, key: str, offset: int, seed: int) -> str:
    """DuckDB COPY statement writing the replicated (and, for documents,
    mutated) ``table`` to ``out``."""
    cols = [f"{key} + r.k * {offset} AS {key}"]
    if table == "documents":
        cols.append(
            "d.* EXCLUDE (doc_id, text), array_to_string(list_transform("
            "string_split(text, ' '), (t, i) -> CASE WHEN r.k > 0 AND "
            f"hash(doc_id * 1000003 + i * 7919 + r.k * 104729 + {int(seed)}) "
            f"% 100 < {MUTATE_PCT} THEN t || '~' || r.k ELSE t END), ' ') AS text"
        )
    else:
        cols.append(f"d.* EXCLUDE ({key})")
    return (
        f"COPY (SELECT {', '.join(cols)} FROM read_parquet('{src}') d, "
        f"(SELECT unnest(range({REPLICAS})) AS k) r ORDER BY 1) "
        f"TO '{out}' (FORMAT parquet)"
    )


def build_neardup(out_dir: Path, seed: int) -> Path:
    """Write the seeded near-duplicate corpus to ``out_dir`` (atomically:
    built in a sibling directory, then renamed) unless it already exists."""
    import duckdb

    if (out_dir / "_SUCCESS").exists():
        return out_dir
    tmp = out_dir.with_name(out_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    con = duckdb.connect()
    try:
        for table, key in _NEARDUP_KEYS.items():
            src = FIXTURE_DIR / f"{table}.parquet"
            top = con.execute(f"SELECT max({key}) FROM read_parquet('{src}')").fetchone()[0]
            con.execute(neardup_sql(str(src), str(tmp / f"{table}.parquet"), table, key, int(top) + 1, seed))
    finally:
        con.close()
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def prepare(kind: str, seed: int, work: Path) -> tuple[str, int]:
    """Directory of the workload's input tables and the seed it was made
    from (the fixture seed for the committed tables)."""
    if kind == "fixture":
        return str(FIXTURE_DIR), FIXTURE_SEED
    if kind == "neardup":
        return str(build_neardup(work / "inputs" / f"neardup_seed{seed}", seed)), seed
    raise ValueError(f"unknown input kind {kind!r}")
