"""Output checker: expected results from the DuckDB oracle, computed
once per seed and cached, and an order-insensitive digest to compare a
run's output against them.

The expected side never runs Spark. It uses the program's declared
oracle SQL (``tripsu_spark.plans.oracle``, ``dedup_minhash_lsh_oracle``,
``dedup_embedding_cosine_oracle``) over the generated files, plus a
Python union-find for near-duplicate clusters (the recursive-CTE
cluster oracle is far too slow at benchmark sizes).
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Iterable

import duckdb


def digest(rows: Iterable[str]) -> dict:
    """Row count plus an order-insensitive hash of every row (duplicates
    included): the sum of each row's first 64 md5 bits, modulo 2**64.
    The oracle outputs are duplicate-free, so a repeated output row
    changes both the count and the hash."""
    n = h = 0
    for r in rows:
        n += 1
        h += int(hashlib.md5(r.encode("utf-8")).hexdigest()[:16], 16)
    return {"rows": n, "hash": f"{h % 2**64:016x}"}


def _query(views: dict[str, str], sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def expected_lines(events_path: str) -> dict:
    """Digest of the pseudonymized N-Triples lines the KG pipeline must
    emit for these events (``q_ntriples_lines``: sha256 under
    ``BENCH_SECRET``, default rules)."""
    from tripsu_spark.plans.oracle import q_ntriples_lines

    return digest(line for (line,) in _query({"events": events_path}, q_ntriples_lines()))


def cluster_rows(doc_ids: Iterable[int], pairs: Iterable[tuple[int, int]]) -> list[str]:
    """``doc_id,cluster_id`` rows: cluster_id is the smallest doc_id in
    the connected component of the near-duplicate pair graph."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [f"{d},{find(d)}" for d in parent]


def expected_clusters(documents_path: str, num_hashes: int, band_size: int) -> dict:
    from tripsu_spark.operators.dedup import dedup_minhash_lsh_oracle

    views = {"documents": documents_path}
    # The oracle references its ``sigs`` CTE three times and DuckDB
    # inlines CTEs, which recomputes every signature per reference
    # (10x slower at 128 hashes). Materializing it changes no result.
    sql = dedup_minhash_lsh_oracle(num_hashes, band_size).replace(
        "sigs AS (", "sigs AS MATERIALIZED (", 1
    )
    pairs = _query(views, f"SELECT a, b FROM ({sql})")
    ids = [d for (d,) in _query(views, "SELECT doc_id FROM documents")]
    return digest(cluster_rows(ids, pairs))


def expected_vector_pairs(embeddings_path: str) -> dict:
    from tripsu_spark.operators.similarity import dedup_embedding_cosine_oracle

    rows = _query({"embeddings": embeddings_path}, dedup_embedding_cosine_oracle())
    return digest(f"{a},{b}" for a, b in rows)


def cached(path: str, compute) -> dict:
    """Load ``path`` if present, else ``compute()`` and store it."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value
