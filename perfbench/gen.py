"""Seeded input generator for the benchmark.

One process, no Spark: numpy draws the rows, pyarrow writes parquet and
DuckDB renders the N-Triples file with the oracle's own SQL
(``tripsu_spark.plans.oracle``), so no program code under test makes
any input. The same seed gives byte-identical files.

    python3 perfbench/gen.py --seed 7 --out /tmp/inputs

Outputs (under ``--out``):

- ``events.parquet``      events in the testdata schema, Zipf-skewed users
- ``triples.nt``          the events' raw triples as N-Triples, rendered by DuckDB
- ``documents.parquet``   documents with planted near-duplicate clusters
- ``embeddings.parquet``  64-d vectors with planted near-duplicate pairs
- ``params.json``         every generator parameter and realised count
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.45, 0.30, 0.10, 0.05, 0.10]
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DIM = 64


@dataclass(frozen=True)
class Params:
    # build: events -> transcripts -> graph table
    n_events: int = 4_000
    n_users: int = 80
    zipf_s: float = 0.7
    # curate: documents + embeddings
    n_docs: int = 200
    doc_words: tuple[int, int] = (30, 60)
    vocab: int = 400
    dup_doc_frac: float = 0.05
    dup_cluster_size: tuple[int, int] = (2, 4)
    dup_word_edits: int = 2
    n_vecs: int = 200
    dup_vec_frac: float = 0.05
    dup_vec_noise: float = 0.05


# The warm-up iteration's inputs: the same shapes, about a fifth of the
# rows. The JVM's first job costs about twice a later one whatever
# the rows (class loading, code generation, Python worker start-up), and
# a smaller first job pays for it in less time.
WARM_UP = Params(n_events=800, n_docs=50, n_vecs=50)


def zipf_users(rng: np.random.Generator, n: int, n_users: int, s: float) -> np.ndarray:
    """``n`` user ids drawn with Zipf(s) activity over ``n_users``; ids
    are a seeded permutation so the busiest user is not always id 0."""
    w = 1.0 / np.arange(1, n_users + 1) ** s
    ranks = rng.choice(n_users, size=n, p=w / w.sum())
    return rng.permutation(n_users)[ranks].astype(np.int64)


def events_table(rng: np.random.Generator, n: int, n_users: int, s: float) -> pa.Table:
    gaps = rng.integers(1_000_000, 240_000_000, size=n)  # 1 s .. 4 min apart
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(TS0_US + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": pa.array(zipf_users(rng, n, n_users, s)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)]
        ),
        "value": pa.array(np.round(rng.random(n) * 100.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _words(rng: np.random.Generator, vocab: int) -> list[str]:
    syll = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "dra", "qen"]
    out: set[str] = set()
    while len(out) < vocab:
        out.add("".join(syll[i] for i in rng.integers(0, len(syll), size=rng.integers(2, 5))))
    return sorted(out)


def documents_table(rng: np.random.Generator, p: Params) -> tuple[pa.Table, int]:
    """Random-word documents; ``dup_doc_frac`` of them are copies of a
    base document with ``dup_word_edits`` words replaced, in clusters of
    ``dup_cluster_size`` (base included)."""
    words = _words(rng, p.vocab)
    n_copies = round(p.n_docs * p.dup_doc_frac)
    texts = [
        " ".join(rng.choice(words, size=rng.integers(*p.doc_words, endpoint=True)))
        for _ in range(p.n_docs - n_copies)
    ]
    copies: list[str] = []
    while len(copies) < n_copies:
        base = texts[rng.integers(0, len(texts))].split()
        for _ in range(min(rng.integers(*p.dup_cluster_size, endpoint=True) - 1, n_copies - len(copies))):
            copy = list(base)
            for pos in rng.integers(0, len(copy), size=p.dup_word_edits):
                copy[pos] = words[rng.integers(0, len(words))]
            copies.append(" ".join(copy))
    texts += copies
    texts = [texts[i] for i in rng.permutation(len(texts))]  # scatter clusters across ids
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{i % 5}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), n_copies


def embeddings_table(rng: np.random.Generator, p: Params) -> tuple[pa.Table, int]:
    """Gaussian 64-d vectors; ``dup_vec_frac`` of them are a noisy copy
    of an earlier vector."""
    vecs = rng.normal(0.0, 0.125, size=(p.n_vecs, DIM))
    n_dup = int(p.n_vecs * p.dup_vec_frac)
    src = rng.choice(p.n_vecs - n_dup, size=n_dup, replace=False)
    vecs[p.n_vecs - n_dup:] = vecs[src] + rng.normal(0.0, 0.125 * p.dup_vec_noise, size=(n_dup, DIM))
    vecs = vecs[rng.permutation(p.n_vecs)].astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), DIM).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(p.n_vecs, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 4, size=p.n_vecs).astype(np.int32)),
    }), n_dup


def render_ntriples(events_path: str, out_path: str) -> int:
    """Raw (unmasked) triples of the events' transcripts as N-Triples
    lines, sorted, rendered by DuckDB from the oracle SQL."""
    import duckdb

    from tripsu_spark.plans.oracle import NTRIPLES_LINE_SQL, TRANSCRIPTS_CTE, TRIPLES_CTE

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        lines = con.execute(
            f"WITH {TRANSCRIPTS_CTE.strip()}, {TRIPLES_CTE.strip()} "
            f"SELECT {NTRIPLES_LINE_SQL} AS line FROM triples ORDER BY line"
        ).fetchall()
    finally:
        con.close()
    with open(out_path, "w", encoding="utf-8", newline="\n") as fh:
        fh.writelines(line + "\n" for (line,) in lines)
    return len(lines)


PARTS = ("events", "ntriples", "documents", "embeddings")


def generate(seed: int, out: str, parts: tuple[str, ...] = PARTS, p: Params = Params()) -> dict:
    """Write the inputs named in ``parts`` for ``seed`` under ``out``;
    returns the params record (also written as ``params.json``). Each
    drawn part has its own random stream (``ntriples`` is rendered from
    the events), so a part's bytes do not depend on which other parts
    are generated."""
    os.makedirs(out, exist_ok=True)
    rngs = {name: np.random.default_rng([seed, k]) for k, name in enumerate(PARTS)}
    realised: dict = {}
    events_path = os.path.join(out, "events.parquet")
    if "events" in parts or "ntriples" in parts:
        events = events_table(rngs["events"], p.n_events, p.n_users, p.zipf_s)
        pq.write_table(events, events_path)
        top = np.bincount(events["user_id"].to_numpy()).max() / p.n_events
        realised.update(events=p.n_events, top_user_share=round(float(top), 4))
    if "ntriples" in parts:
        # drawn from the events, so it needs no random stream of its own
        realised["nt_lines"] = render_ntriples(events_path, os.path.join(out, "triples.nt"))
    if "documents" in parts:
        docs, n_dup = documents_table(rngs["documents"], p)
        pq.write_table(docs, os.path.join(out, "documents.parquet"))
        realised.update(documents=docs.num_rows, planted_dup_docs=n_dup)
    if "embeddings" in parts:
        vecs, n_dup = embeddings_table(rngs["embeddings"], p)
        pq.write_table(vecs, os.path.join(out, "embeddings.parquet"))
        realised.update(vectors=vecs.num_rows, planted_dup_vectors=n_dup)
    record = {"seed": seed, "params": asdict(p), "realised": realised}
    with open(os.path.join(out, "params.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    return record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.seed, args.out)["realised"]))
    return 0


if __name__ == "__main__":
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    raise SystemExit(main())
