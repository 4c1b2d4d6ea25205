"""tripsu_spark — a PySpark-native knowledge-graph construction pipeline.

A from-scratch re-expression of the semantics of sdsc-ordes/tripsu
(reference at /root/reference, Rust, v0.2.0) as idiomatic PySpark:

- pass 1 (``tripsu index``, reference src/index.rs): rdf:type filter +
  per-subject collect_set -> type index table
- pass 2 (``tripsu pseudo``, reference src/pseudo.rs): broadcast index
  joins + rule-driven mask columns + conditional keyed-hash rewrite
- graft layer (no tripsu counterpart): transcript tables
  (conv_id, turn_idx, role, text, tool, ts) -> deterministic triple
  extraction, entity linking, canonical IRI minting, partitioned graph
  materialization with lineage manifests and snapshot resume.

Everything is DataFrame algebra; the only Python UDFs are the
keyed-BLAKE3 pseudonymizer (Arrow-batched pandas UDF) and the
per-conversation ``applyInPandas`` extraction variant.
"""

__version__ = "0.1.0"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
