"""Operator library — SURVEY.md §2 inventory, Spark-first.

- ``relational``: joins (incl. as-of/range), top-k, keep-latest dedup
  (X1), sessionize
- ``stages``: the reference's Lambda ETL stage contracts T1-T6
- ``dedup``: MinHash/SimHash/Jaccard/embedding near-dup (X2)
- ``similarity``: brute-force + LSH ANN similarity search (X3, X4)
- ``text``: language-ID, quality scoring, token stats, hygiene (X5)
- ``multimodal``: binary-column plumbing + typed metadata (X6)
- ``corpus``: train/eval splits, vocabulary, sequence packing (X8)
"""
