"""mineru_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the document→structured-text capabilities of
opendatalab/MinerU (reference read-only at /root/reference) over tables of
multi-turn agent transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.

Architecture (SURVEY.md §7):

- ``datagen``    — deterministic synthetic transcript corpus (seeded purely by
                   ``(conv_id, turn_idx)`` hashes, no RNG state).
- ``kernels``    — pure Python/numpy/pandas extraction kernels; the single
                   source of truth used both by the Spark UDFs and by the
                   pytest oracle (per-turn text equality).
- ``pipeline``   — the Spark job: office-run key split → ``mapInPandas``
                   extraction + fused office-run finalize → sink with
                   lineage + metrics.
- ``queries``    — relational query pack (joins/aggs/windows/sorts) with
                   DuckDB-checkable SQL oracles.
- ``textops``    — corpus-scale text ops: dedup (exact/minhash/simhash),
                   language id, quality scoring, token counts, fingerprints.
- ``simsearch``  — embedding similarity search (brute-force + LSH-bucketed).
- ``streaming``  — Structured Streaming ingestion with exactly-once dedup.
"""

__version__ = "0.1.0"
