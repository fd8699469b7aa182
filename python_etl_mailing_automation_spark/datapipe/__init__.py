"""Beyond-reference large-scale training-data pipeline operators.

These are the operations a 100 TB LLM-data pipeline needs on top of the
reference's ETL surface (BASELINE.json north star): deduplication families
(exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
approximate similarity search, text analysis, and multimodal column
plumbing. All are pure DataFrame algebra (no Python UDFs in hot paths)
except the explicitly-stubbed multimodal decoders.

Cross-engine determinism note: hash-based operators use md5 (bit-identical
across engines and platforms) rather than engine-private hash functions,
so results are reproducible and oracle-checkable anywhere.
"""
