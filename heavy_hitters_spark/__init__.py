"""heavy_hitters_spark — a PySpark-native distributed sketch /
approximate-aggregation library with the query capabilities of
mortzdk/heavy-hitters (reference at /root/reference, studied not
ported; see SURVEY.md).

Layers:
- ``core``      numpy mergeable sketches (CountMin, CountSketch,
                MisraGries, HLL, Bloom, KLL) + bit-parity PRNG/hashes
- ``hh``        hierarchical dyadic/k-ary heavy hitters + range queries
- ``spark``     distributed partial-build + tree-merge aggregation,
                lineage/metrics/checkpointing, key extraction
- ``io``        deterministic Common-Crawl-style ``pages`` synthesizer
- ``functions`` training-data-pipeline ops: dedup (exact/MinHash-LSH/
                SimHash), similarity search, text analysis, multimodal
- ``queries``   user-facing query API (top-k, φ-HH, point, distinct,
                quantiles, range)
"""

__version__ = "0.1.0"
