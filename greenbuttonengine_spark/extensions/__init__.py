"""Large-scale training-data pipeline operators, beyond the reference's
own surface (BASELINE.json north star): deduplication, similarity
search, text analysis, multimodal columns.

Everything here is designed 100 TB-first:

* dedup candidate generation is bucket-join shaped (MinHash-LSH bands,
  SimHash bands) — never all-pairs at scale; the exact all-pairs
  variants exist as correctness oracles at small SF.
* similarity search has a brute-force baseline (correct, broadcast
  queries x corpus, no shuffle of the corpus) and an LSH-bucketed
  scale path.
* hot-path math is native Catalyst (higher-order array functions,
  xxhash64, bit ops); Python runs only in batch-at-a-time Arrow
  kernels (mapInPandas / mapInArrow), such as the multimodal feature
  extractors and the blocked similarity scorers.
"""

from . import dedup, similarity, textstats, multimodal  # noqa: F401
