"""Training-data pipeline extensions (SURVEY §7 M5 / BASELINE north-star):
dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search
(brute-force + bucketed ANN), text analysis (lang-id, quality, tokens,
fingerprints), multimodal plumbing.

All hash-based ops use md5-derived 60-bit integers instead of
xxhash64 so the DuckDB oracle can reproduce every value bit-for-bit
(`('0x' || substr(md5(x),1,15))::BIGINT` ≡
`conv(substr(md5(x),1,15),16,10)`), keeping the correctness gate strong.
At cluster scale the same plans hold — the hash function choice only
changes per-row CPU, not the shuffle structure.
"""

from route81_spark.ops import dedup, layout, similarity, temporal, text  # noqa: F401
