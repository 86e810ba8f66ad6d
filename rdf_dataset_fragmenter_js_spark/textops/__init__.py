"""Large-scale training-data-pipeline operators over document/embedding
tables: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding near-dup), similarity search (brute-force + bucketed ANN), text
analysis (lang-id, quality, tokens, fingerprints) and multimodal plumbing.

Engine-portability note: where results must be verifiable against an
independent SQL oracle, hashing is md5-based (identical in Spark and DuckDB)
and MinHash hashes each shingle once by its md5 prefix, then takes integer
minima of affine permutations mod 2^31 − 1 — no engine-specific hash
functions in observable outputs.
"""
