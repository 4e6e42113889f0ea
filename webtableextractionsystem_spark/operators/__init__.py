"""Spark DataFrame operators.

extraction.py  the Arrow-batched extraction stage + derived views
fusion.py      entity fusion (A6) as one sorted Arrow fold per partition
dedup.py       exact / MinHash-LSH / SimHash / n-gram Jaccard dedup
similarity.py  embedding search: brute-force, LSH-bucketed, IVF (k-means)
textstats.py   language-ID, quality, token counts (whitespace + BPE-ish),
               md5 + rolling-hash fingerprints
relational.py  joins/windows/anti-join/rollup/top-n/unions/sessionization
urlfilters.py  F1/F2 URL relevance predicates
multimodal.py  binary media columns: schema, real codecs, per-payload
               feature/resize stages
"""
