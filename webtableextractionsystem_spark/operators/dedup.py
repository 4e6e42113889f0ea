"""Deduplication family over the documents table: exact (hash-groupBy),
MinHash+LSH (shingle -> minhash -> band -> bucket-join), 64-bit SimHash
with banded hamming pairs, n-gram Jaccard, and the composed
LSH -> verify -> canonical near-dup pipeline.

Design for 100 TB:

* Everything is built-in DataFrame expressions (whole-stage codegen) —
  shingling via ``transform``/``sequence``/``slice`` higher-order
  functions, hashing via ``md5`` — no Python UDFs anywhere.
* MinHash: one md5-derived 32-bit base hash per shingle (identical in
  both engines) + per-seed affine permutations mod a >2^32 prime, folded
  as explode -> groupBy(min); at cluster scale you'd swap the base hash
  for xxhash64 — the algebra is unchanged.
* LSH candidate generation is the scale path: band-key equi-join
  (shuffle on band hash) instead of the O(n^2) cross join; the n-gram
  Jaccard verifier runs only on LSH survivors (or a bounded id range in
  the oracle-checked query).
* Exact dedup = window over fingerprint — at scale a groupBy(fp) with
  min(doc_id) broadcast back; the window form keeps one shuffle.

Algorithm provenance (public literature): MinHash k-permutation
construction per Broder (1997, "On the resemblance and containment of
documents"); LSH banding per Leskovec/Rajaraman/Ullman, Mining of
Massive Datasets ch.3; 64-bit SimHash + chunk-table hamming search per
Charikar (2002) and Manku/Jain/Sarma (WWW'07, "Detecting near-duplicates
for web crawling"); connected components via the log-round
large-star/small-star contraction (Kiveris et al., SoCC'14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._cache import session_peek, session_persisted
from .textstats import _md5_u32, _ngrams, load_documents, spread, tokenized

SHINGLE_K = 3
N_SEEDS = 8          # minhash permutations
BAND_ROWS = 2        # seeds per LSH band -> 4 bands
JACCARD_MAX_ID = 200  # bounded id range for the oracle-checked pair query


def _shingles(toks, k: int = SHINGLE_K):
    """The DISTINCT k-gram set of a ``toks`` column."""
    return F.array_distinct(_ngrams(toks, k))


def _shingles_sql(k: int = SHINGLE_K) -> str:
    return (
        rf"CASE WHEN len(toks) >= {k} THEN "
        rf"list_distinct([array_to_string(toks[i:i+{k - 1}], ' ') "
        rf"FOR i IN range(1, len(toks)-{k}+2)]) "
        rf"ELSE [] END"
    )


# ---------------------------------------------------------------------------
# exact dedup (prefix-fingerprint variant so the synthetic corpus actually
# collides; full-text exact dedup is the same query with the full md5)
# ---------------------------------------------------------------------------

def _prefix_fp(toks):
    """First-5-token fingerprint of a ``toks`` column — the SINGLE home
    shared by exact_dedup, the curation funnel, and the Bloom keys
    (Spark side; _PREFIX_FP_SQL is the DuckDB twin). A one-sided
    width/separator edit would silently decouple the three while each
    still matched its own oracle (review finding)."""
    return F.md5(F.concat_ws(" ", F.slice(toks, 1, 5)))


_PREFIX_FP_SQL = ("md5(array_to_string(regexp_split_to_array(trim(text), "
                  r"'\s+')[1:5], ' '))")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("fp")
    return (
        tokenized(load_documents(spark, sf_dir), "doc_id")
        .select("doc_id", _prefix_fp(F.col("toks")).alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("canonical_id"))
    )


EXACT_DEDUP_SQL = rf"""
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM (SELECT doc_id,
             {_PREFIX_FP_SQL} AS fp
      FROM documents)
"""


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------

# MinHash via ONE base hash per shingle (md5 prefix -> 32-bit int, shared
# with the DuckDB oracle) and per-seed affine transforms (a*h + b) mod P —
# the classic k-permutation construction. 8x less hashing than hashing
# per (seed, shingle), and the explode -> groupBy(min) shape parallelizes
# regardless of input file count and is immune to CollapseProject
# re-inlining the hash tree into every output column.
MINHASH_P = 4294967311  # prime > 2^32: no aliasing of the 32-bit base hashes
SEED_PARAMS = [(2 * s + 3, 1000003 * (s + 1) % MINHASH_P)
               for s in range(N_SEEDS)]


def row_minhash(docs: DataFrame) -> DataFrame:
    """Per-ROW minhash signature of the shingles of the docs' ``toks``
    column (see textstats.tokenized): a single higher-order fold
    carries all N_SEEDS running minima across the shingle hash array —
    one md5 per shingle (the fold input is evaluated once per row), no
    explode, no aggregation, no shuffle. Same algebra (and same values,
    differential-tested) as the explode form this replaced. Docs too
    short to shingle get NULL signatures (the MINHASH_P sentinel can
    never be a real minimum — every permuted hash is strictly below the
    modulus).
    """
    hs = F.transform(_shingles(F.col("toks")), lambda sh: _md5_u32(sh))
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in SEED_PARAMS])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in SEED_PARAMS])
    minima = F.aggregate(
        hs,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), N_SEEDS),
        lambda acc, h: F.transform(
            acc,
            lambda m, i: F.least(
                m,
                (h * F.element_at(a_arr, i + 1)
                 + F.element_at(b_arr, i + 1)) % MINHASH_P,
            ),
        ),
    )
    out = docs.withColumn("_mh", minima)
    for s in range(N_SEEDS):
        out = out.withColumn(
            f"mh{s}",
            F.when(F.element_at("_mh", s + 1) < MINHASH_P,
                   F.element_at("_mh", s + 1)),
        )
    return out.drop("_mh")


def band_structs():
    """The LSH band array (band index + md5 over its BAND_ROWS signature
    columns) — shared by lsh_band_keys and curation_funnel."""
    n_bands = N_SEEDS // BAND_ROWS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"mh{b * BAND_ROWS + r}")
                          for r in range(BAND_ROWS)],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    exploded = tokenized(
        spread(load_documents(spark, sf_dir)), "doc_id"
    ).select(
        "doc_id", F.explode_outer(_shingles(F.col("toks"))).alias("sh")
    ).select(
        "doc_id",
        F.when(F.col("sh").isNotNull(), _md5_u32(F.col("sh"))).alias("h"),
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % MINHASH_P)
        .alias(f"mh{s}")
        for s, (a, b) in enumerate(SEED_PARAMS)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_sql() -> str:
    mh = ",\n       ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS mh{s}"
        for s, (a, b) in enumerate(SEED_PARAMS)
    )
    return rf"""
SELECT doc_id,
       {mh}
FROM (
  SELECT doc_id,
         CAST('0x' || substring(md5(u.sh), 1, 8) AS BIGINT) AS h
  FROM (SELECT doc_id, {_shingles_sql()} AS shingles
        FROM (SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)),
       LATERAL (SELECT unnest(CASE WHEN len(shingles) = 0
                                   THEN [NULL]::VARCHAR[]
                                   ELSE shingles END) AS sh) u
)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# LSH banding + candidate pairs
# ---------------------------------------------------------------------------

def lsh_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key). The mh0-not-null guard is load-bearing:
    docs with < SHINGLE_K tokens have NULL signatures (empty shingle
    set) and must emit NO bands — otherwise concat_ws collapses the
    NULLs into a shared md5('') band key and every short doc becomes a
    spurious near-dup candidate of every other."""
    # the aggregate in minhash_signatures is itself a projection-collapse
    # barrier, so band structs reference the materialized mh columns —
    # no persist needed for the single-consumer band-keys query
    return (
        minhash_signatures(spark, sf_dir).where(F.col("mh0").isNotNull())
        .select("doc_id", F.explode(band_structs()).alias("bk"))
        .select("doc_id", "bk.band", "bk.band_key")
    )


def lsh_band_keys_sql() -> str:
    n_bands = N_SEEDS // BAND_ROWS
    rows = []
    for b in range(n_bands):
        concat = " || '|' || ".join(
            f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)
        )
        rows.append(
            f"SELECT doc_id, {b} AS band, md5({concat}) AS band_key "
            f"FROM sig WHERE mh0 IS NOT NULL"
        )
    return (
        "WITH sig AS (" + minhash_sql() + ")\n" + "\nUNION ALL\n".join(rows)
    )


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing any band key — the scale path for near-dup candidate
    generation (equi-join on band_key, NOT a cross join).

    The band keys are persisted before the self-join so the
    shingle+hash+aggregate subtree runs once instead of once per side
    (Spark plans self-joins as two scans of the subtree). At warehouse
    scale this boundary is a written signatures table, which is how a
    100 TB near-dup pass stages anyway. The persist is held by the
    session store (operators/_cache.py) rather than unpersisted in a
    finally block — the returned DataFrame is lazy, and an unpersist
    before the caller materializes it would recompute both join sides;
    clear_session_caches() releases it.

    Eager pre-materialization of the cache (a count() before the
    self-join) was measured and REJECTED: alternating-order runs at
    sf0.1/32 cores show eager == lazy within noise once the JVM is warm
    (1.3-1.5 s vs 1.2-1.3 s; an initial 6-vs-1.7 s delta was whole-stage
    codegen warmup, not a cache race), and inside the composed
    curation_funnel the extra serialized pass makes eager ~20% SLOWER
    (6.7 s vs 5.6 s). Lazy persist stands."""
    bk = session_persisted(spark, ("lsh_band_keys", sf_dir),
                           lambda: lsh_band_keys(spark, sf_dir), lazy=True)
    return _band_selfjoin(bk)


def _band_selfjoin(bk: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) -> ordered distinct candidate pairs —
    the ONE home of the band equi-self-join, shared by the standalone
    query and the curation funnel (review finding: a contract edit
    must not update one path and miss the other)."""
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs_sql() -> str:
    return f"""
WITH bk AS ({lsh_band_keys_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash (64-bit, hash-once, explode -> 64 conditional-sum partial aggs)
# ---------------------------------------------------------------------------
#
# Each token is md5-hashed ONCE into two 32-bit halves (h1 = hex[1:8],
# h2 = hex[9:16]); bit b of the signature comes from h1 for b < 32 and h2
# for b >= 32. The per-bit majority vote is a groupBy(doc_id) with 64
# conditional SUMs — all JVM-side with map-side partial aggregation, one
# shuffle, and exactly one md5 per token (the round-1 16-bit version
# re-hashed every token once per bit inside separate higher-order-function
# lambdas, which Catalyst does not CSE across).
#
# Bit 63 would overflow a signed shift-left in both engines, so the value
# is assembled as sum(bits 0..62) plus an additive -2^63 offset when bit
# 63 is set — the resulting BIGINT carries the full 64-bit pattern in
# two's complement, which xor/bit_count treat identically in Spark and
# DuckDB (verified: DuckDB >> is arithmetic, bit_count counts the
# two's-complement pattern).

N_SIMHASH_BITS = 64
_LONG_MIN = -9223372036854775808
HAMMING_MAX = 3      # near-dup threshold for the banded pair query
_N_HAM_BANDS = 4     # 4 x 16-bit chunks: hamming<=3 => >=1 identical chunk


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ROW higher-order fold — a narrow map with NO shuffle and NO
    explode: one md5 per token into two 32-bit halves (the fold's input
    array is evaluated once per row), a 64-counter array accumulated
    across tokens, then the majority vote packed into a signed BIGINT.
    Measured ~10x faster than the explode -> groupBy(64 sums) form at
    sf0.1 (0.18s vs 1.72s) with bit-identical output.

    NULL-text docs are filtered exactly like the explode form dropped
    them (explode of a NULL token array emits nothing) — the DuckDB
    oracle's unnest does the same, so the engines stay row-identical."""
    docs = tokenized(
        load_documents(spark, sf_dir).where(F.col("text").isNotNull()),
        "doc_id")
    toks = F.col("toks")
    # inner transform materializes ONE md5 per token; higher-order-function
    # lambdas are interpreted without codegen subexpression elimination,
    # so computing md5 separately for each half would hash twice
    digests = F.transform(toks, lambda t: F.md5(t))
    hs = F.transform(digests, lambda d: F.struct(
        F.conv(F.substring(d, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(d, 9, 8), 16, 10).cast("long").alias("h2"),
    ))
    # bit test without shift-by-column (the Python shiftright wrapper
    # only takes literal shift amounts): (h % 2p) >= p with p = 2^i from
    # a literal power array
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])

    def bit(h, i):
        src = F.when(i < 32, h["h1"]).otherwise(h["h2"])
        p = F.element_at(pow2, (i % 32) + 1)
        return F.when((src % (p * 2)) >= p, 1).otherwise(0)

    counters = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), N_SIMHASH_BITS),
        lambda acc, h: F.transform(acc, lambda a, i: a + bit(h, i)),
    )
    n = F.size(toks)
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(63)]
                      + [F.lit(_LONG_MIN)])
    value = F.aggregate(
        F.zip_with(
            counters, weights,
            lambda c, w: F.when(c * 2 > n, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select("doc_id", value.alias("simhash64"))


def simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum((h{1 if b < 32 else 2} >> {b if b < 32 else b - 32}) & 1) AS c{b}"
        for b in range(N_SIMHASH_BITS)
    )
    terms = [
        f"(CASE WHEN c{b} * 2 > n THEN {1 << b} ELSE 0 END)"
        for b in range(63)
    ]
    value = " + ".join(terms) + \
        " + (CASE WHEN c63 * 2 > n THEN -9223372036854775807 - 1 ELSE 0 END)"
    return rf"""
SELECT doc_id, CAST({value} AS BIGINT) AS simhash64
FROM (
  SELECT doc_id, count(*) AS n,
         {sums}
  FROM (
    SELECT doc_id,
           CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) AS h1,
           CAST(concat('0x', substring(md5(t), 9, 8)) AS BIGINT) AS h2
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS t
          FROM documents)
  )
  GROUP BY doc_id
)
"""


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance near-dup pairs WITHOUT an n^2 cross join: split the
    64-bit signature into 4 disjoint 16-bit chunks; by pigeonhole, two
    signatures within hamming distance 3 agree exactly on at least one
    chunk, so an equi-join on (chunk_idx, chunk_value) generates all
    candidates and bit_count(xor) verifies — the standard scale shape for
    simhash dedup (shuffle on a bounded key, candidates only where a chunk
    collides).

    The signature persist is held by the session store: the returned
    DataFrame is lazy (the caller materializes it), so an eager
    unpersist would force recomputation of both self-join sides. Eager
    pre-materialization rejected by measurement — see
    lsh_candidate_pairs."""
    sig = session_persisted(spark, ("simhash_signatures", sf_dir),
                            lambda: simhash_signatures(spark, sf_dir),
                            lazy=True)
    chunks = F.array(*[
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftright("simhash64", 16 * i).bitwiseAND(65535).alias("chunk"),
        )
        for i in range(_N_HAM_BANDS)
    ])
    keyed = sig.select(
        "doc_id", "simhash64", F.explode(chunks).alias("c")
    ).select("doc_id", "simhash64", "c.chunk_idx", "c.chunk")
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.bit_count(
        F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64")))
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


def simhash_neardup_sql() -> str:
    chunk_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash64, {i} AS chunk_idx, "
        f"(simhash64 >> {16 * i}) & 65535 AS chunk FROM sig"
        for i in range(_N_HAM_BANDS)
    )
    return f"""
WITH sig AS ({simhash_sql()}),
keyed AS ({chunk_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INTEGER) AS hamming
FROM keyed a JOIN keyed b
  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash64, b.simhash64)) <= {HAMMING_MAX}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard verification on a bounded id range
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized(
        load_documents(spark, sf_dir).where(F.col("doc_id") < JACCARD_MAX_ID),
        "doc_id",
    ).select("doc_id", _shingles(F.col("toks")).alias("sh"))
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        a.crossJoin(b)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("n_common"),
            union.alias("n_union"),
        )
        .where(F.col("n_common") > 0)
    )


def ngram_jaccard_sql() -> str:
    return rf"""
WITH d AS (
  SELECT doc_id, {_shingles_sql()} AS sh
  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id < {JACCARD_MAX_ID})
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_common,
       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_union
FROM d a, d b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.sh, b.sh)) > 0
"""


# ---------------------------------------------------------------------------
# composed near-dup pipeline: LSH candidates -> Jaccard verify on survivors
# -> canonical doc assignment (the end-to-end query a corpus-dedup user
# runs first; reference analogue: the Bloom-driven frontier dedup loop,
# WebSpider.py:251-262, recast as set-similarity dedup at corpus scale)
# ---------------------------------------------------------------------------

JACCARD_PCT = 50  # integer threshold (x100): verify survivors at J >= 0.5


def jaccard_verified(cand: DataFrame, shingles: DataFrame) -> DataFrame:
    """THE near-dup verify expression, shared verbatim by
    _verified_pairs and curation_funnel. ``cand`` carries (doc_a,
    doc_b); ``shingles`` carries (doc_id, sh). Integer cross-multiplied
    threshold — no float in either engine."""
    a = shingles.select(F.col("doc_id").alias("doc_a"),
                        F.col("sh").alias("sh_a"))
    b = shingles.select(F.col("doc_id").alias("doc_b"),
                        F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        # union > 0: two shingle-less docs give J = 0/0, and 0 >= 0
        # would mark EVERY pair of sub-K-token docs as verified
        # duplicates for a caller whose candidates are not
        # band-filtered (review finding; the SQL twin carries the
        # same guard)
        .where((inter * 100 >= union * JACCARD_PCT) & (union > 0))
        .select("doc_a", "doc_b")
    )


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs -> n-gram Jaccard verification on survivors
    only. The shared front end of neardup_canonical and
    neardup_components."""
    docs = tokenized(load_documents(spark, sf_dir), "doc_id") \
        .select("doc_id", _shingles(F.col("toks")).alias("sh"))
    return jaccard_verified(lsh_candidate_pairs(spark, sf_dir), docs)


_VERIFIED_SQL = rf"""
pairs AS ({{pairs}}),
d AS (
  SELECT doc_id, {{shingles}} AS sh
  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
),
verified AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN d a ON a.doc_id = p.doc_a
  JOIN d b ON b.doc_id = p.doc_b
  WHERE len(list_intersect(a.sh, b.sh)) * 100 >=
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * {JACCARD_PCT}
    AND (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0
)"""


def _verified_sql() -> str:
    return _VERIFIED_SQL.format(pairs=lsh_candidate_pairs_sql(),
                                shingles=_shingles_sql())


def neardup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup: the n-gram Jaccard verifier consumes ONLY the
    LSH candidate pairs (equi-join output — no bounded-id crutch, no cross
    join anywhere), then every doc gets a canonical id = its smallest
    verified partner (one round of min-propagation; full transitive
    closure is the iterative extension, see neardup_components)."""
    verified = _verified_pairs(spark, sf_dir)
    return (
        load_documents(spark, sf_dir).select("doc_id")
        .join(verified.select(F.col("doc_b").alias("doc_id"), "doc_a"),
              "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.min("doc_a").alias("min_partner"))
        .select(
            "doc_id",
            F.coalesce("min_partner", "doc_id").alias("canonical_id"),
            F.col("min_partner").isNotNull().alias("is_dup"),
        )
    )


def neardup_canonical_sql() -> str:
    return rf"""
WITH {_verified_sql()}
SELECT doc.doc_id,
       coalesce(min(v.doc_a), doc.doc_id) AS canonical_id,
       min(v.doc_a) IS NOT NULL AS is_dup
FROM documents doc
LEFT JOIN verified v ON v.doc_b = doc.doc_id
GROUP BY doc.doc_id
"""


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the verified near-dup graph: every doc
    labeled with the smallest doc_id reachable through verified pairs
    (full transitive closure — the canonical-id assignment a dedup
    pipeline actually keeps).

    Spark side is the log-round large-star/small-star contraction
    (``connected_components``): rounds are bounded by O(log n), not by
    the component diameter, so a long duplication chain
    (scrape-of-a-scrape-of-a-scrape) costs O(log) rounds.

    The DuckDB oracle is a recursive CTE computing reachability then
    min per source — genuinely SQL-expressible, so this iterative
    operator is hash-checked like everything else."""
    verified = _verified_pairs(spark, sf_dir)
    nodes = load_documents(spark, sf_dir).select("doc_id")
    return connected_components(nodes, verified)


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         max_iters: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14 "Connected Components in MapReduce and Beyond", alg. 2):

    * large-star: per node u over its full neighborhood, link every
      neighbor v > u to m = min(N(u) ∪ {u});
    * small-star: per node u over its smaller neighbors (edges oriented
      big -> small), link u and every such neighbor to their minimum.

    Each round is two groupBy/join pairs, and the round count is
    O(log n) in the worst case instead of O(diameter). Edges converge to
    a star from every non-minimum node to its component minimum.
    Convergence is detected by an order-independent edge-set digest
    (count + sum of xxhash64): iteration stops when the edge set reaches
    a fixed point. ``localCheckpoint`` truncates the growing lineage
    each round — at cluster scale that is a checkpoint to reliable
    storage."""
    edges = (
        pairs.toDF("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"))
        .distinct()
        .localCheckpoint()
    )

    def digest(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            # decimal(38,0) accumulator: a long sum of 64-bit hashes
            # overflows under ANSI mode after a handful of rows
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        bi = e.union(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
        m = bi.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m"))
        return (
            bi.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input oriented src > dst (large_star emits dst = a minimum)
        m = e.groupBy("src").agg(F.min("dst").alias("m"))
        linked = e.join(m, "src")
        to_min = linked.select(F.col("src"), F.col("m").alias("dst")) \
            .union(linked.where(F.col("dst") != F.col("m"))
                   .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        return to_min.where(F.col("src") != F.col("dst")).distinct()

    prev = digest(edges)
    for _ in range(max_iters):
        edges = small_star(large_star(edges)).localCheckpoint()
        cur = digest(edges)
        if cur == prev:
            comp = edges.groupBy(F.col("src").alias("doc_id")) \
                .agg(F.min("dst").alias("cid"))
            return (
                nodes.join(comp, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("cid", "doc_id").alias("component_id"))
            )
        prev = cur
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} "
        f"rounds — not expected for any graph of < 2^{max_iters} nodes"
    )


def neardup_components_sql() -> str:
    # NOTE oracle cost: the recursive CTE materializes full pairwise
    # reachability — O(|component|^2) rows per component. Fine at the
    # sf0.01 gate; a much larger sf with big near-dup components would
    # make the ORACLE (not the Spark side) look like a hang.
    return rf"""
WITH RECURSIVE {_verified_sql()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION
  SELECT doc_b, doc_a FROM verified
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS component_id
FROM reach
GROUP BY src
"""


# ---------------------------------------------------------------------------
# benchmark decontamination: flag training documents sharing any K-gram
# with a held-out evaluation set — the standard test-set-overlap removal
# op (e.g. GPT-3 appendix C / PaLM-style 8-gram collision) a corpus
# pipeline runs before training.
# ---------------------------------------------------------------------------

DECON_K = 8             # consecutive-token overlap window
DECON_BENCH_MAX_ID = 20  # docs below this id stand in for the eval suite


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_hits, contaminated) for every NON-benchmark document:
    n_hits = distinct DECON_K-grams shared with any benchmark document.

    Scale shape: grams are md5-hashed, the benchmark side is DISTINCT
    and broadcast (eval suites are kilobytes; the corpus is the big
    side), and the probe is an equi-join on the hash — never a cross
    join, one shuffle for the per-doc count. Docs too short to form a
    K-gram report 0 hits.

    The bench side is built BESPOKE from a filtered-then-exploded scan
    so `doc_id < DECON_BENCH_MAX_ID` pushes into the parquet reader —
    routing it through the shared persisted gram relation (the round-6
    form) destroyed that pushdown and forced a corpus-token-sized cache
    materialization to answer a query whose bench side is kilobytes
    (round-6 verdict: 0.35 s -> 3.82 s at sf0.1). The probe side reuses
    the session-persisted relation only OPPORTUNISTICALLY (if another
    operator already paid for it); otherwise it is a plain lazy scan —
    decontaminate's two consumers read disjoint doc ranges, so forcing
    the persist buys this operator nothing."""
    docs = load_documents(spark, sf_dir)
    bench = (
        tokenized(docs.where(F.col("doc_id") < DECON_BENCH_MAX_ID))
        .select(F.explode(_shingles(F.col("toks"), DECON_K)).alias("g"))
        .select(F.md5("g").alias("h"))
        .distinct()
    )
    probe = session_peek(spark, ("grams", sf_dir, DECON_K))
    if probe is None:
        probe = _grams_lazy(spark, sf_dir)
    hits = (
        probe.where(F.col("doc_id") >= DECON_BENCH_MAX_ID)
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_hits"))
    )
    return (
        docs.select("doc_id").where(F.col("doc_id") >= DECON_BENCH_MAX_ID)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql() -> str:
    return rf"""
WITH d AS (
  SELECT doc_id, {_shingles_sql(DECON_K)} AS sh
  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
),
g AS (
  SELECT doc_id, md5(u.g) AS h
  FROM d, LATERAL (SELECT unnest(sh) AS g) u
),
bench AS (SELECT DISTINCT h FROM g WHERE doc_id < {DECON_BENCH_MAX_ID}),
hits AS (
  SELECT g.doc_id, count(DISTINCT g.h) AS n_hits
  FROM g JOIN bench USING (h)
  WHERE g.doc_id >= {DECON_BENCH_MAX_ID}
  GROUP BY g.doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(hits.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents
      WHERE doc_id >= {DECON_BENCH_MAX_ID}) doc
LEFT JOIN hits ON hits.doc_id = doc.doc_id
"""


# ---------------------------------------------------------------------------
# the composed corpus-curation funnel: the end-to-end decision a
# training-data pipeline actually ships — every doc gets one keep/drop
# verdict with the FIRST failing stage as the reason, stages in the
# canonical order quality -> language -> exact dedup -> near-dup ->
# decontamination (benchmark docs are held out up front).
# ---------------------------------------------------------------------------

def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, reason, keep): the quality -> language -> exact dedup ->
    near-dup -> decontamination cascade as ONE verdict per document.

    Scale shape — SINGLE corpus scan: the source is read once into the
    persisted row_minhash relation (doc_id, text, signature); every
    doc-LOCAL signal branch (stopword hits, CJK count, prefix
    fingerprint, bands, shingles, 8-gram hashes) then projects from that
    in-memory relation with per-branch column pruning, and only the
    stages that genuinely shuffle follow (exact-dup window over fp, the
    LSH band self-join + Jaccard verify, the broadcast decontamination
    probe). The previous form composed the five standalone operators,
    each re-reading the corpus — ~5 scans where 1 + the irreducible
    shuffles suffice; at 100 TB the persisted relation is the
    signatures table a curation pass stages anyway. Persisting the
    narrow signature relation (not one wide projection of every signal)
    was MEASURED: a single fused projection of all signals is one giant
    whole-stage-codegen unit that takes ~8.5 s of janino compile
    (superlinear in unit size) vs ~2.7 s split, and caching sh/g8
    arrays would multiply the cache footprint for columns each branch
    can recompute from the cached token array cheaply. The persisted
    relation carries the token array (textstats.tokenized) alongside
    text, which the CJK language probe needs as raw bytes. The oracle
    still composes the five standalone SQL bodies, so the driver gate
    checks this single-scan plan against the five-scan composition
    (row_minhash is differential-tested equal to the explode/agg
    signature form the standalone near-dup query uses; ``contaminated``
    is an EXISTS — semi-join distinct — which equals n_hits > 0).

    Note: with the current thresholds the 'language' reason is
    structurally subsumed by 'quality' (quality needs >=10% stopwords,
    lang 'unk' needs <5% and no CJK — pinned in the cascade test); the
    branch is kept because the thresholds are per-corpus knobs, and the
    cascade order is the contract."""
    from .textstats import _lang_pred_col, _quality_cols

    # quality band / language cascade / prefix fp from their single
    # expression homes — the funnel's oracle composes the standalone
    # QUALITY_SQL/LANG_ID_SQL/EXACT_DEDUP_SQL bodies, so inline copies
    # here could drift one-sidedly (review finding)
    toks = F.col("toks")
    _, _, quality_ok = _quality_cols(toks)
    # the ONE source read: persisted narrow signature relation; every
    # branch below projects from this cache with column pruning
    # (lazy persist held by the session store — see
    # lsh_candidate_pairs docstring). The signal projection is
    # md5/fold-heavy, so the scan is spread (same pattern as
    # minhash_signatures). Projected to (doc_id, text) FIRST: persist
    # caches the plan's full output, so the unused lang/source/n_chars
    # columns would otherwise sit in every cached block (review
    # finding). Built inside the lambda, so a store hit plans no scan.
    sig = session_persisted(
        spark, ("funnel_signatures", sf_dir),
        lambda: row_minhash(tokenized(
            spread(load_documents(spark, sf_dir).select("doc_id", "text")),
            "doc_id", "text")),
        lazy=True)
    base = sig.select(
        "doc_id",
        quality_ok.alias("quality_ok"),
        _lang_pred_col(toks).alias("lang_pred"),
        _prefix_fp(toks).alias("fp"),
        F.when(F.col("mh0").isNotNull(), band_structs())
        .otherwise(F.array().cast(
            "array<struct<band:int,band_key:string>>")).alias("bands"),
        _shingles(toks).alias("sh"),
        F.transform(_shingles(toks, DECON_K), F.md5).alias("g8"),
    )
    # exact dedup: the one window shuffle
    w = Window.partitionBy("fp")
    spine = base.select(
        "doc_id", "quality_ok", "lang_pred",
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("exact_dup"))
    # near-dup: band equi-self-join + the shared Jaccard verifier. The
    # explodes below are explode_outer + IS NOT NULL (the
    # textstats.token_rows idiom): a plain explode of a base attribute
    # makes the optimizer infer a size(...) > 0 filter and push it below
    # base with the band/8-gram md5 expressions substituted in
    bk = (base.select("doc_id", F.explode_outer("bands").alias("bk"))
          .where(F.col("bk").isNotNull())
          .select("doc_id", "bk.band", "bk.band_key"))
    cand = _band_selfjoin(bk)
    near = (
        jaccard_verified(cand, base.select("doc_id", "sh"))
        .select(F.col("doc_b").alias("doc_id")).distinct()
        .withColumn("near_dup", F.lit(True))
    )
    # decontamination: DISTINCT broadcast bench side, equi-join probe
    bench = (
        base.where(F.col("doc_id") < DECON_BENCH_MAX_ID)
        .select(F.explode_outer("g8").alias("h"))
        .where(F.col("h").isNotNull()).distinct()
    )
    contam = (
        base.where(F.col("doc_id") >= DECON_BENCH_MAX_ID)
        .select("doc_id", F.explode_outer("g8").alias("h"))
        .where(F.col("h").isNotNull())
        .join(F.broadcast(bench), "h")
        .select("doc_id").distinct()
        .withColumn("contaminated", F.lit(True))
    )
    reason = (
        F.when(F.col("doc_id") < DECON_BENCH_MAX_ID, F.lit("benchmark"))
        .when(~F.col("quality_ok"), F.lit("quality"))
        .when(F.col("lang_pred") == "unk", F.lit("language"))
        .when(F.col("exact_dup"), F.lit("exact_dup"))
        .when(F.coalesce("near_dup", F.lit(False)), F.lit("near_dup"))
        .when(F.coalesce("contaminated", F.lit(False)),
              F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return (
        spine.join(near, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select("doc_id", reason.alias("reason"),
                (reason == "kept").alias("keep"))
    )


def curation_funnel_sql() -> str:
    from .textstats import LANG_ID_SQL, QUALITY_SQL

    return f"""
WITH q AS ({QUALITY_SQL}),
l AS ({LANG_ID_SQL}),
e AS ({EXACT_DEDUP_SQL}),
nd AS ({neardup_canonical_sql()}),
dc AS ({decontaminate_sql()}),
verdict AS (
  SELECT q.doc_id,
         CASE WHEN q.doc_id < {DECON_BENCH_MAX_ID} THEN 'benchmark'
              WHEN NOT q.quality_ok THEN 'quality'
              WHEN l.lang_pred = 'unk' THEN 'language'
              WHEN e.is_dup THEN 'exact_dup'
              WHEN nd.is_dup THEN 'near_dup'
              WHEN dc.contaminated THEN 'contaminated'
              ELSE 'kept' END AS reason
  FROM q
  JOIN l USING (doc_id)
  JOIN e USING (doc_id)
  JOIN nd USING (doc_id)
  LEFT JOIN dc ON dc.doc_id = q.doc_id
)
SELECT doc_id, reason, reason = 'kept' AS keep FROM verdict
"""


# ---------------------------------------------------------------------------
# Bloom-filter sketch — the set-membership sibling of the HLL/CMS sketches
# (textstats.py): all-integer construction, so the sketch's CONTENT is
# oracle-exact, and the false-positive count — Bloom's defining error
# mode — is itself a pinned, deterministic value.
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096           # m: filter width
BLOOM_K = 3                 # hash functions
BLOOM_ABSENT_PROBES = 500   # deterministic not-in-set probe keys


def _bloom_bits(key):
    """The K bit positions for ``key`` — like the CMS sketch, build and
    probe MUST hash identically, so the expression lives in one place:
    bit_i = int(md5(i || '_' || key)[:8], 16) % BLOOM_BITS."""
    return F.array(*[_md5_u32(key, str(i)) % BLOOM_BITS
                     for i in range(BLOOM_K)])


def _bloom_bits_sql(key_expr: str) -> str:
    cols = ", ".join(
        f"CAST('0x' || substring(md5('{i}_' || {key_expr}), 1, 8) "
        f"AS BIGINT) % {BLOOM_BITS}"
        for i in range(BLOOM_K))
    return f"[{cols}]"


def bloom_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over the distinct exact-dedup fingerprints, reported
    as one all-integer row: bits set, present-probe hits (must equal the
    key count — pins build/probe hash consistency, the bug class the CMS
    review caught), and the false-positive count over
    BLOOM_ABSENT_PROBES deterministic absent keys (``absent_<i>``) —
    the one-sided error made measurable and hash-gated.

    Scale shape: build = distinct keys -> explode K bit positions ->
    distinct bits, i.e. map-side partial sketches merged by OR (set
    union) — the canonical mergeable-filter layout; at 100 TB each
    partition emits <= BLOOM_BITS rows regardless of input size. Probes
    are a broadcast join against the <= BLOOM_BITS-row bit table. A
    membership probe matches iff ALL K of its exploded rows hit, so a
    key whose hashes collide internally still counts correctly (its
    duplicate rows hit or miss together)."""
    # persisted: keys feeds three consumers (count, bit build, present
    # probe) and bits feeds three (count, two probe joins) — without the
    # persists this one-row query re-scans the corpus three times
    # (review finding; cf. curation_funnel's single-scan discipline).
    # Held by the session store like PageRank's edges so the returned
    # DataFrame stays LAZY (the driver/gate hash the REAL composed plan,
    # not a LocalTableScan of pre-collected literals) while repeated
    # calls (gate, bench, plan audit) reuse one resident copy instead of
    # accumulating persists or recomputing from scratch each time.
    keys = session_persisted(
        spark, ("bloom_keys", sf_dir),
        # spread the one-file scan: the md5 fingerprint projection and
        # the partial-distinct otherwise run on a single core
        lambda: tokenized(spread(load_documents(spark, sf_dir)))
        .select(_prefix_fp(F.col("toks")).alias("key")).distinct())
    bits = session_persisted(
        spark, ("bloom_bits", sf_dir),
        lambda: keys.select(
            F.explode(_bloom_bits(F.col("key"))).alias("bit")).distinct())

    def probe_hits(probe_keys: DataFrame):
        rows = probe_keys.select(
            "key", F.explode(_bloom_bits(F.col("key"))).alias("bit"))
        return (
            rows.join(F.broadcast(bits), "bit")
            .groupBy("key").agg(F.count("*").alias("n_hit"))
            .where(F.col("n_hit") == BLOOM_K)
        )

    absent = spark.range(BLOOM_ABSENT_PROBES).select(
        F.concat(F.lit("absent_"), F.col("id")).alias("key"))
    return (
        keys.agg(F.count("*").alias("n_keys"))
        .join(bits.agg(F.count("*").alias("n_bits_set")))
        .join(probe_hits(keys).agg(
            F.count("*").alias("n_present_hits")))
        .crossJoin(spark.range(1).select(
            F.lit(BLOOM_ABSENT_PROBES).alias("n_absent_probes")))
        .join(probe_hits(absent).agg(
            F.count("*").alias("n_false_positives")))
        .select("n_keys", "n_bits_set", "n_present_hits",
                "n_absent_probes", "n_false_positives")
    )



def bloom_filter_sql() -> str:
    key = _PREFIX_FP_SQL
    return rf"""
WITH keys AS (SELECT DISTINCT {key} AS key FROM documents),
bits AS (
  SELECT DISTINCT unnest({_bloom_bits_sql("key")}) AS bit FROM keys
),
absent AS (
  SELECT 'absent_' || CAST(v AS VARCHAR) AS key
  FROM (SELECT unnest(range({BLOOM_ABSENT_PROBES})) AS v)
),
present_hits AS (
  SELECT count(*) AS n FROM (
    SELECT k.key
    FROM (SELECT key, unnest({_bloom_bits_sql("key")}) AS bit
          FROM keys) k
    JOIN bits USING (bit)
    GROUP BY k.key HAVING count(*) = {BLOOM_K})
),
fp_hits AS (
  SELECT count(*) AS n FROM (
    SELECT a.key
    FROM (SELECT key, unnest({_bloom_bits_sql("key")}) AS bit
          FROM absent) a
    JOIN bits USING (bit)
    GROUP BY a.key HAVING count(*) = {BLOOM_K})
)
SELECT (SELECT count(*) FROM keys) AS n_keys,
       (SELECT count(*) FROM bits) AS n_bits_set,
       (SELECT n FROM present_hits) AS n_present_hits,
       {BLOOM_ABSENT_PROBES} AS n_absent_probes,
       (SELECT n FROM fp_hits) AS n_false_positives
"""


# ---------------------------------------------------------------------------
# integer fixed-point PageRank over the near-dup graph — an ITERATIVE
# numeric algorithm whose every value is exact: ranks are int64 fixed
# point, so sums commute and both engines agree to the last unit (a
# float PageRank can never be hash-gated across engines — summation
# order drifts the low bits).
# ---------------------------------------------------------------------------

PR_SCALE = 10 ** 12   # fixed-point unit: rank 1.0/N == PR_SCALE // N
PR_ITERS = 5          # fixed iteration count (deterministic contract)
PR_D_NUM = 85         # damping d = 85/100


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin/Page 1998) over the symmetric verified near-dup
    graph in int64 fixed point: r0 = SCALE//N; each iteration
    r'_v = teleport + d * (sum over in-edges of r_u DIV deg_u) DIV 100,
    with teleport = (SCALE//N)*15 DIV 100. Every operation is integer
    (DIV floors identically in Spark and DuckDB for the non-negative
    domain), and integer addition is order-independent — so the oracle
    matches bit-for-bit at any parallelism, unlike any float PageRank.
    Dangling mass is NOT redistributed (both engines identical; the
    usual normalization is a rendering concern, documented here).

    Scale shape: the classic Pregel-style loop as DataFrames — edges
    pre-joined with out-degrees once and persisted; per iteration ONE
    shuffle keyed by dst for the contribution sum plus a broadcast of
    nothing (ranks join edges on src — at 100 TB you'd co-partition
    edges and ranks on the same key so the per-iteration join reuses
    the exchange). Iterations are a fixed small count, so the unrolled
    plan stays shallow; for hundreds of iterations you'd checkpoint
    every ~10 to cut lineage.

    Note on discrimination: at sf0.01 the verified graph happens to be
    degree-regular (22 pairs + one triangle), so connected docs share
    one fixed point — the crafted-star differential test
    (test_spark_pipeline) covers the irregular-graph arithmetic the
    corpus can't."""
    docs = load_documents(spark, sf_dir).select("doc_id")
    # without the persist every iteration would re-run the expensive
    # LSH+Jaccard derivation through lineage (see _cache.py)
    edges_deg = session_persisted(
        spark, ("pagerank_edges", sf_dir),
        lambda: _edges_with_deg(_verified_pairs(spark, sf_dir)))
    return pagerank(docs, edges_deg=edges_deg)



def _edges_with_deg(pairs: DataFrame) -> DataFrame:
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"),
                            F.col("doc_a").alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    return edges.join(deg, "src")


def pagerank(docs: DataFrame, pairs: DataFrame | None = None,
             edges_deg: DataFrame | None = None) -> DataFrame:
    """The int64 fixed-point PR loop over any (doc_id) node set and
    (doc_a, doc_b) undirected pair set — factored so crafted-graph
    tests exercise the same code path as the corpus query. Pass a
    pre-persisted ``edges_deg`` (src, dst, deg) to reuse across calls.

    All divisions are Spark's integral ``div`` — NOT double ``/`` with
    a cast, whose exactness would silently depend on intermediates
    staying under 2^53 (a PR_SCALE bump to 10^15 would cross it)."""
    if edges_deg is None:
        if pairs is None:
            raise ValueError("pagerank needs `pairs` or `edges_deg`")
        edges_deg = _edges_with_deg(pairs)
    n = docs.agg(F.count("*").alias("n"))
    base = F.expr(f"{PR_SCALE} div n")
    r = docs.join(F.broadcast(n)).select(
        "doc_id", base.alias("rank_fp"), "n")
    teleport = F.expr(f"(({PR_SCALE} div n) * 15) div 100")
    for _ in range(PR_ITERS):
        contrib = (
            edges_deg.join(r.select(F.col("doc_id").alias("src"),
                                    "rank_fp"), "src")
            .select("dst", F.expr("rank_fp div deg").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("s"))
        )
        r = (
            docs.join(F.broadcast(n))
            .join(contrib, docs.doc_id == contrib.dst, "left")
            .select(
                "doc_id",
                (teleport
                 + F.expr(f"({PR_D_NUM} * coalesce(s, 0L)) div 100"))
                .alias("rank_fp"),
                "n",
            )
        )
    return r.select("doc_id", "rank_fp")


def neardup_pagerank_sql() -> str:
    base = f"({PR_SCALE} // n)"
    teleport = f"({base} * 15 // 100)"
    parts = [f"WITH {_verified_sql()},",
             "docs AS (SELECT doc_id FROM documents),",
             "edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified"
             " UNION ALL SELECT doc_b AS src, doc_a AS dst FROM verified),",
             "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
             "n AS (SELECT count(*) AS n FROM docs),",
             f"r0 AS (SELECT doc_id, CAST({base} AS BIGINT) AS rank_fp"
             " FROM docs, n),"]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst, sum(r.rank_fp // e.deg) AS s "
            f"FROM (SELECT edges.src, edges.dst, deg.deg FROM edges "
            f"JOIN deg USING (src)) e "
            f"JOIN {prev} r ON r.doc_id = e.src GROUP BY e.dst),")
        parts.append(
            # explicit CROSS JOIN: a comma join binds LOOSER than LEFT
            # JOIN, which would scope d.doc_id out of the ON clause
            f"r{i} AS (SELECT d.doc_id, CAST({teleport} + "
            f"{PR_D_NUM} * COALESCE(s.s, 0) // 100 AS BIGINT) AS rank_fp "
            f"FROM docs d CROSS JOIN n LEFT JOIN s{i} s "
            f"ON s.dst = d.doc_id),")
        prev = f"r{i}"
    sql = "\n".join(parts).rstrip(",")
    return f"{sql}\nSELECT doc_id, rank_fp FROM {prev}"


# ---------------------------------------------------------------------------
# cross-document repeated n-grams — the WITHIN-corpus sibling of
# decontaminate: Lee et al. 2022 ("Deduplicating Training Data Makes
# Language Models Better") flag long substrings shared ACROSS training
# documents; the scalable Spark form is hashed k-gram incidence.
# ---------------------------------------------------------------------------

def repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_ngrams, n_crossdup) per document: n_crossdup = how
    many of the doc's DISTINCT k-grams also appear in at least one
    OTHER document. All integer.

    Scale shape: the exploded gram relation is PERSISTED (cached per
    (session, sf_dir) like the pagerank edge relation) so the corpus
    shingle+hash pass runs once and feeds both the incidence groupBy
    (one shuffle over the gram vocabulary, far smaller than the corpus
    at any k worth deduplicating on) and the probe join — the standard
    shape for substring-level dedup at 100 TB, where the suffix-array
    form of Lee et al. doesn't distribute. ``_shingles`` output is
    already per-doc distinct."""
    grams = _gram_relation(spark, sf_dir)
    incidence = _gram_incidence(grams)
    return (
        grams.join(incidence, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("h")).alias("n_ngrams"),
            F.count(F.when(F.col("nd") > 1, True)).alias("n_crossdup"),
        )
    )



def _grams_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-persisted per-doc-DISTINCT hashed k-gram relation — the
    lazy building block `_gram_relation` persists and `decontaminate`
    scans directly (its doc_id filter still pushes through the
    round-robin exchange and the Generate into the parquet scan —
    plan-checked in plans/r08). Spread first: the sf-dir parquet
    is one file -> one scan partition, and the gram build is the
    expensive pass."""
    return tokenized(spread(load_documents(spark, sf_dir)), "doc_id").select(
        "doc_id",
        F.explode_outer(_shingles(F.col("toks"), DECON_K)).alias("g"),
    ).select("doc_id", F.md5("g").alias("h"))


def _gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted per-doc-DISTINCT hashed k-gram relation shared by
    repeated_ngrams and ngram_clean (cached per (session, sf_dir) —
    the corpus shingle+hash pass runs once per session). Only operators
    with MULTIPLE full-corpus consumers should call this; anything that
    needs a filtered slice must scan `_grams_lazy` bespoke to keep
    predicate pushdown (see decontaminate)."""
    return session_persisted(
        spark, ("grams", sf_dir, DECON_K),
        lambda: _grams_lazy(spark, sf_dir))


def _gram_incidence(grams: DataFrame) -> DataFrame:
    """(h, nd): in how many documents each gram appears — the single
    home of the incidence relation both consumers join against."""
    return (grams.where(F.col("h").isNotNull())
            .groupBy("h").agg(F.count("*").alias("nd")))


def ngram_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring REMOVAL — the action step after
    repeated_ngrams' detection (Lee et al. 2022's ExactSubstr dedup in
    its distributable form): every token covered by a k-gram that also
    appears in another document is dropped, and the result is reported
    as (doc_id, n_tokens, n_removed, clean_hash) with clean_hash an md5
    of the surviving tokens in order — so the oracle pins the exact
    cleaned CONTENT, not just counts. All integer/string.

    Scale shape: reuses the persisted per-doc-distinct gram relation
    (one corpus scan per session) for the incidence count (gram-vocab
    shuffle) and an equi-join back to docs that collects each doc's
    cross-dup gram hashes; everything after is ROW-LOCAL array algebra
    (gram-hash recompute, coverage test over a k-wide window, position
    filter) — no token-level shuffle, unlike the naive
    posexplode+anti-join form whose exchanges are corpus-token-sized.
    The oracle SQL deliberately uses that naive relational form, so the
    two formulations are independent."""
    grams = _gram_relation(spark, sf_dir)
    incidence = _gram_incidence(grams)
    doc_dups = (
        grams.join(incidence.where(F.col("nd") > 1), "h")
        .groupBy("doc_id").agg(F.collect_set("h").alias("dup_hashes"))
    )
    base = (
        # spread: if AQE broadcasts doc_dups, the row-local
        # coverage/filter pass below would otherwise inherit the
        # one-file scan's single partition
        tokenized(
            spread(load_documents(spark, sf_dir).select("doc_id", "text"))
            .join(doc_dups, "doc_id", "left"),
            "doc_id", "dup_hashes")
        .withColumn("n", F.size("toks"))
        .withColumn("dup", F.coalesce(
            F.col("dup_hashes"), F.array().cast("array<string>")))
        # which gram START positions are cross-dup (start i covers
        # tokens i..i+k-1); n<k has no grams -> CASE guard keeps every
        # sequence() ascending (sequence(1,0) would DESCEND)
        .withColumn("dup_starts", F.expr(
            f"CASE WHEN n >= {DECON_K} THEN "
            f"filter(sequence(1, n-{DECON_K}+1), "
            f"i -> array_contains(dup, md5(concat_ws(' ', "
            f"slice(toks, i, {DECON_K}))))) "
            f"ELSE CAST(array() AS array<int>) END"))
        # keep mask: fold the (usually short) dup-start list over an
        # all-true mask, clearing each start's k-token cover. Every
        # expensive sub-expression here is consumed ONLY as a top-level
        # HOF input: the previous per-position form referenced a
        # boolean gram array via element_at inside a nested exists
        # lambda, and CollapseProject inlines a once-referenced alias
        # regardless of cost — re-evaluating the ENTIRE gram-hash
        # transform per (position, window) pair (measured: the cleanup
        # pass alone ran minutes at sf1.0; now 2-3 s. The bench's
        # count(*) had always pruned this subtree, so the cost only
        # showed under a full materialization — bench_extra.py).
        .withColumn("keep_mask", F.expr(
            f"aggregate(dup_starts, array_repeat(true, n), "
            f"(acc, i) -> transform(acc, "
            f"(v, idx) -> v AND NOT "
            f"(idx + 1 >= i AND idx + 1 <= i + {DECON_K - 1})))"))
        .withColumn("clean_toks", F.expr(
            "filter(zip_with(toks, keep_mask, "
            "(t, m) -> CASE WHEN m THEN t END), x -> x IS NOT NULL)"))
    )
    return base.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.col("n") - F.size("clean_toks")).cast("long")
        .alias("n_removed"),
        F.md5(F.concat_ws(" ", F.col("clean_toks"))).alias("clean_hash"),
    )


def ngram_clean_sql() -> str:
    """Independent relational formulation: positional grams + incidence
    + coverage positions + left-join filter (the shape the Spark side
    deliberately avoids for its token-shuffle cost — here it is the
    cross-check)."""
    return rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents
),
pos_grams AS (
  SELECT doc_id, i,
         md5(array_to_string(tk[i:i+{DECON_K - 1}], ' ')) AS h
  FROM base, unnest(range(1, len(tk)-{DECON_K}+2)) AS t(i)
  WHERE len(tk) >= {DECON_K}
),
incidence AS (
  SELECT h, count(*) AS nd
  FROM (SELECT DISTINCT doc_id, h FROM pos_grams) GROUP BY h
),
cov AS (
  SELECT DISTINCT pg.doc_id, u.p
  FROM pos_grams pg
  JOIN incidence USING (h), unnest(range(pg.i, pg.i+{DECON_K})) AS u(p)
  WHERE nd > 1
),
toks AS (
  SELECT doc_id, i AS p, tk[i] AS tok, len(tk) AS n
  FROM base, unnest(range(1, len(tk)+1)) AS t(i)
),
clean AS (
  SELECT t.doc_id,
         CAST(max(t.n) AS INTEGER) AS n_tokens,
         CAST(count(*) FILTER (WHERE cov.p IS NULL) AS BIGINT) AS n_kept,
         md5(coalesce(string_agg(
           CASE WHEN cov.p IS NULL THEN t.tok END, ' ' ORDER BY t.p),
           '')) AS clean_hash
  FROM toks t
  LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.p = t.p
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       CAST(n_tokens - n_kept AS BIGINT) AS n_removed, clean_hash
FROM clean
"""


def repeated_ngrams_sql() -> str:
    return rf"""
WITH grams AS (
  SELECT doc_id, unnest(CASE WHEN len(sh) > 0
                             THEN [md5(g) FOR g IN sh]
                             ELSE [NULL] END) AS h
  FROM (SELECT doc_id, {_shingles_sql(DECON_K)} AS sh
        FROM (SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents))
),
incidence AS (
  SELECT h, count(*) AS nd FROM grams WHERE h IS NOT NULL GROUP BY h
)
SELECT g.doc_id,
       count(g.h) AS n_ngrams,
       count(CASE WHEN i.nd > 1 THEN 1 END) AS n_crossdup
FROM grams g LEFT JOIN incidence i ON g.h = i.h
GROUP BY g.doc_id
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# local fingerprinting scheme): guarantees any shared token run of
# t = WINNOW_W + WINNOW_K - 1 tokens contributes at least one COMMON
# selected fingerprint between two documents
# ---------------------------------------------------------------------------

WINNOW_K = 4   # token k-gram size
WINNOW_W = 5   # winnowing window over consecutive gram hashes


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint set, digested.

    Positional k-gram hashes (the minhash base hash: md5 prefix ->
    32-bit int, shared idiom with the DuckDB twin), then the MINIMUM
    hash of every WINNOW_W-window of consecutive gram hashes is
    selected; the DISTINCT selected values are the fingerprint set.
    Tie handling is by VALUE (window min + set dedup — 'robust
    winnowing' without the positional argmin rule), so both engines
    agree without an index tie-break. Documents with at least one gram
    but fewer than WINNOW_W windows select the single global min (one
    window over what exists); gram-less documents select nothing.

    Entirely ROW-LOCAL — grams, hashes, windows and the selected set
    are transform/slice expressions over the token array and never
    leave the row: one corpus scan, ZERO exchanges at any scale.
    Output pins the fingerprint SET (md5 over the sorted values), not
    just its size.

    The gram-hash array and the selected set are each MATERIALIZED
    behind a projection, like the token array (textstats.tokenized):
    the window-minimum lambda reads the hash array once per W-window,
    so inline it would re-hash the whole gram array per window."""
    hashes = F.transform(_ngrams(F.col("toks"), WINNOW_K),
                         lambda g: _md5_u32(g))
    nh = F.size(F.col("_hs"))
    mins = (
        F.when(nh == 0, F.array().cast("array<long>"))
        .when(nh < WINNOW_W, F.array(F.array_min(F.col("_hs"))))
        .otherwise(F.transform(
            F.sequence(F.lit(1), nh - (WINNOW_W - 1)),
            lambda j: F.array_min(F.slice(F.col("_hs"), j, WINNOW_W)),
        ))
    )
    selected = F.array_sort(F.array_distinct(mins))
    digest = F.md5(F.concat_ws(
        ",", F.transform(F.col("_sel"), lambda v: v.cast("string"))))
    return (
        tokenized(load_documents(spark, sf_dir), "doc_id")
        .select("doc_id", hashes.alias("_hs"))
        .select("doc_id", nh.cast("int").alias("n_grams"),
                selected.alias("_sel"))
        .select(
            "doc_id", "n_grams",
            F.size("_sel").cast("int").alias("n_selected"),
            digest.alias("fp_digest"),
        )
    )


def winnowing_sql() -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {WINNOW_K}
              THEN [array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')
                    FOR i IN range(1, len(toks)-{WINNOW_K}+2)]
              ELSE [] END AS grams
  FROM t
),
h AS (
  SELECT doc_id,
         [CAST('0x' || substring(md5(gm), 1, 8) AS BIGINT)
          FOR gm IN grams] AS hs
  FROM g
),
m AS (
  SELECT doc_id, len(hs) AS n_grams,
         CASE WHEN len(hs) = 0 THEN []::BIGINT[]
              WHEN len(hs) < {WINNOW_W} THEN [list_min(hs)]
              ELSE [list_min(hs[j:j+{WINNOW_W - 1}])
                    FOR j IN range(1, len(hs)-{WINNOW_W}+2)] END AS mins
  FROM h
)
SELECT doc_id,
       CAST(n_grams AS INTEGER) AS n_grams,
       CAST(len(sel) AS INTEGER) AS n_selected,
       -- coalesce: array_to_string of the EMPTY selected set is NULL
       -- in DuckDB where Spark's concat_ws is '' (same as c4_clean)
       md5(coalesce(array_to_string([CAST(v AS VARCHAR) FOR v IN sel],
                                    ','), '')) AS fp_digest
FROM (SELECT doc_id, n_grams, list_sort(list_distinct(mins)) AS sel FROM m)
"""
