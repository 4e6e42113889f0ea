"""Text-analysis operators over the flat documents table: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Every operator is pure built-in pyspark.sql.functions (JVM-side, inside
whole-stage codegen — no Python in the hot path) and each ships a
DuckDB-equivalent ANSI-SQL oracle string used by the driver's correctness
gate. Outputs are integer/string-typed wherever possible so value hashes
can't drift on float rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._cache import session_persisted

# common-word list for the stopword/langid heuristics (includes the
# synthetic corpus' function-ish words so the signal is non-trivial)
STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
    "table", "value", "data", "join", "query", "row", "key",
)
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Round-robin a corpus scan to defaultParallelism when it has
    fewer partitions than that — the one-file local corpus (one row
    group -> one scan partition) would otherwise run its whole per-row
    projection on one core. An already-parallel scan (a multi-file
    corpus) comes back unchanged: a repartition there is a full shuffle
    that buys nothing. The decision reads the planned scan's partition
    count and runs no Spark job. Every caller's result is
    partitioning-independent (per-row maps, aggregations, joins)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


# the whitespace class every tokenizer, normalizer and BPE pattern
# spells out — NOT \s: Java's \s includes vertical tab (\x0B) but
# RE2's (every DuckDB oracle) does not, so a corpus document containing
# \x0B would silently diverge every token-derived column between the
# engines (the cross-engine probe test pins the agreement)
_WS = r" \t\n\f\r"
_WS_RUN = f"[{_WS}]+"


def tokenized(df: DataFrame, *cols) -> DataFrame:
    """``df.select(*cols, toks)`` — the ONE home of the whitespace
    tokenizer: ``toks`` is the array<string> split of trimmed ``text``.

    Every token consumer reads this materialized attribute, never an
    inline split. Higher-order functions are interpreted
    (CodegenFallback, no common-subexpression elimination), so a lambda
    body that references the split expression — a k-gram's
    ``slice(toks, i, k)``, simhash's majority vote — re-evaluates the
    whole regex tokenization PER ELEMENT (measured 5-9x slower at sf1.0
    for the gram builders), and a projection that references it twice
    splits twice. CollapseProject keeps this projection separate
    whenever ``toks`` is read more than once, so the split runs once
    per row."""
    return df.select(*cols, F.split(F.trim(F.col("text")), _WS_RUN)
                     .alias("toks"))


def token_rows(df: DataFrame, *cols: str) -> DataFrame:
    """``(*cols, token)``: one row per token of ``tokenized(df, *cols)``.
    The same rows as a plain explode — split never yields an empty
    array or a NULL element, so explode_outer differs only on NULL
    text, whose NULL token the filter drops. A plain explode of the
    ``toks`` attribute would make the optimizer infer
    ``isnotnull(toks) AND size(toks) > 0`` and push it below the
    projection with the split substituted in: two more splits per
    row."""
    return (tokenized(df, *cols)
            .select(*cols, F.explode_outer("toks").alias("token"))
            .where(F.col("token").isNotNull()))


def _ngrams(toks, k: int):
    """The k-gram MULTISET of a ``toks`` column, in position order: the
    space-joined ``slice(toks, i, k)`` for i = 1 .. n-k+1; a document
    with fewer than k tokens has none. The one k-gram builder — bigrams,
    shingles and winnowing grams all derive from it."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _md5_u32(key, salt: str | None = None):
    """Engine-portable uniform 32-bit hash of a string column — the
    first 8 hex digits of md5 as a long (md5 is identical in Spark and
    DuckDB, unlike xxhash64), optionally salted as ``salt_key``. The ONE
    home of the convention: doc sampling and packing buckets, the
    rolling/DSIR token hashes, the CMS and Bloom rows and the minhash
    and winnowing gram hashes all derive from it. Inside
    ``F.transform`` wrap it as ``lambda t: _md5_u32(t)`` — passed bare,
    its second parameter flips pyspark into the (element, index)
    form."""
    if salt is not None:
        key = F.concat_ws("_", F.lit(salt), key)
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LC = "abcdefghijklmnopqrstuvwxyz"


def _ascii_lower(col):
    """ASCII-only case fold via translate — bit-identical in both
    engines by construction. Full Unicode lower() DIVERGES between the
    JVM and DuckDB on special-casing characters (measured by the fuzz
    differential: lower(U+0130 'İ') = 'i' + combining U+0307 in Java
    but plain 'i' in DuckDB), so every oracled expression that folds
    case — ASCII stopword/keyword matching, fingerprint normalization —
    uses this instead. Non-ASCII letters keep their case, which is the
    right semantic for matching ASCII-only word lists."""
    return F.translate(col, _ASCII_UPPER, _ASCII_LC)


def _ascii_lower_sql(expr: str) -> str:
    """DuckDB twin of _ascii_lower (same translate, same rationale)."""
    return f"translate({expr}, '{_ASCII_UPPER}', '{_ASCII_LC}')"


# the whitespace-collapse normalizer body shared by FINGERPRINT_SQL and
# _hll_docs_sql (kept OUT of the f-string expressions: backslashes are
# illegal there before py3.12)
_NORM_BODY_SQL = r"regexp_replace(trim(text), '\s+', ' ', 'g')"



# ---------------------------------------------------------------------------
# token stats
# ---------------------------------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.col("toks")
    docs = tokenized(load_documents(spark, sf_dir), "doc_id", "text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.aggregate(F.transform(toks, F.length), F.lit(0),
                    lambda acc, x: acc + x).alias("sum_token_len"),
        F.length("text").cast("int").alias("n_chars_actual"),
    )


TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
       CAST(list_sum([length(t) FOR t IN regexp_split_to_array(trim(text), '\s+')]) AS INTEGER) AS sum_token_len,
       CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
"""


# ---------------------------------------------------------------------------
# quality scoring (length / punctuation / stopword-ratio flags)
# ---------------------------------------------------------------------------

def _stop_hits(toks):
    """How many tokens are STOPWORDS (ASCII case fold) — shared by the
    quality band and the language cascade."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(
        F.filter(toks, lambda t: F.array_contains(stop, _ascii_lower(t))))


def _quality_cols(toks):
    """(n_tokens, stop_hits, quality_ok) expressions over a ``toks``
    column — the SINGLE home of the quality band, shared by
    quality_stats, source_stats and the curation funnel (review
    finding: the band was written out twice; a one-sided edit would
    silently decouple the dashboard rollup from the per-doc flags while
    each still matched its own oracle). Integer cross-multiplication
    instead of a float ratio: stopword ratio >= 10% and a sane length
    band."""
    n_tokens = F.size(toks)
    stop_hits = _stop_hits(toks)
    quality_ok = ((stop_hits * 10 >= n_tokens)
                  & (n_tokens >= 5) & (n_tokens <= 10000))
    return n_tokens, stop_hits, quality_ok


def quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tokens, stop_hits, quality_ok = _quality_cols(F.col("toks"))
    # dropping [A-Za-z0-9 ] keeps exactly the punctuation characters
    punct = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", ""))
    docs = tokenized(load_documents(spark, sf_dir), "doc_id", "text")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        punct.cast("int").alias("punct_count"),
        quality_ok.alias("quality_ok"),
    )


# the quality band over a `toks` list alias — one SQL home shared by
# QUALITY_SQL and SOURCE_STATS_SQL (mirrors _quality_cols)
_QUALITY_OK_SQL = (
    f"(len([t FOR t IN toks IF list_contains({_STOP_SQL}, {_ascii_lower_sql('t')})])"
    f" * 10 >= len(toks) AND len(toks) >= 5 AND len(toks) <= 10000)")

QUALITY_SQL = rf"""
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len([t FOR t IN toks IF list_contains({_STOP_SQL}, {_ascii_lower_sql('t')})]) AS INTEGER) AS stop_hits,
       CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS INTEGER) AS punct_count,
       {_QUALITY_OK_SQL} AS quality_ok
FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents)
"""


# ---------------------------------------------------------------------------
# language-ID heuristic (CJK presence, stopword density)
# ---------------------------------------------------------------------------

def _lang_pred_col(toks):
    """The zh/en/unk language cascade over ``text`` and a ``toks``
    column — single home shared by lang_id and the curation funnel
    (whose oracle composes LANG_ID_SQL, so a one-sided threshold edit
    would silently decouple them)."""
    cjk = (F.length("text")
           - F.length(F.regexp_replace("text", "[一-龥]", "")))
    return (F.when(cjk > 0, F.lit("zh"))
            .when(_stop_hits(toks) * 20 >= F.size(toks), F.lit("en"))
            .otherwise(F.lit("unk")))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized(load_documents(spark, sf_dir), "doc_id", "lang", "text")
    return docs.select(
        "doc_id", "lang", _lang_pred_col(F.col("toks")).alias("lang_pred"))


LANG_ID_SQL = rf"""
SELECT doc_id, lang,
       CASE
         WHEN length(text) - length(regexp_replace(text, '[一-龥]', '', 'g')) > 0 THEN 'zh'
         WHEN len([t FOR t IN toks IF list_contains({_STOP_SQL}, {_ascii_lower_sql('t')})]) * 20
              >= len(toks) THEN 'en'
         ELSE 'unk'
       END AS lang_pred
FROM (SELECT doc_id, text, lang, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents)
"""


# ---------------------------------------------------------------------------
# BPE-ish subword token count (GPT-2-style pre-tokenizer pattern; both
# Java regex and DuckDB's RE2 support \p{L}/\p{N} identically here —
# but NOT \s: Java's includes \x0B, RE2's does not (fuzz-differential
# finding: a \x0B next to punctuation flipped a piece between the
# whitespace and symbol alternatives), so the whitespace class is
# the explicit _WS, as in tokenized())
# ---------------------------------------------------------------------------

BPE_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^"
    + _WS + r"\p{L}\p{N}]+|[" + _WS + r"]+"
)


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    return load_documents(spark, sf_dir).select(
        "doc_id",
        F.size(pieces).alias("n_bpe_pieces"),
        F.size(F.filter(pieces, lambda p: p.rlike(r"^ ?\p{N}+$")))
        .alias("n_number_pieces"),
    )


BPE_TOKENS_SQL = rf"""
SELECT doc_id,
       CAST(len(pieces) AS INTEGER) AS n_bpe_pieces,
       CAST(len([p FOR p IN pieces IF regexp_matches(p, '^ ?\p{{N}}+$')])
            AS INTEGER) AS n_number_pieces
FROM (SELECT doc_id,
             regexp_extract_all(text,
               '''s|''t|''re|''ve|''m|''ll|''d| ?\p{{L}}+| ?\p{{N}}+| ?[^{_WS}\p{{L}}\p{{N}}]+|[{_WS}]+'
             ) AS pieces
      FROM documents)
"""


# ---------------------------------------------------------------------------
# rolling-hash fingerprint (Karp-Rabin fold over md5-derived token hashes;
# DuckDB list_reduce uses the first element as the accumulator, mirrored
# on the Spark side)
# ---------------------------------------------------------------------------

ROLL_MOD = 2147483647


def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-token hashes are read three times below, so they get their
    # own projection: inline, each token would be md5-hashed three times
    hashed = tokenized(load_documents(spark, sf_dir), "doc_id").select(
        "doc_id", F.transform("toks", lambda t: _md5_u32(t)).alias("hs"))
    hs = F.col("hs")
    rolled = F.aggregate(
        F.slice(hs, 2, F.greatest(F.size(hs) - 1, F.lit(0))),
        F.element_at(hs, 1),
        lambda acc, x: (acc * 31 + x) % ROLL_MOD,
    )
    return hashed.select("doc_id", rolled.alias("rolling_hash"))


ROLLING_SQL = rf"""
SELECT doc_id,
       list_reduce([CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
                    FOR t IN regexp_split_to_array(trim(text), '\s+')],
                   (acc, x) -> (acc * 31 + x) % {ROLL_MOD}) AS rolling_hash
FROM documents
"""


# ---------------------------------------------------------------------------
# document fingerprint (normalized-content hash)
# ---------------------------------------------------------------------------

def _norm_text():
    """The whitespace-collapsed lowercased text — the single normalizer
    home for fingerprints and the HLL register hash (whitespace is the
    explicit _WS class, as in tokenized())."""
    return _ascii_lower(F.regexp_replace(
        F.trim(F.col("text")), _WS_RUN, " "))


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).select(
        "doc_id", F.md5(_norm_text()).alias("fingerprint")
    )


FINGERPRINT_SQL = rf"""
SELECT doc_id,
       md5({_ascii_lower_sql(_NORM_BODY_SQL)}) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# repetition-based quality signals (Gopher-style, Rae et al. 2021 §A1.1:
# "fraction of tokens in duplicated n-grams" / "top n-gram fraction" —
# the standard filters a training-data pipeline applies before dedup)
# ---------------------------------------------------------------------------

def _bigrams(toks):
    """Token bigram MULTISET (no array_distinct — repetition measurement
    needs duplicates preserved)."""
    return _ngrams(toks, 2)


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals, all integer-valued so the oracle
    hash is float-free: total/distinct bigram counts, the top bigram's
    occurrence count, and the number of bigram occurrences belonging to
    repeated bigrams (the Gopher dup-n-gram numerator; callers divide by
    n_bigrams for the fraction).

    Shape at scale: the signals are doc-LOCAL, so they are computed as a
    per-row fold over the SORTED bigram array (run-length accumulator
    struct) — the fold itself needs no shuffle, vs the natural
    explode -> groupBy(doc_id, bg) -> groupBy(doc_id) form that shuffles
    ~n_tokens rows per doc twice. Measured 0.8 s vs 5.1 s at sf0.1/32
    cores, bit-identical output (and the DuckDB oracle IS the grouped
    form, so the equivalence is hash-checked at every gate run). The one
    Exchange in the plan is the round-robin repartition that
    parallelizes single-file local inputs, as in minhash_signatures —
    not a key shuffle."""
    docs = tokenized(spread(load_documents(spark, sf_dir)), "doc_id")
    toks_n = F.size("toks")
    n_bigrams = F.when(toks_n >= 2, toks_n - 1).otherwise(0).cast("long")
    bgs = F.array_sort(_bigrams(F.col("toks")))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("distinct"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("rep"),
    )

    def step(acc, e):
        # new run: one more distinct bigram; a lone occurrence counts 0
        # toward rep until a second occurrence arrives (then +2, later +1)
        new_run = F.struct(
            e.alias("prev"), F.lit(1).cast("long").alias("run"),
            (acc["distinct"] + 1).alias("distinct"),
            F.greatest(acc["top"], F.lit(1).cast("long")).alias("top"),
            acc["rep"].alias("rep"))
        cont = F.struct(
            e.alias("prev"), (acc["run"] + 1).alias("run"),
            acc["distinct"].alias("distinct"),
            F.greatest(acc["top"], acc["run"] + 1).alias("top"),
            (acc["rep"] + F.when(acc["run"] == 1, 2).otherwise(1))
            .alias("rep"))
        return F.when(acc["prev"].isNull() | (acc["prev"] != e),
                      new_run).otherwise(cont)

    # materialize the fold ONCE behind a projection: the three output
    # columns each referencing F.aggregate(...) directly would carry
    # three COPIES of the fold expression, and interpreted HOFs get no
    # subexpression elimination — 3x the per-row work (same hazard the
    # row_minhash `_mh` column guards against)
    acc = docs.select(
        "doc_id", n_bigrams.alias("n_bigrams"),
        F.aggregate(bgs, init, step).alias("_acc"))
    return acc.select(
        "doc_id", "n_bigrams",
        F.col("_acc")["distinct"].alias("n_distinct_bigrams"),
        F.col("_acc")["top"].alias("top_bigram_count"),
        F.col("_acc")["rep"].alias("n_repeated_bigrams"),
    )


REPETITION_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN [array_to_string(toks[i:i+1], ' ')
                    FOR i IN range(1, len(toks))]
              ELSE [] END AS bgs
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
),
b AS (
  SELECT doc_id,
         unnest(CASE WHEN len(bgs) = 0 THEN [NULL]::VARCHAR[]
                     ELSE bgs END) AS bg
  FROM d
),
per AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg)
SELECT doc_id,
       CAST(sum(CASE WHEN bg IS NOT NULL THEN c ELSE 0 END) AS BIGINT)
         AS n_bigrams,
       CAST(count(CASE WHEN bg IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_distinct_bigrams,
       CAST(max(CASE WHEN bg IS NOT NULL THEN c ELSE 0 END) AS BIGINT)
         AS top_bigram_count,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_repeated_bigrams
FROM per
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# deterministic corpus sampling + length bucketing (training-prep ops:
# reproducible subsampling for ablations; sequence-length histograms for
# packing/batching plans)
# ---------------------------------------------------------------------------

SAMPLE_PCT = 10  # keep ~10% of docs


def _md5_u32_sql(salt: str | None = None) -> str:
    key = "CAST(doc_id AS VARCHAR)"
    if salt is not None:
        key = f"'{salt}_' || {key}"
    return f"CAST('0x' || substring(md5({key}), 1, 8) AS BIGINT)"


def _md5_bucket(modulus: int):
    return _md5_u32(F.col("doc_id").cast("string")) % modulus


def _md5_bucket_sql(modulus: int) -> str:
    return f"{_md5_u32_sql()} % {modulus}"


def doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~SAMPLE_PCT% sample: keep iff an md5-derived hash of
    doc_id falls under the threshold — engine-portable and stable across
    runs, partitionings, and cluster sizes, which `.sample()` is not. A
    narrow map; the filter rides the scan."""
    bucket = _md5_bucket(100)
    return load_documents(spark, sf_dir).select(
        "doc_id", bucket.cast("int").alias("sample_bucket"),
        (bucket < SAMPLE_PCT).alias("sampled"),
    )


DOC_SAMPLE_SQL = f"""
SELECT doc_id,
       CAST(h AS INTEGER) AS sample_bucket,
       h < {SAMPLE_PCT} AS sampled
FROM (SELECT doc_id, {_md5_bucket_sql(100)} AS h
      FROM documents)
"""


# ---------------------------------------------------------------------------
# bigram LM frequency score — the CCNet-style "LM quality filter" shape:
# score each document by how typical its bigrams are of the corpus.
# True perplexity needs log-probs (float, not cross-engine-stable); the
# integer twin keeps the sum of corpus frequencies and the bigram count
# separately, so ordering/filtering on typicality is exact.
# ---------------------------------------------------------------------------

def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: n_bigrams and the SUM of corpus-wide occurrence counts
    of its bigrams (a doc of common bigrams scores high per bigram; rare
    or garbled text scores ~1 per bigram). Integer in, integer out.

    Scale shape: one explode -> bigram-count shuffle builds the corpus
    LM (the vocabulary domain, far smaller than the corpus); the doc
    side re-derives bigrams and equi-joins the LM — at 100 TB the LM
    side is the broadcast/bucketed dimension. No float anywhere."""
    # shared bigram expression (_bigrams — one home with the
    # repetition/DSIR consumers); persisted per session: the exploded
    # relation feeds BOTH the LM build and the join side, and
    # unpersisted each action re-runs the corpus explode twice
    # (review finding; cf. bm25_topk's postings)
    d = session_persisted(
        spark, ("bigram_lm", sf_dir),
        lambda: tokenized(spread(load_documents(spark, sf_dir)), "doc_id")
        .select("doc_id", F.explode_outer(_bigrams(F.col("toks")))
                .alias("bg")))
    lm = d.where(F.col("bg").isNotNull()) \
        .groupBy("bg").agg(F.count("*").alias("freq"))
    return (
        d.join(lm, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("bg")).alias("n_bigrams"),
            F.coalesce(F.sum("freq"), F.lit(0)).cast("long")
            .alias("sum_corpus_freq"),
        )
    )


BIGRAM_LM_SQL = r"""
WITH d AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
           [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
         ELSE [NULL] END) AS bg
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
),
lm AS (SELECT bg, count(*) AS freq FROM d WHERE bg IS NOT NULL GROUP BY bg)
SELECT d.doc_id,
       count(d.bg) AS n_bigrams,
       CAST(COALESCE(sum(lm.freq), 0) AS BIGINT) AS sum_corpus_freq
FROM d LEFT JOIN lm ON d.bg = lm.bg
GROUP BY d.doc_id
"""


STRATIFIED_TARGET = 10  # expected docs kept per stratum


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-stratum sampling: each source keeps ~TARGET docs
    regardless of stratum size — keep iff h32 * n_stratum <
    TARGET * 2^32, where h32 is a salted md5-derived 32-bit value
    (uniform), so the keep RATE is TARGET/n per stratum with ZERO
    floating point: the comparison is exact 64-bit integer arithmetic,
    identical in both engines (sound for strata up to 2^31 rows;
    h32*n < 2^63). Strata at or under TARGET keep everything.

    Scale shape: one count-per-source agg broadcast back onto the scan
    (tiny: one row per stratum), then a narrow filter — no sort, no
    window, unlike rate-free reservoir approaches."""
    h32 = _md5_u32(F.col("doc_id").cast("string"), "strat")
    d = load_documents(spark, sf_dir).select(
        "doc_id", "source", h32.alias("h32"))
    counts = d.groupBy("source").agg(F.count("*").alias("n_stratum"))
    return (
        d.join(F.broadcast(counts), "source")
        .where(F.col("h32") * F.col("n_stratum")
               < F.lit(STRATIFIED_TARGET) * F.lit(1 << 32))
        .select("doc_id", "source", "n_stratum")
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, source, {_md5_u32_sql("strat")} AS h32
  FROM documents
),
counts AS (SELECT source, count(*) AS n_stratum FROM d GROUP BY source)
SELECT doc_id, d.source, n_stratum
FROM d JOIN counts ON d.source = counts.source
WHERE h32 * n_stratum < {STRATIFIED_TARGET} * {1 << 32}
"""


def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets (the shape a
    packing/batching planner consumes): bucket = floor(log2(n_tokens)),
    with counts and total tokens per bucket. One partial-aggregated
    groupBy on a tiny key domain."""
    n = F.size("toks")
    # floor(log2) via the integer `length(bin(n)) - 1` trick (the
    # HLL/qsketch pattern): floating log2 routes through different
    # libm code paths in the JVM (ln/ln2) and DuckDB (std::log2), and
    # a one-ulp flip at a power of two would move a bucket boundary
    bucket = F.when(n <= 0, F.lit(-1)) \
        .otherwise((F.length(F.bin(n.cast("long"))) - 1).cast("int"))
    return (
        tokenized(load_documents(spark, sf_dir))
        .select(bucket.alias("len_bucket"), n.alias("n_tokens"))
        .groupBy("len_bucket")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("total_tokens"))
    )


LENGTH_BUCKETS_SQL = r"""
SELECT CASE WHEN n <= 0 THEN -1
            ELSE CAST(length(bin(CAST(n AS BIGINT))) - 1 AS INTEGER)
            END AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens
FROM (SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n
      FROM documents)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# corpus vocabulary ops: per-source top terms + inverted-index posting
# stats — the term-level views a corpus pipeline builds for vocabulary
# pruning, tokenizer fitting, and search-index construction.
# ---------------------------------------------------------------------------

TOP_TERMS_K = 3


def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K tokens per source by term frequency (rank ties broken by
    token ascending, the deterministic contract). Scale shape: explode
    -> map-side partial count -> ONE shuffle on (source, token) -> a
    window over the already-aggregated (small) term table partitioned by
    source. The window input is |vocab| x |sources| rows, not corpus
    rows."""

    tf = (
        token_rows(load_documents(spark, sf_dir), "source")
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tf").desc(), F.col("token"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TERMS_K)
        .select("source", "token", "tf", "rank")
    )


TOP_TERMS_SQL = rf"""
WITH tf AS (
  SELECT source, u.token, count(*) AS tf
  FROM documents, LATERAL (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token) u
  WHERE u.token <> ''
  GROUP BY source, u.token
)
SELECT source, token, tf,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY tf DESC, token) AS INTEGER) AS rank
FROM tf
QUALIFY rank <= {TOP_TERMS_K}
"""

INDEX_MIN_DF = 5


def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list statistics of the corpus inverted index: per token,
    document frequency, total term frequency, and the smallest posting
    (min doc_id), for tokens appearing in >= INDEX_MIN_DF documents —
    the df/tf table an index builder or a tokenizer-vocab fit consumes.
    One explode + one (token, doc) pre-aggregation + one token
    aggregation, all map-side combined."""
    grams = (
        token_rows(load_documents(spark, sf_dir), "doc_id")
        .where(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf_doc"))
    )
    return (
        grams.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("tf_doc").cast("long").alias("total_tf"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("doc_freq") >= INDEX_MIN_DF)
    )


INVERTED_INDEX_SQL = rf"""
WITH td AS (
  SELECT u.token, doc_id, count(*) AS tf_doc
  FROM documents, LATERAL (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token) u
  WHERE u.token <> ''
  GROUP BY u.token, doc_id
)
SELECT token, count(*) AS doc_freq,
       CAST(sum(tf_doc) AS BIGINT) AS total_tf,
       min(doc_id) AS first_doc
FROM td
GROUP BY token
HAVING count(*) >= {INDEX_MIN_DF}
"""


def source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: doc count, total chars, total
    tokens, distinct languages, and the count of quality-passing docs
    (same quality expression as quality_stats) — the per-domain rollup a
    curation dashboard reads. One scan, one tiny-key groupBy with
    map-side partials."""
    n_tokens, _, quality_ok = _quality_cols(F.col("toks"))
    return (
        tokenized(load_documents(spark, sf_dir), "source", "lang", "text")
        .select("source", "lang", F.length("text").alias("n_chars"),
                n_tokens.alias("n_tokens"),
                quality_ok.cast("int").alias("q"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("q").cast("long").alias("n_quality_ok"),
        )
    )


SOURCE_STATS_SQL = rf"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(CASE WHEN {_QUALITY_OK_SQL}
            THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
FROM (SELECT source, lang, text,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# context-window chunking + sequence packing (the two transforms between a
# curated corpus and actual training batches: split long docs into
# overlapping context windows; concatenate docs and cut fixed-capacity
# packs, GPT-style)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 128    # tokens per context window
CHUNK_STRIDE = 96   # window start step (32-token overlap)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size context windows per document: starts at
    token 1, 1+STRIDE, ... while <= n_tokens; each chunk is
    ``slice(toks, start, CHUNK_SIZE)`` (the final chunks are short).
    Entirely JVM-side array algebra (sequence -> explode -> slice) — no
    Python in the path; the explode factor is n/STRIDE, and every output
    row carries only the chunk digest + length, never the token array,
    so shuffle width stays O(1) per chunk."""
    d = tokenized(load_documents(spark, sf_dir), "doc_id")
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE))
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_SIZE)
    return (
        d.select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id", "start",
            # integral DIV per the CLAUDE.md double-`/` rule
            F.expr(f"(start - 1) DIV {CHUNK_STRIDE}").cast("int")
            .alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


# DuckDB list slicing is 1-based inclusive: toks[a:b] = elements a..b.
DOC_CHUNKS_SQL = rf"""
SELECT doc_id, start,
       CAST((start - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       len(toks[start:start + {CHUNK_SIZE - 1}]) AS n_tokens,
       md5(array_to_string(toks[start:start + {CHUNK_SIZE - 1}], ' '))
           AS chunk_hash
FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {CHUNK_STRIDE}))
             AS start
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents))
"""


PACK_CAPACITY = 2048   # tokens per training pack
N_PACK_BUCKETS = 32    # default (and sf-dir oracle's pinned) stream count


def pack_sequences(spark: SparkSession, sf_dir: str,
                   n_buckets: int | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing: docs are concatenated in a
    deterministic order and cut every PACK_CAPACITY tokens, so each doc
    gets (pack_id, offset_in_pack) — the GPT-style pretraining layout
    where documents straddle pack boundaries.

    Scale shape: a single global order would serialize the cumsum, so
    packing runs in ``n_buckets`` independent streams keyed by an
    md5-derived bucket of doc_id (engine-portable, like doc_sample's
    hash) — ONE shuffle on the bucket key, a running-sum window within
    each bucket ordered by doc_id, integer division for the pack id.
    Buckets pack independently (pack ids are per-bucket), exactly how a
    1000-executor job would shard the corpus; determinism survives any
    input partitioning because both bucket and order derive from
    doc_id alone.

    ``n_buckets`` defaults to the session's defaultParallelism (floored
    at N_PACK_BUCKETS) — each bucket's window sorts corpus/n_buckets
    rows on ONE task, so the count must grow with the cluster, not stay
    a constant: at 100 TB on 1000 executors pass ~4-8x total cores.
    The registry/oracle query pins n_buckets=N_PACK_BUCKETS so both
    engines bucket identically."""
    if n_buckets is None:
        n_buckets = max(spark.sparkContext.defaultParallelism,
                        N_PACK_BUCKETS)
    n_tok = F.size("toks")
    bucket = _md5_bucket(n_buckets).cast("int")
    d = tokenized(load_documents(spark, sf_dir), "doc_id").select(
        "doc_id", bucket.alias("bucket"), n_tok.alias("n_tokens"))
    w = (
        Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_before = (F.sum("n_tokens").over(w) - F.col("n_tokens"))
    # integral DIV, never double `/` + cast (CLAUDE.md): past 2^53
    # cumulative tokens the double rounds and pack_id diverges from
    # the oracle's exact `//`
    return d.select(
        "doc_id", "bucket", "n_tokens",
        F.lit(PACK_CAPACITY).cast("int").alias("capacity"),
        cum_before.alias("_cb"),
    ).select(
        "doc_id", "bucket", "n_tokens", "capacity",
        F.expr(f"_cb DIV {PACK_CAPACITY}").alias("pack_id"),
        (F.col("_cb") % PACK_CAPACITY).cast("int")
        .alias("offset_in_pack"),
    )


PACK_SEQUENCES_SQL = rf"""
SELECT doc_id, bucket, n_tokens,
       CAST({PACK_CAPACITY} AS INTEGER) AS capacity,
       CAST((cum - n_tokens) // {PACK_CAPACITY} AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % {PACK_CAPACITY} AS INTEGER) AS offset_in_pack
FROM (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT doc_id,
               CAST({_md5_bucket_sql(N_PACK_BUCKETS)} AS INTEGER) AS bucket,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents)
)
"""


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch — implemented IDENTICALLY in Spark
# and the DuckDB oracle (md5-derived registers), so the estimate itself
# is oracle-checked exactly, not approximately
# ---------------------------------------------------------------------------

HLL_P = 8                    # 2^8 = 256 registers
_HLL_M = 1 << HLL_P
# Flajolet et al.'s alpha_256, written as the same literal expression in
# both engines so the doubles are bit-identical
_HLL_ALPHA_EXPR = f"0.7213 / (1.0 + 1.079 / {_HLL_M}.0)"


def hll_distinct(spark: SparkSession, sf_dir: str,
                 with_exact: bool = True) -> DataFrame:
    """Distinct normalized-document estimate via a from-scratch
    HyperLogLog over the md5 fingerprint: register = first HLL_P hash
    bits, rho = 1 + leading zeros of the next 52 bits (computed with
    integer/string ops — ``53 - length(bin(v))`` — NOT floating log2,
    whose off-by-one-ulp at powers of two would flip floor() in one
    engine and not the other). The harmonic denominator sums dyadic
    rationals (2^-rho) plus an integer count, which double addition
    represents EXACTLY at any summation order for every realistic rho
    (exactness would only break past ~2^52 distinct docs), so the raw
    estimate is deterministic and the DuckDB oracle matches it to the
    last bit — a sketch whose VALUE is correctness-gated, not just its
    shape.

    Small-cardinality branch (the full Flajolet estimator): when
    raw <= 2.5m and V = empty registers > 0, linear counting
    m*ln(m/V) replaces the raw estimate. ln() is NOT cross-engine
    bit-stable (measured: 18/255 inputs differ by one ulp between the
    JVM and DuckDB libm), but the branch's inputs ARE bit-stable (raw
    is dyadic-exact arithmetic, V is an integer) and V's domain is
    FINITE — 1..255 — so round(..., 4) provably erases the ulp
    divergence: the test sweeps every possible V through both engines
    and asserts equality over the complete domain.

    Scale shape: one scan -> map-side partial max per register -> a
    256-row shuffle -> single-row fold; the classic mergeable-sketch
    layout (per-partition register vectors union by max).

    ``with_exact`` (default True, the registry/oracle form) adds an
    ``exact_distinct`` gate column so the sketch's VALUE is checked
    against ground truth — at the cost of a corpus-sized
    countDistinct(fp) shuffle, the very thing the sketch exists to
    avoid. Production at 100 TB calls ``with_exact=False``: identical
    register layout and estimate, but the only shuffle is the 256-row
    register merge (partial max per register map-side) — the plan audit
    pins that the sketch-only form has no distinct-fp exchange."""
    return _hll_sketch(load_documents(spark, sf_dir), [], with_exact)


def _hll_sketch(docs: DataFrame, keys: list[str],
                with_exact: bool) -> DataFrame:
    """The one register pipeline behind hll_distinct (no ``keys``) and
    hll_by_source (``keys=["source"]``): registers keyed by (*keys,
    bucket), partial max per register map-side, then one fold per group.
    ``with_exact`` adds the exact_distinct gate: the bucket is a function
    of fp, so distinct fps partition by bucket and the per-bucket
    distinct counts sum to the group's exact count in the same pass."""
    bucket, rho, h = _hll_doc_cols()
    # spread the one-file scan: the normalize+md5 register projection
    # is the whole per-row cost and would otherwise run on one core
    docs = spread(docs).select(
        *keys, bucket.alias("b"), rho.alias("r"), h.alias("fp"))
    nd, exact = ([F.countDistinct("fp").alias("nd")], ["exact_distinct"]) \
        if with_exact else ([], [])
    regs = docs.groupBy(*keys, "b").agg(F.max("r").alias("mr"), *nd)
    sketch = regs.groupBy(*keys).agg(
        F.count("*").alias("n_registers_set"),
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("zsum"),
        *[F.sum("nd").alias(c) for c in exact])
    return sketch.select(
        *keys, "n_registers_set", *_hll_estimate_cols(), *exact)


def _hll_doc_cols():
    """(bucket, rho, fingerprint) expressions over the text column —
    the single home of the register construction, shared by the global
    and per-group sketches (divergence here would silently decouple the
    two from each other and their oracles)."""
    h = F.md5(_norm_text())
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    v = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = (F.lit(53) - F.when(v > 0, F.length(F.bin(v))).otherwise(0)) \
        .cast("int")
    return bucket, rho, h


def _hll_estimate_cols():
    """(hll_estimate, used_linear_counting) over a sketch relation
    carrying n_registers_set + zsum — the single home of the estimator
    including the linear-counting branch."""
    raw = (F.expr(_HLL_ALPHA_EXPR) * _HLL_M * _HLL_M
           / (F.col("zsum") + (F.lit(_HLL_M) - F.col("n_registers_set"))))
    vempty = F.lit(_HLL_M) - F.col("n_registers_set")
    use_lc = (raw <= F.lit(2.5 * _HLL_M)) & (vempty > 0)
    lc = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M))
                                      / vempty.cast("double"))
    return (
        F.when(use_lc, F.round(lc, 4))
        .otherwise(F.round(raw, 4)).alias("hll_estimate"),
        use_lc.cast("int").alias("used_linear_counting"),
    )


# SQL twins of _hll_doc_cols / _hll_estimate_cols — one home each, so
# the global and per-group oracles can't drift from each other
def _hll_docs_sql(extra: str = "") -> str:
    return rf"""SELECT {extra}CAST('0x' || substring(h, 1, 2) AS BIGINT) AS b,
         53 - CASE WHEN CAST('0x' || substring(h, 3, 13) AS BIGINT) > 0
                   THEN length(bin(CAST('0x' || substring(h, 3, 13)
                                        AS BIGINT)))
                   ELSE 0 END AS r,
         h AS fp
  FROM (SELECT {extra}md5({_ascii_lower_sql(_NORM_BODY_SQL)}) AS h
        FROM documents)"""


_HLL_EST_SQL = f"""CASE WHEN raw <= {2.5 * _HLL_M} AND vempty > 0
            THEN round({_HLL_M}.0 * ln({_HLL_M}.0 / CAST(vempty AS DOUBLE)), 4)
            ELSE round(raw, 4) END AS hll_estimate,
       CAST(raw <= {2.5 * _HLL_M} AND vempty > 0 AS INTEGER)
         AS used_linear_counting"""


HLL_DISTINCT_SQL = rf"""
WITH docs AS ({_hll_docs_sql()}),
regs AS (SELECT b, max(r) AS mr FROM docs GROUP BY b),
est AS (
  SELECT count(*) AS n_registers_set,
         {_HLL_ALPHA_EXPR} * {_HLL_M} * {_HLL_M}
           / (sum(pow(2.0, -mr)) + ({_HLL_M} - count(*))) AS raw,
         {_HLL_M} - count(*) AS vempty
  FROM regs
)
SELECT n_registers_set,
       {_HLL_EST_SQL},
       (SELECT count(DISTINCT fp) FROM docs) AS exact_distinct
FROM est
"""


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters — the counting sibling of the HLL
# sketch above; every value is an integer, so cross-engine parity is
# exact by construction
# ---------------------------------------------------------------------------

CMS_DEPTH = 4       # independent hash rows
CMS_WIDTH = 256     # counters per row
CMS_TOP_K = 20      # probe set: exact top-K tokens


def _cms_hash_structs():
    """The D (row, bucket) pairs for a ``token`` column — build side and
    probe side MUST hash identically or the probe misses its own sketch
    buckets, so the expression lives in exactly one place."""
    return F.array(*[
        F.struct(
            F.lit(d).alias("d"),
            (_md5_u32(F.col("token"), str(d)) % CMS_WIDTH).alias("c"),
        ) for d in range(CMS_DEPTH)
    ])


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over token occurrences, probed with the exact
    top-CMS_TOP_K tokens: per occurrence and hash row d, bucket =
    md5(d || token) % W; the sketch is the (d, bucket) count table and
    a token's estimate is min over rows of its bucket counter — always
    >= the true count (one-sided error), equality when no collision.
    Output (token, cms_estimate, exact_count) is all-integer, so the
    DuckDB oracle matches exactly.

    Scale shape: the sketch build is explode -> map-side partial counts
    into a FIXED D x W = 1024-key domain (the definition of a mergeable
    sketch: per-partition sketches union by +); the probe side is the
    exact top-k (itself one token shuffle) broadcast-joined against the
    1024-row sketch."""
    # persisted per session: the token explode feeds both the sketch
    # build and the exact top-k probe side (review finding)
    tok_occ = session_persisted(
        spark, ("cms_tokens", sf_dir),
        lambda: token_rows(spread(load_documents(spark, sf_dir))))
    rows = tok_occ.select(
        "token", F.explode(_cms_hash_structs()).alias("h")
    ).select("token", "h.d", "h.c")
    sketch = rows.groupBy("d", "c").agg(F.count("*").alias("n"))
    exact = (
        tok_occ.groupBy("token").agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(CMS_TOP_K)
    )
    probe = exact.select(
        "token", "exact_count", F.explode(_cms_hash_structs()).alias("h")
    ).select("token", "exact_count", "h.d", "h.c")
    return (
        probe.join(F.broadcast(sketch), ["d", "c"])
        .groupBy("token", "exact_count")
        .agg(F.min("n").alias("cms_estimate"))
        .select("token", "cms_estimate", "exact_count")
    )


# the SQL twin of _cms_hash_structs — one definition, used by both the
# build and probe CTEs (the token column name is the LATERAL's scope)
_CMS_ROWS_SQL = ", ".join(f"({d})" for d in range(CMS_DEPTH))
_CMS_HASH_SQL = (
    "LATERAL (SELECT ds.d AS d, "
    "CAST('0x' || substring(md5(ds.d || '_' || token), 1, 8) AS BIGINT) "
    f"% {CMS_WIDTH} AS c) h"
)

CMS_HEAVY_HITTERS_SQL = rf"""
WITH occ AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
),
hashed AS (
  SELECT token, h.d, h.c
  FROM occ, (VALUES {_CMS_ROWS_SQL}) ds(d), {_CMS_HASH_SQL}
),
sketch AS (SELECT d, c, count(*) AS n FROM hashed GROUP BY d, c),
exact AS (
  SELECT token, count(*) AS exact_count
  FROM occ GROUP BY token
  ORDER BY exact_count DESC, token ASC
  LIMIT {CMS_TOP_K}
),
probe AS (
  SELECT token, exact_count, h.d, h.c
  FROM exact, (VALUES {_CMS_ROWS_SQL}) ds(d), {_CMS_HASH_SQL}
)
SELECT p.token, min(s.n) AS cms_estimate, p.exact_count
FROM probe p JOIN sketch s ON p.d = s.d AND p.c = s.c
GROUP BY p.token, p.exact_count
"""


# ---------------------------------------------------------------------------
# exact per-group quantiles — rank arithmetic, integer in / integer out
# ---------------------------------------------------------------------------

QUANTILE_PCTS = (25, 50, 75, 90)


def length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source document-length quantiles with percentile_disc
    semantics (smallest value whose cume_dist >= p), computed by rank
    arithmetic: rn*100 >= n*p selects the qualifying tail, min() picks
    its first value. Integer in, integer out — no interpolation, so the
    oracle hash cannot drift on float arithmetic, and no
    approx_percentile, whose sketch is engine-specific by design.

    Scale shape: ONE sort-shuffle on source (the window), then the agg
    reuses the same partitioning — per key group this is the sort a
    1000-executor exact-quantile pass pays; for truly massive single
    groups you'd swap in a two-pass histogram refinement, same contract."""
    d = load_documents(spark, sf_dir).select("source", "n_chars", "doc_id")
    ranked = d.select(
        "source", "n_chars",
        # long, NOT int: rn*100 wraps a 32-bit rank past ~21.4M rows per
        # group — exactly the scale the docstring claims (and DuckDB's
        # row_number is already BIGINT)
        F.row_number().over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")
        ).cast("long").alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        *[F.min(F.when(F.col("rn") * 100 >= F.col("n") * p,
                       F.col("n_chars"))).alias(f"p{p}")
          for p in QUANTILE_PCTS],
    )


_QUANTILE_COLS_SQL = ",\n       ".join(
    f"min(CASE WHEN rn*100 >= n*{p} THEN n_chars END) AS p{p}"
    for p in QUANTILE_PCTS)

LENGTH_QUANTILES_SQL = f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, max(n) AS n_docs,
       {_QUANTILE_COLS_SQL}
FROM ranked
GROUP BY source
"""


# ---------------------------------------------------------------------------
# per-group HLL — the mergeable-sketch layout applied per key, sharing
# the global sketch's bit-stable estimator (incl. the linear-counting
# branch, whose finite input domain is cross-engine-proven by test)
# ---------------------------------------------------------------------------

def hll_by_source(spark: SparkSession, sf_dir: str,
                  with_exact: bool = True) -> DataFrame:
    """hll_distinct per source: registers keyed by (source, bucket), so
    partial aggregates merge per group exactly like the global sketch —
    the GROUP BY form a warehouse "distinct users per day" rollup takes
    at 100 TB (one shuffle on the composite key, 256 rows per group).
    Small groups (25 docs over 256 registers at sf0.01) drive the
    linear-counting branch, so the driver row gates it per group.

    ``with_exact=False`` is the production scale shape (see
    hll_distinct): same registers/estimate, no per-group
    countDistinct(fp) — the shuffle payload is <=256 rows per group
    regardless of corpus size."""
    return _hll_sketch(load_documents(spark, sf_dir), ["source"],
                       with_exact)


HLL_BY_SOURCE_SQL = rf"""
WITH docs AS ({_hll_docs_sql("source, ")}),
regs AS (
  SELECT source, b, max(r) AS mr, count(DISTINCT fp) AS nd
  FROM docs GROUP BY source, b
),
est AS (
  SELECT source,
         count(*) AS n_registers_set,
         {_HLL_ALPHA_EXPR} * {_HLL_M} * {_HLL_M}
           / (sum(pow(2.0, -mr)) + ({_HLL_M} - count(*))) AS raw,
         {_HLL_M} - count(*) AS vempty,
         CAST(sum(nd) AS BIGINT) AS exact_distinct
  FROM regs GROUP BY source
)
SELECT source, n_registers_set,
       {_HLL_EST_SQL},
       exact_distinct
FROM est
"""


# ---------------------------------------------------------------------------
# mergeable quantile sketch — the scale sibling of length_quantiles
# (whose docstring names the need): an HDR-histogram-style fixed bucket
# lattice, all-integer, so the sketch VALUES cross-engine hash-match
# ---------------------------------------------------------------------------

QSKETCH_SUB_BITS = 4          # 16 linear sub-buckets per power-of-two
_QSK_SUB = 1 << QSKETCH_SUB_BITS


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles from a MERGEABLE histogram sketch
    (HDR-histogram bucket lattice, public domain design: Tene,
    HdrHistogram): value v maps to bucket v itself when v < 16, else
    bucket (e-4)*16 + (v >> (e-4)) where e = floor(log2 v) computed
    with the HLL trick ``length(bin(v)) - 1`` (integer-exact, never
    floating log). Each power-of-two octave splits into 16 linear
    sub-buckets, so a bucket's width is at most lower/16 — the reported
    quantile (the bucket's lower bound, integer) is within 1/16
    relative of the exact percentile_disc value, and the containing
    bucket is EXACTLY the bucket of the exact answer (binning is
    monotonic, so rank order is preserved).

    Everything is integer arithmetic — bucket ids, counts, cumulative
    ranks, reconstructed lower bounds — so the DuckDB oracle matches
    bit-for-bit at any parallelism and merge order; this is the same
    cross-engine discipline as the HLL/CMS/Bloom sketches.

    Scale shape vs length_quantiles' full per-group sort: ONE map-side
    partial count into the fixed lattice (<= ~16*60 buckets spans the
    whole int64 range), a (source, bucket) shuffle whose payload is the
    lattice size regardless of corpus size, then a window + fold over
    the tiny per-group histogram. Sketches merge by adding counts —
    the form a 1000-executor job needs. No full sort, no corpus-sized
    exchange."""
    d = (load_documents(spark, sf_dir)
         .select("source", F.col("n_chars").cast("long").alias("v"))
         .withColumn("e", (F.length(F.bin(F.col("v"))) - 1).cast("int")))
    bucket = (
        F.when(F.col("v") < _QSK_SUB, F.col("v").cast("int"))
        .otherwise(((F.col("e") - QSKETCH_SUB_BITS) * _QSK_SUB
                    + F.expr(f"shiftright(v, e - {QSKETCH_SUB_BITS})"))
                   .cast("int"))
    )
    hist = (d.select("source", bucket.alias("bucket"))
            .groupBy("source", "bucket").agg(F.count("*").alias("cnt")))
    w_cum = (Window.partitionBy("source").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, 0))
    ranked = hist.select(
        "source", "bucket", "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("source")).alias("n"),
    )
    # reconstruct the bucket's lower bound: b < 16 -> b, else
    # (16 + b%16) << (b//16 - 1)  [b = (e-3)*16 + s  =>  e = b//16 + 3]
    lower = (
        F.when(F.col("bucket") < _QSK_SUB, F.col("bucket").cast("long"))
        .otherwise(F.expr(
            f"shiftleft(CAST({_QSK_SUB} + bucket % {_QSK_SUB} AS BIGINT),"
            f" bucket DIV {_QSK_SUB} - 1)"))
    )
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        *[F.min(F.when(F.col("cum") * 100 >= F.col("n") * p, lower))
          .alias(f"p{p}_est") for p in QUANTILE_PCTS],
    )


_QSK_BUCKET_SQL = f"""CASE WHEN v < {_QSK_SUB} THEN CAST(v AS INTEGER)
         ELSE CAST((length(bin(v)) - 1 - {QSKETCH_SUB_BITS}) * {_QSK_SUB}
              + (v >> (length(bin(v)) - 1 - {QSKETCH_SUB_BITS}))
              AS INTEGER) END"""

_QSK_LOWER_SQL = f"""CASE WHEN bucket < {_QSK_SUB} THEN CAST(bucket AS BIGINT)
           ELSE CAST(({_QSK_SUB} + bucket % {_QSK_SUB}) AS BIGINT)
                << (bucket // {_QSK_SUB} - 1) END"""

_QSK_COLS_SQL = ",\n       ".join(
    f"min(CASE WHEN cum*100 >= n*{p} THEN lower_b END) AS p{p}_est"
    for p in QUANTILE_PCTS)

QUANTILE_SKETCH_SQL = f"""
WITH vals AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
),
hist AS (
  SELECT source, {_QSK_BUCKET_SQL} AS bucket, count(*) AS cnt
  FROM vals GROUP BY 1, 2
),
ranked AS (
  SELECT source, bucket, cnt,
         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n,
         {_QSK_LOWER_SQL} AS lower_b
  FROM hist
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       {_QSK_COLS_SQL}
FROM ranked
GROUP BY source
"""


# ---------------------------------------------------------------------------
# BM25 term-document ranking — the standard retrieval scorer
# (Robertson/Sparck Jones probabilistic relevance framework) over the
# corpus inverted index, with strict cross-engine float discipline
# ---------------------------------------------------------------------------

BM25_TOP_TERMS = 20   # ranked vocabulary slice (exact, tie-broken)
BM25_TOP_DOCS = 5     # postings per term in the output


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BM25_TOP_DOCS documents per top term, scored with BM25
    (k1=1.2, b=0.75) using the LUCENE idf variant
    ln(1 + (N-df+0.5)/(df+0.5)) — always POSITIVE, so score increases
    with tf and the ranking is a real relevance order even for terms
    with df > N/2 (Robertson's raw idf goes negative there and would
    INVERT the ranking for exactly the high-frequency terms this
    query selects — review finding, crafted-ranking test pins it).

    Float discipline (the reason this hashes cross-engine): the ONLY
    transcendental, ln() in the idf, is round(,4)-guarded immediately
    (its ulp divergence between JVM and DuckDB libm is the measured
    hazard — see hll_distinct; the sweep test walks the COMPLETE
    realized df domain through both engines); everything after is
    single IEEE-754 +,-,*,/ steps in an IDENTICAL expression tree,
    each correctly rounded and therefore bit-equal in both engines;
    and scores are PER (term, doc) — no cross-term float SUM whose
    accumulation order could differ. Constants: 2.2 = k1+1 and 1.2
    parse to the same double everywhere; 0.25 = 1-b and 0.75 are
    exactly representable. Ranking ties break on doc_id.

    Scale shape: ONE token explode feeding a (token, doc) partial agg,
    persisted per session (_cache.session_persisted) because it feeds both
    the term slice and the scored join — unpersisted, Spark would
    rebuild the whole index twice per invocation (review finding);
    document lengths from a cheap column-pruned second scan; the term
    slice is exact top-k by total frequency (deterministic tie-break)
    and BROADCAST back onto the postings, so the scored relation is
    |top_terms| postings lists; one per-term window for the final
    rank (WindowGroupLimit pushes the top-k down)."""
    postings = session_persisted(
        spark, ("bm25_postings", sf_dir),
        # spread: the index build is the expensive pass
        lambda: token_rows(spread(load_documents(spark, sf_dir)), "doc_id")
        .where(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("int").alias("tf")))
    dl = tokenized(load_documents(spark, sf_dir), "doc_id").select(
        "doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.sum("dl").cast("long").alias("sum_dl"))
    df_tbl = postings.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("tf").cast("long").alias("ttf"))
    top_terms = (df_tbl
                 .orderBy(F.col("ttf").desc(), F.col("token").asc())
                 .limit(BM25_TOP_TERMS)
                 .select("token", "df"))
    scored = (
        postings.join(F.broadcast(top_terms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "token", "doc_id", "tf", "df",
            F.round(
                F.round(F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                              / (F.col("df") + 0.5)), 4)
                * (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (0.25 + 0.75
                   * (F.col("dl") * F.col("n_docs"))
                   / F.col("sum_dl"))),
                4).alias("score"),
        )
    )
    w = Window.partitionBy("token").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= BM25_TOP_DOCS))



BM25_TOPK_SQL = rf"""
WITH postings AS (
  SELECT token, doc_id, CAST(count(*) AS INTEGER) AS tf
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents)
  WHERE token != '' GROUP BY token, doc_id
),
dl AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
),
df_tbl AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS ttf
  FROM postings GROUP BY token
),
top_terms AS (
  SELECT token, df FROM df_tbl ORDER BY ttf DESC, token LIMIT {BM25_TOP_TERMS}
),
scored AS (
  -- e-notation floats ONLY: bare 0.5/2.2 literals are DECIMAL in
  -- DuckDB and silently shift the arithmetic off Spark's double path
  -- (see the DSIR llr comment; sweep-tested)
  SELECT p.token, p.doc_id, p.tf, t.df,
         round(round(ln(1e0 + (s.n_docs - t.df + 5e-1)
                        / (t.df + 5e-1)), 4)
               * (p.tf * 2.2e0)
               / (p.tf + 1.2e0 * (2.5e-1 + 7.5e-1
                  * (d.dl * s.n_docs) / s.sum_dl)),
               4) AS score
  FROM postings p
  JOIN top_terms t USING (token)
  JOIN dl d USING (doc_id), stats s
)
SELECT token, doc_id, tf, df, score, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY token
                                   ORDER BY score DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= {BM25_TOP_DOCS}
"""


# ---------------------------------------------------------------------------
# DSIR importance weights — hashed n-gram importance resampling (Xie et
# al. 2023, "Data Selection for Language Models via Importance
# Resampling"): score every document by how much its hashed
# unigram+bigram features resemble a target domain vs the raw corpus
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256                      # hashed feature space
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")   # the "target domain"
DSIR_LLR_SCALE = 10000                  # llr quantization (1e-4)


def _dsir_features(toks):
    """Hashed unigram + bigram feature buckets per document (array of
    ints in [0, DSIR_BUCKETS)) — one expression home for the target
    and corpus distributions and the per-doc scorer; bigrams come from
    the shared _bigrams() home (review finding: three inline copies)."""
    return F.transform(
        F.concat(toks, _bigrams(toks)),
        lambda t: (_md5_u32(t) % DSIR_BUCKETS).cast("int"),
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_features, weight_q) per document: weight_q = the
    DSIR importance log-weight sum_f c_f * llr(f), quantized to 1e-4
    integer units. llr(f) = ln(p_target(f) / p_corpus(f)) with
    Laplace-smoothed hashed-feature distributions (+1 / +B), the bag of
    hashed n-grams importance estimator from the paper.

    Cross-engine float discipline — why an ITERATED float sum still
    hash-matches: ln()'s inputs are rationals of integers (bit-stable),
    its one-ulp JVM/DuckDB divergence is crushed by rounding
    ln(x)*10000 to an INTEGER immediately (the round(,4) pattern,
    integer-cast), and from there the per-doc weight is a sum of
    integer products — order-independent and exact in both engines at
    any parallelism. A float llr summed per doc would drift low bits
    with accumulation order; the integer quantization is what makes
    this oracle-gateable (cf. neardup_pagerank's fixed point).

    Scale shape (round 8 — the previous form's corpus-token-sized
    persist + broadcast-join + doc-keyed re-aggregation was 85% of its
    sf1.0 cost): the distribution pass folds the feature explode into
    <=B=256 rows map-side (one scan, a 256-row-per-task shuffle), the
    totals come from a window over those <=B rows (NOT a second corpus
    aggregate — review finding), and the quantized llr dimension —
    provably <= DSIR_BUCKETS integers — is collected (a BOUNDED
    256-row action, the IVF-quantizer precedent, NOT a corpus collect)
    into a LITERAL lookup array. The per-doc weight is then a row-LOCAL
    fold over the feature array (element_at into the literal), so the
    scoring pass needs ZERO shuffles, no persist, and no join at any
    corpus size. Integer llr_q summation is order-independent, so the
    restructure is value-identical to the joined form (equivalence
    pinned by the driver oracle).

    The distribution pass scans the lazy feature explode
    (_dsir_feats_lazy): nothing here forces a corpus-token-sized
    materialization."""
    docs = _dsir_feats_lazy(spark, sf_dir)
    tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    counts = docs.groupBy("f").agg(
        F.count("*").alias("cq"),
        F.count(F.when(tgt, True)).alias("cp"),
    )
    # totals derived from the <=B-row counts relation via one
    # unpartitioned window (nq = sum cq, np = sum cp); llr quantized to
    # integer 1e-4 units: round(ln(...)*SCALE) is a single guarded
    # transcendental; everything downstream is integer
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    llr = counts.select(
        "f",
        F.round(F.log(
            ((F.col("cp") + 1.0)
             / (F.sum("cp").over(wall) + F.lit(DSIR_BUCKETS)))
            / ((F.col("cq") + 1.0)
               / (F.sum("cq").over(wall) + F.lit(DSIR_BUCKETS)))
        ) * DSIR_LLR_SCALE, 0).cast("long").alias("llr_q"),
    )
    llr_arr = [0] * DSIR_BUCKETS
    for r in llr.collect():          # <= DSIR_BUCKETS rows, bounded
        llr_arr[r["f"]] = int(r["llr_q"])
    lit_llr = F.array(*[F.lit(v).cast("long") for v in llr_arr])
    # text IS NOT NULL replicates the joined form's row set exactly: a
    # NULL-text doc has a NULL feature array (the explode emitted
    # nothing), while ANY non-null text yields >= 1 token (split of ''
    # is ['']) and therefore >= 1 feature. Deliberately NOT written as
    # size(_f) > 0: PushDownPredicates substitutes the alias into the
    # pushed filter, which re-runs the whole interpreted feature
    # construction on the pre-repartition single-partition scan
    # (measured: 32.7 s vs 2.5 s at sf1.0) — the cheap IsNotNull
    # predicate pushes into the parquet reader instead.
    scored = tokenized(spread(load_documents(spark, sf_dir)
                              .where(F.col("text").isNotNull())), "doc_id") \
        .select("doc_id", _dsir_features(F.col("toks")).alias("_f"))
    return scored.select(
        "doc_id",
        F.size("_f").cast("long").alias("n_features"),
        F.aggregate(
            "_f", F.lit(0).cast("long"),
            lambda acc, f: acc + F.element_at(lit_llr, f + 1),
        ).alias("weight_q"),
    )



def _dsir_feats_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-persisted (doc_id, source, f) hashed-feature explode —
    the relation the distribution pass scans. Spread first:
    the sf-dir parquet is one file -> one scan partition (same
    pattern as minhash_signatures)."""
    return tokenized(spread(load_documents(spark, sf_dir)),
                     "doc_id", "source").select(
        "doc_id", "source",
        F.explode(_dsir_features(F.col("toks"))).alias("f"))


_DSIR_FEATS_SQL = rf"""
SELECT doc_id, source,
       unnest([CAST(CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
               % {DSIR_BUCKETS} AS INTEGER)
               FOR t IN list_concat(toks,
                 CASE WHEN len(toks) >= 2
                      THEN [array_to_string(toks[i:i+1], ' ')
                            FOR i IN range(1, len(toks))]
                      ELSE [] END)]) AS f
FROM (SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents)
"""

_DSIR_TGT_SQL = "('" + "', '".join(DSIR_TARGET_SOURCES) + "')"

DSIR_WEIGHTS_SQL = rf"""
WITH feats AS ({_DSIR_FEATS_SQL}),
counts AS (
  SELECT f, count(*) AS cq,
         count(*) FILTER (WHERE source IN {_DSIR_TGT_SQL}) AS cp
  FROM feats GROUP BY f
),
llr AS (
  -- 1e0 NOT 1.0: DuckDB parses bare decimal literals as DECIMAL and
  -- the decimal-arithmetic chain produces DIFFERENT doubles than
  -- Spark's double path (measured: inputs diverged, not just ln ulps);
  -- e-notation parses as DOUBLE in both engines
  SELECT f, CAST(round(ln(((cp + 1e0)
                           / (sum(cp) OVER () + {DSIR_BUCKETS}))
                         / ((cq + 1e0)
                            / (sum(cq) OVER () + {DSIR_BUCKETS})))
                       * {DSIR_LLR_SCALE}, 0) AS BIGINT) AS llr_q
  FROM counts
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
       CAST(sum(llr_q) AS BIGINT) AS weight_q
FROM feats JOIN llr USING (f)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# PMI co-occurrence ranking — the collocation table a tokenizer-merge
# fit or a phrase-mining pass consumes (Church & Hanks 1990)
# ---------------------------------------------------------------------------

PMI_MIN_COOC = 5   # bigram types below this count are noise, filtered
PMI_TOP_K = 40


def pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI_TOP_K adjacent token pairs by pointwise mutual
    information. Ranking uses the exact LIFT

        lift = P(x,y) / (P(x) P(y)) = (c_xy * N_uni^2) / (N_bi * c_x * c_y)

    with the monotone ln() of textbook PMI omitted: the ranking is
    invariant under it, and dropping it leaves ZERO transcendentals —
    the expression is integer counts promoted to double, three IEEE
    multiplications and one division in an identical association order
    in both engines, each step correctly rounded and therefore
    bit-equal (the proven alternative to the round(4)-guarded ln of
    bm25/dsir when the log itself carries no information). round(,4)
    only formats the output.

    Scale shape: one token explode and one bigram explode, each into a
    map-side-combined count (the bigram-TYPE table, not the corpus, is
    what survives the shuffle); the unigram lookups are plain equi-joins
    on token — type-sized relations on both sides, never corpus-sized —
    deliberately left UNHINTED: a web-scale unigram vocabulary (10^8+
    types) does not fit a broadcast, and AQE already converts the join
    when the runtime size clears the threshold (it does at test SF, see
    PLANS.md). Corpus totals are a one-row broadcast; the final global
    top-k is TakeOrderedAndProject over the >=PMI_MIN_COOC pair types —
    never a single-partition sort of corpus rows."""
    # ONE corpus pass for BOTH count tables (round 8): tokens cannot
    # contain whitespace (they come from the whitespace split) and
    # bigrams always contain a space, so the two term domains are
    # disjoint — explode the concatenated array once, count by term,
    # and split the tiny type table by contains(' '). Every consumer
    # derives from the same aggregation subtree, so the shuffle is
    # planned once and reused (ReusedExchange — the map side runs one
    # time; plan-checked in plans/r08). spread() parallelizes the
    # one-file scan (the minhash_signatures pattern).
    # persisted: the term-TYPE table (vocabulary + bigram types, never
    # corpus-sized) feeds five consumers (ux, uy, pairs, both totals);
    # AQE's exchange reuse only deduplicated some of them (measured 6
    # residual scans), so without the persist the corpus explode ran
    # several times per action — 3.9 s -> 0.9-1.4 s at sf1.0. Lazy
    # persist held by the session store, same discipline as
    # lsh_candidate_pairs.
    terms = session_persisted(
        spark, ("pmi_terms", sf_dir),
        lambda: tokenized(spread(load_documents(spark, sf_dir)))
        .select(F.explode(
            F.concat(F.col("toks"), _bigrams(F.col("toks"))))
            .alias("term"))
        .groupBy("term").agg(F.count("*").alias("c")),
        lazy=True)
    uni = terms.where(~F.col("term").contains(" ")) \
        .select(F.col("term").alias("token"), "c")
    bi = terms.where(F.col("term").contains(" ")) \
        .select(F.col("term").alias("bg"), F.col("c").alias("c_xy"))
    stats = (uni.agg(F.sum("c").cast("long").alias("n_uni"))
             .crossJoin(bi.agg(F.sum("c_xy").cast("long").alias("n_bi"))))
    pairs = (bi.where(F.col("c_xy") >= PMI_MIN_COOC)
             .select(F.split("bg", " ").getItem(0).alias("x"),
                     F.split("bg", " ").getItem(1).alias("y"),
                     "c_xy"))
    ux = uni.select(F.col("token").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("token").alias("y"), F.col("c").alias("c_y"))
    scored = (
        pairs.join(ux, "x").join(uy, "y")
        .crossJoin(F.broadcast(stats))
        .select(
            "x", "y", F.col("c_xy").cast("long").alias("c_xy"),
            F.round((F.col("c_xy").cast("double")
                     * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("n_bi").cast("double")
                       * F.col("c_x") * F.col("c_y")),
                    4).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "x", "y").limit(PMI_TOP_K)


PMI_TOPK_SQL = rf"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
uni AS (
  SELECT u.token, CAST(count(*) AS BIGINT) AS c
  FROM toks, LATERAL (SELECT unnest(t) AS token) u
  GROUP BY u.token
),
bi AS (
  SELECT b.bg, CAST(count(*) AS BIGINT) AS c_xy
  FROM toks, LATERAL (
    SELECT unnest(CASE WHEN len(t) >= 2
                       THEN [array_to_string(t[i:i+1], ' ')
                             FOR i IN range(1, len(t))]
                       ELSE [] END) AS bg) b
  GROUP BY b.bg
),
su AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
sb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bi),
pairs AS (
  SELECT split_part(bg, ' ', 1) AS x, split_part(bg, ' ', 2) AS y, c_xy
  FROM bi WHERE c_xy >= {PMI_MIN_COOC}
)
SELECT p.x, p.y, p.c_xy,
       round((CAST(p.c_xy AS DOUBLE) * su.n_uni * su.n_uni)
             / (CAST(sb.n_bi AS DOUBLE) * ux.c * uy.c), 4) AS lift
FROM pairs p
JOIN uni ux ON ux.token = p.x
JOIN uni uy ON uy.token = p.y
CROSS JOIN su CROSS JOIN sb
ORDER BY lift DESC, x, y
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# PII detection / redaction — the scrub pass a training-data pipeline
# runs before packing (emails, IPv4s, phone-shaped digit runs)
# ---------------------------------------------------------------------------

# Java-regex AND RE2 compatible by construction: no lookaround, no
# backreferences, explicit [0-9] (never \d — ASCII-vs-unicode class
# defaults differ), \b is ASCII-word-boundary in both. Both engines
# scan leftmost-first with greedy quantifiers, so match sets agree.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9() -]{6,}[0-9]"


def _pii_stages(text):
    """The three redaction stages of a text column: emails, then IPv4s,
    then phone-shaped digit runs. The ORDER is the contract — each
    count in pii_stats is taken on the PREVIOUS stage's output, so a
    digit cluster inside an email local-part is counted once (as the
    email), never again as an IP or phone; replacement tokens contain
    no digits, so later stages cannot re-match inside them."""
    t1 = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IP, "<IP>")
    return t1, t2, F.regexp_replace(t2, PII_PHONE, "<PHONE>")


def pii_redacted(text):
    """Fully redacted form of a text column (the transform a cleaning
    pipeline maps over the corpus; pii_stats is its audit query)."""
    return _pii_stages(text)[2]


def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts + the md5 of the fully redacted text.
    Pure per-row JVM regex (whole-stage codegen, no shuffle at all);
    the md5 pins the complete redaction pipeline, so the oracle fails
    loudly if either engine's regex semantics drift even on a corpus
    with zero PII (the synthetic corpus is digit-free — the crafted
    cross-engine differential test in tests/test_pii.py is where the
    match semantics are actually exercised)."""
    t0 = F.col("text")
    t1, t2, t3 = _pii_stages(t0)
    return load_documents(spark, sf_dir).select(
        "doc_id",
        F.regexp_count(t0, F.lit(PII_EMAIL)).cast("int").alias("n_email"),
        F.regexp_count(t1, F.lit(PII_IP)).cast("int").alias("n_ip"),
        F.regexp_count(t2, F.lit(PII_PHONE)).cast("int").alias("n_phone"),
        F.md5(t3).alias("redacted_md5"),
    )


PII_STATS_SQL = rf"""
WITH s1 AS (
  SELECT doc_id, text AS t0,
         regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM documents
),
s2 AS (SELECT *, regexp_replace(t1, '{PII_IP}', '<IP>', 'g') AS t2 FROM s1),
s3 AS (SELECT *, regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS t3
       FROM s2)
SELECT doc_id,
       CAST(len(regexp_extract_all(t0, '{PII_EMAIL}')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(t1, '{PII_IP}')) AS INTEGER) AS n_ip,
       CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS INTEGER) AS n_phone,
       md5(t3) AS redacted_md5
FROM s3
"""


# ---------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021, appendix A1.1) — the
# standard pre-dedup document filter battery of a training-data pipeline
# ---------------------------------------------------------------------------

# the 8 "required stopwords" of the Gopher rule set (the rule asks for
# >=2 of THESE, not the general STOPWORDS lexicon lang_id uses)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher quality counts + the composite keep flag.

    Every ratio threshold of the paper is restated as an INTEGER
    cross-multiplication (the repo's cross-engine float discipline —
    zero float anywhere in the expression tree):

      * 50 <= n_words <= 100000
      * mean word length in [3, 10]   ->  3*n_words <= n_word_chars
                                          AND n_word_chars <= 10*n_words
      * symbol-to-word ratio <= 0.1   ->  10*n_symbols <= n_words
                                          (symbols: '#' chars + '...' runs)
      * <=90% of lines bullet-led     ->  10*n_bullet_lines <= 9*n_lines
      * <=30% of lines ellipsis-ended ->  10*n_ellipsis_lines <= 3*n_lines
      * >=80% words with an alpha char -> 5*n_alpha_words >= 4*n_words
      * >=2 of the 8 required stopwords present

    Pure per-row Catalyst (one codegen span, zero exchanges); the
    synthetic corpus is single-line and symbol-free, so the line/symbol
    rules are exercised by the crafted cross-engine differential in
    tests/test_quality_filters.py (the same pattern test_pii.py uses
    for the digit-free corpus)."""
    # the line array sits beside toks in the tokenized projection:
    # several count columns read it, so inline it would be re-split
    # once per column
    toks = F.col("toks")
    lines = F.col("_lines")
    ltoks = F.transform(toks, lambda t: _ascii_lower(t))
    n_words = F.size(toks)
    n_word_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0), lambda acc, x: acc + x)
    n_hash = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines,
        lambda l: l.startswith("- ") | l.startswith("* ")
        | l.startswith("• ")))
    n_ell_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    # size(array_intersect(stop_literals, ltoks)) == the former
    # size(filter(stop_literals, w -> array_contains(ltoks, w))):
    # the literal list is distinct, so both count the distinct required
    # stopwords present — but array_intersect is a plain function, so
    # ltoks is evaluated ONCE instead of once per stopword. The
    # coalesce pins the NULL-text edge to the filter form's value
    # (array_contains(NULL, w) filtered every literal -> 0, where a
    # NULL intersect would return NULL)
    n_stop = F.size(F.array_intersect(
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        F.coalesce(ltoks, F.array().cast("array<string>"))))
    counts = tokenized(
        load_documents(spark, sf_dir), "doc_id", "text",
        F.split("text", "\n").alias("_lines"),
    ).select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_word_chars.cast("int").alias("n_word_chars"),
        (n_hash + n_ell).cast("int").alias("n_symbols"),
        n_lines.cast("int").alias("n_lines"),
        n_bullet.cast("int").alias("n_bullet_lines"),
        n_ell_lines.cast("int").alias("n_ellipsis_lines"),
        n_alpha.cast("int").alias("n_alpha_words"),
        n_stop.cast("int").alias("n_stopwords"),
    )
    c = F.col
    keep = (
        (c("n_words") >= GOPHER_MIN_WORDS)
        & (c("n_words") <= GOPHER_MAX_WORDS)
        & (3 * c("n_words") <= c("n_word_chars"))
        & (c("n_word_chars") <= 10 * c("n_words"))
        & (10 * c("n_symbols") <= c("n_words"))
        & (10 * c("n_bullet_lines") <= 9 * c("n_lines"))
        & (10 * c("n_ellipsis_lines") <= 3 * c("n_lines"))
        & (5 * c("n_alpha_words") >= 4 * c("n_words"))
        & (c("n_stopwords") >= 2)
    )
    return counts.withColumn("keep", keep)


_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"

GOPHER_RULES_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         -- hoisted: one translate fold per row, not one per stopword
         [{_ascii_lower_sql('tk')} FOR tk IN
          regexp_split_to_array(trim(text), '\s+')] AS ltoks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
c AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_words,
    CAST(coalesce(list_sum([length(tk) FOR tk IN toks]), 0) AS INTEGER)
      AS n_word_chars,
    CAST(length(text) - length(replace(text, '#', ''))
         + len(regexp_extract_all(text, '\.\.\.')) AS INTEGER) AS n_symbols,
    CAST(len(lines) AS INTEGER) AS n_lines,
    CAST(len([l FOR l IN lines IF starts_with(l, '- ')
              OR starts_with(l, '* ') OR starts_with(l, '• ')])
         AS INTEGER) AS n_bullet_lines,
    CAST(len([l FOR l IN lines IF ends_with(l, '...')]) AS INTEGER)
      AS n_ellipsis_lines,
    CAST(len([tk FOR tk IN toks IF regexp_matches(tk, '[A-Za-z]')])
         AS INTEGER) AS n_alpha_words,
    CAST(len([w FOR w IN {_GOPHER_STOP_SQL}
              IF list_contains(ltoks, w)])
         AS INTEGER) AS n_stopwords
  FROM t
)
SELECT *,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
   AND 3*n_words <= n_word_chars AND n_word_chars <= 10*n_words
   AND 10*n_symbols <= n_words
   AND 10*n_bullet_lines <= 9*n_lines
   AND 10*n_ellipsis_lines <= 3*n_lines
   AND 5*n_alpha_words >= 4*n_words
   AND n_stopwords >= 2) AS keep
FROM c
"""


# ---------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020, §2.2) — keep lines that
# end in terminal punctuation, have >=5 words, and don't mention
# javascript; drop documents with code braces, lorem ipsum, or <3
# sentences after cleaning
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5


def _c4_line_keep(line):
    """The C4 per-line predicate over a TRIMMED line column. Terminal
    set is the paper's (. ! ? ")."""
    words = F.size(F.split(line, _WS_RUN))
    term = (line.endswith(".") | line.endswith("!")
            | line.endswith("?") | line.endswith('"'))
    return (term & (words >= C4_MIN_LINE_WORDS)
            & ~_ascii_lower(line).contains("javascript"))


def c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4 cleaning audit: line counts before/after the
    line filter, the sentence count of the cleaned text, the composite
    document keep flag, and the md5 of the cleaned text (so the oracle
    fails loudly on any divergence in the KEPT BYTES, not just the
    counts).

    Deviations from the paper, documented: lines are TRIMMED before
    both the predicate and the cleaned output (trailing whitespace
    would defeat the terminal-punctuation check); the paper's >=3
    sentence rule counts [.!?] marks in the cleaned text (its own
    sentence splitter is heuristic too); the bad-word list is out of
    scope (policy data, not an operator).

    Pure per-row Catalyst — the line explode never leaves the row
    (transform/filter over the split array), so the operator is one
    codegen span with zero exchanges at any corpus size."""
    lines = F.split("text", "\n")
    kept = F.filter(
        F.transform(lines, lambda l: F.trim(l)),
        _c4_line_keep)
    cleaned = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(cleaned, F.lit("[.!?]"))
    keep = (~F.col("text").contains("{")
            & ~_ascii_lower(F.col("text")).contains("lorem ipsum")
            & (n_sentences >= 3))
    return load_documents(spark, sf_dir).select(
        "doc_id",
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        n_sentences.cast("int").alias("n_sentences"),
        keep.alias("keep"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


C4_CLEAN_SQL = rf"""
WITH base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents
),
k AS (
  SELECT doc_id, text, len(lines) AS n_lines,
    [trim(l) FOR l IN lines IF
       (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
       AND len(regexp_split_to_array(trim(l), '\s+'))
           >= {C4_MIN_LINE_WORDS}
       AND NOT contains({_ascii_lower_sql('trim(l)')}, 'javascript')] AS kept
  FROM base
),
s AS (
  -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL where
  -- Spark's array_join is '' — every doc with zero kept lines diverged
  SELECT doc_id, text, n_lines, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS cleaned
  FROM k
)
SELECT doc_id,
  CAST(n_lines AS INTEGER) AS n_lines,
  CAST(len(kept) AS INTEGER) AS n_kept,
  CAST(len(regexp_extract_all(cleaned, '[.!?]')) AS INTEGER) AS n_sentences,
  (NOT contains(text, '{{') AND NOT contains({_ascii_lower_sql('text')}, 'lorem ipsum')
   AND len(regexp_extract_all(cleaned, '[.!?]')) >= 3) AS keep,
  md5(cleaned) AS cleaned_md5
FROM s
"""


# ---------------------------------------------------------------------------
# Source-mixture reweighting — temperature-based sampling rates over the
# per-source token counts (the mixture-balancing step between curation
# and packing; p_i ∝ n_i^(1/T) with T=2, the standard multilingual /
# multi-source scheme of Lample & Conneau 2019 §3.1)
# ---------------------------------------------------------------------------

def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source target share and sampling-rate multiplier for a T=2
    temperature mixture: target_share_i = s_i / Σs where
    s_i = floor(sqrt(total_tokens_i)), and sample_rate_i =
    target_share_i / natural_share_i (>1 means upsample).

    Cross-engine float discipline (the pmi_topk pattern): the ONLY
    cross-row reductions are INTEGER sums (token counts and the
    floor(sqrt) values — order-free); sqrt is IEEE-correctly-rounded
    in both engines so floor(sqrt(bigint)) is deterministic and equal,
    and the final share/rate are single fixed-association IEEE
    division chains, each step correctly rounded — bit-equal without
    any guarded-ln machinery. round(,4) only formats output.

    Scale shape: one corpus scan into a source-keyed integer agg
    (map-side partials; source cardinality is the tiny dimension), a
    one-row totals broadcast, zero further shuffles. The scan is NOT
    spread: the round-robin exchange costs more than it saves on this
    cheap size/groupBy pass (measured 0.779x at sf1.0 with it)."""
    per_src = (
        tokenized(load_documents(spark, sf_dir), "source")
        .select("source", F.size("toks").alias("n_tokens"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("total_tokens"))
        .withColumn("tok_sqrt",
                    F.floor(F.sqrt(F.col("total_tokens"))).cast("long"))
    )
    totals = per_src.agg(
        F.sum("tok_sqrt").cast("long").alias("sum_sqrt"),
        F.sum("total_tokens").cast("long").alias("sum_tokens"))
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs", "total_tokens", "tok_sqrt",
            F.round(F.col("tok_sqrt").cast("double") / F.col("sum_sqrt"),
                    4).alias("target_share"),
            F.round((F.col("tok_sqrt").cast("double")
                     * F.col("sum_tokens"))
                    / (F.col("sum_sqrt").cast("double")
                       * F.col("total_tokens")),
                    4).alias("sample_rate"),
        )
    )


MIXTURE_WEIGHTS_SQL = r"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
              AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
),
s AS (
  SELECT *, CAST(floor(sqrt(total_tokens)) AS BIGINT) AS tok_sqrt
  FROM per_src
),
tot AS (
  SELECT CAST(sum(tok_sqrt) AS BIGINT) AS sum_sqrt,
         CAST(sum(total_tokens) AS BIGINT) AS sum_tokens
  FROM s
)
SELECT source, n_docs, total_tokens, tok_sqrt,
       round(CAST(tok_sqrt AS DOUBLE) / sum_sqrt, 4) AS target_share,
       round((CAST(tok_sqrt AS DOUBLE) * sum_tokens)
             / (CAST(sum_sqrt AS DOUBLE) * total_tokens), 4) AS sample_rate
FROM s CROSS JOIN tot
"""
