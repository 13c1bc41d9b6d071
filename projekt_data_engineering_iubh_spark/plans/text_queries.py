"""Training-data pipeline operators over the `documents` table.

The dedup / text-analysis surface a 100 TB LLM-data pipeline needs:
exact + near-duplicate detection (MinHash-LSH, SimHash, n-gram Jaccard),
quality scoring, language ID, token counting, fingerprinting. Everything is
native Column expressions (no Python UDFs) so the hot path stays inside
whole-stage codegen; each op has a DuckDB oracle built from the *same*
constants/templates (functions/{hashing,text}.py) so results hash-match.

Scale notes: exact dedup is one hash-shuffle on md5(text). MinHash-LSH is
the linear-time near-dup path — signatures are embarrassingly parallel,
candidate generation is a self-equi-join on (band_no, band_key) which
Spark executes as one shuffle; no O(n²) stage exists. The n-gram Jaccard
op is quadratic *within blocks* only (lang × length-band), which is how
it survives big corpora; use it to verify LSH candidates, not to scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table, spread
from projekt_data_engineering_iubh_spark.functions import hashing, text as tx
from projekt_data_engineering_iubh_spark.operators import minhash as mh
from projekt_data_engineering_iubh_spark.operators.connected_components import (
    connected_components,
)
from projekt_data_engineering_iubh_spark.operators.minhash import (
    _LSH_BANDS,
    _LSH_ROWS,
    _MINHASH_K,
    LSH_MAX_BUCKET,
)
from projekt_data_engineering_iubh_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Exact deduplication (hash groupBy)
# ---------------------------------------------------------------------------

_EXACT_DEDUP_SQL = f"""
SELECT 'raw' AS variant, md5(text) AS text_hash,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 2
UNION ALL
SELECT 'normalized', md5({tx.normalized_text_sql('text')}),
       MIN(doc_id), COUNT(*)
FROM documents GROUP BY 2
"""


@register("docs_dedup_exact", oracle=_EXACT_DEDUP_SQL, headline=True)
def docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep lowest doc_id — both on the
    raw text and after canonicalization (lowercase, punctuation → space),
    tag-unioned to one driver entry (registry curation). At scale the md5
    shuffle key is ~uniform → no skew; the full text never shuffles."""
    # no spread() here: the groupBy shuffles anyway, and an extra
    # round-robin exchange of the full text costs more than the serial
    # map-side md5 saves (measured 0.44s -> 1.05s)
    d = load_table(spark, sf_dir, "documents")

    def dedup(variant: str, key: F.Column) -> DataFrame:
        return (
            d.groupBy(F.md5(key).alias("text_hash"))
            .agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count(F.lit(1)).alias("n_copies"),
            )
            .select(F.lit(variant).alias("variant"), "*")
        )

    return dedup("raw", F.col("text")).unionByName(
        dedup("normalized", tx.normalized_text(F.col("text")))
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------

_SIG_CTE = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, {tx.shingles_sql('toks')} AS sh FROM toks
), hs AS (
  SELECT doc_id, {hashing.hashed_shingles_sql('sh')} AS hs FROM sh
), sig AS (
  SELECT doc_id, {hashing.minhash_signature_sql('hs', _MINHASH_K)} AS minhash FROM hs
)
"""

_MINHASH_SQL = _SIG_CTE + (
    "SELECT doc_id, array_to_string(minhash, '-') AS minhash_sig FROM sig"
)


def _documents_path(sf_dir: str) -> str:
    """The ``documents`` table's directory (keys the occupancy memo)."""
    return os.path.join(sf_dir, "documents.parquet")


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures of the driver ``documents`` table (operators/minhash.py).

    Keyless spread: partitioning by doc_id would elide the groupBy
    exchange inside — but that exchange is what AQE reuses across the
    two sides of the LSH band self-join, and eliding it also drops
    map-side partial aggregation of the exploded rows.
    """
    return mh.signatures(spread(load_table(spark, sf_dir, "documents")))


@register("docs_minhash_signatures", oracle=_MINHASH_SQL, driver=False)
def docs_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=16) over 3-word shingles — engine-portable
    md5-based hashing, one pass, no shuffle. Output is the '-'-joined
    signature string (array columns stringify inconsistently across
    result-fetch paths)."""
    sig = _signatures(spark, sf_dir)
    return sig.select(
        "doc_id",
        F.array_join(
            F.transform("minhash", lambda x: x.cast("string")), "-"
        ).alias("minhash_sig"),
    )


# The oracle's band rows: the sentinel exclusion of
# operators/minhash.py::band_rows, spelled as SQL.
def _bands_branches_sql(sig_rel: str, carry_minhash: bool = False) -> str:
    carry = " minhash," if carry_minhash else ""
    return "\n  UNION ALL\n".join(
        f"  SELECT doc_id,{carry} {b} AS band_no, "
        f"array_to_string(minhash[{b * _LSH_ROWS + 1}:{(b + 1) * _LSH_ROWS}], '-') AS band_key"
        f" FROM {sig_rel} WHERE minhash[1] < {hashing.MERSENNE_P}"
        for b in range(_LSH_BANDS)
    )


_BANDS_CTE = _SIG_CTE + ", bands AS (\n" + _bands_branches_sql("sig") + "\n)"

_LSH_PAIRS_SQL = (
    _BANDS_CTE
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       len(list_filter(range(1, {_MINHASH_K + 1}), i -> sa.minhash[i] = sb.minhash[i]))
         / {float(_MINHASH_K)} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""
)


def _lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int | None = None,
    with_shsets: bool = False,
) -> DataFrame:
    """Candidate pairs of the driver ``documents`` table
    (operators/minhash.py::lsh_pairs). ``with_shsets`` builds the
    signatures with their shingle sets, which then ride the pair rows as
    (set_a, set_b) — uncapped path only."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return mh.lsh_pairs(mh.signatures(d, with_shset=with_shsets), max_bucket)


@register("docs_minhash_lsh_pairs", oracle=_LSH_PAIRS_SQL, headline=True)
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: band the signature (4 bands × 4
    rows), self-join on band key, estimate Jaccard from signature overlap.
    Linear in corpus size; the only shuffle is the band-key join.

    The full signature rides along on the band rows so the pair's overlap
    is computed inside the self-join itself: both join sides are the same
    plan shuffled on the same key, which Spark executes once and reuses
    (ReusedExchange). Re-joining signatures onto candidate pairs afterwards
    would evaluate the signature computation two more times.
    """
    return _lsh_pairs(spark, sf_dir)


_LSH_PAIRS_CAPPED_SQL = (
    _BANDS_CTE
    + f"""
, bands_rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY band_no, band_key
                               ORDER BY doc_id) AS rn
  FROM bands
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_rn a JOIN bands_rn b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id AND a.rn <= 1
)
SELECT doc_a, doc_b,
       len(list_filter(range(1, {_MINHASH_K + 1}), i -> sa.minhash[i] = sb.minhash[i]))
         / {float(_MINHASH_K)} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""
)


@register("docs_lsh_pairs_capped", oracle=_LSH_PAIRS_CAPPED_SQL, driver=False)
def docs_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket-guard candidate generator with the cap forced to 1
    (every bucket member pairs only with the bucket's minimum doc_id) —
    a diagnostic that makes the skew guard BIND on normal data, so its
    row_number/cap semantics are verified cross-engine rather than only
    on the adversarial fixture. Production consumers (docs_dedup_apply)
    run the same plan at cap=LSH_MAX_BUCKET, where normal buckets are
    untouched. Pair set is distinct'd because the capped form may emit a
    pair once per agreeing band (see operators/minhash.py::lsh_pairs)."""
    return _lsh_pairs(spark, sf_dir, max_bucket=1).dropDuplicates(
        ["doc_a", "doc_b"]
    )


# ---------------------------------------------------------------------------
# Takedown-aware near-dup filter (#163, r13) — the GDPR semantics of the
# streaming tier's delete face as an oracle-certified batch query
# ---------------------------------------------------------------------------

_TKD_TAU = 0.5  # == streaming/neardup_stream.NEAR_TAU
_TKD_ERASED_MOD, _TKD_ERASED_RES = 10, 4  # erased ⊂ even-id corpus

_TKD_BANDS_CTE = (
    _SIG_CTE + ", bandsmh AS (\n" + _bands_branches_sql("sig", True) + "\n)"
)

_TKD_AGREE = (
    f"len(list_filter(range(1, {_MINHASH_K + 1}),"
    f" i -> b.minhash[i] = c.c_minhash[i])) / {float(_MINHASH_K)}"
)

_TKD_SQL = (
    _TKD_BANDS_CTE
    + f"""
, tkd_corp AS (
  SELECT doc_id AS c_doc, minhash AS c_minhash, band_no, band_key
  FROM bandsmh
  WHERE doc_id % 2 = 0
    AND doc_id % {_TKD_ERASED_MOD} != {_TKD_ERASED_RES}
), tkd_hits AS (
  SELECT b.doc_id, MIN(c.c_doc) AS match_doc_id,
         MAX({_TKD_AGREE}) AS max_est
  FROM bandsmh b
  JOIN tkd_corp c USING (band_no, band_key)
  WHERE b.doc_id % 2 = 1 AND {_TKD_AGREE} >= {_TKD_TAU}
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CASE WHEN h.match_doc_id IS NOT NULL THEN 'dropped' ELSE 'kept' END
         AS status,
       h.match_doc_id, h.max_est
FROM documents d LEFT JOIN tkd_hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 2 = 1
"""
)


@register("docs_neardup_takedown_filter", oracle=_TKD_SQL)
def docs_neardup_takedown_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming near-dup tier's TAKEDOWN semantics as a certified
    batch query (#163, r13 — companion to the delete face VERDICT r12 #2
    shipped this round): the corpus index is the even-id docs MINUS the
    erased set (doc_id % 10 == 4 — tombstoned, exactly what
    delta_index.load_index's anti-join removes from the signature
    index), the batch is the odd-id docs, and each batch doc is dropped
    iff some LIVE corpus doc shares an LSH band with signature agreement
    ≥ 0.5 (streaming/neardup_stream.NEAR_TAU, same estimator —
    functions/hashing.signature_agreement). Output: one row per batch
    doc with (status, lowest matching live corpus doc, max agreement).
    The hash therefore certifies the user-visible GDPR contract — an
    erased document no longer suppresses near-duplicates of itself,
    while live anchors keep matching — not just the tombstone plumbing
    (which tests/test_index_takedown.py pins at the store level).

    Scale shape: identical to the streaming filter's per-trigger plan —
    one band-key equi-join (batch side shuffles into the index
    bucketing), agreement computed inside the join from the carried
    signatures, per-doc min/max aggregation. No all-pairs term; the
    erased-set exclusion is a filter pushed below the join (in
    production an anti-join against the broadcast tombstone key set)."""
    bands = mh.band_rows(_signatures(spark, sf_dir))
    corpus = bands.filter(
        (F.col("doc_id") % 2 == 0)
        & (F.col("doc_id") % _TKD_ERASED_MOD != _TKD_ERASED_RES)
    ).select(
        F.col("doc_id").alias("c_doc"),
        F.col("minhash").alias("c_minhash"),
        "band_no",
        "band_key",
    )
    batch = bands.filter(F.col("doc_id") % 2 == 1)
    est = hashing.signature_agreement(
        F.col("minhash"), F.col("c_minhash"), _MINHASH_K
    )
    hits = (
        batch.join(corpus, ["band_no", "band_key"])
        .filter(est >= _TKD_TAU)
        .groupBy("doc_id")
        .agg(
            F.min("c_doc").alias("match_doc_id"),
            F.max(est).alias("max_est"),
        )
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("match_doc_id").isNotNull(), "dropped")
            .otherwise("kept")
            .alias("status"),
            "match_doc_id",
            "max_est",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_CTE = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, {hashing.simhash_sql('toks')} AS simhash FROM toks
)
"""

_SIMHASH_SQL = _SIMHASH_CTE + "SELECT doc_id, simhash FROM sh"


def _simhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash via explode → codegen'd md5 → 60 bit-vote aggregates.

    Same reformulation as :func:`_signatures` (VERDICT r1 next-round #5):
    the array-fold form (functions/hashing.py::simhash, kept as the
    library/API surface) runs md5 + a 60-slot zip_with inside an
    interpreted lambda per token. Exploding distinct tokens moves the
    hashing into whole-stage codegen; the 60 bit-vote sums
    partial-aggregate map-side, so the shuffle carries 61 longs per doc.
    Measured at sf0.1/local[32]: fold 1.00s, explode+distinct 2.94s (the
    extra (doc_id, h) shuffle dominates), this shape 0.83s.

    Per-bit vote: popcount form — vote_i > 0 ⇔ 2·Σ((h>>i)&1) > n. Dedup
    is ``array_distinct`` on *tokens* (the oracle dedups *hashes*): they
    differ only if two distinct tokens of one doc collide in the 60-bit
    md5 space (~n²/2⁶¹ per doc — negligible, same argument as the
    xxhash64 band keys in the MinHash LSH join). ``explode_outer`` keeps
    empty/null docs: their single null-hash row yields null vote sums →
    every bit 0 → simhash 0, same as the fold and the oracle.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens(F.col("text"))
    exploded = d.select(
        "doc_id", F.explode_outer(F.array_distinct(toks)).alias("tok")
    )
    hashed = exploded.select(
        "doc_id", hashing.md5_hash60(F.col("tok")).alias("h")
    )
    bits = hashing.SIMHASH_BITS
    s_cols = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1).cast("long"))).alias(f"s{i}")
        for i in range(bits)
    ]
    g = hashed.groupBy("doc_id").agg(F.count("h").alias("n"), *s_cols)
    packed = None
    for i in range(bits):
        term = (
            F.when(F.lit(2) * F.col(f"s{i}") > F.col("n"), F.lit(1 << i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        packed = term if packed is None else packed + term
    return g.select("doc_id", packed.alias("simhash"))


@register("docs_simhash", oracle=_SIMHASH_SQL)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (token-level, md5-based, portable)."""
    return _simhashes(spark, sf_dir)


_SIMHASH_BAND_BITS = 15
_SIMHASH_HAMMING_MAX = 3

_SIMHASH_PAIRS_SQL = (
    _SIMHASH_CTE
    + ", bands AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band_no,"
        f" (simhash >> {b * _SIMHASH_BAND_BITS}) & {(1 << _SIMHASH_BAND_BITS) - 1} AS band_key"
        f" FROM sh"
        for b in range(4)
    )
    + f"""
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAMMING_MAX}
"""
)


@register("docs_simhash_neardup", oracle=_SIMHASH_PAIRS_SQL, driver=False)
def docs_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 4×15-bit band blocking, then Hamming ≤ 3 verify —
    the classic Manku/Jain/Sarma web-dedup scheme, linear via band join."""
    sh = _simhashes(spark, sf_dir)
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_no"),
                    F.shiftright("simhash", b * _SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_key"),
                )
                for b in range(4)
            ]
        )
    )
    bands = sh.select("doc_id", "simhash", band.alias("band")).select(
        "doc_id", "simhash", "band.band_no", "band.band_key"
    )
    # no join hint: at test scale Catalyst broadcasts the 2-per-doc band
    # rows (the expensive explode→md5→groupBy prefix is still computed
    # once — AQE reuses the hashpartitioning(doc_id) stage on both
    # sides); past the broadcast threshold it switches to a shuffled
    # join on the band key by itself. Runtime here is dominated by the
    # OUTPUT (~271k pairs at sf0.1: the corpus has large near-dup
    # clusters, and pair enumeration is inherently quadratic in cluster
    # size — like docs_ngram_jaccard this is a diagnostic; the applied
    # path is docs_dedup_apply's keep-first policy).
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )

    # dedup without a distinct exchange: a pair agreeing on several bands
    # is kept only at its FIRST agreeing band — earlier bands' agreement
    # is decidable from the carried simhashes (same trick as the MinHash
    # LSH join)
    def earlier_bands_disagree() -> F.Column:
        cond = F.lit(True)
        for bprev in range(3):
            ka = F.shiftright("a.simhash", bprev * _SIMHASH_BAND_BITS).bitwiseAND(
                F.lit(mask)
            )
            kb = F.shiftright("b.simhash", bprev * _SIMHASH_BAND_BITS).bitwiseAND(
                F.lit(mask)
            )
            cond = cond & ((F.col("a.band_no") <= bprev) | (ka != kb))
        return cond

    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= _SIMHASH_HAMMING_MAX)
        .filter(earlier_bands_disagree())
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification of LSH candidates — the linear path)
# ---------------------------------------------------------------------------

_JACCARD_MIN = 0.1

# candidates = the MinHash-LSH band join (same CTEs as the pairs query);
# exact shingle-set Jaccard verifies them. Round 1 registered this as a
# corpus-wide (lang, length-band) block join — quadratic inside blocks,
# flagged as the one registered scale risk (VERDICT r1); candidates make
# it linear and match how a pipeline actually uses exact Jaccard.
_NGRAM_JACCARD_SQL = (
    _BANDS_CTE
    + f"""
, shset AS (
  SELECT doc_id, list_distinct(sh) AS shset FROM sh
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
         / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset)))
         AS jaccard
FROM cand
JOIN shset sa ON sa.doc_id = doc_a
JOIN shset sb ON sb.doc_id = doc_b
WHERE len(sa.shset) > 0 AND len(sb.shset) > 0
  AND CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
      / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset)))
      >= {_JACCARD_MIN}
"""
)


@register("docs_ngram_jaccard", oracle=_NGRAM_JACCARD_SQL)
def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word shingle set) Jaccard over the MinHash-LSH
    candidate pairs — the verification stage of the near-dup pipeline.
    Linear in corpus size: the only pair-producing join is the banded
    LSH equi-join, and the shingle sets arrive ON the pair rows
    (_lsh_pairs with_shsets — one tokenization feeds signatures AND
    sets, r14; previously the corpus was tokenized+shingled two more
    times and the sets re-attached by two id equi-joins). Docs with <3
    tokens (empty shingle set, undefined Jaccard) are excluded."""
    pairs = _lsh_pairs(spark, sf_dir, with_shsets=True)
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    jaccard = inter.cast("double") / union
    return (
        pairs
        .filter((F.size("set_a") > 0) & (F.size("set_b") > 0))
        .filter(jaccard >= _JACCARD_MIN)
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Text statistics / quality / language ID / fingerprints
# ---------------------------------------------------------------------------

# The quality-score primitives live in functions/text.py (shared with
# pipeline/corpus, the streaming lanes, and operators/quality_model
# without any plans.* import cycle); re-exported here under their
# historical names — the SINGLE source of truth is unchanged, so the
# shipped corpus can never drift from the oracle-verified
# docs_text_stats score.
_PUNCT_RE = tx.PUNCT_RE
_EN_STOPWORDS = tx.EN_STOPWORDS
_STOPWORDS_SQL = tx.STOPWORDS_SQL
quality_score_expr = tx.quality_score_expr
quality_score_sql = tx.quality_score_sql
stopword_count_expr = tx.stopword_count_expr


_STATS_CTE = f"""
WITH t AS (
  SELECT doc_id, text, lang, {tx.tokens_sql('text')} AS toks FROM documents
), st AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(length(text) AS INTEGER) AS n_chars_text,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
         CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS INTEGER)
           AS token_chars,
         CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS INTEGER) AS punct_count,
         CAST(len(list_filter(toks,
              t -> list_contains({_STOPWORDS_SQL}, t)))
           AS INTEGER) AS stopword_count
  FROM t
)
"""

_TEXT_STATS_SQL = (
    _STATS_CTE
    + f"""
SELECT doc_id, n_tokens, n_chars_text, n_distinct_tokens, punct_count, stopword_count,
       CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(punct_count AS DOUBLE) / n_chars_text AS punct_ratio,
       CAST(stopword_count AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS diversity,
       {quality_score_sql('n_tokens', 'n_chars_text', 'punct_count', 'stopword_count')}
         AS quality_score
FROM st WHERE n_tokens > 0
"""
)


def _stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    # tokenize ONCE into a projected column — the stat expressions below
    # reference `toks` 4×, and interpreted higher-order lambdas get no
    # common-subexpression elimination (VERDICT r1 next-round #8)
    t = d.select(
        "doc_id", "lang", "text", tx.tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    return t.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        ).alias("token_chars"),
        F.regexp_count("text", F.lit(_PUNCT_RE)).alias("punct_count"),
        stopword_count_expr(toks).alias("stopword_count"),
    )


@register("docs_text_stats", oracle=_TEXT_STATS_SQL, headline=True)
def docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punctuation/stopword statistics per document plus the
    composite quality score (length, punctuation, stopword-density — the
    Gopher/C4-style heuristic filter) derived from the same stat columns;
    one driver entry (registry curation), all JVM-side expressions."""
    st = _stats(spark, sf_dir).filter(F.col("n_tokens") > 0)
    score = quality_score_expr(
        F.col("n_tokens"),
        F.col("n_chars_text"),
        F.col("punct_count"),
        F.col("stopword_count"),
    )
    return st.select(
        "doc_id",
        "n_tokens",
        "n_chars_text",
        "n_distinct_tokens",
        "punct_count",
        "stopword_count",
        (F.col("token_chars").cast("double") / F.col("n_tokens")).alias(
            "avg_token_len"
        ),
        (F.col("punct_count").cast("double") / F.col("n_chars_text")).alias(
            "punct_ratio"
        ),
        (F.col("stopword_count").cast("double") / F.col("n_tokens")).alias(
            "stopword_ratio"
        ),
        (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias(
            "diversity"
        ),
        score.alias("quality_score"),
    )


_LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {tx.tokens_sql('text')} AS toks FROM documents
)
SELECT doc_id, lang, {tx.predicted_lang_sql('toks')} AS lang_pred,
       CASE WHEN lang = {tx.predicted_lang_sql('toks')} THEN 1 ELSE 0 END AS is_match
FROM t
"""


@register("docs_lang_id", oracle=_LANG_ID_SQL, driver=False)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic family) with a
    deterministic argmax tie-break. The tokenize + argmax expression is
    projected once and referenced twice (no CSE inside interpreted
    higher-order lambdas — VERDICT r1 next-round #8)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    pred = d.select(
        "doc_id",
        "lang",
        tx.predicted_lang(tx.tokens(F.col("text"))).alias("lang_pred"),
    )
    return pred.select(
        "doc_id",
        "lang",
        "lang_pred",
        F.when(F.col("lang") == F.col("lang_pred"), 1).otherwise(0).alias("is_match"),
    )


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5({tx.normalized_text_sql('text')}) AS fingerprint,
       {hashing.md5_hash60_sql(tx.normalized_text_sql('text'))} AS fingerprint60
FROM documents
"""


@register("docs_fingerprint", oracle=_FINGERPRINT_SQL)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint (md5 of normalized text + 60-bit int)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    norm = tx.normalized_text(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        hashing.md5_hash60(norm).alias("fingerprint60"),
    )


_WORD_COUNT_SQL = f"""
WITH t AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
)
SELECT tok AS word, COUNT(*) AS n, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM t, unnest(toks) AS u(tok)
GROUP BY tok
HAVING COUNT(*) >= 5
"""


@register("docs_word_count", oracle=_WORD_COUNT_SQL)
def docs_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode + aggregate: corpus term frequencies (words seen ≥5 times).
    The explode is map-side; the only shuffle carries (word, partial
    counts) after partial aggregation."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n") >= 5)
    )


_DEDUP_APPLY_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, {tx.shingles_sql('toks')} AS sh FROM toks
), hs AS (
  SELECT doc_id, {hashing.hashed_shingles_sql('sh')} AS hs FROM sh
), sig AS (
  SELECT doc_id, {hashing.minhash_signature_sql('hs', 16)} AS minhash FROM hs
), bands AS (
  {_bands_branches_sql("sig", carry_minhash=True)}
), bands_rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY band_no, band_key
                               ORDER BY doc_id) AS rn
  FROM bands
),
edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM bands_rn a JOIN bands_rn b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id AND a.rn <= {LSH_MAX_BUCKET}
  WHERE len(list_filter(range(1, 17), i -> a.minhash[i] = b.minhash[i])) / 16.0 >= 0.5
),
und AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, u.d FROM reach r JOIN und u ON r.dst = u.s
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src) c
  ON d.doc_id = c.doc_id AND d.doc_id = c.cluster_id
"""


@register("docs_dedup_apply", oracle=_DEDUP_APPLY_SQL, headline=True)
def docs_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applied dedup: one representative (min doc_id) per CONNECTED
    COMPONENT of the near-dup graph — LSH candidate pairs with
    signature-estimated Jaccard ≥ 0.5; exact duplicates have identical
    signatures, so every exact-dup pair is an edge and exact dedup is
    subsumed. This is the operator a training-data pipeline actually
    runs; the pair queries are its diagnostics.

    Transitive correctness (round-2 change): the former keep-first pair
    policy kept BOTH 1 and 2 for pairs (1,3),(2,3) even though all three
    are transitively duplicates. Clustering is iterative min-label
    propagation (operators/connected_components.py) — rounds = graph
    diameter (quasi-clique near-dup clusters → a handful), each round
    equi-joins on ids only. The oracle expresses the same fixpoint as a
    recursive CTE.

    Hot-bucket skew guard (round 5): candidate generation caps each band
    bucket at LSH_MAX_BUCKET left-side members (see minhash.lsh_pairs) so a
    boilerplate template cluster of B docs costs O(B·cap) edges, not
    O(B²); the multi-star keeps every oversized bucket one connected
    component, and the cap is mirrored in the oracle's edges CTE, so the
    two engines implement identical edge semantics at ANY occupancy.
    Approximation contract: within an oversized bucket, docs beyond the
    cap connect via the first `cap` members; in the template-cluster
    scenario that triggers capping, those members are near-identical to
    the rest, so the ≥0.5 est_jaccard filter passes the star edges.

    Runtime occupancy probe (round 7, mirrors emb_lsh_ann_pairs): one
    memoized ≤(4n)-group aggregate decides whether ANY band bucket
    exceeds the cap. When none does — always true on the driver data
    (max occupancy 4 vs cap 32) — the capped plan's row_number window
    and its eager localCheckpoint materialization are skipped and the
    uncapped exchange-reuse self-join runs instead — output-identical
    either way (operators/minhash.py::lsh_edges)."""
    d = load_table(spark, sf_dir, "documents")
    edges = mh.lsh_edges(
        _signatures(spark, sf_dir), _documents_path(sf_dir), 0.5
    )
    comp = connected_components(
        d.select("doc_id"),
        edges,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
        component_col="cluster_id",
        # the vertex source is one pruned parquet id column — cheaper to
        # re-scan than to materialize (r7: one fewer job on the headline)
        materialize_vertices=False,
    )
    keep = comp.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return d.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


# the recursive-CTE cluster map (capped candidate rule), shared by every
# oracle that consumes the transitive dedup's output
# Candidate-edge CTEs up through the deduped undirected edge list `und`
# — shared by the transitive-cluster oracles below and the PageRank
# oracle (the UNION in `und` dedups the capped join's per-band duplicate
# emissions, so multigraph-sensitive consumers like degree counts see a
# simple graph).
_NEARDUP_EDGES_CTES = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, {tx.shingles_sql('toks')} AS sh FROM toks
), hs AS (
  SELECT doc_id, {hashing.hashed_shingles_sql('sh')} AS hs FROM sh
), sig AS (
  SELECT doc_id, {hashing.minhash_signature_sql('hs', 16)} AS minhash FROM hs
), bands AS (
  {_bands_branches_sql("sig", carry_minhash=True)}
), bands_rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY band_no, band_key
                               ORDER BY doc_id) AS rn
  FROM bands
),
edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM bands_rn a JOIN bands_rn b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id AND a.rn <= {LSH_MAX_BUCKET}
  WHERE len(list_filter(range(1, 17), i -> a.minhash[i] = b.minhash[i])) / 16.0 >= 0.5
),
und AS MATERIALIZED (
  SELECT DISTINCT s, d
  FROM (SELECT s, d FROM edges UNION ALL SELECT d, s FROM edges)
)"""
# ^ two DuckDB traps in one CTE:
# - explicit DISTINCT, not a bare UNION: DuckDB (1.0) treats the
#   top-level UNION of ANY cte inside a WITH RECURSIVE block as UNION
#   ALL (candidate recursive anchor/step), so "UNION" silently kept the
#   capped join's per-band duplicate emissions. The CC consumers never
#   noticed (min-label is multiplicity-insensitive); degree-sensitive
#   consumers (PageRank) would.
# - MATERIALIZED: DuckDB inlines a CTE at every reference site, so a
#   consumer that references `und` k times re-runs the whole
#   minhash/band pipeline k times (PageRank's 3 iterations + deg made
#   the sf0.1 oracle ~4x slower than materialized).

_CLUSTER_MAP_CTES = f"""{_NEARDUP_EDGES_CTES},
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, u.d FROM reach r JOIN und u ON r.dst = u.s
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
"""

_DEDUP_CLUSTERS_SQL = f"""{_CLUSTER_MAP_CTES}
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
"""


@register("docs_dedup_clusters", oracle=_DEDUP_CLUSTERS_SQL)
def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic view of the transitive dedup: every document's near-dup
    cluster (min-doc_id representative) and the cluster's size — the
    intermediate docs_dedup_apply acts on, exposed for corpus analysis
    (duplication-rate histograms, cluster inspection). Candidate
    generation carries the LSH_MAX_BUCKET hot-bucket guard (mirrored in
    the oracle) — see docs_dedup_apply, including the occupancy probe
    (r14: the gate docs_dedup_apply has carried since r7 applies
    verbatim here — the edges feed ONLY min-label CC, which is
    multigraph-safe, so when no bucket exceeds the cap the uncapped
    exchange-reuse path is edge-set-identical and the capped plan's
    row_number window + eager banded materialization are skipped)."""
    d = load_table(spark, sf_dir, "documents")
    edges = mh.lsh_edges(
        _signatures(spark, sf_dir), _documents_path(sf_dir), 0.5
    )
    comp = connected_components(
        d.select("doc_id"),
        edges,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
        component_col="cluster_id",
    )
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


@register("docs_dedup_clusters_star", oracle=_DEDUP_CLUSTERS_SQL, driver=False)
def docs_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_dedup_clusters computed by the LARGE-STAR/SMALL-STAR
    connected-components operator (operators/connected_components.py::
    connected_components_star — the O(log n)-round fallback for
    long-diameter graphs) instead of label propagation. Identical output
    by construction (same fixpoint, same min-representative), so the
    SAME recursive-CTE oracle verifies the alternative algorithm
    cross-engine — previously it had only unit tests."""
    from projekt_data_engineering_iubh_spark.operators.connected_components import (
        connected_components_star,
    )

    d = load_table(spark, sf_dir, "documents")
    edges = _lsh_pairs(spark, sf_dir, max_bucket=LSH_MAX_BUCKET).filter(
        F.col("est_jaccard") >= 0.5
    )
    comp = connected_components_star(
        d.select("doc_id"),
        edges,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
        component_col="cluster_id",
    )
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


_DEDUP_RATE_SQL = f"""{_CLUSTER_MAP_CTES}
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unique,
       CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dupes,
       CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS dup_rate
FROM comp c JOIN documents d ON c.doc_id = d.doc_id
GROUP BY d.source
"""


@register("docs_dedup_rate_by_source", oracle=_DEDUP_RATE_SQL)
def docs_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate — the corpus-datasheet provenance
    metric (which crawl/source contributes the duplicate mass): docs per
    source, how many are their near-dup cluster's min-id representative
    (n_unique), the complement (n_dupes), and the resulting rate. All
    aggregates are exact integers; the rate is ONE double division of
    two exact bigints, so the value hash is cross-engine deterministic
    (the r6 rounding-boundary lesson: no ROUND-of-double chains).
    Composes the capped transitive cluster map (docs_dedup_clusters —
    same CC, same LSH_MAX_BUCKET rule, oracle CTEs shared, same r14
    occupancy-probe gate: edges feed only multigraph-safe CC) with a
    per-source rollup; registry query #100."""
    d = load_table(spark, sf_dir, "documents")
    edges = mh.lsh_edges(
        _signatures(spark, sf_dir), _documents_path(sf_dir), 0.5
    )
    comp = connected_components(
        d.select("doc_id"),
        edges,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
        component_col="cluster_id",
    )
    is_rep = F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0)
    g = (
        comp.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_rep).cast("long").alias("n_unique"),
        )
    )
    return g.select(
        "source",
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).alias("n_dupes"),
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs")
        ).alias("dup_rate"),
    )


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len({tx.tokens_sql('text')}) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
            AS INTEGER) AS bpe_ish_tokens
FROM documents
"""


@register("docs_token_count", oracle=_TOKEN_COUNT_SQL)
def docs_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace/alnum tokens + a BPE-ish regex count
    (letter runs | digit runs | single punctuation)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(tx.tokens(F.col("text"))).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).alias(
            "bpe_ish_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms + deterministic train/test split (local-only: past the
# 50-entry driver budget; oracle-verified by tests/test_oracle_differential)
# ---------------------------------------------------------------------------

_TFIDF_TOP = 5
_TFIDF_SQL = f"""
WITH t AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), tf AS (
  SELECT doc_id, tok AS word, COUNT(*) AS tf
  FROM t, unnest(toks) AS u(tok) GROUP BY doc_id, tok
), df AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / df.df) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n
), r AS (
  SELECT doc_id, word, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, word) AS INTEGER) AS rnk
  FROM scored
)
SELECT doc_id, word, score, rnk FROM r WHERE rnk <= {_TFIDF_TOP}
"""


@register("docs_tfidf_top_terms", oracle=_TFIDF_SQL, driver=False)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document, TF-IDF family scoring.

    The idf factor is the LINEAR surrogate N/df rather than ln(N/df):
    IEEE 754 does not require correctly-rounded transcendentals, so ln()
    can differ by 1 ULP between the JVM and DuckDB and break exact
    cross-engine comparison (the round-1 ROUND(AVG) lesson); tf·(N/df)
    is pure exact-double arithmetic and preserves a monotone idf
    weighting. Plan shape: explode → (doc, word) counts (map-side
    partial agg), word→df aggregation, broadcast df + scalar N back onto
    tf, per-doc top-k window. The only full-width shuffles carry (doc_id,
    word, counts) longs."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast 1-row cross join (not a build-time
    # .count() action — keeps plan construction lazy)
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            (F.col("tf").cast("double") * (F.col("n") / F.col("df"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOP)
        .select("doc_id", "word", "score", "rnk")
    )


_SPLIT_PCT_TRAIN = tx.SPLIT_PCT_TRAIN
_SPLIT_SALT = tx.SPLIT_SALT

_SPLIT_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN {hashing.md5_hash60_sql(
           "concat('" + _SPLIT_SALT + "', CAST(doc_id AS VARCHAR))")} % 100
            < {_SPLIT_PCT_TRAIN}
            THEN 'train' ELSE 'test' END AS split
FROM documents
"""


@register("docs_train_test_split", oracle=_SPLIT_SQL, driver=False)
def docs_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (80/20).

    The assignment is a pure function of (salt, doc_id) — stable across
    runs, engines, partitionings, and corpus growth (a document never
    changes side when new docs arrive), which is what training pipelines
    need from a split. Because the hash is independent of every feature,
    the split is automatically stratified in expectation over any column
    (per-lang fractions converge to 80/20). One narrow projection; no
    shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", tx.train_test_split(F.col("doc_id")).alias("split")
    )


_CORPUS_LANGS = ("en", "de", "es", "fr")
_CORPUS_MIN_QUALITY = 0.5

_CORPUS_LANGS_SQL = ", ".join(f"'{l}'" for l in _CORPUS_LANGS)

# the heuristic quality lane as CTEs ending in `qual` (doc_id keep-set)
_QUAL_HEURISTIC_CTES = f"""qtoks AS (
  SELECT doc_id, text, lang, {tx.tokens_sql('text')} AS toks FROM documents
), qstat AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(length(text) AS INTEGER) AS n_chars_text,
         CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS INTEGER) AS punct_count,
         CAST(len(list_filter(toks,
              t -> list_contains({_STOPWORDS_SQL}, t)))
           AS INTEGER) AS stopword_count
  FROM qtoks
), qual AS (
  SELECT doc_id FROM qstat
  WHERE n_tokens > 0
    AND lang IN ({_CORPUS_LANGS_SQL})
    AND {quality_score_sql('n_tokens', 'n_chars_text', 'punct_count', 'stopword_count')}
        >= {_CORPUS_MIN_QUALITY}
)"""


def _corpus_sql(qual_ctes: str) -> str:
    """End-to-end oracle for pipeline/corpus.py::curate under either
    quality lane: ``qual_ctes`` must end in a CTE named ``qual`` (the
    doc_id keep-set); the dedup-restricted-to-lane + recursive
    clustering + hash split body is shared."""
    return f"""
WITH RECURSIVE {qual_ctes}, stoks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), ssh AS (
  SELECT doc_id, {tx.shingles_sql('toks')} AS sh FROM stoks
), shs AS (
  SELECT doc_id, {hashing.hashed_shingles_sql('sh')} AS hs FROM ssh
), ssig AS (
  SELECT doc_id, {hashing.minhash_signature_sql('hs', 16)} AS minhash FROM shs
), sbands AS (
  {_bands_branches_sql("ssig", carry_minhash=True)}
), sbands_rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY band_no, band_key
                               ORDER BY doc_id) AS rn
  FROM sbands
), edges AS (
  SELECT a.doc_id AS s, b.doc_id AS d
  FROM sbands_rn a JOIN sbands_rn b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id AND a.rn <= {LSH_MAX_BUCKET}
  WHERE len(list_filter(range(1, 17), i -> a.minhash[i] = b.minhash[i])) / 16.0 >= 0.5
    AND a.doc_id IN (SELECT doc_id FROM qual)
    AND b.doc_id IN (SELECT doc_id FROM qual)
), und AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM qual
  UNION
  SELECT r.src, u.d FROM reach r JOIN und u ON r.dst = u.s
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       CASE WHEN {hashing.md5_hash60_sql(
           "concat('split_v1', CAST(d.doc_id AS VARCHAR))")} % 100 < 80
            THEN 'train' ELSE 'test' END AS split
FROM documents d
JOIN comp ON d.doc_id = comp.doc_id AND d.doc_id = comp.cluster_id
"""


_CORPUS_SQL = _corpus_sql(_QUAL_HEURISTIC_CTES)


@register("docs_corpus_curated", oracle=_CORPUS_SQL, driver=False)
def docs_corpus_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLIED corpus pipeline (pipeline/corpus.py::curate) as an
    oracle-verified query: language + quality gates, transitive LSH
    near-dup removal restricted to the quality lane, deterministic hash
    split — the end-to-end artifact the individual docs_* queries are
    diagnostics for. Local-only (past the driver budget); the oracle
    expresses the full composition, recursive-CTE clustering included."""
    from projekt_data_engineering_iubh_spark.pipeline import corpus

    return corpus.curate(
        spark,
        sf_dir,
        langs=_CORPUS_LANGS,
        min_quality=_CORPUS_MIN_QUALITY,
    ).select("doc_id", "lang", "source", "n_chars", "split")


# the same pipeline under the TRAINED quality lane (r4): fit the naive
# Bayes on the lang-filtered corpus, keep docs it classifies good, then
# the shared dedup-restricted-to-lane + clustering + split body
from projekt_data_engineering_iubh_spark.operators.quality_model import (  # noqa: E402
    quality_model_ctes,
)

_QUAL_MODEL_CTES = (
    f"""lang_docs AS (
  SELECT * FROM documents WHERE lang IN ({_CORPUS_LANGS_SQL})
), """
    + quality_model_ctes("lang_docs")
    + """, qual AS (
  SELECT doc_id FROM scored WHERE tok_sum + prior > 0
)"""
)

_CORPUS_MODEL_SQL = _corpus_sql(_QUAL_MODEL_CTES)


@register("docs_corpus_curated_model", oracle=_CORPUS_MODEL_SQL)
def docs_corpus_curated_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_corpus_curated with the TRAINED quality lane
    (operators/quality_model.py) instead of the heuristic threshold —
    the scorer="model" path of pipeline/corpus.py, cross-engine-verified
    end-to-end: NB fit on the lang-filtered corpus, model keep-set,
    transitive LSH dedup restricted to it, deterministic hash split."""
    from projekt_data_engineering_iubh_spark.pipeline import corpus

    return corpus.curate(
        spark, sf_dir, langs=_CORPUS_LANGS, scorer="model"
    ).select("doc_id", "lang", "source", "n_chars", "split")


# the same pipeline under the PERPLEXITY lane (r5): fit the bigram LM on
# the lang-filtered corpus, drop the high-avg-NLL tail, then the shared
# dedup-restricted-to-lane + clustering + split body — the CCNet trio's
# third lane, end-to-end cross-engine-verified like the other two
def _qual_lm_ctes() -> str:
    from projekt_data_engineering_iubh_spark.operators.lm_model import (
        LM_MAX_NLL_MICRO,
        lm_sql_ctes,
    )

    frag, final = lm_sql_ctes("lang_docs", prefix="qlm")
    return (
        f"""lang_docs AS (
  SELECT * FROM documents WHERE lang IN ({_CORPUS_LANGS_SQL})
), """
        + frag
        + f""", qual AS (
  SELECT doc_id FROM {final} WHERE avg_nll_micro <= {LM_MAX_NLL_MICRO}
)"""
    )


_CORPUS_LM_SQL = _corpus_sql(_qual_lm_ctes())


@register("docs_corpus_curated_lm", oracle=_CORPUS_LM_SQL, driver=False)
def docs_corpus_curated_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_corpus_curated under the PERPLEXITY quality lane
    (scorer="lm" in pipeline/corpus.py): Laplace-smoothed bigram LM fit
    on the lang-filtered corpus, high-avg-NLL tail dropped, then the
    shared transitive-dedup + hash-split body. Completes the CCNet
    quality trio as fully-composed corpus lanes — heuristic
    (docs_corpus_curated), trained classifier
    (docs_corpus_curated_model), and perplexity (this)."""
    from projekt_data_engineering_iubh_spark.pipeline import corpus

    return corpus.curate(
        spark, sf_dir, langs=_CORPUS_LANGS, scorer="lm"
    ).select("doc_id", "lang", "source", "n_chars", "split")


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (within-document)
# ---------------------------------------------------------------------------

_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), u AS (
  SELECT doc_id, 1 AS w, unnest(toks) AS g FROM t
  UNION ALL
  SELECT doc_id, 2 AS w, unnest({tx.shingles_sql('toks', 2)}) AS g FROM t
), pg AS (
  SELECT doc_id, w, g, COUNT(*) AS c FROM u GROUP BY 1, 2, 3
), r AS (
  SELECT doc_id, w, MAX(c) AS top_c, SUM(c) AS n,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
  FROM pg GROUP BY 1, 2
)
SELECT r1.doc_id,
       CAST(r1.n AS BIGINT) AS n_tokens,
       CAST(r1.top_c AS DOUBLE) / r1.n AS top_token_fraction,
       CAST(r1.dup_c AS DOUBLE) / r1.n AS dup_token_fraction,
       CAST(COALESCE(r2.n, 0) AS BIGINT) AS n_bigrams,
       CAST(r2.top_c AS DOUBLE) / r2.n AS top_bigram_fraction,
       CAST(r2.dup_c AS DOUBLE) / r2.n AS dup_bigram_fraction
FROM r r1 LEFT JOIN r r2 ON r1.doc_id = r2.doc_id AND r2.w = 2
WHERE r1.w = 1
"""


@register("docs_repetition_stats", oracle=_REPETITION_SQL, driver=False)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters:
    most-frequent-token fraction, duplicated-token fraction, and the
    bigram analogs — high values flag boilerplate/SEO spam that length
    and punctuation stats miss).

    Plan shape: tokens hoisted once (no CSE in interpreted HOFs), ONE
    explode over 1-grams ++ 2-grams tagged with a width column, then a
    two-level aggregation — (doc_id, w, gram) counts with map-side
    partials, reduced to per-(doc_id, w) max/sum. The w=1/w=2 split is a
    self-join on the SAME aggregated shuffle output, which AQE
    stage-reuses (no broadcast hints for exactly that reason — r2
    lessons). Shuffles carry gram hashes and counts, never document
    text; everything scales linearly in corpus size at 100 TB.

    Local-only (driver budget full at 50); oracle-verified every run by
    tests/test_oracle_differential.py."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    tagged = F.concat(
        F.transform(
            F.col("toks"),
            lambda g: F.struct(F.lit(1).alias("w"), g.alias("g")),
        ),
        F.transform(
            tx.shingles(F.col("toks"), 2),
            lambda g: F.struct(F.lit(2).alias("w"), g.alias("g")),
        ),
    )
    u = t.select("doc_id", F.explode(tagged).alias("x")).select(
        "doc_id", F.col("x.w").alias("w"), F.col("x.g").alias("g")
    )
    pg = u.groupBy("doc_id", "w", "g").agg(F.count(F.lit(1)).alias("c"))
    r = pg.groupBy("doc_id", "w").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(
            "dup_c"
        ),
    )
    r1 = r.filter(F.col("w") == 1).alias("r1")
    r2 = r.filter(F.col("w") == 2).alias("r2")
    return r1.join(r2, F.col("r1.doc_id") == F.col("r2.doc_id"), "left").select(
        F.col("r1.doc_id").alias("doc_id"),
        F.col("r1.n").alias("n_tokens"),
        (F.col("r1.top_c").cast("double") / F.col("r1.n")).alias(
            "top_token_fraction"
        ),
        (F.col("r1.dup_c").cast("double") / F.col("r1.n")).alias(
            "dup_token_fraction"
        ),
        F.coalesce(F.col("r2.n"), F.lit(0)).alias("n_bigrams"),
        (F.col("r2.top_c").cast("double") / F.col("r2.n")).alias(
            "top_bigram_fraction"
        ),
        (F.col("r2.dup_c").cast("double") / F.col("r2.n")).alias(
            "dup_bigram_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction, dialect-aligned Java regex / RE2)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) interpret
# identically: char classes, bounded reps, \\b, \\d. No backrefs, no
# lookaround (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_LONGNUM_RE = r"\d{7,}"

_PII_SQL = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_LONGNUM_RE}', '<NUM>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_IPV4_RE}')) AS INTEGER)
         AS n_ips,
       CAST(len(regexp_extract_all(text, '{PII_LONGNUM_RE}')) AS INTEGER)
         AS n_longnums
FROM documents
"""


def scrub_pii(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails → <EMAIL>, IPv4s → <IP>, 7+-digit runs → <NUM>,
    appending match counts. Pure codegen'd regexp expressions — a single
    projection, no shuffle, linear at any scale. Replacement order
    matters (emails contain dots and digits): email, then IP, then
    digit runs, counted against the ORIGINAL text."""
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_LONGNUM_RE,
        "<NUM>",
    )
    return d.select(
        "*",
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("int").alias("n_ips"),
        F.regexp_count(t, F.lit(PII_LONGNUM_RE)).cast("int").alias("n_longnums"),
    )


@register("docs_pii_scrub", oracle=_PII_SQL, driver=False)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus (emails, IPv4, long digit runs) —
    the mandatory scrub step of a training-data pipeline. The synthetic
    corpus contains no PII, so the differential here pins the expensive
    half of the contract: that the Java-regex and RE2 renderings of the
    SAME patterns agree on every document (no-match fidelity); positive
    matches are pinned cross-engine by tests/test_pii_scrub.py.

    Local-only (driver budget full at 50)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return scrub_pii(d).select(
        "doc_id", "clean_text", "n_emails", "n_ips", "n_longnums"
    )


# ---------------------------------------------------------------------------
# Corpus profiling (ingest monitoring)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*) AS null_frac,
       COUNT(DISTINCT {c}) AS n_distinct
FROM documents"""
    for c in _PROFILE_COLS
)


@register("docs_profile", oracle=_PROFILE_SQL, driver=False)
def docs_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column corpus profile (row/null/distinct counts) — the ingest
    monitoring every production load runs. One aggregation pass + an
    explode pivot (operators/profile.py); the oracle spells it as one
    scan per column, same results. Local-only (driver budget full)."""
    from projekt_data_engineering_iubh_spark.operators.profile import profile

    return profile(
        spread(load_table(spark, sf_dir, "documents")), _PROFILE_COLS
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters (mergeable token-frequency sketch)
# ---------------------------------------------------------------------------

_CMS_W = 64  # buckets per row
_CMS_D = 4  # hash rows
_CMS_TOP = 20

def _cms_bucket_sql(d: int) -> str:
    salted = f"'cms{d}:' || token"
    return f"{hashing.md5_hash60_sql(salted)} % {_CMS_W}"


_CMS_ROWS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT {d} AS d, {_cms_bucket_sql(d)} AS bucket FROM toks"
    for d in range(_CMS_D)
)

_CMS_LOOKUP_SQL = "\n  UNION ALL\n".join(
    f"  SELECT token, c, {d} AS d, {_cms_bucket_sql(d)} AS bucket FROM top"
    for d in range(_CMS_D)
)

_CMS_SQL = f"""
WITH toks AS (
  SELECT unnest({tx.tokens_sql('text')}) AS token FROM documents
), cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
), top AS (
  SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT {_CMS_TOP}
), cells AS (
  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cell FROM (
{_CMS_ROWS_SQL}
  ) GROUP BY 1, 2
), lookup AS (
{_CMS_LOOKUP_SQL}
)
SELECT l.token, MIN(l.c) AS exact_count, MIN(s.cell) AS cms_estimate,
       MIN(s.cell) >= MIN(l.c) AS never_underestimates
FROM lookup l JOIN cells s ON s.d = l.d AND s.bucket = l.bucket
GROUP BY 1
"""


@register("docs_cms_heavy_hitters", oracle=_CMS_SQL, driver=False)
def docs_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch token-frequency estimates for the corpus's top
    tokens, next to their exact counts — the mergeable fixed-size sketch
    (Cormode–Muthukrishnan, public knowledge) a 100 TB pipeline keeps per
    shard for heavy-hitter monitoring where exact per-token counts are a
    full shuffle of the vocabulary.

    Build = one explode to D=4 salted md5 bucket rows per token
    occurrence → groupBy((d, bucket)): a FIXED 4×64-cell table per
    shard/agg — map-side combine reduces each partition to ≤256 rows
    regardless of corpus size, and two sketches merge by cell-wise
    addition (the property exact counts lack). Estimate = min over the
    candidate's D cells (never under TRUE count — asserted per row in
    the output). Candidates here are the exact top-20 so the driver can
    verify estimate quality; a production flow sweeps candidate tokens
    from the sketch itself. All hashing is the engine-portable md5,
    so Spark and DuckDB build bit-identical sketches.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.orderBy(F.desc("c"), F.asc("token")).limit(_CMS_TOP)

    def bucket(dd: int) -> F.Column:
        return hashing.md5_hash60(
            F.concat(F.lit(f"cms{dd}:"), F.col("token"))
        ) % _CMS_W

    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(dd).alias("d"), bucket(dd).alias("bucket"))
                for dd in range(_CMS_D)
            ]
        )
    )
    cells = (
        toks.select(rows.alias("r"))
        .select("r.d", "r.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    lookup = top.select("token", "c", rows.alias("r")).select(
        "token", "c", "r.d", "r.bucket"
    )
    return (
        lookup.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token")
        .agg(
            F.min("c").alias("exact_count"),
            F.min("cell").alias("cms_estimate"),
            (F.min("cell") >= F.min("c")).alias("never_underestimates"),
        )
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal (#110)
# ---------------------------------------------------------------------------

_ENT_SCALE = 1_000_000  # micro-units per nat (same policy as the LM/NB models)

_ENTROPY_SQL = f"""
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_chars_split,
         COUNT(*) AS n_distinct_chars,
         CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * {_ENT_SCALE})
                           AS BIGINT)) AS BIGINT) AS sum_c_lnc_micro
  FROM counts GROUP BY 1
)
SELECT doc_id, n_chars_split, n_distinct_chars, sum_c_lnc_micro,
       CAST(floor(ln(CAST(n_chars_split AS DOUBLE)) * {_ENT_SCALE})
            AS BIGINT) AS ln_n_micro,
       CAST(floor(ln(CAST(n_chars_split AS DOUBLE)) * {_ENT_SCALE}) AS DOUBLE)
         - CAST(sum_c_lnc_micro AS DOUBLE) / CAST(n_chars_split AS DOUBLE)
         AS entropy_micro
FROM per_doc
"""


@register("docs_char_entropy", oracle=_ENTROPY_SQL, driver=False)
def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document (#110) — the fourth quality
    signal next to the heuristic (docs_text_stats), the trained NB
    classifier (docs_quality_model) and the bigram LM
    (docs_lm_perplexity): low entropy flags repetitive/garbage padding
    (aaaaa…, boilerplate), high entropy flags base64/binary spill —
    both standard web-corpus filters.

    H = ln(N) - (1/N)·Σ c·ln(c) over the per-doc character histogram.
    ln is not correctly-rounded cross-engine (NEXT.md trap list), so
    every ln runs over an INTEGER (a count) and is floor-quantized to
    micro-nats immediately — the histogram sums are then exact bigints
    on both engines, and entropy_micro is one exact-over-exact double
    subtraction/division (IEEE division IS correctly rounded). Char
    split parity (spaces kept, unicode code points, empty text → ['']
    with ln(1)=0) verified on both engines.

    Scale shape: explode to ~total-chars rows (linear, map-side), one
    shuffle into (doc_id, ch) groups — partial aggregation collapses to
    docs × distinct-chars before the exchange — and a second (doc_id)
    shuffle over the small histogram rows. No Python anywhere.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    ln_micro = lambda c: F.floor(
        F.ln(c.cast("double")) * _ENT_SCALE
    ).cast("long")
    counts = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_split"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("c") * ln_micro(F.col("c"))).alias("sum_c_lnc_micro"),
    )
    ln_n = ln_micro(F.col("n_chars_split"))
    return per_doc.select(
        "doc_id",
        "n_chars_split",
        "n_distinct_chars",
        "sum_c_lnc_micro",
        ln_n.alias("ln_n_micro"),
        (
            ln_n.cast("double")
            - F.col("sum_c_lnc_micro").cast("double")
            / F.col("n_chars_split").cast("double")
        ).alias("entropy_micro"),
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph (registry query #117)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000
_PR_ITERS = 3
# damping d = 0.85 as the exact rational 17/20 so every update is pure
# integer arithmetic; base mass (1-d)*SCALE folded to a constant
_PR_BASE = (3 * _PR_SCALE) // 20


def _pagerank_sql() -> str:
    parts = [
        _NEARDUP_EDGES_CTES,
        ",\ndeg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1)",
        f",\nr0 AS (SELECT doc_id, CAST({_PR_SCALE} AS BIGINT) AS r FROM documents)",
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT u.d AS doc_id, CAST(SUM(r{i - 1}.r // deg.deg) AS BIGINT) AS m
  FROM und u JOIN r{i - 1} ON r{i - 1}.doc_id = u.s
  JOIN deg ON deg.s = u.s
  GROUP BY 1
),
r{i} AS (
  SELECT d0.doc_id,
         CAST({_PR_BASE} + (17 * COALESCE(c{i}.m, 0)) // 20 AS BIGINT) AS r
  FROM documents d0 LEFT JOIN c{i} USING (doc_id)
)"""
        )
    parts.append(
        f"""
SELECT r{_PR_ITERS}.doc_id,
       CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
       r{_PR_ITERS}.r AS rank_micro
FROM r{_PR_ITERS} LEFT JOIN deg ON deg.s = r{_PR_ITERS}.doc_id
"""
    )
    return "".join(parts)


@register("docs_pagerank", oracle=_pagerank_sql(), driver=False)
def docs_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph — the second
    iterative graph algorithm next to connected components
    (docs_dedup_apply): an importance weighting of documents by how
    centrally they sit in duplicate/template clusters (the corpus-
    curation use: heavily-templated hubs get high rank and can be
    down-weighted, the FineWeb/RefinedWeb posture of using graph
    centrality as a quality prior).

    Semantics: undirected simple graph from the capped LSH candidate
    pairs at est_jaccard >= 0.5 (the docs_dedup_clusters edge rule; the
    Spark side DISTINCTs the pairs because the capped join may emit a
    pair once per agreeing band — harmless for CC's min-label, WRONG for
    degree counts), uniform init 1.0 per vertex, 3 synchronous
    iterations of r <- (1-d) + d·Σ r(u)/deg(u) with d = 0.85, dangling
    mass dropped (isolated docs pin at (1-d) — the simplified variant;
    exact cross-engine determinism matters more here than the
    stochastic-matrix nicety).

    Determinism: masses are integer micro-units; per-edge contribution
    is r DIV deg (floor — operands non-negative so Spark's
    truncate-toward-zero DIV and DuckDB's floor // agree; the r6 ADVICE
    negative-DIV trap cannot fire), damping is the exact rational 17/20,
    so every iteration is exact bigint arithmetic in any partition
    order — no floating point anywhere.

    Scale shape: the classic Pregel-on-DataFrames loop — per iteration
    ONE edge-keyed equi-join (rank onto source) + ONE vertex-keyed
    groupBy SUM, both map-side combinable; deg and the edge list are
    loop-invariant (exchange-reused here; persist() them on a cluster).
    Iteration count is a fixed constant, so the whole 3-round lineage is
    one lazy plan — no driver-side convergence actions."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        _lsh_pairs(spark, sf_dir, max_bucket=LSH_MAX_BUCKET)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .distinct()
    )
    und = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    r = d.select("doc_id", F.lit(_PR_SCALE).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            und.join(r.withColumnRenamed("doc_id", "s"), "s")
            .join(deg, "s")
            .select(
                F.col("d").alias("doc_id"),
                F.expr("r DIV deg").alias("c"),
            )
        )
        sums = contrib.groupBy("doc_id").agg(
            F.sum("c").cast("long").alias("m")
        )
        r = d.join(sums, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(_PR_BASE)
                + F.expr("CAST((17 * COALESCE(m, 0)) DIV 20 AS BIGINT)")
            )
            .cast("long")
            .alias("r"),
        )
    return (
        r.join(deg.withColumnRenamed("s", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
            F.col("r").alias("rank_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting over the near-dup graph (registry query #124)
# ---------------------------------------------------------------------------

_TRI_SCALE = 1_000_000

_TRIANGLES_SQL = f"""{_NEARDUP_EDGES_CTES},
tdeg AS MATERIALIZED (
  SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1
),
ori AS MATERIALIZED (
  SELECT u.s, u.d, dd.deg AS deg_d
  FROM und u
  JOIN tdeg ds ON ds.v = u.s
  JOIN tdeg dd ON dd.v = u.d
  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND u.s < u.d)
),
tri AS MATERIALIZED (
  SELECT a.s AS u, a.d AS v, b.d AS w
  FROM ori a JOIN ori b
    ON a.s = b.s
   AND (a.deg_d < b.deg_d OR (a.deg_d = b.deg_d AND a.d < b.d))
  JOIN ori c ON c.s = a.d AND c.d = b.d
),
tv AS (
  SELECT u AS doc_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
),
tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM tv GROUP BY 1)
SELECT d0.doc_id,
       CAST(COALESCE(tdeg.deg, 0) AS BIGINT) AS deg,
       CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN COALESCE(tdeg.deg, 0) >= 2
            THEN (CAST(2 AS BIGINT) * {_TRI_SCALE} * COALESCE(tc.n_tri, 0))
                 // (tdeg.deg * (tdeg.deg - 1))
            ELSE 0 END AS BIGINT) AS clustering_micro
FROM documents d0
LEFT JOIN tdeg ON tdeg.v = d0.doc_id
LEFT JOIN tc ON tc.doc_id = d0.doc_id
"""


@register("docs_neardup_triangles", oracle=_TRIANGLES_SQL, driver=False)
def docs_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient over
    the near-dup similarity graph — the third graph primitive beside
    connected components (docs_dedup_apply) and PageRank (docs_pagerank).
    The curation read: a document whose neighborhood is densely
    interconnected (coefficient near 1) sits inside a template cluster
    (every copy resembles every other copy), while a high-degree /
    low-coefficient document is a hub bridging unrelated near-dup groups
    (boilerplate shared across otherwise-distinct pages) — the two need
    different dedup treatment, and degree alone cannot tell them apart.

    Algorithm: compact-forward / node-iterator++ (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11 — the
    canonical MapReduce formulation). Orient every undirected edge from
    the (degree, id)-smaller endpoint to the larger; each triangle then
    has EXACTLY one vertex with two outgoing edges, so emitting wedges
    from shared sources and closing them against the oriented edge list
    counts each triangle once, and the per-source wedge fan-out is
    bounded by the max ORIENTED out-degree ~ O(sqrt(m)) regardless of
    raw degree skew — the property that makes this the 100 TB-safe plan
    (a raw wedge join on the undirected list is quadratic in the hottest
    vertex's degree; orientation caps exactly that).

    Graph contract: same DISTINCTed simple graph as docs_pagerank (the
    capped LSH join's per-band duplicate emissions would inflate both
    degrees and triangle counts). Coefficient is exact integer micro-
    units: (2e6 * tri) DIV (deg * (deg - 1)), operands non-negative so
    Spark DIV and DuckDB // agree.

    Scale shape: degree agg, two degree joins, the wedge self-join on
    the shared source, the closure equi-join on (v, w), one final
    vertex groupBy — all key-partitioned equi-joins, no cartesian, no
    driver action; edge list and degrees are reused branches."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # materialize the DISTINCTed edge list once (eager localCheckpoint —
    # same contract as minhash.lsh_pairs' banded rows and the CC operator: swap
    # to checkpoint() + SPARK_GRAFT_CHECKPOINT_DIR on a cluster). The
    # graph is consumed by FIVE downstream branches (deg, both wedge
    # sides, closure, final); without truncation each branch replays the
    # whole signature/band/join pipeline — measured 107 shuffles vs 14.
    pairs = (
        _lsh_pairs(spark, sf_dir, max_bucket=LSH_MAX_BUCKET)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
                ),
                F.struct(
                    F.col("doc_b").alias("s"), F.col("doc_a").alias("d")
                ),
            )
        ).alias("e")
    ).select("e.s", "e.d")
    deg = und.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ori = (
        und.join(
            deg.select(F.col("s"), F.col("deg").alias("deg_s")), "s"
        )
        .join(
            deg.select(F.col("s").alias("d"), F.col("deg").alias("deg_d")),
            "d",
        )
        .filter(
            (F.col("deg_s") < F.col("deg_d"))
            | ((F.col("deg_s") == F.col("deg_d")) & (F.col("s") < F.col("d")))
        )
        .select("s", "d", "deg_d")
        # referenced three times (both wedge sides + closure)
        .localCheckpoint(eager=True)
    )
    wedges = (
        ori.select(
            F.col("s").alias("u"), F.col("d").alias("v"),
            F.col("deg_d").alias("dv"),
        )
        .join(
            ori.select(
                F.col("s").alias("u"), F.col("d").alias("w"),
                F.col("deg_d").alias("dw"),
            ),
            "u",
        )
        .filter(
            (F.col("dv") < F.col("dw"))
            | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
        )
    )
    tri = wedges.join(
        ori.select(F.col("s").alias("v"), F.col("d").alias("w")), ["v", "w"]
    ).select("u", "v", "w")
    # one pass over the triangle list (explode, not a 3-way self-union —
    # the join output would otherwise execute three times)
    tv = tri.select(
        F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("doc_id")
    )
    tc = tv.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    return (
        d.join(deg.withColumnRenamed("s", "doc_id"), "doc_id", "left")
        .join(tc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
            F.coalesce(F.col("n_tri"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                f"CAST(CASE WHEN COALESCE(deg, 0) >= 2 THEN "
                f"(CAST(2 AS BIGINT) * {_TRI_SCALE} * COALESCE(n_tri, 0)) "
                f"DIV (deg * (deg - 1)) ELSE 0 END AS BIGINT)"
            ).alias("clustering_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted-index export (registry query #134)
# ---------------------------------------------------------------------------

_IDX_POSTINGS_CAP = 20

_INVERTED_INDEX_SQL = f"""
WITH t AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
),
tf AS (
  SELECT doc_id, u.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM t, unnest(toks) AS u(term)
  GROUP BY 1, 2
),
r AS (
  SELECT term, doc_id, tf,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM tf
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       array_to_string(
         list(doc_id ORDER BY doc_id)
           FILTER (WHERE rn <= {_IDX_POSTINGS_CAP}),
         ',') AS postings
FROM r
GROUP BY 1
"""


@register("docs_inverted_index", oracle=_INVERTED_INDEX_SQL, driver=False)
def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the SERVING export the BM25 scorer
    (docs_bm25_topk) queries online: per term, document frequency,
    collection frequency, and the posting list (first 20 doc_ids,
    ascending). The cap is applied BEFORE the collect: a bare
    collect_list per term would hold a stopword's entire corpus-wide
    posting in one aggregation buffer (df can be the corpus size), so
    docs are ranked inside the term partition first and only rn <= cap
    rows contribute to the array — bounded state per group at any
    corpus size, while df/cf still aggregate over everything.

    Determinism: postings are array_sort-ed (collect_list order is
    shuffle-order); the rank's (term; doc_id) window gives the same
    bounded prefix on any partitioning.

    Output contract: postings ship as a comma-joined STRING, not
    array<long> — the external correctness driver canonicalizes
    results through pandas sort_values, which cannot hash list-typed
    cells; every driver-eligible entry must emit scalar columns only
    (enforced at registration, see plans/registry.py)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    r = tf.withColumn("rn", F.row_number().over(w))
    return r.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= _IDX_POSTINGS_CAP,
                            F.col("doc_id"),
                        )
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join — PPJoin-style (registry #142)
# ---------------------------------------------------------------------------

_PP_T = 0.5  # Jaccard threshold (matches the dedup family's 0.5 rule)

# prefix length for Jaccard t over a size-n set: n - ceil(t*n) + 1;
# with t = 1/2 that is n - ceil(n/2) + 1 = n DIV 2 + 1 (exact integers)
_PP_PREFIX_SQL = "(setsz // 2 + 1)"

_PPJOIN_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, {tx.shingles_sql('toks')} AS sh FROM toks
), hset AS (
  SELECT doc_id, list_distinct({hashing.hashed_shingles_sql('sh')}) AS hset
  FROM sh
), sized AS (
  SELECT doc_id, hset, CAST(len(hset) AS BIGINT) AS setsz
  FROM hset WHERE len(hset) > 0
), ex AS (
  SELECT doc_id, setsz, u.h FROM sized, unnest(hset) AS u(h)
), df AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1
), ranked AS (
  SELECT ex.doc_id, ex.setsz, ex.h,
         ROW_NUMBER() OVER (PARTITION BY ex.doc_id
                            ORDER BY df.df, ex.h) AS rnk
  FROM ex JOIN df USING (h)
), prefix AS (
  SELECT doc_id, setsz, h FROM ranked WHERE rnk <= {_PP_PREFIX_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.h = b.h AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sa.hset, sb.hset)) AS BIGINT) AS n_common,
       sa.setsz AS n_a, sb.setsz AS n_b,
       CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
         / (sa.setsz + sb.setsz - len(list_intersect(sa.hset, sb.hset)))
         AS jaccard
FROM cand
JOIN sized sa ON sa.doc_id = doc_a
JOIN sized sb ON sb.doc_id = doc_b
WHERE CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
      / (sa.setsz + sb.setsz - len(list_intersect(sa.hset, sb.hset)))
      >= {_PP_T}
"""


@register("docs_ppjoin_neardup", oracle=_PPJOIN_SQL, driver=False)
def docs_ppjoin_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (the PPJoin
    family, Xiao et al. WWW'08) — the provably-lossless alternative to
    MinHash-LSH candidate generation: two shingle sets with Jaccard >=
    t MUST share at least one element among each set's first
    n - ceil(t*n) + 1 elements under ANY fixed global ordering, so
    joining on rarest-first prefixes finds EVERY qualifying pair (LSH
    banding, by contrast, misses pairs with probability (1-s^r)^b —
    recall there is a tuned parameter, here it is a theorem). The price
    is candidate volume: prefixes are ordered by ascending document
    frequency precisely so the join keys are each document's RAREST
    shingles, which is what keeps fan-out near-linear on real corpora
    (the classic result) — but an adversarial corpus can still make it
    quadratic where capped LSH stays bounded; that trade IS the
    comparison this entry exists to make against docs_minhash_lsh_pairs.

    With t = 1/2 the prefix length is exactly setsz DIV 2 + 1 (pure
    integer on both engines). Verification is the exact intersection
    Jaccard on the candidate pairs; empty shingle sets (docs with < 3
    tokens) are excluded like everywhere else in the dedup family.

    Scale shape: df groupBy (map-side combinable), one per-doc rank
    window, the prefix equi-join on the shingle hash, then two id
    equi-joins to attach sets for verification — no window or join
    touches anything wider than (id, hash) until the bounded candidate
    list."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    hset = t.select(
        "doc_id",
        F.array_distinct(
            hashing.hashed_shingles(tx.shingles(F.col("toks")))
        ).alias("hset"),
    )
    sized = hset.filter(F.size("hset") > 0).select(
        "doc_id", "hset", F.size("hset").cast("long").alias("setsz")
    )
    ex = sized.select(
        "doc_id", "setsz", F.explode("hset").alias("h")
    )
    df = ex.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        ex.join(df, "h")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= F.expr(_PP_PREFIX_SQL.replace("//", "DIV")))
        .select("doc_id", "h")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("set_a"),
        F.col("setsz").alias("n_a"),
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("set_b"),
        F.col("setsz").alias("n_b"),
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    jac = inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - inter
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= _PP_T)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_common"),
            "n_a",
            "n_b",
            jac.alias("jaccard"),
        )
    )
