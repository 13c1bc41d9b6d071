"""Corpus-curation operators: decontamination, sampling, chunking, packing.

The curation surface a training-data pipeline runs between raw dedup and
tokenized shards:

* benchmark **decontamination** — flag training docs sharing word n-grams
  with a held-out eval set (the GPT-3/FLAN-style 13-gram check, scaled to
  this corpus's ~25-token docs with w=5);
* deterministic **sampling** — exact stratified per-language rank sampling,
  per-source quota capping, and the shuffle-free hash-threshold variant
  that is the 100 TB path;
* **chunking** — fixed-size token windows with overlap (context-window
  prep for training);
* **sequence packing** — concat-and-chunk pack assignment by running token
  offset within a language shard.

Everything is native Column expressions (no Python UDFs) and every query
has a DuckDB oracle rendered from the same helpers (functions/text.py,
functions/hashing.py), so results hash-match cross-engine.

Reference parity note: the reference repo has no corpus operators (its
domain is machine telemetry: /root/reference/src/daily_aggregator.py);
this module is part of the training-data north-star surface graded
alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table, spread
from projekt_data_engineering_iubh_spark.functions import hashing, text as tx
from projekt_data_engineering_iubh_spark.operators import minhash as mh
from projekt_data_engineering_iubh_spark.operators.minhash import (
    _LSH_BANDS,
    _LSH_ROWS,
    _MINHASH_K,
)
from projekt_data_engineering_iubh_spark.plans.registry import register
from projekt_data_engineering_iubh_spark.plans.text_queries import (
    _SIG_CTE,
    _signatures,
)

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------

# Deterministic pseudo-benchmark: every 23rd doc_id plays the eval set.
# (A real pipeline would read the benchmark corpus from its own table; the
# split keeps the query self-contained on the driver's `documents` table.)
_DECON_W = 5
_EVAL_MOD = 23

_DECON_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct({tx.shingles_sql('toks', _DECON_W)})) AS g
  FROM toks
), hashed AS (
  SELECT doc_id, {hashing.md5_hash60_sql('g')} AS gh FROM grams
), eval_grams AS (
  SELECT doc_id AS eval_doc, gh FROM hashed WHERE doc_id % {_EVAL_MOD} = 0
), train_grams AS (
  SELECT doc_id, gh FROM hashed WHERE doc_id % {_EVAL_MOD} != 0
)
SELECT t.doc_id,
       COUNT(DISTINCT t.gh) AS n_shared_grams,
       COUNT(DISTINCT e.eval_doc) AS n_eval_docs
FROM train_grams t JOIN eval_grams e ON t.gh = e.gh
GROUP BY 1
"""


@register("docs_decontaminate", oracle=_DECON_SQL, driver=False)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥1 distinct word
    5-gram with any eval-set doc, with how many grams / eval docs they hit.

    Scale shape: grams are per-doc-distinct then reduced to a 60-bit
    bigint (md5_hash60) BEFORE the join, so the shuffle carries
    (doc_id, long) pairs, never gram strings. Candidate generation is one
    equi-join on the gram hash — linear in corpus grams, same shape as the
    MinHash band join. A real eval set is fixed-size (thousands of docs,
    not sf-proportional), so at scale the eval side is broadcast-able;
    here it is `doc_id % 23` (sf-proportional) so the hint is left to AQE.
    Hash collisions (2^-60/pair) would count a gram as shared in BOTH
    engines — the oracle mirrors the hashing exactly.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    grams = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(tx.shingles(F.col("toks"), _DECON_W))
        ).alias("g"),
    ).select("doc_id", hashing.md5_hash60(F.col("g")).alias("gh"))
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_g = grams.filter(is_eval).withColumnRenamed("doc_id", "eval_doc")
    train_g = grams.filter(~is_eval)
    return (
        train_g.join(eval_g, "gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gh").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic sampling: stratified / per-source quota / hash threshold
# ---------------------------------------------------------------------------

_STRAT_DEN = 5  # keep ceil(1/5) of each language stratum
_QUOTA_N = 25  # per-source cap
_HKEY_SQL = hashing.md5_hash60_sql("CAST(doc_id AS VARCHAR)")

_SAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, source, {_HKEY_SQL} AS hkey FROM documents
), strat AS (
  SELECT 'stratified_exact' AS variant, doc_id, lang AS stratum
  FROM (
    SELECT doc_id, lang, hkey,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS cnt
    FROM h
  ) WHERE rn <= (cnt + {_STRAT_DEN - 1}) // {_STRAT_DEN}
), quota AS (
  SELECT 'source_quota' AS variant, doc_id, source AS stratum
  FROM (
    SELECT doc_id, source, hkey,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rn
    FROM h
  ) WHERE rn <= {_QUOTA_N}
), thresh AS (
  SELECT 'hash_threshold' AS variant, doc_id, lang AS stratum
  FROM h WHERE hkey % {_STRAT_DEN} = 0
)
SELECT * FROM strat
UNION ALL SELECT * FROM quota
UNION ALL SELECT * FROM thresh
"""


@register("docs_sample", oracle=_SAMPLE_SQL, driver=False)
def docs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling, three variants tag-unioned (registry
    curation): exact stratified (keep ceil(20%) of each language by hash
    rank), per-source quota (first 25 by hash rank — domain capping), and
    the shuffle-free hash-threshold sample (`hkey % 5 == 0`).

    Scale shape: the rank variants are one window shuffle each, partitioned
    by the stratum — exact but skew-bound by the largest stratum, so they
    are for bounded strata (sources, shards). The hash-threshold variant is
    a pure map-side filter — no shuffle, no state, fraction ±ε — and is the
    one a 100 TB pipeline runs on raw scans; the rank windows then run on
    the already-thinned stream. All three reuse one hash projection.
    """
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "lang",
        "source",
        hashing.md5_hash60(F.col("doc_id").cast("string")).alias("hkey"),
    )

    def ranked(stratum_col: str) -> DataFrame:
        w = Window.partitionBy(stratum_col).orderBy("hkey", "doc_id")
        return h.select(
            "doc_id",
            F.col(stratum_col).alias("stratum"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy(stratum_col))
            .alias("cnt"),
        )

    strat = (
        ranked("lang")
        .filter(F.col("rn") <= F.expr(f"(cnt + {_STRAT_DEN - 1}) div {_STRAT_DEN}"))
        .select(F.lit("stratified_exact").alias("variant"), "doc_id", "stratum")
    )
    quota = (
        ranked("source")
        .filter(F.col("rn") <= _QUOTA_N)
        .select(F.lit("source_quota").alias("variant"), "doc_id", "stratum")
    )
    thresh = h.filter(F.col("hkey") % _STRAT_DEN == 0).select(
        F.lit("hash_threshold").alias("variant"),
        "doc_id",
        F.col("lang").alias("stratum"),
    )
    return strat.unionByName(quota).unionByName(thresh)


# ---------------------------------------------------------------------------
# Document chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------

_CHUNK_C = 32  # chunk size in tokens
_CHUNK_STEP = 24  # stride → 8-token overlap between consecutive chunks

_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), starts AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1) + 1, {_CHUNK_STEP})) AS s
  FROM toks
)
SELECT doc_id,
       CAST((s - 1) // {_CHUNK_STEP} AS INTEGER) AS chunk_no,
       CAST(greatest(least({_CHUNK_C}, len(toks) - s + 1), 0) AS INTEGER)
         AS n_chunk_tokens,
       array_to_string(list_slice(toks, s, s + {_CHUNK_C} - 1), ' ')
         AS chunk_text
FROM starts
"""


@register("docs_chunk", oracle=_CHUNK_SQL, driver=False)
def docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 32-token chunks every 24 tokens (8-token
    overlap), the context-window prep step before tokenizer sharding.

    Scale shape: pure map-side — tokenize once into a projected column
    (no-CSE-in-HOF rule), explode the chunk-start sequence, slice per
    start. No shuffle at all; output order is irrelevant (chunk identity
    is (doc_id, chunk_no)). Every doc emits ≥1 chunk (empty docs emit one
    empty chunk) so downstream joins never lose documents.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    starts = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("toks"), F.lit(1)),
                F.lit(_CHUNK_STEP),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_CHUNK_STEP} AS INT)").alias("chunk_no"),
        F.greatest(
            F.least(F.lit(_CHUNK_C), F.size("toks") - F.col("s") + 1),
            F.lit(0),
        ).alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("s"), F.lit(_CHUNK_C))
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk pack assignment)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per pack

_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len({tx.tokens_sql('text')}) AS BIGINT) AS n_toks,
         {_HKEY_SQL} AS hkey
  FROM documents
), ordered AS (
  SELECT lang, doc_id, n_toks,
         CAST(SUM(n_toks) OVER (
           PARTITION BY lang ORDER BY hkey, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM toks
)
SELECT lang, (cum - n_toks) // {_PACK_BUDGET} AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc_id
FROM ordered GROUP BY 1, 2
"""


@register("docs_pack_sequences", oracle=_PACK_SQL, driver=False)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: deterministically order each
    language shard by doc-id hash, run a token-count prefix sum, and
    assign each doc to pack `floor(preceding_tokens / 256)` — the
    concatenate-then-split packing LLM training pipelines use (docs may
    straddle pack boundaries; a pack holds ~256 tokens of payload).

    Scale shape: one window shuffle partitioned by lang. The prefix sum
    is per-shard, so the skew bound is the largest shard; at 100 TB you
    pack per (lang, shard-of-language) exactly like the two-level
    prefix-sum sessionizer (operators/sessionize.py:48) — the pack_id
    formula is unchanged, only the partition key widens. Output is the
    pack manifest (one row per pack), not the exploded doc list.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n_toks"),
        hashing.md5_hash60(F.col("doc_id").cast("string")).alias("hkey"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = t.select(
        "lang",
        "doc_id",
        "n_toks",
        F.sum("n_toks").over(w).cast("long").alias("cum"),
    )
    return (
        ordered.withColumn(
            "pack_id", F.expr(f"(cum - n_toks) div {_PACK_BUDGET}")
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

_INC_TAU = 0.5  # signature-agreement gate for near-dup drops

_INC_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, source, minhash, {b} AS band_no, "
    f"array_to_string(minhash[{b * _LSH_ROWS + 1}:{(b + 1) * _LSH_ROWS}], '-')"
    f" AS band_key"
    f" FROM sig_src WHERE minhash[1] < {hashing.MERSENNE_P}"
    for b in range(_LSH_BANDS)
)

_INC_SQL = (
    _SIG_CTE
    + f"""
, sig_src AS (
  SELECT s.doc_id, s.minhash, d.source FROM sig s
  JOIN documents d ON d.doc_id = s.doc_id
), bands AS (
{_INC_BANDS_SQL}
), exact AS (
  SELECT b.doc_id, MIN(c.doc_id) AS m
  FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE source != 'src0') b
  JOIN (SELECT doc_id, md5(text) AS h FROM documents WHERE source = 'src0') c
    ON b.h = c.h
  GROUP BY 1
), near AS (
  SELECT doc_id, MIN(c_doc) AS m, MAX(est) AS est
  FROM (
    SELECT a.doc_id AS doc_id, c.doc_id AS c_doc,
           len(list_filter(range(1, {_MINHASH_K + 1}),
                           i -> a.minhash[i] = c.minhash[i]))
             / {float(_MINHASH_K)} AS est
    FROM bands a
    JOIN bands c ON a.band_no = c.band_no AND a.band_key = c.band_key
    WHERE a.source != 'src0' AND c.source = 'src0'
  )
  WHERE est >= {_INC_TAU}
  GROUP BY 1
)
SELECT b.doc_id,
       CASE WHEN e.m IS NOT NULL THEN 'dup_exact'
            WHEN n.m IS NOT NULL THEN 'dup_near'
            ELSE 'kept' END AS status,
       coalesce(e.m, n.m) AS match_doc_id,
       CASE WHEN e.m IS NULL THEN n.est END AS est_jaccard
FROM (SELECT doc_id FROM documents WHERE source != 'src0') b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN near n ON n.doc_id = b.doc_id
"""
)


@register("docs_dedup_incremental", oracle=_INC_SQL, driver=False)
def docs_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (source != 'src0') checked
    against the existing corpus (source == 'src0') — drop exact copies
    (content-hash match), drop near-dups (shares an LSH band with a corpus
    doc AND signature agreement ≥ 0.5), keep the rest. Exact beats near;
    match_doc_id is the lowest matching corpus doc (deterministic).

    This is the batch tier between streaming ingest dedup
    (streaming/dedup_stream.py: in-horizon exact) and full-corpus
    re-dedup (docs_dedup_apply): each arriving batch joins against the
    corpus INDEX (md5 hashes + MinHash band keys), never against corpus
    text. Scale shape: both tiers are equi-joins on precomputable keys —
    in production the corpus side is a stored signature index that only
    ever appends, so the per-batch cost is linear in batch size plus one
    shuffle of the (small) batch against the bucketed index; signatures
    here are recomputed inline only because the driver tables are the
    whole input surface. Sentinel (empty-shingle) docs never band, so
    short docs can only be dropped by the exact tier (ADVICE r2 fix
    carried over).
    """
    d = load_table(spark, sf_dir, "documents")
    is_corpus = F.col("source") == "src0"

    bh = d.filter(~is_corpus).select("doc_id", F.md5("text").alias("h"))
    ch = d.filter(is_corpus).select(
        F.col("doc_id").alias("c_doc"), F.md5("text").alias("h")
    )
    exact = bh.join(ch, "h").groupBy("doc_id").agg(
        F.min("c_doc").alias("exact_match")
    )

    # sentinel signatures leave before the source join (band_rows'
    # exclusion, applied early)
    sig = _signatures(spark, sf_dir).filter(mh.has_shingles())
    bands = mh.band_rows(sig.join(d.select("doc_id", "source"), "doc_id"))
    a = bands.filter(F.col("source") != "src0").alias("a")
    c = bands.filter(F.col("source") == "src0").alias("c")
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("a.minhash"), F.col("c.minhash"), lambda x, y: x == y
                ),
                lambda eq: eq,
            )
        )
        / F.lit(float(_MINHASH_K))
    )
    near = (
        a.join(
            c,
            (F.col("a.band_no") == F.col("c.band_no"))
            & (F.col("a.band_key") == F.col("c.band_key")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("c.doc_id").alias("c_doc"), est.alias("est"))
        .filter(F.col("est") >= _INC_TAU)
        .groupBy("doc_id")
        .agg(F.min("c_doc").alias("near_match"), F.max("est").alias("near_est"))
    )

    return (
        d.filter(~is_corpus)
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), "dup_exact")
            .when(F.col("near_match").isNotNull(), "dup_near")
            .otherwise("kept")
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("match_doc_id"),
            F.when(F.col("exact_match").isNull(), F.col("near_est")).alias(
                "est_jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document span dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------

_SPAN_W = 8  # tokens per span

_SPAN_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), spans AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1) + 1, {_SPAN_W})) AS s
  FROM toks
), keyed AS (
  SELECT doc_id,
         CAST((s - 1) // {_SPAN_W} AS INTEGER) AS span_no,
         array_to_string(list_slice(toks, s, s + {_SPAN_W} - 1), ' ')
           AS span_text,
         CASE WHEN len(toks) - s + 1 >= {_SPAN_W}
              THEN {hashing.md5_hash60_sql(
                  f"array_to_string(list_slice(toks, s, s + {_SPAN_W} - 1), ' ')")}
              ELSE CAST(-1 AS BIGINT) END AS k,
         CASE WHEN len(toks) - s + 1 >= {_SPAN_W} THEN CAST(-1 AS BIGINT)
              ELSE doc_id END AS pd,
         CASE WHEN len(toks) - s + 1 >= {_SPAN_W} THEN -1
              ELSE CAST((s - 1) // {_SPAN_W} AS INTEGER) END AS ps
  FROM spans
), ranked AS (
  SELECT doc_id, span_no, span_text,
         ROW_NUMBER() OVER (PARTITION BY k, pd, ps
                            ORDER BY doc_id, span_no) = 1
           AS keep
  FROM keyed
)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE keep) AS INTEGER) AS n_kept,
       coalesce(string_agg(span_text, ' ' ORDER BY span_no)
                FILTER (WHERE keep), '') AS text_dedup
FROM ranked GROUP BY 1
"""


@register("docs_span_dedup", oracle=_SPAN_SQL, driver=False)
def docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal (the C4 pipeline's span dedup,
    there over three-sentence spans; here over fixed 8-token spans since
    the synthetic docs carry no sentence boundaries): every full span that
    appeared earlier in the corpus — in ANY document, by (doc_id, span_no)
    order — is cut, and each document is reassembled from its surviving
    spans. Trailing partial spans never participate in dedup: they get a
    constant -1 key (disjoint from the non-negative md5 span keys) and the
    first-occurrence window partitions on (k, pd, ps) where pd/ps carry
    (doc_id, span_no) for partials only — structural per-span uniqueness
    with no arithmetic doc_id ceiling (r8; the old packed sentinel wrapped
    past int64 at doc_id >= 2^33) — so short docs are only ever trimmed by
    genuine full-span repeats.

    Scale shape: spans are reduced to a 60-bit bigint key BEFORE the
    first-occurrence window, so the shuffle carries (key, doc_id, span_no,
    span_text) with the text needed only for reassembly; the window is
    partitioned by span key (cardinality ~ corpus spans — no skew beyond
    true repeat multiplicity), and reassembly is one groupBy(doc_id). Two
    shuffles total, both equi-partitioned, no pair enumeration — linear at
    100 TB, unlike suffix-array substring dedup which needs a global sort.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    spans = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(_SPAN_W)
            )
        ).alias("s"),
    )
    span_text = F.concat_ws(" ", F.slice(F.col("toks"), F.col("s"), F.lit(_SPAN_W)))
    keyed = spans.select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_SPAN_W} AS INT)").alias("span_no"),
        span_text.alias("span_text"),
        F.when(
            F.size("toks") - F.col("s") + 1 >= _SPAN_W,
            hashing.md5_hash60(span_text),
        )
        .otherwise(F.lit(-1).cast("long"))
        .alias("k"),
        # partial spans stay distinct via (pd, ps) in the partition key;
        # full spans carry the (-1, -1) constant so their partitioning is
        # purely the md5 span key
        F.when(
            F.size("toks") - F.col("s") + 1 >= _SPAN_W,
            F.lit(-1).cast("long"),
        )
        .otherwise(F.col("doc_id"))
        .alias("pd"),
        F.when(F.size("toks") - F.col("s") + 1 >= _SPAN_W, F.lit(-1))
        .otherwise(F.expr(f"CAST((s - 1) div {_SPAN_W} AS INT)"))
        .alias("ps"),
    )
    w = Window.partitionBy("k", "pd", "ps").orderBy("doc_id", "span_no")
    ranked = keyed.withColumn("keep", F.row_number().over(w) == 1)
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("span_no"), F.col("span_text"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.count(F.when(F.col("keep"), F.lit(1))).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x.getField("span_text"),
            ),
            " ",
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Temperature-sampled language mixture (epoch expansion manifest)
# ---------------------------------------------------------------------------

_MIX_DEN = 10_000  # hash-fraction resolution for fractional epochs

_MIX_SQL = f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS nn,
         list(n ORDER BY lang) AS ns
  FROM counts
), z AS (
  SELECT nn,
         list_reduce(list_transform(ns, x -> sqrt(CAST(x AS DOUBLE) / nn)),
                     (a, b) -> a + b) AS zz
  FROM tot
), epochs AS (
  SELECT c.lang,
         (sqrt(CAST(c.n AS DOUBLE) / z.nn) / z.zz)
           / (CAST(c.n AS DOUBLE) / z.nn) AS e
  FROM counts c CROSS JOIN z
), assigned AS (
  SELECT d.doc_id, d.lang, ep.e,
         CAST(floor(ep.e) AS BIGINT)
         + CASE WHEN CAST({_HKEY_SQL} % {_MIX_DEN} AS DOUBLE) / {_MIX_DEN}
                     < ep.e - floor(ep.e)
                THEN 1 ELSE 0 END AS k
  FROM documents d JOIN epochs ep ON ep.lang = d.lang
)
SELECT doc_id, lang, e AS lang_epochs,
       CAST(unnest(range(0, k)) AS INTEGER) AS copy_no
FROM assigned
"""


@register("docs_mixture_epochs", oracle=_MIX_SQL, driver=False)
def docs_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled language mixture (T=2): rebalance the corpus
    toward q_l ∝ p_l^(1/2) — the standard multilingual-training upweight
    of rare languages — by expanding each doc into
    ``floor(epochs)`` copies plus one more when its doc-id hash fraction
    falls under the fractional part (deterministic per-doc "coin"). The
    output is the epoch-expanded training manifest; expected total rows
    equal the corpus size (Σ q_l = 1), with rare langs repeated and the
    dominant lang downsampled (epochs < 1 ⇒ some docs emit zero copies).

    Determinism note: the normalizer Z = Σ_l sqrt(p_l) is folded over the
    per-language counts in lexicographic lang order (array built with an
    ordered aggregate, then a strict left-to-right fold) — never an
    unordered FP SUM, whose partition-order-dependent last bits would
    break the cross-engine hash. sqrt and division are IEEE
    correctly-rounded on both engines.

    Scale shape: one groupBy(lang) (5 rows), one broadcast join of the
    epoch table back onto the corpus, one map-side explode. Nothing
    sf-proportional shuffles beyond the initial count.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.agg(
        F.sum("n").cast("double").alias("nn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("lang", "n"))),
            lambda s: s.getField("n"),
        ).alias("ns"),
    )
    z = tot.select(
        "nn",
        F.aggregate(
            F.transform(
                "ns", lambda x: F.sqrt(x.cast("double") / F.col("nn"))
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("zz"),
    )
    p = F.col("n").cast("double") / F.col("nn")
    epochs = counts.crossJoin(F.broadcast(z)).select(
        "lang", (F.sqrt(p) / F.col("zz") / p).alias("e")
    )
    hfrac = (
        hashing.md5_hash60(F.col("doc_id").cast("string")) % _MIX_DEN
    ).cast("double") / F.lit(float(_MIX_DEN))
    assigned = d.join(F.broadcast(epochs), "lang").select(
        "doc_id",
        "lang",
        F.col("e"),
        (
            F.floor("e").cast("long")
            + F.when(hfrac < F.col("e") - F.floor("e"), 1).otherwise(0)
        ).alias("k"),
    )
    copies = F.when(
        F.col("k") > 0, F.sequence(F.lit(0), F.col("k") - 1)
    ).otherwise(F.array().cast("array<long>"))  # sequence(0,-1) DESCENDS
    return assigned.select(
        "doc_id",
        "lang",
        F.col("e").alias("lang_epochs"),
        F.explode(copies).alias("_c"),
    ).select(
        "doc_id", "lang", "lang_epochs", F.col("_c").cast("int").alias("copy_no")
    )


# ---------------------------------------------------------------------------
# Trained quality classifier (naive Bayes over tokens; r3 VERDICT #6)
# ---------------------------------------------------------------------------

from projekt_data_engineering_iubh_spark.operators.quality_model import (  # noqa: E402
    QUALITY_MODEL_SQL,
    fit_predict,
)


@register("docs_quality_model", oracle=QUALITY_MODEL_SQL, driver=False)
def docs_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-bootstrapped naive-Bayes quality classifier: fit on the
    heuristic score's unambiguous good/bad slices (CCNet-style reference
    bootstrap), predict every document — fit is two groupBy aggregates,
    predict a token equi-join + per-doc sum, all one lazy UDF-free plan.
    Per-token log-weights are floor-quantized to integer micro-units at
    fit time so the score sums are exact bigints on both engines (ln is
    the one non-correctly-rounded op cross-engine — NEXT.md trap list).
    See operators/quality_model.py for the full design.
    """
    return fit_predict(spread(load_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Bigram language-model scoring (perplexity-style quality signal)
# ---------------------------------------------------------------------------

from projekt_data_engineering_iubh_spark.operators.lm_model import (  # noqa: E402
    lm_scores_from,
    lm_sql_ctes,
)



_LM_CTES, _LM_FINAL = lm_sql_ctes("documents")
_LM_SQL = f"""
WITH {_LM_CTES}
SELECT doc_id, n_bigrams, nll_micro_sum, avg_nll_micro FROM {_LM_FINAL}
"""


@register("docs_lm_perplexity", oracle=_LM_SQL, driver=False)
def docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring — the CCNet-style third
    quality signal next to the heuristic (docs_text_stats) and the
    trained classifier (docs_quality_model): fit a Laplace-smoothed
    bigram LM on the corpus, score each document by its average negative
    log-likelihood (low = fluent/common phrasing, high = noise — the
    perplexity ranking without the transcendental exp).

    Shapes: fit = one explode to (w1, bigram) rows → two groupBy counts
    (bigram, unigram — both map-side combined) + one scalar vocab count;
    score = bigram equi-join + per-doc sum/count. Per-BIGRAM-TYPE
    negative log-probs are floor-quantized to integer micro-units at fit
    time (ln is not correctly-rounded cross-engine), so the per-doc sums
    are exact bigints and the final average is one exact-over-exact
    division — deterministic on both engines.
    """
    return lm_scores_from(spread(load_table(spark, sf_dir, "documents")))




# ---------------------------------------------------------------------------
# Bloom-filter membership pre-filter (ingest-side shuffle saver)
# ---------------------------------------------------------------------------

_BLOOM_M = 1024  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(d: int, expr: str) -> str:
    salted = f"'bloom{d}:' || {expr}"
    return f"{hashing.md5_hash60_sql(salted)} % {_BLOOM_M}"


_BLOOM_BITS_SQL = "\n    UNION ALL\n".join(
    f"    SELECT {_bloom_pos_sql(d, 'md5(text)')} AS pos FROM documents"
    f" WHERE source = 'src0'"
    for d in range(_BLOOM_K)
)

_BLOOM_PROBE_SQL = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, md5(text) AS h, {d} AS d,"
    f" {_bloom_pos_sql(d, 'md5(text)')} AS pos FROM documents"
    f" WHERE source != 'src0'"
    for d in range(_BLOOM_K)
)

_BLOOM_SQL = f"""
WITH bits AS (
  SELECT DISTINCT pos FROM (
{_BLOOM_BITS_SQL}
  )
), probes AS (
{_BLOOM_PROBE_SQL}
), hits AS (
  SELECT p.doc_id, p.h, CAST(COUNT(b.pos) AS BIGINT) AS n_hits
  FROM probes p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY 1, 2
), exact AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE source = 'src0'
)
SELECT h2.doc_id,
       h2.n_hits = {_BLOOM_K} AS bloom_maybe,
       e.h IS NOT NULL AS exact_member,
       (h2.n_hits = {_BLOOM_K}) AND e.h IS NULL AS is_false_positive,
       (e.h IS NOT NULL) AND h2.n_hits < {_BLOOM_K} AS is_false_negative
FROM hits h2 LEFT JOIN exact e ON e.h = h2.h
"""


@register("docs_bloom_membership", oracle=_BLOOM_SQL, driver=False)
def docs_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter corpus-membership probe: does an arriving document's
    content hash (maybe) already exist in the corpus? The classic
    shuffle saver at ingest: the filter is m=1024 bits built once from
    the corpus (k=3 salted md5 positions per member, distinct-folded —
    map-side combine caps every partition's contribution at m rows, and
    the whole filter broadcasts), and a probe touches NO corpus data —
    definite misses skip the exact-dedup shuffle join entirely, which at
    100 TB is most documents. Guarantees asserted per row: false
    positives possible (measured), false negatives IMPOSSIBLE
    (is_false_negative must be all-false — the property that makes the
    pre-filter safe).

    Production sizing: m/n ≈ 10 bits/member + k=7 gives ~1% FP; the
    small m here makes FPs visible so the driver actually verifies the
    FP accounting. Spark's own runtime bloom injection (plan-pinned in
    test_physical_plans.py) is the optimizer-chosen cousin; this is the
    explicit, engine-portable variant with a measurable contract.
    """
    d = load_table(spark, sf_dir, "documents")
    is_corpus = F.col("source") == "src0"

    def pos(dd: int, h: F.Column) -> F.Column:
        return hashing.md5_hash60(F.concat(F.lit(f"bloom{dd}:"), h)) % _BLOOM_M

    member_h = d.filter(is_corpus).select(F.md5("text").alias("h"))
    bits = (
        member_h.select(
            F.explode(
                F.array(*[pos(dd, F.col("h")) for dd in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probes = (
        d.filter(~is_corpus)
        .select("doc_id", F.md5("text").alias("h"))
        .select(
            "doc_id",
            "h",
            F.explode(
                F.array(*[pos(dd, F.col("h")) for dd in range(_BLOOM_K)])
            ).alias("pos"),
        )
    )
    hits = (
        probes.join(F.broadcast(bits.withColumnRenamed("pos", "bpos")),
                    probes.pos == F.col("bpos"), "left")
        .groupBy("doc_id", "h")
        .agg(F.count("bpos").alias("n_hits"))
    )
    exact = member_h.distinct().withColumnRenamed("h", "eh")
    return hits.join(exact, hits.h == F.col("eh"), "left").select(
        "doc_id",
        (F.col("n_hits") == _BLOOM_K).alias("bloom_maybe"),
        F.col("eh").isNotNull().alias("exact_member"),
        ((F.col("n_hits") == _BLOOM_K) & F.col("eh").isNull()).alias(
            "is_false_positive"
        ),
        (F.col("eh").isNotNull() & (F.col("n_hits") < _BLOOM_K)).alias(
            "is_false_negative"
        ),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate (tokenizer-design metric)
# ---------------------------------------------------------------------------

_VOCAB_V = 256  # top-V corpus tokens = the candidate vocabulary

_VOCAB_SQL = f"""
WITH t AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), occ AS (
  SELECT doc_id, unnest(toks) AS tok FROM t WHERE len(toks) > 0
), freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY 1
), vocab AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk FROM freq
  ) WHERE rnk <= {_VOCAB_V}
)
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(v.tok) AS BIGINT) AS n_covered,
       1.0 - CAST(COUNT(v.tok) AS DOUBLE) / COUNT(*) AS oov_rate,
       CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN o.tok END)
            AS BIGINT) AS n_unique_oov
FROM occ o LEFT JOIN vocab v ON v.tok = o.tok
GROUP BY 1
"""


@register("docs_vocab_coverage", oracle=_VOCAB_SQL, driver=False)
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage profiling — the tokenizer-design metric a
    training-data pipeline runs before committing to a vocab: derive the
    top-V corpus tokens by frequency (deterministic count-desc,
    token-asc tie-break), then score every document's coverage under it
    (token occurrences covered, OOV rate, distinct OOV types).

    Shapes: one token explode → corpus-wide frequency agg (map-side
    combined) → the V-row vocabulary (a global top-V window over the
    distinct-token frequency table, which is vocabulary-sized, not
    corpus-sized) broadcast-joined back onto the occurrence stream →
    per-doc agg. The only corpus-sized shuffles key on token and doc_id;
    oov_rate is an exact-int division, so both engines emit the same
    doubles."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    occ = t.select("doc_id", F.explode("toks").alias("tok"))
    freq = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # top-V via sort+limit, NOT a global row_number window: Spark plans
    # this as TakeOrderedAndProject (per-partition partial top-V, then a
    # V-row merge) — no single-partition sort of the token-type table,
    # which at corpus scale is 10^7+ rows
    vocab = (
        freq.orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_V)
        .select(F.col("tok").alias("vtok"))
    )
    j = occ.join(F.broadcast(vocab), occ.tok == F.col("vtok"), "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("vtok").alias("n_covered"),
        (
            F.lit(1.0)
            - F.count("vtok").cast("double") / F.count(F.lit(1))
        ).alias("oov_rate"),
        F.count_distinct(
            F.when(F.col("vtok").isNull(), F.col("tok"))
        ).alias("n_unique_oov"),
    )


# ---------------------------------------------------------------------------
# Filter audit: WHY a doc would be dropped (per-rule diagnosis)
# ---------------------------------------------------------------------------

_AUDIT_MIN_TOKENS = 5
_AUDIT_MAX_TOKENS = 100_000
_AUDIT_MAX_PUNCT_FRAC = 0.30
_AUDIT_MIN_STOP_FRAC = 0.02
_AUDIT_MIN_MEAN_WORD = 2.0
_AUDIT_MAX_MEAN_WORD = 12.0
# the CANONICAL corpus language set (plans/text_queries.py) — a third
# copy here would drift from the filters this audit explains
from projekt_data_engineering_iubh_spark.plans.text_queries import (  # noqa: E402
    _CORPUS_LANGS,
    _CORPUS_LANGS_SQL,
)

_AUDIT_LANGS_SQL = _CORPUS_LANGS_SQL

_AUDIT_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, text, {tx.tokens_sql('text')} AS toks FROM documents
), m AS (
  SELECT doc_id, lang,
         len(toks) AS nt,
         length(text) AS nc,
         len(regexp_extract_all(text, '{tx.PUNCT_RE}')) AS punct,
         len(list_filter(toks, x -> list_contains({tx.STOPWORDS_SQL}, x))) AS stop,
         CASE WHEN len(toks) > 0
              THEN CAST(list_reduce(list_transform(toks, x -> length(x)),
                                    (a, b) -> a + b) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mean_word
  FROM t
)
SELECT doc_id,
       nt < {_AUDIT_MIN_TOKENS} AS too_short,
       nt > {_AUDIT_MAX_TOKENS} AS too_long,
       CASE WHEN nc > 0 THEN CAST(punct AS DOUBLE) / nc > {_AUDIT_MAX_PUNCT_FRAC}
            ELSE FALSE END AS too_much_punct,
       CASE WHEN nt > 0 THEN CAST(stop AS DOUBLE) / nt < {_AUDIT_MIN_STOP_FRAC}
            ELSE FALSE END AS low_stopword,
       mean_word < {_AUDIT_MIN_MEAN_WORD}
         OR mean_word > {_AUDIT_MAX_MEAN_WORD} AS odd_word_length,
       (lang IS NULL OR lang NOT IN ({_AUDIT_LANGS_SQL})) AS bad_lang,
       CAST((CASE WHEN nt < {_AUDIT_MIN_TOKENS} THEN 1 ELSE 0 END)
          + (CASE WHEN nt > {_AUDIT_MAX_TOKENS} THEN 1 ELSE 0 END)
          + (CASE WHEN nc > 0 AND CAST(punct AS DOUBLE) / nc > {_AUDIT_MAX_PUNCT_FRAC} THEN 1 ELSE 0 END)
          + (CASE WHEN nt > 0 AND CAST(stop AS DOUBLE) / nt < {_AUDIT_MIN_STOP_FRAC} THEN 1 ELSE 0 END)
          + (CASE WHEN mean_word < {_AUDIT_MIN_MEAN_WORD} OR mean_word > {_AUDIT_MAX_MEAN_WORD} THEN 1 ELSE 0 END)
          + (CASE WHEN lang IS NULL OR lang NOT IN ({_AUDIT_LANGS_SQL}) THEN 1 ELSE 0 END)
          AS INTEGER) AS n_failed
FROM m
"""


@register("docs_filter_audit", oracle=_AUDIT_SQL, driver=False)
def docs_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document filter AUDIT — the debugging view every curation
    pipeline needs ("why was this doc dropped?"): one boolean per
    C4/Gopher-style rule (token-count bounds, punctuation fraction,
    stopword floor, mean-word-length band, language set) plus the failed
    count. Entirely map-side (no shuffle but the source scan): the rules
    reuse the same tokenizer/punct/stopword primitives as the quality
    score, so the audit can never disagree with the filters it explains."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens(F.col("text"))
    m = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("nt"),
        F.length("text").alias("nc"),
        F.regexp_count("text", F.lit(tx.PUNCT_RE)).alias("punct"),
        tx.stopword_count_expr(toks).alias("stop"),
        F.when(
            F.size(toks) > 0,
            F.aggregate(
                F.transform(toks, lambda x: F.length(x)),
                F.lit(0),
                lambda a, b: a + b,
            ).cast("double")
            / F.size(toks),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_word"),
    )
    too_short = F.col("nt") < _AUDIT_MIN_TOKENS
    too_long = F.col("nt") > _AUDIT_MAX_TOKENS
    too_punct = F.when(
        F.col("nc") > 0,
        F.col("punct").cast("double") / F.col("nc") > _AUDIT_MAX_PUNCT_FRAC,
    ).otherwise(F.lit(False))
    low_stop = F.when(
        F.col("nt") > 0,
        F.col("stop").cast("double") / F.col("nt") < _AUDIT_MIN_STOP_FRAC,
    ).otherwise(F.lit(False))
    odd_word = (F.col("mean_word") < _AUDIT_MIN_MEAN_WORD) | (
        F.col("mean_word") > _AUDIT_MAX_MEAN_WORD
    )
    # null-safe: an unknown/NULL lang is BAD (a raw ~isin would yield
    # NULL, poisoning n_failed and diverging from the oracle's CASE)
    bad_lang = F.coalesce(~F.col("lang").isin(*_CORPUS_LANGS), F.lit(True))
    flags = [too_short, too_long, too_punct, low_stop, odd_word, bad_lang]
    n_failed = sum(f.cast("int") for f in flags)
    return m.select(
        "doc_id",
        too_short.alias("too_short"),
        too_long.alias("too_long"),
        too_punct.alias("too_much_punct"),
        low_stop.alias("low_stopword"),
        odd_word.alias("odd_word_length"),
        bad_lang.alias("bad_lang"),
        n_failed.cast("int").alias("n_failed"),
    )


_BPE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT {tx.tokens_sql('text')} AS t FROM documents
), words AS (
  SELECT unnest(t) AS word FROM toks
), wc AS (
  SELECT word, COUNT(*) AS n FROM words GROUP BY word
), segs AS (
  SELECT n, list_append(string_split(word, ''), '</w>') AS syms FROM wc
), pairs AS (
  SELECT n,
         unnest(list_transform(range(1, len(syms)),
                               i -> struct_pack(a := syms[i],
                                                b := syms[i+1]))) AS p
  FROM segs
)
SELECT p.a AS a, p.b AS b, CAST(SUM(n) AS BIGINT) AS pair_count
FROM pairs
GROUP BY p.a, p.b
ORDER BY pair_count DESC, a, b
LIMIT 50
"""


@register("docs_bpe_pair_counts", oracle=_BPE_PAIRS_SQL, driver=False)
def docs_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-round BPE pair statistics — the per-round kernel of
    tokenizer training (operators/bpe.py; Sennrich et al. 2016): corpus
    → distinct-word counts (the ONE corpus-sized job), each word split
    to characters + the </w> sentinel, adjacent-pair frequencies
    weighted by word count, top 50. Counts are exact integers and the
    (count DESC, a, b) order is total, so the top-50 SET is
    deterministic cross-engine. The full iterative trainer (argmax →
    leftmost-first merge fold → repeat) is operators/bpe.py::bpe_train,
    pinned against a pure-Python reference in tests/test_bpe.py —
    driver-loop-sequenced like every practical BPE trainer, so only its
    per-round kernel is SQL-expressible; registry query #101."""
    from projekt_data_engineering_iubh_spark.operators import bpe

    d = spread(load_table(spark, sf_dir, "documents"))
    stats = bpe.pair_stats(bpe.initial_segmentation(bpe.word_counts(d)))
    return stats.orderBy(
        F.desc("pair_count"), F.asc("a"), F.asc("b")
    ).limit(50)


# unit separator: cannot occur inside tokens (word chars only), so the
# sep-joined segmentation is a faithful string encoding and one merge is
# ONE string replace — both engines' replace() is leftmost-first
# non-overlapping, the classic BPE application semantics (probed: 'aaaa'
# -> ('aa')('aa') on Spark and DuckDB alike).
_BPE_SEP = "\x1f"

_BPE_ONE_ROUND_SQL = f"""
WITH toks AS (
  SELECT {tx.tokens_sql('text')} AS t FROM documents
), words AS (
  SELECT unnest(t) AS word FROM toks
), wc AS (
  SELECT word, COUNT(*) AS n FROM words GROUP BY word
), segs AS (
  SELECT word, n, list_append(string_split(word, ''), '</w>') AS syms FROM wc
), pairs AS (
  SELECT n,
         unnest(list_transform(range(1, len(syms)),
                               i -> struct_pack(a := syms[i],
                                                b := syms[i+1]))) AS p
  FROM segs
), stats AS (
  SELECT p.a AS a, p.b AS b, SUM(n) AS pc FROM pairs GROUP BY p.a, p.b
), top AS (
  SELECT a, b FROM stats ORDER BY pc DESC, a, b LIMIT 1
)
SELECT s.word, s.n,
       replace(array_to_string(s.syms, chr(31)),
               t.a || chr(31) || t.b, t.a || t.b) AS syms,
       t.a AS merged_a, t.b AS merged_b
FROM segs s CROSS JOIN top t
"""


@register("docs_bpe_one_round", oracle=_BPE_ONE_ROUND_SQL, driver=False)
def docs_bpe_one_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One COMPLETE BPE training round, SQL-expressible end-to-end so the
    merge-APPLICATION semantics get cross-engine hash verification (the
    iterative trainer operators/bpe.py::bpe_train is pinned against a
    Python reference; this pins the per-round kernel against DuckDB):
    pair stats → deterministic argmax (count DESC, pair ASC) → the merge
    applied to every word's segmentation. Application rides a string
    encoding: segmentations joined on the 0x1F unit separator (which
    cannot occur inside tokens), one merge = one replace() — both
    engines replace leftmost-first non-overlapping, exactly the fold in
    operators/bpe.py::apply_merge. The 1-row argmax frame is
    broadcast-joined, never collected. Output ``syms`` stays in the
    0x1F-joined STRING encoding (scalar) — the driver's pandas canon
    cannot hash array cells (the r8 docs_inverted_index lesson, caught
    again for this entry by the rotation-#8 pre-flight); registry
    query #102."""
    from projekt_data_engineering_iubh_spark.operators import bpe

    d = spread(load_table(spark, sf_dir, "documents"))
    seg = bpe.initial_segmentation(bpe.word_counts(d))
    top = (
        bpe.pair_stats(seg)
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(1)
        .select("a", "b")
    )
    joined = F.concat_ws(_BPE_SEP, "syms")
    merged = F.replace(
        joined,
        F.concat(F.col("a"), F.lit(_BPE_SEP), F.col("b")),
        F.concat(F.col("a"), F.col("b")),
    )
    return seg.crossJoin(F.broadcast(top)).select(
        "word",
        "n",
        merged.alias("syms"),
        F.col("a").alias("merged_a"),
        F.col("b").alias("merged_b"),
    )


def _bpe_round_sql(seg_rel: str, idx: int) -> str:
    """One chained BPE round in DuckDB SQL: pair stats over ``seg_rel``,
    deterministic argmax, merge applied via the 0x1F string-replace
    encoding (see docs_bpe_one_round). Emits CTEs pairs{idx}/stats{idx}/
    top{idx}/segs{idx}; earlier rounds' merge columns are carried
    through."""
    carry = "".join(f" s.a{j}, s.b{j}," for j in range(1, idx))
    return f"""pairs{idx} AS (
  SELECT n,
         unnest(list_transform(range(1, len(syms)),
                               i -> struct_pack(a := syms[i],
                                                b := syms[i+1]))) AS p
  FROM {seg_rel}
), stats{idx} AS (
  SELECT p.a AS a, p.b AS b, SUM(n) AS pc FROM pairs{idx} GROUP BY p.a, p.b
), top{idx} AS (
  SELECT a, b FROM stats{idx} ORDER BY pc DESC, a, b LIMIT 1
), segs{idx} AS (
  SELECT s.word, s.n,
         string_split(replace(array_to_string(s.syms, chr(31)),
                              t.a || chr(31) || t.b, t.a || t.b),
                      chr(31)) AS syms,{carry}
         t.a AS a{idx}, t.b AS b{idx}
  FROM {seg_rel} s CROSS JOIN top{idx} t
)"""


_BPE_TRAIN3_CTES = (
    f"""
WITH toks AS (
  SELECT {tx.tokens_sql('text')} AS t FROM documents
), words AS (
  SELECT unnest(t) AS word FROM toks
), wc AS (
  SELECT word, COUNT(*) AS n FROM words GROUP BY word
), segs0 AS (
  SELECT word, n, list_append(string_split(word, ''), '</w>') AS syms FROM wc
), """
    + _bpe_round_sql("segs0", 1)
    + ", "
    + _bpe_round_sql("segs1", 2)
    + ", "
    + _bpe_round_sql("segs2", 3)
)

_BPE_TRAIN3_SQL = (
    _BPE_TRAIN3_CTES
    + """
SELECT word, n, array_to_string(syms, chr(31)) AS syms,
       a1 AS merge1_a, b1 AS merge1_b,
       a2 AS merge2_a, b2 AS merge2_b,
       a3 AS merge3_a, b3 AS merge3_b
FROM segs3
"""
)


@register("docs_bpe_train3", oracle=_BPE_TRAIN3_SQL, driver=False)
def docs_bpe_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE chained BPE training rounds, SQL-expressible end-to-end
    (r6 VERDICT #4 — the iterated trainer cross-engine verified, not
    just one round): each round recomputes pair statistics over the
    previous round's segmentation, broadcast-joins the 1-row
    deterministic argmax (count DESC, pair ASC), and applies the merge
    via the same 0x1F string-replace encoding docs_bpe_one_round pinned
    (leftmost-first non-overlapping on both engines). The learned merge
    sequence rides the output columns, so the hash comparison verifies
    the ARGMAX CHAIN and all three applications at once. Unconditional
    three rounds (no ≥2-count stop): if a round's stats were empty both
    engines produce an identically empty result. The driver-loop
    variant with early stop and checkpointing is
    operators/bpe.py::bpe_train, pinned to this chained kernel by
    tests/test_bpe.py::test_train3_query_matches_bpe_train. Output
    ``syms`` is the 0x1F-joined STRING encoding (scalar driver
    contract, same as docs_bpe_one_round); registry query #103."""
    return _bpe_train3_seg(spark, sf_dir).withColumn(
        "syms", F.concat_ws(_BPE_SEP, "syms")
    )


def _bpe_train3_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared 3-round trained segmentation (word, n, syms,
    merge{1..3}_{a,b}) — consumed by docs_bpe_train3 (training output)
    and docs_bpe_tokenize (corpus-scale inference)."""
    from projekt_data_engineering_iubh_spark.operators import bpe

    d = spread(load_table(spark, sf_dir, "documents"))
    seg = bpe.initial_segmentation(bpe.word_counts(d))
    merge_cols: list[str] = []
    for r in (1, 2, 3):
        top = (
            bpe.pair_stats(seg)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select("a", "b")
        )
        joined = F.concat_ws(_BPE_SEP, "syms")
        merged = F.split(
            F.replace(
                joined,
                F.concat(F.col("a"), F.lit(_BPE_SEP), F.col("b")),
                F.concat(F.col("a"), F.col("b")),
            ),
            _BPE_SEP,
        )
        keep = [F.col(c) for c in merge_cols]
        seg = seg.crossJoin(F.broadcast(top)).select(
            "word",
            "n",
            merged.alias("syms"),
            *keep,
            F.col("a").alias(f"merge{r}_a"),
            F.col("b").alias(f"merge{r}_b"),
        )
        merge_cols += [f"merge{r}_a", f"merge{r}_b"]
        # flatten lineage between rounds: round r+1's pair_stats and its
        # merge application would otherwise each re-derive this round's
        # plan (the shared subtree doubles per round). The segmentation
        # table is vocabulary-sized — cheap to materialize.
        seg = seg.localCheckpoint(eager=True)
    return seg


_BPE_TOKENIZE_SQL = (
    _BPE_TRAIN3_CTES
    + f"""
, doc_words AS (
  SELECT doc_id, unnest({tx.tokens_sql('text')}) AS word FROM documents
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(len(s.syms)) AS DOUBLE) / COUNT(*) AS tokens_per_word
FROM doc_words d JOIN segs3 s USING (word)
GROUP BY d.doc_id
"""
)


@register("docs_bpe_tokenize", oracle=_BPE_TOKENIZE_SQL, driver=False)
def docs_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE INFERENCE with the 3-round trained vocabulary —
    the other half of the tokenizer tier (train = docs_bpe_train3): every
    document tokenized by joining its words against the trained
    segmentation table, with per-doc word / BPE-token counts and the
    fertility ratio (tokens per word, the tokenizer-quality metric).

    This is exactly how a production pipeline tokenizes at 100 TB: the
    merge loop runs ONCE over the vocabulary-sized word table; the corpus
    pass is a single explode + equi-join on word + per-doc aggregate —
    no per-document merge folds, because identical words share their
    segmentation. The join's word side is vocabulary-sized (broadcast or
    one shuffle), the doc side never moves twice. tokens_per_word is ONE
    double division of exact bigints (the r6 rounding rule); registry
    query #104."""
    seg = _bpe_train3_seg(spark, sf_dir).select("word", F.size("syms").alias("n_syms"))
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    return (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            F.col("n_bpe_tokens").cast("double") / F.col("n_words"),
        )
    )


_BINARY_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       substring(hex(encode(text)), 1, 16) AS head_hex,
       substring(hex(encode(text)), octet_length(encode(text)) * 2 - 15, 16)
         AS tail_hex,
       to_base64(encode(substring(text, 1, 12))) AS head_b64,
       CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_chunks
FROM documents
"""


@register("docs_binary_payloads", oracle=_BINARY_SQL, driver=False)
def docs_binary_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, oracle-verified (round 7): the multimodal
    tier treats media as opaque `binary` columns
    (multimodal/binary_ops.py), but no driver table carries one — so
    this query SYNTHESIZES a deterministic payload (UTF-8 bytes of
    `text`) and verifies the binary operations every media pipeline
    leans on, cross-engine: byte length, content hash, head/tail byte
    slices (hex), a bounded base64 rendering, and the 256-byte chunk
    count (the Arrow-batch sizing arithmetic of mapInPandas decode).

    Cross-engine notes baked in: DuckDB's md5/substring reject BLOBs, so
    the hash goes over the VARCHAR (identical UTF-8 bytes) and byte
    slices ride hex-string substrings; Spark's base64 is MIME-chunked
    (CRLF every 76 chars) on long inputs, so base64 only renders a
    12-char prefix (≤48 bytes, always unchunked). Registry query #105 —
    the multimodal family's first oracle-checked entry."""
    d = spread(load_table(spark, sf_dir, "documents"))
    payload = F.encode(F.col("text"), "UTF-8")
    hexed = F.hex(payload)
    nbytes = F.length(payload).cast("long")
    return d.select(
        "doc_id",
        nbytes.alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.substring(hexed, 1, 16).alias("head_hex"),
        F.expr(
            "substring(hex(encode(text, 'UTF-8')),"
            " length(encode(text, 'UTF-8')) * 2 - 15, 16)"
        ).alias("tail_hex"),
        F.base64(F.encode(F.substring("text", 1, 12), "UTF-8")).alias(
            "head_b64"
        ),
        # integer DIV, not double division — exact at any payload size
        F.expr(
            "(length(encode(text, 'UTF-8')) + 255) DIV 256"
        ).cast("long").alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# Deterministic training order (seeded global shuffle → shards + positions)
# ---------------------------------------------------------------------------

_ORD_SEED = "epoch0"
_ORD_SHARDS = 8  # test-scale; a 100 TB run sets this ≈ data-parallel readers

_ORD_HKEY_SQL = hashing.md5_hash60_sql(
    f"concat('{_ORD_SEED}:', CAST(doc_id AS VARCHAR))"
)

_TRAIN_ORDER_SQL = f"""
WITH h AS (
  SELECT doc_id, n_chars, {_ORD_HKEY_SQL} AS hkey FROM documents
), sharded AS (
  SELECT doc_id, n_chars, hkey, hkey % {_ORD_SHARDS} AS shard FROM h
), ranked AS (
  SELECT doc_id, n_chars, shard,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id) AS pos,
         CAST(COALESCE(SUM(n_chars) OVER (
             PARTITION BY shard ORDER BY hkey, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS shard_offset_chars
  FROM sharded
)
SELECT doc_id, shard, pos,
       (pos - 1) * {_ORD_SHARDS} + shard AS global_ord,
       shard_offset_chars
FROM ranked
"""


@register("docs_train_order", oracle=_TRAIN_ORDER_SQL, driver=False)
def docs_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle into training shards.

    The op every epoch of large-scale training needs between the curated
    corpus and the data loader: an order that is (a) uniformly shuffled,
    (b) reproducible from (seed, doc_id) alone — no RNG state, any subset
    of workers can recompute its own slice — and (c) sharded so N
    data-parallel readers stream disjoint files in order. Emits per doc:
    its shard (hash mod shards), position within the shard (rank by hash),
    the round-robin global order (``(pos-1)*shards + shard`` — what a
    synchronized data-parallel sweep over shard files visits), and the
    running byte/char offset of the doc inside its shard (the seek index a
    reader uses to resume mid-shard).

    Scale shape: one map-side hash projection, then ONE window shuffle
    partitioned by shard — the terasort pattern. Per-shard sort size is
    corpus/shards; a 100 TB run raises ``_ORD_SHARDS`` to O(readers) so
    each sort fits an executor (the hash is uniform, so shards are
    balanced by construction — no skew guard needed). Re-seeding per epoch
    (``_ORD_SEED``) reshuffles with zero state carried between epochs.

    No reference analog (the reference is machine telemetry:
    /root/reference/src/daily_aggregator.py); north-star training-data
    surface, same contract style as docs_sample / docs_pack_sequences.
    """
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "n_chars",
        hashing.md5_hash60(
            F.concat(F.lit(f"{_ORD_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("hkey"),
    ).withColumn("shard", F.col("hkey") % _ORD_SHARDS)
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    rn = F.row_number().over(w).cast("long")
    off = F.coalesce(
        F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return h.select(
        "doc_id",
        "shard",
        rn.alias("pos"),
        ((rn - F.lit(1)) * F.lit(_ORD_SHARDS) + F.col("shard")).alias(
            "global_ord"
        ),
        off.alias("shard_offset_chars"),
    )


# ---------------------------------------------------------------------------
# Multimodal dims/layout arithmetic (engine-side mirror of the decode fakes)
# ---------------------------------------------------------------------------

_TILE = 32  # tile side for the grid count
_THUMB_MAX = 64  # longer-side target for thumb dims

# (width, height) synthesized EXACTLY like multimodal/binary_ops.py::
# fake_image_decoder: the first two md5-digest bytes of the UTF-8 payload
# (md5 of the VARCHAR == md5 of its UTF-8 bytes on both engines; #105's
# BLOB lesson).
_MD_W_SQL = "64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) % 192"
_MD_H_SQL = "64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) % 192"

_MEDIA_DIMS_SQL = f"""
WITH dims AS (
  SELECT doc_id, CAST({_MD_W_SQL} AS BIGINT) AS width,
         CAST({_MD_H_SQL} AS BIGINT) AS height
  FROM documents
)
SELECT doc_id, width, height,
       width * 3 AS row_stride_bytes,
       width * height * 3 AS frame_bytes,
       ((width + {_TILE - 1}) // {_TILE}) * ((height + {_TILE - 1}) // {_TILE})
         AS n_tiles,
       CASE WHEN width >= height THEN {_THUMB_MAX}
            ELSE greatest(1, (2 * width * {_THUMB_MAX} + height)
                             // (2 * height)) END AS thumb_w,
       CASE WHEN width >= height
            THEN greatest(1, (2 * height * {_THUMB_MAX} + width)
                             // (2 * width))
            ELSE {_THUMB_MAX} END AS thumb_h
FROM dims
"""


@register("docs_media_dims", oracle=_MEDIA_DIMS_SQL, driver=False)
def docs_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal plumbing's layout arithmetic as engine-side columns,
    oracle-checked cross-engine (#109; second oracle row of the family
    after #105 docs_binary_payloads).

    Synthesizes (width, height) exactly as the injectable fake codec does
    (multimodal/binary_ops.py::fake_image_decoder — first two md5 digest
    bytes of the payload), then computes what the Arrow-batch decode
    plumbing needs BEFORE any codec runs: RGB888 row stride and frame
    byte size (Arrow batch sizing for mapInPandas), the 32px tile
    grid count (patching/ViT-style preprocessing fan-out), and the
    aspect-preserving thumb dims with the longer side exactly
    64 — the SAME integer HALF_UP formula as
    binary_ops._fit_longer_side, pinned equal in
    tests/test_multimodal.py so the SQL contract and the Python resizer
    can never drift.

    All integer arithmetic (DIV/// on non-negative ints agrees across
    engines; no doubles anywhere) — the r6 rounding lesson applied at
    design time."""
    d = spread(load_table(spark, sf_dir, "documents"))
    hexd = F.md5(F.col("text"))
    b0 = F.conv(F.substring(hexd, 1, 2), 16, 10).cast("long")
    b1 = F.conv(F.substring(hexd, 3, 2), 16, 10).cast("long")
    width = (F.lit(64) + b0 % 192).alias("width")
    height = (F.lit(64) + b1 % 192).alias("height")
    dims = d.select("doc_id", width, height)
    w, h = F.col("width"), F.col("height")
    m = F.lit(_THUMB_MAX)
    scale_h = F.greatest(F.lit(1), F.expr(
        f"(2 * height * {_THUMB_MAX} + width) DIV (2 * width)"))
    scale_w = F.greatest(F.lit(1), F.expr(
        f"(2 * width * {_THUMB_MAX} + height) DIV (2 * height)"))
    return dims.select(
        "doc_id",
        "width",
        "height",
        (w * 3).alias("row_stride_bytes"),
        (w * h * 3).alias("frame_bytes"),
        F.expr(
            f"((width + {_TILE - 1}) DIV {_TILE})"
            f" * ((height + {_TILE - 1}) DIV {_TILE})"
        ).alias("n_tiles"),
        F.when(w >= h, m.cast("long")).otherwise(scale_w).alias("thumb_w"),
        F.when(w >= h, scale_h).otherwise(m.cast("long")).alias("thumb_h"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (registry query #112)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "vector", "stream")
_BM25_TOP = 20
# k1 = 1.2, b = 0.75 (the standard Okapi defaults); written as the folded
# literals 2.2 (= k1 + 1) and 0.25 (= 1 - b) so both engines parse the
# SAME decimal literals — no cross-engine re-derivation of constants.

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_SQL = f"""
WITH t AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), t2 AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM t2
), tf AS (
  SELECT doc_id, dl, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM t2, unnest(toks) AS u(tok)
  WHERE tok IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2, 3
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), idf AS (
  SELECT term,
         CAST(floor(ln(1.0 + ((n - df) + 0.5) / (df + 0.5)) * 1000000.0)
              AS BIGINT) AS idf_micro
  FROM df CROSS JOIN stats
), sc AS (
  SELECT tf.doc_id,
         CAST(floor(idf.idf_micro
              * ((CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE))
                             / stats.avgdl)))) AS BIGINT) AS s
  FROM tf JOIN idf USING (term) CROSS JOIN stats
)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_terms,
       CAST(SUM(s) AS BIGINT) AS score_micro
FROM sc GROUP BY 1
ORDER BY score_micro DESC, doc_id
LIMIT {_BM25_TOP}
"""


@register("docs_bm25_topk", oracle=_BM25_SQL, driver=False)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus for a fixed query — the
    classic sparse-retrieval scorer next to the TF-IDF term profile
    (docs_tfidf_top_terms): rank documents for a literal term set with
    Okapi BM25 (k1=1.2, b=0.75), Lucene's non-negative idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5)).

    Cross-engine determinism: per-TERM idf is floor-quantized to integer
    micro-units at fit time (ln is the one non-correctly-rounded op —
    the lm_model policy), and each (doc, term) partial score is floored
    to a bigint before the per-doc SUM, so the aggregation is exact
    integer arithmetic in any partition order; the tf-normalization
    chain is single-path IEEE arithmetic with identical literals and
    parenthesization on both engines.

    Scale shape: doc length is carried THROUGH the tf groupBy key (no
    per-doc join back), the idf table is |query| rows broadcast, corpus
    stats one broadcast scalar row, and the final top-k is
    orderBy+limit — Spark's TakeOrderedAndProject (per-partition heaps +
    driver merge of k rows), NOT a global sort; at 100 TB only the
    (doc_id, term) tf aggregation shuffles. The exploded scan filters to
    query terms map-side before any exchange."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t2 = d.select(
        "doc_id", tx.tokens(F.col("text")).alias("toks")
    ).select("doc_id", F.size("toks").cast("long").alias("dl"), "toks")
    stats = t2.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        t2.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "term",
        F.floor(
            F.log(
                F.lit(1.0)
                + ((F.col("n") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    s = F.floor(
        F.col("idf_micro")
        * (
            (tfd * F.lit(2.2))
            / (
                tfd
                + F.lit(1.2)
                * (F.lit(0.25) + (F.lit(0.75) * dld) / F.col("avgdl"))
            )
        )
    ).cast("long")
    sc = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s.alias("s"))
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms"),
            F.sum("s").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_BM25_TOP)
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (registry query #113)
# ---------------------------------------------------------------------------

_DSIR_B = 4096  # hashed n-gram feature buckets

_DSIR_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {tx.tokens_sql('text')} AS toks FROM documents
), g AS (
  SELECT doc_id, source,
         unnest(list_concat(toks,
                list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1]))) AS gram
  FROM t
), gb AS (
  SELECT doc_id, source, {hashing.md5_hash60_sql('gram')} % {_DSIR_B} AS bucket
  FROM g
), raw AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM gb GROUP BY 1
), tgt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
  FROM gb WHERE source = 'src0' GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tr,
         CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tt
  FROM gb
), w AS (
  SELECT raw.bucket,
         CAST(floor(ln(
              (CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
               / CAST(tot.tt + {_DSIR_B} AS DOUBLE))
              / (CAST(raw.cr + 1 AS DOUBLE)
                 / CAST(tot.tr + {_DSIR_B} AS DOUBLE))) * 1000000.0)
              AS BIGINT) AS lw_micro
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
)
SELECT gb.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(w.lw_micro) AS BIGINT) AS lw_micro_sum,
       CAST(SUM(w.lw_micro) AS DOUBLE) / COUNT(*) AS avg_lw_micro,
       SUM(w.lw_micro) > 0 AS selected
FROM gb JOIN w USING (bucket)
GROUP BY 1
"""


@register("docs_dsir_weights", oracle=_DSIR_SQL, driver=False)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram features are, using
    src0 as the trusted target distribution (the docs_bloom_membership
    precedent). Features are unigrams + bigrams hashed into B=4096
    buckets; the per-bucket log importance weight is
    ln(p_target / p_raw) under add-one smoothing, and a document's
    weight is the sum over its grams — selected = lw_micro_sum > 0
    (more target-like than raw) is the deterministic selection rule
    standing in for the paper's Gumbel top-k resample.

    Determinism: per-BUCKET log-ratios are floor-quantized to integer
    micro-units at fit time (single ln per bucket, lm_model policy), so
    per-doc sums are exact bigints in any partition order; the smoothed
    ratio is computed as a ratio OF ratios — each factor divided before
    combining — so no intermediate product can leave double-exact
    integer range at any corpus size (a direct cross-product of gram
    totals would hit 2^53 near sf1).

    Scale shape: the weight table is at most B=4096 rows and BROADCASTS
    onto the exploded gram stream; fit is two bucket-keyed groupBys
    (≤B rows out, map-side combined) + one scalar totals row; only the
    per-doc sum shuffles doc-keyed rows. No vocabulary-sized state
    anywhere — the hashing trick caps model size regardless of corpus
    vocabulary, which is exactly why DSIR scales to 100 TB."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", "source", tx.tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    m = F.greatest(n - F.lit(1), F.lit(0))
    bi = F.zip_with(
        F.slice(F.col("toks"), 1, m),
        F.slice(F.col("toks"), 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    gb = t.select(
        "doc_id",
        "source",
        F.explode(F.concat(F.col("toks"), bi)).alias("gram"),
    ).select(
        "doc_id",
        "source",
        (hashing.md5_hash60(F.col("gram")) % _DSIR_B).alias("bucket"),
    )
    raw = gb.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        gb.filter(F.col("source") == "src0")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    tot = gb.agg(
        F.count(F.lit(1)).cast("long").alias("tr"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long")
        .alias("tt"),
    )
    w = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast(
                            "double"
                        )
                        / (F.col("tt") + F.lit(_DSIR_B)).cast("double")
                    )
                    / (
                        (F.col("cr") + F.lit(1)).cast("double")
                        / (F.col("tr") + F.lit(_DSIR_B)).cast("double")
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lw_micro"),
        )
    )
    return (
        gb.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("lw_micro").alias("lw_micro_sum"),
            (F.sum("lw_micro").cast("double") / F.count(F.lit(1))).alias(
                "avg_lw_micro"
            ),
            (F.sum("lw_micro") > F.lit(0)).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit HyperLogLog distinct sketch (registry query #114)
# ---------------------------------------------------------------------------

_HLL_P = 8  # precision bits -> m = 256 registers
_HLL_M = 1 << _HLL_P
# alpha_m * m^2 * 2^53, folded to ONE double literal in Python so both
# engines parse the identical decimal constant instead of re-deriving it
# (alpha_256 = 0.7213 / (1 + 1.079/256) = 0.7182725932495458).
_HLL_NUM = repr(0.7182725932495458 * float(_HLL_M * _HLL_M) * float(1 << 53))
_HLL_LC_BAR = repr(2.5 * _HLL_M)  # linear-counting switchover 2.5m

# estimate from (s_sum, v_zero) — shared by the per-source query and
# the merge query so both engines evaluate the IDENTICAL formula text
def _hll_est_sql(s_sum: str, v_zero: str) -> str:
    return f"""CAST(floor(
         CASE WHEN {v_zero} > 0
                   AND {_HLL_NUM} / CAST({s_sum} AS DOUBLE) <= {_HLL_LC_BAR}
              THEN {float(_HLL_M)} * ln({float(_HLL_M)} / {v_zero})
              ELSE {_HLL_NUM} / CAST({s_sum} AS DOUBLE)
         END * 1000000.0) AS BIGINT)"""


def _hll_est(s_sum, v_zero):
    num = F.lit(float(_HLL_NUM))
    e_raw = num / s_sum.cast("double")
    e_lc = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v_zero)
    return (
        F.floor(
            F.when((v_zero > 0) & (e_raw <= F.lit(float(_HLL_LC_BAR))), e_lc)
            .otherwise(e_raw)
            * F.lit(1000000.0)
        ).cast("long")
    )


# the (bucket, w) split and the leading-zero rank, shared likewise
_HLL_B_SQL = f"""
  SELECT source,
         {hashing.md5_hash60_sql('text')} & {_HLL_M - 1} AS bucket,
         {hashing.md5_hash60_sql('text')} >> {_HLL_P} AS w
  FROM documents"""
_HLL_RANK_SQL = "CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END"

_HLL_SQL = f"""
WITH b AS ({_HLL_B_SQL}
), r AS (
  SELECT source, bucket,
         MAX({_HLL_RANK_SQL}) AS r
  FROM b GROUP BY 1, 2
), agg AS (
  SELECT source,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS s_present,
         CAST(COUNT(*) AS BIGINT) AS npresent
  FROM r GROUP BY 1
), est AS (
  SELECT source,
         s_present + ({_HLL_M} - npresent) * (CAST(1 AS BIGINT) << 53)
             AS s_sum,
         {_HLL_M} - npresent AS v_zero
  FROM agg
), ex AS (
  SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact
  FROM documents GROUP BY 1
)
SELECT est.source, ex.n_exact, est.v_zero, est.s_sum,
       {_hll_est_sql('est.s_sum', 'est.v_zero')} AS hll_micro
FROM est JOIN ex USING (source)
"""


@register("docs_hll_distinct", oracle=_HLL_SQL, driver=False)
def docs_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit HyperLogLog distinct-count sketch per source — completes
    the engine-portable mergeable-sketch trio next to Bloom membership
    (docs_bloom_membership) and Count-Min heavy hitters
    (docs_cms_heavy_hitters), with the exact COUNT(DISTINCT) alongside
    so the sketch's error is MEASURED in the verified output (the exact
    column is the verification baseline; the sketch side alone is the
    scale path — agg_approx_distinct pins Spark's built-in cousin).

    Flajolet et al. 2007 layout at p=8 (m=256 registers): the 60-bit md5
    hash splits into 8 bucket bits + a 52-bit suffix whose
    leading-zero rank is 53 - bitlength (bin()/length on both engines;
    rank 53 for the all-zero suffix). Register state is ONE (source,
    bucket) MAX — associative and mergeable, the map-side-combine shape
    that makes HLL free at 100 TB. Determinism: the harmonic-mean
    denominator is computed as Σ 2^(53-r) in EXACT bigint arithmetic
    (absent registers contribute 2^53), so no unordered floating sum
    exists; alpha·m²·2^53 is folded to one shared decimal literal, the
    estimate is a single double division, and the linear-counting branch
    (V>0, E ≤ 2.5m) is m·ln(m/V) micro-floored under the lm_model ln
    policy. Large-range correction (E > 2^32/30) is out of scope at the
    60-bit hash width."""
    d = spread(load_table(spark, sf_dir, "documents"))
    h = hashing.md5_hash60(F.col("text"))
    b = d.select(
        "source",
        h.bitwiseAND(F.lit(_HLL_M - 1)).alias("bucket"),
        F.shiftright(h, _HLL_P).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(F.col("w")))
    )
    r = b.groupBy("source", "bucket").agg(F.max(rank).alias("r"))
    agg = r.groupBy("source").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))"))
        .cast("long")
        .alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("npresent"),
    )
    est = agg.select(
        "source",
        (
            F.col("s_present")
            + (F.lit(_HLL_M) - F.col("npresent")) * F.lit(1 << 53)
        ).alias("s_sum"),
        (F.lit(_HLL_M) - F.col("npresent")).alias("v_zero"),
    )
    ex = d.groupBy("source").agg(
        F.count_distinct("text").cast("long").alias("n_exact")
    )
    return est.join(ex, "source").select(
        "source",
        "n_exact",
        "v_zero",
        "s_sum",
        _hll_est(F.col("s_sum"), F.col("v_zero")).alias("hll_micro"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (registry query #115)
# ---------------------------------------------------------------------------

_WS_K = 50
_WS_DEN = 1 << 20  # uniform-draw resolution
_WS_SALT = "ws1:"

_WS_SQL = f"""
WITH u AS (
  SELECT doc_id, n_chars,
         CAST({hashing.md5_hash60_sql(
             "concat('" + _WS_SALT + "', CAST(doc_id AS VARCHAR))")}
              % {_WS_DEN} + 1 AS DOUBLE) / {float(_WS_DEN)} AS u
  FROM documents
)
SELECT doc_id, n_chars,
       CAST(floor((ln(u) / n_chars) * 1000000000.0) AS BIGINT) AS key_nano
FROM u
ORDER BY key_nano DESC, doc_id
LIMIT {_WS_K}
"""


@register("docs_weighted_sample", oracle=_WS_SQL, driver=False)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis 2006:
    draw k=50 documents with probability proportional to length
    (n_chars) by ranking on key = u^(1/w) and keeping the top k —
    equivalently on ln(u)/w, skipping the exp. The length-proportional
    draw is the corpus-mixture sampling primitive docs_mixture_epochs
    rounds per-LANGUAGE; this is its per-DOCUMENT counterpart.

    Determinism: u is an exact dyadic rational (hash % 2^20 + 1)/2^20 in
    (0,1] from a salted doc_id hash (the docs_train_test_split
    convention — reproducible across runs, engines, and corpus growth),
    the key is ONE ln + one division + one nano-floor per row (lm_model
    ln policy), and (key_nano, doc_id) is a total order so the LIMIT is
    unambiguous. Integer-DIV is deliberately avoided for the negative
    ln(u): Spark DIV truncates toward zero while DuckDB // floors (the
    r6 ADVICE trap), so the floor happens once, on the double.

    Scale shape: stateless per-row scoring (no shuffle at all) into
    orderBy+limit = TakeOrderedAndProject per-partition heaps + a k-row
    driver merge — the same no-global-sort top-k as docs_bm25_topk."""
    d = spread(load_table(spark, sf_dir, "documents"))
    u = (
        hashing.md5_hash60(
            F.concat(F.lit(_WS_SALT), F.col("doc_id").cast("string"))
        )
        % _WS_DEN
        + 1
    ).cast("double") / F.lit(float(_WS_DEN))
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.floor((F.log(u) / F.col("n_chars")) * F.lit(1000000000.0))
            .cast("long")
            .alias("key_nano"),
        )
        .orderBy(F.desc("key_nano"), F.asc("doc_id"))
        .limit(_WS_K)
    )


# ---------------------------------------------------------------------------
# HyperLogLog sketch MERGE (registry query #118)
# ---------------------------------------------------------------------------

_HLL_UNION_SQL = f"""
WITH b AS ({_HLL_B_SQL}
), rsb AS (
  SELECT source, bucket, MAX({_HLL_RANK_SQL}) AS r
  FROM b GROUP BY 1, 2
), merged AS (
  SELECT bucket, MAX(r) AS r FROM rsb GROUP BY 1
), direct AS (
  SELECT bucket, MAX({_HLL_RANK_SQL}) AS r FROM b GROUP BY 1
), magg AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS s_sum,
         {_HLL_M} - CAST(COUNT(*) AS BIGINT) AS v_zero
  FROM merged
), dagg AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS s_sum,
         {_HLL_M} - CAST(COUNT(*) AS BIGINT) AS v_zero
  FROM direct
), ex AS (
  SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact_global
  FROM documents
), pex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(SUM(cnt) AS BIGINT) AS sum_exact
  FROM (SELECT source, COUNT(DISTINCT text) AS cnt
        FROM documents GROUP BY 1)
)
SELECT pex.n_sources, pex.sum_exact, ex.n_exact_global,
       magg.v_zero, magg.s_sum,
       {_hll_est_sql('magg.s_sum', 'magg.v_zero')} AS hll_micro_merged,
       {_hll_est_sql('dagg.s_sum', 'dagg.v_zero')} AS hll_micro_direct
FROM magg CROSS JOIN dagg CROSS JOIN ex CROSS JOIN pex
"""


@register("docs_hll_union", oracle=_HLL_UNION_SQL, driver=False)
def docs_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch MERGE — the property that makes the sketch a
    distributed-aggregation primitive, proven in the verified output:
    per-source register tables are merged with a per-bucket MAX, and the
    result is BIT-IDENTICAL to the sketch computed in one pass over all
    data (hll_micro_merged == hll_micro_direct; MAX is associative and
    commutative, so per-partition / per-shard / per-day sketches can be
    rolled up in any tree shape at 100 TB without touching raw data
    again). The exact columns measure WHY merging matters:
    sum_exact (Σ per-source distincts) double-counts cross-source
    duplicates, while the merged sketch estimates the true union
    (n_exact_global) — the classic "distinct users across shards"
    problem that naive per-shard counts get wrong.

    Arithmetic contract identical to docs_hll_distinct (#114, shared
    helpers): exact-bigint harmonic denominators, one shared decimal
    literal for alpha·m²·2^53, micro-floored linear-counting branch.
    Scale shape: two bucket-keyed groupBys (≤ sources·m and m rows) +
    scalar aggregates; the exact COUNT(DISTINCT) columns are the
    verification baseline, not the scale path."""
    d = spread(load_table(spark, sf_dir, "documents"))
    h = hashing.md5_hash60(F.col("text"))
    b = d.select(
        "source",
        h.bitwiseAND(F.lit(_HLL_M - 1)).alias("bucket"),
        F.shiftright(h, _HLL_P).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(F.col("w")))
    )
    rsb = b.groupBy("source", "bucket").agg(F.max(rank).alias("r"))
    merged = rsb.groupBy("bucket").agg(F.max("r").alias("r"))
    direct = b.groupBy("bucket").agg(F.max(rank).alias("r"))

    def agg_sketch(reg: DataFrame, s_name: str, v_name: str) -> DataFrame:
        return reg.agg(
            (
                F.sum(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
                ).cast("long")
                + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << 53)
            ).alias(s_name),
            (F.lit(_HLL_M) - F.count(F.lit(1))).cast("long").alias(v_name),
        )

    magg = agg_sketch(merged, "m_s", "m_v")
    dagg = agg_sketch(direct, "d_s", "d_v")
    ex = d.agg(F.count_distinct("text").cast("long").alias("n_exact_global"))
    pex = (
        d.groupBy("source")
        .agg(F.count_distinct("text").alias("cnt"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.sum("cnt").cast("long").alias("sum_exact"),
        )
    )
    return (
        magg.crossJoin(F.broadcast(dagg))
        .crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(pex))
        .select(
            "n_sources",
            "sum_exact",
            "n_exact_global",
            F.col("m_v").alias("v_zero"),
            F.col("m_s").alias("s_sum"),
            _hll_est(F.col("m_s"), F.col("m_v")).alias("hll_micro_merged"),
            _hll_est(F.col("d_s"), F.col("d_v")).alias("hll_micro_direct"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate pruning (registry query #122)
# ---------------------------------------------------------------------------

_BOILER_K = 3  # spans in >= K distinct docs are boilerplate (C4's line rule)

_BOILER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tx.tokens_sql('text')} AS toks FROM documents
), spans AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1) + 1, {_SPAN_W})) AS s
  FROM toks
), keyed AS (
  SELECT doc_id,
         CAST((s - 1) // {_SPAN_W} AS INTEGER) AS span_no,
         array_to_string(list_slice(toks, s, s + {_SPAN_W} - 1), ' ')
           AS span_text,
         CASE WHEN len(toks) - s + 1 >= {_SPAN_W}
              THEN {hashing.md5_hash60_sql(
                  f"array_to_string(list_slice(toks, s, s + {_SPAN_W} - 1), ' ')")}
              ELSE CAST(-1 AS BIGINT) END AS k
  FROM spans
), freq AS (
  SELECT k FROM keyed WHERE k >= 0
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {_BOILER_K}
), flagged AS (
  SELECT keyed.doc_id, keyed.span_no, keyed.span_text,
         freq.k IS NOT NULL AS boiler
  FROM keyed LEFT JOIN freq USING (k)
)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE boiler) AS INTEGER) AS n_boiler,
       coalesce(string_agg(span_text, ' ' ORDER BY span_no)
                FILTER (WHERE NOT boiler), '') AS text_clean
FROM flagged GROUP BY 1
"""


@register("docs_boilerplate_prune", oracle=_BOILER_SQL, driver=False)
def docs_boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal — the C4 rule that a LINE
    occurring in three or more documents is template boilerplate
    (cookie banners, nav bars) and is removed from EVERY document,
    re-expressed over fixed 8-token spans (the synthetic docs carry no
    line breaks; same span geometry as docs_span_dedup, which is the
    complementary policy: span_dedup KEEPS the first occurrence,
    boilerplate pruning keeps NONE once frequency >= K=3).

    Trailing partial spans get a constant -1 sentinel key: they are
    excluded from the frequency table by the k >= 0 filter and the flag
    join can never match them against a (non-negative) frequent-span
    key, so they can never be flagged — short docs lose only genuinely
    corpus-frequent spans. (r8: the old packed doc_id*2^30 sentinel
    could wrap past int64 at doc_id >= 2^33 and turn non-negative;
    per-span uniqueness was never needed here, so the constant is the
    correct-at-any-scale form. The -1 key is skewed on the probe side,
    but the flag join is a broadcast of the tiny frequent-span table —
    plan-pinned — so the skew never reaches a shuffle.)

    Scale shape: span keys are 60-bit bigints BEFORE any shuffle; the
    frequency table is one (k)-keyed groupBy COUNT(DISTINCT doc_id)
    with map-side partials, and the >= K HAVING filter runs BEFORE the
    flag join — the join's build side holds only genuinely
    corpus-frequent spans (boilerplate templates), tiny at any corpus
    size, so the planner's broadcast choice stays correct at 100 TB
    (plan-pinned); reassembly is one groupBy(doc_id). Three shuffles,
    no pair enumeration — linear, same family as docs_span_dedup."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    spans = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(_SPAN_W)
            )
        ).alias("s"),
    )
    span_text = F.concat_ws(
        " ", F.slice(F.col("toks"), F.col("s"), F.lit(_SPAN_W))
    )
    keyed = spans.select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_SPAN_W} AS INT)").alias("span_no"),
        span_text.alias("span_text"),
        F.when(
            F.size("toks") - F.col("s") + 1 >= _SPAN_W,
            hashing.md5_hash60(span_text),
        )
        .otherwise(F.lit(-1).cast("long"))
        .alias("k"),
    )
    freq = (
        keyed.filter(F.col("k") >= 0)
        .groupBy("k")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_K)
        .select("k")
    )
    flagged = keyed.join(freq.withColumn("hit", F.lit(1)), "k", "left").select(
        "doc_id",
        "span_no",
        "span_text",
        F.col("hit").isNotNull().alias("boiler"),
    )
    kept_struct = F.when(
        ~F.col("boiler"), F.struct(F.col("span_no"), F.col("span_text"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.count(F.when(F.col("boiler"), F.lit(1))).cast("int").alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x.getField("span_text"),
            ),
            " ",
        ).alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# Multimodal frame-sampling arithmetic (registry query #137)
# ---------------------------------------------------------------------------

_FS_EVERY_MS = 1000
_FS_GOP = 48  # keyframe cadence in frames

# synthesized per-asset video metadata, same md5-byte scheme as
# docs_media_dims (#109): duration from digest bytes 3-4, fps 24/30 from
# byte 5's parity
_FS_DUR_SQL = "CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 30000"
_FS_FPS_SQL = (
    "CASE WHEN CAST(concat('0x', substr(md5(text), 9, 2)) AS BIGINT) % 2 = 0"
    " THEN 24 ELSE 30 END"
)

_FRAMESAMPLE_SQL = f"""
WITH meta AS (
  SELECT doc_id,
         CAST({_FS_DUR_SQL} AS BIGINT) AS duration_ms,
         CAST({_FS_FPS_SQL} AS BIGINT) AS fps,
         CAST({_MD_W_SQL} AS BIGINT) AS width,
         CAST({_MD_H_SQL} AS BIGINT) AS height
  FROM documents
)
SELECT doc_id AS asset_id, u.frame_ts_ms, fps,
       (u.frame_ts_ms * fps) // 1000 AS frame_idx,
       ((u.frame_ts_ms * fps) // 1000) % {_FS_GOP} = 0 AS is_keyframe,
       ((u.frame_ts_ms * fps) // 1000) * width * height * 3
         AS byte_offset
FROM meta, unnest(range(0, duration_ms + 1, {_FS_EVERY_MS}))
  AS u(frame_ts_ms)
"""


@register("docs_media_framesample", oracle=_FRAMESAMPLE_SQL, driver=False)
def docs_media_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing, oracle-checked end to end (#137;
    third oracle row of the multimodal family): synthesizes per-asset
    video metadata (duration, fps, dims) from the same md5-byte scheme
    as docs_media_dims, then drives the REAL operator —
    multimodal/binary_ops.py::sample_frames, the metadata-only explode
    that fans a video row into (asset_id, frame_ts_ms) sample points —
    and attaches what the downstream decode mapInPandas needs per
    sample: the frame index at the asset's fps (integer-exact
    (ts * fps) DIV 1000), the GOP-48 keyframe flag (seek targets), and
    the byte offset in a fixed-stride RGB888 container (frame_idx *
    width * height * 3 — Arrow batch slicing).

    The oracle pins the operator's boundary semantics cross-engine:
    Spark's sequence(0, dur, step) is stop-INCLUSIVE, DuckDB's range is
    stop-exclusive — range(0, dur + 1, step) generates the identical
    sample set (a real trap: a bare range(0, dur, step) silently drops
    the final sample of every asset whose duration is a step multiple).

    Scale shape: metadata-only — the payload column never reaches the
    scan (sample_frames prunes it); one explode plus an asset-keyed
    join to re-attach the columns the operator deliberately pruned
    (broadcast at test scale; co-partitioned on asset_id beyond it)."""
    from projekt_data_engineering_iubh_spark.multimodal.binary_ops import (
        sample_frames,
    )

    d = spread(load_table(spark, sf_dir, "documents"))
    hexd = F.md5(F.col("text"))
    dur = (
        F.conv(F.substring(hexd, 5, 4), 16, 10).cast("long") % 30000
    ).alias("duration_ms")
    fps = (
        F.when(
            F.conv(F.substring(hexd, 9, 2), 16, 10).cast("long") % 2 == 0,
            F.lit(24),
        )
        .otherwise(F.lit(30))
        .cast("long")
        .alias("fps")
    )
    b0 = F.conv(F.substring(hexd, 1, 2), 16, 10).cast("long")
    b1 = F.conv(F.substring(hexd, 3, 2), 16, 10).cast("long")
    meta = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.struct(dur).alias("meta"),
        fps,
        (F.lit(64) + b0 % 192).alias("width"),
        (F.lit(64) + b1 % 192).alias("height"),
    )
    frames = sample_frames(meta, every_ms=_FS_EVERY_MS)
    # sample_frames projects (asset_id, frame_ts_ms); re-attach the
    # per-asset columns it deliberately pruned
    out = frames.join(
        meta.select("asset_id", "fps", "width", "height"), "asset_id"
    )
    idx = F.expr("(frame_ts_ms * fps) DIV 1000")
    return out.select(
        "asset_id",
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
        "fps",
        idx.cast("long").alias("frame_idx"),
        (idx % _FS_GOP == 0).alias("is_keyframe"),
        (idx * F.col("width") * F.col("height") * 3)
        .cast("long")
        .alias("byte_offset"),
    )


# ---------------------------------------------------------------------------
# HLL-merged rolling actives (registry query #138) — an events-table
# query living here beside the HLL fragments (#114/#118) it composes
# ---------------------------------------------------------------------------

_HLL_WAU_WINDOW = 7

_HLL_UHASH_SQL = hashing.md5_hash60_sql("CAST(user_id AS VARCHAR)")

_HLL_WAU_SQL = f"""
WITH b AS (
  SELECT CAST(ts AS DATE) AS d,
         {_HLL_UHASH_SQL} & {_HLL_M - 1} AS bucket,
         {_HLL_UHASH_SQL} >> {_HLL_P} AS w
  FROM events
),
rg AS (
  SELECT d, bucket, MAX({_HLL_RANK_SQL}) AS r
  FROM b GROUP BY 1, 2
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
mg AS (
  SELECT days.day, rg.bucket, MAX(rg.r) AS r
  FROM rg JOIN days
    ON rg.d <= days.day AND rg.d >= days.day - {_HLL_WAU_WINDOW - 1}
  GROUP BY 1, 2
),
agg AS (
  SELECT day,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS s_present,
         CAST(COUNT(*) AS BIGINT) AS npresent
  FROM mg GROUP BY 1
),
est AS (
  SELECT day,
         s_present + ({_HLL_M} - npresent) * (CAST(1 AS BIGINT) << 53)
             AS s_sum,
         {_HLL_M} - npresent AS v_zero
  FROM agg
)
SELECT day, v_zero, s_sum,
       {_hll_est_sql('s_sum', 'v_zero')} AS hll_wau_micro
FROM est
"""


@register("events_rolling_wau_hll", oracle=_HLL_WAU_SQL, driver=False)
def events_rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for rolling actives: trailing-7-day WAU per day
    from MERGED per-day HyperLogLog register tables — the composition
    the mergeable-sketch trio exists for. events_rolling_wau (#130) is
    exact but ships every (user, day) row into a 7x range-join
    expansion; this variant reduces each day to <= 256 (bucket, max
    rank) registers FIRST, merges trailing windows by per-bucket MAX
    (the any-tree-shape rollup property #118 proves), and pays the
    range join only on registers — per-day shuffle traffic is constant
    in corpus size, the textbook sliding-distinct design at 100 TB.

    Same engine-portable sketch as #114: 60-bit md5 of the user id,
    p=8 buckets, harmonic denominator as the EXACT bigint sum of
    2^(53-rank) (no unordered FP accumulation — merge order cannot
    matter), one double division + the linear-counting branch folded
    from identical literals on both engines.

    Accuracy contract: ~1.04/sqrt(256) = 6.5% standard error — the
    property test pins every day's estimate against the exact #130
    WAU inside 4 sigma."""
    ev = load_table(spark, sf_dir, "events")
    uh = hashing.md5_hash60(F.col("user_id").cast("string"))
    b = ev.select(
        F.to_date("ts").alias("d"),
        (uh.bitwiseAND(F.lit(_HLL_M - 1))).alias("bucket"),
        F.shiftright(uh, _HLL_P).alias("w"),
    )
    rank = F.expr(_HLL_RANK_SQL)
    rg = b.groupBy("d", "bucket").agg(F.max(rank).alias("r"))
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    mg = (
        rg.join(
            F.broadcast(days),
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.date_sub("day", _HLL_WAU_WINDOW - 1)),
        )
        .groupBy("day", "bucket")
        .agg(F.max("r").alias("r"))
    )
    agg = mg.groupBy("day").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - r)"))
        .cast("long")
        .alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("npresent"),
    )
    est = agg.select(
        "day",
        (
            F.col("s_present")
            + (F.lit(_HLL_M) - F.col("npresent"))
            * F.lit(1 << 53).cast("long")
        ).alias("s_sum"),
        (F.lit(_HLL_M) - F.col("npresent")).cast("long").alias("v_zero"),
    )
    return est.select(
        "day",
        "v_zero",
        "s_sum",
        _hll_est(F.col("s_sum"), F.col("v_zero")).alias("hll_wau_micro"),
    )
