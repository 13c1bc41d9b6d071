"""Text-analysis primitives for the training-data pipeline operators.

Tokenization, shingling, quality stats, language-ID heuristic, and document
fingerprinting — all native Column expressions (JVM-side, codegen'd), each
with a DuckDB SQL rendering kept in lockstep for oracle tests.

Tokenization contract (both engines): lowercase, split on runs of
non-[a-z0-9], drop empties. Shingles are w-length word windows joined by a
single space.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from projekt_data_engineering_iubh_spark.functions import hashing

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# tiny per-language stopword lists for the language-ID heuristic; order of
# LANGS is the deterministic tie-break (first wins on equal scores).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es": ("el", "la", "los", "que", "es", "una", "por"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour"),
    "zh": ("de", "shi", "bu", "le", "wo", "zai", "you"),
}
LANGS = tuple(LANG_STOPWORDS)


def tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '{TOKEN_SPLIT_RE}'),"
        f" x -> x != '')"
    )


def shingles(tok: Column, w: int = 3) -> Column:
    """w-gram word shingles; fewer than w tokens → empty array.

    Built from w row-level ``slice``s zipped together rather than indexed
    ``get`` inside a ``transform`` lambda: a captured non-attribute subtree
    inside a lambda body is re-evaluated per element in Spark's interpreted
    higher-order functions, which would re-tokenize the document once per
    shingle per accessed index."""
    n = F.size(tok)
    parts = [F.slice(tok, j + 1, n - (w - 1)) for j in range(w)]
    z = parts[0]
    for p in parts[1:]:
        z = F.zip_with(z, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= w, z).otherwise(F.array().cast("array<string>"))


def shingles_sql(tokens_expr: str, w: int = 3) -> str:
    """DuckDB rendering of :func:`shingles` (1-indexed lists).

    ``tokens_expr`` must be a bare column/alias name (it is repeated inside
    the lambda body; DuckDB lists are 1-indexed, range() is end-exclusive).
    """
    joined = " || ' ' || ".join(f"({tokens_expr})[i + {j}]" for j in range(w))
    return (
        f"CASE WHEN len({tokens_expr}) >= {w} THEN "
        f"list_transform(range(1, len({tokens_expr}) - {w - 2}), i -> {joined}) "
        f"ELSE [] END"
    )


def normalized_text(col: Column) -> Column:
    """Canonical form for exact-dedup: lowercase, non-alnum → space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), TOKEN_SPLIT_RE, " "))


def normalized_text_sql(expr: str) -> str:
    # 'g' flag: DuckDB regexp_replace replaces only the first match by default.
    return f"trim(regexp_replace(lower({expr}), '{TOKEN_SPLIT_RE}', ' ', 'g'))"


def lang_scores(tok: Column) -> dict[str, Column]:
    """Stopword-hit count per language (the language-ID signal)."""
    out: dict[str, Column] = {}
    for lang, words in LANG_STOPWORDS.items():
        wordlist = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(tok, lambda t: F.array_contains(wordlist, t)))
    return out


def lang_scores_sql(tokens_expr: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for lang, words in LANG_STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        out[lang] = (
            f"CAST(len(list_filter({tokens_expr}, t -> list_contains({lst}, t)))"
            f" AS INTEGER)"
        )
    return out


def predicted_lang(tok: Column) -> Column:
    """argmax over lang_scores with LANGS-order tie-break (first wins)."""
    scores = lang_scores(tok)
    expr: Column = F.lit(LANGS[-1])
    # fold right-to-left: earlier langs override on >= (ties go to the
    # earlier language in LANGS)
    for lang in reversed(LANGS[:-1]):
        later = [scores[l] for l in LANGS[LANGS.index(lang) + 1 :]]
        cond = scores[lang]
        ge_all = None
        for s in later:
            c = cond >= s
            ge_all = c if ge_all is None else (ge_all & c)
        expr = F.when(ge_all, F.lit(lang)).otherwise(expr)
    return expr


def predicted_lang_sql(tokens_expr: str) -> str:
    scores = lang_scores_sql(tokens_expr)
    expr = f"'{LANGS[-1]}'"
    for lang in reversed(LANGS[:-1]):
        later = [scores[l] for l in LANGS[LANGS.index(lang) + 1 :]]
        cond = " AND ".join(f"{scores[lang]} >= {s}" for s in later)
        expr = f"CASE WHEN {cond} THEN '{lang}' ELSE {expr} END"
    return expr


# ---------------------------------------------------------------------------
# Quality-score primitives (shared by plans/text_queries, pipeline/corpus,
# streaming lanes, and operators/quality_model — living here keeps the
# operator modules free of plans.* imports, i.e. no circular package init)
# ---------------------------------------------------------------------------

PUNCT_RE = "[^a-zA-Z0-9 ]"

# The deterministic 80/20 train/test split: a pure function of
# (salt, doc_id), so a document keeps its side across runs, engines,
# partitionings and corpus growth, whether it arrives by stream or batch.
SPLIT_SALT = "split_v1"
SPLIT_PCT_TRAIN = 80


def train_test_split(doc_id: Column) -> Column:
    """'train' or 'test' for each ``doc_id`` (see SPLIT_SALT)."""
    h = hashing.md5_hash60(F.concat(F.lit(SPLIT_SALT), doc_id.cast("string")))
    return F.when(h % 100 < SPLIT_PCT_TRAIN, "train").otherwise("test")
EN_STOPWORDS = LANG_STOPWORDS["en"]
STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"

# The composite quality score (C4/Gopher-style: length, punctuation,
# stopword density; weights 0.4/0.3/0.3). SINGLE source of truth for the
# Column form, the SQL template, and every lane that filters on it.


def quality_score_expr(
    n_tokens: Column, n_chars: Column, punct: Column, stop: Column
) -> Column:
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct.cast("double") / n_chars)
        + F.lit(0.3)
        * F.least(F.lit(1.0), F.lit(4.0) * (stop.cast("double") / n_tokens))
    )


def quality_score_sql(nt: str, nc: str, punct: str, stop: str) -> str:
    return (
        f"0.4 * least(1.0, {nt} / 100.0)\n"
        f"       + 0.3 * (1.0 - CAST({punct} AS DOUBLE) / {nc})\n"
        f"       + 0.3 * least(1.0, 4.0 * (CAST({stop} AS DOUBLE) / {nt}))"
    )


def stopword_count_expr(toks: Column) -> Column:
    stopset = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(stopset, t)))
