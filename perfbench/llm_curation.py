"""llm_curation: the LLM-data operators, which share no code with the
machine-event path.

Seeded ``documents`` / ``embeddings`` tables (see inputs.corpus). One
pass runs the text chain (the applied MinHash-LSH dedup, exact n-gram
Jaccard) and the kNN-join training chain (``emb_knn_join_adc``), one
registry query after another. Each result is small and is collected,
so it can be checked without running the query twice. Closed loop, one
client. There is no warm-up: a curation job runs once per corpus in a
fresh application, so plan compilation and JIT are part of what its
user waits for.

rows_per_s = (documents + vectors) / wall of one pass;
op_p50_ms  = median wall of one query of the pass.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass, field

import duckdb

import inputs
from harness import count_exchanges, median, planning_ms

from projekt_data_engineering_iubh_spark.plans import all_queries

QUERIES = (
    "docs_dedup_apply",
    "docs_ngram_jaccard",
    "emb_knn_join_adc",
)
OVERHEAD_QUERY = "docs_ngram_jaccard"
LAYER_UNITS = {
    f"plans.{q}.{m}": u
    for q in QUERIES
    for m, u in (("ms", "ms"), ("planning_ms", "ms"), ("jobs", "count"),
                 ("exchanges", "count"), ("shuffle_bytes", "B"))
}

SIZE = dict(n_docs=600, n_vecs=600, dup_pairs=6)
TINY = dict(n_docs=120, n_vecs=128, dup_pairs=4)


@dataclass
class State:
    corpus: inputs.Corpus
    queries: dict
    pass_walls_s: list = field(default_factory=list)
    query_walls_ms: list = field(default_factory=list)
    results: dict = field(default_factory=dict)


def _pass(run, st: State) -> float:
    t_pass = time.perf_counter()
    for q in QUERIES:
        fn = st.queries[q].fn
        t0 = time.perf_counter()
        out = run.ops.run(q, lambda: fn(run.spark, st.corpus.sf_dir).toPandas())
        st.query_walls_ms.append((time.perf_counter() - t0) * 1000.0)
        if out is not None:
            st.results[q] = out
    return time.perf_counter() - t_pass


def setup(run) -> State:
    size = TINY if run.tiny else SIZE
    corpus = run.generate(lambda d: inputs.corpus(d, run.seed, **size))
    return State(corpus, all_queries())


def measure(run, st: State) -> None:
    t_end = time.perf_counter() + run.seconds
    while not st.pass_walls_s or time.perf_counter() < t_end:
        st.pass_walls_s.append(_pass(run, st))
    rows = st.corpus.n_docs + st.corpus.n_vecs
    run.e2e["rows_per_s"] = rows * len(st.pass_walls_s) / sum(st.pass_walls_s)
    run.e2e["op_p50_ms"] = median(st.query_walls_ms)
    run.e2e["_op_samples"] = len(st.query_walls_ms)
    print(f"[perfbench] curation: query walls {[round(w) for w in st.query_walls_ms]} ms "
          f"({', '.join(QUERIES)})", file=sys.stderr)


def trace(run, st: State) -> None:
    """A cold pass, then a warm one with a span and a job tag around each
    query. The overhead is the traced minus an untraced warm wall of
    OVERHEAD_QUERY, the cheapest query, run untraced just before."""
    L, status = run.layers, run.status
    _pass(run, st)
    fn = st.queries[OVERHEAD_QUERY].fn
    t0 = time.perf_counter()
    fn(run.spark, st.corpus.sf_dir).toPandas()
    untraced_ms = (time.perf_counter() - t0) * 1000.0
    with run.tracer.span("curation.pass"):
        for q in QUERIES:
            tag = f"plans.{q}"
            with run.layer(tag) as sp:
                df = st.queries[q].fn(run.spark, st.corpus.sf_dir)
                plan = planning_ms(df)
                exchanges = count_exchanges(df)
                df.toPandas()
            s = status.stats(tag=f"{tag}#0")
            L[f"{tag}.ms"] = sp.ms
            L[f"{tag}.planning_ms"] = plan
            L[f"{tag}.jobs"] = s.jobs
            L[f"{tag}.exchanges"] = exchanges
            L[f"{tag}.shuffle_bytes"] = s.shuffle_bytes
    L["trace.overhead_ms"] = L[f"plans.{OVERHEAD_QUERY}.ms"] - untraced_ms


def _ids(df, col="doc_id") -> set[int]:
    return {int(x) for x in df[col]}


def _pairs(df, col) -> dict[tuple[int, int], float]:
    return {(int(a), int(b)): float(j) for a, b, j in zip(df["doc_a"], df["doc_b"], df[col])}


def check(run, st: State) -> None:
    """Ground truth from the generator: every planted exact duplicate is a
    pair with exact Jaccard 1.0, dedup keeps the smaller id of each pair
    and nothing else is removed, and every kNN row is a (even query, odd
    neighbour) pair ranked by exact distance.
    The tiny size also compares every query with its DuckDB oracle."""
    c, r, rec = st.corpus, st.results, run.ops.record
    planted = c.exact_dup_pairs
    dropped = {b for _, b in planted}
    if "docs_ngram_jaccard" in r:
        pairs = _pairs(r["docs_ngram_jaccard"], "jaccard")
        rec(all(pairs.get(p) == 1.0 for p in planted), "ngram jaccard misses a planted duplicate")
    if "docs_dedup_apply" in r:
        kept = _ids(r["docs_dedup_apply"])
        rec(kept == set(range(c.n_docs)) - dropped, f"dedup kept {len(kept)} docs")
    if "emb_knn_join_adc" in r:
        k = r["emb_knn_join_adc"].sort_values(["query_id", "rn"])
        ok = bool((k["query_id"] % 2 == 0).all() and (k["neighbor_id"] % 2 == 1).all())
        for _, g in k.groupby("query_id"):
            ok = ok and list(g["rn"]) == list(range(1, len(g) + 1))
            ok = ok and g["exact_dist"].is_monotonic_increasing
        ok = ok and k["query_id"].nunique() == (c.n_vecs + 1) // 2
        rec(ok, "knn join rows are not ranked (even query, odd neighbour) lists")
    if run.tiny:
        _check_oracles(run, st)


def _check_oracles(run, st: State) -> None:
    import sys
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tests.oracle_harness import compare

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{st.corpus.sf_dir}/{t}.parquet')"
        )
    for q in QUERIES:
        problems = compare(q, st.queries[q].fn(run.spark, st.corpus.sf_dir),
                           st.queries[q].oracle, con)
        run.ops.record(not problems, "; ".join(problems))


def teardown(run, st: State) -> None:
    pass
