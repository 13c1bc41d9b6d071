"""Semantic property pins for the late-r7 curation/sketch queries —
claims the oracle hash equality alone doesn't state: the histogram
sketch's declared error bar, HLL's error vs its theoretical bound, the
weighted sample's length bias, and BM25's rare-term ranking."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.plans import all_queries
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq

SF = "/root/testdata/sf0.01"
_Q = all_queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    yield con
    con.close()


def test_hist_quantile_brackets_exact(spark, duck):
    """p_ub is an upper bin edge: exact quantile in (p_ub - width, p_ub]."""
    rows = _Q["events_value_hist_quantiles"].fn(spark, SF).collect()
    exact = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute(
            "SELECT event_type,"
            " quantile_disc(value, 0.5), quantile_disc(value, 0.9),"
            " quantile_disc(value, 0.99)"
            " FROM events WHERE value IS NOT NULL GROUP BY 1"
        ).fetchall()
    }
    assert rows
    for r in rows:
        for ub, ex in zip((r.p50_ub, r.p90_ub, r.p99_ub), exact[r.event_type]):
            assert ub - 10 < ex <= ub, (r.event_type, ub, ex)


def test_hll_error_within_bound(spark):
    """Observed per-source error stays within ~4 sigma of the m=256
    theoretical standard error (1.04/sqrt(m) ~ 6.5%)."""
    for r in _Q["docs_hll_distinct"].fn(spark, SF).collect():
        rel = abs(r.hll_micro / 1e6 - r.n_exact) / r.n_exact
        assert rel < 4 * 1.04 / 16, (r.source, rel)


def test_hll_union_merge_identity(spark):
    r = _Q["docs_hll_union"].fn(spark, SF).collect()[0]
    assert r.hll_micro_merged == r.hll_micro_direct


def test_weighted_sample_prefers_long_docs(spark, duck):
    """Length-proportional sampling: the selected docs' mean n_chars
    must exceed the corpus mean (k=50 of 500 leaves ample signal)."""
    sel = _Q["docs_weighted_sample"].fn(spark, SF).agg(
        F.avg("n_chars")
    ).collect()[0][0]
    overall = duck.execute("SELECT AVG(n_chars) FROM documents").fetchone()[0]
    assert sel > overall, (sel, overall)


def test_bm25_rare_term_docs_outrank(spark, duck):
    """Docs containing the rare query term ('dup', df~5%) must dominate
    the top-k over docs matching only ubiquitous terms."""
    top = _Q["docs_bm25_topk"].fn(spark, SF).collect()
    ids = [r.doc_id for r in top]
    with_dup = {
        r[0]
        for r in duck.execute(
            "SELECT doc_id FROM documents"
            " WHERE list_contains(string_split_regex(lower(text),"
            " '[^a-z0-9]+'), 'dup')"
        ).fetchall()
    }
    hits = sum(1 for i in ids if i in with_dup)
    assert hits >= len(ids) * 0.8, (hits, len(ids))


def test_pagerank_mass_in_clusters(spark):
    """Connected documents must carry more rank than isolated ones
    (isolated pin at (1-d) = 0.15e6), and every rank is positive."""
    rows = _Q["docs_pagerank"].fn(spark, SF).collect()
    iso = [r.rank_micro for r in rows if r.deg == 0]
    con = [r.rank_micro for r in rows if r.deg > 0]
    assert all(r == 150_000 for r in iso)
    assert con and min(con) > 0
    assert max(con) > 150_000


def test_dsir_src0_docs_score_higher(spark):
    """Importance weights against the src0 target: src0's own docs must
    average a higher weight than the rest of the corpus."""
    df = _Q["docs_dsir_weights"].fn(spark, SF)
    docs = (
        df.sparkSession.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "source")
    )
    avg = (
        df.join(docs, "doc_id")
        .groupBy(F.col("source") == "src0")
        .agg(F.avg("avg_lw_micro").alias("a"))
        .collect()
    )
    by = {r[0]: r.a for r in avg}
    assert by[True] > by[False], by


def test_boilerplate_removed_everywhere(spark, duck):
    """The C4 rule's defining property: a span flagged as boilerplate
    is removed from EVERY document (unlike span_dedup, which keeps the
    first occurrence) — so no surviving text_clean may contain any
    full-width span that occurs in >= K distinct documents. Also: a doc
    whose spans are all corpus-unique keeps its full reassembled text."""
    from projekt_data_engineering_iubh_spark.plans.curation_queries import (
        _BOILER_K,
        _SPAN_W,
    )

    rows = _Q["docs_boilerplate_prune"].fn(spark, SF).collect()
    frequent = {
        r[0]
        for r in duck.execute(
            f"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
              FROM documents
            ), sp AS (
              SELECT doc_id,
                     array_to_string(list_slice(t, s, s + {_SPAN_W} - 1), ' ')
                       AS span
              FROM toks,
                   unnest(range(1, greatest(len(t), 1) + 1, {_SPAN_W})) AS u(s)
              WHERE len(t) - s + 1 >= {_SPAN_W}
            )
            SELECT span FROM sp
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {_BOILER_K}
            """
        ).fetchall()
    }
    assert frequent, "fixture corpus must contain corpus-frequent spans"
    flagged_docs = 0
    for r in rows:
        if r.n_boiler:
            flagged_docs += 1
        # re-span the cleaned text: no full span may be corpus-frequent
        toks = r.text_clean.split(" ") if r.text_clean else []
        for s in range(0, len(toks) - _SPAN_W + 1, _SPAN_W):
            span = " ".join(toks[s : s + _SPAN_W])
            assert span not in frequent, (r.doc_id, span)
    assert flagged_docs >= _BOILER_K  # every copy of a frequent span goes


def test_gaps_islands_partition_exactly(spark, duck):
    """Islands tile each user's active-day set: consecutive inside
    (island_days == end - start + 1 with every day active), separated
    by true gaps (gap_days_before >= 1 for every non-first island), and
    summing to the user's distinct active days."""
    rows = _Q["events_gaps_islands"].fn(spark, SF).collect()
    active = {}
    for uid, day in duck.execute(
        "SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events"
    ).fetchall():
        active.setdefault(uid, set()).add(day)
    per_user_days = {}
    for r in rows:
        assert (r.island_end - r.island_start).days + 1 == r.island_days, r
        d = r.island_start
        while d <= r.island_end:
            assert d in active[r.user_id], (r.user_id, d)
            d = d + __import__("datetime").timedelta(days=1)
        if r.island_no == 1:
            assert r.gap_days_before is None, r
        else:
            assert r.gap_days_before >= 1, r
        per_user_days[r.user_id] = (
            per_user_days.get(r.user_id, 0) + r.island_days
        )
    assert per_user_days == {u: len(s) for u, s in active.items()}


def test_triangles_match_independent_node_iterator(spark, duck):
    """Recount triangles with a DIFFERENT algorithm: plain Python
    node-iterator (intersect adjacency sets per undirected edge) over
    the same DISTINCT edge list, and check per-vertex counts, degrees,
    and the integer coefficient — so the oracle's compact-forward SQL
    and the Spark plan can't share a bug."""
    from projekt_data_engineering_iubh_spark.plans.text_queries import (
        _NEARDUP_EDGES_CTES,
        _TRI_SCALE,
    )

    edges = duck.execute(
        _NEARDUP_EDGES_CTES + " SELECT s, d FROM und WHERE s < d"
    ).fetchall()
    assert edges, "fixture corpus must produce near-dup edges"
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    tri: dict[int, int] = {}
    n_total = 0
    for s, d in edges:
        for _w in adj[s] & adj[d]:
            # each triangle seen once per edge => 3 times total; credit
            # the opposite vertex each time => each vertex of the
            # triangle credited exactly once
            tri[_w] = tri.get(_w, 0) + 1
            n_total += 1
    assert n_total % 3 == 0 and n_total > 0, n_total
    rows = _Q["docs_neardup_triangles"].fn(spark, SF).collect()
    for r in rows:
        deg = len(adj.get(r.doc_id, ()))
        assert r.deg == deg, r
        assert r.n_triangles == tri.get(r.doc_id, 0), r
        want = (
            (2 * _TRI_SCALE * r.n_triangles) // (deg * (deg - 1))
            if deg >= 2
            else 0
        )
        assert r.clustering_micro == want, r


def test_power_iteration_rayleigh_climbs(spark):
    """The claim hash equality can't state: each power-iteration round
    moves the iterate TOWARD the dominant eigenspace. Pin the Rayleigh
    quotient v'Cv / v'v (C = numpy covariance of the same quantized
    centered data) strictly non-decreasing across the three verified
    iterates, ending within 75% of numpy's exact lambda_max."""
    import numpy as np

    from projekt_data_engineering_iubh_spark.plans.vector_queries import (
        _PC_Q,
    )

    rows = sorted(
        _Q["emb_top_pc_power"].fn(spark, SF).collect(), key=lambda r: r.dim
    )
    X = np.array(
        duckdb.connect()
        .execute(f"SELECT embedding FROM '{SF}/embeddings.parquet'")
        .fetchnumpy()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    Xq = np.floor(X * _PC_Q)
    mean = np.floor_divide(
        Xq.sum(axis=0).astype(object), Xq.shape[0]
    ).astype(np.float64)
    Xc = Xq - mean
    # cross-check the verified mean column against numpy exactly
    got_mean = np.array([r.mean_q for r in rows], dtype=np.float64)
    assert np.array_equal(got_mean, mean), "mean_q != numpy floor-div mean"
    C = Xc.T @ Xc
    lam = np.linalg.eigvalsh(C)[-1]
    rq = []
    for k in ("pc_v1", "pc_v2", "pc_v3"):
        v = np.array([getattr(r, k) for r in rows], dtype=np.float64)
        rq.append(float(v @ C @ v) / float(v @ v))
    assert rq[0] <= rq[1] <= rq[2], rq
    assert rq[2] >= 0.75 * lam, (rq[2], lam)


def test_top_paths_match_python_recompute(spark, duck):
    """Independent recompute of the whole top-k path table in plain
    Python from raw events (marker running count, in-session sort,
    slice-5, count, rank with the (count DESC, path ASC) tiebreak)."""
    rows = _Q["events_top_paths"].fn(spark, SF).collect()
    evs = duck.execute(
        "SELECT user_id, ts, event_id, event_type FROM events"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    sess: dict[tuple[int, int], list[str]] = {}
    cur: dict[int, int] = {}
    for uid, _ts, _eid, et in evs:
        if et == "signup":
            cur[uid] = cur.get(uid, 0) + 1
            continue
        seq = cur.get(uid, 0)
        if seq > 0:
            sess.setdefault((uid, seq), []).append(et)
    counts: dict[str, int] = {}
    for types in sess.values():
        p = "->".join(types[:5])
        counts[p] = counts.get(p, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = sorted(rows, key=lambda r: r.rank)
    assert [(r.path, r.n_sessions) for r in got] == want
    assert [r.rank for r in got] == list(range(1, len(want) + 1))


def test_user_features_match_python_recompute(spark, duck):
    """Recompute every user's feature row in plain Python — including
    the exact-cents quantization (floor(value*100) per ROW, matching
    C double semantics via the same parquet doubles) and the modal-type
    tiebreak."""
    import math

    rows = {r.user_id: r for r in _Q["events_user_features"].fn(spark, SF).collect()}
    evs = duck.execute(
        "SELECT user_id, CAST(ts AS DATE), event_type, value FROM events"
    ).fetchall()
    from collections import defaultdict

    per = defaultdict(lambda: {"n": 0, "s": 0, "days": set(), "cents": 0,
                               "p": 0, "e": 0, "types": defaultdict(int)})
    maxd = max(d for _, d, _, _ in evs)
    for uid, d, et, val in evs:
        u = per[uid]
        u["n"] += 1
        u["days"].add(d)
        u["types"][et] += 1
        if et == "signup":
            u["s"] += 1
        elif et == "purchase":
            u["p"] += 1
        elif et == "error":
            u["e"] += 1
        if val is not None:
            u["cents"] += math.floor(val * 100)
    assert set(rows) == set(per)
    for uid, u in per.items():
        r = rows[uid]
        top = sorted(u["types"].items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert (
            r.n_events, r.n_sessions, r.n_active_days, r.recency_days,
            r.monetary_cents, r.n_purchases, r.n_errors,
            r.error_rate_micro, r.top_type,
        ) == (
            u["n"], u["s"], len(u["days"]), (maxd - max(u["days"])).days,
            u["cents"], u["p"], u["e"], (1_000_000 * u["e"]) // u["n"], top,
        ), (uid, r)


def test_mad_matches_python_statistics(spark, duck):
    """Recompute median/MAD/outliers per type with Python's sorted-list
    order statistics (statistics.median_low on the same floor-cents),
    pinning the 'lower median' contract independently of both engines'
    window machinery."""
    import math
    from statistics import median_low

    rows = {r.event_type: r for r in _Q["events_anomaly_mad"].fn(spark, SF).collect()}
    vals: dict[str, list[int]] = {}
    for et, v in duck.execute(
        "SELECT event_type, value FROM events WHERE value IS NOT NULL"
    ).fetchall():
        vals.setdefault(et, []).append(math.floor(v * 100))
    assert set(rows) == set(vals)
    for et, xs in vals.items():
        med = median_low(sorted(xs))
        devs = sorted(abs(x - med) for x in xs)
        mad = median_low(devs)
        out = sum(1 for d in devs if d > 3 * mad)
        r = rows[et]
        assert (r.n, r.median_cents, r.mad_cents, r.n_outliers,
                r.outlier_rate_micro) == (
            len(xs), med, mad, out, (1_000_000 * out) // len(xs)
        ), (et, r)
        assert r.n_outliers < r.n * 0.2  # a robust screen flags a minority


def test_pc_outliers_match_python_projection(spark, duck):
    """Recompute every projection in exact Python ints — quantize,
    floor-div mean, center, dot with the VERIFIED v3 iterate, shrink —
    and check each label's row (n, mean, min, max, outlier count by the
    same 3x-RMS rule). Independent of Spark's fold and DuckDB's
    list_reduce alike."""
    from projekt_data_engineering_iubh_spark.plans.vector_queries import (
        _PC_Q,
        _PC_SDIV,
    )

    pc = {r.dim: r.pc_v3
          for r in _Q["emb_top_pc_power"].fn(spark, SF).collect()}
    v3 = [pc[i] for i in range(len(pc))]
    rows = {r.label: r for r in _Q["emb_pc_outliers"].fn(spark, SF).collect()}
    data = duck.execute(
        f"SELECT label, embedding FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    import math

    n_rows = len(data)
    dims = len(v3)
    xq = [[math.floor(float(e) * _PC_Q) for e in emb] for _, emb in data]
    mean = [sum(r[i] for r in xq) // n_rows for i in range(dims)]
    # python // already floors — exactly the subtract-pmod semantics
    projs = []
    for (label, _), r in zip(data, xq):
        s = sum((r[i] - mean[i]) * v3[i] for i in range(dims))
        projs.append((label, s // _PC_SDIV))
    s2 = sum(p * p for _, p in projs)
    per: dict[int, list[int]] = {}
    for label, p in projs:
        per.setdefault(label, []).append(p)
    assert set(rows) == set(per)
    for label, ps in per.items():
        r = rows[label]
        out = sum(1 for p in ps if float(p * p) * n_rows > 9.0 * float(s2))
        assert (r.n, r.mean_proj, r.min_proj, r.max_proj, r.n_outliers) == (
            len(ps), sum(ps) // len(ps), min(ps), max(ps), out
        ), (label, r)
    assert sum(r.n for r in rows.values()) == n_rows


def test_rolling_wau_matches_python_sets(spark, duck):
    """Recompute DAU/WAU/stickiness per day with Python set unions over
    the trailing-7-day window."""
    import datetime as dt

    rows = {r.day: r for r in _Q["events_rolling_wau"].fn(spark, SF).collect()}
    per_day: dict[dt.date, set[int]] = {}
    for uid, d in duck.execute(
        "SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events"
    ).fetchall():
        per_day.setdefault(d, set()).add(uid)
    assert set(rows) == set(per_day)
    for day, dau_set in per_day.items():
        wau_set = set()
        for k in range(7):
            wau_set |= per_day.get(day - dt.timedelta(days=k), set())
        r = rows[day]
        assert (r.dau, r.wau, r.stickiness_micro) == (
            len(dau_set), len(wau_set),
            (1_000_000 * len(dau_set)) // len(wau_set),
        ), (day, r)
        assert r.dau <= r.wau  # containment by construction


def test_cusum_matches_python_series(spark, duck):
    """Recompute each type's n-scaled cusum series in Python and pin the
    argmax day, peak value, and the zero-sum identity S_n == 0."""
    rows = {r.event_type: r for r in _Q["events_cusum_shift"].fn(spark, SF).collect()}
    daily: dict[str, list[tuple]] = {}
    for et, d, c in duck.execute(
        "SELECT event_type, CAST(ts AS DATE), COUNT(*) FROM events"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall():
        daily.setdefault(et, []).append((d, c))
    assert set(rows) == set(daily)
    for et, series in daily.items():
        n = len(series)
        total = sum(c for _, c in series)
        run, best = 0, None
        for k, (d, c) in enumerate(series, start=1):
            run += c
            s = n * run - total * k
            if best is None or abs(s) > best[0]:
                best = (abs(s), d)
        assert run * n - total * n == 0  # S_n == 0 identity
        r = rows[et]
        assert (r.n_days, r.total, r.shift_day, r.cusum_abs_max,
                r.magnitude_micro) == (
            n, total, best[1], best[0], (1_000_000 * best[0]) // (n * total)
        ), (et, r)


def test_markov_matches_python_and_row_stochastic(spark, duck):
    """Recompute the transition counts in Python (session walk from raw
    events) and pin row-stochasticity: per cur, sum(n) == n_cur and
    sum(p_micro) within |matrix row| of 1e6 (floor truncation)."""
    rows = _Q["events_markov_transitions"].fn(spark, SF).collect()
    evs = duck.execute(
        "SELECT user_id, ts, event_id, event_type FROM events"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    counts: dict[tuple[str, str], int] = {}
    cur_by_sess: dict[tuple[int, int], str] = {}
    seq: dict[int, int] = {}
    for uid, _ts, _eid, et in evs:
        if et == "signup":
            seq[uid] = seq.get(uid, 0) + 1
            continue
        k = (uid, seq.get(uid, 0))
        if k[1] > 0:
            prev = cur_by_sess.get(k)
            if prev is not None:
                counts[(prev, et)] = counts.get((prev, et), 0) + 1
            cur_by_sess[k] = et
    got = {(r.cur, r.nxt): (r.n, r.n_cur, r.p_micro) for r in rows}
    assert set(got) == set(counts)
    from collections import defaultdict

    tot = defaultdict(int)
    for (a, _), n in counts.items():
        tot[a] += n
    psum = defaultdict(int)
    for (a, b), n in counts.items():
        assert got[(a, b)] == (n, tot[a], (1_000_000 * n) // tot[a])
        psum[a] += got[(a, b)][2]
    for a, s in psum.items():
        fanout = sum(1 for (x, _) in counts if x == a)
        assert 1_000_000 - fanout < s <= 1_000_000, (a, s)


def test_bootstrap_ci_matches_python_and_brackets_point(spark, duck):
    """Recompute every replicate mean in Python (same md5-derived
    Poisson weights) and pin the CI endpoints; the point estimate must
    lie inside its own CI (Poisson weights average 1, so replicate
    means scatter AROUND the sample mean)."""
    import hashlib
    import math

    from projekt_data_engineering_iubh_spark.plans.events import (
        _BOOT_B,
        _BOOT_CDF,
        _BOOT_RES,
    )

    def weight(eid: int, rep: int) -> int:
        h = int(hashlib.md5(f"{eid}_{rep}".encode()).hexdigest()[:15], 16)
        u = h % _BOOT_RES
        for k, c in enumerate(_BOOT_CDF):
            if u < c:
                return k
        return 7

    rows = {r.event_type: r for r in _Q["events_bootstrap_ci"].fn(spark, SF).collect()}
    data: dict[str, list[tuple[int, int]]] = {}
    for et, eid, v in duck.execute(
        "SELECT event_type, event_id, value FROM events"
        " WHERE value IS NOT NULL"
    ).fetchall():
        data.setdefault(et, []).append((eid, math.floor(v * 100)))
    assert set(rows) == set(data)
    for et, pts in data.items():
        means = []
        for rep in range(_BOOT_B):
            swc = sw = 0
            for eid, cents in pts:
                w = weight(eid, rep)
                swc += w * cents
                sw += w
            means.append((1_000_000 * swc) // sw)
        means.sort()
        point = (1_000_000 * sum(c for _, c in pts)) // len(pts)
        r = rows[et]
        assert (r.n, r.point_micro, r.boot_lo_micro, r.boot_hi_micro) == (
            len(pts), point, means[0], means[_BOOT_B - 2]
        ), (et, r)
        assert r.boot_lo_micro <= r.point_micro <= r.boot_hi_micro, r


def test_inverted_index_matches_python_tokenizer(spark, duck):
    """Rebuild the whole index in Python from raw text (re.split on the
    same token pattern) and check every term's df, cf, and capped
    posting list — independent of both engines' split/window/collect
    machinery."""
    import re

    rows = {r.term: r for r in _Q["docs_inverted_index"].fn(spark, SF).collect()}
    tf: dict[str, dict[int, int]] = {}
    for doc_id, text in duck.execute(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        for term in re.split(r"[^a-z0-9]+", text.lower()):
            if term:
                tf.setdefault(term, {}).setdefault(doc_id, 0)
                tf[term][doc_id] += 1
    assert set(rows) == set(tf)
    for term, per_doc in tf.items():
        r = rows[term]
        docs = sorted(per_doc)
        # postings ship as a comma-joined string (driver scalar contract)
        got = [int(x) for x in r.postings.split(",")] if r.postings else []
        assert (r.df, r.cf, got) == (
            len(docs), sum(per_doc.values()), docs[:20]
        ), (term, r)


def test_benford_matches_python_digits(spark, duck):
    """Recompute the digit histogram and chi-square contributions in
    Python; per-mille expectations must sum to exactly 1000 and counts
    to the table size."""
    import math

    from projekt_data_engineering_iubh_spark.plans.relational import (
        _BENFORD_MILLI,
    )

    assert sum(_BENFORD_MILLI.values()) == 1000
    rows = {r.digit: r for r in _Q["orders_benford"].fn(spark, SF).collect()}
    counts: dict[int, int] = {}
    vals = duck.execute(
        f"SELECT o_totalprice FROM '{SF}/orders.parquet'"
    ).fetchall()
    for (v,) in vals:
        d = int(str(math.floor(v))[0])
        counts[d] = counts.get(d, 0) + 1
    n = len(vals)
    assert set(rows) == set(counts)
    assert sum(r.n_d for r in rows.values()) == n
    for d, n_d in counts.items():
        p = _BENFORD_MILLI[d]
        diff = 1000 * n_d - n * p
        r = rows[d]
        assert (r.n_d, r.n, r.expected_milli, r.diff_milli,
                r.chi2_contrib_milli) == (
            n_d, n, p, diff, (diff * diff) // (n * p)
        ), (d, r)


def test_ri_audit_detects_injected_corruption(spark, tmp_path):
    """The fixture is referentially clean (all-zero audit) — so corrupt
    a copy: orphan 7 orders (custkey -> 10^9) and NULL 5 more; the
    audit must report exactly those counts on exactly that edge and
    stay clean elsewhere."""
    import shutil

    src = SF
    for t in ("orders", "customer", "lineitem", "part", "supplier",
              "nation", "region", "events", "documents", "embeddings"):
        p = f"{src}/{t}.parquet"
        shutil.copy(p, tmp_path / f"{t}.parquet")
    import duckdb as ddb

    con = ddb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN o_orderkey % 97 < 7 THEN 1000000000
                 WHEN o_orderkey % 97 >= 92 THEN NULL
                 ELSE o_custkey END AS o_custkey)
          FROM '{src}/orders.parquet'
        ) TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)
        """
    )
    want_orphans, want_nulls = con.execute(
        f"""SELECT SUM(CASE WHEN o_orderkey % 97 < 7 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN o_orderkey % 97 >= 92 THEN 1 ELSE 0 END)
            FROM '{src}/orders.parquet'"""
    ).fetchone()
    rows = {
        r.relationship: r
        for r in _Q["referential_integrity_audit"].fn(spark, str(tmp_path)).collect()
    }
    bad = rows["orders.o_custkey -> customer.c_custkey"]
    assert (bad.n_orphans, bad.n_null_fk) == (want_orphans, want_nulls)
    assert want_orphans > 0 and want_nulls > 0
    for rel, r in rows.items():
        if rel != "orders.o_custkey -> customer.c_custkey":
            assert r.n_orphans == 0 and r.n_null_fk == 0, r


def test_framesample_tiles_durations_exactly(spark, duck):
    """Every asset emits exactly floor(duration/step) + 1 samples
    (stop-INCLUSIVE — the boundary the oracle's range(0, dur+1, step)
    mirrors), frame indices are the exact integer (ts * fps) DIV 1000,
    and keyframes recur every 48 frames."""
    import hashlib

    rows = _Q["docs_media_framesample"].fn(spark, SF).collect()
    per_asset: dict[int, list] = {}
    for r in rows:
        per_asset.setdefault(r.asset_id, []).append(r)
    texts = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    assert set(per_asset) == set(texts)
    for doc_id, text in texts.items():
        hx = hashlib.md5(text.encode()).hexdigest()
        dur = int(hx[4:8], 16) % 30000
        fps = 24 if int(hx[8:10], 16) % 2 == 0 else 30
        w = 64 + int(hx[0:2], 16) % 192
        h = 64 + int(hx[2:4], 16) % 192
        got = sorted(per_asset[doc_id], key=lambda r: r.frame_ts_ms)
        assert len(got) == dur // 1000 + 1, (doc_id, dur, len(got))
        assert got[-1].frame_ts_ms == (dur // 1000) * 1000
        for r in got:
            idx = (r.frame_ts_ms * fps) // 1000
            assert (r.fps, r.frame_idx, r.is_keyframe, r.byte_offset) == (
                fps, idx, idx % 48 == 0, idx * w * h * 3
            ), (doc_id, r)


def test_hll_wau_tracks_exact_within_bound(spark):
    """The sketch's accuracy contract vs the exact rolling WAU (#130):
    every day's merged-HLL estimate within 4 sigma of the m=256
    standard error (1.04/sqrt(m) ~ 6.5%)."""
    exact = {r.day: r.wau for r in _Q["events_rolling_wau"].fn(spark, SF).collect()}
    est = {r.day: r.hll_wau_micro / 1e6
           for r in _Q["events_rolling_wau_hll"].fn(spark, SF).collect()}
    assert set(exact) == set(est)
    for day, wau in exact.items():
        rel = abs(est[day] - wau) / wau
        assert rel < 4 * 1.04 / 16, (day, wau, est[day], rel)


def test_linear_attribution_conserves_value(spark, duck):
    """Recompute the attribution in Python from raw events and pin
    conservation: per purchase, the credited micro-total differs from
    1e6 * cents by strictly less than its touch count (floor
    remainder); per-type rollups match exactly."""
    import math

    rows = {r.touch_type: r
            for r in _Q["events_linear_attribution"].fn(spark, SF).collect()}
    evs = duck.execute(
        "SELECT user_id, ts, event_id, event_type, value FROM events"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    seq: dict[int, int] = {}
    touches: dict[tuple[int, int], list[tuple[int, str]]] = {}
    per_type = {t: [0, set(), 0] for t in ("view", "click")}
    for uid, _ts, eid, et, val in evs:
        if et == "signup":
            seq[uid] = seq.get(uid, 0) + 1
            continue
        k = (uid, seq.get(uid, 0))
        if k[1] == 0:
            continue
        if et in ("view", "click"):
            touches.setdefault(k, []).append((eid, et))
        elif et == "purchase" and val is not None:
            ts_touches = touches.get(k, [])
            n = len(ts_touches)
            if n == 0:
                continue
            cents = math.floor(val * 100)
            share = (1_000_000 * cents) // n
            credited = 0
            for _tid, tt in ts_touches:
                per_type[tt][0] += 1
                per_type[tt][1].add(eid)
                per_type[tt][2] += share
                credited += share
            assert 0 <= 1_000_000 * cents - credited < n, (eid, n)
    for tt, (n_credits, purchases, micro) in per_type.items():
        r = rows[tt]
        assert (r.n_credits, r.n_purchases_touched,
                r.attributed_micro_cents) == (n_credits, len(purchases), micro), (tt, r)


def test_seasonal_naive_matches_python_series(spark, duck):
    """Recompute MAE/MASE per type from the raw daily series in Python
    (observed-day lags, exact integer milli-ratios)."""
    rows = {r.event_type: r
            for r in _Q["events_seasonal_naive_eval"].fn(spark, SF).collect()}
    daily: dict[str, list[int]] = {}
    for et, _d, c in duck.execute(
        "SELECT event_type, CAST(ts AS DATE), COUNT(*) FROM events"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall():
        daily.setdefault(et, []).append(c)
    assert set(rows) == set(daily)
    for et, cs in daily.items():
        n = len(cs)
        e7 = [abs(cs[k] - cs[k - 7]) for k in range(7, n)]
        e1 = [abs(cs[k] - cs[k - 1]) for k in range(1, n)]
        r = rows[et]
        mae7 = (1000 * sum(e7)) // len(e7) if e7 else None
        mase = (
            (1000 * sum(e7) * (n - 1)) // (len(e7) * sum(e1))
            if e7 and sum(e1) > 0
            else None
        )
        assert (r.n_days, r.n_eval, r.sum_abs_err7, r.sum_abs_err1,
                r.mae7_milli, r.mase_milli) == (
            n, len(e7), sum(e7), sum(e1) if e1 else None, mae7, mase,
        ), (et, r)


def test_ivfpq_residual_beats_plain_pq_error(spark):
    """The point of residual encoding: ADC error on the returned
    candidates must be strictly smaller (mean AND max) than the plain
    trained-PQ variant's on the same queries — residuals are centered,
    so the same 4x16 codebook geometry spends its precision on
    within-cell structure. Plus structure: ranks are 1..k dense per
    query and no candidate repeats across probes."""
    ivfpq = _Q["emb_ivfpq_residual"].fn(spark, SF).collect()
    plain = vq._plain_pq_reference(spark, SF).collect()
    assert ivfpq and plain
    by_q: dict[int, list] = {}
    for r in ivfpq:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert sorted(r.rn for r in rs) == list(range(1, len(rs) + 1)), q
        ids = [r.neighbor_id for r in rs]
        assert len(ids) == len(set(ids)), q
    mean_res = sum(r.abs_err for r in ivfpq) / len(ivfpq)
    mean_plain = sum(r.abs_err for r in plain) / len(plain)
    assert mean_res < mean_plain, (mean_res, mean_plain)
    assert max(r.abs_err for r in ivfpq) < max(r.abs_err for r in plain)


def test_ppjoin_is_lossless_vs_brute_force(spark, duck):
    """The theorem the entry exists for: prefix filtering at t = 0.5
    finds EVERY pair with exact shingle-set Jaccard >= 0.5 — compare
    against a brute-force all-pairs recompute in pure Python (tokenize,
    3-gram shingles, the same md5-mod-p hashing) and require exact SET
    equality plus exact per-pair intersection counts. LSH candidate
    generation cannot pass this test in general; prefix filtering must."""
    import hashlib
    import re
    from itertools import combinations

    def hset(text: str) -> set[int]:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        out = set()
        for i in range(len(toks) - 2):
            s = " ".join(toks[i : i + 3])
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            out.add(h % 2_147_483_647)
        return out

    docs = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    sets = {i: hset(t) for i, t in docs.items()}
    want = {}
    for a, b in combinations(sorted(k for k, v in sets.items() if v), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        if union and inter / union >= 0.5:
            want[(a, b)] = inter
    got = {
        (r.doc_a, r.doc_b): r.n_common
        for r in _Q["docs_ppjoin_neardup"].fn(spark, SF).collect()
    }
    assert want, "fixture corpus must contain qualifying near-dup pairs"
    assert got == want, (
        f"missing={set(want) - set(got)} extra={set(got) - set(want)}"
    )


def test_span_sentinel_safe_at_huge_doc_ids(spark, tmp_path):
    """Round-7 ADVICE regression: the old packed partial-span sentinel
    -(doc_id * 2^30 + span_no + 1) wrapped past int64 once
    doc_id >= 2^33, so a trailing partial span could turn non-negative
    and (a) collide with a real md5 span key, (b) enter boilerplate's
    frequency table. The r8 form (constant -1 key; span_dedup keeps
    partials distinct structurally via (pd, ps) in the window partition
    key) must treat huge-doc_id corpora exactly like small ones:
    partials are never deduped away and never flagged as boilerplate."""
    base = 1 << 34  # > the old 2^33 wrap ceiling
    full = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 toks
    rows = [
        # three docs sharing one full span (corpus-frequent, K=3) plus a
        # distinct 3-token trailing partial each
        (base + 1, full + " tail one a", "en", "web", 1),
        (base + 2, full + " tail two b", "en", "web", 1),
        (base + 3, full + " tail three c", "en", "web", 1),
        # a short doc that is ONLY a partial span
        (base + 4, "just a stub", "en", "web", 1),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sf_dir = str(tmp_path)

    dedup = {
        r.doc_id: r for r in _Q["docs_span_dedup"].fn(spark, sf_dir).collect()
    }
    # every doc's partial tail survives span dedup (n_kept counts it);
    # the shared full span survives only in the first doc
    assert dedup[base + 1].n_kept == 2  # full span + its partial
    for i in (2, 3):
        assert dedup[base + i].n_kept == 1, dedup[base + i]
        assert dedup[base + i].text_dedup.startswith("tail"), dedup[base + i]
    assert dedup[base + 4].n_kept == 1
    assert dedup[base + 4].text_dedup == "just a stub"

    boiler = {
        r.doc_id: r
        for r in _Q["docs_boilerplate_prune"].fn(spark, sf_dir).collect()
    }
    # the shared full span is boilerplate (pruned from ALL three docs);
    # no partial span is ever flagged
    for i in (1, 2, 3):
        r = boiler[base + i]
        assert r.n_boiler == 1 and r.text_clean.startswith("tail"), r
    r = boiler[base + 4]
    assert r.n_boiler == 0 and r.text_clean == "just a stub", r
