"""Python-mirror exactness and law tests for the round-6
statistical-testing tier (data_spark/queries/analytics4.py). The
DuckDB oracles hash-check each query against another SQL engine; these
mirrors check the SEMANTICS against from-scratch pure-Python
implementations, so a shared SQL misreading can't hide."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from data_spark.queries.analytics4 import (
    _PPL_THRESHOLD,
    a_ks_two_sample,
    a_mann_whitney_u,
    bigram_nll,
    cdc_chunks,
    d_cdc_chunking,
    d_perplexity_filter,
    g_modularity,
)


def _tokens(text: str) -> list[str]:
    return [w for w in re.sub(r"[^a-z0-9 ]+", " ", text.lower()).split() if w]


def _lang_lengths(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "lang", "n_chars"
    ).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r.n_chars)
    return by_lang


# ----------------------------------------------------------------- KS


def test_ks_matches_python_mirror(spark, sf_small):
    got = {(r.lang_a, r.lang_b): r for r in a_ks_two_sample(spark, sf_small).collect()}
    by_lang = _lang_lengths(spark, sf_small)
    langs = sorted(by_lang)
    assert set(got) == {(a, b) for i, a in enumerate(langs) for b in langs[i + 1 :]}
    for (a, b), r in got.items():
        xs, ys = sorted(by_lang[a]), sorted(by_lang[b])
        na, nb = len(xs), len(ys)
        best, best_v = -1, None
        for v in sorted(set(xs) | set(ys)):
            fa = sum(1 for x in xs if x <= v)
            fb = sum(1 for y in ys if y <= v)
            d = abs(fa * nb - fb * na)
            if d > best:
                best, best_v = d, v
        assert (r.n_a, r.n_b) == (na, nb)
        assert r.d_num == best
        assert r.v_at == best_v
        assert r.ks_d == best / (na * nb)


def test_ks_bounds(spark, sf_gate):
    for r in a_ks_two_sample(spark, sf_gate).collect():
        assert 0 <= r.d_num <= r.n_a * r.n_b
        assert 0.0 <= r.ks_d <= 1.0


# ----------------------------------------------------------------- MWU


def test_mwu_matches_python_mirror(spark, sf_small):
    got = {(r.lang_a, r.lang_b): r for r in a_mann_whitney_u(spark, sf_small).collect()}
    by_lang = _lang_lengths(spark, sf_small)
    for (a, b), r in got.items():
        xs, ys = by_lang[a], by_lang[b]
        pooled = sorted(xs + ys)
        # doubled midrank per value: 2*(lo+hi)/2 = lo+hi (1-based ranks)
        first = {}
        for i, v in enumerate(pooled, start=1):
            first.setdefault(v, i)
        cnt = Counter(pooled)
        two_mid = {v: 2 * first[v] + cnt[v] - 1 for v in cnt}
        two_r_a = sum(two_mid[v] for v in xs)
        two_r_b = sum(two_mid[v] for v in ys)
        na, nb = len(xs), len(ys)
        assert r.u2_a == two_r_a - na * (na + 1)
        assert r.u2_b == two_r_b - nb * (nb + 1)


def test_mwu_sum_law(spark, sf_gate):
    # 2U_a + 2U_b == 2 * n_a * n_b, exactly, for every pair
    for r in a_mann_whitney_u(spark, sf_gate).collect():
        assert r.u2_a + r.u2_b == 2 * r.n_a * r.n_b
        assert 0 <= r.u2_a <= 2 * r.n_a * r.n_b


# ----------------------------------------------------------- modularity


def test_modularity_matches_python_mirror(spark, sf_small):
    rows = g_modularity(spark, sf_small).collect()

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    pairs = {
        (f"s{r.l_suppkey}", f"c{r.o_custkey}")
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey).collect()
    }
    sym = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    m_directed = len(sym)

    from data_spark.queries.mining import g_label_propagation

    label = {r.id: r.community for r in g_label_propagation(spark, sf_small).collect()}

    deg = Counter(a for a, _ in sym)
    deg_sum = Counter()
    for node, d in deg.items():
        deg_sum[label[node]] += d
    intra = Counter()
    for a, b in sym:
        if label[a] == label[b]:
            intra[label[a]] += 1

    assert {r.community for r in rows} == set(deg_sum)
    for r in rows:
        assert r.m_directed == m_directed
        assert r.deg_sum == deg_sum[r.community]
        assert r.intra_directed == intra.get(r.community, 0)
        assert r.contribution == m_directed * r.intra_directed - r.deg_sum**2

    # global law: Q = sum(contribution) / M^2 is a valid modularity
    q = sum(r.contribution for r in rows) / m_directed**2
    assert -0.5 <= q <= 1.0
    # degree identity: community degree sums partition 2m
    assert sum(r.deg_sum for r in rows) == m_directed


# ----------------------------------------------------------- perplexity


def test_perplexity_matches_python_mirror(spark, sf_small):
    rows = {r.doc_id: r for r in d_perplexity_filter(spark, sf_small).collect()}
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    big_by_doc, all_bigrams, vocab = {}, [], set()
    for d in docs:
        ws = _tokens(d.text)
        vocab.update(ws)
        bgs = list(zip(ws, ws[1:]))
        if bgs:
            big_by_doc[d.doc_id] = bgs
            all_bigrams.extend(bgs)
    cnt = Counter(all_bigrams)
    ctx = Counter(w1 for w1, _ in all_bigrams)
    v = len(vocab)

    assert set(rows) == set(big_by_doc)
    import decimal

    for doc_id, bgs in big_by_doc.items():
        import math

        nll = sum(
            decimal.Decimal(
                f"{-round(math.log((cnt[bg] + 1) / (ctx[bg[0]] + v)), 6):.6f}"
            )
            for bg in bgs
        )
        r = rows[doc_id]
        assert r.n_bigrams == len(bgs)
        assert abs(r.nll - float(nll)) < 1e-9
        assert r.flagged == (r.nll / r.n_bigrams > _PPL_THRESHOLD)
        assert r.nll >= 0.0


def test_perplexity_identical_texts_score_identically(spark):
    """Duplicate docs must get byte-identical scores, and an unusual
    doc must out-score (higher NLL than) a doc assembled from the
    corpus' dominant pattern — the filter's reason to exist."""
    common = "the quick brown fox jumps over the lazy dog again and again"
    rare = "zyx qwv plk mnb tyu iop asd fgh jkl vbn"
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, common + " and again"), (4, rare)],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in bigram_nll(df).collect()}
    assert (rows[1].n_bigrams, rows[1].nll) == (rows[2].n_bigrams, rows[2].nll)
    assert rows[1].avg_nll == rows[2].avg_nll
    assert rows[4].avg_nll > rows[1].avg_nll


# ------------------------------------------------------------------ CDC


def test_cdc_shift_robustness(spark):
    """Prepending a sentence only re-chunks the prefix: every chunk of
    the original doc after its first boundary survives verbatim in the
    shifted doc — the property offset-based shingling lacks."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    )
    shifted = "inserted preamble sentence goes here " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id bigint, text string"
    )
    chunks = cdc_chunks(df).collect()
    by_doc = defaultdict(list)
    for c in chunks:
        by_doc[c.doc_id].append(c)
    orig = sorted(by_doc[1], key=lambda c: c.chunk_id)
    shif = {c.chunk_md5 for c in by_doc[2]}
    # all original chunks except possibly the first (the one the
    # prepended text merges into) must reappear in the shifted doc
    tail = [c.chunk_md5 for c in orig[1:]]
    assert tail, "base text must produce >=2 chunks for the law to bite"
    for h in tail:
        assert h in shif


def test_cdc_chunks_partition_tokens_exactly(spark, sf_small):
    """Chunk token counts per doc must sum to the doc's token count —
    chunking is a partition of the token stream, nothing dropped."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    got = defaultdict(int)
    for c in cdc_chunks(docs).collect():
        got[c.doc_id] += c.n_tokens
    for d in docs.collect():
        n = len(_tokens(d.text))
        if n:
            assert got[d.doc_id] == n


def test_cdc_dup_report_consistency(spark, sf_gate):
    rows = d_cdc_chunking(spark, sf_gate).collect()
    assert rows, "gate data contains planted near-duplicates sharing chunks"
    for r in rows:
        assert r.n_docs >= 2
        assert r.n_occurrences >= r.n_docs
        assert r.min_doc <= r.max_doc
        assert r.n_tokens >= 1


# ------------------------------------------------------- curation v2


def test_curation_ppl_e2e_disposition_laws(spark, sf_small):
    from data_spark.queries.analytics4 import _CURATE_DROP_FRAC, d_curation_ppl_e2e

    rows = d_curation_ppl_e2e(spark, sf_small).collect()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    assert len(rows) == len(docs)

    # exactly one disposition per doc
    for r in rows:
        assert int(r.dropped_ppl) + int(r.dropped_dup) + int(r.kept) == 1

    # the rank cut drops exactly floor(n_scored/frac) scored docs, plus
    # every unscoreable (<2-token) doc
    scored = [r for r in rows if r.avg_nll is not None]
    unscoreable = [r for r in rows if r.avg_nll is None]
    n_scored = len(scored)
    assert sum(1 for r in scored if r.dropped_ppl) == n_scored // _CURATE_DROP_FRAC
    assert all(r.dropped_ppl for r in unscoreable)
    assert all(len(_tokens(d.text)) < 2 for d in docs
               if any(r.doc_id == d.doc_id for r in unscoreable))

    # the dropped docs are exactly the top avg_nll tail (doc_id tiebreak)
    order = sorted(scored, key=lambda r: (r.avg_nll, r.doc_id))
    k = n_scored // _CURATE_DROP_FRAC
    expect_dropped = {r.doc_id for r in order[n_scored - k:]}
    assert {r.doc_id for r in scored if r.dropped_ppl} == expect_dropped


def test_curation_ppl_e2e_dedup_mirror(spark, sf_small):
    """Survivor set mirror: among ppl-kept docs, a doc is dropped_dup
    iff it shares a chunk fingerprint with a smaller-id ppl-kept doc."""
    from data_spark.queries.analytics4 import d_curation_ppl_e2e

    rows = {r.doc_id: r for r in d_curation_ppl_e2e(spark, sf_small).collect()}
    kept1_ids = [i for i, r in rows.items() if not r.dropped_ppl]
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    kept_docs = docs.filter(F.col("doc_id").isin(kept1_ids))
    by_chunk = defaultdict(list)
    for c in cdc_chunks(kept_docs).collect():
        by_chunk[c.chunk_md5].append(c.doc_id)
    expect_dup = set()
    for ids in by_chunk.values():
        m = min(ids)
        expect_dup.update(i for i in ids if i > m)
    assert {i for i, r in rows.items() if r.dropped_dup} == expect_dup


# ----------------------------------------------------------- shard assign


def test_shard_assign_matches_python_mirror(spark, sf_small):
    from data_spark.queries.analytics4 import _N_SHARDS, d_shard_assign

    rows = {r.doc_id: r for r in d_shard_assign(spark, sf_small).collect()}
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    sized = sorted(
        ((len(_tokens(d.text)), d.doc_id) for d in docs),
        key=lambda x: (-x[0], x[1]),
    )
    for rnk0, (n_tok, doc_id) in enumerate(sized):
        block, pos = divmod(rnk0, _N_SHARDS)
        shard = pos if block % 2 == 0 else _N_SHARDS - 1 - pos
        r = rows[doc_id]
        assert (r.n_tokens, r.rnk, r.shard) == (n_tok, rnk0 + 1, shard)


def test_shard_assign_balance(spark, sf_gate):
    from collections import Counter as C

    from data_spark.queries.analytics4 import _N_SHARDS, d_shard_assign

    rows = d_shard_assign(spark, sf_gate).collect()
    totals = C()
    for r in rows:
        totals[r.shard] += r.n_tokens
    assert set(totals) == set(range(_N_SHARDS))
    max_doc = max(r.n_tokens for r in rows)
    spread = max(totals.values()) - min(totals.values())
    # serpentine dealing keeps per-shard work within ~one document of even
    assert spread <= 2 * max_doc
    # doc counts per shard are within 1 of each other by construction
    counts = C(r.shard for r in rows)
    assert max(counts.values()) - min(counts.values()) <= 1
