"""BM25 retrieval + DSIR importance-resampling operator tests:
known-value scoring, selection semantics, determinism, and the plan
properties that make both survive a 100× scale-up."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from capital.llm.dsir import (
    N_BUCKETS,
    dsir_log_ratios,
    dsir_resample,
    dsir_weights,
)
from capital.io import load_table
from capital.llm.retrieval import B, K1, bm25_topk


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_DOCS = [
    (1, "apple banana apple"),
    (2, "banana cherry"),
    (3, "apple cherry cherry date"),
]


def _bm25_expected(query_terms, corpus):
    """Reference BM25 on plain Python floats (per-term rounding to 6
    mirrors the engine's decimal accumulation)."""
    toks = {d: t.split() for d, t in corpus}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for terms in toks.values():
        for t in set(terms):
            df[t] = df.get(t, 0) + 1
    out = {}
    for d, terms in toks.items():
        s = 0.0
        for q in query_terms:
            tf = terms.count(q)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
            sat = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * len(terms) / avgdl)
            )
            s += round(idf * sat, 6)
        if s:
            out[d] = s
    return out


def test_bm25_known_values(spark):
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    got = {
        (r.query_id, r.doc_id): r.bm25
        for r in bm25_topk(docs, [(1, "apple cherry")], topk=10).collect()
    }
    exp = _bm25_expected(["apple", "cherry"], _DOCS)
    assert set(got) == {(1, d) for d in exp}
    for d, s in exp.items():
        assert got[(1, d)] == pytest.approx(s, abs=2e-6)


def test_bm25_qtf_weighting_doubles_duplicate_terms(spark):
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    single = {
        r.doc_id: r.bm25
        for r in bm25_topk(docs, [(1, "apple")], topk=10).collect()
    }
    doubled = {
        r.doc_id: r.bm25
        for r in bm25_topk(docs, [(1, "apple apple")], topk=10).collect()
    }
    assert set(single) == set(doubled)
    for d in single:
        assert doubled[d] == pytest.approx(2 * single[d], abs=2e-6)


def test_bm25_rank_contiguous_and_bounded(spark, sf_dir):
    from capital.io import load_table

    out = bm25_topk(load_table(spark, sf_dir, "documents"), topk=5)
    rows = out.collect()
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
        assert len(ranks) <= 5


def _toy_pool(spark, n_target=6, n_other=6):
    rows = []
    for i in range(n_target):
        rows.append((i, "t", "alpha beta gamma alpha beta"))
    for i in range(n_other):
        rows.append((100 + i, "o", "delta epsilon zeta delta zeta"))
    # Probe docs: one target-like, one other-like, same length.
    rows.append((900, "o", "alpha beta gamma beta alpha"))
    rows.append((901, "o", "delta epsilon zeta epsilon delta"))
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def test_dsir_weights_favor_target_like_docs(spark):
    pool = _toy_pool(spark)
    w = {
        r.doc_id: r.log_w
        for r in dsir_weights(pool, F.col("lang") == "t").collect()
    }
    # Every doc in the pool gets a weight; the target-vocab probe
    # scores strictly above the other-vocab probe. (No sign assertion:
    # with 256 buckets and a ~30-token target corpus the add-1
    # smoothing mass dominates both LMs, shifting absolute weights —
    # only the ordering is scale-free.)
    assert len(w) == 14
    assert w[900] > w[901]
    assert w[900] > max(w[d] for d in w if 100 <= d < 200)


def test_dsir_ratio_table_is_dense_and_tiny(spark):
    pool = _toy_pool(spark)
    _, ratios = dsir_log_ratios(pool, F.col("lang") == "t")
    rows = ratios.collect()
    assert len(rows) == N_BUCKETS
    assert all(r.ratio is not None for r in rows)


def test_dsir_resample_quota_and_determinism(spark):
    pool = _toy_pool(spark, n_target=8, n_other=8)
    a = dsir_resample(pool, F.col("lang") == "t", 10).collect()
    b = dsir_resample(pool, F.col("lang") == "t", 10).collect()
    assert len(a) == 10
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    # Selection keys arrive in the deterministic selection order.
    keys = [r.sel_key for r in a]
    assert keys == sorted(keys, reverse=True) or len(set(keys)) < len(keys)


def test_bm25_plan_broadcasts_query_side(spark, sf_dir):
    from capital.io import load_table

    spark.catalog.clearCache()
    plan = _plan(bm25_topk(load_table(spark, sf_dir, "documents")))
    # The tiny query-term relations broadcast; the corpus-sized tf
    # aggregate never feeds a cartesian or nested-loop join. (The
    # single-row scalar attach plans as a Cross BNLJ by design —
    # CLAUDE.md — so only CartesianProduct is banned.)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_plan_broadcast_ratios_and_distributed_topk(spark, sf_dir):
    from capital.io import load_table

    spark.catalog.clearCache()
    plan = _plan(
        dsir_resample(
            load_table(spark, sf_dir, "documents"), F.col("lang") == "en", 100
        )
    )
    # The n_buckets-row ratio table broadcasts into the corpus-side
    # dot product, and the quota selection is a distributed partial
    # top-k, not a global sort.
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_rrf_fuse_hand_computed(spark):
    """RRF fusion on two hand-built ranked lists: doc seen by both
    rankers at middling ranks beats a doc ranked #1 by only one
    (1/61 + 1/62 > 1/61), n_lists counts sources, ties break on
    doc_id."""
    from capital.llm.retrieval import RRF_K, rrf_fuse

    lex = spark.createDataFrame(
        [(0, 100, 1), (0, 200, 2), (0, 300, 3)],
        "query_id long, doc_id long, rank int",
    )
    dense = spark.createDataFrame(
        [(0, 200, 1), (0, 400, 2), (0, 300, 3)],
        "query_id long, doc_id long, rank int",
    )
    out = rrf_fuse([lex, dense], topk=10).collect()
    rows = {r.doc_id: r for r in out}
    # doc 200: ranks 2 and 1 -> 1/62 + 1/61; doc 300: 3 and 3 -> 2/63;
    # doc 100: 1/61; doc 400: 1/62.
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [
        200, 300, 100, 400
    ]
    assert rows[200].n_lists == 2 and rows[100].n_lists == 1
    expect_200 = (
        int(1e12 / (RRF_K + 2)) + int(1e12 / (RRF_K + 1))
    ) / 1e12
    assert abs(rows[200].rrf_score - expect_200) < 1e-15


def test_rrf_fuse_order_free_and_tie_break(spark):
    """Input list order must not change the fusion (integer-quantized
    contributions), and equal fused scores break on doc_id."""
    from capital.llm.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, 7, 1), (0, 9, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 9, 1), (0, 7, 2)], "query_id long, doc_id long, rank int"
    )
    r1 = [(r.doc_id, r.rank) for r in rrf_fuse([a, b]).collect()]
    r2 = [(r.doc_id, r.rank) for r in rrf_fuse([b, a]).collect()]
    assert sorted(r1) == sorted(r2)
    # 7 and 9 both have ranks {1, 2} -> equal scores -> doc_id ascending.
    assert sorted(r1) == [(7, 1), (9, 2)]


def test_bm25_exclude_self_drops_trivial_match(spark, sf_dir):
    """Query-by-example: with the query being a corpus document, its
    self-match must vanish and every other ranking stay intact
    (ranks re-number 1..k over the remaining docs)."""
    from capital.io import load_table
    from capital.llm.retrieval import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    qtext = d.filter(F.col("doc_id") == 3).collect()[0].text
    with_self = bm25_topk(d, queries=[(3, qtext)], topk=5)
    without = bm25_topk(d, queries=[(3, qtext)], topk=5, exclude_self=True)
    ws = [r.doc_id for r in sorted(with_self.collect(), key=lambda r: r.rank)]
    wo = [r.doc_id for r in sorted(without.collect(), key=lambda r: r.rank)]
    assert ws[0] == 3          # self-match dominates BM25
    assert 3 not in wo
    assert wo[:4] == ws[1:5]   # the rest of the ordering is unchanged


def test_bm25_stored_index_equals_incall(spark, sf_dir, tmp_path):
    """The stored-index path must reproduce the in-call scorer
    byte-for-byte: shared scoring tail, additive df fold, integer
    stats partials whose read-time division is the same expression."""
    from capital.llm.retrieval import (
        bm25_topk,
        bm25_topk_stored,
        write_bm25_index,
    )

    d = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "bm25idx")
    write_bm25_index(d, idx)
    stored = sorted(map(tuple, bm25_topk_stored(spark, idx).collect()))
    incall = sorted(map(tuple, bm25_topk(d).collect()))
    assert stored == incall and len(incall) > 0


def test_bm25_incremental_index_grows_and_replays(spark, sf_dir, tmp_path):
    """Round-11 incremental lexical index: two disjoint micro-batches
    land posting/df/stats partials; the folded stored query must
    equal the in-call scorer over the UNION corpus, and directly
    replaying a batch must rewrite its partitions to the same rows."""
    from capital.llm.retrieval import (
        bm25_index_write_batch,
        bm25_topk,
        bm25_topk_stored,
        incremental_bm25_index_run,
    )

    d = load_table(spark, sf_dir, "documents")
    schema = d.schema
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_bm25_index_run(
        spark, src, schema, idx, ckpt, max_files_per_trigger=1
    )
    assert q.awaitTermination(120)

    stored = sorted(map(tuple, bm25_topk_stored(spark, idx).collect()))
    incall = sorted(map(tuple, bm25_topk(d).collect()))
    assert stored == incall and len(incall) > 0

    # Replay one batch directly (crash between sink write and
    # checkpoint commit): partials rewrite to the same rows.
    bids = sorted(
        r[0]
        for r in spark.read.parquet(f"{idx}/stats")
        .select("batch_id").distinct().collect()
    )
    assert len(bids) == 2
    # batch N held one parity; recover which by checking a doc id
    some_doc = (
        spark.read.parquet(f"{idx}/tf")
        .filter(F.col("batch_id") == bids[-1])
        .select("doc_id").first()[0]
    )
    replay_df = d.filter(F.col("doc_id") % 2 == some_doc % 2)
    before = {
        part: sorted(
            map(tuple, spark.read.parquet(f"{idx}/{part}").collect())
        )
        for part in ("tf", "df", "stats")
    }
    bm25_index_write_batch(replay_df, bids[-1], idx)
    after = {
        part: sorted(
            map(tuple, spark.read.parquet(f"{idx}/{part}").collect())
        )
        for part in ("tf", "df", "stats")
    }
    assert after == before


def test_bm25_stored_probe_prunes_posting_partitions(spark, sf_dir, tmp_path):
    """The stored probe must reach the postings scan with PLAN-time
    PartitionFilters on pbucket (static pruning, the stored-IVF
    posture) — reading every posting partition for a handful of query
    tokens would be the classic full-scan mistake."""
    from capital.llm.retrieval import bm25_topk_stored, write_bm25_index

    d = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "bm25idx_prune")
    write_bm25_index(d, idx)
    plan = (
        bm25_topk_stored(spark, idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # (matching on the path is unreliable — long pytest tmp paths get
    # ellipsized in the plan string; the pbucket INSET filter can only
    # come from the postings scan)
    pruned = [
        line
        for line in plan.splitlines()
        if "PartitionFilters: [pbucket" in line and " INSET " in line
    ]
    assert pruned, plan[:2000]


def test_bm25_full_rebuild_drops_stale_pbuckets(spark, tmp_path):
    """Round-11 advice regression: a FULL index rebuild over a changed
    corpus must drop pbucket partitions the new corpus doesn't hit —
    under dynamic overwrite alone, stale postings survived and scored
    PHANTOM docs (df/ and stats/ rewrite fully, so nothing failed
    loudly). write_bm25_index now deletes the dir first."""
    from capital.llm.retrieval import bm25_topk_stored, write_bm25_index

    idx = str(tmp_path / "bm25_rebuild")
    corpus_a = spark.createDataFrame(
        [(1, "zebra quark lattice"), (2, "zebra garden")],
        "doc_id long, text string",
    )
    write_bm25_index(corpus_a, idx)
    hits_a = bm25_topk_stored(
        spark, idx, queries=[(0, "zebra")], topk=10
    ).collect()
    assert {r.doc_id for r in hits_a} == {1, 2}

    # corpus B drops 'zebra' entirely; rebuild over the same path
    corpus_b = spark.createDataFrame(
        [(3, "garden hose"), (4, "lattice hose")],
        "doc_id long, text string",
    )
    write_bm25_index(corpus_b, idx)
    phantom = bm25_topk_stored(
        spark, idx, queries=[(0, "zebra")], topk=10
    ).collect()
    assert phantom == []  # stale postings must NOT score phantom docs
    hits_b = bm25_topk_stored(
        spark, idx, queries=[(0, "hose")], topk=10
    ).collect()
    assert {r.doc_id for r in hits_b} == {3, 4}


def test_py_tokens_matches_spark_tokenizer(spark, sf_dir):
    """The driver-side tokenizer twin (py_tokens) must agree with
    tokens(normalized(col)) on every corpus document — bm25_topk
    tokenizes the query workload with the twin, and a divergence
    would silently drop a query term from the literal prune."""
    from capital.llm.text import normalized, py_tokens, tokens

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        "text", tokens(normalized(F.col("text"))).alias("toks")
    ).collect()
    assert rows
    for r in rows:
        assert py_tokens(r.text) == list(r.toks), r.text[:80]
    # engine-wide convention: empty text -> [""]
    assert py_tokens("") == [""]
    assert py_tokens("  A  b\tC ") == ["a", "b", "c"]
    # Non-ASCII whitespace (U+00A0, U+2028, U+3000): Java \s and trim
    # are ASCII-only, so these must SURVIVE tokenization on both sides
    # (round-13 advice: bare str.strip() silently ate them).
    tricky = [
        " alpha beta ",
        "a b c",
        "　 wide　gap ",
        " ",
    ]
    got = (
        spark.createDataFrame([(t,) for t in tricky], "text string")
        .select("text", tokens(normalized(F.col("text"))).alias("toks"))
        .collect()
    )
    for r in got:
        assert py_tokens(r.text) == list(r.toks), repr(r.text)


def test_py_tokens_unicode_casefold_pairs(spark):
    """Pin the twin's Unicode-lowercase edge (round-15 advice): Python
    str.lower() is Unicode-aware while Spark lower() is JVM/ICU-backed
    — the divergence candidates are the classic special-casing pairs
    (sharp s ß/ẞ, Turkish dotted İ / dotless ı, Greek final sigma
    context, titlecase digraphs Ǆ/ǅ, presentation-form ligatures ﬁﬃ).
    Verified MATCHING today; this test turns that observation into a
    contract the same way the ASCII-whitespace fix was pinned."""
    from capital.llm.text import normalized, py_tokens, tokens

    cases = [
        "Straße GROSS",
        "ẞHARP start",
        "İstanbul I ı İ",
        "ΣΙΓΜΑ ΤΕΛΟΣ",
        "ΑΣ ΒΣΓ",          # final-sigma context at word end
        "Ǆungla ǅ mix",     # titlecase digraph
        "ﬁ ﬂ LIGATURE ﬃ",  # presentation forms
        "San İ I",
    ]
    got = (
        spark.createDataFrame([(t,) for t in cases], "text string")
        .select("text", tokens(normalized(F.col("text"))).alias("toks"))
        .collect()
    )
    for r in got:
        assert py_tokens(r.text) == list(r.toks), repr(r.text)


def test_bm25_dfc_window_mode_equals_default(spark, sf_dir):
    """dfc_via_window=True (small-corpus stage-floor shape) must be
    result-identical to the default broadcast-df shape."""
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, bm25_topk(docs, topk=5).collect()))
    b = sorted(
        map(tuple, bm25_topk(docs, topk=5, dfc_via_window=True).collect())
    )
    assert a == b and a


def test_bm25_literal_prune_reaches_scan_side(spark, sf_dir):
    """The query-term isin prune must appear as a real Filter on the
    token explode (pre-shuffle), not post-join — the corpus-sized tf
    aggregate only ever sees query-term rows."""
    spark.catalog.clearCache()
    plan = _plan(bm25_topk(load_table(spark, sf_dir, "documents")))
    # >10 literals optimize to INSET; either spelling is the pushed
    # pre-shuffle filter on the exploded token column.
    assert "token" in plan and ("INSET" in plan or " IN (" in plan)
    # the filter sits below the tf aggregate: no corpus-vocabulary
    # shuffle survives in the plan (one partial+final agg pair over
    # the pruned relation).
    assert "CartesianProduct" not in plan
