"""Round-7 curation operators: perplexity gate, per-source caps (the
prefilter losslessness guard), CDC shift-robustness, PSI smoothing."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from capital.io import load_table
from capital.llm.assemble import hash_fraction
from capital.llm.cdc import cdc_chunks, cdc_dup_stats
from capital.llm.curation import capped_per_source, perplexity_gate
from capital.operators.drift import psi_drift


def _naive_cap(df, cap, seed):
    """The unfiltered reference: rank every row per source."""
    u = hash_fraction(F.col("doc_id"), seed)
    w = Window.partitionBy("source").orderBy(F.asc("__u"), F.asc("doc_id"))
    return (
        df.select("source", "doc_id").withColumn("__u", u)
        .withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= cap)
        .select("source", "doc_id", "cap_rank")
    )


@pytest.mark.parametrize("cap,slack", [(10, 2.0), (3, 2.0), (10, 0.1), (100, 1.5)])
def test_capped_per_source_prefilter_is_lossless(spark, sf_dir, cap, slack):
    """The scale pre-filter (only ~slack·cap candidates per source
    reach the ranking window) must be output-identical to ranking all
    rows — including slack=0.1, where the candidate set undercovers
    and the per-source guard must fall back to ranking everything."""
    d = load_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r)
        for r in capped_per_source(
            d, cap=cap, seed="s", prefilter_slack=slack
        ).collect()
    )
    want = sorted(tuple(r) for r in _naive_cap(d, cap, "s").collect())
    assert got == want
    # The cap binds: no source exceeds it.
    per_src = {}
    for s, _, _ in got:
        per_src[s] = per_src.get(s, 0) + 1
    assert max(per_src.values()) <= cap


def test_capped_per_source_stable_under_growth(spark):
    """Adding new documents to a source never evicts a previously
    selected one unless the newcomer hashes lower — the incremental
    curation property of hash-ordered caps."""
    base = spark.createDataFrame(
        [(i, "s") for i in range(20)], "doc_id long, source string"
    )
    grown = spark.createDataFrame(
        [(i, "s") for i in range(40)], "doc_id long, source string"
    )
    a = {r.doc_id for r in capped_per_source(base, cap=5, seed="g").collect()}
    b = {r.doc_id for r in capped_per_source(grown, cap=5, seed="g").collect()}
    # Every survivor in the grown corpus that existed before was
    # already selected OR was displaced only by a lower-hash newcomer.
    evicted = a - b
    newcomers = b - a
    assert len(evicted) == len(newcomers)


def test_perplexity_gate_buckets_and_rates(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    kept = perplexity_gate(d, head_max=4.905, tail_min=4.92).collect()
    buckets = {r.ppl_bucket for r in kept}
    # tail rate is 0.0 -> never in the output; head always survives.
    assert "tail" not in buckets
    assert "head" in buckets
    # Deterministic: second run identical.
    again = perplexity_gate(d, head_max=4.905, tail_min=4.92).collect()
    assert sorted(map(tuple, kept)) == sorted(map(tuple, again))


def test_cdc_chunks_are_shift_robust(spark):
    """Prepending tokens must leave every later chunk's digest
    intact — the property fixed-stride spans lack."""
    a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    docs = spark.createDataFrame(
        [(1, a), (2, "zzz qqq " + a)], "doc_id long, text string"
    )
    ch = cdc_chunks(docs, avg_size=4).collect()
    d1 = {r.digest for r in ch if r.doc_id == 1}
    d2 = {r.digest for r in ch if r.doc_id == 2}
    shared = d1 & d2
    # All of doc 1's chunks except (possibly) its first re-occur in
    # doc 2 despite the 2-token shift.
    assert len(shared) >= len(d1) - 1 > 0
    stats = {r.doc_id: r for r in cdc_dup_stats(docs, avg_size=4).collect()}
    assert stats[1].n_dup_chunks >= len(d1) - 1
    assert stats[2].n_chunks >= stats[2].n_dup_chunks > 0


def test_cdc_chunks_partition_tokens_exactly(spark):
    """Chunks tile the token stream: token counts re-sum to the doc's
    token count and chunk_idx is contiguous from 1."""
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    ch = sorted(cdc_chunks(docs, avg_size=3).collect(), key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in ch] == list(range(1, len(ch) + 1))
    assert sum(r.n_tokens for r in ch) == 10


def test_psi_drift_smoothing_handles_absent_bins(spark):
    """A category present in only one period must yield a finite,
    positive-drift term (absence IS the signal), never NULL/NaN."""
    rows = [("a", "ref")] * 50 + [("a", "cur")] * 30 + [("b", "cur")] * 20
    df = spark.createDataFrame(rows, "bin string, period string")
    out = {r.bin: r for r in psi_drift(df, "bin", "period", "ref", "cur").collect()}
    assert set(out) == {"a", "b"}
    assert out["b"].n_ref == 0 and out["b"].n_cur == 20
    assert out["b"].psi_term is not None and out["b"].psi_term > 0
    # Stable distribution ⇒ near-zero terms.
    same = [("a", "ref")] * 40 + [("a", "cur")] * 40
    s = psi_drift(
        spark.createDataFrame(same, "bin string, period string"),
        "bin", "period", "ref", "cur",
    ).collect()
    assert abs(s[0].psi_term) < 1e-9


def test_ks_drift_hand_computed(spark):
    """KS on a hand-computable shift: ref uniform over b0/b1, cur all
    in b1 — CDFs diverge maximally at b0 (|0.5 − 0| = 0.5)."""
    from capital.operators.drift import ks_drift

    rows = (
        [("b0", "ref")] * 10 + [("b1", "ref")] * 10 + [("b1", "cur")] * 8
    )
    df = spark.createDataFrame(rows, "bin string, period string")
    out = {r.bin: r for r in ks_drift(df, "bin", "period", "ref", "cur").collect()}
    assert out["b0"].cdf_ref == 0.5 and out["b0"].cdf_cur == 0.0
    assert out["b0"].cdf_gap == 0.5
    assert out["b1"].cdf_ref == 1.0 and out["b1"].cdf_cur == 1.0
    assert out["b1"].cdf_gap == 0.0
    assert all(r.ks_stat == 0.5 for r in out.values())


def test_ks_drift_zero_on_identical_distributions(spark):
    from capital.operators.drift import ks_drift

    rows = [("b0", p) for p in ("ref", "cur") for _ in range(7)] + [
        ("b1", p) for p in ("ref", "cur") for _ in range(3)
    ]
    df = spark.createDataFrame(rows, "bin string, period string")
    out = ks_drift(df, "bin", "period", "ref", "cur").collect()
    assert all(r.cdf_gap == 0.0 and r.ks_stat == 0.0 for r in out)


def test_ks_catches_spread_shift_psi_underweights(spark):
    """A +1-bin location shift spread over many bins: every per-bin
    PSI term stays small while the cumulative gap is large — the
    reason the family carries both statistics."""
    from capital.operators.drift import ks_drift, psi_drift

    cur_counts = [5, 6, 7, 8, 9, 11, 12, 13, 14, 15]  # linear tilt
    ref = [(f"b{i}", "ref") for i in range(10) for _ in range(10)]
    cur = [
        (f"b{i}", "cur") for i, n in enumerate(cur_counts) for _ in range(n)
    ]
    df = spark.createDataFrame(ref + cur, "bin string, period string")
    ks = ks_drift(df, "bin", "period", "ref", "cur").collect()[0].ks_stat
    psi_terms = [
        r.psi_term
        for r in psi_drift(df, "bin", "period", "ref", "cur").collect()
    ]
    assert ks >= 0.14  # cumulative displacement of the whole tilt
    assert max(abs(t) for t in psi_terms) < ks / 3  # per-bin terms small


def test_ks_against_stored_baseline_matches_batch(spark):
    """Stored-baseline path ≡ two-period batch path (the psi twin
    contract), including bins absent from one side."""
    from capital.operators.drift import (
        baseline_histogram,
        ks_counts_against_baseline,
        ks_drift,
    )
    from pyspark.sql import functions as F

    ref_rows = [("b0",)] * 5 + [("b1",)] * 5
    cur_rows = [("b1",)] * 4 + [("b2",)] * 6
    ref = spark.createDataFrame(ref_rows, "bin string")
    cur = spark.createDataFrame(cur_rows, "bin string")
    base = baseline_histogram(ref, "bin")
    cur_counts = cur.groupBy("bin").agg(F.count(F.lit(1)).alias("n_cur"))
    stored = sorted(
        map(tuple, ks_counts_against_baseline(cur_counts, base).collect())
    )
    both = spark.createDataFrame(
        [(b, "ref") for (b,) in ref_rows] + [(b, "cur") for (b,) in cur_rows],
        "bin string, period string",
    )
    batch = sorted(map(tuple, ks_drift(both, "bin", "period", "ref", "cur").collect()))
    assert stored == batch


def test_capped_per_source_prefilters_before_ranking(spark, sf_dir):
    """The scale claim in-plan: the ranking Window's input must be the
    threshold-FILTERED candidate set (u < per-source threshold), not
    the raw corpus — i.e. a Filter on the joined threshold sits below
    the Window sort."""
    import contextlib
    import io as _io

    d = load_table(spark, sf_dir, "documents")
    df = capped_per_source(d, cap=5, seed="p")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # One Window (the ranking); at least one broadcast join feeding it
    # (the tiny per-source threshold table); and the candidate filter.
    assert plan.count("Window") >= 1
    assert "BroadcastHashJoin" in plan
    assert "__t" in plan and "__u" in plan


def test_cdc_incremental_index_round_trips_parquet(spark, tmp_path):
    """The growing-lake CDC flow: index rows persisted per batch,
    appended, re-read, probed — a doc identical to history is fully
    known; a novel doc has zero known chunks."""
    from capital.llm.cdc import cdc_incremental_flags, cdc_index_rows

    hist1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 4)],
        "doc_id long, text string",
    )
    hist2 = spark.createDataFrame(
        [(2, "one two three four five six seven eight " * 4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "cdc_index")
    cdc_index_rows(hist1, avg_size=4).write.mode("append").parquet(path)
    cdc_index_rows(hist2, avg_size=4).write.mode("append").parquet(path)

    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta " * 4),
            (11, "totally novel words appear here only once ever"),
        ],
        "doc_id long, text string",
    )
    index = spark.read.parquet(path)
    out = {
        r.doc_id: r
        for r in cdc_incremental_flags(batch, index, avg_size=4).collect()
    }
    assert out[10].n_known_chunks == out[10].n_chunks > 0
    assert out[11].n_known_chunks == 0 and out[11].n_chunks > 0


def test_streaming_incremental_cdc_against_stored_index(spark, tmp_path):
    """The CDC growing-lake loop on a real stream (the shift-robust
    twin of the LSH loop): each micro-batch probes the stored chunk-
    digest index, records per-doc known-chunk counts, and appends its
    own digests — later batches see everything before them without
    re-chunking it."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from capital.llm.cdc import cdc_incremental_flags, cdc_index_rows

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    day1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 4)],
        schema,
    )
    cdc_index_rows(day1, avg_size=4).write.mode("append").parquet(index_dir)

    day2 = spark.createDataFrame(
        [
            # shifted copy of doc 1: still mostly known chunks
            (10, "prefix shift " + "alpha beta gamma delta epsilon zeta eta theta " * 4),
            (11, "genuinely novel second day material nothing shared at all"),
        ],
        schema,
    )
    day2.coalesce(1).write.mode("append").parquet(src)

    def _probe_and_append(batch_df, batch_id):
        index = batch_df.sparkSession.read.parquet(index_dir)
        cdc_incremental_flags(batch_df, index, avg_size=4).write.mode(
            "append"
        ).parquet(flags_dir)
        cdc_index_rows(batch_df, avg_size=4).write.mode("append").parquet(
            index_dir
        )

    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(_probe_and_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    flags = {r.doc_id: r for r in spark.read.parquet(flags_dir).collect()}
    # The shifted copy shares most chunks with history (CDC shift
    # robustness END TO END through the stored index).
    assert flags[10].n_known_chunks >= flags[10].n_chunks - 2 > 0
    assert flags[11].n_known_chunks == 0
    # The index grew: a day-3 batch would see day 2's digests too.
    assert spark.read.parquet(index_dir).select("doc_id").distinct().count() == 3


def test_jaccard_fullrecall_equals_all_pairs(spark, sf_dir):
    """Prefix filtering must reproduce the naive all-pairs join
    EXACTLY (zero false negatives/positives) on the full corpus."""
    from capital.llm.dedup import jaccard_fullrecall_pairs, jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    fast = sorted(
        tuple(r)
        for r in jaccard_fullrecall_pairs(
            d, shingle_k=3, threshold=0.5
        ).collect()
    )
    brute = sorted(
        tuple(r)
        for r in jaccard_pairs(d, shingle_k=3, threshold=0.5).collect()
    )
    assert fast == brute and len(fast) > 0


def test_jaccard_fullrecall_exact_prefix_arithmetic(spark):
    """A threshold whose float product rounds the wrong way (0.6·5 =
    3.0000000000000004 in doubles) must still keep the full prefix:
    near-identical 5-shingle docs at exactly J=0.6 survive."""
    from capital.llm.dedup import jaccard_fullrecall_pairs

    # 7 tokens -> 5 distinct 3-shingles; change the last token only:
    # intersect=3 of the 5-shingle sets... build until J >= 0.6.
    a = "t1 t2 t3 t4 t5 t6 t7"
    b = "t1 t2 t3 t4 t5 t6 zz"
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    out = jaccard_fullrecall_pairs(
        docs, shingle_k=3, threshold=0.6
    ).collect()
    # shingles: a has 5, b has 5, shared 4 -> J = 4/6 = 0.666... >= 0.6
    assert len(out) == 1 and out[0].jaccard >= 0.6


def test_gopher_rules_paper_defaults_and_overrides(spark):
    """Paper-default rules vs corpus-calibrated overrides; signal
    arithmetic on hand-built docs, including the closed-form
    token-length sum under multi-space text and the empty-text
    [''] convention."""
    from capital.llm.curation import gopher_quality_flags

    good = "the " + " ".join(f"word{i:02d}" for i in range(60))
    df = spark.createDataFrame(
        [
            (1, good),                      # 61 words, has 'the'
            (2, "short  text   here"),      # 3 words, multi-space
            (3, ""),                        # empty -> [''] one token
            (4, "### ... " + good),         # symbols
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert out[1].n_words == 61
    assert out[1].n_required_stopwords == 1
    # closed form: len('the')+60*len('wordNN') over 61 words
    assert out[1].mean_word_len == round((3 + 60 * 6) / 61, 6)
    assert out[2].n_words == 3
    assert not out[2].gopher_keep  # under min_words
    assert out[3].n_words == 1 and out[3].mean_word_len == 0.0
    assert out[4].symbol_ratio > 0
    # paper default needs >= 2 required stopwords: doc 1 fails on
    # that alone; the calibrated override keeps it.
    assert not out[1].gopher_keep
    relaxed = {
        r.doc_id: r
        for r in gopher_quality_flags(
            df, rules={"min_required_stopwords": 1}
        ).collect()
    }
    assert relaxed[1].gopher_keep


def test_substring_dup_spans_recovers_maximal_planted_span(spark):
    """A 12-token substring planted in two docs must come back as ONE
    maximal span of exactly 12 tokens in each (not 12-8+1 separate
    windows); unique docs and sub-window docs report zeros."""
    from capital.llm.dedup import substring_dup_spans

    shared = " ".join(f"dup{i}" for i in range(12))
    mk = lambda pre, post: f"{pre} {shared} {post}"
    df = spark.createDataFrame(
        [
            (1, mk("alpha beta gamma", "delta epsilon")),
            (2, mk("one two three four", "five six")),
            (3, "totally unique words " + " ".join(
                f"u{i}" for i in range(20))),
            (4, "tiny doc"),  # shorter than the window
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in substring_dup_spans(df, window_tokens=8).collect()
    }
    for d in (1, 2):
        assert out[d].n_dup_spans == 1
        assert out[d].dup_tokens == 12
        assert out[d].n_dup_windows == 12 - 8 + 1
    assert out[3].n_dup_spans == 0 and out[3].dup_tokens == 0
    assert out[4].n_dup_windows == 0 and out[4].n_tokens == 2


def test_substring_dup_spans_counts_within_doc_repeats(spark):
    """A doc repeating its own 8-gram twice is self-duplicated
    (min_occurrences counts occurrences, not documents) — two
    disjoint islands when the copies sit far apart."""
    from capital.llm.dedup import substring_dup_spans

    block = " ".join(f"w{i}" for i in range(8))
    text = f"{block} aa bb cc dd ee ff gg hh ii jj {block}"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = substring_dup_spans(df, window_tokens=8).collect()[0]
    assert r.n_dup_spans == 2
    assert r.dup_tokens == 16


def test_substring_dup_spans_hash_keyed_count_is_equivalent(spark):
    """The round-15 xxhash64-prefilter variant (long-keyed corpus
    count + exact residual gram recount over candidate rows) must be
    row-identical to the string-keyed form on a corpus mixing planted
    cross-doc spans, within-doc repeats, uniques and sub-window
    docs — for both broadcast regimes."""
    from capital.llm.dedup import substring_dup_spans

    shared = " ".join(f"dup{i}" for i in range(12))
    block = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} tail one"),
            (2, f"{shared} other words here"),
            (3, f"{block} aa bb cc dd ee ff gg hh ii jj {block}"),
            (4, "totally unique " + " ".join(f"u{i}" for i in range(25))),
            (5, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    base = sorted(
        map(tuple, substring_dup_spans(df, window_tokens=8).collect())
    )
    for bcast in (True, False):
        got = sorted(
            map(
                tuple,
                substring_dup_spans(
                    df,
                    window_tokens=8,
                    broadcast_dups=bcast,
                    hash_keyed_count=True,
                ).collect(),
            )
        )
        assert got == base


def test_ks_zero_total_side_yields_null_not_nan(spark):
    """Regression (round-10 advice): an all-zero side (absent period /
    fully zero-filled stored-baseline join) must surface as NULL
    cdf/ks_stat, not NaN silently propagating into monitoring
    output."""
    import math

    from capital.operators.drift import ks_terms

    counts = spark.createDataFrame(
        [("b0", 5, 0), ("b1", 5, 0)], "bin string, n_ref long, n_cur long"
    )
    out = ks_terms(counts).collect()
    for r in out:
        assert r.cdf_ref is not None and not math.isnan(r.cdf_ref)
        assert r.cdf_cur is None
        assert r.cdf_gap is None
        assert r.ks_stat is None


def test_substring_multiscale_any_length_repeats(spark):
    """The round-10 multi-scale contract: a planted repeat of ANY
    length ≥ the base window is recovered at exactly every scale it
    covers — a 37-token repeat shows dup_tokens == 37 at L=8/16/32
    and 0 at L=64; a 10-token repeat only at L=8; and the Merkle
    ladder introduces no false duplicates for unique docs."""
    from capital.llm.dedup import substring_dup_multiscale
    from capital.operators.caching import CacheScope

    long_rep = " ".join(f"rep{i}" for i in range(37))
    short_rep = " ".join(f"sh{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {long_rep} a4 a5"),
            (2, f"b1 b2 {long_rep} b3 b4 b5 b6"),
            (3, f"c1 {short_rep} c2 c3"),
            (4, f"d1 d2 d3 d4 {short_rep}"),
            (5, "unique " + " ".join(f"u{i}" for i in range(70))),
        ],
        "doc_id long, text string",
    )
    with CacheScope() as scope:
        out = {
            (r.doc_id, r.window_tokens): r
            for r in substring_dup_multiscale(
                df, base_window=8, levels=4, scope=scope
            ).collect()
        }
    assert len(out) == 5 * 4  # every doc at every scale, zero-filled
    for d in (1, 2):
        for L in (8, 16, 32):
            assert out[(d, L)].dup_tokens == 37, (d, L)
            assert out[(d, L)].n_dup_spans == 1
            assert out[(d, L)].n_dup_windows == 37 - L + 1
        assert out[(d, 64)].dup_tokens == 0
    for d in (3, 4):
        assert out[(d, 8)].dup_tokens == 10
        assert out[(d, 8)].n_dup_windows == 3
        for L in (16, 32, 64):
            assert out[(d, L)].dup_tokens == 0, (d, L)
    for L in (8, 16, 32, 64):
        assert out[(5, L)].dup_tokens == 0


def test_substring_multiscale_matches_single_scale_at_base(spark, sf_dir):
    """At the base window the ladder's level-0 must agree exactly with
    the proven single-L operator on the real corpus (hash vs raw-gram
    counting are equivalent up to md5 collisions)."""
    from capital.io import load_table
    from capital.llm.dedup import substring_dup_multiscale, substring_dup_spans
    from capital.operators.caching import CacheScope

    d = load_table(spark, sf_dir, "documents")
    single = {
        r.doc_id: (r.n_dup_windows, r.n_dup_spans, r.dup_tokens, r.dup_frac)
        for r in substring_dup_spans(d, window_tokens=8).collect()
    }
    with CacheScope() as scope:
        multi = {
            r.doc_id: (r.n_dup_windows, r.n_dup_spans, r.dup_tokens, r.dup_frac)
            for r in substring_dup_multiscale(
                d, base_window=8, levels=1, scope=scope
            ).collect()
        }
    assert single == multi


def test_substring_multiscale_coverage_monotone_in_scale(spark, sf_dir):
    """Invariant: every duplicated 2L-window implies its two L-halves
    are duplicated windows covering the same tokens, so per-document
    duplicated-token coverage is NON-INCREASING in window length.
    Checked on the real corpus across all four scales."""
    from capital.io import load_table
    from capital.llm.dedup import substring_dup_multiscale
    from capital.operators.caching import CacheScope

    d = load_table(spark, sf_dir, "documents")
    with CacheScope() as scope:
        rows = substring_dup_multiscale(d, scope=scope).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.window_tokens] = r.dup_tokens
    assert by_doc
    for doc_id, scales in by_doc.items():
        assert set(scales) == {8, 16, 32, 64}
        assert scales[8] >= scales[16] >= scales[32] >= scales[64], (
            doc_id, scales
        )


def test_lsh_recall_probe_detects_under_recalling_banding(spark):
    """The probe must REPORT what the banding misses: a true ~0.6-
    Jaccard pair is found under a permissive banding (16 bands x 1
    row: collision prob ≈ 1) and missed under a strict one (1 band x
    16 rows: needs all 16 minhashes equal) — deterministic for the
    fixed fixture (md5 hashing)."""
    from capital.llm.dedup import lsh_recall_probe

    shared = " ".join(f"s{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, f"{shared} a1 a2 a3 a4 a5 a6 a7 a8"),
            (2, f"{shared} b1 b2 b3 b4 b5 b6 b7 b8"),
            (3, "totally different content " + " ".join(
                f"z{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    kw = dict(sample_frac=1.0, num_hashes=16, shingle_k=3, threshold=0.5)
    permissive = lsh_recall_probe(df, bands=16, rows_per_band=1, **kw).collect()[0]
    strict = lsh_recall_probe(df, bands=1, rows_per_band=16, **kw).collect()[0]
    assert permissive.n_truth_pairs == strict.n_truth_pairs == 1
    assert permissive.n_hits == 1 and permissive.recall == 1.0
    assert strict.n_hits == 0 and strict.recall == 0.0


def test_jaccard_pairs_chunked_equals_plain(spark):
    """Forcing the chunked pair enumeration (probe=False, tiny
    chunk_target) must reproduce the plain pair join EXACTLY — the
    round-11 bounded-truth path behind lsh_recall_probe."""
    from capital.llm.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [
            (i, f"w{i % 4} common tokens here w{i % 4} tail{i % 3}")
            for i in range(24)
        ],
        "doc_id long, text string",
    )
    plain = sorted(
        tuple(r)
        for r in jaccard_pairs(
            docs, shingle_k=2, threshold=0.3, total_rows_hint=24
        ).collect()
    )
    chunked = sorted(
        tuple(r)
        for r in jaccard_pairs(
            docs, shingle_k=2, threshold=0.3, chunk_target=4, probe=False
        ).collect()
    )
    assert plain == chunked and len(plain) > 0


def test_jaccard_pairs_chunked_plan_is_task_bounded(spark):
    """probe=False must plan the pair space as a hash equi-join over
    chunk buckets — NOT an unbounded BroadcastNestedLoopJoin theta
    join (the round-10 recall-probe scale hazard)."""
    from capital.llm.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"a b c d{i}") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        jaccard_pairs(docs, shingle_k=2, threshold=0.0, probe=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_recall_probe_caps_oversized_sample(spark):
    """A deliberately-huge sample_frac must be capped in ROWS: the
    md5-fraction threshold is tightened from a cheap count, so the
    truth join's pair space is bounded no matter what frac the
    caller passes (round-10 verdict finding #1)."""
    from capital.llm.dedup import lsh_recall_probe

    n = 400
    df = spark.createDataFrame(
        [(i, f"doc {i} filler tokens t{i % 7} t{i % 11} t{i % 13}")
         for i in range(n)],
        "doc_id long, text string",
    )
    r = lsh_recall_probe(
        df, sample_frac=1.0, max_sample_docs=20, truth_chunk_target=8
    ).collect()[0]
    # md5 fractions are ~uniform: the tightened threshold 20/400 keeps
    # ~20 docs (binomial sd ~4.4); 60 = +9 sd, deterministic fixture.
    assert 0 < r.n_sample_docs < 60
    # untriggered cap leaves the sample alone
    full = lsh_recall_probe(
        df, sample_frac=0.05, max_sample_docs=None
    ).collect()[0]
    capped_off = lsh_recall_probe(
        df, sample_frac=0.05, max_sample_docs=10_000
    ).collect()[0]
    assert full.n_sample_docs == capped_off.n_sample_docs


def test_lsh_recall_probe_empty_truth_yields_null(spark):
    """No true pair in the sample -> recall NULL, never NaN (the
    ks_terms zero-side rule)."""
    from capital.llm.dedup import lsh_recall_probe

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    r = lsh_recall_probe(df, sample_frac=1.0).collect()[0]
    assert r.n_truth_pairs == 0 and r.recall is None


def test_substring_multiscale_deep_ladder_128_256(spark):
    """Round-12 closure of the unbounded-length claim (round-11
    verdict #5): the Merkle ladder at levels=6 (8→256 tokens) on
    constructed LONG documents. Two checks: (a) a planted 300-token
    verbatim mirror is recovered at EVERY scale through 256 with the
    exact island arithmetic (dup_tokens == 300, n_dup_windows ==
    300 − L + 1, one span), while a 40-token boilerplate block dies
    above L=32 — the boilerplate-vs-mirror separation at depth; (b)
    the composed 128- and 256-token levels agree EXACTLY with the
    independent single-L stride-1 operator (substring_dup_spans) on
    the same corpus — the direct-window path never shares the
    ladder's compose code, so agreement is two implementations
    meeting. The registered driver query stays at 64 (the test
    corpus's 99-token max doc makes deeper levels vacuous there —
    COVERAGE.md bound note); the operator itself is depth-unbounded.
    """
    from capital.llm.dedup import substring_dup_multiscale, substring_dup_spans
    from capital.operators.caching import CacheScope

    mirror = " ".join(f"m{i}" for i in range(300))
    boiler = " ".join(f"b{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 {mirror} x3 {boiler}"),
            (2, f"y1 {mirror} y2 y3 y4 {boiler} y5"),
            (3, "solo " + " ".join(f"z{i}" for i in range(400))),
        ],
        "doc_id long, text string",
    )
    scales = [8, 16, 32, 64, 128, 256]
    with CacheScope() as scope:
        out = {
            (r.doc_id, r.window_tokens): r
            for r in substring_dup_multiscale(
                docs, base_window=8, levels=6, scope=scope
            ).collect()
        }
    assert len(out) == 3 * 6
    for d in (1, 2):
        for L in scales:
            r = out[(d, L)]
            if L <= 32:  # mirror + boilerplate both alive
                assert r.dup_tokens == 300 + 40, (d, L)
                assert r.n_dup_spans == 2
            else:  # only the mirror survives deep scales
                assert r.dup_tokens == 300, (d, L)
                assert r.n_dup_spans == 1
                assert r.n_dup_windows == 300 - L + 1
    for L in scales:
        assert out[(3, L)].dup_tokens == 0

    # (b) composed deep levels == direct stride-1 operator at that L
    for L in (128, 256):
        direct = {
            r.doc_id: (r.n_dup_windows, r.n_dup_spans, r.dup_tokens)
            for r in substring_dup_spans(docs, window_tokens=L).collect()
        }
        composed = {
            d: (r.n_dup_windows, r.n_dup_spans, r.dup_tokens)
            for (d, lv), r in out.items()
            if lv == L
        }
        assert direct == composed, L


def test_self_repetition_trim_hand_computed(spark):
    """Intra-doc repetition trim (round 12) on constructed docs:
    first occurrence kept, later windows' covered tokens removed,
    overlapping repeats union, short docs untouched."""
    import hashlib

    from capital.llm.dedup import self_repetition_trim

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    docs = spark.createDataFrame(
        [
            # every window from pos 4 on repeats an earlier one
            # (including the rotations "y z x" / "z x y") → 4 repeat
            # windows covering positions 4..9
            (1, "x y z x y z x y z"),
            # no intra-doc repeat at L=3
            (2, "a b c d e f"),
            # shorter than the window: no windows at all
            (3, "p q"),
            # adjacent self-overlap: "a a a a" has L=3 windows at
            # 1 ("a a a") and 2 (repeat) → covered 2..4, keep "a"
            (4, "a a a a"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in self_repetition_trim(docs, window_tokens=3).collect()
    }
    assert out[1].n_tokens == 9
    assert out[1].n_repeat_windows == 4
    assert out[1].n_removed_tokens == 6
    assert out[1].clean_md5 == md5("x y z")
    assert out[2].n_repeat_windows == 0
    assert out[2].n_removed_tokens == 0
    assert out[2].clean_md5 == md5("a b c d e f")
    assert out[3].n_repeat_windows == 0
    assert out[3].clean_md5 == md5("p q")
    assert out[4].n_repeat_windows == 1
    assert out[4].n_removed_tokens == 3
    assert out[4].clean_md5 == md5("a")


def test_self_repetition_trim_null_text_matches_oracle(spark):
    """NULL text must mirror the SQL oracle's NULL token array —
    (NULL, 0, NULL, md5('')) — not the [""] empty-string row the
    `text or ""` coalesce produced (round-14 review; DuckDB-verified
    oracle values pinned here)."""
    import hashlib

    from capital.llm.dedup import self_repetition_trim

    docs = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in self_repetition_trim(docs, window_tokens=3).collect()
    }
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert rows[1].n_tokens is None
    assert rows[1].n_repeat_windows == 0
    assert rows[1].n_removed_tokens is None
    assert rows[1].clean_md5 == empty_md5
    # Empty string stays the [""] single-token convention.
    assert rows[2].n_tokens == 1
    assert rows[2].n_removed_tokens == 0
    assert rows[2].clean_md5 == empty_md5
