"""Composition invariants of the modern curation funnel
(capital/llm/pipeline_v2.py). The driver-facing hash gate lives in
tests/test_oracle_parity.py (pipe_curation_v2 / _profile); here we
pin the funnel-shape properties the hash can't localize."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capital.io import load_table
from capital.llm.pipeline_v2 import (
    V2_BENCH_MOD,
    V2_LINKY_MOD,
    V2_LINKY_OFF,
    curation_v2_stages,
    with_v2_html,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stages(spark):
    docs = load_table(spark, SF, "documents")
    return curation_v2_stages(docs)


def test_funnel_monotone_and_bench_excluded(stages):
    n = {k: stages[k].count() for k in (
        "work", "c0_extracted", "c1_lang", "c2_gopher",
        "c3_c4rules", "c5_dedup", "final",
    )}
    assert (
        n["work"] >= n["c0_extracted"] >= n["c1_lang"]
        >= n["c2_gopher"] >= n["c3_c4rules"] >= n["c5_dedup"]
        == n["final"] > 0
    )
    # the eval holdout never enters the funnel
    assert (
        stages["final"]
        .filter((F.col("doc_id") % V2_BENCH_MOD) == 0)
        .count()
        == 0
    )


def test_extraction_recovers_nonlinky_lines(spark):
    """The REAL html kernel must recover exactly the non-linky,
    non-blank lines of the lined fixture — the arithmetic the oracle
    uses (hand-built doc so the expectation is explicit)."""
    from capital.llm.extract import extract_main_content

    lined = "alpha one.\nlinky line.\nbeta two.\ncharlie & <three>."
    df = spark.createDataFrame(
        [(1, lined)], "doc_id long, lined_text string"
    )
    out = (
        extract_main_content(with_v2_html(df))
        .select("main_text")
        .collect()[0]
    )
    keep = [
        line
        for i, line in enumerate(lined.split("\n"))
        if i % V2_LINKY_MOD != V2_LINKY_OFF
    ]
    assert out.main_text == "\n".join(keep)


def test_null_text_drops_cleanly(spark):
    """A NULL-text doc must vanish at extraction (NULL html → NULL
    main_text), not crash a kernel or resurface downstream."""
    from capital.llm.text import normalized, tokens  # noqa: F401

    base = load_table(spark, SF, "documents").limit(40)
    docs = base.unionByName(
        spark.createDataFrame(
            [(99901, None, "en", "srcX", 0)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
    )
    st = curation_v2_stages(docs)
    assert st["c0_extracted"].filter(
        F.col("doc_id") == 99901
    ).count() == 0
    assert st["final"].filter(F.col("doc_id") == 99901).count() == 0


def test_line_dedup_stage_is_first_occurrence(stages):
    """Within the funnel corpus, every removed line re-checks as a
    duplicate of an earlier (doc_id, idx) occurrence: total removed ==
    total line instances - distinct lines."""
    c3 = stages["c3_c4rules"].select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("i", "l")
    )
    total = c3.count()
    distinct = c3.select("l").distinct().count()
    removed = (
        stages["c4_linededup"]
        .agg(F.sum("n_removed_lines").cast("long").alias("r"))
        .collect()[0]["r"]
    )
    assert removed == total - distinct


def test_decon_only_removes_holdout_covered_tokens(stages):
    """Span decontamination never *adds* tokens and the scrub digest
    column is always a 32-hex md5."""
    bad = stages["final"].filter(
        (F.col("n_removed_tokens") < 0)
        | (F.col("n_removed_tokens") > F.col("n_tokens"))
        | ~F.col("scrubbed_md5").rlike("^[0-9a-f]{32}$")
    )
    assert bad.count() == 0


def test_incremental_curation_matches_batch(spark, tmp_path):
    """Stream-vs-batch equality for the modern curation funnel: a
    doc_id-ascending 3-batch stream through incremental_curation_run
    (stored NB model, growing line/band/shingle state, static
    benchmark) must reproduce the batch funnel's survivor rows
    byte-for-byte; a checkpointed re-run emits nothing new (replay
    idempotence)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from capital.llm.nbayes import nb_load, nb_save, nb_train
    from capital.llm.pipeline_v2 import (
        V2_BENCH_MOD,
        curation_v2,
        gate_flags,
    )
    from capital.streaming.incremental import incremental_curation_run

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ]
    )

    # Shared state: one stored NB model (trained on the full work
    # corpus's extracted text) + the static benchmark holdout.
    work = docs.filter((F.col("doc_id") % V2_BENCH_MOD) != 0)
    c0, _flags = gate_flags(work)
    model_dir = str(tmp_path / "nb_model")
    nb_save(nb_train(c0.select("doc_id", "lang", "text")), model_dir)
    model = nb_load(spark, model_dir)
    bench_path = str(tmp_path / "bench")
    docs.filter((F.col("doc_id") % V2_BENCH_MOD) == 0).select(
        "doc_id", "text"
    ).write.parquet(bench_path)

    # Batch truth with the SAME model.
    batch_rows = {
        r.doc_id: (
            r.n_lines, r.n_removed_lines, r.n_tokens,
            r.n_removed_tokens, r.scrubbed_md5,
        )
        for r in curation_v2(docs, nb_model=model).collect()
    }

    # doc_id-ascending 3-file source -> 3 ordered micro-batches.
    src = str(tmp_path / "src")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    parts = [
        docs.filter(F.col("doc_id") < cuts[0]),
        docs.filter(
            (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])
        ),
        docs.filter(F.col("doc_id") >= cuts[1]),
    ]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src)

    dirs = {
        n: str(tmp_path / n)
        for n in ("lines", "bands", "shingles", "flags", "ckpt")
    }

    def run():
        q = incremental_curation_run(
            spark, src, schema,
            model_dir=model_dir,
            bench_path=bench_path,
            lines_state_dir=dirs["lines"],
            bands_state_dir=dirs["bands"],
            shingles_state_dir=dirs["shingles"],
            flags_dir=dirs["flags"],
            checkpoint_dir=dirs["ckpt"],
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(600)

    run()
    stream_rows = {
        r.doc_id: (
            r.n_lines, r.n_removed_lines, r.n_tokens,
            r.n_removed_tokens, r.scrubbed_md5,
        )
        for r in spark.read.parquet(dirs["flags"]).collect()
    }
    assert stream_rows == batch_rows

    # Replay idempotence: same checkpoint, no new input -> no change.
    run()
    again = {
        r.doc_id: (
            r.n_lines, r.n_removed_lines, r.n_tokens,
            r.n_removed_tokens, r.scrubbed_md5,
        )
        for r in spark.read.parquet(dirs["flags"]).collect()
    }
    assert again == stream_rows
