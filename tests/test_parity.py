"""Parity gate: Spark pipeline output == single-threaded oracle, per turn.

BASELINE.json:15 — "per-row invariant vs the reference: per-turn text
equality under stable turn ordering; verify with `python -m pytest -x -q`".

The Spark side runs the full scale harness (repartition on the row key
(conv_id, turn_idx) -> mapInPandas -> window reassembly) at parallelism 4 on deliberately shuffled
input; the oracle runs the same kernel row-at-a-time single-threaded.
Equality is byte-for-byte on extracted_text and fields_json; span parity
is the span relation derived from the Spark output (``derive_spans``)
equal to the oracle kernel's inline spans_json.
"""

from __future__ import annotations

import json

import pandas as pd

from ocr_spark import synth
from ocr_spark.checkpoint import CheckpointedExtraction
from ocr_spark.operators.transcripts import derive_spans
from ocr_spark.oracle import oracle_extract
from ocr_spark.pipeline import (
    OUTPUT_SCHEMA,
    TRANSCRIPT_SCHEMA,
    extract_transcripts,
    failure_spans,
    metrics_agg,
    reassemble,
)

N_CONVS = 60  # ~10^3 turns with the Zipf tail


def _kernel_span_relation(want):
    """The kernel's inline spans_json (oracle side) as a set of
    (conv_id, turn_idx, block_id, line_id, pos, token) rows."""
    rel = set()
    for _, row in want.iterrows():
        for rec in json.loads(row["spans_json"]):
            # json.loads already decoded the kernel's escaping: rec["t"]
            # items are the raw tokens
            for p, tok in enumerate(rec["t"]):
                rel.add((row["conv_id"], row["turn_idx"], rec["b"], rec["l"], p, tok))
    return rel


def _derived_span_relation(out):
    return {
        (r.conv_id, r.turn_idx, r.block_id, r.line_id, r.pos, r.token)
        for r in derive_spans(out).collect()
    }


def test_spark_matches_oracle_byte_for_byte(spark):
    pdf = synth.generate_local(N_CONVS, shuffled=True)
    want = oracle_extract(pdf)
    out = extract_transcripts(spark.createDataFrame(pdf))
    assert "spans_json" not in out.columns
    got = out.orderBy("conv_id", "turn_idx").toPandas()

    assert len(got) == len(want)
    key_got = list(zip(got["conv_id"], got["turn_idx"]))
    key_want = list(zip(want["conv_id"], want["turn_idx"]))
    assert key_got == key_want  # stable (conv_id, turn_idx) ordering

    for col in ("extracted_text", "fields_json", "status"):
        mism = (got[col].to_numpy() != want[col].to_numpy()).nonzero()[0]
        assert len(mism) == 0, (
            f"{col}: {len(mism)} mismatches, first at "
            f"{key_got[mism[0]]}: spark={got[col].iloc[mism[0]]!r} "
            f"oracle={want[col].iloc[mism[0]]!r}"
        )

    for col in ("n_blocks", "n_lines", "n_tokens", "n_fields"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col

    # span parity: the JVM-side derivation over the Spark output equals the
    # oracle kernel's inline spans_json relation
    assert _derived_span_relation(out) == _kernel_span_relation(want)


def test_derived_spans_match_kernel(spark):
    """The JVM-side span derivation (split/posexplode over extracted_text,
    the only spans path) reproduces the Python kernel's span relation
    exactly, and the pipeline's count columns equal the kernel's."""
    pdf = synth.generate_local(25, shuffled=True)
    want = oracle_extract(pdf)  # kernel with inline spans

    out = extract_transcripts(spark.createDataFrame(pdf))
    got_counts = out.orderBy("conv_id", "turn_idx").toPandas()
    for col in ("n_blocks", "n_lines", "n_tokens"):
        assert (got_counts[col].to_numpy() == want[col].to_numpy()).all(), col

    assert _derived_span_relation(out) == _kernel_span_relation(want)


def test_derived_spans_adversarial_tokens(spark):
    """Tokens containing JSON-special characters (quote, backslash,
    unicode) — the kernel escapes them inside spans_json while
    derive_spans splits raw text; both must yield the same raw tokens."""
    texts = [
        'he said "hi there" back',
        "wind\\up path\\\\double über naïve",
        'mix "q\\w" end',
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": pd.array([0] * len(texts), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [""] * len(texts),
        }
    )
    out = extract_transcripts(spark.createDataFrame(pdf))
    derived = _derived_span_relation(out)
    assert derived == _kernel_span_relation(oracle_extract(pdf))
    assert derived  # non-degenerate: the adversarial tokens survived cleanup


def test_window_reassembly_columns(spark):
    pdf = synth.generate_local(20, shuffled=True)
    out = reassemble(extract_transcripts(spark.createDataFrame(pdf))).toPandas()
    g = out.groupby("conv_id")
    # turn_rank is a dense 1..n per conversation regardless of input order
    assert (g["turn_rank"].max() == g["turn_rank"].count()).all()
    assert (g["conv_turns"].nunique() == 1).all()
    per_conv = out.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["turn_rank"]
    assert per_conv.apply(lambda s: (s.to_numpy() == range(1, len(s) + 1)).all()).all()


def test_lineage_tables(spark):
    pdf = synth.generate_local(25, shuffled=True)
    # one malformed tool payload, so the failure tables are not empty
    bad_row = pdf.iloc[[0]].copy()
    bad_row[["conv_id", "role", "tool"]] = ["malformed", "tool", '{"output": ']
    pdf = pd.concat([pdf, bad_row], ignore_index=True)
    extracted = extract_transcripts(spark.createDataFrame(pdf))
    extracted = extracted.cache()
    try:
        metrics = metrics_agg(extracted).toPandas()
        assert metrics["turn_count"].sum() == len(pdf)
        total = (
            metrics["ok_count"]
            + metrics["empty_count"]
            + metrics["rejected_count"]
            + metrics["failed_count"]
        )
        assert (total == metrics["turn_count"]).all()

        # failure_spans lists exactly the turns lineage counts as failed:
        # rejected documents are neither
        fs = failure_spans(extracted).toPandas()
        assert len(fs) == metrics["failed_count"].sum() > 0
        want = oracle_extract(pdf)
        bad = want[~want["status"].isin(["ok", "empty", "rejected"])]
        assert sorted(zip(fs["conv_id"], fs["turn_idx"], fs["reason"])) == sorted(
            zip(bad["conv_id"], bad["turn_idx"], bad["status"])
        )
        assert (want["status"] == "rejected").any()
    finally:
        extracted.unpersist()


def test_null_keys_fail_their_turns_only(spark, tmp_path):
    """One null turn_idx and one null conv_id among ~1k turns: the
    checkpointed run completes, lineage counts exactly those 2 turns as
    failed, and every committed row, keys included, equals the oracle's."""
    pdf = synth.generate_local(200, shuffled=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    pdf.loc[0, "turn_idx"] = None
    pdf.loc[1, "conv_id"] = None
    job = CheckpointedExtraction(
        spark, spark.createDataFrame(pdf), str(tmp_path / "out"), buckets=2
    )
    assert job.run() == 2
    assert job.validate(deep=True)["complete"]
    assert sum(r.failed_count for r in job.lineage().collect()) == 2

    data = spark.read.parquet(job.data_dir).select(*OUTPUT_SCHEMA.names)
    got = {r[:2]: tuple(r) for r in data.collect()}
    want = oracle_extract(pdf, row_at_a_time=False)[OUTPUT_SCHEMA.names]
    want = want.astype(object).where(want.notna(), None)
    want = {t[:2]: t for t in want.itertuples(index=False, name=None)}
    assert len(got) == len(pdf)
    assert got == want
    assert {k for k, v in got.items() if v[-1] == "null_key"} == {
        (None, pdf.loc[1, "turn_idx"]),
        (pdf.loc[0, "conv_id"], None),
    }


def test_out_of_range_turn_idx_fails_its_turn_only(spark, tmp_path):
    """A bigint turn_idx above 2^31 among ~1k turns: the input contract
    casts it to null, so the checkpointed run completes, lineage counts
    that one turn as failed, and every other committed row equals the
    oracle's."""
    pdf = synth.generate_local(200, shuffled=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int64")
    pdf.loc[0, "turn_idx"] = 2**31 + 7
    sdf = spark.createDataFrame(pdf)
    assert dict(sdf.dtypes)["turn_idx"] == "bigint"
    job = CheckpointedExtraction(spark, sdf, str(tmp_path / "out"), buckets=2)
    assert job.run() == 2
    assert job.validate(deep=True)["complete"]
    assert sum(r.failed_count for r in job.lineage().collect()) == 1

    data = spark.read.parquet(job.data_dir).select(*OUTPUT_SCHEMA.names)
    got = {r[:2]: tuple(r) for r in data.collect()}
    assert got.pop((pdf.loc[0, "conv_id"], None))[-1] == "null_key"
    want = oracle_extract(pdf.drop(index=0), row_at_a_time=False)[OUTPUT_SCHEMA.names]
    want = want.astype(object).where(want.notna(), None)
    assert got == {t[:2]: t for t in want.itertuples(index=False, name=None)}


def test_operator_lineage_is_the_job_lineage(spark, tmp_path):
    """The ``extract_lineage`` operator's rows are the lineage aggregates
    that the checkpointed job commits at its default of 4 buckets, on the
    operator's corpus."""
    from ocr_spark.operators.transcripts import N_CONVS, extract_lineage

    sdf = spark.createDataFrame(synth.generate_local(N_CONVS, shuffled=False), TRANSCRIPT_SCHEMA)
    job = CheckpointedExtraction(spark, sdf, str(tmp_path / "out"))
    assert job.buckets == 4 and job.run() == 4
    ops = extract_lineage(spark, None)
    assert ops.count() == 4
    assert sorted(ops.collect()) == sorted(job.lineage().select(*ops.columns).collect())
