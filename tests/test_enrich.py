"""Enrichment stage: unique-best spell correction + language vote over
extraction output (the Ingredients_OCR flow, SURVEY §3.2)."""

from __future__ import annotations

import pandas as pd

from ocr_spark.enrich import enrich_extracted
from ocr_spark.pipeline import extract_transcripts

LEXICON = ["tomato", "paprika", "vinegar", "protein", "sodium", "tomate"]


def _turns(spark, texts):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [""] * len(texts),
        }
    )
    return spark.createDataFrame(pdf)


def test_unique_best_corrects_and_ties_do_not(spark):
    df = _turns(
        spark,
        [
            "fresh sodiom sauce",        # sodiom -> sodium (unique, dist 1)
            "tomatz paste",              # dist 1 to BOTH tomato and tomate -> tie, no fix
            "paprika is already right",  # exact lexicon hit, untouched
        ],
    )
    out = enrich_extracted(extract_transcripts(df), LEXICON)
    rows = {r.turn_idx: r for r in out.collect()}
    assert rows[0].corrected_text == "fresh sodium sauce"
    assert rows[0].n_corrections == 1
    assert "tomatz" in rows[1].corrected_text  # tie-kill: unchanged
    assert rows[1].n_corrections == 0
    assert rows[2].n_corrections == 0


def test_language_majority_vote(spark):
    df = _turns(
        spark,
        [
            "the sauce with sugar and milk",
            "les sauces avec des sucre pour",
            "word salad only",
        ],
    )
    out = enrich_extracted(extract_transcripts(df), LEXICON)
    rows = {r.turn_idx: r for r in out.collect()}
    assert rows[0].language == "en"
    assert rows[1].language == "fr"
    assert rows[2].language == "und"


def test_word_positions_preserved(spark):
    df = _turns(spark, ["alpha tomato beta gamma"])
    out = enrich_extracted(extract_transcripts(df), LEXICON)
    r = out.collect()[0]
    assert r.corrected_text.split(" ")[0] == "alpha"
    assert r.corrected_text.split(" ")[2] == "beta"


def test_oracle_mirror_matches_spark_enrichment(spark):
    """The pandas oracle mirror (``oracle.oracle_enrich``) reproduces the
    Spark enrichment row-for-row on hand cases covering every branch:
    unique-best fix, tie-kill, exact-hit skip, language votes, empty."""
    from ocr_spark.oracle import oracle_enrich

    texts = [
        "fresh sodiom sauce",            # unique-best correction
        "tomatz paste",                  # tie -> no fix
        "paprika is already right",      # exact lexicon hit
        "the sauce with sugar and milk",  # en vote
        "les sauces avec des sucre pour",  # fr vote
        "",                              # token-less turn
    ]
    extracted = extract_transcripts(_turns(spark, texts))
    got = (
        enrich_extracted(extracted, LEXICON)
        .select("conv_id", "turn_idx", "status",
                "corrected_text", "n_corrections", "language")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    mirror = (
        oracle_enrich(
            extracted.select(
                "conv_id", "turn_idx", "status", "extracted_text"
            ).toPandas(),
            LEXICON,
        )
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    for col in ("corrected_text", "n_corrections", "language"):
        assert list(got[col]) == list(mirror[col]), col


def test_oracle_mirror_nan_text_is_tokenless():
    """A null extracted_text reaches the mirror as pandas NaN (truthy, not
    a str); it must read as a token-less turn instead of raising."""
    from ocr_spark.oracle import oracle_enrich

    extracted = pd.DataFrame(
        {"conv_id": ["c0"], "turn_idx": [0], "status": ["empty"],
         "extracted_text": [float("nan")]}
    )
    r = oracle_enrich(extracted, LEXICON).iloc[0]
    assert (r.corrected_text, r.n_corrections, r.language) == ("", 0, "und")


def test_enriched_counts_pin_derives_from_oracle_mirror(spark):
    """EXTRACT_ENRICHED_SQL's pinned constants are now DERIVED ground
    truth, not an implementation capture (round-4 ADVICE): the pandas
    oracle chain (oracle_extract -> oracle_enrich, zero Spark code)
    over the same deterministic 60-conv corpus must reproduce the
    literal table the DuckDB oracle serves."""
    import duckdb

    from ocr_spark import synth
    from ocr_spark.operators.transcripts import EXTRACT_ENRICHED_SQL
    from ocr_spark.oracle import oracle_enrich, oracle_extract

    pdf = synth.generate_local(60, shuffled=True)
    enriched = oracle_enrich(
        oracle_extract(pdf, row_at_a_time=False), synth.lexicon_words()
    )
    derived = (
        enriched.assign(chars=enriched.corrected_text.str.len())
        .groupby(["status", "language"], as_index=False)
        .agg(
            n_turns=("conv_id", "size"),
            sum_corrections=("n_corrections", "sum"),
            sum_chars=("chars", "sum"),
        )
        .sort_values(["status", "language"])
        .reset_index(drop=True)
    )
    pinned = (
        duckdb.sql(EXTRACT_ENRICHED_SQL)
        .df()
        .sort_values(["status", "language"])
        .reset_index(drop=True)
    )
    assert len(derived) == len(pinned)
    for col in ("status", "language"):
        assert list(derived[col]) == list(pinned[col]), col
    for col in ("n_turns", "sum_corrections", "sum_chars"):
        assert [int(x) for x in derived[col]] == [int(x) for x in pinned[col]], col
