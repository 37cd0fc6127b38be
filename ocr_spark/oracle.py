"""Single-threaded ground-truth oracle.

Runs the same kernel as the Spark pipeline but one row at a time in plain
Python, then sorts by (conv_id, turn_idx) — the ground truth the parity
suite compares against (BASELINE.json:15 "per-turn text equality under
stable turn ordering").  Processing rows individually (batch size 1) also
proves the vectorized batch path has no cross-row state leakage; a second
mode runs the whole frame as one batch to pin batch-size invariance.
"""

from __future__ import annotations

import pandas as pd

from ocr_spark.kernel.extract import extract_batch


def oracle_extract(pdf: pd.DataFrame, row_at_a_time: bool = True) -> pd.DataFrame:
    """Extract every turn single-threaded; stable (conv_id, turn_idx) order."""
    if row_at_a_time:
        parts = [extract_batch(pdf.iloc[[i]]) for i in range(len(pdf))]
        out = pd.concat(parts, ignore_index=True) if parts else extract_batch(pdf)
    else:
        out = extract_batch(pdf)
    return out.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


def _levenshtein(a: str, b: str) -> int:
    """Plain full-DP edit distance (the oracle mirror must be independent of
    both Spark's builtin and the kernel's banded early-exit form)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def oracle_enrich(extracted: pd.DataFrame, lexicon: list[str]) -> pd.DataFrame:
    """Pure-pandas mirror of ``ocr_spark.enrich.enrich_extracted`` — the
    independent ground truth the pinned ``EXTRACT_ENRICHED_SQL`` constants
    derive from (round-5; previously they were captured from the Spark
    implementation under test, a determinism pin rather than a
    cross-check).

    Same contract as the Spark side: whitespace tokenization of
    ``extracted_text``; a token corrects to a lexicon word iff it is not
    already in the lexicon, has length >= 4, and exactly one lexicon word
    sits at its minimum levenshtein distance in [1, 2] (ties never
    correct); positions preserved; per-turn language = majority vote of
    FR vs EN marker hits over the ORIGINAL tokens; token-less turns are
    ('', 0, 'und')."""
    import re

    from ocr_spark.enrich import EN_MARKERS, FR_MARKERS

    lex = set(lexicon)

    def correct(tok: str) -> str | None:
        if tok in lex or len(tok) < 4:
            return None
        best_d, best_w, n_best = 3, None, 0
        for w in lex:
            d = _levenshtein(tok, w)
            if 1 <= d <= 2:
                if d < best_d:
                    best_d, best_w, n_best = d, w, 1
                elif d == best_d:
                    n_best += 1
        return best_w if n_best == 1 else None

    cache: dict[str, str | None] = {}
    rows = []
    for r in extracted.itertuples(index=False):
        text = r.extracted_text if isinstance(r.extracted_text, str) else ""
        toks = [t for t in re.split(r"\s+", text) if t]
        if not toks:
            rows.append((r.conv_id, r.turn_idx, r.status, "", 0, "und"))
            continue
        out_toks, n_fix = [], 0
        for t in toks:
            if t not in cache:
                cache[t] = correct(t)
            fixed = cache[t]
            out_toks.append(fixed if fixed is not None else t)
            n_fix += fixed is not None
        fr = sum(t in FR_MARKERS for t in toks)
        en = sum(t in EN_MARKERS for t in toks)
        lang = "fr" if fr > en else "en" if en > fr else "und"
        rows.append(
            (r.conv_id, r.turn_idx, r.status, " ".join(out_toks), n_fix, lang)
        )
    return pd.DataFrame(
        rows,
        columns=[
            "conv_id", "turn_idx", "status",
            "corrected_text", "n_corrections", "language",
        ],
    )
