"""Top-level extraction kernel: one Arrow batch in, one Arrow batch out.

``extract_batch`` is the single entry point shared by the oracle (which calls
it on a whole pandas frame single-threaded) and the Spark pipeline (which
calls it per Arrow batch inside ``mapInPandas``).  Stages:

1. payload resolution  — tool turns carry ``{"name":..., "output":...}``
   JSON in the ``tool`` column; the output string is the payload
   (C22 in SURVEY §2.8 — new JSON surface for transcripts).
2. payload classification — layout JSON / HTML / plain text
   (the engine-choice analog of the reference's tesseract-vs-Google split).
3. structure parse -> content blocks
   - HTML: tag-tree segmentation + text/link-density boilerplate strip
   - layout JSON: page->block->line->span reading-order parse
   - plain: paragraph split on blank lines
4. cleanup chain (ordered, vectorized)   — kernel.cleanup
5. document gate (reject wrong-type docs) — port of ``is_american_nft``
   (NFT_OCR.py:959-978): >=3 lines each containing >=2 vitamin terms.
6. field extraction + conflict/absence   — kernel.fields
7. token spans + counters                — vectorized explode pipeline.

Output columns (``OUTPUT_SCHEMA`` in pipeline.py):
    conv_id, turn_idx, extracted_text, fields_json,
    n_blocks, n_lines, n_tokens, n_fields, status
``with_spans=True`` (the oracle side) adds ``spans_json`` after
``extracted_text``; the Spark pipeline derives spans JVM-side instead.
"""

from __future__ import annotations

import json
import re

import pandas as pd

from ocr_spark.kernel import bilingual
from ocr_spark.kernel.cleanup import cleanup_series
from ocr_spark.kernel.fields import extract_fields_series
from ocr_spark.kernel.html import html_extract, looks_like_html
from ocr_spark.kernel.layout import layout_extract, looks_like_layout, scrub_surrogates

_PARA_SPLIT_RE = re.compile(r"\n\s*\n")

# expiry-date patterns, mirrored from ``extract_expiry``
# (Ingredients_OCR.py:295-305): "2024 JAN 05" / "2024:JAN:05" first, then
# the "JAN 05 2024" order as fallback.  Run on the RAW text (pre-cleanup,
# like the reference, which scans the raw OCR string) — the cleanup chain
# lowercases, which would kill the [A-Z] month token.
_EXPIRY_RE1 = r"(20[0-9]{2}[ :/]?[A-Z]{2,3}[ :/]?[0-9]{2})"
_EXPIRY_RE2 = r"([A-Z]{2,3}[ :/][0-9]{2}[ :/]20[0-9]{2})"

# Faithful port of the reject-gate vocabulary and counting rule of
# ``is_american_nft`` (NFT_OCR.py:959-978): for each vocabulary term, look
# at the line of its FIRST occurrence; if another vocabulary term shares
# that line, the term counts.  count >= 3 (">= 2 complete lines", or one
# line with three terms) -> reject.
_VIT_TERMS = (
    "vitamin a", "vitamin c", "vitamin d", "vitamin b 6", "calcium", "iron",
    "thiamin", "folate", "pantothenic", "phosphorus", "magnesium", "zinc",
    "manganese", "niacin",
)
_VIT_RES = tuple(re.compile(r"\b" + re.escape(t) + r"\b") for t in _VIT_TERMS)
_ANY_VIT_RE = re.compile("|".join(re.escape(t) for t in _VIT_TERMS))
_REJECT_MIN_COUNT = 3


_EMPTY_SET: frozenset = frozenset()


def _is_american(text: str) -> bool:
    lines = [ln for block in text.split("\n\n") for ln in block.split("\n")]
    first_line: dict[str, int] = {}
    line_terms: list = []
    for idx, line in enumerate(lines):
        # cheap superset prefilter: the unanchored alternation can only
        # over-match vs the \b-bounded per-term scans, so a miss here
        # proves no term is present — skips the 14 per-term searches on
        # the (vast majority of) term-free lines.  Same `present` sets.
        if _ANY_VIT_RE.search(line) is None:
            line_terms.append(_EMPTY_SET)
            continue
        present = {t for t, rx in zip(_VIT_TERMS, _VIT_RES) if rx.search(line)}
        line_terms.append(present)
        for t in present:
            first_line.setdefault(t, idx)
    count = sum(1 for t, ln in first_line.items() if len(line_terms[ln]) >= 2)
    return count >= _REJECT_MIN_COUNT

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_REJECTED = "rejected"
STATUS_TOOL_ERROR = "tool_parse_error"
STATUS_NULL_KEY = "null_key"

OUTPUT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "extracted_text",
    "spans_json",
    "fields_json",
    "n_blocks",
    "n_lines",
    "n_tokens",
    "n_fields",
    "status",
]


def _tool_output(raw: str) -> str | None:
    """Parse a tool-turn JSON payload; None signals a parse failure
    (nesting too deep for the JSON parser included)."""
    try:
        doc = json.loads(raw)
        if isinstance(doc, dict):
            doc = doc.get("output", "")
        if isinstance(doc, str):
            return scrub_surrogates(doc)
        # non-string JSON (nested 'output', or a top-level list/number/
        # null): canonical JSON text, never Python repr; the default
        # ensure_ascii escapes any lone surrogate
        return json.dumps(doc, sort_keys=True)
    except (ValueError, TypeError, RecursionError):
        return None


def _spans_and_counts(
    extracted: pd.Series, build: bool = True
) -> tuple[pd.Series | None, pd.Series, pd.Series, pd.Series]:
    """Vectorized token-span assembly from extracted text.

    Span = (block_id, line_id, pos, token) over the canonical separators
    (blocks: blank line, lines: newline, tokens: single space) — the
    transcript analog of the reference's (block_num, line, dist) triple.
    Returns (spans_json, n_blocks, n_lines, n_tokens) aligned to input index.

    Wire format is line-grouped columnar: one record per line,
    ``{"b":<block>,"l":<line>,"t":["tok0","tok1",...]}``, with a token's
    ``pos`` implicit in its array index (posexplode downstream).  The
    per-token record form carried (b, l, p) on EVERY token — ~5x the
    bytes of the text itself — and spans_json dominated the reassembly
    shuffle (measured 483 MB of 539 MB at 626k turns); the grouped form
    is ~4x smaller for identical information, which cuts the Python
    json-assembly time AND the window-shuffle volume.
    """
    # A direct per-row assembler: each row is one C-level str.split pass
    # plus an f-string join.  Beats the equivalent pandas
    # split/explode/cumcount/groupby pipeline ~5x (no index machinery per
    # token) — verified byte-identical before the swap.
    spans: list[str] = []
    nb: list[int] = []
    nl: list[int] = []
    nt: list[int] = []
    for text in extracted:
        if not text:
            spans.append("[]")
            nb.append(0)
            nl.append(0)
            nt.append(0)
            continue
        items: list[str] = []
        blocks = lines = tokens = 0
        for b, block in enumerate(text.split("\n\n")):
            blocks += 1
            for li, line in enumerate(block.split("\n")):
                lines += 1
                if not build:
                    # count-only fast path: same split walk (so the counts
                    # are definitionally identical), no escaping/assembly
                    tokens += sum(1 for tok in line.split(" ") if tok)
                    continue
                toks: list[str] = []
                for tok in line.split(" "):
                    if not tok:
                        continue
                    # json.dumps on the rare path covers backslash, quote,
                    # AND any control char cleanup didn't strip (its
                    # escaping of \\ and " is identical to the manual
                    # replaces); ensure_ascii=False keeps unicode bytes.
                    if "\\" in tok or '"' in tok or min(tok) < " ":
                        tok = json.dumps(tok, ensure_ascii=False)[1:-1]
                    toks.append(tok)
                if toks:
                    quoted = '","'.join(toks)
                    items.append(f'{{"b":{b},"l":{li},"t":["{quoted}"]}}')
                tokens += len(toks)
        spans.append("[" + ",".join(items) + "]")
        nb.append(blocks)
        nl.append(lines)
        nt.append(tokens)
    idx = extracted.index
    return (
        pd.Series(spans, index=idx) if build else None,
        pd.Series(nb, index=idx, dtype="int64"),
        pd.Series(nl, index=idx, dtype="int64"),
        pd.Series(nt, index=idx, dtype="int64"),
    )


def extract_turn(text: str, tool: str = "", role: str = "user") -> dict:
    """Scalar convenience wrapper over ``extract_batch`` (tests, debugging)."""
    pdf = pd.DataFrame(
        {"conv_id": ["_"], "turn_idx": [0], "role": [role], "text": [text], "tool": [tool]}
    )
    return extract_batch(pdf).iloc[0].to_dict()


def extract_batch(pdf: pd.DataFrame, with_spans: bool = True) -> pd.DataFrame:
    """Extract a batch of turns.  Pure function of (text, tool, role).

    ``with_spans=False`` (the at-scale pipeline posture) skips assembling
    the ``spans_json`` column — the span relation is a pure function of
    ``extracted_text`` (canonical separators), so downstream consumers
    derive it losslessly JVM-side
    (``ocr_spark.operators.transcripts.derive_spans``) instead of paying
    its bytes through every Arrow hop and shuffle; the count columns
    (n_blocks/n_lines/n_tokens) are identical in both modes (pinned by
    tests/test_parity.py::test_derived_spans_match_kernel)."""
    pdf = pdf.reset_index(drop=True)
    n = len(pdf)
    text = pdf["text"].fillna("").astype(str)
    tool = pdf.get("tool", pd.Series([""] * n)).fillna("").astype(str)
    role = pdf.get("role", pd.Series(["user"] * n)).fillna("").astype(str)

    status = pd.Series(STATUS_OK, index=text.index)

    # 1. payload resolution
    payload = text.copy()
    tool_mask = (role == "tool") & (tool != "")
    if tool_mask.any():
        parsed = tool[tool_mask].map(_tool_output)
        failed = parsed.isna()
        status.loc[parsed.index[failed]] = STATUS_TOOL_ERROR
        payload.loc[tool_mask] = parsed.fillna("")
    # a turn with no key cannot be placed in its conversation: it fails
    # with a status of its own (over a tool parse error) and is not parsed
    status.loc[pdf["conv_id"].isna() | pdf["turn_idx"].isna()] = STATUS_NULL_KEY

    # 2-3. classification + structure parse -> list-of-blocks per row
    layout_mask = payload.map(looks_like_layout) & (status == STATUS_OK)
    html_mask = payload.map(looks_like_html) & ~layout_mask & (status == STATUS_OK)
    plain_mask = ~layout_mask & ~html_mask & (status == STATUS_OK)

    blocks = pd.Series([[]] * n, index=payload.index, dtype=object)
    if layout_mask.any():
        blocks.loc[layout_mask] = payload[layout_mask].map(layout_extract)
    if html_mask.any():
        blocks.loc[html_mask] = payload[html_mask].map(html_extract)
    if plain_mask.any():
        plain = payload[plain_mask].str.split(_PARA_SPLIT_RE)
        blocks.loc[plain_mask] = plain.map(lambda xs: [x for x in xs if x.strip()])

    # 3b. bilingual duplicate split (split_ingrdients,
    # Ingredients_OCR.py:14-25): a block carrying the content twice — EN
    # then FR, each opened by a fuzzy "Ingredients" header — is cut at the
    # second header into two blocks, BEFORE cleanup lowercases the marker.
    # Vectorized prefilter: two fuzzy occurrences always retain >= 2
    # literal marker 3-grams (see kernel/bilingual.py), so the per-row
    # token scan runs only on candidate rows.
    joined_pre = blocks.str.join("\n\n").fillna("")
    bi_cand = (
        joined_pre.astype("string[pyarrow]")
        .str.count(bilingual.PREFILTER_PAT)
        .fillna(0)
        .astype(int)
        >= 2
    )
    if bi_cand.any():
        blocks = blocks.copy()
        blocks.loc[bi_cand] = blocks[bi_cand].map(bilingual.split_blocks)
        raw = blocks.str.join("\n\n").fillna("")
    else:
        raw = joined_pre

    # 3c. expiry dates from the RAW text (extract_expiry,
    # Ingredients_OCR.py:295-305): pattern 1, else pattern 2, else none
    expiry = raw.str.extract(_EXPIRY_RE1, expand=False)
    need2 = expiry.isna()
    if need2.any():
        expiry.loc[need2] = raw[need2].str.extract(_EXPIRY_RE2, expand=False)

    # 4. ordered cleanup chain (vectorized)
    cleaned = cleanup_series(raw)

    # 5. document gate (is_american_nft port, NFT_OCR.py:959-978); cheap
    # vectorized prefilter, then the exact first-occurrence-line rule on
    # the few candidate rows
    has_vit = cleaned.str.contains(_ANY_VIT_RE, regex=True).fillna(False).astype(bool)
    reject_mask = pd.Series(False, index=cleaned.index)
    if has_vit.any():
        reject_mask.loc[has_vit] = cleaned[has_vit].map(_is_american).astype(bool)
    reject_mask = reject_mask & (status == STATUS_OK)
    status.loc[reject_mask] = STATUS_REJECTED
    cleaned = cleaned.where(~reject_mask, "")
    status.loc[(cleaned == "") & (status == STATUS_OK)] = STATUS_EMPTY

    # 6. fields (expiry blanked on rejected/empty rows: a gated-out turn
    # carries no fields at all, dates included)
    expiry = expiry.where(cleaned != "", None)
    fields_json, n_fields = extract_fields_series(cleaned, expiry=expiry)

    # 7. spans + counters
    spans_json, n_blocks, n_lines, n_tokens = _spans_and_counts(
        cleaned, build=with_spans
    )

    cols = {
        "conv_id": pdf["conv_id"],
        "turn_idx": pdf["turn_idx"],
        "extracted_text": cleaned,
        "spans_json": spans_json,
        "fields_json": fields_json,
        "n_blocks": n_blocks,
        "n_lines": n_lines,
        "n_tokens": n_tokens,
        "n_fields": n_fields,
        "status": status,
    }
    if not with_spans:
        del cols["spans_json"]
    return pd.DataFrame(cols)
