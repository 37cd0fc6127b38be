"""Top-level extraction kernel: one Arrow batch in, one Arrow batch out.

``extract_batch`` is the single entry point shared by the oracle (which calls
it on a whole pandas frame single-threaded) and the Spark pipeline (which
calls it per Arrow batch inside ``mapInPandas``).  Stages:

1-3. payload, classification and structure parse — one pass per turn:
   a tool turn's ``{"name":..., "output":...}`` JSON in the ``tool``
   column yields the payload (C22 in SURVEY §2.8 — new JSON surface for
   transcripts); the payload is then parsed as layout JSON
   (page->block->line->span reading order), else HTML (tag-tree
   segmentation + text/link-density boilerplate strip), else plain text
   split into paragraphs on blank lines (the engine-choice analog of the
   reference's tesseract-vs-Google split).
3b. bilingual split + expiry date — one pass per turn on the raw text.
4. cleanup chain (ordered, vectorized)   — kernel.cleanup
5. document gate (reject wrong-type docs) — port of ``is_american_nft``
   (NFT_OCR.py:959-978): >=3 lines each containing >=2 vitamin terms,
   found by one vocabulary scan per line.
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
_EXPIRY_RE1 = re.compile(r"(20[0-9]{2}[ :/]?[A-Z]{2,3}[ :/]?[0-9]{2})")
_EXPIRY_RE2 = re.compile(r"([A-Z]{2,3}[ :/][0-9]{2}[ :/]20[0-9]{2})")

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
# One scan finds every term a line holds: no term occurs inside another or
# overlaps one at word boundaries (tests/test_property.py pins this), so
# the alternation's non-overlapping matches are exactly the terms a
# per-term ``\bterm\b`` search would find.  Compiled, so the vectorized
# prefilter runs Python ``re`` too and ``\b`` means the same on both sides.
_VIT_RE = re.compile(r"\b(?:" + "|".join(re.escape(t) for t in _VIT_TERMS) + r")\b")
_REJECT_MIN_COUNT = 3


def _is_american(text: str) -> bool:
    # term -> number of distinct terms on the line of its first occurrence;
    # a blank line between blocks only adds an empty, term-free line
    first: dict[str, int] = {}
    for line in text.split("\n"):
        terms = set(_VIT_RE.findall(line))
        for t in terms:
            first.setdefault(t, len(terms))
    return sum(n >= 2 for n in first.values()) >= _REJECT_MIN_COUNT


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


def _parse_turn(keyed: bool, role: str, text: str, tool: str) -> tuple[str, list[str]]:
    """Stages 1-3 for one turn: (status, content blocks)."""
    if not keyed:
        # a turn with no key cannot be placed in its conversation: it fails
        # with a status of its own and is not parsed
        return STATUS_NULL_KEY, []
    if role == "tool" and tool:
        text = _tool_output(tool)
        if text is None:
            return STATUS_TOOL_ERROR, []
    if looks_like_layout(text):
        return STATUS_OK, layout_extract(text)
    if looks_like_html(text):
        return STATUS_OK, html_extract(text)
    return STATUS_OK, [x for x in _PARA_SPLIT_RE.split(text) if x.strip()]


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
    keyed = (pdf["conv_id"].notna() & pdf["turn_idx"].notna()).tolist()
    role = pdf.get("role", pd.Series(["user"] * n)).fillna("").astype(str).tolist()
    text = pdf["text"].fillna("").astype(str).tolist()
    tool = pdf.get("tool", pd.Series([""] * n)).fillna("").astype(str).tolist()

    # 1-3. payload + structure parse, one pass per turn
    parsed = [_parse_turn(*turn) for turn in zip(keyed, role, text, tool)]
    status = [st for st, _ in parsed]
    blocks = [bl for _, bl in parsed]

    # 3b. bilingual duplicate split (split_ingrdients,
    # Ingredients_OCR.py:14-25): a block carrying the content twice — EN
    # then FR, each opened by a fuzzy "Ingredients" header — is cut at the
    # second header into two blocks, BEFORE cleanup lowercases the marker.
    # Vectorized prefilter: two fuzzy occurrences always retain >= 2
    # literal marker 3-grams (see kernel/bilingual.py), so the per-row
    # token scan runs only on candidate rows.
    joined = ["\n\n".join(bl) for bl in blocks]
    bi_cand = (
        pd.Series(joined, dtype="string[pyarrow]").str.count(bilingual.PREFILTER_PAT) >= 2
    ).tolist()
    # 3c. expiry dates from the RAW text (extract_expiry,
    # Ingredients_OCR.py:295-305): pattern 1, else pattern 2, else none
    raw, dates = [], []
    for bl, jn, cand in zip(blocks, joined, bi_cand):
        r = "\n\n".join(bilingual.split_blocks(bl)) if cand else jn
        m = _EXPIRY_RE1.search(r) or _EXPIRY_RE2.search(r)
        raw.append(r)
        dates.append(m and m[1])

    # 4. ordered cleanup chain (vectorized)
    cleaned = cleanup_series(pd.Series(raw, dtype=object))

    # 5. document gate (is_american_nft port, NFT_OCR.py:959-978) on the
    # rows the vectorized vocabulary prefilter flags; a gated-out turn
    # (rejected or empty) carries no text and no fields, dates included
    gate_cand = cleaned.str.contains(_VIT_RE).tolist()
    texts = cleaned.tolist()
    for i, (st, tx, cand) in enumerate(zip(status, texts, gate_cand)):
        if st == STATUS_OK:
            if cand and _is_american(tx):
                status[i], texts[i] = STATUS_REJECTED, ""
            elif not tx:
                status[i] = STATUS_EMPTY
        if not texts[i]:
            dates[i] = None
    cleaned = pd.Series(texts, dtype=object)

    # 6. fields
    fields_json, n_fields = extract_fields_series(
        cleaned, expiry=pd.Series(dates, dtype=object)
    )

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
        "status": pd.Series(status, dtype=object),
    }
    if not with_spans:
        del cols["spans_json"]
    return pd.DataFrame(cols)
