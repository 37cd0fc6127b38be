"""Property-based kernel checks (hypothesis, no Spark session needed).

The load-bearing property of the vectorized kernel is *batch-split
invariance*: extracting a frame in one batch must equal extracting any
partition of it batch-by-batch and concatenating — this is exactly what
guarantees the Spark `mapInPandas` output (arbitrary Arrow batching,
arbitrary row order per the row-key repartition, which splits every
conversation over all kernel tasks) matches the
single-threaded oracle byte-for-byte.  Also: the kernel must never crash
on arbitrary unicode payloads (F11 null-guard semantics).
"""

from __future__ import annotations

import json
import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_spark.kernel.extract import _VIT_TERMS, OUTPUT_COLUMNS, _is_american, extract_batch

# Reject-gate vocabulary next to near misses: a term glued to more letters,
# a spacing variant, a plural, and a non-ASCII letter touching a term.
_NEAR_MISSES = ("ironing", "vitamin b6", "vitamins a", "éiron", "zincs", "salt 5 mg")
_gate_line = st.lists(
    st.sampled_from(_VIT_TERMS + _NEAR_MISSES), min_size=1, max_size=4
).flatmap(lambda ws: st.sampled_from([" ", ", ", "-", ""]).map(lambda sep: sep.join(ws)))
_gate_text = st.lists(
    st.tuples(_gate_line, st.sampled_from(["\n", "\n\n", "\n\n\n"])), max_size=8
).map(lambda lines: "".join(ln + sep for ln, sep in lines))


def _layout(blocks: list[dict]) -> str:
    return json.dumps({"pages": [{"page": 1, "blocks": blocks}]})


def _layout_block(bbox: list, text: str) -> dict:
    return {"bbox": bbox, "lines": [{"y": 1, "spans": [{"x": 0, "text": text}]}]}


_tool_doc = st.one_of(
    st.text(alphabet='ab "\\\n', max_size=40),  # escaped as \" and \\ by json.dumps
    st.just("salt \ud800 free"),  # lone surrogate, escaped as \ud800
    st.integers(),
    st.none(),
    st.lists(st.text(max_size=5), max_size=3),
    st.dictionaries(st.text(max_size=5), st.text(max_size=5), max_size=2),
)

# Payload soup: plain unicode, HTML-ish fragments, tool JSON, pathological
# whitespace/controls — far outside the synthetic generator's classes —
# plus the inputs each kernel stage branches on: layout JSON (valid, a
# bbox too short to read, nesting too deep for the JSON parser), lines of
# reject-gate terms, two fuzzy "Ingredients" headers and both expiry orders.
_payload = st.one_of(
    st.text(max_size=300),
    st.text(alphabet="<>/ab \n\"'&;=-", max_size=200),
    st.builds(
        lambda s: f'<html><nav><a href="x">{s}</a></nav><div><p>{s} {s} extra words</p></div></html>',
        st.text(max_size=60),
    ),
    st.builds(lambda s: f'{{"name":"t","output":{s!r}}}', st.text(max_size=80)),
    st.builds(lambda out: json.dumps({"name": "t", "output": out}), _tool_doc),
    st.builds(json.dumps, _tool_doc),  # a non-dict (or output-less) document
    st.just(""),
    st.builds(lambda n: "word " * n, st.integers(0, 50)),
    st.builds(
        lambda texts: _layout([_layout_block([0, 10 * i, 50, 10 * i + 8], t) for i, t in enumerate(texts)]),
        st.lists(st.one_of(st.text(max_size=30), _gate_line), max_size=4),
    ),
    st.builds(lambda n, t: _layout([_layout_block([5] * n, t)]), st.integers(0, 1), st.text(max_size=20)),
    st.builds(lambda d: '{"pages": ' + "[" * d + "]" * d + "}", st.sampled_from([1, 40, 5000])),
    _gate_text,
    st.builds(
        lambda head, a, b: f"Ingredients: {a} {head}: {b}",
        st.sampled_from(["Ingredients", "Ingrédients", "lngredients", "INGREDIENTS"]),
        st.text(max_size=40),
        st.text(max_size=40),
    ),
    st.builds(
        lambda y, mon, d, ymd: f"best before {y}:{mon}:{d:02d}" if ymd else f"exp {mon} {d:02d} {y}",
        st.integers(1990, 2099),
        st.sampled_from(["JAN", "DEC", "AB", "jan"]),
        st.integers(0, 99),
        st.booleans(),
    ),
)

_row = st.fixed_dictionaries(
    {
        "conv_id": st.one_of(st.none(), st.text(alphabet="abc0123", min_size=1, max_size=8)),
        "turn_idx": st.one_of(st.none(), st.integers(0, 1000)),
        "role": st.sampled_from(["user", "assistant", "tool"]),
        "text": _payload,
        "tool": st.one_of(st.just(""), _payload),
    }
)


def _frame(rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    return pdf


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_row, min_size=1, max_size=12), st.integers(0, 11))
def test_batch_split_invariance(rows, cut):
    pdf = _frame(rows)
    cut = min(cut, len(pdf))
    whole = extract_batch(pdf).reset_index(drop=True)
    parts = [p for p in (pdf.iloc[:cut], pdf.iloc[cut:]) if len(p)]
    split = pd.concat([extract_batch(p) for p in parts], ignore_index=True)
    pd.testing.assert_frame_equal(whole, split)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_row, min_size=1, max_size=8))
def test_never_crashes_and_schema_stable(rows):
    out = extract_batch(_frame(rows))
    assert list(out.columns) == OUTPUT_COLUMNS
    assert len(out) == len(rows)
    assert out["status"].isin(["ok", "empty", "rejected", "tool_parse_error", "null_key"]).all()
    # spans/fields are valid JSON whenever status is not a failure
    for _, r in out.iterrows():
        json.loads(r["spans_json"])
        json.loads(r["fields_json"])


def test_nan_and_none_payloads():
    pdf = _frame(
        [
            {"conv_id": "x", "turn_idx": 0, "role": "user", "text": None, "tool": ""},
            {"conv_id": "x", "turn_idx": 1, "role": "tool", "text": "", "tool": None},
        ]
    )
    out = extract_batch(pdf)
    assert out["status"].tolist() == ["empty", "empty"]


def _per_term_is_american(text: str) -> bool:
    """Reference reject rule in its direct form: one ``\\bterm\\b``
    search per vocabulary term per line."""
    lines = [ln for block in text.split("\n\n") for ln in block.split("\n")]
    first_line: dict[str, int] = {}
    line_terms: list[set] = []
    for idx, line in enumerate(lines):
        present = {t for t in _VIT_TERMS if re.search(r"\b" + re.escape(t) + r"\b", line)}
        line_terms.append(present)
        for t in present:
            first_line.setdefault(t, idx)
    return sum(len(line_terms[ln]) >= 2 for ln in first_line.values()) >= 3


@settings(max_examples=300, deadline=None)
@given(_gate_text)
def test_gate_scan_matches_per_term_search(text):
    assert _is_american(text) == _per_term_is_american(text)


def test_gate_vocabulary_terms_never_overlap():
    """The one-scan gate is exact only while no term occurs inside another
    and no term's trailing words are another term's leading words (a match
    would hide the overlapping one); terms are words joined by single
    spaces, so spaces are their only inner word boundaries."""
    for a in _VIT_TERMS:
        assert re.fullmatch(r"\w+( \w+)*", a), a
        for b in _VIT_TERMS:
            if a == b:
                continue
            assert b not in a, (a, b)
            wa, wb = a.split(" "), b.split(" ")
            for k in range(1, min(len(wa), len(wb)) + 1):
                assert wa[-k:] != wb[:k], (a, b)
