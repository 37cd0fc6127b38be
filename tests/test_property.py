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

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_spark.kernel.extract import OUTPUT_COLUMNS, extract_batch

# Payload soup: plain unicode, HTML-ish fragments, tool JSON, pathological
# whitespace/controls — far outside the synthetic generator's classes.
_payload = st.one_of(
    st.text(max_size=300),
    st.text(alphabet="<>/ab \n\"'&;=-", max_size=200),
    st.builds(
        lambda s: f'<html><nav><a href="x">{s}</a></nav><div><p>{s} {s} extra words</p></div></html>',
        st.text(max_size=60),
    ),
    st.builds(lambda s: f'{{"name":"t","output":{s!r}}}', st.text(max_size=80)),
    st.just(""),
    st.builds(lambda n: "word " * n, st.integers(0, 50)),
)

_row = st.fixed_dictionaries(
    {
        "conv_id": st.text(alphabet="abc0123", min_size=1, max_size=8),
        "turn_idx": st.integers(0, 1000),
        "role": st.sampled_from(["user", "assistant", "tool"]),
        "text": _payload,
        "tool": st.one_of(st.just(""), _payload),
    }
)


def _frame(rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
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
    assert out["status"].isin(["ok", "empty", "rejected", "tool_parse_error"]).all()
    # spans/fields are valid JSON whenever status is not a failure
    import json

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
