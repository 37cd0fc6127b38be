"""Golden semantic tests for the extraction kernel.

Ports the reference's 9 end-to-end golden tests (tests/test_OCR.py in
/root/reference — see SURVEY.md §5.1) onto synthetic transcript payloads:
each test pins one disambiguation/cleanup semantic, with exact expected
values, plus kernel-level invariants (batch-size independence, purity).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from ocr_spark.kernel.cleanup import cleanup_one
from ocr_spark.kernel.extract import extract_batch, extract_turn
from ocr_spark.kernel.html import html_extract
from ocr_spark.kernel.layout import layout_extract
from ocr_spark.oracle import oracle_extract
from ocr_spark import synth


def fields(text, **kw):
    return json.loads(extract_turn(text, **kw)["fields_json"])


# --- HTML boilerplate stripping (north_star core) -------------------------

def test_html_chrome_dropped():
    html = (
        "<html><body><nav><a href='/'>home</a> <a href='/a'>about us page</a></nav>"
        "<header><h1>big chrome banner</h1></header>"
        "<div><p>the actual main content of this page has plenty of words</p></div>"
        "<aside>sidebar junk words here</aside>"
        "<footer>copyright footer text</footer></body></html>"
    )
    blocks = html_extract(html)
    assert blocks == ["the actual main content of this page has plenty of words"]


def test_html_link_density_strips_link_lists():
    html = (
        "<div><a href='1'>one two</a> <a href='2'>three four</a> <a href='3'>five six</a></div>"
        "<div>real sentence with mostly plain text and one <a href='x'>link</a> inside</div>"
    )
    blocks = html_extract(html)
    assert len(blocks) == 1
    assert blocks[0].startswith("real sentence")


def test_html_short_blocks_dropped_headings_kept():
    html = "<div>ok</div><h2>heading</h2><p>three words here</p>"
    assert html_extract(html) == ["heading", "three words here"]


def test_html_entities_and_comments():
    html = "<p><!-- hidden -->a &amp; b &lt;tag&gt; c</p>"
    assert html_extract(html) == ["a & b <tag> c"]


def test_script_style_dropped():
    html = "<p>keep these words visible</p><script>drop this entirely now ok</script>"
    assert html_extract(html) == ["keep these words visible"]


# --- PDF layout reading order (W2/W3, NFT_OCR.py:80-82,332-334) -----------

def test_layout_reading_order():
    payload = json.dumps(
        {
            "pages": [
                {
                    "page": 1,
                    "blocks": [
                        {"bbox": [0, 100, 10, 110], "lines": [{"y": 100, "spans": [{"x": 0, "text": "second"}]}]},
                        {"bbox": [0, 10, 10, 20], "lines": [{"y": 10, "spans": [{"x": 5, "text": "block"}, {"x": 0, "text": "first"}]}]},
                    ],
                }
            ]
        }
    )
    assert layout_extract(payload) == ["first block", "second"]


def test_layout_same_line_merge():
    payload = json.dumps(
        {
            "pages": [
                {
                    "page": 1,
                    "blocks": [
                        {
                            "bbox": [0, 0, 10, 10],
                            "lines": [
                                {"y": 10, "spans": [{"x": 0, "text": "left"}]},
                                {"y": 12, "spans": [{"x": 9, "text": "right"}]},
                            ],
                        }
                    ],
                }
            ]
        }
    )
    assert layout_extract(payload) == ["left right"]


def test_layout_malformed_is_failure_not_crash():
    assert layout_extract('{"pages": "nope"}') == []


def test_layout_short_bbox_still_extracts():
    """Regression (round-2 review): the band-order code must accept 2- and
    3-element bboxes like the pre-band code did (it only read x0/y0) —
    zero-extent defaults keep them in plain (y0, x0) order."""
    payload = json.dumps(
        {
            "pages": [
                {
                    "page": 1,
                    "blocks": [
                        {"bbox": [10, 10], "lines": [{"y": 10, "spans": [{"x": 0, "text": "calories 100"}]}]},
                        {"bbox": [10, 50, 200], "lines": [{"y": 50, "spans": [{"x": 0, "text": "protein 5 g"}]}]},
                    ],
                }
            ]
        }
    )
    assert layout_extract(payload) == ["calories 100", "protein 5 g"]
    # <2 elements still degrades to [] (failure span), as before
    assert layout_extract('{"pages":[{"blocks":[{"bbox":[5],"lines":[{"y":1,"spans":[{"x":0,"text":"a"}]}]}]}]}') == []


def test_fields_pass2_backfills_unit_when_qty_present():
    """Regression (round-2 review): the fill-missing merge is per COLUMN —
    a field whose qty came from pass 1 can still backfill unit/dv from
    pass 2, so the P2 prefilter must not skip rows where only unit/dv are
    missing."""
    import pandas as pd

    from ocr_spark.kernel.fields import extract_fields_series

    fields_json, n = extract_fields_series(pd.Series(["protein: 10\n5 g of protein"]))
    doc = json.loads(fields_json.iloc[0])
    assert doc["protein"]["qty"] == "10"  # pass 1 wins on qty
    assert doc["protein"]["unit"] == "g"  # pass 2 backfills the unit


def _field_docs(texts, dates=None, index=None):
    from ocr_spark.kernel.fields import extract_fields_series

    cleaned = pd.Series(texts, index=index)
    expiry = None if dates is None else pd.Series(dates, index=cleaned.index)
    fields_json, n = extract_fields_series(cleaned, expiry=expiry)
    assert n.dtype == "int64" and list(n.index) == list(cleaned.index)
    return list(fields_json), list(n)


def test_fields_conflict_then_pass2_fill():
    """Pass 1's "conflict" qty is kept while pass 2 fills the missing unit;
    pass 2's own conflict fills a qty pass 1 left missing."""
    docs, n = _field_docs(
        ["protein 10\nprotein 12\n5 g of protein", "fibre\n2 g fibre\n3 g fibre"]
    )
    assert docs == [
        '{"protein":{"qty":"conflict","unit":"g","dv":"","status":"conflict"}}',
        '{"fibre":{"qty":"conflict","unit":"g","dv":"","status":"conflict"}}',
    ]
    assert n == [1, 1]


def test_fields_absent_and_expiry():
    """Absent fields and the expiry date join the matched fields in sorted
    key order; a row with neither terms nor a date is "{}" / 0, and the
    output keeps the input's index."""
    docs, n = _field_docs(
        [
            "calories 200\nnot a significant source of fibre, iron",
            "not a significant source of sodium",
            "nothing here",
            "",
        ],
        dates=["2024 JAN 05", None, None, "MAR 03 2025"],
        index=[7, 3, 9, 0],
    )
    assert docs == [
        '{"calories":{"qty":"200","unit":"","dv":"","status":"ok"},'
        '"expiry":{"qty":"2024 JAN 05","unit":"","dv":"","status":"ok"},'
        '"fibre":{"qty":"absent","unit":"","dv":"","status":"absent"},'
        '"iron":{"qty":"absent","unit":"","dv":"","status":"absent"}}',
        '{"sodium":{"qty":"absent","unit":"","dv":"","status":"absent"}}',
        "{}",
        '{"expiry":{"qty":"MAR 03 2025","unit":"","dv":"","status":"ok"}}',
    ]
    assert n == [4, 1, 0, 1]


def test_fields_dv_only_and_full_row():
    """A bare "term N %" is dv with a missing qty; a complete pass-1 cell is
    not touched by pass 2."""
    docs, n = _field_docs(["calcium 20 %", "iron 2 mg 15 %\n3 mg of iron"])
    assert docs == [
        '{"calcium":{"qty":"","unit":"","dv":"20","status":"missing"}}',
        '{"iron":{"qty":"2","unit":"mg","dv":"15","status":"ok"}}',
    ]
    assert n == [1, 1]


# sha256 of the kernel's output columns, in (conv_id, turn_idx) order, of
# the whole-frame oracle on synth.generate_local(200).  Any byte of kernel
# output that moves changes it: recompute it only for an intended output
# change, never to absorb a refactor's drift.
_KERNEL_200_SHA256 = "372fdce09ddcbcd18b7b9365e0031be672db550be2b11ad57ab0ae59672bcb2f"


def test_kernel_output_bytes_pinned():
    import hashlib

    out = oracle_extract(synth.generate_local(200), row_at_a_time=False)
    h = hashlib.sha256()
    for col in (
        "conv_id", "turn_idx", "extracted_text", "fields_json",
        "n_blocks", "n_lines", "n_tokens", "n_fields", "status",
    ):
        h.update("\x1f".join(map(str, out[col])).encode())
        h.update(b"\x1e")
    assert h.hexdigest() == _KERNEL_200_SHA256


def test_layout_two_column_reading_order():
    """Band/column order: full-width title first, then the left column
    top-to-bottom, then the right column — NOT global y-order (which would
    interleave the columns)."""
    title = {"bbox": [10, 10, 590, 40], "lines": [{"y": 14, "spans": [{"x": 10, "text": "title"}]}]}
    l1 = {"bbox": [10, 60, 280, 140], "lines": [{"y": 64, "spans": [{"x": 10, "text": "left one"}]}]}
    l2 = {"bbox": [10, 150, 280, 220], "lines": [{"y": 154, "spans": [{"x": 10, "text": "left two"}]}]}
    r1 = {"bbox": [310, 60, 590, 220], "lines": [{"y": 64, "spans": [{"x": 310, "text": "right one"}]}]}
    # worst-case payload order: right column first, interleaved
    payload = json.dumps({"pages": [{"page": 1, "blocks": [r1, l2, title, l1]}]})
    assert layout_extract(payload) == ["title", "left one", "left two", "right one"]


def test_layout_two_column_synth_class_deterministic():
    from ocr_spark.synth import _p_pdf_two_column

    out = layout_extract(_p_pdf_two_column(12345))
    # title band, then left column (calories/fat then fibre), then right
    assert out[0].startswith("two column nutrition facts")
    assert out[1].startswith("calories")
    assert "total fat" in out[1]
    assert out[2].startswith("fibre")
    assert out[3].startswith("sodium")
    assert "protein" in out[3]
    # permutation-independent: same h -> same payload -> same extraction
    assert layout_extract(_p_pdf_two_column(12345)) == out


# --- cleanup chain (ordered; clean_up_ocr NFT_OCR.py:787-809) --------------

def test_units_star_and_gt_gf():  # test_units_star port
    assert cleanup_one("fiber 4 gt added*") == "fibre 4 g added"
    assert cleanup_one("protien 6 gf") == "protein 6 g"


def test_oh_to_zero_and_french_floats():
    # oh->zero (step 5) then glued-split (step 8): "Og" -> "0g" -> "0 g"
    assert cleanup_one("trans fat Og and 2,5 g") == "trans fat 0 g and 2.5 g"
    # oh->zero runs after lowercase, so lowercase 'og' also corrects
    assert cleanup_one("og omg") == "0 g 0 mg"


def test_glued_split_and_slash():  # test_slash_combined port
    assert cleanup_one("carbohydrate 15g fat/lipides") == "carbohydrate 15 g fat lipides"


def test_footer_truncation():  # drop_below_term port (W6)
    out = cleanup_one("keep this line\npercent daily values are estimates\nnever seen")
    assert out == "keep this line"


def test_fragment_rejoin():  # merge_split_nutrients port (test_weird_ocr-ish)
    assert cleanup_one("s atures 4 g") == "satures 4 g"
    assert cleanup_one("prot ein 6 g") == "protein 6 g"


def test_accent_fold():
    assert cleanup_one("détails élevé") == "details eleve"


# --- field extraction semantics -------------------------------------------

def test_multiple_hits_total_fat_vs_saturated():  # test_multiple_hits port
    f = fields("total fat 10 g\nsaturated fat 3 g\ntrans fat 1 g")
    assert f["fat"]["qty"] == "10"
    assert f["saturated_fat"]["qty"] == "3"
    assert f["trans_fat"]["qty"] == "1"


def test_multiple_sugars_vs_alcohols():  # test_multiple_sugars port
    f = fields("total sugars 5 g\nsugar alcohols 2 g")
    assert f["sugars"]["qty"] == "5"
    assert f["sugar_alcohols"]["qty"] == "2"


def test_conflicts_sentinel():  # test_conflicts port (A1)
    f = fields("sodium 100 mg\n\nsodium 200 mg")
    assert f["sodium"]["qty"] == "conflict"
    assert f["sodium"]["status"] == "conflict"
    f2 = fields("sodium 100 mg\n\nsodium 100 mg")
    assert f2["sodium"]["qty"] == "100"
    assert f2["sodium"]["status"] == "ok"


def test_bilingual_agreement_no_conflict():  # slash-joined EN/FR agree
    f = fields("protein/proteines 7 g")
    assert f["protein"]["qty"] == "7"


def test_absence_inference():  # determine_absent_ingredients port
    f = fields("calories 200\nnot a significant source of fibre, iron")
    assert f["fibre"]["status"] == "absent"
    assert f["iron"]["status"] == "absent"
    assert f["calories"]["qty"] == "200"


def test_secondary_pass_fallback():  # test_secondaryocr port (value-before-term)
    f = fields("contains 15 g of protein per scoop\ncalories listed below")
    assert f["protein"]["qty"] == "15"
    assert f["protein"]["unit"] == "g"
    assert f["calories"]["status"] == "missing"


def test_dv_percent():
    f = fields("total fat 10 g 15 %")
    assert f["fat"]["dv"] == "15"


def test_reject_gate():  # is_american_nft port (F5)
    # one line with three distinct gate terms (count >= 3, NFT_OCR.py:977)
    text = "vitamin a 5 % vitamin c 10 % vitamin d 25 %\ncalcium 10 %"
    r = extract_turn(text)
    assert r["status"] == "rejected"
    assert r["extracted_text"] == ""
    assert r["fields_json"] == "{}"


def test_tool_payload_parse():
    tool = json.dumps({"name": "browse", "output": "<div><p>tool page main body text here</p></div>"})
    r = extract_turn("", tool=tool, role="tool")
    assert r["extracted_text"] == "tool page main body text here"
    bad = extract_turn("", tool="{not json", role="tool")
    assert bad["status"] == "tool_parse_error"


def test_empty_and_edge():
    assert extract_turn("")["status"] == "empty"
    assert extract_turn("   \n  ")["status"] == "empty"
    # the plain-text path keeps paragraphs regardless of word count
    # (density rules are an HTML-path concept)
    assert extract_turn("token")["extracted_text"] == "token"
    assert extract_turn("two words here")["extracted_text"] == "two words here"


# --- batch invariance / purity ---------------------------------------------

def test_batch_size_invariance():
    pdf = synth.generate_local(30)
    a = oracle_extract(pdf, row_at_a_time=True)
    b = oracle_extract(pdf, row_at_a_time=False)
    pd.testing.assert_frame_equal(a, b)


def test_generator_deterministic():
    a = synth.generate_local(10)
    b = synth.generate_local(10)
    pd.testing.assert_frame_equal(a, b)
    g = a.groupby("conv_id")["turn_idx"]
    # contiguous turn_idx per conversation: max+1 == count
    assert ((g.max() + 1).to_numpy() == g.count().to_numpy()).all()


def test_table_cells_joined_into_row():  # td/th are cell separators
    html = "<table><tr><td>total fat</td><td>25 g</td><td>10 %</td></tr></table>"
    assert html_extract(html) == ["total fat 25 g 10 %"]
    f = fields("<table><tr><td>sodium</td><td>120 mg</td></tr></table>")
    assert f["sodium"]["qty"] == "120"


def test_dv_only_value():  # bare "term N %" is dv, not qty (NFT_OCR.py:1222-1230)
    f = fields("calcium 20 %")
    assert f["calcium"]["dv"] == "20"
    assert f["calcium"]["qty"] == ""
    f2 = fields("calcium 2.5 %")
    assert f2["calcium"]["dv"] == "2.5"
    assert f2["calcium"]["qty"] == ""


def test_unclosed_heading_does_not_leak_floor():
    html = "<h2>Intro<p>ok</p><p>buy</p><div>x y</div>"
    assert html_extract(html) == ["Intro"]


def test_malformed_bbox_is_failure_not_crash():
    payload = '{"pages":[{"blocks":[{"bbox":[5],"lines":[{"y":1,"spans":[{"x":0,"text":"a"}]}]}]}]}'
    assert layout_extract(payload) == []


def test_tool_non_dict_payloads_canonical_json():
    r = extract_turn("", tool='["top level content words here", "second"]', role="tool")
    assert '"top level content words here"' in r["extracted_text"] or "top level" in r["extracted_text"]
    rn = extract_turn("", tool="null", role="tool")
    assert rn["extracted_text"] == "null"  # canonical JSON, not Python repr "None"


def test_bilingual_duplicate_split():  # split_ingrdients port (C13 kernel-side)
    """Ingredients_OCR.py:14-25: exactly two fuzzy 'Ingredients' headers
    with the first within the first 5 chars -> split at the second into
    per-language blocks; any other configuration leaves the block whole."""
    from ocr_spark.kernel.bilingual import split_block

    en, fr = split_block("Ingredients: sugar milk Ingrédients: sucre lait")
    assert en == "Ingredients: sugar milk"
    assert fr == "Ingrédients: sucre lait"
    # first occurrence too deep (reference: index > 5 -> None)
    assert split_block("prefix words Ingredients: x Ingrédients: y") is None
    # not exactly two occurrences
    assert split_block("Ingredients: only once") is None
    assert split_block("Ingredients: a Ingrediants: b lngredients: c") is None

    r = extract_turn(
        "Ingredients: sugar milk wheat and protein\n"
        "Ingrédients: sucre lait farine avec sel"
    )
    assert r["n_blocks"] == 2
    blocks = r["extracted_text"].split("\n\n")
    assert "sugar milk" in blocks[0] and "sucre lait" in blocks[1]


def test_expiry_field():  # extract_expiry port (Ingredients_OCR.py:295-305)
    r = extract_turn("best before 2024 JAN 05\nprotein 5 g")
    assert '"expiry":{"qty":"2024 JAN 05","unit":"","dv":"","status":"ok"}' in r["fields_json"]
    assert r["n_fields"] == 2
    # second pattern order, and the separator variants
    assert '"qty":"MAR 03 2025"' in extract_turn("use by MAR 03 2025")["fields_json"]
    assert '"qty":"2024:FEB:28"' in extract_turn("exp 2024:FEB:28")["fields_json"]
    # pattern 1 wins when both are present (reference tries it first)
    both = extract_turn("a 2024 JAN 05 b MAR 03 2025")
    assert '"qty":"2024 JAN 05"' in both["fields_json"]
    # no date -> no field; rejected rows carry no expiry either
    assert "expiry" not in extract_turn("no dates here")["fields_json"]
    rej = extract_turn(
        "nutrition facts 2024 JAN 05\n"
        "vitamin a 1 % vitamin c 2 % vitamin d 3 %"
    )
    assert rej["status"] == "rejected" and rej["fields_json"] == "{}"


# --- malformed JSON payloads cannot take the batch down ---------------------

_HEALTHY = {"role": "user", "text": "sodium 120 mg\n\nprotein 5 g", "tool": ""}
_DEEP = "[" * 5000 + "]" * 5000


def _layout(span_text):
    page = {"page": 1, "blocks": [{"bbox": [0, 0, 9, 9], "lines": [
        {"y": 1, "spans": [{"x": 0, "text": span_text}]}]}]}
    return json.dumps({"pages": [page]})


_POISON = {
    "tool_surrogate": {"role": "tool", "text": "", "tool": '{"output":"salt \\ud800 free"}'},
    "layout_surrogate": {"role": "user", "text": _layout("salt \ud800 free"), "tool": ""},
    "tool_deep": {"role": "tool", "text": "", "tool": _DEEP},
    "layout_deep": {"role": "user", "text": '{"pages": ' + _DEEP + "}", "tool": ""},
}


def _batch(*rows):
    return pd.DataFrame([
        {"conv_id": f"c{i}", "turn_idx": 0, **r} for i, r in enumerate(rows)
    ])


@pytest.mark.parametrize("name", sorted(_POISON))
def test_malformed_payload_spares_its_batch(name):
    alone = extract_batch(_batch(_HEALTHY)).iloc[0].drop("conv_id")
    out = extract_batch(_batch(_POISON[name], _HEALTHY))
    assert out.iloc[1].drop("conv_id").equals(alone)
    # nesting too deep for the JSON parser reads as malformed
    if name == "tool_deep":
        assert out.iloc[0]["status"] == "tool_parse_error"
    if name == "layout_deep":
        assert layout_extract(_POISON[name]["text"]) == []


@pytest.mark.parametrize("name", ["tool_surrogate", "layout_surrogate"])
def test_lone_surrogate_reads_as_replacement_char(name):
    row = _POISON[name]
    literal = {k: v.replace("\\ud800", "�") for k, v in row.items()}
    got = extract_batch(_batch(row))
    want = extract_batch(_batch(literal))
    assert got.equals(want)
    assert "�" in got.iloc[0]["extracted_text"]


def test_valid_surrogate_pair_survives():
    r = extract_turn("", tool='{"output":"salt \\ud83d\\ude00 free"}', role="tool")
    assert "\U0001F600" in r["extracted_text"]


def test_null_key_fails_its_row_only():
    """A turn with a null conv_id or turn_idx gets status ``null_key``,
    which wins over a tool parse error; the keys come back exactly as
    received and the rest of the batch is untouched."""
    bad_tool = {"role": "tool", "text": "", "tool": '{"output": '}
    pdf = _batch(_HEALTHY, _HEALTHY, bad_tool, _HEALTHY)
    pdf.loc[0, "conv_id"] = None
    pdf["turn_idx"] = pd.array([0, None, None, 0], dtype="Int32")
    out = extract_batch(pdf)
    assert out["status"].tolist() == ["null_key"] * 3 + ["ok"]
    assert out["conv_id"].equals(pdf["conv_id"])
    assert out["turn_idx"].equals(pdf["turn_idx"])
    assert (out["extracted_text"].iloc[:3] == "").all()
    alone = extract_batch(_batch(_HEALTHY)).iloc[0].drop(["conv_id", "turn_idx"])
    assert out.iloc[3].drop(["conv_id", "turn_idx"]).equals(alone)
