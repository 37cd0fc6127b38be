"""Deterministic synthetic transcripts (the ``input_hint`` table).

Schema: (conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp) — see FIXTURES.md §1.

Every row is a pure function of (seed, conv_idx, turn_idx) via md5, so
``generate_local`` builds the same table in any process.  Spark callers
take it with ``spark.createDataFrame(generate_local(n, shuffled=False),
TRANSCRIPT_SCHEMA)``: the explicit schema keeps ``turn_idx`` an int
(inference without Arrow reads it as bigint).

Conversation lengths are heavy-tailed (Zipf-ish) so a few conversations are
very long — this exercises the salted-repartition skew defense the north
rule mandates.  Payload classes map 1:1 to FIXTURES.md §2 (each pins one
reference golden-test semantic).
"""

from __future__ import annotations

import hashlib
import json
import struct
from datetime import datetime, timedelta, timezone

import pandas as pd

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ("user", "assistant", "tool")
MAX_TURNS = 400
ZIPF_ALPHA = 1.6

CLASSES = (
    "html_boilerplate",
    "html_tables_rules",
    "pdf_layoutish",
    "pdf_two_column",
    "bilingual_slash",
    "bilingual_duplicate",
    "glued_tokens",
    "ocr_confusions",
    "ambiguous_terms",
    "split_terms",
    "misspelled_lexicon",
    "conflicting_duplicates",
    "absence_markers",
    "reject_class",
    "needs_fallback",
    "dates_embedded",
    "empty_and_edge",
)

_WORDS = (
    "protein sodium calories fat sugars fibre iron calcium carbohydrate "
    "tomato onion garlic paprika vinegar yeast barley oats honey salt "
    "water flour butter pepper basil thyme lemon ginger cumin"
).split()


def _h(*parts: object) -> int:
    """Deterministic 64-bit hash of the parts (platform-independent)."""
    raw = hashlib.md5(":".join(str(p) for p in parts).encode()).digest()
    return struct.unpack("<Q", raw[:8])[0]


def _u(*parts: object) -> float:
    return _h(*parts) / 2**64


def conv_id(conv_idx: int) -> str:
    return f"conv_{conv_idx:08d}"


def n_turns(conv_idx: int, seed: int = 42) -> int:
    """Zipf-ish heavy tail: most conversations short, a few very long."""
    u = max(_u(seed, "len", conv_idx), 1e-12)
    return min(MAX_TURNS, int(1 + (u ** (-1.0 / ZIPF_ALPHA) - 1.0) * 3))


def _pick(seq, h):
    return seq[h % len(seq)]


def _words(h, k):
    return " ".join(_WORDS[_h(h, i) % len(_WORDS)] for i in range(k))


def _qty(h, lo=1, hi=30):
    return lo + _h(h, "q") % (hi - lo)


# --- payload builders (one per FIXTURES.md class) ------------------------

def _p_html_boilerplate(h):
    para1 = f"this product contains {_words(h, 6)} and more detail text here"
    para2 = f"total fat {_qty(h)} g 10 % and sodium {_qty(h, 100, 400)} mg per serving"
    links = " ".join(f'<a href="/x{i}">link{i}</a>' for i in range(6))
    return (
        "<html><head><title>t</title><script>var x=1;</script></head><body>"
        "<nav><ul><li><a href='/'>home</a></li><li><a href='/a'>about</a></li></ul></nav>"
        f"<header><h1>site chrome heading</h1></header>"
        f"<div id='main'><h2>nutrition summary</h2><p>{para1}</p><p>{para2}</p></div>"
        f"<div class='sidebar'>{links}</div>"
        "<footer><p>all rights reserved contact us privacy policy</p></footer>"
        "</body></html>"
    )


def _p_html_tables_rules(h):
    rows = "".join(
        f"<tr><td>{t}</td><td>{_qty(h+i)} g</td><td>{5*(i+1)} %</td></tr><hr/>"
        for i, t in enumerate(("calories", "total fat", "sugars", "protein"))
    )
    return (
        "<html><body><nav><a href='/'>home</a></nav>"
        f"<table><tr><th>nutrient amount and daily value</th></tr>{rows}</table>"
        "<footer>terms of service</footer></body></html>"
    )


def _p_pdf_layoutish(h):
    blocks = [
        {
            "bbox": [10, 100, 300, 140],
            "lines": [
                {"y": 104, "spans": [{"x": 60, "text": f"{_qty(h)} g"}, {"x": 10, "text": "sugars"}]},
                {"y": 124, "spans": [{"x": 10, "text": "protein"}, {"x": 70, "text": f"{_qty(h+1)} g"}]},
            ],
        },
        {
            "bbox": [10, 20, 300, 60],
            "lines": [
                {"y": 24, "spans": [{"x": 10, "text": "nutrition"}, {"x": 90, "text": "facts"}]},
                {"y": 44, "spans": [{"x": 10, "text": "per serving details"}]},
            ],
        },
        {
            "bbox": [10, 160, 300, 200],
            "lines": [{"y": 164, "spans": [{"x": 10, "text": f"notes {_words(h, 4)}"}]}],
        },
    ]
    # deliberately out of reading order; kernel must restore it
    order = [1, 0, 2] if _h(h, "ord") % 2 else [2, 1, 0]
    return json.dumps({"pages": [{"page": 1, "blocks": [blocks[i] for i in order]}]})


def _p_pdf_two_column(h):
    """Two-column page: full-width title band, then a left column of two
    stacked blocks and a right column block whose y-ranges overlap — the
    kernel's band/column order must read title, left top-to-bottom, then
    right (layout.py _order_blocks), regardless of payload block order."""
    title = {
        "bbox": [10, 10, 590, 40],
        "lines": [
            {
                "y": 14,
                "spans": [
                    {"x": 200, "text": "facts"},
                    {"x": 10, "text": "two column nutrition"},
                ],
            }
        ],
    }
    l1 = {
        "bbox": [10, 60, 280, 140],
        "lines": [
            {"y": 64, "spans": [{"x": 10, "text": "calories"}, {"x": 90, "text": f"{_qty(h, 100, 300)}"}]},
            {"y": 84, "spans": [{"x": 10, "text": "total fat"}, {"x": 90, "text": f"{_qty(h)} g"}]},
        ],
    }
    l2 = {
        "bbox": [10, 150, 280, 220],
        "lines": [{"y": 154, "spans": [{"x": 10, "text": f"fibre {_qty(h + 2)} g"}]}],
    }
    r1 = {
        "bbox": [310, 60, 590, 220],
        "lines": [
            {"y": 64, "spans": [{"x": 310, "text": "sodium"}, {"x": 420, "text": f"{_qty(h, 100, 400)} mg"}]},
            {"y": 84, "spans": [{"x": 310, "text": f"protein {_qty(h + 1)} g"}]},
        ],
    }
    blocks = [title, l1, l2, r1]
    perms = ([3, 1, 0, 2], [2, 3, 1, 0], [1, 2, 3, 0], [0, 3, 2, 1])
    order = perms[_h(h, "ord2") % len(perms)]
    return json.dumps({"pages": [{"page": 1, "blocks": [blocks[i] for i in order]}]})


def _p_bilingual_slash(h):
    q = _qty(h)
    return (
        f"nutrition information\n\ntotal fat/lipides {q} g 12 %\n"
        f"sugars/sucres {_qty(h+1)} g\nprotein/proteines {_qty(h+2)} g"
    )


def _p_bilingual_duplicate(h):
    """EN/FR doubled content, each part opened by a (fuzzily spelled)
    Ingredients header — the split_ingrdients class
    (Ingredients_OCR.py:14-25).  The second header carries 1-2 edits
    (accent, OCR confusion) so only the fuzzy matcher finds it."""
    second = _pick(("Ingrédients:", "Ingrediants:", "lngredients:"), _h(h, "hdr"))
    en = f"Ingredients: sugar milk wheat flour and {_words(h, 2)}"
    fr = f"{second} sucre lait farine de ble avec {_pick(('sel', 'avoine', 'orge'), _h(h, 'fr'))}"
    return f"{en} {fr}"


def _p_glued_tokens(h):
    return (
        f"serving details\n\ncarbohydrate {_qty(h)}.0g per portion\n"
        f"sodium {_qty(h,100,300)}mg and fibre {_qty(h+2)}g total"
    )


def _p_ocr_confusions(h):
    return (
        "nutrition détails*\n\ntrans fat Og and cholesterol Omg\n"
        f"sugars 2,{_qty(h,1,9)} g(approx)\nfiber {_qty(h)} gt added protien {_qty(h+1)} gf"
    )


def _p_ambiguous_terms(h):
    return (
        f"total fat {_qty(h)} g 15 %\nsaturated fat {_qty(h+1)} g\n"
        f"total sugars {_qty(h+2)} g\nsugar alcohols {_qty(h+3)} g\n"
        f"soluble fibre {_qty(h+4)} g"
    )


def _p_split_terms(h):
    return f"s atures {_qty(h)} g\nprot ein {_qty(h+1)} g\ncal ories {_qty(h, 100, 300)}"


def _p_misspelled_lexicon(h):
    # words within levenshtein<=2 of the lexicon, plus a tie that must not correct
    return (
        f"ingredients: tomatoe puree onoin powder garlik and "
        f"{_words(h, 3)} with paprikka extract"
    )


def _p_conflicting_duplicates(h):
    q = _qty(h)
    q2 = q if _h(h, "eq") % 2 else q + 3  # equal -> ok, unequal -> conflict
    return f"sodium {q} mg first mention\n\nlater sodium {q2} mg repeated"


def _p_absence_markers(h):
    return (
        f"calories {_qty(h,100,250)}\nprotein {_qty(h)} g\n"
        "not a significant source of fibre, iron"
    )


def _p_reject_class(h):
    # >= 3 distinct gate-vocabulary terms co-occurring on first-seen lines
    # (is_american_nft counts terms, not lines: one line with three terms
    # or two complete pair-lines both trip it, NFT_OCR.py:959-978)
    if _h(h, "r") % 2:
        lines = f"vitamin a {h % 9} % vitamin c {h % 7} % vitamin d {h % 5} %"
    else:
        lines = (
            f"calcium {h % 9} % iron {h % 7} %\n"
            f"thiamin {h % 5} % niacin {h % 3} %"
        )
    return f"nutrition facts us style\n{lines}"


def _p_needs_fallback(h):
    # value-before-term: pass 1 finds the term with no qty; pass 2 fills it
    return f"contains {_qty(h)} g of protein per scoop\ncalories listed below"


def _p_dates_embedded(h):
    mon = _pick(("JAN", "FEB", "MAR", "APR", "MAY", "JUN"), _h(h, "m"))
    day = 1 + _h(h, "d") % 28
    return f"best before 2024 {mon} {day:02d}\nlot {_h(h) % 10_000}\n{_words(h, 5)}"


def _p_empty_and_edge(h):
    k = _h(h, "edge") % 4
    if k == 0:
        return ""
    if k == 1:
        return "   \n  "
    if k == 2:
        return "token"
    return ("long payload segment " + _words(h, 8) + " ") * 400  # ~10k chars


_BUILDERS = {
    "html_boilerplate": _p_html_boilerplate,
    "html_tables_rules": _p_html_tables_rules,
    "pdf_layoutish": _p_pdf_layoutish,
    "pdf_two_column": _p_pdf_two_column,
    "bilingual_slash": _p_bilingual_slash,
    "bilingual_duplicate": _p_bilingual_duplicate,
    "glued_tokens": _p_glued_tokens,
    "ocr_confusions": _p_ocr_confusions,
    "ambiguous_terms": _p_ambiguous_terms,
    "split_terms": _p_split_terms,
    "misspelled_lexicon": _p_misspelled_lexicon,
    "conflicting_duplicates": _p_conflicting_duplicates,
    "absence_markers": _p_absence_markers,
    "reject_class": _p_reject_class,
    "needs_fallback": _p_needs_fallback,
    "dates_embedded": _p_dates_embedded,
    "empty_and_edge": _p_empty_and_edge,
}


def build_turn(conv_idx: int, turn_idx: int, seed: int = 42) -> dict:
    """Pure function (seed, conv_idx, turn_idx) -> one transcript row."""
    h = _h(seed, conv_idx, turn_idx)
    role = ROLES[turn_idx % len(ROLES)]
    cls = _pick(CLASSES, _h(h, "cls"))
    payload = _BUILDERS[cls](h)
    if role == "tool":
        tool = json.dumps(
            {"name": _pick(("search", "browse", "parse"), h), "output": payload},
            sort_keys=True,
        )
        text = ""
    else:
        tool = ""
        text = payload
    ts = EPOCH + timedelta(seconds=conv_idx * 3600 + turn_idx * 7)
    return {
        "conv_id": conv_id(conv_idx),
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    }


def build_conversation(conv_idx: int, seed: int = 42) -> list[dict]:
    return [build_turn(conv_idx, t, seed) for t in range(n_turns(conv_idx, seed))]


def generate_local(n_convs: int, seed: int = 42, shuffled: bool = True) -> pd.DataFrame:
    """The transcripts table of ``n_convs`` conversations as a pandas frame.

    ``shuffled=True`` emits rows in a deterministic scrambled order so the
    pipeline's stable (conv_id, turn_idx) reordering is actually exercised
    (FIXTURES.md §1).
    """
    rows: list[dict] = []
    for c in range(n_convs):
        rows.extend(build_conversation(c, seed))
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    if shuffled:
        key = [
            _h(seed, "shuf", r.conv_id, r.turn_idx)
            for r in pdf.itertuples(index=False)
        ]
        pdf = pdf.assign(_k=key).sort_values("_k").drop(columns="_k").reset_index(drop=True)
    return pdf


def write_transcripts_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write a locally generated transcripts frame to Spark-readable parquet.

    pandas defaults to TIMESTAMP(NANOS), which Spark rejects
    (PARQUET_TYPE_ILLEGAL); coerce to microseconds.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def lexicon_words(seed: int = 42, n: int = 200) -> list[str]:
    """Deterministic lexicon (FIXTURES.md §3): base vocabulary + suffixed
    variants, min length 5 — consumed by the fuzzy spell-correct join."""
    base = [w for w in _WORDS if len(w) >= 5]
    out = set(base)
    for i in range(n):
        w = _WORDS[_h(seed, "lex", i) % len(_WORDS)]
        out.add(w + _pick(("powder", "extract", "puree", "seed", "oil"), _h(seed, i)))
    return sorted(out)
