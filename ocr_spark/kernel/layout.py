"""PDF-layout payload parse: page -> block -> line -> span, reading order.

Generalizes the reference's geometric line model to serialized layout
payloads: same-baseline grouping (``NFT_OCR.py:45-82``), horizontal
reading-order sort within a line (``NFT_OCR.py:80-82``), top-to-bottom line
ordering (``NFT_OCR.py:332-334``), and greedy line labelling
(``split_into_lines``, ``NFT_OCR.py:1039-1058``).

Payload format (produced by ``ocr_spark.synth`` and by any upstream layout
parser): a JSON document

    {"pages": [{"page": 1,
                "blocks": [{"bbox": [x0, y0, x1, y1],
                            "lines": [{"y": 40,
                                       "spans": [{"x": 10, "text": "..."}]}]
                           }]}]}

Blocks may arrive out of reading order (the fixture generator shuffles them);
the canonical order restored here is:

    pages by ``page`` asc -> blocks in band/column order (below) -> lines by
    ``y`` asc -> spans by ``x`` asc

Block order handles multi-column pages (the reference's same-baseline
grouping, ``NFT_OCR.py:45-82``, lifted from lines to blocks): blocks are
clustered into horizontal BANDS by transitive y-interval overlap, bands
read top-to-bottom, and within a band blocks read left-to-right by
(x0, y0).  A full-width title is its own band (read first); two
side-by-side columns y-overlap transitively into one band and come out
column-major (all of the left column, then the right) — exactly the
two-column reading order.  Pages whose blocks never overlap vertically
degenerate to the old (y0, x0) order, so single-column payloads are
byte-identical to the previous behavior.

Lines whose spans sit within ``LINE_GAP`` of each other's y are merged into
one visual line (the same-line predicate of ``NFT_OCR.py:45-82`` with the
fudge factor collapsed to a fixed gap, since serialized layout has exact
coordinates).
"""

from __future__ import annotations

import json
import re

LINE_GAP = 4  # max |y_i - y_j| for two line records to merge into one line

_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def scrub_surrogates(text: str) -> str:
    """Replace lone UTF-16 surrogates (a JSON ``\\ud800`` escape decodes
    to one) with U+FFFD; UTF-8 and Arrow cannot carry them.  A valid pair
    is already one code point after ``json.loads`` and is unchanged."""
    if _SURROGATE_RE.search(text) is None:
        return text
    return text.encode("utf-16-le", "surrogatepass").decode("utf-16-le", "replace")


def _order_blocks(blocks: list[dict]) -> list[dict]:
    """Band/column reading order (module docstring).

    bbox compatibility matches the pre-band code exactly, which only read
    bbox[0]/bbox[1]: 2- and 3-element bboxes stay valid (the missing
    x1/y1 default to x0/y0 — zero extent, so such blocks never y-overlap
    and keep the old (y0, x0) order), while <2 elements raises to the
    caller's failure handler as before."""
    def bbox(b):
        bb = b.get("bbox", [0, 0, 0, 0])
        x0, y0 = bb[0], bb[1]
        x1 = bb[2] if len(bb) > 2 else x0
        y1 = bb[3] if len(bb) > 3 else y0
        return x0, y0, x1, y1

    by_y = sorted(blocks, key=lambda b: (bbox(b)[1], bbox(b)[0]))
    bands: list[list] = []  # [band_max_y1, [blocks...]]
    for b in by_y:
        _, y0, _, y1 = bbox(b)
        if bands and y0 < bands[-1][0]:
            bands[-1][1].append(b)
            bands[-1][0] = max(bands[-1][0], y1)
        else:
            bands.append([y1, [b]])
    ordered: list[dict] = []
    for _, grp in bands:
        grp.sort(key=lambda b: (bbox(b)[0], bbox(b)[1]))
        ordered.extend(grp)
    return ordered


def looks_like_layout(text: str) -> bool:
    t = text.lstrip()
    return t.startswith("{") and '"pages"' in t[:64]


def layout_extract(payload: str) -> list[str]:
    """Parse a layout JSON payload into reading-ordered block texts.

    Returns a list of block strings; within a block, lines are joined by a
    single ``\\n`` and spans within a line by a single space.  Malformed
    payloads, nesting too deep for the JSON parser included, yield ``[]``
    (the caller records a failure span — the existence-guard pattern of
    ``NFT_OCR.py:1491``).
    """
    try:
        doc = json.loads(payload)
        pages = doc["pages"]
    except (ValueError, TypeError, KeyError, RecursionError):
        return []

    blocks_out: list[str] = []
    try:
        for page in sorted(pages, key=lambda p: p.get("page", 0)):
            blocks = page.get("blocks", [])
            for blk in _order_blocks(blocks):
                lines = blk.get("lines", [])
                # greedy same-line merge on y proximity, then top-to-bottom
                recs = sorted(lines, key=lambda ln: ln.get("y", 0))
                merged: list[tuple[int, list[dict]]] = []
                for ln in recs:
                    y = ln.get("y", 0)
                    spans = list(ln.get("spans", []))
                    if merged and abs(y - merged[-1][0]) <= LINE_GAP:
                        merged[-1][1].extend(spans)
                    else:
                        merged.append((y, spans))
                line_texts = []
                for _, spans in merged:
                    spans.sort(key=lambda s: s.get("x", 0))
                    txt = " ".join(str(s.get("text", "")) for s in spans).strip()
                    if txt:
                        line_texts.append(txt)
                if line_texts:
                    blocks_out.append(scrub_surrogates("\n".join(line_texts)))
    except (TypeError, AttributeError, IndexError, KeyError):
        # e.g. a bbox list with <2 elements — malformed payloads must
        # degrade to [] (failure span), never crash the Arrow batch
        return []
    return blocks_out
