"""Structured field extraction: term match -> value/unit/dv -> conflict merge.

Re-expresses, over cleaned transcript text, the reference's extraction core:

- term vocabulary + EN->FR translation     NFT_OCR.py:1090-1119
- longest-match disambiguation ("total fat" vs "fat", "sugars" vs
  "sugar alcohols")                        NFT_OCR.py:141-199
- positional value/unit/dv cascade         NFT_OCR.py:1197-1241
- unit whitelist                           NFT_OCR.py:1150-1161
- conflict-detecting merge: same field seen twice with unequal values
  -> sentinel "conflict"                   NFT_OCR.py:1163-1183
- two-pass extraction: fields still missing after pass 1 get a scoped
  second parse (value-before-term), fill-missing-only merge
                                           NFT_OCR.py:1254-1270,1415-1441,1514-1517
- absence inference: "not a significant source of X, Y" -> "absent"
                                           NFT_OCR.py:1360-1395

Like the reference, which extracts one document at a time, the work is one
pass per row: match, merge into a small ``field -> [qty, unit, dv]`` dict,
fill from pass 2, mark absences, emit JSON.  A turn carries a handful of
matches, too few for vectorized grouping to pay for its setup, so a plain
dict merge per row is both simpler and cheaper than a long match frame
grouped per (row, field).  Two vectorized prefilters pick the rows worth
visiting.  Output is a deterministic JSON string per turn (sorted field
keys), so byte-equality is the parity check.
"""

from __future__ import annotations

import re

import pandas as pd

# (surface term, canonical field) — order matters: longest/most-specific
# first so the regex alternation implements longest-match disambiguation.
VOCAB: tuple[tuple[str, str], ...] = (
    ("sugar alcohols", "sugar_alcohols"),
    ("total sugars", "sugars"),
    ("saturated fat", "saturated_fat"),
    ("trans fat", "trans_fat"),
    ("total fat", "fat"),
    ("vitamin a", "vitamin_a"),
    ("vitamin c", "vitamin_c"),
    ("carbohydrate", "carbohydrate"),
    ("cholesterol", "cholesterol"),
    ("calories", "calories"),
    ("proteines", "protein"),   # FR
    ("protein", "protein"),
    ("glucides", "carbohydrate"),  # FR
    ("lipides", "fat"),         # FR
    ("satures", "saturated_fat"),  # FR
    ("sodium", "sodium"),
    ("sucres", "sugars"),       # FR
    ("sugars", "sugars"),
    ("fibres", "fibre"),        # FR
    ("fibre", "fibre"),
    ("calcium", "calcium"),
    ("iron", "iron"),
    ("fer", "iron"),            # FR
    ("fat", "fat"),
)

TERM_TO_FIELD = {t: f for t, f in VOCAB}

UNIT_WHITELIST = ("kcal", "mg", "ml", "ug", "g")

_TERM_ALT = "|".join(re.escape(t) for t, _ in VOCAB)
_UNIT_ALT = "|".join(UNIT_WHITELIST)

# pass 1: term [:] [qty] [unit] [dv%].  The qty group must NOT capture a
# number that is immediately a percentage: the reference routes a bare
# "term N %" to dv, not quantity (NFT_OCR.py:1222-1230 — "%" right after
# the value means dv) — hence the (?![ ]?%) lookahead.
_P1 = re.compile(
    rf"\b(?P<term>{_TERM_ALT})\b:?(?:[ ]?(?P<qty>\d+(?:\.\d+)?)(?![.\d])(?![ ]?%)[ ]?"
    rf"(?P<unit>{_UNIT_ALT})?\b)?(?:[ ]?(?P<dv>\d+(?:\.\d+)?)[ ]?%)?"
)
# pass 2 (scoped re-extract): qty [unit] term
_P2 = re.compile(
    rf"\b(?P<qty>\d+(?:\.\d+)?)[ ]?(?P<unit>{_UNIT_ALT})?[ ]"
    rf"(?:of )?(?P<term>{_TERM_ALT})\b"
)
_ABSENT = re.compile(r"not a significant source of (?P<list>[a-z ,]+)")

# cheap vectorized prefilters (STRING patterns in the RE2∩re subset):
# most rows are excluded before the per-row matching without changing a
# match.  ``extract_batch`` passes an object-dtype Series, so they run
# Python ``re``, not RE2.
_ANY_TERM_PAT = _TERM_ALT
_ABSENT_PAT = "not a significant source of "

CONFLICT = "conflict"
ABSENT = "absent"

# JSON status of a resolved qty: a value is "ok", no value is "missing"
_STATUS = {None: "missing", CONFLICT: CONFLICT, ABSENT: ABSENT}


def _resolve(pattern: re.Pattern, text: str) -> dict[str, list]:
    """``field -> [qty, unit, dv]`` over ``pattern``'s matches in ``text``:
    the conflict-detecting merge (add_to_dict, A1 semantics).  qty is the
    one distinct value seen, "conflict" for several, None for none; unit
    and dv are the first non-null in match order (``_P2`` has no dv)."""
    cells: dict[str, list] = {}
    for m in pattern.finditer(text):
        g = m.groupdict()
        cell = cells.setdefault(TERM_TO_FIELD[g["term"]], [None, None, None])
        qty = g["qty"]
        if qty is not None and qty != cell[0]:
            cell[0] = qty if cell[0] is None else CONFLICT
        if cell[1] is None:
            cell[1] = g["unit"]
        if cell[2] is None:
            cell[2] = g.get("dv")
    return cells


def _row_fields(text: str, termed: bool, absent: bool, date: str | None) -> tuple[str, int]:
    """One turn's (fields_json, n_fields)."""
    cells = _resolve(_P1, text) if termed else {}
    # pass 2 only fills cells pass 1 left missing (merge_results,
    # NFT_OCR.py:1415-1441 with test_conflicts=False), column by column:
    # a field with a qty can still take its unit or dv from pass 2.
    if termed and (not cells or any(None in cell for cell in cells.values())):
        for field, alt in _resolve(_P2, text).items():
            cell = cells.setdefault(field, [None, None, None])
            for i, value in enumerate(alt):
                if cell[i] is None:
                    cell[i] = value
    # absence inference: a listed field with no extracted qty is "absent"
    if absent:
        for m in _ABSENT.finditer(text):
            for term in m["list"].split(","):
                field = TERM_TO_FIELD.get(term.strip())
                if field is not None:
                    cell = cells.setdefault(field, [None, None, None])
                    if cell[0] is None:
                        cell[0] = ABSENT
    # the expiry date (pre-extracted from raw text) lands in the same
    # per-document record (extract_expiry, Ingredients_OCR.py:295-305)
    if date is not None:
        cells["expiry"] = [date, None, None]
    items = [
        f'"{field}":{{"qty":"{qty or ""}","unit":"{unit or ""}","dv":"{dv or ""}",'
        f'"status":"{_STATUS.get(qty, "ok")}"}}'
        for field, (qty, unit, dv) in sorted(cells.items())
    ]
    return "{" + ",".join(items) + "}", len(items)


def extract_fields_series(
    cleaned: pd.Series, expiry: pd.Series | None = None
) -> tuple[pd.Series, pd.Series]:
    """Series of cleaned text -> (fields_json Series, n_fields Series).

    JSON shape: {"field": {"qty": "15", "unit": "g", "dv": "20", "status":
    "ok|conflict|missing|absent"}} with field keys sorted — deterministic
    bytes for the parity gate; "{}" and 0 for a turn with no fields.

    ``expiry`` (optional, aligned to ``cleaned``): pre-extracted expiry
    date strings (``extract_expiry``, Ingredients_OCR.py:295-305); non-null
    entries become an ``expiry`` field with the date as qty, status ok.
    """
    # prefilters: a row with no vocabulary term cannot produce a P1/P2
    # match (both patterns require \b<term>\b, and the unanchored literal
    # alternation is a superset of the bounded one), so the per-row
    # matching runs only on term-bearing rows.  Identical matches by
    # construction.
    termed = cleaned.str.contains(_ANY_TERM_PAT, regex=True).fillna(False).astype(bool)
    absent = cleaned.str.contains(_ABSENT_PAT, regex=False).fillna(False).astype(bool)
    dates = {} if expiry is None else expiry.dropna().astype(str).to_dict()
    rows = [
        _row_fields(text, t, a, dates.get(i)) if t or a or i in dates else ("{}", 0)
        for i, text, t, a in zip(
            cleaned.index, cleaned.tolist(), termed.tolist(), absent.tolist()
        )
    ]
    fields_json = pd.Series([j for j, _ in rows], index=cleaned.index, dtype=object)
    n_fields = pd.Series([n for _, n in rows], index=cleaned.index, dtype="int64")
    return fields_json, n_fields
