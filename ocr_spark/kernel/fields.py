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

Everything is whole-Series pandas (extractall / map / groupby) — no per-row
Python.  Output is a deterministic JSON string per turn (sorted field keys),
so byte-equality is the parity check.
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

# cheap vectorized prefilters (STRING patterns — kept in the RE2∩re subset
# so Arrow-backed Series stay on the RE2 fast path, see cleanup.py):
# extractall is the kernel's hottest call, and most rows can be excluded
# before it runs without changing a single match.
_ANY_TERM_PAT = "|".join(re.escape(t) for t, _ in VOCAB)
_ABSENT_PAT = "not a significant source of "

CONFLICT = "conflict"
ABSENT = "absent"
MISSING = ""


def _match_frame(s: pd.Series, pattern: re.Pattern) -> pd.DataFrame:
    """finditer -> (row, field, qty, unit, dv) long frame.

    A direct per-row ``finditer`` loop with flat list accumulation: the
    same matches in the same order as ``str.extractall``, without its
    per-match MultiIndex machinery — measured 1.6x faster on termed
    batches and verified frame- and fields_json-byte-identical before the
    swap (round 3; extractall was the kernel's hottest call)."""
    rows: list = []
    fields: list = []
    qtys: list = []
    units: list = []
    dvs: list = []
    t2f = TERM_TO_FIELD
    finditer = pattern.finditer
    for idx, text in s.items():
        for m in finditer(text):
            g = m.groupdict()
            f = t2f.get(g.get("term"))
            if f is None:
                continue
            rows.append(idx)
            fields.append(f)
            qtys.append(g.get("qty"))
            units.append(g.get("unit"))
            dvs.append(g.get("dv"))
    return pd.DataFrame(
        {"row": rows, "field": fields, "qty": qtys, "unit": units, "dv": dvs}
    )


def _resolve(frame: pd.DataFrame) -> pd.DataFrame:
    """Conflict-detecting merge per (row, field) — A1 semantics.

    distinct non-null qty count: 0 -> MISSING, 1 -> that value,
    >1 -> "conflict".  unit/dv: first non-null in match order.
    """
    if frame.empty:
        return pd.DataFrame(columns=["row", "field", "qty", "unit", "dv"])
    g = frame.groupby(["row", "field"], sort=False)
    qty_n = g["qty"].nunique()
    qty_first = g["qty"].first()  # first non-null per pandas groupby.first
    unit = g["unit"].first()
    dv = g["dv"].first()
    out = pd.DataFrame(
        {
            "qty": qty_first.where(qty_n == 1, CONFLICT).where(qty_n > 0, MISSING),
            "unit": unit,
            "dv": dv,
        }
    ).reset_index()
    return out


def extract_fields_series(
    cleaned: pd.Series, expiry: pd.Series | None = None
) -> tuple[pd.Series, pd.Series]:
    """Series of cleaned text -> (fields_json Series, n_fields Series).

    JSON shape: {"field": {"qty": "15", "unit": "g", "dv": "20", "status":
    "ok|conflict|missing|absent"}} with field keys sorted — deterministic
    bytes for the parity gate.

    ``expiry`` (optional, aligned to ``cleaned``): pre-extracted expiry
    date strings (``extract_expiry``, Ingredients_OCR.py:295-305); non-null
    entries become an ``expiry`` field with the date as qty, status ok.
    """
    # prefilter: a row with no vocabulary term cannot produce a P1/P2
    # match (both patterns require \b<term>\b, and the unanchored literal
    # alternation is a superset of the bounded one), so extractall —
    # per-match Python row assembly, the hottest kernel call — runs only
    # on term-bearing rows.  Identical matches by construction.
    has_term = (
        cleaned.str.contains(_ANY_TERM_PAT, regex=True).fillna(False).astype(bool)
    )
    termed = cleaned[has_term]
    p1 = _resolve(_match_frame(termed, _P1))

    # pass 2 only fills cells that pass 1 left missing (fill-missing merge,
    # merge_results NFT_OCR.py:1415-1441 with test_conflicts=False) — and
    # the fill is PER COLUMN: a field with qty present can still backfill
    # its unit or dv from P2.  Any (row, field) P2 can touch also appears
    # in P1 (P2's term match is the same \b-bounded alternation, and a
    # bare term always P1-matches), so P2 only needs the rows where P1
    # left ANY of qty/unit/dv missing, plus the (theoretical) term-bearing
    # rows P1 produced nothing for.
    p1_missing = (
        p1["qty"].isna()
        | (p1["qty"] == MISSING)
        | p1["unit"].isna()
        | (p1["unit"] == MISSING)
        | p1["dv"].isna()
        | (p1["dv"] == MISSING)
    )
    p2_rows = set(p1.loc[p1_missing, "row"]) | (
        set(termed.index) - set(p1["row"])
    )
    p2 = _resolve(_match_frame(termed.loc[sorted(p2_rows)], _P2))
    if not p2.empty:
        merged = p1.merge(p2, on=["row", "field"], how="outer", suffixes=("", "_2"))
        for col in ("qty", "unit", "dv"):
            alt = merged[f"{col}_2"]
            base = merged[col]
            take_alt = base.isna() | (base == MISSING)
            merged[col] = base.where(~take_alt, alt)
        res = merged[["row", "field", "qty", "unit", "dv"]]
    else:
        res = p1

    # absence inference: listed fields with no extracted quantity -> "absent"
    has_absent = (
        cleaned.str.contains(_ABSENT_PAT, regex=False).fillna(False).astype(bool)
    )
    ab = cleaned[has_absent].str.extractall(_ABSENT)
    if not ab.empty:
        ab = ab.reset_index(level=-1, drop=True)["list"]
        ab = ab.str.split(",").explode().str.strip()
        ab_frame = pd.DataFrame(
            {"row": ab.index, "field": ab.map(TERM_TO_FIELD)}
        ).dropna()
        if not ab_frame.empty:
            ab_frame = ab_frame.drop_duplicates()
            res = res.merge(ab_frame.assign(absent=True), on=["row", "field"], how="outer")
            res["absent"] = res["absent"].eq(True)
        else:
            res = res.assign(absent=False)
    else:
        res = res.assign(absent=False)

    # expiry dates (pre-extracted from raw text) join the field table as a
    # first-class "expiry" field — the reference's extract_expiry result
    # lands in the same per-document record (Ingredients_OCR.py:295-305)
    if expiry is not None:
        exp = expiry.dropna()
        if not exp.empty:
            exp_frame = pd.DataFrame(
                {
                    "row": exp.index,
                    "field": "expiry",
                    "qty": exp.astype(str).values,
                    "unit": None,
                    "dv": None,
                    "absent": False,
                }
            )
            res = pd.concat(
                [res if not res.empty else None, exp_frame], ignore_index=True
            )

    if res.empty:
        empty = pd.Series("{}", index=cleaned.index)
        return empty, pd.Series(0, index=cleaned.index)

    no_qty = res["qty"].isna() | (res["qty"] == MISSING)
    res["qty"] = res["qty"].where(~(no_qty & res["absent"]), ABSENT)
    res["status"] = "ok"
    res.loc[res["qty"] == CONFLICT, "status"] = CONFLICT
    res.loc[res["qty"] == ABSENT, "status"] = ABSENT
    res.loc[res["qty"].isna() | (res["qty"] == MISSING), "status"] = "missing"

    # deterministic JSON assembly, vectorized
    def _jstr(col: pd.Series) -> pd.Series:
        return col.fillna("").astype(str)

    item = (
        '"' + res["field"] + '":{"qty":"' + _jstr(res["qty"])
        + '","unit":"' + _jstr(res["unit"])
        + '","dv":"' + _jstr(res["dv"])
        + '","status":"' + res["status"] + '"}'
    )
    res = res.assign(item=item).sort_values(["row", "field"], kind="mergesort")
    joined = res.groupby("row", sort=False)["item"].agg(",".join)
    counts = res.groupby("row", sort=False)["item"].size()
    fields_json = ("{" + joined + "}").reindex(cleaned.index, fill_value="{}")
    n_fields = counts.reindex(cleaned.index, fill_value=0).astype("int64")
    return fields_json, n_fields
