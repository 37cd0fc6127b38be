"""Bilingual duplicate split: EN/FR doubled content cut at the second
fuzzy "Ingredients" header.

Re-expresses ``split_ingrdients`` (``Ingredients_OCR.py:14-25``): the
reference fuzzy-matches ``(Ingredients){e<=2}`` over the block text; when
exactly two occurrences exist and the first starts within the first 5
characters, the block is split at the second occurrence into the
English part and the French part (label packaging prints the same list
twice, once per language), each then language-ID'd and corrected
separately.

The fuzzy match is token-level: a whitespace token within Levenshtein
distance 2 of the literal ``Ingredients`` (case-sensitive, like the
reference's pattern) counts as an occurrence at its character offset.
For header-like tokens ("Ingredients:", "Ingrédients", "lngredients")
this is the same acceptance set; pathological mid-word substring matches
the regex form would also hit are not meaningful headers.  The ``regex``
module (fuzzy ``{e<=2}``) is installed, but the token form stays: it
keeps mid-word hits out by construction, and the 3-gram prefilter below
already confines the Levenshtein check to a few candidate tokens per row.
Trying ``regex`` on those candidates is a kernel change of its own
(ROADMAP item 5), under byte parity and batch-split invariance.

The split runs BEFORE the cleanup chain (the reference splits raw OCR
text before ``process_str``), so the marker's capitalization survives to
be matched.
"""

from __future__ import annotations

import re

MARKER = "Ingredients"
MAX_EDITS = 2
MAX_FIRST_OFFSET = 5  # first occurrence must start within the first 5 chars

# any token fuzzy-matching an 11-char marker with <=2 edits has length 9-13
_MIN_LEN = len(MARKER) - MAX_EDITS
_MAX_LEN = len(MARKER) + MAX_EDITS

# cheap vectorized prefilter (superset): 2 edits on an 11-char string leave
# at least one contiguous 3-gram of the original intact (pigeonhole: <=3
# untouched runs cover >=9 chars), so any true occurrence contains one of
# the marker's 3-grams literally (case-insensitively, since a case flip is
# an edit only when it is one of the <=2).  Rows with < 2 hits of this
# pattern cannot contain two fuzzy occurrences.
PREFILTER_PAT = (
    "(?i)"
    + "|".join(MARKER[i : i + 3].lower() for i in range(len(MARKER) - 2))
)


def _lev_le(a: str, b: str, k: int) -> bool:
    """Levenshtein(a, b) <= k, banded DP with early exit (k is tiny)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        row_min = i
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
            row_min = min(row_min, cur[j])
        if row_min > k:
            return False
        prev = cur
    return prev[lb] <= k


# candidate tokens only: whitespace-bounded runs of marker-compatible
# length — the C regex engine does the token walk, Python sees only the
# few plausible tokens per row
_CAND_TOKEN_RE = re.compile(rf"(?<!\S)\S{{{_MIN_LEN},{_MAX_LEN}}}(?!\S)")
# exact-case marker 3-grams: <=2 edits leave >=1 of these intact (see
# PREFILTER_PAT), so a token with none of them can never fuzzy-match —
# a 9-substring C-level prescreen before the Levenshtein DP
_MARKER_GRAMS = tuple(MARKER[i : i + 3] for i in range(len(MARKER) - 2))


def _occurrences(text: str) -> list[int]:
    """Character offsets of whitespace tokens fuzzy-matching the marker."""
    hits: list[int] = []
    for m in _CAND_TOKEN_RE.finditer(text):
        tok = m.group()
        if not any(g in tok for g in _MARKER_GRAMS):
            continue
        if _lev_le(tok, MARKER, MAX_EDITS):
            hits.append(m.start())
            if len(hits) > 2:  # reference requires exactly 2; 3+ never splits
                return hits
    return hits


def split_block(text: str) -> tuple[str, str] | None:
    """Split one raw block at the second fuzzy marker occurrence.

    Returns (first_language_part, second_language_part), or None when the
    reference's conditions don't hold (not exactly 2 occurrences, or the
    first occurrence starts after character 5) — mirroring
    ``split_ingrdients``'s ``None, None``.

    Intentional deviation: when both fuzzy headers match *identical*
    literal text, the reference's ``block_text.index(ingr_title[1])``
    finds the FIRST occurrence again (splitting at offset ~0 into an
    empty first part); here the split lands at the true second
    occurrence (``hits[1]``), which is the semantically correct split
    point.  This, plus the token-level (vs substring) matching noted
    above, is a deliberate bug-fix over the reference, not drift."""
    hits = _occurrences(text)
    if len(hits) != 2:
        return None
    if hits[0] > MAX_FIRST_OFFSET:
        return None
    i = hits[1]
    return text[:i].rstrip(" "), text[i:].lstrip(" ")


def split_blocks(blocks: list[str]) -> list[str]:
    """Apply :func:`split_block` across a turn's block list: a block that
    splits contributes its two language parts as separate blocks (so the
    parts survive as distinct ``\\n\\n`` blocks through cleanup, span
    derivation, and per-block language ID)."""
    out: list[str] = []
    for b in blocks:
        parts = split_block(b)
        if parts is None:
            out.append(b)
        else:
            out.extend(parts)
    return out
