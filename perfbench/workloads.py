"""Seeded workload generators for the extraction benchmark.

Each workload is a pure function of its seed.  Inputs are written once per
(workload, seed) as parquet in the file layout the workload needs, next to
the whole-frame oracle output the benchmark checks committed turns against.

- ``mixed``: the 17 payload classes of ``synth.build_turn`` with Zipf
  conversation lengths, rows scrambled across many files.  Kernel changes
  show here.
- ``chat_short``: the same conversation shapes, but every turn is 3-12
  words of plain chat (no markup, tool JSON or nutrition vocabulary), so
  the bare kernel is about 10x cheaper per turn and the Spark layers
  dominate.
- ``long_conv_skew``: a few conversations of 4-5k turns, each alone in its
  own file and in turn order, plus short conversations clustered by
  ``conv_id``.  One scan split then holds a whole giant conversation, which
  is what the salted repartition exists for.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

from ocr_spark import synth
from ocr_spark.oracle import oracle_extract

WORKLOADS = ("mixed", "chat_short", "long_conv_skew")

MIXED_TURNS = 6_000
CHAT_TURNS = 6_000
SKEW_GIANT_TURNS = 9_000  # split over two giants, 4-5k turns each
SKEW_SHORT_TURNS = 1_000
SCRAMBLED_FILES = 16
SKEW_SHORT_FILES = 4

# plain chat vocabulary: no HTML, no field or reject-gate terms, and none of
# the bilingual marker's 3-grams, so every turn takes the kernel's cheapest path
_CHAT_WORDS = (
    "hello thanks can you help me plan a trip to the lake this week sure what "
    "day works best for your family maybe saturday sounds good let us book "
    "hotel room near park how about museum ok idea i will check map later yes "
    "no please send list of songs play music call mom after lunch today so we "
    "could walk by shop buy cake"
).split()

CHECKED_COLUMNS = [
    "extracted_text", "fields_json", "n_blocks", "n_lines", "n_tokens",
    "n_fields", "status",
]


@dataclass
class Workload:
    name: str
    seed: int
    input_dir: str
    turns: int
    oracle: pd.DataFrame  # conv_id, turn_idx + CHECKED_COLUMNS, one row per input turn
    giant_convs: list[str]


def _conversations(seed: int, total: int, start: int, build) -> list[dict]:
    """Whole Zipf-length conversations from ``start`` until ``total`` turns;
    the last one is cut so the count is exact for every seed."""
    rows: list[dict] = []
    c = start
    while len(rows) < total:
        n = min(synth.n_turns(c, seed), total - len(rows))
        rows.extend(build(c, t) for t in range(n))
        c += 1
    return rows


def _chat_turn(seed: int):
    def build(c: int, t: int) -> dict:
        r = random.Random(synth._h(seed, "chat", c, t))
        words = " ".join(r.choice(_CHAT_WORDS) for _ in range(r.randint(3, 12)))
        return {
            "conv_id": synth.conv_id(c),
            "turn_idx": t,
            "role": ("user", "assistant")[t % 2],
            "text": words,
            "tool": "",
            "ts": synth.EPOCH + pd.Timedelta(seconds=c * 3600 + t * 7),
        }

    return build


def _frame(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def _scrambled(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    key = [synth._h(seed, "shuf", c, t) for c, t in zip(pdf.conv_id, pdf.turn_idx)]
    return pdf.assign(_k=key).sort_values("_k").drop(columns="_k").reset_index(drop=True)


def _write_split(pdf: pd.DataFrame, files: int, out: Path, first: int = 0) -> int:
    """Write ``pdf`` as ``files`` contiguous parquet files; returns next index."""
    bounds = [len(pdf) * i // files for i in range(files + 1)]
    for i in range(files):
        part = pdf.iloc[bounds[i] : bounds[i + 1]].reset_index(drop=True)
        synth.write_transcripts_parquet(part, str(out / f"part-{first + i:03d}.parquet"))
    return first + files


def generate(name: str, seed: int, out: Path) -> tuple[pd.DataFrame, list[str]]:
    """Write the workload's input files into ``out``; returns the input
    frame and the ids of its giant conversations."""
    out.mkdir(parents=True)
    if name == "mixed":
        pdf = _scrambled(
            _frame(_conversations(seed, MIXED_TURNS, 0, lambda c, t: synth.build_turn(c, t, seed))),
            seed,
        )
        _write_split(pdf, SCRAMBLED_FILES, out)
        return pdf, []
    if name == "chat_short":
        pdf = _scrambled(_frame(_conversations(seed, CHAT_TURNS, 0, _chat_turn(seed))), seed)
        _write_split(pdf, SCRAMBLED_FILES, out)
        return pdf, []
    if name == "long_conv_skew":
        first = random.Random(seed).randint(4_000, 5_000)
        parts, giants = [], []
        nxt = 0
        for g, n in enumerate((first, SKEW_GIANT_TURNS - first)):
            giant = _frame([synth.build_turn(g, t, seed) for t in range(n)])
            nxt = _write_split(giant, 1, out, nxt)
            parts.append(giant)
            giants.append(synth.conv_id(g))
        short = _frame(
            _conversations(seed, SKEW_SHORT_TURNS, len(giants), lambda c, t: synth.build_turn(c, t, seed))
        )
        _write_split(short, SKEW_SHORT_FILES, out, nxt)
        parts.append(short)
        return pd.concat(parts, ignore_index=True), giants
    raise ValueError(f"unknown workload {name!r}")


def _cache_key(name: str, seed: int, root: Path) -> str:
    """Inputs and oracle depend on this file and the kernel sources."""
    h = hashlib.sha1()
    for p in [Path(__file__), *sorted((root / "ocr_spark").rglob("*.py"))]:
        h.update(p.read_bytes())
    return f"{name}-{seed}-{h.hexdigest()[:10]}"


def prepare(name: str, seed: int, work: Path, root: Path) -> Workload:
    """Generate (or reuse) the inputs and the oracle for (workload, seed)."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}")
    base = work / "inputs" / _cache_key(name, seed, root)
    if not (base / "oracle.parquet").is_file():
        tmp = base.with_name(base.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        pdf, giants = generate(name, seed, tmp / "input")
        oracle = oracle_extract(pdf, row_at_a_time=False)
        oracle = oracle[["conv_id", "turn_idx", *CHECKED_COLUMNS]]
        oracle.to_parquet(tmp / "oracle.parquet", index=False)
        (tmp / "giants.txt").write_text("\n".join(giants))
        shutil.rmtree(base, ignore_errors=True)
        os.replace(tmp, base)
    oracle = pd.read_parquet(base / "oracle.parquet")
    giants = [g for g in (base / "giants.txt").read_text().split("\n") if g]
    return Workload(name, seed, str(base / "input"), len(oracle), oracle, giants)
