"""Check a committed extraction output against the oracle.

Reads ``data/`` and ``_lineage/`` back with pyarrow, outside Spark.  A turn
fails when its committed row is missing, duplicated or differs from the
oracle in any checked column.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from perfbench.workloads import CHECKED_COLUMNS

KEYS = ["conv_id", "turn_idx"]


@dataclass
class CheckResult:
    failed_turns: int
    expected_rows: int
    committed_rows: int
    lineage_turns: int
    lineage: pd.DataFrame

    @property
    def ok(self) -> bool:
        return (
            self.failed_turns == 0
            and self.committed_rows == self.expected_rows == self.lineage_turns
        )


def check_output(out_dir: Path, oracle: pd.DataFrame, partial: bool = False) -> CheckResult:
    """``partial``: the job stopped early, so only the conversations it
    committed are expected."""
    data = pq.read_table(out_dir / "data", columns=[*KEYS, *CHECKED_COLUMNS]).to_pandas()
    lineage = pq.read_table(out_dir / "_lineage").to_pandas()
    data["turn_idx"] = data["turn_idx"].astype("int32")
    if partial:
        oracle = oracle[oracle["conv_id"].isin(set(data["conv_id"]))]
    counts = data.groupby(KEYS, sort=False).size().rename("_copies").reset_index()
    merged = oracle.merge(counts, on=KEYS, how="left").merge(
        data.drop_duplicates(KEYS), on=KEYS, how="left", suffixes=("", "_got")
    )
    bad = merged["_copies"].fillna(0) != 1
    for col in CHECKED_COLUMNS:
        got = merged[f"{col}_got"]
        same = (merged[col] == got) | (merged[col].isna() & got.isna())
        bad |= ~same
    return CheckResult(
        failed_turns=int(bad.sum()),
        expected_rows=len(oracle),
        committed_rows=len(data),
        lineage_turns=int(lineage["turn_count"].sum()),
        lineage=lineage,
    )
