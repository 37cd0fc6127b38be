"""Printed-line budget for bench.py (round-4 postmortem).

The driver captures only the LAST 2000 chars of bench output; round 4's
full-detail JSON line exceeded that and BENCH_r04.json recorded
``parsed: null`` — the most load-bearing artifact of the round was
unreadable.  This test pins the fix: the compact projection of a
FULLY-POPULATED result (every optional block present, every rep's
seconds at both levels) must stay under 1800 chars, leaving ≥200 chars of
slack inside the capture window.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _full_extraction(reps: int) -> dict:
    def lvl(sec):
        runs = [round(sec * (1 + 0.037 * i), 2) for i in range(reps)]
        return {
            "sec": runs[reps // 2],
            "turns_per_sec": round(42839 / runs[reps // 2], 1),
            "all_runs_sec": runs,
        }

    return {
        "turns": 42839,
        "convs": 8000,
        "levels": [8, 32],
        "local[8]": lvl(61.77),
        "local[32]": lvl(27.96),
        "scaling_efficiency": 0.552,
    }


def _full_result() -> dict:
    queries = {q: 12.34 for q in bench.HEADLINE}
    return {
        "metric": (
            "headline ops wall-clock at sf + shipped extraction job at N and "
            "4N cores"
        ),
        "value": round(sum(queries.values()), 2),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "ann_recall": {
            "k": 5,
            "n_queries": 64,
            "sf_dir": "/root/testdata/sf0.1",
            "lsh_radius0": 0.238,
            "lsh_radius1": 0.697,
            "lsh_radius2": 1.0,
            "ivf_nprobe1": 0.55,
            "ivf_nprobe2": 0.81,
            "ivf_nprobe4": 1.0,
            "ivf_kmeans_nprobe1": 0.58,
            "ivf_kmeans_nprobe2": 0.84,
            "ivf_kmeans_nprobe4": 1.0,
            "dedup_emb_pairs_exact": 123,
            "dedup_emb_pair_recall": 0.934,
            "dedup_minhash_pairs_exact": 456,
            "dedup_minhash_pair_recall": 0.987,
        },
        "lsh_guard": {
            "cap": 200,
            "minhash_bands": {
                "n_buckets": 2033,
                "max_bucket": 26,
                "n_dropped_buckets": 3,
                "n_dropped_rows": 712,
            },
            "embedding_bands": {
                "n_buckets": 1024,
                "max_bucket": 31,
                "n_dropped_buckets": 0,
                "n_dropped_rows": 0,
            },
            "ann_tables": {
                "n_buckets": 2048,
                "max_bucket": 19,
                "n_dropped_buckets": 0,
                "n_dropped_rows": 0,
            },
        },
        "extraction": _full_extraction(5),
    }


def test_compact_line_fits_driver_capture():
    line = json.dumps(bench._compact_result(_full_result()))
    assert len(line) < 1800, f"printed line {len(line)} chars; driver keeps 2000"


def test_compact_keeps_driver_contract_keys():
    out = bench._compact_result(_full_result())
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in out
    assert set(out["queries"]) == set(bench.HEADLINE)
    # scaling evidence survives: every rep, the medians and the efficiency
    ex = out["extraction"]
    assert ex["levels"] == [8, 32] and ex["turns"] == 42839
    assert ex["runs"][0] == [61.77, 64.06, 66.34, 68.63, 70.91]
    assert ex["sec"] == [66.34, 30.03] and ex["eff"] == 0.552
    # guard collapses to one audit scalar (nonzero drop stays visible)
    assert out["lsh_guard"] == {"dropped_rows": 712}


def test_compact_error_paths_still_fit():
    r = _full_result()
    r["extraction"] = {"error": "all scaling worker reps failed " * 20}
    r["ann_recall"] = {"error": "boom " * 100}
    r["lsh_guard"] = {"error": "boom " * 100}
    line = json.dumps(bench._compact_result(r))
    assert len(line) < 1800
