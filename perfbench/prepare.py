"""Generate one workload's inputs and their expected results.

Runs as its own process so the generator's and DuckDB's memory never counts
toward the benchmark's ``peak_rss_mb``::

    python3 perfbench/prepare.py --workload pages_resume_batch --seed 1 \
        --size full --out DIR

Writes ``DIR/input/<part>/`` and ``DIR/expected.json``, which also records
how long writing the inputs took.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import gen
import oracle


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _expected(workload: str, path: str) -> dict:
    if workload == "catalog_fk":
        return oracle.catalog_expected(path)
    return oracle.pages_expected(path)


def prepare(workload: str, seed: int, size: str, out: str) -> dict:
    """Each part of the workload (``gen.PARTS``) gets its input under
    ``input/<part>`` and its expectations keyed by part."""
    final = os.path.join(out, "input")
    inputs = {p: os.path.join(final, p) for p in gen.PARTS[workload]}
    t0 = time.perf_counter()
    for w, path in inputs.items():
        gen.write_inputs(w, size, path, seed)
    materialise_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    expected = {w: _expected(w, path) for w, path in inputs.items()}
    info = {
        "expected": expected,
        "materialise_s": materialise_s,
        "oracle_s": time.perf_counter() - t0,
        "input_rows": sum(e["docs"] for e in expected.values()),
        "input_bytes": _tree_bytes(final),
        "input_files": sum(len(os.listdir(p)) for p in inputs.values()),
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(info, f)
    return info


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=list(gen.SIZES))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    prepare(a.workload, a.seed, a.size, a.out)


if __name__ == "__main__":
    main()
