"""Self-test of the benchmark (not of the engine)::

    python3 perfbench/selftest.py

1. A small-size smoke of every workload: each must exit 0, report
   ``correct: true`` and print exactly the metric names and units that
   ``BENCHMARK.json`` declares (end-to-end untraced, per-layer traced).
2. The oracle gate trips: a repetition checked against a deliberately
   corrupted expectation must report mismatches, and the true expectation
   none.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark, the
   command exits non-zero without printing a result.

Takes a few minutes: every smoke run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_work", "selftest")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.splitlines()


def check_smoke(failures: list[str]) -> None:
    bench = _bench()
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    listed = sorted(w["name"] for w in bench["workloads"])
    runs = [(w, 0) for w in gen.WORKLOAD_NAMES] + [(w, 1) for w in listed]
    for workload, trace in runs:
        before = len(failures)
        rc, lines = _run(ROOT, workload, trace)
        tag = f"{workload} trace={trace}"
        if rc != 0 or not lines:
            failures.append(f"{tag}: exit {rc}")
            continue
        result = json.loads(lines[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            failures.append(f"{tag}: result keys {sorted(result)}")
        if not result["correct"] or result["failed"]:
            failures.append(f"{tag}: not correct ({result['failed']} failed)")
        want = declared[trace]
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            failures.append(f"{tag}: metrics {got} != declared {want}")
        print(f"smoke {tag}: {'ok' if len(failures) == before else 'FAILED'}",
              flush=True)


def check_gate(failures: list[str]) -> None:
    """Real engine output against the true and a corrupted expectation."""
    from fairtracks_validator_spark.session import get_spark

    import env
    from prepare import prepare
    from tracing import Tracer
    from workloads import PARTS, Ctx

    work = os.path.join(SCRATCH, "gate")
    shutil.rmtree(work, ignore_errors=True)
    expected = prepare("pages_resume_batch", 3, "smoke",
                       work)["expected"]["pages_batch"]
    local_dir = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.local.dir": local_dir})
    try:
        w = PARTS["pages_batch"]()
        ctx = Ctx(spark=spark, tracer=Tracer(spark, enabled=False), work=work,
                  inp=os.path.join(work, "input", "pages_batch"),
                  expected=expected)
        w.setup(ctx)
        out = w.rep(ctx)
        if w.check(ctx, out, full=True):
            failures.append("gate: true expectation reported mismatches")
        bad = dict(expected, failed_docs=expected["failed_docs"] + 1)
        bad["by_check"] = dict(expected["by_check"])
        bad["by_check"]["pk@pages/1.0"] += 1
        ctx.expected = bad
        got = w.check(ctx, out, full=True)
        if len(got) != 2:
            failures.append(f"gate: corrupted expectation gave {got}")
        w.release(out)
    finally:
        env.stop_spark(spark)
    print("gate: done", flush=True)


def check_bare_dir(failures: list[str]) -> None:
    """Only BENCHMARK.json and the benchmark: must fail, print no result."""
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run(bare, gen.WORKLOAD_NAMES[0], 0)
    if rc == 0 or any(line.startswith("{") for line in lines):
        failures.append(f"bare dir: exit {rc}, stdout {lines[-1:]}")
    print("bare dir: done", flush=True)


def main() -> int:
    failures: list[str] = []
    check_bare_dir(failures)
    check_gate(failures)
    check_smoke(failures)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selftest " + ("failed" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
