"""Validation benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload pages_resume_batch --seed 1 \
        --seconds 10 --trace 0

A workload runs its parts (``gen.PARTS``) one after the other. One Python
process, one client, closed loop: a repetition starts only after the
previous one finished and was checked. Spark runs on ``local[nproc]``
with ``nproc`` shuffle partitions. ``--trace 0`` reports the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` traces repetitions (alternating
with untraced ones where a part repeats) and reports the per-layer
metrics. The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the lines before it give the environment stamp and a
readable summary. Scratch data lives under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import env  # noqa: E402
import gen  # noqa: E402
from tracing import StatusStore, Tracer, median  # noqa: E402

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
# every workload reports every per-layer metric; a layer that is not on the
# workload's path reads 0
PER_LAYER = {
    "session.start_s": "s",
    "jvm.heap_peak_mb": "MB",
    "schema_compile.compile_s": "s",
    "catalog.read_s": "s",
    "runner.plan_s": "s",
    "runner.sink_s": "s",
    "runner.jobs": "count",
    "runner.stages": "count",
    "scan.noop_s": "s",
    "checks.noop_s": "s",
    "uniqueness.noop_s": "s",
    "uniqueness.dup_rows": "count",
    "fk.noop_s": "s",
    "fk.violation_rows": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.busy_frac": "ratio",
    "checkpoint.first_invocation_s": "s",
    "checkpoint.resume_invocation_s": "s",
    "checkpoint.out_bytes": "bytes",
    "checkpoint.files": "count",
    "stream.batches": "count",
    "stream.batch_s_p50": "s",
    "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "stream.registry_rows": "count",
    "sink.out_bytes_per_doc": "bytes/doc",
    "trace.docs_per_s": "docs/s",
    "trace.overhead_frac": "ratio",
    "trace.span_coverage": "ratio",
}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _prepare(args, run_dir: str) -> subprocess.Popen:
    return subprocess.Popen([
        sys.executable, os.path.join(HERE, "prepare.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--size", args.size, "--out", run_dir,
    ])


def _per_rep_sum(tracer: Tracer, names: tuple[str, ...], rep) -> float:
    return sum(d for n in names for d in tracer.durations(n, rep))


def geomean(values: list[float]) -> float:
    if min(values) <= 0:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Part:
    """One part's timed repetitions ``[(rep, wall, outcome)]``."""

    w: object
    ctx: object
    setup_s: float = 0.0
    traced: list = field(default_factory=list)
    untraced: list = field(default_factory=list)

    @property
    def timed(self) -> list:
        # a traced run of a part timed cold has only traced repetitions
        return self.untraced or self.traced

    def docs_per_s(self, reps: list) -> float:
        return median([o.docs / wall for _, wall, o in reps])


def _measure(part: Part, tracer: Tracer, store: StatusStore, args,
             counts: dict) -> None:
    """Set the part up, then repeat it, closed loop, until ``min_reps`` and
    (unless it is timed cold) ``--seconds`` have passed."""
    w, ctx = part.w, part.ctx
    tracer.rep = f"setup:{w.name}"
    t0 = time.perf_counter()
    w.setup(ctx)
    part.setup_s = time.perf_counter() - t0
    _log(f"{w.name}: set-up done in {part.setup_s:.2f}s")
    # a traced run alternates untraced and traced repetitions of a
    # repeating part, so the tracing overhead is measured within one
    # process; a part timed cold traces its repetitions instead
    pair = bool(args.trace) and not w.cold
    min_reps = max(w.min_reps, 2 if pair else 1)
    deadline = time.perf_counter() + args.seconds
    done = 0
    while done < min_reps or (not w.cold and time.perf_counter() < deadline):
        done += 1
        counts["rep"] += 1
        rep = counts["rep"]
        tracer.enabled = bool(args.trace) and (done % 2 == 0 or not pair)
        tracer.rep = ctx.rep = rep
        counts["attempted"] += 1
        try:
            t0 = time.perf_counter()
            with tracer.span("rep"):
                out = w.rep(ctx)
            wall = time.perf_counter() - t0
            if tracer.enabled:
                # read before the status store's retention drops them
                out.extra["stage_sums"] = store.group_sums([
                    g for sp in tracer.rep_spans(rep)
                    for g in [sp["group"]] + sp["extra_groups"]
                ])
            # per-check counts cost extra jobs: first repetition only
            bad = w.check(ctx, out, full=done == 1)
            w.release(out)
        except Exception:
            _log(f"{w.name} rep {rep} raised:\n{traceback.format_exc()}")
            counts["failed"] += 1
            continue
        if bad:
            counts["failed"] += 1
            for b in bad:
                _log(f"{w.name} rep {rep} mismatch: {b}")
            continue
        (part.traced if tracer.enabled else part.untraced).append(
            (rep, wall, out))
    _log(f"{w.name}: {done} timed repetitions done")
    if args.trace and (not part.traced or (pair and not part.untraced)):
        raise RuntimeError(f"{w.name}: trace mode needs a traced and an "
                           "untraced repetition that succeeded")


def _part_layers(part: Part, tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics of one part, medians over its traced repetitions;
    a layer the part does not reach reads 0."""
    w, traced = part.w, part.traced
    reps = [r for r, _, _ in traced]

    def per_rep(*names: str) -> float:
        return median([_per_rep_sum(tracer, names, r) for r in reps])

    compile_names = ("schema_compile.compile_schema",)
    m = {
        # the CLI compiles inside every invocation: then the one set-up
        # compile of the same schema stands in
        "schema_compile.compile_s": (
            per_rep(*compile_names)
            or _per_rep_sum(tracer, compile_names, f"setup:{w.name}")),
        "catalog.read_s": per_rep("catalog.read_json_corpus"),
        "runner.plan_s": per_rep("runner.validate_corpus",
                                 "runner.validate_routed"),
        "runner.sink_s": per_rep("runner.sink_observed"),
        "wall_s": median([wall for _, wall, _ in traced]),
    }
    sums = [o.extra["stage_sums"] for _, _, o in traced]
    for k in sums[0]:
        m[k] = median([s[k] for s in sums])
    m.update(w.layers(part.ctx, [o for _, _, o in traced]))
    return m


# per-layer metrics that are not a sum over the workload's parts
_NOT_SUMMED = {"session.start_s", "jvm.heap_peak_mb", "exec.busy_frac",
               "sink.out_bytes_per_doc", "trace.docs_per_s",
               "trace.overhead_frac", "trace.span_coverage"}


def _layer_metrics(parts: list[Part], tracer: Tracer, session_s: float,
                   spark, cores: int) -> dict[str, float]:
    """Per-layer metrics of the workload: per repetition of every part in
    turn, so time and counts are summed over the parts."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["jvm.heap_peak_mb"] = env.jvm_heap_peak_mb(spark)
    per_part = [_part_layers(p, tracer) for p in parts]
    for pm in per_part:
        for k, v in pm.items():
            if k in m and k not in _NOT_SUMMED:
                m[k] += v
    m["exec.busy_frac"] = m["exec.task_run_s"] / (
        sum(pm["wall_s"] for pm in per_part) * cores)
    m["trace.span_coverage"] = min(
        tracer.coverage(s) for p in parts for r, _, _ in p.traced
        for s in tracer.rep_spans(r) if s["name"] == "rep")
    writing = [p for p in parts if p.w.writes]
    if writing:
        m["sink.out_bytes_per_doc"] = _bytes_per_doc(writing, traced=True)
    m["trace.docs_per_s"] = geomean([p.docs_per_s(p.traced) for p in parts])
    paired = [p for p in parts if p.untraced]
    if paired:
        m["trace.overhead_frac"] = 1.0 - (
            geomean([p.docs_per_s(p.traced) for p in paired])
            / geomean([p.docs_per_s(p.untraced) for p in paired]))
    tracer.enabled = True
    for p in parts:
        tracer.rep = f"probe:{p.w.name}"
        m.update(p.w.probes(p.ctx))
    return m


def _bytes_per_doc(parts: list[Part], traced: bool = False) -> float:
    """Bytes written per doc over the writing parts, medians per part."""
    reps = [p.traced if traced else p.timed for p in parts]
    docs = sum(median([o.docs for _, _, o in r]) for r in reps)
    return sum(median([o.extra["out_bytes"] for _, _, o in r])
               for r in reps) / docs if docs else 0.0


def run(args, run_dir: str, local_dir: str, cores: int) -> dict:
    from fairtracks_validator_spark.session import get_spark

    from workloads import Ctx, parts as workload_parts

    before = env.contention_probe()
    # inputs are generated while the JVM starts
    prep = _prepare(args, run_dir)
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": local_dir,
                # JIT sooner: a seconds-long run then measures settled code
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={local_dir} "
                    "-XX:CompileThresholdScaling=0.1",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        _log(f"session started in {session_s:.2f}s")
        rc = prep.wait(timeout=600)
        _log("inputs ready")
    finally:
        if prep.poll() is None:
            prep.kill()
            prep.wait()
    try:
        if rc != 0:
            raise RuntimeError(f"input preparation failed ({rc})")
        with open(os.path.join(run_dir, "expected.json")) as f:
            prepared = json.load(f)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        store = StatusStore(spark)
        ctx = Ctx(spark=spark, tracer=tracer, work=run_dir,
                  inp=os.path.join(run_dir, "input"),
                  expected=prepared["expected"])
        parts = [Part(w, c) for w, c in workload_parts(args.workload, ctx)]
        counts = {"rep": 0, "attempted": 0, "failed": 0}
        for part in parts:
            _measure(part, tracer, store, args, counts)

        # set-up: session, inputs, and each part's own set-up (compiling,
        # opening)
        setup_s = (session_s + prepared["materialise_s"]
                   + sum(p.setup_s for p in parts))
        rss = env.peak_rss_parts()
        writing = [p for p in parts if p.w.writes]
        result = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "size": args.size,
            "reps": sum(len(p.traced) + len(p.untraced) for p in parts),
            "rep_walls": {
                p.w.name: sorted((r, wall, tr) for tr, reps in
                                 ((1, p.traced), (0, p.untraced))
                                 for r, wall, _ in reps)
                for p in parts},
            "attempted": counts["attempted"], "failed": counts["failed"],
            "error_rate": counts["failed"] / counts["attempted"],
            "part_docs_per_s": {p.w.name: p.docs_per_s(p.timed)
                                for p in parts},
            "e2e": {
                "setup_s": setup_s,
                "docs_per_s": geomean([p.docs_per_s(p.timed)
                                       for p in parts]),
                "peak_rss_mb": sum(rss.values()),
            },
            "out_bytes_per_doc": (_bytes_per_doc(writing) if writing
                                  else None),
            "env": dict(
                env.stamp(ROOT, spark), seed=args.seed,
                input_rows=prepared["input_rows"],
                input_bytes=prepared["input_bytes"],
                input_files=prepared["input_files"],
                materialise_s=prepared["materialise_s"],
                session_s=session_s,
                part_setup_s={p.w.name: p.setup_s for p in parts},
                peak_rss_parts=rss,
            ),
        }
        if args.trace:
            result["layers"] = _layer_metrics(parts, tracer, session_s,
                                              spark, cores)
            result["spans"] = [dict(sp, self_s=tracer.self_time(sp))
                               for sp in tracer.spans]
    finally:
        env.stop_spark(spark)
        _log("spark stopped")
    after = env.contention_probe()
    result["env"].update(contention_before=before, contention_after=after,
                         steal_share=env.steal_share(before, after),
                         contended=env.contended(before, after, cores))
    return result


def _summary(r: dict) -> str:
    e = r["e2e"]
    obpd = r["out_bytes_per_doc"]
    parts = ", ".join(f"{k} {v:.1f}" for k, v in r["part_docs_per_s"].items())
    return (
        f"{r['workload']} seed={r['seed']} reps={r['reps']}: "
        f"setup_s={e['setup_s']:.3f} s  "
        f"docs_per_s={e['docs_per_s']:.1f} docs/s ({parts})  "
        f"peak_rss_mb={e['peak_rss_mb']:.1f} MB  "
        f"out_bytes_per_doc={'n/a' if obpd is None else f'{obpd:.2f} bytes/doc'}  "
        f"error_rate={r['error_rate']:.4f} ({r['failed']}/{r['attempted']})"
        f"{'  CONTENDED' if r['env']['contended'] else ''}"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=list(gen.SIZES), default="full",
                    help="input size; 'smoke' is the self-test size")
    args = ap.parse_args(argv)
    if importlib.util.find_spec("fairtracks_validator_spark") is None:
        _log(f"package fairtracks_validator_spark not found under {ROOT}")
        return 2

    cores = env.nproc()
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    local_dir = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dir)
    # pinned before the JVM starts: session.get_spark defaults to local[32]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    # a 1 GiB driver heap instead of the engine's 8 GiB default: the JVM grows
    # its heap towards the cap whatever the work needs (7 GB resident for
    # the catalog and stream parts at 8 GiB), so the resident peak follows the cap either
    # way; jvm.heap_peak_mb reports the heap actually used
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    try:
        result = run(args, run_dir, local_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    results_dir = os.path.join(work_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}"
    spans = result.pop("spans", None)
    if spans is not None:
        with open(os.path.join(results_dir, stem + ".spans.json"), "w") as f:
            json.dump(spans, f, indent=1)
    with open(os.path.join(results_dir, stem + ".json"), "w") as f:
        json.dump(result, f, indent=1)

    print("env " + json.dumps(result["env"]))
    print(_summary(result))
    values = result["layers"] if args.trace else result["e2e"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
