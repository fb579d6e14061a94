"""The workload parts: what one repetition runs, and how it is checked.

A workload (``gen.PARTS``) runs its parts one after the other in one Spark
session. Each repetition of a part calls the engine's public entry points
only, inside spans (``tracing.Tracer``), and returns an ``Outcome``;
``check`` compares it with the DuckDB expectations of ``oracle``.
Part-specific per-layer metrics and the isolation probes run only in traced
mode.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb

import gen

PAGES = "pages/1.0"


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # scratch directory of this run
    inp: str  # generated input directory
    expected: dict
    rep: int = 0


@dataclass
class Outcome:
    docs: int
    counts: dict  # docs / failed_docs / ignored_docs / violations (+ by_check)
    out_dir: str | None = None
    extra: dict = field(default_factory=dict)


def _mismatches(expected: dict, got: dict, keys: list[str]) -> list[str]:
    return [
        f"{k}: expected {expected[k]!r}, got {got.get(k)!r}"
        for k in keys if expected[k] != got.get(k)
    ]


def _by_check(violations) -> dict[str, int]:
    """``check_id@schema_id`` row counts of a violations DataFrame."""
    return {
        f"{r['check_id']}@{r['schema_id'] or 'null'}": r["count"]
        for r in violations.groupBy("schema_id", "check_id").count().collect()
    }


def _tree(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def _noop(df) -> int:
    """Write ``df`` to the ``noop`` sink; the row count rides the action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return int(obs.get["n"])


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_time(fn, times: int = 3) -> float:
    return statistics.median(_timed(fn) for _ in range(times))


class Workload:
    name = ""
    writes = False
    # timed cold: its first repetitions (``min_reps``) are measured and no
    # more, as a one-shot validation or a CLI invocation runs; otherwise the
    # part repeats until ``--seconds`` have passed
    cold = True
    min_reps = 1  # timed repetitions, however short ``--seconds`` is

    def setup(self, ctx: Ctx) -> None:
        pass

    def rep(self, ctx: Ctx) -> Outcome:
        raise NotImplementedError

    def check(self, ctx: Ctx, out: Outcome, full: bool) -> list[str]:
        """Mismatches against the oracle. An in-memory ``ValidationResult``
        is checked by its observed counts, and ``full`` adds its per-check
        counts, which cost one extra Spark job."""
        keys = ["docs", "failed_docs", "ignored_docs", "violations"]
        if full:
            out.counts["by_check"] = _by_check(out.extra["result"].violations)
            keys.append("by_check")
        return _mismatches(ctx.expected, out.counts, keys)

    def release(self, out: Outcome) -> None:
        out.extra.pop("result").release()

    def layers(self, ctx: Ctx, outs: list[Outcome]) -> dict[str, float]:
        """Workload-specific per-layer metrics over traced repetitions."""
        return {}

    def probes(self, ctx: Ctx) -> dict[str, float]:
        """Isolation probes: one layer's operator over a fixed input."""
        return {}


def _compile(ctx: Ctx, schema: dict):
    from fairtracks_validator_spark.plans.schema_compile import compile_schema

    with ctx.tracer.span("schema_compile.compile_schema"):
        return compile_schema(schema)


def _pages_df(ctx: Ctx):
    from pyspark.sql import functions as F

    return (
        ctx.spark.read.parquet(ctx.inp)
        .withColumn("source", F.col("url"))
        .withColumn("ord", F.col("page_id"))
    )


def _pages_probes(ctx: Ctx, plan, df) -> dict[str, float]:
    """Scan the columns the checks read, then scan and evaluate the row
    checks, each into the ``noop`` sink."""
    from pyspark.sql import functions as F

    from fairtracks_validator_spark.operators.checks import (
        check_entries,
        checks_pass_predicate,
    )

    scan = df.select("url", "warc_ts", "text", "lang")
    checks = df.select(
        checks_pass_predicate(plan.checks).alias("ok"),
        F.array(*check_entries(plan.checks)).alias("entries"),
    )
    with ctx.tracer.span("probe.scan"):
        out = {"scan.noop_s": _median_time(lambda: _noop(scan))}
    with ctx.tracer.span("probe.checks"):
        out["checks.noop_s"] = _median_time(lambda: _noop(checks))
    return out


class PagesBatch(Workload):
    """Stored pages table → ``validate_corpus`` → ``sink_observed(noop)``."""

    name = "pages_batch"
    cold = False
    # no warm-up repetition: this part runs after the CLI part has warmed the
    # JVM on the same checks. Its first repetitions still pay for this plan's
    # code generation and the JIT (about 1.8x, then 1.1-1.3x a settled one):
    # the median of five absorbs both
    min_reps = 5

    def setup(self, ctx: Ctx) -> None:
        from fairtracks_validator_spark.sources.pages import pages_schema_dict

        self.plan = _compile(ctx, pages_schema_dict())
        self.df = _pages_df(ctx)

    def rep(self, ctx: Ctx) -> Outcome:
        from fairtracks_validator_spark.runner import (
            sink_observed,
            validate_corpus,
        )

        with ctx.tracer.span("runner.validate_corpus"):
            res = validate_corpus({PAGES: (self.plan, self.df)})
        with ctx.tracer.span("runner.sink_observed"):
            m = sink_observed(res)
        return Outcome(m["docs"], dict(m), extra={"result": res})

    def probes(self, ctx: Ctx) -> dict[str, float]:
        return _pages_probes(ctx, self.plan, self.df)


def _duck_counts(out_dir: str, verdicts: bool) -> dict:
    """Counts of a run's parquet outputs, read back by DuckDB."""
    con = duckdb.connect()
    try:
        viol = f"read_parquet('{out_dir}/violations/*/*.parquet')"
        rows = con.execute(
            f"SELECT check_id || '@' || coalesce(schema_id, 'null'), count(*) "
            f"FROM {viol} GROUP BY ALL").fetchall()
        counts = {"by_check": dict(rows), "violations": sum(n for _, n in rows),
                  "ignored_docs": 0}
        if verdicts:
            counts["docs"], counts["failed_docs"] = con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE status = 'failed') "
                f"FROM read_parquet('{out_dir}/verdicts/*/*.parquet')"
            ).fetchone()
            counts["lineage_parts"] = con.execute(
                f"SELECT count(DISTINCT part_id) FROM "
                f"read_parquet('{out_dir}/lineage/*.parquet') "
                f"WHERE status = 'ok'").fetchone()[0]
        else:
            counts["failed_docs"] = con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT source, ord FROM {viol})"
            ).fetchone()[0]
            counts["registry_rows"] = con.execute(
                f"SELECT count(*) FROM "
                f"read_parquet('{out_dir}/registry/*/*.parquet')").fetchone()[0]
        return counts
    finally:
        con.close()


class WritingWorkload(Workload):
    """Writes its outputs to disk; checked by reading them back."""

    writes = True

    def release(self, out: Outcome) -> None:
        out.extra["out_bytes"], out.extra["out_files"] = _tree(out.out_dir)
        shutil.rmtree(out.out_dir, ignore_errors=True)


class PagesResumable(WritingWorkload):
    """The CLI ``validate`` production path, resumed until every partition
    of the checkpointed run is done. Timed cold, first in its workload: in
    production every CLI invocation starts a fresh JVM."""

    name = "pages_resumable"
    partitions = 8
    max_partitions = 4

    def setup(self, ctx: Ctx) -> None:
        from fairtracks_validator_spark.sources.pages import pages_schema_dict

        # the CLI compiles inside every invocation; this times one compile
        # of the same schema from outside the package
        self.plan = _compile(ctx, pages_schema_dict())
        self.schema = os.path.join(ctx.work, "pages_schema.json")
        with open(self.schema, "w") as f:
            json.dump(pages_schema_dict(), f)

    def rep(self, ctx: Ctx) -> Outcome:
        from fairtracks_validator_spark import cli

        out = os.path.join(ctx.work, f"out-{ctx.rep}")
        shutil.rmtree(out, ignore_errors=True)
        done: set[int] = set()
        calls = []
        while len(done) < self.partitions:
            buf = io.StringIO()
            t0 = time.perf_counter()
            with ctx.tracer.span("cli.main"), contextlib.redirect_stdout(buf):
                cli.main([
                    "validate", "--input", ctx.inp, "--schema", self.schema,
                    "--out", out, "--key-col", "url",
                    "--partitions", str(self.partitions),
                    "--max-partitions", str(self.max_partitions),
                    "--run-id", f"rep{ctx.rep}",
                ])
            calls.append(time.perf_counter() - t0)
            processed = json.loads(buf.getvalue().splitlines()[0])["processed"]
            if not processed:
                raise RuntimeError(f"no partition processed; done={sorted(done)}")
            done.update(processed)
        return Outcome(ctx.expected["docs"], {}, out_dir=out,
                       extra={"calls": calls})

    def check(self, ctx: Ctx, out: Outcome, full: bool) -> list[str]:
        got = _duck_counts(out.out_dir, verdicts=True)
        out.counts.update(got)
        bad = _mismatches(ctx.expected, got, [
            "docs", "failed_docs", "violations", "by_check"])
        if got["lineage_parts"] != self.partitions:
            bad.append(f"lineage: {got['lineage_parts']} of "
                       f"{self.partitions} partitions ok")
        return bad

    def layers(self, ctx: Ctx, outs: list[Outcome]) -> dict[str, float]:
        resumes = [c for o in outs for c in o.extra["calls"][1:]]
        return {
            "checkpoint.first_invocation_s": statistics.median(
                o.extra["calls"][0] for o in outs),
            "checkpoint.resume_invocation_s": statistics.median(resumes),
            "checkpoint.out_bytes": statistics.median(
                o.extra["out_bytes"] for o in outs),
            "checkpoint.files": statistics.median(
                o.extra["out_files"] for o in outs),
        }



class CatalogFK(Workload):
    """Two-schema JSON-lines corpus → ``read_json_corpus`` →
    ``validate_routed`` → ``sink_observed(noop)``: the general path."""

    name = "catalog_fk"

    def setup(self, ctx: Ctx) -> None:
        self.schemas = gen.catalog_schemas()

    def check(self, ctx: Ctx, out: Outcome, full: bool) -> list[str]:
        # per-check counts recompute the whole general path (a sixth of the
        # repetition's time again): traced runs only
        return super().check(ctx, out, full and ctx.tracer.enabled)

    def _read(self, ctx: Ctx):
        from fairtracks_validator_spark.sources.catalog import (
            read_json_corpus,
            schema_id_column,
        )

        with ctx.tracer.span("catalog.read_json_corpus"):
            df = read_json_corpus(ctx.spark, ctx.inp, multiline=False)
        return df.withColumn("schema_id", schema_id_column(df))

    def rep(self, ctx: Ctx) -> Outcome:
        from fairtracks_validator_spark.runner import (
            sink_observed,
            validate_routed,
        )

        plans = {sid: _compile(ctx, s) for sid, s in self.schemas.items()}
        df = self._read(ctx)
        with ctx.tracer.span("runner.validate_routed"):
            res = validate_routed(df, plans)
        with ctx.tracer.span("runner.sink_observed"):
            m = sink_observed(res)
        return Outcome(m["docs"], dict(m), extra={"result": res})

    def probes(self, ctx: Ctx) -> dict[str, float]:
        from fairtracks_validator_spark.operators.checks import (
            checks_pass_predicate,
        )
        from fairtracks_validator_spark.operators.fk import fk_check
        from fairtracks_validator_spark.operators.uniqueness import (
            uniqueness_check,
        )
        from fairtracks_validator_spark.sources.catalog import route_corpus
        from fairtracks_validator_spark.runner import align_to_plan

        plans = {sid: _compile(ctx, s) for sid, s in self.schemas.items()}
        corpus, _ = route_corpus(self._read(ctx), plans)
        # fixed, materialised inputs so the probes time the operator alone
        survivors = {}
        for sid, (plan, df) in corpus.items():
            s = align_to_plan(df, plan).where(checks_pass_predicate(plan.checks))
            survivors[sid] = s.persist()
            survivors[sid].count()
        out = {"uniqueness.noop_s": 0.0, "uniqueness.dup_rows": 0.0,
               "fk.noop_s": 0.0, "fk.violation_rows": 0.0}
        registries = {}
        with ctx.tracer.span("probe.uniqueness"):
            for sid, (plan, _) in corpus.items():
                for uq in plan.uniques:
                    res = uniqueness_check(survivors[sid], uq.check_id,
                                           uq.members, sid)
                    t0 = time.perf_counter()
                    out["uniqueness.dup_rows"] += _noop(res.violations)
                    out["uniqueness.noop_s"] += time.perf_counter() - t0
                    registries[(sid, uq.check_id)] = res.pk.persist()
                    registries[(sid, uq.check_id)].count()
                    for c in res.persisted:
                        c.unpersist()
        with ctx.tracer.span("probe.fk"):
            for sid, (plan, _) in corpus.items():
                for fk in plan.fks:
                    v = fk_check(
                        survivors[sid], fk.check_id, fk.members, sid,
                        fk.target_schema_id,
                        registries[(fk.target_schema_id, fk.target_check_id)],
                    )
                    t0 = time.perf_counter()
                    out["fk.violation_rows"] += _noop(v)
                    out["fk.noop_s"] += time.perf_counter() - t0
        for df in list(survivors.values()) + list(registries.values()):
            df.unpersist()
        return out


class PagesStream(WritingWorkload):
    """``availableNow`` catch-up through ``validate_stream`` over a parquet
    file stream, ``maxFilesPerTrigger`` files per micro-batch."""

    name = "pages_stream"
    files_per_trigger = 2

    def setup(self, ctx: Ctx) -> None:
        from fairtracks_validator_spark.sources.pages import pages_schema_dict

        self.plan = _compile(ctx, pages_schema_dict())
        self.schema = ctx.spark.read.parquet(ctx.inp).schema
        # wall time measures data batches only
        ctx.spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                           "false")

    def rep(self, ctx: Ctx) -> Outcome:
        from pyspark.sql import functions as F

        from fairtracks_validator_spark.streaming.validate_stream import (
            validate_stream,
        )

        out = os.path.join(ctx.work, f"out-{ctx.rep}")
        shutil.rmtree(out, ignore_errors=True)
        stream = (
            ctx.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", str(self.files_per_trigger))
            .parquet(ctx.inp)
            .withColumn("source", F.col("url"))
            .withColumn("ord", F.col("page_id"))
        )
        with ctx.tracer.span("streaming.validate_stream") as span:
            q = validate_stream(stream, self.plan, out)
            if span is not None:
                # micro-batch jobs run under the query's own job group
                span["extra_groups"].append(str(q.runId))
            q.awaitTermination()
        progress = q.recentProgress
        docs = sum(p["numInputRows"] for p in progress)
        return Outcome(docs, {}, out_dir=out, extra={"progress": progress})

    def check(self, ctx: Ctx, out: Outcome, full: bool) -> list[str]:
        got = _duck_counts(out.out_dir, verdicts=False)
        got["docs"] = out.docs
        out.counts.update(got)
        return _mismatches(ctx.expected, got, [
            "docs", "failed_docs", "violations", "by_check", "registry_rows"])

    def layers(self, ctx: Ctx, outs: list[Outcome]) -> dict[str, float]:
        batches = [
            p["durationMs"] for o in outs for p in o.extra["progress"]
            if p["numInputRows"] > 0
        ]
        return {
            "stream.batches": statistics.median(
                sum(1 for p in o.extra["progress"] if p["numInputRows"] > 0)
                for o in outs),
            "stream.batch_s_p50": statistics.median(
                b["triggerExecution"] / 1e3 for b in batches),
            "stream.add_batch_s": statistics.median(
                b.get("addBatch", 0) / 1e3 for b in batches),
            "stream.overhead_s": statistics.median(
                (b["triggerExecution"] - b.get("addBatch", 0)) / 1e3
                for b in batches),
            "stream.registry_rows": statistics.median(
                o.counts["registry_rows"] for o in outs),
        }


PARTS = {w.name: w for w in (PagesBatch, PagesResumable, CatalogFK,
                             PagesStream)}


def parts(workload: str, ctx: Ctx) -> list[tuple[Workload, Ctx]]:
    """The workload's parts in run order, each with a context of its own:
    its input, expectations and scratch directory."""
    out = []
    for name in gen.PARTS[workload]:
        work = os.path.join(ctx.work, name)
        os.makedirs(work, exist_ok=True)
        out.append((PARTS[name](), dataclasses.replace(
            ctx, inp=os.path.join(ctx.inp, name), work=work,
            expected=ctx.expected[name])))
    return out
