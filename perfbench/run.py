#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

Workloads and the reason each was chosen are in ``workloads.py``. The
engine runs on ``local[nproc]`` from this one driver process. Inputs
are generated from source into ``.perfbench/inputs`` (cached; never
part of ``setup_s``); everything else the run writes (parquet outputs,
Spark local dirs, spill, warehouse, DuckDB temp) goes to
``.perfbench/run-<pid>``, deleted at exit.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process
start to ready: ``get_spark``, table or source registration and, for
warmed workloads, the cold pass; input generation and correctness
checks excluded) and ``pass_s`` (median
wall of the measured passes). A warmed workload measures warm passes
for ``--seconds``, at least three; the migration measures exactly one pass, the first
in its session, as a migration runs once per process. Correctness
checks never run inside a timed pass. The CPU of the
whole process tree per pass, from ``/proc``, is in the summary line
(and, traced, ``proc.cpu_s``): it spreads too much across runs to
carry a bound. ``--trace 1`` runs the same passes with job groups and
spans at every layer boundary and prints the per-layer metrics
instead; its spans go to ``.perfbench/traces``.

Every operation (one query execution, one output-table write) counts
as attempted; it fails if it raises or fails its correctness check.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import asdict
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
# input directories kept per kind of input; older seeds are pruned
KEEP_SEED_DIRS = 3
# A pass's wall varies ~10% between processes and one pass in a few
# runs slow by a quarter (JIT, GC); the median of three drops it.
MIN_WARM_PASSES = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _dir_bytes(path: Path, suffix: str) -> int:
    return sum(p.stat().st_size for p in path.rglob(f"*{suffix}"))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark process: environment, session, passes, report."""

    def __init__(self, args: argparse.Namespace):
        from probes import ProcTree
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            _fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        self.w = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench"
        self.tmp = self.work / f"run-{os.getpid()}"
        self.excluded_s = 0.0  # input generation, oracle checks: not set-up
        self.info: dict = {
            "workload": self.w.name,
            "seed": self.seed,
            "trace": int(self.traced),
            "load_avg_1m_at_start": os.getloadavg()[0],
        }
        self.layer: dict[str, float] = {}
        self.spark = None
        self.proc = ProcTree()

    # ------------------------------------------------------------ inputs
    def _prune(self, pattern: str, keep: Path) -> None:
        dirs = sorted(
            (p for p in (self.work / "inputs").glob(pattern) if p != keep),
            key=lambda p: p.stat().st_mtime,
        )
        for old in dirs[: max(0, len(dirs) - (KEEP_SEED_DIRS - 1))]:
            shutil.rmtree(old, ignore_errors=True)

    def make_inputs(self) -> None:
        """Generate (or reuse) this run's inputs. Cache directories are
        keyed by a hash of the code that generates them, so an edited
        generator never reads a stale cache."""
        t0 = time.perf_counter()
        inputs = self.work / "inputs"
        if self.w.kind == "catalog":
            import tables

            # fixed data seed: the run seed permutes the query order
            key = _src_hash(tables)
            self.sf_dir = inputs / f"sf{self.w.sf}-seed42-{key}"
            if not self.sf_dir.exists():
                tables.write_tables(self.sf_dir, self.w.sf, 42)
            self.info["data_fingerprint"] = _fingerprint(self.sf_dir)
        else:
            import mongo_inputs
            from mongodb_etl_migration_spark import fixtures
            from mongodb_etl_migration_spark.sources import bson_codec

            base = f"mongo-x{self.w.scale}-{_src_hash(mongo_inputs, fixtures, bson_codec)}"
            docs = mongo_inputs.encoded(self.w.scale, inputs / base)
            self.src_dir = inputs / f"{base}-p{self.cores}-s{self.seed}"
            self.manifest = mongo_inputs.write_inputs(
                self.src_dir, docs, self.cores, self.seed
            )
            os.utime(self.src_dir)
            self._prune(f"{base}-p*-s*", self.src_dir)
            self.info["inputs"] = self.manifest["collections"]
        self.excluded_s += time.perf_counter() - t0
        self.info["inputs_s"] = time.perf_counter() - t0

    # ----------------------------------------------------------- session
    def start_session(self) -> None:
        """Everything the run writes goes under ``self.tmp``."""
        import tempfile

        local = self.tmp / "local"
        local.mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        from mongodb_etl_migration_spark import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} "
            f"-Dderby.system.home={self.tmp}",
        }
        self.spark, self.layer["session.start_s"] = _timed(
            get_spark, app_name="perfbench", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.info["cores"] = self.spark.sparkContext.defaultParallelism
        from probes import JobGroups, Tracer

        self.proc.sample()
        self.groups = JobGroups(self.spark) if self.traced else None
        self.tracer = Tracer(self.groups)

    def stop(self) -> None:
        """Stop Spark and the JVM and wait for every child process."""
        from probes import wait_gone

        kids = self.proc.descendants()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        for pid in wait_gone(kids, 30):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        wait_gone(kids, 10)

    # ------------------------------------------------------------ passes
    def run(self) -> dict:
        from workloads import Outcome

        self.outcome = Outcome()
        self.passes: list[dict] = []
        if self.w.kind == "catalog":
            self._catalog()
        else:
            self._migration()
        return self.report()

    def _measure(self, body, traced: bool) -> None:
        """One pass: wall, tree CPU and new processes around ``body``.
        The pass's correctness checks (its ``after``) and, traced, the
        job-group read-back run once the pass is timed."""
        self.tracer.enabled = traced
        cpu0, pids0 = self.proc.sample()
        with self.tracer.span("pass") as sp:
            rec = body()
        cpu1, pids1 = self.proc.sample()
        self.tracer.enabled = False
        after = rec.pop("after", None)
        rec.update(wall_s=sp.seconds, cpu_s=cpu1 - cpu0, spawns=len(pids1 - pids0))
        rec["traced"] = traced
        if traced:
            from layers import attribute

            attribute(self, rec)
        rec.pop("frames", None)
        if after is not None:
            after()
        self.passes.append(rec)

    def _warm_passes(self, body) -> None:
        """Passes until ``--seconds`` of them ran, at least
        ``MIN_WARM_PASSES``. A traced run alternates untraced and
        traced passes, so the difference of their medians is the
        tracing overhead."""
        t0 = time.perf_counter()
        i = 0
        while i < MIN_WARM_PASSES or time.perf_counter() - t0 < self.seconds:
            self._measure(body, traced=self.traced and i % 2 == 1)
            i += 1

    # ---- catalog workloads
    def _catalog(self) -> None:
        from mongodb_etl_migration_spark import catalog as C
        from workloads import check_queries

        t0 = time.perf_counter()
        cat = C.Catalog(self.spark, str(self.sf_dir))
        for name in C.TABLES:
            cat.table(name)
        self.layer["catalog.table_s"] = time.perf_counter() - t0
        if self.traced:
            self._wrap_catalog_table(C)
        self.pass_idx = 0
        cold, self.info["cold_pass_s"] = _timed(self._catalog_pass)
        # every query once against its oracle, outside set-up
        results, check_s = _timed(check_queries, cold["frames"], self.sf_dir, self.tmp)
        self.excluded_s += check_s
        self.info["check_s"] = check_s
        for name, (ok, msg) in results.items():
            self.outcome.record(ok, f"{name}: {msg}")
        # the check ran every query once more: the measured passes are warm
        self.ready()
        self._warm_passes(self._catalog_pass)

    def _wrap_catalog_table(self, C) -> None:
        inner = C.Catalog.table
        self.layer["catalog.table_warm_s"] = 0.0

        def table(cat, name):
            try:
                with self.tracer.span("catalog.table") as sp:
                    return inner(cat, name)
            finally:
                self.layer["catalog.table_warm_s"] += sp.seconds

        C.Catalog.table = table

    def _catalog_pass(self) -> dict:
        """Every query of the workload, in the seed's order, built and
        run to a noop sink. A query counts as attempted here; the cold
        pass's results are then checked against the oracles."""
        from mongodb_etl_migration_spark.queries import QUERIES
        from workloads import pass_order

        span = self.tracer.span
        c0 = self.layer.get("catalog.table_warm_s", 0.0)
        per_query, frames, groups = {}, {}, {}
        for name in pass_order(self.w.queries, self.seed, self.pass_idx):
            b, x = groups[name] = f"b{self.pass_idx}:{name}", f"x{self.pass_idx}:{name}"
            rec = per_query[name] = {"build_s": 0.0, "run_s": 0.0}
            try:
                with span("queries.build", group=b) as build:
                    df = QUERIES[name](self.spark, str(self.sf_dir))
                rec["build_s"] = build.seconds
                with span("exec.run", group=x) as run:
                    df.write.format("noop").mode("overwrite").save()
                rec["run_s"] = run.seconds
                frames[name] = df
                self.outcome.record(True)
            except Exception as err:  # a failed query is a failed operation
                self.outcome.record(False, f"{name}: {type(err).__name__}: {err}")
        self.pass_idx += 1
        return {
            "queries": per_query,
            "catalog_s": self.layer.get("catalog.table_warm_s", 0.0) - c0,
            "frames": frames,
            "groups": groups,
        }

    # ---- migration
    def _migration(self) -> None:
        from mongodb_etl_migration_spark.sources.mongodump_source import (
            register_mongodump,
        )
        import mongo_inputs

        t0 = time.perf_counter()
        register_mongodump(self.spark)
        reader = self.spark.read.format("mongodump")
        self.sources = {
            name: reader.schema(schema).option("path", str(self.src_dir / name)).load()
            for name, schema in mongo_inputs.schemas().items()
        }
        self.layer["sources.load_s"] = time.perf_counter() - t0
        self.bson_bytes = sum(c["bytes"] for c in self.manifest["collections"].values())
        self.pass_idx = 0
        self.ready()
        # one pass, the first in the session: a migration runs once per process
        self._measure(self._migration_pass, traced=self.traced)
        if self.traced:
            self._read_rates()

    def _migration_pass(self) -> dict:
        """Build the reference DAG and write its tables as parquet. The
        written tables are checked by the returned ``after``, once the
        pass is timed."""
        from mongodb_etl_migration_spark.metrics import RunMetrics
        from mongodb_etl_migration_spark.pipeline import run_reference_pipeline
        from workloads import N_OUTPUTS, RUN_TS

        span = self.tracer.span
        out_dir = self.tmp / f"out{self.pass_idx}"
        b, x = f"b{self.pass_idx}:pipeline", f"x{self.pass_idx}:write"
        self.pass_idx += 1
        rec: dict = {"build_s": 0.0, "run_s": 0.0, "groups": {"pipeline": (b, x)}}
        try:
            with span("pipeline.build", group=b) as build:
                outputs = run_reference_pipeline(self.sources, RUN_TS)
            rec["build_s"] = build.seconds
        except Exception as err:
            for _ in range(N_OUTPUTS):
                self.outcome.record(False, f"pipeline: {type(err).__name__}: {err}")
            return rec
        metrics = RunMetrics()
        raised = {}
        with span("exec.write", group=x) as write:
            for name, df in outputs.items():
                try:
                    metrics.observed(name, df).write.mode("overwrite").parquet(
                        str(out_dir / name)
                    )
                    metrics.harvest()
                except Exception as err:
                    raised[name] = f"{type(err).__name__}: {err}"
        written = {e.entity: e.rows for e in metrics.entities}
        rec.update(
            run_s=write.seconds,
            rows_out=sum(written.values()),
            write_s=sum(e.seconds for e in metrics.entities),
            bytes_written=_dir_bytes(out_dir, ".parquet"),
            frames=outputs,
            after=lambda: self._check_migration(out_dir, outputs, written, raised),
        )
        return rec

    def _check_migration(self, out_dir: Path, outputs: dict, written: dict, raised: dict) -> None:
        """One operation per output table: it fails if its write
        raised, its read-back row count differs from the rows written,
        a ``validation`` check fails, or its ``(rows, checksum)``
        differs from the expected one."""
        from workloads import EXPECTED_DIGEST, migration_checks

        t0 = time.perf_counter()
        try:
            schemas = {name: df.schema for name, df in outputs.items()}
            digest, problems = migration_checks(self.spark, out_dir, schemas, self.manifest)
        except Exception as err:
            digest, problems = {}, {n: [f"checks raised {err}"] for n in outputs}
        self.info["digest"] = digest
        for name in outputs:
            bad = list(problems.get(name, []))
            if name in raised:
                bad.append(raised[name])
            elif digest.get(name, (None,))[0] != written.get(name):
                bad.append(f"rows written {written.get(name)} != read {digest.get(name)}")
            if digest.get(name) != EXPECTED_DIGEST.get(name):
                bad.append(f"(rows, checksum) {digest.get(name)} != {EXPECTED_DIGEST.get(name)}")
            self.outcome.record(not bad, f"{name}: {'; '.join(bad)}")
        shutil.rmtree(out_dir, ignore_errors=True)
        self.info["check_s"] = time.perf_counter() - t0

    def _read_rates(self) -> None:
        """Traced only: each collection read through the source to a
        noop sink, documents per second over all of them."""
        t0 = time.perf_counter()
        for df in self.sources.values():
            df.write.format("noop").mode("overwrite").save()
        docs = sum(c["docs"] for c in self.manifest["collections"].values())
        self.layer["sources.read_docs_per_s"] = docs / (time.perf_counter() - t0)

    # ------------------------------------------------------------ report
    def ready(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.excluded_s

    def report(self) -> dict:
        measured = [p for p in self.passes if p["traced"] == self.traced]
        self.info["passes"] = len(measured)
        self.info["pass_walls_s"] = [round(p["wall_s"], 4) for p in measured]
        self.info["cpu_per_pass_s"] = [round(p["cpu_s"], 3) for p in measured]
        # a mean, not a median: the JVM compiles and collects in
        # background threads, so a pass's CPU spills into the next
        self.cpu_s = sum(p["cpu_s"] for p in measured) / len(measured)
        self.info["cpu_s"] = self.cpu_s
        self.proc.sample()
        self.info["peak_rss_mb"] = self.proc.peak_rss_mb
        self.info["processes"] = len(self.proc.peak_mb)
        if not self.traced:
            return {
                "setup_s": (self.setup_s, "s"),
                "pass_s": (_median([p["wall_s"] for p in measured]), "s"),
            }
        from layers import per_layer

        return per_layer(self, measured)


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _src_hash(*modules) -> str:
    h = hashlib.sha1()
    for m in modules:
        h.update(Path(m.__file__).read_bytes())
    return h.hexdigest()[:10]


def _fingerprint(sf_dir: Path) -> dict:
    """Per-table file size and parquet schema hash, so a run on
    changed data is attributable."""
    import pyarrow.parquet as pq

    return {
        p.stem: {
            "bytes": p.stat().st_size,
            "schema_sha1": hashlib.sha1(pq.read_schema(p).to_string().encode()).hexdigest()[:12],
        }
        for p in sorted(sf_dir.glob("*.parquet"))
    }


def main() -> int:
    args = _args()
    if not (ROOT / "mongodb_etl_migration_spark" / "__init__.py").is_file():
        _fail(f"no engine package under {ROOT}; run from the root of a checkout")
    sys.path[:0] = [str(ROOT), str(HERE)]
    run = Run(args)
    try:
        run.make_inputs()
        run.start_session()
        metrics = run.run()
    finally:
        t0 = time.perf_counter()
        run.stop()
        shutil.rmtree(run.tmp, ignore_errors=True)
        run.info["stop_s"] = time.perf_counter() - t0
    if run.traced:
        traces = run.work / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        trace = {
            "info": run.info,
            "spans": run.tracer.as_json(),
            "groups": {k: asdict(v) for k, v in run.groups.reported.items()},
        }
        (traces / f"{run.w.name}-seed{run.seed}.json").write_text(
            json.dumps(trace, indent=1, default=str)
        )
    o = run.outcome
    summary = dict(run.info, error_rate=o.failed / max(o.attempted, 1), reasons=o.reasons)
    print(json.dumps(summary, default=str))
    print(
        "  ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items())
        + f"  error_rate={summary['error_rate']:.4g}"
    )
    print(
        json.dumps(
            {
                "correct": o.failed == 0,
                "attempted": o.attempted,
                "failed": o.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
