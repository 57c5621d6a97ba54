"""Per-layer numbers of a traced run.

``attribute`` runs right after each traced pass, outside its wall
time: it reads the pass's job groups from the status store and the
final plans' phase timings. ``per_layer`` reduces the traced passes to
the metrics ``BENCHMARK.json`` lists under ``per_layer``: per-pass
numbers are medians over the traced passes, ``proc.cpu_s`` is their
mean, set-up numbers and ``proc.peak_rss_mb`` cover the whole run. A
layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from probes import GroupStats, plan_phases_ms


def attribute(run, rec: dict) -> None:
    """Attach job-group stats and plan phases to one traced pass."""
    groups = rec.pop("groups", {})
    frames = rec.pop("frames", {})
    names = [g for pair in groups.values() for g in pair]
    stats = run.groups.stats(names)
    build, execute = GroupStats(), GroupStats()
    per_unit = {}
    for unit, (b, x) in groups.items():
        build.add(stats[b])
        execute.add(stats[x])
        per_unit[unit] = {"build_jobs": stats[b].jobs}
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames.values():
        for k, v in plan_phases_ms(df).items():
            phases[k] += v
    rec.update(build=build, exec=execute, per_unit=per_unit, phases=phases)


def _med(passes: list[dict], fn) -> float:
    vals = [fn(p) for p in passes]
    return float(statistics.median(vals)) if vals else 0.0


def per_layer(run, traced: list[dict]) -> dict[str, tuple[float, str]]:
    w = run.w
    catalog = w.kind == "catalog"
    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    def med(fn):
        return _med(traced, fn)

    build_s = med(lambda p: sum(q["build_s"] for q in p["queries"].values())
                  if catalog else p["build_s"])
    run_s = med(lambda p: sum(q["run_s"] for q in p["queries"].values())
                if catalog else p["run_s"])
    b_jobs = med(lambda p: p["build"].jobs)
    b_jobs_s = med(lambda p: p["build"].jobs_wall_s)

    put("session.start_s", run.layer["session.start_s"], "s")
    put("catalog.table_s", run.layer.get("catalog.table_s", 0.0), "s")
    put("catalog.table_warm_s", med(lambda p: p.get("catalog_s", 0.0)), "s")
    for layer, on in (("queries", catalog), ("pipeline", not catalog)):
        put(f"{layer}.build_s", build_s if on else 0.0, "s")
        put(f"{layer}.build_jobs", b_jobs if on else 0, "count")
        put(f"{layer}.build_jobs_s", b_jobs_s if on else 0.0, "s")
        put(f"{layer}.build_self_s", build_s - b_jobs_s if on else 0.0, "s")
    for k in ("analysis", "optimization", "planning"):
        put(f"plan.{k}_ms", med(lambda p: p["phases"][k]), "ms")

    put("exec.run_s", run_s, "s")
    for k in ("jobs", "stages", "tasks"):
        put(f"exec.{k}", med(lambda p: getattr(p["exec"], k)), "count")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        put(f"exec.{k}", med(lambda p: getattr(p["exec"], k)), "B")
    for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
        put(f"exec.{k}", med(lambda p: getattr(p["exec"], k)), "s")
    put(
        "exec.pool_busy",
        med(lambda p: p["exec"].executor_run_s / max(run_s * run.cores, 1e-9)),
        "ratio",
    )

    def both(p, k):
        return getattr(p["build"], k) + getattr(p["exec"], k)

    put("python.rows", med(lambda p: both(p, "python_rows")), "count")
    put("python.bytes_sent", med(lambda p: both(p, "python_bytes_sent")), "B")
    put("python.bytes_received", med(lambda p: both(p, "python_bytes_received")), "B")
    put("python.worker_spawns", med(lambda p: p["spawns"]), "count")
    put("proc.cpu_s", run.cpu_s, "s")
    put("proc.peak_rss_mb", run.proc.peak_rss_mb, "MB")

    put("sources.load_s", run.layer.get("sources.load_s", 0.0), "s")
    put("sources.read_docs_per_s", run.layer.get("sources.read_docs_per_s", 0.0), "1/s")
    written = med(lambda p: p.get("bytes_written", 0))
    put("sources.write_s", med(lambda p: p.get("write_s", 0.0)), "s")
    put("sources.bytes_written", written, "B")
    put("sources.write_amp", written / run.bson_bytes if not catalog else 0.0, "ratio")
    put("metrics.rows_out", med(lambda p: p.get("rows_out", 0)), "count")

    # A catalog run alternates untraced and traced passes, so its
    # overhead is the difference of their medians. The migration's one
    # pass has no untraced twin in the run: its figure is only the time
    # spent setting job groups, a lower bound that leaves out the spans
    # and any effect tagging has on the engine.
    traced_pass = med(lambda p: p["wall_s"])
    untraced = [p["wall_s"] for p in run.passes if not p["traced"]]
    put("trace.pass_s", traced_pass, "s")
    put(
        "trace.overhead_s",
        traced_pass - statistics.median(untraced) if untraced and catalog
        else run.groups.own_s / max(len(traced), 1),
        "s",
    )

    for q in all_queries():
        mine = q in w.queries
        put(f"queries.{q}.build_s", med(lambda p: p["queries"][q]["build_s"]) if mine else 0.0, "s")
        put(
            f"queries.{q}.build_jobs",
            med(lambda p: p["per_unit"][q]["build_jobs"]) if mine else 0,
            "count",
        )
        put(f"exec.{q}.run_s", med(lambda p: p["queries"][q]["run_s"]) if mine else 0.0, "s")
    return out


def all_queries() -> list[str]:
    """Every query any workload runs: each traced run reports all of
    them, so every run prints the same per-layer metric set."""
    from workloads import WORKLOADS

    return [q for w in WORKLOADS.values() for q in w.queries]
