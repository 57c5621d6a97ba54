#!/usr/bin/env python
"""Engine benchmark and the repository's one timing loop.

    python bench.py              # the HEADLINE set
    python bench.py NAME ...     # exactly the named catalog queries

Queries run at $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata) on
local[$SPARK_GRAFT_CPUS]. Named mode differs from the default only in
the query list: same timing policy, load gates, UI deltas, JSON line
and sidecar. An unknown name fails before the load gate and before
Spark starts.

Prints ONE compact JSON line (the FINAL stdout line, short enough for
the driver's tail capture):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "shuffle_bytes": {...}}
Diagnostic receipts (cold_s, jobs, scan_tasks, gc_ms, cpu_ms, peak
heap, data_fingerprint, load_avg, timing policy) are written to
``BENCH_detail.json`` next to this file.

Timing policy: per query one cold run (JIT, file listing; reported
only as ``cold_s``), then WARM_RUNS warm runs through the noop sink —
the MIN is the query's time (single-JVM local-mode timings carry
GC/load noise). Shuffle bytes, job count, GC and executor CPU are
deltas over the first warm run, read from the Spark UI REST API
(``UiMetrics``) — shuffle volume is the number to watch when judging
whether a plan would survive 100 TB.

One timer: ``timed(fn, ui)`` calls ``fn`` once and stops the clock
when it returns, BEFORE any shuffle poll (the stabilized poll sleeps
until two UI reads agree). This loop and scripts/bench_scale.py (the
10x tier) both time through it.

The headline set exercises every cost class: columnar agg (a1), join
pipeline + window (j6), shuffle-heavy LSH dedup (d2), vector math
(sim_topk_bruteforce), per-doc text scoring (t_text_stats), window agg
over events (e_windowed_counts), hierarchy loop (j9), sha1 key
derivation (k1_uuid5 — pure codegen since r14; formerly the pandas-UDF
representative), and the heaviest pure-codegen text path — the full
Gopher repetition family's 9 sorted-gram folds (t_gopher_repetition).

Known testdata artifact (do NOT chase as a regression): every
/root/testdata parquet file is written as ONE row group, so scans are
unsplittable — a1_pricing_summary reads 600k lineitem rows in a
single scan task regardless of cores, which dominates its ~1s time.
Real data splits into many row groups and parallelizes; the
``scan_tasks`` field records per-query task counts of the largest
scan stage so round-over-round comparisons can see layout effects.

Round-over-round comparability (the round-3 "regression" post-mortem):
/root/testdata is REGENERATED between rounds — round 3's 8.05 s vs
round 2's 5.95 s was measured on a different dataset generation
(receipt: round-2 code fails outright on round-3+ data — events.ts
changed from long-millis to native timestamp) and a slower box day
(receipt: round-2 code re-run on round-3 data scores t_text_stats
0.622 s / sim_topk 0.660 s — the round-3 numbers, not its own 0.343 /
0.381; round-1 total 7.74 s ≈ round-3 total 8.05 s, round 2 was the
fast outlier). The JSON therefore carries a ``data_fingerprint``
(per-table file size + parquet schema hash) and per-query ``gc_ms`` /
``cpu_ms`` so a future delta can be attributed to data, GC, or plan
without re-running archaeology.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mongodb_etl_migration_spark import get_spark  # noqa: E402
from mongodb_etl_migration_spark.queries import QUERIES  # noqa: E402

# warm runs per query; the MIN is the query's time
WARM_RUNS = 3

HEADLINE = [
    "a1_pricing_summary",
    "j6_denormalized_view",
    "j1_fk_resolution",
    "d2_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "t_text_stats",
    "e_windowed_counts",
    "j9_hierarchy_resolution",
    "k1_uuid5",
    "o2_global_topk",
    "t_curation_pipeline",
    "e_sessionization",
    # the catalog's slowest query (full Gopher §A1.1 — 9 sorted-gram
    # folds, zero shuffle): tracked here so a regression in the
    # O(L log L) sorted-run fold shows up in BENCH_rN deltas, not
    # only in full-catalog receipts (VERDICT r8 item 6)
    "t_gopher_repetition",
    # round-10 additions: the retrieval (BM25 fixed-point) and mining
    # (bitext margin) paths — tracked so window/aggregate or decimal
    # plan regressions surface in BENCH_rN deltas
    "t_bm25_retrieval",
    "sim_bitext_margin",
    # round-12 addition: the token-space SFT artifact (per-segment
    # BPE encode + mask fold + decode roundtrip, all per-row codegen)
    # — the heaviest pure-projection query; a regression in the
    # higher-order-function chain shows up here first
    "c_sft_tokens",
    # round-13 addition: image near-dup end-to-end (Arrow-batched
    # dHash -> banded self-join -> popcount confirm -> star CC) — the
    # one headline member exercising mapInPandas + iterative CC, so
    # codec/Arrow/loop regressions surface in BENCH_rN deltas
    "m_image_neardup",
    # round-14 addition: audio near-dup end-to-end (real PCM16 decode
    # -> integer fingerprint fan-out -> bag-of-keys join with the
    # broadcast-anti ubiquitous cap) — tracks the WAV/Arrow path and
    # the deterministic cap plan in BENCH_rN deltas
    "m_audio_neardup",
]

# queries that joined HEADLINE after the round-1 baseline was taken —
# excluded from baseline_comparable_total (deltas read `value`,
# baseline ratios read the comparable subtotal)
NON_BASELINE = {
    "t_gopher_repetition",
    "t_bm25_retrieval",
    "sim_bitext_margin",
    "c_sft_tokens",
    "m_image_neardup",
    "m_audio_neardup",
}


class UiMetrics:
    """Cumulative shuffle/memory counters from the Spark UI REST API."""

    def __init__(self, spark):
        self.base = None
        try:
            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            if ui:
                self.base = f"{ui}/api/v1/applications/{app}"
        except Exception:
            pass

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}{path}", timeout=10) as r:
            return json.load(r)

    def shuffle_totals(self) -> tuple[int, int]:
        """Cumulative (write, read) shuffle bytes over COMPLETED
        stages, read until STABLE: stage-completion events propagate
        to the UI store through the listener bus, which lags the
        action's return under load — a single poll taken right after
        .count() can miss stages still marked active and silently
        undercount (observed: the x100 sessionization receipt read
        306 MB instead of 511 MB while a pytest run shared the box).
        Two consecutive agreeing reads 0.3 s apart, bounded at ~3 s,
        make the totals deterministic again; between-query sampling
        converges on the first retry once the bus drains."""
        if not self.base:
            return (0, 0)

        def read() -> tuple[int, int]:
            stages = self._get("/stages?status=complete")
            w = sum(s.get("shuffleWriteBytes", 0) for s in stages)
            r = sum(s.get("shuffleReadBytes", 0) for s in stages)
            return (w, r)

        # A throw mid-loop must NOT discard an already-successful
        # read: pairing a valid baseline with (0, 0) yields negative
        # deltas that silently corrupt scale-linearity ratios.
        prev: tuple[int, int] | None = None
        try:
            prev = read()
            for _ in range(10):
                time.sleep(0.3)
                cur = read()
                if cur == prev:
                    return cur
                prev = cur
            return prev
        except Exception:
            return prev if prev is not None else (0, 0)

    def max_stage_id(self) -> int:
        if not self.base:
            return -1
        try:
            stages = self._get("/stages?status=complete")
            return max((s.get("stageId", -1) for s in stages), default=-1)
        except Exception:
            return -1

    def jobs_submitted(self) -> int:
        """Jobs submitted so far: the highest job id + 1. The UI keeps
        only the newest ``spark.ui.retainedJobs`` jobs, so a length of
        the listing would saturate; the highest id does not."""
        if not self.base:
            return 0
        try:
            jobs = self._get("/jobs")
            return 1 + max((j.get("jobId", -1) for j in jobs), default=-1)
        except Exception:
            return 0

    def scan_tasks_since(self, stage_id: int) -> int:
        """Task count of the widest input-reading stage after
        ``stage_id`` — how parallel the parquet scan actually was
        (1 here = the single-row-group testdata artifact)."""
        if not self.base:
            return 0
        try:
            stages = self._get("/stages?status=complete")
            return max(
                (
                    s.get("numCompleteTasks", 0)
                    for s in stages
                    if s.get("stageId", -1) > stage_id
                    and s.get("inputBytes", 0) > 0
                ),
                default=0,
            )
        except Exception:
            return 0

    def peak_heap(self) -> int:
        if not self.base:
            return 0
        try:
            execs = self._get("/executors")
            return sum(
                (e.get("peakMemoryMetrics") or {}).get("JVMHeapMemory", 0)
                for e in execs
            )
        except Exception:
            return 0

    def gc_cpu_totals(self) -> tuple[int, int]:
        """(total GC ms, total executor run-time ms) — cumulative, for
        per-query deltas: a query whose wall-time moves while its
        cpu_ms holds is GC/scheduling noise, not a plan change."""
        if not self.base:
            return (0, 0)
        try:
            execs = self._get("/executors")
            gc = sum(e.get("totalGCTime", 0) for e in execs)
            stages = self._get("/stages?status=complete")
            cpu = sum(s.get("executorRunTime", 0) for s in stages)
            return (gc, cpu)
        except Exception:
            return (0, 0)


def data_fingerprint(sf_dir: str) -> dict[str, dict]:
    """Per-table size + schema hash: detects between-round testdata
    regeneration, which breaks cross-round time comparability."""
    import hashlib

    try:
        import pyarrow.parquet as pq
    except Exception:
        pq = None
    out: dict[str, dict] = {}
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        entry: dict = {"bytes": p.stat().st_size}
        if pq is not None:
            try:
                entry["schema_sha1"] = hashlib.sha1(
                    pq.read_schema(p).to_string().encode()
                ).hexdigest()[:12]
            except Exception:
                pass
        out[p.stem] = entry
    return out


def sf_of(sf_dir: str) -> float:
    """The scale factor a data dir names: its last path component must
    be exactly ``sf<number>`` (``.../sf0.1`` -> 0.1); any other dir
    reports -1.0."""
    m = re.fullmatch(r"sf(\d*\.?\d+)", Path(sf_dir).name)
    return float(m.group(1)) if m else -1.0


def noop(df) -> None:
    """Full execution through the noop sink: no driver-side
    materialization cost."""
    df.write.format("noop").mode("overwrite").save()


def run_query(name: str, spark, sf_dir: str) -> None:
    noop(QUERIES[name](spark, sf_dir))


def timed(fn, ui: UiMetrics | None = None) -> tuple[dict, object]:
    """Call ``fn()`` once on the one clock every timing path shares.

    Returns ``({"sec": wall seconds[, "shuffle_bytes": n]}, fn's
    result)``. The clock stops when ``fn`` returns, before any shuffle
    poll: ``UiMetrics.shuffle_totals`` sleeps until two reads agree
    (up to ~3 s) and must never count as query time. With ``ui``,
    ``shuffle_bytes`` is the write + read bytes of the stages that
    completed around the call."""
    before = ui.shuffle_totals() if ui else None
    t0 = time.perf_counter()
    out = fn()
    stats: dict = {"sec": round(time.perf_counter() - t0, 3)}
    if ui:
        after = ui.shuffle_totals()
        stats["shuffle_bytes"] = sum(after) - sum(before)
    return stats, out


def wait_for_idle(threshold: float = 2.0, max_wait_s: int = 180) -> dict:
    """Idle-box gate (round-5 post-mortem: competing load_avg 9.2
    inflated every zero-shuffle query 8-16% and wasted the regression
    signal): wait — bounded, the driver must not hang — for 1-minute
    load to drop below ``threshold`` before timing anything, and
    record the gate's outcome so a noisy round is attributable at a
    glance."""
    start = os.getloadavg()[0]
    waited = 0
    load = start
    while load >= threshold and waited < max_wait_s:
        time.sleep(10)
        waited += 10
        load = os.getloadavg()[0]
    return {
        "threshold": threshold,
        "load_at_entry": round(start, 2),
        "load_at_start": round(load, 2),
        "waited_s": waited,
        "passed": load < threshold,
    }


# Whole-RUN load accounting (round-6 verdict: the entry gate passed at
# 1.89 but load hit 4.05 mid-run and every query drifted +7-30% with
# byte-identical shuffles). A warm run is CLEAN when the 1-minute load
# at both its start and end sits under CLEAN_LOAD — set above the
# bench's own self-load (local[32] bursts add ~2-4 to the 1-min
# average) and below the round-5 incident's 9.2. Queries with no clean
# warm run get ONE bounded retry pass after a cool-down, and every
# run's (pre, post, sec) lands in BENCH_detail so a drifted round is
# attributable without archaeology.
CLEAN_LOAD = 5.0

# Round-10 post-mortem: a committed run passed the 5.0 gate at 4.71
# while an idle-box capture of the same HEAD ran 20% faster — 5.0 is
# too lax as the ONLY gate on a 32-CPU box. But the in-flight max
# cannot simply be tightened to 2.5: a saturating query IS a 32-thread
# burst, so its own execution legitimately pushes the 1-min average to
# ~2-5 (gopher: cpu_ms ~45 s over ~4 s wall). The split that isolates
# foreign load from the measurement's own footprint:
#   * PRE-load < CLEAN_PRE (2.5): the box must be quiet when a timed
#     run STARTS — enforced actively by a bounded decay-wait before
#     each run (the 1-min average needs ~40-60 s to shed a previous
#     query's self-load);
#   * in-flight max < CLEAN_LOAD (5.0): catches foreign spikes DURING
#     the run, sized above the bench's own burst footprint.
# A run is clean only if BOTH hold; queries with no clean run get
# whole-pass retries after cool-downs (bounded), not just one.
CLEAN_PRE = 2.5
# total seconds the bench may spend in decay-waits (keeps worst-case
# wall bounded on a genuinely busy box where waiting cannot help)
DECAY_WAIT_BUDGET_S = 420.0


class _DecayWait:
    """Bounded pre-run quiesce: sleep until the 1-min load drops under
    CLEAN_PRE or the shared budget runs out. One budget across the
    whole bench so a busy box degrades to the old behavior (timed
    anyway, flagged dirty) instead of hanging."""

    def __init__(self, budget_s: float = DECAY_WAIT_BUDGET_S) -> None:
        self.left = budget_s
        self.spent = 0.0

    def wait(self) -> None:
        while self.left > 0 and os.getloadavg()[0] >= CLEAN_PRE:
            step = min(5.0, self.left)
            time.sleep(step)
            self.left -= step
            self.spent += step


class _LoadSampler:
    """Samples the 1-minute load every 0.5 s on a daemon thread while
    a query runs, keeping the MAX — closes the round-7 advice gap
    where start/end sampling alone let a mid-run spike classify a
    long run as clean. (The 1-min average moves slowly, so for
    sub-second queries the endpoints already bound it; the sampler
    matters for the multi-second ones.)"""

    def __init__(self) -> None:
        import threading

        self.max_load = os.getloadavg()[0]
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.max_load = max(self.max_load, os.getloadavg()[0])
            self._stop.wait(0.5)

    def __enter__(self) -> "_LoadSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=2)
        self.max_load = max(self.max_load, os.getloadavg()[0])


def timed_run(name: str, spark, sf_dir: str) -> list:
    """[load_pre, load_post, load_max_during, sec] — load_max is the
    sampler's in-flight maximum and is what clean-run checks use."""
    pre = os.getloadavg()[0]
    with _LoadSampler() as ls:
        sec = timed(lambda: run_query(name, spark, sf_dir))[0]["sec"]
    post = os.getloadavg()[0]
    return [round(pre, 2), round(post, 2), round(ls.max_load, 2), sec]


def main(argv: list[str] | None = None) -> None:
    names = list(dict.fromkeys(sys.argv[1:] if argv is None else argv))
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"bench.py: unknown query: {', '.join(unknown)}")
    names = names or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_gate = wait_for_idle()
    spark = get_spark(app_name="bench", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = UiMetrics(spark)

    timings: dict[str, float] = {}
    cold_s: dict[str, float] = {}
    shuffles: dict[str, int] = {}
    jobs: dict[str, int] = {}
    scan_tasks: dict[str, int] = {}
    gc_ms: dict[str, int] = {}
    cpu_ms: dict[str, int] = {}
    run_loads: dict[str, list] = {}
    decay = _DecayWait()
    for name in names:
        # cold (JIT, file listing)
        cold_s[name] = timed(lambda: run_query(name, spark, sf_dir))[0]["sec"]
        s0 = ui.shuffle_totals()
        sid0 = ui.max_stage_id()
        g0, c0 = ui.gc_cpu_totals()
        j0 = ui.jobs_submitted()
        decay.wait()  # shed the cold run's (and predecessors') load
        run_loads[name] = [timed_run(name, spark, sf_dir)]
        s1 = ui.shuffle_totals()
        g1, c1 = ui.gc_cpu_totals()
        shuffles[name] = sum(s1) - sum(s0)
        jobs[name] = ui.jobs_submitted() - j0
        scan_tasks[name] = ui.scan_tasks_since(sid0)
        gc_ms[name] = g1 - g0
        cpu_ms[name] = c1 - c0
        for _ in range(WARM_RUNS - 1):
            decay.wait()
            run_loads[name].append(timed_run(name, spark, sf_dir))
        timings[name] = min(run[3] for run in run_loads[name])

    # Retry passes: a query none of whose warm runs was clean (quiet
    # start AND no foreign spike in flight) re-times after a decay
    # cool-down, up to 3 whole-list passes; the minimum over ALL
    # runs is reported.
    def has_clean_run(name: str) -> bool:
        return any(
            pre < CLEAN_PRE and mx < CLEAN_LOAD
            for pre, _, mx, _ in run_loads[name]
        )

    retried: list[str] = []
    retry_passes = 0
    for _ in range(3):
        dirty = [n for n in names if not has_clean_run(n)]
        if not dirty:
            break
        retry_passes += 1
        for name in dirty:
            decay.wait()
            run = timed_run(name, spark, sf_dir)
            run_loads[name].append(run)
            timings[name] = min(timings[name], run[3])
            if name not in retried:
                retried.append(name)
        if decay.left <= 0:
            break  # waiting can no longer help on a busy box

    total = round(sum(timings.values()), 3)
    # cores Spark actually schedules on (local[N]) — the number a
    # cross-host comparison needs next to the seconds
    cpus = spark.sparkContext.defaultParallelism
    # Diagnostic blobs go to a SIDECAR file, not the stdout line: the
    # round-4 driver record (BENCH_r04.json "parsed": null) was lost
    # because the JSON line with fingerprint/gc/cpu outgrew the
    # driver's tail capture and the tail started mid-line. The stdout
    # contract is now: diagnostics line first (best-effort), then the
    # compact headline JSON as the FINAL short line.
    detail = {
        "cpus": cpus,
        "scan_tasks": scan_tasks,
        # per-query receipts for attributing time deltas:
        # cold_s is the cold run's wall; jobs/gc_ms/cpu_ms are
        # deltas over the FIRST warm run
        "cold_s": cold_s,
        "jobs": jobs,
        "gc_ms": gc_ms,
        "cpu_ms": cpu_ms,
        "peak_jvm_heap_bytes": ui.peak_heap(),
        "data_fingerprint": data_fingerprint(sf_dir),
        # Host contention receipt: back-to-back runs on this
        # shared box swing 2x with load (observed 6.6 s at
        # load 1 vs 14.0 s at load 3.7, every query uniformly
        # slower) — compare rounds at comparable load_avg.
        "load_avg_1m": round(os.getloadavg()[0], 2),
        "load_gate": load_gate,
        # whole-run load receipts: per query, every timed run's
        # [load_pre, load_post, load_max_during, sec]; clean = the
        # in-flight MAX (0.5 s sampler) under CLEAN_LOAD. Limitation:
        # the 1-min load average itself lags ~tens of seconds, so a
        # spike shorter than that is smoothed — the sampler closes
        # the between-endpoints gap, not the kernel's own averaging.
        "run_loads": run_loads,
        "clean_load_threshold": CLEAN_LOAD,
        "clean_pre_threshold": CLEAN_PRE,
        "decay_wait_spent_s": round(decay.spent, 1),
        "retried_after_cooldown": retried,
        "retry_passes": retry_passes,
        "all_runs_clean": all(has_clean_run(n) for n in names),
        # timing policy, so round-over-round deltas are
        # attributable: per query 1 cold run (JIT, file listing,
        # broadcast warmup) then MIN of WARM_RUNS warm
        # (local-mode box noise swung ±50% round-over-round),
        # each preceded by a budgeted decay-wait to a quiet
        # (< CLEAN_PRE) start, plus up to 3 whole-list
        # retry passes for queries with no clean run
        "warmup_runs": 1,
        "timed_runs": WARM_RUNS,
        "aggregation": "min",
    }
    try:
        Path(__file__).resolve().parent.joinpath("BENCH_detail.json").write_text(
            json.dumps(detail, indent=1) + "\n"
        )
    except OSError:
        print(json.dumps({"detail": detail}), file=sys.stderr)
    # Queries added to the headline after round 1 (Gopher in r9, BM25
    # and bitext in r10) are excluded from the round-1-comparable
    # subtotal — round-over-round deltas should read value, baseline
    # ratios baseline_comparable_total.
    legacy = [n for n in HEADLINE if n in timings and n not in NON_BASELINE]
    comparable = round(sum(timings[n] for n in legacy), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_warm_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_of(sf_dir),
                "shuffle_bytes": shuffles,
                "baseline_comparable_total": comparable,
                "baseline_comparable_queries": len(legacy),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
