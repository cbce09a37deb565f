"""Crawl and corpus benchmark: one command, two workloads.

    python3 perfbench/run.py --workload crawl_corpus --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end metrics, measured untraced;
with ``--trace 1`` they are the per-layer metrics of a traced run.  Every
run also writes a full record under ``.perfbench_work/records/``.  See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.queries import LEAVES  # noqa: E402

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("cpu_ms_per_item", "ms"),
    ("peak_rss_mb", "MB"),
]

# (name, unit, better); every traced run reports all of them, 0 where the
# workload leaves the layer idle
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("cache.entries_built", "count", "lower"),
    ("cache.entries_reused", "count", "higher"),
    ("frontier.load_seeds_s", "s", "lower"),
    ("frontier.cached.phase.plan_s", "s", "lower"),
    ("frontier.cached.phase.select_fetch_metrics_s", "s", "lower"),
    ("frontier.cached.phase.host_stats_s", "s", "lower"),
    ("frontier.cached.phase.write_s", "s", "lower"),
    ("frontier.compact_s", "s", "lower"),
    ("frontier.expire_s", "s", "lower"),
    ("frontier.head_used_ratio", "ratio", "higher"),
    ("frontier.head_partial_waves", "count", "lower"),
    ("frontier.wave_s_p50", "s", "lower"),
    ("frontier.late_early_ratio", "ratio", "lower"),
    ("frontier.jobs_per_wave", "count", "lower"),
    ("frontier.stages_per_wave", "count", "lower"),
    ("frontier.tasks_per_wave", "count", "lower"),
    ("frontier.fetch_tasks", "count", "higher"),
    ("frontier.fetch_stage_s_per_wave", "s", "lower"),
    ("frontier.python_run_ms_per_wave", "ms", "lower"),
    ("frontier.executor_cpu_ms_per_wave", "ms", "lower"),
    ("frontier.gc_ms_per_wave", "ms", "lower"),
    ("frontier.shuffle_write_bytes_per_wave", "bytes", "lower"),
    ("frontier.spill_bytes", "bytes", "lower"),
    ("frontier.state_files", "count", "lower"),
    ("frontier.state_bytes", "bytes", "lower"),
    ("frontier.state_bytes_per_url", "bytes", "lower"),
    ("frontier.crawl_urls_per_s", "urls/s", "higher"),
    ("frontier.urls_discovered", "count", "higher"),
    ("frontier.discovery_accept_ratio", "ratio", "higher"),
    ("sources.pages_scan_s", "s", "lower"),
    ("functions.extract_s", "s", "lower"),
    ("functions.quality_metrics_s", "s", "lower"),
    ("functions.python_run_ms", "ms", "lower"),
    ("functions.python_init_ms", "ms", "lower"),
    ("functions.arrow_bytes_to_python", "bytes", "lower"),
    ("functions.arrow_bytes_from_python", "bytes", "lower"),
    ("operators.drop_exact_dups_s", "s", "lower"),
    ("operators.minhash_lsh_pairs_s", "s", "lower"),
    ("operators.pack_chunks_s", "s", "lower"),
    ("operators.dedup_kept_ratio", "ratio", "lower"),
    ("operators.lsh_pairs_out", "count", "higher"),
    ("plans.query_suite_s", "s", "lower"),
    *[(f"plans.{leaf}_s", "s", "lower") for leaf in LEAVES],
    ("plans.construct_s", "s", "lower"),
    ("plans.jobs", "count", "lower"),
    ("plans.shuffle_write_bytes", "bytes", "lower"),
    ("plans.spill_bytes", "bytes", "lower"),
    ("plans.python_run_ms", "ms", "lower"),
    ("plans.executor_cpu_ms", "ms", "lower"),
    ("plans.gc_ms", "ms", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.self_time_sum_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.untraced_runs", "count", "higher"),
    ("trace.spans", "count", "lower"),
]


class Context:
    def __init__(self, args, work_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = ROOT
        self.work_dir = work_dir
        self.spark = None
        self.tracer = None
        self.ops = None
        self.setup_samples: list[float] = []


def _layers_from_event_log(log_dir: str, tracer, res: dict) -> dict[str, float]:
    """Per-layer stage and task counters, attributed to spans by job group.
    Only spans inside a ``measure`` span count; set-up and checks do not."""
    from perfbench import eventlog

    events = eventlog.read_events(log_dir)
    stages = eventlog.stage_metrics(events)
    jobs = eventlog.jobs_by_group(events)
    roots = {sp.id for sp in tracer.spans if sp.name == "measure"}
    parent = {sp.id: sp.parent for sp in tracer.spans}

    def measured(sid):
        while sid is not None and sid not in roots:
            sid = parent[sid]
        return sid is not None

    span_name = {sp.id: sp.name for sp in tracer.spans if measured(sp.id)}

    def select(*prefixes):
        return [s for s in stages
                if span_name.get(s.job_group, "").startswith(prefixes)]

    def n_jobs(*prefixes):
        return sum(n for g, n in jobs.items()
                   if span_name.get(g, "").startswith(prefixes))

    out: dict[str, float] = {}
    waves = max(1, res.get("waves", 0))
    wave = select("frontier.run_wave")
    if wave:
        fetch = [s for s in wave if s.runs_python]
        t = eventlog.totals(wave)
        out.update({
            "frontier.jobs_per_wave": n_jobs("frontier.run_wave") / waves,
            "frontier.stages_per_wave": t["stages"] / waves,
            "frontier.tasks_per_wave": t["tasks"] / waves,
            "frontier.fetch_tasks": sum(s.tasks for s in fetch) / waves,
            "frontier.fetch_stage_s_per_wave":
                sum(s.duration_ms for s in fetch) / 1000.0 / waves,
            "frontier.python_run_ms_per_wave": t["python_run_ms"] / waves,
            "frontier.executor_cpu_ms_per_wave": t["executor_cpu_ms"] / waves,
            "frontier.gc_ms_per_wave": t["gc_ms"] / waves,
            "frontier.shuffle_write_bytes_per_wave": t["shuffle_write_bytes"] / waves,
            "frontier.spill_bytes": eventlog.totals(
                select("frontier.run_wave", "frontier.compact"))["spill_bytes"],
        })
    fn = select("functions.")
    if fn:
        t = eventlog.totals(fn)
        out.update({
            "functions.python_run_ms": t["python_run_ms"],
            "functions.python_init_ms": t["python_init_ms"],
            "functions.arrow_bytes_to_python": t["python_sent_bytes"],
            "functions.arrow_bytes_from_python": t["python_returned_bytes"],
        })
    plans = select("plans.")
    if plans:
        passes = max(1, res["samples"].get("passes", 1))
        t = eventlog.totals(plans)
        out.update({
            "plans.jobs": n_jobs("plans.") / passes,
            "plans.shuffle_write_bytes": t["shuffle_write_bytes"] / passes,
            "plans.spill_bytes": t["spill_bytes"] / passes,
            "plans.python_run_ms": t["python_run_ms"] / passes,
            "plans.executor_cpu_ms": t["executor_cpu_ms"] / passes,
            "plans.gc_ms": t["gc_ms"] / passes,
        })
    out["_stages"] = [s.__dict__ | {"span": span_name.get(s.job_group)} for s in stages]
    return out


def _untraced_measured_s(records: str, workload: str, seed: int) -> tuple[float, int]:
    """Median measured time of this checkout's untraced runs of the
    workload: those with the same seed (same inputs) when there are any,
    else all of them.  Returns (seconds, runs)."""
    same, other = [], []
    for name in os.listdir(records):
        if not name.startswith(f"{workload}-seed") or not name.endswith("-trace0.json"):
            continue
        with open(os.path.join(records, name)) as fh:
            rec = json.load(fh)
        (same if rec["seed"] == seed else other).append(rec["measured_s"])
    runs = same or other
    return (statistics.median(runs) if runs else 0.0), len(runs)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl_corpus", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the package under test comes from the checkout; without it this fails
    import commoncrawlnewsdataset_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"{pkg.__name__} was imported from {pkg.__file__}, "
                         f"not from the checkout at {ROOT}")

    from perfbench import crawl, harness, queries

    workload = {"crawl_corpus": crawl, "query_mix": queries}[args.workload]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args, work)
    ctx.ops = harness.Ops()
    log_dir = os.path.join(work, "eventlog") if ctx.trace else None
    load_start = harness.loadavg()
    t_start = time.perf_counter()
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        spark, master = harness.start_spark(work, ROOT, log_dir)
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        ctx.tracer = harness.Tracer(
            spark.sparkContext, enabled=ctx.trace,
            run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
        )
        try:
            with ctx.tracer.span("run") as run_span:
                res = workload.run(ctx)
        finally:
            harness.stop_spark(spark)
    wall_s = time.perf_counter() - t_start
    load_end = harness.loadavg()
    ops = ctx.ops

    e2e = {
        "setup_s": session_s + harness.median(ctx.setup_samples),
        "throughput_per_s": res["throughput_per_s"],
        "cpu_ms_per_item": res["cpu_ms_per_item"],
        "peak_rss_mb": rss.peak_mb,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": master,
        "pythonpath": os.environ.get("PYTHONPATH"),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "session_start_s": session_s,
        "setup_samples_s": ctx.setup_samples,
        "samples": res["samples"] | {"rss": rss.samples},
        "wall_s": wall_s,
        "measured_s": res["measured_s"],
        "end_to_end": e2e,
        "named_metrics": {
            **{k: {"value": v, "unit": u} for k, (v, u) in res["named_metrics"].items()},
            "setup_s": {"value": e2e["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        },
        "cache_entries": {
            "built": res["layers"].get("cache.entries_built", 0),
            "reused": res["layers"].get("cache.entries_reused", 0),
        },
        "layers": res["layers"],
        "failures": ops.failures,
        "detail": {k: v for k, v in res.items()
                   if k not in ("layers", "named_metrics", "samples")},
    }
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)

    if ctx.trace:
        tr = ctx.tracer
        selfs = tr.self_times()
        layers = {name: 0.0 for name, _u, _b in PER_LAYER}
        layers.update({k: v for k, v in res["layers"].items() if k in layers})
        layers["session.start_s"] = session_s
        ev = _layers_from_event_log(log_dir, tr, res)
        record["stages"] = ev.pop("_stages")
        layers.update(ev)
        self_sum = sum(selfs.values())
        base_s, base_runs = _untraced_measured_s(records, args.workload, args.seed)
        record["overhead_base"] = {"measured_s": base_s, "runs": base_runs}
        layers.update({
            "trace.wall_s": run_span["s"],
            "trace.self_time_sum_s": self_sum,
            "trace.overhead_s": res["measured_s"] - base_s if base_runs else 0.0,
            "trace.untraced_runs": float(base_runs),
            "trace.spans": float(len(tr.spans)),
        })
        ops.check(abs(self_sum - run_span["s"]) < 1e-6,
                  f"span self times {self_sum} != wall {run_span['s']}")
        record["spans"] = [sp.__dict__ | {"self_s": selfs[sp.id]} for sp in tr.spans]
        units = {name: unit for name, unit, _b in PER_LAYER}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        record["per_layer"] = layers
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}

    record["named_metrics"]["failed_op_ratio"] = {
        "value": ops.failed / max(1, ops.attempted), "unit": "ratio"}
    with open(os.path.join(records, os.path.basename(work) + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for k, m in record["named_metrics"].items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    for f in ops.failures:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
