"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 8 --trace 0

Run it from the repository root. It generates the workload's input from
the seed (cached under ``.perfbench/data``), computes the exact answers
without Spark, starts a session sized to the host, warms up with two
units, then repeats the workload's unit of work for ``--seconds`` (at
least twice) and checks every output. With ``--trace 0`` it reports
the end-to-end metrics; with ``--trace 1`` it alternates untraced and
traced units and reports the per-layer metrics. Workloads and metrics
are listed in ``BENCHMARK.json``.

Human-readable lines come first; the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The full record (host stamp, every unit, spans) is written to
``.perfbench/results/``. ``--size smoke`` runs a tiny input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host

# Passes keep speeding up for about eight passes (JIT compilation of
# the planner and of the kernels); a run cannot pay for all of them, so
# the cold pass and one more are set-up and the timed passes follow.
WARMUP = 2
MIN_TIMED = 2

LAYERS = ("assemble", "shingle_minhash", "candidates", "verify", "cluster",
          "incremental", "setsim", "suffix")
LAYER_FIELDS = {"wall_s": "s", "jobs": "count", "stages": "count",
                "executor_run_s": "s", "shuffle_write_mb": "MB",
                "spill_mb": "MB", "task_skew": "ratio"}
COUNTERS = {
    "shingle_minhash.items_total": "count",
    "candidates.buckets_hot": "count",
    "candidates.buckets_mega": "count",
    "candidates.pairs_predicted": "count",
    "candidates.pairs_out": "count",
    "verify.pairs_out": "count",
    "verify.yield": "ratio",
    "cluster.edges_in": "count",
    "cluster.components": "count",
    "setsim.join_rows": "count",
    "suffix.anchor_postings": "count",
    "inc.affected_components": "count",
    "inc.cc_input_pairs": "count",
    "inc.untouched_components": "count",
}
OPS = ("exact_jaccard_pairs", "containment_pairs", "substring_pairs")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def say(*parts) -> None:
    print("perfbench", *parts, flush=True)


def run_unit(wl, kind, tracer, units, jvm: int) -> bool:
    """Run one unit; an exception is a failed operation, not a crash."""
    from workloads import Op, Unit
    cpu0 = host.tree_cpu_s(jvm)
    try:
        unit = wl.run(kind, tracer)
    except Exception as exc:  # the run must go on and report it
        traceback.print_exc()
        unit = Unit(kind, ops=[Op(wl.main_op, error=repr(exc)[:300])])
    unit.cpu_s = host.tree_cpu_s(jvm) - cpu0
    units.append(unit)
    status = ",".join(f"{o.name}={o.wall:.3f}s" if o.error is None
                      else f"{o.name}=ERROR" for o in unit.ops)
    say("unit", len(units) - 1, kind, f"wall_s={unit.wall:.4f}",
        f"turns={unit.turns}", status)
    return all(o.error is None for o in unit.ops)


def check_all(wl, units, fp_path) -> list:
    """Check every op; fingerprints must agree across units and with
    earlier runs of the same seed. Returns the recalls measured."""
    recalls, by_name = [], {}
    for unit in units:
        for op in unit.ops:
            if op.error is not None:
                op.problems.append(op.error)
                continue
            r = wl.check(op)
            if r is not None:
                recalls.append(r)
            by_name.setdefault(op.name, []).append(op)
    known = {}
    if os.path.exists(fp_path):
        with open(fp_path) as f:
            known = json.load(f)
    for name, ops in by_name.items():
        want = known.get(name) or statistics.mode(o.fingerprint for o in ops)
        for op in ops:
            if op.fingerprint != want:
                op.problems.append(f"{name}: output fingerprint differs")
        if name not in known and not any(o.problems for o in ops):
            known[name] = want
    with open(fp_path + ".tmp", "w") as f:
        json.dump(known, f)
    os.replace(fp_path + ".tmp", fp_path)
    return recalls


def ok_units(units, kind: str) -> list:
    return [u for u in units if u.kind == kind and u.cpu_s > 0
            and all(o.error is None for o in u.ops)]


def layer_metrics(tracer, units) -> dict:
    """Per-layer metrics: medians over traced units of each layer's
    totals within a unit. Layers the workload does not run read 0."""
    traced = [u for u in ok_units(units, "traced") if u.span]
    timed = ok_units(units, "timed")
    per_layer: dict = {}
    for rec in tracer.spans:
        if rec["name"] in LAYERS:
            key = (rec["name"], rec["parent"])
            tot = per_layer.setdefault(key, dict.fromkeys(LAYER_FIELDS, 0.0))
            tot["wall_s"] += tracer.self_time(rec)
            for f in LAYER_FIELDS:
                if f == "task_skew":
                    tot[f] = max(tot[f], rec[f])
                elif f != "wall_s":
                    tot[f] += rec[f]
            for f in ("udf_busy_s", "udf_idle_s"):
                if f in rec:
                    tot[f] = tot.get(f, 0.0) + rec[f]
    out = {}

    def put(name, values, unit):
        out[name] = {"value": float(statistics.median(values))
                     if values else 0.0, "unit": unit}

    for layer in LAYERS:
        rows = [v for (n, _), v in per_layer.items() if n == layer]
        for f, unit in LAYER_FIELDS.items():
            put(f"{layer}.{f}", [r[f] for r in rows], unit)
    smh = [v for (n, _), v in per_layer.items() if n == "shingle_minhash"]
    for f in ("udf_busy_s", "udf_idle_s"):
        put(f"shingle_minhash.{f}", [r.get(f, 0.0) for r in smh], "s")
    for name, unit in COUNTERS.items():
        put(name, [u.counters[name] for u in traced if name in u.counters],
            unit)
    for name in OPS:
        put(f"op_s.{name}", [o.wall for u in timed for o in u.ops
                             if o.name == name], "s")
    spans = [u.span for u in traced]
    put("trace.unattributed_s", [tracer.self_time(s) for s in spans], "s")
    put("trace.counters_s", [
        sum(c["end"] - c["start"] for c in tracer.spans
            if c["parent"] == s["id"] and c["name"].startswith("counters"))
        for s in spans], "s")
    traced_wall = [u.wall for u in traced]
    timed_wall = [u.wall for u in timed]
    overhead = (statistics.median(traced_wall) - statistics.median(timed_wall)
                if traced_wall and timed_wall else 0.0)
    out["trace.overhead_s"] = {"value": float(overhead), "unit": "s"}
    return out


def warm_up(wl, off, units, jvm: int) -> None:
    for _ in range(WARMUP):
        run_unit(wl, "warmup", off, units, jvm)


def measure(wl, seconds: float, trace: int, off, tracer, units,
            jvm: int) -> None:
    """Timed units for ``seconds`` and at least MIN_TIMED of them; with
    tracing, untraced and traced units alternate, at least one each.
    Two failed units in a row end the phase."""
    t0, fails = time.monotonic(), 0
    while fails < 2:
        n = sum(u.kind != "warmup" for u in units)
        kind = "traced" if trace and n % 2 == 1 else "timed"
        ok = run_unit(wl, kind, tracer if kind == "traced" else off, units,
                      jvm)
        fails = 0 if ok else fails + 1
        n_timed = sum(u.kind == "timed" for u in units)
        n_traced = sum(u.kind == "traced" for u in units)
        if (time.monotonic() - t0 >= seconds
                and n_timed >= (1 if trace else MIN_TIMED)
                and n_traced >= trace):
            return


def end_to_end(setup_cpu_s: float, units, peak_rss: float,
               recalls) -> dict:
    """The bounded end-to-end metrics.

    Set-up and throughput are counted in CPU seconds of the JVM and its
    workers: CPU time leaves out the time a co-tenant host withholds
    the CPUs, which moved wall-time set-up and throughput by up to half
    between runs of the same code. Wall-time figures are printed beside
    them."""
    timed = ok_units(units, "timed")
    median = statistics.median
    return {
        "setup_s": (setup_cpu_s, "s"),
        "turns_per_cpu_s": (median(u.turns / u.cpu_s for u in timed)
                            if timed else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "pair_recall": (median(recalls) if recalls else 0.0, "frac"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jaccard_ml_spark",
                                       "__init__.py")):
        print("perfbench: jaccard_ml_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    data_root = os.path.join(work, "data")
    results = os.path.join(work, "results")
    for d in (data_root, results):
        os.makedirs(d, exist_ok=True)
    udf_dir = None
    if args.trace:
        udf_dir = os.path.join(work, "udftrace")
        shutil.rmtree(udf_dir, ignore_errors=True)
    host.configure_env(root, work, udf_dir)

    from jaccard_ml_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.size, args.seed, data_root, work)
    t = time.monotonic()
    wl.prepare(trace=bool(args.trace))
    prepare_s = time.monotonic() - t
    say("inputs", f"prepare_s={prepare_s:.3f}", wl.dir)

    t_setup = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=host.session_conf(work))
    try:
        stamp = host.stamp(root, spark)
        say("host", json.dumps(stamp, sort_keys=True))
        wl.setup(spark)
        off = Tracer(spark, enabled=False, udf_trace_dir=None)
        tracer = Tracer(spark, enabled=True, udf_trace_dir=udf_dir)
        units: list = []
        jvm = host.jvm_pid(spark)
        warm_up(wl, off, units, jvm)
        setup_cpu_s = host.tree_cpu_s(jvm)   # the JVM started in set-up
        setup_wall_s = time.monotonic() - t_setup
        rss = host.PeakRss(jvm).start()
        measure(wl, args.seconds, args.trace, off, tracer, units, jvm)
        peak_rss = rss.stop()
    finally:
        host.stop_spark(spark)

    recalls = check_all(wl, units, os.path.join(wl.dir, "fingerprints.json"))
    ops = [o for u in units for o in u.ops]
    failed = sum(1 for o in ops if o.problems)
    for o in ops:
        for p in o.problems:
            say("check", "FAIL", o.name, p)
    e2e = end_to_end(setup_cpu_s, units, peak_rss, recalls)
    for name, (v, unit) in e2e.items():
        say("metric", name, repr(v), unit)
    say("metric", "setup_wall_s", repr(setup_wall_s), "s", "(wall time)")
    timed = ok_units(units, "timed")
    if timed:
        say("metric", "turns_per_s", repr(statistics.median(
            u.turns / u.wall for u in timed)), "1/s",
            f"(wall time, median of {len(timed)})")
    say("metric", "failed_frac", repr(failed / max(len(ops), 1)), "frac",
        f"({failed}/{len(ops)} operations)")
    for name in ("incremental_dedup",) + OPS:
        walls = [o.wall for u in units for o in u.ops
                 if o.name == name and u.kind != "warmup"]
        if walls:
            say("metric", f"op_s.{name}", repr(statistics.median(walls)),
                "s", f"(median of {len(walls)})")
    if args.trace:
        metrics = layer_metrics(tracer, units)
        tracer.write(os.path.join(results,
                                  f"{args.workload}-s{args.seed}.spans.json"))
    else:
        metrics = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in e2e.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "host": stamp, "prepare_s": prepare_s,
        "setup_wall_s": setup_wall_s,
        "peak_rss_mb": {"jvm": rss.peak_root, "workers": rss.peak_children},
        "units": [{"kind": u.kind, "wall_s": u.wall, "cpu_s": u.cpu_s,
                   "turns": u.turns,
                   "ops": {o.name: o.wall for o in u.ops}} for u in units],
        "metrics": metrics,
    }
    with open(os.path.join(results, f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
