"""Per-stage scaling diagnosis for the dedup pipeline.

Runs the SAME pipeline the scaling harness times (BENCH/scaling.py) at
one parallelism level with the Spark event log enabled, then prints a
per-stage table (duration, task-time sum, GC, shuffle bytes, input
bytes) parsed from the event log. Run it at level 1 and level 4 and
diff the tables to see exactly which stages fail to scale — the
aggregate efficiency number alone cannot localize a serial or
contended phase.

Usage:
    python BENCH/stage_diag.py run 1 /path/transcripts.parquet
    python BENCH/stage_diag.py run 4 /path/transcripts.parquet
    python BENCH/stage_diag.py compare

Artifacts: /tmp/spark-events-diag/<level>/..., parsed tables at
/tmp/stage_diag_<level>.json.
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EV_ROOT = "/tmp/spark-events-diag"


def run(level: int, tx_path: str) -> None:
    os.environ.setdefault("SPARK_HOME", "/opt/spark")
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from jaccard_ml_spark.config import DedupConfig
    from jaccard_ml_spark.persist import release_persisted
    from jaccard_ml_spark.plans.pipeline import dedup_pipeline
    from jaccard_ml_spark.session import get_spark

    ev_dir = f"{EV_ROOT}/{level}"
    os.makedirs(ev_dir, exist_ok=True)
    mem_mb = int(os.environ.get("SCALING_MEM_PER_EXEC_MB", "14336"))
    # mirror BENCH/scaling.py's worker conf exactly (minus gating)
    extra = {
        "spark.executor.memory": f"{mem_mb}m",
        "spark.python.worker.memory": "1024m",
        "spark.memory.fraction": "0.75",
        "spark.locality.wait": "1s",
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
        "spark.executorEnv.PYTHONPATH": REPO,
        "spark.sql.adaptive.enabled": "false",
        "spark.network.timeout": "300s",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold":
            "4000000",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{ev_dir}",
    }
    # ad-hoc conf experiments (e.g. shuffle codec) without editing the
    # harness: SCALING_EXTRA_CONF="k1=v1,k2=v2"
    for kv in os.environ.get("SCALING_EXTRA_CONF", "").split(","):
        if "=" in kv:
            k, _, v = kv.partition("=")
            extra[k.strip()] = v.strip()
    spark = get_spark(master=f"local-cluster[{level},4,{mem_mb}]",
                      shuffle_partitions=max(level * 8, 8),
                      app_name=f"diag-{level}", extra_conf=extra)
    tx = spark.read.parquet(tx_path)
    n_turns = tx.count()
    part_floor = int(os.environ.get("SCALING_PART_FLOOR", "32"))
    parts = int(max(part_floor, min(1024, n_turns // 200_000)))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))

    cache_level = StorageLevel.DISK_ONLY

    import time
    warm_mod = int(os.environ.get("SCALING_WARMUP_MOD", "8"))
    if warm_mod > 0:
        sample = tx.where(F.pmod(F.xxhash64("conv_id"), F.lit(warm_mod)) == 0)
        wres = dedup_pipeline(sample, DedupConfig(),
                              storage_level=cache_level)
        wres.pairs.count(); wres.clusters.count()
        release_persisted()
    # marker job: everything after this job id belongs to the timed run
    spark.sparkContext.setJobGroup("diag-marker", "marker")
    spark.range(1).selectExpr("sum(id)").collect()
    spark.sparkContext.setJobGroup("diag-timed", "timed")

    t0 = time.monotonic()
    res = dedup_pipeline(tx, DedupConfig(), storage_level=cache_level)
    n_pairs = res.pairs.count()
    pairs_sec = time.monotonic() - t0
    res.clusters.count()
    wall = time.monotonic() - t0
    app_id = spark.sparkContext.applicationId
    spark.stop()
    print(f"LEVEL {level}: wall {wall:.1f}s pairs {pairs_sec:.1f}s "
          f"turns {n_turns} pairs_n {n_pairs}")
    parse(level, os.path.join(ev_dir, app_id), wall)


def parse(level: int, ev_path: str, wall: float) -> None:
    # Spark 4 event log: eventlog_v2_<appId>/ directory of rolled files
    root = os.path.dirname(ev_path)
    cands = [p for p in sorted(os.listdir(root))
             if ev_path.endswith(p.replace("eventlog_v2_", ""))
             or p.endswith(os.path.basename(ev_path))]
    ev_path = os.path.join(root, (cands or sorted(os.listdir(root)))[-1])
    if os.path.isdir(ev_path):
        files = [os.path.join(ev_path, p)
                 for p in sorted(os.listdir(ev_path))
                 if p.startswith("events")]
    else:
        files = [ev_path]

    def lines():
        import io
        import subprocess
        for fp in files:
            if fp.endswith(".zstd"):
                p = subprocess.Popen(["zstd", "-dc", fp],
                                     stdout=subprocess.PIPE)
                yield from io.TextIOWrapper(p.stdout)
                p.wait()
            else:
                with open(fp) as f:
                    yield from f

    stages = {}
    marker_seen = False
    if True:
        for line in lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == "diag-marker":
                    marker_seen = True
            elif e == "SparkListenerStageCompleted" and marker_seen:
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                s = stages.setdefault(sid, {
                    "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                    "sh_read_mb": 0.0, "sh_write_mb": 0.0,
                    "input_mb": 0.0, "py_ms": 0,
                })
                s["name"] = si["Stage Name"].split("\n")[0][:70]
                s["tasks"] = si["Number of Tasks"]
                s["dur"] = (comp - sub) / 1000.0 if sub and comp else 0.0
            elif e == "SparkListenerTaskEnd" and marker_seen:
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(sid, {
                    "name": "?", "tasks": 0, "dur": 0.0,
                    "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                    "sh_read_mb": 0.0, "sh_write_mb": 0.0,
                    "input_mb": 0.0, "py_ms": 0})
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
                s["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s["sh_read_mb"] += (sr.get("Local Bytes Read", 0)
                                    + sr.get("Remote Bytes Read", 0)) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                s["sh_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                im = m.get("Input Metrics") or {}
                s["input_mb"] += im.get("Bytes Read", 0) / 1e6
    out = {"level": level, "wall": wall, "stages": stages}
    with open(f"/tmp/stage_diag_{level}.json", "w") as f:
        json.dump(out, f)
    rows = sorted(stages.items(), key=lambda kv: -kv[1]["dur"])
    print(f"{'sid':>4} {'dur_s':>7} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
          f"{'gc_s':>6} {'shR_MB':>8} {'shW_MB':>8} {'in_MB':>8}  name")
    for sid, s in rows[:25]:
        print(f"{sid:>4} {s['dur']:>7.1f} {s['tasks']:>5} "
              f"{s['run_ms']/1000:>7.1f} {s['cpu_ms']/1000:>7.1f} "
              f"{s['gc_ms']/1000:>6.1f} {s['sh_read_mb']:>8.0f} "
              f"{s['sh_write_mb']:>8.0f} {s['input_mb']:>8.0f}  {s['name']}")


def compare() -> None:
    with open("/tmp/stage_diag_1.json") as f:
        d1 = json.load(f)
    with open("/tmp/stage_diag_4.json") as f:
        d4 = json.load(f)

    def seq(d):
        return sorted(((int(k), v) for k, v in d["stages"].items()),
                      key=lambda kv: kv[0])

    s1, s4 = seq(d1), seq(d4)
    # align stage sequences BY NAME in order (ids can drift by a few
    # when a level skips/reuses exchanges); greedy two-pointer match
    i = j = 0
    pairs = []
    while i < len(s1) and j < len(s4):
        n1, n4 = s1[i][1]["name"], s4[j][1]["name"]
        if n1 == n4:
            pairs.append((s1[i], s4[j])); i += 1; j += 1
        else:
            nxt4 = [jj for jj in range(j, min(j + 4, len(s4)))
                    if s4[jj][1]["name"] == n1]
            nxt1 = [ii for ii in range(i, min(i + 4, len(s1)))
                    if s1[ii][1]["name"] == n4]
            if nxt4:
                for jj in range(j, nxt4[0]):
                    pairs.append((None, s4[jj]))
                j = nxt4[0]
            elif nxt1:
                for ii in range(i, nxt1[0]):
                    pairs.append((s1[ii], None))
                i = nxt1[0]
            else:
                pairs.append((s1[i], s4[j])); i += 1; j += 1
    for ii in range(i, len(s1)):
        pairs.append((s1[ii], None))
    for jj in range(j, len(s4)):
        pairs.append((None, s4[jj]))

    print(f"wall: N={d1['wall']:.1f}s 4N={d4['wall']:.1f}s "
          f"eff={(d1['wall']/d4['wall'])/4:.3f}")
    print(f"{'sid1':>4}/{'sid4':<4} {'durN':>7} {'dur4N':>7} {'ratio':>6} "
          f"{'lost_s':>7}  name")
    tot_lost = 0.0
    rows = []
    for p1, p4 in pairs:
        dur1 = p1[1]["dur"] if p1 else 0.0
        dur4 = p4[1]["dur"] if p4 else 0.0
        name = (p1 or p4)[1]["name"]
        sid1 = p1[0] if p1 else -1
        sid4 = p4[0] if p4 else -1
        # lost vs perfect scaling: the wall this stage adds at 4N beyond
        # durN/4
        lost = dur4 - dur1 / 4
        tot_lost += lost
        rows.append((lost, sid1, sid4, dur1, dur4, name))
    for lost, sid1, sid4, dur1, dur4, name in sorted(rows, reverse=True):
        ratio = dur1 / dur4 if dur4 > 0 else float("inf")
        print(f"{sid1:>4}/{sid4:<4} {dur1:>7.1f} {dur4:>7.1f} {ratio:>6.2f} "
              f"{lost:>7.1f}  {name}")
    print(f"total lost vs perfect scaling: {tot_lost:.1f}s")


if __name__ == "__main__":
    if sys.argv[1] == "run":
        run(int(sys.argv[2]), sys.argv[3])
    else:
        compare()
