"""Layered benchmark of the dedup engine.

    python3 perfbench/run.py --workload stream_recluster --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1

Runs from the root of a checkout. One process, one closed-loop client:
set up (seeded inputs, Spark session on local[<cores>], and the first
call in the fresh session with its output check), then repeat the call
until ``--seconds`` have passed (at least once) and report medians.
Every call's output is checked; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` adds one
traced layer-by-layer run and reports the per-layer metrics instead.
Per-run detail (every sample with its co-tenant load and tree RSS) and
the trace spans are written under ``.perfbench/``. ``--workload all``
runs every workload in its own process and exits non-zero if any
output gate failed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

SETUP_REPS = 3  # input generation is repeated and its median counted


def _spec() -> dict:
    """Metric names, units and bounds are defined once, in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _since_process_start() -> float:
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return up - start / os.sysconf("SC_CLK_TCK")


def _isolate() -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and let the pyspark workers import the program from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the inputs are tens of MB: an 8 GB driver heap (the session default)
    # lets G1's growth heuristics, not the program, set the process RSS
    # (4-7 GB from run to run), crowding a shared host
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _session(trace: bool):
    from entity_deduplication_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from perfbench.inputs import fresh_dir

        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + fresh_dir(os.path.join(WORK, "events")),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", cores=spark_cores(), extra_conf=conf)


def spark_cores() -> int:
    """Task slots of local[<n>]: half the CPUs this process may use. The
    JVM's compiler and GC threads, the pyspark workers and the driver
    Python need CPUs of their own; on a shared host a local[<all CPUs>]
    run waits on whichever CPU the host takes back, so its times follow
    the host's scheduler more than the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, then wait until the JVM and every Python worker it
    forked have exited."""
    from pyspark import SparkContext

    from perfbench.probes import tree_pids

    children = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(_alive, children)):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running after shutdown")
        time.sleep(0.05)


class Runner:
    """Timed calls of one workload, each followed by its output check."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s: list[float] = []

    def gate(self, call) -> bool:
        """Run ``call`` then the output check; a raise from either counts
        as one failed attempt."""
        self.attempted += 1
        try:
            call()
            t0 = time.perf_counter()
            self.wl.check()
            self.check_s.append(time.perf_counter() - t0)
            return True
        except Exception as e:  # a call that raises or fails its gate
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            traceback.print_exc()
            return False

    def sample(self) -> dict:
        from perfbench.probes import Meter, tree_rss_mb

        spark = self.wl.spark
        spark.catalog.clearCache()
        # collect garbage between calls, not at a random point inside one
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        m = Meter()

        def timed_call():
            with m:
                self.wl.run()

        ok = self.gate(timed_call)
        return {
            "wall_s": m.wall_s,
            "cpu_s": m.cpu_s,
            "ext_load": m.ext_load,
            "steal": m.steal,
            "rss_mb": tree_rss_mb(),
            "ok": ok,
            "latencies_s": list(self.wl.latencies),
        }


def bench(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import inputs, probes
    from perfbench.workloads import WORKLOADS

    t_proc = _since_process_start()
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of {sorted(WORKLOADS)}")
    work = inputs.fresh_dir(os.path.join(WORK, workload))
    wl = WORKLOADS[workload](None, work, seed)
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.make_inputs()
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.spark = _session(trace)
    wl.load()
    # the first call in the fresh session (JIT and Python-worker warm-up)
    # and its output check, whose oracle runs once, end the set-up
    r = Runner(wl)
    first = r.sample()
    setup_s = t_proc + statistics.median(reps) + time.perf_counter() - t0

    timed = []
    t_end = time.perf_counter() + seconds
    while not timed or time.perf_counter() < t_end:
        timed.append(r.sample())
    walls = [s["wall_s"] for s in timed]
    wall = statistics.median(walls)
    # the unit of work is a micro-batch on stream_recluster, a call elsewhere
    lat = [x for s in timed for x in s["latencies_s"]] or walls
    recall, precision = wl.quality or (0.0, 0.0)  # 0: no output passed
    every = [first, *timed]
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "records_per_s": wl.records / wall,
        "cpu_s": statistics.median(s["cpu_s"] for s in timed),
        "peak_rss_mb": max(s["rss_mb"] for s in every),
        "pair_recall": recall,
        "pair_precision": precision,
        "batch_latency_p50_s": statistics.median(lat),
    }
    detail = {
        "workload": workload,
        "seed": seed,
        "records": wl.records,
        "cpus": len(os.sched_getaffinity(0)),
        "spark_cores": spark_cores(),
        "setup": {"since_process_start_s": t_proc, "input_reps_s": reps,
                  "first_run_s": first["wall_s"]},
        "samples": {"first": first, "timed": timed},
        "check_s": r.check_s,
        "errors": r.errors,
    }
    spec = _spec()
    kind = "per_layer" if trace else "end_to_end"
    if trace:
        metrics = _traced(r, wall)
    probes.write_json(
        os.path.join(WORK, f"detail_{workload}_seed{seed}_trace{int(trace)}.json"),
        dict(detail, metrics=metrics),
    )
    _shutdown(wl.spark)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        # a layer the workload does not run reports 0
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
            for m in spec[kind]
        },
        "errors": r.errors,
        "samples": f"medians over {len(timed)} timed call(s) and "
                   f"{len(lat)} unit(s) of batch latency",
    }


def _traced(r: Runner, untraced_wall: float) -> dict:
    """One traced, checked run of the workload's layers; per-layer metrics."""
    from perfbench.probes import EventLog, Tracer

    wl = r.wl
    wl.spark.catalog.clearCache()
    tracer = Tracer(wl.spark, f"{wl.name}-{wl.seed}")
    counts: dict = {}

    def traced_call():
        with tracer.span("run"):
            counts.update(wl.traced(tracer))

    if not r.gate(traced_call):
        return {}
    wl.spark.stop()  # closes the event log
    log = EventLog.read(os.path.join(WORK, "events"))
    jobs = log.by_span(tracer)
    root = tracer.get("run")
    if "stream" in jobs:
        # jobs carrying a micro-batch id are the foreachBatch body:
        # build_signatures + append, i.e. the signatures layer
        jobs["signatures"] = [j for j in jobs["stream"] if log.jobs[j]["batch"]]
    v: dict = {}
    for name in {s.name for s in tracer.spans} | set(jobs):
        st = log.stats(jobs.get(name, []))
        v.update({f"{name}.jobs": st.jobs, f"{name}.tasks": st.tasks,
                  f"{name}.shuffle_mb": st.shuffle_mb,
                  f"{name}.spill_mb": st.spill_mb})
    for s in tracer.spans:
        v[f"{s.name}.wall_s"] = tracer.self_s(s.name)
        v[f"{s.name}.cpu_s"] = s.cpu_s
    v.update(counts)
    if "stream" in jobs:
        v["stream.wall_s"] -= v["signatures.wall_s"]
        # the stream span's CPU is, all but its trigger overhead, the
        # foreachBatch body
        v["signatures.cpu_s"] = v.pop("stream.cpu_s")
        v["stream.tasks_per_batch"] = v["signatures.tasks"] / v["stream.batches"]
    wall = root.end - root.start
    all_jobs = [j for js in jobs.values() for j in js]
    v["driver.jobs"] = len(set(all_jobs))
    v["driver.gap_s"] = wall - log.busy_s(set(all_jobs), root.start, root.end)
    v["trace.wall_s"] = wall
    v["trace.overhead_s"] = wall - untraced_wall
    v["trace.coverage"] = sum(
        s.end - s.start for s in tracer.spans if s.parent == "run"
    ) / wall
    tracer.dump(os.path.join(WORK, f"spans_{wl.name}_seed{wl.seed}.json"))
    return v


def _all(args) -> int:
    """Each workload in its own process (a cold set-up for each); their
    tables, then one JSON object of all results."""
    from perfbench.workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        *table, last = p.stdout.splitlines() or [""]
        print("\n".join(table), flush=True)
        try:
            results[name] = json.loads(last)
        except json.JSONDecodeError:
            results[name] = None  # crashed before printing a result
    print(json.dumps(results))
    return 0 if all(r and r["correct"] for r in results.values()) else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _isolate()
    if args.workload == "all":
        return _all(args)
    res = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    errors = res.pop("errors")
    print(f"# {args.workload} seed {args.seed}: {res['attempted']} calls, "
          f"{res.pop('samples')}")
    for name, m in res["metrics"].items():
        print(f"{args.workload:22s} {name:28s} {m['value']:14.6g} {m['unit']}")
    for e in errors:
        print(f"gate failure: {e}", file=sys.stderr)
    print(f"# {args.workload} seed {args.seed}: process ran "
          f"{_since_process_start():.1f} s")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
