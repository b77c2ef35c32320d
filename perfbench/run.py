"""Benchmark driver for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see perfbench/README.md) as a closed loop with one
client on local[N] in a fresh process, checks every result, and prints
as its LAST stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones.  A detail line (environment fingerprint, per-entry
medians, workload-specific figures) is printed just before it, and the
traced run's spans and per-op rows go to
``perfbench/_work/traces/<workload>-seed<n>.json``.

Inputs are generated from source inside the checkout: the catalog
tables once (fixed seed, cached with their DuckDB oracle hashes under
``perfbench/_work``), the weather CSV per ``--seed``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("relational-exec", "txnlog-write", "weather-lambda")
SF, TABLE_SEED = 0.01, 20261016
WEATHER_YEARS, WEATHER_DROPS = (2012, 2014), 2
SPARK_MARKER = "org.apache.spark.deploy.SparkSubmit"


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --- host sizing and hygiene -------------------------------------------------


def host_env() -> dict[str, str]:
    """local[N] with N <= nproc (at most 4) and a driver heap sized from
    physical memory (an eighth, between 1 and 2 GB)."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(2048, kb // 8192))}m",
    }


def spark_jvms() -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if SPARK_MARKER.encode() in f.read():
                    pids.append(int(p))
        except OSError:
            continue
    return pids


def wait_quiet(timeout: float = 60.0) -> None:
    """Refuse to measure beside another Spark JVM (a concurrent one
    reads as a slowdown of this run)."""
    deadline = time.time() + timeout
    while spark_jvms():
        if time.time() > deadline:
            die(f"another Spark JVM is running (pids {spark_jvms()})", 4)
        time.sleep(1)


def rss_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def fingerprint(tmp: str) -> dict:
    """A fixed CPU loop and a small-file I/O probe: figures of the host,
    not of the engine, charged to no metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    cpu = time.perf_counter() - t0
    d = tempfile.mkdtemp(dir=tmp)
    payload = b"\xa5" * 8192
    t0 = time.perf_counter()
    for i in range(200):
        with open(os.path.join(d, f"f{i}"), "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
    for i in range(200):
        with open(os.path.join(d, f"f{i}"), "rb") as f:
            f.read()
        os.unlink(os.path.join(d, f"f{i}"))
    io = time.perf_counter() - t0
    os.rmdir(d)
    return {"cpu_loop_s": round(cpu, 4), "io_probe_s": round(io, 4)}


# --- inputs -------------------------------------------------------------------


def prepare(workload: str, seed: int, run_dir: str) -> dict:
    """Make the run's inputs in a child process, so neither DuckDB nor
    the generators count toward this process's memory or set-up time."""
    out = os.path.join(run_dir, "inputs.json")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--prepare", out],
        check=True,
    )
    with open(out) as f:
        return json.load(f)


def make_inputs(workload: str, seed: int, out: str) -> None:
    from datagen import weather_drops
    from workloads import CATALOG_WORKLOADS

    if workload in CATALOG_WORKLOADS:
        sf_dir, hashes = catalog_inputs(CATALOG_WORKLOADS[workload])
        info = {"sf_dir": sf_dir, "expected": hashes}
    else:
        info = weather_drops(
            os.path.join(os.path.dirname(out), "weather"), seed, WEATHER_YEARS,
            WEATHER_DROPS,
        )
        info["counts"] = [[*k, v] for k, v in info["counts"].items()]
    with open(out, "w") as f:
        json.dump(info, f)


def catalog_inputs(names: list[str]) -> tuple[str, dict[str, str]]:
    """The sf tables and their oracle hashes, built once per checkout."""
    from datagen import write_tables
    from oracle import oracle_hashes

    sf_dir = os.path.join(WORK, f"sf{SF}")
    hashes_path = os.path.join(WORK, f"oracle_sf{SF}.json")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(sf_dir, "_DONE")):
            shutil.rmtree(sf_dir, ignore_errors=True)
            write_tables(sf_dir, SF, TABLE_SEED)
            open(os.path.join(sf_dir, "_DONE"), "w").close()
        hashes = {}
        if os.path.exists(hashes_path):
            with open(hashes_path) as f:
                hashes = json.load(f)
        todo = [n for n in names if n not in hashes]
        if todo:
            hashes.update(oracle_hashes(sf_dir, todo))
            with open(hashes_path + ".tmp", "w") as f:
                json.dump(hashes, f, indent=1, sort_keys=True)
            os.replace(hashes_path + ".tmp", hashes_path)
    return sf_dir, {n: hashes[n] for n in names}


# --- measurement --------------------------------------------------------------


def pass_loop(wl, label: str, seconds: float, traced_passes, log: list) -> float:
    """Run whole passes until ``seconds`` of timed wall have elapsed and
    at least ``len(traced_passes)`` passes have run; pass k is traced
    when ``traced_passes[k % len(traced_passes)]``.  Returns the timed
    wall: the sum of op walls, which leaves out result checks."""
    tracer = wl.ctx.tracer
    timed, k = 0.0, 0
    while timed < seconds or k < len(traced_passes):
        traced = traced_passes[k % len(traced_passes)]
        rng = random.Random(f"{label}:{k}")
        for op in wl.ops(rng):
            tracer.enabled = traced
            tracer.op = len(log)
            t0 = time.perf_counter()
            try:
                rec = wl.run(op, traced)
            except Exception:  # an op that raises is a failed op
                rec = {"entry": str(op[0] if isinstance(op, tuple) else op),
                       "wall": time.perf_counter() - t0, "ok": False,
                       "error": traceback.format_exc()[-800:]}
            tracer.enabled = False
            timed += rec["wall"]
            rec.update(pass_no=k, traced=traced)
            log.append(rec)
        k += 1
    return timed


def quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops: list[dict], timed: float, setup_s: float, peak: float) -> dict:
    """The metrics every workload reports, measured with tracing off."""
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median([o["wall"] for o in ops]), "s"),
        "ops_per_s": (len(ops) / timed, "1/s"),
        "peak_rss_mb": (peak, "MB"),
    }


def tail(ops: list[dict]) -> dict:
    """p90 op latency, given only when at least ten ops lie beyond it."""
    walls = [o["wall"] for o in ops]
    p90 = quantile(walls, 0.9)
    beyond = sum(w > p90 for w in walls)
    return {"op_p90_s": p90 if beyond >= 10 else None, "ops_beyond_p90": beyond,
            "ops": len(walls)}


def workload_figures(name: str, ops: list[dict], commits: list[dict]) -> dict:
    """The end-to-end figures only one workload has (untraced ops)."""
    if name == "txnlog-write":
        final: dict = {}
        for c in commits:  # live bytes of each table's final snapshot
            final[(c["op"], c["table"])] = c["live_bytes"]
        return {"write_amp": (
            sum(c["added_bytes"] for c in commits) / max(1, sum(final.values())),
            "ratio")}
    if name == "weather-lambda":
        ingest = [o["wall"] for o in ops if o["entry"] == "ingest"]
        landed = sum(o["landed"] for o in ops if "landed" in o)
        return {
            "pipeline_s": (median([o["wall"] for o in ops if o["entry"] == "pipeline"]), "s"),
            "microbatch_p50_s": (median(ingest), "s"),
            "ingest_rows_per_s": (landed / max(1e-9, sum(ingest)), "1/s"),
        }
    return {}


def per_layer(wl, ops: list[dict], traced: list[dict], setup: dict) -> dict:
    tracer = wl.ctx.tracer
    cat = [o for o in traced if "build" in o]
    ex = [o["exec"] for o in cat]
    tasks = sum(e["tasks"] for e in ex)
    n = max(1, len(traced))
    traced_ids = {o["op_id"] for o in traced}
    commits = [c for c in tracer.txn_commits if c["op"] in traced_ids]
    live_before = sum(c["live_before"] for c in commits)
    t_pipe = [o for o in traced if o["entry"] == "pipeline"]
    pipe_ids = {o["op_id"] for o in t_pipe}
    spans = tracer.spans

    def span_s(op_ids, layer=None, names=None):
        tot = {}
        for s in spans:
            if s["op"] in op_ids and (layer is None or s["layer"] == layer) and (
                names is None or s["name"] in names
            ):
                tot[s["op"]] = tot.get(s["op"], 0.0) + s["end"] - s["start"]
        return median(list(tot.values()))

    selfs = tracer.self_times()
    untraced = {}
    for o in ops:
        untraced.setdefault(o["entry"], []).append(o["wall"])
    ratios = [
        o["wall"] / median(untraced[o["entry"]]) - 1
        for o in traced
        if o["entry"] in untraced and o["ok"]
    ]
    m = {
        "session.start_s": (setup["session_s"], "s"),
        "plans.artifacts_s": (setup.get("artifacts_s", 0.0), "s"),
        "plans.artifacts_thread_s": (setup.get("artifacts_thread_s", 0.0), "s"),
        "plans.build_s": (median([o["build_s"] for o in cat]), "s"),
        "plans.build_jobs": (sum(o["build"]["jobs"] for o in cat) / max(1, len(cat)), "count"),
        **{
            f"catalyst.{k}_ms": (
                sum(o["catalyst_ms"][k] for o in cat) / max(1, len(cat)), "ms")
            for k in ("analysis", "optimization", "planning")
        },
        "exec.collect_s": (median([o["exec_s"] for o in cat]), "s"),
        "exec.jobs": (sum(e["jobs"] for e in ex) / max(1, len(ex)), "count"),
        "exec.stages": (sum(e["stages"] for e in ex) / max(1, len(ex)), "count"),
        "exec.tasks": (tasks / max(1, len(ex)), "count"),
        "exec.failed_tasks": (sum(e["failed_tasks"] for e in ex), "count"),
        "exec.shuffle_write_bytes": (
            sum(e["shuffle_write_bytes"] for e in ex) / max(1, len(ex)), "B"),
        "exec.shuffle_read_bytes": (
            sum(e["shuffle_read_bytes"] for e in ex) / max(1, len(ex)), "B"),
        "exec.records_per_task": (sum(e["records"] for e in ex) / max(1, tasks), "count"),
        "sources.txnlog.commits": (len(commits) / n, "count"),
        "sources.txnlog.files_written": (sum(c["added"] for c in commits) / n, "count"),
        "sources.txnlog.bytes_written": (sum(c["added_bytes"] for c in commits) / n, "B"),
        "sources.txnlog.scan_prune_ratio": (
            sum(c["rewrote"] for c in commits) / max(1, live_before), "ratio"),
        "streaming.batches": (
            sum(o["batches"] for o in traced if "batches" in o)
            / max(1, len({o["pass_no"] for o in traced if "batches" in o})), "count"),
        "streaming.batch_s": (
            median([b for o in traced if "batch_s" in o for b in o["batch_s"]]), "s"),
        "streaming.refresh_s": (
            median([o["wall"] for o in traced if o["entry"] == "refresh"]), "s"),
        "sources.writers.write_s": (span_s(pipe_ids, layer="sources.writers"), "s"),
        "sources.writers.bytes_written": (
            median([o["bytes_written"] for o in t_pipe]), "B"),
        "plans.weather.output_s": (span_s(pipe_ids, layer="plans.weather"), "s"),
        "ml.fit_s": (span_s(pipe_ids, names={"train_et_model"}), "s"),
        "ml.eval_s": (span_s(pipe_ids, names={"evaluate"}), "s"),
        "trace.overhead_frac": (median(ratios), "ratio"),
    }
    # the workload-specific end-to-end figures, from the untraced passes
    figs = {"write_amp": (0.0, "ratio"), "pipeline_s": (0.0, "s"),
            "microbatch_p50_s": (0.0, "s"), "ingest_rows_per_s": (0.0, "1/s")}
    untraced_ids = {o["op_id"] for o in ops}
    figs.update(workload_figures(
        wl.name, ops, [c for c in tracer.txn_commits if c["op"] in untraced_ids]))
    m.update(figs)
    for layer in ("plans", "exec", "sources.txnlog", "sources.writers",
                  "plans.weather", "ml", "streaming"):
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0) / n, "s")
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", help=argparse.SUPPRESS)
    a = ap.parse_args()

    for need in ("big_data_processing_spark/__init__.py", "scripts/driver_sim.py",
                 "tests/weather_fixture.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine source not found: {need} (run from a full checkout)", 3)
    sys.path[:0] = [ROOT, HERE]
    os.environ.update(host_env())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    wait_quiet()

    if a.prepare:
        make_inputs(a.workload, a.seed, a.prepare)
        return
    from big_data_processing_spark.plans import CATALOG
    from workloads import CATALOG_WORKLOADS, check_membership

    check_membership(CATALOG)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run_{a.workload}_", dir=WORK)
    try:
        result, detail = run(a, run_dir, CATALOG_WORKLOADS)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))


def run(a, run_dir: str, catalog_workloads: dict) -> tuple[dict, dict]:
    from oracle import Checker
    from spans import SparkStats, Tracer
    from workloads import CatalogWorkload, Ctx, WeatherWorkload

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    # inputs and oracle hashes: outside both the timing and setup_s
    data = prepare(a.workload, a.seed, run_dir)
    sf_dir = data.get("sf_dir")
    if sf_dir is None:
        data["counts"] = {tuple(r[:3]): r[3] for r in data["counts"]}
    checker = Checker(data.get("expected", {}))
    env = fingerprint(tmp)

    t_setup = time.perf_counter()
    from big_data_processing_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{a.workload}",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed-size heap: a heap that grows by GC heuristics made
            # both op walls and peak RSS wander between runs.  No
            # hsperfdata file under /tmp: the run writes only inside the
            # checkout.
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    setup = {"session_s": time.perf_counter() - t_setup}
    try:
        tracer = Tracer()
        ctx = Ctx(spark, sf_dir, checker, tracer, SparkStats(sc), run_dir)
        if sf_dir is not None:
            wl = CatalogWorkload(a.workload, ctx)
        else:
            wl = WeatherWorkload(ctx, data)
        wl.setup(bool(a.trace))
        if wl.artifacts:
            setup["artifacts_s"] = wl.artifacts["block_s"]
            setup["artifacts_thread_s"] = sum(wl.artifacts["walls"].values())
        warm: list = []
        pass_loop(wl, f"{a.seed}:warm", 0, [False], warm)  # one discarded warm pass
        setup_s = time.perf_counter() - t_setup
        wl.count(tracer)
        if a.trace:
            wl.wrap(tracer)
        log: list = []
        kinds = [True, False] if a.trace else [False] * wl.min_passes
        timed = pass_loop(wl, str(a.seed), a.seconds, kinds, log)
        tracer.restore()
        peak = rss_mb("self") + rss_mb(jvm.pid)
    finally:
        stop_spark(spark)

    for i, o in enumerate(log):
        o["op_id"] = i
    ops = [o for o in log if not o["traced"]]
    traced = [o for o in log if o["traced"]]
    failed = [o for o in log if not o["ok"]]
    warm_failed = [o for o in warm if not o["ok"]]
    if a.trace:
        metrics = per_layer(wl, ops, traced, setup)
    else:
        metrics = end_to_end(ops, timed, setup_s, peak)
    by_entry: dict = {}
    for o in ops:
        by_entry.setdefault(o["entry"], []).append(o["wall"])
    detail = {
        "perfbench_detail": a.workload,
        "seed": a.seed,
        "env": env,
        "host": host_env(),
        "setup": {k: round(v, 4) for k, v in setup.items()} | {"setup_s": round(setup_s, 4)},
        "passes": 1 + max(o["pass_no"] for o in log),
        "tail": tail(ops),
        "failed_frac": len(failed) / len(log),
        "workload": {
            k: round(v, 4)
            for k, (v, _) in workload_figures(a.workload, ops, tracer.txn_commits).items()
        } if not a.trace else None,
        "failures": [
            {k: o.get(k) for k in ("entry", "error")} for o in warm_failed + failed
        ][:10],
        "entry_median_s": {k: round(median(v), 4) for k, v in sorted(by_entry.items())},
        "warm_entry_s": {o["entry"]: round(o["wall"], 4) for o in warm},
    }
    if a.trace:
        write_trace(a, wl, log)
    result = {
        "correct": not failed and not warm_failed,
        "attempted": len(log),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def write_trace(a, wl, log: list) -> None:
    tracer = wl.ctx.tracer
    rows = [
        {
            "op": o["op_id"],
            "entry": o["entry"],
            "wall_s": o["wall"],
            "build_s": o.get("build_s"),
            "catalyst_ms": o.get("catalyst_ms"),
            "exec_s": o.get("exec_s"),
            "build_jobs": o.get("build", {}).get("jobs"),
            "exec": o.get("exec"),
        }
        for o in log
        if o["traced"]
    ]
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump(
            {"ops": rows, "spans": tracer.spans, "txn_commits": tracer.txn_commits},
            f,
        )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for both (and
    the Python workers the JVM forked) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc if gw is not None else None
    spark.stop()
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass
    try:
        proc.stdin.close()
    except Exception:
        pass
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while spark_jvms() or _pyspark_workers():
        if time.time() > deadline:
            break
        time.sleep(0.2)


def _pyspark_workers() -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) != os.getpid():
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                pids.append(int(p))
    return pids


if __name__ == "__main__":
    main()
