"""Benchmark entry point: one seeded workload per process.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. Load model: one Python process, one
client, closed loop; Spark runs as local[nproc] with
spark.sql.shuffle.partitions = nproc, and each process gets its own
temporary warehouse and working directory under ``.perfbench/``.

A run generates its inputs from the seed (not timed), starts Spark and
does the workload's one-time preparation (together ``setup_s``), then
times whole passes until ``--seconds`` have elapsed (at least one, at
most the workload's ``max_passes``), then checks the outputs. The last stdout
line is one JSON object: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics named in BENCHMARK.json. A
traced run also writes the full per-layer table to
``.perfbench/results/``.

``--workload all`` runs every workload in its own process and prints
one table of every end-to-end metric plus each error rate.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
COUNTER_UNITS = {"s": "s", "self_s": "s", "jobs": "count", "task_s": "s",
                 "driver_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
                 "fetch_wait_s": "s", "input_rows": "count"}


def since_process_start() -> float:
    """Seconds since this process started. The start time in
    /proc/self/stat and CLOCK_BOOTTIME both count from boot, so neither
    the whole-second boot time nor wall-clock adjustments enter."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - ticks / os.sysconf("SC_CLK_TCK"))


def steal_s() -> float:
    """CPU time the hypervisor gave to others, over all CPUs, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_loop_s() -> float:
    """Time of a fixed pure-Python loop: a record of the host's speed
    during the run, so runs on a slowed host can be told apart."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """All live descendant processes of ``pid`` (Linux /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def jvm_pid() -> int:
    """The driver JVM: the gateway process, or its first java descendant."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    for p in [pid] + descendants(pid):
        with open(f"/proc/{p}/cmdline", "rb") as f:
            if b"java" in f.read().split(b"\0")[0]:
                return p
    return pid


def start_spark(work: str, nproc: int, trace: bool):
    from albedo_spark.session import get_spark

    # Every file Spark, the JVM and Python write lands under ``work``.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # The serial collector: with G1 the heap's growth, and so VmHWM,
        # differed by 40 % between identical runs.
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work} -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData -XX:+UseSerialGC"),
    }
    if trace:
        # Keep every job and stage in the status store for the table.
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and every process under it to
    exit (killing what is still alive after a grace period)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    others = descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in others:
        while alive(pid):
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def per_layer_metrics(names: list[str], table: dict, util: float) -> dict:
    out = {}
    for name in names:
        if name == "util":
            out[name] = {"value": util, "unit": "ratio"}
            continue
        span, counter = name.rsplit(".", 1)
        value = table.get(span, {}).get(counter, 0.0)
        out[name] = {"value": value, "unit": COUNTER_UNITS[counter]}
    return out


# Pass numbers of the set-up and check phases; the timed passes are
# 1, 2, ...
SETUP, CHECK = -1, -2


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "albedo_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds "
              "albedo_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)

    import spans as tr
    import workloads

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "data"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.chdir(work)
    spark = None
    steal0 = steal_s()
    try:
        t_gen = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](None, os.path.join(work, "data"), nproc)
        inputs = wl.generate(args.seed)
        gen_s = time.perf_counter() - t_gen

        t_session = time.perf_counter()
        spark = start_spark(work, nproc, args.trace)
        session_s = time.perf_counter() - t_session
        wl.spark = spark
        sc = spark.sparkContext
        tracer = tr.Tracer(sc=sc if args.trace else None)
        root = f"{wl.name}.pass"

        def one_pass() -> float:
            with tracer.span(root) as sp:
                try:
                    wl.run_pass(tracer, tracer.pass_no)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    wl.failures.append(f"pass {tracer.pass_no} raised")
            return sp.s

        tracer.pass_no = SETUP
        with tracer.span("setup"):
            wl.prepare(tracer)
        tracer.pass_no = 0
        setup_s = since_process_start() - gen_s

        walls: list[float] = []
        t0 = time.perf_counter()
        while not wl.failures and len(walls) < wl.max_passes and (
                not walls or time.perf_counter() - t0 < args.seconds):
            tracer.pass_no += 1
            walls.append(one_pass())
        measured = set(range(1, len(walls) + 1))
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid())
        steal = steal_s() - steal0

        tracer.pass_no = CHECK
        with tracer.span("check"):
            try:
                checks = wl.check()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                checks = {"check": ["raised"]}
        for msg in wl.failures + [f"{k}: {m}" for k, v in checks.items() for m in v]:
            print(f"perfbench: failed: {msg}", file=sys.stderr)
        attempted = wl.attempted + len(checks)
        failed = len(wl.failures) + sum(1 for v in checks.values() if v)

        latencies: dict[str, list[float]] = {}
        for sp in tracer.spans:
            if sp.pass_no in measured and sp.name != root:
                latencies.setdefault(sp.name, []).append(sp.s)
        info = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                "nproc": nproc, "inputs": inputs, "gen_s": gen_s,
                "session_s": session_s, "setup_s": setup_s,
                "passes": len(walls), "walls": walls,
                "wall_s": tr.median(walls) if walls else None,
                "latency": {k: {"n": len(v), "p50_s": tr.median(v),
                                "tail": tr.tail(v)}
                            for k, v in latencies.items()},
                "attempted": attempted, "failed": failed,
                "error_rate": failed / attempted,
                "host_steal_s": steal, "host_loop_s": host_loop_s(),
                "spans": [[sp.name, sp.pass_no, sp.s] for sp in tracer.spans]}
        if not walls:
            metrics = {}
        elif args.trace:
            jobs, stages = tr.fetch_rest(sc.uiWebUrl, sc.applicationId)
            table = tr.layer_table(tracer.spans, jobs, stages, measured)
            if table["jobs_attributed"] != table["jobs_total"]:
                print(f"perfbench: {table['jobs_total'] - table['jobs_attributed']}"
                      " jobs not attributed to any span", file=sys.stderr)
                failed += 1
            # Set-up spans (store build, model training) report their
            # one instance; a name the timed passes also use keeps the
            # timed passes' median.
            setup = tr.layer_table(tracer.spans, jobs, stages, {SETUP})["spans"]
            layers = {**setup, **table["spans"]}
            util = tr.utilization(tracer.spans, table["pass_task_s"], root,
                                  measured, nproc)
            info.update(util=util, jobs_total=table["jobs_total"],
                        jobs_attributed=table["jobs_attributed"],
                        jobs_by_thread_fallback=table["jobs_by_thread_fallback"])
            untraced = os.path.join(results, f"{wl.name}-seed{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    info["trace_overhead_s"] = info["wall_s"] - json.load(f)["wall_s"]
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                names = [m["name"] for m in json.load(f)["per_layer"]]
            metrics = per_layer_metrics(names, layers, util)
            info["layers"] = layers
        else:
            metrics = {"setup_s": setup_s, "wall_s": tr.median(walls),
                       "peak_rss_mb": peak_rss}
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        info["metrics"] = metrics
        side = os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
        with open(side, "w") as f:
            json.dump(info, f, indent=1, sort_keys=True)
    finally:
        os.chdir(ROOT)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process; one table of the results."""
    import workloads

    code = 0
    rows = []
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            code = 1
        if lines:
            res = json.loads(lines[-1])
            rows.append((name, res))
    for name, res in rows:
        print(f"{name}: correct={res['correct']} "
              f"error_rate={res['failed']}/{res['attempted']}")
        for k, m in res["metrics"].items():
            print(f"  {k:<48} {m['value']:>14.4f} {m['unit']}")
    return code


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True,
                   choices=["corpus", "serve", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
