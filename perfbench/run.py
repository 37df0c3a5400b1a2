#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload crawl_broad --seed 1 --seconds 20 --trace 0

One closed-loop client: this process drives a ``local[nproc]`` Spark
session (fixed shuffle-partition count) through the public entry points
and prints every metric by name and unit.  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  See README.md for the metric → layer → workload map.

    python3 perfbench/run.py --scaling [--seed N] [--seconds S]

runs crawl_broad and roster at local[1] and local[nproc] and records
the scaling efficiency; it is not part of the gated workload set.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_BASE = os.path.join(ROOT, ".perfbench")
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"
CORPUS_CACHE_KEEP = 8
TRACES_KEEP = 20

CRAWLS = ("crawl_broad",)
WORKLOADS = CRAWLS + ("roster",)

def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _prune(dir_path: str, keep: int) -> None:
    """Keep only the ``keep`` most recently modified entries."""
    if not os.path.isdir(dir_path):
        return
    entries = sorted(
        (os.path.join(dir_path, e) for e in os.listdir(dir_path)),
        key=os.path.getmtime, reverse=True,
    )
    for e in entries[keep:]:
        if os.path.isdir(e):
            shutil.rmtree(e, ignore_errors=True)
        else:
            os.remove(e)


def prepare_workspace(workload: str) -> str:
    """A fresh per-run directory under ``.perfbench/runs`` that holds
    every file the run writes (state dir, Spark scratch, temp files,
    event log).  Directories left by runs that were killed are swept."""
    runs = os.path.join(BENCH_BASE, "runs")
    os.makedirs(runs, exist_ok=True)
    for d in os.listdir(runs):
        try:
            pid = int(d.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            pid = -1
        if pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    work = os.path.join(runs, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "ipc", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # everything the package and Spark put in temp dirs lands here:
    # roster index dirs (digest_idx_*, band_idx_*), the shipped package
    # zip, the seen-join IPC cache and the shuffle scratch
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    os.environ["SPARK_GRAFT_SEENJOIN_IPC_DIR"] = os.path.join(work, "ipc")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return work


def start_spark(work: str, cpus: int, trace: bool):
    from crypto_crawler_rs_spark.session import get_spark

    conf = {
        "spark.default.parallelism": str(SHUFFLE_PARTITIONS),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def history_path(workload: str) -> str:
    return os.path.join(BENCH_BASE, f"history-{workload}.jsonl")


def run_workload(args) -> dict:
    from spans import Tracer, read_event_log, attribute_jobs, subtree_counters, \
        spark_layer_metrics, jvm_rss_peak_mb, cpu_probe_s

    work = prepare_workspace(args.workload)
    cache = os.path.join(BENCH_BASE, "cache")
    os.makedirs(cache, exist_ok=True)
    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}-{os.getpid()}"
    tracer = None
    spark = None
    probe = [cpu_probe_s()]
    try:
        spark = start_spark(work, args.cpus, bool(args.trace))
        if args.trace:
            tracer = Tracer(run_id, spark.sparkContext)
        log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
            f"trace={args.trace} master=local[{args.cpus}] "
            f"shuffle_partitions={SHUFFLE_PARTITIONS} driver_mem={DRIVER_MEM}")
        if args.workload in CRAWLS:
            import crawl

            res = crawl.run_crawl(spark, args.workload, args.seed, args.seconds,
                                  work, cache, tracer, T_PROCESS, log)
            e2e = crawl.crawl_end_to_end(res)
            generic = {"wall_s": e2e["crawl_s"], "step_s": e2e["round_s_p50"],
                       "throughput_per_s": e2e["urls_per_s"]}
            log(f"round_s_p50 over {e2e['steady_rounds']} steady rounds")
        else:
            import roster

            res = roster.run_roster(spark, work, os.path.join(BENCH_BASE, "oracle"),
                                    tracer, T_PROCESS, log)
            e2e = roster.roster_end_to_end(res)
            generic = {"wall_s": e2e["roster_s"], "step_s": e2e["query_s_gmean"],
                       "throughput_per_s": e2e["queries_per_s"]}
        generic["setup_s"] = res["setup_s"]
        rss = jvm_rss_peak_mb(spark) if tracer else 0.0
    finally:
        if spark is not None:
            stop_spark(spark)
        _prune(cache, CORPUS_CACHE_KEEP)
    probe.append(cpu_probe_s())

    try:
        attempted, failed = res["attempted"], res["failed"]
        log(f"failed_share={failed / attempted:.4f} ({failed}/{attempted})")
        log(f"host cpu probe: {probe[0] * 1e3:.1f} ms before, {probe[1] * 1e3:.1f} ms after")
        for k, v in e2e.items():
            log(f"{k}={v:.6g}")
        if not tracer:
            with open(history_path(args.workload), "a") as f:
                f.write(json.dumps({"seed": args.seed, "wall_s": generic["wall_s"]}) + "\n")
            metrics = {m["name"]: generic[m["name"]] for m in load_spec()["end_to_end"]}
        else:
            jobs = read_event_log(os.path.join(work, "eventlog"))
            per_span = attribute_jobs(jobs)

            def subtree(ids):
                return spark_layer_metrics(subtree_counters(tracer, per_span, ids))

            if args.workload in CRAWLS:
                import crawl

                layers = crawl.crawl_layers(res, tracer, subtree)
            else:
                import roster

                layers = roster.roster_layers(res)
                layers.update(subtree([res["pass_span"]["id"]]))
            layers["spark.jvm_rss_peak_mb"] = rss
            layers["host.cpu_probe_s"] = statistics.mean(probe)
            layers["trace.wall_s"] = generic["wall_s"]
            layers["trace.overhead_s"] = trace_overhead(args.workload, generic["wall_s"])
            log_span_table(tracer, per_span)
            traces = os.path.join(BENCH_BASE, "traces")
            tracer.write(os.path.join(traces, run_id + ".json"),
                         {"per_span_counters": {str(k): v for k, v in per_span.items()}})
            _prune(traces, TRACES_KEEP)
            # layers a workload never enters read 0 (e.g. frontier.* on
            # the roster); names outside BENCHMARK.json are not reported
            metrics = {m["name"]: float(layers.get(m["name"], 0.0))
                       for m in load_spec()["per_layer"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def trace_overhead(workload: str, traced_wall: float) -> float:
    """Traced wall time minus the median untraced wall time recorded by
    earlier runs of the same workload in this checkout (0 if none)."""
    try:
        with open(history_path(workload)) as f:
            walls = [json.loads(line)["wall_s"] for line in f if line.strip()]
    except FileNotFoundError:
        walls = []
    if not walls:
        log("trace overhead: no untraced runs recorded yet, reported as 0")
        return 0.0
    return traced_wall - statistics.median(walls[-22:])


def log_span_table(tracer, per_span) -> None:
    """Self time and the attributed Spark and UDF counters per span kind
    (a roster query span kind per entry)."""
    from spans import COUNTERS

    kinds: dict[str, dict] = {}
    for s in tracer.spans:
        name = s["name"] if "query" not in s else f"{s['name']}:{s['query']}"
        k = kinds.setdefault(name, dict.fromkeys(("n", "total_s", "self_s") + COUNTERS, 0))
        k["n"] += 1
        k["total_s"] += s["end"] - s["start"]
        k["self_s"] += tracer.self_time(s)
        for c, v in per_span.get(s["id"], {}).items():
            k[c] += v
    for name, k in sorted(kinds.items()):
        log(f"span {name}: " + " ".join(
            f"{c}={v:.3f}" if isinstance(v, float) else f"{c}={v}" for c, v in k.items()))


def run_scaling(args) -> None:
    """local[1] vs local[nproc] on crawl_broad and roster, one run each;
    efficiency = (T1 / TN) / N against the 0.8 target.  Recorded in
    .perfbench/scaling.json, not gated."""
    n = args.cpus
    out = {}
    for workload in ("crawl_broad", "roster"):
        walls = {}
        for cpus in (1, n):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", "0", "--cpus", str(cpus)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=900)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith("{"):
                sys.stderr.write(proc.stderr[-2000:])
                raise SystemExit(f"scaling run failed: {' '.join(cmd)}")
            walls[cpus] = json.loads(last)["metrics"]["wall_s"]["value"]
        eff = walls[1] / walls[n] / n
        out[workload] = {"wall_s_local1": walls[1], f"wall_s_local{n}": walls[n],
                         "efficiency": eff, "target": 0.8}
        log(f"scaling {workload}: local[1] {walls[1]:.2f}s, local[{n}] "
            f"{walls[n]:.2f}s, efficiency {eff:.3f} (target 0.8)")
    os.makedirs(BENCH_BASE, exist_ok=True)
    with open(os.path.join(BENCH_BASE, "scaling.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--scaling", action="store_true")
    args = ap.parse_args()
    # the program under test must be in the checkout: fail before
    # starting anything if it is not
    for need in ("crypto_crawler_rs_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.stderr.write(f"perfbench: {need} not found next to perfbench/\n")
            return 2
    sys.path[:0] = [HERE, ROOT]
    if args.scaling:
        run_scaling(args)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    result = run_workload(args)
    spec = load_spec()
    unit = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {k: {"value": v, "unit": unit[k]} for k, v in result["metrics"].items()}
    for k, m in metrics.items():
        log(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
