"""InfoBot benchmark: one command, three closed-loop workloads with one
client each (see NOTES.md for why each workload is here and its sizes).

Run from the repository root:

    python3 perfbench/run.py --workload {ingest,chat,dedup} --seed N \
        --seconds S --trace {0,1}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` alternates traced and untraced ops and reports the per-layer metrics.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only when every output check passed and no op failed.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "ade_agente_documental_empresarial___miner_a_spark"


def pin_env(tmp: str) -> dict:
    """Pin what moves the numbers, before the JVM starts: all cores for
    master and shuffle partitions, a driver heap sized to the machine (the
    engine's 16g default exceeds small hosts), scratch and temp files under
    the run's own directory."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "ADE_DRIVER_MEMORY": f"{max(1, min(4, int(mem_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": " ".join(
            filter(None, [
                os.environ.get("SPARK_SUBMIT_OPTS", ""),
                f"-Djava.io.tmpdir={tmp}",
                f"-XX:ErrorFile={tmp}/hs_err_%p.log",
            ])
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {**env, "mem_gib": round(mem_gib, 1)}


def start_spark(env: dict, tmp: str):
    from ade_agente_documental_empresarial___miner_a_spark.session import get_spark

    cpus = int(env["SPARK_GRAFT_CPUS"])
    spark = get_spark(
        "perfbench",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, end the JVM and wait until every process it
    started (the JVM and its Python workers) has exited."""
    from spans import tree_pids

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = tree_pids(os.getpid())[1:]
    spark.stop()
    gateway.shutdown()  # later finalizers then find no connection to use
    proc.stdin.close()  # the gateway JVM exits at end of input
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def quantile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def measure(args, spark, tmp: str) -> tuple[dict, int, int, dict, bool]:
    from shuffle_audit import walk  # the repo's executed-plan walker
    from spans import Py4jCounter, Tracer, log, sentinel_ms, tree_peak_rss_mb
    from workloads import WORKLOADS, CheckFailed

    sc = spark.sparkContext
    w = WORKLOADS[args.workload](spark, tmp, args.seed, walk)
    tracer = Tracer() if args.trace else None
    w.setup()
    setup_s = time.perf_counter() - T_START
    rss = tree_peak_rss_mb(os.getpid())
    sentinel = [sentinel_ms()]
    if args.trace:
        w.py4j = Py4jCounter(sc)

    ops: list[tuple[bool, float]] = []
    items = failed = 0
    i = w.next_op
    t0 = time.perf_counter()
    # at least three ops, so a still-warming first op cannot set the median
    while time.perf_counter() - t0 < args.seconds or len(ops) < 3:
        traced = bool(args.trace) and w.traced(i)
        try:
            n, dt = w.op(i, tracer if traced else None)
        except Exception:  # noqa: BLE001 - count the op as failed, go on
            traceback.print_exc()
            failed += 1
            if failed > 3:  # the program keeps failing: stop measuring
                break
        else:
            ops.append((traced, dt))
            items += n
        i += 1
    wall = time.perf_counter() - t0
    sc.setJobGroup("perfbench-after", "checks and layer figures")
    sentinel.append(sentinel_ms())
    rss = max(rss, tree_peak_rss_mb(os.getpid()))
    if w.py4j:
        w.py4j.close()

    correct = failed == 0
    try:
        w.check()
    except CheckFailed as e:
        log(f"CHECK FAILED: {e}")
        correct = False

    plain = [dt * 1e3 for traced, dt in ops if not traced]
    if args.trace:
        traced_ms = [dt * 1e3 for traced, dt in ops if traced]
        values = w.layers(tracer)
        log("spans:\n" + tracer.summary())
        values["trace.overhead_pct"] = 100 * (
            statistics.median(traced_ms) / statistics.median(plain) - 1
        )
        values["host.sentinel_ms"] = max(sentinel)
    else:
        values = {
            "setup_s": setup_s,
            "items_per_s": items / wall,
            "op_p50_ms": statistics.median(plain),
            "op_p95_ms": quantile(plain, 95),
            "open_p50_ms": statistics.median(w.opens),
            "peak_rss_mb": rss,
        }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(ops),
        "opens": len(w.opens),
        "timed_s": round(wall, 3),
        "op_ms": [round(dt * 1e3, 1) for _, dt in ops],
        "sentinel_ms": [round(s, 3) for s in sentinel],
    }
    return values, len(ops) + failed, failed, info, correct


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "chat", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    if (
        importlib.util.find_spec(PACKAGE) is None
        or importlib.util.find_spec("shuffle_audit") is None
    ):
        print(f"perfbench: {PACKAGE} and tools/shuffle_audit.py must be "
              "importable from the working directory", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
    try:
        env = pin_env(tmp)
        spark = start_spark(env, tmp)
        try:
            values, attempted, failed, info, correct = measure(args, spark, tmp)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload bypasses did no work: it reads 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    info["env"] = env
    print(json.dumps({"perfbench": info}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
