"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_kernels --seed 1 --seconds 10 --trace 0

Workloads: ``batch_kernels`` (see batch.py) and
``stream_stateful`` (see stream.py). The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the run adds one traced pass (or drain) and prints the
per-layer metrics instead, writing its spans to ``perfbench/.out/``. A
wrong result or a failing gate or query makes the exit code 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
OUT = os.path.join(HERE, ".out")
SETUP_REPEATS = 9
PACKAGE = "incubator_beam_spark"


def prepare(name: str) -> str:
    """Make this run's scratch directory and the environment for this
    process and the JVM and Python workers it starts: one Spark task
    slot per core, the package importable by the workers, every scratch
    file inside the checkout."""
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _rounded(times: dict) -> dict:
    """A pass's gate times, build plus action, for the log."""
    return {g: round(b + a, 3) for g, (b, a) in times.items()}


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # the shared parent, once empty
    except OSError:
        pass


def _start(cores: int) -> tuple:
    t0 = time.perf_counter()
    spark = importlib.import_module(f"{PACKAGE}.session").get_spark("perfbench", cpus=cores)
    t1 = time.perf_counter()
    queries = importlib.import_module(f"{PACKAGE}.registry").load_all()
    return spark, queries, t1 - t0, time.perf_counter() - t1


def setup(cores: int, repeats: int = SETUP_REPEATS) -> tuple:
    """Start the session and load the registry, then set up ``repeats``
    more times in the running JVM: probe the host (see host.py), stop
    the session, drop every package module, and repeat both steps.
    Returns the session, the gate table and the timings (medians over
    the repeats; ``setup_s`` scaled to the reference host)."""
    spark, queries, cold, _ = _start(cores)
    starts, loads, probes = [], [], []
    for _ in range(repeats):
        probes.extend(host.probe())
        spark.stop()
        for mod in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
            del sys.modules[mod]
        spark, queries, start, load = _start(cores)
        starts.append(start)
        loads.append(load)
    timings = {"session.cold_start_s": (cold, "s")}
    if repeats:
        setup_s = statistics.median(s + lo for s, lo in zip(starts, loads))
        log(f"set-up {setup_s:.3f} s on this host, scale {host.scale(probes):.3f}")
        timings["setup_s"] = (setup_s * host.scale(probes), "s")
        timings["session.start_s"] = (statistics.median(starts), "s")
        timings["registry.load_s"] = (statistics.median(loads), "s")
    return spark, queries, timings


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("the JVM reports no VmHWM")


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _host(cpu: list[int], probes: list[float]) -> dict:
    """The host over a timed region that started at the /proc/stat
    reading ``cpu``: its CPU steal and its probed speed (see host.py)."""
    m = {"host.steal_pct": (host.steal_pct(cpu, host.cpu_times()), "%"), "host.scale": (host.scale(probes), "")}
    if len(probes) > 1:  # none when the first gate run failed
        m["host.probe_ms"] = (host.probe_ms(probes), "ms")
    log(f"CPU steal {m['host.steal_pct'][0]:.1f}%, probe {m.get('host.probe_ms', (0,))[0]:.3f} ms, "
        f"scale {m['host.scale'][0]:.3f}")
    return m


def run_batch(args, spark, queries, work: str) -> tuple[dict, int, int]:
    import batch
    import inputs
    import layers
    import selftest

    gates = batch.WORKLOADS[args.workload]
    sf_dir = inputs.inputs_dir(args.seed)
    runner = batch.GateRunner(spark, queries, sf_dir, gates)
    runner.load_oracles()
    m: dict = {}
    t0 = time.perf_counter()
    for _ in range(batch.WARMUP_PASSES):  # the first pass also checks the oracles
        warm = runner.run_pass()
        if warm is None:
            break
        log(f"warm-up pass {_rounded(warm)} s")
    if warm is not None:
        log(f"warm-up passes {time.perf_counter() - t0:.1f} s")
        cpu = host.cpu_times()
        passes, probes = batch.timed_passes(runner, args.seconds)
        m.update(_host(cpu, probes))
        for p in passes:
            log(f"timed pass {_rounded(p)} s")
        if passes and not runner.failed:
            rows = inputs.input_rows(sf_dir, [queries[g].oracle for g in gates])
            m.update(batch.end_to_end(passes, rows, host.scale(probes)))
            if args.trace:
                tracer = layers.Tracer()
                m.update(batch.traced_pass(runner, layers.StatusReader(spark), tracer))
                tracer.write(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"))
    if not args.trace:
        return m, runner.attempted, runner.failed
    bad = selftest.pruned_gates(spark, queries, sf_dir, work)
    return m, runner.attempted + len(selftest.GATES), runner.failed + len(bad)


def run_stream(args, spark, work: str) -> tuple[dict, int, int]:
    import inputs
    import layers
    import stream

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    files = stream.generate(inputs.inputs_dir(args.seed))
    counts = {"attempted": 0, "failed": 0}

    def one(staged: list, listener=None, probes=None) -> dict:
        d = stream.drain(spark, staged, os.path.join(work, f"drain-{counts['attempted']}"), listener, probes)
        wrong = stream.check_drain(d, staged)
        counts["attempted"] += len(d)
        counts["failed"] += len(wrong)
        for w in wrong:
            log(w)
        return d

    t0 = time.perf_counter()
    one(files[: stream.WARMUP_FILES])
    log(f"warm-up drain {time.perf_counter() - t0:.1f} s")
    drains: list[dict] = []
    probes: list[float] = []
    spent = 0.0
    cpu = host.cpu_times()
    while len(drains) < stream.MIN_DRAINS or spent + statistics.median(map(stream.drain_wall, drains)) <= args.seconds:
        drains.append(one(files, probes=probes))
        spent += stream.drain_wall(drains[-1])
        log(f"drain {stream.drain_wall(drains[-1]):.2f} s, triggers (ms) "
            f"{ {q: [p['durationMs']['triggerExecution'] for p in r['progress']] for q, r in drains[-1].items()} }")
    m = _host(cpu, probes)
    if not counts["failed"]:
        m.update(stream.end_to_end(drains, host.scale(probes)))
        if args.trace:
            tracer = layers.Tracer()
            listener = layers.progress_listener()
            spark.streams.addListener(listener)
            try:
                lo = time.time()
                d = one(files, listener)
                hi = time.time()
            finally:
                spark.streams.removeListener(listener)
            if not counts["failed"]:
                m.update(stream.traced(d, lo, hi, layers.StatusReader(spark), tracer))
            tracer.write(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"))
    return m, counts["attempted"], counts["failed"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=["batch_kernels", "stream_stateful"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = prepare(f"{args.workload}-{args.seed}")
    try:
        importlib.import_module(PACKAGE)
    except ImportError as e:
        print(f"[perfbench] cannot import the package under test: {e}", file=sys.stderr)
        clean(work)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    os.makedirs(OUT, exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark, queries, m = setup(cores)
    log(f"set-up {time.perf_counter() - t0:.1f} s on {cores} cores")
    try:
        if args.workload == "stream_stateful":
            result, attempted, failed = run_stream(args, spark, work)
        else:
            result, attempted, failed = run_batch(args, spark, queries, work)
        m.update(result)
        m["jvm.peak_rss_mb"] = (jvm_peak_rss_mb(), "MB")
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
        clean(work)
        log(f"shutdown {time.perf_counter() - t0:.1f} s")
    m["host.cores"] = (cores, "count")
    if "wall_s" in m:
        log(f"wall_s {m['wall_s'][0] / m['host.scale'][0]:.3f} s on this host")
    if "trace.wall_s" in m:
        # both sides in this host's seconds
        m["trace.overhead_s"] = (m["trace.wall_s"][0] - m["wall_s"][0] / m["host.scale"][0], "s")

    correct = failed == 0 and all(x["name"] in m for x in spec["end_to_end"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {x["name"]: {"value": float(m.get(x["name"], (0.0,))[0]), "unit": x["unit"]} for x in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
