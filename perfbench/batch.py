"""The batch workloads: passes over a fixed list of registered gates.

A gate run is one call of the registered gate function (``build``: plan
building plus any eager jobs the gate runs before it returns) followed
by ``toPandas()`` on its result (``action``): every row and column
reaches the driver, so no output column can be pruned away the way
``count()`` lets Catalyst do. The first pass is the warm-up and the
oracle check; the timed passes follow, and each of their results is
checked against the oracle-verified digest outside the timed region.
After each timed gate run the host's speed is probed (see host.py). A
gate's time is its fastest timed run, scaled to the reference host: the
work is the same on every pass, so what a slower run adds is what the
host and the JIT's warm-up added, not what the program does.
Between gates the session's SQL conf is restored and its cache cleared,
so no gate sees what an earlier one left behind.
"""

from __future__ import annotations

import itertools
import math
import statistics
import sys
import time

import check
import host
import layers

WORKLOADS = {
    # Python kernels and driver iteration: CEP, BPE, near-dup clustering
    "batch_kernels": (
        "cep_match_recognize",
        "doc_bpe_encode",
        "doc_neardup_clusters",
    ),
}
ALL_GATES = tuple(g for gates in WORKLOADS.values() for g in gates)
WARMUP_PASSES = 1
MIN_PASSES = 4


def materialize(df):
    """The timed action: the full result, every row and column, on the driver."""
    return df.toPandas()


class GateRunner:
    """Runs gates against one input directory and checks their results."""

    def __init__(self, spark, queries: dict, sf_dir: str, gates: tuple[str, ...]):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.gates = gates
        self.base_conf = dict(spark.conf.getAll)
        self.expected: dict[str, str] = {}
        self.oracle: dict[str, tuple] = {}
        self.attempted = 0
        self.failed = 0
        self._groups = itertools.count()  # unique job-group ids for traced gate runs

    def load_oracles(self) -> None:
        from incubator_beam_spark.catalog import TABLES

        con = check.duck_connection(self.sf_dir, TABLES)
        try:
            for g in self.gates:
                rows = check.oracle_rows(con, self.queries[g].oracle)
                self.oracle[g] = rows
                self.expected[g] = check.digest(*rows)
        finally:
            con.close()

    def run_gate(self, name: str, tracer=None, parent=None) -> tuple[float, float] | None:
        """Build and materialize one gate; return (build_s, action_s), or
        None when it raised or its result is wrong."""
        self.attempted += 1
        sc = self.spark.sparkContext
        if tracer is not None:
            group = f"{name}#{next(self._groups)}"
            g = tracer.open(name, "gate", parent, group=group)
            sc.setJobGroup(group, name)
            b = tracer.open("build", "build", g)
        try:
            t0 = time.perf_counter()
            df = self.queries[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.close(b)
                a = tracer.open("action", "action", g)
            pdf = materialize(df)
            t2 = time.perf_counter()
            if tracer is not None:
                tracer.close(a)
                tracer.close(g)
        except Exception as e:  # a gate that raises counts as failed
            print(f"[perfbench] {name}: {type(e).__name__}: {e}", file=sys.stderr)
            self.failed += 1
            return None
        finally:
            if tracer is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._reset_session()
        return (t1 - t0, t2 - t1) if self._check(name, pdf) else None

    def _check(self, name: str, pdf) -> bool:
        rows = check.normalize_pandas(pdf)
        if check.digest(*rows) == self.expected[name]:
            return True
        self.failed += 1
        why = check.first_difference(rows, self.oracle[name])
        print(f"[perfbench] {name}: result differs from the oracle: {why}", file=sys.stderr)
        return False

    def _reset_session(self) -> None:
        now = dict(self.spark.conf.getAll)
        for k in now.keys() - self.base_conf.keys():
            self.spark.conf.unset(k)
        for k, v in self.base_conf.items():
            if now.get(k) != v:
                self.spark.conf.set(k, v)
        self.spark.catalog.clearCache()

    def run_pass(self, tracer=None, parent=None, probes=None) -> dict[str, tuple[float, float]] | None:
        """One run of every gate; with ``probes``, append a host probe
        after each gate run to it."""
        times = {}
        for g in self.gates:
            t = self.run_gate(g, tracer, parent)
            if t is None:
                return None
            times[g] = t
            if probes is not None:
                probes.extend(host.probe())
        return times


def pass_wall(times: dict) -> float:
    return sum(b + a for b, a in times.values())


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]


def timed_passes(runner: GateRunner, seconds: float) -> tuple[list[dict], list[float]]:
    """At least ``MIN_PASSES`` timed passes, then more while the next one
    fits in ``seconds``. Returns the passes and the host probes taken
    between gate runs."""
    passes: list[dict] = []
    probes: list[float] = []
    spent = 0.0
    while len(passes) < MIN_PASSES or spent + statistics.median(map(pass_wall, passes)) <= seconds:
        times = runner.run_pass(probes=probes)
        if times is None:
            break
        passes.append(times)
        spent += pass_wall(times)
    return passes, probes


def end_to_end(passes: list[dict], input_rows: int, scale: float) -> dict:
    """Batch end-to-end metrics from each gate's fastest run over the
    passes, times ``scale`` (see host.py), so a pass slowed by other load
    on the host moves nothing. A "trigger" here is one gate run, the unit
    a user submits."""
    per_gate = [scale * min(p[g][0] + p[g][1] for p in passes) for g in passes[0]]
    wall = sum(per_gate)
    return {
        "wall_s": (wall, "s"),
        "gate_geomean_s": (geomean(per_gate), "s"),
        "events_per_s": (input_rows / wall, "1/s"),
        "trigger_p50_ms": (1e3 * statistics.median(per_gate), "ms"),
        "trigger_p90_ms": (1e3 * percentile(per_gate, 0.9), "ms"),
    }


def traced_pass(runner: GateRunner, reader: layers.StatusReader, tracer: layers.Tracer) -> dict:
    """One traced pass; per-layer numbers from the status store."""
    p = tracer.open("pass", "pass")
    times = runner.run_pass(tracer, p)
    tracer.close(p)
    if times is None:
        return {}
    gates = tracer.children(p)
    totals: dict = {}
    for g in gates:
        group = tracer.spans[g].attrs["group"]
        c = reader.add_jobs(tracer, reader.job_ids(group=group), tracer.children(g), g)
        for k, v in c.items():
            totals[k] = totals.get(k, 0.0) + v
    span = tracer.spans[p]
    ops = reader.sql_operators(span.start, span.end)
    m = {
        "queries.build_s": (sum(b for b, _ in times.values()), "s"),
        "queries.action_s": (sum(a for _, a in times.values()), "s"),
        "spark.driver_gap_ms": (layers.driver_gap_ms(tracer, gates), "ms"),
        **layers.counters(totals, ops),
        "self.build_ms": (tracer.self_ms("build"), "ms"),
        "self.action_ms": (tracer.self_ms("action"), "ms"),
        "self.job_ms": (tracer.self_ms("job"), "ms"),
        "trace.wall_s": (pass_wall(times), "s"),
    }
    for g, (b, a) in times.items():
        m[f"gate.{g}_s"] = (b + a, "s")
    return m
