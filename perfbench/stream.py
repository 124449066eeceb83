"""The ``stream_stateful`` workload: the seed's ``events`` table (the
repository's NEXMark stand-in, see inputs.py) replayed as a stream and
drained through three stateful streaming queries, one micro-batch after
another.

The events are staged as parquet files, one per trigger
(``maxFilesPerTrigger=1``), in ``event_id`` order (which is event-time
order): file ``f`` holds the ``f``-th contiguous slice. A user's events
span files, so the window count, the CEP buffer and the user-state
ParDo all carry state across triggers, and since the files arrive in
slice order each user's events arrive in order, as
``match_recognize_stream`` requires in arrival-order mode (it raises on
an out-of-order key, and a query that raises stops the run with exit
code 1).

Each query runs with ``Trigger(availableNow=True)`` into a parquet file
sink with a checkpoint: a closed loop where the next micro-batch starts
only after the previous one committed. Per-trigger numbers come from
the query's own progress reports. Every timed drain runs the same
files, so the end-to-end metrics take each trigger's fastest run over
the drains, scaled to the reference host (see host.py).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import host

N_FILES = 3
WARMUP_FILES = 1
MIN_DRAINS = 3

# NEXMark Q5 shape on the events table: sliding windows per user, with
# the hour the repository's nexmark_q5_hot_items gate windows by
WINDOW_S, SLIDE_S, DELAY_S = 3600, 1800, 1800

SPARK_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
COLUMNS = ["event_id", "ts", "user_id", "event_type", "value"]

# a view, one to three clicks, then a purchase
SYMBOLS = {"V": "view", "C": "click", "P": "purchase"}
PATTERN = "V C{1,3} P"
QUERIES = ("window_count", "cep_stream", "pardo_record")


def generate(sf_dir: str) -> list[pd.DataFrame]:
    """The ``events`` table of ``sf_dir`` in ``event_id`` order, cut into
    ``N_FILES`` contiguous slices of (nearly) equal size: one frame per
    staged file, in delivery order."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=COLUMNS).to_pandas()
    events = events.sort_values("event_id", ignore_index=True)
    events["ts"] = events["ts"].dt.tz_localize("UTC")  # the fixture's ts is UTC wall time
    return [events.iloc[i].reset_index(drop=True) for i in np.array_split(np.arange(len(events)), N_FILES)]


def stage(files: list[pd.DataFrame], src_dir: str) -> None:
    """Write the frames as parquet files with ascending mtimes (the file
    source delivers oldest first)."""
    os.makedirs(src_dir)
    base = time.time() - 10 * len(files)
    for i, frame in enumerate(files):
        path = os.path.join(src_dir, f"events-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
        os.utime(path, (base + i, base + i))


# -- the three queries -------------------------------------------------------


def build_queries(spark, src_dir: str) -> dict:
    """name -> (streaming DataFrame, output mode)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from incubator_beam_spark.plans.cep import match_recognize_stream
    from incubator_beam_spark.streaming.userstate import stateful_pardo

    def events():
        return (
            spark.readStream.schema(SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    window_count = (
        events()
        .withWatermark("ts", f"{DELAY_S} seconds")
        .groupBy(F.window("ts", f"{WINDOW_S} seconds", f"{SLIDE_S} seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            F.unix_micros(F.col("window.end")).alias("window_end"),
            "user_id",
            "n",
        )
    )
    cep = match_recognize_stream(
        events(),
        partition_by="user_id",
        order_by="event_id",
        define={sym: F.col("event_type") == kind for sym, kind in SYMBOLS.items()},
        pattern=PATTERN,
        measures={
            "start_event": ("first", "V", "event_id"),
            "end_event": ("last", "P", "event_id"),
            "n_clicks": ("count", "C"),
        },
    )

    def process(key, pdf, ctx):
        best = ctx.read("max")
        out = []
        for e, v in zip(pdf["event_id"], pdf["value"]):
            if best is None or v > best:
                best = float(v)
                out.append((key, int(e), best))
        ctx.write("max", best)
        return out

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    pardo = stateful_pardo(
        events(), "user_id", schema, process, timer_domain="none", time_sorted_by="event_id"
    )
    return {
        "window_count": (window_count, "append"),
        "cep_stream": (cep, "append"),
        "pardo_record": (pardo, "append"),
    }


# -- batch references (pandas, independent of the engine) -------------------


def final_watermark_us(events: pd.DataFrame) -> int:
    """The watermark after the last event: the largest event time, in
    the whole milliseconds Spark tracks it in, less the delay."""
    return (int(_micros(events["ts"]).max()) // 1000 - DELAY_S * 1000) * 1000


def reference(name: str, events: pd.DataFrame) -> pd.DataFrame:
    if name == "window_count":
        return _ref_window_count(events, final_watermark_us(events))
    if name == "cep_stream":
        return _ref_cep(events)
    return _ref_pardo(events)


def _ref_window_count(events: pd.DataFrame, watermark_us: int) -> pd.DataFrame:
    """Sliding windows per user; append mode emits a window once the
    watermark reaches its end."""
    t = _micros(events["ts"])
    size, slide = WINDOW_S * 1_000_000, SLIDE_S * 1_000_000
    last = (t // slide) * slide
    parts = []
    for k in range(size // slide):
        start = last - k * slide
        parts.append(pd.DataFrame({"start": start, "user_id": events["user_id"]}))
    w = pd.concat(parts, ignore_index=True)
    w = w.groupby(["start", "user_id"], as_index=False).size()
    w["end"] = w["start"] + size
    w = w[w["end"] <= watermark_us]
    return pd.DataFrame(
        {
            "window_start": w["start"].astype("int64"),
            "window_end": w["end"].astype("int64"),
            "user_id": w["user_id"].astype("int64"),
            "n": w["size"].astype("int64"),
        }
    )


def _micros(ts: pd.Series) -> pd.Series:
    return (ts - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(microseconds=1)


_PAT = re.compile(PATTERN.replace(" ", ""))
_LETTER = {kind: sym for sym, kind in SYMBOLS.items()}


def _ref_cep(events: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for user, g in events.sort_values("event_id").groupby("user_id", sort=False):
        s = "".join(_LETTER.get(k, "-") for k in g["event_type"])
        ids = g["event_id"].to_numpy()
        for m in _PAT.finditer(s):
            rows.append((user, int(ids[m.start()]), int(ids[m.end() - 1]), m.end() - m.start() - 2))
    return pd.DataFrame(rows, columns=["user_id", "start_event", "end_event", "n_clicks"])


def _ref_pardo(events: pd.DataFrame) -> pd.DataFrame:
    e = events.sort_values("event_id")
    prev = e.groupby("user_id")["value"].cummax().groupby(e["user_id"]).shift(1)
    rec = e[prev.isna() | (e["value"] > prev)]
    return rec[["user_id", "event_id", "value"]].reset_index(drop=True)


# -- running a drain ---------------------------------------------------------

PHASES = {
    "stream.add_batch_ms_p50": "addBatch",
    "stream.query_planning_ms_p50": "queryPlanning",
    "stream.wal_commit_ms_p50": "walCommit",
    "stream.commit_offsets_ms_p50": "commitOffsets",
}


def drain(spark, files: list[pd.DataFrame], work: str, listener=None, probes=None) -> dict:
    """Stage ``files`` under ``work`` and run the three queries to the end
    of the input, one after another; with ``probes``, append a host probe
    after each query to it. Returns per query its progress reports, its
    wall seconds (start of the first trigger to end of the last) and its
    sink directory."""
    src = os.path.join(work, "src")
    stage(files, src)
    out = {}
    for name, (df, mode) in build_queries(spark, src).items():
        sink = os.path.join(work, f"out-{name}")
        seen = len(listener.progress) if listener is not None else 0
        q = (
            df.writeStream.outputMode(mode)
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(work, f"ck-{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{name}: {q.exception()}")
        progress = [_as_dict(p) for p in q.recentProgress]
        if listener is not None:
            _await_listener(listener, seen + len(progress))
            progress = listener.progress[seen:]
        wall = trigger_span(progress[-1])[1] - trigger_span(progress[0])[0]
        out[name] = {"wall": wall, "progress": progress, "sink": sink}
        if probes is not None:
            probes.extend(host.probe())
    return out


def trigger_span(progress: dict) -> tuple[float, float]:
    """Start and end of a trigger, in epoch seconds."""
    start = pd.Timestamp(progress["timestamp"]).value / 1e9
    return start, start + progress["durationMs"]["triggerExecution"] / 1e3


def _as_dict(progress) -> dict:
    return progress if isinstance(progress, dict) else json.loads(progress.json)


def _await_listener(listener, n: int, timeout: float = 30.0) -> None:
    """Wait until the listener holds ``n`` reports (they arrive asynchronously)."""
    deadline = time.monotonic() + timeout
    while len(listener.progress) < n and time.monotonic() < deadline:
        time.sleep(0.05)


def check_drain(result: dict, files: list[pd.DataFrame]) -> list[str]:
    """Each sink must equal its batch reference as a multiset, and the
    windowed count's last watermark must be the one the events imply;
    return what is wrong. A reference without rows checks nothing, so it
    counts as wrong too."""
    events = pd.concat(files, ignore_index=True)
    wrong = []
    for name, r in result.items():
        ref = reference(name, events)
        if ref.empty:
            wrong.append(f"{name}: the reference has no rows")
            continue
        if name == "window_count":
            wm = last_watermark_us(r["progress"])
            if wm != final_watermark_us(events):
                wrong.append(f"{name}: watermark {wm}, expected {final_watermark_us(events)} (us)")
        got = pq.read_table(r["sink"]).to_pandas() if os.listdir(r["sink"]) else ref.iloc[0:0]
        cols = sorted(ref.columns)
        x = got[cols].astype(ref.dtypes[cols].to_dict()).sort_values(cols).reset_index(drop=True)
        y = ref[cols].sort_values(cols).reset_index(drop=True)
        if not x.equals(y):
            wrong.append(f"{name}: sink has {len(x)} rows, reference {len(y)}")
    return wrong


def last_watermark_us(progress: list[dict]) -> int | None:
    """The watermark of the query's last progress report that has one."""
    for p in reversed(progress):
        wm = p.get("eventTime", {}).get("watermark")
        if wm is not None:
            return pd.Timestamp(wm).value // 1000
    return None


def drain_wall(result: dict) -> float:
    return sum(r["wall"] for r in result.values())


def triggers(result: dict) -> list[dict]:
    return [p for r in result.values() for p in r["progress"]]


def intervals(progress: list[dict]) -> list[float]:
    """Seconds from the start of each trigger to the start of the next
    (to its end, for the last one); they add up to the query's wall."""
    spans = [trigger_span(p) for p in progress]
    return [b[0] - a[0] for a, b in zip(spans, spans[1:])] + [spans[-1][1] - spans[-1][0]]


def fastest(drains: list[dict], name: str, per_trigger) -> list[float]:
    """For each trigger of query ``name``, its fastest value over the
    drains. Every drain runs the same files, so the n-th trigger does the
    same work in each; a trigger slowed by other load on the host in one
    drain is replaced by the same trigger of another."""
    return [min(col) for col in zip(*(per_trigger(d[name]["progress"]) for d in drains), strict=True)]


def end_to_end(drains: list[dict], scale: float) -> dict:
    """Stream end-to-end metrics from each trigger's fastest run over the
    drains, times ``scale`` (see host.py)."""
    from batch import geomean, percentile

    per_query = [scale * sum(fastest(drains, q, intervals)) for q in QUERIES]
    durations = [
        scale * ms for q in QUERIES
        for ms in fastest(drains, q, lambda ps: [p["durationMs"]["triggerExecution"] for p in ps])
    ]
    wall = sum(per_query)
    events = sum(p["numInputRows"] for p in triggers(drains[0]))
    return {
        "wall_s": (wall, "s"),
        "gate_geomean_s": (geomean(per_query), "s"),
        "events_per_s": (events / wall, "1/s"),
        "trigger_p50_ms": (statistics.median(durations), "ms"),
        "trigger_p90_ms": (percentile(durations, 0.9), "ms"),
    }


def per_layer(result: dict) -> dict:
    progs = triggers(result)
    m = {}
    for metric, phase in PHASES.items():
        m[metric] = (statistics.median(p["durationMs"].get(phase, 0) for p in progs), "ms")
    ops = [p.get("stateOperators", []) for p in progs]
    m["stream.state_rows_peak"] = (max(sum(o["numRowsTotal"] for o in s) for s in ops), "count")
    m["stream.state_bytes_peak"] = (max(sum(o["memoryUsedBytes"] for o in s) for s in ops), "bytes")
    m["stream.state_commit_ms_p50"] = (
        statistics.median(sum(o.get("commitTimeMs", 0) for o in s) for s in ops), "ms")
    for name, r in result.items():
        n = sum(p["numInputRows"] for p in r["progress"])
        m[f"stream.{name}.events_per_s"] = (n / r["wall"], "1/s")
    return m


def traced(result: dict, lo: float, hi: float, reader, tracer) -> dict:
    """Spans drain -> query -> trigger -> job -> stage for one drain run
    with a progress listener; per-layer numbers from the progress
    reports and the status store."""
    import layers

    d = tracer.add("drain", "drain", lo, hi, None)
    trigger_spans, query_spans = [], []
    for name, r in result.items():
        spans = [(*trigger_span(p), p) for p in r["progress"]]
        q = tracer.add(name, "query", min(s[0] for s in spans), max(s[1] for s in spans), d)
        query_spans.append(q)
        for start, end, p in spans:
            trigger_spans.append(
                tracer.add(f"batch {p['batchId']}", "trigger", start, end, q, durationMs=p["durationMs"])
            )
    jobs = reader.add_jobs(tracer, reader.job_ids(lo=lo, hi=hi), trigger_spans, d)
    return {
        **layers.counters(jobs, reader.sql_operators(lo, hi)),
        **per_layer(result),
        "spark.driver_gap_ms": (layers.driver_gap_ms(tracer, query_spans), "ms"),
        "self.trigger_ms": (tracer.self_ms("trigger"), "ms"),
        "self.job_ms": (tracer.self_ms("job"), "ms"),
        "trace.wall_s": (drain_wall(result), "s"),
    }
