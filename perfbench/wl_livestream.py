"""livestream: the broker's main path on small micro-batches, open loop.

Set-up pre-writes seeded alert files into a staging directory. At run time a
generator thread renames each file into the watched directory at its due
time, whether or not the engine keeps up, and records how late it ran.

    stream_alerts -> StreamPipeline (default trigger)
      .enrich(extract_fink_classification)
      .filter(OR of TOPICS)
      .enrich_each_batch(left crossmatch against the catalog)
      .sink(NotificationSink(recording transport))

Phase 1 (nominal) offers one small file every NOMINAL_INTERVAL_S for about
``--seconds``: the alert latency (send time minus the file's due time)
comes from here. Phase 2 (saturation) offers SATURATION_BURSTS bursts of
large files, each faster than the engine drains it: a burst's capacity is
its alerts over the time from its first due file to the drained stream, and
the run reports the median burst.
"""

from __future__ import annotations

import bisect
import collections
import glob
import json
import os
import threading
import time

import numpy as np

import pyarrow.parquet as pq

import gen
from run import median, percentile

TOPICS = ("ztf.sn_candidates", "ztf.early_sn_candidates", "ztf.kn_candidates")
CAT_ROWS = 5_000
# per-batch time falls from about 5.5 s to about 1.2 s over the first ten
# batches on a 4-core host as the JIT compiler catches up; a measurement
# inside that descent does not repeat
WARMUP_FILES = 10
# files come faster than the shortest micro-batch (about 0.45 s on an idle
# 4-core host, over 1 s on a busy one), so every nominal batch takes several
# files; at one file per 0.5 s the latency jumped between one file per
# batch and two as the host's speed changed
NOMINAL_ALERTS = 200
NOMINAL_INTERVAL_S = 0.25
SATURATION_BURSTS = 3
SATURATION_FILES = 6  # per burst
SATURATION_ALERTS = 3_000
SATURATION_INTERVAL_S = 0.05


class RecordingTransport:
    """Transport that keeps (send time, payload) for every notification."""

    def __init__(self):
        self.sent: list[tuple[float, dict]] = []
        self.attempts = 0

    def send(self, payload: dict) -> None:
        self.attempts += 1
        self.sent.append((time.time(), payload))


class Generator(threading.Thread):
    """Renames staged files into the watched directory on a fixed schedule."""

    def __init__(self, files: list[str], watch: str, start_at: float, interval: float):
        super().__init__(daemon=True)
        self.files, self.watch = files, watch
        self.due = [start_at + i * interval for i in range(len(files))]
        self.moved_at: list[float] = []

    def run(self) -> None:
        for path, due in zip(self.files, self.due):
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(path, os.path.join(self.watch, os.path.basename(path)))
            self.moved_at.append(time.time())

    @property
    def late_ms(self) -> list[float]:
        return [(m - d) * 1000.0 for m, d in zip(self.moved_at, self.due)]


def setup(ctx):
    from fink_filters_spark.filters import get_filter
    from fink_filters_spark.filters.classification import extract_fink_classification
    from fink_filters_spark.operators.crossmatch import crossmatch
    from fink_filters_spark.sinks import NotificationSink
    from fink_filters_spark.sources import stream_alerts
    from fink_filters_spark.streaming import StreamPipeline

    spark, tracer = ctx.spark, ctx.tracer
    stage, watch = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "watch")
    os.makedirs(stage)
    os.makedirs(watch)
    cat = gen.catalog(ctx.seed, CAT_ROWS)
    pq.write_table(cat, os.path.join(ctx.work, "catalog.parquet"))

    n_nominal = max(4, int(ctx.seconds / NOMINAL_INTERVAL_S))
    plan = ([("w", NOMINAL_ALERTS)] * WARMUP_FILES + [("n", NOMINAL_ALERTS)] * n_nominal
            + [("s", SATURATION_ALERTS)] * (SATURATION_BURSTS * SATURATION_FILES))
    files = {"w": [], "n": [], "s": []}
    bases, first = [], 0
    for i, (phase, n) in enumerate(plan):
        path = os.path.join(stage, f"{i:05d}-{phase}.parquet")
        pq.write_table(gen.ztf_alerts(ctx.seed, first, n, cat), path)
        files[phase].append(path)
        bases.append(first)
        first += n
    ctx.sizes = {"catalog_rows": CAT_ROWS, "alerts": first, "files": len(plan),
                 "nominal_files": n_nominal, "nominal_alerts_per_file": NOMINAL_ALERTS,
                 "saturation_alerts": SATURATION_BURSTS * SATURATION_FILES * SATURATION_ALERTS}

    catalog = spark.read.parquet(os.path.join(ctx.work, "catalog.parquet")).cache()
    catalog.count()
    transport = RecordingTransport()
    sink = NotificationSink(
        transport,
        formatter=lambda r: {k: r.get(k) for k in ("candid", "objectId", "ra", "dec", "cat_id")},
        key_cols=("candid",),
        max_rows_per_batch=first + 1,
    )

    def xmatch(batch):
        with tracer.span("operators.crossmatch.call"):
            return crossmatch(batch, catalog, "candid", gen.XMATCH_RADIUS_DEG,
                              how="left", tiebreak="cat_id")

    def notify(batch, batch_id):
        with tracer.span("sinks.notify_batch"):
            sink(batch, batch_id)

    tap = None
    if ctx.trace:
        from tracing import progress_tap

        tap = progress_tap()
        spark.streams.addListener(tap)
    schema = spark.read.parquet(files["w"][0]).schema
    pipe = StreamPipeline(stream_alerts(spark, watch, schema)).enrich(extract_fink_classification)
    selected = None
    for t in TOPICS:
        cond = get_filter(t).builder(pipe.df)
        selected = cond if selected is None else selected | cond
    pipe = pipe.filter(selected).enrich_each_batch(xmatch).sink(notify)
    query = pipe.start(checkpoint=os.path.join(ctx.work, "checkpoint"))

    # warm-up: single-file batches, so plans compile before timing
    for path in files["w"]:
        os.rename(path, os.path.join(watch, os.path.basename(path)))
        query.processAllAvailable()
    return {"query": query, "files": files, "bases": bases, "plan": plan, "watch": watch,
            "transport": transport, "tap": tap, "cat": cat,
            "source_log": os.path.join(ctx.work, "checkpoint", "sources", "0")}


def _offer(state, files: list[str], interval: float) -> tuple[Generator, float]:
    """Offer ``files`` on schedule, then wait until the stream has drained."""
    g = Generator(files, state["watch"], time.time() + 0.2, interval)
    g.start()
    g.join()
    state["query"].processAllAvailable()
    return g, time.time()


def measure(ctx, state):
    t_nominal = time.time()
    g_nom, _ = _offer(state, state["files"]["n"], NOMINAL_INTERVAL_S)
    t_sat = time.time()
    capacities, late, done = [], list(g_nom.late_ms), t_sat
    sat = state["files"]["s"]
    for b in range(SATURATION_BURSTS):
        g, done = _offer(state, sat[b * SATURATION_FILES:(b + 1) * SATURATION_FILES],
                         SATURATION_INTERVAL_S)
        capacities.append(SATURATION_FILES * SATURATION_ALERTS / (done - g.due[0]))
        late += g.late_ms
    state.update(late_ms=late, window=(t_nominal, t_sat, done))

    # plan position of each nominal file -> its due time
    due_by_file = {WARMUP_FILES + i: d for i, d in enumerate(g_nom.due)}
    lat = []
    for ts, p in state["transport"].sent:
        f = bisect.bisect_right(state["bases"], p["candid"]) - 1
        if f in due_by_file:
            lat.append((ts - due_by_file[f]) * 1000.0)
    capacity = median(capacities)
    half = len(lat) // 2
    state["drift_ms"] = median(lat[half:]) - median(lat[:half]) if half else 0.0
    e2e = {
        "latency_p50_ms": median(lat),
        "latency_p90_ms": percentile(lat, 90),
        "throughput_per_s": capacity,
    }
    aliases = {
        "alert_latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
        "alert_latency_p90_ms": (e2e["latency_p90_ms"], "ms"),
        "capacity_alerts_per_s": (capacity, "alerts/s"),
        "nominal_rate_alerts_per_s": (NOMINAL_ALERTS / NOMINAL_INTERVAL_S, "alerts/s"),
        "latency_samples": (len(lat), "alerts"),
        "nominal_batches_offered": (len(g_nom.due), "files"),
    }
    return e2e, aliases


def _nearest_within(ra, dec, cat, radius_deg):
    """Brute-force nearest catalog id within the radius (smallest separation,
    then smallest id), or None — NumPy haversine over the whole catalog."""
    cra = np.radians(cat.column("cat_ra").to_numpy())
    cdec = np.radians(cat.column("cat_dec").to_numpy())
    ids = cat.column("cat_id").to_numpy()
    out = []
    for r, d in zip(np.radians(ra), np.radians(dec)):
        h = np.sin((cdec - d) / 2) ** 2 + np.cos(d) * np.cos(cdec) * np.sin((cra - r) / 2) ** 2
        sep = np.degrees(2 * np.arcsin(np.sqrt(np.minimum(h, 1.0))))
        ok = np.flatnonzero(sep < radius_deg)
        if len(ok) == 0:
            out.append(None)
        else:
            best = ok[np.lexsort((ids[ok], sep[ok]))[0]]
            out.append(int(ids[best]))
    return out


def check(ctx, state):
    """Every alert offered: notified exactly once iff some topic selects it,
    and each notification carries the brute-force nearest catalog match."""
    from fink_filters_spark.filters import apply_named_filter
    from fink_filters_spark.filters.classification import extract_fink_classification

    spark = ctx.spark
    alerts = extract_fink_classification(spark.read.parquet(state["watch"]))
    expected = set()
    for t in TOPICS:
        expected |= {r.candid for r in apply_named_filter(alerts, t).select("candid").collect()}
    sent = [p for _, p in state["transport"].sent]
    counts = collections.Counter(p["candid"] for p in sent)
    wrong = {c for c, k in counts.items() if k != 1} | (set(counts) ^ expected)
    ra = np.array([p["ra"] for p in sent])
    dec = np.array([p["dec"] for p in sent])
    truth = _nearest_within(ra, dec, state["cat"], gen.XMATCH_RADIUS_DEG)
    bad_xm = {p["candid"] for p, t in zip(sent, truth) if p["cat_id"] != t}
    wrong |= bad_xm
    state["missing"] = len(expected - set(counts))
    attempted = sum(n for _, n in state["plan"])
    notes = [
        f"notified {len(sent)} of {attempted} alerts; topic oracle selects {len(expected)}; "
        f"{len(wrong)} wrong ({len(bad_xm)} with a wrong crossmatch)",
        f"nominal-phase latency drift (second half minus first half median): "
        f"{state['drift_ms']:.1f} ms",
    ]
    return attempted, len(wrong), notes


def layers(ctx, state, groups, covered):
    tracer = ctx.tracer
    sent = [p for _, p in state["transport"].sent]
    t_nom, t_sat, done = state["window"]
    tap = state["tap"]
    nominal = [p for p in tap.progress
               if p["numInputRows"] > 0 and t_nom <= _epoch(p["timestamp"]) < t_sat]
    measured = [p for p in tap.progress
                if p["numInputRows"] > 0 and t_nom <= _epoch(p["timestamp"]) <= done]

    def dur(key, batches=nominal):
        return median([p["durationMs"].get(key, 0) for p in batches])

    files = _nominal_files_per_batch(state["source_log"])
    late = state["late_ms"]
    xm = [s.seconds for s in tracer.named("operators.crossmatch.call") if s.start >= t_nom]
    nb = [s.seconds * 1000 for s in tracer.named("sinks.notify_batch") if s.start >= t_nom]
    tr = state["transport"]
    return {
        "sources.latest_offset_ms_p50": dur("latestOffset"),
        "sources.get_batch_ms_p50": dur("getBatch"),
        "sources.rows_per_batch_p50": median(files) * NOMINAL_ALERTS,
        "sources.backlog_files_max": max(files, default=0),
        "sources.generator_late_ms_max": max(late),
        "streaming.batches": len(measured),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.overhead_ms_p50": median([p["durationMs"].get("triggerExecution", 0)
                                             - p["durationMs"].get("addBatch", 0) for p in nominal]),
        "filters.selected": len(sent),
        "operators.crossmatch.call_s": median(xm),
        "operators.crossmatch.matched_frac": sum(p["cat_id"] is not None for p in sent) / max(len(sent), 1),
        "sinks.notify_batch_ms_p50": median(nb),
        "sinks.sent": len(sent),
        "sinks.retries": tr.attempts - len(tr.sent),
        "sinks.failed": state["missing"],
    }


def _nominal_files_per_batch(log_dir: str) -> list[int]:
    """Nominal files each micro-batch read, from the file source's metadata
    log in the checkpoint. The progress's ``numInputRows`` is no substitute:
    it reads twice the alerts offered on every batch of this pipeline."""
    batch_of = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    batch_of[entry["path"]] = entry["batchId"]
    per_batch = collections.Counter(b for p, b in batch_of.items() if p.endswith("-n.parquet"))
    return list(per_batch.values())


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
