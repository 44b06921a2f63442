"""nightly: the post-night programs over one night of alerts in one batch,
the first part of ``batch``.

Set-up writes the catalog and one night of N_ALERTS alerts in parquet. The
part is one pass, as a post-night job runs it right after its session
starts: the pass pays plan compilation, code generation and Python worker
start-up. A warm measurement does not fit a run: the pass settles only
after about three passes (25, 12, 7, then 6 s at 5k alerts on a 4-core
host). A pass runs, in order:

1. ``nightly_report`` over every registered ZTF topic the input supports;
2. a left ``crossmatch`` against the catalog, collected;
3. ``anomaly_notification`` top-k, then ``notify`` through a
   ``NotificationSink``;
4. ``rainbow_mc_score_per_key`` over the light curves of the alerts that
   pass ``_pre_cut``, with an explicitly passed demo ``XGBEnsemble``;
5. ``nightly_state_update`` followed by ``streaming.read_state``.
"""

from __future__ import annotations

import concurrent.futures
import os
import time

import numpy as np
import pandas as pd

import pyarrow.parquet as pq

import gen
from run import median
from wl_livestream import RecordingTransport, _nearest_within

N_ALERTS = 10_000
STEPS = ("report", "crossmatch", "anomaly", "fit", "state")
CAT_ROWS = 20_000
TOPK = 10
XMATCH_SAMPLE = 300
NIGHT = "2460000"
STATE_KEYS = ["objectId"]

# a two-tree binary:logistic ensemble over (amplitude, rise_time): the model
# is passed to the fit explicitly, so the program is the same on every host
DEMO_MODEL = {
    "learner": {
        "gradient_booster": {"model": {"trees": [
            {"split_indices": [0, 0, 1, 0, 0],
             "split_conditions": [2500.0, -0.7, 3.0, -0.2, 0.8],
             "left_children": [1, -1, 3, -1, -1],
             "right_children": [2, -1, 4, -1, -1],
             "default_left": [True, False, True, False, False]},
            {"split_indices": [1, 0, 0],
             "split_conditions": [4.0, -0.3, 0.2],
             "left_children": [1, -1, -1],
             "right_children": [2, -1, -1],
             "default_left": [False, False, False]},
        ]}},
        "learner_model_param": {"base_score": "0.5"},
        "objective": {"name": "binary:logistic"},
    }
}


def _pre_cut():
    from pyspark.sql import functions as F

    return (F.col("drb") > 0.5) & (F.col("ndethist") >= 10) & (F.size("cjd") >= 8)


def _measures():
    from pyspark.sql import functions as F

    return {"magpsf": F.col("magpsf"), "drb": F.col("drb")}


def _topics(df) -> list[str]:
    """Every registered ZTF topic whose columns this input has. Each topic
    is analysed against an empty relation of the input's schema, which
    resolves the same columns without re-analysing the input's plan."""
    from pyspark.errors import AnalysisException

    from fink_filters_spark.filters import filter_catalog, get_filter

    df = df.sparkSession.createDataFrame([], df.schema)
    out = []
    for info in filter_catalog():
        if info.survey != "ztf":
            continue
        try:
            df.select(get_filter(info.name).builder(df)).schema
        except AnalysisException:  # the topic reads a column the input lacks
            continue
        out.append(info.name)
    return out


def _night(ctx, path):
    from fink_filters_spark.filters.classification import extract_fink_classification

    return extract_fink_classification(ctx.spark.read.parquet(path))


def one_pass(ctx, state) -> dict:
    """The five steps; returns their results and each step's wall."""
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.crossmatch import crossmatch
    from fink_filters_spark.operators.fit import rainbow_mc_score_per_key
    from fink_filters_spark.operators.xgb_ubj import XGBEnsemble
    from fink_filters_spark.programs.anomaly import anomaly_notification, notify
    from fink_filters_spark.programs.nightly import nightly_report, nightly_state_update
    from fink_filters_spark.sinks import NotificationSink
    from fink_filters_spark.streaming import read_state

    spark, tracer = ctx.spark, ctx.tracer
    out, walls = {}, {}
    t_pass = time.perf_counter()
    df = _night(ctx, state["night_path"])
    catalog = spark.read.parquet(state["catalog_path"])

    t = time.perf_counter()
    with tracer.span("filters.nightly_report", trace_id="pass"):
        out["report"] = nightly_report(df, state["topics"])
    walls["report"] = time.perf_counter() - t

    t = time.perf_counter()
    with tracer.span("operators.crossmatch.call"):
        xm = crossmatch(df.select("candid", "ra", "dec"), catalog, "candid",
                        gen.XMATCH_RADIUS_DEG, how="left", tiebreak="cat_id")
        matches = {r.candid: r.cat_id for r in xm.select("candid", "cat_id").collect()}
    out["xmatch"] = matches
    walls["crossmatch"] = time.perf_counter() - t

    t = time.perf_counter()
    transport = RecordingTransport()
    sink = NotificationSink(transport, key_cols=("candid",),
                            formatter=lambda r: {"candid": r["candid"], "objectId": r["objectId"],
                                                 "anomaly_score": r["anomaly_score"]})
    with tracer.span("programs.anomaly.notification"):
        with tracer.span("operators.topk.anomaly"):
            sel = anomaly_notification(df, threshold=TOPK)
        with tracer.span("sinks.notify_batch"):
            notify(sel, sink)
    out["topk"] = [p["candid"] for _, p in transport.sent]
    out["transport"] = transport
    walls["anomaly"] = time.perf_counter() - t

    t = time.perf_counter()
    lc = (df.filter(_pre_cut())
          .select("candid", F.explode(F.arrays_zip("cjd", "cflux")).alias("p"))
          .select("candid", F.col("p.cjd").alias("t"), F.col("p.cflux").alias("flux")))
    model = XGBEnsemble.from_model_dict(DEMO_MODEL)
    with tracer.span("operators.fit.call"):
        fit = rainbow_mc_score_per_key(lc, model, key="candid", t_col="t", y_col="flux",
                                       nsamples=32, max_r_chisq=float("inf"),
                                       min_snr_rise_time=0.0).collect()
    out["fit"] = fit
    walls["fit"] = time.perf_counter() - t

    t = time.perf_counter()
    with tracer.span("sinks.state_update"):
        nightly_state_update(df, NIGHT, state["state_path"], STATE_KEYS, _measures)
    with tracer.span("programs.nightly.read_state"):
        out["state_rows"] = read_state(spark, state["state_path"], STATE_KEYS).count()
    walls["state"] = time.perf_counter() - t
    walls["pass"] = time.perf_counter() - t_pass
    return {"out": out, "walls": walls}


def setup(ctx):
    cat = gen.catalog(ctx.seed, CAT_ROWS)
    night = gen.ztf_alerts(ctx.seed, 0, N_ALERTS, cat)
    paths = {k: os.path.join(ctx.work, f"{k}.parquet") for k in ("catalog", "night")}
    pq.write_table(cat, paths["catalog"])
    pq.write_table(night, paths["night"])
    ctx.sizes = {"alerts": N_ALERTS, "catalog_rows": CAT_ROWS}
    state = {"catalog_path": paths["catalog"], "night_path": paths["night"], "cat": cat,
             "night": night, "state_path": os.path.join(ctx.work, "state")}
    state["topics"] = _topics(_night(ctx, paths["night"]))
    ctx.sizes["topics"] = len(state["topics"])
    return state


def run(ctx, state) -> dict[str, float]:
    """One pass; returns each step's wall."""
    state["pass"] = one_pass(ctx, state)
    return {s: state["pass"]["walls"][s] for s in STEPS}


def check(ctx, state):
    """Checks the pass's results: topic counts, the crossmatch on a sample
    against a brute force, the top-k, fit coverage and the merged state."""
    from fink_filters_spark.filters import apply_named_filter

    out = state["pass"]["out"]
    df = _night(ctx, state["night_path"])
    failed, notes = 0, []

    # 1. one count per topic, timed one by one in the traced run
    def count(t):
        t0 = time.perf_counter()
        with ctx.tracer.span(f"filters.topic:{t}"):
            n = apply_named_filter(df, t).count()
        return t, n, time.perf_counter() - t0

    if ctx.trace:
        isolated = [count(t) for t in state["topics"]]
        t0 = time.perf_counter()
        with ctx.tracer.span("filters.scan_only"):
            df.count()
        state["scan_s"] = time.perf_counter() - t0
    else:
        with concurrent.futures.ThreadPoolExecutor(8) as pool:
            isolated = list(pool.map(count, state["topics"]))
    state["isolated"] = isolated
    bad_topics = {t for t, n, _ in isolated if out["report"][t] != n}
    failed += len(bad_topics)
    notes.append(f"{len(isolated) - len(bad_topics)}/{len(isolated)} topic counts equal "
                 f"apply_named_filter(...).count(){' ; wrong: ' + ','.join(sorted(bad_topics)) if bad_topics else ''}")

    # 2. crossmatch against a NumPy brute force on a seeded sample
    night = state["night"]
    rng = np.random.default_rng([ctx.seed, 4])
    idx = np.sort(rng.choice(night.num_rows, XMATCH_SAMPLE, replace=False))
    sample = night.select(["candid", "ra", "dec"]).take(idx).to_pandas()
    truth = _nearest_within(sample.ra.to_numpy(), sample.dec.to_numpy(), state["cat"], gen.XMATCH_RADIUS_DEG)
    got = out["xmatch"]
    bad_xm = sum(got.get(int(c), -1) != t for c, t in zip(sample.candid, truth))
    failed += bad_xm + int(len(got) != night.num_rows)
    matched = sum(v is not None for v in got.values())
    notes.append(f"crossmatch: {matched}/{len(got)} of {night.num_rows} alerts matched; "
                 f"{XMATCH_SAMPLE - bad_xm}/{XMATCH_SAMPLE} sampled alerts equal the brute force")

    # 3. top-k against the reference procedure on the collected score columns
    pdf = df.select("candid", "objectId", "anomaly_score").toPandas()
    pdf = pdf[pdf.anomaly_score.notna()]
    med = df.filter("not isnull(anomaly_score)").approxQuantile("anomaly_score", [0.5], 0.05)[0]
    ref = (pdf[pdf.anomaly_score <= med].sort_values(["anomaly_score", "candid"])
           .drop_duplicates("objectId").head(TOPK))
    bad_topk = int(list(ref.candid) != out["topk"])
    state["undelivered"] = len(set(ref.candid) - set(out["topk"]))
    failed += bad_topk
    notes.append(f"anomaly top-{TOPK}: {'differs from' if bad_topk else 'equals'} the pandas "
                 "sort -> dedup -> cut")

    # 4. one fit row per pre-cut alert; 5. one state row per object
    expected_fit = df.filter(_pre_cut()).count()
    objects = pd.Series(night.column("objectId").to_numpy()).nunique()
    bad_fit = int(len(out["fit"]) != expected_fit)
    bad_state = int(out["state_rows"] != objects)
    failed += bad_fit + bad_state
    valid = sum(1 for r in out["fit"] if r["valid"])
    state["fit_stats"] = (len(out["fit"]), valid)
    notes.append(f"fit: {len(out['fit'])} rows for {expected_fit} pre-cut alerts, {valid} valid; "
                 f"state: {out['state_rows']} rows for {objects} objects")
    attempted = len(isolated) + 5 + XMATCH_SAMPLE
    return attempted, failed, notes


def layers(ctx, state, groups, covered):
    tr = ctx.tracer
    span_s = lambda name: median([s.seconds for s in tr.named(name)])  # noqa: E731
    isolated = state["isolated"]
    n_fit, valid = state["fit_stats"]
    out = state["pass"]["out"]
    matched = sum(v is not None for v in out["xmatch"].values())
    report = out["report"]
    return {
        "filters.nightly_report_s": span_s("filters.nightly_report"),
        "filters.topics_isolated_s": sum(s for _, _, s in isolated),
        "filters.slowest_topic_s": max(s for _, _, s in isolated),
        "filters.scan_only_s": state["scan_s"],
        "filters.selected": sum(report.values()),
        "operators.crossmatch.call_s": span_s("operators.crossmatch.call"),
        "operators.crossmatch.matched_frac": matched / len(out["xmatch"]),
        "operators.topk.anomaly_s": span_s("operators.topk.anomaly"),
        "operators.fit.call_s": span_s("operators.fit.call"),
        "operators.fit.objects": n_fit,
        "operators.fit.valid_frac": valid / max(n_fit, 1),
        "sinks.notify_batch_ms_p50": span_s("sinks.notify_batch") * 1000.0,
        "sinks.sent": len(out["topk"]),
        "sinks.retries": out["transport"].attempts - len(out["transport"].sent),
        "sinks.failed": state["undelivered"],
        "sinks.state_update_s": span_s("sinks.state_update"),
        "programs.nightly.read_state_s": span_s("programs.nightly.read_state"),
        "programs.anomaly.notification_s": span_s("programs.anomaly.notification"),
    }
