"""batch: the post-night programs, then the curation mix, in one session.

A closed loop with one client runs nine operations in a fixed order: the
five steps of one night's post-night programs (``wl_nightly``), then the
four declared curation queries (``wl_curation``). Both parts are one pass
each. The latency metrics are over the nine operations' walls; the
throughput is operations per second over the whole sequence. The parts'
own totals print as ``nightly_s`` and ``curation_s``.

The two parts share one run because each run pays about 20 s of session
start and JVM warm-up on a 4-core host, and the benchmark's time budget
does not cover three workloads of that.
"""

from __future__ import annotations

import wl_curation
import wl_nightly
from run import median, percentile


def setup(ctx):
    nightly = wl_nightly.setup(ctx)
    sizes = ctx.sizes
    curation = wl_curation.setup(ctx)
    ctx.sizes = {**{f"nightly_{k}": v for k, v in sizes.items()},
                 **{f"curation_{k}": v for k, v in ctx.sizes.items()}}
    return {"nightly": nightly, "curation": curation}


def measure(ctx, state):
    steps = wl_nightly.run(ctx, state["nightly"])
    queries = wl_curation.run(ctx, state["curation"])
    walls = [*steps.values(), *queries.values()]
    e2e = {
        "latency_p50_ms": median(walls) * 1000.0,
        "latency_p90_ms": percentile(walls, 90) * 1000.0,
        "throughput_per_s": len(walls) / sum(walls),
    }
    nightly_s = state["nightly"]["pass"]["walls"]["pass"]
    aliases = {
        "nightly_s": (nightly_s, "s"),
        "nightly_alerts_per_s": (wl_nightly.N_ALERTS / nightly_s, "alerts/s"),
        "curation_s": (sum(queries.values()), "s"),
        **{f"step_{k}_s": (v, "s") for k, v in steps.items()},
        **{f"{k}_s": (v, "s") for k, v in queries.items()},
    }
    return e2e, aliases


def check(ctx, state):
    a1, f1, n1 = wl_nightly.check(ctx, state["nightly"])
    a2, f2, n2 = wl_curation.check(ctx, state["curation"])
    return a1 + a2, f1 + f2, n1 + n2


def layers(ctx, state, groups, covered):
    return {**wl_nightly.layers(ctx, state["nightly"], groups, covered),
            **wl_curation.layers(ctx, state["curation"], groups, covered)}
