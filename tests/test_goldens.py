"""Golden-parquet staleness guard.

The five golden-backed queries (tools/gen_goldens.py) pin the ENGINE'S OWN
numerics as committed parquet that the DuckDB oracle re-serves — so their
correctness check is only as fresh as the last generation run. Two things
invalidate them silently:

- an intentional numerics change in the fit/BPE kernels (the drift the
  goldens exist to catch), and
- a TESTDATA REBUILD: the driver regenerates /root/testdata each round,
  and the events generator's time base moves with the build date, so the
  same (user_id, n) groups fit to slightly different parameters while the
  ``sf_tag`` row-count key still matches — the round-7 failure mode, where
  pytest stayed green while the full oracle sweep went 4-red.

This test closes that hole: it executes each golden query at sf0.001 and
requires BIT-IDENTICAL agreement with the committed golden rows — for a
query in ``GOLDEN_MODEL_FP``, the rows of the model that loaded. When it
fails, inspect the diff it prints; if the change is intended (new testdata
build or deliberate kernel change), regenerate with

    python tools/gen_goldens.py

and commit the refreshed parquets.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")

# name -> sort key columns (the golden rows are unordered sets per sf_tag)
GOLDEN_QUERIES = {
    "ts_sigmoid_fit": ["user_id"],
    "ts_rainbow_multiband": ["user_id"],
    "ts_tde_score": ["user_id"],
    "ts_tde_score_real": ["user_id"],
    "text_bpe_trained": ["doc_id"],
}


def _sf_tag(spark) -> int:
    return spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()


@pytest.mark.parametrize("name", sorted(GOLDEN_QUERIES))
def test_golden_matches_current_engine_and_testdata(spark, name):
    import __spark_entry__ as entry
    from fink_filters_spark.queries.extras import GOLDEN_MODEL_FP

    fresh = (
        entry.queries()[name](spark, SF_DIR)
        .toPandas()
        .sort_values(GOLDEN_QUERIES[name])
        .reset_index(drop=True)
    )
    golden = pd.read_parquet(os.path.join(GOLDEN_DIR, f"{name}.parquet"))
    golden = golden[golden["sf_tag"] == _sf_tag(spark)].drop(columns=["sf_tag"])
    if name in GOLDEN_MODEL_FP:
        fp = GOLDEN_MODEL_FP[name]()
        golden = golden[golden["model_fp"] == fp].drop(columns=["model_fp"])
        assert len(golden), (
            f"{name}: no golden rows for model {fp} — run "
            "`python tools/gen_goldens.py` with it loaded"
        )
    golden = golden.sort_values(GOLDEN_QUERIES[name]).reset_index(drop=True)
    assert list(fresh.columns) == list(golden.columns), (
        f"{name}: schema drift vs golden — regenerate via tools/gen_goldens.py"
    )
    assert len(fresh) == len(golden), (
        f"{name}: {len(fresh)} rows vs golden {len(golden)} — testdata or "
        "kernel changed; inspect, then regenerate via tools/gen_goldens.py"
    )
    # bit-exact: the goldens pin numerics, so no tolerance
    sentinel = object()
    mism = []
    for col in fresh.columns:
        a, b = fresh[col], golden[col]
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = int(neq.idxmax())
            mism.append(f"{col}[row {i}]: {a[i]!r} != golden {b[i]!r}")
    assert not mism, (
        f"{name}: {len(mism)} column(s) drifted vs committed golden "
        f"(first diffs: {mism[:4]}). If the testdata was rebuilt or the "
        "kernel change is intentional, run `python tools/gen_goldens.py` "
        "and commit the refreshed parquets; otherwise this is a numerics "
        "regression."
    )
