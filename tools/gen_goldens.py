"""Generate pinned golden tables for the queries whose semantics have no
SQL dual (iterative LM fits, greedy BPE training), so the correctness gate
can hash-check them instead of counting rows.

For each golden query and each scale factor under /root/testdata, the Spark
query is executed TWICE (asserting bit-identical results — the canonical
group ordering in operators/fit.grouped_arrays_map makes the kernels
partition-order independent) and the rows are written to ONE parquet per
query at tests/golden/<name>.parquet with an ``sf_tag`` column = row count
of the sf's events table. The oracle SQL then selects the matching sf's
golden rows with ``WHERE sf_tag = (SELECT count(*) FROM events)`` — the
same oracle string works at every scale factor.

Queries in ``queries/extras.GOLDEN_MODEL_FP`` also depend on which model
loaded (the reference's real .ubj or the demo fallback): their goldens
carry a ``model_fp`` key column, each run writes only the loaded model's
rows, and the rows of every other model are kept as committed.

These goldens pin the ENGINE'S OWN numerics (drift detection): a change to
the fit kernels that moves any output bit turns the gate row red instead of
passing silently. Run after an intentional numerics change:

    python tools/gen_goldens.py [testdata_root]

IMPORTANT — testdata rebuilds also invalidate the goldens: the driver
regenerates /root/testdata each round, and the events generator's time
base moves with the build date, so the same groups fit to slightly
different parameters while the ``sf_tag`` row-count key still matches.
Regenerate at the START of every round (tests/test_goldens.py fails with
an actionable message if you forget).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_QUERIES = [
    "ts_sigmoid_fit",
    "ts_rainbow_multiband",
    "ts_tde_score",
    "ts_tde_score_real",
    "text_bpe_trained",
]

_PA_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "double": "float64",
    "float": "float32",
    "boolean": "bool_",
    "string": "string",
}


def _arrow_schema(sdf, keyed: bool):
    import pyarrow as pa

    fields = []
    for f in sdf.schema.fields:
        t = _PA_TYPES.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(
                f"golden column {f.name} has unsupported type "
                f"{f.dataType.simpleString()}"
            )
        fields.append(pa.field(f.name, getattr(pa, t)()))
    fields.append(pa.field("sf_tag", pa.int64()))
    if keyed:
        fields.append(pa.field("model_fp", pa.string()))
    return pa.schema(fields)


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from fink_filters_spark.queries.extras import GOLDEN_MODEL_FP
    from fink_filters_spark.session import get_session
    from tools.check_oracle import value_hash

    root = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata"
    sf_dirs = sorted(
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("sf")
    )
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "tests", "golden")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session("gen_goldens")
    qs = entrymod.queries()
    for name in GOLDEN_QUERIES:
        fn = qs[name]
        batches = []
        schema = None
        fp = GOLDEN_MODEL_FP[name]() if name in GOLDEN_MODEL_FP else None
        for sf_dir in sf_dirs:
            tag = spark.read.parquet(f"{sf_dir}/events.parquet").count()
            sdf = fn(spark, sf_dir)
            if schema is None:
                schema = _arrow_schema(sdf, fp is not None)
            rows = [r.asDict() for r in sdf.collect()]
            rerun = [r.asDict() for r in fn(spark, sf_dir).collect()]
            h1, h2 = value_hash(rows), value_hash(rerun)
            if h1 != h2:
                print(f"FAIL {name} @ {sf_dir}: NOT deterministic "
                      f"({h1[:12]} != {h2[:12]}) — golden not written")
                return 1
            for r in rows:
                r["sf_tag"] = tag
                if fp is not None:
                    r["model_fp"] = fp
            batches.append(rows)
            print(f"  {name} @ {os.path.basename(sf_dir)}: "
                  f"{len(rows)} rows (tag={tag}{', model=' + fp if fp else ''})")
        path = os.path.join(out_dir, f"{name}.parquet")
        if fp is not None and os.path.exists(path):
            # keep the committed rows of every other model
            other = [r for r in pq.read_table(path).to_pylist() if r["model_fp"] != fp]
            batches.append(other)
        table = pa.Table.from_pylist([r for b in batches for r in b],
                                     schema=schema)
        pq.write_table(table, path)
        print(f"WROTE {path} ({table.num_rows} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
