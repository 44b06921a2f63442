"""Seeded input generators for the benchmark.

Everything the engine reads is made here from the workload seed, so the same
seed gives byte-identical inputs and the engine never sees anything else:

- ``ztf_alerts``: ZTF-shaped alert rows (the columns the registered ZTF topics
  and the Fink classification read, plus light-curve history arrays and an
  ``anomaly_score``), as pyarrow tables;
- ``catalog``: a point-source catalog for the cone crossmatch; a share of the
  alerts is placed within the match radius of a catalog source;
- ``curation_tables``: ``documents``, ``embeddings`` and ``customer`` with the
  schemas of the declared query suite's synthetic tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SIMBAD = [
    "Unknown", "Transient", "Fail 1", "Galaxy", "AGN", "QSO", "Seyfert_1",
    "RRLyr", "Blazar", "BLLac", "YSO", "GravLens", "BlackHole", "EmG", "Star",
    "SN", "Candidate_SN*",
]
JD0 = 2460000.5
# one alert in this many is placed near a catalog source
XMATCH_EVERY = 4
XMATCH_RADIUS_DEG = 2.0 / 3600.0


def _choice(r, values, n, p=None):
    return np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)]


def _list_array(offsets, values):
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def catalog(seed: int, n: int) -> pa.Table:
    """(cat_id, cat_ra, cat_dec, cat_type): uniform over the sphere."""
    r = np.random.default_rng([seed, 1])
    return pa.table({
        "cat_id": np.arange(n, dtype=np.int64),
        "cat_ra": r.uniform(0.0, 360.0, n),
        "cat_dec": np.degrees(np.arcsin(r.uniform(-1.0, 1.0, n))),
        "cat_type": _choice(r, ["star", "galaxy", "qso", "cv"], n),
    })


def ztf_alerts(seed: int, first_candid: int, n: int, cat: pa.Table) -> pa.Table:
    """``n`` alerts with candids ``first_candid ..``; objects repeat (about
    three alerts per object) so per-object dedup has work to do."""
    r = np.random.default_rng([seed, 2, first_candid])
    candid = np.arange(first_candid, first_candid + n, dtype=np.int64)
    obj = candid // 3
    ra = r.uniform(0.0, 360.0, n)
    dec = np.degrees(np.arcsin(r.uniform(-1.0, 1.0, n)))
    # every XMATCH_EVERY-th alert sits within half the radius of a source
    near = (candid % XMATCH_EVERY) == 0
    src = r.integers(0, cat.num_rows, n)
    off = r.uniform(-0.35, 0.35, (n, 2)) * XMATCH_RADIUS_DEG
    cra = cat.column("cat_ra").to_numpy()[src]
    cdec = cat.column("cat_dec").to_numpy()[src]
    ra = np.where(near, (cra + off[:, 0] / np.maximum(np.cos(np.radians(cdec)), 1e-3)) % 360.0, ra)
    dec = np.where(near, np.clip(cdec + off[:, 1], -90.0, 90.0), dec)

    # light-curve history: a noisy rising sigmoid in flux, 1..16 epochs
    nhist = r.integers(1, 17, n)
    offsets = np.concatenate([[0], np.cumsum(nhist)])
    m = int(offsets[-1])
    owner = np.repeat(np.arange(n), nhist)
    span = r.uniform(5.0, 40.0, n)
    t = JD0 - r.uniform(0.0, 1.0, m) * span[owner]
    # sort each history by time: a stable sort on (owner, t)
    order = np.lexsort((t, owner))
    t = t[order]
    t0 = JD0 - span * r.uniform(0.3, 0.7, n)
    tau = r.uniform(1.0, 6.0, n)
    amp = r.uniform(500.0, 5000.0, n)
    flux = amp[owner] / (1.0 + np.exp(-(t - t0[owner]) / tau[owner]))
    flux = flux * (1.0 + r.normal(0.0, 0.05, m))
    mag = 25.0 - 2.5 * np.log10(np.maximum(flux, 1.0))
    fid = r.integers(1, 3, m)
    ssn = np.where((fid == 2) & (r.uniform(0, 1, m) < 0.2), "12345", "null")

    u = lambda lo, hi: r.uniform(lo, hi, n)  # noqa: E731
    cols = {
        "candid": candid,
        "objectId": np.char.add("ZTF", np.char.zfill(obj.astype(str), 8)),
        "cdsxmatch": _choice(r, SIMBAD, n),
        "magpsf": u(15.0, 22.0),
        "drb": u(0, 1),
        "classtar": u(0, 1),
        "jd": np.full(n, JD0),
        "jdstarthist": JD0 - u(0, 200),
        "ndethist": r.integers(1, 40, n),
        "roid": r.integers(0, 4, n),
        "snn_snia_vs_nonia": u(0, 1),
        "snn_sn_vs_all": u(0, 1),
        "rf_snia_vs_nonia": u(0, 1),
        "rf_kn_vs_nonkn": u(0, 1),
        "mulens": u(-0.5, 1),
        "DR3Name": _choice(r, ["nan", "Gaia DR3 123"], n),
        "tns": _choice(r, ["", "SN 2024abc", "Unknown"], n),
        "tracklet": _choice(r, ["", "TRCK_20240101"], n),
        "isdiffpos": _choice(r, ["t", "f", "1", "0"], n),
        "ssdistnr": u(-1, 30),
        "distnr": u(0, 5),
        "neargaia": u(-1, 20),
        "distpsnr1": u(-1, 20),
        "rb": u(0, 1),
        "nbad": _choice(r, [0, 0, 0, 1, 2], n).astype(np.int64),
        "ra": ra,
        "dec": dec,
        "gal_b": u(-90, 90),
        "ecl_lat": u(-90, 90),
        "mag_rate": u(-1, 1),
        "slsn_score": u(0, 1),
        "slsn_threshold": np.full(n, 0.5),
        "spicy_class": _choice(r, ["Unknown", "ClassI", "ClassII"], n),
        "linear_fit_slope": u(-0.1, 0.1),
        "linear_fit_r2": u(0, 1),
        "kstest_science": u(0, 1),
        "kstest_template": u(0, 1),
        "ssnamenr": _choice(r, ["null", "12345"], n),
        "observatory": _choice(r, ["Fermi", "SWIFT", "INTEGRAL", "LVK", "other"], n),
        "grb_proba": u(0, 1),
        "grb_loc_error": u(0, 60),
        "rate": u(-1, 1),
        "tde_name": _choice(r, ["Unknown", "AT2019qiz"], n),
        "dwarf_agn_name": _choice(r, ["Unknown", "J1234"], n),
        "symbiotic_name": _choice(r, ["Unknown", "SySt-1"], n),
        "mcv_name": _choice(r, ["Unknown", "MCV-1"], n),
        "anomaly_score": u(-1.0, 0.5),
    }
    for flag in ("faint", "positivesubtraction", "real", "pointunderneath",
                 "brightstar", "variablesource", "stationary"):
        cols[flag] = r.integers(0, 2, n).astype(bool)
    arrays = {k: pa.array(v) for k, v in cols.items()}
    arrays["cjd"] = _list_array(offsets, pa.array(t))
    arrays["cmagpsf"] = _list_array(offsets, pa.array(mag))
    arrays["cflux"] = _list_array(offsets, pa.array(flux))
    arrays["cfid"] = _list_array(offsets, pa.array(fid.astype(np.int64)))
    arrays["cssnamenr"] = _list_array(offsets, pa.array(ssn.astype(object)))
    two = np.arange(0, 2 * n + 1, 2, dtype=np.int32)
    arrays["mangrove"] = pa.MapArray.from_arrays(
        two,
        pa.array(np.tile(np.array(["lum_dist", "name"], dtype=object), n)),
        pa.array(np.column_stack([u(10, 400).astype(str), np.full(n, "g")]).ravel().astype(object)),
    )
    arrays["blazar_stats"] = pa.MapArray.from_arrays(
        two,
        pa.array(np.tile(np.array(["m0", "m1"], dtype=object), n)),
        pa.array(r.uniform(0, 2, 2 * n)),
    )
    return pa.table(arrays)


# -- curation tables ---------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]


def curation_tables(seed: int, n_docs: int, n_vecs: int, n_cust: int) -> dict[str, pa.Table]:
    """The three tables the curation mix reads, shaped like the suite's
    synthetic ones: bag-of-words documents over a 31-word vocabulary (a
    share of them near-duplicates of an earlier document, so the dedup
    operators find groups), clustered 64-d embeddings, and customers."""
    r = np.random.default_rng([seed, 3])
    docs = []
    for i in range(n_docs):
        if i > 10 and r.uniform() < 0.08:
            words = docs[int(r.integers(0, i))].split()
            j = int(r.integers(0, len(words)))
            words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            words = list(np.asarray(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(8, 90)))])
        docs.append(" ".join(words))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(docs),
        "lang": pa.array(_choice(r, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array(np.char.add("src", (np.arange(n_docs) % 20).astype(str))),
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })

    label = r.integers(0, 10, n_vecs).astype(np.int32)
    centres = r.normal(0.0, 0.15, (10, 64))
    vec = (centres[label] + r.normal(0.0, 0.1, (n_vecs, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": _list_array(np.arange(0, 64 * n_vecs + 1, 64), pa.array(vec.ravel())),
        "label": label,
    })

    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array(np.char.add("Customer#", np.char.zfill(np.arange(n_cust).astype(str), 9))),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(_choice(r, SEGMENTS, n_cust)),
    })
    return {"documents": documents, "embeddings": embeddings, "customer": customer}
