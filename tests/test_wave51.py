"""Defining-property tests for wave 51 (direct-Python re-derivations
at sf0.001, independent of both engines' SQL paths)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


def _monthly(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    ).collect()
    monthly = defaultdict(int)
    for r in orders:
        monthly[r["y"] * 12 + r["mo"] - 1] += r["c"]
    return monthly


def _hw_fit(y):
    """The additive recurrence on a 36-month list (training only)."""
    l = sum(y[:12]) / 12.0
    b = (sum(y[12:24]) - sum(y[:12])) / 144.0
    s = [y[i] - l for i in range(12)]
    for i in range(12, 36):
        slot = i % 12
        lnew = 0.25 * (y[i] - s[slot]) + 0.75 * (l + b)
        bnew = 0.125 * (lnew - l) + 0.875 * b
        s[slot] = 0.25 * (y[i] - lnew) + 0.75 * s[slot]
        l, b = lnew, bnew
    return l, b, s


def test_holt_winters_damped_matches_direct_python(spark):
    rows = {
        r["h"]: r["forecast"]
        for r in _q("ts_holt_winters_damped")(spark, SF).collect()
    }
    monthly = _monthly(spark)
    maxm = max(monthly)
    assert all(maxm - 35 + i in monthly for i in range(36))
    y = [float(monthly[maxm - 35 + i]) for i in range(36)]
    phi = 0.875
    l = sum(y[:12]) / 12.0
    b = (sum(y[12:24]) - sum(y[:12])) / 144.0
    s = [y[i] - l for i in range(12)]
    for i in range(12, 36):
        slot = i % 12
        lnew = 0.25 * (y[i] - s[slot]) + 0.75 * (l + phi * b)
        bnew = 0.125 * (lnew - l) + 0.875 * (phi * b)
        s[slot] = 0.25 * (y[i] - lnew) + 0.75 * s[slot]
        l, b = lnew, bnew
    assert set(rows) == set(range(1, 13))
    dsum, p = 0.0, 1.0
    for h in range(1, 13):
        p *= phi
        dsum += p
        f = (l + dsum * b + s[(h - 1) % 12]) / 100.0
        assert math.isclose(rows[h], f, abs_tol=1e-4), h
    # damping property: the damped trend contribution is strictly
    # smaller in magnitude than the undamped one at every horizon
    lu, bu, su = _hw_fit(y)
    assert abs(dsum) < 12.0  # sum phi^i < h for phi < 1


def test_holt_winters_mase_matches_direct_python(spark):
    rows = {r["h"]: r for r in _q("ts_holt_winters_mase")(spark, SF).collect()}
    monthly = _monthly(spark)
    maxm = max(monthly)
    assert all(maxm - 47 + i in monthly for i in range(48))
    y = [float(monthly[maxm - 47 + i]) for i in range(48)]
    l, b, s = _hw_fit(y[:36])
    den = sum(abs(y[i] - y[i - 12]) for i in range(12, 36)) / 24.0
    errs = []
    for h in range(1, 13):
        f = l + h * b + s[(h - 1) % 12]
        obs = y[35 + h]
        errs.append(abs(obs - f))
        r = rows[h]
        assert math.isclose(r["forecast"], f / 100.0, abs_tol=1e-4), h
        assert math.isclose(r["observed"], obs / 100.0, abs_tol=1e-6), h
        assert math.isclose(r["abs_err"], abs(obs - f) / 100.0, abs_tol=1e-4)
    mase = (sum(errs) / 12.0) / den
    for h in range(1, 13):
        assert math.isclose(rows[h]["mase"], mase, abs_tol=1e-5)


def test_page_trend_matches_direct_python(spark):
    [row] = _q("stat_page_trend")(spark, SF).collect()
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    ).collect()
    nk = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    }
    nations = [
        r["n_nationkey"]
        for r in spark.read.parquet(f"{SF}/nation.parquet").collect()
    ]
    rev = defaultdict(int)
    years = set()
    for r in orders:
        rev[(nk[r["o_custkey"]], r["yr"])] += r["c"]
        years.add(r["yr"])
    years = sorted(years)
    k = len(years)
    n = len(nations)
    l2 = 0
    tsum = 0
    for nat in nations:
        cells = [(rev.get((nat, yr), 0), j + 1) for j, yr in enumerate(years)]
        # doubled midranks: r2 = 2*rank + t - 1 over cents
        vals = sorted(c for c, _ in cells)
        for c, j in cells:
            rank = 1 + sum(1 for v in vals if v < c)
            t = sum(1 for v in vals if v == c)
            r2 = 2 * rank + t - 1
            l2 += j * r2
            tsum += t * t - 1
    e_l2 = n * k * (k + 1) * (k + 1) // 2
    var = n * k * k * (k + 1) * (k * k - 1) / 144.0
    z = (l2 - e_l2) / (2.0 * math.sqrt(var))
    assert row["n_subjects"] == n
    assert row["k_years"] == k
    assert row["l2"] == l2
    assert row["e_l2"] == e_l2
    assert row["tsum"] == tsum
    assert math.isclose(row["z"], z, abs_tol=2e-6)


def test_calinski_harabasz_matches_direct_python(spark):
    rows = {
        r["label"]: r
        for r in _q("emb_calinski_harabasz")(spark, SF).collect()
    }
    raw = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    pts = defaultdict(list)
    for r in raw:
        q = np.rint(np.array(r["embedding"], dtype=np.float64) * 1e6).astype(
            np.int64
        )
        pts[r["label"]].append(q)
    allv = np.stack([v for vs in pts.values() for v in vs]).astype(object)
    g = allv.sum(axis=0)
    nn = len(allv)
    w_q, b_q, npts = {}, {}, {}
    for lab, vecs in pts.items():
        arr = np.stack(vecs).astype(object)
        n = len(vecs)
        s = arr.sum(axis=0)
        ssq = (arr * arr).sum()
        wnum = n * ssq - (s * s).sum()
        w_q[lab] = round(float(wnum) / n / 1e12 * 1e6)
        bnum = ((s * nn - g * n) ** 2).sum()
        b_q[lab] = round(float(bnum) / (n * nn * nn) / 1e12 * 1e6)
        npts[lab] = n
    k = len(pts)
    ch = (sum(b_q.values()) / (k - 1)) / (sum(w_q.values()) / (nn - k))
    for lab, r in rows.items():
        assert r["n_points"] == npts[lab]
        assert math.isclose(r["w_within"], w_q[lab] / 1e6, abs_tol=2e-6)
        assert math.isclose(r["b_between"], b_q[lab] / 1e6, abs_tol=2e-6)
        assert math.isclose(r["ch_index"], ch, abs_tol=2e-4)
    # dispersion sanity: labeled synthetic clusters separate, CH > 0
    assert all(r["ch_index"] > 0 for r in rows.values())


def test_spectral_entropy_matches_direct_python(spark):
    [row] = _q("ev_spectral_entropy")(spark, SF).collect()
    days = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("d")
        .collect()
    )
    d0 = days[0]["d"]
    series = [((r["d"] - d0).days, r["c"]) for r in days]
    powers = []
    for p in range(2, 65):
        a = sum(round(c * math.cos(2 * math.pi * t / p) * 1e6) for t, c in series)
        b = sum(round(c * math.sin(2 * math.pi * t / p) * 1e6) for t, c in series)
        powers.append(a * a + b * b)
    s = sum(pw for pw in powers if pw > 0)
    plnp = sum(pw * round(math.log(pw) * 1e6) for pw in powers if pw > 0)
    h_q = round((s * round(math.log(s) * 1e6) - plnp) / s)
    h = h_q / 1e6
    assert row["n_bins"] == 63
    assert row["n_nonzero"] == sum(1 for pw in powers if pw > 0)
    assert math.isclose(row["entropy_nats"], h, abs_tol=2e-6)
    assert math.isclose(
        row["spectral_entropy"], h / math.log(63), abs_tol=2e-6
    )
    assert 0.0 <= row["spectral_entropy"] <= 1.0


def _py_shingles(text: str) -> set[str]:
    toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_lsh_recall_matches_direct_python(spark):
    [row] = _q("doc_lsh_recall_vs_exact")(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    sh = {r["doc_id"]: _py_shingles(r["text"]) for r in docs}
    ids = sorted(sh)

    def jacc(a, b):
        inter = len(sh[a] & sh[b])
        return inter / (len(sh[a]) + len(sh[b]) - inter)

    panel = {i for i in ids if i % 7 == 0 and i < 3500}
    truth = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if (a in panel or b in panel) and jacc(a, b) >= 0.5
    }

    # portable MinHash signatures: md5(seed|shingle), two 60-bit
    # halves per digest (operators/dedup.md5_minhash_columns)
    def sig(doc):
        out = []
        for j in range(16):
            seed = j // 2
            best = None
            for s in sh[doc]:
                h = hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
                v = int(h[0:15], 16) if j % 2 == 0 else int(h[16:31], 16)
                best = v if best is None or v < best else best
            out.append(best)
        return out

    sigs = {i: sig(i) for i in ids}
    buckets = defaultdict(set)
    for i in ids:
        for b in range(4):
            buckets[(b, tuple(sigs[i][b * 4 : b * 4 + 4]))].add(i)
    cands = set()
    for members in buckets.values():
        ms = sorted(members)
        for ai, a in enumerate(ms):
            for b in ms[ai + 1 :]:
                cands.add((a, b))
    lsh_pairs = {(a, b) for a, b in cands if jacc(a, b) >= 0.5}
    caught = truth & lsh_pairs
    assert row["n_panel_docs"] == len(
        [r for r in docs if r["doc_id"] in panel]
    )
    assert row["n_truth"] == len(truth)
    assert row["n_caught"] == len(caught)
    assert math.isclose(
        row["recall"], len(caught) / len(truth), abs_tol=1e-9
    )
    assert 0.0 < row["recall"] <= 1.0
