"""Verification for a30, j18, w15 and dp13 (the round-15 pool).

Same three layers as the earlier pools.  Replays use independent
algorithms: a hashlib sorted-list KMV, a Python-set Bloom filter, a
brute-force two-pointer-free KS over raw value lists, and math.log10
Benford shares.  The sweep that built this pool caught two real bugs
before any test existed (a30's n_distinct_hashes semantics above k, and
dp13's zero-cents digit at sf0.1) — the 3-SF discipline is the reason
these land green.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd
import pytest

from ifcb_data_pipeline_spark.queries import load_all
from ifcb_data_pipeline_spark.queries.aggregates import _A30_K
from ifcb_data_pipeline_spark.queries.joins import _J18_HASHES, _J18_M
from tests.oracle_harness import compare

SF_SMOKE = "/root/testdata/sf0.001"

REG = load_all()
POOL = (
    "a30_bottomk_distinct_sample",
    "j18_bloom_join_prefilter",
    "w15_ks_two_sample",
    "dp13_leading_digit_audit",
)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _dround(x: float, d: int) -> float:
    f = float(10.0**d)
    return math.floor(x * f + 0.5) / f


# --- layer 1: driver-strict oracle compare ---------------------------------


@pytest.mark.parametrize("name", sorted(POOL))
def test_staged_matches_oracle(name, spark, duck, sf_dir):
    qdef = REG[name]
    ok, msg = compare(qdef.fn(spark, sf_dir), duck, qdef.oracle)
    assert ok, f"{name}: {msg}"


# --- layer 2+3: a30 KMV sketch ------------------------------------------------


def test_a30_hashlib_kmv_replay(spark):
    got = (
        REG["a30_bottomk_distinct_sample"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("month")
        .sort_index()
    )
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    months = orders["o_orderdate"].astype("datetime64[ns]").dt.strftime("%Y-%m")
    for month, grp in orders.groupby(months):
        hs = sorted({_h32(f"c{k}") for k in grp["o_custkey"]})
        exact = grp["o_custkey"].nunique()
        if len(hs) >= _A30_K and hs[_A30_K - 1] > 0:
            est = (_A30_K - 1) * 4294967296.0 / hs[_A30_K - 1]
            kth = hs[_A30_K - 1]
        else:
            est, kth = float(len(hs)), None
        row = got.loc[month]
        assert row["exact_distinct"] == exact
        assert row["n_distinct_hashes"] == len(hs)
        assert (pd.isna(row["kth_hash"]) and kth is None) or row["kth_hash"] == kth
        assert row["kmv_estimate"] == _dround(est, 4)
        assert row["rel_err_pct"] == _dround((est - exact) * 100.0 / exact, 4)
        # hashing can only merge keys, never invent them
        assert row["n_distinct_hashes"] <= exact
        assert row["kmv_estimate"] > 0
    assert len(got) == months.nunique()


def test_a30_estimate_monotone_law():
    # data-free: adding keys can only lower the k-th smallest hash, so
    # the KMV estimate is monotone nondecreasing under set growth
    keys = [f"k{i}" for i in range(200)]

    def est(ks):
        hs = sorted({_h32(k) for k in ks})
        return (_A30_K - 1) * 4294967296.0 / hs[_A30_K - 1]

    assert est(keys) >= est(keys[:100])


# --- layer 2+3: j18 Bloom pre-filter -------------------------------------------


def test_j18_set_replay_and_no_false_negatives(spark):
    got = (
        REG["j18_bloom_join_prefilter"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("nationkey")
        .sort_index()
    )
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    customer = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    build = {
        int(k)
        for k, dte in zip(orders["o_custkey"], orders["o_orderdate"])
        if pd.Timestamp(dte).year == 1995
    }
    bits = {
        _h32(f"b{i}|{k}") % _J18_M for k in build for i in range(_J18_HASHES)
    }

    def passes(k: int) -> bool:
        return all(
            _h32(f"b{i}|{k}") % _J18_M in bits for i in range(_J18_HASHES)
        )

    per = defaultdict(lambda: [0, 0, 0, 0])  # n, true, pass, fp
    for k, nk in zip(customer["c_custkey"], customer["c_nationkey"]):
        k, nk = int(k), int(nk)
        t, p = k in build, passes(k)
        # the defining guarantee, key by key: membership implies pass
        assert p or not t
        per[nk][0] += 1
        per[nk][1] += t
        per[nk][2] += p
        per[nk][3] += p and not t
    assert set(got.index) == set(per)
    for nk, (n, t, p, fp) in per.items():
        row = got.loc[nk]
        assert row["n_customers"] == n
        assert row["n_true"] == t
        assert row["n_pass"] == p
        assert row["n_false_pos"] == fp
        assert bool(row["no_false_negatives"])
        assert row["n_pass"] >= row["n_true"]
        assert row["fp_rate"] == _dround(fp / (n - t) if n > t else 0.0, 6)


# --- layer 2+3: w15 exact KS ----------------------------------------------------


def test_w15_bruteforce_replay_and_laws(spark):
    got = REG["w15_ks_two_sample"].fn(spark, SF_SMOKE).toPandas().iloc[0]
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    a = sorted(
        math.floor(v * 100.0 + 0.5)
        for v, t in zip(events["value"], events["event_type"])
        if t == "click"
    )
    b = sorted(
        math.floor(v * 100.0 + 0.5)
        for v, t in zip(events["value"], events["event_type"])
        if t == "view"
    )
    n1, n2 = len(a), len(b)
    pts = sorted(set(a) | set(b))
    best_num, best_at = -1, None
    for x in pts:
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        num = abs(ca * n2 - cb * n1)
        if num > best_num:
            best_num, best_at = num, x
    d = best_num / (n1 * n2)
    assert got["n1"] == n1 and got["n2"] == n2
    assert got["d_stat"] == _dround(d, 6)
    assert got["d_location"] == best_at / 100.0
    crit = 1.358 * math.sqrt((n1 + n2) / (n1 * n2))
    assert bool(got["reject_at_5pct"]) == (d > crit)
    assert 0.0 <= got["d_stat"] <= 1.0


def test_w15_self_distribution_law():
    # data-free: KS of a sample against itself is exactly 0
    a = [3, 7, 7, 12, 90]
    n = len(a)
    assert max(
        abs(sum(1 for v in a if v <= x) * n - sum(1 for v in a if v <= x) * n)
        for x in set(a)
    ) == 0


# --- layer 2+3: dp13 Benford audit ----------------------------------------------


def test_dp13_log10_replay_and_unit_mass(spark):
    got = (
        REG["dp13_leading_digit_audit"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index(["event_type", "digit"])
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    digits = defaultdict(Counter)
    for t, v in zip(events["event_type"], events["value"]):
        cents = math.floor(v * 100.0 + 0.5)
        if cents > 0:
            digits[t][int(str(cents)[0])] += 1
    expected_index = {
        (t, d) for t, c in digits.items() for d in c
    }
    assert set(got.index) == expected_index
    for (t, d), row in got.iterrows():
        n = sum(digits[t].values())
        obs = digits[t][d]
        p = math.log10((d + 1) / d)
        assert 1 <= d <= 9
        assert row["observed"] == obs
        assert row["observed_share"] == _dround(obs / n, 6)
        assert row["benford_expected"] == _dround(p, 6)
        assert row["chi2_contribution"] == _dround(
            (obs - n * p) ** 2 / (n * p), 4
        )
    # unit mass per event type, and Benford's shares themselves sum to 1
    for t, c in digits.items():
        sub = got.loc[t]
        assert sub["observed"].sum() == sum(c.values())
    assert abs(sum(math.log10((d + 1) / d) for d in range(1, 10)) - 1.0) < 1e-12


# --- physical-shape sweep for this pool -----------------------------------------

_SINGLEPART_OK = {
    # w15: the CDF cumsum window runs over the <=|cents-domain| frame
    # (domain-bounded, the w12 counting-trick class) + 1-row total aggs
    "w15_ks_two_sample",
    # a30/j18/dp13: 1-row or |groups|-row final aggregates
    "a30_bottomk_distinct_sample",
    "j18_bloom_join_prefilter",
    "dp13_leading_digit_audit",
}


def _plan_of(spark, fn, sf_dir: str) -> str:
    df = fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_staged_r15_no_scale_killers(spark, sf_dir):
    import re

    violations = []
    for name in sorted(POOL):
        plan = _plan_of(spark, REG[name].fn, sf_dir)
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
        if n_bnlj and name != "w15_ks_two_sample":  # 1-row totals broadcast
            violations.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if "SinglePartition" in plan and name not in _SINGLEPART_OK:
            violations.append(f"{name}: unexpected SinglePartition exchange")
    assert not violations, "\n".join(violations)


def test_r15_checkpoint_scan_budget(spark, sf_dir):
    """Each op's executed plan re-scans parquet at most once: the shared
    frames (a30's distinct hashes, j18's build keys, dp13's digit frame,
    w15's cents and diff frames) are localCheckpoint-ed."""
    import re

    budget = {
        "a30_bottomk_distinct_sample": 1,  # the exact-twin orders scan
        "j18_bloom_join_prefilter": 1,  # the customer probe scan
        "w15_ks_two_sample": 0,
        "dp13_leading_digit_audit": 0,
    }
    for name, max_scans in budget.items():
        plan = _plan_of(spark, REG[name].fn, sf_dir)
        n = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n <= max_scans, f"{name}: {n} parquet scans (budget {max_scans})"


def test_dp13_benford_log10_parity_exhaustive(spark, duck):
    """dp13's expected Benford mass is log10((d+1)/d) with d in 1..9 — a
    finite transcendental domain, so certify it exhaustively (the a28
    lesson: JVM ln diverged from libm at 6 of 63 finite inputs; the
    random panels never caught it).  As of Spark 4.1 / DuckDB 1.x /
    CPython 3.11 all 9 inputs agree BIT-FOR-BIT across the three
    engines, so dp13's chi-square contributions (multiplications and
    divisions on these shared doubles and exact counts) are
    deterministic; this pin turns that empirical fact into a gate an
    engine upgrade cannot silently break."""
    import math
    import struct

    def bits(x: float) -> bytes:
        return struct.pack("<d", x)

    rows = spark.range(1, 10).selectExpr(
        "id AS d", "log10((id + 1) * 1.0 / cast(id AS double)) AS p"
    ).collect()
    sp = {r["d"]: r["p"] for r in rows}
    du = dict(
        duck.execute(
            "SELECT d, log10((d + 1) * 1.0 / d::DOUBLE)"
            " FROM (SELECT unnest(range(1, 10)) AS d)"
        ).fetchall()
    )
    for d in range(1, 10):
        py = math.log10((d + 1) * 1.0 / d)
        assert bits(sp[d]) == bits(py) == bits(du[d]), (d, sp[d], py, du[d])
