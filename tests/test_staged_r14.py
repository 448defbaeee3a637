"""Verification for i13, sp12, w14 and o10 (the round-14 pool).

Same three layers as the r12/r13 pools (driver-strict oracle compare,
pure-Python replay at sf0.001, structural family laws) plus the pool
plan-shape sweep.  The replays use genuinely different algorithms:
Python set algebra + hashlib for the MinHash maintenance (including an
independent proof that least-merge equals recompute), a dict-based group splitter with a PLANTED row-level-split
leak the audit must catch, sorted-list tie-broken ranks for Spearman,
and a literal sort-and-slice file simulator for the zone-map arithmetic.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pandas as pd
import pytest

from ifcb_data_pipeline_spark.queries import load_all
from ifcb_data_pipeline_spark.queries.joins import _I13_PERMS
from ifcb_data_pipeline_spark.queries.windows_sorts import _O10_FILE_DOCS, _O10_THRESHOLDS
from tests.oracle_harness import compare

SF_SMOKE = "/root/testdata/sf0.001"

REG = load_all()
POOL = (
    "i13_incremental_minhash",
    "sp12_grouped_split_balance",
    "w14_spearman_trend",
    "o10_file_skipping_stats",
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


# --- layer 2+3: i13 incremental MinHash ---------------------------------------


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_i13_hashlib_replay_and_merge_law(spark):
    got = (
        REG["i13_incremental_minhash"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index(["lang_a", "lang_b"])
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    full: dict[str, set[str]] = defaultdict(set)
    base: dict[str, set[str]] = defaultdict(set)
    delta: dict[str, set[str]] = defaultdict(set)
    for doc_id, lang, text in zip(docs["doc_id"], docs["lang"], docs["text"]):
        sh = _shingles(text)
        full[lang] |= sh
        (base if doc_id % 10 != 0 else delta)[lang] |= sh

    def sig(shingles: set[str]) -> list[int]:
        return [
            min(_h32(f"{p}|{s}") for s in shingles) for p in range(_I13_PERMS)
        ]

    fsig = {lang: sig(s) for lang, s in full.items()}
    # the maintenance law, proven independently: least-merge of slice
    # signatures equals the recomputed full signature
    for lang in full:
        merged = [
            min(
                a if a is not None else b,
                b if b is not None else a,
            )
            for a, b in zip(
                sig(base[lang]) if base[lang] else [None] * _I13_PERMS,
                sig(delta[lang]) if delta[lang] else [None] * _I13_PERMS,
            )
        ]
        assert merged == fsig[lang]

    langs = sorted(full)
    expected_pairs = {(a, b) for i, a in enumerate(langs) for b in langs[i + 1 :]}
    assert set(got.index) == expected_pairs
    for (a, b), row in got.iterrows():
        agree = sum(1 for x, y in zip(fsig[a], fsig[b]) if x == y)
        inter = len(full[a] & full[b])
        union = len(full[a] | full[b])
        assert row["n_perms"] == _I13_PERMS
        assert row["n_agree"] == agree
        assert row["jaccard_est"] == _dround(agree / _I13_PERMS, 6)
        assert row["n_inter"] == inter
        assert row["n_union"] == union
        assert row["jaccard_exact"] == _dround(inter / union, 6)
        assert bool(row["merged_equals_full"])
        # family laws
        assert 0.0 <= row["jaccard_est"] <= 1.0
        assert inter <= min(len(full[a]), len(full[b]))


# --- layer 2+3: sp12 grouped split -------------------------------------------


def test_sp12_replay_partition_law_and_planted_leak(spark):
    got = (
        REG["sp12_grouped_split_balance"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("split")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")

    def split_of(uid: int) -> str:
        h = _h32(f"u{uid}") % 100
        return "train" if h < 80 else ("val" if h < 90 else "test")

    events = events.assign(
        split=[split_of(u) for u in events["user_id"]],
        cents=[math.floor(v * 100.0 + 0.5) for v in events["value"]],
    )
    n_total = len(events)
    assert set(got.index) == set(events["split"].unique())
    for split, grp in events.groupby("split"):
        row = got.loc[split]
        assert row["n_users"] == grp["user_id"].nunique()
        assert row["n_events"] == len(grp)
        assert row["event_share"] == _dround(len(grp) / n_total, 6)
        assert row["mean_value"] == _dround(grp["cents"].sum() / len(grp) / 100.0, 4)
        assert row["click_share"] == _dround(
            (grp["event_type"] == "click").sum() / len(grp), 6
        )
        assert row["n_straddling_users"] == 0  # group atomicity, from the data
    # partition law: split user sets are disjoint and exhaustive
    assert got["n_users"].sum() == events["user_id"].nunique()
    assert got["n_events"].sum() == n_total
    # planted leak: a ROW-level split (hash of event_id) straddles — the
    # audit's straddle metric is sensitive to exactly the regression it
    # guards against
    by_user = defaultdict(set)
    for eid, uid in zip(events["event_id"], events["user_id"]):
        h = _h32(f"u{eid}") % 100
        by_user[uid].add("train" if h < 80 else ("val" if h < 90 else "test"))
    assert sum(1 for s in by_user.values() if len(s) > 1) > 0


# --- layer 2+3: w14 Spearman trend --------------------------------------------


def test_w14_rank_replay_and_laws(spark):
    got = (
        REG["w14_spearman_trend"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    assert set(got.index) == set(events["user_id"].unique())
    for uid, grp in events.groupby("user_id"):
        recs = list(zip(grp["ts"], grp["event_id"], grp["value"]))
        by_t = sorted(recs, key=lambda r: (r[0], r[1]))
        by_v = sorted(recs, key=lambda r: (r[2], r[1]))
        rt = {r[1]: i + 1 for i, r in enumerate(by_t)}
        rv = {r[1]: i + 1 for i, r in enumerate(by_v)}
        n = len(recs)
        d2 = sum((rt[e] - rv[e]) ** 2 for _, e, _ in recs)
        den = n * (n * n - 1)
        row = got.loc[uid]
        assert row["n_events"] == n
        assert row["sum_d2"] == d2
        assert row["spearman_rho"] == _dround(1.0 - (6 * d2) * 1.0 / den, 6)
        expected = "up" if 60 * d2 < 7 * den else ("down" if 60 * d2 > 13 * den else "flat")
        assert row["trend"] == expected
        assert -1.0 <= row["spearman_rho"] <= 1.0


def test_w14_monotone_series_law():
    # data-free: a perfectly monotone series has d2 = 0 and rho = 1; a
    # perfectly reversed one has the maximum d2 = (n^3 - n)/3 and rho = -1
    for n in (2, 5, 86):
        up = sum((i - i) ** 2 for i in range(1, n + 1))
        down = sum((i - (n + 1 - i)) ** 2 for i in range(1, n + 1))
        den = n * (n * n - 1)
        assert up == 0 and 1.0 - 6 * up / den == 1.0
        assert down == (n**3 - n) // 3 and 1.0 - 6 * down / den == -1.0


# --- layer 2+3: o10 zone-map skipping -----------------------------------------


def test_o10_sort_slice_replay_and_clustering_law(spark):
    got = (
        REG["o10_file_skipping_stats"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index(["layout", "threshold"])
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    n = len(docs)
    L = _O10_FILE_DOCS
    layouts = {
        "natural": {int(d): int(d) // L for d in docs["doc_id"]},
        "clustered": {
            int(d): i // L
            for i, (_, d) in enumerate(
                sorted(zip(docs["n_chars"], docs["doc_id"]))
            )
        },
    }
    for layout, file_of in layouts.items():
        files = defaultdict(list)
        for d, nc in zip(docs["doc_id"], docs["n_chars"]):
            files[file_of[int(d)]].append(int(nc))
        for t in _O10_THRESHOLDS:
            scanned = [f for f, ncs in files.items() if max(ncs) >= t]
            rows_scanned = sum(len(files[f]) for f in scanned)
            matched = int((docs["n_chars"] >= t).sum())
            row = got.loc[(layout, t)]
            assert row["n_files"] == len(files)
            assert row["n_files_scanned"] == len(scanned)
            assert row["n_rows_scanned"] == rows_scanned
            assert row["n_rows_matched"] == matched
            assert row["skip_ratio"] == _dround(1.0 - len(scanned) / len(files), 6)
            assert row["scan_efficiency"] == _dround(
                matched / rows_scanned if rows_scanned else 0.0, 6
            )
    # the clustering payoff, as laws: under the sorted layout the matching
    # rows are a contiguous suffix, so files-scanned hits the minimum
    # ceil-boundary formula and can never exceed the natural layout's
    for t in _O10_THRESHOLDS:
        m = int((docs["n_chars"] >= t).sum())
        clu, nat = got.loc[("clustered", t)], got.loc[("natural", t)]
        expected = 0 if m == 0 else (n - 1) // L - (n - m) // L + 1
        assert clu["n_files_scanned"] == expected
        assert clu["n_files_scanned"] <= nat["n_files_scanned"]
        assert clu["scan_efficiency"] >= nat["scan_efficiency"]


# --- physical-shape sweep for this pool ---------------------------------------

_BNLJ_OK = {"sp12_grouped_split_balance"}  # 1-row broadcast total
_SINGLEPART_OK = {
    "sp12_grouped_split_balance",  # the 1-row total agg
    "o10_file_skipping_stats",  # global_rank's <=|partitions|-row offsets cumsum
}


def _plan_of(spark, fn, sf_dir: str) -> str:
    df = fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_staged_r14_no_scale_killers(spark, sf_dir):
    import re

    violations = []
    for name in sorted(POOL):
        plan = _plan_of(spark, REG[name].fn, sf_dir)
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) > 0 and (
            name not in _BNLJ_OK
        ):
            violations.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if "SinglePartition" in plan and name not in _SINGLEPART_OK:
            violations.append(f"{name}: unexpected SinglePartition exchange")
    assert not violations, "\n".join(violations)


def test_i13_is_checkpoint_fed(spark, sf_dir):
    """The distinct-shingle and hashed frames are localCheckpoint-ed, so
    the executed plan reads materialized RDDs — ZERO parquet re-scans
    across the five signature/set consumers (12 scans without it)."""
    import re

    plan = _plan_of(spark, REG["i13_incremental_minhash"].fn, sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0


def test_w14_is_single_scan_no_join(spark, sf_dir):
    import re

    plan = _plan_of(spark, REG["w14_spearman_trend"].fn, sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
