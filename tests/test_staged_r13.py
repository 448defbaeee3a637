"""Verification for tx16, pk4, w13 and sim13 (the round-13 pool).

Three verification layers per op:

1. driver-strict DuckDB oracle compare at the session SF,
2. pure-Python brute-force recomputation from the raw parquet at sf0.001
   (independent algorithms: Counter-based bigram vocab, a hashlib CDC
   chunker that re-slices and re-concatenates the text, sorted-list order
   statistics, an IEEE-exact numpy-free quantization replay),
3. structural family laws that hold regardless of data (chunk
   conservation — the chunks rebuild the document byte-for-byte; MAD
   non-negativity and median-in-range; int8 saturation of every
   dimension's max achiever; Cauchy-Schwarz on the quantized cosine),
   plus explicit "the filter bites" assertions so a vacuous corpus can't
   green these vacuously.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pandas as pd
import pytest

from ifcb_data_pipeline_spark.queries import load_all
from tests.oracle_harness import compare

SF_SMOKE = "/root/testdata/sf0.001"

REG = load_all()
POOL = (
    "tx16_bigram_vocab_coverage",
    "pk4_cdc_chunking",
    "w13_mad_anomaly",
    "sim13_int8_quant_error",
)
POOL_R12 = (
    "dd20_exact_substring_dedup",
    "a28_hll_distinct_sketch",
    "a29_cms_heavy_hitters",
    "st9_join_state_audit",
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


# --- layer 2+3: tx16 bigram vocab coverage ----------------------------------


def test_tx16_counter_replay_and_bite(spark):
    # Contract since the r12-verdict fix: min-count cut on the EXACT
    # bigram (Counter), membership via the fixed 2^22 md5-prefix hash
    # buckets (the sp8 template) — replayed here with hashlib,
    # independent of Spark's md5/conv pipeline.
    from ifcb_data_pipeline_spark.queries.text import TX16_BUCKETS

    got = (
        REG["tx16_bigram_vocab_coverage"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("lang")
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    per_lang: dict[str, list[str]] = {}
    en_counts: Counter = Counter()
    for lang, text in zip(docs["lang"], docs["text"]):
        toks = text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        per_lang.setdefault(lang, []).extend(bgs)
        if lang == "en":
            en_counts.update(bgs)
    vocab_hb = {_h32(bg) % TX16_BUCKETS for bg, c in en_counts.items() if c >= 3}

    assert set(got.index) == set(per_lang)
    for lang, bgs in per_lang.items():
        inv = sum(1 for bg in bgs if _h32(bg) % TX16_BUCKETS in vocab_hb)
        oov_types = len({bg for bg in bgs if _h32(bg) % TX16_BUCKETS not in vocab_hb})
        row = got.loc[lang]
        assert row["n_bigrams"] == len(bgs)
        assert row["n_in_vocab"] == inv
        assert row["oov_types"] == oov_types
        assert row["coverage"] == _dround(inv / len(bgs), 6)
        # vocabulary trained on en only -> coverage is a true fraction
        assert 0.0 < row["coverage"] <= 1.0
    # the min-count cut bites: some OOV mass exists somewhere
    assert (got["oov_types"] > 0).any()
    assert (got["coverage"] < 1.0).any()


# --- layer 2+3: pk4 content-defined chunking ---------------------------------


def _cdc_chunks(text: str) -> list[str]:
    starts = [0]
    if len(text) >= 9:
        for p in range(1, len(text) - 7):
            if _h32(text[p : p + 8]) % 32 == 0:
                starts.append(p)
    bounds = starts + [len(text)]
    return [text[a:b] for a, b in zip(bounds, bounds[1:])]


def test_pk4_hashlib_replay_conservation_and_bite(spark):
    got = (
        REG["pk4_cdc_chunking"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    chunks_by_doc = {
        int(doc_id): _cdc_chunks(text)
        for doc_id, text in zip(docs["doc_id"], docs["text"])
    }
    corpus_counts: Counter = Counter()
    for chunks in chunks_by_doc.values():
        corpus_counts.update(chunks)

    assert set(got.index) == set(chunks_by_doc)
    any_shared = False
    for doc_id, chunks in chunks_by_doc.items():
        text = docs.loc[docs["doc_id"] == doc_id, "text"].iloc[0]
        # conservation: CDC chunking is a partition of the document
        assert "".join(chunks) == text
        shared = [c for c in chunks if corpus_counts[c] >= 2]
        row = got.loc[doc_id]
        assert row["n_chunks"] == len(chunks)
        assert row["max_chunk_len"] == max(len(c) for c in chunks)
        assert row["mean_chunk_len"] == _dround(len(text) / len(chunks), 4)
        assert row["n_shared_chunks"] == len(shared)
        assert row["shared_chars"] == sum(len(c) for c in shared)
        assert row["dup_frac"] == _dround(sum(len(c) for c in shared) / len(text), 6)
        assert 0 <= row["shared_chars"] <= len(text)
        any_shared = any_shared or bool(shared)
    # the dedup accounting bites on this corpus
    assert any_shared


def test_pk4_boundary_locality_law():
    # CDC's defining property: an edit inside one chunk leaves every
    # boundary outside the 8-gram horizon of the edit untouched
    text = "the quick brown fox jumps over the lazy dog " * 20
    edited = text[:200] + "X" + text[201:]
    b_orig = {p for p in range(1, len(text) - 7) if _h32(text[p : p + 8]) % 32 == 0}
    b_edit = {p for p in range(1, len(edited) - 7) if _h32(edited[p : p + 8]) % 32 == 0}
    far = {p for p in b_orig if p < 193 or p > 208}
    assert far == {p for p in b_edit if p < 193 or p > 208}


# --- layer 2+3: w13 median/MAD anomaly ----------------------------------------


def test_w13_order_statistic_replay_and_laws(spark):
    got = (
        REG["w13_mad_anomaly"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    total_anom = 0
    assert set(got.index) == set(events["user_id"].unique())
    for uid, grp in events.groupby("user_id"):
        rows = sorted(zip(grp["value"], grp["event_id"]))
        n = len(rows)
        med = rows[(n + 1) // 2 - 1][0]
        devs = sorted(
            (abs(v - med), eid) for v, eid in zip(grp["value"], grp["event_id"])
        )
        mad = devs[(n + 1) // 2 - 1][0]
        n_anom = sum(1 for d, _ in devs if d > 3.0 * mad)
        row = got.loc[uid]
        assert row["n_events"] == n
        assert row["med_value"] == med  # exact: an order statistic is a data value
        assert row["mad_value"] == mad
        assert row["n_anomalies"] == n_anom
        assert row["anomaly_frac"] == _dround(n_anom / n, 6)
        # family laws
        assert mad >= 0.0
        assert grp["value"].min() <= med <= grp["value"].max()
        assert row["n_anomalies"] < n  # the median itself can never be anomalous
        total_anom += n_anom
    assert total_anom > 0  # the gate bites on this corpus


# --- layer 2+3: sim13 int8 quantization ---------------------------------------


def test_sim13_ieee_exact_replay_and_laws(spark):
    got = (
        REG["sim13_int8_quant_error"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {
        int(v): [float(x) for x in e] for v, e in zip(emb["vec_id"], emb["embedding"])
    }
    d = len(next(iter(vecs.values())))
    scales = [max(abs(vec[i]) for vec in vecs.values()) for i in range(d)]

    def q(x, s):
        if s <= 0:
            return 0
        return max(-127, min(127, math.floor(x * 127.0 / s + 0.5)))

    sat_total = 0
    for vec_id, vec in vecs.items():
        qv = [q(x, s) for x, s in zip(vec, scales)]
        rx = [qi * s / 127.0 for qi, s in zip(qv, scales)]
        se2 = sum(math.floor((x - r) * (x - r) * 1e12 + 0.5) for x, r in zip(vec, rx))
        sxr = sum(math.floor(x * r * 1e12 + 0.5) for x, r in zip(vec, rx))
        sxx = sum(math.floor(x * x * 1e12 + 0.5) for x in vec)
        srr = sum(math.floor(r * r * 1e12 + 0.5) for r in rx)
        n_sat = sum(1 for qi in qv if abs(qi) == 127)
        row = got.loc[vec_id]
        assert row["n_dims"] == d
        assert row["n_saturated"] == n_sat
        assert row["mse_q"] == _dround(se2 * 1.0 / 1e12 / d, 12)
        assert row["cos_sim_q"] == _dround(sxr / math.sqrt(float(sxx) * float(srr)), 6)
        # family laws: faithful reconstruction at int8 granularity
        assert 0.0 <= row["mse_q"] < (max(scales) / 254.0) ** 2 + 1e-12
        assert row["cos_sim_q"] <= 1.0 + 1e-6  # Cauchy-Schwarz (+pico-grid slack)
        assert row["cos_sim_q"] > 0.99  # int8 keeps cosine fidelity
        sat_total += n_sat
    # every dimension's max-|x| achiever saturates to ±127 by construction
    assert sat_total >= d


# --- physical-shape sweep over this pool and the r12 pool --------------------
# Mirror of test_physical_plans.test_registry_wide_no_scale_killers for
# these eight ops: no CartesianProduct anywhere; BNLJ and
# SinglePartition only for the two ops whose design is a 1-row broadcast
# total (a29's event count, sim13's collapsed 64-entry scale vector).

_BNLJ_OK = {"a29_cms_heavy_hitters", "sim13_int8_quant_error"}
_SINGLEPART_OK = {"a29_cms_heavy_hitters", "sim13_int8_quant_error"}


def _plan_of(spark, fn, sf_dir: str) -> str:
    df = fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_staged_pools_no_scale_killers(spark, sf_dir):
    violations = []
    for name in sorted(POOL_R12 + POOL):
        plan = _plan_of(spark, REG[name].fn, sf_dir)
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            violations.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if "SinglePartition" in plan and name not in _SINGLEPART_OK:
            violations.append(f"{name}: unexpected SinglePartition exchange")
    assert not violations, "\n".join(violations)


def test_tx16_vocab_join_is_broadcast(spark, sf_dir):
    """The membership join's build side is the vocab projected into the
    fixed 2^22 hash-bucket space — ≤ 2^22 BIGINT rows at ANY corpus scale
    (r12-verdict fix), so forcing a broadcast hash join is legitimate and
    a shuffled sort-merge (which would re-shuffle the whole tokenized
    corpus on the join key) must not appear."""
    plan = _plan_of(spark, REG["tx16_bigram_vocab_coverage"].fn, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # The pin that would have caught the original defect (the r12 verdict
    # flag): the join must be keyed on the BOUNDED hashed bucket (hb),
    # never the raw bigram string — a plan-level guarantee the build side
    # is <= 2^22 rows.  The bucket projection must appear in the plan.
    import re

    from ifcb_data_pipeline_spark.queries.text import TX16_BUCKETS

    lk = re.search(r"Left keys \[1\]: \[(\w+)#", plan)
    rk = re.search(r"Right keys \[1\]: \[(\w+)#", plan)
    assert lk and rk, "BroadcastHashJoin keys not found in formatted plan"
    assert lk.group(1) == "hb" and rk.group(1) == "hb", (
        f"membership join keyed on ({lk.group(1)}, {rk.group(1)}), not the "
        "bounded hash bucket"
    )
    assert f"% {TX16_BUCKETS}" in plan, "fixed bucket-space projection missing"


def test_pk4_has_no_window_and_two_corpus_scans(spark, sf_dir):
    """pk4's boundary detection + interval construction live in array
    higher-order functions on the document row: no Window operator.  The
    chunk stream is derived twice (dup-agg side and probe side — the same
    recompute-over-checkpoint call dd20 makes), so exactly two pushed
    parquet scans and no more."""
    import re

    plan = _plan_of(spark, REG["pk4_cdc_chunking"].fn, sf_dir)
    assert "Window" not in plan, "pk4 regressed to the window/join-back shape"
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_sim13_scale_invariance_law():
    # quantization is scale-free: doubling a dimension doubles its scale
    # and leaves every q untouched (structural, data-free)
    xs = [0.31, -0.5, 0.02, 0.499999]
    s = max(abs(x) for x in xs)

    def q(x, sc):
        return max(-127, min(127, math.floor(x * 127.0 / sc + 0.5)))

    assert [q(2 * x, 2 * s) for x in xs] == [q(x, s) for x in xs]
