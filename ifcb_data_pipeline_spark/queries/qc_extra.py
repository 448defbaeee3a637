"""Remaining SURVEY §2 inventory: geospatial predicates (J9), PSD fits
(U13), the WoRMS-resolver pattern (C4/C5), and small aggregation shapes
(A9/A15/A16, F6/F11)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.geo import tag_basins_rect
from ..operators.psd import psd_flags, psd_powerlaw_fit, size_histogram
from . import register
from ._util import LAT_SQL, LON_SQL, dround, hash32, lat_expr, lon_expr, tables

# --- J9: geospatial basin tagging + near-land ------------------------------
J9_SQL = """
WITH pts AS (
    SELECT c_custkey,
           (54.0 + (c_custkey % 600) / 100.0) AS lat,
           (10.0 + (c_custkey % 1200) / 100.0) AS lon
    FROM customer
),
tagged AS (
    SELECT c_custkey, lat, lon,
           CASE
             WHEN lat >= 57.5 AND lat <= 59.5 AND lon >= 8.0 AND lon <= 11.0
               THEN 'Skagerrak'
             WHEN lat >= 55.5 AND lat <= 57.5 AND lon >= 10.0 AND lon <= 13.0
               THEN 'Kattegat'
             WHEN lat >= 54.0 AND lat <= 60.0 AND lon >= 13.0 AND lon <= 22.0
               THEN 'Baltic Proper'
             ELSE NULL
           END AS basin
    FROM pts
)
SELECT c_custkey, lat, lon, basin,
       (basin = 'Baltic Proper') AS in_baltic,
       CASE basin
         WHEN 'Skagerrak' THEN
           (lat - 57.5 < 0.1 OR 59.5 - lat < 0.1 OR lon - 8.0 < 0.1 OR 11.0 - lon < 0.1)
         WHEN 'Kattegat' THEN
           (lat - 55.5 < 0.1 OR 57.5 - lat < 0.1 OR lon - 10.0 < 0.1 OR 13.0 - lon < 0.1)
         WHEN 'Baltic Proper' THEN
           (lat - 54.0 < 0.1 OR 60.0 - lat < 0.1 OR lon - 13.0 < 0.1 OR 22.0 - lon < 0.1)
         ELSE FALSE
       END AS near_land
FROM tagged
"""


@register("j9_basin_tagging", J9_SQL, survey_ref="SURVEY §2.4 J9; Rmd:722-736")
def j9_basin_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = tables(spark, sf_dir, "customer")
    pts = customer.select(
        "c_custkey",
        lat_expr(F.col("c_custkey")).alias("lat"),
        lon_expr(F.col("c_custkey")).alias("lon"),
    )
    out = tag_basins_rect(pts)
    # Align null-handling with SQL: CASE yields NULL in_baltic for NULL
    # basin; tag_basins_rect yields NULL there too (null == literal).
    return out.select(
        "c_custkey", "lat", "lon", "basin", "in_baltic",
        F.coalesce(F.col("near_land"), F.lit(False)).alias("near_land"),
    )


# --- J9b: exact polygon tagging (numpy ray-cast kernel vs SQL mirror) ------
# The mapInPandas geometry kernel checked value-for-value against a SQL
# transliteration of the same ray-casting + point-segment-distance math
# (an L-shaped, non-convex test basin over the pseudo-coordinates).
_J9B_RING = [
    (10.0, 54.0), (18.0, 54.0), (18.0, 57.0),
    (14.0, 57.0), (14.0, 60.0), (10.0, 60.0),
]


def _j9b_inside_sql(x: str, y: str) -> str:
    terms = []
    for i, (ax, ay) in enumerate(_J9B_RING):
        bx, by = _J9B_RING[(i + 1) % len(_J9B_RING)]
        if ay == by:  # kernel skips horizontal edges
            continue
        terms.append(
            f"(CASE WHEN (({ay!r} > {y}) <> ({by!r} > {y}))"
            f" AND ({x} < ({bx!r} - {ax!r}) * ({y} - {ay!r}) / ({by!r} - {ay!r}) + {ax!r})"
            " THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _j9b_dist_sql(x: str, y: str) -> str:
    ds = []
    for i, (ax, ay) in enumerate(_J9B_RING):
        bx, by = _J9B_RING[(i + 1) % len(_J9B_RING)]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        t = (
            f"least(greatest(((({x}) - {ax!r}) * {dx!r}"
            f" + (({y}) - {ay!r}) * {dy!r}) / {seg2!r}, 0.0), 1.0)"
        )
        u = f"(({x}) - ({ax!r} + {t} * {dx!r}))"
        v = f"(({y}) - ({ay!r} + {t} * {dy!r}))"
        ds.append(f"sqrt({u} * {u} + {v} * {v})")
    return "least(" + ", ".join(ds) + ")"


J9B_SQL = f"""
WITH pts AS (
    SELECT c_custkey,
           {LAT_SQL.format(k="c_custkey")} AS lat,
           {LON_SQL.format(k="c_custkey")} AS lon
    FROM customer
)
SELECT c_custkey, lat, lon,
       CASE WHEN {_j9b_inside_sql("lon", "lat")} THEN 'L' ELSE NULL END AS basin,
       CASE WHEN {_j9b_inside_sql("lon", "lat")}
            THEN ({_j9b_dist_sql("lon", "lat")} < 0.05) ELSE FALSE
       END AS near_land
FROM pts
"""


@register("j9b_polygon_tagging", J9B_SQL, survey_ref="SURVEY §2.4 J9 exact path; Rmd:722-736")
def j9b_polygon_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import tag_polygons

    (customer,) = tables(spark, sf_dir, "customer")
    pts = customer.select(
        "c_custkey",
        lat_expr(F.col("c_custkey")).alias("lat"),
        lon_expr(F.col("c_custkey")).alias("lon"),
    )
    out = tag_polygons(pts, [("L", _J9B_RING)], near_margin_deg=0.05)
    return out.select("c_custkey", "lat", "lon", "basin", "near_land")


# --- U13: PSD power-law fit + full flag vocabulary, both profiles ---------
# "Particles" are lineitem rows; the per-sample unit is the supplier.
# Synthetic stat mapping (documented so the oracle mirrors it exactly):
# size_px = l_quantity*30 (pixel ESD), 5-px bins fitted from the
# reference's start_fit=15; triggers = rows*25, ml = avg(l_discount)*100,
# cell_ratio = share of 'N' returnflags, biomass_stat = avg(l_tax)*1e5,
# humidity = (sample*37) % 100.  Both reference threshold profiles
# (Rmd:651-669 vs ingest_and_qc.R:500-518) are evaluated side by side —
# they diverge on missing_cells, biomass and micron_factor.
_U13_FLAG_SQL = """
       nullif(concat_ws(', ',
           CASE WHEN r2 < {r_sqr} THEN 'Poor fit' END,
           CASE WHEN afit > {beads} THEN 'Beads' END,
           CASE WHEN peak_bin * 5.0 * {micron_factor} >= {bubbles} THEN 'Bubbles' END,
           CASE WHEN triggers < {inc0} OR ml_analyzed < {inc1} THEN 'Incomplete Run' END,
           CASE WHEN cell_ratio < {missing_cells} THEN 'Missing cells' END,
           CASE WHEN biomass_stat < {biomass} THEN 'Biomass' END,
           CASE WHEN peak_n > {bloom} * avg_n THEN 'Bloom' END,
           CASE WHEN humidity > {humidity} THEN 'Humidity' END), '')
"""


def _u13_sql() -> str:
    from ..operators.psd import PROFILE_INGEST, PROFILE_PIPELINE

    def flag_expr(p):
        return _U13_FLAG_SQL.format(
            r_sqr=p.r_sqr,
            beads=p.beads,
            micron_factor=repr(p.micron_factor),
            bubbles=p.bubbles,
            inc0=p.incomplete[0],
            inc1=p.incomplete[1],
            missing_cells=p.missing_cells,
            biomass=p.biomass,
            bloom=p.bloom,
            humidity=p.humidity,
        )

    return f"""
WITH hist AS (
    SELECT l_suppkey AS sample, floor(l_quantity * 30.0 / 5.0)::INT AS bin,
           count(*)::BIGINT AS n
    FROM lineitem
    WHERE floor(l_quantity * 30.0 / 5.0) >= 15
    GROUP BY 1, 2
),
logged AS (
    SELECT sample, log10(bin::DOUBLE) AS x, log10(n::DOUBLE) AS y FROM hist
),
fitted AS (
    SELECT sample, count(*)::BIGINT AS n_bins,
           covar_pop(x, y) AS cxy, var_pop(x) AS vx, var_pop(y) AS vy,
           avg(y) AS my, avg(x) AS mx
    FROM logged GROUP BY sample
),
hstats AS (
    SELECT h.sample,
           min(CASE WHEN h.n = m.max_n THEN h.bin END)::INT AS peak_bin,
           max(m.max_n)::BIGINT AS peak_n,
           avg(h.n) AS avg_n
    FROM hist h
    JOIN (SELECT sample, max(n) AS max_n FROM hist GROUP BY sample) m
      ON h.sample = m.sample
    GROUP BY h.sample
),
rstats AS (
    SELECT l_suppkey AS sample,
           count(*) * 25.0 AS triggers,
           avg(l_discount) * 100.0 AS ml_analyzed,
           avg(CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END) AS cell_ratio,
           avg(l_tax) * 100000.0 AS biomass_stat,
           (l_suppkey * 37) % 100 AS humidity
    FROM lineitem GROUP BY l_suppkey
),
full_stats AS (
    SELECT f.sample, f.n_bins,
           pow(10.0, f.my - (f.cxy / f.vx) * f.mx) AS afit,
           f.cxy / f.vx AS kfit,
           CASE WHEN f.vx > 0 AND f.vy > 0
                THEN (f.cxy * f.cxy) / (f.vx * f.vy) END AS r2,
           h.peak_bin, h.peak_n, h.avg_n,
           r.triggers, r.ml_analyzed, r.cell_ratio, r.biomass_stat, r.humidity
    FROM fitted f
    JOIN hstats h ON f.sample = h.sample
    JOIN rstats r ON f.sample = r.sample
    WHERE f.n_bins >= 3 AND f.vx > 0
)
SELECT sample, n_bins,
       floor(afit * 1000000.0 + 0.5) / 1000000.0 AS a,
       floor(kfit * 1000000.0 + 0.5) / 1000000.0 AS k,
       floor(r2 * 1000000.0 + 0.5) / 1000000.0 AS r_sqr,
       {flag_expr(PROFILE_PIPELINE)} AS flag_pipeline,
       {flag_expr(PROFILE_INGEST)} AS flag_ingest
FROM full_stats
"""


U13_SQL = _u13_sql()


@register("u13_psd_fit", U13_SQL, survey_ref="SURVEY §2.9 U13; Rmd:651-669, ingest_and_qc.R:500-518")
def u13_psd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.psd import PROFILE_INGEST, PROFILE_PIPELINE

    (lineitem,) = tables(spark, sf_dir, "lineitem")
    sized = lineitem.select(
        F.col("l_suppkey").alias("sample"),
        (F.col("l_quantity") * 30.0).alias("size_px"),
        "l_returnflag",
        "l_discount",
        "l_tax",
    )
    hist = size_histogram(
        sized, "sample", "size_px", bin_width=5.0, min_bin=PROFILE_PIPELINE.start_fit
    )
    fits = psd_powerlaw_fit(hist)
    max_n = hist.groupBy("sample").agg(F.max("n").alias("max_n"))
    hstats = (
        hist.join(max_n, "sample")
        .groupBy("sample")
        .agg(
            # deterministic argmax: smallest bin among the tied maxima
            F.min(F.when(F.col("n") == F.col("max_n"), F.col("bin")))
            .cast("int")
            .alias("peak_bin"),
            F.max("max_n").alias("peak_n"),
            F.avg("n").alias("avg_n"),
        )
    )
    rstats = sized.groupBy("sample").agg(
        (F.count(F.lit(1)) * 25.0).alias("triggers"),
        (F.avg("l_discount") * 100.0).alias("ml_analyzed"),
        F.avg(F.when(F.col("l_returnflag") == "N", 1.0).otherwise(0.0)).alias(
            "cell_ratio"
        ),
        (F.avg("l_tax") * 100000.0).alias("biomass_stat"),
    ).withColumn("humidity", F.col("sample") * 37 % 100)
    full = fits.join(hstats, "sample").join(rstats, "sample")
    flagged = psd_flags(full, PROFILE_PIPELINE, bin_width=5.0).withColumnRenamed(
        "flag", "flag_pipeline"
    )
    flagged = psd_flags(flagged, PROFILE_INGEST, bin_width=5.0).withColumnRenamed(
        "flag", "flag_ingest"
    )
    return (
        flagged.select(
            "sample",
            "n_bins",
            dround(F.col("a"), 6).alias("a"),
            dround(F.col("k"), 6).alias("k"),
            dround(F.col("r_sqr"), 6).alias("r_sqr"),
            "flag_pipeline",
            "flag_ingest",
        )
    )


# --- C4: external-resolver pattern (WoRMS stand-in) ------------------------
# Distinct names resolved once, result broadcast-joined back — never a
# per-row API call (clean_taxa_fn.R:98-177 re-architected).  The hermetic
# "resolver" derives an aphia_id from the name hash.
C4_SQL = """
WITH names AS (
    SELECT DISTINCT p_brand AS class_name FROM part
),
resolved AS (
    SELECT class_name,
           (('0x' || substr(md5(class_name), 1, 8))::BIGINT % 900000) AS aphia_id,
           CASE WHEN ('0x' || substr(md5(class_name), 1, 8))::BIGINT % 3 = 0
                THEN 'Species' ELSE 'Genus' END AS rank
    FROM names
)
SELECT p.p_partkey, p.p_brand AS class_name, r.aphia_id, r.rank
FROM part p LEFT JOIN resolved r ON p.p_brand = r.class_name
"""


@register("c4_taxa_resolver", C4_SQL, survey_ref="SURVEY §2.8 C4; clean_taxa_fn.R:98-177")
def c4_taxa_resolver(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    names = part.select(F.col("p_brand").alias("class_name")).dropDuplicates()
    h = hash32(F.col("class_name"))
    resolved = names.select(
        "class_name",
        (h % 900000).alias("aphia_id"),
        F.when(h % 3 == 0, "Species").otherwise("Genus").alias("rank"),
    )
    return part.join(
        F.broadcast(resolved), part.p_brand == resolved.class_name, "left"
    ).select("p_partkey", "class_name", "aphia_id", "rank")


# --- C5: trophic-type / is-diatom lookup -----------------------------------
C5_SQL = """
SELECT p_partkey, p_type,
       CASE WHEN p_type = 'ECONOMY' THEN 'AU'
            WHEN p_type = 'SMALL' THEN 'HT'
            ELSE 'NS' END AS trophic_type,
       (p_type = 'ECONOMY') AS is_diatom
FROM part
"""


@register("c5_trophic_lookup", C5_SQL, survey_ref="SURVEY §2.8 C5")
def c5_trophic_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    lookup = spark.createDataFrame(
        [("ECONOMY", "AU", True), ("SMALL", "HT", False)],
        ["p_type", "trophic_type", "is_diatom"],
    )
    return part.join(F.broadcast(lookup), "p_type", "left").select(
        "p_partkey",
        "p_type",
        F.coalesce("trophic_type", F.lit("NS")).alias("trophic_type"),
        F.coalesce("is_diatom", F.lit(False)).alias("is_diatom"),
    )


# --- A9: count per class ---------------------------------------------------
A9_SQL = """
SELECT p.p_brand AS class, count(*)::BIGINT AS n_images
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


@register("a9_class_counts", A9_SQL, survey_ref="SURVEY §2.5 A9; merge_png_datasets.R:52-76")
def a9_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("class"))
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


# --- A15/A16: mean-collapse + replicate averaging --------------------------
# mean from an exact integer cents sum — see a4/a17: round4(mean of
# 2-decimal values) sits on floor boundaries, and double-sum order
# noise between the engines flips it at scale.
A15_SQL = """
SELECT c.c_mktsegment, p.p_type, year(o.o_orderdate)::INT AS year,
       floor(sum(floor(l.l_extendedprice * 100.0 + 0.5)::BIGINT)::DOUBLE
             * 100.0 / count(*) + 0.5) / 10000.0 AS mean_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2, 3
"""


@register("a15_mean_collapse", A15_SQL, survey_ref="SURVEY §2.5 A15-A16; compare_microscopy.R:99-121")
def a15_mean_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, part = tables(
        spark, sf_dir, "lineitem", "orders", "customer", "part"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("c_mktsegment", "p_type", F.year("o_orderdate").alias("year"))
        .agg(
            (
                F.floor(
                    F.sum(
                        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast(
                            "long"
                        )
                    ).cast("double")
                    * 100.0
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("mean_price")
        )
    )


# --- F6/F11: regional + missing-position filters ---------------------------
F6_SQL = """
WITH pts AS (
    SELECT c_custkey,
           (54.0 + (c_custkey % 600) / 100.0) AS lat,
           (10.0 + (c_custkey % 1200) / 100.0) AS lon
    FROM customer
)
SELECT c_custkey FROM pts
WHERE (lat >= 54.0 AND lat <= 60.0 AND lon >= 13.0 AND lon <= 22.0)
  AND NOT (lat >= 57.5 AND lat <= 59.5 AND lon >= 8.0 AND lon <= 11.0)
  AND NOT (lat >= 55.5 AND lat <= 57.5 AND lon >= 10.0 AND lon <= 13.0)
"""


@register("f6_regional_filter", F6_SQL, survey_ref="SURVEY §2.3 F6; Rmd:1159-1168")
def f6_regional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = tables(spark, sf_dir, "customer")
    pts = customer.select(
        "c_custkey",
        lat_expr(F.col("c_custkey")).alias("lat"),
        lon_expr(F.col("c_custkey")).alias("lon"),
    )
    tagged = tag_basins_rect(pts)
    return tagged.where(F.col("in_baltic")).select("c_custkey")


F11_SQL = """
SELECT event_id FROM events WHERE value * 20 > 600
"""


@register("f11_missing_position_filter", F11_SQL, survey_ref="SURVEY §2.3 F11; Rmd:262")
def f11_missing_position_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    stale = (F.col("value") * 20) > 600
    pts = events.select(
        "event_id", F.when(stale, None).otherwise(lat_expr(F.col("user_id"))).alias("lat")
    )
    return pts.where(F.col("lat").isNull()).select("event_id")


# --- QC flag unification (Rmd:757-766) -------------------------------------
# PSD flags ⟗ geo flags by sample, unite into one sentence-case string.
QF_SQL = """
WITH psd AS (
    SELECT l_suppkey AS sample, 'bubbles' AS psd_flag
    FROM lineitem GROUP BY l_suppkey HAVING avg(l_discount) > 0.05
),
geo AS (
    SELECT s_suppkey AS sample, 'near land' AS geo_flag
    FROM supplier WHERE s_suppkey % 3 = 0
)
SELECT coalesce(psd.sample, geo.sample) AS sample,
       CASE WHEN concat_ws(', ', psd_flag, geo_flag) = '' THEN NULL
            ELSE upper(substr(concat_ws(', ', psd_flag, geo_flag), 1, 1))
                 || substr(concat_ws(', ', psd_flag, geo_flag), 2)
       END AS flag
FROM psd FULL OUTER JOIN geo ON psd.sample = geo.sample
"""


@register("qf_flag_unification", QF_SQL, survey_ref="SURVEY §3.1 step 7; Rmd:757-766")
def qf_flag_unification(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier = tables(spark, sf_dir, "lineitem", "supplier")
    psd = (
        lineitem.groupBy(F.col("l_suppkey").alias("sample"))
        .agg(F.avg("l_discount").alias("avg_disc"))
        .where(F.col("avg_disc") > 0.05)
        .select("sample", F.lit("bubbles").alias("psd_flag"))
    )
    geo = supplier.where(F.col("s_suppkey") % 3 == 0).select(
        F.col("s_suppkey").alias("sample"), F.lit("near land").alias("geo_flag")
    )
    united = psd.join(geo, "sample", "full_outer")
    flag = F.concat_ws(", ", "psd_flag", "geo_flag")
    sentence = F.concat(F.upper(F.substring(flag, 1, 1)), F.expr("substring(concat_ws(', ', psd_flag, geo_flag), 2)"))
    return united.select(
        "sample",
        F.when(flag == "", None).otherwise(sentence).alias("flag"),
    )


# --- S6: JSON scan into a typed map ---------------------------------------
S6_SQL = """
SELECT event_id,
       json_extract_string(props, '$.k')::INT AS k,
       (json_extract_string(props, '$.k')::INT BETWEEN 0 AND 49) AS k_in_range
FROM events
"""


@register("s6_json_scan", S6_SQL, survey_ref="SURVEY §2.1 S6; delivery_to_shark.R:265-266")
def s6_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        F.from_json("props", "k INT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.col("p.k").between(0, 49).alias("k_in_range"),
    )


# --- U13b: nonlinear PSD fit via applyInPandas (consistency oracle) --------
# The reference's estimator: nonlinear curve_fit of n = a*bin^k in
# linear space from start_fit up (vs u13's closed-form log-log OLS).
# Driver-checkable oracle (VERDICT r3 item 3): the fit runs over
# synthetic EXACT power-law histograms — 100 samples, a_s = 50 + 10*s,
# k_s = -1.5 - 0.02*s, bins 15..34 — so the Gauss-Newton estimator must
# recover the generating parameters (r² = 1) and the oracle recomputes
# them closed-form in SQL.  An estimator regression (wrong Jacobian,
# broken damping, bad init) breaks the recovery and the hash.  The
# divergence-from-OLS behavior on noisy data stays pytest-verified
# (tests/test_psd.py); u13 covers the real-table fit path with its own
# oracle.  sf-independent by design so the oracle holds at every scale.
U13B_SQL = """
SELECT s::BIGINT AS sample, 20::BIGINT AS n_bins,
       floor((50.0 + 10.0 * s) * 1000000.0 + 0.5) / 1000000.0 AS a,
       floor((-1.5 - 0.02 * s) * 1000000.0 + 0.5) / 1000000.0 AS k,
       1.0::DOUBLE AS r_sqr
FROM unnest(range(100)) AS t(s)
"""


@register("u13b_psd_fit_pandas", U13B_SQL, survey_ref="SURVEY §2.9 U13 nonlinear estimator")
def u13b_psd_fit_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.psd import psd_fit_nls

    samples = spark.range(100).select(
        F.col("id").alias("sample"),
        (50.0 + 10.0 * F.col("id")).alias("a_true"),
        (-1.5 - 0.02 * F.col("id")).alias("k_true"),
    )
    hist = samples.select(
        "sample",
        F.explode(F.sequence(F.lit(15), F.lit(34))).alias("bin"),
        "a_true",
        "k_true",
    ).select(
        "sample",
        "bin",
        (F.col("a_true") * F.pow(F.col("bin").cast("double"), F.col("k_true"))).alias("n"),
    )
    fits = psd_fit_nls(hist)
    return fits.select(
        "sample", "n_bins",
        dround(F.col("a"), 6).alias("a"),
        dround(F.col("k"), 6).alias("k"),
        dround(F.col("r_sqr"), 6).alias("r_sqr"),
    )


# --- S6b: JSON-column extraction (semi-structured payloads) -----------------
# s6 scans JSON FILES; s6b is the other semi-structured shape — a JSON
# string COLUMN riding inside a structured fact table (events.props).
# Extraction is a pure Catalyst expression (get_json_object — no UDF,
# fuses into the scan's codegen stage), so at 100 TB parsing costs are
# per-row JVM work inside the existing scan, and the aggregation after
# it is an ordinary two-phase groupBy.  Exact integers end to end.
S6B_SQL = """
WITH extracted AS (
    SELECT event_type,
           json_extract_string(props, '$.k')::BIGINT AS k,
           floor(value * 100.0 + 0.5)::BIGINT AS cents
    FROM events
)
SELECT event_type, (k // 10)::BIGINT AS k_decile,
       count(*)::BIGINT AS n,
       min(k)::BIGINT AS k_min, max(k)::BIGINT AS k_max,
       sum(cents)::BIGINT AS value_cents
FROM extracted GROUP BY event_type, k // 10
"""


@register("s6b_json_props_extract", S6B_SQL, survey_ref="SURVEY §2.1 S6 sibling: JSON column extraction (semi-structured payload in a fact table)")
def s6b_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    extracted = events.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return (
        extracted.groupBy(
            "event_type", F.floor(F.col("k") / 10).cast("long").alias("k_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
    )
