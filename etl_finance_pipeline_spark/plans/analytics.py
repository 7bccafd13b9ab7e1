"""Warehouse-analytics query pack: distinct-count sketches, graph
triangle counting, market-basket association rules, bloom-filter
pre-filtered joins, and Z-order layout statistics.

Every query has a DuckDB oracle that executes the IDENTICAL portable
arithmetic (md5-derived 60-bit hash words, integer harmonic sums,
``floor(x*1e6+0.5)/1e6`` rounding), so results hash-match exactly —
including the sketches' approximation error and the bloom filter's
false positives, which are deterministic by construction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.functions.scalar import portable_round
from etl_finance_pipeline_spark.sources.tables import load_table
from etl_finance_pipeline_spark.streaming.sink import (
    await_stream as _await_stream,
)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Shared SQL fragment: the two 60-bit md5 hash words (DuckDB side of
# operators/sketch.py::hash_word).
def _h1(col: str) -> str:
    return f"('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT"


def _h2(col: str) -> str:
    return f"('0x' || substr(md5(CAST({col} AS VARCHAR)), 16, 15))::BIGINT"


# --------------------------------------------------------------------
# HyperLogLog distinct users per event type
# --------------------------------------------------------------------

_HLL_B = 9
_HLL_M = 1 << _HLL_B
_HLL_W = 60 - _HLL_B
_HLL_S = _HLL_W + 1
#: alpha_m * m^2 * 2^S — computed ONCE here and embedded as the same
#: double literal in both engines (repr round-trips exactly).
_HLL_C = 0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * float(1 << _HLL_S)


def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type, HLL sketch vs exact — the
    side-by-side a warehouse runs to qualify a sketch before trusting
    it on data too big to count exactly."""
    from etl_finance_pipeline_spark.operators.sketch import hll_distinct

    ev = load_table(spark, _t(sf_dir, "events"))
    sketch = hll_distinct(ev, ["event_type"], "user_id", b=_HLL_B)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return sketch.join(exact, "event_type").select(
        "event_type", "hll_estimate", "exact_distinct"
    )


SQL_HLL_DISTINCT_USERS = f"""
WITH w AS (
  SELECT event_type, {_h1("user_id")} AS h FROM events
),
bk AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         CASE WHEN (h >> {_HLL_B}) = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(h >> {_HLL_B})) END AS rank
  FROM w
),
mx AS (
  SELECT event_type, bucket, max(rank) AS mrank FROM bk GROUP BY 1, 2
),
ag AS (
  SELECT event_type,
         CAST(sum((1::BIGINT << ({_HLL_S} - mrank))) AS BIGINT)
           + ({_HLL_M} - count(*)) * (1::BIGINT << {_HLL_S}) AS intsum,
         {_HLL_M} - count(*) AS empty
  FROM mx GROUP BY 1
),
est AS (
  SELECT event_type,
         CASE WHEN ({_HLL_C!r} / intsum) <= {2.5 * _HLL_M} AND empty > 0
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(empty AS DOUBLE))
              ELSE {_HLL_C!r} / intsum END AS e
  FROM ag
)
SELECT est.event_type,
       floor(e * 1000000 + 0.5) / 1000000 AS hll_estimate,
       x.exact_distinct
FROM est
JOIN (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
) x ON est.event_type = x.event_type
"""


# --------------------------------------------------------------------
# KMV distinct users per event type
# --------------------------------------------------------------------

_KMV_K = 64


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same qualification query through the K-Minimum-Values sketch
    (mergeable min-k of hashes; exact below k distincts)."""
    from etl_finance_pipeline_spark.operators.sketch import kmv_distinct

    ev = load_table(spark, _t(sf_dir, "events"))
    sketch = kmv_distinct(ev, ["event_type"], "user_id", k=_KMV_K)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return sketch.join(exact, "event_type").select(
        "event_type", "kmv_estimate", "exact_distinct"
    )


SQL_KMV_DISTINCT_USERS = f"""
WITH d AS (
  SELECT DISTINCT event_type, {_h1("user_id")} AS h FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
t AS (
  SELECT event_type, max(rn) AS nk, max(h) AS hk
  FROM r WHERE rn <= {_KMV_K} GROUP BY 1
)
SELECT t.event_type,
       floor((CASE WHEN nk < {_KMV_K} THEN CAST(nk AS DOUBLE)
                   ELSE {float(_KMV_K - 1) * float(1 << 60)!r} / hk END)
             * 1000000 + 0.5) / 1000000 AS kmv_estimate,
       x.exact_distinct
FROM t
JOIN (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
) x ON t.event_type = x.event_type
"""


# --------------------------------------------------------------------
# Triangle count over the part co-purchase graph
# --------------------------------------------------------------------


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts ordered
    together), via degree-oriented wedge counting — the clustering
    signal behind "customers who buy these two also buy...". The
    oracle counts the same triangles with the textbook u<v<w
    three-way self-join; equality of the two formulations is itself
    part of the check."""
    from etl_finance_pipeline_spark.operators.graph import triangle_count

    li = load_table(spark, _t(sf_dir, "lineitem")).select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    return triangle_count(edges)


SQL_TRIANGLES = """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e a
JOIN e b ON b.u = a.u AND b.v > a.v
JOIN e c ON c.u = a.v AND c.v = b.v
"""


# --------------------------------------------------------------------
# Market-basket association rules over brands
# --------------------------------------------------------------------

_AR_MIN_SUPPORT = 40
_AR_MAX_BASKET = 64


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand→brand association rules (support / confidence / lift)
    from order baskets."""
    from etl_finance_pipeline_spark.operators.association import association_rules

    li = load_table(spark, _t(sf_dir, "lineitem")).select("l_orderkey", "l_partkey")
    part = load_table(spark, _t(sf_dir, "part")).select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    return association_rules(
        baskets,
        "l_orderkey",
        "p_brand",
        min_support=_AR_MIN_SUPPORT,
        max_basket_items=_AR_MAX_BASKET,
    ).select("antecedent", "consequent", "pair_support", "confidence", "lift")


SQL_ASSOC_RULES = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
kept_ids AS (
  SELECT basket FROM baskets GROUP BY basket
  HAVING count(*) <= {_AR_MAX_BASKET}
),
kept AS (SELECT b.* FROM baskets b JOIN kept_ids USING (basket)),
nb AS (SELECT count(*) AS n FROM kept_ids),
supp AS (SELECT item, count(*) AS s FROM kept GROUP BY 1),
pairs AS (
  SELECT a.item AS x, b.item AS y, CAST(count(*) AS BIGINT) AS ps
  FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {_AR_MIN_SUPPORT}
),
directed AS (
  SELECT x AS antecedent, y AS consequent, ps FROM pairs
  UNION ALL
  SELECT y AS antecedent, x AS consequent, ps FROM pairs
)
SELECT d.antecedent, d.consequent, d.ps AS pair_support,
       floor((d.ps / sa.s) * 1000000 + 0.5) / 1000000 AS confidence,
       floor(((d.ps / sa.s) / (sb.s / CAST(nb.n AS DOUBLE))) * 1000000 + 0.5)
         / 1000000 AS lift
FROM directed d
JOIN supp sa ON d.antecedent = sa.item
JOIN supp sb ON d.consequent = sb.item, nb
"""


# --------------------------------------------------------------------
# Bloom-filter pre-filtered semi-join
# --------------------------------------------------------------------

_BLOOM_BITS = 10  # m = 1024: small enough that false positives occur,
_BLOOM_K = 3  # making the FPR part of what the oracle verifies
_BLOOM_BAL = 9000.0


def q_bloom_semi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders surviving a bloom pre-filter built over high-balance
    customers, vs the exact member count — the (pass, true-match)
    pair that measures the filter's false-positive rate, with the
    probe side never shuffled."""
    from etl_finance_pipeline_spark.operators.bloom import bloom_build, bloom_probe

    cust = load_table(spark, _t(sf_dir, "customer"))
    build = cust.filter(F.col("c_acctbal") > _BLOOM_BAL).select("c_custkey")
    bloom = bloom_build(build, "c_custkey", bits=_BLOOM_BITS, k=_BLOOM_K)
    orders = load_table(spark, _t(sf_dir, "orders")).select("o_orderkey", "o_custkey")
    passed = bloom_probe(orders, "o_custkey", bloom, bits=_BLOOM_BITS, k=_BLOOM_K)
    flagged = passed.join(
        F.broadcast(build.withColumnRenamed("c_custkey", "o_custkey")).withColumn(
            "_m", F.lit(1)
        ),
        "o_custkey",
        "left",
    )
    return flagged.agg(
        F.count("*").alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("n_true_match"),
    )


_BLOOM_M = 1 << _BLOOM_BITS
SQL_BLOOM_SEMI_ORDERS = f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_BAL}
),
pos AS (
  SELECT DISTINCT ({_h1("c_custkey")} + i.i * {_h2("c_custkey")}) % {_BLOOM_M} AS pos
  FROM build, (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i) i
),
probe AS (
  SELECT o_orderkey, o_custkey,
         {_h1("o_custkey")} AS h1, {_h2("o_custkey")} AS h2
  FROM orders
),
pass AS (
  SELECT o_orderkey, o_custkey FROM probe
  WHERE (h1 + 0 * h2) % {_BLOOM_M} IN (SELECT pos FROM pos)
    AND (h1 + 1 * h2) % {_BLOOM_M} IN (SELECT pos FROM pos)
    AND (h1 + 2 * h2) % {_BLOOM_M} IN (SELECT pos FROM pos)
)
SELECT CAST(count(*) AS BIGINT) AS n_bloom_pass,
       CAST(count(*) FILTER (WHERE o_custkey IN (SELECT c_custkey FROM build))
            AS BIGINT) AS n_true_match
FROM pass
"""


# --------------------------------------------------------------------
# Z-order layout statistics
# --------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dim -> 16-bit z-value
_Z_FILE_SHIFT = 10  # top 6 bits -> 64 z-range files


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file min/max statistics after Z-order bucketing orders by
    (customer, total price): the data-skipping footprint a lakehouse
    OPTIMIZE ZORDER write would produce. Tight per-file ranges on
    BOTH columns — which the oracle verifies value-for-value — are
    the whole point of the curve. No global sort: the file id comes
    from the z-value's top bits, a pure map."""
    from etl_finance_pipeline_spark.functions.layout import quantize, zvalue

    orders = load_table(spark, _t(sf_dir, "orders"))
    mm = F.broadcast(
        orders.agg(
            F.min("o_custkey").alias("ck_lo"),
            F.max("o_custkey").alias("ck_hi"),
            F.min("o_totalprice").alias("tp_lo"),
            F.max("o_totalprice").alias("tp_hi"),
        )
    )
    q = orders.crossJoin(mm)
    qx = quantize(F.col("o_custkey"), F.col("ck_lo"), F.col("ck_hi"), _Z_BITS)
    qy = quantize(F.col("o_totalprice"), F.col("tp_lo"), F.col("tp_hi"), _Z_BITS)
    z = zvalue(qx, qy, _Z_BITS)
    return (
        q.withColumn("_file", F.shiftright(z, _Z_FILE_SHIFT))
        .groupBy(F.col("_file").alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("ck_min"),
            F.max("o_custkey").alias("ck_max"),
            portable_round(F.min("o_totalprice"), 2).alias("tp_min"),
            portable_round(F.max("o_totalprice"), 2).alias("tp_max"),
        )
    )


def _z_interleave_sql(x: str, y: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) % 2) << {2 * i})")
        terms.append(f"((({y} >> {i}) % 2) << {2 * i + 1})")
    return " + ".join(terms)


_Z_CELLS = (1 << _Z_BITS) - 1
SQL_ZORDER_STATS = f"""
WITH mm AS (
  SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         min(o_totalprice) AS tp_lo, max(o_totalprice) AS tp_hi
  FROM orders
),
q AS (
  SELECT o_custkey, o_totalprice,
         least(CAST(CASE WHEN (ck_hi - ck_lo) = 0 THEN 0
               ELSE floor(CAST(o_custkey - ck_lo AS DOUBLE)
                          / CAST(ck_hi - ck_lo AS DOUBLE) * {_Z_CELLS}) END
               AS BIGINT), {_Z_CELLS}) AS qx,
         least(CAST(CASE WHEN (tp_hi - tp_lo) = 0 THEN 0
               ELSE floor(CAST(o_totalprice - tp_lo AS DOUBLE)
                          / CAST(tp_hi - tp_lo AS DOUBLE) * {_Z_CELLS}) END
               AS BIGINT), {_Z_CELLS}) AS qy
  FROM orders, mm
),
z AS (
  SELECT o_custkey, o_totalprice,
         ({_z_interleave_sql("qx", "qy", _Z_BITS)}) >> {_Z_FILE_SHIFT} AS file_id
  FROM q
)
SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
       floor(min(o_totalprice) * 100 + 0.5) / 100 AS tp_min,
       floor(max(o_totalprice) * 100 + 0.5) / 100 AS tp_max
FROM z GROUP BY 1
"""


# --------------------------------------------------------------------
# Count-min heavy hitters
# --------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 1024
_CMS_FRAC = 0.004  # report keys whose ESTIMATE >= 0.4% of the stream


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by Count-Min estimate (users above 0.4% of the
    event stream), with exact counts alongside so the sketch's
    guaranteed-overcount property is visible in the output. The
    sketch is d x w = 4096 counters regardless of stream size; the
    probe is a broadcast join."""
    from etl_finance_pipeline_spark.operators.sketch import (
        cms_estimate,
        count_min_sketch,
    )

    ev = load_table(spark, _t(sf_dir, "events"))
    sketch = count_min_sketch(ev, "user_id", d=_CMS_D, w_buckets=_CMS_W)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    est = cms_estimate(exact, sketch, "user_id", d=_CMS_D, w_buckets=_CMS_W)
    total = F.broadcast(ev.agg(F.count("*").alias("_n")))
    return (
        est.join(exact, "user_id")
        .crossJoin(total)
        .filter(F.col("cms_estimate") >= F.lit(_CMS_FRAC) * F.col("_n"))
        .select("user_id", "cms_estimate", "exact_count")
    )


SQL_HEAVY_HITTERS_CMS = f"""
WITH h AS (
  SELECT user_id, {_h1("user_id")} AS h1, {_h2("user_id")} AS h2 FROM events
),
cells AS (
  SELECT user_id, i.i AS row, (h1 + i.i * h2) % {_CMS_W} AS bucket
  FROM h, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i) i
),
sketch AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count FROM events GROUP BY 1
),
keycells AS (
  SELECT DISTINCT user_id, i.i AS row,
         ({_h1("user_id")} + i.i * {_h2("user_id")}) % {_CMS_W} AS bucket
  FROM exact, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i) i
),
est AS (
  SELECT k.user_id, min(s.cnt) AS cms_estimate
  FROM keycells k JOIN sketch s ON k.row = s.row AND k.bucket = s.bucket
  GROUP BY 1
),
total AS (SELECT count(*) AS n FROM events)
SELECT e.user_id, e.cms_estimate, x.exact_count
FROM est e JOIN exact x ON e.user_id = x.user_id, total
WHERE e.cms_estimate >= {_CMS_FRAC} * total.n
"""


# --------------------------------------------------------------------
# Source distribution drift (KL / JS divergence)
# --------------------------------------------------------------------


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift of each document source against the
    whole corpus: KL(source || corpus) and Jensen-Shannon divergence
    — the monitoring a training-data pipeline runs to catch one
    source's language shifting before it contaminates a data mix.

    The join only materializes words PRESENT in the source (p > 0);
    corpus words the source lacks contribute q*ln2 to the JS q-side
    in closed form via the source's covered corpus mass (1 - sum q
    over joined words), so no outer join or per-source corpus
    re-expansion is needed. Shape: one token explode, three
    map-side-combinable counts, broadcast-joined totals, one final
    per-source sum.
    """
    from etl_finance_pipeline_spark.functions.text import tokens

    docs = load_table(spark, _t(sf_dir, "documents"))
    toks = docs.select("source", F.explode(tokens("text")).alias("w"))
    src_w = toks.groupBy("source", "w").agg(F.count("*").alias("swc"))
    all_w = toks.groupBy("w").agg(F.count("*").alias("awc"))
    src_tot = toks.groupBy("source").agg(F.count("*").alias("stot"))
    all_tot = F.broadcast(toks.agg(F.count("*").alias("atot")))
    j = (
        src_w.join(all_w, "w")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(all_tot)
    )
    p = F.col("swc") / F.col("stot")
    q = F.col("awc") / F.col("atot")
    m = (p + q) / F.lit(2.0)
    # q=0 is impossible (the corpus includes the source); p=0 words
    # are exactly the ones missing from the join.
    kl = F.sum(p * F.log(p / q))
    js_p = F.sum(p * F.log(p / m))
    js_q_cov = F.sum(q * F.log(q / m))
    q_cov = F.sum(q)
    agg = j.groupBy("source").agg(
        kl.alias("_kl"),
        js_p.alias("_jsp"),
        js_q_cov.alias("_jsqc"),
        q_cov.alias("_qcov"),
    )
    # Words with p=0: m = q/2, so q*ln(q/m) = q*ln2 — their total
    # contribution is ln2 * (1 - covered corpus mass).
    ln2 = 0.6931471805599453
    js = (F.col("_jsp") + F.col("_jsqc") + F.lit(ln2) * (1.0 - F.col("_qcov"))) / 2.0
    return agg.select(
        "source",
        portable_round(F.col("_kl"), 6).alias("kl_divergence"),
        portable_round(js, 6).alias("js_divergence"),
    )


SQL_SOURCE_DRIFT = r"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
),
src_w AS (SELECT source, w, count(*) AS swc FROM toks GROUP BY 1, 2),
all_w AS (SELECT w, count(*) AS awc FROM toks GROUP BY 1),
src_tot AS (SELECT source, count(*) AS stot FROM toks GROUP BY 1),
all_tot AS (SELECT count(*) AS atot FROM toks),
j AS (
  SELECT s.source,
         s.swc / CAST(t.stot AS DOUBLE) AS p,
         a.awc / CAST(all_tot.atot AS DOUBLE) AS q
  FROM src_w s
  JOIN all_w a ON s.w = a.w
  JOIN src_tot t ON s.source = t.source, all_tot
),
ag AS (
  SELECT source,
         sum(p * ln(p / q)) AS kl,
         sum(p * ln(p / ((p + q) / 2.0))) AS jsp,
         sum(q * ln(q / ((p + q) / 2.0))) AS jsqc,
         sum(q) AS qcov
  FROM j GROUP BY 1
)
SELECT source,
       floor(kl * 1000000 + 0.5) / 1000000 AS kl_divergence,
       floor(((jsp + jsqc + 0.6931471805599453 * (1.0 - qcov)) / 2.0)
             * 1000000 + 0.5) / 1000000 AS js_divergence
FROM ag
"""


# --------------------------------------------------------------------
# Window funnel conversion
# --------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_SPARK = "2 days"
_FUNNEL_WINDOW_SQL = "INTERVAL 2 DAY"


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion within 2 days of the first
    view (ClickHouse windowFunnel semantics, greedy-earliest match):
    per-depth user counts and conversion rates. The per-depth suffix
    sum runs over at most len(steps) rows — a bounded control frame,
    not a data-path window."""
    from etl_finance_pipeline_spark.operators.funnel import funnel_conversion

    ev = load_table(spark, _t(sf_dir, "events"))
    return funnel_conversion(
        ev, "user_id", "ts", "event_type", _FUNNEL_STEPS, _FUNNEL_WINDOW_SPARK
    )


SQL_FUNNEL_CONVERSION = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
    AND e.ts > s1.t1 AND e.ts <= s1.t1 + {_FUNNEL_WINDOW_SQL}
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
    AND e.ts > s2.t2 AND e.ts <= s1.t1 + {_FUNNEL_WINDOW_SQL}
  GROUP BY 1
),
per_user AS (
  SELECT s1.user_id,
         CASE WHEN s3.t3 IS NOT NULL THEN 3
              WHEN s2.t2 IS NOT NULL THEN 2
              ELSE 1 END AS depth
  FROM s1
  LEFT JOIN s2 ON s1.user_id = s2.user_id
  LEFT JOIN s3 ON s1.user_id = s3.user_id
),
hist AS (SELECT depth, CAST(count(*) AS BIGINT) AS _n FROM per_user GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS _tot FROM per_user)
SELECT depth,
       CAST(sum(_n) OVER (ORDER BY depth DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_users,
       floor((CAST(sum(_n) OVER (ORDER BY depth DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / _tot) * 1000000 + 0.5) / 1000000
         AS conversion_rate
FROM hist, tot
"""


# --------------------------------------------------------------------
# Multi-source BFS over the purchase graph
# --------------------------------------------------------------------

_BFS_HOPS = 3
_BFS_BAL = 9500.0


def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the nearest high-balance customer through
    the (undirected) customer↔supplier purchase graph, 3 synchronous
    frontier rounds; the oracle unrolls the identical rounds."""
    from etl_finance_pipeline_spark.operators.graph import bfs_distances

    orders = load_table(spark, _t(sf_dir, "orders"))
    li = load_table(spark, _t(sf_dir, "lineitem"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    fwd = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        cust.filter(F.col("c_acctbal") > _BFS_BAL)
        .select(F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("id"))
        .distinct()
    )
    return bfs_distances(edges, seeds, max_hops=_BFS_HOPS)


def _bfs_round_sql(i: int) -> str:
    return f"""
d{i} AS (
  SELECT id, min(distance) AS distance FROM (
    SELECT e.dst AS id, d{i - 1}.distance + 1 AS distance
    FROM e JOIN d{i - 1} ON e.src = d{i - 1}.id
    UNION ALL
    SELECT id, distance FROM d{i - 1}
  ) GROUP BY 1
)"""


SQL_BFS_REACH = (
    f"""
WITH fwd AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd),
d0 AS (
  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS id, 0 AS distance
  FROM customer WHERE c_acctbal > {_BFS_BAL}
),"""
    + ",".join(_bfs_round_sql(i) for i in range(1, _BFS_HOPS + 1))
    + f"\nSELECT id, distance FROM d{_BFS_HOPS}"
)


# --------------------------------------------------------------------
# Robust anomaly detection (median absolute deviation)
# --------------------------------------------------------------------

_MAD_K = 3 * 1.4826  # 3-sigma-equivalent threshold on the MAD scale
_MAD_Z = 0.6745  # modified z-score constant (Iglewicz & Hoaglin)


def q_anomalies_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates more than a 3-sigma-equivalent
    from their type's median, on the MAD (median-absolute-deviation)
    scale — the robust outlier detector that, unlike mean/stddev
    z-scores, is not dragged by the outliers it is hunting. Two
    per-group exact medians (same holistic-aggregate parity device as
    dq_profile; swap percentile_approx at petabyte scale) + broadcast
    stat joins; the modified z-score is reported per anomaly."""
    ev = load_table(spark, _t(sf_dir, "events"))
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("_med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "_ad", F.abs(F.col("value") - F.col("_med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(_ad, 0.5D)").alias("_mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("_mad") > 0) & (F.col("_ad") > F.lit(_MAD_K) * F.col("_mad")))
        .select(
            "event_id",
            "event_type",
            portable_round(F.col("value"), 6).alias("value"),
            portable_round(
                F.lit(_MAD_Z) * (F.col("value") - F.col("_med")) / F.col("_mad"), 6
            ).alias("robust_z"),
        )
    )


SQL_ANOMALIES_MAD = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS _med FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m._med,
         abs(e.value - m._med) AS _ad
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, quantile_cont(_ad, 0.5) AS _mad FROM dev GROUP BY 1
)
SELECT d.event_id, d.event_type,
       floor(d.value * 1000000 + 0.5) / 1000000 AS value,
       floor(({_MAD_Z!r} * (d.value - d._med) / m._mad) * 1000000 + 0.5) / 1000000
         AS robust_z
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE m._mad > 0 AND d._ad > {_MAD_K!r} * m._mad
"""


# --------------------------------------------------------------------
# Local clustering coefficient
# --------------------------------------------------------------------


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient in the co-purchase
    graph: 2T / (deg*(deg-1)) with per-vertex triangle counts — the
    oracle re-derives the same metric from the textbook three-way
    self-join crediting all three corners."""
    from etl_finance_pipeline_spark.operators.graph import clustering_coefficient

    li = load_table(spark, _t(sf_dir, "lineitem")).select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    return clustering_coefficient(edges)


SQL_CLUSTERING_COEFF = """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e
  ) GROUP BY 1
),
corners AS (
  SELECT a.u AS id FROM e a JOIN e b ON b.u = a.u AND b.v > a.v
                            JOIN e c ON c.u = a.v AND c.v = b.v
  UNION ALL
  SELECT a.v AS id FROM e a JOIN e b ON b.u = a.u AND b.v > a.v
                            JOIN e c ON c.u = a.v AND c.v = b.v
  UNION ALL
  SELECT b.v AS id FROM e a JOIN e b ON b.u = a.u AND b.v > a.v
                            JOIN e c ON c.u = a.v AND c.v = b.v
),
tri AS (SELECT id, CAST(count(*) AS BIGINT) AS t FROM corners GROUP BY 1)
SELECT d.id, d.deg, coalesce(tri.t, 0) AS n_triangles,
       floor(((2.0 * coalesce(tri.t, 0)) / (d.deg * (d.deg - 1.0)))
             * 1000000 + 0.5) / 1000000 AS clustering_coeff
FROM deg d LEFT JOIN tri ON d.id = tri.id
WHERE d.deg >= 2
"""


# --------------------------------------------------------------------
# Real image resize (nearest-neighbor over the PPM codec)
# --------------------------------------------------------------------

_RSZ_SW, _RSZ_SH = 12, 6  # source raster
_RSZ_TW, _RSZ_TH = 5, 3  # target (non-divisible scale: NN rounding matters)


def q_image_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize path under the oracle gate: doc bytes → genuine P6
    PPM → nearest-neighbor resample (integer index math inside the
    Arrow kernel) → re-encoded PPM → stats over the RESIZED raster.
    The oracle recomputes the same source-pixel selection per target
    byte, so any off-by-one in the resample breaks the hash."""
    from etl_finance_pipeline_spark.operators.multimodal import (
        decode_image_stats,
        encode_ppm,
        resize_images,
    )

    docs = load_table(spark, _t(sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )
    ppm = encode_ppm(docs, width=_RSZ_SW, height=_RSZ_SH)
    small = resize_images(
        ppm, target_width=_RSZ_TW, target_height=_RSZ_TH, decode="ppm"
    )
    out = decode_image_stats(small, decode="ppm")
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("stats.n_bytes").alias("n_bytes"),
        portable_round(F.col("stats.mean_intensity"), 6).alias("mean_intensity"),
        F.col("stats.min_byte").cast("long").alias("min_byte"),
        F.col("stats.max_byte").cast("long").alias("max_byte"),
        F.col("stats.width").cast("long").alias("width"),
        F.col("stats.height").cast("long").alias("height"),
    )


# Source byte index (1-based) feeding resized byte j (1-based):
#   jj=j-1; ty=jj//(TW*3); tx=(jj%(TW*3))//3; c=jj%3
#   src = (ty*SH//TH)*SW*3 + (tx*SW//TW)*3 + c + 1
SQL_IMAGE_RESIZE_PPM = f"""
WITH codes AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, {_RSZ_TW * _RSZ_TH * 3}),
           j -> CASE WHEN
                  (((j-1) // {_RSZ_TW * 3}) * {_RSZ_SH} // {_RSZ_TH}) * {_RSZ_SW * 3}
                  + ((((j-1) % {_RSZ_TW * 3}) // 3) * {_RSZ_SW} // {_RSZ_TW}) * 3
                  + ((j-1) % 3) + 1 <= len(text)
                THEN ord(substr(text,
                  (((j-1) // {_RSZ_TW * 3}) * {_RSZ_SH} // {_RSZ_TH}) * {_RSZ_SW * 3}
                  + ((((j-1) % {_RSZ_TW * 3}) // 3) * {_RSZ_SW} // {_RSZ_TW}) * 3
                  + ((j-1) % 3) + 1, 1))
                ELSE 0 END) AS c
  FROM documents
)
SELECT doc_id,
       CAST({_RSZ_TW * _RSZ_TH * 3} AS BIGINT) AS n_bytes,
       floor((list_sum(list_transform(c, x -> CAST(x AS DOUBLE)))
              / {_RSZ_TW * _RSZ_TH * 3}) * 1000000 + 0.5) / 1000000
         AS mean_intensity,
       CAST(list_min(c) AS BIGINT) AS min_byte,
       CAST(list_max(c) AS BIGINT) AS max_byte,
       CAST({_RSZ_TW} AS BIGINT) AS width,
       CAST({_RSZ_TH} AS BIGINT) AS height
FROM codes
"""


# --------------------------------------------------------------------
# Audio zero-crossing rate (real WAV path)
# --------------------------------------------------------------------


def q_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing-rate feature through the REAL WAV codec path
    (encode → stdlib wave re-parse → sign-flip count). ZCR is the
    cheapest spectral proxy a speech/audio data pipeline extracts;
    integer-exact, so the oracle reproduces it from the character
    codes bit-for-bit."""
    from etl_finance_pipeline_spark.operators.multimodal import (
        decode_audio_stats,
        encode_wav_pcm16,
    )

    # PCM source = md5 digest bytes (full 0-255 range) so the signal
    # actually crosses zero — raw ASCII text maps entirely below the
    # encoder midpoint and would make every ZCR 0.
    docs = load_table(spark, _t(sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.md5(F.col("text"))).alias("content"),
    )
    wav = encode_wav_pcm16(docs)
    out = decode_audio_stats(wav, decode="wav")
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("stats.n_samples").alias("n_samples"),
        portable_round(F.col("stats.zcr"), 6).alias("zcr"),
    )


# Encoder maps byte b -> sample (b-128)*256, so sample >= 0 iff the
# digest byte >= 128; digest byte i = hex pair (2i-1, 2i) of md5(text).
SQL_AUDIO_ZCR = """
WITH codes AS (
  SELECT doc_id,
         list_transform(generate_series(1, 16),
                        i -> CASE WHEN ('0x' || substr(md5(text), 2*i-1, 2))::INT >= 128
                                  THEN 1 ELSE 0 END) AS sgn
  FROM documents
),
flips AS (
  SELECT doc_id,
         list_sum(list_transform(generate_series(2, 16),
                                 i -> CASE WHEN sgn[i] != sgn[i-1]
                                           THEN 1 ELSE 0 END)) AS f
  FROM codes
)
SELECT doc_id, CAST(16 AS BIGINT) AS n_samples,
       floor((CAST(f AS DOUBLE) / 15) * 1000000 + 0.5) / 1000000 AS zcr
FROM flips
"""


# --------------------------------------------------------------------
# Feature hashing (hashing trick)
# --------------------------------------------------------------------

_FH_DIM = 256


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-free signed hashed features per document (long
    form) — the stateless featurizer for linear/logistic baselines
    over corpora too large for a vocabulary pass."""
    from etl_finance_pipeline_spark.operators.corpus import feature_hash

    docs = load_table(spark, _t(sf_dir, "documents"))
    return feature_hash(docs, "doc_id", "text", dim=_FH_DIM)


SQL_FEATURE_HASH = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
)
SELECT doc_id,
       ('0x' || substr(md5(w), 1, 15))::BIGINT % {_FH_DIM} AS feature_idx,
       CAST(sum(CASE WHEN ('0x' || substr(md5(w), 16, 15))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS feature_val
FROM toks
GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# Streaming Count-Min sketch build
# --------------------------------------------------------------------


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min counter grid maintained BY STREAMING
    aggregation: file-stream source → per-(row, bucket) running
    counts in complete mode → availableNow → memory sink. The
    operator is the same ``count_min_sketch`` the batch path uses —
    streaming reuse falls out of it being one groupBy — and the
    oracle is the batch grid, so the check proves stream/batch sketch
    equivalence. State is d x w counters regardless of stream size."""
    import uuid

    from etl_finance_pipeline_spark.operators.sketch import count_min_sketch
    from etl_finance_pipeline_spark.plans.training_data import (
        _narrow_session,
        _read_event_stream,
    )

    spark = _narrow_session(spark, 8)
    stream = _read_event_stream(spark, sf_dir)
    sketch = count_min_sketch(stream, "user_id", d=_CMS_D, w_buckets=_CMS_W)
    name = f"stream_cms_{uuid.uuid4().hex[:8]}"
    q = (
        sketch.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(name).select("row", "bucket", "cnt")


SQL_STREAM_CMS = f"""
WITH h AS (
  SELECT user_id, {_h1("user_id")} AS h1, {_h2("user_id")} AS h2 FROM events
),
cells AS (
  SELECT i.i AS row, (h1 + i.i * h2) % {_CMS_W} AS bucket
  FROM h, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i) i
)
SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# Audience overlap via HLL sketch merges
# --------------------------------------------------------------------

_OVL_PAIRS = [("view", "click"), ("view", "purchase"), ("click", "purchase")]


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A|, |B|, |A∪B| and the inclusion-exclusion |A∩B| estimate for
    event-type audience pairs, from MERGED HLL sketches — the
    composability that makes sketches operational at 100 TB: store
    tiny per-segment state once, answer any pairwise overlap later by
    bucket-wise max, no rescan. Exact intersections ride along so the
    estimate error is visible and oracle-checked."""
    from etl_finance_pipeline_spark.operators.sketch import (
        hll_estimate_from_sketch,
        hll_merge,
        hll_sketch,
    )

    ev = load_table(spark, _t(sf_dir, "events"))
    sk = hll_sketch(ev, ["event_type"], "user_id", b=_HLL_B)
    est_t = hll_estimate_from_sketch(sk, ["event_type"], b=_HLL_B)
    pairs = F.broadcast(spark.createDataFrame(_OVL_PAIRS, ["ta", "tb"]))

    both = (
        pairs.join(sk, F.col("event_type") == F.col("ta"))
        .select("ta", "tb", "_bucket", "_mrank")
        .unionAll(
            pairs.join(sk, F.col("event_type") == F.col("tb")).select(
                "ta", "tb", "_bucket", "_mrank"
            )
        )
    )
    est_u = hll_estimate_from_sketch(
        hll_merge(both, ["ta", "tb"]), ["ta", "tb"], b=_HLL_B
    ).withColumnRenamed("hll_estimate", "est_union")

    ut = ev.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    exact = (
        pairs.join(a, F.col("a.event_type") == F.col("ta"))
        .join(
            b,
            (F.col("b.event_type") == F.col("tb"))
            & (F.col("b.user_id") == F.col("a.user_id")),
        )
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("exact_intersection"))
    )
    ea = est_t.withColumnRenamed("event_type", "ta").withColumnRenamed(
        "hll_estimate", "est_a"
    )
    eb = est_t.withColumnRenamed("event_type", "tb").withColumnRenamed(
        "hll_estimate", "est_b"
    )
    return (
        est_u.join(F.broadcast(ea), "ta")
        .join(F.broadcast(eb), "tb")
        .join(exact, ["ta", "tb"])
        .select(
            "ta",
            "tb",
            "est_a",
            "est_b",
            "est_union",
            portable_round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 6
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )


def _hll_est_sql(src: str, keys: str, alias: str) -> str:
    """SQL twin of hll_estimate_from_sketch over a (keys, bucket,
    mrank) CTE named *src*."""
    return f"""
{alias} AS (
  SELECT {keys},
         CASE WHEN ({_HLL_C!r} / intsum) <= {2.5 * _HLL_M} AND empty > 0
              THEN floor(({float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(empty AS DOUBLE)))
                         * 1000000 + 0.5) / 1000000
              ELSE floor(({_HLL_C!r} / intsum) * 1000000 + 0.5) / 1000000
         END AS est
  FROM (
    SELECT {keys},
           CAST(sum((1::BIGINT << ({_HLL_S} - mrank))) AS BIGINT)
             + ({_HLL_M} - count(*)) * (1::BIGINT << {_HLL_S}) AS intsum,
           {_HLL_M} - count(*) AS empty
    FROM {src} GROUP BY {keys}
  )
)"""


SQL_AUDIENCE_OVERLAP = (
    f"""
WITH w AS (
  SELECT event_type, {_h1("user_id")} AS h FROM events
),
bk AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         CASE WHEN (h >> {_HLL_B}) = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(h >> {_HLL_B})) END AS rank
  FROM w
),
mx AS (
  SELECT event_type, bucket, max(rank) AS mrank FROM bk GROUP BY 1, 2
),
pairs(ta, tb) AS (VALUES """
    + ", ".join(f"('{a}', '{b}')" for a, b in _OVL_PAIRS)
    + """),
un AS (
  SELECT p.ta, p.tb, m.bucket, max(m.mrank) AS mrank
  FROM pairs p JOIN mx m ON m.event_type = p.ta OR m.event_type = p.tb
  GROUP BY 1, 2, 3
),"""
    + _hll_est_sql("mx", "event_type", "est_t")
    + ","
    + _hll_est_sql("un", "ta, tb", "est_u")
    + """,
ut AS (SELECT DISTINCT user_id, event_type FROM events),
exact AS (
  SELECT p.ta, p.tb, CAST(count(*) AS BIGINT) AS exact_intersection
  FROM pairs p
  JOIN ut a ON a.event_type = p.ta
  JOIN ut b ON b.event_type = p.tb AND b.user_id = a.user_id
  GROUP BY 1, 2
)
SELECT u.ta, u.tb,
       ea.est AS est_a, eb.est AS est_b, u.est AS est_union,
       floor((ea.est + eb.est - u.est) * 1000000 + 0.5) / 1000000
         AS est_intersection,
       x.exact_intersection
FROM est_u u
JOIN est_t ea ON ea.event_type = u.ta
JOIN est_t eb ON eb.event_type = u.tb
JOIN exact x ON x.ta = u.ta AND x.tb = u.tb
"""
)

# --------------------------------------------------------------------
# Mergeable histogram quantiles (pinned shared grid)
# --------------------------------------------------------------------

_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 600_000.0, 64


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value quantiles per priority from a fixed-grid histogram
    sketch (``operators/sketch.py::histogram_quantile``) — the
    mergeable-state answer to "p25/p50/p90 per segment per day" at
    100 TB: per-group state is 64 counters on a SHARED pinned grid, so
    day-level histograms roll up by cell-sum and any quantile is read
    later by cumulative interpolation (error ≤ one bin width)."""
    from etl_finance_pipeline_spark.operators.sketch import histogram_quantile

    orders = load_table(spark, _t(sf_dir, "orders"))
    out = histogram_quantile(
        orders.select(
            F.col("o_orderpriority").alias("priority"), "o_totalprice"
        ),
        ["priority"],
        "o_totalprice",
        quantiles=[0.25, 0.5, 0.9],
        bins=_HQ_BINS,
        lo=_HQ_LO,
        hi=_HQ_HI,
    )
    return out.select(
        "priority",
        portable_round(F.col("q0_25"), 6).alias("p25"),
        portable_round(F.col("q0_5"), 6).alias("p50"),
        portable_round(F.col("q0_9"), 6).alias("p90"),
    )


def _hq_interp(q: float) -> str:
    t = f"greatest({q} * n, 1.0)"
    return (
        f"floor(({_HQ_LO} + ({_HQ_HI} - {_HQ_LO}) / {_HQ_BINS} * "
        f"(bin + ({t} - (cum - cnt)) / cnt)) * 1000000 + 0.5) / 1000000"
    )


def _hq_case(q: float) -> str:
    t = f"greatest({q} * n, 1.0)"
    return f"max(CASE WHEN cum >= {t} AND cum - cnt < {t} THEN {_hq_interp(q)} END)"


SQL_HIST_QUANTILES = f"""
WITH hist AS (
  SELECT o_orderpriority AS priority,
         least(CAST(floor((o_totalprice - {_HQ_LO}) / ({_HQ_HI} - {_HQ_LO})
                          * {_HQ_BINS}) AS BIGINT),
               {_HQ_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT priority, bin, cnt,
         CAST(sum(cnt) OVER (PARTITION BY priority ORDER BY bin) AS BIGINT)
           AS cum
  FROM hist
),
tot AS (SELECT priority, max(cum) AS n FROM cum GROUP BY 1),
j AS (SELECT c.*, t.n FROM cum c JOIN tot t USING (priority))
SELECT priority,
       {_hq_case(0.25)} AS p25,
       {_hq_case(0.5)} AS p50,
       {_hq_case(0.9)} AS p90
FROM j GROUP BY 1
"""

# --------------------------------------------------------------------
# Markov transition matrix over user event sequences
# --------------------------------------------------------------------

def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of the event stream: P(next event type
    | current) from per-user timelines — lead window partitioned by
    user, counts map-side combined, probabilities normalized over the
    tiny transition matrix."""
    from etl_finance_pipeline_spark.operators.funnel import event_transitions

    ev = load_table(spark, _t(sf_dir, "events"))
    out = event_transitions(ev)
    return out.select(
        "from_event", "to_event",
        F.col("n_transitions").cast("long").alias("n_transitions"), "p",
    )


SQL_MARKOV_TRANSITIONS = """
WITH seq AS (
  SELECT event_type AS from_event,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_event
  FROM events
),
cnt AS (
  SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE to_event IS NOT NULL GROUP BY 1, 2
)
SELECT from_event, to_event, n_transitions,
       floor((n_transitions * 1.0 /
              sum(n_transitions) OVER (PARTITION BY from_event))
             * 1000000 + 0.5) / 1000000 AS p
FROM cnt
"""

# --------------------------------------------------------------------
# Label-propagation communities over the co-purchase graph
# --------------------------------------------------------------------

def q_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: synchronous label propagation (3 fixed
    rounds, deterministic mode/min tiebreak) over the part
    co-purchase graph restricted to support >= 2 (parts bought
    together in at least two orders). The oracle unrolls the same
    three rounds in SQL — vote count, per-vertex argmax, relabel."""
    from etl_finance_pipeline_spark.operators.graph import label_propagation

    li = load_table(spark, _t(sf_dir, "lineitem")).select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("src", "dst")
    )
    out = label_propagation(edges, rounds=3)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("label").cast("long").alias("label"),
    )


SQL_COMMUNITIES_LPA = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
und AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
verts AS (SELECT DISTINCT u AS id FROM und),
l0 AS (SELECT id, id AS label FROM verts),
v1 AS (
  SELECT id, label, count(*) AS c FROM (
    SELECT e.u AS id, l.label FROM und e JOIN l0 l ON l.id = e.v
    UNION ALL
    SELECT id, label FROM l0
  ) GROUP BY 1, 2
),
l1 AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
    FROM v1
  ) WHERE rn = 1
),
v2 AS (
  SELECT id, label, count(*) AS c FROM (
    SELECT e.u AS id, l.label FROM und e JOIN l1 l ON l.id = e.v
    UNION ALL
    SELECT id, label FROM l1
  ) GROUP BY 1, 2
),
l2 AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
    FROM v2
  ) WHERE rn = 1
),
v3 AS (
  SELECT id, label, count(*) AS c FROM (
    SELECT e.u AS id, l.label FROM und e JOIN l2 l ON l.id = e.v
    UNION ALL
    SELECT id, label FROM l2
  ) GROUP BY 1, 2
),
l3 AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
    FROM v3
  ) WHERE rn = 1
)
SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l3
"""

# --------------------------------------------------------------------
# Hot/cold split join (manual skew split)
# --------------------------------------------------------------------

def q_hotkey_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-split join under the oracle gate: users with >= 35 events
    take the broadcast lane (their dim rows ship to every executor),
    the uniform tail takes the shuffle join; the union must equal the
    plain join exactly — which is what the oracle checks."""
    from etl_finance_pipeline_spark.functions.skew import hotkey_join

    ev = load_table(spark, _t(sf_dir, "events")).select(
        F.col("user_id").alias("custkey"), "event_type", "value"
    )
    cust = load_table(spark, _t(sf_dir, "customer")).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = hotkey_join(ev, cust, ["custkey"], hot_threshold=35)
    return j.groupBy("event_type", "c_mktsegment").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
        ).alias("total_value"),
    )


SQL_HOTKEY_PURCHASE_JOIN = """
SELECT e.event_type, c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""

# --------------------------------------------------------------------
# CUPED-adjusted experiment readout
# --------------------------------------------------------------------

def q_cuped_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013) variance-reduced A/B readout: per-user
    covariate x (view count) and outcome y (purchase value), pooled
    theta = cov(x,y)/var(x), per-arm adjusted mean
    ``mean(y) - theta * (mean(x) - global_mean(x))``. Every moment is
    an EXACT integer/decimal sum (x is a count, y sums as
    decimal(30,6)); the only floating-point ops are the two final
    divisions — so the readout is bit-deterministic and
    oracle-checkable, unlike covar_pop over doubles whose partial-sum
    order is engine-internal. Arms are a deterministic user_id split.
    Scale shape: one per-user aggregate, one 1-row global moment
    aggregate (broadcast), one per-arm rollup."""
    ev = load_table(spark, _t(sf_dir, "events"))
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(30,6)"),
                )
            ),
            F.lit(0).cast("decimal(30,6)"),
        ).alias("y"),
    ).withColumn("arm", F.pmod(F.col("user_id"), F.lit(2)).cast("int"))
    g = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("y").alias("sy_a"),
        F.sum("x").alias("sx_a"),
    )
    out = arms.crossJoin(F.broadcast(g))
    mean_y = F.col("sy_a").cast("double") / F.col("n_users")
    mean_x = F.col("sx_a").cast("double") / F.col("n_users")
    gmean_x = F.col("sx").cast("double") / F.col("n")
    return out.select(
        "arm",
        F.col("n_users").cast("long").alias("n_users"),
        portable_round(mean_y, 6).alias("mean_y"),
        portable_round(mean_y - theta * (mean_x - gmean_x), 6).alias(
            "mean_y_cuped"
        ),
        portable_round(theta, 6).alias("theta"),
    )


SQL_CUPED_EXPERIMENT = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS x,
         coalesce(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(30,6)) END),
                  CAST(0 AS DECIMAL(30,6))) AS y,
         CAST(user_id % 2 AS INT) AS arm
  FROM events GROUP BY user_id
),
g AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM per_user
),
arms AS (
  SELECT arm, count(*) AS n_users, sum(y) AS sy_a, sum(x) AS sx_a
  FROM per_user GROUP BY arm
)
SELECT arm, CAST(n_users AS BIGINT) AS n_users,
       floor((CAST(sy_a AS DOUBLE) / n_users) * 1000000 + 0.5) / 1000000
         AS mean_y,
       floor((CAST(sy_a AS DOUBLE) / n_users
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * (CAST(sx_a AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n))
             * 1000000 + 0.5) / 1000000 AS mean_y_cuped,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS theta
FROM arms CROSS JOIN g
"""

# --------------------------------------------------------------------
# ML / privacy prep: k-anonymity, imputation, categorical indexing
# --------------------------------------------------------------------

def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit on (mktsegment, nationkey) quasi-identifiers
    at k=200: equivalence-class sizes + violation flags."""
    from etl_finance_pipeline_spark.operators.mlprep import k_anonymity_audit

    cust = load_table(spark, _t(sf_dir, "customer"))
    return k_anonymity_audit(cust, ["c_mktsegment", "c_nationkey"], k=200)


SQL_K_ANONYMITY = """
SELECT c_mktsegment, c_nationkey,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < 200 AS violates_k
FROM customer GROUP BY 1, 2
"""


def q_impute_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation under the gate: acctbal values on a
    deterministic stripe are nulled out, then refilled with the
    per-segment mean of the REMAINING rows (exact decimal mean);
    all-NULL groups would stay NULL by contract."""
    from etl_finance_pipeline_spark.operators.mlprep import impute_group_mean

    cust = load_table(spark, _t(sf_dir, "customer")).select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 11 != 0, F.col("c_acctbal")).alias(
            "c_acctbal"
        ),
    )
    out = impute_group_mean(cust, "c_acctbal", ["c_mktsegment"])
    return out.select(
        F.col("c_custkey").alias("custkey"),
        portable_round(F.col("c_acctbal"), 6).alias("acctbal"),
        F.col("c_acctbal_imputed").alias("imputed"),
    )


SQL_IMPUTE_ACCTBAL = """
WITH masked AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 11 != 0 THEN c_acctbal END AS v
  FROM customer
),
m AS (
  SELECT c_mktsegment,
         CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(v) AS gmean
  FROM masked GROUP BY 1
)
SELECT c_custkey AS custkey,
       floor(coalesce(v, gmean) * 1000000 + 0.5) / 1000000 AS acctbal,
       (v IS NULL AND gmean IS NOT NULL) AS imputed
FROM masked JOIN m USING (c_mktsegment)
"""


def q_segment_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic categorical indexing: market segments ranked by
    frequency desc then lexically; every customer row carries its
    segment's index."""
    from etl_finance_pipeline_spark.operators.mlprep import string_index

    cust = load_table(spark, _t(sf_dir, "customer"))
    encoded, _ = string_index(cust, "c_mktsegment")
    return encoded.select(
        F.col("c_custkey").alias("custkey"),
        "c_mktsegment",
        F.col("c_mktsegment_idx").alias("segment_idx"),
    )


SQL_SEGMENT_INDEX = """
WITH freq AS (
  SELECT c_mktsegment, count(*) AS f FROM customer GROUP BY 1
),
m AS (
  SELECT c_mktsegment,
         CAST(row_number() OVER (ORDER BY f DESC, c_mktsegment) - 1
              AS BIGINT) AS idx
  FROM freq
)
SELECT c.c_custkey AS custkey, c.c_mktsegment, m.idx AS segment_idx
FROM customer c JOIN m USING (c_mktsegment)
"""

# --------------------------------------------------------------------
# Rolling 7-day distinct users from merged daily HLL sketches
# --------------------------------------------------------------------

def q_rolling_distinct_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical composable-sketch shape: one tiny HLL sketch per
    day, each exploded to the 7 trailing windows it serves and merged
    by bucket-max — rolling distinct users answered WITHOUT rescanning
    7 days of raw events per window (at 100 TB the daily sketches are
    KBs; the rescan is the thing you can't afford). Exact trailing
    distinct rides along so the estimate error stays visible. Explode
    + equi-aggregation only — no range join, no BNL."""
    from etl_finance_pipeline_spark.operators.sketch import (
        hll_estimate_from_sketch,
        hll_merge,
        hll_sketch,
    )

    ev = load_table(spark, _t(sf_dir, "events")).withColumn(
        "day", F.to_date("ts")
    )
    days = ev.select("day").distinct()
    daily = hll_sketch(ev, ["day"], "user_id", b=_HLL_B)
    fanned = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day"),
        "_bucket",
        "_mrank",
    ).join(F.broadcast(days), "day", "left_semi")
    est = hll_estimate_from_sketch(
        hll_merge(fanned, ["day"]), ["day"], b=_HLL_B
    )
    exact = (
        ev.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add("day", 6))
            ).alias("day"),
            "user_id",
        )
        .join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "day").select(
        # date -> timestamp so the driver's dtype-sensitive comparator
        # sees the same physical type DuckDB's DATE maps to
        F.col("day").cast("timestamp").alias("day"),
        "hll_estimate",
        "exact_distinct",
    )


SQL_ROLLING_DISTINCT_7D = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, user_id, {_h1("user_id")} AS h FROM events
),
days AS (SELECT DISTINCT day FROM ev),
fanned AS (
  SELECT t.tday AS day, e.user_id, e.h
  FROM ev e,
       LATERAL (SELECT unnest(generate_series(e.day, e.day + INTERVAL 6 DAY,
                                              INTERVAL 1 DAY))::DATE AS tday) t
  WHERE t.tday IN (SELECT day FROM days)
),
bk AS (
  SELECT day, h % {_HLL_M} AS bucket,
         CASE WHEN (h >> {_HLL_B}) = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(h >> {_HLL_B})) END AS rank
  FROM fanned
),
mx AS (SELECT day, bucket, max(rank) AS mrank FROM bk GROUP BY 1, 2),
ag AS (
  SELECT day,
         CAST(sum((1::BIGINT << ({_HLL_S} - mrank))) AS BIGINT)
           + ({_HLL_M} - count(*)) * (1::BIGINT << {_HLL_S}) AS intsum,
         {_HLL_M} - count(*) AS empty
  FROM mx GROUP BY 1
),
est AS (
  SELECT day,
         CASE WHEN ({_HLL_C!r} / intsum) <= {2.5 * _HLL_M} AND empty > 0
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(empty AS DOUBLE))
              ELSE {_HLL_C!r} / intsum END AS e
  FROM ag
)
SELECT est.day,
       floor(e * 1000000 + 0.5) / 1000000 AS hll_estimate,
       x.exact_distinct
FROM est
JOIN (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM fanned GROUP BY 1
) x ON est.day = x.day
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the customer–supplier purchase graph (k=40):
    iterative peeling drops low-degree periphery until the dense
    trading core remains — the dense-subgraph primitive for spam-farm
    detection and cluster seeding. The oracle unrolls the peeling
    rounds (extra rounds past the fixpoint are no-ops, so a fixed
    unroll with slack is exact — PROVIDED the engine converges within
    the unroll depth; max_iter below pins that: 4 changing rounds + 1
    fixpoint-confirming round matches the oracle's 4-round unroll, so
    a dataset needing more rounds raises in the ENGINE instead of
    silently producing an oracle superset and a false hash mismatch.
    Observed at sf0.001/0.01/0.1: fixpoint in ≤3 changing rounds)."""
    from etl_finance_pipeline_spark.operators.graph import k_core

    orders = load_table(spark, _t(sf_dir, "orders"))
    li = load_table(spark, _t(sf_dir, "lineitem"))
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("id_a"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("id_b"),
    )
    return k_core(edges, k=40, max_iter=5)


def _kcore_round_sql(i: int, k: int) -> str:
    return f"""
kdeg{i} AS (
  SELECT u, count(*) AS d FROM (
    SELECT u FROM ke{i - 1} UNION ALL SELECT v FROM ke{i - 1}
  ) GROUP BY u
),
kkeep{i} AS (SELECT u FROM kdeg{i} WHERE d >= {k}),
ke{i} AS (
  SELECT e.u, e.v FROM ke{i - 1} e
  WHERE EXISTS (SELECT 1 FROM kkeep{i} x WHERE x.u = e.u)
    AND EXISTS (SELECT 1 FROM kkeep{i} y WHERE y.u = e.v)
)"""


SQL_K_CORE = (
    """
WITH ke0 AS (
  SELECT DISTINCT
    least('c' || CAST(o_custkey AS VARCHAR), 's' || CAST(l_suppkey AS VARCHAR)) AS u,
    greatest('c' || CAST(o_custkey AS VARCHAR), 's' || CAST(l_suppkey AS VARCHAR)) AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE 'c' || CAST(o_custkey AS VARCHAR) != 's' || CAST(l_suppkey AS VARCHAR)
),"""
    + ",".join(_kcore_round_sql(i, 40) for i in range(1, 5))
    + """
SELECT u AS id, CAST(count(*) AS BIGINT) AS core_degree FROM (
  SELECT u FROM ke4 UNION ALL SELECT v FROM ke4
) GROUP BY u
"""
)


#: name -> (Spark plan, DuckDB oracle SQL); plans/queries.py merges it into ``REGISTRY``.
REGISTRY_AN: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "k_core": (q_k_core, SQL_K_CORE),
    "hll_distinct_users": (q_hll_distinct_users, SQL_HLL_DISTINCT_USERS),
    "kmv_distinct_users": (q_kmv_distinct_users, SQL_KMV_DISTINCT_USERS),
    "triangles": (q_triangles, SQL_TRIANGLES),
    "assoc_rules": (q_assoc_rules, SQL_ASSOC_RULES),
    "bloom_semi_orders": (q_bloom_semi_orders, SQL_BLOOM_SEMI_ORDERS),
    "zorder_stats": (q_zorder_stats, SQL_ZORDER_STATS),
    "heavy_hitters_cms": (q_heavy_hitters_cms, SQL_HEAVY_HITTERS_CMS),
    "source_drift": (q_source_drift, SQL_SOURCE_DRIFT),
    "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    "bfs_reach": (q_bfs_reach, SQL_BFS_REACH),
    "anomalies_mad": (q_anomalies_mad, SQL_ANOMALIES_MAD),
    "clustering_coeff": (q_clustering_coeff, SQL_CLUSTERING_COEFF),
    "image_resize_ppm": (q_image_resize_ppm, SQL_IMAGE_RESIZE_PPM),
    "audio_zcr": (q_audio_zcr, SQL_AUDIO_ZCR),
    "feature_hash": (q_feature_hash, SQL_FEATURE_HASH),
    "stream_cms": (q_stream_cms, SQL_STREAM_CMS),
    "audience_overlap": (q_audience_overlap, SQL_AUDIENCE_OVERLAP),
    "hist_quantiles": (q_hist_quantiles, SQL_HIST_QUANTILES),
    "markov_transitions": (q_markov_transitions, SQL_MARKOV_TRANSITIONS),
    "communities_lpa": (q_communities_lpa, SQL_COMMUNITIES_LPA),
    "hotkey_purchase_join": (q_hotkey_purchase_join, SQL_HOTKEY_PURCHASE_JOIN),
    "cuped_experiment": (q_cuped_experiment, SQL_CUPED_EXPERIMENT),
    "k_anonymity": (q_k_anonymity, SQL_K_ANONYMITY),
    "impute_acctbal": (q_impute_acctbal, SQL_IMPUTE_ACCTBAL),
    "segment_index": (q_segment_index, SQL_SEGMENT_INDEX),
    "rolling_distinct_7d": (q_rolling_distinct_7d, SQL_ROLLING_DISTINCT_7D),
}
