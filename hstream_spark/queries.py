"""The oracle-gated query catalog: every operator from SURVEY.md §2 (and
the data-pipeline extensions) as a (Spark builder, DuckDB oracle SQL)
pair with identical output column names.

Conventions that make the Spark/DuckDB comparison exact:
- Sums/averages over double columns go through DECIMAL(18,4) so the
  arithmetic is exact in both engines (double summation order is
  nondeterministic under parallelism); the final value casts to double.
- Event-time arithmetic uses integer microseconds (``unix_micros`` /
  ``epoch_us``) — no double rounding at window boundaries.
- Window starts/ends are emitted as epoch seconds (BIGINT).
- Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hstream_spark.functions import aggregates as A
from hstream_spark.functions import scalar as S
from hstream_spark.operators import dedup as D
from hstream_spark.operators import joins as J
from hstream_spark.operators import relational as R
from hstream_spark.operators import similarity as SIM
from hstream_spark.operators import text as TX
from hstream_spark.operators import windows as W
from hstream_spark.sources.tables import load_table

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    builder: Builder
    oracle: Optional[str]
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str], tags: tuple[str, ...] = ()):
    def deco(fn: Builder) -> Builder:
        REGISTRY[name] = Query(name, fn, oracle, tags)
        return fn

    return deco


def _dec(col):
    """Exact-decimal projection of a double column for deterministic sums."""
    return col.cast("decimal(18,4)")


# ---------------------------------------------------------------------------
# §2.2 Projection / filter / computed columns
# ---------------------------------------------------------------------------


@register(
    "select_where_project",
    """
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND value > 50.0
    """,
    tags=("relational",),
)
def q_select_where_project(spark, sf):
    ev = load_table(spark, sf, "events")
    flt = R.where(ev, (F.col("event_type") == "purchase") & (F.col("value") > 50.0))
    return R.project(flt, ["event_id", "user_id", "value"])


@register(
    "affiliate_computed",
    """
    SELECT event_id,
           value * 2.0                                   AS value2,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           upper(event_type)                             AS etype
    FROM events
    """,
    tags=("relational",),
)
def q_affiliate_computed(spark, sf):
    ev = load_table(spark, sf, "events")
    aff = R.affiliate(
        ev,
        {
            "value2": F.col("value") * 2.0,
            "k": S.json_get(F.col("props"), "k").cast("long"),
            "etype": S.to_upper(F.col("event_type")),
        },
    )
    return R.project(aff, ["event_id", "value2", "k", "etype"])


# ---------------------------------------------------------------------------
# §2.8 Scalar functions
# ---------------------------------------------------------------------------


@register(
    "scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_quantity / 3.0) AS BIGINT) AS q_floor,
           CAST(ceil(l_quantity / 3.0) AS BIGINT)  AS q_ceil,
           sqrt(l_quantity)                         AS q_sqrt,
           round(ln(l_quantity + 1.0), 8)           AS q_ln,
           round(log2(l_quantity + 1.0), 8)         AS q_log2,
           abs(l_discount - 0.05)                   AS d_abs,
           CAST(sign(l_discount - 0.05) AS BIGINT)  AS d_sign
    FROM lineitem WHERE l_orderkey < 1000
    """,
    tags=("scalar",),
)
def q_scalar_math(spark, sf):
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000)
    q3 = F.col("l_quantity") / 3.0
    return li.select(
        "l_orderkey",
        "l_linenumber",
        S.floor(q3).alias("q_floor"),
        S.ceil(q3).alias("q_ceil"),
        S.sqrt(F.col("l_quantity")).alias("q_sqrt"),
        F.round(S.log_(F.col("l_quantity") + 1.0), 8).alias("q_ln"),
        F.round(S.log2(F.col("l_quantity") + 1.0), 8).alias("q_log2"),
        S.abs_(F.col("l_discount") - 0.05).alias("d_abs"),
        S.sign(F.col("l_discount") - 0.05).alias("d_sign"),
    )


@register(
    "scalar_string",
    """
    SELECT c_custkey,
           upper(c_name)                 AS name_u,
           lower(c_mktsegment)           AS seg_l,
           reverse(c_name)               AS name_rev,
           length(c_name)                AS name_len,
           substring(c_name, 1, 8)       AS take8,
           substring(c_name, length(c_name) - 3, 4) AS takeend4,
           substring(c_name, 5)          AS drop4,
           substring(c_name, 1, greatest(length(c_name) - 3, 0)) AS dropend3,
           trim('  ' || c_mktsegment || ' ') AS trimmed,
           array_to_string(string_split(c_name, '#'), '|') AS name_parts
    FROM customer WHERE c_custkey <= 200
    """,
    tags=("scalar",),
)
def q_scalar_string(spark, sf):
    c = load_table(spark, sf, "customer").filter(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        S.to_upper(F.col("c_name")).alias("name_u"),
        S.to_lower(F.col("c_mktsegment")).alias("seg_l"),
        S.reverse_(F.col("c_name")).alias("name_rev"),
        S.strlen(F.col("c_name")).alias("name_len"),
        S.take(8, F.col("c_name")).alias("take8"),
        S.takeend(4, F.col("c_name")).alias("takeend4"),
        S.drop(4, F.col("c_name")).alias("drop4"),
        S.dropend(3, F.col("c_name")).alias("dropend3"),
        S.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        # joined to a scalar string (driver canonicalizer can't hash lists)
        F.array_join(S.split("#", F.col("c_name")), "|").alias("name_parts"),
    )


@register(
    "scalar_array",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
               FROM documents)
    SELECT doc_id,
           len(toks)                                    AS n_toks,
           len(list_distinct(toks))                     AS n_distinct,
           array_to_string(list_sort(toks)[1:3], '|')   AS first3_sorted,
           array_to_string(toks[1:5], '-')              AS head_joined,
           list_contains(toks, 'the')                   AS has_the
    FROM t
    """,
    tags=("scalar",),
)
def q_scalar_array(spark, sf):
    docs = load_table(spark, sf, "documents")
    toks = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        S.array_length(toks).alias("n_toks"),
        S.array_length(S.array_distinct_(toks)).alias("n_distinct"),
        # joined to a scalar string (driver canonicalizer can't hash lists)
        S.array_join_(F.slice(S.array_sort_(toks), 1, 3), "|").alias("first3_sorted"),
        S.array_join_(F.slice(toks, 1, 5), "-").alias("head_joined"),
        S.array_contain(toks, F.lit("the")).alias("has_the"),
    )


@register(
    "null_semantics",
    """
    SELECT event_id,
           nullif(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)  AS k_nz,
           coalesce(nullif(CAST(json_extract_string(props, '$.k') AS BIGINT), 0), -1) AS k_or_neg1,
           coalesce(CAST(nullif(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS VARCHAR), 'NULL') AS k_text,
           (nullif(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) IS NOT DISTINCT FROM NULL) AS k_is_null_eq
    FROM events
    """,
    tags=("scalar", "nulls"),
)
def q_null_semantics(spark, sf):
    ev = load_table(spark, sf, "events")
    k = S.json_get(F.col("props"), "k").cast("long")
    k_nz = S.nullif(k, F.lit(0))
    return ev.select(
        "event_id",
        k_nz.alias("k_nz"),
        S.ifnull(k_nz, F.lit(-1)).alias("k_or_neg1"),
        S.cast_text(k_nz).alias("k_text"),
        S.eq(k_nz, F.lit(None).cast("long")).alias("k_is_null_eq"),
    )


@register(
    "cast_ops",
    """
    SELECT event_id,
           CAST(floor(value) AS BIGINT)  AS v_int,
           CAST(event_id AS DOUBLE)      AS id_float,
           CAST(event_id AS VARCHAR)     AS id_text,
           (value > 100)                 AS v_gt100
    FROM events
    """,
    tags=("scalar", "casts"),
)
def q_cast_ops(spark, sf):
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        S.cast_int(F.col("value")).alias("v_int"),
        S.cast_float(F.col("event_id")).alias("id_float"),
        S.cast_text(F.col("event_id")).alias("id_text"),
        (F.col("value") > 100).alias("v_gt100"),
    )


@register(
    "between_ops",
    """
    SELECT event_type,
           count(*) FILTER (WHERE value BETWEEN 50 AND 150)     AS n_between,
           count(*) FILTER (WHERE value NOT BETWEEN 50 AND 150) AS n_outside,
           count(*) FILTER (WHERE value BETWEEN least(150,50) AND greatest(150,50)) AS n_sym
    FROM events GROUP BY event_type
    """,
    tags=("scalar",),
)
def q_between_ops(spark, sf):
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.when(S.between(v, F.lit(50), F.lit(150)), 1)).alias("n_between"),
        F.count(F.when(S.not_between(v, F.lit(50), F.lit(150)), 1)).alias("n_outside"),
        F.count(F.when(S.between_symmetric(v, F.lit(150), F.lit(50)), 1)).alias("n_sym"),
    )


@register(
    "json_ops",
    """
    SELECT event_id,
           json_extract_string(props, '$.k')                  AS k_text,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_num
    FROM events
    """,
    tags=("scalar", "json"),
)
def q_json_ops(spark, sf):
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        S.json_get_text(F.col("props"), "k").alias("k_text"),
        S.json_path(F.col("props"), ["k"]).cast("long").alias("k_num"),
    )


@register(
    "datetime_ops",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S')                       AS ts_str,
           CAST(floor(epoch(ts)) AS BIGINT)                        AS ts_epoch,
           CAST(floor(epoch(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'))) AS BIGINT) AS ts_roundtrip
    FROM events
    """,
    tags=("scalar", "datetime"),
)
def q_datetime_ops(spark, sf):
    ev = load_table(spark, sf, "events")
    epoch = F.unix_timestamp(F.col("ts"))
    ts_str = S.datetostring(epoch, "yyyy-MM-dd HH:mm:ss")
    return ev.select(
        "event_id",
        ts_str.alias("ts_str"),
        epoch.alias("ts_epoch"),
        S.stringtodate(ts_str, "yyyy-MM-dd HH:mm:ss").alias("ts_roundtrip"),
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_basic",
    """
    SELECT event_type,
           count(*)                                              AS n,
           count(value)                                          AS n_vals,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)     AS total,
           min(value)                                            AS vmin,
           max(value)                                            AS vmax,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS vavg
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def q_agg_basic(spark, sf):
    ev = load_table(spark, sf, "events")
    total = A.sum_(_dec(F.col("value"))).cast("double")
    return R.reduce(
        ev,
        ["event_type"],
        [
            A.count_all().alias("n"),
            A.count(F.col("value")).alias("n_vals"),
            total.alias("total"),
            A.min_(F.col("value")).alias("vmin"),
            A.max_(F.col("value")).alias("vmax"),
            (total / A.count(F.col("value"))).alias("vavg"),
        ],
    )


@register(
    "topk_agg",
    """
    WITH t AS (SELECT event_type, list(value ORDER BY value DESC) AS l
               FROM events GROUP BY event_type)
    SELECT event_type, l[1] AS top1, l[2] AS top2, l[3] AS top3,
           l[4] AS top4, l[5] AS top5
    FROM t
    """,
    tags=("agg", "topk"),
)
def q_topk(spark, sf):
    # The TOPK array unnests to per-rank scalar columns so the driver's
    # canonicalizer (which can't hash list cells) can value-compare it;
    # keeping the elements as doubles (not a joined string) avoids
    # engine-specific float formatting.
    ev = load_table(spark, sf, "events")
    agg = R.reduce(ev, ["event_type"], [A.topk(F.col("value"), 5).alias("top5")])
    return agg.select(
        "event_type",
        *[F.element_at(F.col("top5"), i).alias(f"top{i}") for i in range(1, 6)],
    )


@register(
    "topkdistinct_agg",
    """
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
    t AS (SELECT event_type, list(user_id ORDER BY user_id DESC) AS l
          FROM d GROUP BY event_type)
    SELECT event_type, l[1] AS top1u, l[2] AS top2u, l[3] AS top3u,
           l[4] AS top4u, l[5] AS top5u
    FROM t
    """,
    tags=("agg", "topk"),
)
def q_topkdistinct(spark, sf):
    ev = load_table(spark, sf, "events")
    agg = R.reduce(
        ev, ["event_type"], [A.topkdistinct(F.col("user_id"), 5).alias("top5u")]
    )
    return agg.select(
        "event_type",
        *[F.element_at(F.col("top5u"), i).alias(f"top{i}u") for i in range(1, 6)],
    )


@register(
    "having_filter",
    """
    SELECT user_id,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events GROUP BY user_id HAVING count(*) >= 20
    """,
    tags=("agg",),
)
def q_having(spark, sf):
    ev = load_table(spark, sf, "events")
    agg = R.reduce(
        ev,
        ["user_id"],
        [A.count_all().alias("n"), A.sum_(_dec(F.col("value"))).cast("double").alias("total")],
    )
    return R.having(agg, F.col("n") >= 20)


@register(
    "distinct_op",
    "SELECT DISTINCT user_id, event_type FROM events",
    tags=("relational",),
)
def q_distinct(spark, sf):
    ev = load_table(spark, sf, "events")
    return R.distinct(ev.select("user_id", "event_type"))


@register(
    "union_op",
    """
    SELECT event_id, value FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, value FROM events WHERE event_type = 'click'
    """,
    tags=("relational",),
)
def q_union(spark, sf):
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("event_id", "value")
    b = ev.filter(F.col("event_type") == "click").select("event_id", "value")
    return R.union(a, b)


# ---------------------------------------------------------------------------
# §2.5 Windows (batch flavor of the streaming windows; same operators run
# on readStream inputs — see hstream_spark/streaming/)
# ---------------------------------------------------------------------------


@register(
    "tumble_agg",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600    AS window_start,
           event_type,
           count(*)                                AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window",),
)
def q_tumble(spark, sf):
    ev = load_table(spark, sf, "events")
    agg = W.tumble(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [A.count_all().alias("n"), A.sum_(_dec(F.col("value"))).cast("double").alias("total")],
    )
    return agg.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "n",
        "total",
    )


@register(
    "hop_agg",
    """
    WITH e AS (SELECT (epoch_us(ts) // 1800000000) * 1800 AS fb, event_type, value
               FROM events),
    x AS (SELECT unnest(generate_series(fb - 3600 + 1800, fb, 1800)) AS window_start,
                 event_type, value
          FROM e)
    SELECT window_start, event_type,
           count(*)                                          AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM x GROUP BY 1, 2
    """,
    tags=("window",),
)
def q_hop(spark, sf):
    ev = load_table(spark, sf, "events")
    agg = W.hop(
        ev,
        "ts",
        "1 hour",
        "30 minutes",
        ["event_type"],
        [A.count_all().alias("n"), A.sum_(_dec(F.col("value"))).cast("double").alias("total")],
    )
    return agg.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "n",
        "total",
    )


@register(
    "session_agg",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS eu, value FROM events),
    s AS (SELECT user_id, eu, value,
                 CASE WHEN lag(eu) OVER w IS NULL
                       OR eu - lag(eu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu)),
    g AS (SELECT user_id, eu, value,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY eu
                                     ROWS UNBOUNDED PRECEDING) AS sess
          FROM s)
    SELECT user_id,
           min(eu) // 1000000                                AS session_start,
           count(*)                                          AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM g GROUP BY user_id, sess
    """,
    tags=("window", "session"),
)
def q_session(spark, sf):
    ev = load_table(spark, sf, "events")
    agg = W.session(
        ev,
        "ts",
        "30 minutes",
        ["user_id"],
        [A.count_all().alias("n"), A.sum_(_dec(F.col("value"))).cast("double").alias("total")],
    )
    return agg.select(
        F.unix_timestamp(F.col("window.start")).alias("session_start"),
        "user_id",
        "n",
        "total",
    )


@register(
    "window_bounds",
    """
    SELECT strftime(to_timestamp((epoch_us(ts) // 3600000000) * 3600), '%Y-%m-%d %H:%M:%S') AS w_start,
           strftime(to_timestamp((epoch_us(ts) // 3600000000) * 3600 + 3600), '%Y-%m-%d %H:%M:%S') AS w_end,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    tags=("window",),
)
def q_window_bounds(spark, sf):
    ev = load_table(spark, sf, "events")
    agg = W.tumble(ev, "ts", "1 hour", [], [A.count_all().alias("n")])
    return agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        F.date_format(F.col("window.end"), "yyyy-MM-dd HH:mm:ss").alias("w_end"),
        "n",
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@register(
    "interval_join_inner",
    """
    SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id AS uid
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    """,
    tags=("join", "interval"),
)
def q_interval_join_inner(spark, sf):
    ev = load_table(spark, sf, "events")
    a = ev.select(F.col("event_id").alias("eid_a"), F.col("user_id").alias("uid"),
                  F.unix_micros(F.col("ts")).alias("tsa"))
    b = ev.select(F.col("event_id").alias("eid_b"), F.col("user_id").alias("uid_b"),
                  F.unix_micros(F.col("ts")).alias("tsb"))
    j = J.interval_join(
        a, b,
        (F.col("uid") == F.col("uid_b")) & (F.col("eid_a") < F.col("eid_b")),
        F.col("tsa"), F.col("tsb"), 300_000_000,
    )
    return j.select("eid_a", "eid_b", "uid")


@register(
    "interval_join_left",
    """
    SELECT a.event_id AS eid_a, b.event_id AS eid_b
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
      ON a.user_id = b.user_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
    """,
    tags=("join", "interval", "outer"),
)
def q_interval_join_left(spark, sf):
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("eid_a"), F.col("user_id").alias("uid_a"),
        F.unix_micros(F.col("ts")).alias("tsa"))
    b = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid_b"), F.col("user_id").alias("uid_b"),
        F.unix_micros(F.col("ts")).alias("tsb"))
    j = J.interval_join(
        a, b, F.col("uid_a") == F.col("uid_b"),
        F.col("tsa"), F.col("tsb"), 600_000_000, how="left",
    )
    return j.select("eid_a", "eid_b")


@register(
    "interval_join_using",
    """
    SELECT a.user_id, a.event_id AS eid_a, b.event_id AS eid_b
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      USING (user_id)
    WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    """,
    tags=("join", "interval"),
)
def q_interval_join_using(spark, sf):
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("eid_a"), F.unix_micros(F.col("ts")).alias("tsa"))
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("eid_b"), F.unix_micros(F.col("ts")).alias("tsb"))
    j = J.interval_join_using(a, b, ["user_id"], F.col("tsa"), F.col("tsb"), 300_000_000)
    return j.select("user_id", "eid_a", "eid_b")


@register(
    "cross_join_within",
    """
    SELECT a.event_id AS eid_a, b.event_id AS eid_b
    FROM (SELECT * FROM events WHERE event_id < 200) a,
         (SELECT * FROM events WHERE event_id >= 200 AND event_id < 400) b
    WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
    """,
    tags=("join", "interval", "cross"),
)
def q_cross_join_within(spark, sf):
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("eid_a"), F.unix_micros(F.col("ts")).alias("tsa"))
    b = ev.filter((F.col("event_id") >= 200) & (F.col("event_id") < 400)).select(
        F.col("event_id").alias("eid_b"), F.unix_micros(F.col("ts")).alias("tsb"))
    j = J.interval_cross_join(a, b, "tsa", "tsb", 600_000_000)
    return j.select("eid_a", "eid_b")


@register(
    "stream_table_join",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'O'
    """,
    tags=("join", "stream-table"),
)
def q_stream_table_join(spark, sf):
    orders = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
    cust = load_table(spark, sf, "customer")
    j = J.stream_table_join(
        orders, cust, orders["o_custkey"] == cust["c_custkey"], how="inner"
    )
    return j.select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")


@register(
    "join_outer_full",
    """
    SELECT p.p_partkey, p.p_name, l.cnt
    FROM part p
    FULL JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem WHERE l_quantity > 45
               GROUP BY l_partkey) l
      ON p.p_partkey = l.l_partkey
    """,
    tags=("join", "outer"),
)
def q_join_outer_full(spark, sf):
    part = load_table(spark, sf, "part")
    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_partkey")
        .agg(A.count_all().alias("cnt"))
    )
    j = part.join(li, part["p_partkey"] == li["l_partkey"], "full")
    return j.select("p_partkey", "p_name", "cnt")


# ---------------------------------------------------------------------------
# TPC-H-style analytics (the batch-OLAP workout for the relational layer)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)       AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)  AS sum_base_price,
           CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE)      AS sum_charge,
           count(*)                                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg", "flagship"),
)
def q_tpch_q1(spark, sf):
    li = load_table(spark, sf, "lineitem")
    price = _dec(F.col("l_extendedprice"))
    disc = _dec(F.col("l_discount"))
    tax = _dec(F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            # ROUND the exact DECIMAL sums to 2 dp BEFORE the double cast
            # so both engines convert the identical low-scale decimal —
            # raw high-scale decimal->double casts diverge by 1 ulp
            F.round(F.sum(price * (1 - disc)), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price * (1 - disc) * (1 + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            A.count_all().alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q3(spark, sf):
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = J.stream_table_join(
        l.join(o, l["l_orderkey"] == o["o_orderkey"]),
        c.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
        .cast("double")
        .alias("revenue"),
    ).select(
        "l_orderkey",
        "revenue",
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
    )


@register(
    "tpch_q5ish",
    """
    SELECT n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q5ish(spark, sf):
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
               c["c_nationkey"] == n["n_nationkey"])
        .select("c_custkey", "n_name")
    )
    j = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
    )
    # int64 fixed-point sum (10^-4 units; prices/discounts are exact
    # 2-decimal) → exact engine-identical sums, exact int→double cast
    # (per-group sums ≪ 2^53), one bit-deterministic IEEE division —
    # the exact-DECIMAL sum diverged in the last ulp at sf1 because
    # each engine's decimal→double CAST rounds differently
    rev_fp = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return j.groupBy("n_name").agg(
        (F.sum(rev_fp).cast("double") / F.lit(10000.0)).alias("revenue"),
    )


@register(
    "tpch_q6",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    tags=("tpch", "agg", "pushdown"),
)
def q_tpch_q6(spark, sf):
    """TPC-H Q6 (forecast revenue change): every predicate reaches the
    parquet scan as a pushed filter — at 100 TB the scan itself is the
    whole query, so selectivity × pushdown decides the runtime."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    tags=("analytic", "window-function"),
)
def q_top_orders_per_customer(spark, sf):
    from pyspark.sql import Window

    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# Data-pipeline extensions: dedup / similarity / text analysis / multimodal.
# Oracle SQL is generated from the same constants the Spark operators use,
# so the MinHash permutations, SimHash bits, and LSH hyperplanes are
# identical in both engines.
# ---------------------------------------------------------------------------

_TOKS_CTE = "SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents"
_H31 = "('0x' || substring(md5({x}), 1, 15))::BIGINT % 2147483647"


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def q_dedup_exact(spark, sf):
    return D.exact_duplicates(load_table(spark, sf, "documents"))


def _minhash_perm_values() -> str:
    rows = [f"({i}, {D._perm_a(i)}, {D._perm_b(i)})" for i in range(D.MINHASH_PERMS)]
    return ", ".join(rows)


_SHINGLE3 = ("((((th[i] * {B} + th[i+1]) % {P}) * {B} + th[i+2]) % {P})"
             .format(B=D.SHINGLE_B, P=TX.P31))
_SHINGLE2 = "((th[i] * {B} + th[i+1]) % {P})".format(B=D.SHINGLE_B, P=TX.P31)

_MINHASH_ORACLE = f"""
WITH docs AS ({_TOKS_CTE}),
tha AS (SELECT doc_id, list_transform(toks, t -> {_H31.format(x='t')}) AS th FROM docs),
sh AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(th) - 2), i -> {_SHINGLE3})) AS h
       FROM tha),
shh AS (SELECT DISTINCT doc_id, h FROM sh),
perms AS (SELECT * FROM (VALUES {{perms}}) p(i, a, b)),
mh AS (SELECT doc_id, i, min((h * a + b) % 2147483647) AS mh
       FROM shh, perms GROUP BY doc_id, i),
bands AS (SELECT doc_id, i // {D.ROWS_PER_BAND} AS band,
                 string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_sig
          FROM mh GROUP BY doc_id, i // {D.ROWS_PER_BAND}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
sets AS (SELECT doc_id, hs FROM (SELECT doc_id, list(DISTINCT h) AS hs FROM shh GROUP BY doc_id)),
jac AS (SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.hs, sb.hs))::DOUBLE
                 / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))::DOUBLE AS jaccard
        FROM cand c JOIN sets sa ON sa.doc_id = c.doc_a
                    JOIN sets sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
""".replace("{perms}", _minhash_perm_values())


@register("dedup_minhash_lsh", _MINHASH_ORACLE, tags=("dedup", "lsh"))
def q_dedup_minhash(spark, sf):
    return D.minhash_near_duplicates(load_table(spark, sf, "documents"), threshold=0.5)


# Hot-bucket-capped variant: same pipeline, but the candidate join goes
# through salted sub-buckets whenever a (band, band_sig) bucket exceeds
# the cap — the oracle replays the identical capping rule (bucket count
# → md5(doc_id#band)-salted sub-buckets), so the gate proves the capped
# DECISIONS, not just the uncapped ones. cap=32 clears every bucket in
# the standard corpora (max observed: 13 at sf0.1), making the result
# equal to dedup_minhash_lsh there; the adversarial hot-bucket behavior
# is pinned in tests/test_text_pipeline.py.
_MINHASH_CAP = 32
_MINHASH_CAPPED_ORACLE = _MINHASH_ORACLE.replace(
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),""",
    f"""bn AS (SELECT band, band_sig, count(*) AS n FROM bands GROUP BY band, band_sig),
bsalt AS (SELECT b.doc_id, b.band, b.band_sig,
                 CASE WHEN bn.n <= {_MINHASH_CAP} THEN 0
                      ELSE ('0x' || substring(md5(b.doc_id::VARCHAR || '#' || b.band::VARCHAR), 1, 15))::BIGINT
                           % ((bn.n + {_MINHASH_CAP - 1}) // {_MINHASH_CAP})
                 END AS salt
          FROM bands b JOIN bn ON b.band = bn.band AND b.band_sig = bn.band_sig),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bsalt a JOIN bsalt b
           ON a.band = b.band AND a.band_sig = b.band_sig AND a.salt = b.salt
              AND a.doc_id < b.doc_id),""",
)
assert "bsalt" in _MINHASH_CAPPED_ORACLE  # replace target must stay in sync


@register("dedup_minhash_lsh_capped", _MINHASH_CAPPED_ORACLE,
          tags=("dedup", "lsh"))
def q_dedup_minhash_capped(spark, sf):
    return D.minhash_near_duplicates_capped(
        load_table(spark, sf, "documents"), threshold=0.5, cap=_MINHASH_CAP
    )


_SIMILAR_DOCS_ORACLE = f"""
WITH docs AS ({_TOKS_CTE}),
tha AS (SELECT doc_id, list_transform(toks, t -> {_H31.format(x='t')}) AS th FROM docs),
sh AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(th) - 2), i -> {_SHINGLE3})) AS h
       FROM tha),
shh AS (SELECT DISTINCT doc_id, h FROM sh),
perms AS (SELECT * FROM (VALUES {{perms}}) p(i, a, b)),
mh AS (SELECT doc_id, i, min((h * a + b) % 2147483647) AS mh
       FROM shh, perms GROUP BY doc_id, i),
bands AS (SELECT doc_id, i // {{rpb}} AS band,
                 string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_sig
          FROM mh GROUP BY doc_id, i // {{rpb}}),
cand AS (SELECT DISTINCT a.doc_id AS q_id, b.doc_id AS doc_id
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
         WHERE a.doc_id < 60 AND a.doc_id <> b.doc_id),
sets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM shh GROUP BY doc_id),
jac AS (SELECT c.q_id, c.doc_id,
               len(list_intersect(sq.hs, sc.hs))::DOUBLE
                 / (len(sq.hs) + len(sc.hs)
                    - len(list_intersect(sq.hs, sc.hs)))::DOUBLE AS jaccard
        FROM cand c JOIN sets sq ON sq.doc_id = c.q_id
                    JOIN sets sc ON sc.doc_id = c.doc_id
        WHERE len(sq.hs) + len(sc.hs)
              - len(list_intersect(sq.hs, sc.hs)) > 0),
r AS (SELECT q_id, doc_id, jaccard,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY jaccard DESC, doc_id ASC) AS BIGINT)
               AS rank
      FROM jac)
SELECT q_id, doc_id, jaccard, rank FROM r WHERE rank <= 5
"""


@register(
    "similar_docs_topk",
    _SIMILAR_DOCS_ORACLE.replace("{perms}", _minhash_perm_values())
    .replace("{rpb}", str(D.ROWS_PER_BAND)),
    tags=("similarity", "search", "lsh"),
)
def q_similar_docs_topk(spark, sf):
    """Find-documents-like-this: top-5 corpus documents per query doc
    (doc_id < 60) by shingle Jaccard, candidates from the MinHash-LSH
    band index — never query x corpus
    (operators/dedup.py similar_docs_topk)."""
    docs = load_table(spark, sf, "documents")
    return D.similar_docs_topk(docs, list(range(60)), k=5)


_STANDING_INDEX_CACHE: dict[tuple[str, str], str] = {}


def _standing_dedup_index(spark, sf: str, which: str) -> str:
    """Build-once per (sf, scope) standing dedup index in a temp dir —
    the warm-path substrate: first invocation pays the corpus
    shingle+minhash pass, every later one only reads it (exactly the
    production amortization `build_dedup_index` exists for)."""
    import atexit
    import shutil
    import tempfile

    key = (sf, which)
    path = _STANDING_INDEX_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"hstream_dedup_index_{which}_")
        # temp indexes are session-scoped: without cleanup, repeated
        # invocations across scale factors in long-lived sessions leak
        # full corpus shingle/band parquet copies until process exit
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        docs = load_table(spark, sf, "documents")
        if which == "corpus45":
            docs = docs.where(F.col("doc_id") % 5 != 0)
        D.build_dedup_index(docs, path)
        _STANDING_INDEX_CACHE[key] = path
    return path


@register(
    "similar_docs_topk_warm",
    _SIMILAR_DOCS_ORACLE.replace("{perms}", _minhash_perm_values())
    .replace("{rpb}", str(D.ROWS_PER_BAND)),
    tags=("similarity", "search", "lsh", "warm"),
)
def q_similar_docs_topk_warm(spark, sf):
    """`similar_docs_topk` against the persisted standing index
    (`build_dedup_index`): identical result to the cold entry — same
    oracle — but the corpus shingle+minhash pass is READ, not
    recomputed; only the candidate join + Jaccard verify run. The
    cold/warm pair puts a number on the index's amortization claim
    (mirrors the hypertable_rollup cold/warm split)."""
    path = _standing_dedup_index(spark, sf, "full")
    return D.similar_docs_topk(
        None, list(range(60)), k=5, index_path=path, spark=spark
    )


def _simhash_sums_sql() -> str:
    return ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32)
    )


def _simhash_assemble_sql() -> str:
    return " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END" for b in range(32))


_SIMHASH_SIG_ORACLE = f"""
WITH docs AS ({_TOKS_CTE}),
t AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
h AS (SELECT doc_id, {_H31.format(x='tok')} AS h FROM t),
s AS (SELECT doc_id, {_simhash_sums_sql()} FROM h GROUP BY doc_id)
SELECT doc_id, {_simhash_assemble_sql()} AS simhash FROM s
"""


@register("simhash_signature", _SIMHASH_SIG_ORACLE, tags=("dedup", "simhash"))
def q_simhash_signature(spark, sf):
    return D.simhash(load_table(spark, sf, "documents"))


_SIMHASH_PAIRS_ORACLE = f"""
WITH docs AS ({_TOKS_CTE}),
t AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
h AS (SELECT doc_id, {_H31.format(x='tok')} AS h FROM t),
s AS (SELECT doc_id, {_simhash_sums_sql()} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {_simhash_assemble_sql()} AS simhash FROM s)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("dedup_simhash", _SIMHASH_PAIRS_ORACLE, tags=("dedup", "simhash"))
def q_dedup_simhash(spark, sf):
    return D.simhash_near_duplicates(load_table(spark, sf, "documents"), max_hamming=3)


def _simhash_capped_oracle(cap: int = 64) -> str:
    # the hot-bucket-capped banded candidate stage (identical bands,
    # md5(doc_id#band) salt, ceil(n/cap) sub-buckets to the Spark path)
    # WITHOUT the closure — the pairs-level gate that stays DuckDB-
    # feasible at sf1, where band buckets genuinely overflow the cap
    return f"""
WITH docs AS ({_TOKS_CTE}),
t AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
h AS (SELECT doc_id, {_H31.format(x='tok')} AS h FROM t),
s AS (SELECT doc_id, {_simhash_sums_sql()} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {_simhash_assemble_sql()} AS simhash FROM s),
bands AS (SELECT doc_id, simhash, bd.band,
                 (simhash >> (bd.band * 8)) & 255 AS bkey
          FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) bd),
bn AS (SELECT band, bkey, count(*) AS n FROM bands GROUP BY band, bkey),
bs AS (SELECT bands.doc_id, bands.simhash, bands.band, bands.bkey,
              CASE WHEN bn.n <= {cap} THEN 0
                   ELSE ('0x' || substring(md5(bands.doc_id::VARCHAR || '#' || bands.band::VARCHAR), 1, 15))::BIGINT
                        % ((bn.n + {cap - 1}) // {cap})
              END AS salt
       FROM bands JOIN bn ON bands.band = bn.band AND bands.bkey = bn.bkey)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bs a JOIN bs b
  ON a.band = b.band AND a.bkey = b.bkey AND a.salt = b.salt
     AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("dedup_simhash_capped", _simhash_capped_oracle(),
          tags=("dedup", "simhash", "capped"))
def q_dedup_simhash_capped(spark, sf):
    """Hot-bucket-capped simhash near-dup pairs — the candidate stage
    dedup_prune_priority runs on, gated at pairs level so the sf1
    strict check stays DuckDB-feasible (the prune entries' recursive-
    closure oracles are quadratic in component size at scale; the
    ENGINE's pointer-jumping components are not)."""
    return D.simhash_near_duplicates(
        load_table(spark, sf, "documents"), max_hamming=3, cap=64
    )


_NGRAM_JACCARD_ORACLE = f"""
WITH docs AS (SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents),
tha AS (SELECT doc_id, lang, source, list_transform(toks, t -> {_H31.format(x='t')}) AS th
        FROM docs),
sh AS (SELECT doc_id, lang, source,
              unnest(list_transform(generate_series(1, len(th) - 1), i -> {_SHINGLE2})) AS h
       FROM tha),
shh AS (SELECT DISTINCT doc_id, lang, source, h FROM sh),
sets AS (SELECT doc_id, lang, source, list(DISTINCT h) AS hs FROM shh GROUP BY doc_id, lang, source),
jac AS (SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.hs, b.hs))::DOUBLE
                 / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE AS jaccard
        FROM sets a JOIN sets b ON a.lang = b.lang AND a.source = b.source
                                AND a.doc_id < b.doc_id)
SELECT lang, source, doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.3
"""


@register("ngram_jaccard_pairs", _NGRAM_JACCARD_ORACLE, tags=("dedup", "jaccard"))
def q_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), block_cols=["lang", "source"],
        threshold=0.3, n=2
    )


_NORM_VEC = (
    "list_transform(embedding::DOUBLE[], x -> x / sqrt("
    "list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))"
)

_ANN_ORACLE = f"""
WITH e AS (SELECT vec_id, {_NORM_VEC} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, v AS c_vec FROM e),
scored AS (
  SELECT q_id, c_id, list_dot_product(q_vec, c_vec) AS cos
  FROM q, c WHERE q_id != c_id),
ranked AS (SELECT q_id, c_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank
           FROM scored)
SELECT q_id, c_id, cos, rank FROM ranked WHERE rank <= 10
"""


@register("ann_cosine_topk", _ANN_ORACLE, tags=("similarity", "ann"))
def q_ann_cosine_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=10)


def _plane_literal(dim: int, p: int) -> str:
    vals = SIM._hyperplane(dim, p)
    return "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"


def _ann_lsh_oracle(dim: int = 64, planes: int = 8) -> str:
    bucket_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(dim, p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_VEC} AS vn FROM embeddings),
b AS (SELECT vec_id, vn, {bucket_terms} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, vn AS q_vec, bucket FROM b WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, vn AS c_vec, bucket FROM b),
scored AS (
  SELECT q_id, c_id, list_dot_product(q_vec, c_vec) AS cos
  FROM q JOIN c USING (bucket) WHERE q_id != c_id),
ranked AS (SELECT q_id, c_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank
           FROM scored)
SELECT q_id, c_id, cos, rank FROM ranked WHERE rank <= 10
"""


@register("ann_lsh_topk", _ann_lsh_oracle(), tags=("similarity", "ann", "lsh"))
def q_ann_lsh_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < 20), dim=64, k=10, planes=8)


_ANN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_VEC} AS vn FROM embeddings),
ex AS (SELECT vec_id % 8 AS cluster, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e),
cm AS (SELECT cluster, pos,
              CAST(sum(CAST(round(val * 1099511627776) AS BIGINT)) AS DOUBLE)
                  / 1099511627776 / count(*) AS cv
       FROM ex GROUP BY cluster, pos),
craw AS (SELECT cluster, list(cv ORDER BY pos) AS cvec FROM cm GROUP BY cluster),
cent AS (SELECT cluster,
                list_transform(cvec, x -> x / sqrt(list_dot_product(cvec, cvec))) AS cn
         FROM craw),
ac AS (SELECT e.vec_id, e.vn, cent.cluster,
              list_dot_product(e.vn, cent.cn) AS cos
       FROM e, cent),
ar AS (SELECT vec_id, vn, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster ASC) AS rn
       FROM ac),
assigned AS (SELECT vec_id AS c_id, vn AS c_vec, cluster FROM ar WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, vn AS q_vec, cluster FROM ar WHERE vec_id < 20 AND rn <= 2),
scored AS (SELECT q_id, c_id, list_dot_product(q_vec, c_vec) AS cos
           FROM probes JOIN assigned USING (cluster) WHERE q_id != c_id),
ranked AS (SELECT q_id, c_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank
           FROM scored)
SELECT q_id, c_id, cos, rank FROM ranked WHERE rank <= 10
"""


_ANN_NP_ORACLE = f"""
WITH e AS (SELECT vec_id, {_NORM_VEC} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, v AS c_vec FROM e),
scored AS (
  SELECT q_id, c_id, round(list_dot_product(q_vec, c_vec), 8) AS cos
  FROM q, c WHERE q_id != c_id),
ranked AS (SELECT q_id, c_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank
           FROM scored)
SELECT q_id, c_id, cos, rank FROM ranked WHERE rank <= 10
"""


@register("ann_bruteforce_np", _ANN_NP_ORACLE, tags=("similarity", "ann", "pandas-udf"))
def q_ann_bruteforce_np(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return SIM.brute_force_topk_np(emb, emb.filter(F.col("vec_id") < 20), k=10)


_IVF_QUANTIZERS: dict[str, list] = {}


@register("ann_ivf_topk", _ANN_IVF_ORACLE, tags=("similarity", "ann", "ivf"))
def q_ann_ivf_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    quant = _IVF_QUANTIZERS.get(sf)  # train once per corpus, reuse across queries
    if quant is None:
        quant = _IVF_QUANTIZERS[sf] = SIM.train_ivf_quantizer(emb, n_clusters=8)
    return SIM.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=10, n_clusters=8, nprobe=2,
        quantizer=quant,
    )


# Exact all-pairs cosine is the ground-truth BASELINE for the LSH
# sibling, so it must exist — but quadratic-in-corpus is not runnable at
# 100 TB. Bound it the way recall is actually evaluated in production:
# take a deterministic md5-ordered sample of at most _EMB_BASELINE_CAP
# vectors (a TakeOrdered — partition-local top-N then a model-sized
# driver merge) and score all pairs WITHIN the sample. Cost is then a
# constant (~cap²/2 pairs) at ANY corpus size; on corpora at or under
# the cap (sf≤0.01 here) the sample is the whole table and the
# decisions are the original full exact output.
_EMB_BASELINE_CAP = 800

_EMB_NEARDUP_ORACLE = f"""
WITH s AS (SELECT vec_id, embedding FROM embeddings
           ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_EMB_BASELINE_CAP}),
e AS (SELECT vec_id, {_NORM_VEC} AS v FROM s),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.v, b.v) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4
"""


@register("dedup_embedding_cosine", _EMB_NEARDUP_ORACLE, tags=("dedup", "embedding"))
def q_dedup_embedding_cosine(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    sample = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_EMB_BASELINE_CAP)
    )
    return SIM.embedding_near_duplicates(sample, threshold=0.4, blocked=False)


def _emb_neardup_lsh_oracle(dim: int = 64, planes: int = 8) -> str:
    bucket_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(dim, p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_VEC} AS vn FROM embeddings),
b AS (SELECT vec_id, vn, {bucket_terms} AS bucket FROM e),
p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             list_dot_product(a.vn, b2.vn) AS cos
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, cos FROM p WHERE cos >= 0.2
"""


@register("dedup_embedding_lsh", _emb_neardup_lsh_oracle(), tags=("dedup", "embedding", "lsh"))
def q_dedup_embedding_lsh(spark, sf):
    """Single-table sign-LSH blocking — exact recall within buckets.
    Bucket COUNT is fixed (2^planes), so occupancy grows linearly with
    the corpus and within-bucket pairs quadratically (sf1 sweep: 15.5×
    at 10× data): at scale, tune ``planes`` up with corpus size or use
    `dedup_embedding_lsh_capped` (multi-table + hot-bucket capping),
    whose candidate volume is bounded by construction."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.embedding_near_duplicates(
        emb, threshold=0.2, dim=64, planes=8, blocked=True
    )


def _emb_neardup_lsh_capped_oracle(dim: int = 64, planes: int = 8,
                                   tables: int = 2, cap: int = 64) -> str:
    def terms(t: int) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product(v, {_plane_literal(dim, t * planes + p)}) > 0 THEN {1 << p} ELSE 0 END"
            for p in range(planes)
        )

    tb_sel = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {terms(t)} AS bucket FROM e"
        for t in range(tables)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_VEC} AS vn FROM embeddings),
tb AS ({tb_sel}),
bn AS (SELECT tbl, bucket, count(*) AS n FROM tb GROUP BY tbl, bucket),
bsalt AS (SELECT tb.vec_id, tb.tbl, tb.bucket,
                 CASE WHEN bn.n <= {cap} THEN 0
                      ELSE ('0x' || substring(md5(tb.vec_id::VARCHAR || '#' || tb.tbl::VARCHAR), 1, 15))::BIGINT
                           % ((bn.n + {cap - 1}) // {cap})
                 END AS salt
          FROM tb JOIN bn ON tb.tbl = bn.tbl AND tb.bucket = bn.bucket),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bsalt a JOIN bsalt b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.salt = b.salt
              AND a.vec_id < b.vec_id),
nv AS (SELECT vec_id, vn FROM e)
SELECT c.id_a, c.id_b, list_dot_product(na.vn, nb.vn) AS cos
FROM cand c
JOIN nv na ON na.vec_id = c.id_a
JOIN nv nb ON nb.vec_id = c.id_b
WHERE list_dot_product(na.vn, nb.vn) >= 0.2
"""


@register("dedup_embedding_lsh_capped", _emb_neardup_lsh_capped_oracle(),
          tags=("dedup", "embedding", "lsh"))
def q_dedup_embedding_lsh_capped(spark, sf):
    """Multi-table sign-LSH with hot-bucket capping — the 100 TB shape
    of embedding near-dup blocking (see
    SIM.embedding_near_duplicates_capped): 2 independent plane sets
    raise recall, per-(table,bucket) salted sub-buckets bound any one
    bucket's pair contribution at O(m·cap). The oracle replays the
    identical table/salt/cap rules."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.embedding_near_duplicates_capped(
        emb, threshold=0.2, dim=64, planes=8, tables=2, cap=64
    )


def _components_sql(rounds: int = 17) -> str:
    """Unrolled min-label pointer jumping over an ``edges(a, b)`` CTE
    (must be symmetrized), emitting a drop-in ``comp(doc_id, component)``.

    The component label (min node id per component) is ALGORITHM-
    independent, so this is byte-identical to the recursive
    transitive-closure min it replaces — but each round is one linear
    join+group over |V|+|E| (self label ∪ neighbor labels ∪
    label-of-label), not an all-pairs reachability materialization
    that is quadratic in component size (measured DuckDB-infeasible at
    sf1: 49 min CPU / 29 GB before abort). The label-of-label term is
    pointer jumping: label distance to the minimum doubles per round,
    so ``rounds=17`` converges for any component diameter ≤ 2^16 —
    safe for every SF this repo tests (≤ 100k nodes). The ``__conv``
    guard compares the last two rounds and empties ``comp`` on any
    non-convergence, so too-few-rounds fails the row-count gate LOUDLY
    instead of shipping a wrong label. Mirrors the engine's
    pointer-jumping ``connected_components`` (operators/dedup.py)."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous one three times — inlined,
    # the plan expands 3^rounds-fold (observed as an fd/planner
    # explosion); materialized, each round computes exactly once
    parts = [
        "l0 AS MATERIALIZED "
        "(SELECT a AS v, least(a, min(b)) AS l FROM edges GROUP BY a)"
    ]
    for k in range(rounds):
        p, c = f"l{k}", f"l{k + 1}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT t.v, min(t.c) AS l FROM ("
            f"SELECT v, l AS c FROM {p} "
            f"UNION ALL SELECT e.a AS v, pl.l AS c FROM edges e JOIN {p} pl ON pl.v = e.b "
            f"UNION ALL SELECT me.v, ll.l AS c FROM {p} me JOIN {p} ll ON ll.v = me.l"
            f") t GROUP BY t.v)"
        )
    last, prev = f"l{rounds}", f"l{rounds - 1}"
    parts.append(
        f"__conv AS (SELECT count(*) AS n FROM {last} x "
        f"JOIN {prev} y ON x.v = y.v AND x.l <> y.l)"
    )
    parts.append(
        f"comp AS (SELECT v AS doc_id, l AS component FROM {last} "
        f"WHERE (SELECT n FROM __conv) = 0)"
    )
    return ",\n".join(parts)


def _dedup_components_oracle(dim: int = 64, planes: int = 8) -> str:
    bucket_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(dim, p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(planes)
    )
    return f"""
WITH
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_VEC} AS vn FROM embeddings),
b AS (SELECT vec_id, vn, {bucket_terms} AS bucket FROM e),
pr AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b
       FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       WHERE list_dot_product(a.vn, b2.vn) >= 0.2),
edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
{_components_sql()}
SELECT doc_id, component FROM comp
"""


@register("dedup_components", _dedup_components_oracle(), tags=("dedup", "components"))
def q_dedup_components(spark, sf):
    """Near-dup clusters of the embedding-LSH pair graph: iterative
    min-label propagation vs the oracle's recursive transitive closure."""
    emb = load_table(spark, sf, "embeddings")
    pairs = SIM.embedding_near_duplicates(
        emb, threshold=0.2, dim=64, planes=8, blocked=True
    )
    return D.connected_components(pairs, left_col="id_a", right_col="id_b")


_QUANT_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                  THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                  ELSE 1.0 END AS scale
      FROM e),
q AS (SELECT vec_id, scale,
             list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
      FROM s)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT) AS qsum,
       list_min(qv)  AS qmin,
       list_max(qv)  AS qmax
FROM q
"""


@register("embedding_quantize", _QUANT_ORACLE, tags=("similarity", "quantize"))
def q_embedding_quantize(spark, sf):
    """Int8 symmetric quantization of the embedding corpus, verified by
    per-vector checksums (sum/min/max of the quantized values + scale)
    since the canonicalizer can't hash arrays."""
    emb = load_table(spark, sf, "embeddings")
    q = SIM.quantize_embeddings(emb)
    qv = F.col("qvec")
    return q.select(
        "vec_id",
        "scale",
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("qsum"),
        F.array_min(qv).alias("qmin"),
        F.array_max(qv).alias("qmax"),
    )


@register(
    "cap_per_group",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 1000000007, doc_id
             ) AS rk
      FROM (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS lang
            FROM documents)
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= 20
    """,
    tags=("sampling", "cap"),
)
def q_cap_per_group(spark, sf):
    """At-most-K-per-group downsampling (the per-domain cap of corpus
    curation) with a deterministic hash rank — the kept set is
    engine-independent. Group = a synthetic 16-way label derived from
    the id hash (the corpus has no domain column)."""
    from hstream_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("lang")
    )
    return SMP.cap_per_group(docs, "doc_id", "lang", 20)


# band spans stay within ~1 order of magnitude of the bucket width so
# the bucketed path's interval explosion is O(1) per band (a catch-all
# [x, huge] band would explode into thousands of bucket rows — cap the
# last band at the domain ceiling instead)
_BANDS = [
    (0, 0.0, 50.0),
    (1, 50.0, 150.0),
    (2, 150.0, 350.0),
    (3, 350.0, 750.0),
    (4, 750.0, 1600.0),
]

_RANGE_JOIN_ORACLE = f"""
WITH bands(band, lo, hi) AS (VALUES {", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS)})
SELECT b.band, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
GROUP BY b.band
"""


@register("range_join_bands", _RANGE_JOIN_ORACLE, tags=("join", "range"))
def q_range_join_bands(spark, sf):
    """Numeric range join (value ∈ [lo, hi] band lookup) exercised
    through the bucketed path — bucket equi-join + exact refine, one
    hash shuffle instead of a nested-loop theta join."""
    ev = load_table(spark, sf, "events").select("event_id", "value")
    bands = spark.createDataFrame(_BANDS, "band long, lo double, hi double")
    j = J.range_join(ev, bands, "value", "lo", "hi", bucket_width=100.0)
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("value"))).cast("double").alias("total"),
    )


def _hypertable_paths(sf: str) -> tuple[str, str]:
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    return (
        os.path.join(tempfile.gettempdir(), f"hstream_ht_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hstream_ru_{tag}"),
    )


def reset_hypertable_layout(sf: str) -> None:
    """Remove the on-disk hypertable layout + rollup for ``sf`` so the
    next q_hypertable_rollup run pays the COLD path (layout write +
    first full rollup). bench.py uses this to pin cold-vs-warm
    deterministically instead of depending on temp-dir history."""
    import shutil

    for p in _hypertable_paths(sf):
        shutil.rmtree(p, ignore_errors=True)


@register(
    "hypertable_rollup",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events GROUP BY dt, event_type
    """,
    tags=("hypertable", "rollup"),
)
def q_hypertable_rollup(spark, sf):
    """Hypertable continuous aggregate: events land chunk-partitioned
    by day (dt=YYYY-MM-DD directories → time-range scans prune at the
    directory level) and the daily rollup is maintained INCREMENTALLY —
    only chunks missing from the rollup are aggregated per maintenance
    run, so steady-state cost tracks the delta, never the table. The
    oracle pins the materialized rollup against a direct aggregation
    of the source."""
    from hstream_spark.sources import hypertable as H

    base, rollup = _hypertable_paths(sf)
    if not H.chunks(base):
        ev = load_table(spark, sf, "events")
        H.write_time_partitioned(ev, base, "ts", "day", mode="overwrite")

    def daily(src):
        return src.groupBy("dt", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total"),
        )

    H.incremental_rollup(spark, base, rollup, daily)
    # partition-value inference reads dt back as DATE; normalize to the
    # chunk string for the comparison
    return spark.read.parquet(rollup).select(
        F.date_format("dt", "yyyy-MM-dd").alias("dt"), "event_type", "n", "total"
    )


_BOILER_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
      FROM t, unnest(generate_series(1, len(toks) - 2)) AS s(i)),
boiler AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram) d
           WHERE df >= 3),
per AS (SELECT doc_id,
               count(*) AS n_grams,
               count(*) FILTER (WHERE gram IN (SELECT gram FROM boiler)) AS n_boiler
        FROM g GROUP BY doc_id)
SELECT doc_id, n_grams, n_boiler,
       n_boiler / CAST(n_grams AS DOUBLE) AS boiler_frac
FROM per
"""


@register("boilerplate_signals", _BOILER_ORACLE, tags=("text", "boilerplate"))
def q_boilerplate_signals(spark, sf):
    """C4-style cross-document boilerplate detection (per-doc count and
    fraction of 3-grams repeated in >=3 documents)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.boilerplate_signals(docs, n=3, min_df=3)


_VOCAB_ORACLE = """
WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
           FROM documents),
c AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS token_id FROM c)
SELECT token_id, tok, n FROM r WHERE token_id <= 1000
"""


@register("vocab_top", _VOCAB_ORACLE, tags=("text", "vocab"))
def q_vocab_top(spark, sf):
    """Tokenizer-vocabulary induction: top-1000 corpus tokens with
    deterministic ids."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.vocab_top(docs, k=1000)


_LM_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
             FROM documents),
c AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
tot AS (SELECT sum(n) AS total FROM c),
p AS (SELECT tok, -ln(n::DOUBLE / total::DOUBLE) AS nll FROM c, tot)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(floor(sum(CAST(p.nll AS DECIMAL(27,18))) * 1000000) AS BIGINT) AS nll_micro
FROM tok t JOIN p USING (tok)
GROUP BY t.doc_id
"""


@register("lm_cross_entropy", _LM_ORACLE, tags=("text", "lm"))
def q_lm_cross_entropy(spark, sf):
    """Unigram-LM cross-entropy per document (the CCNet perplexity
    quality signal), decimal-summed for cross-engine determinism."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.lm_cross_entropy(docs)


_LM_BIGRAM_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
uni AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
tot AS (SELECT sum(n) AS total FROM uni),
bi AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i])) AS prev,
              unnest(list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i + 1])) AS tok
       FROM t),
bc AS (SELECT prev, tok, count(*) AS c FROM bi GROUP BY prev, tok),
cx AS (SELECT prev, sum(c) AS ctx FROM bc GROUP BY prev),
fst AS (SELECT doc_id, toks[1] AS tok FROM t WHERE len(toks) >= 1),
fn AS (SELECT f.doc_id, -ln(u.n::DOUBLE / tot.total::DOUBLE) AS nll
       FROM fst f JOIN uni u USING (tok), tot),
bn AS (SELECT b.doc_id,
              -ln(0.75 * (bc.c::DOUBLE / cx.ctx::DOUBLE)
                  + 0.25 * (u.n::DOUBLE / tot.total::DOUBLE)) AS nll
       FROM bi b JOIN bc ON bc.prev = b.prev AND bc.tok = b.tok
                 JOIN cx ON cx.prev = b.prev
                 JOIN uni u ON u.tok = b.tok, tot),
allr AS (SELECT * FROM fn UNION ALL SELECT * FROM bn)
SELECT doc_id, count(*) AS n_tokens,
       CAST(floor(sum(CAST(nll AS DECIMAL(27,18))) * 1000000) AS BIGINT)
           AS nll_micro
FROM allr GROUP BY doc_id
"""


_LM_TRIGRAM_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
uni AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
tot AS (SELECT sum(n) AS total FROM uni),
bi AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i])) AS prev,
              unnest(list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i + 1])) AS tok
       FROM t),
bc AS (SELECT prev, tok, count(*) AS c FROM bi GROUP BY prev, tok),
cx AS (SELECT prev, sum(c) AS ctx FROM bc GROUP BY prev),
tri AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i])) AS p2,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i + 1])) AS p1,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i + 2])) AS tok
        FROM t),
tc AS (SELECT p2, p1, tok, count(*) AS c FROM tri GROUP BY p2, p1, tok),
tcx AS (SELECT p2, p1, sum(c) AS ctx FROM tc GROUP BY p2, p1),
fst AS (SELECT doc_id, toks[1] AS tok FROM t WHERE len(toks) >= 1),
fn AS (SELECT f.doc_id, -ln(u.n::DOUBLE / tot.total::DOUBLE) AS nll
       FROM fst f JOIN uni u USING (tok), tot),
snd AS (SELECT doc_id, toks[1] AS prev, toks[2] AS tok FROM t
        WHERE len(toks) >= 2),
sn AS (SELECT s.doc_id,
              -ln((0.6::DOUBLE + 0.3::DOUBLE)
                      * (bc.c::DOUBLE / cx.ctx::DOUBLE)
                  + 0.1 * (u.n::DOUBLE / tot.total::DOUBLE)) AS nll
       FROM snd s JOIN bc ON bc.prev = s.prev AND bc.tok = s.tok
                  JOIN cx ON cx.prev = s.prev
                  JOIN uni u ON u.tok = s.tok, tot),
tn AS (SELECT g.doc_id,
              -ln(0.6 * (tc.c::DOUBLE / tcx.ctx::DOUBLE)
                  + 0.3 * (bc.c::DOUBLE / cx.ctx::DOUBLE)
                  + 0.1 * (u.n::DOUBLE / tot.total::DOUBLE)) AS nll
       FROM tri g JOIN tc ON tc.p2 = g.p2 AND tc.p1 = g.p1 AND tc.tok = g.tok
                  JOIN tcx ON tcx.p2 = g.p2 AND tcx.p1 = g.p1
                  JOIN bc ON bc.prev = g.p1 AND bc.tok = g.tok
                  JOIN cx ON cx.prev = g.p1
                  JOIN uni u ON u.tok = g.tok, tot),
allr AS (SELECT * FROM fn UNION ALL SELECT * FROM sn
         UNION ALL SELECT * FROM tn)
SELECT doc_id, count(*) AS n_tokens,
       CAST(floor(sum(CAST(nll AS DECIMAL(27,18))) * 1000000) AS BIGINT)
           AS nll_micro
FROM allr GROUP BY doc_id
"""


@register("lm_trigram_cross_entropy", _LM_TRIGRAM_ORACLE, tags=("text", "lm"))
def q_lm_trigram_cross_entropy(spark, sf):
    """Interpolated trigram-LM cross-entropy per document (0.6 trigram
    + 0.3 bigram + 0.1 unigram; first token unigram-only, second
    bigram-backoff) — the CCNet-style n-gram perplexity filter one
    order up from the bigram entry, same count-aggregation shape
    (operators/text.py lm_trigram_cross_entropy)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.lm_trigram_cross_entropy(docs)


@register("lm_bigram_cross_entropy", _LM_BIGRAM_ORACLE, tags=("text", "lm"))
def q_lm_bigram_cross_entropy(spark, sf):
    """Interpolated bigram-LM cross-entropy per document (lam=0.75
    bigram + 0.25 unigram; first token unigram-only) — the next model
    order toward CCNet's KenLM filter: flags shuffled/keyword-stuffed
    text whose tokens are common but whose transitions are not.
    Bigram pairs come from the token array in one projection (no
    ordering window); totals are exact integer micro-nats
    (operators/text.py lm_bigram_cross_entropy)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.lm_bigram_cross_entropy(docs)


_REMOVE_SPANS_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
      FROM t, unnest(generate_series(1, len(toks) - 7)) s(i)),
dup AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY gram) d
        WHERE c > 1),
hits AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
grp AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                    ORDER BY pos) <= 8
                          THEN 0 ELSE 1 END AS brk
              FROM hits) x),
spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
          FROM grp GROUP BY doc_id, island),
tok AS (SELECT doc_id, i AS p, toks[i] AS tk
        FROM t, unnest(generate_series(1, len(toks))) u(i)),
keep AS (SELECT k.doc_id, k.p, k.tk FROM tok k
         WHERE NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = k.doc_id
                             AND k.p BETWEEN s.s AND s.e)),
agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text,
               count(*) AS n_tokens
        FROM keep GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_tokens, 0) AS n_tokens,
       len(t.toks) - coalesce(a.n_tokens, 0) AS n_removed
FROM t LEFT JOIN agg a USING (doc_id)
"""


@register("dedup_passage_removal", _REMOVE_SPANS_ORACLE, tags=("dedup", "substring"))
def q_dedup_passage_removal(spark, sf):
    """ExactSubstr cut step: documents rebuilt with every duplicated
    >=8-token passage excised (operators/dedup.py
    remove_duplicate_passages)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return D.remove_duplicate_passages(docs, min_tokens=8)


_CONTAIN_ORACLE = """
WITH s AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> array_to_string(toks[i:i+2], ' '))) AS grams
  FROM (SELECT doc_id, lang, source,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
  WHERE len(toks) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(len(a.grams) AS DOUBLE), 6) AS containment
FROM s a JOIN s b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(len(a.grams) AS DOUBLE) >= 0.6
"""


@register("containment_pairs", _CONTAIN_ORACLE, tags=("dedup", "containment"))
def q_containment_pairs(spark, sf):
    """One-sided n-gram containment (|A∩B|/|A| >= 0.6) within
    (lang, source) blocks — catches excerpt/subset documents symmetric
    Jaccard misses (operators/dedup.py containment_pairs)."""
    return D.containment_pairs(
        load_table(spark, sf, "documents"), block_cols=["lang", "source"],
        threshold=0.6, n=3,
    )


_SPAN_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
      FROM t, unnest(generate_series(1, len(toks) - 7)) s(i)),
dup AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY gram) d
        WHERE c > 1),
hits AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
grp AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                    ORDER BY pos) <= 8
                          THEN 0 ELSE 1 END AS brk
              FROM hits) x)
SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
       max(pos) + 8 - min(pos) AS span_tokens
FROM grp GROUP BY doc_id, island
"""


@register("dedup_exact_substring", _SPAN_ORACLE, tags=("dedup", "substring"))
def q_dedup_exact_substring(spark, sf):
    """Exact-substring duplicate passages (Lee et al. ExactSubstr as a
    relational plan): maximal >=8-token spans whose every 8-gram
    repeats in the corpus (operators/dedup.py
    duplicate_passage_spans)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return D.duplicate_passage_spans(docs, min_tokens=8)


_URL_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM:443/docs/' || doc_id
         || '?utm_source=feed&id=' || doc_id
         || '&utm_medium=em&gclid=abc#frag' AS url
  FROM documents),
parts AS (
  SELECT doc_id, url,
         regexp_replace(url, '#.*$', '', 'g') AS u1
  FROM u),
comp AS (
  SELECT doc_id, url,
         lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(u1, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host0,
         regexp_extract(u1, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest0
  FROM parts),
fixed AS (
  SELECT doc_id, url, scheme,
         regexp_replace(
           CASE WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '', 'g')
                WHEN scheme = 'http'  THEN regexp_replace(host0, ':80$', '', 'g')
                ELSE host0 END,
           '^www\\.', '', 'g') AS host,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(rest0, '(utm_[A-Za-z]+|fbclid|gclid)=[^&]*', '', 'g'),
                 '&&+', '&', 'g'),
               '\\?&', '?', 'g'),
             '[?&]$', '', 'g'),
           '/$', '', 'g') AS rest
  FROM comp)
SELECT doc_id, host,
       CASE WHEN scheme = '' THEN url
            ELSE scheme || '://' || host || rest END AS url_norm
FROM fixed
"""


@register("url_normalize", _URL_ORACLE, tags=("curation", "url"))
def q_url_normalize(spark, sf):
    """URL canonicalization (web-crawl curation normalizer) over URLs
    derived from document fields: lowercase scheme/host, strip
    fragment, default port, www., tracking params, dangling separators
    and trailing slash — pure regexp pipeline (operators/text.py
    normalize_url)."""
    docs = load_table(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/docs/"),
        F.col("doc_id"), F.lit("?utm_source=feed&id="), F.col("doc_id"),
        F.lit("&utm_medium=em&gclid=abc#frag"),
    )
    return docs.select(
        "doc_id",
        TX.url_host(TX.normalize_url(url)).alias("host"),
        TX.normalize_url(url).alias("url_norm"),
    )


_SRC_STATS_ORACLE = """
WITH d AS (SELECT source, lang, length(text) AS n, md5(text) AS h FROM documents),
dupset AS (SELECT h FROM (SELECT h, count(*) AS c FROM d GROUP BY h) x WHERE c > 1)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(n) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN h IN (SELECT h FROM dupset) THEN 1 ELSE 0 END)
            AS BIGINT) AS dup_docs,
       round(sum(CASE WHEN h IN (SELECT h FROM dupset) THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_frac
FROM d GROUP BY source
"""


@register("source_quality_stats", _SRC_STATS_ORACLE, tags=("curation", "stats"))
def q_source_quality_stats(spark, sf):
    """Per-source curation rollup: docs, language spread, characters,
    exact-duplicate fraction (operators/text.py
    source_curation_stats)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.source_curation_stats(docs)


_CHUNK_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents WHERE trim(text) <> ''),
w AS (SELECT doc_id, toks,
             unnest(generate_series(
               0, CAST(floor((len(toks) - 1) / 24.0) AS BIGINT))) AS chunk_idx
      FROM t)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
         AS chunk_text,
       len(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS chunk_tokens
FROM w
"""


@register("chunk_documents", _CHUNK_ORACLE, tags=("text", "chunk"))
def q_chunk_documents(spark, sf):
    """Context-window chunking (32-token windows, stride 24 —
    overlapping): the map-only explode before training/embedding
    (operators/text.py chunk_documents)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.chunk_documents(docs, max_tokens=32, stride=24)


_PACK_ORACLE = """
WITH RECURSIVE
base AS (SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                  AS n_tokens,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
                  AS bucket
         FROM documents),
d AS (SELECT doc_id, n_tokens, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM base),
packed AS (
  SELECT bucket, rn, doc_id, n_tokens, n_tokens AS acc,
         CAST(0 AS BIGINT) AS pack_seq
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN p.acc + d.n_tokens > 128 THEN d.n_tokens
              ELSE p.acc + d.n_tokens END,
         CASE WHEN p.acc + d.n_tokens > 128 THEN p.pack_seq + 1
              ELSE p.pack_seq END
  FROM packed p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1)
SELECT doc_id, n_tokens, bucket, pack_seq FROM packed
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016) — oracle-gated end to end
# ---------------------------------------------------------------------------


def _bpe_oracle_ctes(k: int) -> str:
    """Shared CTE chain: word counts → k unrolled merge rounds. Round r
    exposes m{r} (the winning pair, count-desc / pair-asc tie-break)
    and v{r} (the vocabulary with merges 1..r applied via the same
    leftmost-non-overlapping literal replace the Spark side uses)."""
    parts = [
        """words AS MATERIALIZED (
  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok),
v0 AS MATERIALIZED (SELECT array_to_string(list_transform(generate_series(1, length(w)),
                                             i -> substr(w, i, 1)), ' ') AS s,
              c FROM words)""",
    ]
    for r in range(1, k + 1):
        p = r - 1
        parts.append(f"""
p{r} AS MATERIALIZED (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                                      i -> l[i] || ' ' || l[i + 1])) AS pr, c
         FROM (SELECT string_split(s, ' ') AS l, c FROM v{p})
         WHERE len(l) > 1),
m{r} AS MATERIALIZED (SELECT pr, CAST(SUM(c) AS BIGINT) AS pc FROM p{r}
         GROUP BY pr ORDER BY pc DESC, pr ASC LIMIT 1),
v{r} AS MATERIALIZED (
  -- doubled replace: one pass misses alternating members of adjacent
  -- runs (shared delimiter space); the misses are isolated, so a
  -- second pass completes the standard simultaneous merge set
  SELECT trim(replace(replace(' ' || s || ' ',
                              ' ' || (SELECT pr FROM m{r}) || ' ',
                              ' ' || replace((SELECT pr FROM m{r}), ' ', '')
                                  || ' '),
                      ' ' || (SELECT pr FROM m{r}) || ' ',
                      ' ' || replace((SELECT pr FROM m{r}), ' ', '')
                          || ' ')) AS s, c
  FROM v{p})""")
    return ",".join(parts)


def _bpe_train_oracle(k: int = 10) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, split_part(pr, ' ', 1) AS lft, "
        f"split_part(pr, ' ', 2) AS rgt, pc AS pair_count FROM m{r}"
        for r in range(1, k + 1)
    )
    return f"WITH {_bpe_oracle_ctes(k)}\nSELECT * FROM ({union})"


def _bpe_tokenize_oracle(k: int = 10, sample_n: int = 8) -> str:
    applied = "' ' || array_to_string(list_transform(generate_series(1, length(tok)), i -> substr(tok, i, 1)), ' ') || ' '"
    for r in range(1, k + 1):
        one = (
            f"replace({applied}, ' ' || (SELECT pr FROM m{r}) || ' ', "
            f"' ' || replace((SELECT pr FROM m{r}), ' ', '') || ' ')"
        )
        # doubled: see _apply_merges (adjacent-run completeness)
        applied = (
            f"replace({one}, ' ' || (SELECT pr FROM m{r}) || ' ', "
            f"' ' || replace((SELECT pr FROM m{r}), ' ', '') || ' ')"
        )
    return f"""
WITH {_bpe_oracle_ctes(k)},
tok AS (SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS i
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
              FROM documents)),
dtok AS (SELECT doc_id, i, string_split(trim({applied}), ' ') AS sw
         FROM tok WHERE tok <> ''),
flatd AS (SELECT doc_id, CAST(SUM(len(sw)) AS BIGINT) AS n_subwords,
                 flatten(list(sw ORDER BY i)) AS all_sw
          FROM dtok GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(f.n_subwords, 0) AS n_subwords,
       COALESCE(array_to_string(f.all_sw[1:{sample_n}], '|'), '') AS subwords_sample
FROM documents d LEFT JOIN flatd f ON f.doc_id = d.doc_id
"""


_BPE_MERGE_CACHE: dict[tuple[str, int], list] = {}


def _bpe_merges(spark, sf: str, k: int = 10) -> list:
    key = (sf, k)
    if key not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[key] = TX.bpe_train(
            load_table(spark, sf, "documents"), merges=k
        )
    return _BPE_MERGE_CACHE[key]


@register("bpe_train", _bpe_train_oracle(), tags=("text", "tokenizer", "iterative"))
def q_bpe_train(spark, sf):
    """Learn 10 BPE merge rules from the documents corpus — the
    tokenizer-training step of an LLM pipeline (Sennrich et al. 2016).
    One corpus-sized word-count shuffle; the 10 merge rounds iterate on
    the VOCABULARY frame with one 1-row collect per round
    (operators/text.py bpe_train). The oracle replays every round as
    an unrolled CTE chain — pair counts, count-desc/pair-asc
    tie-breaks, and leftmost-non-overlapping merge application are all
    engine-exact (integer counts, literal string replaces)."""
    # train FRESH every invocation — this entry's wall-clock IS the
    # trainer (a cache hit would make the bench/scale-sweep number a
    # createDataFrame measurement); refresh the cache so the tokenize
    # entry reuses the merges without retraining
    merges = TX.bpe_train(load_table(spark, sf, "documents"), merges=10)
    _BPE_MERGE_CACHE[(sf, 10)] = merges
    return spark.createDataFrame(
        [
            (r + 1, left, right, count)
            for r, (left, right, count) in enumerate(merges)
        ],
        "rank int, lft string, rgt string, pair_count long",
    )


@register(
    "bpe_subword_tokenize",
    _bpe_tokenize_oracle(),
    tags=("text", "tokenizer"),
)
def q_bpe_subword_tokenize(spark, sf):
    """Tokenize the corpus with the 10 learned BPE merges — MAP-ONLY
    application (character split + a chain of 10 literal replaces per
    word, codegen string ops, no shuffle, no Python): per document the
    true subword count and the first 8 subwords as a deterministic
    sample (operators/text.py bpe_tokenize)."""
    merges = _bpe_merges(spark, sf, 10)
    return TX.bpe_tokenize(load_table(spark, sf, "documents"), merges)



@register("pack_sequences", _PACK_ORACLE, tags=("text", "packing"))
def q_pack_sequences(spark, sf):
    """Greedy sequence packing into 128-token training sequences,
    sharded over 8 deterministic id-hash buckets (operators/text.py
    pack_sequences; the oracle replays the greedy fold as a recursive
    CTE)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents")).select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return TX.pack_sequences(docs, max_tokens=128, n_buckets=8)


def _quality_clf_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS)
    email = TX.EMAIL_PATTERN
    phone = TX.PHONE_PATTERN
    w = TX.QUALITY_CLF_WEIGHTS
    return f"""
WITH f AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks,
         CAST(len(regexp_extract_all(text, '{email}'))
              + len(regexp_extract_all(text, '{phone}')) AS DOUBLE) AS pii
  FROM documents),
g AS (
  SELECT doc_id, pii, toks, ltoks, len(toks) AS n,
         CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bg
  FROM f),
z AS (
  SELECT doc_id,
         {w["bias"]}
         + {w["length_credit"]} * least(CAST(n AS DOUBLE) / 50.0, 1.0)
         + {w["stopword_ratio"]} * (CASE WHEN n > 0 THEN
             CAST(len(list_filter(ltoks, t -> list_contains([{stop}], t)))
                  AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END)
         + {w["distinct_ratio"]} * (CASE WHEN n > 0 THEN
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(n AS DOUBLE)
             ELSE 0.0 END)
         + {w["dup_bigram_frac"]} * (CASE WHEN len(bg) > 0 THEN
             1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                   / CAST(len(bg) AS DOUBLE) ELSE 0.0 END)
         + {w["pii_density"]} * (CASE WHEN n > 0 THEN
             pii * 100.0 / CAST(n AS DOUBLE) ELSE 0.0 END) AS z
  FROM g)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 6) AS keep_prob,
       (1.0 / (1.0 + exp(-z))) >= 0.5 AS keep
FROM z
"""


@register("quality_classifier", _quality_clf_oracle(), tags=("text", "curation"))
def q_quality_classifier(spark, sf):
    """Composite logistic keep/drop classifier over the curation
    signals — calibrated keep-probability, map-only
    (operators/text.py quality_classifier)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.quality_classifier(docs)


_NORMTEXT_ORACLE = """
WITH dirty AS (
  SELECT doc_id,
         '  ' || text || chr(9) || chr(11) || chr(8203) || '  tail' || chr(7)
           AS raw
  FROM documents)
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(raw,
           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]',
           '', 'g'),
         '\\s+', ' ', 'g')) AS clean
FROM dirty
"""


@register("normalize_text", _NORMTEXT_ORACLE, tags=("text", "normalize"))
def q_normalize_text(spark, sf):
    """Curation text normalizer over deterministically-dirtied
    documents: control/zero-width strip, whitespace collapse, trim
    (operators/text.py normalize_text)."""
    docs = load_table(spark, sf, "documents")
    dirty = F.concat(
        F.lit("  "), F.col("text"),
        F.lit("\t\x0b\u200b  tail\x07"),
    )
    return docs.select("doc_id", TX.normalize_text(dirty).alias("clean"))


def _pii_redact_oracle() -> str:
    email = TX.EMAIL_PATTERN
    phone = TX.PHONE_PATTERN
    return f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-0' || CAST(doc_id % 900 + 100 AS VARCHAR)
                   || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
              ELSE text
         END AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{phone}', '<PHONE>', 'g'),
                      '{email}', '<EMAIL>', 'g') AS clean
FROM aug
"""


@register("pii_redact", _pii_redact_oracle(), tags=("text", "pii"))
def q_pii_redact(spark, sf):
    """PII scrub over the same deterministic augmentation pii_detect
    uses: emails/phones replaced with typed placeholders
    (operators/text.py pii_redact)."""
    docs = load_table(spark, sf, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"), F.lit(" reach me at user"),
            F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-0"),
            (F.col("doc_id") % 900 + 100).cast("string"), F.lit("-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    return docs.select("doc_id", TX.pii_redact(aug).alias("clean"))


_URL_DEDUP_ORACLE = f"""
WITH u AS (
  SELECT doc_id, text,
         'https://site' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com/page?utm_source=x&id=' || CAST(doc_id % 100 AS VARCHAR)
           AS url
  FROM documents),
canon AS (
  SELECT doc_id, text,
         'https://site' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com/page?id=' || CAST(doc_id % 100 AS VARCHAR)
           AS canonical_url
  FROM u),
keep AS (SELECT canonical_url, min(doc_id) AS doc_id
         FROM canon GROUP BY canonical_url)
SELECT c.doc_id, c.text, c.canonical_url
FROM canon c JOIN keep k
  ON c.doc_id = k.doc_id AND c.canonical_url = k.canonical_url
"""


@register("url_dedup", _URL_DEDUP_ORACLE, tags=("curation", "dedup", "url"))
def q_url_dedup(spark, sf):
    """URL-keyed dedup over URLs derived from doc ids (100 canonical
    URLs across 500 docs — re-crawl variants collapse to the lowest
    id): normalize + keep-one-per-canonical-URL (operators/text.py
    url_dedup). The oracle pre-computes the canonical form the
    normalizer produces."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    with_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.com/page?utm_source=x&id="),
            (F.col("doc_id") % 100).cast("string"),
        ),
    )
    return TX.url_dedup(with_url).select("doc_id", "text", "canonical_url")


def _profile_oracle() -> str:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    parts = []
    for c in cols:
        parts.append(f"""
  SELECT '{c}' AS column,
         count(*) AS n_rows,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS null_rate,
         min(CAST({c} AS VARCHAR)) AS min_value,
         max(CAST({c} AS VARCHAR)) AS max_value,
         count(DISTINCT {c}) + CAST(max(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                                    AS BIGINT) AS n_distinct
  FROM orders""")
    return "\nUNION ALL\n".join(parts)


@register("profile_table", _profile_oracle(), tags=("profiling",))
def q_profile_table(spark, sf):
    """Per-column profiling report over orders (counts, null rate,
    min/max, exact distincts) — one wide single-pass aggregate plus
    column-pruned distinct counts (operators/relational.py
    profile_table)."""
    from hstream_spark.operators.relational import profile_table

    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority",
    )
    return profile_table(orders)


_FUNNEL_ORACLE = """
WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
       JOIN s1 ON e.user_id = s1.u
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id AS u, min(e.ts) AS t3 FROM events e
       JOIN s2 ON e.user_id = s2.u
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
users AS (SELECT DISTINCT user_id AS u FROM events)
SELECT u AS user_id,
       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
       epoch_us(t1) AS step1_us,
       epoch_us(t2) AS step2_us,
       epoch_us(t3) AS step3_us
FROM users
LEFT JOIN s1 USING (u) LEFT JOIN s2 USING (u) LEFT JOIN s3 USING (u)
"""


@register("event_funnel", _FUNNEL_ORACLE, tags=("events", "funnel"))
def q_event_funnel(spark, sf):
    """Ordered view->click->purchase funnel per user, each step
    strictly after the previous (first-touch timestamps as epoch
    micros) — operators/relational.py funnel."""
    from hstream_spark.operators.relational import funnel

    ev = load_table(spark, sf, "events").select("user_id", "event_type", "ts")
    return funnel(ev, ["view", "click", "purchase"])


_RETENTION_ORACLE = """
WITH d AS (SELECT user_id AS u, CAST(ts AS DATE) AS dt FROM events),
first AS (SELECT u, min(dt) AS cohort_date FROM d GROUP BY u),
active AS (SELECT DISTINCT u, dt FROM d),
j AS (SELECT f.cohort_date, a.dt - f.cohort_date AS day_offset, a.u
      FROM active a JOIN first f USING (u)
      WHERE a.dt - f.cohort_date <= 30),
sizes AS (SELECT cohort_date, count(*) AS cohort_users FROM first GROUP BY 1),
ret AS (SELECT cohort_date, day_offset, count(*) AS active_users
        FROM j GROUP BY 1, 2)
SELECT strftime(r.cohort_date, '%Y-%m-%d') AS cohort_date,
       CAST(r.day_offset AS BIGINT) AS day_offset,
       r.active_users,
       s.cohort_users,
       round(r.active_users / CAST(s.cohort_users AS DOUBLE), 6)
         AS retention_rate
FROM ret r JOIN sizes s USING (cohort_date)
"""


@register("cohort_retention", _RETENTION_ORACLE, tags=("events", "retention"))
def q_cohort_retention(spark, sf):
    """Daily-cohort retention matrix over events (offsets 0..30):
    first-active date per user, distinct active days, per-(cohort,
    offset) return counts and rates (operators/relational.py
    cohort_retention)."""
    from hstream_spark.operators.relational import cohort_retention

    ev = load_table(spark, sf, "events").select("user_id", "ts")
    return cohort_retention(ev, max_offset=30)


_BM25_TERMS = ("dup", "vector", "scan")


def _bm25_oracle() -> str:
    k1, b, top_k = 1.2, 0.75, 50
    tfs = ",\n         ".join(
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    parts = " + ".join(
        f"""CASE WHEN tf{i} > 0 THEN
              ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)
                       / (CAST(df{i} AS DOUBLE) + 0.5))
              * CAST(tf{i} AS DOUBLE) * {k1 + 1.0}
              / (CAST(tf{i} AS DOUBLE)
                 + {k1} * ({1.0 - b} + {b} * CAST(dl AS DOUBLE) / avgdl))
            ELSE 0.0 END"""
        for i in range(len(_BM25_TERMS))
    )
    matched = " + ".join(
        f"CAST(tf{i} > 0 AS INT)" for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
         {tfs}
  FROM documents),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl, {dfs} FROM base)
SELECT doc_id, matched, score FROM (
  SELECT b.doc_id, {matched} AS matched,
         round({parts}, 4) AS score
  FROM base b, stats)
WHERE matched > 0
ORDER BY score DESC, doc_id
LIMIT {top_k}
"""


@register("bm25_search", _bm25_oracle(), tags=("text", "search"))
def q_bm25_search(spark, sf):
    """BM25 keyword search top-50 over documents for a mixed
    rare/common term query — one map-only corpus scan + a 1-row
    stats broadcast; no inverted-index shuffle (operators/text.py
    bm25_search)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.bm25_search(docs, list(_BM25_TERMS), top_k=50)


def _curation_oracle() -> str:
    return f"""
WITH RECURSIVE
scored AS (
  SELECT doc_id, text,
         0.4 * least(len(toks)::DOUBLE / 50.0, 1.0)
         + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
         + 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE) AS q
  FROM (SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\\s+') AS toks,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        FROM documents)),
good AS (SELECT doc_id, text FROM scored WHERE q >= 0.75),
reps AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text)),
s1 AS (SELECT g.doc_id, g.text FROM good g JOIN reps r ON g.doc_id = r.doc_id),
t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM s1),
h AS (SELECT doc_id, {_H31.format(x='tok')} AS h FROM t),
s AS (SELECT doc_id, {_simhash_sums_sql()} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {_simhash_assemble_sql()} AS simhash FROM s),
pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
{_components_sql()},
final AS (SELECT doc_id, text FROM s1
          WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component))
SELECT (SELECT count(*) FROM documents) AS n_raw,
       (SELECT count(*) FROM good)      AS n_quality,
       (SELECT count(*) FROM s1)        AS n_exact,
       (SELECT count(*) FROM final)     AS n_final,
       (SELECT CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
        FROM final)                     AS total_tokens
"""


@register("curation_pipeline", _curation_oracle(), tags=("pipeline", "composite"))
def q_curation_pipeline(spark, sf):
    """The end-to-end corpus-curation pipeline as ONE query: quality
    filter (>= 0.75) → exact dedup (min-id per content hash) →
    simhash near-dup prune (Hamming <= 3, pointer-jumping components,
    keep cluster minimum) → corpus summary. Every stage reuses the
    individually-oracle-gated operator; this entry proves they COMPOSE
    (the oracle replays the whole chain, recursive closure included).
    Stage frames stay distributed end to end — the only driver traffic
    is the component fixpoint's model-sized round counters."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")
    # score in a PROJECTION and materialize before filtering: the
    # quality expression would otherwise inline into FilterExec (no
    # subexpression elimination there) and re-evaluate for each of the
    # three downstream uses of `good` (see SCALE.md). localCheckpoint
    # (not persist): same ProjectExec-CSE materialization, but blocks
    # are ContextCleaner-GC'd when the frame drops out of scope instead
    # of pinned in the CacheManager until an explicit unpersist — a
    # long-lived session invoking this entry repeatedly stays bounded
    scored = docs.withColumn(
        "__q", TX.quality_score(F.col("text"))
    ).localCheckpoint()
    good = scored.where(F.col("__q") >= 0.75).drop("__q")
    reps = good.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    s1 = good.join(reps.select("doc_id"), "doc_id", "left_semi").localCheckpoint()
    pairs = D.simhash_near_duplicates(s1, max_hamming=3)
    final = D.prune_duplicates(
        s1, pairs, id_col="doc_id", left_col="doc_a", right_col="doc_b"
    )
    # ONE multi-aggregate over a union of stage-tagged frames instead
    # of four scalar aggregates chained by cross joins: the cross-join
    # shape serializes four tiny broadcast-build jobs after the heavy
    # stages, while the union's branches (raw scan, two checkpoint
    # scans, the final anti-join) all feed a single count/sum pass in
    # one job. Declared output unchanged: same five columns, same
    # values — count(when(stage)) ≡ each frame's count(1), and the
    # token sum still covers exactly the `final` rows.
    tagged = (
        docs.select(F.lit(0).alias("__st"), F.lit(0).alias("__tok"))
        .unionAll(good.select(F.lit(1).alias("__st"), F.lit(0).alias("__tok")))
        .unionAll(s1.select(F.lit(2).alias("__st"), F.lit(0).alias("__tok")))
        .unionAll(
            final.select(
                F.lit(3).alias("__st"),
                TX.token_count(F.col("text")).alias("__tok"),
            )
        )
    )
    return tagged.agg(
        F.count(F.when(F.col("__st") == 0, F.lit(1))).alias("n_raw"),
        F.count(F.when(F.col("__st") == 1, F.lit(1))).alias("n_quality"),
        F.count(F.when(F.col("__st") == 2, F.lit(1))).alias("n_exact"),
        F.count(F.when(F.col("__st") == 3, F.lit(1))).alias("n_final"),
        F.sum(F.when(F.col("__st") == 3, F.col("__tok")))
        .cast("long")
        .alias("total_tokens"),
    )


def _dedup_prune_priority_oracle(cap: int = 64) -> str:
    # replays the Spark path's banded + hot-bucket-capped candidate
    # generation exactly (same 8-bit bands, same md5(doc_id#band) salt,
    # same ceil(n/cap) sub-bucket count), then the transitive closure —
    # so the oracle diverges the moment the capping rules do
    return f"""
WITH RECURSIVE
t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
h AS (SELECT doc_id, {_H31.format(x='tok')} AS h FROM t),
s AS (SELECT doc_id, {_simhash_sums_sql()} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {_simhash_assemble_sql()} AS simhash FROM s),
bands AS (SELECT doc_id, simhash, bd.band,
                 (simhash >> (bd.band * 8)) & 255 AS bkey
          FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) bd),
bn AS (SELECT band, bkey, count(*) AS n FROM bands GROUP BY band, bkey),
bs AS (SELECT bands.doc_id, bands.simhash, bands.band, bands.bkey,
              CASE WHEN bn.n <= {cap} THEN 0
                   ELSE ('0x' || substring(md5(bands.doc_id::VARCHAR || '#' || bands.band::VARCHAR), 1, 15))::BIGINT
                        % ((bn.n + {cap - 1}) // {cap})
              END AS salt
       FROM bands JOIN bn ON bands.band = bn.band AND bands.bkey = bn.bkey),
pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM bs a JOIN bs b
         ON a.band = b.band AND a.bkey = b.bkey AND a.salt = b.salt
            AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
{_components_sql()},
ranked AS (SELECT c.doc_id,
                  row_number() OVER (
                      PARTITION BY c.component
                      ORDER BY CAST(substr(d.source, 4) AS INT), c.doc_id
                  ) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
"""


@register(
    "dedup_prune_priority",
    _dedup_prune_priority_oracle(),
    tags=("dedup", "prune", "priority"),
)
def q_dedup_prune_priority(spark, sf):
    """Multi-source priority dedup: simhash near-dup clusters (Hamming
    <= 3) over the documents corpus, each cluster keeping its most
    TRUSTED member — source rank (the numeric suffix: src0 most
    curated) before id — instead of the lowest id. The "prefer the
    curated dump over the crawl copy" rule of mixed-source training
    corpora (operators/dedup.py prune_duplicates_by: components + one
    component-keyed window + one anti join). The simhash candidate
    stage runs hot-bucket-capped (cap=64): a boilerplate-collapsed
    band bucket contributes O(m·cap) pairs, not m²/2 — the shape that
    survives 100× data; the oracle replays the identical salt rules."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    pairs = D.simhash_near_duplicates(docs, max_hamming=3, cap=64)
    ranked = docs.withColumn(
        "__prio", F.substring(F.col("source"), 4, 8).cast("int")
    )
    kept = D.prune_duplicates_by(
        ranked, pairs, [F.col("__prio")], left_col="doc_a", right_col="doc_b"
    )
    return kept.select("doc_id", "source")


def _dedup_prune_oracle(dim: int = 64, planes: int = 8,
                        tables: int = 2, cap: int = 64) -> str:
    # candidate stage = the capped MULTI-TABLE sign-LSH of
    # _emb_neardup_lsh_capped_oracle (identical table/salt/cap rules),
    # then the recursive transitive closure + anti-join of the prune
    def terms(t: int) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product(v, {_plane_literal(dim, t * planes + p)}) > 0 THEN {1 << p} ELSE 0 END"
            for p in range(planes)
        )

    tb_sel = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {terms(t)} AS bucket FROM e"
        for t in range(tables)
    )
    return f"""
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_VEC} AS vn FROM embeddings),
tb AS ({tb_sel}),
bn AS (SELECT tbl, bucket, count(*) AS n FROM tb GROUP BY tbl, bucket),
bsalt AS (SELECT tb.vec_id, tb.tbl, tb.bucket,
                 CASE WHEN bn.n <= {cap} THEN 0
                      ELSE ('0x' || substring(md5(tb.vec_id::VARCHAR || '#' || tb.tbl::VARCHAR), 1, 15))::BIGINT
                           % ((bn.n + {cap - 1}) // {cap})
                 END AS salt
          FROM tb JOIN bn ON tb.tbl = bn.tbl AND tb.bucket = bn.bucket),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bsalt a JOIN bsalt b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.salt = b.salt
              AND a.vec_id < b.vec_id),
pr AS (SELECT c.id_a, c.id_b
       FROM cand c
       JOIN e na ON na.vec_id = c.id_a
       JOIN e nb ON nb.vec_id = c.id_b
       WHERE list_dot_product(na.vn, nb.vn) >= 0.2),
edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
{_components_sql()}
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)
"""


@register("dedup_prune", _dedup_prune_oracle(), tags=("dedup", "prune"))
def q_dedup_prune(spark, sf):
    """The dedup pipeline's final step: remove every near-duplicate
    except its cluster's canonical (minimum-id) member. pairs → min-
    label components → one left-anti join against the loser set; the
    oracle replays it with a recursive transitive closure. Candidates
    come from the CAPPED multi-table sign-LSH (similarity.py
    embedding_near_duplicates_capped) — the single-table blocked path
    measured 15.5× per 10× data in the round-10 sf1 sweep, the capped
    one 2.4×; end-to-end prune inherits that scale shape."""
    emb = load_table(spark, sf, "embeddings")
    pairs = SIM.embedding_near_duplicates_capped(
        emb, threshold=0.2, dim=64, planes=8, tables=2, cap=64
    )
    return D.prune_duplicates(emb, pairs, id_col="vec_id").select("vec_id")


def _lang_counts_sql() -> str:
    parts = []
    for lang, markers in TX.LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        parts.append(f"len(list_filter(toks, t -> t IN ({lst}))) AS c_{lang}")
    return ", ".join(parts)


def _lang_case_sql() -> str:
    langs = sorted(TX.LANG_MARKERS)
    whens = []
    for lang in langs:
        conds = [f"c_{lang} > 0"] + [f"c_{lang} >= c_{other}" for other in langs if other != lang]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


_LANG_ID_ORACLE = f"""
WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents),
c AS (SELECT doc_id, {_lang_counts_sql()} FROM docs)
SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM c
"""


@register("lang_id", _LANG_ID_ORACLE, tags=("text",))
def q_lang_id(spark, sf):
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


def _quality_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in TX.STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
  FROM documents)
SELECT doc_id,
       0.4 * least(len(toks)::DOUBLE / 50.0, 1.0)
       + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
       + 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE) AS quality,
       CASE WHEN len(ltoks) > 0
            THEN len(list_filter(ltoks, t -> t IN ({stops})))::DOUBLE / len(ltoks)::DOUBLE
            ELSE 0.0 END AS stop_ratio
FROM t
"""


@register("quality_score", _quality_oracle(), tags=("text",))
def q_quality_score(spark, sf):
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("quality"),
        TX.stopword_ratio(F.col("text")).alias("stop_ratio"),
    )


def _gopher_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in TX.GOPHER_STOPWORDS)
    return r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         regexp_split_to_array(text, '\n') AS lines,
         length(text) - length(replace(text, '#', '')) AS hash_syms,
         length(text) - length(replace(text, '…', '')) AS uni_ell,
         (length(text) - length(replace(text, '...', ''))) // 3 AS ascii_ell
  FROM documents),
m AS (
  SELECT doc_id,
         len(toks) AS nw,
         list_reduce(list_concat([0], list_transform(toks, t -> length(t))),
                     (a, b) -> a + b) AS sum_len,
         hash_syms + uni_ell + ascii_ell AS symbols,
         len(lines) AS nl,
         len(list_filter(lines,
                         l -> regexp_matches(ltrim(l), '^[•\-\*]'))) AS bullet,
         len(list_filter(lines,
                         l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ell_end,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha,
         len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
                            [__STOPS__])) AS stop_hits
  FROM t)
SELECT doc_id,
       nw::BIGINT AS n_words,
       nw >= 50 AND nw <= 100000                 AS r_word_count,
       sum_len >= 3 * nw AND sum_len <= 10 * nw  AS r_mean_word_len,
       symbols * 10 <= nw                        AS r_symbol_ratio,
       bullet * 10 < nl * 9                      AS r_bullet_lines,
       ell_end * 10 <= nl * 3                    AS r_ellipsis_lines,
       alpha * 5 >= nw * 4                       AS r_alpha_words,
       stop_hits >= 2                            AS r_stopwords,
       (nw >= 50 AND nw <= 100000)
       AND (sum_len >= 3 * nw AND sum_len <= 10 * nw)
       AND symbols * 10 <= nw
       AND bullet * 10 < nl * 9
       AND ell_end * 10 <= nl * 3
       AND alpha * 5 >= nw * 4
       AND stop_hits >= 2                        AS keep
FROM m
""".replace("__STOPS__", stops)


@register("gopher_quality_filters", _gopher_oracle(), tags=("text", "curation"))
def q_gopher_quality_filters(spark, sf):
    """Gopher heuristic quality rules (Rae et al. 2021, appendix A1.1)
    per document: the public rule suite most curation pipelines apply
    before model-based filtering. One map-only projection — every rule
    is an integer cross-multiplication boolean (no float thresholds),
    so the gate hashes byte-exact against the DuckDB replay. 100 TB:
    embarrassingly parallel, no shuffle, whole-stage codegen."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    rules = TX.gopher_rules(F.col("text"))
    nw = F.size(TX.tokens(F.col("text")))
    return docs.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        *[rules[k].alias(k) for k in (
            "r_word_count", "r_mean_word_len", "r_symbol_ratio",
            "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
            "r_stopwords", "keep",
        )],
    )


# Deterministic "pagify" adapter for the LINE-level operators: the
# synthetic corpus is single-line token soup with no sentence
# punctuation, so line/sentence rules would degenerate to constants.
# Re-chunk each document into 8-token lines, terminating a line with
# '.' unless (doc_id + line_index) % 3 == 0 — pure integer/array
# arithmetic, replayed verbatim by the oracle, so the gate still
# hashes byte-exact while every rule branch sees both outcomes.
# (Unit tests additionally pin the operators on handcrafted web-like
# multi-line fixtures — tests/test_text_pipeline.py.)


def _pagify(docs, id_col="doc_id", text_col="text"):
    """documents → pagified (id, text) frame. The token array is
    materialized as a COLUMN first: higher-order functions are
    interpreted without CSE, so an inline split referenced from the
    per-chunk lambda would re-tokenize the document once per line."""
    staged = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    toks = F.col("__toks")
    nchunks = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nchunks - F.lit(1)),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            F.when((F.col(id_col) + i) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    return staged.select(F.col(id_col), F.array_join(lines, "\n").alias(text_col))


_PAGIFY_CTE = r"""
pg AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
             i -> array_to_string(toks[i*8+1 : i*8+8], ' ')
                  || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END),
           chr(10)) AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents))
"""


def _c4_oracle() -> str:
    bad = ", ".join(f"'{w}'" for w in TX.C4_SPAM_WORDS)
    return r"""
WITH __PAGIFY__,
t AS (SELECT doc_id, text, lower(text) AS low,
             regexp_split_to_array(text, '\n') AS lines
      FROM pg),
k AS (SELECT doc_id, text, low, len(lines) AS n_lines,
             list_filter(lines, l ->
                 regexp_matches(rtrim(l), '[.!?"”]$')
                 AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
                 AND NOT contains(lower(l), 'javascript')) AS kept
      FROM t),
c AS (SELECT doc_id, text, low, n_lines, len(kept) AS n_kept_lines,
             -- DuckDB's array_to_string([]) is NULL; Spark's
             -- array_join([]) is '' — pin the Spark semantics
             coalesce(array_to_string(kept, chr(10)), '') AS clean
      FROM k),
r AS (SELECT doc_id, n_lines, n_kept_lines, md5(clean) AS clean_md5,
             (length(clean)
              - length(regexp_replace(clean, '[.!?]', '', 'g'))) >= 3
                                                       AS r_min_sentences,
             NOT contains(low, 'lorem ipsum')          AS r_no_lorem,
             NOT contains(text, '{')                   AS r_no_braces,
             (NOT contains(low, 'terms of use')
              AND NOT contains(low, 'privacy policy')
              AND NOT contains(low, 'cookie policy')
              AND NOT contains(low, 'uses cookies'))   AS r_no_policy,
             len(list_intersect(
                 list_distinct(list_transform(
                     regexp_split_to_array(trim(low), '\s+'),
                     t2 -> lower(t2))),
                 [__BAD__])) = 0                        AS r_no_badwords
      FROM c)
SELECT doc_id, n_lines, n_kept_lines, clean_md5,
       r_min_sentences, r_no_lorem, r_no_braces, r_no_policy,
       r_no_badwords,
       r_min_sentences AND r_no_lorem AND r_no_braces
       AND r_no_policy AND r_no_badwords AS keep
FROM r
""".replace("__PAGIFY__", _PAGIFY_CTE.strip().rstrip()).replace("__BAD__", bad)


@register("c4_quality_filters", _c4_oracle(), tags=("text", "curation"))
def q_c4_quality_filters(spark, sf):
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2) per document —
    the line filter (terminal punctuation + ≥5 words + no javascript)
    with the page rebuilt from retained lines, plus the page-level
    drop rules (3-sentence floor, lorem ipsum, curly brace, policy
    boilerplate, token blocklist). One map-only projection over the
    pagified corpus; every predicate is a boolean Catalyst expression
    the oracle replays verbatim. 100 TB: embarrassingly parallel, no
    shuffle, whole-stage codegen (operators/text.py c4_rules)."""
    from hstream_spark.sources.tables import spread

    paged = _pagify(spread(load_table(spark, sf, "documents")))
    out = TX.c4_filter(paged)
    return out.select(
        "doc_id", "n_lines", "n_kept_lines",
        F.md5(F.col("clean")).alias("clean_md5"),
        "r_min_sentences", "r_no_lorem", "r_no_braces",
        "r_no_policy", "r_no_badwords", "keep",
    )


_FINEWEB_ORACLE = r"""
WITH __PAGIFY__,
lv AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\n')) AS line
       FROM pg),
lnz AS (SELECT doc_id, line FROM lv WHERE trim(line) <> ''),
lg AS (SELECT doc_id, line, count(*) AS c FROM lnz GROUP BY doc_id, line),
la AS (SELECT doc_id,
              CAST(sum(c) AS BIGINT) AS nl,
              CAST(sum(CASE WHEN regexp_matches(rtrim(line), '[.!?"”]$')
                            THEN c ELSE 0 END) AS BIGINT) AS endp,
              CAST(sum(CASE WHEN length(line) < 30 THEN c ELSE 0 END)
                   AS BIGINT) AS short,
              CAST(sum(c * length(line)) AS BIGINT) AS lchars,
              CAST(sum((c - 1) * length(line)) AS BIGINT) AS dup_chars
       FROM lg GROUP BY doc_id),
r AS (SELECT d.doc_id,
             coalesce(nl, 0) AS n_lines,
             coalesce(endp, 0) * 100 >= coalesce(nl, 0) * 12
                 AS r_punct_lines,
             coalesce(dup_chars, 0) * 10 <= coalesce(lchars, 0)
                 AS r_dup_line_char,
             coalesce(short, 0) * 100 <= coalesce(nl, 0) * 67
                 AS r_short_lines
      FROM (SELECT doc_id FROM documents) d LEFT JOIN la USING (doc_id))
SELECT doc_id, n_lines, r_punct_lines, r_dup_line_char, r_short_lines,
       r_punct_lines AND r_dup_line_char AND r_short_lines AS keep
FROM r
""".replace("__PAGIFY__", _PAGIFY_CTE.strip())


@register("fineweb_quality_filters", _FINEWEB_ORACLE, tags=("text", "curation"))
def q_fineweb_quality_filters(spark, sf):
    """FineWeb custom filters (Penedo et al. 2024 §3.6) — terminal-
    punctuation line fraction ≥12%, duplicated-line char fraction ≤10%,
    short-line (<30 chars) fraction ≤67% — completing the trio of
    canonical public heuristic suites (C4, Gopher, FineWeb) as
    first-class catalog entries. Entirely map-only: the duplicate-char
    account folds over the sorted line array in one pass, no shuffle
    (operators/text.py fineweb_filter); the relational GROUP BY in the
    oracle computes the identical Σ(count−1)·len."""
    from hstream_spark.sources.tables import spread

    paged = _pagify(spread(load_table(spark, sf, "documents")))
    return TX.fineweb_filter(paged)


def _gopher_rep_oracle(top_ns=(2, 3, 4), dup_ns=(5, 10)) -> str:
    parts = [
        "WITH " + _PAGIFY_CTE.strip(),
        r"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk, text FROM pg),
tot AS (SELECT doc_id, list_sum(list_transform(tk, t -> length(t))) AS tchars FROM toks),
lv AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\n')) AS line FROM pg),
lnz AS (SELECT doc_id, line FROM lv WHERE trim(line) <> ''),
lg AS (SELECT doc_id, line, count(*) AS c FROM lnz GROUP BY doc_id, line),
la AS (SELECT doc_id, sum(c) AS nl, sum(c - 1) AS dup_lines,
              sum(c * length(line)) AS lchars,
              sum((c - 1) * length(line)) AS dup_lchars
       FROM lg GROUP BY doc_id),
lens AS (SELECT doc_id, unnest(range(0, len(tk))) AS p,
                unnest(list_transform(tk, t -> length(t))) AS l
         FROM toks)""",
    ]
    grams = (
        "list_transform(range(1, greatest(len(tk) - {n} + 2, 1)),"
        " i -> array_to_string(tk[i:i + {n} - 1], ' '))"
    )
    for n in top_ns:
        parts.append(f"""g{n} AS (SELECT doc_id, unnest({grams.format(n=n)}) AS g FROM toks),
gc{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY doc_id, g),
top{n} AS (SELECT doc_id, c * (length(g) - {n - 1}) AS top{n}_chars FROM gc{n}
           QUALIFY row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, g ASC) = 1)""")
    for n in dup_ns:
        parts.append(f"""gp{n} AS (SELECT doc_id, unnest({grams.format(n=n)}) AS g,
                 unnest(range(0, greatest(len(tk) - {n} + 1, 0))) AS i
          FROM toks),
dk{n} AS (SELECT doc_id, g FROM gp{n} GROUP BY doc_id, g HAVING count(*) >= 2),
cov{n} AS (SELECT DISTINCT doc_id, p FROM
            (SELECT gp{n}.doc_id, unnest(range(i, i + {n})) AS p
             FROM gp{n} JOIN dk{n} USING (doc_id, g))),
cc{n} AS (SELECT doc_id, sum(l) AS dup{n}_chars
          FROM cov{n} JOIN lens USING (doc_id, p) GROUP BY doc_id)""")
    sel = ["""SELECT d.doc_id,
       CAST(coalesce(nl, 0) AS BIGINT) AS n_lines,
       CAST(coalesce(tchars, 0) AS BIGINT) AS token_chars,
       coalesce(dup_lines, 0) * 100 <= coalesce(nl, 0) * 30 AS r_dup_line,
       coalesce(dup_lchars, 0) * 100 <= coalesce(lchars, 0) * 20
           AS r_dup_line_char"""]
    rules = ["r_dup_line", "r_dup_line_char"]
    for n in top_ns:
        pct = TX.GOPHER_TOP_NGRAM_PCT[n]
        sel.append(f"coalesce(top{n}_chars, 0) * 100 <= "
                   f"coalesce(tchars, 0) * {pct} AS r_top{n}")
        rules.append(f"r_top{n}")
    for n in dup_ns:
        pct = TX.GOPHER_DUP_NGRAM_PCT[n]
        sel.append(f"coalesce(dup{n}_chars, 0) * 100 <= "
                   f"coalesce(tchars, 0) * {pct} AS r_dup{n}")
        rules.append(f"r_dup{n}")
    keep_exprs = []
    keep_exprs.append("coalesce(dup_lines, 0) * 100 <= coalesce(nl, 0) * 30")
    keep_exprs.append(
        "coalesce(dup_lchars, 0) * 100 <= coalesce(lchars, 0) * 20")
    for n in top_ns:
        keep_exprs.append(f"coalesce(top{n}_chars, 0) * 100 <= "
                          f"coalesce(tchars, 0) * {TX.GOPHER_TOP_NGRAM_PCT[n]}")
    for n in dup_ns:
        keep_exprs.append(f"coalesce(dup{n}_chars, 0) * 100 <= "
                          f"coalesce(tchars, 0) * {TX.GOPHER_DUP_NGRAM_PCT[n]}")
    joins = ["(SELECT doc_id FROM documents) d",
             "LEFT JOIN tot USING (doc_id)", "LEFT JOIN la USING (doc_id)"]
    joins += [f"LEFT JOIN top{n} USING (doc_id)" for n in top_ns]
    joins += [f"LEFT JOIN cc{n} USING (doc_id)" for n in dup_ns]
    return (",\n".join(parts) + "\n" + ",\n       ".join(sel)
            + ",\n       " + "(" + ") AND (".join(keep_exprs) + ") AS keep"
            + "\nFROM " + "\n     ".join(joins))


@register("gopher_repetition_filters", _gopher_rep_oracle(),
          tags=("text", "curation"))
def q_gopher_repetition_filters(spark, sf):
    """Gopher REPETITION filters (Rae et al. 2021 appendix A1 — the
    repetition table, completing the A1.1 suite next to
    gopher_quality_filters): duplicate-line fraction/char-fraction,
    top-{2,3,4}-gram char share (deterministic tie-break), and
    duplicated-{5,10}-gram char coverage with overlap-union accounting.
    Per-rule branches are explode → groupBy on uniform (doc, gram) /
    (doc, position) keys — linear, map-side combinable — joined on
    doc id; integer cross-multiplication thresholds hash byte-exact
    (operators/text.py gopher_repetition)."""
    paged = _pagify(load_table(spark, sf, "documents"))
    return TX.gopher_repetition(paged)


_LINE_DEDUP_ORACLE = r"""
WITH __PAGIFY__,
l0 AS (SELECT doc_id,
              unnest(regexp_split_to_array(text, '\n')) AS line,
              unnest(range(0, len(regexp_split_to_array(text, '\n')))) AS pos
       FROM pg),
l AS (SELECT * FROM l0 WHERE trim(line) <> ''),
w AS (SELECT doc_id, pos, line FROM l
      QUALIFY row_number() OVER (PARTITION BY md5(line)
                                 ORDER BY doc_id, pos) = 1),
b AS (SELECT doc_id, count(*) AS n_before FROM l GROUP BY doc_id),
a AS (SELECT doc_id, count(*) AS n_after,
             string_agg(line, chr(10) ORDER BY pos) AS clean
      FROM w GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(b.n_before, 0) AS n_lines_before,
       coalesce(a.n_after, 0) AS n_lines_after,
       md5(coalesce(a.clean, '')) AS clean_md5
FROM (SELECT doc_id FROM documents) d
LEFT JOIN b USING (doc_id) LEFT JOIN a USING (doc_id)
""".replace("__PAGIFY__", _PAGIFY_CTE.strip())


_LINE_INDEX_ORACLE = r"""
WITH __PAGIFY__,
corp AS (SELECT doc_id, text FROM pg WHERE doc_id % 5 <> 0),
bat AS (SELECT doc_id, text FROM pg WHERE doc_id % 5 = 0),
idx AS (SELECT DISTINCT md5(line) AS lkey FROM
         (SELECT unnest(regexp_split_to_array(text, '\n')) AS line FROM corp)
        WHERE trim(line) <> ''),
l0 AS (SELECT doc_id,
              unnest(regexp_split_to_array(text, '\n')) AS line,
              unnest(range(0, len(regexp_split_to_array(text, '\n')))) AS pos
       FROM bat),
l AS (SELECT * FROM l0 WHERE trim(line) <> ''),
fresh AS (SELECT doc_id, pos, line FROM l
          WHERE md5(line) NOT IN (SELECT lkey FROM idx)),
w AS (SELECT doc_id, pos, line FROM fresh
      QUALIFY row_number() OVER (PARTITION BY md5(line)
                                 ORDER BY doc_id, pos) = 1),
b AS (SELECT doc_id, count(*) AS n_before FROM l GROUP BY doc_id),
a AS (SELECT doc_id, count(*) AS n_after,
             string_agg(line, chr(10) ORDER BY pos) AS clean
      FROM w GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(b.n_before, 0) AS n_lines_before,
       coalesce(a.n_after, 0) AS n_lines_after,
       md5(coalesce(a.clean, '')) AS clean_md5
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN b USING (doc_id) LEFT JOIN a USING (doc_id)
""".replace("__PAGIFY__", _PAGIFY_CTE.strip())


_LINE_INDEX_CACHE: dict = {}


def _standing_line_index(spark, sf: str) -> str:
    """Build-once per-sf standing line-digest index in a temp dir
    (mirrors _standing_dedup_index / _standing_sq_index)."""
    import atexit
    import shutil
    import tempfile

    path = _LINE_INDEX_CACHE.get(sf)
    if path is None:
        path = tempfile.mkdtemp(prefix="hstream_line_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        corpus = _pagify(
            load_table(spark, sf, "documents").where(F.col("doc_id") % 5 != 0)
        )
        D.build_line_index(corpus, path)
        _LINE_INDEX_CACHE[sf] = path
    return path


@register("line_dedup_against_index", _LINE_INDEX_ORACLE,
          tags=("dedup", "text", "incremental", "warm"))
def q_line_dedup_against_index(spark, sf):
    """Incremental line dedup of a NEW batch (doc_id % 5 == 0) against
    the STANDING corpus line-digest index (`build_line_index` +
    `dedup_lines_against_index`): a batch line dies if the corpus owns
    its digest, else its first in-batch occurrence wins. The batch
    anti-joins 16-byte digests and never touches corpus text — the
    continuous-ingestion shape of `line_dedup`, completing the
    standing-index family (MinHash/SQ8/lines)
    (operators/dedup.py dedup_lines_against_index)."""
    batch = _pagify(
        load_table(spark, sf, "documents").where(F.col("doc_id") % 5 == 0)
    )
    path = _standing_line_index(spark, sf)
    out = D.dedup_lines_against_index(spark, batch, path)
    return out.select(
        "doc_id", "n_lines_before", "n_lines_after",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@register("line_dedup", _LINE_DEDUP_ORACLE, tags=("dedup", "text"))
def q_line_dedup(spark, sf):
    """Cross-document line deduplication (C4 span-dedup / CCNet
    paragraph-dedup shape): every line keeps its first occurrence
    corpus-wide, documents rebuild from surviving lines — the filter
    that kills crawl boilerplate document-level dedup never sees.
    Two uniform-key shuffles (md5 line digest, then doc id); winner
    selection is a map-side-combinable min-struct groupBy, not a
    window (operators/dedup.py dedup_lines)."""
    paged = _pagify(load_table(spark, sf, "documents"))
    out = D.dedup_lines(paged)
    return out.select(
        "doc_id", "n_lines_before", "n_lines_after",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@register(
    "token_stats",
    f"""
    WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks,
                      len(regexp_extract_all(text, '{TX.BPE_PATTERN.replace("'", "''")}')) AS n_subword_tokens,
                      length(text) AS n_chars_actual
               FROM documents)
    SELECT doc_id, lang,
           len(toks)                AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           n_subword_tokens,
           n_chars_actual
    FROM t
    """,
    tags=("text",),
)
def q_token_stats(spark, sf):
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    toks = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        TX.subword_token_count(F.col("text")).alias("n_subword_tokens"),
        F.length(F.col("text")).alias("n_chars_actual"),
    )


_FINGERPRINT_ORACLE = f"""
WITH docs AS ({_TOKS_CTE}),
h AS (SELECT doc_id, list_transform(toks, t -> {_H31.format(x='t')}) AS hs FROM docs)
SELECT doc_id,
       list_reduce(list_concat([0::BIGINT], hs),
                   (a, b) -> (a * {TX.FNV_B} + b) % {TX.P31}) AS fp
FROM h
"""


@register("doc_fingerprint", _FINGERPRINT_ORACLE, tags=("text",))
def q_doc_fingerprint(spark, sf):
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


@register(
    "multimodal_features",
    """
    SELECT doc_id,
           octet_length(encode(text))     AS n_bytes,
           sha256(text)                   AS sha256,
           CASE WHEN octet_length(encode(text)) >= 4
                THEN 16777216 * ord(substring(text, 1, 1))
                     + 65536 * ord(substring(text, 2, 1))
                     + 256 * ord(substring(text, 3, 1))
                     + ord(substring(text, 4, 1))
                ELSE 0 END                AS head_int
    FROM documents
    """,
    tags=("multimodal",),
)
def q_multimodal_features(spark, sf):
    from hstream_spark.operators import multimodal as MM

    docs = load_table(spark, sf, "documents")
    return MM.binary_features(MM.documents_as_binary(docs))


_SALTED_JOIN_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000
"""


@register("salted_join", _SALTED_JOIN_ORACLE, tags=("join", "skew"))
def q_salted_join(spark, sf):
    """Result-equivalence proof for the skew-salted join rewrite: the
    salted plan must produce exactly the plain join's rows."""
    orders = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 100000)
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    j = J.salted_join(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        on="o_custkey",
        salt=8,
    )
    return j.select(
        "o_orderkey", "o_custkey", "c_name", F.col("o_totalprice").alias("total")
    )


_CDC_APPLY_ORACLE = """
WITH c AS (SELECT user_id, event_id, value,
                  epoch_us(ts) // 1000 AS ts_ms,
                  CASE WHEN event_type = 'error' THEN 'd'
                       WHEN event_type = 'signup' THEN 'c'
                       ELSE 'u' END AS op
           FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_ms DESC, event_id DESC) AS rn
      FROM c)
SELECT user_id, event_id, value, ts_ms, op FROM r WHERE rn = 1 AND op != 'd'
"""


@register("cdc_apply_latest", _CDC_APPLY_ORACLE, tags=("connector", "cdc"))
def q_cdc_apply_latest(spark, sf):
    """CDC round-trip: events re-encoded as Debezium-style envelopes,
    parsed back (cdc_envelope), compacted to current table state
    (cdc_apply: latest per key wins, deletes drop the key)."""
    from hstream_spark.sources import connectors as C

    ev = load_table(spark, sf, "events")
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "signup", "c")
        .otherwise("u")
    )
    envelopes = ev.select(
        F.to_json(
            F.struct(
                op.alias("op"),
                F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
                F.struct("user_id", "event_id", "value").alias("after"),
            )
        ).alias("value")
    )
    parsed = C.cdc_envelope(
        envelopes, "value", value_schema="user_id long, event_id long, value double"
    )
    flat = parsed.select(
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_id").alias("event_id"),
        F.col("after.value").alias("value"),
        "ts_ms",
        "op",
    )
    return C.cdc_apply(flat, ["user_id"], order_cols=["ts_ms", "event_id"])


_ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts AS cts FROM events WHERE event_type = 'click'),
j AS (SELECT p.event_id, p.user_id, p.ts, c.click_id, c.cts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.cts DESC, c.click_id DESC) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts <= p.ts)
SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts_us,
       click_id, epoch_us(cts) AS click_ts_us
FROM j WHERE rn = 1
"""


@register("asof_join_events", _ASOF_ORACLE, tags=("join", "asof"))
def q_asof_join_events(spark, sf):
    """Latest click at-or-before each purchase, per user — distributed
    as-of via union + carry-forward window (no match explosion)."""
    ev = load_table(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    j = J.asof_join(p, c, on="user_id", left_ts="ts", right_ts="cts", tiebreak="click_id")
    return j.select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_ts_us"),
        "click_id",
        F.unix_micros("cts").alias("click_ts_us"),
    )


_FRAME_SAMPLE_ORACLE = """
WITH f AS (SELECT doc_id, text, length(text) AS n FROM documents),
idx AS (SELECT doc_id, text,
               unnest(generate_series(0, ((n + 63) // 64) - 1, 2)) AS frame_idx
        FROM f WHERE n > 0)
SELECT doc_id, frame_idx::INT AS frame_idx,
       substring(text, frame_idx * 64 + 1, 64) AS frame_text
FROM idx
"""


@register("multimodal_frame_sample", _FRAME_SAMPLE_ORACLE, tags=("multimodal", "pandas-udf"))
def q_multimodal_frame_sample(spark, sf):
    from hstream_spark.operators import multimodal as MM

    docs = load_table(spark, sf, "documents")
    frames = MM.sample_frames(MM.documents_as_binary(docs), frame_bytes=64, every=2)
    # payloads are utf-8 text here, so frames decode losslessly — gives
    # the oracle a string domain (DuckDB has no blob slicing/hashing)
    return frames.select(
        "doc_id", "frame_idx", F.decode(F.col("frame"), "utf-8").alias("frame_text")
    )


_RESIZE_ORACLE = """
SELECT doc_id,
       array_to_string(
         list_transform(generate_series(0, 31),
                        i -> substring(text, (i * length(text)) // 32 + 1, 1)),
         '') AS resized_text
FROM documents
"""


@register("multimodal_resize", _RESIZE_ORACLE, tags=("multimodal", "pandas-udf"))
def q_multimodal_resize(spark, sf):
    from hstream_spark.operators import multimodal as MM

    docs = load_table(spark, sf, "documents")
    resized = MM.resize_payload(MM.documents_as_binary(docs), out_len=32)
    return resized.select(
        "doc_id", F.decode(F.col("resized"), "utf-8").alias("resized_text")
    )


# ---------------------------------------------------------------------------
# Queries driven through the HStream SQL frontend (parse → compile) —
# proving dialect parity end-to-end against the oracle.
# ---------------------------------------------------------------------------


def _sql_resolver(spark, sf):
    def resolve(name: str):
        df = load_table(spark, sf, name)
        if "ts" in df.columns:
            df = df.withColumn("_ts", F.col("ts"))
        return df

    return resolve


@register(
    "time_type_ops",
    """
    SELECT event_id,
           CAST(ts AS TIME) AS tod,
           CAST(ts AS TIME) > TIME '12:00:00' AS afternoon,
           CAST(ts AS TIME) IS NOT NULL AS p_time
    FROM events WHERE event_id < 2000
    """,
    tags=("frontend", "scalar", "time"),
)
def q_time_type_ops(spark, sf):
    """Native TIME (time-of-day) type — the reference's first-class
    RTypeTime (hstream-sql/src/HStream/SQL/AST.hs:84), realized on
    Spark 4.1's TimeType (spark.sql.timeType.enabled pinned in the
    session): TIME literals, CAST timestamp→TIME, time comparisons and
    IS_TIME all flow through the SQL frontend and hash-match DuckDB's
    native TIME. Closes the round-5 SEMANTICS.md 'ISO-8601 string
    stand-in' divergence."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT event_id, CAST(_ts AS TIME) AS tod, "
        "CAST(_ts AS TIME) > TIME '12:00:00' AS afternoon, "
        "IS_TIME(CAST(_ts AS TIME)) AS p_time "
        "FROM events WHERE event_id < 2000;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "type_predicates",
    """
    SELECT event_id,
           event_id   IS NOT NULL AS p_int,
           event_type IS NOT NULL AS p_str,
           value      IS NOT NULL AS p_float,
           value      IS NOT NULL AS p_num,
           ts         IS NOT NULL AS p_time,
           FALSE                  AS n_str_of_float,
           FALSE                  AS n_int_of_str
    FROM events
    """,
    tags=("frontend", "scalar", "types"),
)
def q_type_predicates(spark, sf):
    """IS_* runtime type predicates (UnaryOp.hs:247-280): under declared
    schemas they reduce to null checks for matching types and constant
    FALSE for mismatches."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT event_id, IS_INT(event_id) AS p_int, IS_STR(event_type) AS p_str, "
        "IS_FLOAT(value) AS p_float, IS_NUM(value) AS p_num, IS_TIME(_ts) AS p_time, "
        "IS_STR(value) AS n_str_of_float, IS_INT(event_type) AS n_int_of_str "
        "FROM events;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_agg",
    """
    SELECT CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           count(*)                        AS n,
           max(l_quantity)                 AS max_qty,
           l_returnflag
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("frontend", "agg"),
)
def q_sql_frontend_agg(spark, sf):
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    # l_quantity is integral-valued, so the double sum is order-exact.
    stmt = parse(
        "SELECT SUM(l_quantity) AS sum_qty, COUNT(*) AS n, "
        "MAX(l_quantity) AS max_qty, l_returnflag "
        "FROM lineitem GROUP BY l_returnflag;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_scalar",
    """
    SELECT c_custkey,
           upper(c_name)                          AS u,
           length(c_name)                         AS n,
           substring(c_name, 1, 8)                AS t8,
           array_to_string(regexp_extract_all(c_name, '.{1,5}'), '|') AS ch,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'x') AS seg
    FROM customer
    """,
    tags=("frontend", "scalar"),
)
def q_sql_frontend_scalar(spark, sf):
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT c_custkey, TO_UPPER(c_name) AS u, STRLEN(c_name) AS n, "
        "TAKE(8, c_name) AS t8, ARRAY_JOIN(CHUNKSOF(5, c_name), '|') AS ch, "
        "IFNULL(NULLIF(c_mktsegment, 'BUILDING'), 'x') AS seg "
        "FROM customer;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_tumble",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
           user_id,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    tags=("frontend", "window"),
)
def q_sql_frontend_tumble(spark, sf):
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT user_id, COUNT(*) AS n "
        "FROM TUMBLE(events, INTERVAL 1 HOUR) GROUP BY user_id;"
    )
    df = compile_select(stmt, _sql_resolver(spark, sf))
    return df.select(
        F.unix_timestamp("window_start").alias("window_start"), "user_id", "n"
    )


@register(
    "sql_frontend_interval_join",
    """
    SELECT a.event_id AS aid, b.event_id AS bid
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
    WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000
    """,
    tags=("frontend", "join"),
)
def q_sql_frontend_interval_join(spark, sf):
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    def resolve(name: str):
        ev = load_table(spark, sf, "events").withColumn("_ts", F.col("ts"))
        if name == "clicks_s":
            return ev.filter(F.col("event_type") == "click").select(
                F.col("event_id").alias("aid"), F.col("user_id").alias("auid"), "_ts"
            )
        if name == "purch_s":
            return ev.filter(F.col("event_type") == "purchase").select(
                F.col("event_id").alias("bid"), F.col("user_id").alias("buid"), "_ts"
            )
        raise KeyError(name)

    stmt = parse(
        "SELECT aid, bid FROM clicks_s JOIN purch_s "
        "ON clicks_s.auid = purch_s.buid WITHIN (INTERVAL 2 MINUTE);"
    )
    return compile_select(stmt, resolve)


@register(
    "scalar_trig",
    """
    SELECT l_orderkey, l_linenumber,
           round(sin(l_quantity), 8)  AS s,
           round(cos(l_quantity), 8)  AS c,
           round(atan(l_quantity), 8) AS a,
           round((exp(2*l_discount) - 1) / (exp(2*l_discount) + 1), 8) AS th
    FROM lineitem WHERE l_orderkey < 500
    """,
    tags=("scalar", "trig"),
)
def q_scalar_trig(spark, sf):
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(S.sin(F.col("l_quantity")), 8).alias("s"),
        F.round(S.cos(F.col("l_quantity")), 8).alias("c"),
        F.round(S.atan(F.col("l_quantity")), 8).alias("a"),
        F.round(S.tanh(F.col("l_discount")), 8).alias("th"),
    )


@register(
    "agg_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_agg_count_distinct(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# ---------------------------------------------------------------------------
# SLIDING window (V2 engine, SQL-v2.cf:119) — per-record trailing aggregate
# ---------------------------------------------------------------------------


@register(
    "sliding_agg",
    """
    SELECT event_id, event_type,
           COUNT(*) OVER w AS sliding_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sliding_sum
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "sliding"),
)
def q_sliding_agg(spark, sf):
    """V2 SLIDING window: each event's trailing-1h aggregate within its
    group (Handler/Common.hs:97-105 — insert at t, retract at t+size).
    One shuffle on the group key; frame arithmetic in integer micros."""
    ev = load_table(spark, sf, "events")
    out = W.sliding(
        ev,
        "ts",
        3600,
        keys=["event_type"],
        aggs={
            "sliding_cnt": F.count(F.lit(1)),
            "sliding_sum": F.sum(_dec(F.col("value"))),
        },
    )
    return out.select(
        "event_id",
        "event_type",
        "sliding_cnt",
        F.col("sliding_sum").cast("double").alias("sliding_sum"),
    )


@register(
    "sql_frontend_sliding",
    """
    SELECT event_id,
           event_type,
           CAST(SUM(user_id) OVER w AS BIGINT) AS uid_sum,
           COUNT(*) OVER w AS cnt
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 599999999 PRECEDING AND CURRENT ROW)
    """,
    tags=("frontend", "window", "sliding"),
)
def q_sql_frontend_sliding(spark, sf):
    """SLIDING(...) through the SQL dialect frontend (integer-typed
    aggregates so both engines sum exactly)."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT event_id, event_type, SUM(user_id) AS uid_sum, COUNT(*) AS cnt "
        "FROM SLIDING(events, INTERVAL 10 MINUTE) GROUP BY event_type;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_having",
    """
    SELECT user_id, event_type, count(*) AS n, max(value) AS vmax
    FROM events GROUP BY user_id, event_type HAVING count(*) > 15
    """,
    tags=("frontend", "agg", "having"),
)
def q_sql_frontend_having(spark, sf):
    """HAVING through the dialect frontend — the post-aggregation
    Filter node of the reference's plan (hstream-sql Planner.hs
    Reduce→Filter(HAVING)→Project); the HAVING aggregate shares the
    dedup-rewritten accumulator with the SELECT item."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT user_id, event_type, COUNT(*) AS n, MAX(value) AS vmax "
        "FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 15;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_hop",
    """
    WITH e AS (SELECT (epoch_us(ts) // 1800000000) * 1800 AS fb, event_type
               FROM events),
    x AS (SELECT unnest(generate_series(fb - 3600 + 1800, fb, 1800)) AS window_start,
                 event_type
          FROM e)
    SELECT window_start, event_type, count(*) AS n
    FROM x GROUP BY 1, 2
    """,
    tags=("frontend", "window", "hop"),
)
def q_sql_frontend_hop(spark, sf):
    """HOP(stream, size, advance) through the dialect frontend — same
    oracle family as the Python-API twin ``hop_agg``."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT event_type, COUNT(*) AS n "
        "FROM HOP(events, INTERVAL 1 HOUR, INTERVAL 30 MINUTE) "
        "GROUP BY event_type;"
    )
    df = compile_select(stmt, _sql_resolver(spark, sf))
    return df.select(
        F.unix_timestamp("window_start").alias("window_start"),
        "event_type",
        "n",
    )


@register(
    "sql_frontend_session",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS eu FROM events),
    s AS (SELECT user_id, eu,
                 CASE WHEN lag(eu) OVER w IS NULL
                       OR eu - lag(eu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu)),
    g AS (SELECT user_id, eu,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY eu
                                     ROWS UNBOUNDED PRECEDING) AS sess
          FROM s)
    SELECT user_id, min(eu) // 1000000 AS session_start, count(*) AS n
    FROM g GROUP BY user_id, sess
    """,
    tags=("frontend", "window", "session"),
)
def q_sql_frontend_session(spark, sf):
    """SESSION(stream, gap) through the dialect frontend — same oracle
    family as the Python-API twin ``session_agg``."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT user_id, COUNT(*) AS n "
        "FROM SESSION(events, INTERVAL 30 MINUTE) GROUP BY user_id;"
    )
    df = compile_select(stmt, _sql_resolver(spark, sf))
    return df.select(
        F.unix_timestamp("window_start").alias("session_start"),
        "user_id",
        "n",
    )


@register(
    "sql_frontend_join_using",
    """
    SELECT a.user_id, a.event_id AS eid_a, b.event_id AS eid_b
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      USING (user_id)
    WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    """,
    tags=("frontend", "join"),
)
def q_sql_frontend_join_using(spark, sf):
    """JOIN USING (cols) WITHIN through the dialect frontend — the
    LoopJoinUsing form (SQL-v1.cf JoinUsing); same oracle as the
    Python-API twin ``interval_join_using``."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    def resolve(name: str):
        ev = load_table(spark, sf, "events").withColumn("_ts", F.col("ts"))
        if name == "clicku_s":
            return ev.filter(F.col("event_type") == "click").select(
                "user_id", F.col("event_id").alias("eid_a"), "_ts"
            )
        if name == "purchu_s":
            return ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("event_id").alias("eid_b"), "_ts"
            )
        raise KeyError(name)

    stmt = parse(
        "SELECT user_id, eid_a, eid_b FROM clicku_s JOIN purchu_s "
        "USING (user_id) WITHIN (INTERVAL 5 MINUTE);"
    )
    return compile_select(stmt, resolve)


@register(
    "sql_frontend_natural_join",
    """
    SELECT a.user_id, a.event_id AS eid_a, b.event_id AS eid_b
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      USING (user_id)
    WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    """,
    tags=("frontend", "join", "natural"),
)
def q_sql_frontend_natural_join(spark, sf):
    """NATURAL JOIN WITHIN through the dialect frontend — the
    LoopJoinNatural form: the join keys are the shared column names
    (here exactly ``user_id``; ``_ts`` is excluded by the compiler),
    so the oracle is the same as the explicit USING twin."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    def resolve(name: str):
        ev = load_table(spark, sf, "events").withColumn("_ts", F.col("ts"))
        if name == "clickn_s":
            return ev.filter(F.col("event_type") == "click").select(
                "user_id", F.col("event_id").alias("eid_a"), "_ts"
            )
        if name == "purchn_s":
            return ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("event_id").alias("eid_b"), "_ts"
            )
        raise KeyError(name)

    stmt = parse(
        "SELECT user_id, eid_a, eid_b FROM clickn_s NATURAL JOIN purchn_s "
        "WITHIN (INTERVAL 5 MINUTE);"
    )
    return compile_select(stmt, resolve)


@register(
    "sql_frontend_from_list",
    """
    SELECT r_name, n_name, count(*) AS n_cust
    FROM customer, nation, region
    WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("frontend", "join", "cross"),
)
def q_sql_frontend_from_list(spark, sf):
    """Comma-list FROM (V2 grammar: the table-ref list folds into CROSS
    joins — reference hstream-sql/src/HStream/SQL/Planner.hs:331-333)
    with WHERE carrying the join predicates. Catalyst rewrites the
    cross-join+equality-filter chain into equi-joins (nation/region
    broadcast), so the comma syntax costs nothing at scale — asserted
    by the plan audit (no CartesianProduct)."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT r_name, n_name, COUNT(*) AS n_cust "
        "FROM customer, nation, region "
        "WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        "GROUP BY r_name, n_name;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_json_cast",
    """
    SELECT event_id,
           json_extract_string(props, '$.k')                  AS k_text,
           json_extract_string(props, '$.k')                  AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_num,
           CAST(floor(value) AS BIGINT)                       AS v_int,
           CAST(event_id AS VARCHAR)                          AS id_text
    FROM events
    """,
    tags=("frontend", "scalar", "json"),
)
def q_sql_frontend_json_cast(spark, sf):
    """JSON access operators (``->>``, ``#>>`` with a path array
    literal) and CAST through the dialect frontend — twins of
    ``json_ops`` / ``cast_ops``."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT event_id, props ->> 'k' AS k_text, "
        "props #>> {'k'} AS k_path, "
        "CAST(props ->> 'k' AS INTEGER) AS k_num, "
        "CAST(value AS INTEGER) AS v_int, "
        "CAST(event_id AS STRING) AS id_text "
        "FROM events;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


@register(
    "sql_frontend_subquery",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sv
    FROM (SELECT event_type, value FROM events WHERE value > 50.0)
    GROUP BY event_type
    """,
    tags=("frontend", "agg", "subquery"),
)
def q_sql_frontend_subquery(spark, sf):
    """Derived table in FROM through the dialect frontend — the
    SQL-v2 ``TableRefSubquery ::= "(" Select ")"`` production
    (SQL-v2.cf:126): the inner SELECT compiles recursively, the outer
    aggregate runs over its projection. Catalyst collapses the two
    into one scan with the filter pushed down."""
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS INTEGER)) AS sv "
        "FROM (SELECT event_type, value FROM events WHERE value > 50.0) "
        "GROUP BY event_type;"
    )
    return compile_select(stmt, _sql_resolver(spark, sf))


# ---------------------------------------------------------------------------
# Text pipeline: repetition signals, PII detection, decontamination
# ---------------------------------------------------------------------------


@register(
    "repetition_signals",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS g
      FROM toks
    )
    SELECT doc_id,
           1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE)
             AS dup_bigram_frac,
           CAST(list_max(list_transform(list_distinct(g),
                  b -> len(list_filter(g, x -> x = b)))) AS DOUBLE)
             / CAST(len(g) AS DOUBLE) AS top_bigram_frac
    FROM grams
    """,
    tags=("text", "quality"),
)
def q_repetition_signals(spark, sf):
    """Repetition-based quality signals: duplicate-bigram fraction and
    top-bigram share. Map-only sorted-hash run-length scan — zero
    shuffles (spread() fans the small local file across cores; a no-op
    on real multi-file corpora)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    return TX.repetition_signals(docs, n=2)


@register(
    "pii_detect",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 7 = 0 THEN
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +1-555-0' || CAST(doc_id % 900 + 100 AS VARCHAR)
                      || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
               ELSE text
             END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS email_hits,
           len(regexp_extract_all(text,
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?')) AS phone_hits,
           (len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text,
               '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?'))) > 0 AS has_pii
    FROM aug
    """,
    tags=("text", "pii"),
)
def q_pii_detect(spark, sf):
    """PII scan (email/phone regex counts) over documents. The testdata
    corpus contains no PII, so the query deterministically augments every
    7th doc with a synthetic address+number — identical augmentation on
    the oracle side — to exercise non-zero match paths. Map-only
    regexp_count, no UDF."""
    docs = load_table(spark, sf, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-0"),
            (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    docs = docs.select("doc_id", aug.alias("text"))
    email = TX.pii_email_count(F.col("text"))
    phone = TX.pii_phone_count(F.col("text"))
    return docs.select(
        "doc_id",
        email.alias("email_hits"),
        phone.alias("phone_hits"),
        ((email + phone) > 0).alias("has_pii"),
    )


@register(
    "decontaminate",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 3),
                      i -> array_to_string(t[i:i+4], ' ')))) AS g
      FROM toks
    ), eval_g AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
    ), train_g AS (
      SELECT * FROM grams WHERE doc_id % 20 <> 0
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(COALESCE(SUM(CASE WHEN e.g IS NOT NULL THEN 1 END), 0) AS BIGINT)
             AS n_overlap,
           CAST(COALESCE(SUM(CASE WHEN e.g IS NOT NULL THEN 1 END), 0) AS DOUBLE)
             / COUNT(*) AS contamination_frac
    FROM train_g LEFT JOIN eval_g e USING (g)
    GROUP BY doc_id
    """,
    tags=("text", "dedup"),
)
def q_decontaminate(spark, sf):
    """Benchmark decontamination: distinct 5-gram overlap of each training
    doc against a held-out eval set (every 20th doc). Eval grams broadcast;
    train grams never shuffle except the final per-doc count."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return TX.decontaminate(train, eval_set, n=5)


# ---------------------------------------------------------------------------
# TPC-H breadth: q10ish / q14ish / q18ish / q19ish
# ---------------------------------------------------------------------------


@register(
    "tpch_q10ish",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q10ish(spark, sf):
    """Q10: returned-item revenue by customer. lineitem⋈orders shuffles on
    orderkey; the customer join shuffles on custkey; nation broadcasts."""
    lo = F.lit("1996-10-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    l = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf, "nation")
    j = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
        .cast("double")
        .alias("revenue")
    )


@register(
    "tpch_q14ish",
    """
    SELECT 100.0 * CAST(ROUND(sum(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                   ELSE 0 END), 2) AS DOUBLE)
           / CAST(ROUND(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q14ish(spark, sf):
    """Q14: promo revenue share. part is the small side → broadcast; the
    shipdate filter pushes to the lineitem scan (one month of data)."""
    lo = F.lit("1995-09-01 00:00:00").cast("timestamp")
    hi = F.lit("1995-10-01 00:00:00").cast("timestamp")
    l = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    rev = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    j = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    # ROUND both decimal sums to 2 dp before the double casts so the
    # division runs on bit-identical doubles in both engines
    promo = F.round(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))), 2
    ).cast("double")
    return j.agg(
        (F.lit(100.0) * promo / F.round(F.sum(rev), 2).cast("double")).alias(
            "promo_revenue_pct"
        )
    )


@register(
    "tpch_q18ish",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 200
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    tags=("tpch", "join", "agg", "semi"),
)
def q_tpch_q18ish(spark, sf):
    """Q18: large-volume orders. The HAVING subquery is a LEFT SEMI join
    on orderkey — the semi side is the already-aggregated (small) key set,
    so it broadcasts; lineitem scans once per branch with AQE reuse."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    o_big = o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"], "leftsemi")
    j = l.join(o_big, l["l_orderkey"] == o_big["o_orderkey"]).join(
        c, o_big["o_custkey"] == c["c_custkey"]
    )
    return j.groupBy(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("total_qty")
    ).select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
        "o_totalprice",
        "total_qty",
    )


@register(
    "tpch_q19ish",
    """
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q19ish(spark, sf):
    """Q19: OR-of-ANDs predicate join. part broadcasts; the disjunction
    evaluates post-join inside codegen (equi-key extraction still applies,
    so this is a broadcast hash join, not a nested loop)."""
    l = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = l.join(F.broadcast(p), p["p_partkey"] == l["l_partkey"])
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
        .cast("double")
        .alias("revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H breadth 2: semi/anti joins, outer-join aggregation, correlated
# subquery patterns, grouping sets (q4/q7/q13/q16/q17/q21/q22 analogues)
# ---------------------------------------------------------------------------


@register(
    "tpch_q4ish",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "semi", "agg"),
)
def q_tpch_q4ish(spark, sf):
    """Q4: order-priority count of orders with a late-shipping lineitem.
    EXISTS = LEFT SEMI join on orderkey with the lateness predicate as a
    join residual — semi joins never widen rows and short-circuit on
    first match, so the big probe side streams through one hash lookup.
    """
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    sj = J.semi_join(
        o,
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        broadcast_right=False,
    )
    return sj.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q7ish",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q7ish(spark, sf):
    """Q7: bilateral trade volume between two nations by ship year.
    Five-way join: the two fact joins (lineitem⋈orders on orderkey,
    then ⋈customer on custkey) shuffle; supplier and both nation dims
    broadcast. The nation-pair disjunction is a post-join residual that
    AQE can't pre-prune, but the broadcast nation joins make the filter
    map-side."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    ns = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        j.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q13ish",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg", "outer"),
)
def q_tpch_q13ish(spark, sf):
    """Q13: distribution of customers by non-urgent order count,
    including zero-order customers — the LEFT OUTER join keeps them and
    COUNT(o_orderkey) skips their NULLs. Two aggregations: per-customer
    (shuffles on custkey) then the tiny distribution rollup."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    j = c.join(
        o,
        (o["o_custkey"] == c["c_custkey"]) & (o["o_orderpriority"] != "1-URGENT"),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q16ish",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "anti", "agg"),
)
def q_tpch_q16ish(spark, sf):
    """Q16: supplier variety per part group, excluding blacklisted
    suppliers. NOT IN (non-null keys) = LEFT ANTI join against the tiny
    exclusion list — broadcast, so lineitem stays map-only until the
    COUNT DISTINCT shuffle."""
    l = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf, "part").filter(F.col("p_brand") != "Brand#4")
    bad = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    keep = J.anti_join(l, bad, l["l_suppkey"] == bad["s_suppkey"])
    j = keep.join(F.broadcast(p), p["p_partkey"] == keep["l_partkey"])
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@register(
    "tpch_q17ish",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, COUNT(*) AS cnt,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#19'
      AND CAST(l.l_quantity AS DECIMAL(18,4)) * t.cnt * 5 < t.sum_qty
    GROUP BY ()
    """,
    tags=("tpch", "join", "agg", "correlated"),
)
def q_tpch_q17ish(spark, sf):
    """Q17: revenue from small-quantity orders of one brand — the
    correlated "below 20% of this part's average quantity" subquery as a
    join against the per-part aggregate. The threshold compare is kept
    in exact integer/decimal arithmetic (qty*cnt*5 < sum) so no engine
    disagrees on borderline rows. The brand filter keeps only ~0.1% of
    parts, so lineitem is semi-joined to the broadcast brand part keys
    BEFORE the per-part aggregate: result-identical (groups for other
    brands never survive the final join) but the aggregate's shuffle
    input shrinks ~1000x — the whole-table pre-aggregate is exactly
    what dies first at 100 TB."""
    p = (
        load_table(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#19")
        .select("p_partkey")
    )
    l = (
        load_table(spark, sf, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"), "semi")
    )
    t = l.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"),
    )
    j = l.join(t, F.col("t_partkey") == l["l_partkey"])
    small = j.filter(_dec(F.col("l_quantity")) * F.col("cnt") * 5 < F.col("sum_qty"))
    return small.agg(
        (F.sum(_dec(F.col("l_extendedprice"))) / F.lit(7.0))
        .cast("double")
        .alias("avg_yearly")
    )


@register(
    "tpch_q21ish",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    """,
    tags=("tpch", "semi", "anti", "agg"),
)
def q_tpch_q21ish(spark, sf):
    """Q21: suppliers who were the SOLE late shipper on a finished
    multi-supplier order.

    The EXISTS/NOT EXISTS pair is rewritten so the expensive
    lineitem⋈orders base is scanned and shuffled ONCE (the naive
    semi+anti self-join pair rebuilds it per branch). Rewrite:
    "another supplier shipped the order" ⇔ the order has ≥2 distinct
    suppliers; "no OTHER supplier was late" ⇔ exactly 1 distinct late
    supplier (l1's own supplier is always late). Both counts derive
    from one pre-aggregation to (orderkey, suppkey) grain — a single
    full-data shuffle with map-side combine — after which the per-order
    counts ride a window over the ~|orders|-sized reduced frame and the
    supplier dim broadcasts at the end. At 100 TB the one wide shuffle
    is the whole cost; everything downstream is order-cardinality."""
    from pyspark.sql import Window

    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    flagged = l.join(o, l["l_orderkey"] == o["o_orderkey"]).withColumn(
        "__late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast("int"),
    )
    g = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("__late").alias("__n_late_rows")
    )
    w = Window.partitionBy("l_orderkey")
    h = g.withColumn("__n_supp", F.count(F.lit(1)).over(w)).withColumn(
        "__n_late_supp", F.sum((F.col("__n_late_rows") > 0).cast("int")).over(w)
    )
    hits = h.filter(
        (F.col("__n_late_rows") > 0)
        & (F.col("__n_late_supp") == 1)
        & (F.col("__n_supp") >= 2)
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        hits.join(F.broadcast(s), hits["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.sum("__n_late_rows").cast("long").alias("numwait"))
    )


@register(
    "tpch_q22ish",
    """
    WITH pos AS (
      SELECT COUNT(*) AS cnt, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS total
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer c, pos
    WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * pos.cnt > pos.total
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_mktsegment
    """,
    tags=("tpch", "anti", "agg", "correlated"),
)
def q_tpch_q22ish(spark, sf):
    """Q22: wealthy-but-quiet customers — above-average balance (scalar
    subquery = 1-row aggregate cross-joined in, compared in exact
    decimal arithmetic) with no urgent orders (anti join on the urgent
    key set). The 1-row aggregate broadcasts as a trivial dimension."""
    c = load_table(spark, sf, "customer")
    pos = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec(F.col("c_acctbal"))).alias("total"),
        )
    )
    urgent = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(pos)).filter(
        _dec(F.col("c_acctbal")) * F.col("cnt") > F.col("total")
    )
    quiet = J.anti_join(
        rich, urgent, rich["c_custkey"] == urgent["o_custkey"], broadcast_right=False
    )
    return quiet.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
    )


@register(
    "tpch_q12ish",
    """
    SELECT o.o_orderpriority,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT)               AS late_lines,
           CAST(SUM(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT)               AS ontime_lines,
           CAST(ROUND(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                               THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                               ELSE 0 END), 2) AS DOUBLE)            AS late_revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "agg", "conditional"),
)
def q_tpch_q12ish(spark, sf):
    """Q12 shape (shipping-priority lateness): conditional aggregation —
    CASE expressions inside SUM so one pass over the join produces both
    branches. One shuffle on the tiny priority key after a broadcast-
    eligible orders join; the CASE arithmetic is all codegen'd."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return j.groupBy("o_orderpriority").agg(
        F.sum(F.when(late, 1).otherwise(0)).alias("late_lines"),
        F.sum(F.when(~late, 1).otherwise(0)).alias("ontime_lines"),
        # ROUND the exact DECIMAL sum to 2 dp BEFORE the double cast so both
        # engines convert the identical decimal — byte-exact by construction
        # (a raw decimal->double cast differed by 1 ulp between engines).
        F.round(
            F.sum(F.when(late, _dec(F.col("l_extendedprice"))).otherwise(F.lit(0))), 2
        )
        .cast("double")
        .alias("late_revenue"),
    )


@register(
    "tpch_q15ish",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    tags=("tpch", "agg", "scalar-subquery"),
)
def q_tpch_q15ish(spark, sf):
    """Q15 (top supplier): the revenue CTE is built ONCE and reused for
    both the max (a 1-row aggregate broadcast back in) and the final
    filter — localCheckpoint-free reuse via a cheap crossJoin of the
    scalar. Ties keep every maximal supplier (reference semantics)."""
    lo = F.lit("1996-01-01").cast("date")
    hi = F.lit("1996-04-01").cast("date")
    l = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = (
        l.groupBy("l_suppkey")
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .cast("double")
            .alias("total_rev")
        )
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "tpch_q9ish",
    """
    SELECT n.n_name AS nation,
           CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS profit
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q9ish(spark, sf):
    """Q9 shape (product-line profit by nation and year): a five-way
    join where every dimension side (filtered part, supplier, nation)
    broadcasts and only lineitem⋈orders shuffles; the year comes from a
    codegen'd date_format. At 100 TB the single wide shuffle on
    orderkey is the whole cost."""
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
    )
    return (
        j.withColumn("o_year", F.date_format("o_orderdate", "yyyy").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .cast("double")
            .alias("profit")
        )
    )


@register(
    "tpch_q2ish",
    """
    WITH offer AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, MIN(min_price) AS best_price FROM offer GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name AS nation,
           o.min_price AS best_price
    FROM offer o
    JOIN best b ON b.l_partkey = o.l_partkey AND o.min_price = b.best_price
    JOIN part p ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_size <= 10
    """,
    tags=("tpch", "join", "correlated"),
)
def q_tpch_q2ish(spark, sf):
    """Q2 shape (min-cost supplier per part): the correlated MIN
    subquery becomes one (part, supplier) pre-aggregation plus a
    per-part min, joined back on equality — no arithmetic on the join
    key (exact doubles), so cross-engine equality is stable. All
    dimension sides broadcast; the two aggregations reuse the same
    shuffle key prefix."""
    l = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    offer = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    # per-part best as a window min over the offer grain: one exchange
    # on l_partkey instead of a second aggregation + self-join
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    p = (
        load_table(spark, sf, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand")
    )
    s = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    return (
        offer.withColumn("best_price", F.min("min_price").over(w))
        .filter(F.col("min_price") == F.col("best_price"))
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("min_price").alias("best_price"),
        )
    )


@register(
    "tpch_q8ish",
    """
    SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n.n_name = 'NATION_3'
                    THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                    ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                    AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = (SELECT c_nationkey FROM customer
                                         WHERE c_custkey = o.o_custkey)
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY o_year
    """,
    tags=("tpch", "join", "conditional"),
)
def q_tpch_q8ish(spark, sf):
    """Q8 shape (national market share): one nation's share of revenue
    into a region per year — both the numerator (CASE-gated) and the
    denominator come out of the SAME aggregation pass, so the five-way
    join runs once. Customer/nation/region sides broadcast; the only
    wide shuffle is lineitem⋈orders.

    Revenue sums run in 10^-4-currency-unit int64 fixed point (prices
    and discounts are exact 2-decimal): the sums are exact and
    engine-identical, each casts to double exactly (per-group sums
    ≪ 2^53 up to sf~30), and the single IEEE division is
    bit-deterministic — unlike exact DECIMAL sums, whose
    decimal→double CAST differs in the last ulp between engines at
    sf1 group sizes (observed 0.0366479909561888 vs …881). The ratio
    is mathematically unchanged (fixed-point units cancel)."""
    l = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("cn_nationkey"),
        F.col("n_regionkey").alias("cn_regionkey"),
    )
    sn = n.select(F.col("n_nationkey").alias("sn_nationkey"), "n_name")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    j = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_nationkey"))
        .join(F.broadcast(r), F.col("cn_regionkey") == r["r_regionkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_nationkey"))
    )
    return (
        j.withColumn("o_year", F.date_format("o_orderdate", "yyyy").cast("long"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("n_name") == "NATION_3", rev).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(rev).cast("double")
            )
            .cast("double")
            .alias("mkt_share")
        )
    )


@register(
    "tpch_q11ish",
    """
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_1'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM val
    WHERE part_value > (SELECT SUM(part_value) * 0.001 FROM val)
    """,
    tags=("tpch", "agg", "scalar-subquery"),
)
def q_tpch_q11ish(spark, sf):
    """Q11 shape (important stock): per-part value restricted to one
    nation's suppliers, kept only above a fraction of the nation
    total. The threshold is a 1-row aggregate broadcast back over the
    per-part frame (decimal-exact comparison, cast to double only at
    output); the value CTE computes once."""
    l = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").filter(F.col("n_name") == "NATION_1")
    val = (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .alias("part_value")
        )
        .localCheckpoint(eager=False)
    )
    thresh = val.agg((F.sum("part_value") * F.lit(0.001)).alias("__t"))
    return (
        val.crossJoin(F.broadcast(thresh))
        .filter(F.col("part_value") > F.col("__t"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


@register(
    "tpch_q20ish",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_2'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
        )
          AND l.l_shipdate >= DATE '1996-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 50
      )
    """,
    tags=("tpch", "semi", "nested"),
)
def q_tpch_q20ish(spark, sf):
    """Q20 shape (suppliers with excess volume): NESTED semi-joins —
    parts by name prefix feed a (supplier, part) shipment aggregation,
    whose HAVING survivors semi-join the nation-filtered supplier
    list. Both inner relations broadcast (part ids, then the surviving
    supplier keys); lineitem shuffles once on the (suppkey, partkey)
    grain."""
    p = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    l = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("date")
    )
    heavy = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf, "nation").filter(F.col("n_name") == "NATION_2")
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    return J.semi_join(
        sn, heavy, sn["s_suppkey"] == heavy["l_suppkey"]
    ).select("s_suppkey", "s_name")


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def q_rollup_agg(spark, sf):
    """ROLLUP hierarchy totals (flag, flag+status, grand total) in one
    pass — absent from the reference (SURVEY §2.4: no grouping sets);
    native in Spark. Physically a single shuffle: Expand replicates each
    row per grouping set BEFORE the exchange, partial aggregation
    collapses the replicas map-side."""
    l = load_table(spark, sf, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def q_cube_agg(spark, sf):
    """CUBE: all 2^k grouping-set combinations in one Expand+shuffle."""
    l = load_table(spark, sf, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_price")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates, percentiles, sketches, sessionization
# ---------------------------------------------------------------------------


@register(
    "agg_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
           (CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            - CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
              * CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS variance,
           sqrt((CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 - CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   * CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) AS stddev
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "stats"),
)
def q_agg_stats(spark, sf):
    """Sample variance/stddev via exact decimal sum + sum-of-squares,
    finishing in double with the SAME IEEE operations on both engines —
    bit-identical results, unlike native stddev whose Welford merge
    order is nondeterministic under parallelism. One shuffle with
    map-side partial sums (the sufficient statistics are associative)."""
    ev = load_table(spark, sf, "events")
    d = _dec(F.col("value"))
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("__s"),
        F.sum(d * d).alias("__ss"),
    )
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    n = F.col("n")
    var = (ss - s * s / n) / (n - 1)
    return g.select(
        "event_type", "n", s.alias("sum_v"), var.alias("variance"),
        F.sqrt(var).alias("stddev"),
    )


@register(
    "percentile_exact",
    """
    SELECT event_type,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.95) AS p95
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "stats"),
)
def q_percentile_exact(spark, sf):
    """Exact interpolated percentiles (Spark `percentile` vs DuckDB
    `quantile_cont` — both linear interpolation over the sorted group).
    Exact percentile requires materializing each group; for corpus-scale
    profiles use `sketch_quantiles` (fixed-size sketch, mergeable)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )


@register(
    "sketch_distinct_users",
    """
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS exact_users,
           true AS within_bound
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch"),
)
def q_sketch_distinct_users(spark, sf):
    """HyperLogLog++ distinct-user estimate per event type. The sketch is
    fixed-size and mergeable, so the shuffle carries one ~KB sketch per
    (partition, group) instead of the full user-id set — THE way to
    count distinct over 100 TB when exactness isn't required.

    Gated on the sketch's own accuracy contract instead of rows-only:
    the HLL estimate itself is engine-specific (DuckDB can't replay
    Spark's register values), so the query EMITS the invariant — the
    per-group boolean |approx − exact| / exact ≤ 3·rsd — alongside the
    exact count, and the oracle computes the exact side + asserts the
    boolean is true. A broken sketch flips the boolean and the hash."""
    ev = load_table(spark, sf, "events")
    rsd = 0.01
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=rsd).alias("__approx"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= 3 * rsd
            ).alias("within_bound"),
        )
    )


@register(
    "sketch_quantiles",
    """
    SELECT event_type, count(*) AS n_events,
           true AS p50_rank_ok, true AS p95_rank_ok
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch"),
)
def q_sketch_quantiles(spark, sf):
    """Approximate quantiles per event type (Greenwald-Khanna sketch,
    `percentile_approx`): bounded-memory, mergeable — the scale path for
    percentile profiles where `percentile_exact` would buffer whole
    groups.

    Gated on GK's rank-error contract instead of rows-only: the sketch
    value is engine-specific, so the query EMITS per-group booleans
    asserting the returned value's TRUE rank is within ε of the target
    quantile (rank(≤v)/n ≥ q − ε and rank(<v)/n ≤ q + ε, ε = 1/accuracy
    plus a 1e-4 slack for interpolation at group edges). The sketch is
    a tiny per-group frame, so it re-joins the events broadcast-side;
    the rank counts are one more hash-agg over the same group key."""
    ev = load_table(spark, sf, "events").select("event_type", "value")
    acc = 10000
    eps = 1.0 / acc + 1e-4
    sk = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], acc).alias("q")
    )
    j = ev.join(F.broadcast(sk), "event_type")

    def _rank_ok(q_target, qv):
        le = F.sum((F.col("value") <= qv).cast("long")) / F.count(F.lit(1))
        lt = F.sum((F.col("value") < qv).cast("long")) / F.count(F.lit(1))
        return (le >= q_target - eps) & (lt <= q_target + eps)

    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _rank_ok(0.5, F.col("q")[0]).alias("p50_rank_ok"),
        _rank_ok(0.95, F.col("q")[1]).alias("p95_rank_ok"),
    )


@register(
    "event_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, tus, event_id,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           CAST(MIN(tus) // 1000000 AS BIGINT) AS session_start,
           CAST(MAX(tus) // 1000000 AS BIGINT) AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("window", "sessionize"),
)
def q_event_sessionize(spark, sf):
    """Gap-based sessionization via window functions: LAG marks session
    starts (>30 min silence), a running SUM numbers sessions, then one
    group-by rolls sessions up. All three steps share ONE partitioning
    (user_id) — Spark plans a single Exchange and reuses its sort for
    both window functions. This is the batch mirror of the streaming
    SESSION window (`F.session_window`), with a stable session_id.

    Event-time arithmetic in integer microseconds; ties within a
    timestamp are ordered by event_id so both engines agree."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    prev = F.lag("tus").over(w)
    new_s = F.when(prev.isNull() | (F.col("tus") - prev > 1_800_000_000), 1).otherwise(0)
    flagged = ev.withColumn("new_s", new_s)
    run = Window.partitionBy("user_id").orderBy("tus", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("session_id", F.sum("new_s").over(run))
    return sess.groupBy("user_id", "session_id").agg(
        F.floor(F.min("tus") / 1_000_000).alias("session_start"),
        F.floor(F.max("tus") / 1_000_000).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _pq_books_sql() -> str:
    """The seeded PQ codebooks as one DuckDB DOUBLE[][][] literal —
    the exact doubles Spark ships in its nested F.lit."""
    from hstream_spark.operators.similarity import pq_seed_codebooks

    books = pq_seed_codebooks(64, m=8, ks=16)
    lit = (
        "["
        + ",".join(
            "[" + ",".join("[" + ",".join(repr(x) for x in c) + "]" for c in sub) + "]"
            for sub in books
        )
        + "]"
    )
    return f"CAST({lit} AS DOUBLE[][][])"


def _pq_encode_oracle() -> str:
    dsub, m = 8, 8
    codes = ",\n       ".join(
        f"list_position(d{s}, list_min(d{s})) - 1" for s in range(m)
    )
    dists = ",\n       ".join(
        f"list_transform(b[{s + 1}], c -> list_sum(list_transform("
        f"list_zip(v[{s * dsub + 1}:{s * dsub + dsub}], c), "
        f"p -> (p[1]-p[2])*(p[1]-p[2])))) AS d{s}"
        for s in range(m)
    )
    return f"""
WITH cb AS (SELECT {_pq_books_sql()} AS b),
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
d AS (SELECT vec_id,
       {dists}
      FROM v, cb)
SELECT vec_id,
       [{codes}] AS codes
FROM d
"""


def _pq_encode_oracle_flat() -> str:
    """pq_encode's driver-gate oracle: the codes list serialized to a
    '|'-joined string — list-typed output cells crash the driver's
    canonicalizer (same hazard class as sql_frontend_scalar r3)."""
    return (
        f"WITH enc AS ({_pq_encode_oracle().strip()})\n"
        "SELECT vec_id, array_to_string(codes, '|') AS codes FROM enc"
    )


@register("pq_encode", _pq_encode_oracle_flat(), tags=("similarity", "pq"))
def q_pq_encode(spark, sf):
    """Product-quantization encoding (FAISS-style m=8 x ks=16 codes,
    64x compression) with the deterministic seeded codebooks — the
    production vectorized kernel (operators/similarity.py
    pq_encode_np: one BLAS matmul per subspace per Arrow batch, ~9x
    the expression fold at sf0.1; the Catalyst expression path
    pq_encode stays oracle-equivalent and is pinned against this one
    in tests/test_similarity.py).  Codes serialize to a '|'-joined
    string at the gate edge (list cells crash the driver's
    canonicalizer); downstream consumers use the array directly."""
    from hstream_spark.operators.similarity import (
        pq_encode_np,
        pq_seed_codebooks,
    )

    emb = load_table(spark, sf, "embeddings")
    enc = pq_encode_np(emb, pq_seed_codebooks(64, m=8, ks=16))
    return enc.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), "|").alias("codes"),
    )


def _pq_adc_oracle() -> str:
    dsub, m, k = 8, 8, 10
    terms = "\n           + ".join(
        f"list_sum(list_transform(list_zip("
        f"qv[{s * dsub + 1}:{s * dsub + dsub}], b[{s + 1}][codes[{s + 1}] + 1]), "
        f"p -> (p[1]-p[2])*(p[1]-p[2])))"
        for s in range(m)
    )
    enc = _pq_encode_oracle().strip()
    return f"""
WITH cb AS (SELECT {_pq_books_sql()} AS b),
codes AS ({enc}),
q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, c.vec_id AS c_id,
         {terms} AS adist
  FROM q, codes c, cb
  WHERE q.q_id <> c.vec_id),
ranked AS (
  SELECT q_id, c_id, adist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adist ASC, c_id ASC) AS rank
  FROM scored)
SELECT q_id, c_id, round(adist, 6) AS adist, rank FROM ranked WHERE rank <= {k}
"""


@register("ann_pq_topk", _pq_adc_oracle(), tags=("similarity", "pq", "ann"))
def q_ann_pq_topk(spark, sf):
    """ADC top-10 over PQ codes for 3 query vectors: approximate
    distance reads only the 8-byte code arrays — the billion-scale ANN
    scan shape (operators/similarity.py pq_adc_topk)."""
    from hstream_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode_np,
        pq_seed_codebooks,
    )

    emb = load_table(spark, sf, "embeddings")
    books = pq_seed_codebooks(64, m=8, ks=16)
    # vectorized kernel (end-to-end entry); int codes for the ADC lookup
    codes = pq_encode_np(emb, books).withColumn(
        "codes", F.col("codes").cast("array<int>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    return pq_adc_topk(codes, queries, books, k=10)


def _sq_oracle(k: int = 10, fp: int = 1 << 20) -> str:
    return f"""
WITH v AS (SELECT vec_id,
                  list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * {fp}) AS BIGINT)) AS xi
           FROM embeddings),
d AS (SELECT unnest(xi) AS x, unnest(range(1, len(xi) + 1)) AS dim FROM v),
mm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM d GROUP BY dim),
ml AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM mm),
c AS (SELECT vec_id, len(xi) AS nd,
             list_transform(range(1, len(xi) + 1),
                 i -> CASE WHEN mxs[i] = mns[i] THEN 0
                           ELSE ((xi[i] - mns[i]) * 255) // (mxs[i] - mns[i])
                      END) AS code
      FROM v, ml),
dq AS (SELECT vec_id,
              list_transform(range(1, nd + 1),
                  i -> mns[i] + (code[i] * (mxs[i] - mns[i])) // 255) AS dqv
       FROM c, ml),
q AS (SELECT vec_id AS q_id, xi AS qv FROM v WHERE vec_id < 3),
scored AS (SELECT q.q_id, dq.vec_id AS c_id,
                  CAST(list_sum(list_transform(list_zip(qv, dqv),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS sqdist
           FROM q, dq WHERE q.q_id <> dq.vec_id),
ranked AS (SELECT q_id, c_id, sqdist,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY sqdist ASC, c_id ASC) AS rank
           FROM scored)
SELECT q_id, c_id, sqdist, rank FROM ranked WHERE rank <= {k}
"""


@register("ann_sq_topk", _sq_oracle(), tags=("similarity", "sq", "ann"))
def q_ann_sq_topk(spark, sf):
    """Asymmetric top-10 over per-dimension affine uint8 SCALAR
    quantization for 3 query vectors — the FAISS-style SQ8 scan shape:
    codes (dim bytes/row) are the stored representation, the quantizer
    is two dim-length literals, queries stay exact. Complements
    ``embedding_quantize`` (per-vector symmetric int8 for storage) and
    ``ann_pq_topk`` (sub-vector codebooks): SQ trades PQ's 64×
    compression for table-free decode at 4×. All arithmetic is int64
    2^-20 fixed point, so the oracle replays train→encode→dequantize→
    score byte-exactly. The catalog entry runs the vectorized Arrow
    kernels (sq_encode_np/sq_adc_topk_np — whole-batch numpy int64);
    the Catalyst expression path (sq_encode/sq_adc_topk) is pinned
    byte-identical in tests/test_similarity.py."""
    from hstream_spark.operators.similarity import (
        sq_adc_topk_np,
        sq_encode_np,
        sq_train,
    )

    emb = load_table(spark, sf, "embeddings")
    mns, mxs = sq_train(emb)
    codes = sq_encode_np(emb, mns, mxs)
    queries = emb.where(F.col("vec_id") < 3)
    return sq_adc_topk_np(codes, queries, mns, mxs, k=10)


_SQ_INDEX_CACHE: dict = {}


def _standing_sq_index(spark, sf: str) -> str:
    """Build-once per-sf SQ8 index in a temp dir (the warm-path
    substrate, mirroring _standing_dedup_index)."""
    import atexit
    import shutil
    import tempfile

    path = _SQ_INDEX_CACHE.get(sf)
    if path is None:
        path = tempfile.mkdtemp(prefix="hstream_sq_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        from hstream_spark.operators.similarity import build_sq_index

        build_sq_index(load_table(spark, sf, "embeddings"), path)
        _SQ_INDEX_CACHE[sf] = path
    return path


@register("ann_sq_topk_warm", _sq_oracle(),
          tags=("similarity", "sq", "ann", "warm"))
def q_ann_sq_topk_warm(spark, sf):
    """`ann_sq_topk` THROUGH a persisted SQ8 index (`build_sq_index` +
    `sq_index_topk`): quantizer and codes read from disk, so a query
    pays only the code scan — no train aggregate, no encode pass.
    Identical result to the cold entry (same oracle); the cold/warm
    delta is the measured build amortization, the production shape for
    a standing embedding corpus."""
    from hstream_spark.operators.similarity import sq_index_topk

    emb = load_table(spark, sf, "embeddings")
    path = _standing_sq_index(spark, sf)
    return sq_index_topk(spark, path, emb.where(F.col("vec_id") < 3), k=10)


# ---------------------------------------------------------------------------
# Deterministic sampling / dataset splitting (training-data pipeline)
# ---------------------------------------------------------------------------

_HB = "('0x' || substring(md5(CAST({x} AS VARCHAR)), 1, 15))::BIGINT % 10000"


_TEMP_ORACLE = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
m AS (SELECT min(n) AS nmin FROM c),
r AS (SELECT lang,
             least(1.0, pow(CAST(n AS DOUBLE), 0.7) / CAST(n AS DOUBLE)
                        * (CAST(nmin AS DOUBLE)
                           / pow(CAST(nmin AS DOUBLE), 0.7))) AS rate
      FROM c, m)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE {_HB.format(x='d.doc_id')}
      < CAST(floor(rate * 10000.0) AS BIGINT)
"""


@register("temperature_sample", _TEMP_ORACLE, tags=("sampling", "mix"))
def q_temperature_sample(spark, sf):
    """Temperature-0.7 language rebalancing (mT5-style training mix):
    per-language keep-rates from pow-renormalized corpus shares, applied
    as the deterministic id-hash filter — tiny rate table broadcast,
    rows never shuffle (operators/sampling.py temperature_sample)."""
    from hstream_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    return SMP.temperature_sample(docs, "doc_id", "lang", temperature=0.7).select(
        "doc_id", "lang"
    )


_DSIR_ORACLE = """
WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents),
tha AS (SELECT doc_id,
               list_transform(toks,
                 t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483647
               ) AS th
        FROM docs),
b AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(th) - 1),
               i -> ((th[i] * 1000003 + th[i + 1]) % 2147483647) % 1024
             )) AS bucket
      FROM tha WHERE len(th) >= 2),
tb AS (SELECT b.bucket, count(*) AS p
       FROM b JOIN documents d ON d.doc_id = b.doc_id
       WHERE d.source = 'src0' GROUP BY b.bucket),
qb AS (SELECT bucket, count(*) AS q FROM b GROUP BY bucket),
lut AS (SELECT qb.bucket,
               ((coalesce(tb.p, 0) + 1) * 1048576) // (qb.q + 1) AS l
        FROM qb LEFT JOIN tb ON tb.bucket = qb.bucket),
sc AS (SELECT b.doc_id, CAST(sum(l.l) AS BIGINT) AS s
       FROM b JOIN lut l ON l.bucket = b.bucket GROUP BY b.doc_id),
allsc AS (SELECT d.doc_id, CAST(coalesce(sc.s, 0) AS BIGINT) AS dsir_score
          FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
top AS (SELECT doc_id, dsir_score,
               row_number() OVER (ORDER BY dsir_score DESC, doc_id ASC) AS rank
        FROM allsc)
SELECT doc_id, dsir_score, rank FROM top WHERE rank <= 400
"""


@register("dsir_select", _DSIR_ORACLE, tags=("sampling", "dsir", "selection"))
def q_dsir_select(spark, sf):
    """DSIR-style importance selection (Xie et al. 2023): profile the
    TARGET slice (source = 'src0', the curated dump) and the raw corpus
    as hashed-bigram bucket counts, build the per-bucket importance
    ratio in integer fixed point (L_k = (p_k+1)·2^20 // (q_k+1) —
    add-one smoothed; a documented monotone variant of the log-ratio so
    both engines replay selection byte-exactly), score every raw doc by
    its count-weighted ratio sum, keep the top 400 (score desc, id asc).
    Scale shape: two model-sized profile aggregates (1024 rows each,
    the only driver traffic), one linear explode→groupBy scoring pass,
    distributed top-k (operators/sampling.py dsir_select)."""
    from hstream_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    target = docs.where(F.col("source") == "src0")
    return SMP.dsir_select(docs, target, keep_n=400)


_GROUP_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN {_HB.format(x="md5(text)")} < 1000
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


@register("group_train_test_split", _GROUP_SPLIT_ORACLE, tags=("sampling", "split"))
def q_group_train_test_split(spark, sf):
    """Leakage-safe 90/10 split keyed by the content hash: exact
    duplicates always land in the same split (operators/sampling.py
    group_train_test_split)."""
    from hstream_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return SMP.group_train_test_split(
        docs, F.md5(F.col("text")), test_fraction=0.10
    ).select("doc_id", "split")


@register(
    "deterministic_sample",
    f"""
    SELECT doc_id, n_tokens
    FROM (SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
          FROM documents)
    WHERE {_HB.format(x='doc_id')} < 1000
    """,
    tags=("sampling",),
)
def q_deterministic_sample(spark, sf):
    """~10% reproducible sample of documents by id-hash bucket — the
    exact selected row set is engine-independent (oracle-verified),
    unlike df.sample. Map-only: no shuffle at any scale."""
    from hstream_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return SMP.deterministic_sample(docs, "doc_id", 0.10)


@register(
    "train_test_split",
    f"""
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id
    FROM (SELECT doc_id,
                 CASE WHEN {_HB.format(x='doc_id')} < 1000 THEN 'test'
                      ELSE 'train' END AS split
          FROM documents)
    GROUP BY split
    """,
    tags=("sampling",),
)
def q_train_test_split(spark, sf):
    """Disjoint-by-construction train/test tagging (bucket ranges of one
    id hash); rolled up per split so the oracle pins both sizes and
    membership stability."""
    from hstream_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").select("doc_id")
    tagged = SMP.train_test_split(docs, "doc_id", test_fraction=0.10)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id")
    )


@register(
    "stratified_sample",
    f"""
    SELECT event_id, event_type
    FROM events
    WHERE {_HB.format(x='event_id')} <
          CASE event_type
            WHEN 'purchase' THEN 10000
            WHEN 'click'    THEN 500
            ELSE 100
          END
    """,
    tags=("sampling",),
)
def q_stratified_sample(spark, sf):
    """Per-stratum deterministic sampling: keep ALL purchases, 5% of
    clicks, 1% of everything else — the downsample-boilerplate /
    keep-rare-data shape of corpus curation. Map-only."""
    from hstream_spark.operators import sampling as SMP

    ev = load_table(spark, sf, "events").select("event_id", "event_type")
    return SMP.stratified_sample(
        ev,
        "event_id",
        "event_type",
        {"purchase": 1.0, "click": 0.05},
        default_fraction=0.01,
    )


@register(
    "embedding_kmeans",
    """
    SELECT * FROM (VALUES (1, true), (2, true), (3, true))
      t(iter, objective_nondecreasing)
    """,
    tags=("similarity", "iterative"),
)
def q_embedding_kmeans(spark, sf):
    """Spherical k-means clustering of the embedding corpus (4 clusters,
    4 fused Lloyd iterations; the 4th model is discarded, only its
    objective is kept). Per iteration the cluster exchanges only
    model-sized state (k x dim sums) — the canonical driver-model /
    executor-data iterative shape.

    Gated on Lloyd's convergence guarantee instead of rows-only: the
    trained centroids are engine-specific floats, so the query EMITS
    the invariant — per iteration, the spherical-k-means objective
    (Σ cos(vec, assigned centroid), computed distributedly) must not
    decrease vs the previous model (1e-9 slack for fixed-point centroid
    rounding). The oracle asserts all three booleans. The sibling
    ``kmeans_fit_fixed`` stays byte-exact-replayed in DuckDB; this
    entry keeps the production seeding + full trainer under a
    hash-gated contract. Each objective is ONE scalar to the driver —
    the same model-sized traffic the trainer itself already pays."""
    from hstream_spark.operators.similarity import (
        kmeans_fit,
        train_ivf_quantizer,
    )

    emb = load_table(spark, sf, "embeddings")

    # one fused trainer call: each Lloyd iteration emits the objective
    # of the model it assigned with from the SAME aggregation pass
    # (4 corpus passes total instead of 7 — round-12; the 1e-9 slack
    # already absorbs the partial-sum association difference). The 4th
    # objective comes from one extra fused iteration whose trained
    # model is discarded (ADVICE r12): all four objectives then flow
    # through the SAME summation path, so the monotonicity booleans
    # can't be flipped by cross-path double-association noise at
    # larger scale. Same pass count: the extra iteration's aggregation
    # replaces the separate kmeans_assign objective pass.
    seed = train_ivf_quantizer(emb, 4)  # the seed = iteration 0
    _discarded, objs = kmeans_fit(
        emb, k=4, iters=4, init=seed, return_objectives=True
    )
    objs = list(objs)
    rows = [
        (i, objs[i] >= objs[i - 1] - 1e-9) for i in range(1, len(objs))
    ]
    return spark.createDataFrame(rows, "iter int, objective_nondecreasing boolean")


@register(
    "extended_json_scan",
    """
    SELECT event_id, user_id AS uid, value AS val, event_type AS et,
           strftime(ts, '%Y-%m-%d') AS d_str,
           epoch_us(ts) AS ts_us
    FROM events
    """,
    tags=("source", "json", "extended"),
)
def q_extended_json_scan(spark, sf):
    """Extended-JSON wire-format round trip: typed events columns are
    serialized into the reference's runtime record encoding
    ($numberLong / $numberDouble / $binary / $date / $timestamp —
    Rts/Old.hs:134-198) and lowered back to typed columns by the scan
    decoder. The oracle pins decode ∘ encode = identity against the
    original typed values, proving both directions. Map-only both ways
    (one from_json pass + per-field Catalyst decoders, no Python);
    `spread` fans the small-file test input across cores — JSON parse
    is CPU-bound, and at corpus scale the many input files make it a
    no-op. Projection BEFORE the spread shuffle: only the six needed
    columns move, not the whole record."""
    from hstream_spark.sources import extended_json as EJ
    from hstream_spark.sources.tables import spread

    ev = load_table(spark, sf, "events")
    fields = {
        "uid": "INTEGER",
        "val": "FLOAT",
        "blob": "BYTEA",
        "d": "DATE",
        "tstamp": "TIMESTAMP",
    }
    typed = spread(
        ev.select(
            "event_id",
            F.col("user_id").alias("uid"),
            F.col("value").alias("val"),
            F.col("event_type").cast("binary").alias("blob"),
            F.to_date("ts").alias("d"),
            F.col("ts").alias("tstamp"),
        )
    )
    wire = EJ.encode_record(typed, fields).select("event_id", "payload")
    dec = EJ.decode_record(wire, "payload", fields, keep=["event_id"])
    return dec.select(
        "event_id",
        "uid",
        "val",
        F.col("blob").cast("string").alias("et"),
        F.date_format("d", "yyyy-MM-dd").alias("d_str"),
        F.unix_micros("tstamp").alias("ts_us"),
    )


_KMEANS_SEEDS = (1, 7, 19, 42)

_KMEANS_ASSIGN_ORACLE = f"""
WITH e AS (SELECT vec_id, {_NORM_VEC} AS vn FROM embeddings),
c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, vn AS cvec
      FROM e WHERE vec_id IN {_KMEANS_SEEDS}),
scored AS (SELECT e.vec_id, c.cluster, list_dot_product(e.vn, c.cvec) AS cos
           FROM e CROSS JOIN c),
ranked AS (SELECT vec_id, cluster, cos,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cluster ASC) AS rn
           FROM scored)
SELECT vec_id, cluster, cos FROM ranked WHERE rn = 1
"""


def _seed_centroids(emb) -> list:
    """The four pinned seed vectors, L2-normalized, as fixed centroids
    (model-sized driver traffic, not a data collect)."""
    import math

    rows = (
        emb.filter(F.col("vec_id").isin(*_KMEANS_SEEDS))
        .select("vec_id", "embedding")
        .collect()
    )

    def _l2(vals):
        s = 0.0
        for v in vals:
            s += v * v
        n = math.sqrt(s) or 1.0
        return [v / n for v in vals]

    return [
        (i, _l2([float(x) for x in r["embedding"]]))
        for i, r in enumerate(sorted(rows, key=lambda r: r["vec_id"]))
    ]


def _kmeans_fit_oracle(iters: int = 3, dim: int = 64) -> str:
    """DuckDB replay of the FULL Lloyd trainer with the pinned seed
    centroids, the iteration count unrolled into chained CTEs (fixed
    iters makes recursion unnecessary). Cross-engine exactness rests on
    three constructions shared with the Spark side: (1) both engines
    normalize with the same sequential fold (list_dot_product ≡
    F.aggregate), (2) per-dimension centroid sums run in 2^-40 binary
    fixed point — `x * 2^40` is an EXACT double op, half-away rounding
    of the identical value agrees across engines, and the int64 sum is
    order-independent (a DECIMAL cast is NOT safe here: DuckDB
    double-rounds `x*10^s` while Spark HALF_UPs the exact expansion;
    they disagree at grid-edge values), (3) assignment ties break
    toward the lowest cluster id. Centroids are therefore
    byte-identical each round, and so are the final assignments."""
    parts = [
        f"WITH e AS (SELECT vec_id, {_NORM_VEC} AS vn FROM embeddings),",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,"
        f" vn AS cvec FROM e WHERE vec_id IN {_KMEANS_SEEDS}),",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
a{i} AS (SELECT e.vec_id, c.cluster,
             row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.vn, c.cvec) DESC,
                          c.cluster ASC) AS rn
         FROM e CROSS JOIN c{p} c),
asg{i} AS (SELECT vec_id, cluster FROM a{i} WHERE rn = 1),
m{i} AS (SELECT a.cluster, d.pos,
             CAST(SUM(CAST(round(e.vn[d.pos] * 1099511627776) AS BIGINT))
                  AS DOUBLE) / 1099511627776 / COUNT(*) AS cv
         FROM asg{i} a JOIN e ON e.vec_id = a.vec_id
         CROSS JOIN generate_series(1, {dim}) d(pos)
         GROUP BY a.cluster, d.pos),
r{i} AS (SELECT cluster, list(cv ORDER BY pos) AS cvec
         FROM m{i} GROUP BY cluster),
c{i} AS (SELECT c{p}.cluster,
             COALESCE(list_transform(r{i}.cvec,
                 x -> x / sqrt(list_dot_product(r{i}.cvec, r{i}.cvec))),
                 c{p}.cvec) AS cvec
         FROM c{p} LEFT JOIN r{i} ON r{i}.cluster = c{p}.cluster),""")
    parts.append(f"""
fa AS (SELECT e.vec_id, c.cluster, list_dot_product(e.vn, c.cvec) AS cos,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.vn, c.cvec) DESC,
                        c.cluster ASC) AS rn
       FROM e CROSS JOIN c{iters} c)
SELECT vec_id, cluster, cos FROM fa WHERE rn = 1""")
    return "\n".join(parts)


@register(
    "kmeans_fit_fixed",
    _kmeans_fit_oracle(),
    tags=("similarity", "kmeans", "iterative"),
)
def q_kmeans_fit_fixed(spark, sf):
    """The FULL k-means trainer, hash-gated: 3 Lloyd iterations from
    the four pinned seed vectors, then the final map-only assignment —
    the oracle replays every iteration in DuckDB (unrolled CTE chain).
    This closes the gate on the trainer itself, not just its assignment
    stage: 2^-40 binary fixed-point per-dim sums (exact int64) make the
    centroid update independent of shuffle order AND of cross-engine
    decimal-cast rounding, so the distributed Spark fit and the
    single-node SQL replay agree byte-for-byte. `embedding_kmeans` keeps the production
    seeding (id-hash group means) as the bench/throughput entry."""
    from hstream_spark.operators.similarity import kmeans_assign, kmeans_fit

    emb = load_table(spark, sf, "embeddings")
    cents = kmeans_fit(emb, k=4, iters=3, init=_seed_centroids(emb))
    return kmeans_assign(emb, cents)


@register("kmeans_assign", _KMEANS_ASSIGN_ORACLE, tags=("similarity", "kmeans"))
def q_kmeans_assign(spark, sf):
    """The assignment stage of k-means in isolation, oracle-checked with
    FIXED centroids (the normalized embeddings of four pinned vec_ids) —
    a deterministic map-only projection both engines replicate exactly
    (sequential-fold dot products on identical doubles). The trainer
    (`embedding_kmeans`) stays convergence-pinned in unit tests; this
    entry proves the assignment math it shares."""
    from hstream_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf, "embeddings")
    return kmeans_assign(emb, _seed_centroids(emb))


_PROBE_DIM = 8
_PROBE_ITERS = 3
_PROBE_LABEL_SQL = "CASE WHEN label < 5 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
_PROBE_SCORE_W = [0.25, -0.5, 0.125, 0.75, -0.25, 0.5, -0.125, 0.0625, -0.03125]


def _linear_probe_oracle(iters: int = _PROBE_ITERS, dim: int = _PROBE_DIM) -> str:
    """DuckDB replay of the FULL linear-probe GD trainer, iterations
    unrolled into chained CTEs (the kmeans_fit_fixed construction):
    per iteration the residual uses the same 0-seeded
    ``list_dot_product`` fold + bias-after as the Spark side, each
    gradient term quantizes as ``round(err * x * 2^40)`` (exact-binary
    scale, half-away rounding agrees cross-engine) summed in 128-bit,
    and the weight update replays the identical floating-op sequence
    ``w - lr*((double(g)/2^40)/n)``. Weights are therefore
    byte-identical after every iteration."""
    zeros = "[" + ", ".join(["0.0"] * dim) + "]"
    parts = [
        f"WITH b AS (SELECT (embedding::DOUBLE[])[1:{dim}] AS px,",
        f"                  {_PROBE_LABEL_SQL} AS py FROM embeddings",
        # trainability exclusion mirrors _probe_trainable exactly: a
        # NULL label, missing/short embedding, or NULL element among
        # the first dim slots drops out of the Spark gradient (and its
        # n denominator), so it must drop out of the replay too —
        # otherwise byte parity breaks on dirty corpora
        "                  WHERE label IS NOT NULL AND embedding IS NOT NULL",
        f"                    AND len(embedding) >= {dim}",
        f"                    AND len(list_filter(embedding[1:{dim}],"
        " x -> x IS NULL)) = 0),",
        f"w0 AS (SELECT {zeros}::DOUBLE[] AS wv, CAST(0.0 AS DOUBLE) AS wb),",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
g{i} AS (SELECT d.pos,
         SUM(CAST(round(
             ((list_dot_product(b.px, w.wv) + w.wb) - b.py)
             * (CASE WHEN d.pos <= {dim} THEN b.px[d.pos] ELSE 1.0 END)
             * 1099511627776) AS BIGINT)) AS g,
         COUNT(*) AS n
       FROM b CROSS JOIN w{p} w CROSS JOIN generate_series(1, {dim + 1}) d(pos)
       GROUP BY d.pos),
gl{i} AS (SELECT list(CAST(g AS DOUBLE) ORDER BY pos) AS gs, max(n) AS n FROM g{i}),
w{i} AS (SELECT list_transform(generate_series(1, {dim}),
                 j -> w.wv[j] - 0.5 * ((gl.gs[j] / 1099511627776) / gl.n)) AS wv,
              w.wb - 0.5 * ((gl.gs[{dim + 1}] / 1099511627776) / gl.n) AS wb
       FROM w{p} w CROSS JOIN gl{i} gl),""")
    parts.append(f"""
fin AS (SELECT CAST(j AS INTEGER) AS pos, wv[j] AS weight
        FROM w{iters}, generate_series(1, {dim}) t(j)
        UNION ALL SELECT {dim + 1}, wb FROM w{iters})
SELECT pos, weight FROM fin""")
    return "\n".join(parts)


@register(
    "linear_probe_fit_fixed",
    _linear_probe_oracle(),
    tags=("similarity", "ml", "iterative"),
)
def q_linear_probe_fit_fixed(spark, sf):
    """Distributed linear-probe trainer, hash-gated end to end: 3
    least-squares GD iterations over the first 8 embedding dims against
    the binarized corpus label (label < 5), the oracle replaying every
    iteration in DuckDB (unrolled CTE chain, 2^-40 fixed-point gradient
    sums). The train-a-probe-on-embeddings step of a curation pipeline
    with per-iteration traffic of dim+1 scalars — the driver-holds-
    model / executors-hold-data shape shared with kmeans_fit_fixed."""
    from hstream_spark.operators.similarity import linear_probe_fit

    emb = load_table(spark, sf, "embeddings")
    w = linear_probe_fit(
        emb, label=(F.col("label") < 5).cast("double"),
        dim=_PROBE_DIM, iters=_PROBE_ITERS, lr=0.5,
    )
    rows = [(j + 1, w[j]) for j in range(len(w))]
    return spark.createDataFrame(rows, "pos int, weight double")


@register(
    "linear_probe_score",
    f"""
    SELECT vec_id,
           list_dot_product((embedding::DOUBLE[])[1:{_PROBE_DIM}],
                            {_PROBE_SCORE_W[:_PROBE_DIM]}) + {_PROBE_SCORE_W[_PROBE_DIM]} AS score,
           (list_dot_product((embedding::DOUBLE[])[1:{_PROBE_DIM}],
                             {_PROBE_SCORE_W[:_PROBE_DIM]}) + {_PROBE_SCORE_W[_PROBE_DIM]}) > 0.5 AS keep
    FROM embeddings
    """,
    tags=("similarity", "ml"),
)
def q_linear_probe_score(spark, sf):
    """The inference half of the linear probe with pinned exact-binary
    weights — map-only: one dot fold per row inside the scan, boolean
    keep-decision. At 100 TB this is a pure scan with no shuffle."""
    from hstream_spark.operators.similarity import linear_probe_score

    emb = load_table(spark, sf, "embeddings")
    return linear_probe_score(emb, _PROBE_SCORE_W, threshold=0.5)


@register(
    "logistic_probe_fit",
    """
    SELECT * FROM (VALUES (1, true), (2, true), (3, true))
      t(iter, loss_nonincreasing)
    """,
    tags=("similarity", "ml", "iterative"),
)
def q_logistic_probe_fit(spark, sf):
    """Distributed logistic-probe trainer (full-batch GD on binary
    cross-entropy over the first 8 embedding dims, label = corpus
    label < 5), invariant-gated the ``embedding_kmeans`` way: sigmoid
    is transcendental (no byte-exact cross-engine replay exists), so
    the entry EMITS the convexity contract — with a conservative step,
    every GD iteration's mean BCE loss is ≤ the previous one (1e-9
    slack) — as booleans computed DISTRIBUTEDLY (the loss folds inside
    the same scan as the gradient; dim+2 scalars to the driver per
    iteration) and the oracle asserts all three. The least-squares
    sibling ``linear_probe_fit_fixed`` keeps the byte-exact DuckDB
    replay; this entry covers the objective real curation filters
    train."""
    from hstream_spark.operators.similarity import logistic_probe_fit

    emb = load_table(spark, sf, "embeddings")
    _w, losses = logistic_probe_fit(
        emb, label=(F.col("label") < 5).cast("double"),
        dim=_PROBE_DIM, iters=_PROBE_ITERS, lr=0.25,
    )
    rows = [(i, losses[i] <= losses[i - 1] + 1e-9)
            for i in range(1, len(losses))]
    return spark.createDataFrame(rows, "iter int, loss_nonincreasing boolean")


_SEMANTIC_DEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, {_NORM_VEC} AS vn FROM embeddings),
c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, vn AS cvec
      FROM e WHERE vec_id IN {_KMEANS_SEEDS}),
scored AS (SELECT e.vec_id, c.cluster, list_dot_product(e.vn, c.cvec) AS cos
           FROM e CROSS JOIN c),
asg AS (SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cluster ASC) AS rn
          FROM scored) WHERE rn = 1),
m AS (SELECT a.vec_id, a.cluster, e.vn FROM asg a JOIN e USING (vec_id)),
drops AS (SELECT DISTINCT a.vec_id FROM m a JOIN m b
          ON a.cluster = b.cluster AND a.vec_id > b.vec_id
             AND list_dot_product(a.vn, b.vn) >= 0.4)
SELECT vec_id, cluster FROM m
WHERE vec_id NOT IN (SELECT vec_id FROM drops)
"""


@register("semantic_dedup", _SEMANTIC_DEDUP_ORACLE, tags=("dedup", "embedding", "semantic"))
def q_semantic_dedup(spark, sf):
    """SemDeDup (cluster-then-prune semantic dedup, Abbas et al. 2023):
    with the fixed seeded centroids, drop every vector having a
    lower-id same-cluster neighbor at cosine >= 0.4 — pairwise work
    confined to clusters, the O(sum k_i^2)-not-O(n^2) shape. Runs the
    vectorized per-cluster gram-matrix kernel
    (operators/similarity.py semantic_dedup_np; the expression-path
    semantic_dedup is decision-equivalent, pinned in tests)."""
    from hstream_spark.operators.similarity import semantic_dedup_np

    emb = load_table(spark, sf, "embeddings")
    return semantic_dedup_np(emb, _seed_centroids(emb), eps=0.4)


def _multimodal_curation_oracle() -> str:
    return f"""
WITH q AS ({_quality_clf_oracle().strip()}),
s AS ({_SEMANTIC_DEDUP_ORACLE.strip()})
SELECT d.doc_id, d.lang
FROM documents d
JOIN q ON q.doc_id = d.doc_id AND q.keep
JOIN s ON s.vec_id = d.doc_id
"""


@register(
    "multimodal_curation",
    _multimodal_curation_oracle(),
    tags=("curation", "multimodal", "composite"),
)
def q_multimodal_curation(spark, sf):
    """Text x embedding joint curation: keep documents that pass the
    logistic TEXT quality classifier AND survive EMBEDDING-space
    SemDeDup (their vector has no lower-id same-cluster neighbor at
    cosine >= 0.4) — the two modalities' filters compose as semi-joins
    on the shared id, so the plan is the union of both operators' scale
    stories plus two broadcast-sized joins."""
    from hstream_spark.operators.similarity import semantic_dedup_np
    from hstream_spark.sources.tables import spread

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    # materialize the scored frame BEFORE filtering: a filter over the
    # classifier's computed boolean inlines the whole feature tree into
    # FilterExec (no subexpression elimination there — measured ~9x)
    # and pushes it below the parallelizing exchange; localCheckpoint
    # evaluates the features ONCE in a projection and — unlike
    # persist() — its blocks free on GC, so repeated invocations in one
    # session don't accumulate CacheManager entries
    scored = TX.quality_classifier(spread(docs)).select(
        "doc_id", "keep"
    ).localCheckpoint()
    q_keep = scored.where(F.col("keep")).select("doc_id")
    sem_keep = semantic_dedup_np(emb, _seed_centroids(emb), eps=0.4).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .join(q_keep, "doc_id", "left_semi")
        .join(sem_keep, "doc_id", "left_semi")
    )


_DEDUP_INDEX_ORACLE = f"""
WITH docs AS ({_TOKS_CTE}),
tha AS (SELECT doc_id, list_transform(toks, t -> {_H31.format(x='t')}) AS th FROM docs),
sh AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(th) - 2), i -> {_SHINGLE3})) AS h
       FROM tha),
shh AS (SELECT DISTINCT doc_id, h FROM sh),
perms AS (SELECT * FROM (VALUES {{perms}}) p(i, a, b)),
mh AS (SELECT doc_id, i, min((h * a + b) % 2147483647) AS mh
       FROM shh, perms GROUP BY doc_id, i),
bands AS (SELECT doc_id, i // {{rpb}} AS band,
                 string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_sig
          FROM mh GROUP BY doc_id, i // {{rpb}}),
cand AS (SELECT DISTINCT a.doc_id AS ba, b.doc_id AS cb
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
sets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM shh GROUP BY doc_id),
near AS (SELECT DISTINCT c.ba AS doc_id
         FROM cand c JOIN sets sa ON sa.doc_id = c.ba
                     JOIN sets sb ON sb.doc_id = c.cb
         WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE
               / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))::DOUBLE
               >= 0.5),
exact AS (SELECT DISTINCT d.doc_id FROM documents d
          WHERE d.doc_id % 5 = 0
            AND md5(d.text) IN (SELECT md5(text) FROM documents WHERE doc_id % 5 <> 0))
SELECT d.doc_id,
       d.doc_id IN (SELECT doc_id FROM exact) AS exact_dup,
       d.doc_id IN (SELECT doc_id FROM near) AS near_dup
FROM documents d WHERE d.doc_id % 5 = 0
"""


@register(
    "dedup_against_index",
    _DEDUP_INDEX_ORACLE.replace("{perms}", _minhash_perm_values())
    .replace("{rpb}", str(D.ROWS_PER_BAND)),
    tags=("dedup", "incremental", "lsh"),
)
def q_dedup_against_index(spark, sf):
    """Incremental dedup of a NEW batch (doc_id % 5 == 0) against the
    EXISTING corpus (the rest): exact md5 semi-join + MinHash-LSH band
    join -> Jaccard >= 0.5, per-doc flags — the continuous-ingestion
    dedup shape (operators/dedup.py dedup_against_corpus; the corpus
    band index is persistable for standing use)."""
    docs = load_table(spark, sf, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return D.dedup_against_corpus(batch, corpus, threshold=0.5)


@register(
    "dedup_against_index_warm",
    _DEDUP_INDEX_ORACLE.replace("{perms}", _minhash_perm_values())
    .replace("{rpb}", str(D.ROWS_PER_BAND)),
    tags=("dedup", "incremental", "lsh", "warm"),
)
def q_dedup_against_index_warm(spark, sf):
    """`dedup_against_index` with the corpus side as a persisted
    standing index (`build_dedup_index` + `dedup_with_index`): the
    arriving batch pays only its OWN hashing; the corpus bands/sets/
    digests are read from parquet (band-partitioned candidate join).
    Identical result to the cold entry — same oracle — so the
    cold/warm delta IS the measured amortization."""
    docs = load_table(spark, sf, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    path = _standing_dedup_index(spark, sf, "corpus45")
    return D.dedup_with_index(spark, batch, path, threshold=0.5)


_CORPUS_SHUFFLE_ORACLE = """
WITH h AS (SELECT doc_id,
                  ('0x' || substring(md5('r4' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
           FROM documents)
SELECT doc_id, hh % 8 AS shard,
       row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS pos
FROM h
"""


@register("corpus_shuffle", _CORPUS_SHUFFLE_ORACLE, tags=("sampling", "shuffle"))
def q_corpus_shuffle(spark, sf):
    """Deterministic global corpus shuffle into 8 training shards
    (seeded md5 order — same seed reproduces the epoch order on any
    engine; one skew-free exchange on the shard key)
    (operators/sampling.py deterministic_shuffle)."""
    from hstream_spark.operators.sampling import deterministic_shuffle

    docs = load_table(spark, sf, "documents")
    out = deterministic_shuffle(docs, "doc_id", n_shards=8, seed="r4")
    return out.select(
        "doc_id", "shard", F.col("pos").cast("long").alias("pos")
    )


_TOKEN_BUDGET_ORACLE = """
WITH d AS (SELECT doc_id, lang,
                  len(regexp_split_to_array(trim(text), '\\s+')) AS n
           FROM documents),
t AS (SELECT lang, sum(n) AS total FROM d GROUP BY lang),
r AS (SELECT lang, least(1.0, 3000.0 / total::DOUBLE) AS rate FROM t)
SELECT d.doc_id, d.lang, CAST(d.n AS BIGINT) AS n_tokens
FROM d JOIN r USING (lang)
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
      < CAST(floor(rate * 10000) AS BIGINT)
"""


@register("token_budget_sample", _TOKEN_BUDGET_ORACLE, tags=("sampling", "mixture"))
def q_token_budget_sample(spark, sf):
    """Token-budget mixture sampling: cap each language's expected
    token contribution at 3000 tokens via per-group keep-rates +
    deterministic id-hash filter — the fixed-budget mixture step
    (operators/sampling.py token_budget_sample)."""
    from hstream_spark.operators.sampling import token_budget_sample

    docs = load_table(spark, sf, "documents")
    out = token_budget_sample(
        docs, "lang", 3000, n_tokens=F.size(TX.tokens(F.col("text")))
    )
    return out.select("doc_id", "lang", "n_tokens")


_PPL_BANDS_ORACLE = f"""
WITH xent AS ({_LM_ORACLE}),
scored AS (SELECT x.doc_id, d.lang,
                  x.nll_micro::DOUBLE / x.n_tokens::DOUBLE AS m
           FROM xent x JOIN documents d USING (doc_id)),
b AS (SELECT doc_id, lang,
             CAST(ntile(3) OVER (PARTITION BY lang ORDER BY m, doc_id) AS BIGINT)
               AS ppl_band
      FROM scored)
SELECT doc_id, lang, ppl_band, ppl_band IN (1, 2) AS keep FROM b
"""


@register("perplexity_bands", _PPL_BANDS_ORACLE, tags=("text", "lm", "ccnet"))
def q_perplexity_bands(spark, sf):
    """CCNet-style perplexity banding: per language, NTILE(3) by
    unigram-LM cross-entropy, keep head+middle — the classic LM-based
    quality filter (operators/text.py perplexity_bands)."""
    from hstream_spark.sources.tables import spread

    docs = spread(load_table(spark, sf, "documents"))
    out = TX.perplexity_bands(docs, bands=3, keep_bands=(1, 2))
    return out.select(
        "doc_id", "lang", F.col("ppl_band").cast("long").alias("ppl_band"), "keep"
    )


_LSH_BANDS_CTES = f"""
tha AS (SELECT doc_id, list_transform(toks, t -> {_H31.format(x='t')}) AS th FROM docs),
sh AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(th) - 2), i -> {_SHINGLE3})) AS h
       FROM tha),
shh AS (SELECT DISTINCT doc_id, h FROM sh),
perms AS (SELECT * FROM (VALUES {{perms}}) p(i, a, b)),
mh AS (SELECT doc_id, i, min((h * a + b) % 2147483647) AS mh
       FROM shh, perms GROUP BY doc_id, i),
bands AS (SELECT doc_id, i // {D.ROWS_PER_BAND} AS band,
                 string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_sig
          FROM mh GROUP BY doc_id, i // {D.ROWS_PER_BAND})
""".strip()


@register(
    "lsh_bucket_stats",
    f"""
    WITH docs AS ({_TOKS_CTE}),
    {_LSH_BANDS_CTES},
    buckets AS (SELECT band, band_sig, count(*) AS bucket_size
                FROM bands GROUP BY band, band_sig)
    SELECT band, bucket_size,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(*) * (bucket_size * (bucket_size - 1) // 2) AS BIGINT)
             AS candidate_pairs
    FROM buckets GROUP BY band, bucket_size
    """.replace("{perms}", _minhash_perm_values()),
    tags=("dedup", "lsh", "stats"),
)
def q_lsh_bucket_stats(spark, sf):
    """MinHash-LSH band-bucket population histogram — the skew
    diagnostic run BEFORE the candidate pair join at corpus scale:
    candidate pairs grow as C(bucket, 2), so one boilerplate-collapsed
    hot bucket dominates the shuffle (operators/dedup.py
    lsh_bucket_stats)."""
    return D.lsh_bucket_stats(load_table(spark, sf, "documents")).select(
        F.col("band").cast("long").alias("band"),
        "bucket_size",
        "n_buckets",
        "candidate_pairs",
    )


@register(
    "lsh_recall_eval",
    f"""
    WITH docs AS ({_TOKS_CTE}),
    {_LSH_BANDS_CTES},
    pinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS n_inter
               FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
    jac AS (SELECT doc_a, doc_b,
                   n_inter::DOUBLE / (sa.sz + sb.sz - n_inter)::DOUBLE AS jaccard
            FROM pinter JOIN sz sa ON sa.doc_id = doc_a
                        JOIN sz sb ON sb.doc_id = doc_b),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_sig = b.band_sig
                  AND a.doc_id < b.doc_id),
    scored AS (SELECT j.jaccard,
                      CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
               FROM jac j LEFT JOIN cand c
                 ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b),
    t AS (SELECT unnest([0.3::DOUBLE, 0.5::DOUBLE, 0.7::DOUBLE]) AS threshold),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total_candidates FROM cand)
    SELECT t.threshold,
           CAST(coalesce(sum(CASE WHEN s.jaccard >= t.threshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS true_pairs,
           CAST(coalesce(sum(CASE WHEN s.jaccard >= t.threshold THEN s.hit ELSE 0 END), 0) AS BIGINT) AS hit_pairs,
           CASE WHEN coalesce(sum(CASE WHEN s.jaccard >= t.threshold THEN 1 ELSE 0 END), 0) > 0
                THEN coalesce(sum(CASE WHEN s.jaccard >= t.threshold THEN s.hit ELSE 0 END), 0)::DOUBLE
                     / coalesce(sum(CASE WHEN s.jaccard >= t.threshold THEN 1 ELSE 0 END), 0)::DOUBLE
           END AS recall,
           (SELECT total_candidates FROM tot) AS total_candidates
    FROM t LEFT JOIN scored s ON TRUE
    GROUP BY t.threshold
    """.replace("{perms}", _minhash_perm_values()),
    tags=("dedup", "lsh", "eval"),
)
def q_lsh_recall_eval(spark, sf):
    """LSH parameter-tuning measurement: recall of the band index's
    candidate pairs against exact shingle-Jaccard ground truth, per
    threshold — ground truth from the shingle inverted index
    (equi-join), never all-pairs; at corpus scale this runs on a
    sample (operators/dedup.py lsh_recall_eval)."""
    out = D.lsh_recall_eval(load_table(spark, sf, "documents"))
    return out.select(
        "threshold",
        F.coalesce(F.col("true_pairs"), F.lit(0)).cast("long").alias("true_pairs"),
        F.coalesce(F.col("hit_pairs"), F.lit(0)).cast("long").alias("hit_pairs"),
        "recall",
        "total_candidates",
    )
