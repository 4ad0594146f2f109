"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes one entry per implemented operator family from
SURVEY.md §2, each expressed over the driver's testdata tables so the
DuckDB oracle can verify it.  The KG-heart operators (backlink evidence,
pivot composition, evidence fusion, gap-rule aggregation) run over a
deterministic edge table derived from lineitem — the same derivation is
inlined in the oracle SQL — so the real engine code paths are checked
end-to-end against an independent SQL evaluation.

Float discipline: derived doubles use power-of-two denominators (exact
binary), sums of 0.1-granular scores are rounded to 1 decimal, and ANN
queries compare ranks (not raw cosines), so both engines produce
bit-identical values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wikdict_gen_spark.operators import dedup as D
from wikdict_gen_spark.operators import display as DS
from wikdict_gen_spark.operators import export as E
from wikdict_gen_spark.operators import fuzzy as FZ
from wikdict_gen_spark.operators import graph as G
from wikdict_gen_spark.operators import infer as I
from wikdict_gen_spark.operators import process as P
from wikdict_gen_spark.operators.partitioning import checkpoint, widen_if_narrow
from wikdict_gen_spark.operators import sampling as SM
from wikdict_gen_spark.operators import similarity as S
from wikdict_gen_spark.operators import skew as SK
from wikdict_gen_spark.operators import textstats as T
from wikdict_gen_spark.operators import webclean as WC


# Session memo per (application, sf_dir, key).  It returns the SAME
# DataFrame object for repeated requests, which (a) lets one query
# reference a table twice without tripping Spark's duplicate-CollectMetrics
# check on the widened reads (same-instance reuse is the allowed case),
# (b) keeps repeated builds of a query in one session plan-identical, so
# CacheManager matching of persisted subtrees (pagerank's loop invariants)
# behaves as it did before the widening existed, and (c) computes each
# checkpointed derived input once per session: without the lineage cut
# every re-reference of the derived edge table re-inlines its
# scan+DISTINCT subtree (30 separate lineitem scans in the round-2
# q_gap_rule plan) and every KG query rebuilds backlink/indirect.
_MEMO: dict[tuple, DataFrame] = {}


def clear_memo() -> None:
    """Drop every memoized frame.  Spark's ContextCleaner unpersists
    checkpoint blocks once the last DataFrame reference is gone, so
    releasing the dict entries releases executor storage."""
    _MEMO.clear()


def _memo(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    mk = (app, sf_dir, key)
    df = _MEMO.get(mk)
    if df is None:
        # moving to a different sf_dir in the same application evicts the
        # previous dataset's entries — queries iterate one dataset at a
        # time, so stale entries would only pin dead executor storage
        for stale in [m for m in _MEMO if m[0] == app and m[1] != sf_dir]:
            del _MEMO[stale]
        df = build()
        _MEMO[mk] = df
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # one-row-group parquet (the testdata layout) scans as ONE task; widen
    # before the per-row compute fused onto the scan goes single-threaded
    # (no-op whenever the layout already planned >= cores partitions).
    # Nothing is persisted: the frame is a plan, recomputed where used.
    # The file-name key cannot collide with a derived input's name.
    path = f"{name}.parquet"
    return _memo(spark, sf_dir, path,
                 lambda: widen_if_narrow(spark.read.parquet(f"{sf_dir}/{path}")))


# --- derived edge table (shared by Spark and oracle SQL) ---------------------

# SQL text of the derivation, inlined into every KG oracle query
ALL_TRANS_SQL = """
    SELECT DISTINCT
        'l' || (l_suppkey % 3) AS from_lang,
        'l' || (l_partkey % 3) AS to_lang,
        CASE WHEN l_linenumber % 5 = 0 THEN NULL
             ELSE 'l' || (l_suppkey % 3) || '/w' || (l_partkey % 40) || '__' || (l_orderkey % 2)
        END AS lexentry,
        CASE WHEN l_linenumber % 5 = 0 THEN NULL
             ELSE '0' || (l_linenumber % 4)
        END AS sense_num,
        's' || (l_orderkey % 4) AS sense,
        'w' || (l_partkey % 40) AS from_vocable,
        'w' || (l_orderkey % 40) AS to_vocable,
        (l_suppkey % 100) / CAST(128 AS DOUBLE) AS from_importance,
        (l_partkey % 100) / CAST(128 AS DOUBLE) AS to_importance
    FROM lineitem
    WHERE (l_suppkey % 3) != (l_partkey % 3)
"""


def derived_all_trans(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
        return checkpoint(spark.sql(ALL_TRANS_SQL))

    return _memo(spark, sf_dir, "all_trans", build)


def shared_backlink(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo(
        spark, sf_dir, "backlink",
        lambda: checkpoint(I.backlink_score(derived_all_trans(spark, sf_dir))),
    )


def shared_indirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo(
        spark, sf_dir, "indirect",
        lambda: checkpoint(I.indirect(
            derived_all_trans(spark, sf_dir), shared_backlink(spark, sf_dir)
        )),
    )


# --- KG-heart queries ---------------------------------------------------------

def q_backlink_score(spark, sf_dir):
    return shared_backlink(spark, sf_dir).select(
        "from_lang", "to_lang", "from_vocable", "to_vocable", "back_sense",
        F.round("backlink_score", 9).alias("backlink_score"),
    )


def q_pivot_composition(spark, sf_dir):
    ind = shared_indirect(spark, sf_dir)
    return ind.select(
        "from_lang", "to_lang", "source", "source_detail", "from_vocable",
        "to_vocable", "lexentry", "sense_num", "sense",
        F.round("score", 1).alias("score"),
        "from_importance", "to_importance",
    )


def q_evidence_fusion(spark, sf_dir):
    at = derived_all_trans(spark, sf_dir)
    fused = I.fuse_evidence(
        at, shared_backlink(spark, sf_dir), shared_indirect(spark, sf_dir)
    )
    return fused.select(
        "from_lang", "to_lang", "lexentry", "sense_num", "sense",
        "from_vocable", "to_vocable", "from_importance", "to_importance",
        F.array_join("sources", ",").alias("sources"),
        F.array_join("source_details", ",").alias("source_details"),
        F.round("score", 1).alias("score"),
    )


def q_gap_rule(spark, sf_dir):
    at = derived_all_trans(spark, sf_dir)
    fused = I.fuse_evidence(
        at, shared_backlink(spark, sf_dir), shared_indirect(spark, sf_dir)
    )
    grouped = I.group_inferred(fused)
    return grouped.select(
        "from_lang", "to_lang", "lexentry", "sense_num", "sense", "from_vocable",
        "trans_list", F.round("score", 1).alias("score"),
    )


_ORACLE_KG: dict[str, str] = {}

_ORACLE_KG["q_backlink_score"] = f"""
WITH all_trans AS ({ALL_TRANS_SQL}),
pairs AS (SELECT DISTINCT from_lang, to_lang, from_vocable, to_vocable FROM all_trans),
back_all AS (
    SELECT from_lang AS b_lang, to_lang AS a_lang, from_vocable AS b_voc,
           sense AS back_sense, count(*) AS all_backlinks
    FROM all_trans GROUP BY 1, 2, 3, 4
),
back_good AS (
    SELECT from_lang AS b_lang, to_lang AS a_lang, from_vocable AS b_voc,
           to_vocable AS a_voc, sense AS back_sense, count(*) AS good_backlinks
    FROM all_trans GROUP BY 1, 2, 3, 4, 5
)
SELECT p.from_lang, p.to_lang, p.from_vocable, p.to_vocable, ba.back_sense,
       round(coalesce(bg.good_backlinks, 0) * 1.0 / ba.all_backlinks, 9) AS backlink_score
FROM pairs p
JOIN back_all ba ON ba.b_lang = p.to_lang AND ba.a_lang = p.from_lang
                AND ba.b_voc = p.to_vocable
LEFT JOIN back_good bg ON bg.b_lang = p.to_lang AND bg.a_lang = p.from_lang
                      AND bg.b_voc = p.to_vocable AND bg.a_voc = p.from_vocable
                      AND bg.back_sense IS NOT DISTINCT FROM ba.back_sense
"""

_ORACLE_BACKLINK_CTE = f"""
all_trans AS ({ALL_TRANS_SQL}),
pairs AS (SELECT DISTINCT from_lang, to_lang, from_vocable, to_vocable FROM all_trans),
back_all AS (
    SELECT from_lang AS b_lang, to_lang AS a_lang, from_vocable AS b_voc,
           sense AS back_sense, count(*) AS all_backlinks
    FROM all_trans GROUP BY 1, 2, 3, 4
),
back_good AS (
    SELECT from_lang AS b_lang, to_lang AS a_lang, from_vocable AS b_voc,
           to_vocable AS a_voc, sense AS back_sense, count(*) AS good_backlinks
    FROM all_trans GROUP BY 1, 2, 3, 4, 5
),
backlink AS (
    SELECT p.from_lang, p.to_lang, p.from_vocable, p.to_vocable, ba.back_sense,
           coalesce(bg.good_backlinks, 0) * 1.0 / ba.all_backlinks AS backlink_score
    FROM pairs p
    JOIN back_all ba ON ba.b_lang = p.to_lang AND ba.a_lang = p.from_lang
                    AND ba.b_voc = p.to_vocable
    LEFT JOIN back_good bg ON bg.b_lang = p.to_lang AND bg.a_lang = p.from_lang
                          AND bg.b_voc = p.to_vocable AND bg.a_voc = p.from_vocable
                          AND bg.back_sense IS NOT DISTINCT FROM ba.back_sense
),
indirect AS (
    SELECT t1.from_lang, t2.to_lang, 'indirect' AS source,
        t1.to_lang || CASE WHEN max(b.backlink_score) = 1 THEN '+'
                           WHEN max(b.backlink_score) < 1 THEN '-'
                           ELSE '' END || ':' || min(t1.to_vocable) AS source_detail,
        t1.from_vocable, t2.to_vocable, t1.lexentry, t1.sense_num, t1.sense,
        coalesce(round(max(b.backlink_score * b.backlink_score) * 10, 1), 1.0) AS score,
        max(t1.from_importance) AS from_importance,
        max(t2.to_importance) AS to_importance
    FROM all_trans t1
    JOIN all_trans t2 ON t1.to_lang = t2.from_lang AND t1.to_vocable = t2.from_vocable
    LEFT JOIN backlink b ON b.from_lang = t1.from_lang AND b.to_lang = t1.to_lang
        AND b.from_vocable = t1.from_vocable AND b.to_vocable = t1.to_vocable
        AND b.back_sense IS NOT DISTINCT FROM t2.sense
    GROUP BY t1.from_lang, t2.to_lang, t1.from_vocable, t2.to_vocable, t1.to_lang,
             t1.lexentry, t1.sense_num, t1.sense
),
direct AS (
    SELECT from_lang, to_lang, 'direct' AS source, NULL AS source_detail,
           from_vocable, to_vocable, lexentry, sense_num, sense,
           100.0 AS score, from_importance, to_importance
    FROM all_trans
),
direct_reverse AS (
    SELECT to_lang AS from_lang, from_lang AS to_lang, 'direct_reverse' AS source,
           NULL AS source_detail, to_vocable AS from_vocable, from_vocable AS to_vocable,
           NULL AS lexentry, NULL AS sense_num, NULL AS sense,
           2.0 AS score, from_importance, to_importance
    FROM all_trans
),
with_lexentry AS (
    SELECT * FROM direct UNION ALL SELECT * FROM indirect
),
all_inputs AS (
    SELECT * FROM with_lexentry
    UNION ALL
    SELECT * FROM direct_reverse r
    WHERE NOT EXISTS (
        SELECT 1 FROM with_lexentry l
        WHERE l.from_lang = r.from_lang AND l.to_lang = r.to_lang
          AND l.from_vocable = r.from_vocable AND l.to_vocable = r.to_vocable
    )
),
infer AS (
    SELECT from_lang, to_lang, lexentry, sense_num, nullif(sense, '') AS sense,
        from_vocable, to_vocable, from_importance, to_importance,
        string_agg(source, ',' ORDER BY source) AS sources,
        string_agg(source_detail, ',' ORDER BY source_detail) AS source_details,
        round(sum(score), 1) AS score
    FROM all_inputs
    GROUP BY from_lang, to_lang, lexentry, sense_num, nullif(sense, ''),
             from_vocable, to_vocable, from_importance, to_importance
)
"""

_ORACLE_KG["q_pivot_composition"] = (
    "WITH " + _ORACLE_BACKLINK_CTE +
    """
SELECT from_lang, to_lang, source, source_detail, from_vocable, to_vocable,
       lexentry, sense_num, sense, round(score, 1) AS score,
       from_importance, to_importance
FROM indirect
"""
)

_ORACLE_KG["q_evidence_fusion"] = (
    "WITH " + _ORACLE_BACKLINK_CTE +
    """
SELECT from_lang, to_lang, lexentry, sense_num, sense, from_vocable, to_vocable,
       from_importance, to_importance,
       coalesce(sources, '') AS sources,
       coalesce(source_details, '') AS source_details,
       score
FROM infer
"""
)

_ORACLE_KG["q_gap_rule"] = (
    "WITH " + _ORACLE_BACKLINK_CTE +
    """,
ranked AS (
    SELECT from_lang, to_lang, lexentry, sense_num, sense, from_vocable,
        to_vocable, score,
        row_number() OVER (
            PARTITION BY from_lang, to_lang, lexentry, sense_num, sense, from_vocable
            ORDER BY score DESC, to_vocable
        ) AS rn
    FROM infer
),
accepted AS (
    SELECT *,
        min(CASE WHEN score >= 20.0 * (rn - 1) THEN 1 ELSE 0 END) OVER (
            PARTITION BY from_lang, to_lang, lexentry, sense_num, sense, from_vocable
            ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS ok
    FROM ranked
)
SELECT from_lang, to_lang, lexentry, sense_num, sense, from_vocable,
    coalesce(string_agg(CASE WHEN ok = 1 THEN to_vocable END, ' | ' ORDER BY rn), '')
        AS trans_list,
    round(max(score), 1) AS score
FROM accepted
GROUP BY from_lang, to_lang, lexentry, sense_num, sense, from_vocable
"""
)


# --- relational operator queries over the TPC-H-ish tables ---------------------

def q_entry_assembly(spark, sf_dir):
    """J1 multi-way left join + A1 ordered concat + A3 single-or-null + A4 min-choice."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pos = orders.groupBy("o_custkey").agg(F.min("o_orderpriority").alias("chosen_priority"))
    gender = orders.groupBy("o_custkey").agg(
        F.when(F.min("o_orderstatus") == F.max("o_orderstatus"), F.min("o_orderstatus"))
        .alias("uniform_status")
    )
    lists = orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("o_orderkey").alias("k")))),
                lambda x: x.k.cast("string"),
            ),
            " | ",
        ).alias("order_list")
    )
    return (
        cust.join(pos, cust["c_custkey"] == pos["o_custkey"], "left").drop("o_custkey")
        .join(gender, cust["c_custkey"] == gender["o_custkey"], "left").drop("o_custkey")
        .join(lists, cust["c_custkey"] == lists["o_custkey"], "left").drop("o_custkey")
        .select("c_custkey", "c_name", "chosen_priority", "uniform_status", "order_list")
    )


_ORACLE_KG["q_entry_assembly"] = """
SELECT c_custkey, c_name,
    (SELECT min(o_orderpriority) FROM orders o WHERE o.o_custkey = c.c_custkey) AS chosen_priority,
    (SELECT CASE WHEN min(o_orderstatus) = max(o_orderstatus) THEN min(o_orderstatus) END
     FROM orders o WHERE o.o_custkey = c.c_custkey) AS uniform_status,
    (SELECT string_agg(CAST(o_orderkey AS VARCHAR), ' | ' ORDER BY o_orderkey)
     FROM orders o WHERE o.o_custkey = c.c_custkey) AS order_list
FROM customer c
"""


def q_nullsafe_join(spark, sf_dir):
    """J2: NULL-safe multi-column join against a tiny broadcast dimension."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("rf"),
        F.nullif(F.col("l_linestatus"), F.lit("F")).alias("ls"),
    )
    dim = spark.createDataFrame(
        [("A", None, 1), ("R", "O", 2), (None, None, 3), (None, "O", 4)],
        "rf string, ls string, rank int",
    )
    pred = li["rf"].eqNullSafe(dim["rf"]) & li["ls"].eqNullSafe(dim["ls"])
    return (
        li.join(F.broadcast(dim), pred, "left")
        .select("l_orderkey", "l_linenumber", li["rf"], li["ls"], "rank")
    )


_ORACLE_KG["q_nullsafe_join"] = """
WITH li AS (
    SELECT l_orderkey, l_linenumber,
           nullif(l_returnflag, 'N') AS rf, nullif(l_linestatus, 'F') AS ls
    FROM lineitem
),
dim(rf, ls, rank) AS (VALUES ('A', NULL, 1), ('R', 'O', 2), (NULL, NULL, 3), (NULL, 'O', 4))
SELECT li.l_orderkey, li.l_linenumber, li.rf, li.ls, dim.rank
FROM li LEFT JOIN dim
    ON li.rf IS NOT DISTINCT FROM dim.rf AND li.ls IS NOT DISTINCT FROM dim.ls
"""


def q_anti_join_precedence(spark, sf_dir):
    """J8: 'sense beats gloss' as anti-join + union (O rows beat F rows)."""
    li = _t(spark, sf_dir, "lineitem")
    sense = li.where(F.col("l_linestatus") == "O")
    gloss = li.where(F.col("l_linestatus") == "F")
    keys = ["l_orderkey", "l_partkey"]
    kept = gloss.join(sense.select(*keys).distinct(), keys, "left_anti").unionByName(sense)
    return kept.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("l_linestatus").alias("min_status"),
    )


_ORACLE_KG["q_anti_join_precedence"] = """
WITH sense AS (SELECT * FROM lineitem WHERE l_linestatus = 'O'),
gloss AS (SELECT * FROM lineitem WHERE l_linestatus = 'F'),
kept AS (
    SELECT * FROM gloss g
    WHERE NOT EXISTS (
        SELECT 1 FROM sense s
        WHERE s.l_orderkey = g.l_orderkey AND s.l_partkey = g.l_partkey)
    UNION ALL SELECT * FROM sense
)
SELECT l_orderkey, count(*) AS n_kept, min(l_linestatus) AS min_status
FROM kept GROUP BY l_orderkey
"""


def q_rescue_window(spark, sf_dir):
    """J9/W3: keep good rows, plus all rows of groups having no good row."""
    orders = _t(spark, sf_dir, "orders")
    t = orders.withColumn("is_good", F.col("o_totalprice") >= 150000)
    w = Window.partitionBy("o_custkey")
    t = t.withColumn("any_good", F.max(F.col("is_good").cast("int")).over(w) == 1)
    return (
        t.where(F.col("is_good") | ~F.col("any_good"))
        .select("o_orderkey", "o_custkey", "is_good")
    )


_ORACLE_KG["q_rescue_window"] = """
WITH t AS (
    SELECT o_orderkey, o_custkey, o_totalprice >= 150000 AS is_good FROM orders
)
SELECT o_orderkey, o_custkey, is_good FROM t
WHERE is_good OR o_custkey NOT IN (SELECT o_custkey FROM t WHERE is_good)
"""


def q_topk_mean_norm(spark, sf_dir):
    """A11/J10: normalize scores by the mean of the global top-100 (exact sums)."""
    li = _t(spark, sf_dir, "lineitem")
    score = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("score"))
    w = Window.orderBy(F.col("score").desc(), F.col("l_partkey"))
    top = score.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 100)
    high = top.agg(F.avg("score").alias("high_score"))
    return (
        score.crossJoin(F.broadcast(high))
        .select("l_partkey", "score", (F.col("score") / F.col("high_score")).alias("rel_score"))
    )


_ORACLE_KG["q_topk_mean_norm"] = """
WITH score AS (SELECT l_partkey, sum(l_quantity) AS score FROM lineitem GROUP BY 1),
high AS (
    SELECT avg(score) AS high_score FROM (
        SELECT score FROM score ORDER BY score DESC, l_partkey LIMIT 100)
)
SELECT l_partkey, score, score / high_score AS rel_score FROM score, high
"""


def q_conditional_ratio(spark, sf_dir):
    """A6/A7: conditional counts and ratio-of-counts per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("good"),
        F.count(F.lit(1)).alias("total"),
        (F.count(F.when(F.col("l_discount") > 0.05, 1)).cast("double")
         / F.count(F.lit(1))).alias("ratio"),
    )


_ORACLE_KG["q_conditional_ratio"] = """
SELECT l_returnflag,
    count(CASE WHEN l_discount > 0.05 THEN 1 END) AS good,
    count(*) AS total,
    count(CASE WHEN l_discount > 0.05 THEN 1 END) * 1.0 / count(*) AS ratio
FROM lineitem GROUP BY l_returnflag
"""


def q_adaptive_threshold(spark, sf_dir):
    """A14: scalar aggregate -> clamped threshold, applied as a filter."""
    orders = _t(spark, sf_dir, "orders")
    good = orders.agg(
        F.count(F.when(F.col("o_totalprice") >= 100000, 1)).alias("n_good")
    ).select(
        F.greatest(
            F.lit(0),
            F.least(F.lit(100), F.round((F.col("n_good") - 1000) / 45000.0 * 100).cast("int")),
        ).alias("threshold")
    )
    return orders.crossJoin(F.broadcast(good)).where(
        F.col("o_totalprice") / 5000.0 >= F.col("threshold")
    ).select("o_orderkey", "threshold")


_ORACLE_KG["q_adaptive_threshold"] = """
WITH good AS (
    SELECT greatest(0, least(100,
        CAST(round((count(CASE WHEN o_totalprice >= 100000 THEN 1 END) - 1000)
             / 45000.0 * 100) AS INT))) AS threshold
    FROM orders
)
SELECT o_orderkey, threshold FROM orders, good WHERE o_totalprice / 5000.0 >= threshold
"""


def q_global_topk(spark, sf_dir):
    """W2: global ordered top-k (TakeOrderedAndProject)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


_ORACLE_KG["q_global_topk"] = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_window_rank(spark, sf_dir):
    """W4/W5: per-group best row via row_number."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


_ORACLE_KG["q_window_rank"] = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn = 1
"""


def q_distinct_union(spark, sf_dir):
    """U3/A12: union + distinct of two projections."""
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    a = part.select(F.lower(F.col("p_name")).alias("name"))
    b = supp.select(F.lower(F.col("s_name")).alias("name"))
    return a.union(b).distinct()


_ORACLE_KG["q_distinct_union"] = """
SELECT lower(p_name) AS name FROM part
UNION
SELECT lower(s_name) AS name FROM supplier
"""


def q_surface_guess(spark, sf_dir):
    """X10/X11 string scalars: substr/replace/lower/length/concat."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.replace(F.substr(F.col("p_name"), F.lit(5)), F.lit(" "), F.lit("_")).alias("guess"),
        F.length("p_name").alias("name_len"),
        F.concat(F.lit("part:"), F.lower("p_name")).alias("tagged"),
    )


_ORACLE_KG["q_surface_guess"] = """
SELECT p_partkey,
    replace(substr(p_name, 5), ' ', '_') AS guess,
    length(p_name) AS name_len,
    'part:' || lower(p_name) AS tagged
FROM part
"""


def q_event_windows(spark, sf_dir):
    """Tumbling 1-hour event windows (streaming-shaped agg in batch)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_ORACLE_KG["q_event_windows"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_stream_event_windows(spark, sf_dir):
    """§2.10 under the row-hash oracle: the windowed aggregation runs as a
    REAL streaming query — file source -> watermark -> stateful agg ->
    memory sink, Trigger.AvailableNow — via
    streaming.windows.windowed_event_stats.

    COMPLETE output mode, deliberately: under availableNow, append mode
    withholds every window the final watermark hasn't passed (how many
    depends on micro-batch boundaries), so no batching-invariant oracle
    equality exists for it; complete output equals the batch groupBy
    regardless of batching, which is exactly the property an independent
    DuckDB evaluation can check.  The append/late-data path is asserted
    batch-by-batch in tests/test_streaming_windows.py, where the trigger
    sequence is controlled.
    """
    import re

    from wikdict_gen_spark.streaming import windows as W

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file-stream source requires its path to be a DIRECTORY (it
    # becomes the partition-discovery basePath); events.parquet is a
    # single file, so expose it through a per-(app, sf_dir) temp dir via
    # symlink — no data copied, deterministic contents
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(src):
        stream_path = src  # already a directory dataset: stream it directly
    else:
        link_dir = os.path.join(
            tempfile.gettempdir(),
            "stream_src_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_"),
        )
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
        stream_path = link_dir
    stream = spark.readStream.schema(schema).parquet(stream_path)
    # watermarks require TIMESTAMP (ltz); the table stores ntz.  The
    # session tz is pinned to UTC (session.py), so ntz -> ltz -> window
    # -> ntz round-trips to exactly date_trunc('hour', ts)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = W.windowed_event_stats(stream).withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz")
    )
    name = "stream_ev_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_ORACLE_KG["q_stream_event_windows"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       min(user_id) AS min_user, max(user_id) AS max_user,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
"""


# --- training-data-pipeline queries over documents/embeddings -------------------

def q_exact_dedup(spark, sf_dir):
    return D.exact_dedup(_t(spark, sf_dir, "documents")).select(
        "content_hash", "doc_id", "n_dups"
    )


_ORACLE_KG["q_exact_dedup"] = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS doc_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_minhash_signature(spark, sf_dir):
    sh = D.shingles(_t(spark, sf_dir, "documents"), k=3)
    # compact=False pins the md5-hex oracle-portable shape (the engine
    # default is the compact xxhash64 production shape)
    sig = D.minhash_signatures(sh, num_hashes=4, compact=False)
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"mh{i}") for i in range(4)],
    )


_ORACLE_KG["q_minhash_signature"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
)
SELECT doc_id,
    min(md5('seed0:' || shingle)) AS mh0,
    min(md5('seed1:' || shingle)) AS mh1,
    min(md5('seed2:' || shingle)) AS mh2,
    min(md5('seed3:' || shingle)) AS mh3
FROM grams GROUP BY doc_id
"""


def q_minhash_inline(spark, sf_dir):
    """The shuffle-free signature path (dedup.minhash_signatures_inline):
    same algorithm as q_minhash_signature but computed row-locally with
    array HOFs — no explode, no distinct shuffle, no groupBy.  Shares
    q_minhash_signature's oracle SQL verbatim: the two plans must agree
    value-for-value."""
    sig = D.minhash_signatures_inline(
        _t(spark, sf_dir, "documents"), k=3, num_hashes=4, compact=False
    )
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"mh{i}") for i in range(4)],
    )


_ORACLE_KG["q_minhash_inline"] = _ORACLE_KG["q_minhash_signature"]


def q_token_count(spark, sf_dir):
    return T.token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_subword_est"
    )


_ORACLE_KG["q_token_count"] = """
SELECT doc_id,
    len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tokens,
    CAST(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0) AS BIGINT) AS n_subword_est
FROM documents
"""


def q_quality_score(spark, sf_dir):
    return T.quality_score(_t(spark, sf_dir, "documents")).select("doc_id", "quality")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (textstats.repetition_stats):
    duplicate-line fractions, most-common-bigram fraction, longest
    same-token run — the standard web-corpus boilerplate filters, all
    JVM column arithmetic.  Integer-ratio doubles are IEEE-exact in both
    engines, so the row sits under the full hash compare."""
    return T.repetition_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "dup_line_frac", "dup_line_char_frac",
        "top_bigram_frac", "max_word_run_frac",
    )


_ORACLE_KG["q_repetition"] = """
WITH base AS (
    SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                    l -> l <> '') AS lines
    FROM documents
),
linestats AS (
    SELECT doc_id,
        len(lines) AS n_lines,
        len(list_distinct(lines)) AS n_dlines,
        coalesce(list_sum(list_transform(lines, l -> length(l))), 0) AS line_chars,
        coalesce(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0)
            AS dline_chars
    FROM base
),
tokrows AS (
    SELECT doc_id, i, toks[i] AS tok, len(toks) AS n_tok
    FROM base, unnest(range(1, len(toks) + 1)) AS u(i)
),
runs AS (
    SELECT doc_id, max(cnt) AS max_run, any_value(n_tok) AS n_tok
    FROM (
        SELECT doc_id, tok, n_tok, count(*) AS cnt
        FROM (
            SELECT doc_id, tok, n_tok,
                   i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
            FROM tokrows
        )
        GROUP BY doc_id, tok, n_tok, grp
    )
    GROUP BY doc_id
),
bigrams AS (
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
    FROM base, unnest(range(1, len(toks))) AS u(i)
    WHERE len(toks) >= 2
),
bgstats AS (
    SELECT doc_id, max(cnt) AS top_bg, sum(cnt) AS n_bg
    FROM (SELECT doc_id, bg, count(*) AS cnt FROM bigrams GROUP BY doc_id, bg)
    GROUP BY doc_id
)
SELECT l.doc_id,
    CASE WHEN l.n_lines > 0
         THEN (l.n_lines - l.n_dlines) * 1.0 / l.n_lines ELSE 0.0 END
        AS dup_line_frac,
    CASE WHEN l.line_chars > 0
         THEN (l.line_chars - l.dline_chars) * 1.0 / l.line_chars ELSE 0.0 END
        AS dup_line_char_frac,
    CASE WHEN b.n_bg > 0 THEN b.top_bg * 1.0 / b.n_bg ELSE 0.0 END
        AS top_bigram_frac,
    CASE WHEN r.n_tok >= 2 THEN r.max_run * 1.0 / r.n_tok ELSE 0.0 END
        AS max_word_run_frac
FROM linestats l
LEFT JOIN runs r USING (doc_id)
LEFT JOIN bgstats b USING (doc_id)
"""


def _stopword_sql_list() -> str:
    all_words = sorted({w for ws in T.STOPWORDS.values() for w in ws})
    return ", ".join(f"'{w}'" for w in all_words)


_ORACLE_KG["q_quality_score"] = f"""
WITH t AS (
    SELECT doc_id, text,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
    FROM documents
),
m AS (
    SELECT doc_id,
        n_chars >= 20 AND n_chars <= 100000 AS len_ok,
        punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
        len(list_filter(toks, x -> x IN ({_stopword_sql_list()}))) * 1.0
            / greatest(len(toks), 1) AS stop_ratio,
        n_chars * 1.0 / greatest(len(toks), 1) AS mean_word
    FROM t
)
SELECT doc_id,
    (CASE WHEN len_ok THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
     + CASE WHEN punct_ratio <= 0.1 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
     + CASE WHEN stop_ratio >= 0.05 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
     + CASE WHEN mean_word >= 3.0 AND mean_word <= 12.0
            THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS quality
FROM m
"""


def q_fingerprint(spark, sf_dir):
    return T.fingerprint(_t(spark, sf_dir, "documents"), k=5).select(
        "doc_id", "fp_exact", "fp_winnow"
    )


_ORACLE_KG["q_fingerprint"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
)
SELECT doc_id,
    md5(array_to_string(t, ' ')) AS fp_exact,
    (SELECT min(md5(array_to_string(t[i:i+4], ' ')))
     FROM unnest(range(1, greatest(len(t) - 5, 0) + 2)) AS u(i)) AS fp_winnow
FROM toks
"""


def q_language_id(spark, sf_dir):
    return T.language_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


def _langid_sql() -> str:
    """Argmax via packed integer hits*K+idx — matches Spark's array_max over
    struct(hits, lang): highest hits wins, ties go to the highest lang code."""
    langs = sorted(T.STOPWORDS)  # idx order == lang code order
    n = len(langs)
    cases = []
    for lang, words in sorted(T.STOPWORDS.items()):
        wl = ", ".join(f"'{w}'" for w in words)
        cases.append(f"len(list_filter(toks, x -> x IN ({wl}))) AS hits_{lang}")
    hits = ", ".join(cases)
    packed = "greatest(" + ", ".join(
        f"hits_{lang} * {n} + {i}" for i, lang in enumerate(langs)
    ) + ")"
    mapping = " ".join(f"WHEN {i} THEN '{lang}'" for i, lang in enumerate(langs))
    return f"""
WITH t AS (
    SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
    FROM documents
),
h AS (SELECT doc_id, {hits} FROM t),
b AS (SELECT doc_id, {packed} AS m FROM h)
SELECT doc_id,
    CASE WHEN m // {n} > 0 THEN (CASE m % {n} {mapping} END) ELSE 'und' END AS lang_pred
FROM b
"""


_ORACLE_KG["q_language_id"] = _langid_sql()


def q_fuzzy_search(spark, sf_dir):
    """FTS4 spellfix analog: levenshtein top-3 over first tokens of p_name,
    queried with one-char-deleted variants (deterministic typos)."""
    part = _t(spark, sf_dir, "part")
    tok = F.split(F.lower(F.col("p_name")), " ").getItem(0)
    words = part.select(tok.alias("word")).groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("rank")
    )
    queries = (
        part.where(F.col("p_partkey") <= 40)
        .select(F.substr(tok, F.lit(2)).alias("query"))
        .distinct()
    )
    return FZ.fuzzy_search(words, queries, max_dist=2, k=3).select(
        "query", "word", "dist", "rank", "rn"
    )


_ORACLE_KG["q_fuzzy_search"] = """
WITH words AS (
    SELECT string_split(lower(p_name), ' ')[1] AS word,
           CAST(count(*) AS DOUBLE) AS rank
    FROM part GROUP BY 1
),
queries AS (
    SELECT DISTINCT substr(string_split(lower(p_name), ' ')[1], 2) AS query
    FROM part WHERE p_partkey <= 40
),
scored AS (
    SELECT q.query, w.word, levenshtein(w.word, q.query) AS dist, w.rank
    FROM words w, queries q
    WHERE abs(length(w.word) - length(q.query)) <= 2
      AND levenshtein(w.word, q.query) <= 2
)
SELECT query, word, dist, rank, rn FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query ORDER BY dist, rank DESC, word) AS rn
    FROM scored
) WHERE rn <= 3
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact shingle-set Jaccard for a deterministic candidate-pair list
    (dedup.ngram_jaccard).  jaccard = n_inter/(n_a+n_b-n_inter): integer
    operands, one double division — bit-identical across engines."""
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    pairs = spark.sql(
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a "
        "JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 3 = 0"
    )
    return D.ngram_jaccard(docs, pairs, k=3).select(
        "id_a", "id_b", "jaccard"
    )


_ORACLE_KG["q_ngram_jaccard"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a
    JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 3 = 0
),
inter AS (
    SELECT p.id_a, p.id_b, count(*) AS n_inter
    FROM pairs p
    JOIN grams ga ON ga.doc_id = p.id_a
    JOIN grams gb ON gb.doc_id = p.id_b AND gb.shingle = ga.shingle
    GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
"""


def q_near_dup_clusters(spark, sf_dir):
    """Transitive near-dup clustering (dedup.near_dup_clusters): LSH
    candidates -> Jaccard-verified edges -> connected components ->
    every doc labeled with its component-min cluster id (singletons map
    to themselves).  The DuckDB oracle re-derives the whole chain
    independently, closing the components with a recursive CTE seeded
    by ALL doc ids."""
    return D.near_dup_clusters(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.5, num_hashes=4, bands=2, k=3, compact=False,
    )


_ORACLE_KG["q_near_dup_clusters"] = """
WITH RECURSIVE
toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
),
sig AS (
    SELECT doc_id,
        min(md5('seed0:' || shingle)) AS mh0,
        min(md5('seed1:' || shingle)) AS mh1,
        min(md5('seed2:' || shingle)) AS mh2,
        min(md5('seed3:' || shingle)) AS mh3
    FROM grams GROUP BY doc_id
),
banded AS (
    SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bsig FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bsig FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
inter AS (
    SELECT p.id_a, p.id_b, count(*) AS n_inter
    FROM cand p
    JOIN grams ga ON ga.doc_id = p.id_a
    JOIN grams gb ON gb.doc_id = p.id_b AND gb.shingle = ga.shingle
    GROUP BY 1, 2
),
verified AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) >= 0.5
),
sym AS (
    SELECT id_a AS u, id_b AS v FROM verified
    UNION
    SELECT id_b AS u, id_a AS v FROM verified
),
reach(node, r) AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT s.u AS node, reach.r FROM sym s JOIN reach ON reach.node = s.v
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def q_simhash(spark, sf_dir):
    """SimHash fingerprints (dedup.simhash, 16 md5-nibble-parity bits) —
    integer bit sums, sign -> bit string; fully portable."""
    return D.simhash(_t(spark, sf_dir, "documents"), bits=16).select(
        "doc_id", "simhash"
    )


def _simhash_sql(bits: int = 16) -> str:
    bit_exprs = ", ".join(
        f"sum(CASE WHEN strpos('13579bdf', substring(hh, {i + 1}, 1)) > 0 "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    sig = " || ".join(
        f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(bits)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(
        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
    FROM documents
),
h AS (SELECT doc_id, md5(tok) AS hh FROM toks),
sums AS (SELECT doc_id, {bit_exprs} FROM h GROUP BY doc_id)
SELECT doc_id, {sig} AS simhash FROM sums
"""


_ORACLE_KG["q_simhash"] = _simhash_sql()


def q_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs (dedup.lsh_candidate_pairs over the
    md5-portable signature shape): docs sharing any band signature, as
    distinct (id_a < id_b)."""
    sh = D.shingles(_t(spark, sf_dir, "documents"), k=3)
    sig = D.minhash_signatures(sh, num_hashes=4, compact=False)
    return D.lsh_candidate_pairs(sig, num_hashes=4, bands=2)


_ORACLE_KG["q_lsh_pairs"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
),
sig AS (
    SELECT doc_id,
        min(md5('seed0:' || shingle)) AS mh0,
        min(md5('seed1:' || shingle)) AS mh1,
        min(md5('seed2:' || shingle)) AS mh2,
        min(md5('seed3:' || shingle)) AS mh3
    FROM grams GROUP BY doc_id
),
banded AS (
    SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bsig FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bsig FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
WHERE a.doc_id < b.doc_id
"""


def q_lsh_capped(spark, sf_dir):
    """LSH candidate pairs with the mega-bucket clique collapse
    (max_bucket_size=2): buckets above the cap emit (bucket-min, member)
    pairs only — the scale guard for boilerplate buckets whose all-pairs
    output AQE's input-bytes skew heuristic cannot split.  At sf0.01 the
    two size-3 buckets take the collapsed path, every size<=2 bucket the
    exact path, so the oracle covers both branches."""
    sh = D.shingles(_t(spark, sf_dir, "documents"), k=3)
    sig = D.minhash_signatures(sh, num_hashes=4, compact=False)
    return D.lsh_candidate_pairs(sig, num_hashes=4, bands=2, max_bucket_size=2)


_ORACLE_KG["q_lsh_capped"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
),
sig AS (
    SELECT doc_id,
        min(md5('seed0:' || shingle)) AS mh0,
        min(md5('seed1:' || shingle)) AS mh1,
        min(md5('seed2:' || shingle)) AS mh2,
        min(md5('seed3:' || shingle)) AS mh3
    FROM grams GROUP BY doc_id
),
banded AS (
    SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bsig FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bsig FROM sig
),
stats AS (
    SELECT doc_id, band, bsig,
           count(*) OVER (PARTITION BY band, bsig) AS n,
           min(doc_id) OVER (PARTITION BY band, bsig) AS mn
    FROM banded
),
small AS (SELECT doc_id, band, bsig FROM stats WHERE n <= 2),
big AS (
    SELECT mn AS id_a, doc_id AS id_b FROM stats
    WHERE n > 2 AND doc_id <> mn
)
SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM small a JOIN small b ON a.band = b.band AND a.bsig = b.bsig
    WHERE a.doc_id < b.doc_id
    UNION ALL
    SELECT id_a, id_b FROM big
)
"""


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the exact (oracle-comparable)
    path of dedup.embedding_near_dups; the LSH bucket path is tested for
    the subset + planted-dup properties in tests/test_dataops.py.

    The 0.3665 threshold sits in a measured 6.6e-4-wide gap of the sf0.01
    cosine distribution, so ulp-level engine differences cannot flip a
    pair across the gate; the projection drops the raw cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(emb, threshold=0.3665, method="exact")


_ORACLE_KG["q_embed_near_dup"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.3665
"""


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 (rank output only — float-order safe)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(emb, queries, k=5).select("query_id", "vec_id", "rank")


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with exhaustive probing (n_probes = n_centroids): every
    cell is scanned, so the result must equal the exact top-k — which
    puts the whole IVF path (deterministic quantizer training, Arrow
    matmul cell assignment, cell join, ranking) under the independent
    brute-force oracle.  The approximate (few-probe) regime is covered by
    recall measurement (ANN_RECALL.json) and tests, where an oracle
    equality cannot exist by construction."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(
        emb, queries, n_centroids=16, n_probes=16, k=5
    ).select("query_id", "vec_id", "rank")


_ANN_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
    FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT q.query_id, e.vec_id,
        list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qvec)
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
    FROM embeddings e, q
)
SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= 5
"""

_ORACLE_KG["q_ann_topk"] = _ANN_ORACLE
# exhaustive-probe IVF must reproduce the exact ranking — same oracle
_ORACLE_KG["q_ivf_topk"] = _ANN_ORACLE


# --- serving/display + process operator queries (A10/A16/J11/A15/FTS1-3) --------
#
# Each derivation below is a SQL snippet shared verbatim between the Spark
# side (spark.sql over registered views) and the DuckDB oracle CTE, so the
# only thing under test is the engine operator itself.

_DUP_TRANS_SQL = """
    SELECT
        'l' || (l_suppkey % 3) AS from_lang,
        'l' || (l_partkey % 3) AS to_lang,
        '0' || (l_linenumber % 3) AS sense_num,
        's' || (l_orderkey % 5) AS sense,
        'w' || (l_partkey % 40) AS written_rep,
        'w' || (l_orderkey % 40) AS trans,
        'L' || (l_suppkey % 200) AS lexentry,
        (l_suppkey % 100) / CAST(128 AS DOUBLE) AS from_importance,
        (l_partkey % 100) / CAST(128 AS DOUBLE) AS to_importance
    FROM lineitem
"""


def q_dup_collapse(spark, sf_dir):
    """A10: duplicate-lexentry collapse (min lexentry + max importances +
    sorted lexentry inventory) via process.collapse_duplicate_lexentries."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t = spark.sql(_DUP_TRANS_SQL)
    out = P.collapse_duplicate_lexentries(
        t, ["from_lang", "to_lang", "sense_num", "sense", "written_rep", "trans"]
    )
    return out.select(
        "from_lang", "to_lang", "sense_num", "sense", "written_rep", "trans",
        "lexentry", "from_importance", "to_importance",
        F.array_join("all_lexentries", ",").alias("all_lexentries"),
    )


_ORACLE_KG["q_dup_collapse"] = f"""
WITH t AS ({_DUP_TRANS_SQL})
SELECT from_lang, to_lang, sense_num, sense, written_rep, trans,
    min(lexentry) AS lexentry,
    max(from_importance) AS from_importance,
    max(to_importance) AS to_importance,
    string_agg(lexentry, ',' ORDER BY lexentry) AS all_lexentries
FROM t GROUP BY 1, 2, 3, 4, 5, 6
"""


_SAL_ENTRY_SQL = """
    SELECT DISTINCT
        'L' || p_partkey AS lexentry,
        'xxx/w' || (p_partkey % 40) AS vocable,
        'l' || (p_partkey % 3) AS lang,
        CASE p_partkey % 7 WHEN 0 THEN 'abbreviation' WHEN 1 THEN 'letter'
             WHEN 2 THEN NULL ELSE 'noun' END AS part_of_speech
    FROM part
"""

_SAL_TRANS_SQL = """
    SELECT 'L' || l_partkey AS lexentry,
           'l' || (l_suppkey % 3) AS to_lang,
           'w' || (l_orderkey % 40) AS trans
    FROM lineitem
"""

_SAL_NYM_SQL = """
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'synonym' ELSE 'antonym' END AS nym,
           'l' || (o_custkey % 3) AS lang,
           'w' || (o_orderkey % 40) AS t_rep,
           'L' || (o_custkey % 50) AS f
    FROM orders
"""


def q_salience(spark, sf_dir):
    """A16/F6: sqrt+sqrt node salience with the excluded-pos gate, via
    process.make_importance (rel_score normalization is covered separately
    by q_topk_mean_norm; score itself is sqrt(int)+sqrt(int) — exact in
    both engines)."""
    for name in ("part", "lineitem", "orders"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    imp = P.make_importance(
        spark.sql(_SAL_ENTRY_SQL), spark.sql(_SAL_TRANS_SQL), spark.sql(_SAL_NYM_SQL)
    )
    return imp.select(
        "lang", "vocable", "written_rep_guess", F.round("score", 9).alias("score")
    )


_ORACLE_KG["q_salience"] = f"""
WITH entry AS ({_SAL_ENTRY_SQL}),
trans AS ({_SAL_TRANS_SQL}),
nym AS ({_SAL_NYM_SQL}),
eligible AS (
    SELECT * FROM entry
    WHERE part_of_speech IS NULL OR part_of_speech NOT IN ('abbreviation', 'letter')
),
trans_counts AS (
    SELECT e.lang, e.vocable, count(DISTINCT t.to_lang || '|' || t.trans) AS n_trans
    FROM trans t JOIN eligible e USING (lexentry)
    GROUP BY 1, 2
),
syn_counts AS (
    SELECT lang, t_rep AS guess, count(DISTINCT f) AS n_syn
    FROM nym WHERE nym = 'synonym' GROUP BY 1, 2
),
vocables AS (
    SELECT DISTINCT lang, vocable,
           replace(substr(vocable, 5), '_', ' ') AS written_rep_guess
    FROM eligible
)
SELECT v.lang, v.vocable, v.written_rep_guess,
    round(sqrt(coalesce(tc.n_trans, 0)) + sqrt(coalesce(sc.n_syn, 0)), 9) AS score
FROM vocables v
LEFT JOIN trans_counts tc ON tc.lang = v.lang AND tc.vocable = v.vocable
LEFT JOIN syn_counts sc ON sc.lang = v.lang AND sc.guess = v.written_rep_guess
"""


_FORM_SQL = """
    SELECT 'L' || (l_partkey % 200) AS lexentry,
           'f' || (l_orderkey % 30) AS other_written,
           CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_linenumber % 4 END AS rank
    FROM lineitem
"""


def q_display_forms(spark, sf_dir):
    """J11/W5: rank-ordered ' / '-joined display forms via
    display.ranked_display_forms."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return DS.ranked_display_forms(spark.sql(_FORM_SQL))


_ORACLE_KG["q_display_forms"] = f"""
WITH form AS ({_FORM_SQL}),
best AS (
    SELECT lexentry, other_written, min(rank) AS rank FROM form
    WHERE rank IS NOT NULL AND other_written IS NOT NULL GROUP BY 1, 2
),
per_rank AS (
    SELECT lexentry, rank,
           string_agg(other_written, ' / ' ORDER BY other_written) AS forms
    FROM best GROUP BY 1, 2
)
SELECT lexentry, string_agg(forms, ', ' ORDER BY rank) AS display_forms
FROM per_rank GROUP BY 1
"""


_NOUN_FORM_SQL = """
    SELECT 'L' || l_orderkey AS lexentry,
           'f' || (l_partkey % 20) AS other_written,
           CASE WHEN l_suppkey % 5 = 0 THEN 'verb' ELSE 'noun' END AS pos,
           CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_linenumber % 3 END AS rank
    FROM lineitem
"""


def q_singular_plural(spark, sf_dir):
    """A15: HAVING count(DISTINCT)=1 uniqueness gates on each side of the
    singular x plural pairing, via display.singular_plural_pairs."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return DS.singular_plural_pairs(spark.sql(_NOUN_FORM_SQL))


_ORACLE_KG["q_singular_plural"] = f"""
WITH form AS ({_NOUN_FORM_SQL}),
nouns AS (SELECT * FROM form WHERE pos = 'noun' AND rank IS NOT NULL),
sing AS (
    SELECT lexentry, min(other_written) AS singular FROM nouns WHERE rank = 1
    GROUP BY 1 HAVING count(DISTINCT other_written) = 1
),
plur AS (
    SELECT lexentry, min(other_written) AS plural FROM nouns WHERE rank = 2
    GROUP BY 1 HAVING count(DISTINCT other_written) = 1
)
SELECT s.lexentry, s.singular, p.plural FROM sing s JOIN plur p USING (lexentry)
"""


_TG_SQL = """
    SELECT 'L' || p_partkey AS lexentry,
           lower(p_name) AS written_rep,
           (p_partkey % 100) / CAST(128 AS DOUBLE) AS importance
    FROM part
"""

_TOKFORM_SQL = """
    SELECT DISTINCT 'L' || l_partkey AS lexentry,
           'form' || (l_orderkey % 50) AS other_written
    FROM lineitem
"""


def q_token_index(spark, sf_dir):
    """FTS1/FTS2: inverted token index with headword + inflected-form rows
    (0.5 form-importance discount) via display.inverted_token_index.
    Uses the unstemmed (unicode61-analog) tokenizer path; the Porter path
    is golden-tested in tests/test_display_export.py."""
    for name in ("part", "lineitem"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    # _TOKFORM_SQL distincts 6M ('L'||partkey, 'form'||orderkey%50) STRING
    # pairs; the string images are injective in the (bigint, bigint) pair,
    # so distinct-then-concat is row-identical and the exchange carries 16
    # bytes/row instead of ~35 (guide: narrower types through the shuffle).
    # The oracle keeps the original string-distinct formulation.
    form = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("__pk"),
                (F.col("l_orderkey") % 50).alias("__fk"))
        .distinct()
        .select(
            F.concat(F.lit("L"), F.col("__pk")).alias("lexentry"),
            F.concat(F.lit("form"), F.col("__fk")).alias("other_written"),
        )
    )
    idx = DS.inverted_token_index(
        spark.sql(_TG_SQL), form=form, from_lang="de"
    )
    return idx.select("token", "written_rep", "rank")


_ORACLE_KG["q_token_index"] = f"""
WITH tg AS ({_TG_SQL}),
form AS ({_TOKFORM_SQL}),
head AS (
    SELECT written_rep, written_rep AS match_source,
           CAST(1.0 AS DOUBLE) AS fi, importance
    FROM tg
),
frows AS (
    SELECT t.written_rep, f.other_written AS match_source,
           CAST(0.5 AS DOUBLE) AS fi, t.importance
    FROM form f
    JOIN (SELECT DISTINCT lexentry, written_rep, importance FROM tg) t USING (lexentry)
    WHERE f.other_written IS NOT NULL
),
rows_all AS (SELECT * FROM head UNION ALL SELECT * FROM frows),
toks AS (
    SELECT unnest(string_split(lower(match_source), ' ')) AS token,
           written_rep, fi, importance
    FROM rows_all
)
SELECT token, written_rep, max(fi * (importance + 1.0)) AS rank
FROM toks WHERE token != '' GROUP BY 1, 2
"""


_IDIOM_TG_SQL = """
    SELECT lower(p_name) AS written_rep, lower(p_type) AS trans_list FROM part
"""


def q_idiom_keys(spark, sf_dir):
    """FTS3: multi-word headword index via display.idiom_keys."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return DS.idiom_keys(spark.sql(_IDIOM_TG_SQL))


_ORACLE_KG["q_idiom_keys"] = f"""
WITH tg AS ({_IDIOM_TG_SQL}),
d AS (
    SELECT DISTINCT written_rep, trans_list FROM tg
    WHERE contains(written_rep, ' ')
)
SELECT written_rep,
       string_agg(trans_list, ' | ' ORDER BY trans_list) AS translations
FROM d GROUP BY 1
"""


_SENSE_BASE_SQL = """
    SELECT 'L' || (p_partkey % 50) AS lexentry,
           'xx' AS to_lang,
           't' || p_partkey AS trans,
           '0' || (p_partkey % 4) AS sense_num,
           lower(p_name) AS sense
    FROM part WHERE p_partkey % 3 != 0
    UNION ALL
    SELECT 'L' || (p_partkey % 50) AS lexentry,
           'xx' AS to_lang,
           'g' || p_partkey AS trans,
           NULL AS sense_num,
           lower(p_name) AS sense
    FROM part WHERE p_partkey % 3 = 0
"""


def q_sense_match(spark, sf_dir):
    """S4 generalized sense attribution: IDF-weighted token-Jaccard match of
    gloss-only rows against the lexentry's sense inventory
    (sense_match.match_glosses).

    Rank-only oracle (the q_ann_topk precedent): the compared projection is
    the attribution decision — (lexentry, to_lang, trans, gloss,
    matched_sense_num) — not the raw score, whose last ulp is engine-
    dependent (libm ln + summation order).  round_digits=6 makes the
    ranking/threshold decisions themselves cross-engine deterministic; the
    raw score path is golden-tested in tests/test_sense_match.py.
    """
    from wikdict_gen_spark.operators import sense_match as SM

    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    base = spark.sql(_SENSE_BASE_SQL)
    return SM.match_glosses(base, round_digits=6).select(
        "lexentry", "to_lang", "trans", "gloss", "matched_sense_num"
    )


# The oracle mirrors sense_match.match_glosses step for step; every sum is
# over the same idf multiset in both engines, and both sides round to 6
# decimals before the rank and the >= MIN_SCORE gate, so the compared
# attribution decision is bit-stable.  Note sense_tok keeps duplicate
# (lexentry, sense_num, token) rows arising from distinct sense texts of
# the same numbered sense — the engine explodes without a cross-sense
# dedup, and the weighted sums must see the same multiplicities.
_ORACLE_KG["q_sense_match"] = f"""
WITH base AS ({_SENSE_BASE_SQL}),
inv AS (
    SELECT DISTINCT lexentry, sense_num, sense FROM base
    WHERE sense_num IS NOT NULL AND sense IS NOT NULL
),
glosses AS (
    SELECT DISTINCT lexentry, to_lang, trans, sense AS gloss FROM base
    WHERE sense_num IS NULL AND sense IS NOT NULL
),
sense_tok AS (
    SELECT lexentry, sense_num, tok AS token
    FROM inv, unnest(list_filter(list_distinct(
        string_split_regex(lower(regexp_replace(sense, '[^\\p{{L}}\\p{{Nd}} ]', ' ', 'g')), '\\s+')),
        x -> length(x) > 1)) AS u(tok)
),
gloss_tok AS (
    SELECT lexentry, to_lang, trans, tok AS token
    FROM glosses, unnest(list_filter(list_distinct(
        string_split_regex(lower(regexp_replace(gloss, '[^\\p{{L}}\\p{{Nd}} ]', ' ', 'g')), '\\s+')),
        x -> length(x) > 1)) AS u(tok)
),
nd AS (SELECT count(*) AS n FROM inv),
idf AS (
    SELECT token, ln((nd.n + 1.0) / (df + 1)) + 1.0 AS idf
    FROM (
        SELECT token, count(DISTINCT lexentry || '#' || sense_num) AS df
        FROM sense_tok GROUP BY 1
    ) d, nd
    WHERE ln((nd.n + 1.0) / (df + 1)) + 1.0 > 0.0
),
sense_w AS (SELECT s.lexentry, s.sense_num, s.token, i.idf FROM sense_tok s JOIN idf i USING (token)),
gloss_w AS (SELECT g.lexentry, g.to_lang, g.trans, g.token, i.idf FROM gloss_tok g JOIN idf i USING (token)),
s_norm AS (SELECT lexentry, sense_num, sum(idf) AS s_norm FROM sense_w GROUP BY 1, 2),
g_norm AS (SELECT lexentry, to_lang, trans, sum(idf) AS g_norm FROM gloss_w GROUP BY 1, 2, 3),
inter AS (
    SELECT g.lexentry, g.to_lang, g.trans, s.sense_num, sum(g.idf) AS inter
    FROM gloss_w g JOIN sense_w s ON g.lexentry = s.lexentry AND g.token = s.token
    GROUP BY 1, 2, 3, 4
),
scored AS (
    SELECT i.lexentry, i.to_lang, i.trans, i.sense_num,
           round(i.inter / (sn.s_norm + gn.g_norm - i.inter), 6) AS ms
    FROM inter i
    JOIN s_norm sn ON sn.lexentry = i.lexentry AND sn.sense_num = i.sense_num
    JOIN g_norm gn ON gn.lexentry = i.lexentry AND gn.to_lang = i.to_lang AND gn.trans = i.trans
),
best AS (
    SELECT lexentry, to_lang, trans, sense_num AS matched_sense_num
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lexentry, to_lang, trans ORDER BY ms DESC, sense_num) AS rn
        FROM scored
    ) WHERE rn = 1 AND ms >= 0.2
)
SELECT b.lexentry, b.to_lang, b.trans, g.gloss, b.matched_sense_num
FROM best b JOIN glosses g USING (lexentry, to_lang, trans)
"""


_PAIR_TRANS_SQL = """
    SELECT 'l' || (l_suppkey % 3) AS from_lang,
           'l' || (l_partkey % 3) AS to_lang,
           (l_suppkey % 100) / CAST(128 AS DOUBLE) AS translation_score
    FROM lineitem
    WHERE (l_suppkey % 3) != (l_partkey % 3)
"""

_PAIR_FORM_SQL = """
    SELECT 'l' || (o_custkey % 3) AS lang FROM orders WHERE o_orderkey % 2 = 0
"""


def q_pair_stats(spark, sf_dir):
    """Lang-pair statistics (ref wdweb.py make_lang_pair) via
    export.lang_pair_stats: translations count + rounded score sum per
    pair, plus the per-from_lang form count."""
    for name in ("lineitem", "orders"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return E.lang_pair_stats(spark.sql(_PAIR_TRANS_SQL), form=spark.sql(_PAIR_FORM_SQL))


_ORACLE_KG["q_pair_stats"] = f"""
WITH t AS ({_PAIR_TRANS_SQL}),
f AS ({_PAIR_FORM_SQL}),
fc AS (SELECT lang AS from_lang, count(*) AS forms FROM f GROUP BY 1)
SELECT t.from_lang, t.to_lang, count(*) AS translations,
       CAST(round(sum(translation_score)) AS BIGINT) AS score,
       coalesce(max(fc.forms), 0) AS forms
FROM t LEFT JOIN fc USING (from_lang)
GROUP BY 1, 2
"""


_LINK_FACT_SQL = """
    SELECT 'l' || (l_suppkey % 3) AS to_lang,
           CASE WHEN l_partkey % 3 = 0 THEN 'hot'
                ELSE 'w' || (l_partkey % 40) END AS trans,
           l_orderkey, l_linenumber,
           (l_suppkey % 100) / CAST(128 AS DOUBLE) AS from_importance
    FROM lineitem
"""

# link dictionary: unique per (to_lang, trans); some fact keys deliberately
# have no dim row (-> MISSING_IMPORTANCE floor), the 'hot' key is covered
_LINK_DIM_SQL = """
    SELECT to_lang, trans, max(to_rel_score) AS to_rel_score FROM (
        SELECT 'l' || (p_partkey % 3) AS to_lang,
               'w' || (p_partkey % 50) AS trans,
               (p_partkey % 64) / CAST(128 AS DOUBLE) AS to_rel_score
        FROM part WHERE p_partkey % 5 != 0
        UNION ALL
        SELECT DISTINCT 'l' || (n_nationkey % 3) AS to_lang, 'hot' AS trans,
               CAST(0.5 AS DOUBLE) AS to_rel_score
        FROM nation
    ) GROUP BY 1, 2
"""


def q_link_join(spark, sf_dir):
    """J3 entity-link join: skew_aware_join (hot keys -> broadcast path,
    tail -> shuffled path, union) + the MISSING_IMPORTANCE floor — the
    make_translation link shape (process.py:257-277).  A third of the fact
    rows share one hot surface form per lang; threshold=1000 forces the
    split at sf0.01 so the hot/cold union itself is under oracle test."""
    for name in ("lineitem", "part", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    fact = spark.sql(_LINK_FACT_SQL)
    dim = spark.sql(_LINK_DIM_SQL)
    out = SK.skew_aware_join(fact, dim, ["to_lang", "trans"], how="left", threshold=1000)
    return out.select(
        "l_orderkey", "l_linenumber", "to_lang", "trans", "from_importance",
        F.coalesce(F.col("to_rel_score"), F.lit(0.001)).alias("to_importance"),
    )


_ORACLE_KG["q_link_join"] = f"""
WITH fact AS ({_LINK_FACT_SQL}),
dim AS ({_LINK_DIM_SQL})
SELECT f.l_orderkey, f.l_linenumber, f.to_lang, f.trans, f.from_importance,
       coalesce(d.to_rel_score, 0.001) AS to_importance
FROM fact f LEFT JOIN dim d USING (to_lang, trans)
"""


# F8 interactive search (ref run.py:10-28) as a batch operator.  The tg
# derivation carries the full serving row the reference's wdweb
# `translation` table exposes; queries are single lowercase tokens.
_SEARCH_TG_SQL = """
    SELECT 'L' || p_partkey AS lexentry,
           lower(p_name) AS written_rep,
           (p_partkey % 100) / CAST(128 AS DOUBLE) AS importance,
           CASE WHEN p_partkey % 4 = 0 THEN NULL
                ELSE '0' || (p_partkey % 4) END AS min_sense_num,
           lower(p_type) AS sense_list,
           lower(p_brand) AS trans_list,
           (p_partkey % 64) / CAST(128 AS DOUBLE) AS translation_score
    FROM part
"""

_SEARCH_Q_SQL = """
    SELECT p_partkey AS query_id, split_part(lower(p_name), ' ', 2) AS term
    FROM part WHERE p_partkey <= 20
"""


def q_search(spark, sf_dir):
    """F8 search entry point: token-index MATCH -> translation join -> the
    reference's ORDER BY + LIMIT as a per-query window
    (display.search_translations over display.inverted_token_index)."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    tg = spark.sql(_SEARCH_TG_SQL)
    idx = DS.inverted_token_index(tg, form=None, from_lang="de")
    qs = spark.sql(_SEARCH_Q_SQL)
    return DS.search_translations(tg, idx, qs, from_lang="de")


_ORACLE_KG["q_search"] = f"""
WITH tg AS ({_SEARCH_TG_SQL}),
qs AS ({_SEARCH_Q_SQL}),
toks AS (
    SELECT unnest(string_split(written_rep, ' ')) AS token, written_rep
    FROM tg
),
idx AS (SELECT DISTINCT token, written_rep FROM toks WHERE token != ''),
matched AS (
    SELECT DISTINCT q.query_id, q.term, i.written_rep
    FROM qs q JOIN idx i ON i.token = q.term
),
joined AS (
    SELECT m.query_id, m.term, t.*
    FROM matched m JOIN tg t USING (written_rep)
),
ranked AS (
    SELECT query_id, lexentry, written_rep, sense_list, trans_list,
        row_number() OVER (PARTITION BY query_id ORDER BY
            (CASE WHEN contains(written_rep, term) THEN 1 ELSE 0 END) DESC,
            length(written_rep), lexentry, coalesce(min_sense_num, '99'),
            importance * translation_score DESC, written_rep, trans_list) AS rn
    FROM joined
)
SELECT query_id, lexentry, written_rep, sense_list, trans_list, rn
FROM ranked WHERE rn <= 100
"""


def q_clean_corpus(spark, sf_dir):
    """Full training-corpus prep composition (corpus.clean_corpus):
    quality gate -> exact dedup -> LSH near-dup removal, one oracle row
    over the whole chain (md5-portable MinHash shape)."""
    from wikdict_gen_spark.operators import corpus as C

    return C.clean_corpus(
        _t(spark, sf_dir, "documents"),
        quality_min=0.5, jaccard_threshold=0.5,
        num_hashes=4, bands=2, k=3, compact=False,
    )


_ORACLE_KG["q_clean_corpus"] = f"""
WITH q AS ({_ORACLE_KG["q_quality_score"]}),
good AS (
    SELECT d.doc_id, d.text, q.quality
    FROM documents d JOIN q USING (doc_id)
    WHERE q.quality >= 0.5
),
h AS (
    SELECT doc_id, text, quality,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
    FROM good
),
canon AS (
    SELECT h.* FROM h
    JOIN (SELECT content_hash, min(doc_id) AS doc_id FROM h GROUP BY 1) m
      USING (content_hash, doc_id)
),
toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM canon
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 3, 0) + 2)) AS u(i)
),
sig AS (
    SELECT doc_id,
        min(md5('seed0:' || shingle)) AS mh0,
        min(md5('seed1:' || shingle)) AS mh1,
        min(md5('seed2:' || shingle)) AS mh2,
        min(md5('seed3:' || shingle)) AS mh3
    FROM grams GROUP BY doc_id
),
banded AS (
    SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bsig FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bsig FROM sig
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
inter AS (
    SELECT p.id_a, p.id_b, count(*) AS n_inter
    FROM pairs p
    JOIN grams ga ON ga.doc_id = p.id_a
    JOIN grams gb ON gb.doc_id = p.id_b AND gb.shingle = ga.shingle
    GROUP BY 1, 2
),
drops AS (
    SELECT DISTINCT i.id_b AS doc_id
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) >= 0.5
)
SELECT c.doc_id, c.quality, c.content_hash
FROM canon c WHERE c.doc_id NOT IN (SELECT doc_id FROM drops)
"""


# Anki export (ref anki_csv.sh): rel_importance values deliberately
# collide (mod 97 over 2000 partkeys) so the written_rep tiebreak that
# makes the LIMIT membership deterministic is itself under test.
_ANKI_ST_SQL = """
    SELECT lower(p_name) || '#' || p_partkey AS written_rep,
           lower(p_brand) || ' | t' || p_partkey AS trans_list,
           CAST(p_partkey % 150 AS DOUBLE) AS max_score,
           (p_partkey % 97) / CAST(16 AS DOUBLE) AS rel_importance
    FROM part
"""


def q_anki(spark, sf_dir):
    """Anki CSV semantics (export.anki_export): fixed max_score >= 100
    gate, rel_importance DESC top-k, ' | ' -> ', ' trans_list rewrite."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return E.anki_export(spark.sql(_ANKI_ST_SQL))


_ORACLE_KG["q_anki"] = f"""
WITH st AS ({_ANKI_ST_SQL})
SELECT written_rep, replace(trans_list, ' | ', ', ') AS trans_list
FROM st WHERE max_score >= 100
ORDER BY rel_importance DESC, written_rep LIMIT 100
"""


# TEI phase-1 relational assembly (tei.tei_entry_rows): adaptive-gated
# join + ordered nested senses + inflected-form lists.  The nested arrays
# project to deterministic strings for the hash compare; the XML render
# phase stays pytest-golden (tests/test_tei.py).  trans_list carries the
# unique t<partkey> suffix so no group has sort-key ties (max_by would be
# nondeterministic on ties).
_TEI_TG_SQL = """
    SELECT 'de' AS from_lang, 'en' AS to_lang,
           'L' || (p_partkey % 80) AS lexentry,
           'w' || (p_partkey % 50) AS written_rep,
           lower(p_brand) || ' | t' || p_partkey AS trans_list,
           CASE WHEN p_partkey % 5 = 0 THEN NULL
                ELSE '0' || (p_partkey % 5) END AS min_sense_num,
           CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE lower(p_type) END AS sense_list,
           CAST(p_partkey % 150 AS DOUBLE) AS score
    FROM part
"""

_TEI_ENTRY_SQL = """
    SELECT DISTINCT 'L' || (p_partkey % 80) AS lexentry,
           CASE (p_partkey % 80) % 4 WHEN 0 THEN 'noun' WHEN 1 THEN 'verb'
                WHEN 2 THEN 'adjective' ELSE NULL END AS part_of_speech,
           CASE (p_partkey % 80) % 3 WHEN 0 THEN 'feminine'
                WHEN 1 THEN 'masculine' ELSE NULL END AS gender,
           CASE WHEN (p_partkey % 80) % 2 = 0 THEN NULL
                ELSE 'pr' || (p_partkey % 80) || ' | ps' || (p_partkey % 80)
           END AS pronun_str
    FROM part
"""

_TEI_FORM_SQL = """
    SELECT 'L' || (l_partkey % 80) AS lexentry,
           'f' || (l_orderkey % 30) AS other_written,
           CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_linenumber % 4 END AS rank
    FROM lineitem
"""


def q_tei_entries(spark, sf_dir):
    """S9 phase 1 (tei.tei_entry_rows): per-headword grouping with
    deterministically ordered senses and pre-aggregated inflected forms,
    projected to strings (the array/struct nesting itself is exercised;
    only its repr is hashed)."""
    from wikdict_gen_spark.operators import tei as TEI

    for name in ("part", "lineitem"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    tg = spark.sql(_TEI_TG_SQL)
    ent = (
        spark.sql(_TEI_ENTRY_SQL)
        .withColumn("pronun_list", F.split("pronun_str", r" \| "))
        .drop("pronun_str")
    )
    form = spark.sql(_TEI_FORM_SQL)
    rows = TEI.tei_entry_rows(tg, ent, form, min_score=75.0)
    return rows.select(
        "from_lang", "to_lang", "written_rep", "part_of_speech", "gender",
        "pronun_str",
        F.array_join(
            F.transform(
                "senses",
                lambda x: F.concat_ws(
                    "~",
                    F.coalesce(x.sense_list, F.lit("<null>")),
                    F.coalesce(x.trans_list, F.lit("<null>")),
                ),
            ),
            " || ",
        ).alias("senses_repr"),
        F.coalesce(
            F.array_join(
                F.transform(
                    "inflected_forms",
                    lambda x: F.concat_ws(
                        ":",
                        x.other_written,
                        F.coalesce(x.rank.cast("string"), F.lit("-")),
                    ),
                ),
                " || ",
            ),
            F.lit(""),
        ).alias("forms_repr"),
    )


_ORACLE_KG["q_tei_entries"] = f"""
WITH tg AS ({_TEI_TG_SQL}),
e AS ({_TEI_ENTRY_SQL}),
f AS ({_TEI_FORM_SQL}),
gated AS (SELECT * FROM tg WHERE score >= 75.0),
joined AS (
    SELECT g.*, e.part_of_speech, e.gender, e.pronun_str
    FROM gated g JOIN e USING (lexentry)
),
grouped AS (
    SELECT from_lang, to_lang, written_rep, part_of_speech, gender, pronun_str,
        string_agg(
            coalesce(sense_list, '<null>') || '~' || coalesce(trans_list, '<null>'),
            ' || '
            ORDER BY (min_sense_num IS NOT NULL), min_sense_num,
                     coalesce(sense_list, ''), coalesce(trans_list, '')
        ) AS senses_repr,
        (array_agg(lexentry
            ORDER BY (min_sense_num IS NOT NULL) DESC, min_sense_num DESC,
                     coalesce(sense_list, '') DESC, coalesce(trans_list, '') DESC
        ))[1] AS form_lexentry
    FROM joined
    GROUP BY 1, 2, 3, 4, 5, 6
),
best AS (
    SELECT lexentry, other_written, min(rank) AS rank
    FROM f WHERE other_written IS NOT NULL
    GROUP BY 1, 2
),
fagg AS (
    SELECT lexentry,
        string_agg(
            other_written || ':' || coalesce(CAST(rank AS VARCHAR), '-'),
            ' || '
            ORDER BY (rank IS NOT NULL), rank, other_written
        ) AS forms_repr
    FROM best GROUP BY 1
)
SELECT g.from_lang, g.to_lang, g.written_rep, g.part_of_speech, g.gender,
       g.pronun_str, g.senses_repr,
       coalesce(fa.forms_repr, '') AS forms_repr
FROM grouped g LEFT JOIN fagg fa ON fa.lexentry = g.form_lexentry
"""


# Iterative connected components vs an independent reachability oracle.
# The derived graph is deliberately small (300 nodes) so DuckDB's
# recursive-CTE transitive closure stays polynomial; the Spark side runs
# the REAL large-star/small-star loop (driver iteration, per-round
# localCheckpoint, checksum convergence) — the algorithms share nothing.
_CC_EDGES_SQL = """
    SELECT DISTINCT 'n' || (l_partkey % 300) AS u,
           'n' || (l_orderkey % 300) AS v
    FROM lineitem
    WHERE l_linenumber = 1 AND l_partkey % 11 < 2
      AND (l_partkey % 300) != (l_orderkey % 300)
"""


def q_connected_components(spark, sf_dir):
    """S7 canonicalization: alternating star contraction to the component
    minimum (canonicalize.connected_components) — every mentioned node
    maps to the lexically smallest node of its component."""
    from wikdict_gen_spark.operators import canonicalize as CC

    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    edges = spark.sql(_CC_EDGES_SQL)
    return CC.connected_components(edges)


_ORACLE_KG["q_connected_components"] = f"""
WITH RECURSIVE
edges AS ({_CC_EDGES_SQL}),
sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM sym),
reach(node, r) AS (
    SELECT node, node AS r FROM nodes
    UNION
    SELECT s.u AS node, reach.r FROM sym s JOIN reach ON reach.node = s.v
)
SELECT node, min(r) AS canonical FROM reach GROUP BY node
"""


# --- web-corpus cleaning / sampling / graph (engine-added families) ----------

# Deterministic multi-line web corpus derived from `documents`: per-source
# boilerplate (20 sources x 25 docs -> each source line repeats in 25 docs)
# plus one corpus-wide banner, around the unique body line.  The same SQL
# runs in Spark (temp view) and DuckDB, so the derivation cannot drift.
_WEB_PAGES_SQL = """
    SELECT doc_id, lang, source,
           'nav home about ' || source || chr(10) ||
           'cookie consent required' || chr(10) ||
           text || chr(10) ||
           'copyright ' || source || ' all rights reserved' AS text
    FROM documents
"""


def q_line_dedup(spark, sf_dir):
    """Cross-document boilerplate-line removal (webclean.strip_boilerplate
    _lines): lines appearing in >= 4 distinct documents are stripped, the
    survivors reassembled in original order.  The C4/CCNet line-level
    clean pass; the boilerplate inventory is a broadcast anti-join."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    pages = spark.sql(_WEB_PAGES_SQL)
    return WC.strip_boilerplate_lines(pages, min_docs=4).select(
        "doc_id", "text", "n_lines_kept", "n_lines_removed"
    )


_ORACLE_KG["q_line_dedup"] = f"""
WITH pages AS ({_WEB_PAGES_SQL}),
split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pages),
lines AS (
    SELECT doc_id, i AS pos, trim(ls[i]) AS line
    FROM split, unnest(range(1, len(ls) + 1)) AS u(i)
    WHERE trim(ls[i]) <> ''
),
freq AS (
    SELECT md5(line) AS h FROM lines GROUP BY md5(line)
    HAVING count(DISTINCT doc_id) >= 4
),
kept AS (SELECT doc_id, pos, line FROM lines
         WHERE md5(line) NOT IN (SELECT h FROM freq)),
tot AS (SELECT doc_id, count(*) AS n_total FROM lines GROUP BY doc_id)
SELECT p.doc_id,
       coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
       count(k.line) AS n_lines_kept,
       coalesce(any_value(t.n_total), 0) - count(k.line) AS n_lines_removed
FROM pages p
LEFT JOIN kept k ON k.doc_id = p.doc_id
LEFT JOIN tot t ON t.doc_id = p.doc_id
GROUP BY p.doc_id
"""


# PII planted deterministically (the synthetic corpus has none): every doc
# gains an email, every third an IPv4, every fifth a phone — same SQL both
# engines, so the scrub operator is exercised on known ground truth.
_PII_TEXT_SQL = """
    SELECT doc_id,
           text || ' contact admin' || CAST(doc_id % 50 AS STRING) ||
           '@site' || CAST(doc_id % 7 AS STRING) || '.org' ||
           CASE WHEN doc_id % 3 = 0
                THEN ' server 10.' || CAST(doc_id % 200 AS STRING) ||
                     '.0.' || CAST(doc_id % 250 AS STRING)
                ELSE '' END ||
           CASE WHEN doc_id % 5 = 0
                THEN ' call +49 30 ' || CAST(1000 + doc_id % 9000 AS STRING) ||
                     ' ' || CAST(100 + doc_id % 900 AS STRING)
                ELSE '' END AS text
    FROM documents
"""


def q_pii_scrub(spark, sf_dir):
    """Typed PII redaction (webclean.pii_scrub): email -> ipv4 -> phone in
    that order with per-kind counts, pure regexp column arithmetic.  The
    regexes are RE2-compatible so DuckDB replays them byte-for-byte."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    pii = spark.sql(_PII_TEXT_SQL)
    return WC.pii_scrub(pii).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "text_scrubbed"
    )


_ORACLE_KG["q_pii_scrub"] = f"""
WITH pii AS ({_PII_TEXT_SQL}),
s1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '{WC.PII_PATTERNS["email"]}')) AS n_email,
              regexp_replace(text, '{WC.PII_PATTERNS["email"]}', '<EMAIL>', 'g') AS t1
       FROM pii),
s2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(t1, '{WC.PII_PATTERNS["ipv4"]}')) AS n_ipv4,
              regexp_replace(t1, '{WC.PII_PATTERNS["ipv4"]}', '<IP>', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
              len(regexp_extract_all(t2, '{WC.PII_PATTERNS["phone"]}')) AS n_phone,
              regexp_replace(t2, '{WC.PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS t3
       FROM s2)
SELECT doc_id, n_email, n_ipv4, n_phone, t3 AS text_scrubbed FROM s3
"""


# Link graph for PageRank/degree: src keys mod 80, dst keys mod 120, so
# nodes n80..n119 are dst-only — a real dangling-mass population, which is
# the PageRank term a trivial fixture never exercises.
_PR_EDGES_SQL = """
    SELECT 'n' || CAST(l_partkey % 80 AS STRING) AS src,
           'n' || CAST(l_orderkey % 120 AS STRING) AS dst
    FROM lineitem
    WHERE l_linenumber <= 2
      AND (l_partkey % 80) != (l_orderkey % 120)
"""


def _pr_iter_sql(k: int) -> str:
    p = f"pr{k - 1}"
    return f"""
c{k} AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS contrib
         FROM edges e JOIN {p} p ON p.node = e.src JOIN deg d ON d.src = e.src
         GROUP BY e.dst),
g{k} AS (SELECT coalesce(sum(pr), CAST(0 AS DOUBLE)) AS dangling
         FROM {p} WHERE node NOT IN (SELECT src FROM deg)),
pr{k} AS (SELECT n.node,
                 (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                 + CAST(0.85 AS DOUBLE)
                   * (coalesce(c{k}.contrib, CAST(0 AS DOUBLE))
                      + g{k}.dangling / nn.n) AS pr
          FROM nodes n CROSS JOIN nn CROSS JOIN g{k}
          LEFT JOIN c{k} ON c{k}.node = n.node)"""


def q_pagerank(spark, sf_dir):
    """graph.pagerank, 3 power iterations with dangling redistribution
    over the lineitem-derived link graph.  One shuffle per iteration
    (join on src + partial-agg on dst), lineage cut per step; the oracle
    re-derives every iteration as an independent chained CTE."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    edges = spark.sql(_PR_EDGES_SQL)
    pr = G.pagerank(edges, iterations=3, damping=0.85)
    return pr.select("node", F.round("pagerank", 7).alias("pagerank"))


_ORACLE_KG["q_pagerank"] = f"""
WITH edges AS ({_PR_EDGES_SQL}),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
{",".join(_pr_iter_sql(k) for k in (1, 2, 3))}
SELECT node, round(pr, 7) AS pagerank FROM pr3
"""


def q_degree_stats(spark, sf_dir):
    """graph.degree_stats: full-outer union of the out/in degree
    aggregations over the same link graph."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return G.degree_stats(spark.sql(_PR_EDGES_SQL))


_ORACLE_KG["q_degree_stats"] = f"""
WITH edges AS ({_PR_EDGES_SQL}),
o AS (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY src),
i AS (SELECT dst AS node, count(*) AS in_deg FROM edges GROUP BY dst)
SELECT coalesce(o.node, i.node) AS node,
       coalesce(out_deg, 0) AS out_deg,
       coalesce(in_deg, 0) AS in_deg
FROM o FULL OUTER JOIN i ON o.node = i.node
"""


# Training-mixture spec for the stratified-sampling row; es is deliberately
# absent so the default_rate=0 path is part of the verified surface.
_MIX_RATES = {"de": 1.0, "en": 0.5, "fr": 0.25, "zh": 0.125}


def q_stratified_sample(spark, sf_dir):
    """sampling.stratified_sample: deterministic per-language hash-gate
    mixture — keep iff md5('mix:'||doc_id)[:16] < per-stratum threshold.
    Zero shuffle (one pushed-down predicate); reproducible from (rates,
    salt) alone, which is what lets DuckDB replay the exact sample."""
    docs = _t(spark, sf_dir, "documents")
    return SM.stratified_sample(
        docs, _MIX_RATES, stratum_col="lang", key_col="doc_id", salt="mix"
    ).select("doc_id", "lang")


_ORACLE_KG["q_stratified_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE substring(md5('mix:' || CAST(doc_id AS STRING)), 1, 16) <
      CASE lang
          WHEN 'de' THEN '{SM.rate_to_threshold(1.0)}'
          WHEN 'en' THEN '{SM.rate_to_threshold(0.5)}'
          WHEN 'fr' THEN '{SM.rate_to_threshold(0.25)}'
          WHEN 'zh' THEN '{SM.rate_to_threshold(0.125)}'
          ELSE '{SM.rate_to_threshold(0.0)}' END
"""


def q_collocations(spark, sf_dir):
    """textstats.collocations: corpus-level bigram PMI (two partial-agg
    counts + two broadcast unigram joins).  Integer counts are exact in
    both engines; the single ln() is rounded to 7 to absorb libm's 1-ulp
    latitude."""
    out = T.collocations(_t(spark, sf_dir, "documents"), min_count=30)
    return out.select(
        "w1", "w2", "n_pair", "n_w1", "n_w2",
        F.round("pmi", 7).alias("pmi"),
    )


_ORACLE_KG["q_collocations"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
uni AS (SELECT u.w, count(*) AS n_w FROM toks, unnest(t) AS u(w) GROUP BY u.w),
big AS (
    SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS n_pair
    FROM toks, unnest(range(1, len(t))) AS u(i)
    GROUP BY t[i], t[i + 1]
    HAVING count(*) >= 30
),
nt AS (SELECT sum(n_w) AS n_tokens FROM uni),
nb AS (SELECT sum(greatest(len(t) - 1, 0)) AS n_bigrams FROM toks)
SELECT b.w1, b.w2, b.n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
       round(ln((CAST(b.n_pair AS DOUBLE) / nb.n_bigrams) /
                ((CAST(u1.n_w AS DOUBLE) / nt.n_tokens)
                 * (CAST(u2.n_w AS DOUBLE) / nt.n_tokens))), 7) AS pmi
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN nt CROSS JOIN nb
"""


def q_incremental_dedup(spark, sf_dir):
    """dedup.incremental_dedup: the resumable-ingest shape — even doc_ids
    are the committed corpus (its hash table is the only state), odd ids
    the arriving batch; survivors are batch-canonical AND history-new."""
    docs = _t(spark, sf_dir, "documents")
    seen = D.exact_dedup(docs.where(F.col("doc_id") % 2 == 0)).select("content_hash")
    batch = docs.where(F.col("doc_id") % 2 == 1)
    return D.incremental_dedup(batch, seen).select("doc_id", "content_hash")


_ORACLE_KG["q_incremental_dedup"] = """
WITH nrm AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
    FROM documents
),
seen AS (SELECT DISTINCT content_hash FROM nrm WHERE doc_id % 2 = 0),
batch AS (SELECT content_hash, min(doc_id) AS doc_id
          FROM nrm WHERE doc_id % 2 = 1 GROUP BY content_hash)
SELECT doc_id, content_hash FROM batch
WHERE content_hash NOT IN (SELECT content_hash FROM seen)
"""


def q_sessionize(spark, sf_dir):
    """sessions.session_stats: gap-based sessionization (4h inactivity
    threshold) — one user-key shuffle, then window lag -> boundary flag ->
    running index; aggregation reuses the same partitioning.  (ts,
    event_id) ordering makes the index reproducible under timestamp
    ties."""
    from wikdict_gen_spark.operators import sessions as SE

    return SE.session_stats(
        _t(spark, sf_dir, "events"), gap_seconds=14400
    ).select(
        "user_id", "session_idx", "n_events",
        "session_start", "session_end", "duration_s",
    )


_ORACLE_KG["q_sessionize"] = """
WITH ordered AS (
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR date_diff('second', prev_ts, ts) > 14400
                THEN 1 ELSE 0 END AS new_s
    FROM ordered
),
sess AS (
    SELECT user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - 1 AS BIGINT) AS session_idx
    FROM flagged
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       date_diff('second', min(ts), max(ts)) AS duration_s
FROM sess GROUP BY user_id, session_idx
"""


# Query terms for the BM25 row: mid-frequency tokens of the synthetic vocab
_BM25_TERMS = ["join", "scan", "window"]


def q_bm25(spark, sf_dir):
    """ranking.bm25_scores: probabilistic relevance over the documents
    corpus (Lucene shifted-idf form, k1=1.2 b=0.75).  The postings
    shuffle carries only query-term hits; corpus stats are broadcast
    scalars."""
    from wikdict_gen_spark.operators import ranking as R

    out = R.bm25_scores(_t(spark, sf_dir, "documents"), _BM25_TERMS)
    return out.select("doc_id", F.round("score", 7).alias("score"))


_ORACLE_KG["q_bm25"] = f"""
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
base AS (SELECT doc_id, u.term, len(t) AS dl FROM toks, unnest(t) AS u(term)),
tf AS (
    SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
    FROM base
    WHERE term IN ({", ".join("'" + t + "'" for t in sorted(set(_BM25_TERMS)))})
    GROUP BY doc_id, term
),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl
          FROM toks),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       round(sum(
           ln((stats.n_docs - dfq.df + CAST(0.5 AS DOUBLE))
              / (dfq.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
           * CAST(tf.tf AS DOUBLE)
           * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(tf.tf AS DOUBLE)
              + CAST(1.2 AS DOUBLE)
                * (CAST(0.25 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * tf.dl / stats.avgdl))
       ), 7) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
"""


def q_dup_spans(spark, sf_dir):
    """dedup.duplicated_span_stats: exact-substring duplication signal —
    per document, the fraction of its 5-token spans that recur in >= 2
    documents corpus-wide.  One rolling-gram pass (checkpointed), gram-
    hash frequency shuffle, broadcast inventory, doc-keyed rollup.
    dup_span_frac is one exact bigint/bigint double division, so no
    rounding is needed for the hash compare."""
    return D.duplicated_span_stats(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2
    )


_ORACLE_KG["q_dup_spans"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, md5(array_to_string(t[i:i+4], ' ')) AS gh
    FROM toks, unnest(range(1, len(t) - 5 + 2)) AS u(i)
    WHERE len(t) >= 5
),
freq AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
per AS (
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN gh IN (SELECT gh FROM freq) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup
    FROM grams GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_spans, 0) AS n_spans,
       coalesce(n_dup, 0) AS n_dup_spans,
       CASE WHEN coalesce(n_spans, 0) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(n_dup AS DOUBLE) / n_spans END AS dup_span_frac
FROM documents d LEFT JOIN per USING (doc_id)
"""


# Deterministic synthetic URL table over `documents` — ONE SQL text run by
# BOTH engines (temp view on the Spark side, inlined CTE in the DuckDB
# oracle), per the shared-derivation discipline.  Five URL shapes covering
# every canonicalization rule: upper-cased scheme/host + default port +
# tracking params + fragment (case 0), default http port + mixed tracking
# (1), fragment on a file path (2), tracking-only query that must drop its
# '?' (3), and a bare root that is a genuine per-source duplicate (4).
_URL_SQL = """
SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/Docs/'
                  || CAST(doc_id AS STRING) || '/?utm_source=feed&page='
                  || CAST(doc_id % 7 AS STRING) || '&fbclid=abc123#frag'
      WHEN 1 THEN 'http://' || source || '.example.com:80/docs/'
                  || CAST(doc_id AS STRING) || '?page='
                  || CAST(doc_id % 7 AS STRING) || '&utm_medium=email&ref=home'
      WHEN 2 THEN 'https://' || source || '.example.com/docs/'
                  || CAST(doc_id AS STRING) || '/index.html#section-2'
      WHEN 3 THEN 'https://cdn.' || source || '.example.com/assets/'
                  || CAST(doc_id AS STRING) || '?gclid=xyz'
      ELSE 'https://' || source || '.example.com/'
    END AS url
FROM documents
"""

# Independent DuckDB re-derivation of webclean.canonicalize_urls (regex
# parse -> lowercase scheme/host -> default-port strip -> tracking-param
# filter -> path/trailing-slash normalization), reused by both URL rows.
_URL_CANON_CTES = f"""
urls AS ({_URL_SQL}),
ub AS (SELECT doc_id, trim(url) AS turl,
              regexp_replace(trim(url), '#.*$', '') AS u FROM urls),
up AS (
  SELECT doc_id, turl,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
        AS hostport,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
  FROM ub
),
uh AS (
  SELECT *, CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                 ELSE hostport END AS host
  FROM up
),
uq AS (
  SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path,
         CASE WHEN strpos(rest, '?') > 0
              THEN regexp_extract(rest, '\\?(.*)$', 1) ELSE '' END AS query
  FROM uh
),
ucanon AS (
  SELECT doc_id, turl, scheme, host,
    CASE WHEN scheme = '' THEN turl
         ELSE scheme || '://' || host
              || (CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                       ELSE regexp_replace(path, '/+$', '') END)
              || (CASE WHEN kept = '' THEN '' ELSE '?' || kept END)
    END AS canonical_url
  FROM (
    -- coalesce: DuckDB's array_to_string on an EMPTY list is NULL where
    -- Spark's array_join is '' — without it every no-query url goes NULL
    SELECT *, coalesce(array_to_string(list_filter(string_split(query, '&'),
        x -> NOT (starts_with(regexp_extract(x, '^([^=]*)', 1), 'utm_')
                  OR regexp_extract(x, '^([^=]*)', 1)
                     IN ('gclid', 'fbclid', 'msclkid', 'mc_eid', 'ref')
                  OR x = '')), '&'), '') AS kept
    FROM uq
  )
)
"""


def q_url_canon(spark, sf_dir):
    """webclean.canonicalize_urls: RFC-3986-style URL normalization —
    fragment strip, scheme/host lowercase, default-port drop, tracking-
    param removal (order-preserving), trailing-slash/empty-path rules.
    Pure fused string algebra, zero shuffle; the oracle re-derives every
    rule independently in DuckDB over the same synthetic URL table."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    urls = spark.sql(_URL_SQL)
    return WC.canonicalize_urls(urls).select("doc_id", "canonical_url", "host")


_ORACLE_KG["q_url_canon"] = f"""
WITH {_URL_CANON_CTES}
SELECT doc_id, canonical_url, host FROM ucanon
"""


def q_host_stats(spark, sf_dir):
    """webclean.host_stats: per-host crawl rollup over canonical URLs —
    page count, distinct resources, URL-duplicate rate (the mass a
    url-dedup pass removes; the root-path shape in the synthetic table
    plants genuine per-host duplicates).  One combiner shuffle on host;
    dup_rate exact bigint/bigint."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    urls = spark.sql(_URL_SQL)
    return WC.host_stats(urls)


_ORACLE_KG["q_host_stats"] = f"""
WITH {_URL_CANON_CTES}
SELECT host,
    count(*) AS n_pages,
    count(DISTINCT canonical_url) AS n_urls,
    CAST(count(*) - count(DISTINCT canonical_url) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS dup_rate
FROM ucanon GROUP BY host
"""


def q_source_stats(spark, sf_dir):
    """corpus_stats.source_stats: exact per-(source, lang) corpus health
    rollup — doc count, distinct-content count, duplicate rate, mean
    quality, mean chars.  All divisions are exact bigint/bigint (quality
    sums are quarter-increments, exact in binary), so every column sits
    under the hash compare.  The sketch twin (corpus_sketches, HLL++ +
    KLL quantiles, one combiner pass) is pinned by pytest error bounds
    instead — sketch values are engine-specific by design."""
    from wikdict_gen_spark.operators import corpus_stats as CS

    return CS.source_stats(_t(spark, sf_dir, "documents"))


def q_corpus_sketches(spark, sf_dir):
    """corpus_stats.corpus_sketches: the sketch tier of the corpus rollup —
    HLL++ approximate distinct content + percentile_approx length
    quantiles per lang, ONE combiner-friendly pass (a few KB of sketch
    state per group instead of shuffling every content hash).  No DuckDB
    oracle ON PURPOSE: sketch values are engine-specific; the accuracy
    contract (|approx-exact|/exact <= 3*rsd, quantiles within rank error)
    is pinned by tests/test_corpus_stats.py against the exact tier
    (q_source_stats) on the same input."""
    from wikdict_gen_spark.operators import corpus_stats as CS

    return CS.corpus_sketches(_t(spark, sf_dir, "documents"))


def q_decontam(spark, sf_dir):
    """dedup.contamination_stats: benchmark decontamination — per training
    document, how many of its 6-token spans appear verbatim in any
    "benchmark" example (here: the doc_id % 97 == 0 slice plays the held
    -out eval suite; the 96/97 remainder is the training corpus).  The
    benchmark gram inventory is DISTINCT + broadcast, so the corpus is
    scanned once with no text shuffle; contam_frac is an exact
    bigint/bigint double division."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    train = docs.where(F.col("doc_id") % 97 != 0)
    return D.contamination_stats(train, bench, k=6, min_hits=1)


_ORACLE_KG["q_source_stats"] = f"""
WITH q AS ({_ORACLE_KG["q_quality_score"]}),
h AS (
    SELECT d.source, d.lang,
           md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS ch,
           length(d.text) AS n_chars, q.quality
    FROM documents d JOIN q USING (doc_id)
)
SELECT source, lang,
    count(*) AS n_docs,
    count(DISTINCT ch) AS n_distinct,
    CAST(count(*) - count(DISTINCT ch) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        AS dup_rate,
    sum(quality) / CAST(count(*) AS DOUBLE) AS mean_quality,
    CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars
FROM h GROUP BY source, lang
"""


_ORACLE_KG["q_decontam"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, md5(array_to_string(t[i:i+5], ' ')) AS gh
    FROM toks, unnest(range(1, len(t) - 6 + 2)) AS u(i)
    WHERE len(t) >= 6
),
inv AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0),
per AS (
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN gh IN (SELECT gh FROM inv) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contam
    FROM grams WHERE doc_id % 97 <> 0 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_spans, 0) AS n_spans,
       coalesce(n_contam, 0) AS n_contam_spans,
       CASE WHEN coalesce(n_spans, 0) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(n_contam AS DOUBLE) / n_spans END AS contam_frac,
       CAST(CASE WHEN coalesce(n_contam, 0) >= 1 THEN 1 ELSE 0 END AS INT)
           AS is_contaminated
FROM documents d LEFT JOIN per USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


def q_remove_spans(spark, sf_dir):
    """dedup.remove_duplicated_spans: the destructive twin of q_dup_spans
    — excise every token covered by a 5-token span recurring in >= 2
    documents and reassemble the normalized text.  The removal-index
    explode multiplies only DUPLICATED spans by k, never the corpus; the
    token excision is an index-aware array HOF on the doc's own row."""
    return D.remove_duplicated_spans(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2
    )


_ORACLE_KG["q_remove_spans"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, i, md5(array_to_string(t[i:i+4], ' ')) AS gh
    FROM toks, unnest(range(1, len(t) - 5 + 2)) AS u(i)
    WHERE len(t) >= 5
),
freq AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
rem AS (
    SELECT DISTINCT doc_id, r AS ridx
    FROM grams, unnest(range(i, i + 5)) AS ur(r)
    WHERE gh IN (SELECT gh FROM freq)
),
tokrows AS (
    SELECT doc_id, i, t[i] AS tok
    FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
)
SELECT tr.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN rem.ridx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed,
       coalesce(string_agg(CASE WHEN rem.ridx IS NULL THEN tok END,
                           ' ' ORDER BY tr.i), '') AS text_clean
FROM tokrows tr
LEFT JOIN rem ON tr.doc_id = rem.doc_id AND tr.i = rem.ridx
GROUP BY tr.doc_id
"""


# Two deterministic KG "snapshots" over lineitem — overlapping ship-date
# windows of suppliedBy triples, so the diff exercises all three statuses.
_SNAP_OLD_SQL = """
SELECT DISTINCT 'p/' || CAST(l_partkey AS STRING) AS subj,
       'suppliedBy' AS pred,
       's/' || CAST(l_suppkey AS STRING) AS obj
FROM lineitem WHERE l_shipdate < DATE '1999-01-01'
"""
_SNAP_NEW_SQL = """
SELECT DISTINCT 'p/' || CAST(l_partkey AS STRING) AS subj,
       'suppliedBy' AS pred,
       's/' || CAST(l_suppkey AS STRING) AS obj
FROM lineitem WHERE l_shipdate >= DATE '1996-06-01'
"""


def q_snapshot_diff(spark, sf_dir):
    """materialize.snapshot_diff: triple-level diff between two committed
    KG snapshots (added / removed / kept) — the incremental-publish
    delta.  One full-outer join on the whole triple key, so hub subjects
    spread across their (pred, obj) fan-out."""
    from wikdict_gen_spark.operators import materialize as M

    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return M.snapshot_diff(spark.sql(_SNAP_OLD_SQL), spark.sql(_SNAP_NEW_SQL))


_ORACLE_KG["q_snapshot_diff"] = f"""
WITH old2 AS (SELECT *, TRUE AS in_old FROM ({_SNAP_OLD_SQL})),
new2 AS (SELECT *, TRUE AS in_new FROM ({_SNAP_NEW_SQL}))
SELECT subj, pred, obj,
       CASE WHEN in_old IS NULL THEN 'added'
            WHEN in_new IS NULL THEN 'removed'
            ELSE 'kept' END AS status
FROM old2 FULL OUTER JOIN new2 USING (subj, pred, obj)
"""


def q_temperature_sample(spark, sf_dir):
    """sampling.temperature_sample: temperature-balanced mixture sampling
    (T=0.5, target 200 docs over the lang strata) — per-lang keep rates
    r_s = min(1, M * n_s^2 / (Z * n_s)) from the observed counts, then
    the deterministic md5 hash gate.  The integral-alpha rate path is one
    exact-integer division, so the DuckDB oracle re-derives counts ->
    rates -> 64-bit hex thresholds -> gate and lands on the same rows
    bit-for-bit."""
    return SM.temperature_sample(
        _t(spark, sf_dir, "documents"), temperature=0.5, target_total=200,
        stratum_col="lang",
    ).select("doc_id", "lang")


_ORACLE_KG["q_temperature_sample"] = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
z AS (SELECT sum(n * n) AS z FROM c),
r AS (
    SELECT lang,
        CASE WHEN CAST(200 * n * n AS DOUBLE) / CAST(z.z * n AS DOUBLE) > 1.0
             THEN CAST(1.0 AS DOUBLE)
             ELSE CAST(200 * n * n AS DOUBLE) / CAST(z.z * n AS DOUBLE)
        END AS rate
    FROM c CROSS JOIN z
),
t AS (
    SELECT lang,
        CASE WHEN rate >= 1.0 THEN 'g'
             ELSE lpad(lower(to_hex(CAST(floor(
                      rate * CAST(18446744073709551616 AS DOUBLE))
                  AS HUGEINT))), 16, '0')
        END AS thresh
    FROM r
)
SELECT d.doc_id, d.lang
FROM documents d JOIN t USING (lang)
WHERE substring(md5('sample:' || CAST(d.doc_id AS STRING)), 1, 16) < t.thresh
"""


def q_pack_offsets(spark, sf_dir):
    """packing.pack_offsets: GPT-style concatenate-and-chunk sequence
    packing — each document's token-offset range in the corpus-order
    concatenation and the max_tokens=512 training sequences it spans.
    The global prefix sum is the two-phase distributed form (range
    partition -> per-partition window -> one-row-per-partition offsets
    broadcast back), never a single-task global window; the oracle is
    the plain single-node window SQL it must equal."""
    from wikdict_gen_spark.operators.packing import pack_offsets

    return pack_offsets(_t(spark, sf_dir, "documents"), max_tokens=512)


_ORACLE_KG["q_pack_offsets"] = """
WITH t AS (
    SELECT doc_id,
           len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) - n_tokens
               AS start_offset
    FROM t
)
SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_start,
       CAST(floor((start_offset + n_tokens - 1) / 512.0) AS BIGINT) AS seq_end
FROM c
"""


def q_cdc_chunks(spark, sf_dir):
    """dedup.cdc_chunks: content-defined chunking (rsync/LBFS boundaries
    at token granularity, avg 16 tokens, 4-token context window) — the
    sub-document dedup unit whose boundaries re-synchronize after
    insertions.  All boundary/slice/hash work is array HOFs on the doc's
    own row; the only shuffle in a CDC dedup flow is the downstream
    chunk-hash aggregation."""
    return D.cdc_chunks(
        _t(spark, sf_dir, "documents"), avg_chunk_tokens=16, window=4
    )


# threshold literal: rate_to_threshold(1/16) — 1/16 is exact binary, so
# the 64-bit hex gate is the same constant in every engine
_ORACLE_KG["q_cdc_chunks"] = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
),
base AS (SELECT doc_id, t, len(t) AS n FROM toks),
ends AS (
    SELECT doc_id, t, n,
        list_sort(list_filter(range(1, n), i ->
            substring(md5('cdc:' ||
                array_to_string(t[greatest(1, i - 3):i], ' ')), 1, 16)
            < '1000000000000000')) AS ie
    FROM base
),
chunks AS (
    SELECT doc_id, j - 1 AS chunk_idx,
        array_to_string(
            t[(CASE WHEN j = 1 THEN 1 ELSE ie[j - 1] + 1 END):
              (CASE WHEN j = len(ie) + 1 THEN n ELSE ie[j] END)], ' ')
            AS chunk
    FROM ends, unnest(range(1, len(ie) + 2)) AS u(j)
    WHERE n >= 1
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, md5(chunk) AS chunk_hash,
       len(string_split(chunk, ' ')) AS n_tokens
FROM chunks
"""


def q_chunk_dup(spark, sf_dir):
    """dedup.chunk_dup_stats: CDC-granular duplication — per document,
    the fraction of its content-defined chunks whose hash recurs in >= 2
    documents.  The duplicated_span_stats shape on a ~16x smaller table
    (one chunk per ~16 tokens instead of one gram per token), offset-
    robust because CDC boundaries re-synchronize."""
    return D.chunk_dup_stats(
        _t(spark, sf_dir, "documents"), avg_chunk_tokens=16, window=4,
        min_docs=2,
    )


_ORACLE_KG["q_chunk_dup"] = f"""
WITH chunktab AS ({_ORACLE_KG["q_cdc_chunks"]}),
freq AS (
    SELECT chunk_hash FROM chunktab
    GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id,
    count(*) AS n_chunks,
    CAST(sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM freq)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
    CAST(sum(CASE WHEN chunk_hash IN (SELECT chunk_hash FROM freq)
                  THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_chunk_frac
FROM chunktab GROUP BY doc_id
"""


def q_session_window(spark, sf_dir):
    """Spark's native session_window (gap 4h) in batch mode, cross-
    checked against an independent lag/cumsum SQL derivation.  Boundary
    semantics differ from sessions.sessionize: session_window starts a
    NEW session when the gap is >= the threshold (window end is
    last_ts + gap, microsecond-exact), so the oracle flags on
    `ts >= prev_ts + INTERVAL 4 HOUR`, not date_diff > N."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "4 hours").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


_ORACLE_KG["q_session_window"] = """
WITH ordered AS (
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 4 HOUR
                THEN 1 ELSE 0 END AS new_s
    FROM ordered
),
sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 4 HOUR AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
"""


# --- driver contract -----------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full inference lineage (backlink -> pivot -> fusion -> gap rule)
    over the edge table derived from sf0.001 lineitem."""
    return q_gap_rule(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_backlink_score": q_backlink_score,
        "q_pivot_composition": q_pivot_composition,
        "q_evidence_fusion": q_evidence_fusion,
        "q_gap_rule": q_gap_rule,
        "q_entry_assembly": q_entry_assembly,
        "q_nullsafe_join": q_nullsafe_join,
        "q_anti_join_precedence": q_anti_join_precedence,
        "q_rescue_window": q_rescue_window,
        "q_topk_mean_norm": q_topk_mean_norm,
        "q_conditional_ratio": q_conditional_ratio,
        "q_adaptive_threshold": q_adaptive_threshold,
        "q_global_topk": q_global_topk,
        "q_window_rank": q_window_rank,
        "q_distinct_union": q_distinct_union,
        "q_surface_guess": q_surface_guess,
        "q_event_windows": q_event_windows,
        "q_stream_event_windows": q_stream_event_windows,
        "q_exact_dedup": q_exact_dedup,
        "q_minhash_signature": q_minhash_signature,
        "q_minhash_inline": q_minhash_inline,
        "q_token_count": q_token_count,
        "q_quality_score": q_quality_score,
        "q_repetition": q_repetition,
        "q_fingerprint": q_fingerprint,
        "q_language_id": q_language_id,
        "q_ann_topk": q_ann_topk,
        "q_ivf_topk": q_ivf_topk,
        "q_fuzzy_search": q_fuzzy_search,
        "q_dup_collapse": q_dup_collapse,
        "q_salience": q_salience,
        "q_display_forms": q_display_forms,
        "q_singular_plural": q_singular_plural,
        "q_token_index": q_token_index,
        "q_idiom_keys": q_idiom_keys,
        "q_sense_match": q_sense_match,
        "q_pair_stats": q_pair_stats,
        "q_link_join": q_link_join,
        "q_search": q_search,
        "q_anki": q_anki,
        "q_tei_entries": q_tei_entries,
        "q_clean_corpus": q_clean_corpus,
        "q_embed_near_dup": q_embed_near_dup,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_simhash": q_simhash,
        "q_lsh_pairs": q_lsh_pairs,
        "q_lsh_capped": q_lsh_capped,
        "q_near_dup_clusters": q_near_dup_clusters,
        "q_connected_components": q_connected_components,
        "q_line_dedup": q_line_dedup,
        "q_pii_scrub": q_pii_scrub,
        "q_pagerank": q_pagerank,
        "q_degree_stats": q_degree_stats,
        "q_stratified_sample": q_stratified_sample,
        "q_collocations": q_collocations,
        "q_incremental_dedup": q_incremental_dedup,
        "q_sessionize": q_sessionize,
        "q_bm25": q_bm25,
        "q_dup_spans": q_dup_spans,
        "q_session_window": q_session_window,
        "q_decontam": q_decontam,
        "q_source_stats": q_source_stats,
        "q_corpus_sketches": q_corpus_sketches,
        "q_url_canon": q_url_canon,
        "q_host_stats": q_host_stats,
        "q_remove_spans": q_remove_spans,
        "q_pack_offsets": q_pack_offsets,
        "q_snapshot_diff": q_snapshot_diff,
        "q_temperature_sample": q_temperature_sample,
        "q_cdc_chunks": q_cdc_chunks,
        "q_chunk_dup": q_chunk_dup,
    }


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE_KG)
