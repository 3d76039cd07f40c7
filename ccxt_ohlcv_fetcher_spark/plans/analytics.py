"""Product-analytics queries over the event log: cohort retention,
funnel conversion, distributional outliers, token-pair PMI, and
co-purchase graph statistics.

These are the classic "analytics engine" workloads a user of the
reference's candle store would run one tier up from OHLCV rollups
(the reference's own resample loop, ccxt-ohlcv-fetch.py:86-104, is the
same shape: per-key time bucketing + aggregation). All five are fully
SQL-expressible and DuckDB-oracled; cross-engine exactness follows the
registry conventions (decimal sums, epoch-ms bigints, ln rounded to 9dp
before any arithmetic, identical IEEE expression order in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.functions.hashing import md5_long, md5_long_sql
from ccxt_ohlcv_fetcher_spark.operators.text import words
from ccxt_ohlcv_fetcher_spark.artifacts import artifact_dir, memo
from ccxt_ohlcv_fetcher_spark.plans.registry import (
    dec,
    ms,
    register,
    sql_ms,
)
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

_DAY_MS = 86_400_000


@register(
    "user_cohort_retention",
    oracle=f"""
    WITH user_day AS (
      SELECT DISTINCT user_id,
             {sql_ms("date_trunc('day', ts)")} AS day_ms
      FROM events
    ),
    cohort AS (
      SELECT user_id, min(day_ms) AS cohort_ms FROM user_day GROUP BY 1
    ),
    sizes AS (
      SELECT cohort_ms, count(*) AS cohort_size FROM cohort GROUP BY 1
    ),
    activity AS (
      SELECT c.cohort_ms,
             CAST((d.day_ms - c.cohort_ms) // {_DAY_MS} AS INT) AS day_offset,
             count(DISTINCT d.user_id) AS active_users
      FROM user_day d JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    )
    SELECT cohort_ms, day_offset, active_users, cohort_size,
           CAST(active_users AS DOUBLE) / cohort_size AS retention
    FROM activity JOIN sizes USING (cohort_ms)
    """,
    doc="Cohort retention matrix: users grouped by first-active day, "
    "activity counted per (cohort, day-offset). Scale shape: the only "
    "heavy stage is the distinct user-day projection (partial-distinct "
    "combines map-side before the shuffle); the cohort table is one row "
    "per user and the sizes table one row per day — the final join "
    "broadcasts. day_offset is pure integer arithmetic (// on epoch-ms), "
    "retention a single IEEE division, so the matrix is bit-exact.",
    tags=("E13", "E14"),
)
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # user_day feeds the cohort chain AND the activity join; cohort
    # feeds sizes AND activity — pin both so the fact-sized distinct
    # and the per-user min run once per execution (r12, §2.4)
    user_day = events.select(
        "user_id", ms(F.date_trunc("day", F.col("ts"))).alias("day_ms")
    ).distinct().localCheckpoint(eager=False)
    cohort = (
        user_day.groupBy("user_id")
        .agg(F.min("day_ms").alias("cohort_ms"))
        .localCheckpoint(eager=False)
    )
    sizes = cohort.groupBy("cohort_ms").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    activity = (
        user_day.join(cohort, "user_id")
        .select(
            "cohort_ms",
            F.expr(f"(day_ms - cohort_ms) div {_DAY_MS}")
            .cast("int")
            .alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_ms", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    return activity.join(F.broadcast(sizes), "cohort_ms").select(
        "cohort_ms",
        "day_offset",
        "active_users",
        "cohort_size",
        (F.col("active_users").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


_FUNNEL = ("signup", "view", "click", "purchase")


@register(
    "event_funnel_conversion",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             min({sql_ms("ts")}) FILTER (event_type = 'signup')   AS t1,
             min({sql_ms("ts")}) FILTER (event_type = 'view')     AS t2,
             min({sql_ms("ts")}) FILTER (event_type = 'click')    AS t3,
             min({sql_ms("ts")}) FILTER (event_type = 'purchase') AS t4
      FROM events GROUP BY 1
    ),
    staged AS (
      SELECT CASE
               WHEN t1 IS NULL THEN 0
               WHEN t2 IS NULL OR t2 <= t1 THEN 1
               WHEN t3 IS NULL OR t3 <= t2 THEN 2
               WHEN t4 IS NULL OR t4 <= t3 THEN 3
               ELSE 4
             END AS max_stage
      FROM per_user
    ),
    counts AS (
      SELECT count(*) FILTER (max_stage >= 1) AS n1,
             count(*) FILTER (max_stage >= 2) AS n2,
             count(*) FILTER (max_stage >= 3) AS n3,
             count(*) FILTER (max_stage >= 4) AS n4
      FROM staged
    )
    SELECT stage, stage_name, users,
           CAST(users AS DOUBLE) / nullif(prev_users, 0) AS conv_from_prev,
           CAST(users AS DOUBLE) / nullif(first_users, 0) AS conv_from_start
    FROM (
      SELECT * FROM (
        SELECT 1 AS stage, 'signup' AS stage_name, n1 AS users,
               n1 AS prev_users, n1 AS first_users FROM counts
        UNION ALL
        SELECT 2, 'view', n2, n1, n1 FROM counts
        UNION ALL
        SELECT 3, 'click', n3, n2, n1 FROM counts
        UNION ALL
        SELECT 4, 'purchase', n4, n3, n1 FROM counts
      )
    )
    """,
    doc="Ordered funnel conversion (signup -> view -> click -> purchase): "
    "a user reaches stage k only if their first stage-k event strictly "
    "follows their first stage-(k-1) event. One groupBy(user) with "
    "conditional min aggregates (no pivot, no self-joins — the standard "
    "scale shape: a 100 TB event log folds to one row per user in a "
    "single shuffle), then a 4-row unpivot of the count cascade. "
    "Conversion ratios are single IEEE divisions of exact counts.",
    tags=("E13", "E23"),
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t = ms("ts")
    mins = [
        F.min(F.when(F.col("event_type") == s, t)).alias(f"t{i + 1}")
        for i, s in enumerate(_FUNNEL)
    ]
    per_user = events.groupBy("user_id").agg(*mins)
    staged = per_user.select(
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull() | (F.col("t2") <= F.col("t1")), 1)
        .when(F.col("t3").isNull() | (F.col("t3") <= F.col("t2")), 2)
        .when(F.col("t4").isNull() | (F.col("t4") <= F.col("t3")), 3)
        .otherwise(4)
        .alias("max_stage")
    )
    counts = staged.agg(
        *[
            F.count(F.when(F.col("max_stage") >= k, 1)).alias(f"n{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    # 4-row unpivot of the cascade: stack puts stage/prev/first side by side
    rows = counts.select(
        F.expr(
            "stack(4, "
            "1, 'signup',   n1, n1, n1, "
            "2, 'view',     n2, n1, n1, "
            "3, 'click',    n3, n2, n1, "
            "4, 'purchase', n4, n3, n1) "
            "AS (stage, stage_name, users, prev_users, first_users)"
        )
    )
    return rows.select(
        "stage",
        "stage_name",
        "users",
        (
            F.col("users").cast("double")
            / F.nullif(F.col("prev_users"), F.lit(0))
        ).alias("conv_from_prev"),
        (
            F.col("users").cast("double")
            / F.nullif(F.col("first_users"), F.lit(0))
        ).alias("conv_from_start"),
    )


@register(
    "event_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))
                           * CAST(value AS DECIMAL(18,6)))
                       AS DECIMAL(38,6)) AS DOUBLE) AS sq
      FROM events GROUP BY 1
    )
    SELECT event_id, e.event_type, value,
           (value - s / n) / sqrt((sq - s * s / n) / (n - 1)) AS z
    FROM events e JOIN stats USING (event_type)
    WHERE abs((value - s / n) / sqrt((sq - s * s / n) / (n - 1))) > 2.5
    """,
    doc="Distributional outlier flagging: per-event-type z-score from "
    "exact decimal moments (sum, sum-of-squares), outliers at |z| > 2.5. "
    "The stats table is one row per event type and rides a broadcast "
    "join, so the whole query is one partial-aggregated shuffle plus a "
    "map-side scan — the standard anomaly-screen shape at 100 TB. "
    "Cross-engine exactness: moments are decimal-exact, and mu/sigma/z "
    "are written as the SAME IEEE expression tree ((value - s/n) / "
    "sqrt((sq - s*s/n)/(n-1))) in both engines — division and sqrt are "
    "correctly-rounded IEEE ops, so the doubles agree bit-for-bit.",
    tags=("E17", "E6"),
)
def event_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s"),
        F.sum(v * v).cast("decimal(38,6)").cast("double").alias("sq"),
    )
    joined = events.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("sq") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        joined.withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "value", "z")
    )


_PMI_MIN_DF = 25
_PMI_MIN_PAIR = 10
_PMI_TOP = 15


@register(
    "token_pmi_pairs",
    oracle=f"""
    WITH doc_tok AS (
      SELECT DISTINCT doc_id, unnest(
        list_filter(string_split_regex(text, '\\s+'), w -> w <> '')
      ) AS tok
      FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (
      SELECT tok, count(*) AS df FROM doc_tok GROUP BY 1
      HAVING count(*) >= {_PMI_MIN_DF}
    ),
    kept AS (SELECT doc_id, tok FROM doc_tok JOIN dfreq USING (tok)),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS pair_n
      FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
      HAVING count(*) >= {_PMI_MIN_PAIR}
    )
    SELECT tok_a, tok_b, pair_n, da.df AS df_a, db.df AS df_b,
           round(ln(
             CAST(pair_n AS DOUBLE) * n_docs
             / (CAST(da.df AS DOUBLE) * db.df)
           ), 9) AS pmi
    FROM pairs
    JOIN dfreq da ON da.tok = pairs.tok_a
    JOIN dfreq db ON db.tok = pairs.tok_b
    CROSS JOIN n
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT {_PMI_TOP}
    """,
    doc="Token co-occurrence PMI (the collocation-mining primitive of "
    "corpus analysis): within-document distinct token pairs, pointwise "
    "mutual information ln(P(a,b)/(P(a)P(b))) over document frequencies. "
    "Scale shape (r12: tokens materialize once instead of re-splitting "
    "per consumer): the df >= {df} vocabulary filter (a broadcast "
    "semi-join) bounds the per-document self-join fan-out to the kept "
    "vocabulary — the same cap top-V PMI builds use — and the pair count "
    "partial-aggregates before its shuffle. The marginal-df joins "
    "broadcast (vocabulary-sized). ln is rounded to 9dp as the LAST op "
    "(inputs are exact-integer-derived IEEE divisions), the bm25 "
    "convention. Top-15 is TakeOrderedAndProject.".format(df=_PMI_MIN_DF),
    tags=("E36", "E5"),
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    # Tokenize ONCE (r12, guide §2.4): the regex split previously re-ran
    # for the df count and BOTH sides of the kept⋈kept self-join; the
    # distinct-token arrays now materialize once and each consumer
    # explodes the checkpointed arrays (1.49 -> 1.29 s solo at sf0.1).
    # The self-join itself stays: an in-place sorted-basket HOF pair
    # expansion was measured strictly WORSE here (2.89 s — higher-order
    # functions evaluate interpreted, and post-filter baskets are
    # hundreds of tokens, unlike the ~4-item co-purchase baskets where
    # that pattern wins).
    toks0 = docs.select(
        "doc_id", F.array_distinct(words(F.col("text"))).alias("ta")
    ).localCheckpoint()
    doc_tok = toks0.select("doc_id", F.explode("ta").alias("tok"))
    dfreq = (
        doc_tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _PMI_MIN_DF)
    )
    kept = doc_tok.join(F.broadcast(dfreq.select("tok")), "tok")
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= _PMI_MIN_PAIR)
    )
    da = dfreq.select(
        F.col("tok").alias("tok_a"), F.col("df").alias("df_a")
    )
    db = dfreq.select(
        F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    pmi = F.round(
        F.log(
            F.col("pair_n").cast("double")
            * F.lit(n_docs)
            / (F.col("df_a").cast("double") * F.col("df_b"))
        ),
        9,
    )
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .select("tok_a", "tok_b", "pair_n", "df_a", "df_b", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(_PMI_TOP)
    )


_COPURCHASE_MIN_ORDERS = 2


@register(
    "copurchase_graph_stats",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_COPURCHASE_MIN_ORDERS}
    ),
    degrees AS (
      SELECT v, count(*) AS deg FROM (
        SELECT pa AS v FROM edges UNION ALL SELECT pb FROM edges
      ) GROUP BY 1
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges ab
      JOIN edges bc ON ab.pb = bc.pa
      JOIN edges ac ON ac.pa = ab.pa AND ac.pb = bc.pb
    ),
    wedge AS (
      SELECT SUM(deg * (deg - 1) / 2) AS n_wedges FROM degrees
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM degrees) AS BIGINT) AS n_vertices,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(3.0 * n_triangles AS DOUBLE) / n_wedges
             AS global_clustering
    FROM tri CROSS JOIN wedge
    """,
    doc="Co-purchase graph statistics: parts bought together in >= 2 "
    "orders form an undirected edge; count vertices, edges, wedges "
    "(sum of C(deg,2)) and triangles, and derive the global clustering "
    "coefficient 3T/W. Triangle counting uses the DEGREE-ORDERED "
    "orientation (operators/graph.py:enumerate_triangles): each "
    "triangle joined exactly once at its degree-minimum apex, and "
    "the two-path fan-out is bounded by O(sqrt(m)) forward degree "
    "regardless of hub degree — the real power-law skew guard "
    "(Chiba-Nishizeki / node-iterator++). "
    "Scale shape: pair generation is ONE shuffle — fold each order to "
    "a sorted distinct basket (groupBy + collect_set), then expand "
    "C(items,2) pairs map-side with a nested HOF (no self-join, no "
    "second exchange); fan-out is bounded by basket size, not table "
    "size. The triangle join shuffles only the filtered edge list.",
    tags=("E5", "E13"),
)
def copurchase_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _copurchase_edges / _copurchase_deg_tri are memoized +
    # localCheckpointed, so the 4 consuming subtrees below read
    # materialized blocks and the triangle enumeration is shared with
    # part_local_clustering (r12).
    deg, tri = _copurchase_deg_tri(spark, sf_dir)
    return _copurchase_stats(_copurchase_edges(spark, sf_dir), deg, tri)


def _copurchase_edges_counted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shared co-purchase pair table (pa < pb, n_ord = baskets
    containing both, filtered to >= _COPURCHASE_MIN_ORDERS): one
    basket shuffle + deterministic sorted-pair expansion.

    A session artifact, checkpointed — FIVE registered queries (graph
    stats, k-core, both pageranks, association rules) consume exactly
    this subtree, and each previously rebuilt the basket shuffle + pair
    expansion (or a two-shuffle self-join) from the raw scan; the pair
    table is immutable per source, so every consumer after the first
    pays only its own join/iteration cost (registry builders may run
    eager jobs; ROUND_NOTES)."""
    return memo(
        spark, sf_dir, "copurchase_edges", lambda: _copurchase_pairs(spark, sf_dir)
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # one shuffle: basket per order; collect_set order is engine-dependent,
    # array_sort makes the pair expansion deterministic (and pa < pb)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size("parts") - 1),
                lambda i: F.transform(
                    F.slice(F.col("parts"), i + 1, F.size("parts") - i),
                    lambda p: F.struct(
                        F.get("parts", i - 1).alias("pa"), p.alias("pb")
                    ),
                ),
            )
        )
    )
    return (
        baskets.filter(F.size("parts") >= 2)
        .select(pair.alias("e"))
        .groupBy(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ord"))
        .filter(F.col("n_ord") >= _COPURCHASE_MIN_ORDERS)
        .localCheckpoint()
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized pair table as a bare (pa, pb) edge list."""
    return _copurchase_edges_counted(spark, sf_dir).select("pa", "pb")


def _copurchase_deg_tri(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(degrees, triangles) of the co-purchase edge table, pinned per
    EXECUTION as lazy localCheckpoints (r13: the r12 session memo
    amortized the triangle enumeration into the warm pass and out of
    every timed run — a triangle count is not a build-once/serve-many
    artifact, so each execution now pays its own build). The CODE
    sharing between copurchase_graph_stats and part_local_clustering
    stays; within one execution the pins still keep the degree frame
    and the triangle list single-subtree across their 2+ consumers."""
    from ccxt_ohlcv_fetcher_spark.operators.graph import (
        degrees as graph_degrees,
        enumerate_triangles,
        loop_conf,
    )

    # build the pins EAGERLY under a graph-sized shuffle scope (r13):
    # the degree groupBy and the wedge/closing triangle joins move a
    # few thousand rows here — built lazily they would run at session
    # width under AQE at action time; the scope is a no-op at scale
    n_edges = _copurchase_edges_counted(spark, sf_dir).count()
    with loop_conf(spark, n_edges, aqe_off=True):
        edges = _copurchase_edges(spark, sf_dir)
        deg = graph_degrees(edges).localCheckpoint()
        tri = enumerate_triangles(edges, deg=deg).localCheckpoint()
    return deg, tri


def _copurchase_stats(
    edges: DataFrame,
    degrees: DataFrame | None = None,
    triangles: DataFrame | None = None,
) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.graph import (
        degrees as graph_degrees,
        enumerate_triangles,
    )

    if degrees is None:
        degrees = graph_degrees(edges)
    if triangles is None:
        triangles = enumerate_triangles(edges, deg=degrees)
    tri = triangles.agg(F.count(F.lit(1)).alias("n_triangles"))
    wedges = degrees.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_wedges")
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_vertices = degrees.agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        tri.crossJoin(wedges)
        .crossJoin(n_edges)
        .crossJoin(n_vertices)
        .select(
            "n_edges",
            "n_vertices",
            "n_wedges",
            "n_triangles",
            (
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges")
            ).alias("global_clustering"),
        )
    )


@register(
    "part_local_clustering",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_COPURCHASE_MIN_ORDERS}
    ),
    bi AS (SELECT pa AS src FROM edges UNION ALL SELECT pb FROM edges),
    deg AS (SELECT src AS v, count(*) AS deg FROM bi GROUP BY 1),
    tri AS (
      SELECT ab.pa AS a, ab.pb AS b, bc.pb AS c
      FROM edges ab
      JOIN edges bc ON ab.pb = bc.pa
      JOIN edges ac ON ac.pa = ab.pa AND ac.pb = bc.pb
    ),
    tv AS (
      SELECT v, count(*) AS tri FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    )
    SELECT deg.v AS partkey, deg.deg AS deg,
           COALESCE(tv.tri, 0) AS tri,
           CAST(2 * COALESCE(tv.tri, 0) AS DOUBLE)
             / (deg.deg * (deg.deg - 1)) AS lcc
    FROM deg LEFT JOIN tv ON tv.v = deg.v
    WHERE deg.deg >= 2
    """,
    doc="Per-vertex LOCAL clustering coefficient over the co-purchase "
    "graph: lcc(v) = 2*t(v) / (deg(v)*(deg(v)-1)) where t(v) counts "
    "triangles through v — the per-node refinement of "
    "copurchase_graph_stats' single global coefficient. Spark shape: "
    "the memoized filtered edge table feeds "
    "operators/graph.py:enumerate_triangles — DEGREE-ORDERED "
    "orientation, wedges only at each triangle's degree-minimum apex, "
    "closing edge resolved by an equi join — then a 3-way vertex "
    "explode + count. Scale: the joins shuffle only the "
    "min-support-filtered edge list and vertex-sized degree frames, "
    "never baskets or facts; the orientation bounds two-path fan-out "
    "by O(sqrt(m)) forward degree regardless of hub degree, the "
    "power-law skew guard plain ID orientation lacks. "
    "Determinism: all-integer counts; lcc = exact-int double division, "
    "correctly rounded identically in Spark and DuckDB.",
    tags=("E5", "E13"),
)
def part_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.graph import local_clustering

    deg, tri = _copurchase_deg_tri(spark, sf_dir)
    out = local_clustering(
        _copurchase_edges(spark, sf_dir), deg=deg, tri=tri
    )
    return out.select(
        F.col("v").alias("partkey"), "deg", "tri", "lcc"
    )


@register(
    "part_price_size_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
         OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size)
    )
    """,
    doc="2-D SKYLINE (Pareto frontier): parts not dominated on "
    "(minimize p_retailprice, maximize p_size) — the classic "
    "preference/dominance OLAP operator (Borzsony/Kossmann/Stocker, "
    "ICDE'01). The oracle is the textbook O(n^2) NOT-EXISTS dominance "
    "query; the Spark plan is LINEAR + one gated running max: "
    "group-by price keeps each price's max size (one shuffle), the "
    "strict-predecessor running max of those group maxes over "
    "ascending price (adaptive_cummax: one-task window at aggregate "
    "scale, two-pass range-partitioned global_cummax above 64k "
    "groups — never a single-partition sort of the fact) marks the "
    "surviving (price, size) pairs, and an equi-join back to the "
    "table recovers skyline ROWS incl. exact-tie co-survivors. "
    "Dominance logic: a price-group's max survives iff it strictly "
    "exceeds every strictly-cheaper group's max; within a surviving "
    "group exactly the max-size rows are undominated.",
    tags=("E13", "E18"),
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.functions.rank import skyline_min_max

    pp = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_min_max(pp, "p_retailprice", "p_size")


_PR_UNIT = 10**12  # fixed-point PageRank unit (1.0 == 10^12)
_PR_ITERS = 10


@register(
    "part_pagerank",
    oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_COPURCHASE_MIN_ORDERS}
    ),
    bi AS (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL SELECT pb, pa FROM edges
    ),
    deg AS (SELECT src AS v, count(*) AS deg FROM bi GROUP BY 1),
    params AS (
      SELECT count(*) AS n,
             CAST({_PR_UNIT} // count(*) AS BIGINT) AS u0,
             CAST((15 * ({_PR_UNIT} // count(*))) // 100 AS BIGINT) AS base
      FROM deg
    ),
    pr AS (
      SELECT v, u0 AS rank, 0 AS it FROM deg, params
      UNION ALL
      SELECT bi.dst AS v,
             CAST((SELECT base FROM params)
                  + (85 * sum(pr.rank // deg.deg)) // 100 AS BIGINT) AS rank,
             pr.it + 1 AS it
      FROM pr
      JOIN bi ON pr.v = bi.src
      JOIN deg ON deg.v = bi.src
      WHERE pr.it < {_PR_ITERS}
      GROUP BY bi.dst, pr.it
    )
    SELECT v AS partkey, rank AS pagerank_fp
    FROM pr WHERE it = {_PR_ITERS}
    """,
    doc="PageRank over the co-purchase graph (beyond-§2 graph "
    "analytics, the canonical iterative Spark workload): the same "
    "min-2-shared-orders edge set as copurchase_graph_stats, "
    "bi-directed, then 10 damped power iterations (d = 0.85). All "
    "arithmetic is FIXED-POINT BIGINT (1.0 = 10^12, floor division) — "
    "integer sums are addition-order-independent, so the iterative "
    "result is ORACLE-EXACT against a DuckDB recursive CTE, where a "
    "float PageRank would diverge in the last bits on reduction "
    "order. Scale shape: degree-weighted contribution join + groupBy "
    "dst = two shuffles per round on (rank, edge) rows only; rank "
    "lineage cut per round with localCheckpoint (the CC lesson); the "
    "vertex count is the one driver-side scalar (bounded collect). "
    "Dangling mass: none by construction — every vertex of an "
    "undirected edge has out-degree >= 1.",
    tags=("E5", "E13"),
)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.graph import pagerank_fixed_point

    bi = _copurchase_bidirected(spark, sf_dir)
    # bi-directed: every vertex has in-edges, skip the receiverless join
    ranks = pagerank_fixed_point(
        bi, n_iters=_PR_ITERS, rejoin_receiverless=False, checkpoint_every=5,
        prepared=_pagerank_prep(spark, sf_dir),
    )
    return ranks.select(
        F.col("v").alias("partkey"), F.col("rank").alias("pagerank_fp")
    )


def _copurchase_bidirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared co-purchase edge set, bi-directed — a cheap view over
    the memoized checkpointed edge list (previously this rebuilt the
    whole basket shuffle independently of _copurchase_edges)."""
    edges = _copurchase_edges(spark, sf_dir)
    return (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(
            edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
    )


def _pagerank_prep(spark: SparkSession, sf_dir: str):
    """(degree-joined edge table, vertex table) for PageRank over the
    bi-directed co-purchase graph, built per EXECUTION (r13: the r12
    session memo amortized the prep into whichever pagerank ran first
    and out of both queries' timed numbers; the prep is an
    iteration-invariant intermediate, not a build-once/serve-many
    artifact). Splitting the prep out of the loop stays — it is still
    built exactly once per query execution instead of once per
    iteration, and the two pagerank queries share the CODE path."""
    from ccxt_ohlcv_fetcher_spark.operators.graph import (
        loop_conf,
        pagerank_prepare,
    )

    # size the prep's shuffles (vertex distinct, degree join) to the
    # graph itself — a cheap count over the memoized edge checkpoint's
    # materialized blocks; no-op at scale (see loop_conf)
    n_edges = _copurchase_edges_counted(spark, sf_dir).count()
    with loop_conf(spark, 2 * n_edges, aqe_off=True):
        return pagerank_prepare(_copurchase_bidirected(spark, sf_dir))


_PPR_BRAND = "Brand#11"

@register(
    "part_pagerank_personalized",
    oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_COPURCHASE_MIN_ORDERS}
    ),
    bi AS (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL SELECT pb, pa FROM edges
    ),
    deg AS (SELECT src AS v, count(*) AS deg FROM bi GROUP BY 1),
    seeds AS (
      SELECT v FROM deg
      WHERE v IN (SELECT p_partkey FROM part WHERE p_brand = '{_PPR_BRAND}')
    ),
    params AS (
      SELECT CAST({_PR_UNIT} // count(*) AS BIGINT) AS p0 FROM seeds
    ),
    vb AS (
      SELECT deg.v,
             CAST(CASE WHEN s.v IS NULL THEN 0
                  ELSE (SELECT p0 FROM params) END AS BIGINT) AS p0,
             CAST(CASE WHEN s.v IS NULL THEN 0
                  ELSE (15 * (SELECT p0 FROM params)) // 100
                  END AS BIGINT) AS base
      FROM deg LEFT JOIN seeds s ON deg.v = s.v
    ),
    pr AS (
      SELECT v, p0 AS rank, 0 AS it FROM vb
      UNION ALL
      SELECT bi.dst AS v,
             CAST(vb.base + (85 * sum(pr.rank // deg.deg)) // 100
                  AS BIGINT) AS rank,
             pr.it + 1 AS it
      FROM pr
      JOIN bi ON pr.v = bi.src
      JOIN deg ON deg.v = bi.src
      JOIN vb ON vb.v = bi.dst
      WHERE pr.it < {_PR_ITERS}
      GROUP BY bi.dst, vb.base, pr.it
    )
    SELECT v AS partkey, rank AS ppr_fp
    FROM pr WHERE it = {_PR_ITERS}
    """,
    doc="PERSONALIZED PageRank (random-walk-with-restart) over the "
    "same co-purchase graph as part_pagerank, seeded on one brand's "
    "parts: the restart mass concentrates uniformly on the seed set "
    "(p_v = UNIT // |S|, zero elsewhere), the walk starts at the "
    "restart distribution, and unreachable vertices converge to "
    "EXACTLY 0 under integer floor arithmetic — the 'related items "
    "for this brand' recommender primitive. Same fixed-point BIGINT "
    "discipline as the global variant, so 10 iterations of the "
    "distributed join+agg loop are ORACLE-EXACT against a DuckDB "
    "recursive CTE carrying a per-vertex base table. Scale shape: "
    "the per-round cost adds ONE left join of the per-vertex base "
    "table (broadcast-or-shuffle decided by AQE) over the global "
    "variant's two shuffles.",
    tags=("E5", "E13"),
)
def part_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.graph import pagerank_fixed_point

    bi = _copurchase_bidirected(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _PPR_BRAND)
        .select(F.col("p_partkey").alias("v"))
    )
    ranks = pagerank_fixed_point(
        bi, n_iters=_PR_ITERS, checkpoint_every=5, personalize=seeds,
        prepared=_pagerank_prep(spark, sf_dir),
    )
    return ranks.select(
        F.col("v").alias("partkey"), F.col("rank").alias("ppr_fp")
    )


@register(
    "event_session_patterns",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS c,
             CASE WHEN {sql_ms("ts")} - lag({sql_ms("ts")})
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000 OR lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_id
      FROM flagged
    ), seqs AS (
      SELECT user_id, session_id,
             string_agg(c, '' ORDER BY ts, event_id) AS seq
      FROM numbered GROUP BY 1, 2
    )
    SELECT user_id, session_id, seq,
           CAST(len(regexp_extract_all(seq, 'vc')) AS BIGINT)
             AS n_view_then_click,
           CAST(len(regexp_extract_all(seq, 'ep')) AS BIGINT)
             AS n_purchase_after_error,
           regexp_matches(seq, 's.*p') AS signup_then_purchase,
           CAST(coalesce(list_max(list_transform(
                 regexp_extract_all(seq, 'c+'), x -> len(x))), 0) AS BIGINT)
             AS longest_click_run
    FROM seqs
    """,
    doc="Event-sequence pattern matching (MATCH_RECOGNIZE-lite): the "
    "same 30-min gap sessionization as user_sessions, then each "
    "session's ORDERED event-type initials collapse into one string "
    "(collect_list of (ts, event_id, char) structs -> array_sort -> "
    "join: deterministic peer order on both engines) and plain "
    "regexes do the sequence analytics — adjacent-pair counts, "
    "subsequence flags, longest-run lengths. Patterns restricted to "
    "the Java/RE2-portable subset (literals, classes, +, .*). Scale "
    "shape: the string is bounded by session length, built in the "
    "same one groupBy as the session rollup; regex eval is "
    "per-session, codegen'd, zero extra shuffles past user_sessions.",
    tags=("E19", "E32s", "E36"),
)
def event_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ms("ts") - F.lag(ms("ts")).over(w)
    numbered = (
        events.withColumn("c", F.substring("event_type", 1, 1))
        .withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                W.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    seqs = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "c"))
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )
    runs = F.transform(
        F.regexp_extract_all(F.col("seq"), F.lit("c+"), 0), F.length
    )
    return seqs.select(
        "user_id",
        "session_id",
        "seq",
        F.regexp_count("seq", F.lit("vc")).cast("long").alias("n_view_then_click"),
        F.regexp_count("seq", F.lit("ep")).cast("long").alias(
            "n_purchase_after_error"
        ),
        F.col("seq").rlike("s.*p").alias("signup_then_purchase"),
        F.coalesce(F.array_max(runs), F.lit(0)).cast("long").alias(
            "longest_click_run"
        ),
    )


_SESSIONIZE_SQL = f"""
    flagged AS (
      SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS c,
             CASE WHEN {sql_ms("ts")} - lag({sql_ms("ts")})
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000 OR lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_id
      FROM flagged
    )
"""


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SESSIONIZE_SQL``: the 30-min-gap session
    numbering shared by the pattern queries."""
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ms("ts") - F.lag(ms("ts")).over(w)
    return (
        events.withColumn("c", F.substring("event_type", 1, 1))
        .withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )


@register(
    "event_timed_patterns",
    oracle=f"""
    WITH {_SESSIONIZE_SQL},
    e AS (
      SELECT user_id, session_id, ts, event_id, c, {sql_ms("ts")} AS m
      FROM numbered
    ),
    adjflag AS (
      SELECT user_id, session_id,
             CASE WHEN c = 'v'
                  AND lead(c) OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts, event_id) = 'c'
                  AND lead(m) OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts, event_id) - m <= 60000
                  THEN 1 ELSE 0 END AS q
      FROM e
    ),
    adj AS (
      SELECT user_id, session_id,
             CAST(sum(q) AS BIGINT) AS n_quick_view_click
      FROM adjflag GROUP BY 1, 2
    ),
    vp AS (
      SELECT a.user_id, a.session_id,
             CAST(count(DISTINCT a.event_id) AS BIGINT) AS n
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
      WHERE a.c = 'v' AND b.c = 'p'
        AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
        AND b.m - a.m <= 600000
      GROUP BY 1, 2
    ),
    sp AS (
      SELECT a.user_id, a.session_id,
             CAST(min(b.m - a.m) AS BIGINT) AS sp_ms
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
      WHERE a.c = 's' AND b.c = 'p'
        AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
      GROUP BY 1, 2
    )
    SELECT adj.user_id, adj.session_id,
           CAST(coalesce(vp.n, 0) AS BIGINT) AS n_view_purchase_10m,
           sp.sp_ms AS signup_to_purchase_ms,
           adj.n_quick_view_click
    FROM adj
    LEFT JOIN vp USING (user_id, session_id)
    LEFT JOIN sp USING (user_id, session_id)
    """,
    doc="TIME-CONSTRAINED sequence patterns ('A then B within T' — "
    "the MATCH_RECOGNIZE shape the plain char-string regexes of "
    "event_session_patterns cannot express because the constraint "
    "is on TIMESTAMP DELTAS, not adjacency): per 30-min session, "
    "(1) views followed by a purchase within 10 min (existential "
    "pair match over the session's ordered (ts, event_id) structs "
    "via nested higher-order lambdas — quadratic only in SESSION "
    "length, which the gap rule bounds, never in table size), "
    "(2) fastest signup->purchase latency in ms (min over the "
    "cross-pair deltas, NULL when the funnel never completes), and "
    "(3) strictly-adjacent view->click conversions under 60 s "
    "(lag/lead — linear). Oracle does the same with per-session "
    "self-joins + a lead window. Scale shape: sessionize is one "
    "window over (user, ts); the pair metrics ride the SAME "
    "groupBy(user, session) shuffle as the session rollup — the "
    "self-join the oracle needs never materializes in Spark.",
    tags=("E19", "E32s"),
)
def event_timed_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    numbered = _sessionized(spark, sf_dir)
    sw = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    numbered = numbered.withColumn(
        "q",
        (
            (F.col("c") == "v")
            & (F.lead("c").over(sw) == "c")
            & (F.lead(ms("ts")).over(sw) - ms("ts") <= 60_000)
        ).cast("int"),
    )
    emillis = lambda x: F.unix_millis(x["ts"].cast("timestamp"))  # noqa: E731
    after = lambda b, a: (b["ts"] > a["ts"]) | (  # noqa: E731
        (b["ts"] == a["ts"]) & (b["event_id"] > a["event_id"])
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "c"))
        ).alias("evts"),
        F.coalesce(F.sum("q"), F.lit(0))
        .cast("long")
        .alias("n_quick_view_click"),
    )
    evts = F.col("evts")
    n_vp = F.size(
        F.filter(
            evts,
            lambda a: (a["c"] == "v")
            & F.exists(
                evts,
                lambda b: (b["c"] == "p")
                & after(b, a)
                & (emillis(b) - emillis(a) <= 600_000),
            ),
        )
    )
    sp_ms = F.array_min(
        F.flatten(
            F.transform(
                F.filter(evts, lambda a: a["c"] == "s"),
                lambda a: F.transform(
                    F.filter(
                        evts, lambda b: (b["c"] == "p") & after(b, a)
                    ),
                    lambda b: emillis(b) - emillis(a),
                ),
            )
        )
    )
    return sess.select(
        "user_id",
        "session_id",
        n_vp.cast("long").alias("n_view_purchase_10m"),
        sp_ms.cast("long").alias("signup_to_purchase_ms"),
        "n_quick_view_click",
    )


@register(
    "session_motif_trigrams",
    oracle=f"""
    WITH {_SESSIONIZE_SQL},
    seqs AS (
      SELECT user_id, session_id,
             string_agg(c, '' ORDER BY ts, event_id) AS seq
      FROM numbered GROUP BY 1, 2
    ),
    tri AS (
      SELECT substr(seq, CAST(i AS INTEGER), 3) AS tri
      FROM (SELECT seq, unnest(range(1, len(seq) - 1)) AS i FROM seqs)
    )
    SELECT tri, CAST(count(*) AS BIGINT) AS cnt,
           CAST(row_number() OVER (ORDER BY count(*) DESC, tri)
                AS BIGINT) AS rnk
    FROM tri GROUP BY tri ORDER BY cnt DESC, tri LIMIT 20
    """,
    doc="Session n-gram MOTIFS: every session's ordered event-type "
    "string (same build as event_session_patterns) slides a 3-char "
    "window — one trigram per position, generated by a sequence-"
    "transform HOF (no UDF, no self-join) — and the global top-20 "
    "motifs rank by frequency. The 'what do users actually do' "
    "summary over raw sequences. Scale shape: trigram explode is "
    "linear in events; one groupBy(trigram) shuffle over ~|alphabet|^3 "
    "distinct keys; top-k via TakeOrdered, no global sort.",
    tags=("E13", "E36"),
)
def session_motif_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    numbered = _sessionized(spark, sf_dir)
    seqs = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "c"))
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )
    tris = seqs.filter(F.length("seq") >= 3).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("seq") - 2),
                lambda i: F.col("seq").substr(i, F.lit(3)),
            )
        ).alias("tri")
    )
    counts = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.col("cnt").desc(), F.col("tri"))
            ).cast("long"),
        )
        .orderBy(F.col("cnt").desc(), "tri")
        .limit(20)
    )


@register(
    "events_incremental_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1
    """,
    doc="Incremental materialized aggregate (continuous-aggregate "
    "tier, operators/incremental.py): the events table is ingested "
    "into a snapshot-logged source in THREE append commits, and after "
    "each one IncrementalAggView.refresh() folds ONLY the delta files "
    "(read_changes) into the persisted per-event-type state — count + "
    "decimal sum + min/max, each mergeable, each exactly-once "
    "(txn-stamped state overwrites). The oracle is the PLAIN one-shot "
    "groupBy over the whole table: passing it proves three "
    "incremental delta-merges reproduce the full recompute to the "
    "hash. Decimal sum is what makes that provable — float partial "
    "sums would depend on merge order. At 100 TB each refresh costs "
    "|delta| + |groups| rows, not history. Built once per fixture dir "
    "(build-once/serve-many, like the ANN index memo).",
    tags=("E13",),
)
def events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.incremental import (
        IncrementalAggView,
    )
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore

    def build() -> str:
        base = artifact_dir("ivm_")
        src = SnapshotStore(spark, base + "/src")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("value_dec"),
            "value",
        )
        view = IncrementalAggView(
            spark,
            src,
            base + "/state",
            keys=["event_type"],
            aggs={
                "cnt": ("count", None),
                "sum_value": ("sum", "value_dec", "decimal(38,6)"),
                "min_value": ("min", "value"),
                "max_value": ("max", "value"),
            },
        )
        for i in range(3):
            src.append(ev.filter(F.col("event_id") % 3 == i))
            view.refresh()
        return base + "/state"

    state_path = memo(spark, sf_dir, "ivm/events", build)
    return (
        SnapshotStore(spark, state_path)
        .read()
        .select(
            "event_type",
            "cnt",
            # state keeps the EXACT decimal; the reported column follows
            # the house convention (decimal sum cast to double at output)
            F.col("sum_value").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
        )
    )


@register(
    "events_incremental_agg_cdc",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE NOT (event_type = 'error' AND value < 50)
    GROUP BY 1
    """,
    doc="Incremental aggregate under row-level CHANGE DATA (the "
    "delete-retraction path): events land in two append commits, then "
    "delete_where removes the low-value error rows (copy-on-write — "
    "only match-containing files rewritten, removed rows persisted as "
    "change files), and each of the three refreshes folds ONLY the "
    "signed row delta (+1 appends / -1 deletes) into the state; keys "
    "whose count hits zero leave the state. The oracle is the one-shot "
    "filtered groupBy — passing it proves append-append-delete "
    "retraction reproduces the full recompute to the hash. Built once "
    "per fixture dir.",
    tags=("E13",),
)
def events_incremental_agg_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.incremental import (
        IncrementalAggView,
    )
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore

    def build() -> str:
        base = artifact_dir("ivm_cdc_")
        src = SnapshotStore(spark, base + "/src")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("value_dec"),
            "value",
        )
        view = IncrementalAggView(
            spark,
            src,
            base + "/state",
            keys=["event_type"],
            aggs={
                "cnt": ("count", None),
                "sum_value": ("sum", "value_dec", "decimal(38,6)"),
            },
        )
        src.append(ev.filter(F.col("event_id") % 2 == 0))
        view.refresh()
        src.append(ev.filter(F.col("event_id") % 2 == 1))
        view.refresh()
        src.delete_where("event_type = 'error' AND value < 50")
        view.refresh()
        return base + "/state"

    state_path = memo(spark, sf_dir, "ivm/events_cdc", build)
    return (
        SnapshotStore(spark, state_path)
        .read()
        .select(
            "event_type",
            "cnt",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )


@register(
    "revenue_join_view_cdc",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE NOT (l_quantity > 45)
    GROUP BY 1
    """,
    doc="Incrementally-maintained JOIN-aggregate view (delta-join IVM, "
    "the Materialize/DBSP capability, operators/incremental.py "
    "IncrementalJoinAggView): lineitem (fact) and orders (dim) each "
    "land in TWO append commits on their own snapshot logs, then a "
    "row-level delete removes the bulk lineitems — and after EVERY "
    "commit the view refreshes via the bilinearity rule "
    "dA*B0 + A0*dB + dA*dB with signed rows, never re-joining the "
    "full tables (the old-side scan is manifest-stats-prunable to the "
    "delta's key range). State commits are single atomic overwrites "
    "stamped with BOTH source watermarks (multi-txn exactly-once). "
    "The oracle is the one-shot filtered join+groupBy: passing it "
    "proves four delta refreshes + a retraction reproduce the full "
    "recompute to the hash — decimal sums make the equality exact "
    "under any merge order. Built once per fixture dir.",
    tags=("E5", "E13"),
)
def revenue_join_view_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.incremental import (
        IncrementalJoinAggView,
    )
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore

    def build() -> str:
        base = artifact_dir("ivm_join_")
        fact = SnapshotStore(spark, base + "/fact", stats_cols=["okey"])
        dim = SnapshotStore(spark, base + "/dim")
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price_dec"),
            F.col("l_quantity").alias("quantity"),
        )
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"), "o_orderpriority"
        )
        view = IncrementalJoinAggView(
            spark,
            fact,
            dim,
            base + "/state",
            on=["okey"],
            keys=["o_orderpriority"],
            aggs={
                "cnt": ("count", None),
                "sum_price": ("sum", "price_dec", "decimal(38,2)"),
            },
        )
        fact.append(li.filter(F.col("okey") % 2 == 0))
        dim.append(orders.filter(F.col("okey") % 2 == 0))
        view.refresh()  # full build (first sync)
        fact.append(li.filter(F.col("okey") % 2 == 1))
        view.refresh()  # dA * B0
        dim.append(orders.filter(F.col("okey") % 2 == 1))
        view.refresh()  # A0 * dB
        fact.delete_where("quantity > 45")
        view.refresh()  # signed retraction through the join
        return base + "/state"

    state_path = memo(spark, sf_dir, "ivm/revenue_join_cdc", build)
    return (
        SnapshotStore(spark, state_path)
        .read()
        .select(
            "o_orderpriority",
            "cnt",
            F.col("sum_price").cast("double").alias("sum_price"),
        )
    )


_CMS_D = 4
_CMS_W = 64


def _cms_bucket_sql(i: int) -> str:
    return f"{md5_long_sql('CAST(user_id AS VARCHAR)', salt=f'cms{i}')} % {_CMS_W}"


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH hashed AS (
      {" UNION ALL ".join(
          f"SELECT {i} AS i, {_cms_bucket_sql(i)} AS bucket, user_id FROM events"
          for i in range(_CMS_D)
      )}
    ),
    sketch AS (
      SELECT i, bucket, count(*) AS c FROM hashed GROUP BY 1, 2
    ),
    keys AS (
      SELECT DISTINCT i, bucket, user_id FROM hashed
    ),
    truth AS (
      SELECT user_id, count(*) AS true_n FROM events GROUP BY 1
    ),
    est AS (
      SELECT k.user_id, min(c) AS est_n
      FROM keys k JOIN sketch USING (i, bucket)
      GROUP BY 1
    )
    SELECT user_id, CAST(est_n AS BIGINT) AS est_n,
           CAST(true_n AS BIGINT) AS true_n
    FROM est JOIN truth USING (user_id)
    ORDER BY est_n DESC, user_id
    LIMIT 10
    """,
    doc="Count-min-sketch heavy hitters, fully oracle-checked — the "
    "sketch itself is deterministic because the d=4 row hashes derive "
    "from the cross-engine md5 family (functions/hashing.py), so DuckDB "
    "rebuilds the identical d x w=64 counter table and the identical "
    "min-over-rows estimates. Scale shape: the sketch build is one "
    "groupBy over (row, bucket) — partial aggregation compresses every "
    "partition to at most d*w counters before the shuffle, the classic "
    "mergeable-sketch property — and the estimate join broadcasts the "
    "256-row sketch. The CMS guarantee est >= true is pinned in "
    "tests/test_analytics.py.",
    tags=("E14", "E36"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # r12: the d-row hash explode previously ran over EVERY EVENT, twice
    # (sketch build + distinct key rows), plus a third scan for truth.
    # The bucket is a pure function of user_id, so both sketch and keys
    # derive from the per-user count table: a bucket's counter is the
    # sum of its users' event counts, and a user's key rows are its d
    # buckets. One events pass (the truth groupBy), hashing ~ distinct
    # users instead of 2x events, bit-identical counters and estimates
    # (guide §2.3: aggregate before you shuffle/hash).
    truth = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    uid = F.col("user_id").cast("string")
    hashed = (
        truth.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            (md5_long(uid, salt=f"cms{i}") % _CMS_W).alias(
                                "bucket"
                            ),
                        )
                        for i in range(_CMS_D)
                    ]
                )
            ).alias("ib"),
            "user_id",
            "true_n",
        )
        .select("ib.i", "ib.bucket", "user_id", "true_n")
        .localCheckpoint(eager=False)  # feeds the sketch AND the probe side
    )
    sketch = hashed.groupBy("i", "bucket").agg(F.sum("true_n").alias("c"))
    est = (
        hashed.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_n"), F.min("true_n").alias("true_n"))
    )
    return (
        est.select("user_id", "est_n", "true_n")
        .orderBy(F.desc("est_n"), "user_id")
        .limit(10)
    )


@register(
    "customer_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             max({sql_ms("o_orderdate")}) AS last_ms,
             count(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT c.c_nationkey, p.*,
             ntile(5) OVER (PARTITION BY c.c_nationkey
                            ORDER BY last_ms DESC, o_custkey) AS r_score,
             ntile(5) OVER (PARTITION BY c.c_nationkey
                            ORDER BY freq DESC, o_custkey) AS f_score,
             ntile(5) OVER (PARTITION BY c.c_nationkey
                            ORDER BY monetary DESC, o_custkey) AS m_score
      FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    )
    SELECT CAST(r_score AS INT) || '-' || CAST(f_score AS INT)
             || '-' || CAST(m_score AS INT) AS segment,
           count(*) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE)
             AS segment_revenue
    FROM scored
    GROUP BY 1
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation: "
    "per-customer order stats, quintile scores via ntile, segment "
    "rollup. The ntile windows PARTITION BY nation (per-market "
    "segmentation) — deliberately NOT a global ntile, which would "
    "serialize the whole table through one window partition at scale; "
    "partitioned quintiles keep every window bounded by the largest "
    "market. Ties break on custkey, so quintile boundaries are "
    "deterministic in both engines.",
    tags=("E18", "E13", "E17"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(ms("o_orderdate")).alias("last_ms"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
    )
    joined = per_cust.join(
        customer.select("c_custkey", "c_nationkey"),
        per_cust.o_custkey == F.col("c_custkey"),
    )
    def quint(order_col: str):
        return F.ntile(5).over(
            W.partitionBy("c_nationkey").orderBy(
                F.desc(order_col), F.asc("o_custkey")
            )
        )

    scored = joined.select(
        "monetary",
        quint("last_ms").alias("r_score"),
        quint("freq").alias("f_score"),
        quint("monetary").alias("m_score"),
    )
    seg = F.concat_ws(
        "-",
        F.col("r_score").cast("int").cast("string"),
        F.col("f_score").cast("int").cast("string"),
        F.col("m_score").cast("int").cast("string"),
    )
    return scored.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(dec("monetary")).cast("double").alias("segment_revenue"),
    )


_WSAMPLE_K = 20
_TWO60 = float(1 << 60)


@register(
    "weighted_doc_sample",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(ln(({md5_long_sql("CAST(doc_id AS VARCHAR)", salt="wsample")}
                     + 1) / {_TWO60}) / n_chars, 9) AS sample_key
    FROM documents
    ORDER BY sample_key DESC, doc_id
    LIMIT {_WSAMPLE_K}
    """,
    doc="Weighted sampling without replacement (algorithm A-ES, "
    "Efraimidis-Spirakis): per-doc key u^(1/w) with u a deterministic "
    "md5-derived uniform and w = n_chars; the top-k keys ARE the "
    "weighted sample. Computed in log space (ln(u)/w, order-preserving) "
    "and fully distributed: one map-side projection + "
    "TakeOrderedAndProject per-partition heaps — no RNG state, no "
    "driver pass, reproducible across engines and retries. This is the "
    "100 TB way to draw a length-biased training subsample in one scan.",
    tags=("E22", "E36"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        md5_long(F.col("doc_id").cast("string"), salt="wsample") + 1
    ) / F.lit(_TWO60)
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    return (
        docs.select("doc_id", "n_chars", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(_WSAMPLE_K)
    )


@register(
    "events_table_profile",
    oracle=f"""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             count(*) - count(event_id) AS null_event_id,
             count(DISTINCT event_id) AS dist_event_id,
             CAST(min(event_id) AS DOUBLE) AS min_event_id,
             CAST(max(event_id) AS DOUBLE) AS max_event_id,
             count(*) - count(user_id) AS null_user_id,
             count(DISTINCT user_id) AS dist_user_id,
             CAST(min(user_id) AS DOUBLE) AS min_user_id,
             CAST(max(user_id) AS DOUBLE) AS max_user_id,
             count(*) - count(value) AS null_value,
             count(DISTINCT value) AS dist_value,
             min(value) AS min_value,
             max(value) AS max_value,
             count(*) - count(ts) AS null_ts,
             count(DISTINCT ts) AS dist_ts,
             CAST({sql_ms("min(ts)")} AS DOUBLE) AS min_ts,
             CAST({sql_ms("max(ts)")} AS DOUBLE) AS max_ts,
             count(*) - count(event_type) AS null_event_type,
             count(DISTINCT event_type) AS dist_event_type,
             min(event_type) AS smin_event_type,
             max(event_type) AS smax_event_type
      FROM events
    )
    SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num,
           min_str, max_str
    FROM (
      SELECT 'event_id' AS col_name, n_rows, null_event_id AS n_nulls,
             dist_event_id AS n_distinct, min_event_id AS min_num,
             max_event_id AS max_num, NULL AS min_str, NULL AS max_str
      FROM agg
      UNION ALL
      SELECT 'user_id', n_rows, null_user_id, dist_user_id,
             min_user_id, max_user_id, NULL, NULL FROM agg
      UNION ALL
      SELECT 'value', n_rows, null_value, dist_value,
             min_value, max_value, NULL, NULL FROM agg
      UNION ALL
      SELECT 'ts', n_rows, null_ts, dist_ts, min_ts, max_ts, NULL, NULL
      FROM agg
      UNION ALL
      SELECT 'event_type', n_rows, null_event_type, dist_event_type,
             NULL, NULL, smin_event_type, smax_event_type FROM agg
    )
    """,
    doc="Single-pass dataset profiler (the describe/Deequ-analyzer "
    "shape): per column — row count, null count, exact distinct count, "
    "typed min/max (numeric as double, timestamps as epoch-ms doubles, "
    "strings verbatim) — unpivoted to one long-format row per column. "
    "One scan; the multiple exact COUNT(DISTINCT)s plan through "
    "Spark's Expand operator (one duplicated pass per distinct column). "
    "At 100 TB swap the exact distincts for approx_count_distinct / "
    "HLL sketches (the `daily_user_sketch_rollup` machinery) — the "
    "unpivot scaffold and every other measure stay identical.",
    tags=("E13", "E14", "E17"),
)
def events_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.profile import profile_table

    # widen (r12): five exact COUNT(DISTINCT)s plan an Expand 6x over
    # the single-split scan; hash-widen runs it cluster-wide
    # (1.78 -> 1.34 s solo at sf0.1)
    events = load_table(spark, sf_dir, "events", widen=True)
    return profile_table(
        events, cols=["event_id", "user_id", "value", "ts", "event_type"]
    )


@register(
    "part_table_profile",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             count(*) - count(p_partkey) AS null_pk,
             count(DISTINCT p_partkey) AS dist_pk,
             CAST(min(p_partkey) AS DOUBLE) AS min_pk,
             CAST(max(p_partkey) AS DOUBLE) AS max_pk,
             count(*) - count(p_name) AS null_name,
             count(DISTINCT p_name) AS dist_name,
             min(p_name) AS smin_name, max(p_name) AS smax_name,
             count(*) - count(p_brand) AS null_brand,
             count(DISTINCT p_brand) AS dist_brand,
             min(p_brand) AS smin_brand, max(p_brand) AS smax_brand,
             count(*) - count(p_type) AS null_type,
             count(DISTINCT p_type) AS dist_type,
             min(p_type) AS smin_type, max(p_type) AS smax_type,
             count(*) - count(p_size) AS null_size,
             count(DISTINCT p_size) AS dist_size,
             CAST(min(p_size) AS DOUBLE) AS min_size,
             CAST(max(p_size) AS DOUBLE) AS max_size,
             count(*) - count(p_retailprice) AS null_price,
             count(DISTINCT p_retailprice) AS dist_price,
             min(p_retailprice) AS min_price, max(p_retailprice) AS max_price
      FROM part
    )
    SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num,
           min_str, max_str
    FROM (
      SELECT 'p_partkey' AS col_name, n_rows, null_pk AS n_nulls,
             dist_pk AS n_distinct, min_pk AS min_num, max_pk AS max_num,
             NULL AS min_str, NULL AS max_str FROM agg
      UNION ALL
      SELECT 'p_name', n_rows, null_name, dist_name, NULL, NULL,
             smin_name, smax_name FROM agg
      UNION ALL
      SELECT 'p_brand', n_rows, null_brand, dist_brand, NULL, NULL,
             smin_brand, smax_brand FROM agg
      UNION ALL
      SELECT 'p_type', n_rows, null_type, dist_type, NULL, NULL,
             smin_type, smax_type FROM agg
      UNION ALL
      SELECT 'p_size', n_rows, null_size, dist_size, min_size, max_size,
             NULL, NULL FROM agg
      UNION ALL
      SELECT 'p_retailprice', n_rows, null_price, dist_price,
             min_price, max_price, NULL, NULL FROM agg
    )
    """,
    doc="Schema-driven profiler on a second table (op E13/E14/E17): "
    "the same operators/profile.py profile_table over part — the "
    "measure list and stack unpivot derive from df.schema, proving the "
    "profiler generalizes beyond the hand-picked events columns. One "
    "scan, exact distincts via Expand; exact_distinct=False swaps in "
    "HLL approx_count_distinct for the 100 TB path.",
    tags=("E13", "E14", "E17"),
)
def part_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "part"))


@register(
    "event_transition_matrix",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT prev_type, sum(n) AS total FROM pairs GROUP BY 1
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / total AS p
    FROM pairs JOIN totals USING (prev_type)
    """,
    doc="First-order Markov transition matrix over the per-user event "
    "sequence: lag(event_type) within user, transition counts, and "
    "row-normalized probabilities P(next|prev). One window pass on the "
    "user_id key + one partial-aggregated count shuffle; the totals "
    "table is |event types| rows and broadcasts. The session-behavior "
    "model every product-analytics stack derives.",
    tags=("E19", "E13"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    # ^ |types|^2 rows, feeds totals AND the final join — pin so the
    # fact-sized window + count run once per execution (r12, §2.4)
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("total"))
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("p"),
    )


@register(
    "theta_audience_overlap",
    oracle=None,  # DataSketches theta estimates have no DuckDB counterpart;
    # accuracy vs exact set sizes is pinned in tests/test_sketches.py
    doc="Audience overlap via theta sketches (the set-operation sketch "
    "HLL cannot do): per-event-type theta sketch of user_id, then "
    "|view UNION purchase|, |view INTERSECT purchase| and "
    "|view EXCEPT purchase| estimated sketch-side. Theta sketches are "
    "mergeable — build per partition/day, combine with "
    "theta_union_agg — so audience overlap at 100 TB is a "
    "sketch-rollup read, not a distinct-join; exactness pinned within "
    "2% in tests/test_sketches.py.",
    tags=("E14",),
)
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id")).alias("sk")
    )
    view = sk.filter(F.col("event_type") == "view").select(
        F.col("sk").alias("sk_view")
    )
    buy = sk.filter(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sk_buy")
    )
    both = view.crossJoin(buy)  # 1 row x 1 row
    return both.select(
        F.theta_sketch_estimate(F.col("sk_view")).alias("est_view"),
        F.theta_sketch_estimate(F.col("sk_buy")).alias("est_purchase"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("sk_view"), F.col("sk_buy"))
        ).alias("est_union"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_view"), F.col("sk_buy"))
        ).alias("est_intersection"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_view"), F.col("sk_buy"))
        ).alias("est_view_only"),
    )


@register(
    "kll_value_quantiles",
    oracle=None,  # KLL quantile estimates have no DuckDB counterpart;
    # rank-error accuracy is pinned in tests/test_sketches.py
    doc="Streaming-mergeable quantiles via KLL sketches (Karnin-Lang-"
    "Liberty): per-event-type p50/p90/p99 of value from one "
    "kll_sketch_agg_double pass. Unlike percentile_disc (whole-group "
    "buffer per reducer) and approx_percentile (GK, not mergeable "
    "across stores), KLL sketches union associatively — per-day "
    "sketches roll up to any window, the same pattern as the HLL/theta "
    "rollups; merge==direct and rank-error bounds pinned in "
    "tests/test_sketches.py.",
    tags=("E14", "E17"),
)
def kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output carries its own accuracy audit: ``max_rank_err`` is the
    worst |true rank of estimate - target rank| across the three
    quantiles (one exact rank pass), ``within_bound`` asserts it under
    the KLL k=200 guarantee (~1.65% normalized rank error; 0.05 bound
    leaves slack for small groups) — the committed result proves the
    sketch met its contract, not just that rows came back."""
    events = load_table(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(
        F.kll_sketch_agg_double(F.col("value")).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    est = sk.select(
        "event_type",
        "n",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias("p90"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.99)).alias(
            "p99"
        ),
    )
    # exact rank audit: fraction of the group's values <= each estimate;
    # the estimates are |event_type| rows -> broadcast join, one agg
    ranked = events.join(F.broadcast(est), "event_type")

    def rank_of(q: str):
        return F.avg((F.col("value") <= F.col(q)).cast("double"))

    audit = ranked.groupBy("event_type").agg(
        rank_of("p50").alias("_r50"),
        rank_of("p90").alias("_r90"),
        rank_of("p99").alias("_r99"),
    )
    return (
        est.join(audit, "event_type")
        .select(
            "event_type",
            "n",
            "p50",
            "p90",
            "p99",
            F.greatest(
                F.abs(F.col("_r50") - 0.5),
                F.abs(F.col("_r90") - 0.9),
                F.abs(F.col("_r99") - 0.99),
            ).alias("max_rank_err"),
            F.lit(0.05).alias("err_bound"),
        )
        .withColumn("within_bound", F.col("max_rank_err") <= F.col("err_bound"))
        .orderBy("event_type")
    )


@register(
    "bitmap_distinct_rollup",
    oracle=f"""
    WITH daily AS (
      SELECT {sql_ms("date_trunc('day', ts)")} AS day_ms,
             count(DISTINCT user_id) AS day_users
      FROM events GROUP BY 1
    ),
    span AS (SELECT count(DISTINCT user_id) AS span_users FROM events)
    SELECT day_ms, day_users, span_users FROM daily CROSS JOIN span
    """,
    doc="EXACT mergeable distinct counts via bitmap aggregates — the "
    "third distinct-count tier next to exact COUNT(DISTINCT) (full "
    "shuffle of the keys) and HLL/theta sketches (approximate): "
    "bitmap_construct_agg folds each (day, 2^15-id bucket) to one "
    "bitmap, daily counts sum bitmap_count per day, and the span total "
    "OR-merges the SAME daily bitmaps — no second scan of the raw "
    "events, and unlike HLL the rollup stays exact. At 100 TB the "
    "persisted per-bucket bitmaps are the incremental state: a new "
    "day's data ORs in, any date range reads as a bitmap_or_agg. State "
    "is |buckets| x 4 KB per day, partial-aggregated before the "
    "shuffle. Oracle: plain COUNT(DISTINCT) at both grains.",
    tags=("E14", "E13"),
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_bucket = events.select(
        ms(F.date_trunc("day", F.col("ts"))).alias("day_ms"),
        F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
        F.bitmap_bit_position(F.col("user_id")).alias("pos"),
    )
    daily_maps = per_bucket.groupBy("day_ms", "bkt").agg(
        F.bitmap_construct_agg(F.col("pos")).alias("bm")
    )
    daily = daily_maps.groupBy("day_ms").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("day_users")
    )
    span = (
        daily_maps.groupBy("bkt")
        .agg(F.bitmap_or_agg(F.col("bm")).alias("bm"))
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("span_users"))
    )
    return daily.crossJoin(F.broadcast(span)).select(
        "day_ms", "day_users", "span_users"
    )


@register(
    "user_activity_streaks",
    oracle=f"""
    WITH user_day AS (
      SELECT DISTINCT user_id,
             CAST({sql_ms("date_trunc('day', ts)")} // {_DAY_MS} AS BIGINT)
               AS day_idx
      FROM events
    ),
    islands AS (
      SELECT user_id, day_idx,
             day_idx - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day_idx) AS island
      FROM user_day
    ),
    streaks AS (
      SELECT user_id, count(*) AS streak_len,
             min(day_idx) AS streak_start_day, max(day_idx) AS streak_end_day
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, streak_len, streak_start_day, streak_end_day
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY streak_len DESC,
                                            streak_start_day) AS rn
      FROM streaks
    ) WHERE rn = 1
    """,
    doc="Longest consecutive-day activity streak per user — the "
    "gaps-and-islands pattern: distinct user-days, day_idx minus "
    "row_number collapses each consecutive run to one island id, one "
    "groupBy sizes the islands, a ranked pick keeps the longest "
    "(earliest on ties). Everything partitions on user_id: the distinct "
    "projection is the only full-data shuffle, the window and island "
    "aggregation reuse its partitioning.",
    tags=("E18", "E13"),
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    user_day = events.select(
        "user_id",
        (ms(F.date_trunc("day", F.col("ts"))) / _DAY_MS)
        .cast("long")
        .alias("day_idx"),
    ).distinct()
    islands = user_day.withColumn(
        "island",
        F.col("day_idx")
        - F.row_number().over(W.partitionBy("user_id").orderBy("day_idx")),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day_idx").alias("streak_start_day"),
        F.max("day_idx").alias("streak_end_day"),
    )
    ranked = streaks.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(
                F.desc("streak_len"), F.asc("streak_start_day")
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id", "streak_len", "streak_start_day", "streak_end_day"
    )


@register(
    "monthly_revenue_mom",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr,
             CAST(date_part('month', o_orderdate) AS INT) AS mo,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM monthly
    )
    SELECT yr, mo, revenue,
           revenue / total AS share_of_total,
           revenue - lag(revenue) OVER (ORDER BY yr, mo) AS mom_delta,
           revenue / lag(revenue) OVER (ORDER BY yr, mo) - 1 AS mom_pct
    FROM monthly CROSS JOIN tot
    """,
    doc="Month-over-month revenue report: exact-decimal monthly sums, "
    "share-of-total (ratio_to_report), and lag-based MoM delta/pct. "
    "The lag window is global but over ONE ROW PER MONTH — the "
    "aggregation has already collapsed the data, so the single-partition "
    "window moves |months| rows, not |orders|; the grand total joins "
    "back as a 1-row broadcast. Divisions/subtractions are single IEEE "
    "ops on decimal-derived doubles, written identically in both "
    "engines.",
    tags=("E13", "E19", "E17"),
)
def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(dec("o_totalprice")).cast("double").alias("revenue"))
    # ~months rows, feeds the grand total AND the window projection —
    # pin so the fact groupBy runs once (r12, §2.4)
    monthly = monthly.localCheckpoint(eager=False)
    tot = monthly.agg(
        F.sum(dec("revenue")).cast("double").alias("total")
    )
    w = W.orderBy("yr", "mo")
    return (
        monthly.crossJoin(F.broadcast(tot))
        .select(
            "yr",
            "mo",
            "revenue",
            (F.col("revenue") / F.col("total")).alias("share_of_total"),
            (F.col("revenue") - F.lag("revenue").over(w)).alias("mom_delta"),
            (F.col("revenue") / F.lag("revenue").over(w) - 1).alias("mom_pct"),
        )
    )


_KM_CONV_VALUE = 150.0  # qualifying-purchase threshold (~45% convert)


@register(
    "user_churn_km",
    oracle=f"""
    WITH spans AS (
      SELECT user_id,
             min({sql_ms("date_trunc('day', ts)")}) AS first_ms,
             max({sql_ms("date_trunc('day', ts)")}) AS last_ms
      FROM events GROUP BY 1
    ),
    conv AS (
      SELECT user_id, min({sql_ms("date_trunc('day', ts)")}) AS conv_ms
      FROM events
      WHERE event_type = 'purchase' AND value >= {_KM_CONV_VALUE}
      GROUP BY 1
    ),
    obs AS (
      SELECT CAST((COALESCE(conv_ms, last_ms) - first_ms)
                  // {_DAY_MS} AS BIGINT) AS t,
             CASE WHEN conv_ms IS NULL THEN 0 ELSE 1 END AS event
      FROM spans LEFT JOIN conv USING (user_id)
    ),
    per_t AS (
      SELECT t,
             CAST(SUM(event) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS ended
      FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             CAST((SELECT count(*) FROM obs) AS BIGINT)
               - CAST(COALESCE(SUM(ended) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM per_t
    ),
    terms AS (
      SELECT t, d, n_risk,
             CASE WHEN d > 0 AND d < n_risk THEN
               CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
                    AS DECIMAL(18,12))
             ELSE CAST(0 AS DECIMAL(18,12)) END AS term
      FROM risk
    )
    SELECT t, d, n_risk,
           CAST(SUM(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS DOUBLE) AS ln_survival
    FROM terms
    WHERE d > 0 AND d < n_risk
    """,
    doc="KAPLAN-MEIER survival analysis of time-to-conversion: days "
    "from a user's first activity to their first HIGH-VALUE purchase "
    "(value >= 150, ~45% of the cohort converts); users who never "
    "convert are RIGHT-CENSORED at their last active day — the "
    "loss-to-follow-up structure that makes K-M differ from the "
    "naive converter-only CDF (censored users inflate early risk "
    "sets, then exit). Reported in LOG space: ln S(t) = sum over "
    "event days i <= t of ln(1 - d_i/n_i) — the product form would "
    "need exp(), whose libm results differ across engines, while the "
    "log terms follow the established ln-round-9 + decimal-cast "
    "discipline and the cumulative sum is exact. d_i/n_i are "
    "exact-integer IEEE divisions; at-risk counts derive from "
    "per-day exit counts by reverse cumulative sum (the standard "
    "deaths-before-censors tie convention: both exit AFTER being at "
    "risk on their day). Scale: two shuffles to per-user spans and "
    "first-conversions (the only fact-sized stages), then every "
    "window runs over distinct lifetime-day rows (bounded by the "
    "observation span, ~tens); the cohort total joins as a 1-row "
    "broadcast (allowlisted scalar-combine BNLJ).",
    tags=("E13", "E17", "E19"),
)
def user_churn_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = ms(F.date_trunc("day", F.col("ts")))
    spans = ev.groupBy("user_id").agg(
        F.min(day).alias("first_ms"), F.max(day).alias("last_ms")
    )
    conv = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= _KM_CONV_VALUE)
        )
        .groupBy("user_id")
        .agg(F.min(day).alias("conv_ms"))
    )
    obs = spans.join(conv, "user_id", "left").select(
        (
            (F.coalesce(F.col("conv_ms"), F.col("last_ms")) - F.col("first_ms"))
            / _DAY_MS
        )
        .cast("bigint")
        .alias("t"),
        F.when(F.col("conv_ms").isNull(), 0).otherwise(1).alias("event"),
        # feeds per_t AND the cohort total — pin so the two fact-sized
        # groupBys + the span/conversion join run once (r12, §2.4)
    ).localCheckpoint(eager=False)
    per_t = obs.groupBy("t").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("ended"),
    )
    total = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = per_t.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("ended").over(w_prev), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    p = F.col("d").cast("double") / F.col("n_risk")
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.round(F.log(F.lit(1.0) - p), 9).cast("decimal(18,12)"),
    ).otherwise(F.lit(0).cast("decimal(18,12)"))
    w_cum = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return (
        risk.withColumn("term", term)
        .withColumn(
            "ln_survival", F.sum("term").over(w_cum).cast("double")
        )
        .filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
        .select("t", "d", "n_risk", "ln_survival")
    )


@register(
    "order_priority_entropy",
    oracle="""
    WITH c AS (
      SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr,
             CAST(date_part('month', o_orderdate) AS INT) AS mo,
             o_orderpriority, count(*) AS cnt
      FROM orders GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT yr, mo, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY yr, mo) AS BIGINT) AS tot
      FROM c
    )
    SELECT yr, mo, max(tot) AS n_orders,
           CAST(-SUM(CAST(
             (CAST(cnt AS DOUBLE) / tot)
             * round(ln(CAST(cnt AS DOUBLE) / tot), 9)
             AS DECIMAL(18,12))) AS DOUBLE) AS entropy
    FROM w GROUP BY 1, 2
    """,
    doc="Monthly Shannon entropy of the order-priority mix — the "
    "categorical drift monitor a training-data pipeline runs on label "
    "/ source distributions (a collapsing mix shows up as entropy "
    "falling toward 0 long before any single share alarms). Exactness "
    "discipline: shares are exact-integer IEEE divisions, ln() is "
    "rounded to 9dp BEFORE the multiply (libm divergence guard, same "
    "as corpus_zipf_fit), and the per-priority terms are decimal-cast "
    "so the final sum is addition-order independent. Scale: one "
    "shuffle to (month, priority) counts; the window runs over "
    "months x 5 priorities, never raw orders.",
    tags=("E13", "E17"),
)
def order_priority_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    c2 = c.withColumn(
        "tot", F.sum("cnt").over(W.partitionBy("yr", "mo"))
    )
    p = F.col("cnt").cast("double") / F.col("tot")
    term = (p * F.round(F.log(p), 9)).cast("decimal(18,12)")
    return c2.groupBy("yr", "mo").agg(
        F.max("tot").alias("n_orders"),
        (-F.sum(term)).cast("double").alias("entropy"),
    )


@register(
    "part_supplier_hhi",
    oracle="""
    WITH s AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS srev
      FROM lineitem GROUP BY 1, 2
    ),
    w AS (
      SELECT l_partkey, srev,
             SUM(srev) OVER (PARTITION BY l_partkey) AS tot
      FROM s
    )
    SELECT l_partkey AS partkey,
           count(*) AS n_sup,
           CAST(SUM(CAST(
             (CAST(srev AS DOUBLE) / CAST(tot AS DOUBLE))
             * (CAST(srev AS DOUBLE) / CAST(tot AS DOUBLE))
             AS DECIMAL(18,12))) AS DOUBLE) AS hhi
    FROM w GROUP BY 1
    """,
    doc="Herfindahl-Hirschman supplier-concentration index per part: "
    "sum of squared revenue shares over the part's suppliers (1.0 = "
    "single-sourced, 1/n = evenly split) — the sourcing-risk rollup. "
    "Exactness: supplier revenues are exact decimal sums; the part "
    "total is a DECIMAL window sum (associative, order-free); shares "
    "convert to double once and square as a single IEEE multiply; "
    "squared shares decimal-cast before the final sum. Scale: one "
    "shuffle to (part, supplier), then a window + regroup over the "
    "supplier-level rows — fan-in bounded by suppliers-per-part, "
    "never raw lineitems.",
    tags=("E13", "E17"),
)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: ONE exchange instead of two-plus-a-window-sort. Hashing the
    # raw scan by l_partkey up front lets BOTH aggregations reuse the
    # partitioning (HashPartitioning(part) satisfies the clustered
    # distribution of a (part, supp) groupBy — subset rule), and the
    # per-part total folds into the second aggregate, so the window
    # (exchange + sort over supplier rows) disappears. The HHI sum
    # runs as an array fold with a decimal(25,12) accumulator:
    # (25,12)+(18,12) -> (26,12) stays under the 38-precision cap, so
    # every add is exact and order-free — collect_list order cannot
    # matter and the result is bit-identical to the window form
    # (asserted row-for-row at sf0.1 before the switch; alternating
    # A/B best-of-4: 1.71 -> 0.92 s).
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    ).repartition("l_partkey")
    s = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_extendedprice")).alias("srev")
    )
    g = s.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.count(F.lit(1)).alias("n_sup"),
        F.sum("srev").alias("tot"),
        F.collect_list("srev").alias("revs"),
    )
    sq = F.transform(
        F.col("revs"),
        lambda r: (
            (r.cast("double") / F.col("tot").cast("double"))
            * (r.cast("double") / F.col("tot").cast("double"))
        ).cast("decimal(18,12)"),
    )
    hhi = F.aggregate(
        sq,
        F.lit(0).cast("decimal(25,12)"),
        lambda a, x: (a + x).cast("decimal(25,12)"),
    ).cast("double")
    return g.select("partkey", "n_sup", hhi.alias("hhi"))


@register(
    "cumulative_unique_users",
    oracle=f"""
    WITH first_day AS (
      SELECT user_id,
             min({sql_ms("date_trunc('day', ts)")}) AS first_ms
      FROM events GROUP BY 1
    ),
    new_per_day AS (
      SELECT first_ms AS day_ms, count(*) AS new_users
      FROM first_day GROUP BY 1
    )
    SELECT day_ms, new_users,
           CAST(sum(new_users) OVER (ORDER BY day_ms
                                     ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users
    FROM new_per_day
    """,
    doc="Cumulative distinct users over time WITHOUT a running distinct "
    "aggregate: attribute each user to their first-touch day (one "
    "groupBy), count new users per day, prefix-sum the per-day counts. "
    "A naive cumulative COUNT(DISTINCT) window re-deduplicates the "
    "whole prefix per day; this shape shuffles each user once and runs "
    "its only window over |days| rows. The standard growth-curve "
    "rewrite.",
    tags=("E13", "E21"),
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(ms(F.date_trunc("day", F.col("ts")))).alias("first_ms")
    )
    new_per_day = first_day.groupBy(
        F.col("first_ms").alias("day_ms")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = W.orderBy("day_ms").rowsBetween(W.unboundedPreceding, 0)
    return new_per_day.select(
        "day_ms",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@register(
    "event_value_winsorized",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             quantile_disc(value, 0.01) AS lo,
             quantile_disc(value, 0.99) AS hi
      FROM events GROUP BY 1
    )
    SELECT event_id, e.event_type, value,
           CASE WHEN value < lo THEN lo
                WHEN value > hi THEN hi ELSE value END AS value_w,
           CAST(value < lo OR value > hi AS BOOLEAN) AS clipped
    FROM events e JOIN cuts USING (event_type)
    """,
    doc="Percentile winsorization (feature clipping, the standard "
    "outlier treatment before model training): per-event-type p01/p99 "
    "order statistics, values clipped into the band, clip flag kept "
    "for audit. percentile_disc picks ACTUAL data values, so the "
    "cutoffs are bit-exact across engines with no interpolation "
    "arithmetic. DEMO-SCALE FORM: exact order statistics buffer each "
    "group on one reducer (see price_percentiles); the scale path "
    "swaps the cuts CTE for approx_percentile / KLL quantiles "
    "(kll_value_quantiles) — the clipping join is broadcast either "
    "way.",
    tags=("E17", "E6", "demo-scale"),
)
def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pd_ = F.expr(
        "percentile_disc(array(0.01, 0.99)) WITHIN GROUP (ORDER BY value)"
    )
    cuts = events.groupBy("event_type").agg(pd_.alias("_p")).select(
        "event_type",
        F.col("_p")[0].alias("lo"),
        F.col("_p")[1].alias("hi"),
    )
    return events.join(F.broadcast(cuts), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("value_w"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


@register(
    "part_revenue_abc",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM per_part
    ),
    ranked AS (
      SELECT l_partkey, revenue,
             CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
                  OVER (ORDER BY revenue DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev
      FROM per_part
    )
    SELECT abc_class, count(*) AS n_parts,
           CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
             AS class_revenue
    FROM (
      SELECT revenue,
             CASE WHEN cum_rev / total <= 0.8 THEN 'A'
                  WHEN cum_rev / total <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked CROSS JOIN tot
    )
    GROUP BY 1
    """,
    doc="Pareto / ABC inventory classification: parts ranked by revenue, "
    "cumulative-share cut at 80%%/95%%. The global running sum runs "
    "over ONE ROW PER PART post-aggregation through functions/rank.py"
    "'s adaptive_cumsum: a one-task window while the part table fits, "
    "flipping to the two-pass range-partitioned prefix sum past 64k "
    "parts (TPC-H part counts scale linearly with SF, so at warehouse "
    "scale the distributed branch is the live one). Cumulative sums "
    "are decimal-exact in BOTH branches (the distributed prefix "
    "offsets accumulate in Python decimal), so the share thresholds "
    "cut identically in both engines; the grand total is a 1-row "
    "broadcast.",
    tags=("E21", "E13", "E17"),
)
def part_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.functions.rank import adaptive_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("revenue")
    )
    ranked = adaptive_cumsum(
        per_part,
        [F.desc("revenue"), F.asc("l_partkey")],
        dec("revenue"),
        sum_name="_cum",
    ).withColumn("cum_rev", F.col("_cum").cast("double"))
    # grand total off the PINNED cumsum input (adaptive_cumsum
    # checkpoints it), not a second lineitem aggregation
    tot = ranked.agg(
        F.sum(dec("revenue")).cast("double").alias("total")
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "revenue",
        F.when(F.col("cum_rev") / F.col("total") <= 0.8, "A")
        .when(F.col("cum_rev") / F.col("total") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(dec("revenue")).cast("double").alias("class_revenue"),
    )


_RULE_MIN_SUPPORT = 2
_RULE_TOP = 20


@register(
    "basket_association_rules",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    item AS (SELECT l_partkey, count(*) AS item_n FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS pair_n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_RULE_MIN_SUPPORT}
    )
    SELECT ante, cons, pair_n,
           ia.item_n AS ante_n, ic.item_n AS cons_n,
           CAST(pair_n AS DOUBLE) / ia.item_n AS confidence,
           CAST(pair_n AS DOUBLE) * n_orders
             / (CAST(ia.item_n AS DOUBLE) * ic.item_n) AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = ante
    JOIN item ic ON ic.l_partkey = cons
    CROSS JOIN n
    ORDER BY lift DESC, ante, cons
    LIMIT {_RULE_TOP}
    """,
    doc="Market-basket association rules (support / confidence / lift): "
    "co-purchase pairs over distinct order baskets, rule strength as "
    "lift = P(a,b)/(P(a)P(b)). Unlike PMI this needs NO transcendental "
    "— counts are integers and lift is two IEEE ops, so no rounding "
    "convention at all. Scale shape: the pair count is the bounded "
    "per-basket fan-out (see copurchase_graph_stats), item marginals "
    "broadcast, top-20 is TakeOrderedAndProject.",
    tags=("E5", "E13", "E22"),
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    # r12: n_orders rides the plan as a 1-row scalar-combine crossJoin
    # (the part_revenue_abc idiom) instead of an eager driver count —
    # the distinct-count job previously ran sequentially before the
    # main action every execution. item is computed ONCE (lazy
    # checkpoint): the ante/cons broadcasts alias columns differently,
    # so exchange reuse never fired and each rebuilt distinct+groupBy
    # from the scan.
    n_df = (
        li.select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("_n_orders"))
    )
    item = (
        op.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("item_n"))
        .localCheckpoint(eager=False)
    )
    # pair support from the memoized basket-fold pair table (one
    # shuffle, shared with the whole co-purchase family) instead of a
    # two-shuffle self-join: distinct per-order baskets make the fold
    # count each unordered pair once per order, identical to the
    # DISTINCT self-join count the oracle uses. The memo is built at
    # the family threshold; this guard fails loud if the constants
    # ever diverge (a looser rule threshold would need its own build).
    assert _RULE_MIN_SUPPORT >= _COPURCHASE_MIN_ORDERS
    pairs = (
        _copurchase_edges_counted(spark, sf_dir)
        .filter(F.col("n_ord") >= _RULE_MIN_SUPPORT)
        .select(
            F.col("pa").alias("ante"),
            F.col("pb").alias("cons"),
            F.col("n_ord").alias("pair_n"),
        )
    )
    ia = item.select(F.col("l_partkey").alias("ante"), F.col("item_n").alias("ante_n"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("item_n").alias("cons_n"))
    return (
        pairs.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(n_df))
        .select(
            "ante",
            "cons",
            "pair_n",
            "ante_n",
            "cons_n",
            (F.col("pair_n").cast("double") / F.col("ante_n")).alias(
                "confidence"
            ),
            (
                F.col("pair_n").cast("double") * F.col("_n_orders")
                / (F.col("ante_n").cast("double") * F.col("cons_n"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ante", "cons")
        .limit(_RULE_TOP)
    )


@register(
    "event_dow_hour_heatmap",
    oracle=f"""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(date_part('hour', ts) AS INT) AS hour,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="Activity heatmap (dow x hour-of-day): the seasonality matrix "
    "every ops dashboard draws. One partial-aggregated shuffle onto at "
    "most 7x24 groups — the reduction is all map-side at any scale. "
    "Spark's dayofweek is 1=Sunday..7, DuckDB's 0=Sunday..6 -- the oracle adds 1.",
    tags=("E13", "R15"),
)
def event_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("value_sum"),
    )


@register(
    "event_touch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id, {sql_ms("ts")} AS p_ms, value
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS t_id, user_id, {sql_ms("ts")} AS t_ms,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    j AS (
      SELECT p.p_id, p.value, t.t_id, t.t_ms, t.channel
      FROM p LEFT JOIN t
        ON p.user_id = t.user_id
       AND t.t_ms < p.p_ms AND t.t_ms >= p.p_ms - 86400000
    ),
    per_purchase AS (
      SELECT p_id,
             any_value(value) AS value,
             count(t_id) AS n,
             arg_min(channel, t_ms * 1000000 + t_id) AS first_channel,
             arg_max(channel, t_ms * 1000000 + t_id) AS last_channel
      FROM j GROUP BY p_id
    ),
    per_channel AS (
      SELECT p_id, channel, count(*) AS cnt
      FROM j WHERE t_id IS NOT NULL GROUP BY p_id, channel
    ),
    linear_credit AS (
      SELECT c.channel, 'linear' AS model,
             CAST((pp.value * c.cnt) / pp.n AS DECIMAL(18,6)) AS credit
      FROM per_channel c JOIN per_purchase pp USING (p_id)
    ),
    first_credit AS (
      SELECT coalesce(first_channel, 'direct') AS channel,
             'first_touch' AS model,
             CAST(value AS DECIMAL(18,6)) AS credit
      FROM per_purchase
    ),
    last_credit AS (
      SELECT coalesce(last_channel, 'direct') AS channel,
             'last_touch' AS model,
             CAST(value AS DECIMAL(18,6)) AS credit
      FROM per_purchase
    ),
    direct_linear AS (
      SELECT 'direct' AS channel, 'linear' AS model,
             CAST(value AS DECIMAL(18,6)) AS credit
      FROM per_purchase WHERE n = 0
    ),
    unioned AS (
      SELECT * FROM linear_credit UNION ALL SELECT * FROM first_credit
      UNION ALL SELECT * FROM last_credit UNION ALL SELECT * FROM direct_linear
    )
    SELECT channel, model,
           CAST(sum(credit) AS DOUBLE) AS credited,
           count(*) AS n_conversions
    FROM unioned GROUP BY channel, model
    """,
    doc="Multi-touch marketing attribution (op E13/E9 composition): each "
    "purchase's value is credited to the user's click/view touches in "
    "the preceding 24 h under three standard models — first-touch, "
    "last-touch, linear — with zero-touch purchases credited to "
    "'direct'. Shape: ONE user_id equi-join carries the time-range "
    "predicate (pair fan-out bounded per user, the same posture as the "
    "as-of join), then two partial-aggregated groupBys onto "
    "purchase-grain and channel-grain; all credit sums are decimal-"
    "exact, linear shares computed (value*cnt)/n in both engines. "
    "min_by/max_by tie-break on (ts, event_id) is total, so first/last "
    "channels are deterministic (the oracle encodes the pair as "
    "ts_ms*1e6+event_id — same order while ids < 1e6, true for every "
    "fixture; Spark keeps the unencoded struct, the scale-safe form).",
    tags=("E13", "E9", "E23"),
)
def event_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        ms("ts").alias("p_ms"),
        "value",
    )
    t = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        ms("ts").alias("t_ms"),
        F.col("event_type").alias("channel"),
    )
    # r12: the purchase<-touch window join feeds BOTH aggregates and
    # per_purchase feeds FOUR union branches — unchecked, the plan
    # executed the scan+join subtree five times (once per branch; the
    # min_by/max_by SortAggregates defeat exchange reuse). Lazy
    # localCheckpoints materialize the join fan-out once and the
    # purchase-grain aggregate once (guide §2.4 / §3.3 plan-truncation).
    j = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ms") < F.col("p_ms"))
        & (F.col("t_ms") >= F.col("p_ms") - F.lit(86_400_000)),
        "left",
    ).localCheckpoint(eager=False)
    order_key = F.struct(F.col("t_ms"), F.col("t_id"))
    per_purchase = j.groupBy("p_id").agg(
        F.any_value("value").alias("value"),
        F.count("t_id").alias("n"),
        F.min_by("channel", order_key).alias("first_channel"),
        F.max_by("channel", order_key).alias("last_channel"),
    ).localCheckpoint(eager=False)
    per_channel = (
        j.filter(F.col("t_id").isNotNull())
        .groupBy("p_id", "channel")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dec_t = "decimal(18,6)"
    # purchase-grain frame, checkpoint hides its size from the planner:
    # broadcast explicitly (SMJ otherwise — 2 sort exchanges for a dim-
    # sized side). r13 (ADVICE): per_purchase grows with the fact table,
    # so SIZE-GATE the hint — purchases are a subset of events, so the
    # events footer row count (free metadata) bounds its cardinality;
    # past the gate, drop the hint and let AQE pick the join from
    # runtime stats (~60 B/row keeps the worst case near 120 MB).
    from ccxt_ohlcv_fetcher_spark.sources.tables import _parquet_footer_stats

    n_events = _parquet_footer_stats(f"{sf_dir}/events.parquet")[0]
    pp_build = (
        F.broadcast(per_purchase) if n_events <= 2_000_000 else per_purchase
    )
    linear = per_channel.join(pp_build, "p_id").select(
        "channel",
        F.lit("linear").alias("model"),
        ((F.col("value") * F.col("cnt")) / F.col("n")).cast(dec_t).alias("credit"),
    )
    first = per_purchase.select(
        F.coalesce("first_channel", F.lit("direct")).alias("channel"),
        F.lit("first_touch").alias("model"),
        F.col("value").cast(dec_t).alias("credit"),
    )
    last = per_purchase.select(
        F.coalesce("last_channel", F.lit("direct")).alias("channel"),
        F.lit("last_touch").alias("model"),
        F.col("value").cast(dec_t).alias("credit"),
    )
    direct_linear = per_purchase.filter(F.col("n") == 0).select(
        F.lit("direct").alias("channel"),
        F.lit("linear").alias("model"),
        F.col("value").cast(dec_t).alias("credit"),
    )
    unioned = linear.unionByName(first).unionByName(last).unionByName(direct_linear)
    return unioned.groupBy("channel", "model").agg(
        F.sum("credit").cast("double").alias("credited"),
        F.count(F.lit(1)).alias("n_conversions"),
    )


@register(
    "user_time_to_convert",
    oracle=f"""
    WITH t AS (
      SELECT user_id, {sql_ms("min(ts)")} AS first_touch_ms
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min({sql_ms("e.ts")}) AS first_purchase_ms
      FROM events e JOIN t ON e.user_id = t.user_id
      WHERE e.event_type = 'purchase'
        AND {sql_ms("e.ts")} >= t.first_touch_ms
      GROUP BY e.user_id
    )
    SELECT t.user_id, t.first_touch_ms, p.first_purchase_ms,
           (p.first_purchase_ms - t.first_touch_ms) // 60000 AS mins_to_convert
    FROM t JOIN p ON t.user_id = p.user_id
    """,
    doc="Time-to-convert funnel metric (op E13/E5): per user, the gap "
    "between the first touch (view/click) and the first purchase at "
    "or after it — the latency distribution every conversion funnel "
    "reports. Integer epoch-ms arithmetic end to end (the division "
    "keeps integer semantics: Spark's bigint DIV matches DuckDB's "
    "integer //). Two partial-aggregated groupBys and one user-keyed "
    "join — co-partitioned on the same key at scale.",
    tags=("E13", "E5"),
)
def user_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t = (
        events.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .agg(F.min(ms("ts")).alias("first_touch_ms"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(t, "user_id")
        .filter(ms("ts") >= F.col("first_touch_ms"))
        .groupBy("user_id")
        .agg(F.min(ms("ts")).alias("first_purchase_ms"))
    )
    return t.join(p, "user_id").select(
        "user_id",
        "first_touch_ms",
        "first_purchase_ms",
        F.expr("(first_purchase_ms - first_touch_ms) DIV 60000").alias(
            "mins_to_convert"
        ),
    )


@register(
    "copurchase_k_core",
    # Peeling is a data-dependent fixpoint, but each round's rule is
    # deterministic and the k-core is UNIQUE, so running the peel a
    # fixed 50 rounds (the distributed loop's max_rounds) in a DuckDB
    # recursive CTE reaches the same fixpoint: rounds past the fixpoint
    # are identity steps. Degrees inside the recursive term come from
    # two window counts over the BI-DIRECTED edge rows (the relation is
    # symmetric, so count-by-src == degree for both endpoints) — this
    # keeps the recursive reference single-use, which recursive CTEs
    # require. An empty core degenerates identically on both sides:
    # the working table empties, no it=50 rows exist, result is empty.
    oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_COPURCHASE_MIN_ORDERS}
    ),
    bi AS (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL SELECT pb, pa FROM edges
    ),
    peel AS (
      SELECT src, dst, 0 AS it FROM bi
      UNION ALL
      SELECT src, dst, it + 1
      FROM (
        SELECT src, dst, it,
               count(*) OVER (PARTITION BY src) AS deg_src,
               count(*) OVER (PARTITION BY dst) AS deg_dst
        FROM peel
      )
      WHERE deg_src >= 2 AND deg_dst >= 2 AND it < 50
    )
    SELECT src AS v, count(*) AS core_deg
    FROM peel WHERE it = 50 GROUP BY 1
    """,
    doc="k-core dense kernel of the co-purchase graph (graph tier, "
    "operators/graph.py:k_core): iterative peeling to the unique "
    "maximal subgraph of minimum degree >= 2, then per-vertex core "
    "degree — the dense-community seed filter. One degree groupBy + "
    "two semi-joins per round, lineage cut per round, driver sync is "
    "one scalar count (the CC/PageRank iterative shape). Output: "
    "surviving vertices with their in-core degree. ORACLE-EXACT "
    "against a DuckDB recursive-CTE peel (fixed 50 rounds == the "
    "distributed loop's max_rounds; identity past the fixpoint), plus "
    "the pure-Python peeling reference pinned in tests/test_analytics.py "
    "on crafted graphs.",
    tags=("E13", "E5"),
)
def copurchase_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.graph import k_core

    core = k_core(_copurchase_edges(spark, sf_dir), k=2, src="pa", dst="pb")
    return (
        core.select(F.col("src").alias("v"))
        .unionAll(core.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )


@register(
    "event_conversion_paths",
    oracle=f"""
    WITH fp AS (
      SELECT user_id, min({sql_ms("ts")}) AS p_ms
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    pre AS (
      SELECT e.user_id,
             list(e.event_type
                  ORDER BY {sql_ms("e.ts")}, e.event_id) AS types
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE {sql_ms("e.ts")} <= fp.p_ms
      GROUP BY e.user_id
    ),
    paths AS (
      SELECT array_to_string(types, '>') AS path FROM pre
    )
    SELECT path, count(*) AS n_users
    FROM paths GROUP BY path
    HAVING count(*) >= 2
    """,
    doc="Top conversion paths (op E13/E25; the path-analysis report "
    "behind funnel design): per converting user, the ordered event-"
    "type sequence up to and including the FIRST purchase, grouped "
    "into path strings with >= 2 users. Deterministic ordering "
    "((ts, event_id) total order) makes the path strings hash-exact. "
    "One user-keyed join + one sorted collect per user — sequence "
    "length is bounded by a user's own pre-conversion history, the "
    "same per-key posture as the session patterns.",
    tags=("E13", "E25", "E18"),
)
def event_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(ms("ts")).alias("p_ms"))
    )
    pre = (
        events.join(fp, "user_id")
        .filter(ms("ts") <= F.col("p_ms"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        ms("ts").alias("t"),
                        F.col("event_id").alias("i"),
                        F.col("event_type").alias("y"),
                    )
                )
            ).alias("seq")
        )
    )
    paths = pre.select(
        F.array_join(
            F.transform(F.col("seq"), lambda r: r["y"]), ">"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= 2)
    )
