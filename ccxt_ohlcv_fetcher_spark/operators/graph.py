"""Graph ranking operators (beyond-§2 analytics tier).

Connected components / triangle counting live in ``operators/dedup.py``
(they grew out of the dup-group closure); this module holds the
rank-propagation family. Design rule shared with the dedup CC loop:
iterative state is cut with ``localCheckpoint`` on a cadence, the edge
table is checkpointed ONCE with its degree pre-joined, and all
arithmetic is fixed-point BIGINT so results are reduction-order
independent (and therefore oracle-exact cross-engine).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.session import scoped_conf

PAGERANK_UNIT = 10**12  # fixed-point: 1.0 == 10^12

# ~bytes per (long, long, long)-ish loop row; the estimate only has to
# land the right order of magnitude for the partition derivation
_LOOP_ROW_BYTES = 48
_LOOP_TARGET_PARTITION_BYTES = 64 << 20


@contextmanager
def loop_conf(
    spark, est_rows: int, aqe_off: bool = False, row_bytes: int = _LOOP_ROW_BYTES
):
    """Scale an iterative loop's shuffle width to its WORKING SET
    (guide §2.2: size partitions from the data, don't inherit a
    constant tuned for another regime). Iterative graph loops shuffle
    the same small per-round tables 10-50 times; at demo scale those
    tables are a few MB, so session-width AQE-waved stages per round
    are pure scheduling — while at 100 TB the derived count meets or
    exceeds the session conf and this scope is a NO-OP.

    ``aqe_off`` additionally removes AQE's per-shuffle-stage job
    materialization for the loop — applied only in the same small-
    working-set regime (the no-op branch keeps AQE at scale, where its
    per-round skew/broadcast decisions are worth the latency).
    Measured (alternating min-of-4, sf0.1): part_pagerank 1.77->0.77 s,
    part_pagerank_personalized 2.55->1.72 s, copurchase_k_core
    1.38->0.98 s; connected-components label loops keep AQE on
    (0.86 s with vs 0.93 s without). Shuffle width and AQE never
    change results — every loop here is order-free integer arithmetic.
    """
    try:
        session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        session = spark.sparkContext.defaultParallelism
    derived = max(
        2,
        -(-max(est_rows, 1) * row_bytes // _LOOP_TARGET_PARTITION_BYTES),
    )
    if derived >= session:
        yield
        return
    conf = {"spark.sql.shuffle.partitions": str(derived)}
    if aqe_off:
        conf["spark.sql.adaptive.enabled"] = "false"
    with scoped_conf(spark, conf):
        yield


def pagerank_prepare(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The iteration-invariant PageRank prep: the degree-joined edge
    table and the vertex table, both checkpointed. Split out (r12) so
    callers running SEVERAL pageranks over the same graph (plain +
    personalized on the shared co-purchase edges) build it once per
    session instead of once per call — pass the result via
    ``pagerank_fixed_point(prepared=...)``. Values are exactly what
    the inline build produced (integer degree sums are order-free)."""
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    bi = edges.select(*cols, w.alias("w"))
    verts = (
        bi.select(F.col("src").alias("v"))
        .unionAll(bi.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    deg = bi.groupBy(F.col("src").alias("v")).agg(F.sum("w").alias("deg"))
    wedges = (
        bi.join(deg, bi["src"] == deg["v"]).select("src", "dst", "w", "deg")
    ).localCheckpoint()
    return wedges, verts


def pagerank_fixed_point(
    edges: DataFrame,
    n_iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    rejoin_receiverless: bool = True,
    checkpoint_every: int = 3,
    stop_on_fixpoint: bool = False,
    personalize: DataFrame | None = None,
    prepared: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Damped (d=0.85) PageRank over a DIRECTED edge list, in
    fixed-point BIGINT arithmetic (1.0 = ``PAGERANK_UNIT``, floor
    division everywhere).

    Integer sums are addition-order independent, so the result is
    bit-stable across partitionings and engines — a float PageRank
    diverges in the last ulps on reduction order and can never
    hash-match an oracle. Floor rounding leaks ≤1 unit (1e-12) per
    contribution per round: bounded, deterministic, identical in any
    conforming reimplementation (pinned in tests against a pure-Python
    simulator).

    ``weight`` names an integer edge-weight column: a vertex's mass
    splits proportionally, ``contrib = rank * w // W_src`` with
    ``W_src`` the total out-weight (unweighted = all weights 1;
    weights must be positive BIGINTs small enough that
    ``rank * w`` stays under 2^63 — rank ≤ 10^12, so w up to ~10^6).

    ``stop_on_fixpoint`` ends the loop early when a round reproduces
    the PREVIOUS round's rank table exactly — a true period-1 fixpoint
    (integer ranks make bit-equality a meaningful convergence test;
    float PageRank needs an epsilon). Checked on checkpoint rounds
    only (one bounded exceptAll job per cadence). Caveat: exact
    integer dynamics on bipartite-ish graphs can orbit a period-2+
    cycle and never hit a period-1 fixpoint — those runs simply use
    the full ``n_iters`` cap (pinned in tests with an oscillating
    path graph).

    ``personalize``: a one-column DataFrame of SEED vertices makes
    this PERSONALIZED PageRank (random-walk-with-restart): the
    restart mass concentrates uniformly on the seeds instead of all
    vertices — ``p_v = UNIT // |S|`` for seeds, 0 elsewhere; the
    per-round update becomes ``rank_v = (15 * p_v) // 100 +
    (85 * in_mass) // 100`` and the walk STARTS at the restart
    distribution. Non-seed vertices unreachable from a seed converge
    to exactly 0 (integer floor keeps that exact). Costs one extra
    per-round left join of the per-vertex base table (the
    personalized analogue of the receiverless rejoin, which it
    subsumes). Seeds not present in the graph are ignored; an empty
    effective seed set raises.

    Vertices = every endpoint appearing in ``edges``; a vertex with no
    OUT-edges contributes nothing (standard dangling simplification —
    for undirected graphs pass both edge directions and none exist).
    Per round: one equi-join of ranks onto the degree-carrying edge
    table + one groupBy(dst) — two shuffles over (edge, rank) rows;
    rank lineage cut on the checkpoint cadence. Returns (v, rank) with
    rank BIGINT.

    ``prepared``: a ``pagerank_prepare(...)`` result (degree-joined
    edge table, vertex table). When passed, it REPLACES the
    ``edges``/``src``/``dst``/``weight`` arguments entirely — the
    caller must have built it from the same graph and weighting it
    wants ranked (a prep from a different graph silently produces that
    graph's ranks). Passing ``weight`` alongside ``prepared`` raises,
    since the weight could not be honored.
    """
    if prepared is not None:
        if weight is not None:
            raise ValueError(
                "prepared= already encodes the edge weighting; "
                "weight= cannot be honored alongside it"
            )
        # iteration-invariant prep from pagerank_prepare: skip the
        # per-call degree join / vertex distinct / checkpoint jobs
        wedges, verts = prepared
    else:
        cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
        w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
        bi = edges.select(*cols, w.alias("w"))
        verts = (
            bi.select(F.col("src").alias("v"))
            .unionAll(bi.select(F.col("dst").alias("v")))
            .distinct()
        )
        deg = bi.groupBy(F.col("src").alias("v")).agg(F.sum("w").alias("deg"))
        wedges = (
            bi.join(deg, bi["src"] == deg["v"]).select("src", "dst", "w", "deg")
        ).localCheckpoint()
    spark = wedges.sparkSession
    # the degree-joined edge table IS the per-round working set; its
    # count is a cheap job over the checkpoint's materialized blocks
    n_edges = wedges.count()
    with loop_conf(spark, n_edges, aqe_off=True):
        return _pagerank_loop(
            wedges, verts, n_iters, rejoin_receiverless,
            checkpoint_every, stop_on_fixpoint, personalize,
        )


def _pagerank_loop(
    wedges: DataFrame,
    verts: DataFrame,
    n_iters: int,
    rejoin_receiverless: bool,
    checkpoint_every: int,
    stop_on_fixpoint: bool,
    personalize: DataFrame | None,
) -> DataFrame:
    basedf = None
    if personalize is not None:
        seed_col = personalize.columns[0]
        seeds = (
            personalize.select(F.col(seed_col).alias("v"))
            .distinct()
            .join(verts, "v", "left_semi")
        )
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("personalize: no seed vertex is in the graph")
        p0 = PAGERANK_UNIT // n_seeds
        basedf = (
            verts.join(seeds.withColumn("_s", F.lit(1)), "v", "left")
            .select(
                "v",
                F.when(F.col("_s").isNotNull(), F.lit(p0))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("p0"),
                F.when(F.col("_s").isNotNull(), F.lit((15 * p0) // 100))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("base_fp"),
            )
            .localCheckpoint()
        )
        ranks = basedf.select("v", F.col("p0").alias("rank"))
    else:
        n = verts.count()  # the one driver-side scalar (bounded)
        u0 = PAGERANK_UNIT // n
        base = (15 * u0) // 100
        ranks = verts.select("v", F.lit(u0).cast("long").alias("rank"))
    for i in range(n_iters):
        if basedf is not None:
            inmass = (
                wedges.join(ranks, wedges["src"] == ranks["v"])
                .select("dst", F.expr("rank * w DIV deg").alias("contrib"))
                .groupBy(F.col("dst").alias("v"))
                .agg(F.sum("contrib").alias("inmass"))
            )
            nxt = basedf.join(inmass, "v", "left").select(
                "v",
                (
                    F.col("base_fp")
                    + F.expr("85 * coalesce(inmass, 0L) DIV 100")
                )
                .cast("long")
                .alias("rank"),
            )
        else:
            nxt = (
                wedges.join(ranks, wedges["src"] == ranks["v"])
                .select("dst", F.expr("rank * w DIV deg").alias("contrib"))
                .groupBy(F.col("dst").alias("v"))
                .agg(
                    (F.lit(base) + F.expr("85 * sum(contrib) DIV 100"))
                    .cast("long")
                    .alias("rank")
                )
            )
            if rejoin_receiverless:
                # vertices receiving no mass this round keep only the
                # base term (possible in directed graphs; never for
                # bi-directed edge lists, where callers skip this
                # third shuffle)
                nxt = nxt.join(verts, "v", "right").select(
                    "v",
                    F.coalesce("rank", F.lit(base).cast("long")).alias("rank"),
                )
        # cut lineage every few rounds, not every round: checkpoint
        # materialization costs a full write of the rank table, and a
        # 2-3-round join/agg plan is still shallow — the CC lesson
        # tempered by measurement (8.0 -> ~5 s at sf0.1)
        if (i + 1) % checkpoint_every == 0 or i == n_iters - 1:
            nxt = nxt.localCheckpoint()
            # true period-1 fixpoint: this round == the previous round
            # (`ranks` is at most checkpoint_every-1 rounds of shallow
            # lineage, so the compare is cheap)
            if stop_on_fixpoint and nxt.exceptAll(ranks).isEmpty():
                return nxt
        ranks = nxt
    return ranks


def pagerank_reference_py(
    edge_list: list[tuple[int, int]] | list[tuple[int, int, int]],
    n_iters: int = 10,
    seeds: set | None = None,
) -> dict[int, int]:
    """Pure-Python single-threaded replica of the exact integer
    arithmetic above — the test oracle for crafted graphs. Edge tuples
    are (src, dst) or (src, dst, weight); ``seeds`` switches to the
    personalized restart distribution."""
    norm = [(e[0], e[1], e[2] if len(e) > 2 else 1) for e in edge_list]
    verts = sorted({v for s, d, _ in norm for v in (s, d)})
    out: dict[int, list[tuple[int, int]]] = {v: [] for v in verts}
    for s, d, w in norm:
        out[s].append((d, w))
    if seeds is None:
        u0 = PAGERANK_UNIT // len(verts)
        p = {v: u0 for v in verts}
    else:
        eff = sorted(set(seeds) & set(verts))
        p0 = PAGERANK_UNIT // len(eff)
        p = {v: (p0 if v in set(eff) else 0) for v in verts}
    base = {v: (15 * p[v]) // 100 for v in verts}
    rank = dict(p)
    for _ in range(n_iters):
        incoming = {v: 0 for v in verts}
        for s, ds in out.items():
            if not ds:
                continue
            total_w = sum(w for _, w in ds)
            for d, w in ds:
                incoming[d] += rank[s] * w // total_w
        rank = {v: base[v] + (85 * incoming[v]) // 100 for v in verts}
    return rank


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph in which
    every vertex has degree >= k — the standard "dense kernel" filter
    (community seeds, spam/bot rings, robust co-occurrence cores).

    Algorithm: iterative peeling. Each round drops vertices whose
    CURRENT degree is < k and removes their incident edges; peeling one
    vertex can demote its neighbors, so rounds repeat until a fixpoint.
    The fixpoint is the k-core regardless of peel order (the k-core is
    unique), so the result is deterministic even though the loop is
    data-dependent.

    Shape per round: one degree groupBy + two semi-joins on the
    surviving vertex set — the same one-shuffle-per-round iterative
    posture as connected_components, with ``localCheckpoint`` cutting
    lineage each round and a driver-side count as the convergence
    test (a bounded scalar sync, not a data collect). Rounds are
    bounded by the graph's degeneracy ordering depth — tiny for real
    graphs; ``max_rounds`` guards pathological chains (a path graph
    peels one end per round).

    Input ``edges`` must carry each undirected edge ONCE (src < dst);
    output: the surviving edges in the same orientation.
    """
    # lazy checkpoints throughout the peel loop: the count right after
    # each checkpoint is that round's first action, so it materializes
    # the checkpoint in the same job — one scheduled job per round
    # instead of two (the connected_components r12 lesson)
    cur = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=False)
    n_prev = cur.count()
    # the peel loop's working set only shrinks from here, so the
    # initial edge count bounds every round (see loop_conf)
    with loop_conf(edges.sparkSession, n_prev, aqe_off=True):
        for _ in range(max_rounds):
            if n_prev == 0:
                break
            both = cur.select(F.col("src").alias("v")).unionAll(
                cur.select(F.col("dst").alias("v"))
            )
            keep = (
                both.groupBy("v")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("v")
            )
            nxt = (
                cur.join(keep.withColumnRenamed("v", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("v", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
            n = nxt.count()
            if n == n_prev:
                break
            cur, n_prev = nxt, n
    return cur


def k_core_reference_py(edges: list[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    """Pure-Python peeling reference for tests (same fixpoint)."""
    cur = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            return cur
        cur = nxt


def degrees(
    edges: DataFrame, src: str = "pa", dst: str = "pb"
) -> DataFrame:
    """Undirected vertex degrees of a deduplicated edge list:
    (v, deg). Vertex-sized output; one shuffle."""
    return (
        edges.select(F.col(src).alias("v"))
        .unionAll(edges.select(F.col(dst).alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def enumerate_triangles(
    edges: DataFrame,
    src: str = "pa",
    dst: str = "pb",
    deg: DataFrame | None = None,
) -> DataFrame:
    """Each triangle of an undirected, deduplicated edge list exactly
    once, as (a, b, c) ordered by the orientation o(v) = (deg(v), v).

    This is the DEGREE-ORDERED orientation (Chiba-Nishizeki / the
    MapReduce triangle-counting standard): every edge points from its
    o-smaller to its o-larger endpoint, wedges form only at each
    triangle's o-MINIMUM apex, and the closing edge is looked up in
    its (unique) oriented form by an EQUI join. The payoff is the
    skew guard the plain ID orientation does not give: a vertex's
    forward degree under o is O(sqrt(m)) regardless of its raw degree
    (a high-degree hub's edges almost all point INTO it), so the
    two-path fan-out per row — the term that explodes on power-law
    graphs — is bounded by sqrt(edge count), not by hub degree.
    Costs one vertex-sized degree join per endpoint over the plain
    form; all joins remain equi-joins on the edge list.
    """
    if deg is None:
        deg = degrees(edges, src, dst)
    da = deg.select(F.col("v").alias(src), F.col("deg").alias("_da"))
    db = deg.select(F.col("v").alias(dst), F.col("deg").alias("_db"))
    e = edges.join(da, src).join(db, dst)
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col(src) < F.col(dst))
    )
    oriented = e.select(
        F.when(a_first, F.col(src)).otherwise(F.col(dst)).alias("u"),
        F.when(a_first, F.col(dst)).otherwise(F.col(src)).alias("w"),
        F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("_dw"),
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    # wedge at the shared o-min apex u, neighbors o-ordered b before c
    wedge = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u"))
        & (
            (F.col("e1._dw") < F.col("e2._dw"))
            | (
                (F.col("e1._dw") == F.col("e2._dw"))
                & (F.col("e1.w") < F.col("e2.w"))
            )
        ),
    )
    # the closing edge b-c, if present, is oriented b -> c (o(b) < o(c))
    return wedge.join(
        e3,
        (F.col("e3.u") == F.col("e1.w")) & (F.col("e3.w") == F.col("e2.w")),
    ).select(
        F.col("e1.u").alias("a"),
        F.col("e1.w").alias("b"),
        F.col("e2.w").alias("c"),
    )


def local_clustering(
    edges: DataFrame,
    src: str = "pa",
    dst: str = "pb",
    deg: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex LOCAL clustering coefficient over an undirected,
    deduplicated edge list: ``lcc(v) = 2*t(v) / (deg(v)*(deg(v)-1))``,
    rows only for ``deg >= 2`` (the coefficient is undefined below).

    Triangles come from :func:`enumerate_triangles` (degree-ordered
    orientation — two-path fan-out bounded by O(sqrt(m)) forward
    degree, the real skew guard), each counted once toward all three
    corners via a 3-way explode. Shuffles touch only the edge list
    and vertex-sized frames; counts are exact bigints and the final
    division is exact-int IEEE double division (deterministic
    cross-engine).

    ``deg`` / ``tri`` let a caller inject precomputed (possibly
    memoized) degree and triangle frames — they must equal
    :func:`degrees` / :func:`enumerate_triangles` of ``edges``.

    Output: (v, deg, tri, lcc).
    """
    if deg is None:
        deg = degrees(edges, src, dst)
    if tri is None:
        tri = enumerate_triangles(edges, src, dst, deg=deg)
    tv = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    t = F.coalesce(F.col("tri"), F.lit(0))
    return (
        deg.join(tv, "v", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "v",
            "deg",
            t.cast("bigint").alias("tri"),
            (
                (F.lit(2) * t).cast("double")
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("lcc"),
        )
    )
