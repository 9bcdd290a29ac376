"""Co-purchase graph queries: parts are nodes, and two parts share an
edge when some order holds both. Seven audits read that one graph —
triangle counts (exact and sampled), the k-core peel, the degree
distribution, Adamic-Adar link prediction and its holdout evaluation,
and degree assortativity.

The graph is built in ONE place per engine: ``copurchase_edges`` (the
lineitem self-join on ``l_orderkey``, u < v, distinct) and its oracle
twin ``COPURCHASE_EDGES_SQL``. Each query keeps its own barrier choice
on top of it (lazy cut, eager cut, persisted partitioned symmetric
edges, or none), because each was measured separately; the builder
does not branch on who calls it.

Reference context: SURVEY.md §2.4 ABSENT (the reference engine has no
joins — this is the beyond-parity graph plane).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_query_engine.operators import cut_lineage, release_on_drop
from spark_query_engine.queries import footer_rows, load, query

#: The co-purchase edge relation in oracle SQL — the twin of
#: ``copurchase_edges`` without a ``keep`` predicate (oracles filter
#: the distinct edges instead; the predicates are pure functions of
#: (u, v), so the rows are the same).
COPURCHASE_EDGES_SQL = """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey"""


def copurchase_edges(
    spark: SparkSession, sf_dir: str, keep: Column | None = None
) -> DataFrame:
    """The lazy, distinct co-purchase edge relation ``(u, v)``, u < v.
    The optional ``keep`` predicate over ``(u, v)`` is applied BEFORE
    the distinct: it is a deterministic function of the edge key, so
    the order is immaterial to the result, but filtering first sends
    only the kept pairs into the dedup shuffle."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    if keep is not None:
        pairs = pairs.where(keep)
    return pairs.distinct()


def degrees(ed: DataFrame) -> DataFrame:
    """Degree table ``(n, d)`` of an undirected edge set ``(u, v)`` in
    ONE explode pass (r11): the former two-branch union re-ran every
    branch's upstream work over the edge relation."""
    return (
        ed.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _degrees_sql(ed: str) -> str:
    return f"""SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM {ed} UNION ALL SELECT v FROM {ed}
            ) GROUP BY n"""


def _md5_coin(nhex: int, *key: str | Column) -> Column:
    """The repo's seeded, portable coin: the first ``nhex`` hex digits
    of md5 over the ':'-joined key, as a long — DuckDB computes the
    same value as ``('0x' || substr(md5(key), 1, nhex))::BIGINT``.
    String parts name edge columns (cast to string); Column parts
    (salts) are used as-is."""
    parts = [F.col(k).cast("string") if isinstance(k, str) else k for k in key]
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", *parts)), 1, nhex), 16, 10
    ).cast("long")


def _session_shuffle_parts(spark: SparkSession) -> int:
    """The session's shuffle width, tolerant of non-numeric values
    ("auto" under some AQE/coalesce setups) — fall back to Spark's
    default so callers' ``max()`` clamps stay monotone (ADVICE r6)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


#: Broadcast gate for the triangle closing join, in EXACT edges: the
#: callers compare the ``count()`` of their lineage-cut edge relation
#: (the job that materializes the cut) against it. The closing relation
#: is two longs per edge; 4M edges is ~64 MB raw (~a few hundred MB as
#: a built broadcast hash relation) — safely inside driver/executor
#: memory here while staying far from the 8 GB / 512M-row broadcast
#: cap. Past it the shuffled closing join with `wp` widening is used —
#: the measured-at-sf1 scale path (SCALING.md r5).
_TRI_BROADCAST_MAX_EDGES = 4_000_000


def _oriented_triangles(
    ed, deg, wp: int, session_parts: int, broadcast_close: bool
):
    """Degree-oriented wedge-join triangle count (Cohen 2009 /
    Suri-Vassilvitskii WWW'11) over an undirected edge set ``ed``
    (columns u < v) with degree table ``deg`` (n, d): orient every
    edge from its lower-(degree, id) endpoint, self-join oriented
    edges on the pivot to form wedges, close each wedge against the
    edge set. Orientation bounds out-degree by O(√m), so the wedge
    relation is O(m^1.5) worst-case with no hub blowup, and every
    triangle is generated exactly once. Returns a 1-row DataFrame
    ``n_triangles``. ``wp`` widens the wedge-scale shuffles past the
    session default when the caller's footer sizing asks for it.

    ``broadcast_close`` (r12, guide §3.1/§3.2): the closing join's
    big side is the O(m^1.5) WEDGE relation and its small side the
    O(m) edge set — broadcasting the edge set removes the wedge-scale
    Exchange entirely (the wedges are hash-probed map-side where they
    are produced). Callers gate this on the exact edge count against
    ``_TRI_BROADCAST_MAX_EDGES``: the broadcast build holds the whole
    edge relation on the driver and every executor, so past the gate
    the shuffled closing join (with ``wp`` widening) remains the
    scale-safe path. Only effective combined with a lineage cut on
    ``ed`` — without the cut, building the broadcast re-runs the edge
    subtree (measured SLOWER than the shuffle at sf0.1, r12 A/B).

    Shared by the exact ``graph_triangle_count`` and the DOULION-
    sampled ``graph_triangle_sampled`` (which passes the sampled edge
    set — the algorithm is sampling-agnostic)."""
    du = deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv")
    oriented = (
        ed.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    )
    if wp > session_parts:
        oriented = oriented.repartition(wp, "s")
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(F.col("e1.t").alias("x"), F.col("e2.t").alias("y"))
    if wp > session_parts and not broadcast_close:
        # e1.t < e2.t makes x < y by construction, so (x, y) is the
        # canonical undirected key the closing join shuffles on —
        # widen that exchange explicitly. (With a broadcast closing
        # side there is no wedge exchange to widen.)
        wedges = wedges.repartition(wp, "x", "y")
    # close the wedge: the third edge may be oriented either way
    closing = ed.select(
        F.least("u", "v").alias("cx"), F.greatest("u", "v").alias("cy")
    )
    if broadcast_close:
        closing = F.broadcast(closing)
    return wedges.join(
        closing,
        (F.col("x") == F.col("cx")) & (F.col("y") == F.col("cy")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "graph_triangle_count",
    oracle=f"""
        WITH ed AS ({COPURCHASE_EDGES_SQL}),
        deg AS ({_degrees_sql("ed")}),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM ed e1
            JOIN ed e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN ed e3 ON e3.u = e1.v AND e3.v = e2.v
        )
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM ed) AS n_edges,
               (SELECT CAST(COALESCE(SUM(d * (d - 1) / 2), 0) AS BIGINT)
                FROM deg) AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles,
               (SELECT CASE WHEN COALESCE(SUM(d * (d - 1) / 2), 0) = 0
                            THEN 0.0
                            ELSE ROUND(3.0 * (SELECT n_triangles FROM tri)
                                       / SUM(d * (d - 1) / 2), 6) END
                FROM deg) AS transitivity
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global transitivity over the co-purchase
    graph (parts linked when they share an order) — the graph-quality
    audit behind community detection and recommendation features.

    The Spark plan uses the DEGREE-ORIENTED algorithm (Cohen 2009 /
    Suri-Vassilvitskii WWW'11): orient every edge from its
    lower-(degree, id) endpoint to the higher one, build wedges by
    self-joining oriented edges on the pivot, and close each wedge
    with a semi-ish join against the oriented edge set. Orientation
    bounds each node's out-degree by O(√m), so the wedge relation —
    the term that explodes on skewed (power-law) graphs if you pivot
    on raw adjacency — is Σ out_deg² = O(m^1.5) worst-case instead of
    Σ deg² with hub blowup. Every triangle is generated EXACTLY once
    (from its minimum-order vertex), so no /3 correction and no
    double counting.

    Three shuffles end-to-end (edge distinct, degree agg + broadcast
    back, wedge join keyed on the pivot); the closing join is keyed on
    the full (v, w) edge pair. The oracle counts triangles by the
    i<j<k brute-force join — same integers, different algorithm."""
    # r12 OPT (guide §3.3/§5): LAZY lineage cut on the edge relation —
    # `ed` feeds deg, both orientation sides, AND the closing join;
    # the cut materializes it once (the gate's count below is that
    # job) and every consumer (including the broadcast build) reads
    # the leaf instead of re-planning the lineitem self-join +
    # distinct. Alternating A/B at sf0.1 (min-of-4): 11.35 s -> 7.07 s
    # together with the broadcast closing join; broadcast WITHOUT the
    # cut measured 18.5 s (the broadcast build re-ran the edge subtree).
    ed = cut_lineage(copurchase_edges(spark, sf_dir), eager=False)
    # r11 OPT: degree via ONE explode pass (`degrees`); n_edges below
    # moves off `ed` entirely (sum(d)/2 over the node-scale degree
    # relation). Fresh-session min-of-6 at sf0.1: 10.93 s -> 7.36 s.
    deg = degrees(ed)
    # Size the wedge-scale shuffles to the WEDGE relation, not the
    # session default: at sf1 the oriented wedge relation reaches
    # ~1.5 B rows (~24 GB at 16 B/row) and a 32-partition shuffle
    # spills — round-5 measurement (SCALING.md): 32→52.4 s,
    # 128→35.1 s, 256→36.7 s. The knob is anchored to that
    # measurement via the one scalar available WITHOUT a pre-pass
    # job: the lineitem row count (parquet-footer count, ~0.1 s).
    # 6 M rows → the measured-optimal 128 partitions, linear in
    # rows, never below the session default, capped at 4096. When
    # the resolved width equals the session default (all SF ≤ 0.3
    # locally) the plan is left untouched — no repartition nodes,
    # no extra exchange.
    li_rows = footer_rows(spark, sf_dir, "lineitem")
    session_parts = _session_shuffle_parts(spark)
    wp = max(session_parts, min(4096, (li_rows * 128) // 6_000_000))
    # r12 OPT (guide §3.1/§3.2): the closing join's big side is the
    # O(m^1.5) wedge relation, its small side the O(m) edge set —
    # broadcast the edge set when its exact count fits the gate
    # (1.196M edges at sf0.1) so the wedges are closed map-side with
    # NO wedge-scale Exchange. Past the gate the shuffled path with
    # `wp` widening remains (the 100 TB-safe shape).
    tri = _oriented_triangles(
        ed,
        deg,
        wp,
        session_parts,
        broadcast_close=ed.count() <= _TRI_BROADCAST_MAX_EDGES,
    )
    # n_edges = sum(d)/2 exactly (every edge contributes two degree
    # ends); reading it off the node-scale deg relation removes the
    # last full-pass consumer of `ed` outside the wedge machinery.
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint"),
            F.lit(0),
        ).alias("n_wedges"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("bigint")
        .alias("n_edges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("transitivity"),
    )


#: Sampled-triangle budget: the smallest gate threshold t ∈ [16, 256]
#: with t³·n_lineitem ≥ 256³·20000 — i.e. p³·n ≥ 20000 with p = t/256.
#: Triangles grow ~linearly in n on this corpus (measured: 414 k at
#: 60 k lineitem rows, 1.88 M at 600 k), so p³ ∝ 1/n keeps the
#: EXPECTED SAMPLED TRIANGLE COUNT constant (~65 k) at every scale:
#: the estimator's relative error stays ~1/√65k ≈ 0.4 % from sf0.01
#: to 100 TB while the wedge-join cost falls as p². Pure integer
#: arithmetic so Spark (Python) and DuckDB (range scan) derive the
#: IDENTICAL threshold with zero float-boundary risk.
_TRI_SAMPLE_BUDGET = 256**3 * 20_000  # = 335_544_320_000


def _tri_sample_threshold(n_lineitem: int) -> int:
    for t in range(16, 257):
        if t * t * t * n_lineitem >= _TRI_SAMPLE_BUDGET:
            return t
    return 256


@query(
    "graph_triangle_sampled",
    oracle=f"""
        WITH nli AS (SELECT COUNT(*) AS n FROM lineitem),
        cfg AS (
            SELECT COALESCE(
                (SELECT MIN(t) FROM range(16, 257) r(t), nli
                  WHERE t * t * t * nli.n >= 335544320000),
                256) AS thr
        ),
        ed AS ({COPURCHASE_EDGES_SQL}),
        sed AS (
            SELECT u, v FROM ed
            WHERE ('0x' || substr(md5('tri:' || u::VARCHAR
                   || ':' || v::VARCHAR), 1, 2))::BIGINT
                  < (SELECT thr FROM cfg)
        ),
        tri AS (
            SELECT COUNT(*) AS t
            FROM sed e1
            JOIN sed e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN sed e3 ON e3.u = e1.v AND e3.v = e2.v
        )
        SELECT thr AS thr_256,
               thr / 256.0 AS sample_p,
               (SELECT COUNT(*) FROM sed) AS n_edges_sampled,
               ROUND((SELECT COUNT(*) FROM sed) * 256.0 / thr, 3)
                   AS est_edges,
               (SELECT t FROM tri) AS n_tri_sampled,
               ROUND((SELECT t FROM tri) * 16777216.0
                     / (thr * thr * thr), 3) AS est_triangles
        FROM cfg
    """,
)
def graph_triangle_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION-style sampled triangle count (Tsourakakis et al., KDD
    2009) — the priced SCALE TIER for the one superlinear heavyweight
    in the registry: exact triangle counting is Θ(m^1.5) in the wedge
    join (``graph_triangle_count``, measured exp 0.90 / 116 s at sf3),
    while edge-sampling at probability p counts triangles on a p-thinned
    graph and unbiases by 1/p³, cutting the wedge relation by p².

    Sampling is SEEDED and PORTABLE (the repo's standard md5 trick):
    an edge survives iff the first byte of md5('tri:u:v') < t, with
    t ∈ [16, 256] the smallest integer where t³·n_lineitem ≥ 256³·2e4
    (see ``_tri_sample_threshold`` — integer arithmetic, so the DuckDB
    oracle replays the EXACT same sample and the driver hash-matches
    bit-for-bit; the estimator's accuracy vs the exact count is
    asserted separately, SCALING.md r11). p³ ∝ 1/n keeps the expected
    sampled-triangle count ~65 k at every scale: constant ~0.4 %
    relative error while cost falls — at sf0.01 t=178 (p=0.70), at
    sf0.1 t=83 (p=0.32), at sf1 t=39 (p=0.15), at sf3 t=27 (p=0.11).

    The gate is applied BELOW the distinct (it is a pure function of
    the edge key), so the edge-dedup shuffle itself shrinks by p —
    only the co-purchase pair enumeration runs at full scale, and that
    is a single co-partitioned self-join on l_orderkey. Estimates for
    BOTH edges and triangles are exact binary arithmetic (p = t/256 is
    an exact double; 1/p³ = 2²⁴/t³ applied as integer-scaled double
    division) so the two engines agree to the last bit.

    r10 verdict task 1."""
    li_rows = footer_rows(spark, sf_dir, "lineitem")
    thr = _tri_sample_threshold(li_rows)
    # r12 OPT: same lazy lineage cut as the exact query — `sed` feeds
    # deg, both orientation sides, and the closing join; materialize
    # once, consumers read the leaf (see graph_triangle_count).
    sed = cut_lineage(
        copurchase_edges(
            spark, sf_dir, keep=_md5_coin(2, F.lit("tri"), "u", "v") < thr
        ),
        eager=False,
    )
    # r11 OPT: same explode-degree / n_edges-from-deg restructure as
    # the exact query (see graph_triangle_count): min-of-6 alternating
    # A/B at sf0.1 5.27 s -> 4.50 s (-15%).
    deg = degrees(sed)
    # The sampled wedge relation is p² of the exact one, so the
    # footer-sized width knob scales by t²/256² — at every locally
    # measured SF it resolves to the session default (no extra
    # exchange); at 100× it widens exactly like the exact query.
    session_parts = _session_shuffle_parts(spark)
    li_rows_eff = (li_rows * thr * thr) // (256 * 256)
    wp = max(session_parts, min(4096, (li_rows_eff * 128) // 6_000_000))
    # r12 OPT: broadcast the (p-thinned) closing edge set under the
    # same exact-count gate as the exact query.
    tri = _oriented_triangles(
        sed,
        deg,
        wp,
        session_parts,
        broadcast_close=sed.count() <= _TRI_BROADCAST_MAX_EDGES,
    ).withColumnRenamed("n_triangles", "n_tri_sampled")
    stats = deg.agg(
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("bigint")
        .alias("n_edges_sampled")
    )
    return stats.crossJoin(tri).select(
        F.lit(thr).cast("bigint").alias("thr_256"),
        F.lit(thr / 256.0).alias("sample_p"),
        "n_edges_sampled",
        F.round(F.col("n_edges_sampled") * 256.0 / thr, 3).alias("est_edges"),
        "n_tri_sampled",
        F.round(
            F.col("n_tri_sampled") * 16777216.0 / (thr * thr * thr), 3
        ).alias("est_triangles"),
    )


#: k-core geometry: core order and synchronized peel rounds.
_KCORE_K, _KCORE_R = 3, 6


def _kcore_oracle() -> str:
    parts = [f"ed AS MATERIALIZED ({COPURCHASE_EDGES_SQL})"]
    prev = "ed"
    for r in range(1, _KCORE_R + 1):
        parts += [
            f"""s{r} AS (SELECT u, v FROM {prev}
                 UNION ALL SELECT v, u FROM {prev})""",
            f"""k{r} AS (SELECT u AS n FROM s{r}
                 GROUP BY u HAVING COUNT(*) >= {_KCORE_K})""",
            f"""e{r} AS MATERIALIZED (
                 SELECT e.u, e.v FROM {prev} e
                 JOIN k{r} a ON a.n = e.u
                 JOIN k{r} b ON b.n = e.v)""",
        ]
        prev = f"e{r}"
    last, before = f"e{_KCORE_R}", f"e{_KCORE_R - 1}"
    parts += [
        f"""conv AS (SELECT (SELECT COUNT(*) FROM {before})
                          = (SELECT COUNT(*) FROM {last}) AS converged)""",
        f"""fs AS (SELECT u, v FROM {last}
             UNION ALL SELECT v, u FROM {last})""",
        """fdeg AS (SELECT u AS part_id, CAST(COUNT(*) AS BIGINT) AS degree
             FROM fs GROUP BY u)""",
    ]
    return "WITH " + ",\n".join(parts)


@query(
    "graph_kcore_peel",
    oracle=f"""
        {_kcore_oracle()}
        SELECT part_id, degree, conv.converged
        FROM fdeg, conv
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the co-purchase graph via synchronized peel
    rounds (Matula-Beck): each round drops every node whose CURRENT
    degree is under {_KCORE_K} and restricts the edge set to
    survivors; the fixpoint is exactly the {_KCORE_K}-core — the
    density skeleton community detection and graph-sampling prune to
    first. {_KCORE_R} rounds are unrolled on BOTH engines with a
    ``converged`` output column (last round removed nothing) so the
    approximation contract is part of the verified result, not a
    docstring claim — on this graph the peel converges well inside
    the unroll.

    Scale (round-8 DELTA peel — the r7 verdict's task 7): the edge
    relation is STATIC (hash-partitioned by node once, persisted);
    per round the only data touched is the frontier's incidence — one
    equi-join of the symmetric edges against the (shrinking) frontier
    node set, one aggregate over those delta rows, one node-state
    update join — instead of the full union + degree rescan + double
    semi-join + edge-relation rewrite of the classic unroll. Round
    state is the NODE-scale (id, degree) relation (localCheckpoint
    per round — cheap, it is ~|V| rows where the old unroll
    checkpointed ~|E| edge rows per round). Per-round removals are
    value-identical to the rescan (maintained degree = degree in the
    surviving subgraph, by induction), so the unrolled oracle — which
    still rescans — verifies the delta implementation exactly,
    ``converged`` flag included (frontier empty ⟺ edge set
    unchanged). The r7 honest negative stands and still applies to
    the EDGE relation: lazy chaining branched its 3 consumers 3^R
    ways (measured 84.7 s vs 5.0 s); delta-peeling sidesteps it by
    never rewriting edges at all."""
    ed = copurchase_edges(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    sym = (
        ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # partition by the probe key once: every round's frontier join
        # then reuses this layout instead of re-shuffling the edges
        .repartition(par, "u")
        .persist()
    )
    deg = cut_lineage(sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    ))
    front = deg.where(F.col("degree") < _KCORE_K).select("u")
    front_cnt = front.count()
    # r10: rounds actually peeled (scaling evidence for SCALING.md's
    # iterative-graph round-count table)
    graph_kcore_peel.last_rounds = 0
    for _r in range(_KCORE_R):
        last_removed = front_cnt
        if front_cnt == 0:
            # fixpoint already reached: remaining rounds are no-ops on
            # both engines (the oracle's e{r} CTEs stop changing too)
            break
        delta = (
            sym.join(front, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("removed_deg"))
        )
        deg = (
            deg.join(front, "u", "left_anti")
            .join(delta, "u", "left")
            .select(
                "u",
                (
                    F.col("degree")
                    - F.coalesce(F.col("removed_deg"), F.lit(0))
                ).alias("degree"),
            )
        )
        deg = cut_lineage(deg)
        front = deg.where(F.col("degree") < _KCORE_K).select("u")
        front_cnt = front.count()
        graph_kcore_peel.last_rounds = _r + 1
    # converged ⟺ round _KCORE_R removed nothing ⟺ the frontier at
    # the START of the final round was empty — exactly the oracle's
    # |e_{R-1}| = |e_R| edge-count criterion (a frontier that empties
    # only AFTER the final round's removals is NOT converged there).
    # The early break exits only when a round's starting frontier is
    # already empty, so last_removed carries the right value on every
    # path.
    converged = bool(last_removed == 0)
    out = deg.where(F.col("degree") > 0).select(
        F.col("u").alias("part_id"),
        "degree",
        F.lit(converged).alias("converged"),
    )
    return release_on_drop(out, sym)


@query(
    "graph_degree_powerlaw",
    oracle=f"""
        WITH ed AS ({COPURCHASE_EDGES_SQL}),
        deg AS ({_degrees_sql("ed")}),
        hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes
                 FROM deg GROUP BY d),
        pts AS (SELECT log2(CAST(d AS DOUBLE)) AS x,
                       log2(CAST(n_nodes AS DOUBLE)) AS y
                FROM hist),
        m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                     SUM(y * y) AS syy
              FROM pts)
        SELECT CAST((SELECT COUNT(*) FROM hist) AS BIGINT)
                   AS n_degree_buckets,
               CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                   AS loglog_slope,
               ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / (n * sxx - sx * sx) / (n * syy - sy * sy), 4) AS r2
        FROM m
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution shape audit for the co-purchase graph: the
    log-log regression of (degree, node count) whose slope ≈ −α for a
    power law — the number that decides whether skew mitigations
    (degree orientation in ``graph_triangle_count``, salting) are
    needed at all, and the graph-side sibling of ``text_zipf_fit``
    (which correctly reports this synthetic corpus as non-Zipfian).

    Float discipline: the regression runs over the degree HISTOGRAM
    (bounded by the distinct-degree inventory, ~10² buckets), so the
    moment sums are the bounded-term class; the histogram counts
    themselves are exact integers. Scale: one edge build, one degree
    aggregate, one bucket rollup — the histogram is audit-sized."""
    deg = degrees(copurchase_edges(spark, sf_dir))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pts = hist.select(
        F.log2(F.col("d").cast("double")).alias("x"),
        F.log2(F.col("n_nodes").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nb = hist.agg(F.count(F.lit(1)).cast("bigint").alias("n_degree_buckets"))
    mx = deg.agg(F.max("d").cast("bigint").alias("max_degree"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(mx))
        .select(
            "n_degree_buckets",
            "max_degree",
            F.round(num / den, 4).alias("loglog_slope"),
            F.round(num * num / den / deny, 4).alias("r2"),
        )
    )


#: Adamic-Adar link prediction: md5 edge-sparsification modulus (keep
#: ~1/17 of co-purchase edges), hub pivot cap, and the 1/ln(d) weight
#: table quantized to 1e9-scaled integers IN PYTHON so both engines
#: consume identical constants (libm-free cross-engine scoring — the
#: corpus_domain_mixture discipline applied to graph weights).
_AA_MOD = 17
_AA_CAP = 64
_AA_W = {d: round(1e9 / math.log(d)) for d in range(2, _AA_CAP + 1)}
_AA_TOPK = 100


def _aa_keep() -> Column:
    """The sparsification coin: keep an edge iff md5('u:v') ≡ 0 mod
    ``_AA_MOD`` (twin: ``_AA_KEEP_SQL``)."""
    return _md5_coin(8, "u", "v") % _AA_MOD == 0


_AA_KEEP_SQL = f"""('0x' || substr(md5(u::VARCHAR || ':' || v::VARCHAR),
                                  1, 8))::BIGINT % {_AA_MOD} = 0"""


def _adamic_adar_top(spark: SparkSession, ed: DataFrame) -> DataFrame:
    """The top-``_AA_TOPK`` non-adjacent pairs of the edge set ``ed``
    by Adamic-Adar score, as ``(id_a, id_b, common_neighbors, aa_q)``
    with ``aa_q`` the 1e9-scaled integer score; the oracle twin is
    ``_adamic_adar_top_ctes``. One-pass degree and one-pass symmetric
    adjacency (r11 — each former union branch re-ran the edge build);
    the 1/ln(d) weights are a broadcast dim of ``_AA_CAP`` rows; the
    candidates are one equi self-join on the pivot; the top-k plans as
    TakeOrderedAndProject, never a global sort."""
    deg = degrees(ed)
    wt = F.broadcast(
        spark.createDataFrame(sorted(_AA_W.items()), "d long, w long")
    )
    adj = ed.select(
        F.inline(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("x")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("x")),
            )
        )
    )
    piv = (
        adj.join(deg, adj["z"] == deg["n"])
        .where((F.col("d") >= 2) & (F.col("d") <= _AA_CAP))
        .join(wt, "d")
        .select("z", "x", "w")
    )
    a1, a2 = piv.alias("a1"), piv.alias("a2")
    sc = (
        a1.join(
            a2,
            (F.col("a1.z") == F.col("a2.z"))
            & (F.col("a1.x") < F.col("a2.x")),
        )
        .groupBy(F.col("a1.x").alias("id_a"), F.col("a2.x").alias("id_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("a1.w").alias("aa_q"),
        )
    )
    return (
        sc.join(
            ed,
            (sc["id_a"] == ed["u"]) & (sc["id_b"] == ed["v"]),
            "left_anti",
        )
        .orderBy(F.col("aa_q").desc(), "id_a", "id_b")
        .limit(_AA_TOPK)
    )


def _adamic_adar_top_ctes(ed: str) -> str:
    """Oracle twin of ``_adamic_adar_top`` over the edge CTE ``ed``:
    the CTEs up to ``top(id_a, id_b, common_neighbors, aa_q)``."""
    weights = ", ".join(f"({d}, {w})" for d, w in sorted(_AA_W.items()))
    return f"""deg AS ({_degrees_sql(ed)}),
        wt(d, w) AS (VALUES {weights}),
        adj AS (
            SELECT u AS z, v AS x FROM {ed}
            UNION ALL SELECT v AS z, u AS x FROM {ed}
        ),
        piv AS MATERIALIZED (
            SELECT adj.z, adj.x, wt.w
            FROM adj JOIN deg ON deg.n = adj.z
                     JOIN wt ON wt.d = deg.d
            WHERE deg.d BETWEEN 2 AND {_AA_CAP}
        ),
        sc AS (
            SELECT a1.x AS id_a, a2.x AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                   SUM(a1.w) AS aa_q
            FROM piv a1 JOIN piv a2
              ON a1.z = a2.z AND a1.x < a2.x
            GROUP BY 1, 2
        ),
        top AS (
            SELECT * FROM sc
            WHERE NOT EXISTS (SELECT 1 FROM {ed}
                              WHERE {ed}.u = sc.id_a AND {ed}.v = sc.id_b)
            ORDER BY aa_q DESC, id_a, id_b
            LIMIT {_AA_TOPK}
        )"""


@query(
    "graph_link_prediction",
    oracle=f"""
        WITH ed AS MATERIALIZED (
            SELECT u, v FROM ({COPURCHASE_EDGES_SQL}) WHERE {_AA_KEEP_SQL}
        ),
        {_adamic_adar_top_ctes("ed")}
        SELECT id_a, id_b, common_neighbors,
               ROUND(aa_q / 1000000000.0, 6) AS aa_score
        FROM top
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the (sparsified) co-purchase
    graph: for every non-adjacent pair sharing at least one neighbor,
    score = sum over common neighbors z of 1/ln(deg(z)) — rare shared
    neighbors are evidence, hubs are noise — and return the top-{k}
    predicted links. The graph is md5-edge-sparsified (keep 1/{mod} of
    edges, DOULION-style deterministic sampling) because the raw
    co-purchase graph is near-complete at small SF; pivots with degree
    above {cap} are excluded outright (the standard frequency cap:
    their per-pair weight 1/ln(d) is the smallest possible AND their
    d-choose-2 fan-out is the largest — worst signal at the highest
    cost, the same hot-key discipline as MinHash's max_shingle_df).

    Engine-identical scoring: the 1/ln(d) weights for d in
    [2, {cap}] are PRECOMPUTED in Python as 1e9-scaled integers and
    embedded as literals in both the Spark plan (broadcast dim) and
    the oracle (VALUES) — scores are exact integer SUMs, so the
    top-k cutoff under (score DESC, id_a, id_b) is bit-deterministic
    with no cross-engine libm or float-summation dependence.

    Scale: degree cap bounds wedge fan-out per pivot to {cap}^2;
    candidate generation is one equi self-join on the pivot; the
    existing-edge anti-join and weight lookup are equi joins (the
    weight relation is {cap} rows, broadcast); top-k plans as
    TakeOrderedAndProject, never a global sort."""
    ed = copurchase_edges(spark, sf_dir, keep=_aa_keep())
    return _adamic_adar_top(spark, ed).select(
        "id_a",
        "id_b",
        "common_neighbors",
        F.round(F.col("aa_q") / 1e9, 6).alias("aa_score"),
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(
    k=_AA_TOPK, mod=_AA_MOD, cap=_AA_CAP
)


#: Holdout split modulus for link-prediction evaluation (1/5 test).
_AA_EVAL_MOD = 5


@query(
    "graph_linkpred_eval",
    oracle=f"""
        WITH ed AS MATERIALIZED (
            SELECT u, v,
                   ('0x' || substr(md5(u::VARCHAR || ':' || v::VARCHAR
                                       || ':T'), 1, 8))::BIGINT
                       % {_AA_EVAL_MOD} = 0 AS is_test
            FROM ({COPURCHASE_EDGES_SQL})
            WHERE {_AA_KEEP_SQL}
        ),
        train AS MATERIALIZED (SELECT u, v FROM ed WHERE NOT is_test),
        test AS MATERIALIZED (SELECT u, v FROM ed WHERE is_test),
        {_adamic_adar_top_ctes("train")},
        hits AS (
            SELECT COUNT(*) AS h FROM top
            JOIN test ON test.u = top.id_a AND test.v = top.id_b
        )
        SELECT CAST({_AA_TOPK} AS BIGINT) AS k,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM test) AS n_test,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train,
               (SELECT CAST(h AS BIGINT) FROM hits) AS hits_at_k,
               ROUND(1.0 * (SELECT h FROM hits) / {_AA_TOPK}, 6)
                   AS precision_at_k,
               ROUND(1.0 * (SELECT h FROM hits)
                     / (SELECT COUNT(*) FROM test), 6) AS recall_at_k
    """,
)
def graph_linkpred_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction HOLDOUT evaluation — the honest closing of the
    ``graph_link_prediction`` loop: hide a deterministic 1/{m} of the
    (sparsified) co-purchase edges, score non-adjacent pairs with
    Adamic-Adar on the REMAINING graph, and report precision@{k} /
    recall@{k} of the top-{k} predictions against the hidden edges.
    A score audit without a holdout only shows the ranking exists;
    this shows whether it predicts — and the same two columns are the
    regression gate a production graph pipeline pins per release.

    On THIS corpus the verified answer is zero hits, and that is the
    correct reading: TPC-H assigns parts to orders (near-)uniformly,
    so the co-purchase graph has no latent link structure and the
    chance expectation for 100 predictions against ~14k positives in
    a ~2M-pair space is ≪ 1 hit — the audit correctly reports that
    common-neighbor signal does not exist in a random bipartite
    projection (the same honest-null family as ``text_zipf_fit``
    flagging the synthetic corpus as non-Zipfian). On a real
    purchase graph the number is the release gate.

    Same engine-identical machinery as the parent query (integer AA
    weights, exact-integer top-k cutoff, md5 split coins shared by
    both engines); the split key is salted (':T') so test membership
    is independent of the sparsification coin. Scale: identical to
    the parent — the holdout adds one anti-join and one equi-join
    against the O(|test|) relation."""
    ed = copurchase_edges(spark, sf_dir, keep=_aa_keep()).withColumn(
        "is_test", _md5_coin(8, "u", "v", F.lit("T")) % _AA_EVAL_MOD == 0
    )
    # split reused by train graph, test probe, counts. Eager checkpoint
    # KEPT (r9 A/B): a lazy persist measured consistently ~1 s slower
    # at sf0.1 (5.27-5.29 vs 6.13-6.31, alternating same-box runs) —
    # the 4-way train reuse reads the RDD scan cheaper than the
    # columnar cache decode
    ed = cut_lineage(ed)
    train = ed.where(~F.col("is_test")).select("u", "v")
    test = ed.where(F.col("is_test")).select("u", "v")
    pred = _adamic_adar_top(spark, train).select("id_a", "id_b")
    hits = pred.join(
        test,
        (pred["id_a"] == test["u"]) & (pred["id_b"] == test["v"]),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("h"))
    n_test = test.agg(F.count(F.lit(1)).alias("nt"))
    n_train = train.agg(F.count(F.lit(1)).alias("ntr"))
    return (
        hits.crossJoin(F.broadcast(n_test))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.lit(_AA_TOPK).cast("bigint").alias("k"),
            F.col("nt").cast("bigint").alias("n_test"),
            F.col("ntr").cast("bigint").alias("n_train"),
            F.col("h").cast("bigint").alias("hits_at_k"),
            F.round(F.lit(1.0) * F.col("h") / _AA_TOPK, 6).alias(
                "precision_at_k"
            ),
            F.round(F.lit(1.0) * F.col("h") / F.col("nt"), 6).alias(
                "recall_at_k"
            ),
        )
    )


graph_linkpred_eval.__doc__ = graph_linkpred_eval.__doc__.format(
    m=_AA_EVAL_MOD, k=_AA_TOPK
)


@query(
    "graph_assortativity",
    oracle=f"""
        WITH ed AS ({COPURCHASE_EDGES_SQL}),
        sym AS (
            SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed
        ),
        deg AS (
            SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY 1
        ),
        dd AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM sym s
            JOIN deg du ON du.node = s.u
            JOIN deg dv ON dv.node = s.v
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS mm,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dx*dx) AS BIGINT) AS sxx,
                   CAST(SUM(dx*dy) AS BIGINT) AS sxy
            FROM dd
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM ed) AS BIGINT) AS n_edges,
               FLOOR(1000000.0
                     * (CAST(CAST(mm AS HUGEINT)*sxy
                             - CAST(sx AS HUGEINT)*sx AS DOUBLE)
                        / CAST(CAST(mm AS HUGEINT)*sxx
                               - CAST(sx AS HUGEINT)*sx AS DOUBLE))
                     + 0.5) / 1000000.0 AS assortativity
        FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the co-purchase graph —
    do high-degree parts co-occur with other high-degree parts (hub
    clustering, r > 0) or with leaves (hub-and-spoke, r < 0)? The
    answer decides whether degree-based partitioning strategies
    (e.g. the triangle count's orientation trick) face correlated or
    anti-correlated hubs. r is the Pearson correlation of the degree
    pairs over the SYMMETRIZED edge relation, where by symmetry
    sum(dx)=sum(dy) and sum(dx^2)=sum(dy^2), so
    r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2).

    Determinism AND range: degrees and all four moments are exact
    BIGINT sums; the Pearson numerator/denominator products are then
    formed in exact 38-digit integer arithmetic (DECIMAL(38,0) on
    Spark, HUGEINT on DuckDB — the sf1 scaling run measured mm*sxy
    overflowing BIGINT at ~1e19) and cast once to double for the one
    division, floor-half-up 6dp.

    Scale: the edge build is the triangle count's equi-join (bounded
    by per-order basket sizes, never all-parts); degrees are one hash
    agg; sxy attaches ONE endpoint degree on the edge relation and
    folds the other node-side (r12 — see inline comment); every
    other moment is a node-scale agg over the degree table."""
    ed = copurchase_edges(spark, sf_dir).persist()
    sym = ed.unionByName(
        ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).persist()
    # r12 OPT (guide §2.3/§2.4): the only moment that needs edge-level
    # degree PAIRS is sxy, and it factors by distributivity —
    # Σ_sym dx·dy = Σ_u d(u)·(Σ_{v∈N(u)} d(v)) — so ONE edge-scale
    # join (attach the neighbor degree, agg per node) replaces the
    # former two, and the remaining moments are pure functions of the
    # node-scale degree table: mm = Σd (each node appears d times as a
    # sym source), sx = Σ_sym dx = Σd², sxx = Σd³, n_edges = Σd/2 —
    # which also drops the dd count pass and the separate n_edges
    # pass over `ed`. Integer addition is associative, so every
    # moment is the SAME exact integer as before (oracle-verified).
    # Alternating A/B min-of-5 at sf0.1: 4.04 → 3.55 s, every B leg
    # under every A leg but one.
    s = (
        sym.join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dy")),
            "v",
        )
        .groupBy("u")
        .agg(F.sum("dy").cast("bigint").alias("sdy"))
    )
    sxy = s.join(deg.select(F.col("node").alias("u"), "d"), "u").agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("sdy"))
        .cast("bigint")
        .alias("sxy")
    )
    m = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("mm"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("bigint")
        .alias("n_edges"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("bigint")
        .alias("sx"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d") * F.col("d"))
        .cast("bigint")
        .alias("sxx"),
    )
    result = m.crossJoin(F.broadcast(sxy)).select(
        "n_nodes",
        "n_edges",
        (
            F.floor(
                F.lit(1000000.0)
                * (
                    (
                        F.col("mm").cast("decimal(38,0)") * F.col("sxy")
                        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
                    ).cast("double")
                    / (
                        F.col("mm").cast("decimal(38,0)") * F.col("sxx")
                        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
                    ).cast("double")
                )
                + 0.5
            )
            / 1000000.0
        ).alias("assortativity"),
    )
    return release_on_drop(result, ed, deg)
