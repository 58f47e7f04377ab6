"""Graph centrality over edge tables — PageRank, distributed.

WHY in a training-data engine: link-graph centrality is a standard
document-quality prior for web-scale corpora (Common Crawl publishes
harmonic-centrality/PageRank rankings precisely so curation pipelines
can filter or weight pages by them; Brin & Page 1998).  The input is
the natural Spark shape — an ``(src, dst)`` edge DataFrame — and the
computation is the classic synchronous power iteration:

    rank ← (1−d)/N + d·(Σ_in rank/out_deg + dangling_mass/N)

Distributed shape per iteration (everything stays in the job graph —
the only driver scalar is N, one number):

- **contributions**: edges ⋈ ranks on src (ranks is |V|-sized, the
  smaller side at web scale after the first aggregation; AQE picks
  the join strategy) → groupBy dst, one map-side-combined shuffle
  keyed by vertex;
- **dangling mass** (vertices with no out-edges must redistribute
  their rank uniformly or total mass leaks): a 1-row aggregate over
  the zero-out-degree ranks, attached by broadcast ``crossJoin`` —
  in-plan, no collect;
- **lineage bound — checkpoint, not persist**: each rank generation
  is ``localCheckpoint``-ed (eager).  Persist alone is NOT enough
  here, unlike bpe.learn_bpe / clustering.kmeans where each
  generation references its predecessor once (linear plan growth):
  this loop references ``ranks`` three times per iteration (dangling
  aggregate, contribution join, vertex re-attach), so the LOGICAL
  plan tree grows 3^k — caching truncates execution but not the plan,
  and plan stringification alone OOMs the driver by iteration ~8
  (measured).  localCheckpoint cuts the lineage each round; freed
  generations are reclaimed by Spark's context cleaner once
  unreferenced.  On a real cluster prefer
  ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` if
  executor loss must be survivable mid-computation.

Every loop here (pagerank, trustrank, hits, kcore) runs inside
``iterative.loop_scope``, which sizes the loop's shuffle partitions
from the measured graph, re-lays the persisted edge frames out once
when that size is far below the session ceiling, and unpersists them
on exit.  trustrank runs pagerank's loop (``_rank_loop``) with its own
teleport and dangling terms.

Determinism: the per-vertex contribution sum is a float sum whose
grouping order is partition-dependent (last-ulp), so oracles compare
nd-rounded ranks — the repo-wide fround convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from exosql_spark.cache import managed_persist

from exosql_spark.operators.iterative import loop_scope


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    tol: float | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Up to ``n_iter`` synchronous PageRank iterations over an edge
    table.  Returns (``id``, ``rank``); ranks sum to 1 (dangling mass
    is redistributed uniformly).  ``vertices`` (one ``id`` column)
    widens the vertex set beyond edge endpoints — isolated vertices
    then participate as pure dangling nodes.  Parallel edges are
    counted as distinct edges (contribution proportional to
    multiplicity), the usual multigraph convention.

    ``tol`` enables convergence early-stop: iteration ends once
    ``max_v |rank_v - prev_rank_v| < tol`` — observed on each
    generation's own checkpoint job (no extra job; one driver scalar
    per iteration), worth it when n_iter is a generous cap and the
    graph mixes fast.  Entries that need
    engine-reproducible output use a FIXED n_iter and no tol (the
    stopping iteration is float-comparison-dependent and therefore
    not oracle-stable).

    ``weight`` names an edge-weight column: each source then splits
    its rank over out-edges PROPORTIONALLY to weight (out-strength
    normalization, the weighted-PageRank convention) instead of
    uniformly — the form link-graph quality priors actually use
    (e.g. crawl graphs weighting by link count between domains).
    Non-positive and NULL weights are dropped with their edges — but
    the VERTEX set is derived from the unfiltered endpoints, so a
    vertex whose every incident edge is dropped still participates as
    a dangling node rather than silently vanishing and renormalizing
    rank mass over the survivors (ADVICE r13); an unweighted call is
    exactly the weighted call with weight ≡ 1."""
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    # The edge table feeds EVERY iteration's contribution join: hash-
    # partition it by source once and persist, so iterations re-read a
    # materialized, already-partitioned frame instead of re-scanning
    # and re-shuffling the (at scale, corpus-sized) edge input n_iter
    # times — the ranks side is what legitimately moves each round.
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e_all = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), w.alias("_w")
    )
    e = e_all.where(F.col("_w") > 0) if weight is not None else e_all
    e = e.repartition(F.col("_s")).persist()
    # endpoints from the UNFILTERED frame: zero-weight-only vertices
    # stay in the graph as dangling nodes
    verts = e_all.select(F.col("_s").alias("id")).unionByName(
        e_all.select(F.col("_d").alias("id"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("id")))
    verts = verts.distinct().persist()
    n = verts.count()  # the one driver scalar; also materializes verts
    if n == 0:
        verts.unpersist()
        e.unpersist()
        return verts.withColumn("rank", F.lit(0.0))

    # out-strength: Σ weights per source (== out-degree when
    # unweighted, since every _w is 1.0); ``_dc`` counts the rows so
    # Σ_dc == |E| rides the init observation for free — the loop's
    # partition sizing (loop_scope) needs the edge count and this
    # aggregation already scans every edge exactly once
    out_deg = e.groupBy(F.col("_s").alias("id")).agg(
        F.sum("_w").alias("_deg"),
        F.count(F.lit(1)).alias("_dc"),
    )
    # (id, deg, rank): deg NULL marks dangling vertices; checkpointed
    # so every iteration starts from a lineage-free frame.
    # Dangling fast path (r18 optimization, guide §1.2): whether any
    # vertex is dangling is a property of the GRAPH, not the iteration —
    # counted ONCE via ``observe`` during the init frame's checkpoint
    # job (zero extra jobs) instead of paying a full-frame aggregate
    # plus a broadcast build in every iteration.  When no vertex is
    # dangling the per-iteration mass is exactly 0.0 and
    # ``in + 0.0/n == in`` bit-for-bit, so skipping the attachment
    # leaves every rank identical; graphs WITH dangling vertices keep
    # the original path.
    from pyspark.sql import Observation

    obs_d = Observation("pagerank_dangling")
    ranks = (
        verts.join(out_deg, "id", "left")
        .observe(
            obs_d,
            F.sum(F.when(F.col("_deg").isNull(), 1).otherwise(0)).alias("nd"),
            F.sum("_dc").alias("ne"),
        )
        .select("id", "_deg", F.lit(1.0 / n).alias("rank"))
        .localCheckpoint()
    )
    verts.unpersist()

    has_dangling = (obs_d.get["nd"] or 0) > 0
    ne = int(obs_d.get["ne"] or 0)
    # the loop's exchanges move O(|V|)-bounded rank rows, so loop_scope
    # sizes its partitions from the measured graph, not the session
    # ceiling, and re-lays ``e`` out once when the graph is small
    with loop_scope(edges.sparkSession, max(n, ne), (e, "_s")) as (e,):
        ranks = _rank_loop(
            e,
            ranks,
            n_iter,
            damping,
            teleport=F.lit((1.0 - damping) / n),
            dangling_share=F.col("_dm") / n if has_dangling else None,
            tol=tol,
        )
    return ranks.select("id", "rank")


def _rank_loop(e, ranks, n_iter, damping, teleport, dangling_share, tol=None):
    """pagerank's loop, which trustrank runs too: up to ``n_iter``
    steps ``rank ← teleport + d·(Σ_in rank·_w/_deg + dangling_share)``
    over the persisted ``(_s, _d, _w)`` edge frame, from the
    checkpointed generation ``ranks`` (``id``, ``_deg``, caller
    columns, ``rank``).  ``dangling_share`` reads the 1-row dangling
    mass ``_dm``; it is None when no vertex is dangling (the mass is
    then 0.0 every iteration, so dropping the term is bit-identical).
    For ``tol`` the previous rank rides the generation as ``_pr`` and
    the delta is observed on the generation's checkpoint job."""
    from pyspark.sql import Observation

    keep = [c for c in ranks.columns if c != "rank"]
    for i in range(n_iter):
        contrib = (
            e.join(
                ranks.select(
                    F.col("id").alias("_s"),
                    (F.col("rank") / F.col("_deg")).alias("_c"),
                ),
                "_s",
            )
            .groupBy(F.col("_d").alias("id"))
            .agg(F.sum(F.col("_c") * F.col("_w")).alias("_in"))
        )
        nxt = ranks.select(*keep, F.col("rank").alias("_pr")).join(
            contrib, "id", "left"
        )
        inflow = F.coalesce(F.col("_in"), F.lit(0.0))
        if dangling_share is not None:
            dangling = ranks.filter(F.col("_deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
            )
            nxt = nxt.crossJoin(F.broadcast(dangling))  # 1-row mass
            inflow = inflow + dangling_share
        nxt = nxt.select(
            *keep, "_pr", (teleport + F.lit(damping) * inflow).alias("rank")
        )
        if tol is not None:
            obs = Observation(f"rank_delta_{i}")
            nxt = nxt.observe(
                obs, F.max(F.abs(F.col("rank") - F.col("_pr"))).alias("d")
            )
        # eager: truncates the 3-ref lineage
        ranks = nxt.select(*keep, "rank").localCheckpoint()
        if tol is not None and obs.get["d"] < tol:
            break
    return ranks


def triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Enumerate the triangles of the UNDIRECTED simple graph induced
    by ``edges`` (direction, self-loops and parallel edges are erased
    by canonicalization).  Returns one row per triangle, columns
    ``(x, y, z)`` — each triangle exactly once.

    Distributed shape — degree-ordered orientation (Cohen 2009,
    "Graph twiddling in a MapReduce world"; Suri & Vassilvitskii
    WWW'11): orient every edge from its lower endpoint to its higher
    endpoint under the total order (degree, id).  Every wedge is then
    built at its LOWEST-degree vertex, which bounds the intermediate
    wedge count by O(m^{3/2}) regardless of skew — the celebrity
    vertex of a web/social graph generates no wedges at all because
    all its edges point INTO it.  Without the orientation, a single
    degree-10^6 hub alone would emit 5·10^11 wedges; with it, the
    hub's wedges are charged to its (low-degree) neighbours.  The
    plan is three hash joins (orient = 2 degree attachments, wedge =
    self-join on the common low vertex, close = semi-shape join
    against the oriented edge set) — all key-partitioned, no
    broadcast needed at any scale, AQE free to pick strategies.

    Triangle (u,v,w) with u<v<w in the (deg,id) order appears exactly
    once: as wedge (v,w) at u closed by oriented edge v→w."""
    e, deg = _canonical_edges_deg(edges, src, dst)
    return _triangles_from(e, deg)


def _canonical_edges_deg(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """Canonical undirected simple edge set (a < b, self-loops and
    parallel/reversed duplicates erased; persisted — it feeds both the
    degree aggregation and the orientation join) plus per-vertex
    degrees."""
    # managed_persist, not a bare .persist(): the returned frames are
    # consumed by the CALLER's plan, so this function cannot unpersist
    # before returning (a loop's own edge frames are released by
    # iterative.loop_scope instead).  Registering with the session
    # cache registry lets bench.py / test sweeps drain them via
    # release_caches between invocations instead of accumulating blocks
    # until LRU eviction (ADVICE r14).
    e = managed_persist(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .where(F.col("_u") != F.col("_v"))
        .select(
            F.least("_u", "_v").alias("a"),
            F.greatest("_u", "_v").alias("b"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return e, deg


def _triangles_from(e: DataFrame, deg: DataFrame) -> DataFrame:
    # attach both endpoint degrees, then orient by (deg, id)
    with_deg = e.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge lo→hi, carrying hi's order key (deg, id) so the
    # wedge self-join can state "v before w" without re-joining degrees
    oriented = managed_persist(  # fed to the wedge self-join (2×) and the closing join
        with_deg.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("hd"),
        )
    )
    o1 = oriented.select("lo", F.col("hi").alias("v"), F.col("hd").alias("dv"))
    o2 = oriented.select("lo", F.col("hi").alias("w"), F.col("hd").alias("dw"))
    wedges = o1.join(o2, "lo").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select(
        F.col("lo").alias("x"), F.col("v").alias("y"), F.col("w").alias("z")
    )
    return tri


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst", drain: bool = False
) -> DataFrame:
    """One-row global triangle statistics of the undirected simple
    graph: ``n_triangles``, ``n_wedges`` (paths of length 2 =
    Σ_v deg·(deg−1)/2), ``transitivity`` (= 3·triangles/wedges, the
    global clustering coefficient — a standard structure prior for
    crawl-graph quality: link farms and boilerplate nav meshes show
    pathological transitivity), plus ``sum_vertex_tri`` and
    ``max_vertex_tri`` from the per-vertex attribution (each triangle
    charged to all three corners, so sum_vertex_tri = 3·n_triangles —
    the identity pins the explode attribution, not just the count).

    The canonical edge set and degree table are computed ONCE and
    shared between the wedge denominator and the triangle enumeration
    (they'd otherwise be two full passes over the input)."""
    # Persist lifecycle (deliberate — ADVICE r15 asked for it stated
    # or changed; it's both, via the default):  by DEFAULT the
    # canonical-edge / oriented / triangle persists live until the
    # host's release_caches() at its query boundary — the repo-wide
    # convention bench.py's steady-state timing is built on (the warm
    # run populates the barriers, the timed runs reuse them through
    # the cache manager's analyzed-plan dedup; measured: draining per
    # invocation made this entry 2.8× slower at sf0.1 by forcing
    # every run to rebuild the edge set).  A LONG-LIVED service that
    # calls triangle_stats sporadically and cannot afford to pin an
    # edge-set-sized cache between query boundaries passes
    # ``drain=True``: the 1-row summary is then localCheckpoint-ed
    # eagerly and exactly this invocation's persists are released
    # before returning (single-invocation cost is identical — the
    # barriers are alive while the plan that needs them runs).
    from exosql_spark.cache import registry_mark, release_since

    mark = registry_mark(edges.sparkSession)
    e, deg = _canonical_edges_deg(edges, src, dst)
    wedges = deg.agg(
        F.coalesce(
            (F.sum(F.col("deg") * (F.col("deg") - 1)) / F.lit(2)).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_wedges")
    )
    tri = managed_persist(_triangles_from(e, deg))
    per_vertex = (
        tri.select(F.col("x").alias("id"))
        .unionByName(tri.select(F.col("y").alias("id")))
        .unionByName(tri.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    totals = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    pv = per_vertex.agg(
        F.coalesce(F.sum("n_tri"), F.lit(0)).alias("sum_vertex_tri"),
        F.coalesce(F.max("n_tri"), F.lit(0)).alias("max_vertex_tri"),
    )
    # three 1-row frames — broadcast crossJoin attachment, no collect
    out = (
        totals.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(pv))
        .select(
            "n_triangles",
            "n_wedges",
            # floor-based half-up rounding on the binary double — the
            # repo-wide engine-portable convention (queries/_util.fround)
            F.when(
                F.col("n_wedges") > 0,
                F.floor(
                    (3.0 * F.col("n_triangles") / F.col("n_wedges")) * 1.0e8
                    + 0.5
                )
                / 1.0e8,
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
            F.col("sum_vertex_tri").cast("long").alias("sum_vertex_tri"),
            F.col("max_vertex_tri").cast("long").alias("max_vertex_tri"),
        )
    )
    if drain:
        out = out.localCheckpoint(eager=True)  # 1 row
        release_since(edges.sparkSession, mark)
    return out


def hits(
    edges: DataFrame,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, "Authoritative
    sources in a hyperlinked environment") over a DIRECTED edge table.
    Returns (``id``, ``hub``, ``auth``), each vector L1-normalized
    (sums to 1) — the mutually-recursive companion to
    :func:`pagerank`: a page is a good authority if good hubs link TO
    it, a good hub if it links to good authorities.  Link-graph
    curation uses the authority side as a quality prior orthogonal to
    PageRank (navigational hubs score high on hub-ness, content pages
    on authority).

    Per iteration, two key-partitioned shuffles (the exact shape of
    pagerank's contribution step, once per direction):

    - auth ← edges ⋈ hubs on src → groupBy dst Σ hub, then L1
      normalization via a 1-row broadcast crossJoin (in-plan);
    - hub  ← edges ⋈ auths on dst → groupBy src Σ auth, same
      normalization.

    Parallel edges count with multiplicity (multigraph convention,
    same as pagerank).  Each generation is ``localCheckpoint``-ed —
    the (id, hub, auth) frame is referenced by both joins and both
    normalizations, so persist alone would grow the logical plan
    multiplicatively per iteration (the pagerank lesson, see module
    docstring).  L1 (not the paper's L2) normalization keeps the
    oracle arithmetic rational so planted-graph recurrences replay
    exactly in a SQL recursive CTE; the ranking is identical under
    any p-norm."""
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    # TWO persisted partitionings of the edge table — by src for the
    # auth half-step's join and by dst for the hub half-step's: each
    # iteration then re-shuffles only the |V|-sized score frame, never
    # the (at web scale, corpus-sized) edge table.  PageRank needs only
    # the src copy (its one join keys src); HITS joins on both ends, so
    # a single partitioning would re-shuffle the edges every iteration
    # on the other key.
    e_src = e.repartition(F.col("_s")).persist()
    e_dst = e.repartition(F.col("_d")).persist()
    from pyspark.sql import Observation

    # endpoint union has exactly 2|E| rows — the edge count rides the
    # vertex count's job for free (loop_scope's partition sizing)
    obs_e = Observation("hits_edges")
    verts = (
        e_src.select(F.col("_s").alias("id"))
        .unionByName(e_src.select(F.col("_d").alias("id")))
        .observe(obs_e, F.count(F.lit(1)).alias("n2e"))
        .distinct()
    )
    n = verts.count()  # the one driver scalar
    if n == 0:
        e_src.unpersist()
        e_dst.unpersist()
        return verts.select(
            "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
    scores = verts.select(
        "id",
        F.lit(1.0 / n).alias("hub"),
        F.lit(1.0 / n).alias("auth"),
    ).localCheckpoint()

    ne = int(obs_e.get["n2e"] or 0) // 2
    # same size-derived loop scope as pagerank, over both edge layouts
    with loop_scope(
        edges.sparkSession, max(n, ne), (e_src, "_s"), (e_dst, "_d")
    ) as (e_src, e_dst):
        return _hits_loop(e_src, e_dst, scores, n_iter)


def _hits_loop(e_src, e_dst, scores, n_iter):
    for _ in range(n_iter):
        # authority half-step: pull hub mass along edges, normalize
        a_in = (
            e_src.join(
                scores.select(F.col("id").alias("_s"), "hub"), "_s"
            )
            .groupBy(F.col("_d").alias("id"))
            .agg(F.sum("hub").alias("_a"))
        )
        auth = scores.select("id", "hub").join(a_in, "id", "left").select(
            "id", "hub", F.coalesce(F.col("_a"), F.lit(0.0)).alias("_a")
        )
        a_norm = auth.agg(F.sum("_a").alias("_na"))
        auth = (
            auth.crossJoin(F.broadcast(a_norm))
            .select(
                "id",
                "hub",
                F.when(F.col("_na") > 0, F.col("_a") / F.col("_na"))
                .otherwise(F.lit(0.0))
                .alias("auth"),
            )
            .localCheckpoint()
        )
        # hub half-step: pull the NEW authority mass back, normalize
        h_in = (
            e_dst.join(
                auth.select(F.col("id").alias("_d"), "auth"), "_d"
            )
            .groupBy(F.col("_s").alias("id"))
            .agg(F.sum("auth").alias("_h"))
        )
        hub = auth.select("id", "auth").join(h_in, "id", "left").select(
            "id", "auth", F.coalesce(F.col("_h"), F.lit(0.0)).alias("_h")
        )
        h_norm = hub.agg(F.sum("_h").alias("_nh"))
        scores = (
            hub.crossJoin(F.broadcast(h_norm))
            .select(
                "id",
                F.when(F.col("_nh") > 0, F.col("_h") / F.col("_nh"))
                .otherwise(F.lit(0.0))
                .alias("hub"),
                "auth",
            )
            .localCheckpoint()
        )
    return scores.select("id", "hub", "auth")


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004
    "Combating web spam with TrustRank"): PageRank with the teleport
    vector restricted to a trusted SEED set — rank flows outward from
    vetted pages, so link-farm spam that mere in-degree rewards gets
    structurally demoted.  This is the second half of the link-graph
    curation prior pair: :func:`pagerank` measures raw centrality,
    trustrank measures centrality REACHABLE FROM TRUST, and the gap
    between the two is the classic spam signal.

        rank ← (1−d)·t + d·(Σ_in rank/out_deg + dangling_mass·t)

    with t(v) = 1/|S| for v in ``seeds`` (one ``id`` column), else 0;
    rank is initialized to t (the TrustRank convention).  Dangling
    mass returns to the seeds, not uniformly — mass unreachable from
    trust must stay zero, which is the property the planted oracle
    pins (an isolated component's rank is exactly 0.0, not merely
    small).  Ranks sum to 1 over the seed-reachable set.

    trustrank keeps only its own init (the seed teleport column ``_t``,
    the dangling and size counts) and then runs pagerank's loop,
    passing ``(1−d)·_t`` as the teleport term and ``_dm·_t`` as the
    dangling share — so each iteration has pagerank's shape: one
    map-side-combined keyed aggregation for contributions against the
    once-partitioned persisted edge table, a 1-row dangling aggregate
    attached by broadcast crossJoin, localCheckpoint bounding the
    3-reference lineage.  ``_t`` rides the |V|-sized rank frame (one
    extra double), so the seed set costs nothing at any scale."""
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    # ``_w`` ≡ 1.0: pagerank's loop weighs contributions by it, and
    # ``_c · 1.0 == _c`` bit-for-bit
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), F.lit(1.0).alias("_w")
    )
    e = e.repartition(F.col("_s")).persist()
    verts = (
        e.select(F.col("_s").alias("id"))
        .unionByName(e.select(F.col("_d").alias("id")))
        .unionByName(seeds.select(F.col("id")))
        .distinct()
    )
    n_seeds = seeds.select("id").distinct().count()
    if n_seeds == 0:
        e.unpersist()
        return verts.select("id", F.lit(0.0).alias("rank"))

    seed_t = seeds.select("id").distinct().withColumn(
        "_t", F.lit(1.0 / n_seeds)
    )
    out_deg = e.groupBy(F.col("_s").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("_deg")
    )
    # Same dangling fast path as pagerank (r18): the dangling set is a
    # graph property — counted once via ``observe`` during the init
    # checkpoint job (zero extra jobs); when empty, ``_dm * _t`` is
    # exactly 0.0 every iteration, so dropping the aggregate +
    # broadcast attachment leaves every rank identical.
    from pyspark.sql import Observation

    obs_d = Observation("trustrank_dangling")
    ranks = (
        verts.join(out_deg, "id", "left")
        .join(seed_t, "id", "left")
        .select(
            "id",
            "_deg",
            F.coalesce(F.col("_t"), F.lit(0.0)).alias("_t"),
            F.coalesce(F.col("_t"), F.lit(0.0)).alias("rank"),
        )
        .observe(
            obs_d,
            F.sum(F.when(F.col("_deg").isNull(), 1).otherwise(0)).alias("nd"),
            # Σ out-degree == |E| (``_deg`` IS a row count here) and the
            # row count == |V| — both ride the init checkpoint for free;
            # loop_scope's partition sizing needs them
            F.sum("_deg").alias("ne"),
            F.count(F.lit(1)).alias("nv"),
        )
        .localCheckpoint()
    )
    has_dangling = (obs_d.get["nd"] or 0) > 0
    ne = int(obs_d.get["ne"] or 0)
    nv = int(obs_d.get["nv"] or 0)
    with loop_scope(edges.sparkSession, max(nv, ne), (e, "_s")) as (e,):
        ranks = _rank_loop(
            e,
            ranks,
            n_iter,
            damping,
            teleport=F.lit(1.0 - damping) * F.col("_t"),
            dangling_share=F.col("_dm") * F.col("_t") if has_dangling else None,
        )
    return ranks.select("id", "rank")


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Coreness (k-core number) per vertex of the undirected simple
    graph, via distributed H-index propagation (Montresor, De
    Pellegrini & Miorandi 2011, "Distributed k-core decomposition"):
    initialize c(v) = deg(v), then iterate

        c(v) ← H({c(u) : u ~ v})

    where H is the H-index of the neighbor multiset (the largest h
    such that ≥ h neighbors have value ≥ h).  The sequence is
    monotone non-increasing and converges exactly to the coreness —
    the largest k such that v belongs to a subgraph of minimum degree
    k.  Returns (``id``, ``coreness``); isolated vertices are not
    returned (no edges ⇒ not in the input's endpoint set, the CC
    contract).

    WHY in a training-data engine: k-core is the standard structural
    spam/boilerplate prior the peeling literature built for web
    graphs — link farms form dense high-core subgraphs while organic
    content sits in low cores, and conversely a crawl frontier's
    quality tail is the 1-core fringe; it complements
    pagerank/trustrank (flow-based) with a purely combinatorial
    density measure.

    Distributed shape per iteration: ONE keyed shuffle joins the
    |V|-sized c frame onto the persisted adjacency (partitioned by
    neighbor once, up front), then the H-index reduces per vertex as
    ``max(min(c_rank, rank))`` over a per-vertex descending sort —
    window + final aggregate share one hash exchange on the vertex
    key.  Convergence is Σ c, observed on each generation's own
    checkpoint job (one driver scalar per iteration, the pattern
    pagerank's tol uses too); generations are localCheckpoint-ed (the
    PageRank lesson).
    Iterations are bounded by the graph's degeneracy-ordering depth,
    small for real crawl graphs; ``max_iter`` is a backstop."""
    canon = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .where(F.col("_u") != F.col("_v"))
        .select(
            F.least("_u", "_v").alias("a"),
            F.greatest("_u", "_v").alias("b"),
        )
        .distinct()
    )
    adj = (
        canon.select(F.col("a").alias("id"), F.col("b").alias("nb"))
        .unionByName(canon.select(F.col("b").alias("id"), F.col("a").alias("nb")))
        .repartition(F.col("nb"))
        .persist()
    )
    from pyspark.sql import Observation

    # r18 optimization (guide §1.2): the convergence check used to be
    # its own job per iteration — a join of two checkpointed |V|-frames
    # plus a count.  The H-index iteration is monotone NON-INCREASING
    # per vertex (Montresor et al. 2011, Thm 1 — c starts at degree and
    # every step is an H-index of values that themselves never
    # increase), so "no vertex changed" ⟺ "Σ c unchanged", and Σ c can
    # ride the SAME action that materializes the generation via
    # ``observe`` (CollectMetrics accumulates during the localCheckpoint
    # job — zero extra job, zero extra pass).  Same fixed point, same
    # stopping iteration, identical output.
    obs0 = Observation("kcore_init")
    c = (
        adj.groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # Σ c == Σ deg == 2|E| (the convergence scalar) and the row
        # count == |V| — loop_scope's partition sizing reads both off
        # the init job for free
        .observe(obs0, F.sum("c").alias("s"), F.count(F.lit(1)).alias("nv"))
        .localCheckpoint()
    )
    prev_sum = obs0.get["s"]
    nv = int(obs0.get["nv"] or 0)
    from pyspark.sql import Window

    w_desc = Window.partitionBy("id").orderBy(F.col("_cn").desc())
    # same size-derived loop scope as pagerank; the per-iteration
    # frames are the 2|E|-row neighbor expansion and the |V|-row c frame
    with loop_scope(
        edges.sparkSession, max(nv, int(prev_sum or 0)), (adj, "nb")
    ) as (adj,):
        for i in range(max_iter):
            neigh = adj.join(
                c.select(F.col("id").alias("nb"), F.col("c").alias("_cn")),
                "nb",
            ).select("id", "_cn")
            obs = Observation(f"kcore_{i}")
            new_c = (
                neigh.withColumn("_r", F.row_number().over(w_desc))
                .groupBy("id")
                .agg(F.max(F.least(F.col("_cn"), F.col("_r"))).alias("c"))
                .observe(obs, F.sum("c").alias("s"))
                .localCheckpoint()
            )
            new_sum = obs.get["s"]
            c = new_c
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    return c.select("id", F.col("c").cast("int").alias("coreness"))
