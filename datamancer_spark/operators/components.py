"""Graph operators over edge lists: connected components, PageRank, HITS
and k-core.

The post-dedup step every pipeline needs: candidate/verified PAIRS say
"a ~ b", but keeping one doc per duplicate GROUP requires the transitive
closure — connected components. Implemented as large-/small-star-free
min-label propagation: each iteration joins the current labels across
edges and keeps the per-node minimum neighbor label; a pointer-jumping
step (comp := comp(comp)) gives O(log diameter) rounds. Every iteration
is one shuffle on node id and the edge list never grows.

Iterative algorithms can't be a single Catalyst plan, so the four
operators share one driver loop, ``_fixpoint`` — the documented
exception to "no driver-side loops": log-many rounds of fully
distributed work, not per-row driver logic. It checks the round cap
once (it must be >= 1), pins the start state and each round's state
(localCheckpoint truncates lineage) and runs the convergence test, when
there is one, on the pinned frames.

One non-convergence contract holds for all four: an operator that
tests convergence (``connected_components`` always, ``pagerank``/``hits``
when ``tol`` is set, ``k_core`` when ``rounds=None``) raises
``ValueError`` naming its cap parameter when the cap is reached
unconverged — a silently returned prefix mislabels nodes. The
fixed-count forms (``tol=None``, ``k_core(rounds=…)``, which the
differential twins unroll) run exactly the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def _fixpoint(state, step, cap, done=None, *, op: str, param: str):
    """Run ``step`` from ``state`` for up to ``cap`` rounds; returns
    ``(state, rounds_run)``. The start state and each round's output are
    pinned, then ``done(prev, state)`` runs on the pinned frames (one
    driver scalar) and stops the loop when true. With ``done``, reaching
    the cap unconverged raises; without, ``cap`` is the fixed round
    count. ``op``/``param`` name the caller and its cap parameter in
    errors."""
    cap = int(cap)
    if cap < 1:
        raise ValueError(f"{op}: {param} must be >= 1 (got {cap})")
    state = materialize(state)
    for rounds in range(1, cap + 1):
        prev, state = state, materialize(step(state))
        if done is not None and done(prev, state):
            return state, rounds
    if done is not None:
        raise ValueError(
            f"{op}: no fixpoint within {param}={cap} rounds; raise {param}"
        )
    return state, cap


def _check_rounding_resolution(n: int, round_decimals: int | None) -> None:
    """Guard the per-iteration rounding knob: when the uniform initial
    rank 1/n itself rounds to 0 (n ≳ 2·10^round_decimals), every
    subsequent PageRank iteration degenerates to the teleport term and
    HITS divides by a zero normalization sum (NaN). ``round_decimals``
    is a differential-gate convention for gate-scale fixtures (round at
    6, compare at 4) — at production node counts pass None, which keeps
    full float precision. Raising beats warning: a silent NaN/teleport
    vector poisons every downstream curation decision."""
    if round_decimals is None or n <= 0:
        return
    if 1.0 / n < 0.5 * 10.0 ** (-round_decimals):
        raise ValueError(
            f"round_decimals={round_decimals} rounds the uniform initial "
            f"rank 1/n (n={n} nodes) to 0, degenerating the power "
            "iteration (PageRank collapses to the teleport term; HITS "
            "divides by a zero sum). Per-iteration rounding is only for "
            "gate-scale differential runs — pass round_decimals=None at "
            "this node count."
        )


def _link_graph(edges: DataFrame, src: str, dst: str,
                round_decimals: int | None):
    """The power iterations' shared prelude: ``(e, nodes, n)`` — the
    pinned distinct (u, v) edge list, the pinned src∪dst node set and
    its size, with the rounding guard applied.

    A crawl edge list carries NULL endpoints (unresolvable hrefs); they
    are not nodes — dropped, not propagated into the node set. The edge
    list is pinned FIRST (r13): everything downstream re-evaluates its
    lineage otherwise, and a crawl caller's lineage is WARC parse + HTML
    link extraction (measured 7.5s/pass at sf0.1: the unmaterialized
    seam paid it ~3x, 33s -> 17s with this one checkpoint)."""
    e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .na.drop()
        .distinct()
    )
    nodes = materialize(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    n = nodes.count()
    _check_rounding_resolution(n, round_decimals)
    return e, nodes, n


def _rounded(c, round_decimals: int | None):
    return F.round(c, round_decimals) if round_decimals is not None else c


def _max_delta_within(tol: float | None, col: str):
    """The power iterations' convergence test for ``_fixpoint``: max
    |Δcol| between two pinned rounds ≤ tol (one distributed aggregate →
    one driver scalar). None (a fixed count) when ``tol`` is None."""
    if tol is None:
        return None

    def done(prev: DataFrame, cur: DataFrame) -> bool:
        d = (
            cur.join(prev.select("node", F.col(col).alias("_prev")), "node")
            .agg(F.max(F.abs(F.col(col) - F.col("_prev"))).alias("d"))
            .collect()[0]["d"]
        )
        return d is not None and d <= tol

    return done


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) — component = min node id reachable.

    ``pairs`` is an undirected edge list; isolated nodes don't appear
    (join your full id set afterwards with fill = own id). Raises
    ``ValueError`` when ``max_iter`` < 1, or when the last of
    ``max_iter`` rounds still changed a label: an unconverged prefix
    would split components."""
    # materialize (r13): the edge list is joined EVERY round, and the
    # caller's pairs lineage is typically the expensive part (e.g.
    # minhash_dedup_verified — banded LSH + verify); without the
    # checkpoint each propagation round re-executes it from the scan
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # start: every node labeled with min(itself, direct neighbors)
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("comp"))
        .select(F.col("u").alias("node"), "comp")
    )

    def step(labels: DataFrame) -> DataFrame:
        # 1) neighbor propagation: min over neighbors u of comp(u)
        prop = (
            edges.join(labels, edges.u == labels.node)
            .select(F.col("v").alias("node"), F.col("comp"))
            .groupBy("node")
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = labels.join(prop, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias(
                "comp"
            ),
            F.col("comp").alias("_old"),
        )
        # 2) pointer jumping: comp(node) := min(comp(node), comp(comp(node)))
        # — path doubling turns O(diameter) convergence into O(log diameter)
        l2 = stepped.select(F.col("node").alias("pnode"), F.col("comp").alias("pcomp"))
        return stepped.join(l2, stepped.comp == l2.pnode, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("pcomp"), F.col("comp"))).alias(
                "comp"
            ),
            F.col("_old"),
        )

    def settled(_prev: DataFrame, labels: DataFrame) -> bool:
        # counted on the pinned round: its two joins execute once
        return labels.filter(F.col("comp") < F.col("_old")).limit(1).count() == 0

    labels, _ = _fixpoint(labels, step, max_iter, settled,
                          op="connected_components", param="max_iter")
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full near-dup removal: pairs → components → keep the minimum id
    per component (plus all docs never paired). The canonical end-to-end
    composition after minhash_dedup_verified."""
    comp = connected_components(pairs, src, dst)
    keep_of_group = comp.groupBy("component").agg(F.min("node").alias("keep"))
    losers = (
        comp.join(keep_of_group, "component")
        .filter(F.col("node") != F.col("keep"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    round_decimals: int | None = None,
    tol: float | None = None,
    return_rounds: bool = False,
) -> DataFrame:
    """PageRank by power method (r11) — the link-graph quality signal
    crawl curation ranks and samples by. Directed ``edges``; the node
    set is src∪dst; ranks start uniform (1/n) and each round every node
    keeps (1−d)/n plus d · the sum of incoming rank/out-degree, with
    DANGLING mass (nodes without out-edges) redistributed uniformly —
    so the ranks sum to 1 every iteration, the standard formulation.

    Plan per round: one broadcast-able join of ranks to the (static)
    out-degreed edge list, one groupBy(dst) sum, one left join back to
    the node set, one 1-row dangling-mass crossJoin — all distributed;
    the rounds run through ``_fixpoint``. Returns (node, rank).

    ``round_decimals``: round ranks after EVERY iteration. Float sums
    are association-order dependent at ~1e-16; per-iteration rounding
    at a much coarser step (e.g. 6 decimals) absorbs that drift so
    results are bit-stable across engines and partitionings — the
    differential-gate convention (the gate rounds at 6 and compares at
    4). None keeps full precision.

    ``iters`` (>= 1, else ``ValueError``) is the round count. With
    ``tol`` set (r12, the early-stop tier) it becomes the CAP: each
    round also computes max |Δrank| and stops as soon as it is ≤ tol,
    and reaching ``iters`` unconverged raises ``ValueError`` (the
    module's non-convergence contract). At scale a fixed count wastes
    whole rounds after convergence — each a full edge-list join. With
    ``round_decimals`` set, tol=0 stops at the exact rounded fixed
    point, where further iterations provably change nothing.
    ``return_rounds=True`` returns ``(ranks, rounds_run)`` so callers
    (and the scaling table) can see the rounds saved."""
    e, nodes, n = _link_graph(edges, src, dst, round_decimals)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = materialize(e.join(deg, "u"))
    # r16: the dangling node SET (nodes with no out-edges) is STATIC
    # across rounds — only its MASS (the ranks of those nodes) changes.
    # Derive the set once instead of re-running the edge-list degree
    # aggregate + anti-join inside every round, and when the set is
    # EMPTY (a dangling-free graph — both declared pagerank fixtures)
    # skip the whole per-round dangling subtree (semi-join + aggregate
    # + broadcast crossJoin): dm is exactly 0.0 every round there, and
    # x + 0.0 == x bit-exact for the non-negative rank sums, so the
    # iterates are bit-identical with or without the skipped term.
    dangling_nodes = materialize(
        nodes.join(deg, nodes.node == deg.u, "left_anti").select("node")
    )
    has_dangling = dangling_nodes.limit(1).count() > 0
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            ed.join(ranks, ed.u == ranks.node)
            .select("v", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_rank"))
        )
        in_term = F.coalesce(F.col("in_rank"), F.lit(0.0))
        out = nodes.join(contrib, nodes.node == contrib.v, "left")
        if has_dangling:
            # dangling nodes leak their mass — collect it as ONE scalar
            # row (a semi join against the pinned static set) and spread
            # it uniformly, keeping sum(rank) = 1
            dangling = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            out = out.crossJoin(F.broadcast(dangling))
            in_term = in_term + F.col("dm") / n
        new_rank = F.lit(base) + F.lit(damping) * in_term
        return out.select("node", _rounded(new_rank, round_decimals).alias("rank"))

    ranks, rounds_run = _fixpoint(ranks, step, iters,
                                  _max_delta_within(tol, "rank"),
                                  op="pagerank", param="iters")
    if return_rounds:
        return ranks, rounds_run
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    round_decimals: int | None = None,
    tol: float | None = None,
    return_rounds: bool = False,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) by power method —
    PageRank's companion link signal: an AUTHORITY is pointed to by
    good hubs, a HUB points to good authorities (directories vs
    destinations; for crawl curation, hub pages are link farms to
    deprioritize, authority pages are content to keep). Per round:
    a ← normalize(Eᵀh), then h ← normalize(E a), each normalization a
    division by the vector's SUM (one 1-row aggregate crossJoined back
    — sum-normalization converges to the same ranking as L2 and keeps
    the arithmetic sqrt-free for the differential twin). NULL edge
    endpoints drop; nodes missing a side score 0 on it. Returns
    (node, hub, auth).

    Same engine-portability contract as ``pagerank``:
    ``round_decimals`` rounds both vectors after every iteration, so
    float association order (~1e-16) cannot move a differential
    comparison; the twin unrolls the iterations as chained CTEs.

    ``iters`` / ``tol`` / ``return_rounds`` (r12): the same round-count
    and non-convergence contract as ``pagerank``, with the early stop
    tested on the hub vector's max |Δ| per round."""
    e, nodes, n = _link_graph(edges, src, dst, round_decimals)

    def spread(vec: DataFrame, frm: str, to: str, val: str, out: str):
        # one half-round: sum ``val`` along the edges frm -> to, then
        # normalize by the vector's sum over the full node set
        raw = e.join(vec, e[frm] == vec.node).groupBy(to).agg(
            F.sum(val).alias("_s")
        )
        tot = raw.agg(F.sum("_s").alias("_t"))
        return (
            nodes.join(raw, nodes.node == raw[to], "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                _rounded(
                    F.coalesce(F.col("_s"), F.lit(0.0)) / F.col("_t"),
                    round_decimals,
                ).alias(out),
            )
        )

    auths = None

    def step(hubs: DataFrame) -> DataFrame:
        nonlocal auths
        auths = materialize(spread(hubs, "u", "v", "hub", "auth"))
        return spread(auths, "v", "u", "auth", "hub")

    hubs = nodes.select("node", F.lit(1.0 / n).alias("hub"))
    hubs, rounds_run = _fixpoint(hubs, step, iters,
                                 _max_delta_within(tol, "hub"),
                                 op="hits", param="iters")
    out = hubs.join(auths, "node").select("node", "hub", "auth")
    if return_rounds:
        return out, rounds_run
    return out


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
    max_rounds: int = 50,
    return_rounds: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: symmetrize the edge
    list, then repeatedly drop every node whose UNDIRECTED degree is
    < k (and the edges touching it) until nothing changes. The
    surviving subgraph is the k-core — for crawl curation, the dense
    part of the link graph where link farms and mutual-promotion rings
    live (a spam cluster of m pages linking each other sits in the
    (m-1)-core; organic content's tree-ish links peel away in 1-2
    rounds). Returns (node, degree): survivors with their degree
    INSIDE the core.

    ``rounds=None`` peels to the fixpoint (early stop on an unchanged
    edge count — one driver scalar per round) and raises ``ValueError``
    when ``max_rounds`` is reached unconverged: peel depth is O(n) on
    path-like graphs (each round only removes the endpoints), so a
    capped prefix would label interior chain nodes as core members —
    raise ``max_rounds`` or pin ``rounds``. A pinned ``rounds`` makes
    the computation closed-form unrollable for the differential twin.
    Either cap must be >= 1. Per round: one degree aggregation + two
    semi-join-shaped prunes, all shuffle-partitioned on node id; the
    edge list only shrinks, and every intermediate is materialized so
    lineage never re-executes the peel history (the r13 graph-op
    lesson)."""
    # materialize the CLEANED INPUT before symmetrizing: the union's two
    # branches are separate physical plans, so an expensive caller
    # lineage (e.g. WARC→extract_links) would execute TWICE inside the
    # symmetrize job — measured 64.9s → ~20s on the 16x crawl seam
    # (SCALING.md r14) with this one-level-deeper application of the
    # r13 checkpoint-the-edge-list lesson.
    directed = materialize(
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .na.drop()
    )
    und = directed.unionByName(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()

    def step(und: DataFrame) -> DataFrame:
        # materialized per round: the degree aggregate feeds BOTH
        # endpoint prunes, and Spark does not reuse the exchange across
        # the two semi-join build sides (plan-verified: 2x HashAggregate
        # without this) — one node-list checkpoint per round beats
        # re-aggregating the edge list twice
        keep = materialize(
            und.groupBy("u")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("u")
        )
        return (
            und.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
        )

    if rounds is None:
        sizes = []

        def done(prev: DataFrame, pruned: DataFrame) -> bool:
            # one count per round (plus the pinned start's, once): each
            # round's size is remembered for the next comparison
            if not sizes:
                sizes.append(prev.count())
            sizes.append(pruned.count())
            return sizes[-1] == sizes[-2]

        cap, param = max_rounds, "max_rounds"
    else:
        done, cap, param = None, rounds, "rounds"
    und, rounds_run = _fixpoint(und, step, cap, done, op="k_core", param=param)
    out = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("u").alias("node"), "degree")
    )
    if return_rounds:
        return out, rounds_run
    return out
