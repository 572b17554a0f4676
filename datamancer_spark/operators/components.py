"""Connected components over near-duplicate pair graphs.

The post-dedup step every pipeline needs: candidate/verified PAIRS say
"a ~ b", but keeping one doc per duplicate GROUP requires the transitive
closure — connected components. Implemented as large-/small-star-free
min-label propagation: each iteration joins the current labels across
edges and keeps the per-node minimum neighbor label; converges in
O(diameter) rounds (≤ O(log n) for the short chains dedup graphs have).

Scale notes: every iteration is one shuffle on node id; the edge list
never grows, and a pointer-jumping step (comp := comp(comp)) gives
O(log diameter) rounds. The driver loop holds only a convergence check
(one count per round) and a hard cap — iterative algorithms can't be a
single Catalyst plan, so this is the documented exception to "no
driver-side loops": log-many rounds of fully distributed work, not
per-row driver logic. localCheckpoint truncates lineage each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


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


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) — component = min node id reachable.

    ``pairs`` is an undirected edge list; isolated nodes don't appear
    (join your full id set afterwards with fill = own id). Raises
    ``ValueError`` when the last of ``max_iter`` rounds still changed a
    label: an unconverged prefix would split components (``k_core``
    raises the same way)."""
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
    labels = materialize(labels)

    for _ in range(max_iter):
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
        merged = stepped.join(
            l2, stepped.comp == l2.pnode, "left"
        ).select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("pcomp"), F.col("comp"))).alias(
                "new_comp"
            ),
            F.col("_old"),
        )
        # checkpoint FIRST, then count on the materialized frame — the
        # two round joins execute once, not once for the count and again
        # for the checkpoint
        merged = materialize(merged)
        changed = merged.filter(F.col("new_comp") < F.col("_old")).limit(1).count()
        labels = merged.select("node", F.col("new_comp").alias("comp"))
        if changed == 0:
            break
    else:
        raise ValueError(f"connected_components: labels still changing "
                         f"after max_iter={max_iter} rounds")
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
    """PageRank by fixed-iteration power method (r11) — the link-graph
    quality signal crawl curation ranks and samples by. Directed
    ``edges``; the node set is src∪dst; ranks start uniform (1/n) and
    each round every node keeps (1−d)/n plus d · the sum of incoming
    rank/out-degree, with DANGLING mass (nodes without out-edges)
    redistributed uniformly — so the ranks sum to 1 every iteration,
    the standard formulation.

    Plan per round: one broadcast-able join of ranks to the (static)
    out-degreed edge list, one groupBy(dst) sum, one left join back to
    the node set, one 1-row dangling-mass crossJoin — all distributed;
    the driver loop is the documented fixed-count exception (same as
    ``connected_components``), with localCheckpoint truncating lineage
    each round. Returns (node, rank).

    ``round_decimals``: round ranks after EVERY iteration. Float sums
    are association-order dependent at ~1e-16; per-iteration rounding
    at a much coarser step (e.g. 6 decimals) absorbs that drift so
    results are bit-stable across engines and partitionings — the
    differential-gate convention (the gate rounds at 6 and compares at
    4). None keeps full precision.

    ``tol`` (r12, VERDICT r11 #8 — the early-stop tier): when set,
    each round additionally computes max |Δrank| (one distributed agg
    → one driver scalar, the ``connected_components`` convergence-
    check convention) and stops as soon as it is ≤ tol; ``iters``
    becomes the CAP. At scale a fixed count wastes whole rounds after
    convergence — each a full edge-list join — while web-graph power
    iteration typically converges long before a conservative cap.
    With ``round_decimals`` set, tol=0 stops at the exact rounded
    fixed point, where further iterations provably change nothing.
    ``return_rounds=True`` returns ``(ranks, rounds_run)`` so callers
    (and the scaling table) can see the rounds saved."""
    # a crawl edge list carries NULL endpoints (unresolvable hrefs);
    # they are not nodes — dropped, not propagated into the node set.
    # Materialize the edge list FIRST (r13): everything below — the
    # node set, the out-degree frame, the degreed edges (a self-join
    # shape that embeds e twice) — re-evaluates e's lineage otherwise,
    # and a crawl caller's lineage is WARC parse + HTML link extraction
    # (measured 7.5s/pass at sf0.1: the unmaterialized seam paid it
    # ~3x, 33s -> 17s with this one checkpoint).
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
    ranks = materialize(ranks)
    base = (1.0 - damping) / n
    rounds_run = 0
    for _ in range(int(iters)):
        contrib = (
            ed.join(ranks, ed.u == ranks.node)
            .select("v", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_rank"))
        )
        in_term = F.coalesce(F.col("in_rank"), F.lit(0.0))
        if has_dangling:
            # dangling nodes leak their mass — collect it as ONE scalar
            # row and spread uniformly, keeping sum(rank) = 1. The semi
            # join against the materialized static set replaces the old
            # per-round anti-join against a freshly aggregated degree
            # frame (same node set, one edge-list aggregation total
            # instead of one per round).
            dangling = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            new_rank = F.lit(base) + F.lit(damping) * (
                in_term + F.col("dm") / n
            )
        else:
            new_rank = F.lit(base) + F.lit(damping) * in_term
        if round_decimals is not None:
            new_rank = F.round(new_rank, round_decimals)
        prev = ranks
        ranks = nodes.join(contrib, nodes.node == contrib.v, "left")
        if has_dangling:
            ranks = ranks.crossJoin(F.broadcast(dangling))
        ranks = ranks.select("node", new_rank.alias("rank"))
        ranks = materialize(ranks)
        rounds_run += 1
        if tol is not None:
            delta = (
                ranks.join(
                    prev.select(
                        "node", F.col("rank").alias("_prev")
                    ),
                    "node",
                )
                .agg(
                    F.max(F.abs(F.col("rank") - F.col("_prev"))).alias("d")
                )
                .collect()[0]["d"]
            )
            if delta is not None and delta <= tol:
                break
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
    """HITS hubs & authorities (Kleinberg) by fixed-iteration power
    method — PageRank's companion link signal: an AUTHORITY is pointed
    to by good hubs, a HUB points to good authorities (directories vs
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

    ``tol`` / ``return_rounds`` (r12): same early-stop contract as
    ``pagerank`` — stop when the hub vector's max |Δ| per round is
    ≤ tol (one aggregate → one driver scalar); ``iters`` becomes the
    cap."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .na.drop()
        .distinct()
    )
    e = materialize(e)
    nodes = materialize(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    n = nodes.count()
    _check_rounding_resolution(n, round_decimals)

    def _rnd(c):
        return F.round(c, round_decimals) if round_decimals is not None else c

    hubs = materialize(nodes.select("node", F.lit(1.0 / n).alias("hub")))
    auths = None
    rounds_run = 0
    for _ in range(int(iters)):
        raw_a = (
            e.join(hubs, e.u == hubs.node)
            .groupBy("v")
            .agg(F.sum("hub").alias("_s"))
        )
        a_tot = raw_a.agg(F.sum("_s").alias("_t"))
        auths = materialize(
            nodes.join(raw_a, nodes.node == raw_a.v, "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                _rnd(
                    F.coalesce(F.col("_s"), F.lit(0.0)) / F.col("_t")
                ).alias("auth"),
            )
        )
        raw_h = (
            e.join(auths, e.v == auths.node)
            .groupBy("u")
            .agg(F.sum("auth").alias("_s"))
        )
        h_tot = raw_h.agg(F.sum("_s").alias("_t"))
        prev_hubs = hubs
        hubs = materialize(
            nodes.join(raw_h, nodes.node == raw_h.u, "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                _rnd(
                    F.coalesce(F.col("_s"), F.lit(0.0)) / F.col("_t")
                ).alias("hub"),
            )
        )
        rounds_run += 1
        if tol is not None:
            delta = (
                hubs.join(
                    prev_hubs.select(
                        "node", F.col("hub").alias("_prev")
                    ),
                    "node",
                )
                .agg(
                    F.max(F.abs(F.col("hub") - F.col("_prev"))).alias("d")
                )
                .collect()[0]["d"]
            )
            if delta is not None and delta <= tol:
                break
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

    ``rounds=None`` peels to the fixpoint (early-stop on unchanged
    edge count — one driver scalar per round, the documented iterative
    exception, same as ``connected_components``); a pinned ``rounds``
    makes the computation closed-form unrollable for the differential
    twin. Per round: one degree aggregation + two semi-join-shaped
    prunes, all shuffle-partitioned on node id; the edge list only
    shrinks, and every intermediate is materialized so lineage never
    re-executes the peel history (the r13 graph-op lesson)."""
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
    und = materialize(directed.unionByName(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct())
    n_edges = und.count()
    rounds_run = 0
    # validate the fixpoint budget BEFORE the loop (ADVICE r14): with
    # rounds=None and max_rounds<1 the body never runs, so the
    # non-convergence raise below would hit an unbound n_pruned
    # (NameError instead of the intended diagnostic)
    if rounds is None and int(max_rounds) < 1:
        raise ValueError(
            f"k_core: max_rounds must be >= 1 when peeling to the "
            f"fixpoint (got {max_rounds})"
        )
    cap = int(rounds) if rounds is not None else int(max_rounds)
    while rounds_run < cap:
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
        pruned = materialize(
            und.join(keep, "u", "left_semi")
            .join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            )
            .select("u", "v")
        )
        rounds_run += 1
        n_pruned = pruned.count()
        und = pruned
        if rounds is None and n_pruned == n_edges:
            converged = True
            break
        n_edges = n_pruned
    else:
        converged = rounds is not None
    if rounds is None and not converged:
        # peel depth is O(n) on path-like graphs (each round only
        # removes the endpoints), NOT logarithmic like pointer-jumping
        # components — a silently returned 50-round prefix would label
        # interior chain nodes as core members. Raising beats warning
        # (the _check_rounding_resolution convention): the caller
        # raises max_rounds or pins rounds= explicitly.
        raise ValueError(
            f"k_core: no fixpoint within max_rounds={max_rounds} "
            f"({n_pruned} edges still peeling); raise max_rounds or "
            "pass rounds= to accept a pinned-prefix peel"
        )
    out = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("u").alias("node"), "degree")
    )
    if return_rounds:
        return out, rounds_run
    return out
