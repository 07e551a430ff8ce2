"""GraphFrames-compatible facade over the native graph operators.

Users coming from GraphFrames get the familiar surface — ``GraphFrame(v,
e)``, ``degrees``, ``triplets``, ``connectedComponents()``, ``pageRank()``
— without the graphframes jar: everything routes to plain DataFrame ops
(the connected-components engine in ``cc.py``, joins + aggregations for
the rest), so it runs on a stock PySpark cluster.

Conventions match GraphFrames: vertices carry an ``id`` column, edges
carry ``src`` and ``dst``; ``connectedComponents`` adds ``component``;
``pageRank`` adds ``pagerank`` to vertices and returns a new GraphFrame.

Scale notes: degrees are one map-side-combinable aggregation; pageRank
pre-joins out-degrees once and re-joins ranks per iteration on ``src``
(pre-``repartition`` the edge list by ``src`` so every iteration reuses
the same exchange), truncating lineage per round with ``localCheckpoint``
exactly like the CC loop; dangling vertices contribute no mass (GraphX
semantics) and every vertex keeps the reset floor.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cc import _symmetrize, connected_components

_MOTIF_TERM = re.compile(r"^\((\w*)\)-\[(\w*)\]->\((\w*)\)$")


class _AM:
    """GraphFrames ``AggregateMessages`` column references: build the
    sendToSrc/sendToDst expressions against ``AM.src``/``AM.dst``/
    ``AM.edge`` and the aggregate against ``AM.msg``."""

    @property
    def src(self) -> Column:
        return F.col("src")

    @property
    def dst(self) -> Column:
        return F.col("dst")

    @property
    def edge(self) -> Column:
        return F.col("edge")

    @property
    def msg(self) -> Column:
        return F.col("MSG")


AggregateMessages = _AM()


class Pregel:
    """GraphFrames-compatible Pregel builder (``graphframes.lib.Pregel``):

        g.pregel.setMaxIter(5) \\
            .withVertexColumn("rank", F.lit(1.0), update_expr) \\
            .sendMsgToDst(Pregel.src("rank") / Pregel.src("outDegree")) \\
            .aggMsgs(F.sum(Pregel.msg())) \\
            .run()

    Each superstep is one triplet join + one map-side-combinable
    aggregation + one vertex-state join, with lineage truncated per
    round — the identical physical shape as the hand-rolled pageRank/LPA
    loops, generalized. Vertices receiving no message see a null ``_msg``
    in their update expression.
    """

    def __init__(self, graph: "GraphFrame") -> None:
        self._g = graph
        self._max_iter = 10
        self._checkpoint_interval = 1
        self._cols: list[tuple[str, Column, Column]] = []
        self._send_dst: list[Column] = []
        self._send_src: list[Column] = []
        self._agg: Column | None = None

    # -- column references usable inside expressions ----------------------
    @staticmethod
    def src(col: str) -> Column:
        return F.col(f"src.{col}")

    @staticmethod
    def dst(col: str) -> Column:
        return F.col(f"dst.{col}")

    @staticmethod
    def edge(col: str) -> Column:
        return F.col(f"edge.{col}")

    @staticmethod
    def msg() -> Column:
        return F.col("_msg")

    # -- builder -----------------------------------------------------------
    def setMaxIter(self, n: int) -> "Pregel":
        self._max_iter = int(n)
        return self

    def setCheckpointInterval(self, n: int) -> "Pregel":
        # GraphFrames convention: <= 0 disables per-superstep checkpointing
        self._checkpoint_interval = int(n)
        return self

    def withVertexColumn(self, name: str, initial: Column, update: Column) -> "Pregel":
        self._cols.append((name, initial, update))
        return self

    def sendMsgToDst(self, expr: Column) -> "Pregel":
        self._send_dst.append(expr)
        return self

    def sendMsgToSrc(self, expr: Column) -> "Pregel":
        self._send_src.append(expr)
        return self

    def aggMsgs(self, agg: Column) -> "Pregel":
        self._agg = agg
        return self

    def run(self) -> DataFrame:
        if not self._cols:
            raise ValueError("at least one withVertexColumn is required")
        if self._agg is None or not (self._send_dst or self._send_src):
            raise ValueError("sendMsgToDst/sendMsgToSrc and aggMsgs are required")
        v = self._g._v
        state = v.select("*", *[init.alias(name) for name, init, _ in self._cols])
        e = self._g._e.localCheckpoint(eager=False)
        for i in range(self._max_iter):
            trip = _triplets_of(state, e)
            parts = []
            for expr in self._send_dst:
                parts.append(
                    trip.select(F.col("dst.id").alias("id"), expr.alias("_msg"))
                )
            for expr in self._send_src:
                parts.append(
                    trip.select(F.col("src.id").alias("id"), expr.alias("_msg"))
                )
            msgs = parts[0]
            for p in parts[1:]:
                msgs = msgs.unionByName(p)
            inbox = (
                msgs.filter(F.col("_msg").isNotNull())
                .groupBy("id")
                .agg(self._agg.alias("_msg"))
            )
            state = state.join(inbox, "id", "left").select(
                *[c for c in state.columns if c not in {n for n, _, _ in self._cols}],
                *[update.alias(name) for name, _, update in self._cols],
            )
            if self._checkpoint_interval > 0 and (i + 1) % self._checkpoint_interval == 0:
                state = state.localCheckpoint()
        return state


def _triplets_of(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """(src struct, edge struct, dst struct) for an arbitrary vertex
    frame — two hash joins; broadcast kicks in when the vertex side is
    small. Shared by GraphFrame.triplets and each Pregel superstep."""
    vs = vertices.select(F.struct(*vertices.columns).alias("src_v"))
    vd = vertices.select(F.struct(*vertices.columns).alias("dst_v"))
    e = edges.select(F.struct(*edges.columns).alias("edge"))
    return (
        e.join(vs, F.col("edge.src") == F.col("src_v.id"))
        .join(vd, F.col("edge.dst") == F.col("dst_v.id"))
        .select(F.col("src_v").alias("src"), "edge", F.col("dst_v").alias("dst"))
    )


class GraphFrame:
    def __init__(self, v: DataFrame, e: DataFrame) -> None:
        if "id" not in v.columns:
            raise ValueError("vertex DataFrame must have an 'id' column")
        missing = {"src", "dst"} - set(e.columns)
        if missing:
            raise ValueError(f"edge DataFrame missing columns: {sorted(missing)}")
        self._v = v
        self._e = e

    @property
    def vertices(self) -> DataFrame:
        return self._v

    @property
    def edges(self) -> DataFrame:
        return self._e

    @property
    def pregel(self) -> Pregel:
        return Pregel(self)

    @property
    def outDegrees(self) -> DataFrame:
        return self._e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("outDegree")
        )

    @property
    def inDegrees(self) -> DataFrame:
        return self._e.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("inDegree")
        )

    @property
    def degrees(self) -> DataFrame:
        ends = self._e.select(F.explode(F.array("src", "dst")).alias("id"))
        return ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    @property
    def triplets(self) -> DataFrame:
        """(src struct, edge struct, dst struct) — two hash joins; broadcast
        kicks in automatically when the vertex side is small."""
        return _triplets_of(self._v, self._e)

    def connectedComponents(self, maxIter: int = 40) -> DataFrame:
        """Vertices + ``component`` (= min reachable vertex id). Routes to
        the partition-local union-find engine (``cc.py``); isolated
        vertices — which never appear in the edge list — are their own
        component."""
        comp = connected_components(self._e, src="src", dst="dst", max_iter=maxIter)
        joined = self._v.join(comp.withColumnRenamed("node", "id"), "id", "left")
        return joined.withColumn("component", F.coalesce("component", F.col("id")))

    def pageRank(
        self,
        resetProbability: float = 0.15,
        maxIter: int = 10,
        tol: float | None = None,
        sourceId=None,
    ) -> "GraphFrame":
        """Power iteration: pr'(v) = reset + (1-reset) * sum over in-edges
        of pr(u)/outDeg(u). Fixed ``maxIter`` rounds by default; pass
        ``tol`` for GraphFrames-parity convergence mode — iterate (up to
        ``maxIter``, the budget) until ``max |pr' - pr| < tol``. The tol
        probe is one extra tiny action per round (a max over the rank
        frame), which is why fixed-round mode stays the default at scale;
        the probe joins the two rank frames on the already-partitioned
        ``id`` key, so no new exchange shape appears.

        ``sourceId`` (GraphFrames parity) runs PERSONALIZED PageRank: the
        reset mass teleports to the source vertex only (rank init 1 at
        the source, 0 elsewhere), so scores measure proximity to the
        source — the same loop, only the reset term changes."""
        alpha = float(resetProbability)
        if tol is not None and tol <= 0:
            raise ValueError("tol must be positive")
        # out-degrees joined once, then the edge table is hash-partitioned
        # on src BEFORE checkpointing: localCheckpoint preserves the
        # partitioning, so every iteration's ranks join shuffles only the
        # (small) rank side — the big edge table is exchanged once per
        # pageRank call, not once per iteration.
        edges = (
            self._e.select("src", "dst")
            .join(self.outDegrees.withColumnRenamed("id", "src"), "src")
            .repartition("src")
            .localCheckpoint()
        )
        if sourceId is not None:
            init = F.when(F.col("id") == F.lit(sourceId), F.lit(1.0)).otherwise(
                F.lit(0.0)
            )
            reset = F.when(F.col("id") == F.lit(sourceId), F.lit(alpha)).otherwise(
                F.lit(0.0)
            )
        else:
            init, reset = F.lit(1.0), F.lit(alpha)
        ranks = self._v.select("id", init.alias("pagerank"))
        for _ in range(maxIter):
            contribs = (
                edges.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("pagerank") / F.col("outDegree")).alias("_mass"))
            )
            new_ranks = (
                self._v.select("id")
                .join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        reset
                        + F.lit(1.0 - alpha) * F.coalesce(F.col("_mass"), F.lit(0.0))
                    ).alias("pagerank"),
                )
                .localCheckpoint()
            )
            if tol is not None:
                delta = (
                    new_ranks.join(
                        ranks.withColumnRenamed("pagerank", "_prev"), "id"
                    )
                    .agg(F.max(F.abs(F.col("pagerank") - F.col("_prev"))))
                    .first()[0]
                )
                ranks = new_ranks
                if delta is not None and delta < tol:
                    break
            else:
                ranks = new_ranks
        return GraphFrame(self._v.join(ranks, "id"), self._e)

    def parallelPersonalizedPageRank(
        self,
        sourceIds: list,
        resetProbability: float = 0.15,
        maxIter: int = 10,
    ) -> DataFrame:
        """Personalized PageRank from EVERY source in one pass
        (GraphFrames API parity): returns (id, source, rank) — the rank
        of ``id`` personalized to ``source``. Instead of |S| separate
        loops, the rank state carries a source column ((id, source)
        grain, |V|x|S| rows at most — in practice only vertices a source
        reaches) and each iteration is ONE edges-joined aggregation
        grouped by (dst, source): the per-source problems share every
        shuffle. Vertices a source never reaches are omitted (their rank
        is 0)."""
        if not sourceIds:
            raise ValueError("sourceIds must be non-empty")
        alpha = float(resetProbability)
        edges = (
            self._e.select("src", "dst")
            .join(self.outDegrees.withColumnRenamed("id", "src"), "src")
            .repartition("src")
            .localCheckpoint()
        )
        sources = F.array(*[F.lit(s) for s in sourceIds])
        ranks = self._v.select(
            F.col("id"), F.explode(sources).alias("source")
        ).filter(F.col("id") == F.col("source")).select(
            "id", "source", F.lit(1.0).alias("rank")
        )
        resets = self._v.select(
            F.col("id"), F.explode(sources).alias("source")
        ).select(
            "id",
            "source",
            F.when(F.col("id") == F.col("source"), F.lit(alpha))
            .otherwise(F.lit(0.0))
            .alias("_reset"),
        ).localCheckpoint()
        for _ in range(maxIter):
            contribs = (
                edges.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"), "source")
                .agg(F.sum(F.col("rank") / F.col("outDegree")).alias("_mass"))
            )
            ranks = (
                resets.join(contribs, ["id", "source"], "left")
                .select(
                    "id",
                    "source",
                    (
                        F.col("_reset")
                        + F.lit(1.0 - alpha)
                        * F.coalesce(F.col("_mass"), F.lit(0.0))
                    ).alias("rank"),
                )
                .filter(F.col("rank") > 0.0)
                .localCheckpoint()
            )
        return ranks

    def labelPropagation(self, maxIter: int = 5) -> DataFrame:
        """Community detection: each round every vertex adopts its
        neighbors' most frequent label (ties -> min label, so runs are
        deterministic unlike stock LPA). Undirected semantics. One
        groupBy + one window per round; lineage truncated per round."""
        # partitioned on the join key before checkpointing (see pageRank):
        # per-round joins reuse this exchange instead of re-shuffling edges
        sym = _symmetrize(self._e, "src", "dst").repartition("v").localCheckpoint()
        labels = self._v.select("id", F.col("id").alias("label"))
        rank_w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("label"))
        for _ in range(maxIter):
            nbr = sym.join(labels.withColumnRenamed("id", "v"), "v").select(
                F.col("u").alias("id"), "label"
            )
            best = (
                nbr.groupBy("id", "label")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("_r", F.row_number().over(rank_w))
                .filter(F.col("_r") == 1)
                .select("id", "label")
            )
            labels = (
                self._v.select("id")
                .join(best.withColumnRenamed("label", "_new"), "id", "left")
                .select("id", F.coalesce("_new", F.col("id")).alias("label"))
                .localCheckpoint()
            )
        return self._v.join(labels, "id")

    def shortestPaths(self, landmarks: list, maxIter: int = 30) -> DataFrame:
        """Unweighted shortest-path distances to each landmark, as a
        ``distances`` map column (GraphFrames shape). Iterative frontier
        relaxation: dists ⟕ edges -> candidate dist+1, groupBy-min;
        stops when the distance set is stable. Directed: follows edges
        src -> dst (distance measured *to* the landmark along reversed
        edges, i.e. GraphFrames semantics: d(v, landmark))."""
        dists = (
            self._v.select("id")
            .filter(F.col("id").isin(landmarks))
            .select("id", F.col("id").alias("landmark"), F.lit(0).alias("dist"))
            .localCheckpoint()
        )
        rev = self._e.select(F.col("dst").alias("id"), F.col("src").alias("prev"))

        def _fp(d: DataFrame) -> tuple:
            # order-insensitive content hash: decimal(38,0) sum of per-row
            # hashes — a plain (count, sum(dist)) pair can collide when
            # distances shuffle between rows.
            row = d.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64("id", "landmark", "dist").cast("decimal(38,0)")),
                    F.lit(0),
                ).alias("h"),
            ).first()
            return int(row["n"]), int(row["h"])

        prev_fp = _fp(dists)
        for _ in range(maxIter):
            cand = rev.join(dists, "id").select(
                F.col("prev").alias("id"), "landmark", (F.col("dist") + 1).alias("dist")
            )
            dists = (
                dists.unionByName(cand)
                .groupBy("id", "landmark")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint()
            )
            fp = _fp(dists)
            if fp == prev_fp:
                break
            prev_fp = fp
        m = dists.groupBy("id").agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("landmark", "dist")))
            ).alias("distances")
        )
        return self._v.join(m, "id", "left").withColumn(
            "distances",
            F.coalesce("distances", F.map_from_arrays(F.array(), F.array())),
        )

    def shortestPathsWeighted(
        self,
        sources: list,
        weight: str = "weight",
        maxIter: int | None = None,
        rounds: int | None = None,
    ) -> DataFrame:
        """Single-source-set weighted shortest paths (Bellman-Ford
        relaxation): ``(id, dist)`` = min total ``weight`` along directed
        edges from ANY source; unreachable vertices get null. Distributed
        shape per round = one edges⋈dists join + groupBy-min — min is
        map-side combinable, so a hub's relaxations partial-aggregate
        before the shuffle; lineage truncated per round (the cc.py
        discipline). Converges in at most |V|-1 rounds for nonnegative
        weights; ``maxIter`` (default 30) is the budget with a
        fingerprint early-stop, or pass ``rounds`` for EXACTLY that many
        relaxations (the oracle-replayable fixed form — a k-round unroll
        in SQL is polynomial where true-shortest recursion is not)."""
        if rounds is not None and maxIter is not None:
            raise ValueError("pass maxIter (converge) or rounds (fixed), not both")
        budget = rounds if rounds is not None else (maxIter or 30)
        dists = (
            self._v.select("id")
            .filter(F.col("id").isin(sources))
            .select("id", F.lit(0).cast("long").alias("dist"))
            .localCheckpoint()
        )
        fwd = self._e.select("src", "dst", F.col(weight).alias("_w"))

        def _fp(d: DataFrame) -> tuple:
            row = d.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64("id", "dist").cast("decimal(38,0)")), F.lit(0)
                ).alias("h"),
            ).first()
            return int(row["n"]), int(row["h"])

        prev_fp = _fp(dists) if rounds is None else None
        for _ in range(budget):
            cand = fwd.join(dists.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id"), (F.col("dist") + F.col("_w")).alias("dist")
            )
            dists = (
                dists.unionByName(cand)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint()
            )
            if rounds is None:
                fp = _fp(dists)
                if fp == prev_fp:
                    break
                prev_fp = fp
        return self._v.join(dists, "id", "left")

    def stronglyConnectedComponents(self, maxIter: int = 40) -> DataFrame:
        """(id, component) with component = the smallest vertex id in each
        strongly connected component (GraphFrames API parity). Forward-
        backward coloring (Orzan-style), all joins + aggregations:

        per outer round over the still-unassigned subgraph,
        1. FORWARD min-label propagation to a fixpoint: color(v) = min id
           that reaches v;
        2. the color-class roots (id == color) are SCC anchors, and every
           SCC lies entirely inside its root's color class (a smaller
           outside id reaching any member would reach the root too —
           contradiction), so
        3. BACKWARD reachability from each root along SAME-COLOR edges
           marks exactly that root's SCC;
        4. assigned vertices leave; repeat.

        Each round settles at least every root's SCC; a pure path graph
        degenerates to one SCC per round (the documented worst case —
        GraphFrames' own SCC is similarly iterative), bounded by
        ``maxIter``. Raises if the budget exhausts with vertices left,
        rather than returning a partial labeling."""
        remaining = self._v.select("id").localCheckpoint()
        all_edges = (
            self._e.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        parts: list[DataFrame] = []

        def _fp(d: DataFrame, cols: list[str]) -> tuple:
            row = d.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)
                ).alias("h"),
            ).first()
            return int(row["n"]), int(row["h"])

        for _ in range(maxIter):
            if remaining.isEmpty():
                break
            e = (
                all_edges.join(
                    remaining.withColumnRenamed("id", "src"), "src", "semi"
                )
                .join(remaining.withColumnRenamed("id", "dst"), "dst", "semi")
                .select("src", "dst")
                .localCheckpoint()
            )
            # 1. forward min-color propagation to fixpoint
            color = remaining.select("id", F.col("id").alias("color"))
            prev = None
            while True:
                cand = e.join(
                    color.withColumnRenamed("id", "src"), "src"
                ).select(F.col("dst").alias("id"), "color")
                color = (
                    color.unionByName(cand)
                    .groupBy("id")
                    .agg(F.min("color").alias("color"))
                    .localCheckpoint()
                )
                fp = _fp(color, ["id", "color"])
                if fp == prev:
                    break
                prev = fp
            # 3. backward reach from roots along same-color edges
            ce = (
                e.join(color.withColumnRenamed("id", "src"), "src")
                .withColumnRenamed("color", "_cs")
                .join(
                    color.select(
                        F.col("id").alias("dst"), F.col("color").alias("_cd")
                    ),
                    "dst",
                )
                .filter(F.col("_cs") == F.col("_cd"))
                .select("src", "dst")
                .localCheckpoint()
            )
            reach = color.filter(F.col("id") == F.col("color")).select(
                "id", "color"
            )
            prev = None
            while True:
                back = (
                    ce.join(reach.withColumnRenamed("id", "dst"), "dst")
                    .select(F.col("src").alias("id"), "color")
                )
                reach = (
                    reach.unionByName(back)
                    .groupBy("id")
                    .agg(F.min("color").alias("color"))
                    .localCheckpoint()
                )
                fp = _fp(reach, ["id", "color"])
                if fp == prev:
                    break
                prev = fp
            assigned = reach.select("id", F.col("color").alias("component"))
            parts.append(assigned)
            remaining = remaining.join(
                assigned.select("id"), "id", "anti"
            ).localCheckpoint()
        else:
            if not remaining.isEmpty():
                raise RuntimeError(
                    f"SCC did not settle within maxIter={maxIter} rounds"
                )
        if not parts:  # empty vertex frame
            return self._v.select(
                "id", F.col("id").alias("component")
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def kCore(
        self, k: int, maxIter: int | None = None, rounds: int | None = None
    ) -> DataFrame:
        """Vertices of the k-core — the maximal subgraph where every
        vertex keeps undirected degree >= k (Seidman 1983; the standard
        KG noise trim: peel leaf chains and sparse fringes before
        expensive downstream analytics). Iterative peel: per round one
        degree count (explode + map-side-combinable groupBy) and two
        semi-joins re-inducing the edge set — no adjacency list ever
        materializes, so a hub's neighborhood never has to fit in one
        task; lineage truncated per round. Returns (id, deg) for
        surviving vertices, deg = degree within the returned core.

        ``maxIter`` (default 30) converges with a fingerprint early-stop
        (the peel is monotone — a stable survivor set is the fixpoint);
        ``rounds`` runs EXACTLY that many peels (the oracle-replayable
        fixed form, the shortestPathsWeighted discipline)."""
        if rounds is not None and maxIter is not None:
            raise ValueError("pass maxIter (converge) or rounds (fixed), not both")
        if k < 1:
            raise ValueError("k must be >= 1")
        budget = rounds if rounds is not None else (maxIter or 30)
        # canonical undirected edges (u < v), self-loops dropped
        edges = (
            _symmetrize(self._e, "src", "dst")
            .filter(F.col("u") < F.col("v"))
            .localCheckpoint()
        )

        def _deg(e: DataFrame) -> DataFrame:
            return (
                e.select(F.explode(F.array("u", "v")).alias("id"))
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("deg"))
            )

        prev = None
        for _ in range(budget):
            keep = _deg(edges).filter(F.col("deg") >= F.lit(int(k))).select("id")
            edges = (
                edges.join(keep.withColumnRenamed("id", "u"), "u", "semi")
                .join(keep.withColumnRenamed("id", "v"), "v", "semi")
                .select("u", "v")
                .localCheckpoint()
            )
            if rounds is None:
                row = edges.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
                    ).alias("h"),
                ).first()
                fp = (int(row["n"]), int(row["h"]))
                if fp == prev:
                    break
                prev = fp
        # output = degrees over the final induced edge set, both modes
        # (isolated survivors have no edges and drop out; at the converged
        # fixpoint every reported deg >= k — it may dip below only in the
        # fixed-rounds replay form)
        return _deg(edges).select("id", "deg")

    def filterVertices(self, condition: Column | str) -> "GraphFrame":
        """Subgraph induced by vertices matching ``condition``: edges keep
        only endpoints that survive (two semi-joins, broadcast-able)."""
        v = self._v.filter(condition)
        ids = v.select("id")
        e = (
            self._e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select(*self._e.columns)
        )
        return GraphFrame(v, e)

    def filterEdges(self, condition: Column | str) -> "GraphFrame":
        """Same vertices, edges filtered (GraphFrames semantics: vertices
        are NOT dropped — compose with dropIsolatedVertices for that)."""
        return GraphFrame(self._v, self._e.filter(condition))

    def dropIsolatedVertices(self) -> "GraphFrame":
        """Remove vertices that appear in no edge (one distinct over the
        exploded endpoints + a semi-join)."""
        ends = self._e.select(F.explode(F.array("src", "dst")).alias("id")).distinct()
        return GraphFrame(self._v.join(ends, "id", "left_semi"), self._e)

    def bfs(
        self,
        fromExpr: Column | str,
        toExpr: Column | str,
        maxPathLength: int = 10,
    ) -> DataFrame:
        """GraphFrames BFS: shortest directed paths from vertices matching
        ``fromExpr`` to vertices matching ``toExpr``. Returns the paths of
        the FIRST length at which any match exists, shaped like
        GraphFrames: columns ``from, e0, v1, e1, …, to`` (vertex/edge
        attribute structs). Length-0 matches (a vertex satisfying both)
        return a single ``from``/``to`` pair of the same vertex.

        Each hop is one hash join frontier-expansion; the early-exit count
        per hop is the only driver-side action, so the plan is
        hop-bounded, never all-pairs. The two length-0 questions (any
        source at all? any source already a target?) fold into ONE
        up-front aggregate action instead of two isEmpty probes.
        """
        v_struct = F.struct(*self._v.columns)
        frm = self._v.filter(fromExpr)
        to_cond = F.expr(toExpr) if isinstance(toExpr, str) else toExpr
        counts = frm.agg(
            F.count(F.lit(1)).alias("n_from"),
            F.count(F.when(to_cond, 1)).alias("n_hit0"),
        ).first()
        if counts["n_from"] == 0:
            return frm.select(v_struct.alias("from"), v_struct.alias("to")).limit(0)

        # length 0: a source vertex that already satisfies toExpr
        if counts["n_hit0"] > 0:
            return frm.filter(to_cond).select(v_struct.alias("from"), v_struct.alias("to"))

        e_struct = F.struct(*self._e.columns)
        edges = self._e.select(
            "src", "dst", e_struct.alias("__e")
        ).localCheckpoint()
        v_attrs = self._v.select(F.col("id").alias("__vid"), v_struct.alias("__v"))

        hit_ids = self._v.filter(toExpr).select(F.col("id").alias("__head"))

        # paths: (from, e0, v1, …, __head id) — grow one hop per round
        paths = frm.select(v_struct.alias("from"), F.col("id").alias("__head"))
        for hop in range(maxPathLength):
            # LAZY checkpoint: the hit probe right below is the hop's one
            # driver action — it materializes the checkpoint as a side
            # effect, so each hop costs ONE job instead of two (eager
            # checkpoint job + isEmpty job). When the probe misses it has
            # scanned every partition, so the next hop's `paths` reuse
            # reads the fully materialized checkpoint, never recomputes.
            grown = (
                paths.join(edges.withColumnRenamed("src", "__head"), "__head")
                .drop("__head")
                .withColumnRenamed("dst", "__head")
                .withColumnRenamed("__e", f"e{hop}")
                .join(v_attrs.withColumnRenamed("__vid", "__head"), "__head")
                .withColumnRenamed("__v", f"v{hop + 1}")
                .localCheckpoint(eager=False)
            )
            hits = grown.join(hit_ids, "__head", "left_semi")
            if not hits.isEmpty():
                cols = ["from"] + [
                    c for i in range(hop + 1) for c in (f"e{i}", f"v{i + 1}")
                ]
                return hits.select(*cols).withColumnRenamed(f"v{hop + 1}", "to")
            paths = grown
        return frm.select(v_struct.alias("from"), v_struct.alias("to")).limit(0)

    def find(self, pattern: str) -> DataFrame:
        """GraphFrames motif finding: ``pattern`` is a semicolon-separated
        list of edge terms ``(a)-[e]->(b)``. Named vertices unify across
        terms; anonymous vertices ``()`` and edges ``[]`` match anything
        and produce no output column. Returns one column per named element
        in first-appearance order — vertices as their full attribute
        struct, edges as ``struct(src, dst, ...)``.

        Plan shape: one hash join per term on the shared vertex ids (a
        disconnected term becomes an explicit cross join, exactly like
        GraphFrames), then one broadcast-able join per named vertex to
        attach attributes. No HOFs, no UDFs. Negated terms (``!(a)-...``)
        are not supported.
        """
        terms = [t.strip() for t in pattern.split(";") if t.strip()]
        if not terms:
            raise ValueError("empty motif pattern")
        parsed = []
        for t in terms:
            m = _MOTIF_TERM.match(t)
            if not m:
                raise ValueError(
                    f"unsupported motif term {t!r} (expected '(a)-[e]->(b)')"
                )
            parsed.append(m.groups())

        edge_names = [e for _, e, _ in parsed if e]
        if len(edge_names) != len(set(edge_names)):
            raise ValueError("edge names must be distinct within a pattern")
        vertex_names = {n for sv, _, dv in parsed for n in (sv, dv) if n}
        clash = vertex_names & set(edge_names)
        if clash:
            raise ValueError(
                f"names used for both a vertex and an edge: {sorted(clash)}"
            )

        order: list[str] = []  # named elements in first-appearance order
        kinds: dict[str, str] = {}
        cur: DataFrame | None = None
        bound: set[str] = set()
        for i, (sv, en, dv) in enumerate(parsed):
            for name, kind in ((sv, "v"), (en, "e"), (dv, "v")):
                if name and name not in kinds:
                    kinds[name] = kind
                    order.append(name)
            cols = []
            if sv:
                cols.append(F.col("src").alias(f"__v_{sv}"))
            if dv:
                cols.append(F.col("dst").alias(f"__v_{dv}"))
            if en:
                cols.append(F.struct(*self._e.columns).alias(f"__e_{en}"))
            term_df = self._e.select(*cols) if cols else self._e.select(
                F.lit(1).alias(f"__anon_{i}")
            )
            if sv and sv == dv:
                # self-loop term: both ends name the same vertex
                term_df = self._e.filter(F.col("src") == F.col("dst")).select(
                    F.col("src").alias(f"__v_{sv}"),
                    *( [F.struct(*self._e.columns).alias(f"__e_{en}")] if en else [] ),
                )
            if cur is None:
                cur = term_df
            else:
                keys = sorted(
                    {f"__v_{n}" for n in (sv, dv) if n and n in bound}
                )
                cur = cur.join(term_df, keys) if keys else cur.crossJoin(term_df)
            bound.update(n for n in (sv, dv) if n)

        out_cols = []
        for name in order:
            if kinds[name] == "e":
                out_cols.append(F.col(f"__e_{name}").alias(name))
            else:
                v_struct = self._v.select(
                    F.col("id").alias(f"__v_{name}"),
                    F.struct(*self._v.columns).alias(f"__s_{name}"),
                )
                cur = cur.join(v_struct, f"__v_{name}")
                out_cols.append(F.col(f"__s_{name}").alias(name))
        return cur.select(*out_cols)

    def aggregateMessages(
        self,
        aggCol: Column,
        sendToSrc: Column | None = None,
        sendToDst: Column | None = None,
    ) -> DataFrame:
        """GraphFrames ``aggregateMessages``: evaluate ``sendToSrc`` /
        ``sendToDst`` over each triplet (referencing ``AM.src``/``AM.dst``/
        ``AM.edge``), then aggregate the messages arriving at each vertex
        with ``aggCol`` (referencing ``AM.msg``). Returns (id, agg result).

        One triplet join + one map-side-combinable aggregation — the same
        shape every message-passing round (pageRank, LPA) compiles to.
        """
        if sendToSrc is None and sendToDst is None:
            raise ValueError("at least one of sendToSrc/sendToDst is required")
        trip = self.triplets
        parts = []
        if sendToSrc is not None:
            parts.append(
                trip.select(F.col("src")["id"].alias("id"), sendToSrc.alias("MSG"))
            )
        if sendToDst is not None:
            parts.append(
                trip.select(F.col("dst")["id"].alias("id"), sendToDst.alias("MSG"))
            )
        msgs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return msgs.filter(F.col("MSG").isNotNull()).groupBy("id").agg(aggCol)

    def triangleCount(self) -> DataFrame:
        """Triangles through each vertex. Canonical-direction edges
        (u < v) joined twice: wedge (a<b, b<c) closed by (a, c) — each
        triangle found exactly once, then credited to all three corners.
        Two shuffles total; no neighbor-list materialization, so a hub's
        adjacency never has to fit in one task."""
        e = (
            _symmetrize(self._e, "src", "dst")
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
        ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = ab.join(bc, "b").join(ac, ["a", "c"])  # a < b < c
        corners = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("count"))
        return self._v.join(counts, "id", "left").fillna({"count": 0})


def clustering_coefficient(graph: "GraphFrame") -> DataFrame:
    """Local clustering coefficient per vertex:
    ``coef = triangles / (deg * (deg - 1) / 2)`` over the undirected
    simple graph (0.0 for degree < 2) — the cohesion signal community
    pipelines threshold on. Composes the existing triangle count (two
    equi-joins on canonical edges, no adjacency lists) with one degree
    aggregation; the division is one exact IEEE op rounded to 6 dp, and
    the wedge count is exact integer math, so both engines agree
    bit-for-bit. Returns (id, triangles, deg, coef)."""
    tri = graph.triangleCount().select("id", F.col("count").alias("triangles"))
    und = (
        _symmetrize(graph._e, "src", "dst")
        .filter(F.col("u") < F.col("v"))
        .select(F.explode(F.array("u", "v")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedges = (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double") / F.lit(2.0)
    return (
        tri.join(und, "id", "left")
        .select(
            "id",
            "triangles",
            F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) < 2, F.lit(0.0)
            )
            .otherwise(
                F.round(F.col("triangles").cast("double") / wedges, 6)
            )
            .alias("coef"),
        )
    )


def related_entities(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_shared: int = 1,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Entities related through shared neighbors on a bipartite edge set
    (subjects sharing objects — the KG "customers who bought X" /
    related-concept primitive): (a, b, shared, jaccard) for source pairs
    a < b, ``jaccard = shared / (deg_a + deg_b - shared)`` over distinct
    neighbor sets.

    Scale: pair fan-out is quadratic in a NEIGHBOR's degree, so
    ``max_hub_degree`` drops hub neighbors BEFORE the self-join (the
    boilerplate/max_df noise rule: an object everyone links to carries
    no signal and would alone generate deg² pairs). Degrees — and
    therefore the Jaccard — are computed over the SAME hub-filtered
    edge set, so the statistic stays internally consistent; that choice
    is part of the contract. The self-join is equi on the neighbor key,
    never cartesian.
    """
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("nb")
    ).filter(F.col("a").isNotNull() & F.col("nb").isNotNull()).distinct()
    if max_hub_degree is not None:
        ok = (
            e.groupBy("nb")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") <= F.lit(int(max_hub_degree)))
            .select("nb")
        )
        e = e.join(ok, "nb", "semi")
    e = e.localCheckpoint(eager=False)  # consumed by pairs (twice) + degrees
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
    rhs = e.select(F.col("a").alias("b"), "nb")
    pairs = (
        e.join(rhs, "nb")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= F.lit(int(min_shared)))
    )
    return (
        pairs.join(deg, "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("_deg").alias("_degb")), "b"
        )
        .select(
            "a",
            "b",
            "shared",
            F.round(
                F.col("shared").cast("double")
                / (
                    F.col("_deg").cast("double")
                    + F.col("_degb").cast("double")
                    - F.col("shared").cast("double")
                ),
                6,
            ).alias("jaccard"),
        )
    )
