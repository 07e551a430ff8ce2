"""A GraphFrames-shaped facade over plain DataFrame ops, no graphframes jar.

``GraphFrame(v, e)`` takes vertices with an ``id`` column and edges with
``src`` and ``dst``, and offers what the graph queries use: ``outDegrees``,
fixed-round ``pageRank`` (returns a new GraphFrame whose vertices carry
``pagerank``), ``triangleCount`` and motif finding (``find``). Connected
components, the KG job's graph operator, lives in ``cc.py``.

Scale notes: out-degrees are one map-side-combinable aggregation. pageRank
joins out-degrees onto the edges once, then per round joins the ranks on
``src``, aggregates the mass by ``dst`` and truncates lineage with
``localCheckpoint``. Dangling vertices contribute no mass (GraphX
semantics) and every vertex keeps the reset floor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MOTIF_TERM = re.compile(r"^\((\w*)\)-\[(\w*)\]->\((\w*)\)$")

RESET_PROBABILITY = 0.15


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
    ).distinct()


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
    def outDegrees(self) -> DataFrame:
        return self._e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("outDegree")
        )

    def pageRank(self, maxIter: int) -> "GraphFrame":
        """``maxIter`` rounds of power iteration: pr'(v) = reset +
        (1-reset) * sum over in-edges of pr(u)/outDeg(u), with reset =
        ``RESET_PROBABILITY`` and every rank starting at 1."""
        alpha = RESET_PROBABILITY
        edges = (
            self._e.select("src", "dst")
            .join(self.outDegrees.withColumnRenamed("id", "src"), "src")
            .localCheckpoint()
        )
        ranks = self._v.select("id", F.lit(1.0).alias("pagerank"))
        for _ in range(maxIter):
            contribs = (
                edges.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("pagerank") / F.col("outDegree")).alias("_mass"))
            )
            ranks = (
                self._v.select("id")
                .join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(alpha)
                        + F.lit(1.0 - alpha) * F.coalesce(F.col("_mass"), F.lit(0.0))
                    ).alias("pagerank"),
                )
                .localCheckpoint()
            )
        return GraphFrame(self._v.join(ranks, "id"), self._e)

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
