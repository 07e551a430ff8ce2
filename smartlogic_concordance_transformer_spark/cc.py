"""Entity linking: connected components over the concordance edge set.

Concepts that share a derived variant UUID (or concord with each other)
form one equivalence class; the canonical node is the lexicographic-min
UUID in the class. The reference has no cross-document linking at all (one
Kafka message = one star), so this operator is new design mandated by the
north rule, not parity.

Both paths run union-find over the canonical edges ``(u, v)``, ``u > v``,
smaller root wins (the local phase of BTS, "Load-Balanced Distributed
Union-Find ... Balanced Tree Structures", ICDE'24). Which one runs depends
on the planned size of the edge set:

**One task** (planned size at most ``_ONE_TASK_MAX_BYTES``): every edge
goes to one ``mapInArrow`` task (``repartition(1)``), whose union-find is
global, so it emits the final ``(node, component)`` rows directly, roots
as ``(r, r)``. One stage: no dedupe, no checkpoint, no convergence probe.

**Rounds** (above the bound, or size unknown). One round:

    route:  emit every edge twice, keyed by each endpoint; repartition
            by the key, so ALL edges of a node meet in one partition
    local:  per partition (``mapInArrow``), union-find over its edges;
            emit (member, local min) for every non-root node, tagged
            ``changed`` = the partition's output edge set differs from
            its input edge set
    merge:  groupBy(u, v) + max(changed); localCheckpoint

Each round keeps connectivity and every emitted edge points down to a
smaller id. A round where no partition changed is the fixpoint: every
node's edges sat in one partition whose edges were already a star forest
rooted at the local minimum, so the global edge set is a star forest
rooted at each component's minimum. The argument needs only that all
rows with one key share a partition — AQE coalescing keeps that, so the
partition count changes the round count, never the result. Long paths
take a handful of rounds: a 20k-node random-id path takes 6 over 4
partitions, 2 once AQE coalesces it into one.

**The gate is a plan statistic**, the optimized plan's ``sizeInBytes`` —
the estimate Spark's own broadcast choice reads. It costs no Spark job:
for a file scan it comes from the file sizes. A frame Spark cannot size
(an in-memory ``createDataFrame``, an RDD: ``Long.MaxValue``) or
over-estimates (a join: the product of its sides) takes the rounds, which
hold at any size. ``docs/SCALE.md`` has the measurements behind the bound.

No join and no ``collect_list`` of neighbours: a hub's edges all route to
the hub's partition every round, where union-find folds them in one pass.
Ids keep their Spark type; string ids compare in Python code-point order,
which is Spark's binary UTF-8 order.
"""

from __future__ import annotations

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

# Largest planned edge-set size that takes the one-task path: about 800k
# edges of the triples table, a Python worker of about 0.4 GB. At 4 cores
# one task beat the rounds at every size measured; the bound is set by
# the worker's memory (docs/SCALE.md).
_ONE_TASK_MAX_BYTES = 32 * 1024 * 1024


class ConvergenceError(RuntimeError):
    pass


def _read_edges(batches):
    """Arrow batches of (u, v) -> (us, vs, id type) as Python lists."""
    us: list = []
    vs: list = []
    id_type = None
    for b in batches:
        id_type = b.schema.field("u").type
        # to_numpy(...).tolist() builds the Python objects ~10x faster
        # than to_pylist()
        us += b.column("u").to_numpy(zero_copy_only=False).tolist()
        vs += b.column("v").to_numpy(zero_copy_only=False).tolist()
    return us, vs, id_type


def _union_find(us: list, vs: list) -> dict:
    """node -> min node of its component, over every node of the edges."""
    parent = dict(zip(vs, vs))
    parent.update(zip(us, us))

    def find(x):
        while (p := parent[x]) != x:
            parent[x] = x = parent[p]  # path halving
        return x

    for u, v in zip(us, vs):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    for x in parent:
        parent[x] = find(x)  # full compression: parent is now root
    return parent


def _union_find_partition(batches):
    """Rounds kernel: union-find over every edge of the partition ->
    (member, root, changed) per non-root node."""
    us, vs, id_type = _read_edges(batches)
    if not us:
        return
    parent = _union_find(us, vs)
    members = [x for x, r in parent.items() if r != x]
    roots = [parent[x] for x in members]
    # The output {(x, root(x))} equals the input edge set iff every input
    # edge already points at its root: then the members are exactly the
    # input u's, and each u has the one edge (u, root(u)).
    changed = any(parent[u] != v for u, v in zip(us, vs))
    yield pa.RecordBatch.from_arrays(
        [pa.array(members, id_type), pa.array(roots, id_type), pa.repeat(changed, len(members))],
        names=["u", "v", "changed"],
    )


def _union_find_all(batches):
    """One-task kernel: union-find over the whole edge set ->
    (node, component) for every node, roots as (r, r)."""
    us, vs, id_type = _read_edges(batches)
    if not us:
        return
    parent = _union_find(us, vs)
    yield pa.RecordBatch.from_arrays(
        [pa.array(list(parent), id_type), pa.array(list(parent.values()), id_type)],
        names=["node", "component"],
    )


def _union_find_round(edges: DataFrame) -> DataFrame:
    """One round over directed (u > v) edges -> (u, v, changed), deduped."""
    uv = edges.select("u", "v")
    # a new StructType: DataFrame.schema is cached, so .add would mutate it
    out_schema = StructType([*uv.schema.fields, StructField("changed", BooleanType())])
    return (
        uv.select(F.explode(F.array("u", "v")).alias("k"), "u", "v")
        .repartition("k")
        .select("u", "v")
        .mapInArrow(_union_find_partition, out_schema)
        .groupBy("u", "v")
        .agg(F.max("changed").alias("changed"))
    )


def _fits_one_task(edges: DataFrame) -> bool:
    """True iff the optimized plan sizes ``edges`` at most the bound."""
    try:
        # a Scala BigInt: a join's estimate can exceed Long.MaxValue
        size = int(str(edges._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (AttributeError, ValueError, Py4JError, PySparkException):
        return False  # unknown size: the rounds hold at any size
    return size <= _ONE_TASK_MAX_BYTES


def connected_components(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_iter: int = 40,
) -> DataFrame:
    """Edge list -> (node, component); component = min node id reachable."""
    cur = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
    if _fits_one_task(cur):
        out_schema = cur.toDF("node", "component").schema
        return cur.repartition(1).mapInArrow(_union_find_all, out_schema)
    for _ in range(max_iter):
        # lazy: the convergence probe right below materializes it, so a
        # round is one driver action
        cur = _union_find_round(cur).localCheckpoint(eager=False)
        if not cur.agg(F.max("changed")).first()[0]:
            # star forest: every edge points member -> root. Members and
            # roots are disjoint (u != v), so the union needs no distinct.
            roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
                "component", F.col("node")
            )
            members = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
            return members.unionByName(roots)
    raise ConvergenceError(f"connected_components did not converge in {max_iter} iterations")


def canonical_mapping(edges: DataFrame, src: str = "subj", dst: str = "obj", **kw) -> DataFrame:
    """(node, canonical) — canonical = lexicographic min UUID per class."""
    return connected_components(edges, src, dst, **kw).withColumnRenamed("component", "canonical")


def canonical_triples(edges: DataFrame, src: str = "subj", dst: str = "obj", **kw) -> DataFrame:
    """Re-rooted equivalence edges: (canonical, concordsWith, member) for
    every non-canonical member of each class."""
    mapping = canonical_mapping(edges, src, dst, **kw)
    return mapping.filter(F.col("node") != F.col("canonical")).select(
        F.col("canonical").alias("subj"),
        F.lit("concordsWith").alias("pred"),
        F.col("node").alias("obj"),
    )
