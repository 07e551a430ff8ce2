"""Similarity search over an embedding column (array<float>).

* brute_force_topk — exact cosine top-k. The query set is broadcast (it is
  small by construction); the corpus is scanned once; per-row dot products
  run as JVM-side ``aggregate``/``zip_with`` expressions (interpreted
  CodegenFallback — acceptable here because this is the documented exact
  oracle baseline, not the scale path); the top-k is a per-query window.
  Scan cost O(n·q·d), shuffle cost O(n_q · k) only.

* lsh_ann_topk — random-hyperplane LSH: sign-bit signatures bucket the
  corpus; only same-bucket (or multi-probe neighboring) candidates get the
  exact distance. The 100 TB path: the bucket join replaces the full scan
  per query; recall is tunable via n_planes / n_tables.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_udf():
    """Vectorized pairwise cosine: one numpy batch per Arrow exchange.
    Use for bulk verify stages (the expression form above is interpreted
    CodegenFallback — right for oracle-matched scoring of modest row
    counts, ~10x too slow for candidate-pair verification)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a, b):
        if len(a) == 0:
            return pd.Series(np.empty(0, dtype="float64"))
        A = np.vstack(a.to_numpy())
        B = np.vstack(b.to_numpy())
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(num / den)

    return _cos


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, score, rank) — exact cosine top-k per query.

    ``queries``: (query_key_col, vec_col). Broadcast-joined against the
    corpus scan; never a shuffle of the corpus itself.
    """
    q = queries.select(
        F.col(query_key_col), F.col(vec_col).alias("_qv"), _norm(F.col(vec_col)).alias("_qn")
    )
    c = corpus.select(
        F.col(key_col), F.col(vec_col).alias("_cv"), _norm(F.col(vec_col)).alias("_cn")
    )
    scored = c.join(F.broadcast(q)).select(
        query_key_col,
        key_col,
        (_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias("score"),
    )
    w = Window.partitionBy(query_key_col).orderBy(F.desc("score"), F.col(key_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id: bit p = 1 iff vec . plane_p > 0.

    Vectorized pandas UDF: one numpy matmul per Arrow batch (n x dim @
    dim x p). The expression alternative (``F.aggregate`` over
    ``zip_with`` per plane) is a CodegenFallback HOF — interpreted,
    per-element allocation — and measured ~10x slower on the bench
    corpus; batched BLAS is the right kernel at any scale.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype="float64").T  # dim x p
    weights = (1 << np.arange(P.shape[1], dtype=np.int64))

    # no type hints: `from __future__ import annotations` stringifies them,
    # which the pandas_udf hint-inference can't resolve for local closures
    @pandas_udf("long")
    def _sig(v):
        if len(v) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        X = np.vstack(v.to_numpy())  # n x dim
        bits = (X @ P) > 0
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _sig(c.cast("array<double>"))


def lsh_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.99,
    n_planes: int = 8,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    seed: int = 42,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Near-duplicate pairs ``(a, b)`` with ``a < b`` and cosine >=
    ``threshold`` — WITHOUT an all-pairs cross join.

    Random-hyperplane signatures bucket the corpus; every row is probed
    into its exact bucket plus each 1-bit flip (multi-probe), so any pair
    whose signatures differ in <= 2 planes lands in a shared bucket.
    For cosine >= 0.99 the per-plane disagreement probability is
    arccos(0.99)/pi ~ 4.5%, so P(>2 of 8 planes differ) is negligible —
    and scale-identical duplicates share the exact bucket deterministically.

    Plan shape: explode(n_planes+1 probes) -> self hash-join on the bucket
    -> distinct candidate pairs -> two hash joins back for the vectors ->
    exact-cosine verify. Cost is proportional to bucket collisions, not
    O(n^2); at 10^9+ rows the signature is also the natural clustering
    column for the stored corpus.
    """
    planes = _random_planes(dim, n_planes, seed)
    # the signature frame feeds both sides of the bucket self-join — cut
    # its lineage (default) so the hyperplane-signature pass runs once,
    # not once per branch; truncate_lineage=False for callers that
    # persist the signature table themselves (the run-scale shape)
    sig = corpus.select(
        F.col(key_col).alias("_k"), lsh_signature(F.col(vec_col), planes).alias("_sig")
    )
    if truncate_lineage:
        sig = sig.localCheckpoint(eager=False)
    probes = F.array(
        F.col("_sig"),
        *[F.col("_sig").bitwiseXOR(F.lit(1 << p)).cast("long") for p in range(n_planes)],
    )
    exploded = sig.select("_k", F.explode(probes).alias("_bucket"))
    a = exploded.select(F.col("_k").alias("a"), "_bucket")
    b = exploded.select(F.col("_k").alias("b"), "_bucket")
    cand = a.join(b, "_bucket").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    vecs = corpus.select(F.col(key_col).alias("_k"), F.col(vec_col).alias("_v"))
    paired = cand.join(
        vecs.withColumnRenamed("_k", "a").withColumnRenamed("_v", "_va"), "a"
    ).join(vecs.withColumnRenamed("_k", "b").withColumnRenamed("_v", "_vb"), "b")
    cos = cosine_udf()
    return paired.filter(
        cos(F.col("_va").cast("array<double>"), F.col("_vb").cast("array<double>"))
        >= threshold
    ).select("a", "b")


def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    max_train_rows: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """IVF coarse quantizer: Lloyd's k-means on a driver-side sample.

    The 100 TB pattern: train on a *row-count-bounded* sample (a few
    hundred thousand vectors fit on the driver), assign the full corpus
    distributed. The centroid list is tiny and broadcast as literals into
    the plan. ``max_train_rows`` caps the collect absolutely — a fraction
    alone scales with corpus size, so the limit is what keeps the driver
    safe at 10^9+ rows.
    """
    rows = (
        corpus.sample(fraction=min(1.0, sample_fraction), seed=seed)
        .select(vec_col)
        .limit(int(max_train_rows))
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype="float64")
    return lloyd_kmeans(X, k=k, iters=iters, seed=seed)


def lloyd_kmeans(X: "np.ndarray", k: int, iters: int = 10, seed: int = 42) -> list[list[float]]:
    """Pure-numpy Lloyd iterations on an in-memory float64 matrix.

    Deliberately exposed as the shared kernel: given the same matrix (same
    rows, same order) this is bit-deterministic, so a verifier that
    rebuilds the training matrix independently (e.g. the sim_ivf DuckDB
    oracle reading the same parquet via pyarrow) reproduces the centroids
    EXACTLY and can check assignment + rerank as plain SQL over centroid
    literals."""
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    n = len(X)
    assign = np.empty(n, dtype=np.int64)
    # r8: row-chunked distance pass. Each row's (x-c)^2 sum is computed
    # with the identical elementwise ops and reduction axis, so the
    # assignment — and therefore every centroid — is BIT-IDENTICAL to
    # the unchunked form (verified; the frozen sim_ivf oracle SQL embeds
    # these centroids as literals, so value drift would be a regression).
    # The chunk just bounds the n*k*dim temporary: ~2.6x faster at the
    # 100k-row training cap, where the full temporary blows the cache.
    for _ in range(iters):
        for lo in range(0, n, 1024):
            hi = min(lo + 1024, n)
            d = ((X[lo:hi, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign[lo:hi] = d.argmin(axis=1)
        for j in range(len(cents)):
            m = X[assign == j]
            if len(m):
                cents[j] = m.mean(axis=0)
    return cents.tolist()


def _centroid_dist2(vec_col, centroid: list[float]):
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec_col, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def ivf_assign(corpus: DataFrame, centroids: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """+ ``_cell`` column: index of the nearest centroid (first index on
    exact ties, like ``array_position`` of the min).

    Assignment runs over the FULL corpus — at 10^9+ rows it is the
    dominant IVF cost — so it is one numpy matmul per Arrow batch
    (argmin of ||x||^2 - 2 x.C + ||c||^2; the ||x||^2 term is
    argmin-invariant and dropped). The expression alternative (one
    ``aggregate``/``zip_with`` HOF per centroid, k of them per row) is
    interpreted CodegenFallback — the same ~10x-slow kernel pattern
    measured for the pair-cosine verify. ``_cell`` is the column the
    corpus table is partitioned/clustered by at scale, making each probe
    a partition-pruned scan regardless of how the column was computed."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")  # k x d
    CT = C.T  # d x k
    c2 = (C * C).sum(axis=1)  # k

    # no type hints: stringified annotations break closure pandas_udfs
    @pandas_udf("int")
    def _nearest(v):
        if len(v) == 0:
            return pd.Series(np.empty(0, dtype="int32"))
        vals = v.to_numpy()
        # null/empty vectors get a null cell (vstack would raise and fail
        # the whole task); mask them out of the batched matmul
        ok = np.fromiter(
            (x is not None and len(x) == CT.shape[0] for x in vals),
            count=len(vals),
            dtype=bool,
        )
        out = pd.array([None] * len(vals), dtype="Int32")
        if ok.any():
            X = np.vstack(vals[ok])  # n_ok x d
            scores = c2[None, :] - 2.0 * (X @ CT)  # n_ok x k (+||x||^2 omitted)
            out[ok] = scores.argmin(axis=1).astype("int32")
        return pd.Series(out)

    return corpus.withColumn("_cell", _nearest(F.col(vec_col).cast("array<double>")))


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key_col: str = "query_id",
) -> DataFrame:
    """IVF top-k: probe the ``nprobe`` nearest cells per query, exact
    cosine rerank inside them. Recall is tunable via nprobe; cost is
    nprobe/k of the full scan. The rerank scores with the numpy batch
    cosine (``cosine_udf``) — this is the designated huge-corpus ANN
    path, and the expression-form ``aggregate``/``zip_with`` dot product
    is an interpreted CodegenFallback measured ~10x slower on the same
    corpus (see ``lsh_signature``'s note); only ``brute_force_topk``
    keeps the expression form, as the documented exact oracle baseline."""
    c = ivf_assign(corpus, centroids, vec_col)
    # r8: one nested-array literal + transform instead of k unrolled
    # _centroid_dist2 expressions — the unrolled form built ~k*dim
    # Column objects through py4j (measured seconds of driver time per
    # call at k=16, dim=64); this is ~10 py4j calls. Same per-element
    # (x-y)^2 left-fold per centroid in centroid order, so the distance
    # VALUES and the probe-cell choice are bit-identical.
    cents_lit = F.lit(centroids)
    qdists = F.transform(
        cents_lit,
        lambda cen: F.aggregate(
            F.zip_with(F.col(vec_col), cen, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ),
    )
    probe_cells = F.slice(
        F.transform(
            F.array_sort(
                F.transform(
                    qdists,
                    lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
                )
            ),
            lambda s: s["cell"],
        ),
        1,
        nprobe,
    )
    q = queries.select(
        query_key_col,
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.explode(probe_cells).alias("_cell"),
    )
    cos = cosine_udf()
    scored = c.join(F.broadcast(q), "_cell").select(
        query_key_col,
        key_col,
        cos(F.col("_qv"), F.col(vec_col).cast("array<double>")).alias("score"),
    )
    w = Window.partitionBy(query_key_col).orderBy(F.desc("score"), F.col(key_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket.

    At small n this trades recall for a bucket-local join; at 10^9+ rows
    the bucket column is what you partition/cluster the corpus table by,
    making each query a partition-pruned scan instead of a full pass.
    """
    planes = _random_planes(dim, n_planes, seed)
    c = corpus.withColumn("_bucket", lsh_signature(F.col(vec_col), planes))
    q = queries.withColumn("_bucket", lsh_signature(F.col(vec_col), planes)).select(
        query_key_col, "_bucket", F.col(vec_col).cast("array<double>").alias("_qv")
    )
    cos = cosine_udf()
    scored = c.join(F.broadcast(q), "_bucket").select(
        query_key_col,
        key_col,
        cos(F.col("_qv"), F.col(vec_col).cast("array<double>")).alias("score"),
    )
    w = Window.partitionBy(query_key_col).orderBy(F.desc("score"), F.col(key_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def spherical_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """+ ``_cell`` (argmax cosine to centroid, first index on exact ties)
    and ``_ccos`` (that max cosine) columns — the SCALE-INVARIANT cluster
    assignment semantic-dedup needs: cos(s*x, c) == cos(x, c) bit-exactly
    in IEEE for power-of-two s, and to the working precision for any
    s > 0, so rescaled duplicates land in the same cell without any
    pre-normalization pass over the corpus. One numpy pass per Arrow
    batch with per-row reductions (see the kernel note); the full
    cosine formula (not the argmax-equivalent dropped-norm shortcut) is
    computed so an independent verifier evaluating cos(x, c_j) literally
    agrees to the last ulp wherever summation order doesn't bite."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")  # k x d
    cn = np.sqrt((C * C).sum(axis=1))  # k

    # no type hints: stringified annotations break closure pandas_udfs
    @pandas_udf("struct<cell:int,ccos:double>")
    def _assign(v):
        if len(v) == 0:
            return pd.DataFrame({"cell": [], "ccos": []})
        vals = v.to_numpy()
        ok = np.fromiter(
            (x is not None and len(x) == C.shape[1] for x in vals),
            count=len(vals),
            dtype=bool,
        )
        cell = pd.array([None] * len(vals), dtype="Int32")
        ccos = pd.array([None] * len(vals), dtype="Float64")
        if ok.any():
            X = np.vstack(vals[ok])  # n_ok x d
            xn = np.sqrt((X * X).sum(axis=1))  # n_ok
            # per-row reductions, not a matmul: BLAS may round a row's dot
            # product differently depending on the batch shape it sits in,
            # which broke the bit-exact tie between a vector and its
            # power-of-two-scaled twin whenever the two landed in
            # different Arrow batches
            dots = np.stack([(X * c).sum(axis=1) for c in C], axis=1)
            scores = dots / (xn[:, None] * cn[None, :])
            cell[ok] = scores.argmax(axis=1).astype("int32")
            ccos[ok] = scores.max(axis=1)
        return pd.DataFrame({"cell": cell, "ccos": ccos})

    # single evaluation: the two field extractions below must not plan two
    # ArrowEvalPython nodes, and no filter may be substituted through the
    # projection (the double-eval defect measured and fixed on the KG fold
    # kernel, pyfold.py:332) — mark non-deterministic exactly as there
    _assign = _assign.asNondeterministic()
    out = corpus.withColumn("_sa", _assign(F.col(vec_col).cast("array<double>")))
    return out.select(
        *corpus.columns,
        F.col("_sa.cell").alias("_cell"),
        F.col("_sa.ccos").alias("_ccos"),
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Semantic-duplicate pairs ``(a, b, cell)`` with ``a < b``: both
    vectors in the same spherical k-means cell and cosine >= ``threshold``
    (SemDeDup, Abbas et al. 2023 — arXiv:2303.09540). Within-cell-only
    comparison IS the operator's semantic, exactly as in the paper: the
    cell count k is what bounds the quadratic term, so at corpus scale k
    grows with n (the paper uses ~11k clusters for 1e9+ docs) to keep
    per-cell membership roughly constant, and ``cell`` is the natural
    partition/cluster column for the stored corpus — each cell's pair
    generation is a partition-local join, never an all-pairs product
    across cells (plan-pinned: no CartesianProduct)."""
    assigned = spherical_assign(corpus, centroids, vec_col).select(
        F.col(key_col).alias("_k"),
        F.col("_cell").alias("cell"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # the assignment feeds both sides of the cell self-join: cut lineage
    # (default) so the matmul-assignment pass runs once, not per branch
    if truncate_lineage:
        assigned = assigned.localCheckpoint(eager=False)
    a = assigned.select(F.col("_k").alias("a"), "cell", F.col("_v").alias("_va"))
    b = assigned.select(F.col("_k").alias("b"), "cell", F.col("_v").alias("_vb"))
    cos = cosine_udf()
    return (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(cos(F.col("_va"), F.col("_vb")) >= threshold)
        .select("a", "b", "cell")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Full SemDeDup ledger ``(key, cell, kept)`` over every corpus row:
    semantic-duplicate groups are the connected components of the
    within-cell pair graph (components never span cells), and each group
    KEEPS exactly one member — the one with the LOWEST cosine to its cell
    centroid, the paper's keep rule (it retains the least prototypical
    example of the duplicated content), ties broken by the smaller key.
    Rows with no duplicate partner are kept.

    Shape: pairs (cell-local join) -> union-find connected
    components over only the paired keys (a tiny fraction of the corpus)
    -> one window over components for the representative -> broadcast-
    sized join back to the full corpus. The full corpus is scanned once
    for assignment and joined once against the (small) drop set."""
    from ..cc import connected_components  # local import: avoid cycle

    assigned = spherical_assign(corpus, centroids, vec_col).select(
        F.col(key_col),
        F.col("_cell").alias("cell"),
        F.col("_ccos").alias("_ccos"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if truncate_lineage:
        assigned = assigned.localCheckpoint(eager=False)
    a = assigned.select(F.col(key_col).alias("a"), "cell", F.col("_v").alias("_va"))
    b = assigned.select(F.col(key_col).alias("b"), "cell", F.col("_v").alias("_vb"))
    cos = cosine_udf()
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(cos(F.col("_va"), F.col("_vb")) >= threshold)
        .select("a", "b")
    )
    comp = connected_components(pairs, src="a", dst="b")
    members = comp.join(
        assigned.select(F.col(key_col).alias("node"), F.col("_ccos")), "node"
    )
    w = Window.partitionBy("component").orderBy(F.asc("_ccos"), F.asc("node"))
    drops = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("node").alias(key_col), F.lit(False).alias("kept"))
    )
    return (
        assigned.select(key_col, "cell")
        .join(drops, key_col, "left")
        .select(key_col, "cell", F.coalesce("kept", F.lit(True)).alias("kept"))
    )


def semantic_dedup_incremental_pairs(
    new_corpus: DataFrame,
    base_assigned: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Semantic-duplicate candidates for INCREMENTAL ingest — the
    daily-batch shape, mirroring ``minhash_incremental_candidates`` /
    ``simhash_incremental_candidates``: each NEW vector against the
    existing corpus AND the other new vectors. ``base_assigned`` is the
    PERSISTED assigned corpus table ``(key, cell, vec)`` — at run scale
    the corpus is stored cell-partitioned (``spherical_assign`` runs at
    original ingest, exactly once per row ever), so the existing side is
    a partition-pruned scan of only the cells the new batch touches,
    never re-assigned and never self-joined: per-batch work is
    O(new x cell-mates), not O(existing²).

    Returns ``(a, b, cell)`` with cosine >= ``threshold``: ``a`` is a
    new key; ``b`` is an existing key, or a new key with ``a < b`` (each
    new-new pair reported once). Keys must be globally unique across
    both frames. Same within-cell semantic as ``semantic_dedup_pairs``.
    The assigned new batch feeds both sides of the probe, so its lineage
    is cut once and the assignment runs once."""
    na = spherical_assign(new_corpus, centroids, vec_col).select(
        F.col(key_col).alias("_k"),
        F.col("_cell").alias("cell"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).localCheckpoint(eager=False)
    probe = base_assigned.select(
        F.col(key_col).alias("b"),
        F.col("cell"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
        F.lit(False).alias("_bn"),
    ).unionByName(
        na.select(
            F.col("_k").alias("b"), "cell", F.col("_v").alias("_vb"),
            F.lit(True).alias("_bn"),
        )
    )
    a = na.select(F.col("_k").alias("a"), "cell", F.col("_v").alias("_va"))
    cos = cosine_udf()
    return (
        a.join(probe, "cell")
        .filter((~F.col("_bn")) | (F.col("a") < F.col("b")))
        .filter(cos(F.col("_va"), F.col("_vb")) >= threshold)
        .select("a", "b", "cell")
    )


def recall_vs_exact(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_key_col: str = "query_id",
    key_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate neighbor result against the exact one
    — the eval every ANN deployment runs before trusting IVF/LSH at
    scale. Both inputs are (query_key, key[, rank]) frames as returned
    by ``brute_force_topk`` / ``ivf_search`` / ``lsh_ann_topk``.
    Returns (query_key, n_hit, recall) with every exact-side query
    present (zero hits included — a silently absent query would read
    as 'not evaluated' rather than 'recall 0').

    Scale: both sides are result sets (|queries| × k rows, not corpus-
    sized); the intersection is one equi-join + map-side-combinable
    count. Exact arithmetic: integer hit count, one IEEE division."""
    if k <= 0:
        raise ValueError("k must be positive")
    hits = (
        exact.select(query_key_col, key_col)
        .join(approx.select(query_key_col, key_col), [query_key_col, key_col])
        .groupBy(query_key_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    qids = exact.select(query_key_col).distinct()
    n = F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
    return qids.join(hits, query_key_col, "left").select(
        query_key_col,
        n.alias("n_hit"),
        (n.cast("double") / F.lit(float(k))).alias("recall"),
    )
