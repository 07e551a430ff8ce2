"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction query at sf0.001.
``queries()`` exposes one entry per implemented operator family
(SURVEY.md section 2 + the training-data pipeline ops); ``oracle_sql()``
gives the DuckDB-equivalent SQL for every SQL-expressible one. Column
names and types are aligned pairwise (the driver hash-compares values
after sorting columns by name).

Synthetic KG inputs are derived deterministically from the ``documents``
table (doc_id/source), so both engines compute over identical rows with
no side-channel data.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark.datapipe.dedup import (
    exact_dedup,
    md5_token_hash,
    simhash,
    simhash_near_dups,
)
from smartlogic_concordance_transformer_spark.datapipe.hygiene import strip_boilerplate
from smartlogic_concordance_transformer_spark.datapipe.multimodal import extract_features
from smartlogic_concordance_transformer_spark.datapipe.similarity import (
    brute_force_topk,
)
from smartlogic_concordance_transformer_spark.datapipe.text import (
    PII_PATTERNS,
    STOPWORDS,
    detect_language,
    fingerprint,
    quality_score,
    scrub_pii,
    token_count,
)
from smartlogic_concordance_transformer_spark.session import _ship_package
from smartlogic_concordance_transformer_spark.transform import transform
from smartlogic_concordance_transformer_spark.triples import emit_triples
from smartlogic_concordance_transformer_spark.cc import connected_components
from smartlogic_concordance_transformer_spark.uuids import (
    ft_md5_uuid,
    ft_md5_uuid_sql,
)

DEFAULT_SF = "/root/testdata/sf0.001"

# The driver's correctness gate always runs oracle_sql() against sf0.01;
# the oracles that precompute literal VALUES tables from that parquet must
# read the same files the gate registers. Overridable for machines where
# the test data lives elsewhere; when the parquet is absent those oracles
# degrade to the driver's rows-only check (builders return None).
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

_SHIPPED_APPS: set[str] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    app = spark.sparkContext.applicationId
    if app not in _SHIPPED_APPS:
        _ship_package(spark)
        _SHIPPED_APPS.add(app)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small scan to the session parallelism BEFORE a
    fan-out (explode, pandas UDF, payload generation): the test parquet
    files read as 1-2 splits, which would leave 30 of 32 cores idle
    through the expensive downstream stage. At real scale the scan itself
    provides the splits and this is a no-op-sized shuffle.

    Size a fan-out to the cores, and spread ONCE, after any union of
    branches derived from the same frame: spreading the input and then
    unioning it with frames filtered from it multiplies the partition
    count by the branch count, and every Python-kernel stage downstream
    runs that many tasks. Each Python task pays a fixed worker-side cost
    before the kernel runs (docs/SCALE.md, "Python-task floor")."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---- synthetic KG source (identical construction in the DuckDB oracles) --

# hyphenated (non-v3) uuid from md5 — concept @id uuids
def _hy(expr: str) -> str:
    h = f"md5({expr})"
    return (
        f"substr({h},1,8) || '-' || substr({h},9,4) || '-' || substr({h},13,4)"
        f" || '-' || substr({h},17,4) || '-' || substr({h},21,12)"
    )


_CUUID_SPARK = _hy("concat('doc', cast(doc_id as string))")
_CUUID_DUCK = _hy("'doc' || cast(doc_id as varchar)")
_TME_SPARK = "concat(source, '-', cast(doc_id as string))"
_TME_DUCK = "source || '-' || cast(doc_id as varchar)"
_WD_SPARK = "concat('http://www.wikidata.org/entity/Q', cast(doc_id as string))"
_WD_DUCK = "'http://www.wikidata.org/entity/Q' || cast(doc_id as varchar)"


def _kg_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> source_repos rows with valid editorial payloads
    (1 TME id + 1 wikidata id per doc). Repartitioned before the
    generation+parse chain: the small parquet arrives as 1-2 splits."""
    return _spread(spark, _docs(spark, sf_dir)).selectExpr(
        "doc_id",
        "concat('synthetic/', source) as repo",
        "concat('concepts/', doc_id, '.json') as path",
        "substr(sha2(concat('c', doc_id), 256), 1, 40) as commit",
        "'json' as lang",
        f"""concat('{{"@graph":[{{"@id":"http://www.ft.com/thing/', {_CUUID_SPARK},
            '","@type":["http://www.ft.com/ontology/Brand"],',
            '"http://www.ft.com/ontology/TMEIdentifier":[{{"@value":"', {_TME_SPARK}, '"}}],',
            '"http://www.ft.com/ontology/wikidataIdentifier":[{{"@type":"xsd:anyURI","@value":"',
            {_WD_SPARK}, '"}}]}}]}}') as content""",
    )


def _kg_bad_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> five invalid payload shapes keyed on doc_id % 5."""
    return _spread(spark, _docs(spark, sf_dir)).selectExpr(
        "doc_id",
        f"""case pmod(doc_id, 5)
          when 0 then concat('{{"@graph":[{{"@id":"http://www.ft.com/thing/', {_CUUID_SPARK}, '"}}]}}')
          when 1 then concat('{{"@graph":[{{"@id":"http://www.ft.com/thing/', {_CUUID_SPARK},
                             '","@type":["skos:Concept"]}}]}}')
          when 2 then concat('{{"@graph":[{{"@id":"http://www.ft.com/thing/', {_CUUID_SPARK},
                             '","@type":["t"]}},{{"@id":"x","@type":["t"]}}]}}')
          when 3 then concat('{{"@graph":[{{"@id":"http://www.ft.com/thing/', {_CUUID_SPARK},
                             '","@type":["http://www.ft.com/ontology/Brand"],',
                             '"http://www.ft.com/ontology/TMEIdentifier":[{{"@value":"a-b-c"}}]}}]}}')
          else '{{"x": 1}}'
        end as content""",
    )


# ---- queries ------------------------------------------------------------


def q_kg_upp_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_shipped(spark)
    good, _ = transform(_kg_source(spark, sf_dir), carry=("doc_id",))
    return good.select("doc_id", "upp_json")


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_shipped(spark)
    good, _ = transform(_kg_source(spark, sf_dir), carry=("doc_id",))
    t = emit_triples(good, carry=("doc_id",))
    return t.select("doc_id", "subj", "pred", "obj")


def q_kg_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_shipped(spark)
    _, quar = transform(_kg_bad_source(spark, sf_dir), carry=("doc_id",))
    return quar.groupBy("status", "http_code").agg(F.count("*").alias("n"))


def q_kg_uuid_tme(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        ft_md5_uuid(F.expr(_TME_SPARK)).alias("tme_uuid"),
        ft_md5_uuid(F.expr(_WD_SPARK)).alias("wikidata_uuid"),
    )


def q_kg_validate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"cast({_TME_SPARK} rlike '^[^-]+-[^-]+$' as boolean) as tme_valid",
        "cast(concat('x', cast(doc_id as string)) rlike '^[^-]+-[^-]+$' as boolean) as tme_invalid_probe",
        "cast(concat('0', lpad(cast(doc_id as string), 5, '0'), '-E') rlike '^0.{5}-E$' as boolean) as factset_valid",
    )


def q_kg_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_shipped(spark)  # union-find runs in a Python kernel
    edges = _docs(spark, sf_dir).selectExpr(
        "concat('d', lpad(cast(doc_id as string), 8, '0')) as subj",
        "concat('g', lpad(cast(pmod(doc_id, 50) as string), 4, '0')) as obj",
    )
    return connected_components(edges)


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-document character-distribution Shannon entropy, the
    # gibberish/filler quality signal — zero-shuffle in-row fold.
    from smartlogic_concordance_transformer_spark.datapipe.text import char_entropy

    return char_entropy(_spread(spark, _docs(spark, sf_dir)))


def q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic TransE-style negative sampling over the kg_cc edge
    # set: each positive gets 2 corruption entities via the consistent-
    # hash successor rule (smallest ring hash >= the target, wrapping).
    # The oracle replays the rule declaratively — a correlated min over
    # the whole ring, independent of the engine's 2-bucket probe — so
    # agreement also re-proves the bucketed probe's exactness.
    from smartlogic_concordance_transformer_spark.datapipe.negatives import (
        negative_samples,
    )

    t = _docs(spark, sf_dir).selectExpr(
        "concat('d', lpad(cast(doc_id as string), 8, '0')) as subj",
        "'linksTo' as pred",
        "concat('g', lpad(cast(pmod(doc_id, 50) as string), 4, '0')) as obj",
    )
    # bits auto-sized from the vocabulary (~32 entities/bucket); the
    # oracle is bits-independent, so the adaptive probe changes only cost
    return negative_samples(t, n_neg=2)


def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the salted join must be row-identical to the plain join, so the
    # oracle is simply the unsalted SQL join + aggregation
    from smartlogic_concordance_transformer_spark.datapipe.joins import salted_join

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    j = salted_join(
        orders.select("o_custkey", "o_totalprice"),
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        ["o_custkey"],
        salt=8,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Points-in-interval lookup (the geo-IP shape): overlapping intervals
    # derived from part (width 2..100 over a 40-spaced line, so points hit
    # 0..n intervals), points from orders spread over the interval space
    # by a prime multiplier. chunk=64 ≈ the typical width. The oracle is
    # the declarative BETWEEN join — equality proves the chunking rewrite
    # replicates and filters exactly.
    from smartlogic_concordance_transformer_spark.datapipe.asof import interval_join

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    iv = part.select(
        "p_partkey",
        (F.col("p_partkey") * 40).alias("lo"),
        (F.col("p_partkey") * 40 + F.col("p_size").cast("long") * 2).alias("hi"),
    )
    space = part.agg((F.max("p_partkey") * 40 + 200).alias("_space"))
    pts = orders.crossJoin(F.broadcast(space)).select(
        "o_orderkey",
        F.pmod(F.col("o_orderkey") * 7919, F.col("_space")).alias("pt"),
    )
    return interval_join(pts, iv, "pt", "lo", "hi", chunk=64)


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Paragraph-grain dedup over a synthesized multi-paragraph corpus:
    # each doc = its own leading text slice, one of 7 shared boilerplate
    # footers (duplicated ~corpus/7 times — the RefinedWeb target), and a
    # trailing slice (empty for short docs, exercising the min_chars
    # passthrough). The oracle replays the identical keep-first rule in
    # SQL over the raw paragraph strings — agreement also certifies the
    # engine's sha2 winner election collides nowhere.
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        paragraph_dedup,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 80),
            F.concat(
                F.lit("boilerplate footer variant "),
                F.pmod("doc_id", 7).cast("string"),
            ),
            F.substring("text", 81, 80),
        ).alias("text"),
    )
    return paragraph_dedup(d).select("doc_id", "clean", "n_dropped")


def _graph(spark: SparkSession, sf_dir: str):
    """Deterministic multigraph over <=100 nodes derived from documents
    (duplicate edges kept: they weight pageRank)."""
    from smartlogic_concordance_transformer_spark.graph import GraphFrame

    e = _docs(spark, sf_dir).selectExpr(
        "concat('n', cast(pmod(doc_id, 100) as string)) as src",
        "concat('n', cast(pmod(doc_id * 7, 100) as string)) as dst",
    )
    v = e.selectExpr("src as id").union(e.selectExpr("dst as id")).distinct()
    return GraphFrame(v, e)


def _dense_graph(spark: SparkSession, sf_dir: str):
    """Denser three-generator multigraph over 60 nodes, so triangles and
    2-paths actually occur: ring edges u->u+1 and u->u+2 close a triangle
    at every node; the 7u+1 map adds irregular chords so per-node counts
    vary."""
    from smartlogic_concordance_transformer_spark.graph import GraphFrame

    d = _docs(spark, sf_dir)
    gens = ["pmod(doc_id + 1, 60)", "pmod(doc_id + 2, 60)", "pmod(doc_id * 7 + 1, 60)"]
    e = None
    for gexpr in gens:
        part = d.selectExpr(
            "concat('n', cast(pmod(doc_id, 60) as string)) as src",
            f"concat('n', cast({gexpr} as string)) as dst",
        )
        e = part if e is None else e.union(part)
    v = e.selectExpr("src as id").union(e.selectExpr("dst as id")).distinct()
    return GraphFrame(v, e)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3 fixed power-iteration rounds (the oracle unrolls the same three in
    # SQL); round(6) absorbs summation-order float noise across engines.
    pr = _graph(spark, sf_dir).pageRank(maxIter=3).vertices
    return pr.select("id", F.round("pagerank", 6).alias("pagerank"))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle closes the same canonical (a<b<c) wedges in SQL.
    tri = _dense_graph(spark, sf_dir).triangleCount()
    return tri.select("id", F.col("count").cast("long").alias("n_tri"))


def q_graph_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # directed 2-paths (a)->(b)->(c), counted per middle vertex. find()
    # compiles to one hash join per pattern term; the oracle is the same
    # join in SQL.
    m = _dense_graph(spark, sf_dir).find("(a)-[]->(b); (b)-[]->(c)")
    return m.groupBy(F.col("b")["id"].alias("b")).agg(
        F.count(F.lit(1)).alias("n_paths")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir)).select("doc_id")


_MINHASH_SEEDS = 8


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (r8): an in-row fold variant (zero shuffle, same values) was
    # tried and REVERTED with measurements: it won at sf0.1 (0.44s vs
    # 0.93s — it skips the word-occurrence exchange's fixed cost) but
    # lost 3x at a 10x corpus (3.00s vs 1.01s) because interpreted
    # per-element md5+concat is far heavier than the codegen'd
    # aggregation — a local-bench-only win. Unlike the xxhash64 MinHash
    # fold in dedup.py (which stays within 15% at 10x), md5 through the
    # interpreted HOF path does not hold at scale. See
    # OPTIMIZATION_r08.md.
    words = F.explode(
        F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    ).alias("w")
    exploded = _spread(spark, _docs(spark, sf_dir)).select("doc_id", words)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("w")))).alias(f"m{j}")
        for j in range(_MINHASH_SEEDS)
    ]
    agg = exploded.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id",
        F.concat_ws("|", *[F.col(f"m{j}") for j in range(_MINHASH_SEEDS)]).alias("signature"),
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact shingle-Jaccard verification over the REAL LSH candidate set
    # (round 2 scored adjacent-id pairs — a toy shape): MinHash(64) ->
    # banded LSH(16x4) candidates -> exact 3-word-shingle Jaccard, keep
    # pairs >= 0.5. Distinct from dedup_lsh_verified: raw corpus (no
    # planted twins) and a threshold in the middle of the corpus's empty
    # jaccard band (~0.4-0.9), so every qualifying pair sits at j >= 0.9
    # where the 16x4 banding's per-pair miss probability is ~4e-8 — the
    # bucketed candidate set reproduces the all-pairs oracle's rows.
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    d = _spread(spark, _docs(spark, sf_dir)).select("doc_id", "text")
    sigs = minhash_signatures(d, num_hashes=64, k=3)
    cand = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    pairs = ngram_jaccard_pairs(d, cand, k=3, threshold=0.5)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup corpus: every 10th doc gets a one-token-perturbed twin at
    # doc_id+1e12; 4x16-bit banded simhash recovers most twins at
    # hamming <= 3. The contract query passes the portable md5-derived
    # 60-bit token hash so DuckDB can rebuild the identical fingerprints
    # digit-by-digit (full rows+schema+hash check); the default
    # xxhash64 kernel and its zero-shuffle plan are pinned separately by
    # pytest (tests/test_plan_shape.py, test_datapipe.py).
    _ensure_shipped(spark)
    d = _docs(spark, sf_dir).select("doc_id", "text")
    pert = d.filter(F.pmod("doc_id", 10) == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qzx")).alias("text"),
    )
    fps = simhash(_spread(spark, d.unionByName(pert)), token_hash=md5_token_hash)
    return simhash_near_dups(fps).select("a", "b", F.col("hamming").cast("int").alias("hamming"))


def q_dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash parity for the daily-ingest shape (mirrors
    # dedup_incremental): the existing corpus's fingerprint table is
    # banded and probed ONCE — never self-joined — while a small new
    # batch (one-token-perturbed twins of every 10th doc at +1e12,
    # byte-exact re-ingests of every 25th at +2e12 — offsets above any
    # real doc_id even at 100 TB ~ 1e11 docs, so planted ids never
    # collide with corpus ids at any SF) is checked against
    # existing docs and itself. The oracle is the all-pairs new-vs-all
    # popcount join over independently rebuilt md5-kernel fingerprints,
    # so it also re-proves the banding's exactness for hamming <= 3.
    _ensure_shipped(spark)
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        simhash_incremental_candidates,
    )

    d = _spread(spark, _docs(spark, sf_dir)).select("doc_id", "text")
    twins = d.filter(F.pmod("doc_id", 10) == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qzx")).alias("text"),
    )
    copies = d.filter(F.pmod("doc_id", 25) == 0).select(
        (F.col("doc_id") + 2_000_000_000_000).alias("doc_id"), "text"
    )
    base_fps = simhash(d, token_hash=md5_token_hash)
    new_fps = simhash(twins.unionByName(copies), token_hash=md5_token_hash)
    return simhash_incremental_candidates(new_fps, base_fps).select(
        "a", "b", F.col("hamming").cast("int").alias("hamming")
    )


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the REAL MinHash->LSH->Jaccard composition end-to-end: plant a
    # one-token-appended twin for every 10th doc, generate candidate pairs
    # from banded LSH buckets (never all-pairs), then exact-verify with
    # shingle Jaccard >= 0.8. The corpus has a clean decision gap — every
    # qualifying pair (planted twins + natural near-dups) has j >= 0.9 and
    # nothing else is above 0.4 — and at j >= 0.9 the per-pair LSH miss
    # probability is (1-0.9^4)^16 ~ 4e-8, so the bucketed path returns
    # exactly the all-pairs oracle's rows (which may stay all-pairs:
    # oracles don't need to scale).
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    twins = d.filter(F.pmod("doc_id", 10) == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zq")).alias("text"),
    )
    # the small parquet reads as 1-2 partitions, but shingling fans out
    # ~80x per doc — spread BEFORE the expansion so every core works
    # (the general rule: parallelize ahead of a generator, not after it)
    corpus = _spread(spark, d.unionByName(twins))
    sigs = minhash_signatures(corpus, num_hashes=64, k=3)
    cand = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    pairs = ngram_jaccard_pairs(corpus, cand, k=3, threshold=0.8)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental dedup (the daily-ingest shape): the existing corpus's
    # signature table is banded and probed ONCE — never self-joined —
    # while a small new batch (one-token twins of every 10th doc at
    # +1e12, byte-exact re-ingests of every 25th doc at +2e12; offsets
    # sit above any real doc_id at any SF, see simhash_incremental) is
    # checked against existing docs and against itself. Banded candidates
    # -> exact Jaccard verify >= 0.8 over the union corpus. Every
    # qualifying pair sits at j >= 0.9 (raw-corpus empty-band
    # precondition, tests/test_oracle_preconditions.py; re-ingests are
    # byte-identical -> identical signatures), so the banded path
    # reproduces the oracle's all-pairs rows.
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        minhash_incremental_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    base = _spread(spark, _docs(spark, sf_dir)).select("doc_id", "text")
    twins = base.filter(F.pmod("doc_id", 10) == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zq")).alias("text"),
    )
    copies = base.filter(F.pmod("doc_id", 25) == 0).select(
        (F.col("doc_id") + 2_000_000_000_000).alias("doc_id"), "text"
    )
    new = twins.unionByName(copies)
    base_sigs = minhash_signatures(base, num_hashes=64, k=3)
    new_sigs = minhash_signatures(new, num_hashes=64, k=3)
    cand = minhash_incremental_candidates(new_sigs, base_sigs, bands=16, rows_per_band=4)
    pairs = ngram_jaccard_pairs(base.unionByName(new), cand, k=3, threshold=0.8)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the MOSS-style partial-overlap detector end-to-end: winnowing
    # fingerprint sets (portable md5 gram hash) -> fingerprint-bucket
    # candidate pairs with the max_df noise rule -> containment. Planted
    # partial overlaps: every 20th doc gets a +3e12 twin sharing ONLY
    # its first 200 chars (distinct tail) — the shape winnowing exists
    # for, which whole-document Jaccard would miss. Both sides compute
    # the EXACT shared-fingerprint counts (no LSH approximation), so any
    # threshold is decision-stable; the oracle join is all-pairs-capable
    # where the engine buckets by fingerprint.
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        md5_token_hash,
        winnow_candidate_pairs,
    )
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        winnow_fingerprint_sets,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    part = d.filter(F.pmod("doc_id", 20) == 0).select(
        (F.col("doc_id") + 3_000_000_000_000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 200),
            F.lit(" tail marker for doc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    sets = winnow_fingerprint_sets(
        _spread(spark, d.unionByName(part)), k=8, window=4, gram_hash=md5_token_hash
    )
    return winnow_candidate_pairs(sets, min_shared=5, max_df=5)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # operator composition: near-dup pairs (MinHash->LSH->Jaccard, same
    # construction as dedup_lsh_verified) -> connected components ->
    # (doc, cluster representative = min doc_id in the class). The oracle
    # computes the same transitive closure with a recursive CTE — fine at
    # oracle scale; the engine side is the partition-local union-find
    # rounds of kg_cc.
    _ensure_shipped(spark)
    pairs = q_dedup_lsh_verified(spark, sf_dir).select("a", "b")
    cc = connected_components(pairs, src="a", dst="b")
    return cc.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup: every 7th vector gets a x2-scaled twin
    # (cosine-invariant scaling -> exact planted duplicates); pairs with
    # cosine >= 0.99. Max natural pairwise cosine in the corpus is ~0.51,
    # so the threshold is decision-stable across engines/precisions.
    # Candidates come from multi-probe hyperplane-LSH buckets — never an
    # all-pairs cross join (the DuckDB oracle may stay all-pairs; oracles
    # don't need to scale). Scale-identical twins share the exact bucket,
    # so recall on the qualifying set is 1.0 here by construction; a
    # plan-shape test pins the absence of CartesianProduct/BNLJ.
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        lsh_near_dup_pairs,
    )

    emb = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < 1000)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    dup = emb.filter(F.pmod("vec_id", 7) == 0).select(
        (F.col("vec_id") + 1_000_000_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(2.0)).alias("v"),
    )
    c = emb.unionByName(dup)
    return lsh_near_dup_pairs(c, dim=64, threshold=0.99, vec_col="v", key_col="vec_id")


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023): spherical k-means cells (argmax
    # cosine to centroid — scale-invariant, so the planted x2-scaled
    # twins land in their original's cell with BIT-identical centroid
    # cosine: (2a)/(2b) == a/b exactly in IEEE) -> within-cell pairs with
    # cosine >= 0.99 -> connected components -> keep the member with the
    # LOWEST centroid cosine per group (the paper's keep rule; the
    # planted pairs tie bit-exactly in both engines, so the min-key
    # tie-break decides identically). Within-cell-only comparison IS the
    # operator semantic (exactly the paper's), so the DuckDB oracle
    # mirrors the cell bucketing from the same independently retrained
    # centroid literals (shared bit-deterministic kmeans kernel, see
    # sim_ivf) and re-derives pairs/components/representatives as SQL.
    _ensure_shipped(spark)
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        lloyd_kmeans,
        semantic_dedup,
    )

    emb = _emb(spark, sf_dir)
    base = (
        emb.filter(F.col("vec_id") < 1000)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    dup = base.filter(F.pmod("vec_id", 7) == 0).select(
        (F.col("vec_id") + 1_000_000_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(2.0)).alias("v"),
    )
    cents = lloyd_kmeans(
        _ivf_train_matrix_spark(emb), k=_IVF_K, iters=_IVF_ITERS, seed=_IVF_SEED
    )
    out = semantic_dedup(
        base.unionByName(dup), cents, threshold=0.99, vec_col="v", key_col="vec_id"
    )
    return out.select("vec_id", F.col("cell").cast("int").alias("cell"), "kept")


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact duplicate-substring spans (Lee et al. 2022): the character
    # ranges a substring-level dedup pass would cut. The corpus is the
    # documents table plus planted duplication — every 25th doc's first
    # 200 chars re-ingested under a fresh id (cross-doc duplication) and
    # every 40th doc repeated back-to-back (within-doc duplication) —
    # so spans appear in BOTH the originals and the copies. Engine:
    # slim (key, pos, xxhash64) gram stream, map-side-combinable count
    # (never collect_list — boilerplate grams must aggregate to a count,
    # not a reducer row), hash join back, row-local interval-merge fold.
    # Oracle: the same k-gram definition grouped on the RAW GRAM STRING
    # (no hash at all) with a lag-based island merge — agreement also
    # certifies zero xxhash64 collisions on this corpus.
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        duplicate_substring_spans,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(500000000000)).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 200),
            F.lit(" planted tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    repeated = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + F.lit(600000000000)).alias("doc_id"),
        F.concat("text", F.lit(" "), "text").alias("text"),
    )
    src = docs.unionByName(planted).unionByName(repeated)
    return duplicate_substring_spans(_spread(spark, src), k=50, min_df=2)


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style LM quality signal: per-doc perplexity under an
    # add-one bigram LM interpolated with unigram, trained on the corpus
    # itself. Engine: vocabulary-sized count tables joined onto the
    # token-transition stream, per-token log rounded to 9 dp BEFORE an
    # exact decimal sum (reduce order cannot perturb the total), final
    # round(,6) — the zscore float discipline. Oracle: the identical
    # arithmetic in the identical operation order (incl. the exact
    # 1-lam double literal) over the same transition stream.
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        ngram_perplexity,
    )

    return ngram_perplexity(_spread(spark, _docs(spark, sf_dir)))


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # domain mixing by token budget (the Pile / Llama mixture-recipe
    # shape): per source, documents taken in deterministic md5 order
    # until the cumulative whitespace-token count reaches the source's
    # budget (take-until — the last row may overshoot, so budget > 0
    # always yields a document). One window cumsum per source + filter;
    # unnamed sources prune at the scan. Oracle: identical md5 ordering
    # and cumulative rule in DuckDB window SQL.
    from smartlogic_concordance_transformer_spark.datapipe import (
        token_budget_mix,
    )

    out = token_budget_mix(
        _docs(spark, sf_dir),
        {"src0": 500, "src1": 137, "src2": 1, "src3": 1000000000},
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fastText-shape hashed linear quality model (feature hashing per
    # Weinberger et al. 2009): per-token integer milli-weights from the
    # 60-bit md5 bridge, one in-row fold, one IEEE division — a pure
    # zero-shuffle projection whose logit is bit-identical in DuckDB
    # (integer sum + single exactly-rounded division; no exp/ln).
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        quality_classifier,
    )

    return quality_classifier(_spread(spark, _docs(spark, sf_dir)))


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Efraimidis-Spirakis weighted sampling without replacement: k
    # smallest deterministic Exp(weight) clocks (-ln(u)/w, u from the
    # md5 bridge). Engine plan is TakeOrderedAndProject — per-partition
    # k-heaps, no shuffle, no full sort; the clock value itself is never
    # emitted (ln may differ cross-engine in the last ulp) and a runtime
    # assert certifies every ordering-deciding gap exceeds rounding
    # noise. Oracle: identical u and clock in DuckDB, ORDER BY LIMIT.
    from smartlogic_concordance_transformer_spark.datapipe import (
        weighted_sample,
    )

    return weighted_sample(_spread(spark, _docs(spark, sf_dir)), 200, "n_chars")


def q_sample_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source weighted sample without replacement — two-phase per-key
    # top-k: rank within (source, md5-bucket) first (16^2 tasks per
    # source), re-rank the <= k * 256 survivors per source second — no
    # single-task-per-source window over the corpus (the token_budget_mix
    # r6 lesson), no unbounded collect_list. Oracle: one flat window
    # rank in DuckDB (fine at oracle scale; the two-phase form exists
    # for the 100 TB plan, selection is identical by construction).
    from smartlogic_concordance_transformer_spark.datapipe import (
        stratified_weighted_sample,
    )

    return stratified_weighted_sample(
        _spread(spark, _docs(spark, sf_dir)), 10, "n_chars"
    )


def q_sample_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # global sequence packing: concatenate all documents' tokens in
    # deterministic md5 order, cut into 2048-token windows; per doc the
    # global start offset, first/last window, and in-window offset. The
    # global cumsum is the token_budget_mix bucketed two-phase prefix
    # sum (order-aligned md5-prefix buckets), never a single-partition
    # window over the corpus. All-integer arithmetic — no float
    # discipline needed for the oracle.
    from smartlogic_concordance_transformer_spark.datapipe import (
        pack_documents,
    )

    return pack_documents(_spread(spark, _docs(spark, sf_dir)), 2048)


def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup parity for the daily-ingest shape (mirrors
    # dedup_incremental / dedup_simhash_incremental): the existing corpus
    # is a PERSISTED assigned table (key, cell, vec) — spherical_assign
    # ran once at original ingest; here it is probed by cell, never
    # re-assigned and never self-joined — while the new batch
    # (x2-scaled twins of every 7th vector at +1e12, byte-exact
    # re-ingests of every 25th at +2e12) is checked against existing
    # vectors and itself. The oracle rebuilds cells from the shared
    # retrained centroid literals and enumerates within-cell new-vs-all
    # pairs directly.
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        lloyd_kmeans,
        semantic_dedup_incremental_pairs,
        spherical_assign,
    )

    emb = _emb(spark, sf_dir)
    base = (
        emb.filter(F.col("vec_id") < 1000)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    twins = base.filter(F.pmod("vec_id", 7) == 0).select(
        (F.col("vec_id") + 1_000_000_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(2.0)).alias("v"),
    )
    copies = base.filter(F.pmod("vec_id", 25) == 0).select(
        (F.col("vec_id") + 2_000_000_000_000).alias("vec_id"), "v"
    )
    cents = lloyd_kmeans(
        _ivf_train_matrix_spark(emb), k=_IVF_K, iters=_IVF_ITERS, seed=_IVF_SEED
    )
    assigned = spherical_assign(base, cents, "v").select(
        "vec_id", F.col("_cell").alias("cell"), "v"
    )
    out = semantic_dedup_incremental_pairs(
        twins.unionByName(copies), assigned, cents,
        threshold=0.99, vec_col="v", key_col="vec_id",
    )
    return out.select("a", "b", F.col("cell").cast("int").alias("cell"))


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic PII appended to each doc (identical construction in the
    # oracle), then the native regexp_replace scrub chain.
    d = _docs(spark, sf_dir)
    pii = F.concat(
        F.col("text"),
        F.lit(" contact john.doe+"),
        F.col("source"),
        F.lit("@mail.example.com or +1 (415) 555-"),
        F.lpad(F.pmod("doc_id", 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0."),
        F.pmod("doc_id", 256).cast("string"),
        F.lit(".7"),
    )
    return d.select("doc_id", scrub_pii(pii).alias("clean"))


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus with a global header line + per-source footer line; both recur
    # across >= 5 docs and are stripped, body lines survive in order.
    d = _docs(spark, sf_dir)
    content = F.concat_ws(
        "\n",
        F.lit("=== COOKIE NOTICE: this site uses cookies ==="),
        F.col("text"),
        F.concat(F.lit("(c) newsletter footer for "), F.col("source")),
    )
    src = d.select("doc_id", content.alias("text"))
    return strip_boilerplate(src, min_docs=5)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # media rows synthesized from documents (payload = utf-8 bytes of text);
    # mapInPandas feature extraction with the deterministic fake decoder.
    # sha256-of-BLOB byte extraction is not DuckDB-expressible -> rows-only;
    # the decoder and Arrow plumbing are pinned in tests/test_datapipe.py.
    _ensure_shipped(spark)
    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod("doc_id", 3) + 1).cast("int"),
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.pmod("doc_id", 3) * 1000).cast("long").alias("duration_ms"),
    )
    feats = extract_features(media, dim=8, fake=True)
    return feats.select(
        "media_id",
        "kind",
        F.size("feature").cast("int").alias("dim"),
        F.round(F.element_at("feature", 1) * 255).cast("int").alias("b0"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", quality_score("text").alias("quality"))


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", detect_language("text").alias("lang_pred"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", fingerprint("text").alias("fp"))


_REP_TOP_NS = (2, 3, 4)
_REP_CHAR_NS = (5, 6, 7, 8, 9, 10)
_REP_COV_NS = (5, 10)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition filter inputs (full Rae et al. 2021 A1 set):
    # duplicate word/line/paragraph fractions + top-{2,3,4}-gram fractions
    # + duplicate-{5..10}-gram CHARACTER fractions. Every statistic is
    # per-document, so the default 'fold' form is a ZERO-SHUFFLE pure
    # projection: per gram size an in-row array_sort + one aggregate fold
    # counts duplicate runs (r6; 1.5x the round-5 explode/groupBy form at
    # sf0.1 and no exchange at all at scale). Counts are exact integers,
    # divisions are int/int -> identical IEEE doubles across engines.
    # r7: char_coverage_ns adds the TRUE A1 metric (unique character
    # positions covered by beyond-first occurrences of duplicated
    # n-grams, interval-merged in the same fold plan) alongside the
    # occurrence-weighted proxy; the oracle unions char spans via SQL
    # gaps-and-islands over word offsets.
    from smartlogic_concordance_transformer_spark.datapipe.text import repetition_stats

    return repetition_stats(
        _spread(spark, _docs(spark, sf_dir)),
        ns=_REP_TOP_NS,
        char_dup_ns=_REP_CHAR_NS,
        char_coverage_ns=_REP_COV_NS,
    )


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: every 50th doc plays the eval set; flag
    # training docs sharing >= 10 distinct 3-gram shingles with it. The
    # benchmark shingle dictionary broadcasts; the corpus never shuffles.
    # Background collision level on this corpus is a handful of shingles
    # per doc, so the threshold cleanly separates true leakage.
    from smartlogic_concordance_transformer_spark.datapipe.hygiene import (
        flag_contaminated,
    )

    d = _spread(spark, _docs(spark, sf_dir)).select("doc_id", "text")
    bench = d.filter(F.pmod("doc_id", 50) == 0)
    return flag_contaminated(d, bench, k=3, min_overlap=10)


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sequence packing with overlapping windows (stride < chunk): one
    # codegen explode, zero shuffle; chunk counts are exact integer math
    # so both engines enumerate identical windows.
    from smartlogic_concordance_transformer_spark.datapipe.text import chunk_documents

    return chunk_documents(
        _spread(spark, _docs(spark, sf_dir)), chunk_tokens=32, stride=24
    )


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus vocabulary: token frequency table with a rare-token cutoff;
    # one explode + one map-side-combinable count.
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        token_frequencies,
    )

    return token_frequencies(_spread(spark, _docs(spark, sf_dir)), min_count=5)


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing fingerprint sets (Schleimer et al. SIGMOD'03), one row per
    # distinct fingerprint. The contract query uses the portable 60-bit
    # md5 gram hash so DuckDB rebuilds identical fingerprints digit-by-
    # digit (same pluggable-kernel pattern as dedup_simhash); the default
    # xxhash64 kernel stays the production path.
    from smartlogic_concordance_transformer_spark.datapipe.dedup import md5_token_hash
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        winnow_fingerprint_sets,
    )

    d = _spread(spark, _docs(spark, sf_dir))
    sets = winnow_fingerprint_sets(d, k=8, window=4, gram_hash=md5_token_hash)
    # explode_OUTER: a plain explode over the named fps column gets an
    # inferred size>0 filter that pushdown re-substitutes the whole
    # two-projection winnow tree into (same trap as flag_contaminated);
    # fps is never empty (n_windows >= 1) so the rows are identical
    return sets.select("doc_id", F.explode_outer("fps").alias("fp"))


def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE-proxy word-piece count: camelCase boundary split + every
    # letter/digit run or single punctuation char is one piece
    return _docs(spark, sf_dir).select(
        "doc_id", token_count("text", bpe_like=True).alias("n_pieces")
    )


_BPE_MERGES = 8


def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE merge-table learning (Sennrich et al. 2016) — the artifact a
    # pretraining tokenizer trains. Engine: one corpus-sized token
    # count, then 8 bounded driver iterations over the tiny vocabulary
    # table (map-side-combinable pair counts + a single-row argmax
    # collect each). Oracle: the SAME 8 iterations as programmatically
    # generated chained CTEs — the left-to-right merge rewrite is a
    # DuckDB list_reduce with a chr(30)-joined string accumulator
    # (chr(30) verified absent from the corpus), ties broken (count
    # desc, left, right) identically. Both sides are exact integer
    # counting, so every rank/pair/count matches bit-for-bit.
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        learn_bpe_merges,
    )

    return learn_bpe_merges(
        _spread(spark, _docs(spark, sf_dir)), n_merges=_BPE_MERGES, min_count=1
    )


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the encode half of the tokenizer: learn the merge table, then
    # tokenize the SAME corpus with it — per-doc whitespace-token and
    # BPE-piece counts. Engine: merge rewrites run over the distinct-
    # token vocabulary only (never the corpus), identical _bpe_fold the
    # learner used, encoded piece counts broadcast back onto the token
    # stream, map-side-combinable per-doc agg. Oracle: the SAME chained
    # CTEs as text_bpe_merges (shared _bpe_chain generator) with the
    # final v{k} piece arrays joined back to the document word stream.
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    docs = _spread(spark, _docs(spark, sf_dir))
    merges = learn_bpe_merges(docs, n_merges=_BPE_MERGES, min_count=1)
    return apply_bpe_merges(docs, merges)


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # THE composition query: the full pretraining-data curation cascade
    # (hygiene -> quality/repetition gates -> exact + MinHash near-dedup
    # -> benchmark decontamination -> stratified mix -> split) as one
    # DataFrame DAG over the library operators. The raw corpus is the
    # documents table wrapped with a global cookie banner, a per-doc PII
    # line, and a per-source footer; the "eval set" is the ORIGINAL text
    # of every 50th doc, so leaked eval docs must be caught on their
    # CLEANED text. Thresholds sit in measured safe zones of the corpus
    # distributions (quality values are exact quarters; post-clean, every
    # near-dedup-qualifying pair sits at j >= 0.85 and the fixed-seed
    # 16x4 banding's candidate set covers ALL all-pairs qualifying pairs
    # — asserted at run time by tests/test_oracle_preconditions.py, so a
    # regenerated corpus fails with a clear message, not a hash diff).
    # The decontamination threshold is length-normalized (overlap_frac):
    # the scrubbed PII line is IDENTICAL across all docs, so absolute
    # overlap counts would flag everything — the exact failure mode the
    # frac output exists for.
    from smartlogic_concordance_transformer_spark.datapipe.curation import (
        pretraining_pipeline,
    )

    raw, bench = _pipeline_raw(spark, sf_dir)
    out = pretraining_pipeline(raw, bench, mix_fractions={"src0": 64, "src1": 128})
    return out.select("doc_id", "kept", "stage", "split")


def q_web_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL normalization — the CommonCrawl URL-level dedup key: drop
    # fragment, lowercase scheme/authority (not path), strip default
    # ports, empty path -> '/', bytewise-sort query params. Synthetic
    # URLs exercise every rule (mixed case, default + explicit + absent
    # ports, empty paths, unsorted params, fragments). Pure per-row
    # projection; the oracle replays the identical rule set in SQL.
    from smartlogic_concordance_transformer_spark.datapipe.web import (
        normalize_url,
        url_host,
    )

    d = _docs(spark, sf_dir)
    url = F.concat(
        F.when(F.pmod("doc_id", 2) == 0, F.lit("HTTP")).otherwise(F.lit("HTTPS")),
        F.lit("://WWW.Site"),
        F.pmod("doc_id", 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(F.pmod("doc_id", 4) == 0, F.lit(":80"))
        .when(F.pmod("doc_id", 4) == 1, F.lit(":443"))
        .when(F.pmod("doc_id", 4) == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(F.pmod("doc_id", 5) == 0, F.lit("")).otherwise(
            F.concat(F.lit("/Dir"), F.pmod("doc_id", 5).cast("string"), F.lit("/Page"))
        ),
        F.when(F.pmod("doc_id", 7) == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("?zz="),
                F.pmod("doc_id", 3).cast("string"),
                F.lit("&aa="),
                F.pmod("doc_id", 2).cast("string"),
            )
        ),
        F.when(F.pmod("doc_id", 3) == 0, F.lit("#Sec1")).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        normalize_url(url).alias("url_norm"),
        url_host(url).alias("host"),
    )


def _pipeline_raw(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The pipeline_e2e input corpus (raw docs with planted failures +
    benchmark frame) — shared by the contract query and the oracle-
    precondition tests so both see the identical construction."""
    d = _docs(spark, sf_dir)
    # planted failures so every stage fires: every 40th doc gets an exact
    # content twin whose PII line DIFFERS pre-scrub (different doc_id ->
    # different synthetic IP) but is identical post-scrub — exact dedup
    # only catches it BECAUSE the scrub ran first; every 60th doc gets a
    # keyword-stuffed spam twin for the repetition gate.
    twins = d.filter(F.pmod("doc_id", 40) == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "source", "text"
    )
    # the doc-id suffix keeps each spam line unique: a byte-identical line
    # across >= min_docs docs would be stripped as boilerplate first
    spam = d.filter(F.pmod("doc_id", 60) == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        "source",
        F.concat(
            F.lit(("spam " * 50) + "doc"),
            (F.col("doc_id") + 300000).cast("string"),
        ).alias("text"),
    )
    raw0 = _spread(
        spark, d.select("doc_id", "source", "text").unionByName(twins).unionByName(spam)
    )
    pii_line = F.concat(
        F.lit("contact john.doe+"),
        F.col("source"),
        F.lit("@mail.example.com or +1 (415) 555-"),
        F.lpad(F.pmod("doc_id", 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0."),
        F.pmod("doc_id", 256).cast("string"),
        F.lit(".7"),
    )
    raw = raw0.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.lit("=== COOKIE NOTICE: this site uses cookies ==="),
            F.col("text"),
            pii_line,
            F.concat(F.lit("(c) newsletter footer for "), F.col("source")),
        ).alias("text"),
    )
    bench = d.filter(F.pmod("doc_id", 50) == 0).select("text")
    return raw, bench


def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic per-source downsampling (the pretraining-mix op):
    # src0 kept at 64/256 (25%), src1 at 128/256 (50%), everything else
    # whole. Pure per-row projection — the fractions fold into a literal
    # CASE, no RNG, no join, no shuffle; nested-subset property under
    # fraction growth.
    from smartlogic_concordance_transformer_spark.datapipe.sampling import (
        stratified_sample,
    )

    return stratified_sample(
        _docs(spark, sf_dir), {"src0": 64, "src1": 128}, strata_col="source"
    ).select("doc_id", "source")


def q_events_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group mean/stddev derived from EXACT decimal sums (sum and
    # sum-of-squares), so both engines compute identical doubles — naive
    # float aggregation would differ by summation order
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    v = F.col("value").cast("decimal(18,6)")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_ss"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    n = F.col("n").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    return agg.select(
        "event_type",
        "n",
        "min_v",
        "max_v",
        F.round(s / n, 6).alias("mean_v"),
        F.round(F.sqrt((ss - s * s / n) / (n - F.lit(1.0))), 6).alias("stddev_v"),
    )


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=10)
    return out.select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"))


_IVF_K = 16
_IVF_ITERS = 10
_IVF_SEED = 42
_IVF_MAX_TRAIN = 100_000


def _ivf_train_matrix_spark(emb: DataFrame):
    """Deterministic training matrix: every even vec_id, in vec_id order,
    row-count-bounded. Deterministic (no Bernoulli sampling) so an
    independent reader of the same parquet rebuilds the EXACT matrix and
    hence — via the shared numpy kernel — the exact centroids."""
    import numpy as np

    rows = (
        emb.filter(F.pmod("vec_id", 2) == 0)
        .orderBy("vec_id")
        .select("embedding")
        .limit(_IVF_MAX_TRAIN)
        .collect()
    )
    return np.array([r[0] for r in rows], dtype="float64")


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF ANN: kmeans coarse quantizer trained on a deterministic
    # row-bounded sample -> probe cells -> exact cosine rerank. The
    # iterative training itself is not SQL, but it is bit-deterministic
    # (shared numpy kernel over a deterministically-ordered matrix), so
    # the DuckDB oracle retrains identically via pyarrow and verifies
    # cell assignment + probe selection + rerank as SQL over centroid
    # LITERALS — full rows+schema+hash check. Recall vs exact top-k is
    # additionally pinned in tests/test_datapipe.py::test_ivf_search_recall.
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        ivf_search,
        lloyd_kmeans,
    )

    emb = _emb(spark, sf_dir)
    cents = lloyd_kmeans(
        _ivf_train_matrix_spark(emb), k=_IVF_K, iters=_IVF_ITERS, seed=_IVF_SEED
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_search(emb, queries, cents, k=10, nprobe=4)
    return out.select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"))


def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall@10 of the IVF ANN path vs exact brute force — the eval an
    # ANN deployment runs before trusting the approximate index; both
    # sides are existing oracled queries, composed by one equi-join.
    # Exact arithmetic (integer hits / one division); the oracle
    # recomputes BOTH sides independently via the composed SQL.
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        recall_vs_exact,
    )

    return recall_vs_exact(
        q_sim_ivf(spark, sf_dir), q_sim_topk(spark, sf_dir), k=10
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stateful sessionization semantics applied in batch over events:
    # session = maximal run of a user's events with gaps < 30 min.
    # SQL-expressible via the classic gaps-and-islands window pattern,
    # so it gets a DuckDB oracle.
    from pyspark.sql import Window

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = us - F.lag(us).over(w)
    sess = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_session").over(w))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join: each click event gets the user's most recent view event
    # at-or-before it (pandas merge_asof / DuckDB ASOF JOIN semantics).
    # One shuffle (tag+union+running-window) — never a range cross-join.
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    l = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("ts"), F.col("value").alias("click_value")
    )
    r = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("ts"), F.col("value").alias("view_value")
    )
    out = asof_join(l, r, on="ts", by=["user_id"])
    return out.select(
        "user_id",
        F.col("ts").alias("click_us"),
        "click_value",
        F.col("asof_ts").alias("view_us"),
        F.col("asof_view_value").alias("view_value_prev"),
    )


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join with a staleness bound (pandas merge_asof tolerance):
    # a view older than 30 minutes before the click is discarded — the
    # matched struct nulls atomically. Same one-shuffle plan as asof_join.
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    l = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("ts"), F.col("value").alias("click_value")
    )
    r = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("ts"), F.col("value").alias("view_value")
    )
    out = asof_join(l, r, on="ts", by=["user_id"], tolerance=1800 * 1_000_000)
    return out.select(
        "user_id",
        F.col("ts").alias("click_us"),
        "click_value",
        F.col("asof_ts").alias("view_us"),
        F.col("asof_view_value").alias("view_value_prev"),
    )


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest as-of: each click gets the view CLOSEST in time, before or
    # after, backward winning exact ties (pandas merge_asof
    # direction='nearest'). Engine: two one-shuffle window passes + a
    # rid-keyed recombine; oracle: DuckDB backward ASOF (l.ts >= r.ts)
    # composed with forward ASOF (l.ts <= r.ts) and a per-row pick.
    # Unambiguous because (user_id, ts) is unique within clicks and
    # views at the oracle SFs (asserted by
    # tests/test_oracle_preconditions.py) — duplicate right timestamps
    # would make DuckDB's pick among them arbitrary.
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    l = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("ts"), F.col("value").alias("click_value")
    )
    r = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("ts"), F.col("value").alias("view_value")
    )
    out = asof_join(l, r, on="ts", by=["user_id"], direction="nearest")
    return out.select(
        "user_id",
        F.col("ts").alias("click_us"),
        "click_value",
        F.col("asof_ts").alias("view_us"),
        F.col("asof_view_value").alias("view_value_near"),
    )


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
            ).cast("double").alias("sum_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_join_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    totals = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = totals.join(F.broadcast(c), totals.o_custkey == c.c_custkey)
    from pyspark.sql import Window

    # orderBy().limit() plans as TakeOrderedAndProject (per-partition top-10
    # + driver merge) — never a single-partition global sort. The row_number
    # window then runs over only the 10 surviving rows.
    top = (
        joined.select("c_custkey", "c_mktsegment", "total", "n_orders")
        .orderBy(F.desc("total"), F.col("c_custkey"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("total"), F.col("c_custkey"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-3 orders per customer by price: partitioned window top-k
    from pyspark.sql import Window

    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customers with orders but no high-priority order: EXCEPT semantics
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    all_c = o.select("o_custkey").distinct()
    hi = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    return all_c.exceptAll(hi).select(F.col("o_custkey").alias("custkey"))


def q_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cube: totals for every subset of (returnflag, linestatus) — the
    # rollup variant with all 2^k groupings
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT percentiles (sort-based, linear interpolation) — verified
    # bit-identical to DuckDB quantile_cont. approx_percentile would be
    # the 100 TB choice but its sketch isn't cross-engine comparable;
    # exact is the correctness anchor the approximate path is judged by.
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


def q_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row standardization within each event_type — TWO-PHASE: exact
    # decimal per-type totals via groupBy (map-side combinable), then the
    # tiny stats table broadcast back onto the stream. A
    # Window.partitionBy(event_type) computes the same doubles but
    # funnels EVERY row of a type through one task's sort (5 types here
    # -> 5 tasks; terabytes per task at 100 TB) — the same single-task-
    # per-key shape token_budget_mix's r6 rewrite removed. The two forms
    # are hash-identical because the decimal sums are exact (order-
    # independent), so mean/std come out bit-equal either way.
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    v = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_ss"),
        F.count(F.lit(1)).alias("_n"),
    )
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    n = F.col("_n").cast("double")
    mean = s / n
    std = F.sqrt((ss - s * s / n) / (n - F.lit(1.0)))
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id", F.round((F.col("value") - mean) / std, 6).alias("z")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG transform over synthetic payloads at sf0.001."""
    return q_kg_upp_json(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_upp_json": q_kg_upp_json,
        "kg_triples": q_kg_triples,
        "kg_quarantine": q_kg_quarantine,
        "kg_uuid_tme": q_kg_uuid_tme,
        # r7 ROTATION (docs/COVERAGE.md "Gate rotation"): events_quantiles
        # rotated back in so driver-side verification touches every
        # family over time
        "events_quantiles": q_events_quantiles,
        "kg_validate_ids": q_kg_validate_ids,
        "kg_cc": q_kg_cc,
        "graph_pagerank": q_graph_pagerank,
        "graph_triangles": q_graph_triangles,
        "graph_motifs": q_graph_motifs,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_lsh_verified": q_dedup_lsh_verified,
        "dedup_clusters": q_dedup_clusters,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "dedup_incremental": q_dedup_incremental,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_incremental": q_dedup_simhash_incremental,
        "dedup_embed": q_dedup_embed,
        "dedup_semantic": q_dedup_semantic,
        "text_pii": q_text_pii,
        "text_boilerplate": q_text_boilerplate,
        "multimodal_features": q_multimodal_features,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "dedup_substrings": q_dedup_substrings,
        "text_repetition": q_text_repetition,
        "text_decontaminate": q_text_decontaminate,
        "text_chunks": q_text_chunks,
        "text_vocab": q_text_vocab,
        "text_winnow": q_text_winnow,
        "text_tokens_bpe": q_text_tokens_bpe,
        "text_bpe_merges": q_text_bpe_merges,
        "pipeline_e2e": q_pipeline_e2e,
        "split_stratified": q_split_stratified,
        "events_stats": q_events_stats,
        "sim_topk": q_sim_topk,
        "sim_ivf": q_sim_ivf,
        "streaming_sessions": q_streaming_sessions,
        "asof_join": q_asof_join,
        "asof_tolerance": q_asof_tolerance,
        "asof_nearest": q_asof_nearest,
        "agg_pricing": q_agg_pricing,
        "join_top_customers": q_join_top_customers,
        "window_topk": q_window_topk,
        "set_ops": q_set_ops,
        "text_perplexity": q_text_perplexity,
        "events_zscore": q_events_zscore,
        "cube_pricing": q_cube_pricing,
    }


# ---- retired contract queries -------------------------------------------
# The driver's correctness gate checks AT MOST 50 queries (verified round
# 6: round 5 registered 51 and the driver's CORRECTNESS file carried
# exactly the first 50 registry entries, silently dropping the 51st —
# see docs/COVERAGE.md "Driver correctness-gate cap"). queries() therefore
# holds exactly 50 entries; these retired queries keep their operators
# oracle-checked every round through tests/test_entry_oracle.py instead.


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # overflow: NEW r6 operators that the 50-entry driver cap has no
        # room for — they get the identical rows+schema+value check
        # through the pytest gate instead
        "dedup_semantic_incremental": q_dedup_semantic_incremental,
        "text_bpe_encode": q_text_bpe_encode,
        "sample_token_budget": q_sample_token_budget,
        "text_quality_classifier": q_text_quality_classifier,
        "sample_weighted": q_sample_weighted,
        "sample_weighted_stratified": q_sample_weighted_stratified,
        "sample_pack": q_sample_pack,
        "sim_recall": q_sim_recall,
        "web_urls": q_web_urls,
        "dedup_paragraphs": q_dedup_paragraphs,
        "range_join": q_range_join,
        "join_salted": q_join_salted,
        "kg_negatives": q_kg_negatives,
        "text_entropy": q_text_entropy,
        # swapped INTO the driver gate in favour of this (round 6):
        # text_fingerprint is a one-expression projection — the
        # substring-dedup and LM-perplexity operators carry far more
        # semantics
        "text_fingerprint": q_text_fingerprint,
    }


def retired_oracle_sql() -> dict[str, str]:
    oracles = {
        # per-char counts via explode (the oracle need not be zero-shuffle,
        # only equal); n derives from summed counts because DuckDB's
        # string_split('','') yields [''] where Spark yields []
        "text_entropy": """
          with ch as (
            select doc_id, unnest(string_split(coalesce(text, ''), '')) as c
            from documents),
          cc as (select doc_id, c, count(*) as cnt
                 from ch where c <> '' group by 1, 2),
          nn as (
            select d.doc_id, cast(coalesce(s.n, 0) as int) as n_chars
            from documents d
            left join (select doc_id, sum(cnt) as n from cc group by 1) s
              using (doc_id)),
          t as (
            select cc.doc_id,
                   round(-((cast(cnt as double) / cast(nn.n_chars as double))
                           * ln(cast(cnt as double) / cast(nn.n_chars as double))),
                         9) as term
            from cc join nn using (doc_id))
          select nn.doc_id, nn.n_chars,
                 case when nn.n_chars = 0 then 0.0
                      else round(cast(sum(cast(t.term as decimal(28,9))) as double), 6)
                 end as entropy
          from nn left join t using (doc_id)
          group by nn.doc_id, nn.n_chars
        """,
        # the successor rule replayed as a correlated min over the WHOLE
        # ring (no bucketing) — agreement re-proves the 2-bucket probe
        "kg_negatives": """
          with t as (select 'd' || lpad(cast(doc_id as varchar), 8, '0') as subj,
                            'linksTo' as pred,
                            'g' || lpad(cast(doc_id % 50 as varchar), 4, '0') as obj
                     from documents),
          e as (select subj as ent from t union select obj from t),
          r as (select ent,
                       cast('0x' || substr(md5('neg:e:' || ent), 1, 15) as bigint) as h
                from e),
          tg as (select subj, pred, obj, i,
                        cast('0x' || substr(md5('neg:t:' || subj || chr(31) || pred
                             || chr(31) || obj || chr(31) || cast(i as varchar)),
                             1, 15) as bigint) as g
                 from t cross join (select unnest([1, 2]) as i)),
          pick as (select subj, pred, obj, i,
                          coalesce(
                            (select min({'h': rr.h, 'ent': rr.ent}) from r rr
                             where rr.h >= tg.g),
                            (select min({'h': rr.h, 'ent': rr.ent}) from r rr)
                          ) as pe
                   from tg)
          select subj, pred, obj, i, pe.ent as neg
          from pick where pe.ent <> obj
        """,
        # the salted join is row-identical to the plain join by
        # construction; the oracle is the unsalted join + agg
        "join_salted": """
          select c_mktsegment, count(*) as n,
                 cast(sum(cast(o_totalprice as decimal(18,2))) as double) as revenue
          from orders join customer on o_custkey = c_custkey
          group by c_mktsegment
        """,
        # the declarative range join the chunking rewrite must equal
        "range_join": """
          with iv as (select p_partkey, p_partkey * 40 as lo,
                             p_partkey * 40 + cast(p_size as bigint) * 2 as hi
                      from part),
          pts as (select o_orderkey,
                         (o_orderkey * 7919) %
                         (select max(p_partkey) * 40 + 200 from part) as pt
                  from orders)
          select o_orderkey, pt, p_partkey, lo, hi
          from pts join iv on pt between lo and hi
        """,
        # raw-paragraph-string replay of the keep-first rule (winner =
        # min (doc_id, idx) per distinct paragraph; sub-min_chars rows
        # pass through; docs rebuilt in index order, '' when all lost) —
        # string-keyed, so agreement also certifies the engine's sha2
        # winner election is collision-free on this corpus
        "dedup_paragraphs": """
          with d as (
            select doc_id,
                   substr(text, 1, 80) || chr(10) ||
                   'boilerplate footer variant ' || cast(doc_id % 7 as varchar)
                   || chr(10) || substr(text, 81, 80) as t2
            from documents),
          ps as (select doc_id, string_split(t2, chr(10)) as l from d),
          px as (select doc_id,
                        unnest(list_transform(range(len(l)),
                                              i -> {'idx': i, 'para': l[i+1]})) as u
                 from ps),
          p2 as (select doc_id, u.idx as idx, u.para as para from px),
          el as (select *, row_number() over (partition by para
                                              order by doc_id, idx) as rn
                 from p2 where length(para) >= 1),
          keep as (select doc_id, idx, para from el where rn = 1
                   union all
                   select doc_id, idx, para from p2 where length(para) < 1),
          agg as (select doc_id, string_agg(para, chr(10) order by idx) as clean,
                         count(*) as kept
                  from keep group by doc_id),
          tot as (select doc_id, count(*) as total from p2 group by doc_id)
          select d.doc_id, coalesce(agg.clean, '') as clean,
                 cast(tot.total - coalesce(agg.kept, 0) as int) as n_dropped
          from d join tot using (doc_id) left join agg using (doc_id)
        """,
    }
    oracles["text_bpe_encode"] = _bpe_encode_oracle()
    oracles["sample_token_budget"] = """
      with d as (
        select doc_id, source,
               md5('mix:' || cast(doc_id as varchar)) as h,
               len(string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ')) as n_tokens
        from documents
        where source in ('src0', 'src1', 'src2', 'src3')),
      b(source, budget) as (values
        ('src0', 500), ('src1', 137), ('src2', 1), ('src3', 1000000000)),
      c as (
        select d.doc_id, d.source, d.n_tokens, b.budget,
               sum(d.n_tokens) over (partition by d.source order by d.h, d.doc_id
                 rows between unbounded preceding and current row) as cum_tokens
        from d join b using (source))
      select doc_id, source, cast(n_tokens as bigint) as n_tokens,
             cast(cum_tokens as bigint) as cum_tokens
      from c where cum_tokens - n_tokens < budget
    """
    oracles["text_fingerprint"] = (
        "select doc_id, sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp from documents"
    )
    # hashed linear classifier: identical tokenizer, identical 60-bit
    # md5 bridge, integer milli-weight sum, one IEEE division
    oracles["text_quality_classifier"] = """
      with t as (
        select doc_id,
               unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) as tok
        from documents),
      a as (
        select doc_id, count(*) as n_tokens,
               sum(cast('0x' || substr(md5('qw:' || tok), 1, 15) as bigint) % 2001 - 1000) as w_sum
        from t group by doc_id)
      select doc_id, cast(n_tokens as bigint) as n_tokens,
             cast(w_sum as bigint) as w_sum,
             cast(w_sum as double) / (n_tokens * 1000.0) as logit,
             cast(w_sum as double) / (n_tokens * 1000.0) > 0.0 as keep
      from a
    """
    # Efraimidis-Spirakis clocks: u = (h+1)/2^60 from the md5 bridge,
    # clock = -ln(u)/w; the clock never appears in the output columns
    _ES_CLOCK = """
      with d as (select doc_id, source, n_chars,
          cast('0x' || substr(md5('ws:' || cast(doc_id as varchar)), 1, 15) as bigint) as h
        from documents),
      p as (select doc_id, source, n_chars,
          -ln((h + 1) / 1152921504606846976.0) / n_chars as pr
        from d)
    """
    oracles["sample_weighted"] = _ES_CLOCK + """
      select doc_id, cast(n_chars as bigint) as weight,
             row_number() over (order by pr, doc_id) as rank
      from p order by pr, doc_id limit 200
    """
    # URL normalization: identical rule set replayed in SQL over the
    # same synthesized raw URLs
    oracles["web_urls"] = """
      with u0 as (
        select doc_id,
               (case when doc_id % 2 = 0 then 'HTTP' else 'HTTPS' end) ||
               '://WWW.Site' || cast(doc_id % 7 as varchar) || '.Example.COM' ||
               (case doc_id % 4 when 0 then ':80' when 1 then ':443'
                                when 2 then ':8080' else '' end) ||
               (case when doc_id % 5 = 0 then ''
                     else '/Dir' || cast(doc_id % 5 as varchar) || '/Page' end) ||
               (case when doc_id % 7 = 0 then ''
                     else '?zz=' || cast(doc_id % 3 as varchar) ||
                          '&aa=' || cast(doc_id % 2 as varchar) end) ||
               (case when doc_id % 3 = 0 then '#Sec1' else '' end) as url
        from documents),
      p as (
        select doc_id, url,
               regexp_replace(url, '#.*$', '') as defrag,
               lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^([^:/?#]+)://([^/?#]*)([^?#]*)', 1)) as scheme,
               lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^([^:/?#]+)://([^/?#]*)([^?#]*)', 2)) as auth0,
               regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^([^:/?#]+)://([^/?#]*)([^?#]*)', 3) as path0,
               regexp_extract(regexp_replace(url, '#.*$', ''), '\\?([^#]*)', 1) as q
        from u0),
      n as (
        select doc_id, url, defrag, scheme,
               case when scheme = 'http' and auth0 like '%:80'
                      then regexp_replace(auth0, ':80$', '')
                    when scheme = 'https' and auth0 like '%:443'
                      then regexp_replace(auth0, ':443$', '')
                    else auth0 end as auth,
               case when path0 = '' then '/' else path0 end as path,
               array_to_string(list_sort(list_filter(string_split(q, '&'),
                 x -> x <> '')), '&') as qs
        from p)
      select doc_id, url,
             case when scheme = '' then defrag
                  else scheme || '://' || auth || path ||
                       (case when qs <> '' then '?' || qs else '' end)
             end as url_norm,
             regexp_replace(lower(regexp_extract(defrag,
                 '^([^:/?#]+)://([^/?#]*)([^?#]*)', 2)), ':\\d+$', '') as host
      from n
    """
    # global packing: identical md5 order + one integer prefix sum
    oracles["sample_pack"] = """
      with d as (select doc_id,
          md5('pack:' || cast(doc_id as varchar)) as h,
          len(string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ')) as n
        from documents),
      c as (select doc_id, n,
          sum(n) over (order by h, doc_id rows between unbounded preceding and current row) as cum
        from d)
      select doc_id, cast(n as bigint) as n_tokens, cast(cum - n as bigint) as start,
             cast((cum - n) // 2048 as bigint) as bin_first,
             cast((cum - 1) // 2048 as bigint) as bin_last,
             cast((cum - n) % 2048 as bigint) as bin_offset
      from c
    """
    oracles["sample_weighted_stratified"] = _ES_CLOCK + """
      , r as (select source, doc_id, n_chars,
          row_number() over (partition by source order by pr, doc_id) as rank
        from p)
      select source, doc_id, cast(n_chars as bigint) as weight, rank
      from r where rank <= 10
    """
    for name, builder in (
        ("dedup_semantic_incremental", _dedup_semantic_incremental_oracle),
        ("sim_recall", _sim_recall_oracle),
    ):
        sql = builder()
        if sql is not None:
            oracles[name] = sql
    return oracles


# ---- DuckDB oracles ------------------------------------------------------

_TME_UUID_D = ft_md5_uuid_sql(_TME_DUCK)
_WD_UUID_D = ft_md5_uuid_sql(_WD_DUCK)

_NORM_WORDS_D = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
_TOKENS_D = (
    "string_split_regex(lower(trim(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', ' ', 'g'))), '\\s+')"
)


def _langid_oracle() -> str:
    # mirrors detect_language's two stages: RE2 spells Unicode script
    # classes \p{Han} where Java spells \p{IsHan} — same character sets
    from smartlogic_concordance_transformer_spark.datapipe.text import SCRIPT_LANGS

    hits = {
        lang: f"len(list_intersect(list_distinct({_TOKENS_D}), "
        f"[{', '.join(repr(w) for w in words)}]))"
        for lang, words in STOPWORDS.items()
    }
    best = f"greatest({hits['en']}, {hits['de']}, {hits['fr']}, {hits['es']})"
    script_counts = ",\n          ".join(
        f"length(regexp_replace(text, '[^\\p{{{script}}}]', '', 'g')) as n_{lang}"
        for script, lang in SCRIPT_LANGS
    )
    script_cases = "\n             ".join(
        f"when n_{lang} * 5 >= greatest(length(text), 1) then '{lang}'"
        for _, lang in SCRIPT_LANGS
    )
    return f"""
      with s as (
        select doc_id, text,
          length(regexp_replace(text, '[^\\p{{Hiragana}}\\p{{Katakana}}]', '', 'g')) as n_kana,
          length(regexp_replace(text, '[^\\p{{Hangul}}]', '', 'g')) as n_hangul,
          length(regexp_replace(text, '[^\\p{{Han}}]', '', 'g')) as n_han,
          {script_counts}
        from documents),
      c as (select *, (n_kana + n_hangul + n_han) * 5 >= greatest(length(text), 1) as cjk from s)
      select doc_id,
        case when cjk and n_kana > 0 then 'ja'
             when cjk and n_hangul > 0 then 'ko'
             when cjk and n_han > 0 then 'zh'
             {script_cases}
             when {best} = 0 then 'und'
             when {hits['en']} = {best} then 'en'
             when {hits['de']} = {best} then 'de'
             when {hits['fr']} = {best} then 'fr'
             else 'es' end as lang_pred
      from c
    """


def _simhash_oracle(
    extra_corpus: str = "",
    pair_cond: str = "a.doc_id < b.doc_id",
) -> str:
    """Independent all-pairs rebuild of the md5-token-hash SimHash: per
    token the 60-bit hash is reassembled digit-by-digit from md5 hex
    (shift-add), the per-bit strict-majority vote is 60 integer sums, and
    near-dup pairs come from a full O(n^2) join + popcount filter — no
    banding, so the oracle also re-proves the banding's exactness for
    hamming <= 3. ``extra_corpus`` appends further UNION ALL arms (the
    incremental batch); ``pair_cond`` selects which (a, b) pairs are
    reported (all-pairs by default, new-vs-all for the incremental
    oracle)."""
    hexpr = (
        "cast(list_sum(list_transform(range(15), i -> "
        "((strpos('0123456789abcdef', substr(md5(w), i+1, 1)) - 1)::bigint "
        "<< (4*(14-i))))) as bigint)"
    )
    bit_sums = ",\n                 ".join(
        f"sum((h >> {b}) & 1) as b{b}" for b in range(60)
    )
    fp_terms = " + ".join(
        f"(case when 2*b{b} > n then 1::bigint << {b} else 0 end)" for b in range(60)
    )
    return f"""
      with corpus as (
        select doc_id, text from documents
        union all
        select doc_id + 1000000000000, text || ' qzx' from documents where doc_id % 10 = 0{extra_corpus}),
      tok as (
        select doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) as w
        from corpus),
      h as (select doc_id, {hexpr} as h from tok),
      v as (select doc_id, count(*) as n,
                 {bit_sums}
            from h group by doc_id),
      fp as (select doc_id, cast({fp_terms} as bigint) as simhash from v),
      ham as (
        select a.doc_id as a, b.doc_id as b,
               bit_count(xor(a.simhash, b.simhash)) as hamming
        from fp a join fp b on ({pair_cond}))
      select a, b, cast(hamming as int) as hamming from ham where hamming <= 3
    """


def _quality_sql(col: str, src: str) -> str:
    """quality_score as a DuckDB subquery over column ``col`` of ``src``
    (which must expose doc_id). Shared by the standalone text_quality
    oracle and the pipeline_e2e oracle so the formula cannot drift."""
    tok = (
        f"string_split_regex(lower(trim(regexp_replace({col}, "
        "'[^\\p{L}\\p{N}\\s]', ' ', 'g'))), '\\s+')"
    )
    en = ", ".join(repr(w) for w in STOPWORDS["en"])
    return f"""(
      with t as (
        select doc_id,
          length({col}) as n_chars,
          length(regexp_replace({col}, '[^\\p{{L}}]', '', 'g')) * 1.0 / greatest(length({col}), 1) as alpha_ratio,
          len(list_intersect(list_distinct({tok}), [{en}])) as stop_hits,
          length({col}) * 1.0 / greatest(len({tok}), 1) as mean_word_len
        from {src})
      select doc_id,
        cast(((case when n_chars >= 200 and n_chars <= 100000 then 1.0
                    when n_chars >= 50 then 0.5 else 0.0 end)
            + (case when mean_word_len >= 3 and mean_word_len <= 12 then 1.0 else 0.0 end)
            + (case when stop_hits >= 2 then 1.0 when stop_hits >= 1 then 0.5 else 0.0 end)
            + (case when alpha_ratio >= 0.6 then 1.0 when alpha_ratio >= 0.4 then 0.5 else 0.0 end)
             ) / 4 as double) as quality
      from t)"""


def _quality_oracle() -> str:
    return f"select doc_id, quality from {_quality_sql('text', 'documents')}"


def _dlist(vec) -> str:
    """A double[] literal that round-trips float64 EXACTLY: bare numeric
    literals parse as DECIMAL in DuckDB and re-rounding through decimal
    loses last-ulp bits (measured: ~10% of random doubles), so every
    element goes through a correctly-rounded varchar->double cast."""
    return "cast([" + ",".join(f"'{float(v)!r}'" for v in vec) + "] as double[])"


import functools


@functools.lru_cache(maxsize=1)
def _multimodal_oracle() -> str | None:
    """Precomputed-literal oracle for the multimodal feature query: the
    deterministic fake decoder is sha256-of-payload, which DuckDB cannot
    hash (BLOB), so expected rows are computed with hashlib directly
    (independent of the engine's mapInPandas decoder) from the same
    parquet and emitted as a VALUES table. Float ops mirror the engine's
    ops exactly ((h[0]/255)*255 rounded), so b0 is bit-deterministic."""
    import hashlib

    import pyarrow.parquet as pq

    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    t = pq.read_table(path, columns=["doc_id", "text"])
    kinds = ["image", "audio", "video"]
    rows = []
    for d, txt in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        h = hashlib.sha256((txt or "").encode("utf-8")).digest()
        b0 = int(round((h[0] / 255.0) * 255.0))
        rows.append(f"({d}, '{kinds[d % 3]}', 8, {b0})")
    return (
        "select cast(media_id as bigint) as media_id, kind, "
        "cast(dim as int) as dim, cast(b0 as int) as b0 from (values "
        + ", ".join(rows)
        + ") as t(media_id, kind, dim, b0)"
    )


@functools.lru_cache(maxsize=1)
def _oracle_centroid_matrix():
    """The k-means centroid matrix rebuilt INDEPENDENTLY of the engine
    (pyarrow read of the sf0.01 parquet + the shared bit-deterministic
    ``lloyd_kmeans`` kernel over the same deterministic training rows as
    ``_ivf_train_matrix_spark``), or None where that data is absent.
    Shared by the sim_ivf and dedup_semantic oracles; memoized so
    repeated oracle_sql() calls retrain once."""
    import numpy as np
    import pyarrow.parquet as pq

    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        lloyd_kmeans,
    )

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vec_ids = np.asarray(t.column("vec_id"))
    embs = np.asarray(t.column("embedding").to_pylist(), dtype="float64")
    order = np.argsort(vec_ids, kind="stable")
    even = vec_ids[order] % 2 == 0
    X = embs[order][even][:_IVF_MAX_TRAIN]
    return np.asarray(
        lloyd_kmeans(X, k=_IVF_K, iters=_IVF_ITERS, seed=_IVF_SEED), dtype="float64"
    )


_SIM_TOPK_SQL = """
          with q as (select vec_id as query_id, embedding from embeddings where vec_id < 5),
          s as (select q.query_id, e.vec_id,
                       list_cosine_similarity(e.embedding, q.embedding) as score
                from embeddings e cross join q)
          select query_id, vec_id, rank from (
            select query_id, vec_id,
                   cast(row_number() over (partition by query_id order by score desc, vec_id) as int) as rank
            from s) where rank <= 10
        """


def _sim_recall_oracle() -> str | None:
    """recall@10 of the IVF path against exact brute force, composed
    from the two existing oracles (nested-WITH subqueries — both sides
    recomputed INDEPENDENTLY of the engine). Inherits the IVF oracle's
    availability (None when the sf0.01 retrain data is absent) and its
    float-separation precondition; the recall arithmetic itself is
    exact (integer hit count / one IEEE division)."""
    ivf = _sim_ivf_oracle()
    if ivf is None:
        return None
    return f"""
      with exact as (select query_id, vec_id from ({_SIM_TOPK_SQL})),
      approx as (select query_id, vec_id from ({ivf})),
      hit as (select e.query_id, count(*) as n_hit
              from exact e join approx a
                on e.query_id = a.query_id and e.vec_id = a.vec_id
              group by e.query_id)
      select q.query_id, coalesce(h.n_hit, 0) as n_hit,
             coalesce(h.n_hit, 0) / 10.0 as recall
      from (select distinct query_id from exact) q
      left join hit h on q.query_id = h.query_id
    """


@functools.lru_cache(maxsize=1)
def _sim_ivf_oracle() -> str | None:
    """Full-value oracle for IVF ANN. The iterative k-means isn't SQL, but
    it IS bit-deterministic: the training matrix is a deterministic
    row-ordered subset of the parquet, and ``lloyd_kmeans`` is pure
    numpy — so the oracle retrains INDEPENDENTLY (pyarrow read, same
    kernel) and verifies the distributed parts (cell assignment, probe
    selection, cosine rerank) as plain SQL over centroid literals. The
    driver's correctness gate always runs oracles against sf0.01, which
    is why the retrain reads that scale explicitly; on a machine without
    that data the query degrades to rows-only (returns None) instead of
    breaking every oracle. Memoized: callers invoke oracle_sql() freely
    (pytest calls it per test) and the retrain must not rerun each time.

    Float caveat (unlike the integer-exact oracles): the engine's
    assignment/rerank use BLAS reductions whose summation order differs
    from DuckDB's sequential list_inner_product, so hash-equality
    additionally relies on no two cells/scores being within ~1 ulp for
    any row of THIS corpus — true for the gaussian test embeddings,
    re-check if the corpus is regenerated (see docs/COVERAGE.md)."""
    C = _oracle_centroid_matrix()
    if C is None:
        return None
    c2 = (C * C).sum(axis=1)  # same numpy reduction ivf_assign uses

    # corpus-side assignment: argmin_j (||c_j||^2 - 2 x.c_j), first index
    # wins ties — list_indexof returns the FIRST position of the min
    s_exprs = ",\n                 ".join(
        f"cast('{float(c2[j])!r}' as double) - 2.0 * list_inner_product(embedding, {_dlist(C[j])})"
        for j in range(len(C))
    )
    # query-side probe ranking mirrors _centroid_dist2: full ||x-c||^2
    probe_structs = ",\n                 ".join(
        "struct_pack(cell := {j}, d := list_sum(list_transform("
        "list_zip(qe, {cl}), p -> (p[1]-p[2])*(p[1]-p[2]))))".format(
            j=j, cl=_dlist(C[j])
        )
        for j in range(len(C))
    )
    return f"""
      with sc as (
        select vec_id, embedding,
               [{s_exprs}] as s
        from embeddings),
      cells as (
        select vec_id, embedding,
               list_indexof(s, list_aggregate(s, 'min')) - 1 as cell
        from sc),
      q as (select vec_id as query_id, embedding as qe from embeddings where vec_id < 5),
      qp as (
        select query_id, qe, u.cell as cell, u.d as d from (
          select query_id, qe,
                 unnest([{probe_structs}]) as u
          from q)),
      probes as (
        select query_id, qe, cell from (
          select query_id, qe, cell,
                 row_number() over (partition by query_id order by d, cell) as pr
          from qp) where pr <= 4),
      scored as (
        select p.query_id, c.vec_id,
               list_cosine_similarity(cast(c.embedding as double[]),
                                      cast(p.qe as double[])) as score
        from cells c join probes p using (cell))
      select query_id, vec_id, rank from (
        select query_id, vec_id,
               cast(row_number() over (partition by query_id
                    order by score desc, vec_id) as int) as rank
        from scored) where rank <= 10
    """


def _semantic_cos_exprs(C) -> str:
    """Per-centroid ``list_cosine_similarity`` expressions over exact
    double literals — shared by the dedup_semantic oracles."""
    return ",\n                 ".join(
        f"list_cosine_similarity(embedding, {_dlist(C[j])})" for j in range(len(C))
    )


@functools.lru_cache(maxsize=1)
def _dedup_semantic_incremental_oracle() -> str | None:
    """Pairs-only oracle for the incremental SemDeDup shape: cells from
    the shared retrained centroid literals, then within-cell new-vs-all
    pairs (new keys >= 1e12) with cosine >= 0.99 — enumerated directly,
    no transitive closure. Same float-margin preconditions as
    dedup_semantic (the +2e12 re-ingests are byte-identical vectors, so
    their cells and pair cosines tie bit-exactly with their originals
    within each engine)."""
    C = _oracle_centroid_matrix()
    if C is None:
        return None
    cos_exprs = _semantic_cos_exprs(C)
    return f"""
      with b0 as (
        select vec_id, cast(embedding as double[]) as embedding
        from embeddings where vec_id < 1000),
      c as (
        select vec_id, embedding from b0
        union all
        select vec_id + 1000000000000 as vec_id,
               list_transform(embedding, x -> x * 2) as embedding
        from b0 where vec_id % 7 = 0
        union all
        select vec_id + 2000000000000 as vec_id, embedding
        from b0 where vec_id % 25 = 0),
      sc as (
        select vec_id, embedding,
               [{cos_exprs}] as s
        from c),
      cells as (
        select vec_id, embedding,
               cast(list_indexof(s, list_aggregate(s, 'max')) - 1 as int) as cell
        from sc)
      select x.vec_id as a, y.vec_id as b, x.cell as cell
      from cells x join cells y
        on x.cell = y.cell
       and x.vec_id >= 1000000000000
       and (y.vec_id < 1000000000000 or x.vec_id < y.vec_id)
       and x.vec_id <> y.vec_id
      where list_cosine_similarity(x.embedding, y.embedding) >= 0.99
    """


@functools.lru_cache(maxsize=1)
def _dedup_semantic_oracle() -> str | None:
    """Full-value oracle for SemDeDup. Centroids come from the shared
    independently-retrained matrix (``_oracle_centroid_matrix``); cell
    assignment (argmax cosine, first index on exact ties), within-cell
    pair generation, the recursive-CTE transitive closure, and the
    lowest-centroid-cosine keep rule are all plain SQL over centroid
    literals. The within-cell restriction is NOT an approximation being
    trusted — it is the operator's published semantic, so the oracle
    replicates the bucketing exactly.

    Float caveat: engine cosines are numpy-BLAS, oracle cosines are
    DuckDB sequential reductions — hash equality rides on (a) argmax
    cell margins >> 1 ulp for every corpus row and (b) pair cosines
    clearing/missing the 0.99 threshold by wide margins (planted exact
    x2-scalings sit at cos == 1 bit-for-bit in BOTH engines — scaling by
    a power of two commutes with IEEE rounding — and the natural max
    pairwise cosine of this corpus is ~0.51). Asserted at run time by
    tests/test_oracle_preconditions.py::test_semantic_cell_and_pair_margins."""
    C = _oracle_centroid_matrix()
    if C is None:
        return None
    cos_exprs = _semantic_cos_exprs(C)
    return f"""
      with recursive b0 as (
        select vec_id, cast(embedding as double[]) as embedding
        from embeddings where vec_id < 1000),
      c as (
        select vec_id, embedding from b0
        union all
        select vec_id + 1000000000000 as vec_id,
               list_transform(embedding, x -> x * 2) as embedding
        from b0 where vec_id % 7 = 0),
      sc as (
        select vec_id, embedding,
               [{cos_exprs}] as s
        from c),
      cells as (
        select vec_id, embedding,
               cast(list_indexof(s, list_aggregate(s, 'max')) - 1 as int) as cell,
               list_aggregate(s, 'max') as ccos
        from sc),
      p as (
        select x.vec_id as a, y.vec_id as b
        from cells x join cells y
          on x.cell = y.cell and x.vec_id < y.vec_id
        where list_cosine_similarity(x.embedding, y.embedding) >= 0.99),
      e as (select a as u, b as v from p union select b, a from p),
      n as (select distinct u as node from e),
      reach(node, r) as (
        select node, node from n
        union
        select e.u, reach.r from e join reach on reach.node = e.v),
      comp as (select node, min(r) as component from reach group by node),
      drops as (
        select node from (
          select m.node,
                 row_number() over (partition by m.component
                                    order by cells.ccos asc, m.node asc) as rn
          from comp m join cells on cells.vec_id = m.node)
        where rn > 1)
      select cells.vec_id as vec_id, cells.cell as cell,
             (d.node is null) as kept
      from cells left join drops d on d.node = cells.vec_id
    """


def _repetition_oracle() -> str:
    """text_repetition oracle: per-n gram CTEs mirror ``shingles``
    (word grams, non-distinct, short docs -> one truncated gram); tops
    are max/sum of counts, char-dup fractions are the gram-length-
    weighted integer sums from repetition_stats' docstring."""
    all_ns = sorted(set(_REP_TOP_NS) | set(_REP_CHAR_NS))
    g_ctes = [
        f"""g{n} as (select doc_id, unnest(list_transform(range(greatest(len(words) - {n - 1}, 1)),
               i -> array_to_string(words[i+1:i+{n}], ' '))) as g from f),
          k{n} as (select doc_id, g, count(*) as c from g{n} group by 1, 2)"""
        for n in all_ns
    ]
    t_ctes = [
        f"t{n} as (select doc_id, round(max(c) * 1.0 / sum(c), 6) as top_{n}gram_frac "
        f"from k{n} group by doc_id)"
        for n in _REP_TOP_NS
    ]
    c_ctes = [
        f"c{n} as (select doc_id, round(coalesce(sum(case when c > 1 then (c - 1) * length(g) end), 0) "
        f"* 1.0 / greatest(sum(c * length(g)), 1), 6) as dup_{n}gram_char_frac from k{n} group by doc_id)"
        for n in _REP_CHAR_NS
    ]
    # TRUE A1 char coverage (r7): per size, duplicate occurrences = every
    # gram occurrence beyond its first (row_number over position), mapped
    # to char spans via word start offsets in the space-joined stream,
    # unioned with classic gaps-and-islands (running max end), divided by
    # the stream length. Independently certifies the engine's word-walk
    # interval fold AND (via the raw gram string) its xxhash64 keying.
    wp_cte = """wp as (
            select doc_id, s.j as j, s.l as l,
                   coalesce(sum(s.l + 1) over (partition by doc_id order by s.j
                     rows between unbounded preceding and 1 preceding), 0) as st
            from (select doc_id,
                         unnest(list_transform(range(len(words)),
                                j -> {'j': j, 'l': length(words[j+1])})) as s
                  from f))"""
    cov_ctes = []
    for n in _REP_COV_NS:
        cov_ctes.append(f"""gi{n} as (
            select doc_id, s.i as i, s.g as g
            from (select doc_id,
                         unnest(list_transform(range(greatest(len(words) - {n - 1}, 1)),
                                i -> {{'i': i, 'g': array_to_string(words[i+1:i+{n}], ' ')}})) as s
                  from f)),
          d{n} as (
            select doc_id, i from (
              select doc_id, i,
                     row_number() over (partition by doc_id, g order by i) as rn
              from gi{n}) where rn > 1),
          sp{n} as (
            select d.doc_id, a.st as s, b.st + b.l as e
            from d{n} d
            join wp a on a.doc_id = d.doc_id and a.j = d.i
            join wp b on b.doc_id = d.doc_id and b.j = d.i + {n - 1}),
          ni{n} as (
            select doc_id, s, e,
                   case when s <= coalesce(max(e) over (partition by doc_id
                         order by s rows between unbounded preceding and 1 preceding), -1)
                       then 0 else 1 end as ni
            from sp{n}),
          il{n} as (
            select doc_id, s, e,
                   sum(ni) over (partition by doc_id order by s) as isl
            from ni{n}),
          cv{n} as (
            select doc_id, sum(mx - mn) as cov
            from (select doc_id, isl, max(e) as mx, min(s) as mn
                  from il{n} group by 1, 2) group by 1),
          o{n} as (
            select f.doc_id,
                   round(coalesce(cv.cov, 0) * 1.0
                         / greatest(length(array_to_string(f.words, ' ')), 1), 6)
                     as dup_{n}gram_char_coverage
            from f left join cv{n} cv using (doc_id))""")
    joins = " ".join(
        [f"join t{n} using (doc_id)" for n in _REP_TOP_NS]
        + [f"join c{n} using (doc_id)" for n in _REP_CHAR_NS]
        + [f"join o{n} using (doc_id)" for n in _REP_COV_NS]
    )
    cols = ", ".join(
        [f"top_{n}gram_frac" for n in _REP_TOP_NS]
        + [f"dup_{n}gram_char_frac" for n in _REP_CHAR_NS]
        + [f"dup_{n}gram_char_coverage" for n in _REP_COV_NS]
    )
    sep = ",\n          "
    gram_block = sep.join(g_ctes)
    top_block = sep.join(t_ctes)
    char_block = sep.join(c_ctes + [wp_cte] + cov_ctes)
    return f"""
          with w as (
            select doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as words,
                   list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                               x -> x <> '') as lines,
                   list_filter(list_transform(string_split(text, chr(10) || chr(10)), x -> trim(x)),
                               x -> x <> '') as paras
            from documents),
          f as (
            select doc_id, words,
                   round((len(words) - len(list_distinct(words))) * 1.0
                         / greatest(len(words), 1), 6) as dup_word_frac,
                   round((len(lines) - len(list_distinct(lines))) * 1.0
                         / greatest(len(lines), 1), 6) as dup_line_frac,
                   round((len(paras) - len(list_distinct(paras))) * 1.0
                         / greatest(len(paras), 1), 6) as dup_para_frac
            from w),
          {gram_block},
          {top_block},
          {char_block}
          select f.doc_id, dup_word_frac, dup_line_frac, dup_para_frac, {cols}
          from f {joins}
    """


def _winnow_sets_cte(src: str) -> str:
    """The shared winnowing-fingerprint-set CTE chain over relation
    ``src`` (doc_id, text) -> ``w`` (doc_id, fps): per char 8-gram the
    60-bit hash is reassembled digit-by-digit from md5 hex (shift-add,
    same construction the simhash oracle proves), then min per sliding
    4-window, then distinct. Used by the text_winnow and
    dedup_winnow_pairs oracles so gram/window semantics cannot drift."""
    # md5 hoisted to its own transform so each gram hashes ONCE; the
    # digit shift-add then reads the precomputed hex (15x fewer md5
    # calls than inlining md5(g) in the digit lambda — 172s -> ~40s on
    # the sf0.01 gate)
    h60 = (
        "cast(list_sum(list_transform(range(15), j -> "
        "((strpos('0123456789abcdef', substr(h, j+1, 1)) - 1)::bigint "
        "<< (4*(14-j))))) as bigint)"
    )
    return f"""
      norm as (
        select doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) as t
        from {src}),
      gh as (
        select doc_id,
               list_transform(
                 list_transform(
                   list_transform(range(1, greatest(length(t) - 7, 1) + 1),
                                  i -> substr(t, i, 8)),
                   g -> md5(g)),
                 h -> {h60}) as hs
        from norm),
      w as (
        select doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(hs) - 3, 1) + 1),
                 i -> list_min(hs[i:i+3]))) as fps
        from gh)"""


def _winnow_oracle() -> str:
    """Independent rebuild of the md5-gram-hash winnowing fingerprint
    sets, one row per distinct fingerprint."""
    return f"""
      with {_winnow_sets_cte("documents")}
      select doc_id, unnest(fps) as fp from w
    """


def _winnow_pairs_oracle() -> str:
    """All-pairs rebuild of the MOSS-style overlap detector: winnow
    fingerprint sets over the corpus-with-planted-prefix-twins, drop
    fingerprints in more than 5 docs (max_df), count shared
    fingerprints per pair with a plain O(n^2)-capable join (oracles
    don't need to scale), containment over the PRE-drop set sizes."""
    corpus = """(
        select doc_id, text from documents
        union all
        select doc_id + 3000000000000 as doc_id,
               substr(text, 1, 200) || ' tail marker for doc '
                 || cast(doc_id as varchar) as text
        from documents where doc_id % 20 = 0)"""
    return f"""
      with {_winnow_sets_cte(corpus)},
      e0 as (select doc_id, len(fps) as n, unnest(fps) as fp from w),
      keep as (select fp from e0 group by fp having count(*) <= 5),
      e as (select e0.* from e0 join keep using (fp)),
      p as (select a.doc_id as a, b.doc_id as b, a.n as na, b.n as nb,
                   count(*) as c
            from e a join e b on a.fp = b.fp and a.doc_id < b.doc_id
            group by 1, 2, 3, 4)
      select a, b, c as n_shared,
             round(c * 1.0 / least(na, nb), 6) as containment
      from p where c >= 5
    """


def _bpe_chain(k: int, min_count: int) -> str:
    """The shared CTE chain replaying ``learn_bpe_merges``'s ``k``
    iterations, each counting adjacent symbol pairs over the vocabulary,
    picking the (count desc, left, right) argmax, and rewriting every
    word's symbol list left-to-right non-overlapping via ``list_reduce``
    with a chr(30)-joined string accumulator (the accumulator must be a
    single value of element type, so the partial symbol list rides as a
    separator-joined string; chr(30) is asserted absent from the corpus
    by tests/test_oracle_preconditions.py). The chain carries the token
    key so both the learn oracle (which reads the b{{i}} argmax rows) and
    the encode oracle (which joins the final v{{k}} piece arrays back to
    the document word stream) replay from ONE definition."""

    def iteration(i: int) -> str:
        return f"""
      p{i} as (
        select p.a as a, p.b as b, sum(freq) as cnt from (
          select unnest(list_transform(range(len(syms) - 1),
                        j -> {{'a': syms[j+1], 'b': syms[j+2]}})) as p, freq
          from v{i}) group by 1, 2),
      b{i} as (select a, b, cnt from p{i} order by cnt desc, a, b limit 1),
      v{i + 1} as (
        select s.token, s.freq,
          case when bb.a is null or len(s.syms) < 2 then s.syms
          else string_split(list_reduce(s.syms, (acc, x) -> case
            when list_extract(string_split(acc, chr(30)), -1) = bb.a and x = bb.b
            then array_to_string(list_append(
                   list_slice(string_split(acc, chr(30)), 1, len(string_split(acc, chr(30))) - 1),
                   bb.a || bb.b), chr(30))
            else acc || chr(30) || x end), chr(30)) end as syms
        from v{i} s left join b{i} bb on true)"""

    head = f"""
      with w as (
        select unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) as token
        from documents),
      vv as (select token, count(*) as freq from w
             where token <> '' group by token having count(*) >= {min_count}),
      v0 as (select token, freq, regexp_extract_all(token, '.') as syms from vv),"""
    return head + ",".join(iteration(i) for i in range(k))


def _bpe_oracle(k: int = _BPE_MERGES, min_count: int = 1) -> str:
    """Independent replay of ``learn_bpe_merges`` — see ``_bpe_chain``."""
    tail = "\n      select * from (" + "\n      union all ".join(
        f"select {i} as rank, a as merge_left, b as merge_right, "
        f"cast(cnt as bigint) as pair_count from b{i}"
        for i in range(k)
    ) + ")"
    return _bpe_chain(k, min_count) + tail


def _perplexity_oracle() -> str:
    """Independent replay of ``ngram_perplexity``: identical smoothing
    arithmetic in the identical operation order. 1-lam is written as the
    exact double the engine computes for lit(1.0 - 0.7); ln/exp 1-ulp
    libm variance is absorbed by the round(,9)-before-decimal-sum and
    the final round(,6)."""
    one_minus_lam = repr(1.0 - 0.7)
    return f"""
      with t as (
        select doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as tk
        from documents),
      st as (
        select doc_id, s.pos as pos, s.prev as prev, s.cur as cur
        from (select doc_id,
                     unnest(list_transform(range(len(tk)),
                            i -> {{'pos': i, 'cur': tk[i+1],
                                  'prev': case when i > 0 then tk[i] else null end}})) as s
              from t)
        where s.cur <> ''),
      uni as (select cur as w, count(*) as cu from st group by 1),
      tot as (select sum(cu) as n, count(*) as v from uni),
      bi as (select prev as w1, cur as w2, count(*) as cb from st
             where prev is not null and prev <> '' group by 1, 2),
      lp as (
        select st.doc_id,
          round(ln(case when st.prev is null or st.prev = ''
            then (coalesce(u.cu, 0) + 1.0) / (tot.n + 1.0 * tot.v)
            else 0.7 * ((coalesce(b.cb, 0) + 1.0) / (coalesce(up.cu, 0) + 1.0 * tot.v))
                 + {one_minus_lam} * ((coalesce(u.cu, 0) + 1.0) / (tot.n + 1.0 * tot.v))
          end), 9) as l
        from st
        left join uni u on st.cur = u.w
        left join uni up on st.prev = up.w
        left join bi b on st.prev = b.w1 and st.cur = b.w2
        cross join tot)
      select doc_id, cast(count(*) as bigint) as n_tokens,
             round(exp(-cast(sum(cast(l as decimal(28,9))) as double)
                       / cast(count(*) as double)), 6) as ppl
      from lp group by doc_id
    """


_DEDUP_SUBSTRINGS_ORACLE = """
      with src as (
        select doc_id, text from documents
        union all
        select doc_id + 500000000000,
               substr(text, 1, 200) || ' planted tail ' || cast(doc_id as varchar)
        from documents where doc_id % 25 = 0
        union all
        select doc_id + 600000000000, text || ' ' || text
        from documents where doc_id % 40 = 0),
      g as (select doc_id, text,
                   unnest(range(1, greatest(len(text) - 49, 0) + 1)) as pos
            from src),
      gg as (select doc_id, cast(pos as int) as pos, substr(text, pos, 50) as gram from g),
      d as (select gram from gg group by gram having count(*) >= 2),
      m as (select doc_id, pos from gg join d using (gram)),
      s as (select doc_id, pos,
                   case when pos - lag(pos) over (partition by doc_id order by pos) <= 50
                        then 0 else 1 end as brk
            from m),
      grp as (select doc_id, pos,
                     sum(brk) over (partition by doc_id order by pos) as grp
              from s)
      select doc_id, cast(min(pos) as int) as span_start,
             cast(max(pos) + 50 as int) as span_end
      from grp group by doc_id, grp
    """


def _bpe_encode_oracle(k: int = _BPE_MERGES, min_count: int = 1) -> str:
    """Independent replay of ``apply_bpe_merges``: the same learn chain,
    then every document's word stream joined to the final v{k} piece
    arrays and aggregated to (doc_id, n_tokens, n_pieces)."""
    tail = f""",
      wd as (
        select doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) as token
        from documents)
      select w.doc_id as doc_id,
             cast(count(*) as bigint) as n_tokens,
             cast(sum(len(v.syms)) as bigint) as n_pieces
      from wd w join v{k} v on w.token = v.token
      group by w.doc_id"""
    return _bpe_chain(k, min_count) + tail


def _pii_chain(expr: str) -> str:
    for pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


def _pii_oracle() -> str:
    expr = (
        "text || ' contact john.doe+' || source || '@mail.example.com or +1 (415) 555-'"
        " || lpad(cast(doc_id % 10000 as varchar), 4, '0')"
        " || ' ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0.'"
        " || cast(doc_id % 256 as varchar) || '.7'"
    )
    return f"select doc_id, {_pii_chain(expr)} as clean from documents"


def _pipeline_oracle() -> str:
    """Independent SQL replay of the whole curation cascade. Each stage
    reuses the same fragment shapes its standalone oracle uses; near-dedup
    is all-pairs (oracles don't need to scale) where the engine is
    banded-LSH — row-identical because every qualifying pair on this
    corpus sits at j >= 0.9 (see q_pipeline_e2e's band note)."""
    # shingle-set builder over a (doc_id, c) relation
    sets = (
        "select doc_id, list_distinct(list_transform("
        "range(greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i+1:i+3], ' '))) as s "
        "from (select doc_id, string_split(trim(regexp_replace(lower(c), '\\s+', ' ', 'g')), ' ') as toks from {src})"
    )
    clean_expr = _pii_chain(
        "coalesce(list_aggregate(list_filter(string_split(r.t, chr(10)), "
        "x -> not list_contains(bpl.ls, trim(x))), 'string_agg', chr(10)), '')"
    )
    return f"""
      with docs0 as (select doc_id, source, text from documents),
      raw0 as (
        select doc_id, source, text from docs0
        union all
        select doc_id + 200000, source, text from docs0 where doc_id % 40 = 0
        union all
        select doc_id + 300000, source,
               repeat('spam ', 50) || 'doc' || cast(doc_id + 300000 as varchar)
        from docs0 where doc_id % 60 = 0),
      raw as (
        select doc_id, source,
               '=== COOKIE NOTICE: this site uses cookies ===' || chr(10) || text || chr(10) ||
               'contact john.doe+' || source || '@mail.example.com or +1 (415) 555-' ||
               lpad(cast(doc_id % 10000 as varchar), 4, '0') ||
               ' ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0.' ||
               cast(doc_id % 256 as varchar) || '.7' || chr(10) ||
               '(c) newsletter footer for ' || source as t
        from raw0),
      l as (select doc_id, unnest(string_split(t, chr(10))) as line from raw),
      bp as (select trim(line) as bl from l where trim(line) <> ''
             group by 1 having count(distinct doc_id) >= 5),
      bpl as (select coalesce(list(bl), []) as ls from bp),
      clean as (
        select r.doc_id, r.source, {clean_expr} as c
        from raw r cross join bpl),
      qual as (select doc_id, quality from {_quality_sql('c', 'clean')}),
      wds as (select doc_id,
                     string_split(trim(regexp_replace(lower(c), '\\s+', ' ', 'g')), ' ') as words
              from clean),
      dw as (select doc_id,
                    round((len(words) - len(list_distinct(words))) * 1.0
                          / greatest(len(words), 1), 6) as dwf, words
             from wds),
      t2 as (select doc_id, round(max(cnt) * 1.0 / sum(cnt), 6) as top2 from
             (select doc_id, g, count(*) as cnt from
              (select doc_id, unnest(list_transform(range(greatest(len(words) - 1, 1)),
                      i -> array_to_string(words[i+1:i+2], ' '))) as g from dw)
              group by 1, 2) group by 1),
      base as (select c.doc_id, c.source, c.c, q.quality, d.dwf, t.top2
               from clean c join qual q using (doc_id)
               join dw d using (doc_id) join t2 t using (doc_id)),
      dq as (select doc_id, 'quality' as stage from base where quality < 0.7),
      dr as (select doc_id, 'repetition' as stage from base
             where quality >= 0.7 and not (dwf <= 0.7 and top2 <= 0.125)),
      s1 as (select doc_id, source, c from base
             where quality >= 0.7 and dwf <= 0.7 and top2 <= 0.125),
      s1r as (select *, row_number() over (partition by sha256(c) order by doc_id) as rn from s1),
      de as (select doc_id, 'exact_dup' as stage from s1r where rn > 1),
      s2 as (select doc_id, source, c from s1r where rn = 1),
      sets2 as ({sets.format(src='s2')}),
      np as (select b.doc_id as doc_id from sets2 a join sets2 b on a.doc_id < b.doc_id
             where len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
             group by 1),
      dn as (select doc_id, 'near_dup' as stage from np),
      s3 as (select * from s2 where doc_id not in (select doc_id from np)),
      bsh as (select distinct unnest(s) as g from (
                select list_distinct(list_transform(range(greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i+1:i+3], ' '))) as s
                from (select string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
                      from documents where doc_id % 50 = 0))),
      dsh as (select t.doc_id, len(t.s) as n_sh, unnest(t.s) as g
              from sets2 t join s3 using (doc_id)),
      fl as (select doc_id from
             (select doc_id, n_sh, count(*) as n_o from dsh join bsh using (g) group by 1, 2)
             where round(n_o * 1.0 / greatest(n_sh, 1), 6) >= 0.5),
      dc as (select doc_id, 'contaminated' as stage from fl),
      s4 as (select * from s3 where doc_id not in (select doc_id from fl)),
      keptmix as (select * from s4 where case
                    when source = 'src0'
                      then substr(md5('sample:' || cast(doc_id as varchar)), 1, 2) < '40'
                    when source = 'src1'
                      then substr(md5('sample:' || cast(doc_id as varchar)), 1, 2) < '80'
                    else true end),
      dm as (select doc_id, 'mix' as stage from s4
             where doc_id not in (select doc_id from keptmix)),
      drops as (select * from dq union all select * from dr union all select * from de
                union all select * from dn union all select * from dc union all select * from dm)
      select doc_id, true as kept, 'kept' as stage,
             case when substr(md5('split:' || cast(doc_id as varchar)), 1, 2) < '1a'
                  then 'test' else 'train' end as split
      from keptmix
      union all
      select doc_id, false, stage, cast(null as varchar) from drops
    """


def oracle_sql() -> dict[str, str]:
    upp_json_d = f"""
      '{{"authority":"Smartlogic","uuid":"' || {_CUUID_DUCK} || '","concordances":[' ||
      '{{"authority":"TME","authorityValue":"' || {_TME_DUCK} || '","uuid":"' || {_TME_UUID_D} || '"}},' ||
      '{{"authority":"Wikidata","authorityValue":"' || {_WD_DUCK} || '","uuid":"' || {_WD_UUID_D} || '"}}]}}'
    """
    minhash_mins = ",\n".join(
        f"min(md5('{j}:' || w)) as m{j}" for j in range(_MINHASH_SEEDS)
    )
    minhash_sig = " || '|' || ".join(f"m{j}" for j in range(_MINHASH_SEEDS))
    oracles = {
        "kg_upp_json": f"select doc_id, {upp_json_d} as upp_json from documents",
        "kg_triples": f"""
          select doc_id, {_CUUID_DUCK} as subj, 'concordsWith' as pred, {_TME_UUID_D} as obj from documents
          union all
          select doc_id, {_CUUID_DUCK}, 'concordsWith', {_WD_UUID_D} from documents
          union all
          select doc_id, {_TME_UUID_D}, 'identifiesAs', 'TME:' || {_TME_DUCK} from documents
          union all
          select doc_id, {_WD_UUID_D}, 'identifiesAs', 'Wikidata:' || {_WD_DUCK} from documents
        """,
        "kg_quarantine": """
          select case when doc_id % 5 in (0, 3) then 'SyntacticallyIncorrect'
                      else 'SemanticallyIncorrect' end as status,
                 case when doc_id % 5 in (0, 3) then 400 else 422 end as http_code,
                 count(*) as n
          from documents group by 1, 2
        """,
        "kg_uuid_tme": f"""
          select doc_id, {_TME_UUID_D} as tme_uuid, {_WD_UUID_D} as wikidata_uuid from documents
        """,
        "kg_validate_ids": f"""
          select doc_id,
            regexp_matches({_TME_DUCK}, '^[^-]+-[^-]+$') as tme_valid,
            regexp_matches('x' || cast(doc_id as varchar), '^[^-]+-[^-]+$') as tme_invalid_probe,
            regexp_matches('0' || lpad(cast(doc_id as varchar), 5, '0') || '-E', '^0.{{5}}-E$') as factset_valid
          from documents
        """,
        "kg_cc": """
          with g as (select doc_id, doc_id % 50 as grp from documents),
          m as (select grp, 'd' || lpad(cast(min(doc_id) as varchar), 8, '0') as component
                from g group by grp)
          select 'd' || lpad(cast(doc_id as varchar), 8, '0') as node, component
          from g join m using (grp)
          union all
          select distinct 'g' || lpad(cast(grp as varchar), 4, '0'), component
          from g join m using (grp)
        """,
        "graph_pagerank": """
          with e as (select 'n' || cast(doc_id % 100 as varchar) as src,
                            'n' || cast(doc_id * 7 % 100 as varchar) as dst
                     from documents),
          v as (select src as id from e union select dst from e),
          od as (select src, count(*) as c from e group by src),
          r0 as (select id, 1.0 as pr from v),
          r1 as (select v.id, 0.15 + 0.85 * coalesce(t.m, 0) as pr from v
                 left join (select e.dst as id, sum(r0.pr / od.c) as m
                            from e join od using (src) join r0 on r0.id = e.src
                            group by e.dst) t using (id)),
          r2 as (select v.id, 0.15 + 0.85 * coalesce(t.m, 0) as pr from v
                 left join (select e.dst as id, sum(r1.pr / od.c) as m
                            from e join od using (src) join r1 on r1.id = e.src
                            group by e.dst) t using (id)),
          r3 as (select v.id, 0.15 + 0.85 * coalesce(t.m, 0) as pr from v
                 left join (select e.dst as id, sum(r2.pr / od.c) as m
                            from e join od using (src) join r2 on r2.id = e.src
                            group by e.dst) t using (id))
          select id, round(pr, 6) as pagerank from r3
        """,
        "graph_triangles": """
          with e0 as (
            select 'n' || cast(doc_id % 60 as varchar) as src,
                   'n' || cast((doc_id + 1) % 60 as varchar) as dst
            from documents
            union all
            select 'n' || cast(doc_id % 60 as varchar),
                   'n' || cast((doc_id + 2) % 60 as varchar)
            from documents
            union all
            select 'n' || cast(doc_id % 60 as varchar),
                   'n' || cast((doc_id * 7 + 1) % 60 as varchar)
            from documents),
          verts as (select src as id from e0 union select dst from e0),
          e as (select least(src, dst) as a, greatest(src, dst) as b
                from e0 where src <> dst group by 1, 2),
          tri as (select ab.a, ab.b, bc.b as c
                  from e ab
                  join e bc on bc.a = ab.b
                  join e ac on ac.a = ab.a and ac.b = bc.b),
          corners as (select a as id from tri
                      union all select b from tri
                      union all select c from tri),
          cnt as (select id, count(*) as n_tri from corners group by id)
          select verts.id, coalesce(cnt.n_tri, 0) as n_tri
          from verts left join cnt using (id)
        """,
        "graph_motifs": """
          with e0 as (
            select 'n' || cast(doc_id % 60 as varchar) as src,
                   'n' || cast((doc_id + 1) % 60 as varchar) as dst
            from documents
            union all
            select 'n' || cast(doc_id % 60 as varchar),
                   'n' || cast((doc_id + 2) % 60 as varchar)
            from documents
            union all
            select 'n' || cast(doc_id % 60 as varchar),
                   'n' || cast((doc_id * 7 + 1) % 60 as varchar)
            from documents)
          select e1.dst as b, count(*) as n_paths
          from e0 e1 join e0 e2 on e1.dst = e2.src
          group by e1.dst
        """,
        "dedup_exact": """
          select doc_id from (
            select doc_id, row_number() over (partition by sha256(text) order by doc_id) as rn
            from documents) where rn = 1
        """,
        "dedup_minhash": f"""
          with w as (select doc_id, unnest({_NORM_WORDS_D}) as w from documents),
          m as (select doc_id, {minhash_mins} from w group by doc_id)
          select doc_id, {minhash_sig} as signature from m
        """,
        "dedup_jaccard": """
          with base as (
            select doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
            from documents),
          sets as (
            select doc_id,
                   list_distinct(list_transform(
                     range(greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i+1:i+3], ' '))) as s
            from base),
          j as (
            select a.doc_id as a, b.doc_id as b,
                   len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))) as jaccard
            from sets a join sets b on a.doc_id < b.doc_id)
          select a, b, round(jaccard, 6) as jaccard from j where jaccard >= 0.5
        """,
        "dedup_lsh_verified": """
          with base as (
            select doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
            from documents),
          twin as (
            select doc_id + 1000000000000 as doc_id,
                   string_split(trim(regexp_replace(lower(text || ' zq'), '\\s+', ' ', 'g')), ' ') as toks
            from documents where doc_id % 10 = 0),
          allr as (select * from base union all select * from twin),
          sets as (
            select doc_id,
                   list_distinct(list_transform(
                     range(greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i+1:i+3], ' '))) as s
            from allr),
          j as (
            select a.doc_id as a, b.doc_id as b,
                   len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))) as jaccard
            from sets a join sets b on a.doc_id < b.doc_id)
          select a, b, round(jaccard, 6) as jaccard from j where jaccard >= 0.8
        """,
        "dedup_clusters": """
          with recursive base as (
            select doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
            from documents),
          twin as (
            select doc_id + 1000000000000 as doc_id,
                   string_split(trim(regexp_replace(lower(text || ' zq'), '\\s+', ' ', 'g')), ' ') as toks
            from documents where doc_id % 10 = 0),
          allr as (select * from base union all select * from twin),
          sets as (
            select doc_id,
                   list_distinct(list_transform(
                     range(greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i+1:i+3], ' '))) as s
            from allr),
          p as (
            select a.doc_id as a, b.doc_id as b
            from sets a join sets b on a.doc_id < b.doc_id
            where len(list_intersect(a.s, b.s)) * 1.0
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
          e as (select a as u, b as v from p union select b, a from p),
          n as (select distinct u as node from e),
          reach(node, r) as (
            select node, node from n
            union
            select e.u, reach.r from e join reach on reach.node = e.v
          )
          select node, min(r) as component from reach group by node
        """,
        "dedup_incremental": """
          with base as (
            select doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
            from documents),
          twin as (
            select doc_id + 1000000000000 as doc_id,
                   string_split(trim(regexp_replace(lower(text || ' zq'), '\\s+', ' ', 'g')), ' ') as toks
            from documents where doc_id % 10 = 0),
          cpy as (
            select doc_id + 2000000000000 as doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
            from documents where doc_id % 25 = 0),
          allr as (select * from base union all select * from twin union all select * from cpy),
          sets as (
            select doc_id,
                   list_distinct(list_transform(
                     range(greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i+1:i+3], ' '))) as s
            from allr),
          j as (
            select a.doc_id as a, b.doc_id as b,
                   len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))) as jaccard
            from sets a join sets b
              on a.doc_id >= 1000000000000
             and (b.doc_id < 1000000000000 or a.doc_id < b.doc_id)
             and a.doc_id <> b.doc_id)
          select a, b, round(jaccard, 6) as jaccard from j where jaccard >= 0.8
        """,
        "dedup_embed": """
          with base as (select vec_id, embedding from embeddings where vec_id < 1000),
          dup as (select vec_id + 1000000000000 as vec_id,
                         list_transform(embedding, x -> x * 2) as embedding
                  from base where vec_id % 7 = 0),
          c as (select vec_id, embedding from base union all select vec_id, embedding from dup)
          select a.vec_id as a, b.vec_id as b
          from c a join c b on a.vec_id < b.vec_id
          where list_cosine_similarity(a.embedding, b.embedding) >= 0.99
        """,
        "dedup_simhash": _simhash_oracle(),
        "dedup_simhash_incremental": _simhash_oracle(
            extra_corpus=(
                "\n        union all\n"
                "        select doc_id + 2000000000000, text from documents where doc_id % 25 = 0"
            ),
            pair_cond=(
                "a.doc_id >= 1000000000000 and (b.doc_id < 1000000000000 or a.doc_id < b.doc_id) "
                "and a.doc_id <> b.doc_id"
            ),
        ),
        "text_pii": _pii_oracle(),
        "text_boilerplate": """
          with src as (
            select doc_id,
                   '=== COOKIE NOTICE: this site uses cookies ===' || chr(10) ||
                   text || chr(10) || '(c) newsletter footer for ' || source as t
            from documents),
          l as (select doc_id, unnest(string_split(t, chr(10))) as line from src),
          bp as (select trim(line) as bl from l where trim(line) <> ''
                 group by 1 having count(distinct doc_id) >= 5),
          bpl as (select coalesce(list(bl), []) as ls from bp)
          select s.doc_id,
                 coalesce(list_aggregate(
                   list_filter(string_split(s.t, chr(10)), x -> not list_contains(bpl.ls, trim(x))),
                   'string_agg', chr(10)), '') as clean_text
          from src s cross join bpl
        """,
        "text_quality": _quality_oracle(),
        "text_langid": _langid_oracle(),
        "dedup_substrings": _DEDUP_SUBSTRINGS_ORACLE,
        "text_repetition": _repetition_oracle(),
        "text_decontaminate": """
          with base as (
            select doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks
            from documents),
          sh as (
            select doc_id,
                   list_distinct(list_transform(
                     range(greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i+1:i+3], ' '))) as s
            from base),
          bench as (select distinct unnest(s) as g from sh where doc_id % 50 = 0),
          dg as (select doc_id, len(s) as n_sh, unnest(s) as g from sh),
          hits as (select doc_id, n_sh, count(*) as n_overlap
                   from dg join bench using (g) group by 1, 2)
          select doc_id, n_overlap,
                 round(n_overlap * 1.0 / greatest(n_sh, 1), 6) as overlap_frac
          from hits where n_overlap >= 10
        """,
        "streaming_sessions": """
          with g as (
            select user_id, ts,
                   case when epoch_us(ts) - lag(epoch_us(ts)) over (partition by user_id order by ts) > 1800000000
                        or lag(ts) over (partition by user_id order by ts) is null
                        then 1 else 0 end as new_session
            from events),
          s as (select user_id, ts,
                       cast(sum(new_session) over (partition by user_id order by ts
                                                   rows unbounded preceding) as bigint) as session_id
                from g)
          select user_id, session_id, count(*) as n_events,
                 min(epoch_us(ts)) as start_us,
                 max(epoch_us(ts)) as end_us
          from s group by user_id, session_id
        """,
        "asof_join": """
          with l as (select user_id, epoch_us(ts) as ts, value as click_value
                     from events where event_type = 'click'),
               r as (select user_id, epoch_us(ts) as ts, value as view_value
                     from events where event_type = 'view')
          select l.user_id, l.ts as click_us, l.click_value,
                 r.ts as view_us, r.view_value as view_value_prev
          from l asof left join r on l.user_id = r.user_id and l.ts >= r.ts
        """,
        "asof_tolerance": """
          with l as (select user_id, epoch_us(ts) as ts, value as click_value
                     from events where event_type = 'click'),
               r as (select user_id, epoch_us(ts) as ts, value as view_value
                     from events where event_type = 'view'),
          m as (
            select l.user_id, l.ts as click_us, l.click_value,
                   r.ts as view_us, r.view_value
            from l asof left join r on l.user_id = r.user_id and l.ts >= r.ts)
          select user_id, click_us, click_value,
                 case when click_us - view_us <= 1800000000 then view_us end as view_us,
                 case when click_us - view_us <= 1800000000 then view_value end as view_value_prev
          from m
        """,
        "asof_nearest": """
          with l as (select user_id, epoch_us(ts) as ts, value as click_value
                     from events where event_type = 'click'),
               r as (select user_id, epoch_us(ts) as ts, value as view_value
                     from events where event_type = 'view'),
          b as (select l.user_id, l.ts, l.click_value,
                       r.ts as bts, r.view_value as bval
                from l asof left join r on l.user_id = r.user_id and l.ts >= r.ts),
          f as (select l.user_id, l.ts, r.ts as fts, r.view_value as fval
                from l asof left join r on l.user_id = r.user_id and l.ts <= r.ts)
          select b.user_id, b.ts as click_us, b.click_value,
                 case when f.fts is null
                        or (b.bts is not null and b.ts - b.bts <= f.fts - b.ts)
                      then b.bts else f.fts end as view_us,
                 case when f.fts is null
                        or (b.bts is not null and b.ts - b.bts <= f.fts - b.ts)
                      then b.bval else f.fval end as view_value_near
          from b join f on b.user_id = f.user_id and b.ts = f.ts
        """,
        "sim_topk": _SIM_TOPK_SQL,
        "agg_pricing": """
          select l_returnflag, l_linestatus,
                 cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
                 cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base,
                 cast(sum(cast(l_extendedprice as decimal(18,2))
                          * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) as sum_disc,
                 count(*) as n
          from lineitem where l_quantity > 0
          group by l_returnflag, l_linestatus
        """,
        "join_top_customers": """
          with t as (select o_custkey,
                            cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total,
                            count(*) as n_orders
                     from orders group by o_custkey)
          select c_custkey, c_mktsegment, total, n_orders, rnk from (
            select c.c_custkey, c.c_mktsegment, t.total, t.n_orders,
                   cast(row_number() over (order by t.total desc, c.c_custkey) as int) as rnk
            from t join customer c on t.o_custkey = c.c_custkey) where rnk <= 10
        """,
        "window_topk": """
          select o_custkey, o_orderkey, rk from (
            select o_custkey, o_orderkey,
                   cast(row_number() over (partition by o_custkey
                        order by o_totalprice desc, o_orderkey) as int) as rk
            from orders) where rk <= 3
        """,
        "set_ops": """
          select o_custkey as custkey from orders
          except
          select o_custkey from orders where o_orderpriority = '1-URGENT'
        """,
        "text_chunks": """
          with t as (
            select doc_id,
                   string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ') as toks
            from documents),
          c as (select doc_id, toks,
                       unnest(range(greatest((len(toks) + 23) // 24, 1))) as cid
                from t),
          s as (select doc_id, cast(cid as int) as chunk_id,
                       toks[cid*24+1 : cid*24+32] as ch
                from c)
          select doc_id, chunk_id,
                 array_to_string(ch, ' ') as chunk_text,
                 cast(len(ch) as int) as n_tokens
          from s
        """,
        "text_vocab": """
          with w as (
            select unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) as token
            from documents)
          select token, count(*) as count from w
          where token <> ''
          group by token having count(*) >= 5
        """,
        "text_tokens_bpe": r"""
          with p as (
            select doc_id,
                   regexp_replace(
                     regexp_replace(text, '([a-z])([A-Z])', '\1 \2', 'g'),
                     '([\p{L}\p{N}]+|[^\p{L}\p{N}\s])', '\1 ', 'g') as x
            from documents)
          select doc_id,
                 len(string_split(trim(regexp_replace(x, '\s+', ' ', 'g')), ' ')) as n_pieces
          from p
        """,
        "text_winnow": _winnow_oracle(),
        "dedup_winnow_pairs": _winnow_pairs_oracle(),
        "text_bpe_merges": _bpe_oracle(),
        "pipeline_e2e": _pipeline_oracle(),
        "split_stratified": """
          select doc_id, source from documents
          where case
                  when source = 'src0'
                    then substr(md5('sample:' || cast(doc_id as varchar)), 1, 2) < '40'
                  when source = 'src1'
                    then substr(md5('sample:' || cast(doc_id as varchar)), 1, 2) < '80'
                  else true
                end
        """,
        "text_perplexity": _perplexity_oracle(),
        "events_zscore": """
          with t as (
            select event_id, value,
                   cast(sum(cast(value as decimal(18,6))) over w as double) as s,
                   cast(sum(cast(value as decimal(18,6)) * cast(value as decimal(18,6))) over w as double) as ss,
                   cast(count(*) over w as double) as n
            from events
            window w as (partition by event_type))
          select event_id,
                 round((value - s / n) / sqrt((ss - s * s / n) / (n - 1.0)), 6) as z
          from t
        """,
        "cube_pricing": """
          select coalesce(l_returnflag, 'ALL') as returnflag,
                 coalesce(l_linestatus, 'ALL') as linestatus,
                 count(*) as n,
                 cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty
          from lineitem group by cube (l_returnflag, l_linestatus)
        """,
        "events_stats": """
          with a as (
            select event_type, count(*) as n,
                   sum(cast(value as decimal(18,6))) as s,
                   sum(cast(value as decimal(18,6)) * cast(value as decimal(18,6))) as ss,
                   min(value) as min_v, max(value) as max_v
            from events group by event_type)
          select event_type, n, min_v, max_v,
                 round(cast(s as double) / cast(n as double), 6) as mean_v,
                 round(sqrt((cast(ss as double) - cast(s as double) * cast(s as double)
                             / cast(n as double)) / (cast(n as double) - 1.0)), 6) as stddev_v
          from a
        """,
    }
    # these three oracles precompute literals from the sf0.01 parquet
    # (the scale the driver's correctness gate runs at); where that data
    # is absent the queries degrade to the driver's rows-only check
    # instead of breaking oracle_sql() entirely
    oracles["events_quantiles"] = """
          select event_type,
                 quantile_cont(value, 0.5) as p50,
                 quantile_cont(value, 0.9) as p90,
                 quantile_cont(value, 0.99) as p99
          from events group by event_type
        """
    for name, builder in (
        ("sim_ivf", _sim_ivf_oracle),
        ("dedup_semantic", _dedup_semantic_oracle),
        ("multimodal_features", _multimodal_oracle),
    ):
        sql = builder()
        if sql is not None:
            oracles[name] = sql
    return oracles
