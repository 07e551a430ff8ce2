"""Plan-shape regression tests: the performance properties the engine is
designed around must survive refactors.

* transform() is a zero-shuffle projection chain (no Exchange);
* scans are column-pruned (a doc_id/source query never reads `text`);
* filters are pushed to the parquet scan;
* the broadcast hint on small dimensions materializes as a
  BroadcastHashJoin;
* the per-bucket run metrics are one aggregation (one Exchange).
"""

from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark.gen import generate_source_repos
from smartlogic_concordance_transformer_spark.io_tables import with_bucket
from smartlogic_concordance_transformer_spark.metrics import partition_metrics
from smartlogic_concordance_transformer_spark.transform import (
    split_unified,
    transform,
    transform_unified,
)
from smartlogic_concordance_transformer_spark.triples import emit_triples

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_transform_has_no_shuffle(spark):
    good, quar = transform(generate_source_repos(spark, 100, seed=1))
    assert "Exchange" not in _plan(good)
    assert "Exchange" not in _plan(quar)
    assert "Exchange" not in _plan(emit_triples(good))


def test_partition_metrics_is_one_aggregation(spark):
    # every metric of every bucket comes from one groupBy over a union of
    # tagged projections: one Exchange, where separate per-metric
    # aggregations would shuffle (and run a job pair) once each
    unified = transform_unified(
        with_bucket(generate_source_repos(spark, 100, seed=1), 4), carry=("bucket",)
    )
    good, quar = split_unified(unified, carry=("bucket",))
    triples = emit_triples(good, carry=("bucket",))
    plan = _plan(partition_metrics(good, quar, triples, unified=unified))
    assert plan.count("Exchange") == 1, plan


def test_fold_udf_evaluated_exactly_once(spark):
    # the round-5 regression: PushDownPredicates substituted the
    # good/quarantine split condition through the fold projection and
    # ExtractPythonUDFs planned TWO ArrowEvalPython nodes — the whole
    # kernel ran twice per row (measured 1.6x wall). asNondeterministic
    # on the fold UDF pins a single evaluation; this test pins the pin.
    good, quar = transform(generate_source_repos(spark, 100, seed=1))
    for df in (good, quar, emit_triples(good)):
        plan = _plan(df)
        assert plan.count("ArrowEvalPython") == 1, plan


def test_decontaminate_builds_shingles_once(spark):
    # the round-5 regression: a non-outer Generate over the named shingle
    # column let InferFiltersFromGenerate add a size(arr)>0 filter that
    # pushdown moved below the repartition exchange, re-running the whole
    # gram build on the raw scan partitions (3x wall). explode_outer gets
    # no inferred filter; the expensive build must appear ONCE on the
    # corpus side (the second occurrence is the benchmark side's own
    # dictionary build). r8: pinned on the via='join' path — the default
    # broadcastable-dictionary path is now the Arrow kernel, pinned by
    # test_decontaminate_arrow_plan below.
    from smartlogic_concordance_transformer_spark.datapipe.hygiene import (
        flag_contaminated,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(4)
    bench = docs.filter(F.pmod("doc_id", 50) == 0)
    plan = _plan(flag_contaminated(docs, bench, k=3, min_overlap=10, via="join"))
    assert plan.count("array_distinct") == 2, plan


def test_decontaminate_arrow_plan(spark):
    # the r8 default path: ONE Arrow kernel pass over the corpus — no
    # Generate (the old ~n_tokens-per-doc explode), no Join, no Exchange
    # in the returned plan (the benchmark dictionary is collected at
    # construction and broadcast into the Python workers), and exactly
    # one ArrowEvalPython even though the min_overlap filter sits above
    # the kernel (asNondeterministic stops pushdown duplication —
    # guide §4.4, the same pin as the KG fold's).
    from smartlogic_concordance_transformer_spark.datapipe.hygiene import (
        flag_contaminated,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(4)
    bench = docs.filter(F.pmod("doc_id", 50) == 0)
    plan = _plan(flag_contaminated(docs, bench, k=3, min_overlap=10))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    # the only Exchange is the repartition(4) this test adds itself
    assert plan.count("Exchange") == 1, plan


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", "source")
    plan = _plan(q)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 10).select("doc_id")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "LessThan(doc_id,10)" in pushed, pushed


def test_broadcast_join_materializes(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_scrub_pii_is_zero_shuffle_projection(spark):
    from smartlogic_concordance_transformer_spark.datapipe import scrub_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", scrub_pii("text").alias("clean"))
    plan = _plan(q)
    assert "Exchange" not in plan
    # '*(1)' prefix = whole-stage-codegen'd: the native regexp chain and the
    # scan fuse into one JVM-side stage
    assert plan.lstrip().startswith("*(1)"), plan.splitlines()[0]


def test_chunk_documents_is_zero_shuffle_fanout(spark):
    # sequence packing is a pure projection + explode: no Exchange, no
    # Python — chunks of a doc stay in the doc's partition
    from smartlogic_concordance_transformer_spark.datapipe import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(chunk_documents(docs, chunk_tokens=32, stride=24))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_simhash_is_zero_shuffle(spark):
    # the simhash kernel's design claim: tokens are hashed in-row
    # (transform + xxhash64) and the bit-vote is one Arrow exchange —
    # the token set never shuffles
    from smartlogic_concordance_transformer_spark.datapipe.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash(docs))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_dedup_embed_has_no_cartesian_product(spark):
    # the embedding near-dup contract path must generate candidates from
    # LSH buckets — an all-pairs cross join dies at 10^9 vectors
    import __spark_entry__ as entry

    plan = _plan(entry.q_dedup_embed(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_near_dup_pairs_recall_and_precision(spark):
    # planted scale-identical twins are all recovered (exact-bucket hit);
    # nothing below the threshold leaks through the verify stage
    import __spark_entry__ as entry

    rows = sorted((r["a"], r["b"]) for r in entry.q_dedup_embed(spark, SF).collect())
    expected = sorted(
        (v, v + 1_000_000_000_000) for v in range(0, 500, 7)
    )
    assert rows == expected


def test_strip_boilerplate_uses_broadcast_antijoin(spark):
    from smartlogic_concordance_transformer_spark.datapipe import strip_boilerplate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(strip_boilerplate(docs, via="join"))
    # the recurring-line dictionary is broadcast; the big exploded side is
    # never shuffled for the anti-join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_strip_boilerplate_arrow_plan(spark):
    # the r8 default: one Arrow kernel pass rewrites every document
    # against the collected dictionary — the returned plan has no
    # Generate (line explode), no Exchange (the join path's reassembly
    # groupBy + carry join are two corpus-text shuffles at scale), no
    # Join, and exactly one ArrowEvalPython.
    from smartlogic_concordance_transformer_spark.datapipe import strip_boilerplate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(strip_boilerplate(docs))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Generate" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_winnow_pairs_has_no_cartesian_product(spark):
    # the MOSS-style overlap detector must pair documents through
    # fingerprint buckets (hash join on fp) — an all-pairs product dies
    # at corpus scale; the max_df anti-join must stay broadcast (only
    # the over-common fingerprints ship to executors)
    import __spark_entry__ as entry

    plan = _plan(entry.q_dedup_winnow_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_candidate_pairs_semantics(spark):
    # hand-checkable fixture: doc 1/2 share two fingerprints {10, 20},
    # 3 shares one with 1, fp 99 is in every doc (dropped by max_df=2);
    # containment uses the PRE-drop set sizes
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        winnow_candidate_pairs,
    )

    fps = spark.createDataFrame(
        [
            (1, [10, 20, 30, 99]),
            (2, [10, 20, 40, 99]),
            (3, [30, 50, 99]),
        ],
        "doc_id long, fps array<long>",
    )
    rows = {
        (r.a, r.b): (r.n_shared, r.containment)
        for r in winnow_candidate_pairs(fps, min_shared=1, max_df=2).collect()
    }
    # fp 99 appears in 3 docs > max_df=2 -> dropped everywhere
    assert rows[(1, 2)] == (2, round(2 / 4, 6))
    assert rows[(1, 3)] == (1, round(1 / 3, 6))
    assert (2, 3) not in rows  # shared only the dropped fp
    # min_shared gate
    only = winnow_candidate_pairs(fps, min_shared=2, max_df=2).collect()
    assert [(r.a, r.b) for r in only] == [(1, 2)]
    # without max_df the over-common fingerprint counts as shared
    all_rows = {
        (r.a, r.b): r.n_shared
        for r in winnow_candidate_pairs(fps, min_shared=1).collect()
    }
    assert all_rows[(1, 2)] == 3 and all_rows[(2, 3)] == 1


def test_semantic_dedup_plan_shape(spark):
    # within-cell pair generation must be a hash join on the cell key —
    # never an all-pairs product — and the spherical assignment UDF must
    # evaluate ONCE (the struct's two field extractions would plan two
    # ArrowEvalPython nodes without the asNondeterministic pin; the
    # second Python eval is the cosine verify)
    import __spark_entry__ as entry

    df = entry.q_dedup_semantic(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        semantic_dedup_pairs,
        lloyd_kmeans,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = lloyd_kmeans(
        entry._ivf_train_matrix_spark(spark.read.parquet(f"{SF}/embeddings.parquet")),
        k=4,
    )
    # default (truncate_lineage=True): the lazy checkpoint runs the
    # assignment matmul ONCE and both join branches scan its RDD — the
    # only Python eval left in the plan is the cosine verify
    pairs_plan = _plan(semantic_dedup_pairs(emb, cents, vec_col="v", key_col="vec_id"))
    assert pairs_plan.count("ArrowEvalPython") == 1
    assert "ExistingRDD" in pairs_plan
    # without the cut each branch evaluates the assignment once — 3 total
    # (2 assigns + verify). 5 would mean the struct's two field
    # extractions planned TWO ArrowEvalPython nodes per branch — the
    # double-eval defect the asNondeterministic pin prevents
    raw_plan = _plan(
        semantic_dedup_pairs(
            emb, cents, vec_col="v", key_col="vec_id", truncate_lineage=False
        )
    )
    assert raw_plan.count("ArrowEvalPython") == 3


def test_duplicate_substring_spans_plan_shape(spark):
    # duplicated grams come from a count aggregation + hash join on the
    # 8 B hash key — never a product — and span assembly is row-local
    # (the interval-merge fold adds no Generate beyond the one gram
    # explode and the final span explode)
    import __spark_entry__ as entry

    df = entry.q_dedup_substrings(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_perplexity_single_tokenizer_eval_per_stream(spark):
    # the transition builder must index a MATERIALIZED token array —
    # referencing the tokenizer inside the transform lambda would
    # re-evaluate the regexp+split per element (O(tokens^2) per doc) —
    # and the thrice-consumed unigram table must be lineage-cut, not
    # recomputed per consumer. Pin: at most one regexp_replace per
    # remaining corpus branch (bigram count + transition stream = 2)
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        ngram_perplexity,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    plan = ngram_perplexity(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") <= 2, plan


def test_token_budget_mix_two_phase_plan(spark):
    # the round-6 weak finding: Window.partitionBy(source) funneled each
    # source's whole corpus through ONE task's sort. The two-phase
    # rewrite must (a) key the big-side window exchange on (source,
    # bucket) — 16^chars-way parallelism per source — and (b) broadcast
    # the tiny offset table, never shuffle the corpus for the join
    from smartlogic_concordance_transformer_spark.datapipe import (
        token_budget_mix,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(token_budget_mix(docs, {"src0": 500, "src3": 10**9}))
    win_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "_b#" in ln
    ]
    assert win_exchanges, plan  # corpus-side sort is bucketed
    assert all("source#" in ln for ln in win_exchanges)
    assert "BroadcastHashJoin" in plan
    # no whole-source exchange: every corpus hashpartitioning on source
    # must carry the bucket too (the offsets side's own tiny window
    # exchange partitions only ≤ 16^chars rows per source)
    corpus_only = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "source#" in ln
        and "_b#" not in ln
    ]
    assert len(corpus_only) <= 1, plan  # at most the tiny offsets window


def test_repetition_with_coverage_is_zero_shuffle(spark):
    # the pure-SQL reference fold (tests/repetition_fold.py) with the
    # true-A1 char-coverage columns: pure projection chain, no Exchange,
    # no Generate, no Python — and the staged positional streams must
    # stay materialized (no array_sort inlined into a get()/filter()
    # lambda, which would re-sort per element and make the reference
    # too slow to cross-check the kernel on a real corpus)
    from tests.repetition_fold import repetition_fold

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = repetition_fold(
        docs, ns=(2, 3, 4), char_dup_ns=(5, 10), char_coverage_ns=(5, 10)
    )
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "Python" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "get(array_sort" not in opt
    assert "filter(array_sort" not in opt


def test_repetition_arrow_is_zero_shuffle_single_kernel(spark):
    # the library path: same per-document contract, computed by ONE
    # Arrow-batched kernel — no Exchange, no Generate, and exactly one
    # ArrowEvalPython (the asNondeterministic pin must keep the
    # optimizer from duplicating it below a gate filter)
    from pyspark.sql import functions as F

    from smartlogic_concordance_transformer_spark.datapipe.text import (
        repetition_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = repetition_stats(
        docs, ns=(2, 3, 4), char_dup_ns=(5, 10), char_coverage_ns=(5, 10)
    )
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan
    # a downstream filter on a kernel output must not re-plan the kernel
    gated = df.filter(F.col("dup_word_frac") <= 0.7)
    assert _plan(gated).count("ArrowEvalPython") == 1


def test_quality_classifier_is_zero_shuffle(spark):
    # the classifier's design claim: tokenize -> in-row integer fold ->
    # one division, a pure projection — no Exchange, no explode, no
    # Python, on BOTH weight paths (hashed and literal-map vocabulary)
    from smartlogic_concordance_transformer_spark.datapipe import (
        quality_classifier,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for wts in (None, {"the": 500, "spam": -1000}):
        plan = _plan(quality_classifier(docs, weights=wts))
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_weighted_sample_is_take_ordered(spark):
    # orderBy(clock).limit(k) must compile to TakeOrderedAndProject
    # (per-partition k-heaps + driver merge), never a full-sort
    # Exchange of the corpus; the only allowed Exchange is the
    # SinglePartition window over the ALREADY k-row result
    from smartlogic_concordance_transformer_spark.datapipe import (
        weighted_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(weighted_sample(docs, 50, "n_chars", check_separation=False))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_stratified_weighted_sample_two_phase_plan(spark):
    # phase-1 rank must exchange on (source, bucket) — never a
    # whole-source hashpartitioning of the corpus; the only
    # source-without-bucket exchange allowed is the phase-2 re-rank,
    # which by construction sees <= k * 16^chars rows per source
    from smartlogic_concordance_transformer_spark.datapipe import (
        stratified_weighted_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        stratified_weighted_sample(docs, 10, "n_chars", check_separation=False)
    )
    bucketed = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "_b#" in ln and "source#" in ln
    ]
    assert bucketed, plan
    source_only = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "source#" in ln
        and "_b#" not in ln
    ]
    assert len(source_only) <= 1, plan


def test_pack_documents_two_phase_plan(spark):
    # global packing must never run a single-partition cumsum window
    # over the corpus: the big-side window exchange is keyed on the
    # order-aligned md5 bucket; the only SinglePartition exchange
    # allowed is the phase-1 offsets window (<= 16^chars rows)
    from smartlogic_concordance_transformer_spark.datapipe import pack_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_documents(docs, 2048))
    bucketed = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "_b#" in ln
    ]
    assert bucketed, plan
    assert "BroadcastHashJoin" in plan


def test_interval_join_is_equi_join_not_cartesian(spark):
    # the chunking rewrite must plan as a hash/sort-merge equi-join on the
    # cell id — a pure range predicate would fall back to
    # BroadcastNestedLoopJoin/CartesianProduct
    from smartlogic_concordance_transformer_spark.datapipe.asof import interval_join

    pdf = spark.range(1000).selectExpr("id as pid", "id * 3 as p")
    idf = spark.range(100).selectExpr("id as iid", "id * 30 as lo", "id * 30 + 40 as hi")
    plan = _plan(interval_join(pdf, idf, "p", "lo", "hi", chunk=32))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_salted_join_widens_the_shuffle_key(spark):
    # the whole point: the exchange must hash on (key, _salt), not key
    # alone — otherwise the hot key still lands in one task
    from smartlogic_concordance_transformer_spark.datapipe import salted_join

    left = spark.range(10000).selectExpr("'hot' as k", "id as lv")
    right = spark.range(100).selectExpr("'hot' as k", "id as rv")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(salted_join(left, right, ["k"], salt=8))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    import re
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts and all("_salt" in p for p in parts), plan


def test_negative_samples_probes_buckets_not_cartesian(spark):
    # the successor lookup must be the 2-bucket equi-join, never a global
    # sort-window over the ring or an all-pairs product
    from smartlogic_concordance_transformer_spark.datapipe import negative_samples

    df = spark.range(3000).selectExpr(
        "concat('s', cast(id as string)) as subj",
        "'p' as pred",
        "concat('o', cast(pmod(id * 13, 3000) as string)) as obj",
    )
    out = negative_samples(df, n_neg=1, bits=4, check_buckets=False)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
