"""The benchmark workloads: their inputs, their job and the checks that the
job's output is correct.

Each workload is a closed loop of one client: the harness calls ``job``,
waits for it to return, checks the output, then calls ``job`` again.

* ``kg_link`` — ``run_pipeline(run_cc=True)`` over generated source repos
  (pool slot 0 is a mega-hub): ``cc`` does most of the work, ``transform``
  little.
* ``cascade`` — the ``pipeline_e2e`` contract query (the
  ``datapipe/curation.py`` cascade): driver-side planning dominates and no
  KG module runs.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark.gen import generate_source_repos
from smartlogic_concordance_transformer_spark.pipeline import run_pipeline
from tests.reference_model import convert

HERE = os.path.dirname(os.path.abspath(__file__))

# generate_source_repos knobs (its defaults)
GEN_KNOBS = {"link_pct": 20, "hot_pct": 10, "pool_size": 1000, "n_repos": 16}
N_BUCKETS = 16
SAMPLE_ROWS = 300
QUARANTINE_STATUSES = ("SyntacticallyIncorrect", "SemanticallyIncorrect")


def _doc_key(repo: str, path: str, commit: str, content: str) -> str:
    """The pipeline's doc_key: sha256 over the lineage columns + content."""
    return hashlib.sha256("\x1f".join((repo, path, commit, content)).encode()).hexdigest()


def _error_matches(expected: str, got: str) -> bool:
    # the reference model pins the discriminating substring of the error,
    # as in tests/test_property_transform.py
    return expected == "parse" or expected in got or expected.split(" is not a valid ")[-1] in got


def union_find_canonical(edges) -> set[tuple[str, str]]:
    """(canonical, member) for every non-canonical node, canonical = the
    lexicographically smallest node of its connected component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its set's minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {(find(n), n) for n in parent if find(n) != n}


class KgWorkload:
    """``run_pipeline(run_cc=True)`` over a seeded ``generate_source_repos``
    table, materialised to parquet during set-up."""

    name = "kg_link"
    docs = 5_000

    def __init__(self):
        self.src = ""
        self.sample: dict[str, tuple[str, str]] = {}

    def setup(self, spark, work: str, seed: int) -> None:
        self.src = os.path.join(work, "source")
        generate_source_repos(spark, self.docs, seed=seed, **GEN_KNOBS).write.mode(
            "overwrite"
        ).parquet(self.src)
        self.sample = self._expected_sample(seed)

    def _expected_sample(self, seed: int) -> dict[str, tuple[str, str]]:
        """doc_key -> reference-model outcome for a seeded sample of rows."""
        ids = random.Random(seed).sample(range(self.docs), min(SAMPLE_ROWS, self.docs))
        paths = pa.array([f"concepts/{i}.json" for i in ids])
        table = pq.read_table(self.src, columns=["repo", "path", "commit", "content"])
        rows = table.filter(pc.is_in(table["path"], value_set=paths)).to_pylist()
        if len(rows) != len(ids):
            raise RuntimeError(f"sampled {len(ids)} paths, found {len(rows)} source rows")
        return {
            _doc_key(r["repo"], r["path"], r["commit"], r["content"]): convert(r["content"])
            for r in rows
        }

    def job(self, spark, out_root: str) -> dict:
        return run_pipeline(
            spark, spark.read.parquet(self.src), out_root, n_buckets=N_BUCKETS, run_cc=True
        )

    def check(self, spark, out_root: str, manifest: dict) -> list[str]:
        errors = []
        gtg = manifest.get("gtg", {})
        if not gtg.get("ok"):
            errors.append(f"GTG not ok: {gtg}")
        totals = manifest.get("totals", {})
        docs_in = totals.get("docs_in", 0)
        if docs_in != self.docs:
            errors.append(f"docs_in {docs_in} != generated {self.docs}")
        split = totals.get("docs_valid", 0) + sum(
            totals.get(f"docs_{s}", 0) for s in QUARANTINE_STATUSES
        )
        if split != docs_in:
            errors.append(f"docs_valid + quarantined = {split} != docs_in {docs_in}")
        errors += self._check_sample(spark, out_root)
        errors += self._check_canonical(spark, out_root, manifest)
        return errors

    def _check_sample(self, spark, out_root: str) -> list[str]:
        keys = list(self.sample)
        got: dict[str, list[tuple[str, str]]] = {k: [] for k in keys}
        upp = spark.read.parquet(os.path.join(out_root, "upp"))
        for r in upp.filter(F.col("doc_key").isin(keys)).select("doc_key", "upp_json").collect():
            got[r["doc_key"]].append(("valid", r["upp_json"]))
        quar = spark.read.parquet(os.path.join(out_root, "quarantine"))
        for r in quar.filter(F.col("doc_key").isin(keys)).select("doc_key", "status", "error").collect():
            got[r["doc_key"]].append((r["status"], r["error"]))
        errors = []
        for key, (status, expected) in self.sample.items():
            rows = got[key]
            if len(rows) != 1:
                errors.append(f"doc {key[:12]}: {len(rows)} output rows, expected 1")
                continue
            g_status, g_val = rows[0]
            if g_status != status:
                errors.append(f"doc {key[:12]}: status {g_status}, reference {status}")
            elif status == "valid" and g_val != expected:
                errors.append(f"doc {key[:12]}: upp_json differs from the reference model")
            elif status != "valid" and not _error_matches(expected, g_val or ""):
                errors.append(f"doc {key[:12]}: error {g_val!r}, reference {expected!r}")
        return errors

    def _check_canonical(self, spark, out_root: str, manifest: dict) -> list[str]:
        edges = (
            spark.read.parquet(os.path.join(out_root, "triples"))
            .filter((F.col("pred") == "concordsWith") & (F.col("op") == "upsert"))
            .select("subj", "obj")
            .collect()
        )
        expected = union_find_canonical((r["subj"], r["obj"]) for r in edges)
        got = [
            (r["subj"], r["obj"])
            for r in spark.read.parquet(os.path.join(out_root, "canonical_triples"))
            .select("subj", "obj")
            .collect()
        ]
        errors = []
        if len(got) != len(set(got)):
            errors.append("canonical_triples has duplicate rows")
        if set(got) != expected:
            errors.append(
                f"canonical mapping differs from union-find: {len(set(got) - expected)} extra, "
                f"{len(expected - set(got))} missing"
            )
        if manifest.get("canonical_edges") != len(got):
            errors.append(f"manifest canonical_edges {manifest.get('canonical_edges')} != {len(got)}")
        return errors


# The cascade input is the sf0.1 documents table of the repo's test data,
# vendored so that the benchmark reads nothing outside its checkout. The
# seed permutes its row order only: the cascade's outcome must not depend
# on input order, so the stage histogram below holds for every seed.
CASCADE_DOCS = os.path.join(HERE, "data", "documents.parquet")
# pipeline_e2e plants an exact twin of every 40th doc and a spam twin of
# every 60th (__spark_entry__._pipeline_raw)
TWIN_EVERY, TWIN_OFFSET = 40, 200000
SPAM_EVERY, SPAM_OFFSET = 60, 300000
CASCADE_STAGES = {
    "kept": 3945,
    "quality": 575,
    "mix": 213,
    "near_dup": 200,
    "exact_dup": 110,
    "repetition": 84,
    "contaminated": 82,
}


class CascadeWorkload:
    """The ``pipeline_e2e`` contract query over the vendored corpus."""

    name = "cascade"

    def __init__(self):
        self.dir = ""
        self.expected_ids: set[int] = set()
        self.docs = 0

    def setup(self, spark, work: str, seed: int) -> None:
        table = pq.read_table(CASCADE_DOCS)
        order = list(range(table.num_rows))
        random.Random(seed).shuffle(order)
        self.dir = os.path.join(work, "corpus")
        os.makedirs(self.dir, exist_ok=True)
        pq.write_table(table.take(order), os.path.join(self.dir, "documents.parquet"))
        ids = table.column("doc_id").to_pylist()
        self.expected_ids = (
            set(ids)
            | {i + TWIN_OFFSET for i in ids if i % TWIN_EVERY == 0}
            | {i + SPAM_OFFSET for i in ids if i % SPAM_EVERY == 0}
        )
        self.docs = len(self.expected_ids)

    def query(self, spark):
        import __spark_entry__

        return __spark_entry__.queries()["pipeline_e2e"](spark, self.dir)

    def job(self, spark, out_root: str) -> list:
        return self.query(spark).collect()

    def check(self, spark, out_root: str, rows: list) -> list[str]:
        errors = []
        ids = Counter(r["doc_id"] for r in rows)
        repeated = sum(1 for n in ids.values() if n != 1)
        if repeated:
            errors.append(f"{repeated} doc_ids appear more than once")
        if set(ids) != self.expected_ids:
            errors.append(
                f"output ids differ from input: {len(set(ids) - self.expected_ids)} extra, "
                f"{len(self.expected_ids - set(ids))} missing"
            )
        stages = dict(Counter(r["stage"] for r in rows))
        if stages != CASCADE_STAGES:
            errors.append(f"stage histogram {stages} != {CASCADE_STAGES}")
        if any(bool(r["kept"]) != (r["stage"] == "kept") for r in rows):
            errors.append("kept flag disagrees with stage")
        return errors


def make(name: str):
    if name == "kg_link":
        return KgWorkload()
    if name == "cascade":
        return CascadeWorkload()
    raise ValueError(f"unknown workload {name!r}")
