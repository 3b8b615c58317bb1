"""End-to-end curation pipeline (manifold_spark/curation.py): the gated
operators composed clean → exact dedup → fuzzy dedup → quality → mixture
→ packing, with per-stage accounting."""


from __future__ import annotations

import gc
import random

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from manifold_spark.curation import curate_corpus
from manifold_spark.operators.dedup import operator_cache_scope, release_shingle_caches

# The full pipeline compositions over the test-data corpus are the slow
# tier (`-m slow`; pytest.ini's default run excludes them). The cache
# tests below run `curate_corpus` on a few dozen in-memory documents and
# stay in the default run.


@pytest.fixture(autouse=True)
def _reclaim_jvm_memory(spark):
    """These end-to-end tests each build corpus-wide broadcast models and
    persisted stage frames; the py4j references Python still holds after
    a test keep the JVM-side plans/broadcasts alive, and back-to-back
    runs exhaust the shared 4g test JVM (observed: heap OOM in the third
    test of this file, and collateral executor-memory starvation in
    later files during full-suite runs). Drop the Python refs and ask
    both collectors to run between tests."""
    yield
    release_shingle_caches()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


@pytest.mark.slow
def test_curate_corpus_end_to_end(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # give the exact-dedup stage real work: duplicate every 10th doc
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    corpus = docs.unionByName(dups)

    packed, report = curate_corpus(corpus, pack_budget=256)
    rows = packed.collect()
    release_shingle_caches()

    # accounting: monotone non-increasing through the drop stages
    stages = ["input", "c4_clean", "exact_dedup", "fuzzy_dedup",
              "quality", "mixture", "packed"]
    assert list(report) == stages
    counts = [report[s] for s in stages]
    assert all(a >= b for a, b in zip(counts, counts[1:])), report
    assert report["packed"] == len(rows) > 0
    # the injected exact duplicates were all dropped
    assert report["exact_dedup"] <= report["c4_clean"] - dups.count() + 1
    # quality tertile cut really engages (head+middle of 3 buckets)
    assert report["quality"] < report["fuzzy_dedup"]

    # packing invariants: per (shard, bin) totals respect the budget up
    # to one straddling document; ids unique; every doc ≤ budget counted
    assert len({r["doc_id"] for r in rows}) == len(rows)
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[(r["shard"], r["bin_id"])].append(r["n_tokens"])
    for (shard, b), toks in bins.items():
        assert sum(toks) - max(toks) < 256, (shard, b, toks)


@pytest.mark.slow
def test_curate_corpus_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a, ra = curate_corpus(docs, pack_budget=256)
    rows_a = sorted(map(tuple, a.collect()))
    release_shingle_caches()
    b, rb = curate_corpus(docs.repartition(7), pack_budget=256)
    rows_b = sorted(map(tuple, b.collect()))
    release_shingle_caches()
    assert ra == rb
    assert rows_a == rows_b


@pytest.mark.slow
def test_incremental_curation_batch_split_invariant(spark, sf_dir, tmp_path):
    """The incremental twin's contract: feeding the corpus as ONE batch
    or as any id-ordered split yields the SAME kept id set and the same
    summed per-stage counts — the dedup state (first-seen hashes +
    MinHash index) makes later batches see exactly what a one-shot run
    sees. Every stage engages (chunked corpus, tight LSH threshold).
    State chains through per-batch parquet DELTAS (the curation_sink
    append shape) — in-memory localCheckpoint chaining pins unevictable
    blocks in the shared test JVM and starved later tests of execution
    memory in the full-suite run."""
    from manifold_spark.curation import curate_batch_incremental, curation_models

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "text",
            F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")),
                r"((?:\S+ ){4}\S+) ", "$1.\n",
            ),
        )
    )
    knobs = dict(
        min_words_per_line=5, min_kept_lines=3, require_terminal_punct=True,
        lsh_threshold=0.3, pack_budget=256,
    )
    models = curation_models(docs)

    with operator_cache_scope():
        one_packed, _, one_report = curate_batch_incremental(
            docs, models, None, **knobs
        )
        one_ids = {r["doc_id"] for r in one_packed.collect()}

    # three id-ordered batches (monotone ids across batches — the contract)
    bounds = [(0, 170), (170, 340), (340, 1 << 60)]
    root = str(tmp_path / "cur-state")
    parts = ("entries", "shingles", "sizes")
    state = None
    split_ids: set = set()
    summed: dict[str, int] = {}
    for i, (lo, hi) in enumerate(bounds):
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        with operator_cache_scope():
            packed, new_state, report = curate_batch_incremental(
                b, models, state, **knobs
            )
            split_ids |= {r["doc_id"] for r in packed.collect()}
            # persist only the batch deltas; the v* glob reconstructs the
            # cumulative state (and truncates lineage for the next batch)
            deltas = new_state["deltas"]
            deltas["hashes"].write.parquet(f"{root}/v{i}/hashes")
            for name, frame in deltas["minhash"].items():
                frame.write.parquet(f"{root}/v{i}/mh_{name}")
        state = {
            "hashes": spark.read.parquet(f"{root}/v*/hashes"),
            "minhash": {
                name: spark.read.parquet(f"{root}/v*/mh_{name}")
                for name in parts
            },
        }
        for k, v in report.items():
            summed[k] = summed.get(k, 0) + v
    release_shingle_caches()

    assert split_ids == one_ids
    assert summed == one_report
    # real signal at every stage
    assert one_report["input"] > one_report["c4_clean"]
    assert one_report["quality"] < one_report["fuzzy_dedup"]
    assert one_report["mixture"] < one_report["quality"]
    assert one_report["packed"] > 0


@pytest.mark.slow
def test_checkpoint_curation_state_roundtrip(spark):
    """`checkpoint_curation_state` (the in-memory lineage truncation for
    notebook-style loops) must preserve state contents exactly and drop
    the per-batch deltas. Tiny corpus — checkpointed blocks are pinned
    unevictable in the JVM, so this stays deliberately small."""
    from manifold_spark.curation import (
        checkpoint_curation_state,
        curate_batch_incremental,
        curation_models,
    )

    docs = spark.createDataFrame(
        [(i, "en", f"alpha beta gamma delta epsilon tok{i}") for i in range(20)],
        "doc_id long, lang string, text string",
    )
    with operator_cache_scope():
        models = curation_models(docs)
        # audit=False is the production-sink fast path: no count()
        # actions, empty report, identical outputs/state. (Measured at
        # sf0.1: no wall-clock difference — the counts ride the persisted
        # stage caches; the flag exists so sinks aren't forced to pay
        # actions they don't read.)
        packed_q, state_q, report_q = curate_batch_incremental(
            docs, models, None, audit=False
        )
        assert report_q == {}
        assert packed_q.count() > 0
        _, state, _ = curate_batch_incremental(docs, models, None)
        before = {
            "hashes": sorted(r["_h"] for r in state["hashes"].collect()),
            "sizes": sorted(map(tuple, state["minhash"]["sizes"].collect())),
        }
        cp = checkpoint_curation_state(state)
        assert "deltas" not in cp
        assert sorted(r["_h"] for r in cp["hashes"].collect()) == before["hashes"]
        assert (
            sorted(map(tuple, cp["minhash"]["sizes"].collect()))
            == before["sizes"]
        )


def _small_corpus(spark):
    """A few dozen documents that engage every stage: exact copies for
    exact dedup, and documents of one repeated line, which fail the
    repetition pass."""
    rng = random.Random(7)
    words = (
        "spark window merge table column vector stream value data small "
        "join filter big group hash sort order scan batch key"
    ).split()
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(8, 30))) + ".",
         rng.choice(["en", "de"]))
        for i in range(40)
    ]
    rows += [(100 + i, text, lang) for i, text, lang in rows[::10]]
    rows += [(200 + i, "\n".join(["the same line again."] * 6), "en") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.mark.parametrize("require_repetition_pass", [True, False])
def test_curate_corpus_caches_lm_input(spark, monkeypatch, require_repetition_pass):
    """The LM stage reads its input in several executions (training,
    scoring, the join-back), so `score_docs` must get a cached frame —
    otherwise the repetition pass reruns once per read."""
    import manifold_spark.operators.lm as lm

    seen = []
    score_docs = lm.score_docs

    def spy(docs, *args, **kwargs):
        seen.append(docs.storageLevel)
        return score_docs(docs, *args, **kwargs)

    monkeypatch.setattr(lm, "score_docs", spy)
    with operator_cache_scope():
        packed, report = curate_corpus(
            _small_corpus(spark), require_repetition_pass=require_repetition_pass
        )
        assert packed.count() == report["packed"] > 0
    assert len(seen) == 1
    assert seen[0] != StorageLevel.NONE


def test_curate_corpus_releases_its_caches(spark):
    """Every RDD `curate_corpus` persists — stage caches and the local
    checkpoints of its stage boundaries — is released when the enclosing
    `operator_cache_scope()` exits. Compared by id, so RDDs of earlier
    tests that the context cleaner frees meanwhile do not count."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs

    def rdd_ids():
        return set(persistent().keySet().toArray())

    docs = _small_corpus(spark)
    before = rdd_ids()
    with operator_cache_scope():
        packed, report = curate_corpus(docs)
        assert packed.count() == report["packed"] > 0
        assert rdd_ids() - before
    assert rdd_ids() - before == set()
