"""Adversarial-skew gates (VERDICT r5 ask #1): prove the skew defenses
actually ENGAGE — every prior round's bench diagnostics showed the
minhash `max_bucket` / ngram `max_df` caps non-binding (max bucket 4,
0 dropped) and components never needed star contraction. The skewed /
deep-chain corpora here are the same deterministic constructions the
driver gates `dedup_skew_guard` / `dedup_clusters_deep` run, so cap
engagement is verified on exactly the corpus whose capped RESULT is
hash-checked against the DuckDB oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from manifold_spark.operators import (
    CHAIN_N,
    DIM,
    SKEW_MAX_BUCKET,
    SKEW_MAX_DF,
    chain_corpus,
    skewed_corpus,
    skewed_embeddings,
)
from manifold_spark.operators import dedup, similarity
from manifold_spark.queries import _t


@pytest.fixture(scope="module")
def skewed(spark, sf_dir):
    return skewed_corpus(_t(spark, sf_dir, "documents")).persist()


def test_minhash_bucket_cap_fires_under_skew(spark, skewed):
    """Half the corpus shares one boilerplate template → band buckets of
    ~250 docs. The cap must (a) report engagement and (b) bound pair
    formation to far below the uncapped quadratic blowup."""
    diag: dict = {}
    pairs = dedup.minhash_lsh_pairs(
        skewed, "text", "doc_id", threshold=0.3, max_bucket=SKEW_MAX_BUCKET,
        diagnostics=diag,
    )
    n_pairs = pairs.count()
    dedup.release_shingle_caches()
    assert diag["buckets_over_cap"] > 0, diag
    assert diag["entries_dropped_by_cap"] > 0, diag
    assert diag["max_bucket_size"] > SKEW_MAX_BUCKET, diag
    # The boilerplate cluster is ~250 docs → uncapped pair formation would
    # be ≥ 250·249/2 ≈ 31k from one bucket alone; the capped bound must
    # stay orders of magnitude below that.
    assert diag["pair_formation_bound"] < 5_000, diag
    assert n_pairs <= diag["pair_formation_bound"]


def test_ngram_df_cap_fires_under_skew(spark, skewed):
    """Boilerplate shingles have document frequency ≈ corpus/2 ≫ max_df;
    the broadcast stop-list must drop them (telemetry) while the join
    stays bounded."""
    diag: dict = {}
    pairs = dedup.ngram_jaccard_pairs(
        skewed.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"],
        threshold=0.3, max_df=SKEW_MAX_DF, diagnostics=diag,
    )
    n_pairs = pairs.count()
    dedup.release_shingle_caches()
    assert diag["keys_over_cap"] > 0, diag
    assert diag["rows_dropped_by_cap"] > 0, diag
    assert diag["max_dfreq"] > SKEW_MAX_DF, diag
    # Each boilerplate doc keeps only its ~4 unique-tail shingles (df=1),
    # so boilerplate docs can no longer pair with each other at all —
    # remaining pairs are organic near-dups among odd-id docs.
    assert n_pairs < 1_000


def test_rp_lsh_bucket_cap_fires_under_skew(spark, sf_dir):
    """Embedding twin of the minhash skew gate: even-id vectors collapse
    onto ONE constant vector (`skewed_embeddings`), so its fingerprint's
    band buckets hold ~corpus/2 entries — the RP-LSH `max_bucket` must
    (a) report engagement, (b) bound pair formation, and (c) keep the
    exact-verify precision contract (every emitted pair ≥ threshold)."""
    emb = skewed_embeddings(_t(spark, sf_dir, "embeddings")).persist()
    diag: dict = {}
    pairs = similarity.rp_lsh_near_dup(
        emb, DIM, threshold=0.2, max_bucket=SKEW_MAX_BUCKET, diagnostics=diag
    )
    rows = pairs.collect()
    emb.unpersist()
    dedup.release_shingle_caches()
    assert diag["buckets_over_cap"] > 0, diag
    assert diag["entries_dropped_by_cap"] > 0, diag
    assert diag["max_bucket_size"] > SKEW_MAX_BUCKET, diag
    # The constant cluster is ~250 vectors at sf0.001 → uncapped pair
    # formation would be ≥ 250·249/2 ≈ 31k from its buckets alone.
    assert diag["pair_formation_bound"] < 5_000, diag
    assert len(rows) <= diag["candidate_pairs"]
    assert all(r["cosine"] >= 0.2 for r in rows)


def test_deep_chain_routes_to_star_and_converges(spark, sf_dir):
    """The deep-path-graph gate must converge via star contraction in
    O(log n) rounds — and report that it did."""
    ch = chain_corpus(_t(spark, sf_dir, "documents").select("doc_id")).persist()
    pairs = dedup.ngram_jaccard_pairs(
        ch.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"], threshold=0.3
    )
    comps = dedup.dedup_components(
        ch.select("doc_id"), pairs, small_graph_edges=0, assume_unique_ids=True
    )
    rows = comps.collect()
    dedup.release_shingle_caches()
    assert dedup.LAST_COMPONENTS_INFO["backend"] == "star"
    # 500 docs / 8 chains → diameter ~62; star needs ~log2(62) ≈ 6 rounds
    # (+1 fixpoint confirmation). Anything near O(diameter) means the
    # contraction regressed to one-hop propagation.
    assert dedup.LAST_COMPONENTS_INFO["rounds"] <= 12, dedup.LAST_COMPONENTS_INFO
    # Exactly CHAIN_N components, labeled by each chain's min id (= chain
    # index, since doc_id = pos·CHAIN_N + chain).
    labels = {r["cluster_id"] for r in rows}
    assert labels == set(range(CHAIN_N))
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert all(by_doc[d] == d % CHAIN_N for d in by_doc)
    ch.unpersist()


def test_minhash_cap_is_monotone_subset(spark, skewed):
    """Cap semantics sanity: tightening max_bucket can only REMOVE pairs
    (bucket dropping is monotone in the cap, and the exact-Jaccard verify
    runs on full shingle sets either way), and every surviving pair keeps
    the identical jaccard value."""
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            skewed, "text", "doc_id", threshold=0.3, max_bucket=SKEW_MAX_BUCKET
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            skewed, "text", "doc_id", threshold=0.3, max_bucket=1 << 30
        ).collect()
    }
    dedup.release_shingle_caches()
    assert set(capped) <= set(uncapped)
    assert len(capped) < len(uncapped)  # the cap actually bit on this corpus
    for pair, j in capped.items():
        assert uncapped[pair] == j


def test_semdedup_max_cluster_cap_binds(spark):
    """Adversarial quantizer skew: every vector points one way, so ALL
    land in one cluster — uncapped, pair formation is quadratic and all
    but one vector drop; with max_cluster below the occupancy the
    oversized cluster forms NO pairs and every member passes through
    kept (the minhash max_bucket semantics)."""
    from manifold_spark.operators.similarity import semdedup

    n, dim = 60, 4
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = semdedup(df, dim, n_clusters=2, iters=1, threshold=0.99)
    assert sum(r["is_kept"] for r in uncapped.collect()) == 1

    capped = semdedup(
        df, dim, n_clusters=2, iters=1, threshold=0.99, max_cluster=50
    )
    got = capped.collect()
    assert len(got) == n  # every vector still gets a verdict row
    assert all(r["is_kept"] == 1 for r in got)
