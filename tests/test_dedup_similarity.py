"""Near-dup + ANN operators: the rows-only queries' correctness backstop.

MinHash-LSH and SimHash aren't oracle-SQL-checkable, so their guarantees are
asserted here against exact kernels on constructed fixtures.
"""

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import dedup, similarity

from .conftest import SF0001


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = []
    for i in range(20):
        rows.append((i, f"{base} variant {i} with unique suffix {i * 37}"))
    # exact dup pair (100, 101) and near-dup pair (102, 103)
    rows.append((100, base))
    rows.append((101, base))
    rows.append((102, base + " tail one"))
    rows.append((103, base + " tail two"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0].keeper == 100 and groups[0].n_members == 2


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in dedup.minhash_lsh_dedup(
        docs, n_hashes=32, bands=8, threshold=0.5
    ).collect()}
    # exact dups are collapsed before LSH (exact-then-near composition):
    # (100, 101) is exact_dedup's output, NOT a minhash pair...
    assert (100, 101) not in pairs
    # ...but the surviving representative still pairs with its near-dup
    assert (102, 103) in pairs
    # verified jaccard must equal the exact kernel's value
    exact = {(r.a, r.b): r.jaccard for r in dedup.jaccard_adjacent(docs).collect()}
    assert pairs[(102, 103)] == exact[(102, 103)]
    # the collapsed cluster's representative (100) still near-dup-matches
    # docs that neighbor the cluster text
    assert any(a == 100 or b == 100 for (a, b) in pairs)


def test_minhash_no_false_positives_after_verify(spark, docs):
    pairs = dedup.minhash_lsh_dedup(docs, threshold=0.95).collect()
    for r in pairs:
        assert r.jaccard >= 0.95


def test_simhash_identical_docs_hamming_zero(spark, docs):
    pairs = {(r.a, r.b): r.hamming for r in dedup.simhash_dedup(
        docs, max_hamming=10
    ).collect()}
    assert pairs.get((100, 101)) == 0
    assert (102, 103) in pairs  # near-dup within 10 bits


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    dim = len(emb.select("embedding").first()[0])
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_bucketed_topk(emb, queries, dim=dim, k=5, n_planes=16, bands=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8 bands of 2 bits: generous candidate net -> decent recall on 500 vecs
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_ivf_full_probe_equals_brute_force(spark):
    # probing every cell degenerates IVF to exhaustive search: results must
    # be IDENTICAL (ids, scores, ranks) to brute_force_topk
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    full = similarity.ivf_topk(emb, queries, n_cells=8, nprobe=8, k=5)
    e = {(r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in exact.collect()}
    f = {(r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in full.collect()}
    assert e == f


def test_ivf_ann_recall_and_shape(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, n_cells=8, nprobe=2, k=5)
    rows = approx.collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(e & a) / len(e)
    # random synthetic vectors have no cluster structure, so nprobe/n_cells
    # (= 2/8) is the floor expectation; require comfortably above chance
    assert recall >= 0.2, f"IVF recall too low: {recall}"


def test_brute_force_topk_shape(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)
    top = similarity.brute_force_topk(emb, q, k=3).collect()
    assert len(top) == 3
    assert [r.rank for r in top] == [1, 2, 3]
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(r.neighbor_id != 0 for r in top)


def test_connected_components_chain_star_pair(spark):
    # chain 1-2-3-4-5 (diameter > 1 forces >1 propagation round),
    # star 10-{11,12,13}, isolated pair (20, 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (10, 13),
         (20, 21)],
        ["a", "b"],
    )
    labels = {r.id: r.label for r in dedup.connected_components(pairs).collect()}
    assert {k for k, v in labels.items() if v == 1} == {1, 2, 3, 4, 5}
    assert {k for k, v in labels.items() if v == 10} == {10, 11, 12, 13}
    assert {k for k, v in labels.items() if v == 20} == {20, 21}


def test_dedup_clusters_summary(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["a", "b"]
    )
    rows = {r.cluster_id: (r.n_members, r.max_member)
            for r in dedup.dedup_clusters(pairs).collect()}
    assert rows == {1: (3, 3), 7: (2, 8)}


def test_incremental_dedup_bloom(spark):
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body") for i in range(50)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        # 10 replays of corpus docs (same normalized text) + 10 new docs
        [(1000 + i, f"corpus document number {i} body") for i in range(10)]
        + [(2000 + i, f"brand new document {i}") for i in range(10)],
        ["doc_id", "text"],
    )
    out = dedup.incremental_dedup(corpus, batch)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [2000 + i for i in range(10)]
    assert out.columns == ["doc_id", "text"]


def test_incremental_dedup_edges(spark):
    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    batch = spark.createDataFrame([(1, "only doc")], schema)
    # empty corpus: everything survives
    assert [r.doc_id for r in dedup.incremental_dedup(empty, batch).collect()] == [1]
    # all-dup batch: nothing survives
    corpus = spark.createDataFrame([(0, "only doc")], schema)
    assert dedup.incremental_dedup(corpus, batch).count() == 0


def test_decontaminate_stats_exact(spark):
    """A corpus doc is contaminated iff it shares ANY word n-gram with the
    eval set; counts are per-source exact."""
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over", "eval")],
        ["doc_id", "text", "source"],
    )
    corpus = spark.createDataFrame(
        [
            # shares 3-gram "quick brown fox"
            (1, "a quick brown fox ran home today", "web"),
            # same words, different order: no shared 3-gram
            (2, "fox brown quick the over jumps", "web"),
            # clean
            (3, "completely different words here now", "books"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        r.source: (r.n_docs, r.n_contaminated, r.contamination_rate)
        for r in dedup.decontaminate_stats(corpus, ev, n=3).collect()
    }
    assert rows == {"web": (2, 1, 0.5), "books": (1, 0, 0.0)}


def test_decontaminate_short_docs_never_contaminate(spark):
    """Docs shorter than n tokens produce zero shingles on either side."""
    ev = spark.createDataFrame([(1, "a b", "e")], ["doc_id", "text", "source"])
    corpus = spark.createDataFrame(
        [(2, "a b", "web")], ["doc_id", "text", "source"]
    )
    rows = dedup.decontaminate_stats(corpus, ev, n=5).collect()
    assert [(r.n_docs, r.n_contaminated) for r in rows] == [(1, 0)]


def test_mix_rebalance_semantics(spark):
    from go_distributed_log_search_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "a" if i < 80 else "b") for i in range(100)],
        ["doc_id", "source"],
    )
    # targets 50/50 on (80 a, 20 b): total = min(80/.5, 20/.5) = 40 ->
    # a keeps ~.25 of its rows, b keeps all (frac capped at 1.0)
    kept = sampling.mix_rebalance(
        docs, {"a": 0.5, "b": 0.5}, source_col="source", id_col="doc_id"
    )
    rows = kept.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    # b's frac is 1.0: every b row survives
    assert by_src["b"] == set(range(80, 100))
    # a is Bernoulli-downsampled around 20 of 80 (md5 prefix is uniform)
    assert 5 <= len(by_src["a"]) <= 40
    # deterministic: the same ids survive on a re-run
    again = {r.doc_id for r in sampling.mix_rebalance(
        docs, {"a": 0.5, "b": 0.5}, source_col="source", id_col="doc_id"
    ).collect()}
    assert again == by_src["a"] | by_src["b"]
    # sources missing from targets are dropped entirely
    only_a = sampling.mix_rebalance(
        docs, {"a": 1.0}, source_col="source", id_col="doc_id"
    ).collect()
    assert {r.source for r in only_a} == {"a"}
    # every a row survives (total = 80/1.0, frac = 1.0)
    assert len(only_a) == 80


def test_mix_rebalance_rejects_bad_targets(spark):
    import pytest as _pytest

    from go_distributed_log_search_spark.operators import sampling

    docs = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with _pytest.raises(ValueError, match="positive"):
        sampling.mix_rebalance(docs, {"a": 0.0})
    with _pytest.raises(ValueError, match="positive"):
        sampling.mix_rebalance(docs, {})
