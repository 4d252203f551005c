"""Deduplication suite for training-data pipelines.

Extensions beyond the reference (first-class per the build brief):

- exact_dedup:        hash-groupBy on a normalized fingerprint. One shuffle
                      on the 16-byte hash — the scale path for 100 TB exact
                      dedup (shuffle payload is (hash, id), not text).
- jaccard_adjacent:   exact n-gram Jaccard for given candidate pairs —
                      oracle-checkable reference implementation of the
                      verify step every near-dup pipeline ends with.
- minhash_lsh_dedup:  shingle -> minhash signature -> banded LSH buckets ->
                      candidate pairs -> exact-Jaccard verify. All DataFrame
                      ops: the signature is built with groupBy(min(hash))
                      per permutation band, candidates via self-join on
                      (band, bucket) — the standard LSH-on-Spark shape.
- simhash_dedup:      60-bit simhash via bit-bucket majority vote, computed
                      with explode + groupBy (JVM-side); near-dups = pairs
                      sharing a 15-bit block with hamming distance <= k.

Determinism: MinHash and SimHash hash with ``md5_60`` (the top 60 bits of
an md5 hex digest, parsed base-16), which DuckDB expresses identically, so
both operators are oracle-checkable end to end; the other operators hash
with Spark's xxhash64 under fixed seeds. Results are stable across
runs/cluster sizes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize
from .textstats import fingerprint_expr


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: fingerprint -> (keeper = min id, dup count).

    Returns one row per distinct fingerprint with n_dups >= 2 members.
    """
    fp = df.select(F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
    )


def word_ngrams(text_col, n: int = 3):
    """Word n-gram shingles as array<string> (distinct), JVM-side."""
    toks = tokenize(text_col, "default")
    # zip token with its n-1 successors; guard short docs (Spark's
    # sequence(0, -1) would DESCEND, not return empty)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def jaccard_adjacent(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard between doc i and doc i+1 (candidate pairs by
    construction) — the oracle-checkable verify kernel."""
    g = df.select(
        F.col(id_col).alias("a"),
        (F.col(id_col) + 1).alias("b"),
        word_ngrams(F.col(text_col), n).alias("grams_a"),
    )
    g2 = df.select(F.col(id_col).alias("b"), word_ngrams(F.col(text_col), n).alias("grams_b"))
    joined = g.join(g2, on="b", how="inner")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return joined.select(
        "a",
        "b",
        F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 4).alias("jaccard"),
    )


def _shingle_hash(p: int):
    """Permutation p's 'hash' of the exploded ``shingle`` column: the top
    60 bits of md5("p:shingle")'s hex form, parsed base-16. One md5 per
    shingle per permutation, expressible IDENTICALLY in DuckDB SQL
    (``('0x' || substr(md5(p || ':' || shingle), 1, 15))::BIGINT``), which
    makes the whole MinHash-LSH operator oracle-checkable.
    """
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(p), F.col("shingle")).cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(id, mh0..mh{n-1}) — one row per doc, one column per permutation.

    ONE aggregation over the exploded shingles with n_hashes ``min``
    expressions: per-group state is n_hashes longs and map-side combine
    collapses every partition to one row per doc. (Round 1 exploded
    shingles x n_hashes rows instead — a 32x shuffle-input blowup that made
    this the slowest query on the driver's correctness budget: 192 s of a
    302 s suite at sf0.01. This shape runs in ~2 s.) Permutation p's hash =
    ``_shingle_hash(p)``; docs with no shingles (< shingle_n tokens) drop
    out, same as before.
    """
    shingled = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(F.col(text_col), shingle_n)).alias("shingle"),
    )
    mins = [
        F.min(_shingle_hash(p)).alias(f"mh{p}") for p in range(n_hashes)
    ]
    return shingled.groupBy("_id").agg(*mins)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    rows/bands = n_hashes/bands hashes per band; pairs sharing any band
    bucket become candidates; candidates are verified with exact Jaccard.
    At 100 TB the candidate join shuffles only (band, bucket-hash, id).

    Exact duplicates are collapsed FIRST: LSH runs over one representative
    (min id) per distinct normalized text, and returned pairs are between
    representatives. A text repeated k times would otherwise put k ids in
    every one of its buckets — C(k,2) candidate pairs per cluster, all
    verifying jaccard 1.0 against each other. On the skewed transcripts
    table that blowup put ~200 s of interpreted array_intersect on one
    task; at web scale exact dups are the dominant redundancy and the
    collapse is mandatory. Intra-cluster pairs are exact_dedup's output —
    the standard exact-then-near composition.
    """
    rows_per_band = n_hashes // bands
    reps = (
        df.select(
            F.col(id_col).alias("_rid"),
            F.col(text_col).alias("_rtext"),
            fingerprint_expr(F.col(text_col)).alias("_fp"),
        )
        .groupBy("_fp")
        # min_by keeps the text of the minimal id (any member's text would
        # do — same fingerprint => same token stream => same shingles)
        .agg(F.min("_rid").alias(id_col), F.min_by("_rtext", "_rid").alias(text_col))
        .drop("_fp")
    )
    # reps feeds three branches (signatures, both sides of the candidate
    # self-join via `banded`, and the gram verify); persist so the collapse
    # groupBy runs once. Post-collapse representatives are the *distinct*
    # texts — bounded well below input size.
    reps = reps.persist()
    df = reps
    sig = _minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    # band b's bucket = md5("mh_a,mh_b,...") of its rows_per_band minhash
    # columns, which DuckDB mirrors with md5(string_agg(mh, ',' ORDER BY
    # p)); bucket equality <=> band-signature equality (modulo hash
    # collisions, which the exact-Jaccard verify absorbs). The band explode
    # emits (id, band, bucket) only — signatures never leave the row.
    def _bucket(b: int):
        cols = [F.col(f"mh{p}") for p in range(b * rows_per_band, (b + 1) * rows_per_band)]
        return F.md5(F.concat_ws(",", *cols).cast("binary"))

    band_structs = [
        F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
        for b in range(bands)
    ]
    banded = sig.select(
        "_id", F.explode(F.array(*band_structs)).alias("_bb")
    ).select("_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))
    # both sides of the self-join scan `banded`; persist so the signature
    # aggregation runs once (bands x reps rows — id+2 longs, tiny)
    banded = banded.persist()
    left = banded.select(F.col("_id").alias("a"), "band", "bucket")
    right = banded.select(F.col("_id").alias("b"), "band", "bucket")
    cand = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        # spread the verify: array_intersect/array_union evaluate
        # interpreted (no codegen), ~ms per pair — AQE would coalesce the
        # small post-distinct output onto one task and serialize the whole
        # verify stage behind it
        .repartition("a")
    )
    grams = df.select(
        F.col(id_col).alias("_gid"), word_ngrams(F.col(text_col), shingle_n).alias("grams")
    )
    pairs = (
        cand.join(grams.select(F.col("_gid").alias("a"), F.col("grams").alias("grams_a")), "a")
        .join(grams.select(F.col("_gid").alias("b"), F.col("grams").alias("grams_b")), "b")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        pairs.select(
            "a", "b", F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs over a 60-bit md5 prefix per token.

    simhash bit j = majority vote of token-hash bit j. Computed as ONE
    aggregation over the exploded tokens with one bit-sum expression per
    bit — per-group state is nbits longs and the map-side combine
    collapses every partition to one row per doc. (Round 1 exploded
    tokens x 64 bit rows instead — a 64x shuffle-input blowup flagged in
    VERDICT r01.)
    Majority: bit j set iff 2 * sum(bit_j) > n_tokens.
    Blocking: split the key into 4 equal blocks; pairs with hamming <= 3
    must share >= 1 exact block (pigeonhole), so candidates come from
    equi-joins on blocks — no quadratic scan. With max_hamming > 3 the
    result is the BLOCKED candidate set (pairs sharing a block), the same
    bounded-recall semantics an LSH pass gives; an oracle must mirror the
    blocking, which ours does.

    The token hash is the top 60 bits of md5's hex form, parsed base-16:
    expressible IDENTICALLY in ANSI-ish SQL
    (``('0x' || substr(md5(tok),1,15))::BIGINT``), so the whole operator is
    DuckDB-oracle-checkable end to end.
    """
    nbits = 60
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10).cast("long")
    block_bits = nbits // 4
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokenize(F.col(text_col), "default")).alias("tok")
    ).withColumn("h", h)
    bit_sums = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"s{j}") for j in range(nbits)
    ]
    votes = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("n"), *bit_sums)
    simhash = None
    for j in range(nbits):
        bit = F.when(
            F.col(f"s{j}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        simhash = bit if simhash is None else simhash + bit
    sim = votes.select("_id", simhash.alias("simhash"))
    blocks = sim.select(
        "_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("block"),
    ).withColumn(
        "block_val",
        F.expr(f"shiftrightunsigned(simhash, block * {block_bits})").bitwiseAND(
            F.lit((1 << block_bits) - 1)
        ),
    )
    left = blocks.select(F.col("_id").alias("a"), F.col("simhash").alias("sim_a"), "block", "block_val")
    right = blocks.select(F.col("_id").alias("b"), F.col("simhash").alias("sim_b"), "block", "block_val")
    cand = (
        left.join(right, on=["block", "block_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("a", "b", ham.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """Connected components of an undirected pair graph -> (id, label),
    label = MIN node id in the component (the canonical "keeper").

    The cluster-collapse step every near-dup pipeline ends with: pairs
    from MinHash-LSH / SimHash / embedding near-dup form a graph whose
    components are duplicate CLUSTERS; one representative per cluster
    survives into the training set.

    Shape: per iteration, (1) neighbor-min — ONE equi-join (edges x
    labels, both hash-partitioned on the join key) + ONE min-aggregate —
    then (2) pointer jumping — label := label_of(label), another
    equi-join — which makes label chains collapse geometrically
    (O(log diameter) rounds, the same doubling trick as the
    large-star/small-star algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public literature).
    The driver-side convergence check is a bounded control-plane
    `limit(1).count()`, not a data collect.

    Every generation of labels is `localCheckpoint()`-ed: each
    iteration's plan references `labels` on BOTH sides of a self-join,
    so without truncating lineage the logical plan DOUBLES per round and
    Catalyst re-analysis goes exponential (measured here: 3.0s → 5.4s →
    11.5s → 31.6s per iteration with persist() alone — persist caches
    data but not the analyzed plan). localCheckpoint materializes the
    data AND replaces the plan with a leaf. On a production cluster with
    lineage-based recovery requirements, swap localCheckpoint for
    reliable `checkpoint()` / a per-iteration table write; the plan
    shape per round is identical.
    """
    edges = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    und = edges.unionByName(
        edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).distinct().localCheckpoint()
    labels = und.groupBy("x").agg(F.min("y").alias("m")).select(
        "x", F.least("x", "m").alias("label")
    ).localCheckpoint()
    for _ in range(max_iter):
        nb = (
            und.join(
                labels.select(F.col("x").alias("y"), F.col("label").alias("nl")), "y"
            )
            .groupBy("x")
            .agg(F.min("nl").alias("nmin"))
        )
        stepped = labels.join(nb, "x", "left").select(
            "x",
            F.col("label").alias("old"),
            F.least("label", F.coalesce("nmin", F.col("label"))).alias("l1"),
        )
        # pointer jumping: follow the new label one hop through the label
        # table (labels are node ids, and every node has a label row)
        new = (
            stepped.join(
                labels.select(F.col("x").alias("l1"), F.col("label").alias("ll")),
                "l1",
                "left",
            )
            .select(
                "x",
                "old",
                F.least("l1", F.coalesce("ll", F.col("l1"))).alias("label"),
            )
            # lazy: the convergence count below materializes the
            # checkpoint inside ITS job — one Spark job per iteration
            # instead of two (checkpoint job + count job)
            .localCheckpoint(eager=False)
        )
        changed = (
            new.filter(F.col("label") != F.col("old")).limit(1).count()
        )
        labels.unpersist()
        labels = new.select("x", "label")
        if changed == 0:
            break
    und.unpersist()
    return labels.select(F.col("x").alias("id"), "label")


def dedup_clusters(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """Near-dup cluster summary: (cluster_id, n_members, max_member) per
    connected component of the pair graph (every member has >= 1 edge, so
    all clusters have >= 2 members)."""
    labels = connected_components(pairs, a_col, b_col, max_iter)
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("id").alias("max_member"),
    )


def bloom_positions(h, k: int, m_bits: int):
    """Pure Kirsch-Mitzenmacher double-hash kernel: k bit positions per
    64-bit fingerprint hash (h_i = h1 + i*h2 mod m). Module-level so the
    bloom's no-false-negative guarantee is property-testable without
    Spark (tests/test_properties.py); incremental_dedup builds/probes
    with exactly this function."""
    import numpy as np

    h1 = h.astype(np.uint64)
    h2 = (h1 >> np.uint64(33)) | (h1 << np.uint64(31))  # rotate, odd mix
    h2 = h2 * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m_bits)).ravel()


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 0.01,
) -> DataFrame:
    """Incremental exact-dedup of an incoming batch against an existing
    corpus WITHOUT joining the full corpus per batch.

    The 10^12-doc ingestion problem: every new batch must drop docs whose
    normalized text already exists. A naive anti-join touches the whole
    corpus per batch; instead the corpus fingerprint set folds into a
    BLOOM FILTER once and each batch row probes it with a scalar test —
    no join, no shuffle. Bloom "no" is definite: those rows pass through
    untouched. Only the "maybe" slice (true dups + ~fpp false positives)
    anti-joins the corpus fingerprints for exact confirmation, so the
    expensive join's input is ~the batch's dup rate, not the batch.

    Spark's internal bloom_filter_agg is not SQL-exposed (it backs
    runtime join filters), so the same partial-sketch-merge shape is
    built directly: each corpus partition folds its fingerprints into a
    numpy bitset inside ``mapInPandas`` (Arrow-batched, one m/8-byte
    sketch per partition leaves the executor — never data), the driver
    ORs the partition sketches, and the merged filter broadcasts back for
    an Arrow-batched probe. Bit positions use Kirsch-Mitzenmacher double
    hashing h_i = h1 + i*h2 over the 64-bit fingerprint hash. Production
    persists the merged sketch with the corpus snapshot and ORs new
    partition sketches on append.

    Returns batch rows whose fingerprint is NOT in the corpus.
    """
    import numpy as np
    import pandas as pd

    fp = fingerprint_expr(F.col(text_col))
    corpus_fp = corpus.select(F.xxhash64(fp).alias("_fph")).persist()
    n_items = max(corpus_fp.count(), 1)
    m_bits = max(int(-n_items * math.log(fpp) / (math.log(2) ** 2)), 64)
    m_bits = (m_bits + 63) // 64 * 64
    k = max(int(round(m_bits / n_items * math.log(2))), 1)

    def _positions(h: "np.ndarray") -> "np.ndarray":
        return bloom_positions(h, k, m_bits)

    def _build(batches):
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if len(pdf):
                seen = True
                pos = _positions(pdf["_fph"].to_numpy())
                np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"sketch": [bits.tobytes()]})

    sketches = corpus_fp.mapInPandas(_build, "sketch binary").collect()
    merged = np.zeros(m_bits // 8, dtype=np.uint8)
    for row in sketches:
        merged |= np.frombuffer(row["sketch"], dtype=np.uint8)
    bc = corpus.sparkSession.sparkContext.broadcast(merged.tobytes())

    def _might_contain_fn(s):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        pos = _positions(s.to_numpy())
        hit = (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
        return pd.Series(hit.reshape(k, -1).all(axis=0))

    # no type hints: the module-level `from __future__ import annotations`
    # turns them into strings PySpark's hint resolver can't evaluate here
    _might_contain = F.pandas_udf(_might_contain_fn, "boolean")

    probe = batch.withColumn("_fph", F.xxhash64(fp)).withColumn(
        "_maybe", _might_contain(F.col("_fph"))
    )
    definite_new = probe.filter(~F.col("_maybe"))
    survivors = probe.filter(F.col("_maybe")).join(
        corpus_fp, on="_fph", how="left_anti"
    )
    return definite_new.unionByName(survivors).drop("_fph", "_maybe")


def decontaminate_stats(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    group_col: str = "source",
) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene step that
    removes corpus documents sharing any word ``n``-gram with a held-out
    eval/benchmark set (the standard n-gram-overlap rule, e.g. GPT-3
    appendix C / PaLM's 13-gram filter; here n is a parameter).

    Returns per-``group_col`` counts: total docs, contaminated docs, and
    the contamination rate — the audit table a pipeline operator reads
    before dropping.

    Plan shape: both sides shingle at the scan (same ``word_ngrams``
    kernel as MinHash), then shrink to 8-byte xxhash64 values BEFORE any
    shuffle — the join moves hashes, never text. The eval side (a
    benchmark suite: thousands of docs, ~1e6-1e7 distinct shingles even
    for big suites) is distinct-ed and BROADCAST, so the corpus side is
    matched map-side with zero shuffle of the 100 TB table; the only
    wide ops are the distinct on contaminated ids and the final tiny
    group-count. A 2^-64 hash collision mislabels one doc contaminated —
    negligible and conservative (false positive drops a clean doc, never
    leaks an eval doc).
    """
    grams_e = (
        eval_df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"))
        .select(F.xxhash64("shingle").alias("_h"))
        .distinct()
    )
    grams_c = corpus.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("shingle")
    ).select(id_col, F.xxhash64("shingle").alias("_h"))
    contaminated = (
        grams_c.join(F.broadcast(grams_e), "_h", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_dirty", F.lit(1))
    )
    return (
        corpus.select(id_col, group_col)
        .join(contaminated, id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("_dirty"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_rate",
            F.round(F.col("n_contaminated") / F.col("n_docs"), 4),
        )
    )


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_docs: int = 2,
    k: int = 20,
) -> DataFrame:
    """Repeated n-token spans across documents — the detection half of
    exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": verbatim spans repeated across the
    corpus are memorization fuel and get cut before training).

    Output: (gram, n_docs, n_hits) for the top-k spans that appear in
    >= min_docs DISTINCT documents; n_hits counts every occurrence
    (within-doc repeats included). Order: n_docs desc, n_hits desc,
    gram asc — fully deterministic.

    Shape: tokens are materialized as a column BEFORE the span-expansion
    HOF runs (nesting the tokenizer inside transform() re-evaluates it
    per element on the interpreted HOF path — the measured 14.2s trap
    from the cooccurrence rework, BASELINE.md round-4 notes), then one
    explode + one partial-agg'd groupBy. The group key here is the span
    TEXT for oracle parity; the 100 TB path groups by xxhash64(gram)
    (8-byte shuffle rows) and joins example text back for the top-k
    only.
    """
    toks_df = df.select(
        F.col(id_col), tokenize(F.col(text_col), "default").alias("_toks")
    )
    idx = F.sequence(F.lit(0), F.size(F.col("_toks")) - n)
    grams = F.when(
        F.size(F.col("_toks")) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))
    exploded = toks_df.select(F.col(id_col), F.explode(grams).alias("gram"))
    counted = exploded.groupBy("gram").agg(
        F.count_distinct(id_col).alias("n_docs"),
        F.count(F.lit(1)).alias("n_hits"),
    )
    return (
        counted.filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("n_hits").desc(), F.col("gram"))
        .limit(k)
    )


def dup_cluster_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-dup cluster-size histogram: (cluster_size, n_clusters,
    n_docs) — the corpus-health metric behind every dedup report (how
    much of the corpus is redundant, and in how big a clump). Two
    aggregates: fingerprint -> size (the exact_dedup shuffle), then the
    tiny size -> count rollup. Singleton clusters included: row 1 is
    the unique-document count.
    """
    sizes = (
        df.select(fingerprint_expr(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .orderBy("cluster_size")
    )


def cross_source_leakage(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source exact-dup leakage: for each source pair, how many
    distinct normalized fingerprints they share — the train/eval split
    integrity check (a doc present in two sources leaks across any
    split drawn on source boundaries).

    Shape: distinct (fp, source) -> collect_sorted source set per fp
    (ONE shuffle on fp; set size is bounded by the source vocabulary,
    not corpus size) -> in-row pair expansion via HOFs -> tiny
    (src_a, src_b) rollup. No self-join: the join-based formulation
    shuffles the fp table twice and fans out the same pairs anyway.
    """
    fps = df.select(
        fingerprint_expr(F.col(text_col)).alias("fp"), F.col(source_col)
    ).distinct()
    sets = fps.groupBy("fp").agg(
        F.array_sort(F.collect_set(source_col)).alias("_srcs")
    ).filter(F.size("_srcs") >= 2)
    # expand sorted source arrays to (a, b) pairs, a < b, in-row
    idx = F.sequence(F.lit(0), F.size("_srcs") - 2)
    pairs = sets.select(
        "fp",
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.slice(F.col("_srcs"), i + 2, F.size("_srcs")),
                        lambda b: F.struct(
                            F.col("_srcs")[i].alias("src_a"), b.alias("src_b")
                        ),
                    ),
                )
            )
        ).alias("_pair"),
    )
    return (
        pairs.select("fp", "_pair.src_a", "_pair.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count_distinct("fp").alias("n_shared"))
        .orderBy(F.col("n_shared").desc(), "src_a", "src_b")
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mod: int = 4,
    min_tokens: int = 2,
    min_docs: int = 2,
    k: int = 20,
) -> DataFrame:
    """Content-defined-chunking dedup (the rsync/LBFS/FastCDC idea at
    token granularity): a token whose hash is 0 mod ``mod`` OPENS a new
    chunk, so chunk boundaries depend on content, not position — an
    insertion near the start of a document shifts every offset but the
    boundaries downstream re-synchronize, which fixed-width shingles
    never do. Shared chunks across documents expose partially-duplicated
    passages that exact dedup (whole doc) and n-gram spans (fixed n)
    both miss at their granularity.

    Output: (chunk, n_docs, n_hits) for the top-k chunks of >=
    ``min_tokens`` tokens shared by >= ``min_docs`` distinct documents;
    order (n_docs desc, n_hits desc, chunk asc), fully deterministic.

    Shape: posexplode -> per-doc running sum of boundary flags (ONE
    shuffle on id) -> per-(doc, chunk) assembly via sorted-struct
    collect -> chunk rollup (second shuffle). The boundary hash is an
    md5-prefix for DuckDB oracle parity; the 100 TB path swaps both the
    boundary test and the chunk group key to xxhash64 (8-byte shuffle
    rows) and joins example text back for the top-k only.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col), "default")).alias("pos", "tok"),
    )
    is_boundary = (
        F.conv(
            F.substring(F.md5(F.col("tok").cast("binary")), 1, 2), 16, 10
        ).cast("int")
        % mod
        == 0
    ).cast("long")
    from pyspark.sql import Window as _W

    run = (
        _W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    marked = toks.withColumn("chunk_id", F.sum(is_boundary).over(run))
    chunks = marked.groupBy(id_col, "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    return (
        chunks.filter(F.col("n_tok") >= min_tokens)
        .groupBy("chunk")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("n_hits").desc(), F.col("chunk"))
        .limit(k)
    )


def conv_template_dedup(
    t: DataFrame,
    k: int = 20,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    max_turns: int | None = None,
    head_tokens: int | None = None,
) -> DataFrame:
    """Conversation-TEMPLATE dedup: two conversations are template-dups
    when their ordered turn texts are identical AFTER masking digit runs
    (<num>) and collapsing whitespace — the scripted-replay pattern in
    agent-transcript corpora (same tool loop, different ids/counters/
    timestamps) that exact conv dedup misses and per-turn near-dup
    over-matches. The per-conversation fingerprint is md5 of the ordered
    masked-turn concat, so a single structurally-different turn anywhere
    breaks the match.

    ``max_turns`` / ``head_tokens`` select the OPENING-template variant:
    fingerprint only the first ``max_turns`` turns and only the first
    ``head_tokens`` whitespace tokens of each masked turn — scripted
    replays share their opening structure (same system turn, same first
    tool loop) even when later free-text content diverges, so the
    full-text fingerprint never fires on long conversations while the
    structural prefix does. Defaults (None) keep the strict whole-
    conversation full-text semantics.

    Scale shape: mask is map-side (the prefix filter prunes at the
    scan); ONE shuffle assembles each conv (sort_array over collected
    (order, text) structs — bounded turn counts; see conv_assembly's
    chunk-segment note for the Zipf head); the cluster aggregate runs on
    |convs| fingerprint rows. Only fingerprints shuffle twice, never
    text.

    Output: clusters with >= 2 conversations — (tfp, n_convs, keep_conv
    = lexicographic min, the survivor) — top-``k`` by n_convs desc, tfp
    asc.
    """
    masked = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), r"[0-9]+", "<num>"), r"\s+", " "
        )
    )
    if head_tokens is not None:
        masked = F.array_join(
            F.slice(F.split(masked, " "), 1, head_tokens), " "
        )
    if max_turns is not None:
        t = t.filter(F.col(order_col) < max_turns)
    conv_fp = (
        t.select(F.col(conv_col), F.col(order_col).alias("_o"), masked.alias("_mt"))
        .groupBy(conv_col)
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("_o", "_mt"))),
                        lambda s: s["_mt"],
                    ),
                    "\n",
                )
            ).alias("tfp")
        )
    )
    return (
        conv_fp.groupBy("tfp")
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.min(conv_col).alias("keep_conv"),
        )
        .filter(F.col("n_convs") >= 2)
        .orderBy(F.col("n_convs").desc(), "tfp")
        .limit(k)
    )


def crossdoc_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n: int = 8,
) -> DataFrame:
    """Cross-document exact-substring duplication audit: what fraction of
    each subcorpus' tokens sits inside a token n-gram that also occurs in
    ANOTHER document. The distributed restatement of suffix-array exact
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): a length->=n exact substring shared by two
    docs is exactly a chain of shared n-gram shingles, so duplicated-span
    token coverage is recovered by merging overlapping duplicated shingles
    (gaps-and-islands) per document.

    Plan shape for 100 TB: positional shingles are md5 hex (never text) at
    the scan; the >=2-distinct-docs filter is one hash aggregate keyed on
    the shingle hash; surviving positions rejoin on the hash; the interval
    merge is two same-window passes inside ONE doc_id exchange whose input
    is only the DUPLICATED positions (dup rate x corpus, not corpus).
    Corpus totals are a separate scan-bound aggregate; a production run
    would persist the tokenized frame to share the two scans.

    Output, one row per group (asc): (group, n_docs, n_dup_docs, n_tokens,
    dup_tokens, dup_frac) with dup_frac = dup_tokens / n_tokens to 4dp.
    """
    docs = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("grp"),
        tokenize(F.col(text_col), "default").alias("toks"),
    ).withColumn("n_tok", F.size("toks"))

    totals = docs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )

    # positional shingles over the MATERIALIZED toks column (an inline
    # tokenize here would re-evaluate per lambda element on the
    # interpreted HOF path — the cooccurrence lesson, BASELINE.md r4)
    tc = F.col("toks")
    sh_arr = F.when(
        F.col("n_tok") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok") - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(tc, i, n)).cast("binary")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs.select(
        "_id", "grp", F.posexplode(sh_arr).alias("pos0", "sh")
    ).select("_id", "grp", (F.col("pos0") + 1).alias("pos"), "sh")

    dup_sh = (
        pos.groupBy("sh")
        .agg(F.countDistinct("_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    dup_pos = pos.join(dup_sh, "sh").select("_id", "grp", "pos")

    w = Window.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup_pos.withColumn(
        "ni",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        marked.groupBy("_id", "grp", "island")
        .agg((F.max("pos") + n - F.min("pos")).alias("covered"))
        .groupBy("_id", "grp")
        .agg(F.sum("covered").alias("dup_tokens"))
    )
    dup_g = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_dup_docs"),
        F.sum("dup_tokens").cast("bigint").alias("dup_tokens"),
    )
    return (
        totals.join(dup_g, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0)).cast("bigint").alias("n_dup_docs"),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("dup_frac"),
        )
        .orderBy(group_col)
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Exact-dup cluster collapse keeping the BEST member, not the first.

    Production dedup never keeps min-id: the canonical policy is "highest
    quality wins" (longest / highest-scoring member), so the kept corpus
    doesn't systematically prefer whichever copy was crawled first.
    Representative = max quality, ties broken by min id — expressed as one
    struct-MIN hash aggregate (min(struct(-quality, id)), valid for any
    orderable id type), so the cluster collapse costs exactly the
    exact_dedup aggregate: no window, no second shuffle, and the exchange
    carries (fp, quality, id) only.

    Output, one row per cluster with >= 2 members (keep_id asc):
    (keep_id, keep_quality, n_members, n_dropped).
    """
    fp = df.select(
        F.col(id_col).alias("_id"),
        F.col(quality_col).cast("long").alias("_q"),
        fingerprint_expr(F.col(text_col)).alias("fp"),
    )
    best = F.min(F.struct((-F.col("_q")).alias("_nq"), F.col("_id")))
    return (
        fp.groupBy("fp")
        .agg(
            best.alias("b"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("b._id").alias("keep_id"),
            (-F.col("b._nq")).cast("bigint").alias("keep_quality"),
            "n_members",
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("keep_id")
    )


def dup_rate_trend(
    turns: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-rate trend: per ingest day, what fraction of turns are
    duplicates (by normalized fingerprint) of anything ALREADY SEEN — an
    earlier day, or an earlier copy the same day. The drift monitor every
    continuously-ingesting corpus runs: a dup-rate step change usually
    means an upstream replay or a misbehaving producer, caught before it
    poisons training mixes. (Within-day-only dup rate was measured
    trivially zero on this corpus — replays land on later days.)

    A turn is "new" iff it is the first occurrence of its fingerprint
    corpus-wide, attributed to the fingerprint's first day. Three
    bounded-payload shuffles — (day, fp) aggregate, fp min-day aggregate,
    fp equi-join — all carrying 32-hex fingerprints, never text.

    Output (day asc): (day, n_turns, n_new, n_dup_turns, dup_rate) with
    dup_rate = n_dup_turns / n_turns to 4dp.
    """
    by_fp_day = (
        turns.select(
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
            fingerprint_expr(F.col(text_col)).alias("fp"),
        )
        .groupBy("day", "fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    first_day = by_fp_day.groupBy("fp").agg(F.min("day").alias("first_day"))
    joined = by_fp_day.join(first_day, "fp")
    new_flag = (F.col("day") == F.col("first_day")).cast("long")
    return (
        joined.groupBy("day")
        .agg(
            F.sum("n").cast("bigint").alias("n_turns"),
            F.sum(new_flag).cast("bigint").alias("n_new"),
            (F.sum("n") - F.sum(new_flag)).cast("bigint").alias("n_dup_turns"),
            F.round(
                (F.sum("n") - F.sum(new_flag)) / F.sum("n").cast("double"), 4
            ).alias("dup_rate"),
        )
        .orderBy("day")
    )
