"""Dedup operators: MinHash-LSH recall vs exact ground truth, SimHash
properties — the checks the SQL oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
)
from wnv_etl_lab2_spark.queries import REGISTRY, _ensure_loaded
from wnv_etl_lab2_spark.sources.catalog import load_table


def test_minhash_lsh_recall_equals_exact(spark, sf_dir):
    """LSH candidates + exact verify must find every pair the exact
    all-pairs Jaccard query finds (100% recall on this corpus)."""
    _ensure_loaded()
    mh = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).toPandas()
    ex = REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir).toPandas()
    assert set(zip(mh.doc_a, mh.doc_b)) == set(zip(ex.doc_a, ex.doc_b))
    assert len(mh) > 0


def test_embedding_neardup_lsh_blocking_recall_100(spark, sf_dir):
    """The LSH-band-blocked near-dup pairs must equal the exhaustive
    label-blocked computation — i.e. the default banding (r=2, b=24)
    loses ZERO qualifying pairs on this corpus. This is what licenses
    the exact SQL oracle on an LSH-blocked plan. (Also holds at sf0.01
    and sf0.1; the parameter sweep lives in the operator docstring.)"""
    from wnv_etl_lab2_spark.operators.similarity import (
        neardup_pairs_blocked,
        neardup_pairs_lsh_blocked,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    exact = neardup_pairs_blocked(emb, threshold=0.3, block_col="label").toPandas()
    assert len(exact) > 0
    # default adaptive routing (small blocks -> direct all-pairs)
    adaptive = neardup_pairs_lsh_blocked(emb, threshold=0.3).toPandas()
    assert set(zip(adaptive.id_a, adaptive.id_b)) == set(zip(exact.id_a, exact.id_b))
    # forced banded-LSH route (direct_block_max=0): the banding itself
    # must lose zero qualifying pairs — this is what licenses the
    # exact SQL oracle when a block is big enough to take this path
    lsh = neardup_pairs_lsh_blocked(emb, threshold=0.3, direct_block_max=0).toPandas()
    assert set(zip(lsh.id_a, lsh.id_b)) == set(zip(exact.id_a, exact.id_b))


def test_neardup_lsh_rejects_wrong_dim(spark, sf_dir):
    from wnv_etl_lab2_spark.operators.similarity import neardup_pairs_lsh_blocked

    emb = load_table(spark, "embeddings", sf_dir)
    with pytest.raises(ValueError, match="dim=32"):
        neardup_pairs_lsh_blocked(emb, threshold=0.3, dim=32)


def test_minhash_signatures_deterministic(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(50)
    a = minhash_signatures(docs).orderBy("doc_id").toPandas()
    b = minhash_signatures(docs).orderBy("doc_id").toPandas()
    assert a.equals(b)
    assert all(c in a.columns for c in ["mh_0", "mh_31"])


def test_minhash_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w q r s")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(df).orderBy("doc_id").collect()
    s1 = [sig[0][f"mh_{i}"] for i in range(32)]
    s2 = [sig[1][f"mh_{i}"] for i in range(32)]
    s3 = [sig[2][f"mh_{i}"] for i in range(32)]
    assert s1 == s2
    assert s1 != s3


def test_minhash_pairs_on_synthetic_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this sentence about spark engines"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(df, threshold=0.4).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_simhash_similar_docs_close_hamming(spark):
    base = "spark query engine with columnar execution and vectorized reads " * 4
    near = base.replace("vectorized", "batched")
    far = "zebra umbrella quantum pickle radish onion twelve fourteen " * 4
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sig = {r.doc_id: (r.simhash_hi, r.simhash_lo) for r in simhash_signatures(df).collect()}

    def hamming(a, b):
        return bin((a[0] ^ b[0]) & 0xFFFFFFFF).count("1") + bin((a[1] ^ b[1]) & 0xFFFFFFFF).count("1")

    assert hamming(sig[1], sig[2]) < hamming(sig[1], sig[3])
    # one substituted (repeated) token flips a handful of bits; an
    # unrelated doc flips ~32 on average
    assert hamming(sig[1], sig[2]) <= 16
    assert hamming(sig[1], sig[3]) >= 20


def test_simhash_near_pairs_finds_planted_dup(spark):
    base = "spark query engine with columnar execution and vectorized reads " * 4
    near = base.replace("reads ", "reads! ", 1)
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    pairs = simhash_near_pairs(df, max_hamming=8).collect()
    assert any((r.doc_a, r.doc_b) == (1, 2) for r in pairs)


def _simhash_jvm_reference(docs, id_col="doc_id", text_col="text"):
    """The SQL formula simhash_signatures used to run on the JVM, kept
    as the slow path its Arrow kernel is tested against: split on ' ',
    drop empty tokens, md5 each token, parse hex chars 1-8 / 9-16 as
    the high / low word, then (here in plain Python) the per-bit +/-1
    sums and the >0 bit assembly."""
    tok = f"filter(split({text_col}, ' '), t -> t <> '')"
    words = (
        docs.where(F.expr(f"exists(split({text_col}, ' '), t -> t <> '')"))
        .selectExpr(id_col, f"transform({tok}, t -> md5(t)) AS _m")
        .selectExpr(
            id_col,
            "transform(_m, m -> CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT)) AS _hhi",
            "transform(_m, m -> CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT)) AS _hlo",
        )
    )

    def word(hashes):
        sums = [0] * 32
        for h in hashes:
            for j in range(32):
                sums[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(32) if sums[j] > 0)

    return {(r[0], word(r[1]), word(r[2])) for r in words.collect()}


def test_simhash_kernel_equals_jvm_formula(spark):
    """Differential test of the Arrow kernel against the retired JVM
    formula on the inputs where a re-implemented split/md5 can differ:
    runs of spaces, empty and all-space texts, NULL, tabs and newlines
    inside tokens (the split is on ' ' only), multi-byte UTF-8, a
    one-token document, and a 40,000-token document whose bit sums
    overflow an int8/int16 accumulator. One-row batches make batches
    in which every document is dropped; string ids check the id
    pass-through; large Arrow string types are read too. Several
    batches per partition in every setting."""
    import random

    rng = random.Random(7)
    vocab = ["a", "spark", "ü", "漢字", "😀", "x\ty", "line\nbreak", "tok"]
    rows = [
        (1, "  a  spark   a  "),
        (2, ""),
        (3, "    "),
        (4, None),
        (5, "x\ty z\nw\t \n"),
        (6, "ü 漢字 😀 ü"),
        (7, "solo"),
        # 20,001 x's against 19,999 y's: bits where the two md5 words
        # agree sum to +/-40,000
        (8, "x " * 20_001 + "y " * 19_999),
    ] + [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(9, 70)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _simhash_jvm_reference(docs)
    assert len(want) == len(rows) - 3  # '', all spaces and NULL give no row
    str_docs = docs.selectExpr("CAST(doc_id AS STRING) AS key", "text AS body")
    str_want = {(str(i), hi, lo) for i, hi, lo in want}

    keys = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.execution.arrow.useLargeVarTypes",
    )
    prev = [spark.conf.get(k) for k in keys]
    try:
        for setting in (("1", "false"), ("3", "true")):
            for k, v in zip(keys, setting):
                spark.conf.set(k, v)
            got = simhash_signatures(docs)
            assert {tuple(r) for r in got.collect()} == want
            got = simhash_signatures(str_docs, id_col="key", text_col="body")
            assert {tuple(r) for r in got.collect()} == str_want
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)

    plan = simhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    assert "Generate" not in plan and "HashAggregate" not in plan


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    """Hyperplane-LSH top-10 must overlap the exact top-10 — the
    recall floor that makes the approximate path useful."""
    from wnv_etl_lab2_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    approx = REGISTRY["ann_topk_lsh"].fn(spark, sf_dir).toPandas()
    exact = REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    overlap = len(set(approx.vec_id) & set(exact.vec_id))
    # this corpus is near-orthogonal (no planted near-dups), so 4/10
    # is the deterministic measured recall at 4 planes — the floor
    # guards against regressions in the bucketing/probing math
    assert overlap >= 3, f"LSH recall@10 regressed: {overlap}/10"
    # the candidate re-rank is exact: scores arrive sorted and none
    # can exceed the true global best
    assert list(approx.cos_sim) == sorted(approx.cos_sim, reverse=True)
    assert approx.cos_sim.max() <= exact.cos_sim.max()


def test_ivf_ann_recall_beats_lsh(spark, sf_dir):
    """IVF (adaptive quantizer) must hold the measured recall floor
    and at least match hyperplane LSH on this corpus."""
    from wnv_etl_lab2_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    ivf = REGISTRY["ann_topk_ivf"].fn(spark, sf_dir).toPandas()
    lsh = REGISTRY["ann_topk_lsh"].fn(spark, sf_dir).toPandas()
    exact = REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).toPandas()
    ivf_r = len(set(ivf.vec_id) & set(exact.vec_id))
    lsh_r = len(set(lsh.vec_id) & set(exact.vec_id))
    assert ivf_r >= 5, f"IVF recall regressed: {ivf_r}/10"
    assert ivf_r >= lsh_r


def test_exact_dedup_collapses_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        "doc_id long, text string",
    )
    out = (
        df.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .orderBy("keeper")
        .collect()
    )
    assert [(r.keeper, r.n) for r in out] == [(1, 2), (3, 1)]


def test_connected_components_match_union_find(spark, sf_dir):
    """Label propagation must produce exactly the components a
    driver-side union-find builds from the same edge list."""
    from wnv_etl_lab2_spark.operators.dedup import connected_components

    _ensure_loaded()
    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).select("doc_a", "doc_b")
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}
    # Both routes of the size-adaptive operator must agree with the
    # reference: the driver union-find (default at this edge count)
    # AND the distributed min-label loop (forced via a zero bound —
    # without it the small test graph never exercises the 100 TB
    # path, and the default route would be union-find checked against
    # union-find).
    got = {
        r.id: r.comp_id for r in connected_components(pairs).collect()
    }
    assert got == expected
    assert len(got) > 0
    got_dist = {
        r.id: r.comp_id
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert got_dist == expected


def test_connected_components_chain(spark):
    """A 4-vertex path (1-2, 2-3, 3-4) needs >1 propagation round and
    must still collapse to a single component rooted at 1."""
    from wnv_etl_lab2_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    got = {r.id: r.comp_id for r in connected_components(edges).collect()}
    assert got == want
    got_dist = {
        r.id: r.comp_id
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert got_dist == want


def test_connected_components_probe_leaves_conf_and_runs_fixed_jobs(spark):
    """The driver-route probe over a shuffled 16-partition edge list
    leaves the session conf exactly as it found it and runs 2 jobs,
    as many as it ran under the spark.sql.limit.initialNumPartitions
    override it used to set: toArrow does not take incrementally."""
    from wnv_etl_lab2_spark.operators.dedup import connected_components

    edges = spark.range(0, 200, 1, 4).selectExpr(
        "id AS doc_a", "id + 1 AS doc_b"
    ).repartition(16, "doc_a")
    sc = spark.sparkContext
    before = dict(spark.conf.getAll)
    sc.setJobGroup("cc_probe", "connected_components probe")
    try:
        comp = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert dict(spark.conf.getAll) == before
    assert len(sc.statusTracker().getJobIdsForGroup("cc_probe")) == 2
    assert {r.comp_id for r in comp.collect()} == {0}


def test_semantic_dedup_prunes_planted_duplicates(spark):
    """SemDeDup contract on planted duplicates: every duplicate group
    keeps exactly its min-id member, singletons are all kept, and the
    result is deterministic."""
    from wnv_etl_lab2_spark.operators.similarity import semantic_dedup

    dim = 64
    def vec(seed, jitter=0.0):
        # deterministic pseudo-vector; jitter=0 -> identical copies
        return [((seed * 37 + i * 13) % 97) / 97.0 + jitter * ((i % 3) - 1) for i in range(dim)]

    rows = []
    # group 1: ids 0,1,2 near-identical; group 2: ids 10,11; singletons 20..24
    for i, j in [(0, 0.0), (1, 0.0005), (2, 0.001)]:
        rows.append((i, vec(5, j)))
    for i, j in [(10, 0.0), (11, 0.0008)]:
        rows.append((i, vec(41, j)))
    for i in range(20, 25):
        rows.append((i, vec(100 + 7 * i)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.999, n_clusters=2, sample_size=64).toPandas()
    out2 = semantic_dedup(df, threshold=0.999, n_clusters=2, sample_size=64).toPandas()

    keep = {int(r.vec_id): bool(r.keep) for r in out.itertuples()}
    assert len(keep) == 10
    assert keep[0] and not keep[1] and not keep[2], keep
    assert keep[10] and not keep[11], keep
    assert all(keep[i] for i in range(20, 25)), keep
    assert sorted(map(tuple, out.values.tolist())) == sorted(map(tuple, out2.values.tolist()))


def test_semantic_dedup_empty_input(spark):
    from wnv_etl_lab2_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup(df).count() == 0


def test_simhash_corpus_planted_recall(spark, sf_dir):
    """Planted ground truth over the REAL sf corpus (not toy strings):
    take 25 documents, plant a near-dup of each (exactly ONE token
    swapped — a bounded edit, so the signature moves a bounded number
    of bits), and hold the operator to exactly what it guarantees:
    every planted pair within hamming 3 MUST be found (the 4x16-bit
    chunk pigeonhole guarantee), and measured recall over all planted
    pairs at the hamming-8 operating point must clear 0.9 (pairs at
    hamming 4-8 can lose the banding lottery — that slack is the
    documented cost of the chunk join vs an all-pairs scan).
    Precision check: any OTHER pair the operator emits must be
    genuinely near (token-Jaccard >= 0.5) — the corpus ships its own
    near-dup clusters, so extra pairs are legitimate exactly when the
    underlying texts overlap, and a hash-collision false positive
    would fail this."""
    docs = load_table(spark, "documents", sf_dir).limit(25).toPandas()
    rows = []
    for _, r in docs.iterrows():
        rows.append((int(r.doc_id), r.text))
        toks = r.text.split(" ")
        toks[min(20, len(toks) - 1)] = "swapped"
        rows.append((int(r.doc_id) + 1_000_000, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_pairs(df, max_hamming=8).toPandas()
    found = set(zip(pairs.doc_a, pairs.doc_b))
    planted = {(int(r.doc_id), int(r.doc_id) + 1_000_000) for _, r in docs.iterrows()}
    sig = {r.doc_id: (r.simhash_hi, r.simhash_lo) for r in simhash_signatures(df).collect()}

    def hamming(a, b):
        return bin((sig[a][0] ^ sig[b][0]) & 0xFFFFFFFF).count("1") + bin(
            (sig[a][1] ^ sig[b][1]) & 0xFFFFFFFF
        ).count("1")

    guaranteed = {(a, b) for a, b in planted if hamming(a, b) <= 3}
    assert guaranteed, "degenerate fixture: no planted pair within hamming 3"
    missing_guaranteed = guaranteed - found
    assert not missing_guaranteed, (
        f"pigeonhole guarantee broken for {sorted(missing_guaranteed)[:5]}"
    )
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"planted recall {recall:.2f} < 0.9"
    # every emitted pair must be backed by real token overlap
    text_of = {did: txt for did, txt in rows}
    for a, b in found:
        ta, tb = set(text_of[a].split()), set(text_of[b].split())
        jac = len(ta & tb) / len(ta | tb)
        assert jac >= 0.5, f"simhash paired dissimilar docs ({a},{b}): jaccard={jac:.3f}"


def test_neardup_pairs_under_duplicate_pileup(spark, sf_dir):
    """Correctness of the exact-dedup-first fan-out (the scale_smoke
    fix): replicate the embeddings 3x (bit-identical copies, remapped
    ids) and require the operator's pair set to EQUAL brute-force
    ground truth computed in NumPy — intra-group pairs, cross-group
    expanded pairs, and the no-duplicate originals all at once."""
    import numpy as np
    from wnv_etl_lab2_spark.operators.similarity import neardup_pairs_lsh_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    k = 3
    rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_rep")
    big = (
        emb.select("*", rep)
        .withColumn("vec_id", F.col("vec_id") * k + F.col("_rep"))
        .drop("_rep")
    )
    got = {
        (r.id_a, r.id_b)
        for r in neardup_pairs_lsh_blocked(big, threshold=0.3).collect()
    }
    rows = big.collect()
    ids = np.array([r.vec_id for r in rows])
    labs = np.array([r.label for r in rows])
    M = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(M, axis=1)
    cos = (M @ M.T) / np.outer(nrm, nrm)
    want = set()
    n = len(rows)
    for i in range(n):
        for j in range(i + 1, n):
            if labs[i] == labs[j] and round(cos[i, j], 6) >= 0.3:
                a, b = sorted((int(ids[i]), int(ids[j])))
                want.add((a, b))
    assert got == want, (
        f"missing={len(want - got)} extra={len(got - want)} "
        f"sample_missing={sorted(want - got)[:3]} sample_extra={sorted(got - want)[:3]}"
    )
    # sanity: the fixture genuinely exercises the pileup paths
    assert any(a // k == b // k for a, b in want), "no intra-group pair in fixture"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_ann_recall_floors_across_sf(spark, sf):
    """Recall floors at the driver's own SFs, not just the tiny test
    fixture: bucket geometry shifts with corpus size (more vectors per
    hyperplane cell / IVF cluster), so a probing or banding regression
    can hide at sf0.001 and only surface at sf0.1. Measured recall@10
    (r10 — pre-trained sf0.1 quantizer, nprobe=6): sf0.01 lsh 4,
    ivf 6; sf0.1 lsh 7, ivf 6 — floors at or one below."""
    import os
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    from wnv_etl_lab2_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    exact = REGISTRY["ann_topk_bruteforce"].fn(spark, sf).toPandas()
    lsh = REGISTRY["ann_topk_lsh"].fn(spark, sf).toPandas()
    ivf = REGISTRY["ann_topk_ivf"].fn(spark, sf).toPandas()
    lsh_r = len(set(lsh.vec_id) & set(exact.vec_id))
    ivf_r = len(set(ivf.vec_id) & set(exact.vec_id))
    assert lsh_r >= 3, f"LSH recall@10 regressed at {sf}: {lsh_r}/10"
    assert ivf_r >= 5, f"IVF recall@10 regressed at {sf}: {ivf_r}/10"
    # exact re-rank invariants hold at every SF
    assert list(lsh.cos_sim) == sorted(lsh.cos_sim, reverse=True)
    assert lsh.cos_sim.max() <= exact.cos_sim.max()
    assert ivf.cos_sim.max() <= exact.cos_sim.max()


def test_reduced_edges_give_identical_components(spark, sf_dir):
    """expand_members=False returns star edges + rep pairs; connected
    components over that reduced set must equal components over the
    full member-level expansion (the equivalence corpus_curation_stats
    relies on)."""
    from wnv_etl_lab2_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    # plant exact duplicates so the member-expansion machinery engages
    dup = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    corpus = docs.unionByName(dup)
    full = minhash_lsh_pairs(corpus, expand_members=True)
    red = minhash_lsh_pairs(corpus, expand_members=False)
    comp_full = {
        r.id: r.comp_id for r in connected_components(full).collect()
    }
    comp_red = {r.id: r.comp_id for r in connected_components(red).collect()}
    assert comp_full == comp_red
    assert len(comp_full) > 0


def test_minhash_band_survivors_greedy_semantics(spark):
    """Planted ground truth for the greedy first-id-wins rule: the
    smaller id of a near-dup pair survives, unrelated docs survive,
    and exact-duplicate pileup keeps exactly the min id with no pair
    explosion. Short (<3-word) docs have no bands and always survive."""
    from wnv_etl_lab2_spark.operators.dedup import minhash_band_survivors

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this sentence about spark engines"
    rows = [(1, base), (2, near), (3, far), (4, "tiny doc")]
    # pileup: 10 exact copies of another text
    boiler = "boilerplate page repeated across the crawl many many times over"
    rows += [(10 + k, boiler) for k in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in minhash_band_survivors(df).collect()}
    assert kept == {1, 3, 4, 10}


def test_semantic_dedup_refined_quantizer_same_contract(spark):
    """Round-10: SemDeDup with a corpus-refined quantizer
    (refine_iters > 0) keeps the identical dedup contract — planted
    duplicate groups keep exactly their min-id member — and the
    refined clustering is at least as balanced as the sample-only one
    (Lloyd refinement can only improve the quantizer's fit)."""
    from wnv_etl_lab2_spark.operators.similarity import semantic_dedup

    dim = 64

    def vec(seed, jitter=0.0):
        return [
            ((seed * 37 + i * 13) % 97) / 97.0 + jitter * ((i % 3) - 1)
            for i in range(dim)
        ]

    rows = []
    for i, j in [(0, 0.0), (1, 0.0005), (2, 0.001)]:
        rows.append((i, vec(5, j)))
    for i, j in [(10, 0.0), (11, 0.0008)]:
        rows.append((i, vec(41, j)))
    for i in range(20, 25):
        rows.append((i, vec(100 + 7 * i)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, threshold=0.999, n_clusters=2, sample_size=64, refine_iters=2
    ).toPandas()
    keep = {int(r.vec_id): bool(r.keep) for r in out.itertuples()}
    assert len(keep) == 10
    assert keep[0] and not keep[1] and not keep[2], keep
    assert keep[10] and not keep[11], keep
    assert all(keep[i] for i in range(20, 25)), keep
