"""Near-duplicate detection operators (BASELINE.json north star).

All built from DataFrame primitives with the same scale shape:
*bucket (cheap, approximate) -> equi-join on bucket -> exact verify* —
never a document-document cross join. Hashing is xxhash64 (JVM-side,
deterministic across runs/partitionings), so every operator is
reproducible and oracle-checkable.

- minhash_lsh_pairs: word-shingle MinHash signatures, banded LSH
  candidate join, exact-Jaccard verification.
- simhash_signatures / simhash_near_pairs: 64-bit SimHash.
(Exact dedup needs no operator — it is a hash-groupBy, expressed
directly by the `dedup_exact` / `dedup_fingerprint` queries.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic affine hash params (a*h31 + b mod p) in 31-bit space:
# a < 2^30 and h31 < 2^31 keep a*h31 + b < 2^62, so the arithmetic
# never overflows a Java long even under ANSI mode. Constants come
# from a fixed LCG (seed 42) — NOT runtime-random, so results are
# reproducible across runs and partitionings.
_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _lcg_constants(n: int, seed: int = 42) -> list[int]:
    state = seed
    out = []
    while len(out) < n:
        state = (6364136223846793005 * state + 1442695040888963407) & ((1 << 64) - 1)
        v = (state >> 33) & ((1 << 30) - 1)
        if v > 1:
            out.append(v)
    return out


_A = _lcg_constants(32, seed=42)
_B = _lcg_constants(32, seed=4242)


def shingle_expr(words_col: str = "_words") -> str:
    """SQL text of the distinct-hashed-3-shingle array over a words
    column. Kept as ONE expression string so every consumer projects
    it in a single selectExpr — mixing it into Column-level filters or
    wrapper Columns invites CollapseProject to inline the transform
    into each reference (measured ~4-10x slowdown of the minhash
    pipeline when a size() filter referenced the array)."""
    w = words_col
    return (
        f"array_distinct(transform(sequence(0, size({w}) - 3), "
        f"i -> xxhash64({w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2])))"
    )


def hashed_word_shingles(words_col: str = "_words", n: int = 3):
    """Distinct shingles hashed to longs inside the lambda — the
    shingle strings never materialize, set sizes/intersections are
    identical modulo ~2^-40 xxhash64 collision odds. This is the form
    every hot path uses: long keys shuffle and compare ~5x cheaper
    than 30-byte strings."""
    assert n == 3
    return F.expr(shingle_expr(words_col))


def pair_explode(
    df: DataFrame, arr_col: str, a_name: str, b_name: str, keep: list[str]
) -> DataFrame:
    """All ordered pairs (x, y) with x before y from a sorted array
    column, via posexplode -> slice -> explode. The pair OUTPUT is
    inherently quadratic in the array length, but each intermediate
    row carries at most one O(k) slice — unlike the single-row
    ``flatten(transform(...))`` form, which materializes all C(k,2)
    structs of a group as ONE array in ONE row and so turns a
    pathologically deep group (millions of copies of a boilerplate
    page) into a per-row memory spike before the explode can split
    it. ``keep`` columns are carried through unchanged."""
    rest = "slice(_pe_arr, _pe_i + 2, size(_pe_arr) - _pe_i - 1)"
    return (
        df.select(*keep, F.col(arr_col).alias("_pe_arr"))
        .select(*keep, "_pe_arr", F.posexplode("_pe_arr").alias("_pe_i", a_name))
        .select(*keep, a_name, F.expr(rest).alias("_pe_rest"))
        .select(*keep, a_name, F.explode("_pe_rest").alias(b_name))
    )


def _shingled(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _sh) — the hashed-shingle array per document. This ONE
    subtree feeds both the signature stage and the exact-verify stage
    of minhash_lsh_pairs, so Catalyst plans its repartition exchange
    once and reuses it (ReusedExchange) instead of re-scanning and
    re-shingling per consumer."""
    from wnv_etl_lab2_spark.sources.catalog import scan_width

    # right-size the spreading repartition to the input (round 18, r17
    # verdict #5): ~128 KiB of input bytes per task; a non-inspectable
    # (real-scale) input keeps the full shuffle-partition width
    nparts = scan_width(
        docs, int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )
    # No size(_sh) filter here: size(_words) >= 3 already guarantees a
    # non-empty shingle array, and a filter referencing _sh would make
    # CollapseProject inline the whole transform per reference.
    return (
        docs.repartition(nparts, id_col)  # spread single-file inputs
        .selectExpr(id_col, f"split({text_col}, ' ') AS _words")
        .where(F.size("_words") >= 3)
        .selectExpr(id_col, f"{shingle_expr('_words')} AS _sh")
    )


def _signature_exprs(num_hashes: int) -> list[str]:
    """mh_i = min over shingles of the i-th affine re-hash, as SQL
    expression STRINGS: one parse on the JVM instead of num_hashes
    nested Python-lambda column trees (the py4j round trips to build
    those dominated plan-construction time — ~1s/query at 32 hashes).
    An Arrow mapInArrow numpy kernel for the same arithmetic was
    measured SLOWER end-to-end at bench SF (+~0.2 s fixed Python
    stage round-trip, and it splits the scan->signature->banding map
    stage that otherwise runs as one JVM pass), so the SQL form
    stays."""
    assert num_hashes <= len(_A)
    return [
        f"array_min(transform(_h31, h -> ({a}L * h + {b}L) % {_P}L)) AS mh_{i}"
        for i, (a, b) in enumerate(zip(_A[:num_hashes], _B[:num_hashes]))
    ]


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_hashes: int = 32
) -> DataFrame:
    """MinHash signature per document, computed entirely within the
    row: array_min over an affine re-hash of the shingle-hash array —
    NO explode, NO shuffle (a pure map over the scan). ~2x faster than
    the explode+groupBy form locally and strictly better at scale
    (signatures of a 100 TB corpus are embarrassingly parallel).
    """
    base = _shingled(docs, id_col, text_col).selectExpr(
        id_col, "transform(_sh, x -> pmod(x, 2147483648)) AS _h31"
    )
    return base.selectExpr(id_col, *_signature_exprs(num_hashes))


def _banded_from_shingled(
    shingled: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_id, band_sig) from a `_shingled` frame: affine
    MinHash signature (in-row, `_signature_exprs`), band signature =
    xxhash64 of each band's r minhashes (joins on (int, long), never
    strings), unpivoted to one row per (doc, band) via `stack`."""
    r = num_hashes // bands
    assert bands * r == num_hashes
    sig = shingled.selectExpr(
        id_col, "transform(_sh, x -> pmod(x, 2147483648)) AS _h31"
    ).selectExpr(id_col, *_signature_exprs(num_hashes))
    band_cols = [
        f"xxhash64({', '.join(f'mh_{band * r + i}' for i in range(r))}) AS band_{band}"
        for band in range(bands)
    ]
    banded = sig.selectExpr(id_col, *band_cols)
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(bands))
    return banded.select(
        id_col, F.expr(f"stack({bands}, {stack_expr}) AS (band_id, band_sig)")
    )


def minhash_band_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """One row per (doc, LSH band): (id, band_id, band_sig). The
    building block of bucket-level near-dup machinery — candidate
    joins (minhash_lsh_pairs), the greedy survivor rule below, and the
    STREAMING band index (streaming/documents.py appends these rows
    per micro-batch as its cross-batch state). Pure map over the scan
    except `_shingled`'s spreading repartition; <3-word docs have no
    shingle set and produce no rows."""
    return _banded_from_shingled(
        _shingled(docs, id_col, text_col), id_col, num_hashes, bands
    )


def minhash_band_survivors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Greedy first-id-wins near-dup SUPPRESSION: a doc is dropped iff
    some LSH band bucket contains a smaller doc id; returns the
    surviving docs (all input columns). This is the order-greedy
    variant of near-dup canonicalization — exactly the decision an
    INCREMENTAL/streaming dedup makes when docs arrive in id order
    ("drop if similar to anything seen before"), which is why the
    streaming path (streaming/documents.streaming_neardup_curation)
    replay-matches this operator bit-for-bit (pinned in
    tests/test_streaming_documents.py). It differs from component
    canonicalization (`connected_components`) only on similarity
    CHAINS: a doc whose every direct neighbor has a larger id survives
    here even if a transitive chain reaches a smaller id.

    Scale shape: band rows -> min-id per bucket -> min over a doc's
    buckets — two shuffles of (id, band) rows, NO pair expansion at
    all, so exact-duplicate pileup (k copies of a boilerplate page)
    costs k band rows, never k^2 candidates; the deepest bucket is as
    cheap as the shallowest. Docs with no shingle set (<3 words) are
    never similar to anything and survive.
    """
    b = minhash_band_signatures(docs, id_col, text_col, num_hashes, bands)
    mn = b.groupBy("band_id", "band_sig").agg(F.min(id_col).alias("_bmn"))
    doc_min = (
        b.join(mn, ["band_id", "band_sig"])
        .groupBy(id_col)
        .agg(F.min("_bmn").alias("_mn"))
    )
    return (
        docs.join(doc_min, id_col, "left")
        .where(F.col("_mn").isNull() | (F.col("_mn") == F.col(id_col)))
        .drop("_mn")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1024,
    expand_members: bool = True,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + exact-Jaccard verify.

    ``expand_members=False`` returns the REDUCED edge set — verified
    rep-level pairs plus (rep, member) star edges for exact-duplicate
    groups — instead of the full member-level fan-out. Connected
    components over the reduced set equal components over the full
    expansion (members reach each other through their rep), at a
    fraction of the cost: consumers that only need dedup GROUPS
    (corpus_curation_stats) skip the quadratic intra-group expansion
    and the double-explode cross fan-out entirely.

    rows-per-band r = num_hashes // bands; candidate probability for a
    pair at Jaccard j is 1-(1-j^r)^bands (r=2, b=16: j=0.5 -> 0.99).
    Candidates are found by equi-joining on (band_id, band_signature)
    — at 100 TB this is the only pairwise-dedup join that scales; the
    final exact verify touches only candidate pairs.

    Returns (doc_a, doc_b, jaccard) with exact jaccard >= threshold.

    EXACT-DEDUP-FIRST (same duplicate-pileup defense as
    operators/similarity.neardup_pairs_lsh_blocked, where
    tools/scale_smoke.py measured the failure mode): identical texts
    agree on every band, so k exact copies make every bucket k deep —
    quadratic candidates AND, past ``max_bucket``, silently DROPPED
    buckets (a >1024-copy boilerplate page would lose all its pairs).
    Identical texts are grouped by a 128-bit content digest first,
    only min-id representatives enter the LSH machinery, and verified
    rep pairs fan back out through the member lists (identical shingle
    sets: intra-group Jaccard is exactly 1.0, cross-group pairs
    inherit the rep pair's Jaccard bit-for-bit).

    SHARING: the multi-consumer subtrees (dup_groups, the candidate
    pipeline, shingled) are deliberately NOT checkpointed. Under AQE,
    `localCheckpoint(eager=False)` is not lazy in practice — toRdd
    materializes every upstream query stage as separate jobs
    (measured: the round-5 checkpointed form spent 1.1-1.6 s of its
    2.0 s bench wall inside the two "lazy" checkpoint calls). Left as
    ONE query, AQE's runtime stage reuse dedups the identical
    exchanges (the dup-groups aggregate, the shingle repartition, the
    candidate distinct), so each shuffle still executes once at any
    scale — same shuffle-once property, fewer jobs, no eager
    materialization barrier. Measured 2.00 s -> ~1.5 s at sf0.1.
    """
    r = num_hashes // bands
    assert bands * r == num_hashes
    h1, h2 = F.xxhash64(F.col(text_col)), F.xxhash64(F.lit(1), F.col(text_col))
    # _wc rides along so the group expansions below can apply the
    # same >= 3-words gate `_shingled` applies — as a FILTER on the
    # (tiny) group table instead of a semi join back against the
    # shingle pipeline (which would re-run a corpus scan + shingle
    # pass just to learn each rep's word count). Identical texts have
    # identical word counts, so min() is exact.
    wc = F.size(F.split(F.col(text_col), " "))
    dup_groups = (
        docs.select(id_col, h1.alias("_h1"), h2.alias("_h2"), wc.alias("_wc"))
        .groupBy("_h1", "_h2")
        .agg(
            F.sort_array(F.collect_list(F.col(id_col))).alias("_members"),
            F.min("_wc").alias("_wc"),
        )
        .where(F.size("_members") >= 2)
        .select(F.element_at("_members", 1).alias("_rep"), "_members", "_wc")
    )
    redundant = dup_groups.select(
        F.explode(F.expr("slice(_members, 2, size(_members) - 1)")).alias(id_col)
    )
    canon = docs.join(redundant, id_col, "left_anti")
    shingled = _shingled(canon, id_col, text_col)
    buckets = _banded_from_shingled(shingled, id_col, num_hashes, bands)
    # candidate pairs via groupBy bucket + in-group pair expansion:
    # one shuffle, one evaluation of the signature pipeline (a
    # self-join would do both twice). ``max_bucket`` caps degenerate
    # buckets (a bucket of b docs expands to b^2/2 pairs): beyond the
    # cap the bucket is dropped — recall-only loss, since every
    # surviving candidate is exactly verified below.
    grouped = buckets.groupBy("band_id", "band_sig").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("L")
    ).where((F.size("L") >= 2) & (F.size("L") <= max_bucket))
    cand = pair_explode(grouped, "L", "doc_a", "doc_b", keep=[]).distinct()
    # exact verify on the candidate pairs only (hashed shingle sets:
    # same intersection/union sizes as the string sets). The shingle
    # arrays are semi-filtered to candidate docs FIRST — at corpus
    # scale the verify side must carry arrays only for the (small)
    # candidate set, never the whole corpus. The filter applies to the
    # SAME shingled subtree the signatures came from, so its exchange
    # is stage-reused at runtime. cand_ids is NOT distinct'd:
    # duplicate build rows cannot change a semi-join verdict, and the
    # distinct would cost one more shuffle + AQE stage barrier.
    cand_ids = cand.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col))
    sh = shingled.join(F.broadcast(cand_ids), id_col, "left_semi")
    verified = (
        cand.join(sh.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("sh_b")), "doc_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("_union", F.size("sh_a") + F.size("sh_b") - F.col("_inter"))
        .withColumn("jaccard", F.col("_inter") * 1.0 / F.col("_union"))
        .where(F.col("jaccard") >= threshold)
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    if not expand_members:
        # Star edges (rep -> each later member), gated on the rep
        # having a shingle set — the same <3-word rule the expanded
        # intra pairs apply (via the carried _wc, not a join), so
        # both edge sets span identical vertices.
        star = (
            dup_groups.where(F.col("_wc") >= 3)
            .select(
                F.col("_rep").alias("doc_a"),
                F.explode(F.expr("slice(_members, 2, size(_members) - 1)")).alias(
                    "doc_b"
                ),
            )
            .withColumn("jaccard", F.lit(1.0))
        )
        return verified.unionByName(star)

    # expansion 1: verified rep pairs -> member pairs (identical
    # shingle sets, so the Jaccard carries over bit-for-bit). The
    # member tables are duplicate GROUPS — orders of magnitude smaller
    # than the corpus — so they broadcast; without the hint the
    # left joins sort-merge and pay two extra shuffles of the
    # verified pair set.
    ma = F.broadcast(
        dup_groups.select(F.col("_rep").alias("doc_a"), F.col("_members").alias("_ma"))
    )
    mb = F.broadcast(
        dup_groups.select(F.col("_rep").alias("doc_b"), F.col("_members").alias("_mb"))
    )
    cross = (
        verified.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .withColumn("_ma", F.coalesce("_ma", F.array("doc_a")))
        .withColumn("_mb", F.coalesce("_mb", F.array("doc_b")))
        .select(F.explode("_ma").alias("_xa"), "_mb", "jaccard")
        .select("_xa", F.explode("_mb").alias("_xb"), "jaccard")
        .select(
            F.least("_xa", "_xb").alias("doc_a"),
            F.greatest("_xa", "_xb").alias("doc_b"),
            "jaccard",
        )
    )
    # expansion 2: within-group pairs are guaranteed duplicates with
    # Jaccard exactly |S|/|S| = 1.0 — but only for groups that HAVE a
    # shingle set (_shingled drops <3-word docs, and the whole group
    # shares its rep's word count), hence the carried-_wc filter.
    intra = pair_explode(
        dup_groups.where(F.col("_wc") >= 3),
        "_members",
        "doc_a",
        "doc_b",
        keep=[],
    ).withColumn("jaccard", F.lit(1.0))
    return cross.unionByName(intra)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation — the step that turns near-dup PAIRS into dedup
    GROUPS (every doc in a component is a duplicate of the same
    content; one representative survives).

    Returns (id, comp_id) for every vertex appearing in an edge, with
    comp_id = the smallest vertex id in the component — deterministic,
    order-independent.

    Shape: per round, one groupBy(min) over the message join and an
    equality check; rounds = component diameter (near-dup components
    are shallow — duplicates of the same content link to each other,
    so 2-4 rounds in practice). Each round localCheckpoints the label
    frame: truncated lineage, so round N+1's plan does not replay
    rounds 1..N — the standard iterative-algorithm pattern on Spark
    (GraphX/GraphFrames do the same under the hood). The convergence
    test is a driver-side count of changed labels per round; at 100 TB
    each round is one shuffle of (vertex, label) pairs, never edges
    times labels.
    """
    edges = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # ONE capped collect decides the route AND feeds the driver path:
    # <= bound rows come back in full (no separate count job); a
    # (bound+1)-th row proves the graph is large and the rows are
    # discarded in favor of the distributed loop. Collected via Arrow
    # (toArrow -> python lists), not as pyspark Rows: at the bound
    # that is ~tens of MB of ints instead of hundreds of MB of Row
    # objects (each Row is ~100+ bytes of wrapper). The edge pipeline
    # is NOT checkpointed before this probe: the driver route (the
    # common case) consumes the collected rows and never touches the
    # Spark frame again, so a checkpoint there is a pure extra
    # materialization pass; the distributed route below checkpoints
    # before its iterations instead (one acceptable re-execution on
    # the rare big-graph path).
    # toArrow executes the CollectLimit over every partition at once,
    # not as collect()'s incremental take, so
    # spark.sql.limit.initialNumPartitions does not change its job
    # count (measured on every caller); the probe sets no session conf.
    probe_tbl = edges.limit(driver_max_edges + 1).toArrow()
    probe = list(zip(probe_tbl.column(0).to_pylist(), probe_tbl.column(1).to_pylist()))

    # SIZE-ADAPTIVE ROUTING (same policy as the near-dup pair kernels,
    # commit 500a3bd): a verified near-dup edge list is orders of
    # magnitude smaller than its corpus — at sf0.1 it is ~250 rows, and
    # even a 100 TB corpus's post-verify graph often fits the bound.
    # Below ``driver_max_edges`` (2M int pairs ≈ 100-150 MB of python
    # objects — a BOUNDED driver artifact, like the 512-row IVF
    # sample) a driver union-find replaces the iterative join loop,
    # whose per-round cost is pure job-scheduling latency at this size
    # (measured: 1.4 s for 249 edges vs <0.1 s union-find). Larger
    # graphs take the distributed min-label loop below — the 100 TB
    # worst-case path is unchanged. Both routes return identical
    # (id, comp_id = min id in component).
    if len(probe) <= driver_max_edges:
        rows = probe
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # union-by-min: root stays the min id
        verts = {v for r in rows for v in (r[0], r[1])}
        id_type = edges.schema["a"].dataType
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("comp_id", id_type)]
        )
        return edges.sparkSession.createDataFrame(
            [(v, find(v)) for v in verts], schema
        )

    # Distributed route: materialize the (expensive) upstream pair
    # pipeline once before the symmetrizing self-union and the
    # iteration loop.
    edges = edges.localCheckpoint(eager=False)
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=False)  # reused every round
    # init: comp = min(self, direct neighbors)
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).alias("comp"))
        .select(F.col("a").alias("id"), "comp")
        .localCheckpoint(eager=False)
    )
    changed = 0
    for _ in range(max_iters):
        # message pass: each vertex hears its neighbors' current labels
        msgs = (
            sym.join(labels, sym["b"] == labels["id"], "inner")
            .select(F.col("a").alias("id"), F.col("comp").alias("ncomp"))
            .groupBy("id")
            .agg(F.min("ncomp").alias("ncomp"))
        )
        updated = (
            labels.join(msgs, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias(
                    "comp"
                ),
                (F.col("ncomp") < F.col("comp")).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.where(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    if changed:
        # Fail loud, never return partial labels: a component whose
        # diameter exceeds max_iters would otherwise keep multiple
        # "canonical" docs from one duplicate group and silently
        # diverge from the exact recursive-CTE oracle.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — the "
            "component diameter exceeds it"
        )
    # Old rounds' checkpointed frames are dropped by Spark's
    # ContextCleaner once `labels` rebinds (driver GC releases the
    # JVM-side plan); storage stays O(1) frames per call, not O(rounds).
    return labels.select("id", F.col("comp").alias("comp_id"))


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document over the non-empty tokens of
    ``split(text, ' ')``.

    The 64 token-hash bits are two 32-bit words read big-endian from
    the first 8 bytes of the token's md5 digest (hex chars 1-8 -> high
    word, 9-16 -> low word) rather than xxhash64: md5 is the one hash
    both Spark and DuckDB implement bit-identically, which keeps the
    signature SQL-expressible and lets the driver verify it against an
    exact oracle (the DuckDB twin in queries/similarity_q.py). Bit j
    of the signature is set iff the sum of (+1/-1) contributions of
    bit j across tokens is positive. The signature comes back as two
    non-negative 32-bit halves (simhash_hi, simhash_lo), so neither
    overflows a signed bigint. Null texts and texts with no non-empty
    token produce no row.

    Shape: ONE mapInArrow kernel over (id, text), a pure map with no
    explode and no groupBy. Per Arrow batch it
      1. tokenizes with Arrow C++ (split on ' ', parent indices, empty
         tokens dropped);
      2. dictionary-encodes the tokens and runs md5 once per DISTINCT
         token of the batch — a token that repeats within a batch is
         hashed once, not once per occurrence;
      3. sums the +/-1 bits per document: per 4-bit nibble of the
         two words, one bincount over (document, nibble value) times a
         16x4 bit table (no tokens x 64 bit matrix is materialized;
         counts are exact at any document length);
      4. packs the set bits into the (hi, lo) words.
    The only exchange is a row-level spreading repartition that is
    SKIPPED whenever the input already has adequate parallelism — at
    100 TB a parquet scan arrives in thousands of splits and nothing
    crosses the wire; locally a single-file scan is spread once, to
    ~128 KiB of input per task (catalog.scan_width).
    tests/test_dedup.py keeps the former JVM formula (split, filter,
    md5, conv(substring), per-bit sums) as the kernel's differential
    reference."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from wnv_etl_lab2_spark.sources.catalog import scan_width

    # Spread only under-parallel inputs (single-file local scans), to
    # the byte-derived width like the other per-row text maps: on 4
    # cores the derived width beat full width (sf0.01 0.44 vs 0.52 s at
    # 4 shuffle partitions; sf0.1 0.64 vs 0.79 s at 8). getNumPartitions
    # is a plan inspection, not a job.
    nparts = scan_width(
        docs, int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )
    if docs.rdd.getNumPartitions() < nparts:
        docs = docs.repartition(nparts, id_col)
    id_dt = docs.schema[id_col].dataType.simpleString()
    # nibble_bits[v, k] = bit k (LSB first) of nibble value v
    nibble_bits = np.unpackbits(
        np.arange(16, dtype=np.uint8)[:, None], axis=1, bitorder="little"
    )[:, :4].astype(np.float64)
    # digest bytes in little-endian word order: bytes 0-3 are the
    # big-endian high word, 4-7 the low word, so signature bit 8*i + k
    # is bit k of digest byte word_bytes[i]
    word_bytes = [3, 2, 1, 0, 7, 6, 5, 4]

    def _kernel(batches):
        for batch in batches:
            n = batch.num_rows
            # as binary: the split and md5 run on the UTF-8 bytes, which
            # is what Spark's md5(string) hashes
            toks = pc.split_pattern(batch.column(1).cast(pa.large_binary()), b" ")
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, b"")
            flat = flat.filter(keep)
            doc = pc.list_parent_indices(toks).filter(keep).to_numpy()
            lens = np.bincount(doc, minlength=n)
            rows = np.flatnonzero(lens)
            if len(rows) == 0:
                continue
            enc = pc.dictionary_encode(flat)
            vocab = enc.dictionary
            # slice the tokens out of the dictionary's data buffer:
            # cheaper than materializing them with to_pylist
            bounds = np.frombuffer(vocab.buffers()[1], np.int64)[vocab.offset :]
            bounds = bounds[: len(vocab) + 1].tolist()
            data = vocab.buffers()[2].to_pybytes()
            digests = b"".join(
                [hashlib.md5(data[a:b]).digest() for a, b in zip(bounds, bounds[1:])]
            )
            tok_bytes = np.frombuffer(digests, np.uint8).reshape(-1, 16)[:, word_bytes][
                enc.indices.to_numpy()
            ]
            # signature bits 4i..4i+3 are nibble i: the low (even i) or
            # high (odd i) half of word byte i // 2
            # float64 so the 16x4 product runs in BLAS; the counts stay
            # exact integers (below 2**53)
            key = doc.astype(np.int64) * 16
            counts = np.empty((n, 64))
            for i in range(16):
                nibble = (tok_bytes[:, i // 2] >> (4 * (i % 2))) & 15
                per_value = np.bincount(key + nibble, minlength=n * 16)
                counts[:, 4 * i : 4 * i + 4] = per_value.reshape(n, 16) @ nibble_bits
            set_bits = 2 * counts[rows] > lens[rows, None]
            words = np.packbits(set_bits, axis=1, bitorder="little").view("<u4")
            yield pa.record_batch(
                [
                    batch.column(0).take(pa.array(rows)),
                    pa.array(words[:, 0].astype(np.int64)),
                    pa.array(words[:, 1].astype(np.int64)),
                ],
                names=[id_col, "simhash_hi", "simhash_lo"],
            )

    return docs.select(id_col, text_col).mapInArrow(
        _kernel, f"`{id_col}` {id_dt}, simhash_hi bigint, simhash_lo bigint"
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4x16-bit
    chunks (a pair within hamming distance 3 must agree exactly on at
    least one chunk — pigeonhole), equi-join per chunk, verify the true
    hamming distance with bit_count."""
    # checkpoint: the signature pipeline feeds both self-join sides
    # (same multi-consumer materialization point as minhash above)
    sig = simhash_signatures(docs, id_col, text_col).localCheckpoint(eager=False)
    chunks = sig.select(
        id_col,
        "simhash_hi",
        "simhash_lo",
        F.expr(
            "stack(4, 0, pmod(simhash_lo, 65536), 1, pmod(simhash_lo div 65536, 65536), "
            "2, pmod(simhash_hi, 65536), 3, pmod(simhash_hi div 65536, 65536)) AS (chunk_id, chunk)"
        ),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            (
                F.expr("bit_count(a.simhash_hi ^ b.simhash_hi)")
                + F.expr("bit_count(a.simhash_lo ^ b.simhash_lo)")
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)
