"""Training-data pipeline queries: quality rules, sequence packing,
chunking, and embedding centroid analytics.

These extend the reference's clean/filter stage (SURVEY.md O6-O8 —
`/root/reference/Lab2ETL.py` null-filter and constant-column ops) to
the operations a large-scale LLM training-data pipeline needs on top:
Gopher-style rule filtering, GPT-style concat-and-chunk sequence
packing, fixed-size token chunking, and per-cluster embedding
statistics. Everything is built-in Catalyst expressions — no Python in
any hot path; every aggregation is map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wnv_etl_lab2_spark.functions import quality as _Q
from wnv_etl_lab2_spark.functions.chunking import token_windows, token_windows_sql
from wnv_etl_lab2_spark.queries import register
from wnv_etl_lab2_spark.sources.catalog import load_table

# Shared SQL fragments (pasted verbatim into the DuckDB oracles and
# evaluated via F.expr Spark-side where bit-identical arithmetic
# matters; see queries/__init__.py docstring).
_SEQ_LEN = 256  # packing target length, in whitespace tokens
_CHUNK = 32  # chunking window, in whitespace tokens

# Per-rule thresholds interpolated from functions/quality.py so the
# auditable flags and the oracle can never drift from the Spark rules.
_WC_LO, _WC_HI = _Q.WORD_CNT_RANGE
_MWL_LO, _MWL_HI = _Q.MEAN_WORD_LEN_RANGE


@register(
    "quality_rules_filter",
    oracle=f"""
    SELECT doc_id,
           word_cnt,
           ROUND(mean_word_len, 4) AS mean_word_len,
           stop_hits,
           word_cnt BETWEEN {_WC_LO} AND {_WC_HI} AS ok_word_count,
           mean_word_len BETWEEN {_MWL_LO} AND {_MWL_HI} AS ok_mean_len,
           stop_hits >= {_Q.MIN_STOP_HITS} AS ok_stopwords,
           (word_cnt BETWEEN {_WC_LO} AND {_WC_HI})
             AND (mean_word_len BETWEEN {_MWL_LO} AND {_MWL_HI})
             AND stop_hits >= {_Q.MIN_STOP_HITS} AS keep
    FROM (
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS word_cnt,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS mean_word_len,
             CAST(LEN(regexp_extract_all(LOWER(text), '{_Q.STOPWORD_RE}')) AS BIGINT)
               AS stop_hits
      FROM documents
    )
    """,
)
def quality_rules_filter(spark, sf_dir):
    """Gopher-style quality rule filter: per-document word count, mean
    word length, and stopword-hit thresholds, each surfaced as its own
    boolean flag plus the conjunctive ``keep`` decision (so the drop
    REASON is auditable, the way production corpus filters report
    per-rule removal rates). Pure map over the scan — no shuffle; at
    100 TB this is the same single-pass shape as the reference's
    null-filter (O6) with more math per row."""
    from wnv_etl_lab2_spark.functions import quality as Q

    d = load_table(spark, "documents", sf_dir)
    d = d.select(
        "doc_id",
        Q.word_cnt().alias("word_cnt"),
        Q.mean_word_len().alias("_mwl"),
        Q.stop_hits().alias("stop_hits"),
    )
    ok_wc = F.col("word_cnt").between(*Q.WORD_CNT_RANGE)
    ok_ml = F.col("_mwl").between(*Q.MEAN_WORD_LEN_RANGE)
    ok_sw = F.col("stop_hits") >= Q.MIN_STOP_HITS
    return d.select(
        "doc_id",
        "word_cnt",
        F.round("_mwl", 4).alias("mean_word_len"),
        "stop_hits",
        ok_wc.alias("ok_word_count"),
        ok_ml.alias("ok_mean_len"),
        ok_sw.alias("ok_stopwords"),
        (ok_wc & ok_ml & ok_sw).alias("keep"),
    )


@register(
    "sequence_packing",
    oracle=f"""
    SELECT doc_id, source, n_tokens,
           start_token,
           CAST(FLOOR(start_token / {_SEQ_LEN}) AS BIGINT) AS first_chunk,
           CAST(FLOOR((start_token + n_tokens - 1) / {_SEQ_LEN}) AS BIGINT) AS last_chunk,
           CAST(FLOOR((start_token + n_tokens - 1) / {_SEQ_LEN})
                - FLOOR(start_token / {_SEQ_LEN}) + 1 AS BIGINT) AS chunks_spanned
    FROM (
      SELECT doc_id, source,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             -- DuckDB SUM(BIGINT) returns HUGEINT, which pandas renders as
             -- float64 and breaks the driver's representation-sensitive
             -- value hash (0.0 != 0); the CAST pins int64 on both sides.
             CAST(COALESCE(SUM(CAST(LEN(string_split(text, ' ')) AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
      FROM documents
    )
    """,
)
def sequence_packing(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing: within each source
    shard, documents are concatenated in doc_id order and cut every
    ``_SEQ_LEN`` tokens; each document's span is located by a running
    token offset, yielding the first/last training chunk it lands in
    and how many chunk boundaries cross it (the attention-mask /
    document-leakage accounting every packing pipeline needs).

    Scale shape: the running sum partitions by ``source`` — one window
    per shard, never a global single-partition cumsum. At 100 TB the
    shard key is the file/split id, so the window state stays
    per-executor; the alternative two-pass global offset (per-partition
    totals broadcast as offsets) is only needed if a single logical
    stream must span shards."""
    d = load_table(spark, "documents", sf_dir)
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.select("doc_id", "source", n_tokens.alias("n_tokens")).withColumn(
        "start_token", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    first = F.floor(F.col("start_token") / _SEQ_LEN)
    last = F.floor((F.col("start_token") + F.col("n_tokens") - 1) / _SEQ_LEN)
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_token",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("chunks_spanned"),
    )


@register(
    "doc_chunking",
    oracle=f"""
    SELECT doc_id, w_idx AS chunk_id, w_text AS chunk_text,
           w_tokens AS chunk_tokens
    FROM ({token_windows_sql(_CHUNK)})
    """,
)
def doc_chunking(spark, sf_dir):
    """Fixed-size token chunking: each document explodes into
    ``_CHUNK``-token windows (the tokenize-and-split step before
    training or embedding). ``sequence()`` + ``slice()`` keep the whole
    explode inside Catalyst — the per-row fanout is ceil(n/chunk), so
    output size is corpus_tokens/chunk rows regardless of document
    skew, and there is no shuffle at all (pure flatMap over the scan)."""
    d = load_table(spark, "documents", sf_dir)
    return token_windows(d, _CHUNK).select(
        "doc_id",
        F.col("w_idx").alias("chunk_id"),
        F.col("w_text").alias("chunk_text"),
        F.col("w_tokens").alias("chunk_tokens"),
    )


@register(
    "embedding_centroid_stats",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, u.pos AS pos, CAST(u.val AS DOUBLE) AS val
      FROM embeddings,
           LATERAL (SELECT UNNEST(embedding) AS val,
                           generate_subscripts(embedding, 1) AS pos) AS u
    ),
    cent AS (
      SELECT label, pos, AVG(val) AS c FROM dims GROUP BY label, pos
    ),
    cnorm AS (
      SELECT label, SQRT(SUM(c * c)) AS nc FROM cent GROUP BY label
    ),
    per_vec AS (
      SELECT d.vec_id, d.label,
             SUM(d.val * cent.c) AS dot,
             SQRT(SUM(d.val * d.val)) AS nv
      FROM dims d JOIN cent ON d.label = cent.label AND d.pos = cent.pos
      GROUP BY d.vec_id, d.label
    )
    SELECT p.label,
           COUNT(*) AS n_vecs,
           ROUND(AVG(p.dot / (p.nv * n.nc)), 6) AS avg_cos_centroid
    FROM per_vec p JOIN cnorm n ON p.label = n.label
    GROUP BY p.label
    """,
)
def embedding_centroid_stats(spark, sf_dir):
    """Per-cluster embedding cohesion: the element-wise mean centroid
    of each label group and the average cosine of members to their
    centroid — the compactness diagnostic a semantic-dedup / curation
    pipeline runs before pruning.

    Scale shape: the vector column is ``posexplode``d to (label, pos,
    val) rows so the centroid is a plain map-side-combinable
    ``groupBy(label, pos).avg`` — dim x labels partial states per
    executor, never a whole-vector shuffle. Member cosines reuse the
    same exploded relation joined to the (broadcast-sized) centroid
    table; the per-vector dot/norm is again a combinable groupBy. Total
    cost: one explode scan + three low-cardinality aggregations."""
    e = load_table(spark, "embeddings", sf_dir)
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos0", "val0"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("val0").cast("double").alias("val"),
    )
    cent = dims.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    cnorm = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"))
    per_vec = (
        dims.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nv"),
        )
    )
    return (
        per_vec.join(F.broadcast(cnorm), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(F.col("dot") / (F.col("nv") * F.col("nc"))), 6).alias(
                "avg_cos_centroid"
            ),
        )
    )


@register(
    "source_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           ROUND(SQRT(total_tokens) / SUM(SQRT(total_tokens)) OVER (), 6) AS mix_weight
    FROM per_src
    """,
)
def source_mixture_weights(spark, sf_dir):
    """Data-mixture weighting: per-source corpus size and a sqrt-scaled
    sampling weight (the size^alpha temperature reweighting multi-source
    training mixes use, alpha=0.5) normalized over all sources. The
    normalizing window runs over the AGGREGATED frame — one row per
    source — so the single-partition global window touches O(sources)
    rows, never the corpus; at 100 TB that frame is still KBs."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
    )
    w = Window.partitionBy()
    return per_src.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(
            F.sqrt("total_tokens") / F.sum(F.sqrt("total_tokens")).over(w), 6
        ).alias("mix_weight"),
    )


@register(
    "vocab_coverage",
    oracle="""
    WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents),
    vocab AS (SELECT w FROM tok GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 30)
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS BIGINT)
             AS in_vocab,
           ROUND(CAST(SUM(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS coverage
    FROM tok GROUP BY source
    """,
)
def vocab_coverage(spark, sf_dir):
    """Tokenizer-vocabulary coverage: build the top-30 unigram vocab
    corpus-wide (count-desc, word-asc tiebreak — deterministic), then
    measure per source what fraction of its tokens the vocab covers —
    the out-of-vocabulary audit run before committing a tokenizer.

    Scale shape: token counts are map-side-combinable; the vocab is
    top-k over the distinct-word frame (TakeOrdered); the coverage
    pass joins tokens against the BROADCAST vocab (a top-k vocab is
    KBs at any corpus size) — so the corpus is scanned twice and never
    shuffled by token."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(30)
        .select("w", F.lit(1).alias("in_v"))
    )
    joined = tok.join(F.broadcast(vocab), "w", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("in_v"), F.lit(0))).cast("long").alias("in_vocab"),
        F.round(
            F.sum(F.coalesce(F.col("in_v"), F.lit(0))).cast("double") / F.count(F.lit(1)), 6
        ).alias("coverage"),
    )


@register(
    "stable_doc_ids",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS global_id
    FROM documents
    """,
)
def stable_doc_ids(spark, sf_dir):
    """Contiguous deterministic global ids (the zipWithIndex need:
    doc -> dense int id before training) WITHOUT a global
    single-partition sort. Two-phase: rows bucket by a deterministic
    key range (doc_id div bucket_width); per-bucket counts roll into
    running offsets with a window over the BUCKET SUMMARY (O(buckets)
    rows — the only single-partition step); each row's id = its
    bucket's offset + its rank within the bucket. Every corpus-sized
    stage partitions by bucket; compare `monotonically_increasing_id`,
    which is partition-layout-dependent and non-contiguous."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    bucket = (F.col("doc_id") / F.lit(100)).cast("long")
    rows = d.withColumn("_b", bucket)
    counts = rows.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_b", "_off")
    w_in = Window.partitionBy("_b").orderBy("doc_id")
    return (
        rows.join(F.broadcast(offsets), "_b")
        .select(
            "doc_id",
            (F.col("_off") + F.row_number().over(w_in) - 1).alias("global_id"),
        )
    )


@register(
    "groupwise_zscore_arrow",
    oracle="""
    SELECT user_id, event_id,
           ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 4) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    QUALIFY COUNT(*) OVER w > 1
    """,
)
def groupwise_zscore_arrow(spark, sf_dir):
    """Per-group z-score normalization through the Arrow GROUPED-MAP
    path (groupBy().applyInPandas) — the surface a feature-normalizing
    pipeline uses when the per-group math is genuinely imperative.
    Here the math is windowed-SQL-expressible on purpose, so this is
    the rare pandas-path operator with an exact oracle: pandas
    mean/std(ddof=1) must agree with AVG/STDDEV_SAMP window functions
    to 4 decimals. Groups of one row are dropped on both sides (their
    sample std is undefined: NaN in pandas, NULL in SQL — dropping
    beats comparing engine-specific nothings). Scale: one shuffle on
    the group key; each group must fit a worker's Arrow batch — the
    same contract as any grouped-map; the window-function twin is the
    plan to prefer when the math IS expressible."""
    import pandas as pd

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pdf.iloc[0:0][["user_id", "event_id"]].assign(z=0.0)
        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)
        out = pdf[["user_id", "event_id"]].copy()
        out["z"] = ((pdf["value"] - m) / s).round(4)
        return out

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        kernel, "user_id long, event_id long, z double"
    )


@register(
    "grouped_agg_pandas_udaf",
    oracle="""
    SELECT event_type,
           ROUND(EXP(AVG(LN(value))), 4) AS geo_mean_value,
           COUNT(*) AS n_events
    FROM events
    WHERE value > 0
    GROUP BY event_type
    """,
)
def grouped_agg_pandas_udaf(spark, sf_dir):
    """Custom aggregate through the Arrow GROUPED_AGG pandas-UDF path
    (the UDAF surface, completing the sanctioned Python triad next to
    applyInPandas and mapInPandas): geometric mean of positive event
    values per type, computed as exp(mean(log(x))) over each group's
    Arrow batch. The oracle is the same identity in SQL; agreement to
    4 decimals pins numpy's log/exp against DuckDB's. Scale cost,
    stated honestly: unlike a JVM aggregate, a GROUPED_AGG udf does
    NOT combine map-side — the whole group's column crosses the
    shuffle — so the JVM expression EXP(AVG(LN(x))) is the plan to
    prefer whenever the math is expressible; this query exists to keep
    the UDAF surface itself tested."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # explicit GROUPED_AGG eval type: type-hint inference can't resolve
    # the pandas names under `from __future__ import annotations`
    from pyspark.sql.pandas.functions import PandasUDFType

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark refuses to mix GROUPED_AGG UDFs with JVM aggregates in one
    # agg (INVALID_PANDAS_UDF_PLACEMENT), so the count rides the same
    # Arrow path
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def grp_count(v):
        return len(v)

    ev = load_table(spark, "events", sf_dir).where(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.round(geo_mean("value"), 4).alias("geo_mean_value"),
        grp_count("value").alias("n_events"),
    )


@register(
    "ntile_length_buckets",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             NTILE(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bucket
      FROM documents
    )
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY lang, bucket
    """,
)
def ntile_length_buckets(spark, sf_dir):
    """Length-decile bucketing per language — the batch-packing /
    curriculum sharding precursor (group same-length docs so padding
    waste per batch is bounded). NTILE ties are broken by doc_id so
    the assignment is deterministic on both engines.

    Scale shape: one shuffle on lang for the window; per-language
    ordering is the cost (a per-partition sort, NOT a global one).
    Language skew (en >> others) is the known hazard — at corpus
    scale this becomes NTILE within (lang, shard) with shard =
    pmod(doc_id, k), trading exact global deciles for bounded
    partition size; the exact form is registered because the oracle
    must match it bit-for-bit."""
    d = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    # DuckDB's NTILE returns BIGINT while Spark's is int32 — cast so
    # the driver's representation-sensitive value hash sees one type
    b = d.select("lang", "n_chars", F.ntile(10).over(w).cast("long").alias("bucket"))
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@register(
    "upsert_snapshot_merge",
    # MERGE INTO semantics (SCD type 1) expressed engine-portably: the
    # deterministic "updates batch" is derived from orders itself
    # (keys ending in 3 get a status flip and a 10% price bump; a
    # shifted key range arrives as inserts), so both engines build the
    # same batch and the merged snapshot is hash-comparable.
    # No ROUND anywhere: Spark (BigDecimal HALF_UP) and DuckDB round
    # doubles differently within 1 ulp of a .005 boundary (observed at
    # sf0.1); the update bump is +10.00 — pure double addition, which
    # is bit-identical across engines.
    oracle="""
    WITH upd AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice + 10.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 1000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 100 = 7
    )
    SELECT COALESCE(u.o_orderkey, o.o_orderkey) AS o_orderkey,
           COALESCE(u.o_orderstatus, o.o_orderstatus) AS status,
           COALESCE(u.o_totalprice, o.o_totalprice) AS total
    FROM orders o FULL OUTER JOIN upd u USING (o_orderkey)
    """,
)
def upsert_snapshot_merge(spark, sf_dir):
    """MERGE INTO / upsert (SCD type 1) through the shared
    `operators/scd.merge_upsert` operator (anti-join the untouched
    snapshot rows + union the updates — the decomposition Delta/
    Iceberg MERGE executes under the hood): matched keys are
    updated, unmatched update keys are inserts, the rest pass
    through. The oracle expresses the same result as a full-outer
    join with COALESCE-wins — two formulations, one answer. At
    100 TB both sides shuffle on the primary key once (or co-locate
    by bucketing), and a small batch becomes a broadcast join via
    AQE."""
    from wnv_etl_lab2_spark.operators.scd import merge_upsert

    o = load_table(spark, "orders", sf_dir)
    target = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    upd = (
        o.where(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            F.lit("U").alias("status"),
            (F.col("o_totalprice") + 10.0).alias("total"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
                F.lit("N").alias("status"),
                F.col("o_totalprice").alias("total"),
            )
        )
    )
    return merge_upsert(target, upd, "o_orderkey")


@register(
    "scd2_customer_history",
    # SCD2 dimension maintenance: an all-current customer dimension
    # (mktsegment tracked, open since 1992) receives the per-(cust,
    # orderdate) priority changes derived from orders; the oracle
    # re-derives the version chain with window functions. min_by per
    # (key, ts) makes the change batch unique BEFORE the apply, so
    # the operator's dropDuplicates sees no ambiguity.
    oracle="""
    WITH ch0 AS (
      SELECT o_custkey AS c_custkey,
             arg_min(o_orderpriority, o_orderkey) AS trk,
             o_orderdate AS ts
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    ch AS (
      SELECT c_custkey, trk, ts,
             LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS nxt
      FROM ch0
    ),
    first AS (SELECT c_custkey, MIN(ts) AS f FROM ch0 GROUP BY c_custkey),
    -- intervals rendered as VARCHAR: the 9999-12-31 open-end sentinel
    -- overflows nanosecond timestamps in the Arrow->pandas hop on BOTH
    -- engines; the string form ('YYYY-MM-DD HH:MM:SS') is identical
    -- across them and range-free
    vers AS (
      SELECT c.c_custkey, c.c_mktsegment AS trk,
             TIMESTAMP '1992-01-01' AS valid_from, f.f AS valid_to,
             false AS is_current
      FROM customer c JOIN first f USING (c_custkey)
      UNION ALL
      SELECT c.c_custkey, c.c_mktsegment, TIMESTAMP '1992-01-01',
             TIMESTAMP '9999-12-31', true
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM ch0 WHERE ch0.c_custkey = c.c_custkey)
      UNION ALL
      SELECT c_custkey, trk, ts, COALESCE(nxt, TIMESTAMP '9999-12-31'),
             nxt IS NULL
      FROM ch
    )
    SELECT c_custkey, trk,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to,
           is_current
    FROM vers
    """
,
)
def scd2_customer_history(spark, sf_dir):
    """Slowly-changing-dimension type 2 through the shared
    `operators/scd.scd2_apply` operator: the current version of each
    changed customer closes at its earliest change, successive
    changes chain into consecutive [from, to) intervals, only the
    latest stays current, and customers with no orders pass through
    open-ended. Change timestamps are the order dates (TIMESTAMP_NTZ
    — the apply's END_OF_TIME sentinel takes the change column's own
    type). One shuffle on the key; version chaining is a per-key
    window over the small change batch."""
    from wnv_etl_lab2_spark.operators.scd import scd2_apply

    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    start = F.expr("CAST('1992-01-01 00:00:00' AS TIMESTAMP_NTZ)")
    end = F.expr("CAST('9999-12-31 00:00:00' AS TIMESTAMP_NTZ)")
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("trk"),
        start.alias("valid_from"),
        end.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = o.groupBy(
        F.col("o_custkey").alias("c_custkey"), F.col("o_orderdate").alias("change_ts")
    ).agg(F.expr("min_by(o_orderpriority, o_orderkey)").alias("trk"))
    vers = scd2_apply(dim, changes, "c_custkey", "change_ts", ("trk",))
    # string-rendered intervals: see the oracle note (year-9999 open
    # end overflows Arrow ns timestamps on the pandas hop)
    return vers.select(
        "c_custkey",
        "trk",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


# `_metadata` is a Spark file-source hidden column; the driver's fixed
# DuckDB views (`CREATE VIEW t AS SELECT * FROM '<file>'`) cannot see
# file names, so this is rows-only for the driver — but pytest pins it
# EXACTLY against DuckDB `read_parquet(..., filename=true)` over the
# same paths (tests/test_provenance.py).
@register("ingest_provenance")
def ingest_provenance(spark, sf_dir):
    """Ingest manifest audit via the `_metadata` hidden columns: one
    row per catalog table with the physical file it was read from,
    its on-disk size, and the rows it produced — the reference's O22
    row-count logging generalized into a provenance artifact (at
    100 TB: per-input-file lineage for a multi-thousand-split scan,
    the thing you join against the ingest manifest to prove nothing
    was dropped). `_metadata` is resolved inside the scan, so each
    table contributes a count-aggregate over its file scan: ten tiny
    digest-only aggregations unioned, no data shuffle."""
    from wnv_etl_lab2_spark.sources.catalog import TABLES, load_table

    parts = []
    for t in TABLES:
        d = load_table(spark, t, sf_dir)
        parts.append(
            d.select(
                F.lit(t).alias("table_name"),
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.file_size").alias("file_bytes"),
            ).groupBy("table_name", "file_name", "file_bytes")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "arrow_group_trend",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COALESCE(SUM(CASE WHEN value > pv THEN 1 END), 0) AS BIGINT)
             AS n_increasing
    FROM (
        SELECT user_id, value,
               LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        FROM events
    )
    GROUP BY user_id
    """,
)
def arrow_group_trend(spark, sf_dir):
    """Per-user monotone-step count through the RAW-ARROW grouped-map
    path (groupBy().applyInArrow, Spark 4) — the zero-pandas sibling
    of `groupwise_zscore_arrow` that completes the Python API matrix
    (applyInPandas / GROUPED_AGG UDAF / mapInPandas / UDTF /
    applyInArrow): each group arrives as ONE pyarrow.Table, is sorted
    and compared entirely with pyarrow.compute + numpy (no pandas
    object boxing on either hop), and returns a one-row Table. The
    arithmetic is integer counting over exact doubles, so the
    windowed-SQL twin is an exact oracle. Scale contract is the
    grouped-map one: a shuffle on the group key and each group within
    a worker's Arrow batch; the LAG-window twin is the plan when the
    logic is SQL-expressible."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(t: "pa.Table") -> "pa.Table":
        idx = pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
        vals = pc.take(t.column("value"), idx).to_numpy(zero_copy_only=False)
        inc = int((vals[1:] > vals[:-1]).sum()) if len(vals) > 1 else 0
        return pa.table(
            {
                "user_id": pa.array([t.column("user_id")[0].as_py()], pa.int64()),
                "n_events": pa.array([len(vals)], pa.int64()),
                "n_increasing": pa.array([inc], pa.int64()),
            }
        )

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    return ev.groupBy("user_id").applyInArrow(
        kernel, "user_id long, n_events long, n_increasing long"
    )


@register(
    "delta_sql_lifecycle",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, n_chars FROM documents WHERE source <> 'src0'
    ),
    upd AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'de' THEN n_chars + 1 ELSE n_chars END AS n_chars
        FROM base
    ),
    ins AS (
        SELECT doc_id, lang, n_chars FROM upd
        UNION ALL
        SELECT doc_id + 10000000, lang, n_chars FROM upd WHERE lang = 'fr'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM ins GROUP BY lang
    """,
)
def delta_sql_lifecycle(spark, sf_dir):
    """The Delta-style SQL STRING surface as a driver-verified query
    (round 12 — the registry face of `sources/delta_sql.py`): stage
    the documents corpus as a versioned table, then drive DELETE,
    UPDATE, CTAS, and INSERT ... SELECT through SQL strings ONLY, and
    return the final snapshot's per-language (count, char-sum) via a
    SQL SELECT over the same surface. The protocol is deterministic,
    so the oracle replays it as plain ANSI SQL over the input corpus —
    every statement's semantics (snapshot isolation, append vs
    rewrite) is thereby hash-checked end to end, not just unit-tested.
    Same fresh-staging-table lifecycle pattern as `time_travel_audit`
    / `cdf_row_level_audit`."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import create_table

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_dsql_life_")
    try:
        tbl = root + "/documents"
        derived = root + "/derived"
        create_table(d, tbl)
        sql = DeltaSql(spark, {"d": tbl, "top": derived})
        sql.run("DELETE FROM d WHERE source = 'src0'")
        sql.run("UPDATE d SET n_chars = n_chars + 1 WHERE lang = 'de'")
        sql.run("CREATE TABLE top AS SELECT doc_id, text, lang, source, n_chars FROM d WHERE lang = 'fr'")
        sql.run(
            "INSERT INTO d SELECT doc_id + 10000000 AS doc_id, text, lang, "
            "source, n_chars FROM top"
        )
        out = sql.run(
            "SELECT lang, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(n_chars) AS BIGINT) AS chars FROM d GROUP BY lang"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, "lang string, n long, chars long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "merge_clause_matrix",
    oracle="""
    WITH upd AS (
        SELECT lang,
               CASE WHEN lang = 'de' THEN n_chars + 1
                    WHEN lang = 'zh' THEN 0
                    ELSE n_chars END AS n_chars
        FROM documents WHERE lang <> 'fr'
    ),
    ins AS (
        SELECT 'new' AS lang,
               (doc_id + 10000000) % 100 AS n_chars
        FROM documents WHERE lang = 'es'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    GROUP BY lang
    """,
)
def merge_clause_matrix(spark, sf_dir):
    """The GENERAL conditional MERGE as a driver-verified query (round
    12 — the registry face of `merge_into_table`): stage documents as
    a versioned table and run ONE merge exercising the full clause
    matrix — conditional MATCHED DELETE (French docs), conditional
    MATCHED UPDATE (German docs +1 char), NOT MATCHED INSERT
    (synthetic rows derived from the Spanish docs' ids), and NOT
    MATCHED BY SOURCE UPDATE (Chinese docs zeroed — rows the source no
    longer carries). The oracle replays the same matrix as plain ANSI
    SQL over the corpus, so clause ordering, conditions, and
    cross-(t,s) expressions are hash-checked end to end."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        merge_into_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_merge_matrix_")
    try:
        tbl = root + "/documents"
        create_table(d, tbl)
        src = (
            d.where(F.col("lang").isin("de", "fr"))
            .select("doc_id", "lang")
            .unionByName(
                d.where(F.col("lang") == "es").select(
                    (F.col("doc_id") + 10000000).alias("doc_id"),
                    F.lit("new").alias("lang"),
                )
            )
        )
        merge_into_table(
            spark,
            tbl,
            src,
            on="t.doc_id = s.doc_id",
            matched=[
                ("s.lang = 'fr'", "delete", None),
                ("s.lang = 'de'", "update", {"n_chars": "t.n_chars + 1"}),
            ],
            not_matched=[
                (
                    None,
                    {
                        "doc_id": "s.doc_id",
                        "text": "'x'",
                        "lang": "s.lang",
                        "source": "'synthetic'",
                        "n_chars": "s.doc_id % 100",
                    },
                )
            ],
            not_matched_by_source=[
                ("t.lang = 'zh'", "update", {"n_chars": "0"})
            ],
        )
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "copy_into_lifecycle",
    oracle="""
    WITH loaded AS (
        SELECT doc_id, lang, n_chars FROM documents WHERE lang IN ('en', 'de')
        UNION ALL
        SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'fr'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM loaded GROUP BY lang
    """,
)
def copy_into_lifecycle(spark, sf_dir):
    """COPY INTO as a driver-verified query (round 13 — the registry
    face of `sources/versioned.copy_into`): stage a landing zone with
    the en/de documents, COPY it into an empty versioned table, prove
    the re-run is a NO-OP (idempotence is the verb's whole contract —
    the protocol raises here rather than return a wrong-but-plausible
    aggregate), land a second wave (fr docs) in the SAME directory,
    COPY again — only the new files load — and return the final
    snapshot's per-language (count, char-sum). The oracle replays the
    lifecycle as the plain union of the two loaded waves, so the
    ledger semantics (skip = exactly the already-loaded files, never a
    row more or less) are hash-checked end to end, not just
    unit-tested. Same fresh-staging pattern as `delta_sql_lifecycle`."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        copy_into,
        create_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="wnv_copy_into_life_")
    try:
        land = root + "/landing"
        tbl = root + "/tbl"
        d.where(F.col("lang").isin("en", "de")).write.parquet(land)
        create_table(d.where(F.lit(False)), tbl)
        first = copy_into(spark, tbl, land)
        rerun = copy_into(spark, tbl, land)
        if rerun["files_loaded"] != 0 or rerun["version"] is not None:
            raise AssertionError(f"COPY INTO re-run was not a no-op: {rerun}")
        d.where(F.col("lang") == "fr").write.mode("append").parquet(land)
        second = copy_into(spark, tbl, land)
        if second["files_skipped"] != first["files_loaded"]:
            raise AssertionError(
                f"second COPY skipped {second['files_skipped']} files, "
                f"expected exactly the first wave's {first['files_loaded']}"
            )
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "schema_ddl_lifecycle",
    oracle="""
    WITH langs AS (
        SELECT lang,
               CASE WHEN lang = 'de' THEN n_chars + 1 ELSE n_chars END
                 AS n_chars
        FROM documents
    ),
    per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(n_chars) * 2 AS BIGINT) AS dchars
        FROM langs GROUP BY lang
    ),
    ids AS (
        SELECT '__ids__' AS lang,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) * (COUNT(*) + 1) / 2 AS BIGINT) AS chars,
               CAST(COUNT(*) AS BIGINT) AS dchars
        FROM documents
    )
    SELECT * FROM per_lang UNION ALL SELECT * FROM ids
    """,
)
def schema_ddl_lifecycle(spark, sf_dir):
    """The round-13 schema-feature DDL as ONE driver-verified
    lifecycle (registry face of explicit-schema CREATE TABLE, IDENTITY
    allocation, GENERATED recompute, and NOT NULL enforcement): CREATE
    an empty table via the SQL string surface declaring an IDENTITY
    key, a NOT NULL column, and a GENERATED doubled-chars column; load
    the corpus in TWO append waves (src0 first — identity continues
    across waves without collision); UPDATE German docs' n_chars
    (the generated column must recompute); and return per-language
    (count, chars, generated-chars) plus an ``__ids__`` row whose
    chars field is SUM(identity) — dense per-batch allocation makes
    that exactly N(N+1)/2 REGARDLESS of partition layout, so the
    allocator's no-gap/no-collision contract is hash-checked against
    closed-form arithmetic, not just unit-tested."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import append_table, read_table

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars", "source"
    )
    root = tempfile.mkdtemp(prefix="wnv_ddl_life_")
    try:
        tbl = root + "/tbl"
        sql = DeltaSql(spark, {"t": tbl})
        sql.run(
            "CREATE TABLE t ("
            "  rid BIGINT GENERATED ALWAYS AS IDENTITY,"
            "  doc_id BIGINT,"
            "  lang STRING NOT NULL,"
            "  n_chars BIGINT,"
            "  dchars BIGINT GENERATED ALWAYS AS (n_chars * 2)"
            ")"
        )
        append_table(d.where(F.col("source") == "src0").drop("source"), tbl)
        append_table(d.where(F.col("source") != "src0").drop("source"), tbl)
        sql.run("UPDATE t SET n_chars = n_chars + 1 WHERE lang = 'de'")
        out = sql.run(
            "SELECT lang, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(n_chars) AS BIGINT) AS chars, "
            "CAST(sum(dchars) AS BIGINT) AS dchars FROM t GROUP BY lang"
        ).collect()
        snap = read_table(spark, tbl)
        ids = snap.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rid").cast("long").alias("sum_rid"),
        ).collect()[0]
        rows = [(r["lang"], r["n"], r["chars"], r["dchars"]) for r in out]
        rows.append(("__ids__", ids["n"], ids["sum_rid"], ids["n"]))
        return spark.createDataFrame(
            rows, "lang string, n long, chars long, dchars long"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("time_travel_audit")  # filesystem protocol — rows-only; pinned in test_versioned.py
def time_travel_audit(spark, sf_dir):
    """Versioned-table lifecycle audit (round 8, sources/versioned.py):
    CREATE the documents table as a versioned snapshot, MERGE an
    upsert batch (every src0 doc re-scored plus one new doc), OPTIMIZE
    into one file — then read every version's manifest back and return
    (version, op, n_rows, n_files) plus the time-travel row counts
    re-SCANNED from each snapshot's file list. Deterministic: the
    audit numbers depend only on the input corpus and the protocol;
    the staging directory is fresh per invocation and removed after
    the audit rows are materialized (the returned frame is a
    collected-artifact createDataFrame, 3 rows — never a plan over
    the deleted files)."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        create_table,
        latest_version,
        merge_upsert_table,
        optimize_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_time_travel_")
    try:
        tbl = root + "/documents"
        create_table(d, tbl)
        updates = d.where(F.col("source") == "src0").withColumn(
            "text", F.concat(F.lit("v2 "), F.col("text"))
        )
        new_doc = d.orderBy(F.col("doc_id").desc()).limit(1).select(
            (F.col("doc_id") + 1).alias("doc_id"),
            F.lit("brand new doc").alias("text"),
            F.col("lang"),
            F.col("source"),
            F.lit(13).cast("long").alias("n_chars"),
        )
        merge_upsert_table(updates.unionByName(new_doc), tbl, "doc_id")
        optimize_table(spark, tbl, target_files=1)
        rows = []
        for v in range(latest_version(spark, tbl) + 1):
            m = _read_manifest(spark, tbl, v)
            rows.append(
                (
                    v,
                    m["op"],
                    int(m["n_rows"]),
                    len(m["files"]),
                    read_table(spark, tbl, v).count(),
                )
            )
        return spark.createDataFrame(
            rows, "version int, op string, n_rows long, n_files int, scanned_rows long"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "cdf_row_level_audit",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS _commit_version,
           'delete' AS _change_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents WHERE source = 'src0'
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update_preimage', CAST(COUNT(*) AS BIGINT)
    FROM documents WHERE source <> 'src0' AND lang = 'de'
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update_postimage', CAST(COUNT(*) AS BIGINT)
    FROM documents WHERE source <> 'src0' AND lang = 'de'
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'update_preimage', CAST(COUNT(*) AS BIGINT)
    FROM documents WHERE source <> 'src0' AND lang = 'zh'
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'update_postimage', CAST(COUNT(*) AS BIGINT)
    FROM documents WHERE source <> 'src0' AND lang = 'zh'
    """,
)
def cdf_row_level_audit(spark, sf_dir):
    """Row-level Change Data Feed audit (round 11 — the registry face
    of `change_data=True` + `cdf.read_change_data`): CREATE the
    documents corpus as a versioned table, DELETE one source, MERGE a
    re-score of the German docs, and UPDATE the Chinese docs' lengths
    — all three DML verbs committing their EXACT change rows inside
    the version commit — then read the persisted feed back and return
    its (version, change_type) row counts. MERGE-matched and UPDATE
    rows carry the Delta CDF 'update_preimage'/'update_postimage'
    vocabulary, agreeing with the snapshot-diff table_changes API
    (round-12 advisory fix). The protocol is
    deterministic, so the oracle states the expected change set in
    pure SQL over the input corpus: the delete's change file holds
    precisely the src0 rows; the merge's and the update's each hold
    one retraction and one insertion per touched row — O(changed rows)
    end to end, never the O(rewritten files) the file-diff fallback
    would scan.

    The staging table is fresh per invocation and removed after the
    3-row audit frame is collected (same pattern as
    `time_travel_audit`, which pins the manifest lifecycle; this pins
    the change-file lifecycle)."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        delete_from_table,
        merge_upsert_table,
        read_table,
        update_table,
    )

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_cdf_audit_")
    try:
        tbl = root + "/documents"
        create_table(d, tbl)
        delete_from_table(spark, tbl, "source = 'src0'", change_data=True)
        updates = read_table(spark, tbl).where(F.col("lang") == "de").withColumn(
            "text", F.concat(F.lit("rescored "), F.col("text"))
        )
        merge_upsert_table(updates, tbl, "doc_id", change_data=True)
        update_table(
            spark, tbl, {"n_chars": "n_chars + 1"}, "lang = 'zh'", change_data=True
        )
        rows = (
            read_change_data(spark, tbl, 0)
            .groupBy("_commit_version", "_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return spark.createDataFrame(
            [(r["_commit_version"], r["_change_type"], r["n"]) for r in rows],
            "_commit_version long, _change_type string, n long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "dv_delete_audit",
    oracle="""
    SELECT CAST(SUM(CASE WHEN lang <> 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_dv_rows,
           CAST(0 AS BIGINT) AS n_files_rewritten
    FROM documents
    """,
)
def dv_delete_audit(spark, sf_dir):
    """Deletion-vector audit (round 11 — the registry face of
    merge-on-read DELETE): CREATE the documents corpus as a versioned
    table, DELETE the French docs with ``mode='merge_on_read'``, and
    report what the protocol claims: the live row count the DV-applied
    scan returns, the manifest's row accounting, the DV file's own row
    count — and that ZERO data files were rewritten (the delete
    version's file list is byte-identical to its parent's). Every
    number is deterministic from the input corpus, so the oracle
    states the expected values in pure SQL."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        create_table,
        delete_from_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_dv_audit_")
    try:
        tbl = root + "/documents"
        create_table(d, tbl)
        delete_from_table(spark, tbl, "lang = 'fr'", mode="merge_on_read")
        m0 = _read_manifest(spark, tbl, 0)
        m1 = _read_manifest(spark, tbl, 1)
        n_live = read_table(spark, tbl).count()
        assert n_live == m1["n_rows"]  # manifest accounting == DV scan
        n_dv = spark.read.parquet(*m1["dv"]).count()
        rewritten = len(set(m1["files"]) - set(m0["files"]))
        n_deleted = m0["n_rows"] - m1["n_rows"]
        return spark.createDataFrame(
            [(n_live, n_deleted, n_dv, rewritten)],
            "n_live long, n_deleted long, n_dv_rows long, n_files_rewritten long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "partitioned_table_lifecycle",
    oracle="""
    WITH after_del AS (
        SELECT doc_id, lang, n_chars FROM documents
        WHERE NOT (source = 'src0' AND lang <> 'de')
    ),
    after_upd AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'de' THEN n_chars + 1 ELSE n_chars END AS n_chars
        FROM after_del
    ),
    after_ins AS (
        SELECT doc_id, lang, n_chars FROM after_upd
        UNION ALL
        SELECT doc_id + 10000000, lang, n_chars FROM after_upd WHERE lang = 'fr'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM after_ins GROUP BY lang
    """,
)
def partitioned_table_lifecycle(spark, sf_dir):
    """PARTITIONED versioned tables as a driver-verified query (round
    13 — r12 verdict #2, the registry face of
    ``create_table(partition_by=...)``): stage documents as a
    hive-partitioned versioned table (partitioned by lang), run DML
    across partitions (a mixed-predicate DELETE, a partition-scoped
    UPDATE, an APPEND into one partition), then compute the per-lang
    rollup by UNIONING one PARTITION-PRUNED read per language — every
    output row flows through `read_table(partition_filter=...)`, so the
    driver's hash check verifies the pruning path end to end (a file
    wrongly pruned or leaked would change the numbers). The oracle
    replays the lifecycle as plain SQL. Pruning cost model: each
    filtered read lists the snapshot's file names driver-side and scans
    only the matching hive dir — at 100 TB a one-partition read is
    O(partition), and the union here is O(distinct langs) plan nodes
    over disjoint file sets (no file read twice)."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        create_table,
        delete_from_table,
        read_table,
        update_table,
    )

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_part_life_")
    try:
        tbl = root + "/documents"
        create_table(d, tbl, partition_by=("lang",))
        delete_from_table(spark, tbl, "source = 'src0' AND lang <> 'de'")
        update_table(spark, tbl, {"n_chars": "n_chars + 1"}, "lang = 'de'")
        fr = read_table(spark, tbl, partition_filter={"lang": "fr"})
        append_table(
            fr.select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            ),
            tbl,
        )
        langs = [r["lang"] for r in d.select("lang").distinct().collect()]
        per_lang = None
        for lang in sorted(langs):
            part = (
                read_table(spark, tbl, partition_filter={"lang": lang})
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("n_chars").cast("long").alias("chars"),
                )
            )
            per_lang = part if per_lang is None else per_lang.unionByName(part)
        rows = per_lang.collect()
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "column_mapping_lifecycle",
    oracle="""
    WITH upd AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'es' THEN n_chars + 2 ELSE n_chars END
                   AS size_chars
        FROM documents
    ),
    ins AS (
        SELECT lang, size_chars, CAST(NULL AS VARCHAR) AS flag FROM upd
        UNION ALL
        SELECT lang, size_chars, 'dup' AS flag FROM upd WHERE lang = 'de'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(size_chars) AS BIGINT) AS chars,
           CAST(COUNT(flag) AS BIGINT) AS flagged
    FROM ins GROUP BY lang
    """,
)
def column_mapping_lifecycle(spark, sf_dir):
    """METADATA-ONLY column DDL as a driver-verified query (round 13 —
    r12 verdict #3, the registry face of the column map): stage
    documents as a versioned table, RENAME n_chars -> size_chars
    (manifest-only; the stable physical name keeps every existing file
    readable), UPDATE through the new name, metadata-DROP source,
    metadata-ADD a flag column (null backfill), APPEND rows that
    populate it, and aggregate through the mapped names. The oracle
    replays the same lifecycle over the raw corpus, so the rename
    indirection, the drop projection, and the add backfill are all
    hash-checked — a map that leaked a physical name or resurrected a
    dropped column would change the result. Every DDL step here is
    O(manifest) at any table size; only the UPDATE and APPEND touch
    data."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        add_column,
        append_table,
        create_table,
        drop_column,
        read_table,
        rename_column,
        update_table,
    )

    d = load_table(spark, "documents", sf_dir)
    root = tempfile.mkdtemp(prefix="wnv_cmap_life_")
    try:
        tbl = root + "/documents"
        create_table(d, tbl)
        rename_column(spark, tbl, "n_chars", "size_chars")  # metadata
        update_table(
            spark, tbl, {"size_chars": "size_chars + 2"}, "lang = 'es'"
        )
        drop_column(spark, tbl, "source")  # metadata: tombstoned
        add_column(spark, tbl, "flag", "string")  # metadata: null backfill
        de = read_table(spark, tbl).where(F.col("lang") == "de")
        append_table(
            de.select(
                (F.col("doc_id") + 20000000).alias("doc_id"),
                "text", "lang", "size_chars",
                F.lit("dup").alias("flag"),
            ),
            tbl,
        )
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("size_chars").cast("long").alias("chars"),
                F.count("flag").cast("long").alias("flagged"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"], r["flagged"]) for r in rows],
            "lang string, n long, chars long, flagged long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "type_widening_lifecycle",
    oracle="""
    WITH waves AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE source = 'src0'
        UNION ALL
        SELECT lang, CAST(n_chars AS BIGINT) + 3000000000 AS n_chars
        FROM documents WHERE source <> 'src0'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM waves GROUP BY lang
    """,
)
def type_widening_lifecycle(spark, sf_dir):
    """Metadata-only TYPE WIDENING as a driver-verified lifecycle
    (round 14 — registry face of `sources/versioned.alter_column_type`,
    r13 verdict ask #4): CREATE a versioned table from the src0 wave
    with n_chars declared INT, widen it to BIGINT via the SQL verb —
    the protocol raises here if the commit touched ANY data file or
    forgot the type_widening feature stamp — then append the remaining
    docs with n_chars pushed past INT range (+3e9, impossible to store
    narrow), and return per-language (count, sum). The final aggregate
    scans MIXED file generations (int32 files from wave 1, int64 from
    wave 2) through the explicit up-converting read schema, so the
    whole widened-read path is hash-checked against DuckDB replaying
    the two waves arithmetically."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        _tip,
        append_table,
        create_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir).select("lang", "n_chars", "source")
    root = tempfile.mkdtemp(prefix="wnv_widen_life_")
    try:
        tbl = root + "/tbl"
        create_table(
            d.where(F.col("source") == "src0").select(
                "lang", F.col("n_chars").cast("int").alias("n_chars")
            ),
            tbl,
        )
        files_before = _read_manifest(spark, tbl, 0)["files"]
        DeltaSql(spark, {"t": tbl}).run(
            "ALTER TABLE t ALTER COLUMN n_chars TYPE BIGINT"
        )
        m = _tip(spark, tbl)[1]
        if m["files"] != files_before:
            raise AssertionError("type widening rewrote data files")
        if "type_widening" not in m.get("features", []):
            raise AssertionError(f"feature stamp missing: {m.get('features')}")
        append_table(
            d.where(F.col("source") != "src0").select(
                "lang",
                (F.col("n_chars") + F.lit(3_000_000_000)).alias("n_chars"),
            ),
            tbl,
        )
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "replace_deep_clone_lifecycle",
    oracle="""
    WITH clone AS (
        SELECT 'clone' AS role, lang,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE lang = 'en' GROUP BY lang
    ), source AS (
        SELECT 'source' AS role, lang,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE lang = 'de' GROUP BY lang
    )
    SELECT * FROM clone UNION ALL SELECT * FROM source
    """,
)
def replace_deep_clone_lifecycle(spark, sf_dir):
    """DEEP CLONE + CREATE OR REPLACE as one driver-verified lifecycle
    (round 14 — registry face of `clone_table(deep=True)` and
    `replace_table`, r13 verdict ask #5): CREATE the source table from
    the English docs, DEEP CLONE it (the clone materializes its own
    files — the protocol raises here if any clone file still points
    into the source dir), atomically REPLACE the source with the
    German docs via CREATE OR REPLACE ... AS SELECT (one commit — the
    protocol raises if more than one version landed), VACUUM the
    source with zero retention so every English file it owned is
    GONE, and return per-role (count, chars): the clone must still
    read the full English wave from its own copies while the source
    reads German. The oracle replays both sides from the corpus."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        clone_table,
        create_table,
        latest_version,
        read_table,
        vacuum_table,
    )

    d = load_table(spark, "documents", sf_dir).select("lang", "n_chars")
    root = tempfile.mkdtemp(prefix="wnv_clone_life_")
    try:
        src, cl = root + "/src", root + "/clone"
        create_table(d.where(F.col("lang") == "en"), src)
        clone_table(spark, src, cl, deep=True)
        if any("/src/" in f for f in _read_manifest(spark, cl, 0)["files"]):
            raise AssertionError("deep clone still references source files")
        d.where(F.col("lang") == "de").createOrReplaceTempView(
            "_r14_clone_life_de"
        )
        before = latest_version(spark, src)
        DeltaSql(spark, {"src": src}).run(
            "CREATE OR REPLACE TABLE src AS "
            "SELECT lang, n_chars FROM _r14_clone_life_de"
        )
        after = latest_version(spark, src)
        if after != before + 1:
            raise AssertionError(
                f"REPLACE was not one atomic commit: v{before} -> v{after}"
            )
        vacuum_table(spark, src, keep_last=1, retain_hours=0)
        rows = []
        for role, tbl in (("clone", cl), ("source", src)):
            got = (
                read_table(spark, tbl)
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("n_chars").cast("long").alias("chars"),
                )
                .collect()
            )
            rows.extend((role, r["lang"], r["n"], r["chars"]) for r in got)
        return spark.createDataFrame(
            rows, "role string, lang string, n long, chars long"
        )
    finally:
        spark.catalog.dropTempView("_r14_clone_life_de")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "convert_in_place_lifecycle",
    oracle="""
    WITH appended AS (
        SELECT lang, n_chars FROM documents
        UNION ALL
        SELECT lang, n_chars FROM documents WHERE lang = 'de'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM appended WHERE n_chars >= 200 GROUP BY lang
    """,
)
def convert_in_place_lifecycle(spark, sf_dir):
    """CONVERT-TO-DELTA-style IN-PLACE ADOPTION as a driver-verified
    lifecycle (round 15 — registry face of
    `sources/versioned.convert_to_versioned`, r14 verdict ask #3):
    write the documents as a PLAIN hive-partitioned parquet directory
    (no log — the migration starting point every real lakehouse
    adoption faces), CONVERT it via the SQL verb — the protocol raises
    here if the v0 manifest lists anything but the pre-existing files
    (zero-copy is the whole point) or mis-discovers the hive layout —
    then run normal table life on the adopted files: APPEND the German
    docs, merge-on-read DELETE the short ones (deletion vectors over
    files the engine never wrote), and aggregate per language. The
    oracle replays append+delete arithmetically over the raw corpus,
    so adopted-file reads, partition re-attachment from pre-existing
    hive paths, and DVs pointing at adopted files are all
    hash-checked."""
    import os
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        append_table,
        delete_from_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="wnv_convert_life_")
    try:
        raw = root + "/raw"
        d.write.partitionBy("lang").parquet(raw)
        pre = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(raw)
            for f in fs
            if f.endswith(".parquet")
        )
        DeltaSql(spark, {}).run(
            f"CONVERT TO VERSIONED parquet.`{raw}` PARTITIONED BY (lang)"
        )
        m = _read_manifest(spark, raw, 0)
        adopted = sorted(f.replace("file:", "") for f in m["files"])
        if adopted != pre or m["op"] != "convert":
            raise AssertionError("conversion was not zero-copy in-place")
        if m.get("partition_by") != ["lang"]:
            raise AssertionError(
                f"hive layout mis-discovered: {m.get('partition_by')}"
            )
        append_table(
            read_table(spark, raw, 0).where(F.col("lang") == "de"), raw
        )
        delete_from_table(spark, raw, "n_chars < 200", mode="merge_on_read")
        rows = (
            read_table(spark, raw)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "column_defaults_lifecycle",
    oracle="""
    WITH seeded AS (
        SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0
    ), wave2 AS (
        SELECT doc_id + 10000000 AS doc_id, 'und' AS lang, n_chars
        FROM documents WHERE doc_id % 3 = 1
    ), wave3 AS (
        SELECT doc_id + 20000000 AS doc_id, lang,
               CAST(-1 AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 3 = 2
    ), allr AS (
        SELECT * FROM seeded
        UNION ALL SELECT * FROM wave2
        UNION ALL SELECT * FROM wave3
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM allr GROUP BY lang
    """,
)
def column_defaults_lifecycle(spark, sf_dir):
    """Column DEFAULT values as a driver-verified lifecycle (round 15
    — registry face of `sources/versioned.set_column_default`, r14
    verdict ask #4): CREATE a table declaring ``lang STRING DEFAULT
    'und'`` and ``n_chars BIGINT DEFAULT -1`` in one commit, seed it
    with a full-column wave, then exercise both write-expansion fill
    sites — an INSERT with a column list OMITTING lang (fills 'und')
    and a MERGE whose NOT MATCHED INSERT omits n_chars (fills -1) —
    and aggregate per language. The oracle replays the three waves
    with the default literals spelled out, so a fill that regressed
    to null (or leaked into updates) changes the counts/sums and
    hash-mismatches. DDL is metadata-only; only the three data waves
    touch files."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        merge_into_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="wnv_defaults_life_")
    try:
        tbl = root + "/tbl"
        sql = DeltaSql(spark, {"t": tbl})
        sql.run(
            "CREATE TABLE t (doc_id BIGINT, lang STRING DEFAULT 'und', "
            "n_chars BIGINT DEFAULT -1)"
        )
        append_table(d.where(F.col("doc_id") % 3 == 0), tbl)
        d.where(F.col("doc_id") % 3 == 1).select(
            (F.col("doc_id") + 10000000).alias("doc_id"), "n_chars"
        ).createOrReplaceTempView("_r15_defaults_w2")
        sql.run(
            "INSERT INTO t (doc_id, n_chars) "
            "SELECT doc_id, n_chars FROM _r15_defaults_w2"
        )
        merge_into_table(
            spark,
            tbl,
            d.where(F.col("doc_id") % 3 == 2).select(
                (F.col("doc_id") + 20000000).alias("doc_id"), "lang"
            ),
            on="t.doc_id = s.doc_id",
            not_matched=[(None, {"doc_id": "s.doc_id", "lang": "s.lang"})],
        )
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        spark.catalog.dropTempView("_r15_defaults_w2")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "sql_transaction_lifecycle",
    oracle="""
    WITH docs_final AS (
        SELECT lang FROM documents WHERE lang IN ('en', 'de')
    )
    SELECT 'docs' AS side, lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM docs_final GROUP BY lang
    UNION ALL
    SELECT 'stats' AS side, lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM docs_final GROUP BY lang
    """,
)
def sql_transaction_lifecycle(spark, sf_dir):
    """SQL-surface multi-table transactions as a driver-verified
    lifecycle (round 15 — registry face of BEGIN TRANSACTION/COMMIT/
    ROLLBACK over `sources/transactions.py`, r14 verdict ask #6):
    seed a docs table with the English corpus, then in ONE transaction
    append the German docs AND overwrite a stats table with the
    combined per-language counts — committed atomically (the protocol
    raises here if either table's count is visible before COMMIT) —
    then stage a third wave (French) and ROLL IT BACK. The oracle
    computes both tables' final states from the corpus: a leaked
    pre-commit write, a lost half of the transaction, or a rollback
    that landed all change the counts and hash-mismatch."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import read_table

    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    root = tempfile.mkdtemp(prefix="wnv_sqltxn_life_")
    try:
        docs, stats = root + "/docs", root + "/stats"
        sql = DeltaSql(spark, {"docs": docs, "stats": stats})
        sql.run("CREATE TABLE docs (doc_id BIGINT, lang STRING)")
        sql.run("CREATE TABLE stats (lang STRING, n BIGINT)")
        d.where(F.col("lang") == "en").createOrReplaceTempView(
            "_r15_txn_en"
        )
        sql.run("INSERT INTO docs SELECT doc_id, lang FROM _r15_txn_en")

        d.where(F.col("lang") == "de").createOrReplaceTempView(
            "_r15_txn_de"
        )
        # the combined counts the post-txn stats table must hold,
        # computed from the corpus (not from docs — the txn hasn't
        # committed yet, and reading docs here would see only 'en')
        d.where(F.col("lang").isin("en", "de")).groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).createOrReplaceTempView("_r15_txn_counts")
        sql.run("BEGIN TRANSACTION")
        sql.run("INSERT INTO docs SELECT doc_id, lang FROM _r15_txn_de")
        sql.run("INSERT OVERWRITE stats SELECT lang, n FROM _r15_txn_counts")
        if read_table(spark, docs).where(F.col("lang") == "de").count():
            raise AssertionError("staged txn write visible before COMMIT")
        sql.run("COMMIT")

        d.where(F.col("lang") == "fr").createOrReplaceTempView(
            "_r15_txn_fr"
        )
        sql.run("BEGIN TRANSACTION")
        sql.run("INSERT INTO docs SELECT doc_id, lang FROM _r15_txn_fr")
        sql.run("ROLLBACK")

        docs_rows = (
            read_table(spark, docs)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        )
        stats_rows = read_table(spark, stats).collect()
        return spark.createDataFrame(
            [("docs", r["lang"], r["n"]) for r in docs_rows]
            + [("stats", r["lang"], r["n"]) for r in stats_rows],
            "side string, lang string, n long",
        )
    finally:
        for v in ("_r15_txn_en", "_r15_txn_de", "_r15_txn_counts", "_r15_txn_fr"):
            spark.catalog.dropTempView(v)
        shutil.rmtree(root, ignore_errors=True)


@register(
    "fsck_repair_lifecycle",
    oracle="""
    WITH survivors AS (
        SELECT lang, n_chars FROM documents WHERE lang <> 'de'
        UNION ALL
        SELECT lang, n_chars FROM documents WHERE lang = 'fr'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM survivors GROUP BY lang
    """,
)
def fsck_repair_lifecycle(spark, sf_dir):
    """FSCK REPAIR TABLE as a driver-verified lifecycle (round 15 —
    registry face of `sources/versioned.fsck_repair_table`): stage the
    documents as a hive-partitioned versioned table, delete the German
    partition's data files OUT-OF-BAND (the object-store-lifecycle /
    manual-rm accident every operator eventually meets — scans now die
    on missing splits), FSCK via the SQL verb — the protocol raises
    here if the repair failed to commit or left the table unreadable —
    then APPEND the French docs again on the repaired snapshot and
    aggregate per language. The oracle computes the honest post-loss
    state (everything but 'de', plus the re-appended 'fr' wave) from
    the raw corpus: a repair that dropped too much, too little, or
    mis-counted rows hash-mismatches."""
    import os
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        create_table,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="wnv_fsck_life_")
    try:
        tbl = root + "/tbl"
        create_table(d, tbl, partition_by=["lang"])
        victims = [
            os.path.join(r, f)
            for r, _, fs_ in os.walk(tbl)
            for f in fs_
            if f.endswith(".parquet") and "lang=de" in os.path.join(r, f)
        ]
        if not victims:
            raise AssertionError("no German partition files to lose")
        for v in victims:
            os.remove(v)
        row = DeltaSql(spark, {"t": tbl}).run("FSCK REPAIR TABLE t").collect()[0]
        if row.version != 1 or row.n_missing != len(victims):
            raise AssertionError(
                f"repair did not commit the expected loss: {row}"
            )
        append_table(
            d.where(F.col("lang") == "fr").select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                "lang",
                "n_chars",
            ),
            tbl,
        )
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "txn_dml_lifecycle",
    oracle="""
    WITH doomed AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents WHERE n_chars < 200 GROUP BY lang
    ), kept AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END
                   AS n_chars
        FROM documents WHERE n_chars >= 200
    ), merged AS (
        -- txn 3's chained MERGE; DELETE: fr rows get bumped past the
        -- delete threshold by the merge, so none survives; the
        -- merge-inserted sentinel row does
        SELECT doc_id, lang, n_chars FROM kept WHERE lang <> 'fr'
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS doc_id, 'zz' AS lang,
               CAST(50 AS BIGINT) AS n_chars
    )
    SELECT 'corpus' AS side, lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM merged GROUP BY lang
    UNION ALL
    SELECT 'audit' AS side, lang, n, CAST(NULL AS BIGINT) AS chars
    FROM doomed WHERE n >= 5
    """,
)
def txn_dml_lifecycle(spark, sf_dir):
    """Transactional DML as a driver-verified lifecycle (round 16 —
    registry face of r15 verdict "what's missing" #1): the verdict's
    own scenario — DELETE from one table and INSERT into another,
    atomically. Seed a corpus table with the documents plus an empty
    audit table, then in ONE transaction record the doomed rows'
    per-language counts into audit (statement-time snapshot) and
    DELETE them from corpus — the protocol raises here if the delete
    is visible before COMMIT. A second transaction UPDATEs the German
    rows and DELETEs small audit groups; a third (round 17 — MERGE
    composed into same-table chains, r16 verdict "what's missing" #2)
    runs MERGE + DELETE on corpus in ONE transaction: the merge bumps
    every French row past a threshold and inserts a sentinel, the
    chained DELETE then removes everything past the threshold — the
    protocol asserts the pair landed as ONE version with txn_ops
    ['merge', 'delete']. A fourth stages a delete-everything and ROLLS
    BACK. The oracle replays every surviving effect arithmetically
    from the raw corpus: a half-landed transaction, a leaked
    pre-commit write, a merge that missed the prior delete's effects,
    or a rollback that landed all change the counts and
    hash-mismatch."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        latest_version,
        read_table,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="wnv_txndml_life_")
    try:
        corpus, audit = root + "/corpus", root + "/audit"
        sql = DeltaSql(spark, {"corpus": corpus, "audit": audit})
        sql.run("CREATE TABLE corpus (doc_id BIGINT, lang STRING, n_chars BIGINT)")
        sql.run("CREATE TABLE audit (lang STRING, n BIGINT)")
        d.createOrReplaceTempView("_r16_txndml_docs")
        sql.run("INSERT INTO corpus SELECT * FROM _r16_txndml_docs")
        n_before = read_table(spark, corpus).count()

        # txn 1: audit the doomed rows, then delete them — atomically
        sql.run("BEGIN TRANSACTION")
        sql.run(
            "INSERT INTO audit SELECT lang, COUNT(*) AS n FROM corpus "
            "WHERE n_chars < 200 GROUP BY lang"
        )
        sql.run("DELETE FROM corpus WHERE n_chars < 200")
        if read_table(spark, corpus).count() != n_before:
            raise AssertionError("staged txn DELETE visible before COMMIT")
        sql.run("COMMIT")

        # txn 2: UPDATE one table + DELETE from the other
        sql.run("BEGIN TRANSACTION")
        sql.run("UPDATE corpus SET n_chars = n_chars + 1000 WHERE lang = 'de'")
        sql.run("DELETE FROM audit WHERE n < 5")
        sql.run("COMMIT")

        # txn 3 (round 17): MERGE + DELETE on ONE table compose as a
        # statement chain — the merge bumps the French rows past the
        # threshold and inserts a sentinel; the chained delete sees
        # the merge's effects and removes the bumped rows. ONE atomic
        # rewrite version.
        v_before = latest_version(spark, corpus)
        d.where(
            (F.col("lang") == "fr") & (F.col("n_chars") >= 200)
        ).select(
            "doc_id", "lang", (F.col("n_chars") + 200000).alias("n_chars")
        ).unionByName(
            spark.createDataFrame(
                [(-1, "zz", 50)], "doc_id long, lang string, n_chars long"
            )
        ).createOrReplaceTempView("_r17_txndml_upd")
        sql.run("BEGIN TRANSACTION")
        sql.run(
            "MERGE INTO corpus USING _r17_txndml_upd AS u "
            "ON corpus.doc_id = u.doc_id "
            "WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        sql.run("DELETE FROM corpus WHERE n_chars > 100000")
        sql.run("COMMIT")
        v_after = latest_version(spark, corpus)
        if v_after != v_before + 1:
            raise AssertionError(
                "chained MERGE;DELETE did not land as ONE version"
            )
        if _read_manifest(spark, corpus, v_after).get("txn_ops") != [
            "merge", "delete",
        ]:
            raise AssertionError("chain did not record its statement ops")

        # txn 4: stage a catastrophe, roll it back
        sql.run("BEGIN TRANSACTION")
        sql.run("DELETE FROM corpus")
        sql.run("ROLLBACK")

        corpus_rows = (
            read_table(spark, corpus)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("chars"),
            )
            .collect()
        )
        audit_rows = read_table(spark, audit).collect()
        return spark.createDataFrame(
            [("corpus", r["lang"], r["n"], r["chars"]) for r in corpus_rows]
            + [("audit", r["lang"], r["n"], None) for r in audit_rows],
            "side string, lang string, n long, chars long",
        )
    finally:
        spark.catalog.dropTempView("_r16_txndml_docs")
        spark.catalog.dropTempView("_r17_txndml_upd")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "sql_view_lifecycle",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 10 <> 0
    ), big AS (
        SELECT o_custkey, o_totalprice FROM t
        WHERE o_orderstatus = 'O' AND o_totalprice > 100000
    )
    SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM big GROUP BY 1
    """,
)
def sql_view_lifecycle(spark, sf_dir):
    """SQL views as a driver-verified lifecycle (round 16 — registry
    face of r15 verdict "what's missing" #2): seed an orders table,
    CREATE a view over it and a second view OVER THE FIRST, DELETE
    rows from the base table — a view is VIRTUAL, so both views must
    reflect the post-delete snapshot — then aggregate through the
    nested view. The definitions persist through ``view_dir``: a
    SECOND catalog instance over the same directory re-reads them and
    must produce the identical frame (asserted in-query). CREATE OR
    REPLACE, ALTER VIEW ... AS (round 17 — redefinition that REFUSES a
    missing view), SHOW CREATE VIEW (round 17 — whose output
    re-executed must reproduce an identical view, asserted in-query),
    and DROP VIEW exercise the remaining DDL. The oracle replays the
    delete + both view predicates inline — a view that pinned a stale
    snapshot, dropped its predicate, or survived its DROP changes the
    rows and hash-mismatches."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    root = tempfile.mkdtemp(prefix="wnv_view_life_")
    try:
        tbl, vdir = root + "/orders_t", root + "/_views"
        sql = DeltaSql(spark, {"orders_t": tbl}, view_dir=vdir)
        o.createOrReplaceTempView("_r16_view_orders")
        sql.run(
            "CREATE TABLE orders_t AS SELECT o_orderkey, o_custkey, "
            "o_totalprice, o_orderstatus FROM _r16_view_orders"
        )
        sql.run(
            "CREATE VIEW open_orders AS SELECT o_orderkey, o_custkey, "
            "o_totalprice FROM orders_t WHERE o_orderstatus = 'O'"
        )
        # replaced immediately: the REPLACE definition is the live one
        sql.run(
            "CREATE VIEW big_open AS SELECT * FROM open_orders"
        )
        sql.run(
            "CREATE OR REPLACE VIEW big_open AS SELECT o_custkey, "
            "o_totalprice FROM open_orders WHERE o_totalprice > 50000"
        )
        # ALTER VIEW (round 17): redefinition of an EXISTING view —
        # this tightened threshold is the one the oracle replays
        sql.run(
            "ALTER VIEW big_open AS SELECT o_custkey, "
            "o_totalprice FROM open_orders WHERE o_totalprice > 100000"
        )
        # SHOW CREATE VIEW round-trips: its output re-executes to an
        # IDENTICAL definition (asserted against the catalog)
        stmt = sql.run("SHOW CREATE VIEW big_open").head()["createtab_stmt"]
        defn_before = dict(
            (r.name, r.definition)
            for r in sql.run("SHOW VIEWS").collect()
        )["big_open"]
        sql.run(stmt)
        defn_after = dict(
            (r.name, r.definition)
            for r in sql.run("SHOW VIEWS").collect()
        )["big_open"]
        if defn_after != defn_before:
            raise AssertionError("SHOW CREATE VIEW did not round-trip")
        sql.run("CREATE VIEW doomed AS SELECT 1 AS one FROM orders_t")
        sql.run("DROP VIEW doomed")
        # views are virtual: this delete must show through both layers
        sql.run("DELETE FROM orders_t WHERE o_orderkey % 10 = 0")
        q = (
            "SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "ROUND(SUM(o_totalprice), 2) AS revenue "
            "FROM big_open GROUP BY 1"
        )
        rows = sorted(sql.run(q).collect())
        # persistence: a fresh catalog over the same view_dir re-reads
        # the definitions and answers identically
        sql2 = DeltaSql(spark, {"orders_t": tbl}, view_dir=vdir)
        if sorted(sql2.run(q).collect()) != rows:
            raise AssertionError("persisted views did not round-trip")
        if {r.name for r in sql2.run("SHOW VIEWS").collect()} != {
            "open_orders", "big_open",
        }:
            raise AssertionError("view catalog state drifted")
        return spark.createDataFrame(
            rows, "bucket long, n long, revenue double"
        )
    finally:
        spark.catalog.dropTempView("_r16_view_orders")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "analyze_table_lifecycle",
    oracle="""
    WITH probe AS (
        SELECT CAST(FLOOR(MAX(l_orderkey) / 4) AS BIGINT) AS hi,
               (SELECT MIN(l_partkey) FROM lineitem) AS pk
        FROM lineitem
    )
    SELECT 'range' AS side,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem, probe WHERE l_orderkey <= probe.hi
    UNION ALL
    SELECT 'point' AS side,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem, probe WHERE l_partkey = probe.pk
    """,
)
def analyze_table_lifecycle(spark, sf_dir):
    """ANALYZE TABLE as a driver-verified lifecycle (round 16 —
    registry face of r15 verdict "what's missing" #3, the SQL spelling
    of `collect_stats` / `collect_blooms`): stage the lineitems as
    four appends of DISJOINT l_orderkey ranges (so per-file min/max
    are tight), turn on range skipping with ``ANALYZE TABLE ...
    COMPUTE STATISTICS`` and point-lookup skipping with ``... COMPUTE
    BLOOM FILTERS``, then run a range read and a point read through
    the pruned readers. The protocol raises here unless the recorded
    stats would actually SKIP files for the range probe (the pruning
    the verb exists to enable); the oracle replays both probes over
    the raw lineitem — stale stats or an over-eager prune drop rows
    and hash-mismatch."""
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        append_table,
        create_table,
        read_table_bloom_pruned,
        read_table_pruned,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    mx, pk = li.agg(
        F.max("l_orderkey"), F.min("l_partkey")
    ).collect()[0]
    hi = int(mx) // 4
    root = tempfile.mkdtemp(prefix="wnv_analyze_life_")
    try:
        tbl = root + "/tbl"
        bounds = [0, hi, hi * 2, hi * 3, int(mx)]
        create_table(
            li.where(F.col("l_orderkey") <= bounds[1]), tbl
        )
        for lo, up in zip(bounds[1:], bounds[2:]):
            append_table(
                li.where(
                    (F.col("l_orderkey") > lo) & (F.col("l_orderkey") <= up)
                ),
                tbl,
            )
        sql = DeltaSql(spark, {"t": tbl})
        v = sql.run("ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS l_orderkey")
        m = _read_manifest(spark, tbl, v)
        stats = m.get("stats") or {}
        files = m["files"]
        overlapping = [
            f
            for f in files
            if "l_orderkey" not in stats.get(f, {})
            or not (
                stats[f]["l_orderkey"][1] < 0
                or stats[f]["l_orderkey"][0] > hi
            )
        ]
        if not stats or len(overlapping) >= len(files):
            raise AssertionError(
                "ANALYZE stats would not skip any file for the range probe"
            )
        sql.run("ANALYZE TABLE t COMPUTE BLOOM FILTERS FOR COLUMNS l_partkey")
        rng = read_table_pruned(spark, tbl, "l_orderkey", 0, hi).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        ).collect()[0]
        pnt = read_table_bloom_pruned(spark, tbl, "l_partkey", pk).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        ).collect()[0]
        return spark.createDataFrame(
            [("range", rng["n"], float(rng["qty"])),
             ("point", pnt["n"], float(pnt["qty"]))],
            "side string, n long, qty double",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "checkpoint_resolution_lifecycle",
    oracle="""
    SELECT 'all' AS side, lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'pruned_de' AS side, lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE lang = 'de' GROUP BY lang
    """,
)
def checkpoint_resolution_lifecycle(spark, sf_dir):
    """Parquet checkpoints as a driver-verified lifecycle (round 16 —
    registry face of r15 verdict "what's missing" #4): stream the
    documents into a hive-partitioned table as TWELVE appends — past
    the CHECKPOINT_EVERY cadence, so snapshot resolution crosses a
    columnar checkpoint read through the executors (the protocol
    raises here if the parquet checkpoint directory never appeared) —
    then read the full snapshot AND a partition-filtered slice (the
    path that pushes the filter INTO the checkpoint scan), VACUUM away
    the early manifests (resolution now depends on the checkpoint
    alone), and assert the post-vacuum reads are identical. The
    oracle recomputes both reads from the raw corpus: a checkpoint
    that dropped files, double-listed an add, or mis-pruned a
    partition changes counts and hash-mismatches."""
    import os
    import shutil
    import tempfile

    from wnv_etl_lab2_spark.sources.versioned import (
        _ckpt_parquet_dir,
        append_table,
        create_table,
        latest_version,
        read_table,
        vacuum_table,
        CHECKPOINT_EVERY,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="wnv_ckpt_life_")
    try:
        tbl = root + "/tbl"
        create_table(
            d.where(F.col("doc_id") % 12 == 0), tbl, partition_by=["lang"]
        )
        for i in range(1, 12):
            append_table(d.where(F.col("doc_id") % 12 == i), tbl)
        tip = latest_version(spark, tbl)
        if tip != 11 or not os.path.isdir(
            _ckpt_parquet_dir(tbl, CHECKPOINT_EVERY)
        ):
            raise AssertionError(
                "append chain did not produce the parquet checkpoint"
            )

        def _agg(df):
            return sorted(
                (r["lang"], r["n"], r["chars"])
                for r in df.groupBy("lang")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("n_chars").cast("long").alias("chars"),
                )
                .collect()
            )

        full = _agg(read_table(spark, tbl))
        pruned = _agg(
            read_table(spark, tbl, partition_filter={"lang": "de"})
        )
        # drop the early manifests: resolution now rides the vacuum
        # checkpoint; both reads must be byte-identical to before
        vacuum_table(spark, tbl, keep_last=2)
        if _agg(read_table(spark, tbl)) != full or _agg(
            read_table(spark, tbl, partition_filter={"lang": "de"})
        ) != pruned:
            raise AssertionError("post-vacuum checkpoint resolution drifted")
        return spark.createDataFrame(
            [("all", lang, n, chars) for lang, n, chars in full]
            + [("pruned_de", lang, n, chars) for lang, n, chars in pruned],
            "side string, lang string, n long, chars long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_sidecar_lifecycle",
    oracle="""
    WITH kept AS (
        SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 200
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, lang, n_chars
        FROM documents WHERE lang = 'fr' AND n_chars >= 200
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM kept GROUP BY lang
    """,
)
def manifest_sidecar_lifecycle(spark, sf_dir):
    """Manifest FILE-LIST SIDECARS as a driver-verified lifecycle
    (round 16 — the 'remaining ceiling' the checkpoint work declared):
    with the sidecar threshold lowered to force the big-table shape,
    CREATE a multi-file table — the protocol raises here unless the
    manifest swapped its list for an O(1) ``files_ref`` pointer,
    stamped the ``file_list_sidecar`` feature, and kept the JSON
    KB-sized — then run normal life against sidecar-backed snapshots:
    a metadata RENAME must SHARE the ref (no O(files) copy), a
    merge-on-read DELETE keeps it, an APPEND chains on top, and VACUUM
    reference-counts the shared sidecar. The oracle replays delete +
    append arithmetically from the corpus: a sidecar that dropped,
    duplicated, or resurrected a file changes the numbers and
    hash-mismatches."""
    import json as _json
    import os
    import shutil
    import tempfile

    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        append_table,
        create_table,
        delete_from_table,
        read_table,
        rename_column,
        vacuum_table,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="wnv_sidecar_life_")
    old_min = V.FILES_SIDECAR_MIN
    V.FILES_SIDECAR_MIN = 4
    try:
        tbl = root + "/tbl"
        create_table(d.repartition(8), tbl)
        m0 = _read_manifest(spark, tbl, 0)
        if "files" in m0 or m0.get("files_ref", {}).get("n", 0) < 4:
            raise AssertionError("big manifest did not swap to a sidecar")
        if "file_list_sidecar" not in m0.get("features", []):
            raise AssertionError("sidecar feature not stamped")
        raw = open(os.path.join(tbl, "_log", "00000000.json")).read()
        if len(raw) > 4000:
            raise AssertionError("manifest JSON did not stay O(1)-sized")
        rename_column(spark, tbl, "n_chars", "chars_n")
        if _read_manifest(spark, tbl, 1).get("files_ref") != m0["files_ref"]:
            raise AssertionError("metadata DDL copied instead of sharing")
        delete_from_table(spark, tbl, "chars_n < 200", mode="merge_on_read")
        append_table(
            read_table(spark, tbl).where(F.col("lang") == "fr").select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                "lang",
                "chars_n",
            ),
            tbl,
        )
        vacuum_table(spark, tbl, keep_last=2)
        rows = (
            read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("chars_n").cast("long").alias("chars"),
            )
            .collect()
        )
        return spark.createDataFrame(
            [(r["lang"], r["n"], r["chars"]) for r in rows],
            "lang string, n long, chars long",
        )
    finally:
        V.FILES_SIDECAR_MIN = old_min
        shutil.rmtree(root, ignore_errors=True)


@register(
    "stats_sidecar_lifecycle",
    oracle="""
    WITH probe AS (
        SELECT CAST(FLOOR(MAX(l_orderkey) / 4) AS BIGINT) AS hi,
               MAX(l_orderkey) AS mx
        FROM lineitem
    )
    SELECT 'range' AS side,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem, probe
    WHERE l_orderkey <= probe.hi AND l_orderkey % 7 <> 0
    UNION ALL
    SELECT 'tail' AS side,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem, probe WHERE l_orderkey <= probe.hi
    """,
)
def stats_sidecar_lifecycle(spark, sf_dir):
    """Per-file column STATS sidecar as a driver-verified lifecycle
    (round 17 — r16 verdict "what's missing" #1, the ceiling the r16
    file-list sidecar closed for paths resurfacing through ANALYZE'd
    stats): with the threshold lowered to force the big-table shape,
    ANALYZE a range-partitioned lineitem table — the protocol raises
    here unless the manifest swapped its per-file min/max for an O(1)
    ``stats_ref`` pointer, stamped the ``stats_sidecar`` feature, kept
    the JSON KB-sized, and the pruned range read ACTUALLY SKIPPED
    files through the executor-side sidecar scan. Then normal life
    against sidecar'd stats: a metadata commit must SHARE the ref (no
    O(files) stats copy), a merge-on-read DELETE keeps it (DV applies
    through the pruned scan), an APPEND overlays only its own files'
    stats inline (O(batch), ref unchanged), and VACUUM
    reference-counts the shared sidecar. The oracle replays both
    probes arithmetically over the raw lineitem — stale stats, an
    over-eager prune, or a sidecar that dropped entries change the
    numbers and hash-mismatch."""
    import os
    import shutil
    import tempfile

    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        add_check_constraint,
        append_table,
        collect_stats,
        create_table,
        delete_from_table,
        read_table_pruned,
        vacuum_table,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity"
    )
    mx = int(li.agg(F.max("l_orderkey")).collect()[0][0])
    hi = mx // 4
    root = tempfile.mkdtemp(prefix="wnv_statsref_life_")
    old_min = V.STATS_SIDECAR_MIN
    V.STATS_SIDECAR_MIN = 3
    try:
        tbl = root + "/tbl"
        # stage four DISJOINT l_orderkey ranges as create + appends —
        # narrow filtered writes, no corpus shuffle (the
        # repartitionByRange alternative would shuffle the whole
        # lineitem just to build the fixture)
        bounds = [0, hi, hi * 2, hi * 3, mx]
        create_table(li.where(F.col("l_orderkey") <= bounds[1]), tbl)
        for lo_b, up_b in zip(bounds[1:], bounds[2:]):
            append_table(
                li.where(
                    (F.col("l_orderkey") > lo_b)
                    & (F.col("l_orderkey") <= up_b)
                ),
                tbl,
            )
        v1 = collect_stats(spark, tbl, ["l_orderkey"])  # ANALYZE
        m1 = _read_manifest(spark, tbl, v1)
        if "stats" in m1 or m1.get("stats_ref", {}).get("n", 0) < 3:
            raise AssertionError("ANALYZE did not swap stats to a sidecar")
        if "stats_sidecar" not in m1.get("features", []):
            raise AssertionError("stats_sidecar feature not stamped")
        raw = open(os.path.join(tbl, "_log", f"{v1:08d}.json")).read()
        if len(raw) > 4000:
            raise AssertionError(
                "post-ANALYZE manifest JSON did not stay O(1)-sized"
            )
        n_files = len(m1["files"])
        pruned = read_table_pruned(spark, tbl, "l_orderkey", 0, hi)
        if len(pruned.inputFiles()) >= n_files:
            raise AssertionError(
                "sidecar'd stats did not skip any file for the range probe"
            )
        # metadata commit shares the ref; MoR delete keeps it
        v2 = add_check_constraint(spark, tbl, "pos", "l_orderkey >= 0")
        if _read_manifest(spark, tbl, v2).get("stats_ref") != m1["stats_ref"]:
            raise AssertionError("metadata DDL copied stats instead of sharing")
        delete_from_table(spark, tbl, "l_orderkey % 7 = 0", mode="merge_on_read")
        # append overlays O(batch) inline on top of the shared ref
        # shift by mx+1: the synthetic orderkeys start at 0, so +mx
        # alone would land the smallest shifted row ON mx (a base-file
        # value) instead of past it
        v4 = append_table(
            li.where(F.col("l_orderkey") <= hi).select(
                (F.col("l_orderkey") + mx + 1).alias("l_orderkey"),
                "l_quantity",
            ).coalesce(1),
            tbl,
        )
        m4 = _read_manifest(spark, tbl, v4)
        if m4.get("stats_ref") != m1["stats_ref"] or not m4.get("stats"):
            raise AssertionError(
                "append did not overlay inline stats over the shared ref"
            )
        vacuum_table(spark, tbl, keep_last=1)
        rng = read_table_pruned(spark, tbl, "l_orderkey", 0, hi).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        ).collect()[0]
        tail = read_table_pruned(
            spark, tbl, "l_orderkey", mx + 1, mx + hi + 1
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        ).collect()[0]
        return spark.createDataFrame(
            [("range", rng["n"], float(rng["qty"])),
             ("tail", tail["n"], float(tail["qty"]))],
            "side string, n long, qty double",
        )
    finally:
        V.STATS_SIDECAR_MIN = old_min
        shutil.rmtree(root, ignore_errors=True)
