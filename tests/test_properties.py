"""Property-based tests (hypothesis): adversarially-generated inputs
for the repo's trickiest pure arithmetic, each example batch executed
as ONE Spark job so the suite stays fast. These complement the oracle
gate — the oracle proves agreement on the fixed corpus; these probe
the input space the corpus never visits (unicode junk, boundary
values, pre-1970 timestamps)."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --- PII scrub: Spark (Java regex) vs an independent Python `re`
#     implementation of the same backslash-free patterns -------------

_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="'\\\r\n"
    ),
    max_size=80,
)
_PIIISH = st.sampled_from(
    [
        "a.b-c_d@ex-1.example.org",
        "bad@@double.at",
        "555-123-4567",
        "55-123-4567",
        "1.2.3.4",
        "999.999.999.999 edge",
        "u@x.io and 10.0.0.1 and 555-000-1111",
        "trailing dot@.",
    ]
)


@SLOW
@given(st.lists(st.tuples(_TEXT, _PIIISH, _TEXT), min_size=1, max_size=24))
def test_pii_scrub_matches_python_re(spark, cases):
    from wnv_etl_lab2_spark.functions.pii import (
        PII_RULES,
        pii_counts,
        pii_scrub_col,
    )

    rows = [(i, f"{a} {p} {b}") for i, (a, p, b) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, t string")
    got = (
        df.select("i", pii_scrub_col("t").alias("m"), *pii_counts("t"))
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    for (i, t), (_, row) in zip(rows, got.iterrows()):
        masked = t
        for name, pat, placeholder in PII_RULES:
            assert row[f"n_{name}s"] == len(re.findall(pat, t)), (name, t)
            masked = re.sub(pat, lambda _m: placeholder, masked)
        assert row["m"] == masked, (t, row["m"], masked)


def test_pii_scrub_is_idempotent(spark):
    """Masking twice equals masking once: placeholders can never
    manufacture a match for any rule."""
    from wnv_etl_lab2_spark.functions.pii import pii_scrub_col

    rows = [
        (0, "u@x.io reach 10.0.0.1 at 555-000-1111"),
        (1, "[EMAIL] [PHONE] [IP] already masked"),
        (2, "nested u@[EMAIL].io oddity"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    once = df.select("i", pii_scrub_col("t").alias("m"))
    twice = once.select("i", pii_scrub_col("m").alias("m"))
    assert once.collect() == twice.collect()


# --- Packed-posting arithmetic: the 21-bit pack in text_q's exact-pair
#     backbone must round-trip every in-budget (doc_id, n, pos) -------

@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 42) - 1),  # doc_id budget
            st.integers(min_value=1, max_value=1023),  # n = size(_shc) < 1024
        ),
        min_size=1,
        max_size=32,
    )
)
def test_packed_posting_round_trips(spark, pairs):
    # mirrors queries/text_q.py's packing: pk = doc*2^21 + fits*2^20
    # + n*2^10 + (pos+1), with fits=1 for every n < 1024; pos is the
    # 0-based prefix index, always < n.
    rows = [(d, n, min(n - 1, (d * 7) % n)) for d, n in pairs]
    df = spark.createDataFrame(rows, "doc_id long, n long, pp long")
    pk = "doc_id * 2097152 + 1048576 + n * 1024 + CAST(pp + 1 AS BIGINT)"
    out = df.selectExpr(
        "doc_id", "n", "pp",
        f"({pk}) div 2097152 AS u_doc",
        f"pmod(({pk}) div 1048576, 2) AS u_fits",
        f"pmod(({pk}) div 1024, 1024) AS u_n",
        f"pmod({pk}, 1024) AS u_pos",
    ).collect()
    for r in out:
        assert r.u_doc == r.doc_id
        assert r.u_fits == 1
        assert r.u_n == r.n
        assert r.u_pos == r.pp + 1


def test_packed_posting_overflow_is_loud(spark):
    """A doc_id past the 2^42 budget must raise the asserted guard,
    never wrap silently (ADVICE r6: with ANSI off the multiply would
    corrupt instead of erroring)."""
    import pytest

    from wnv_etl_lab2_spark.queries.text_q import exact_pair_counts

    base = "the torch spark query table always " * 8
    docs = spark.createDataFrame(
        [(1 << 42, base), ((1 << 42) + 1, base)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="2\\^42 packed-posting budget"):
        exact_pair_counts(docs, jaccard_floor=0.5).collect()


# --- Epoch math: timeutil vs Python datetime over generated
#     timestamps (including pre-1970) --------------------------------

@SLOW
@given(
    st.lists(
        st.datetimes(
            min_value=pd.Timestamp("1901-01-01").to_pydatetime(),
            max_value=pd.Timestamp("2200-12-31").to_pydatetime(),
        ),
        min_size=1,
        max_size=32,
    )
)
def test_epoch_us_matches_python(spark, stamps):
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from wnv_etl_lab2_spark.functions.timeutil import epoch_us

    # microsecond-align (parquet/testdata precision)
    rows = [(i, t.replace(tzinfo=None)) for i, t in enumerate(stamps)]
    df = spark.createDataFrame(rows, "i long, ts timestamp_ntz")
    got = {
        r.i: r.us
        for r in df.select("i", epoch_us(F.col("ts")).alias("us")).collect()
    }
    epoch = datetime(1970, 1, 1)
    for i, t in rows:
        # Exact integer microseconds: total_seconds() goes through
        # float64 and loses sub-microsecond precision past ~2106
        # (hypothesis found 2107-01-01 00:00:00.000007 off by 1 us),
        # while timedelta holds (days, seconds, microseconds) exactly.
        d = t - epoch
        want = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
        assert got[i] == want, (t, got[i], want)


# --- fuzzy prefix join: Spark (blocked + banded levenshtein) vs an
#     independent O(n^2) Python DP over the same staged corpus -------


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_WORDS = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "x1", "y2"]
)
_DOC = st.lists(_WORDS, min_size=2, max_size=12).map(" ".join)


@SLOW
@given(st.lists(_DOC, min_size=2, max_size=16))
def test_fuzzy_prefix_pairs_matches_python_reference(spark, tmp_path_factory, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wnv_etl_lab2_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = str(tmp_path_factory.mktemp("fuzzy"))
    rows = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s0",
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(pa.Table.from_pandas(rows), f"{sf_dir}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in REGISTRY["fuzzy_prefix_pairs"].fn(spark, sf_dir).collect()
    }

    # independent reference: same contract (len(text) >= 40, 40-char
    # prefix, first-two-token block, cap 256 irrelevant at this size)
    pfx = {
        i: t[:40]
        for i, t in enumerate(texts)
        if len(t) >= 40 and len(t[:40].split(" ")) >= 2
    }
    want = set()
    for a in pfx:
        for b in pfx:
            if a < b:
                wa, wb = pfx[a].split(" "), pfx[b].split(" ")
                if wa[:2] == wb[:2]:
                    d = _py_levenshtein(pfx[a], pfx[b])
                    if d <= 8:
                        want.add((a, b, d))
    assert got == want, f"missing={sorted(want - got)[:3]} extra={sorted(got - want)[:3]}"


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]), st.integers(2, 14)),
        min_size=1,
        max_size=20,
    )
)
def test_source_quantile_normalize_keeps_top_half_per_source(
    spark, tmp_path_factory, specs
):
    """Per source: kept docs = those whose within-source percent rank
    (rounded-score order, doc_id tiebreak) is >= 0.5 — checked against
    an independent pandas rank computation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wnv_etl_lab2_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    texts = [" ".join(["tok%d" % (i % n) for i in range(n)]) for _, n in specs]
    rows = pd.DataFrame(
        {
            "doc_id": range(len(specs)),
            "text": texts,
            "lang": "en",
            "source": [s for s, _ in specs],
            "n_chars": [len(t) for t in texts],
        }
    )
    sf_dir = str(tmp_path_factory.mktemp("qnorm"))
    pq.write_table(pa.Table.from_pandas(rows), f"{sf_dir}/documents.parquet")

    got = REGISTRY["source_quantile_normalize"].fn(spark, sf_dir).toPandas()

    ref = rows.copy()
    ref["qscore"] = [
        round(len(set(t.split(" "))) / len(t.split(" ")), 6) for t in ref.text
    ]
    want = set()
    for src, grp in ref.groupby("source"):
        g = grp.sort_values(["qscore", "doc_id"]).reset_index(drop=True)
        n = len(g)
        for pos, r in g.iterrows():
            pct = 0.0 if n == 1 else pos / (n - 1)
            if pct >= 0.5:
                want.add((r.doc_id, src))
    assert {(r.doc_id, r.source) for _, r in got.iterrows()} == want


@SLOW
@given(st.lists(_DOC, min_size=2, max_size=12), st.integers(min_value=1, max_value=12))
def test_bpe_training_matches_python_reference(
    spark, tmp_path_factory, texts, n_merges
):
    """The Spark-trained BPE merge sequence equals an independent
    textbook implementation run on the same word frequencies, for
    arbitrary small corpora and merge budgets (deterministic
    count-then-lexicographic tie-breaks on both sides)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_bpe import reference_bpe
    from wnv_etl_lab2_spark.operators.bpe import train_bpe
    from wnv_etl_lab2_spark.sources.catalog import load_table

    sf_dir = str(tmp_path_factory.mktemp("bpe"))
    rows = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "s0",
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(pa.Table.from_pandas(rows), f"{sf_dir}/documents.parquet")

    docs = load_table(spark, "documents", sf_dir)
    got = train_bpe(docs, n_merges=n_merges, vocab_limit=1000)

    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split(" ") if w)
    want = reference_bpe(dict(freqs), n_merges)
    assert got == want


# --- Partition-value codec: Spark's own hive escape + the Hadoop URI
#     spelling, decoded by the Python and SQL forms of one codec -----

_PART_VALUE = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=1,
    max_size=24,
)


@SLOW
@given(st.lists(_PART_VALUE, min_size=1, max_size=16))
def test_partition_value_codec_inverts_spark_escaping(spark, values):
    from wnv_etl_lab2_spark.sources.table_paths import (
        manifest_path,
        partition_value_sql,
        partition_values,
    )

    jvm = spark._jvm
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    rows = []
    for i, s in enumerate(values):
        path = jvm.org.apache.hadoop.fs.Path(f"file:/t/p={escape(s)}/part-0.parquet")
        manifest, uri = path.toString(), path.toUri().toString()
        assert manifest_path(uri) == manifest, s
        assert partition_values(manifest, ["p"]) == {"p": s}
        rows.append((i, uri))
    got = (
        spark.createDataFrame(rows, "i long, u string")
        .selectExpr("i", f"{partition_value_sql('u', 'p')} AS v")
        .collect()
    )
    assert {r.i: r.v for r in got} == dict(enumerate(values))
