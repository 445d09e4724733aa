"""Tests of the seeded input generators (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_curation_same_seed_is_byte_identical(tmp_path):
    inputs.stage_curation(str(tmp_path / "a"), seed=7)
    inputs.stage_curation(str(tmp_path / "b"), seed=7)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_curation_other_seed_differs(tmp_path):
    inputs.stage_curation(str(tmp_path / "a"), seed=7)
    inputs.stage_curation(str(tmp_path / "b"), seed=8)
    a, b = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert a["documents.parquet/part-00001.parquet"] != b["documents.parquet/part-00001.parquet"]
    assert a["embeddings.parquet/part-00001.parquet"] != b["embeddings.parquet/part-00001.parquet"]


def test_dml_same_seed_is_byte_identical(tmp_path):
    sa = inputs.stage_dml(str(tmp_path / "a"), seed=3, n_cycles=4)
    sb = inputs.stage_dml(str(tmp_path / "b"), seed=3, n_cycles=4)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    strip = lambda s: json.dumps(s).replace(str(tmp_path / "a"), "").replace(str(tmp_path / "b"), "")  # noqa: E731
    assert strip(sa) == strip(sb)


def test_dml_other_seed_differs(tmp_path):
    sa = inputs.stage_dml(str(tmp_path / "a"), seed=3, n_cycles=4)
    sb = inputs.stage_dml(str(tmp_path / "b"), seed=4, n_cycles=4)
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "b"))
    assert [c["delete_from_table"] for c in sa] != [c["delete_from_table"] for c in sb]


def test_query_order_is_seeded():
    names = run.CURATION_QUERIES
    assert inputs.query_order(names, 1, 3) == inputs.query_order(names, 1, 3)
    assert inputs.query_order(names, 1, 3) != inputs.query_order(names, 2, 3)
    assert all(sorted(o) == sorted(names) for o in inputs.query_order(names, 1, 3))


def test_curation_keeps_duplicate_share(tmp_path):
    """Each replica keeps sf0.1's exact- and near-duplicate shares, the
    whole corpus keeps them too (replicas add no cross-replica duplicates),
    and the figures match those recorded in perfbench/rationale.json."""
    base = pq.read_table(inputs.base_path("documents")).column("text").to_pylist()
    want = inputs.duplicate_shares(base)
    out = str(tmp_path / "c")
    inputs.stage_curation(out, seed=11)
    docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pandas()
    for r in range(4):
        replica = docs[docs.doc_id % 4 == r].sort_values("doc_id").text.tolist()
        assert inputs.duplicate_shares(replica) == want
    assert inputs.duplicate_shares(docs.text.tolist()) == want
    with open(os.path.join(os.path.dirname(inputs.__file__), "rationale.json")) as f:
        recorded = json.load(f)["workloads"]["curation_x4"]["duplicate_share"]
    assert recorded == {"sf0.1": want, "curation_x4": want}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
