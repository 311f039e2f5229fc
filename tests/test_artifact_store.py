"""The artifact store (``deloton_solo_spark/memo.py``): the ``Memo``
bound and owner rules, ``input_identity``'s content key, and the
end-to-end property the content key exists for: a corpus rewritten in
place at the same paths, within one session, is answered from its new
rows, not from artifacts built over the old ones."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from deloton_solo_spark.catalog import TABLES
from deloton_solo_spark.memo import Memo, input_identity
from deloton_solo_spark.registry import all_queries

from .conftest import SF_DIR, make_duck
from .test_oracle_parity import assert_frames_match


def test_memo_drops_least_recently_used_past_bound():
    cleaned = []
    m = Memo(2)
    for k in "ab":
        m.put(k, k.upper(), cleanup=lambda k=k: cleaned.append(k))
    assert m.get_or_put("a", lambda: 1 / 0) == "A"  # a hit: b is now oldest
    m.put("c", "C")
    assert cleaned == ["b"] and m.keys() == ["a", "c"]
    m.put("d", "D")
    assert cleaned == ["b", "a"] and m.keys() == ["c", "d"]


def test_memo_new_owner_drops_old_owners_entries():
    cleaned = []
    m = Memo(8)
    m.put("x", 1, owner="app-1", cleanup=lambda: cleaned.append("x"))
    m.put("y", 2, owner="app-1")
    assert len(m) == 2 and not cleaned
    assert m.get_or_put("z", lambda: 3, owner="app-2") == 3
    assert m.keys() == ["z"] and cleaned == ["x"]


def test_input_identity_sees_same_size_rewrite_with_reset_mtime(tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"v": pa.array([1, 2, 3], pa.int64())}), path)
    before = os.stat(path)
    ident = input_identity([f"file://{path}"])
    assert ident is not None
    assert ident == input_identity([f"file://{path}"])
    pq.write_table(pa.table({"v": pa.array([4, 5, 6], pa.int64())}), path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_size, after.st_mtime_ns) == (
        before.st_size,
        before.st_mtime_ns,
    )
    assert input_identity([f"file://{path}"]) != ident


def test_input_identity_is_none_when_not_memoizable(tmp_path):
    text = tmp_path / "t.json"
    text.write_text("{}\n")
    assert input_identity([]) is None
    assert input_identity([f"file://{text}"]) is None
    assert input_identity([f"file://{tmp_path}/missing.parquet"]) is None
    assert input_identity(["hdfs://nn/t.parquet"]) is None


_REWRITE_QUERIES = (
    "similarity_topk_ivf",
    "winnowing_fingerprint_pairs",
    "incremental_minhash_update",
)


def test_corpus_rewritten_in_place_is_not_served_stale(spark, tmp_path):
    """Build each query's artifacts over the sf0.001 catalog, rewrite
    ``embeddings`` and ``documents`` at the same paths keeping the
    first half of their rows, and rerun in the same session: every
    answer must match the oracle over the rewritten files."""
    for t in TABLES:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    specs = all_queries()
    for name in _REWRITE_QUERIES:
        specs[name].fn(spark, str(tmp_path)).collect()
    for t in ("embeddings", "documents"):
        table = pq.read_table(tmp_path / f"{t}.parquet")
        pq.write_table(
            table.slice(0, table.num_rows // 2), tmp_path / f"{t}.parquet"
        )
    duck = make_duck(str(tmp_path))
    try:
        for name in _REWRITE_QUERIES:
            assert_frames_match(
                specs[name].fn(spark, str(tmp_path)).toPandas(),
                duck.execute(specs[name].oracle).df(),
                name,
            )
    finally:
        duck.close()
