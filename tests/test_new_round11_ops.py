"""Round-11 operator properties (beyond the DuckDB oracle gate):

- bpe_decode_roundtrip: the round-trip claim itself — decode(encode(d))
  equals the normalized document for EVERY document at sf0.001 (the
  oracle only checks the flag is computed identically; this asserts it
  is TRUE), plus a constructed corpus where a merged token fires so the
  telescoping merge-inverse is exercised, and an empty/whitespace doc
  that must round-trip to ''.
"""

from __future__ import annotations

import os
import tempfile

from deloton_solo_spark.registry import all_queries

from .conftest import SF_DIR


def run(spark, name, sf=SF_DIR):
    return all_queries()[name].fn(spark, sf)


def test_roundtrip_holds_for_every_document(spark):
    rows = run(spark, "bpe_decode_roundtrip").collect()
    assert rows, "corpus is non-empty"
    bad = [r.doc_id for r in rows if not r.roundtrip_ok]
    assert bad == [], f"round-trip broke for docs {bad[:5]}"


def test_decode_inverts_merges_on_constructed_corpus(spark):
    """A corpus dominated by one bigram guarantees the trainer's first
    winner merges it, so the decoder must invert a real merge (and the
    whitespace normalization must be the only loss)."""
    with tempfile.TemporaryDirectory() as td:
        texts = [
            (1, "red bike  red bike red bike ride"),
            (2, "RED Bike red\tbike"),
            (3, "   "),
            (4, "solo"),
        ]
        spark.createDataFrame(
            [(d, t, "en", "unit", len(t)) for d, t in texts],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r.doc_id: r for r in run(spark, "bpe_decode_roundtrip", td).collect()
        }
    assert all(out[d].roundtrip_ok for d in (1, 2, 3, 4))
    assert out[1].decoded_text == "red bike red bike red bike ride"
    assert out[2].decoded_text == "red bike red bike"
    # "red bike" merges into ONE token at some training round, so the
    # token count must be below the whitespace count for doc 1
    assert out[1].n_tokens < 7
    assert out[3].decoded_text == "" and out[3].n_tokens == 0
    assert out[4].decoded_text == "solo" and out[4].n_tokens == 1


def test_doc_artifact_memo_evicts_dead_sessions(spark, tmp_path):
    """ADVICE r10: _persisted_doc_artifact must evict memo entries (and
    their scratch parquet dirs) owned by stopped SparkSessions on the
    next miss, instead of accumulating them for the process lifetime."""
    import shutil

    import pyspark.sql.functions as F

    from deloton_solo_spark.memo import ARTIFACTS
    from deloton_solo_spark.operators import dedup as dd

    dead_dir = tmp_path / "dead_artifact"
    dead_dir.mkdir()
    (dead_dir / "part-0.parquet").write_bytes(b"x")
    dead_key = ("app-dead-123", "sometag", ("f1.parquet",))
    ARTIFACTS.put(
        dead_key,
        None,
        owner="app-dead-123",
        cleanup=lambda: shutil.rmtree(dead_dir, ignore_errors=True),
    )

    out = dd._persisted_doc_artifact(
        spark,
        SF_DIR,
        "r11_evict_probe",
        lambda: spark.range(3).select(F.col("id").alias("doc_id")),
    )
    assert out.count() == 3
    assert dead_key not in ARTIFACTS.keys()
    assert not dead_dir.exists()
    # the live entry survives a subsequent hit and returns the frame
    out2 = dd._persisted_doc_artifact(
        spark, SF_DIR, "r11_evict_probe", lambda: 1 / 0
    )
    assert out2.count() == 3
