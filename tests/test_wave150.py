"""Wave 150: SFT chat-template export — hand goldens for both
truncation branches, loss offsets, and the map-only plan."""

import hashlib

from conftest import plan_text
from pyspark.sql import Row

from rss_feed_etl_spark.operators.packing import sft_chat_export

_SYS = "sys"


def _export(spark, rows, budget):
    return {
        r["doc_id"]: r
        for r in sft_chat_export(
            spark.createDataFrame(rows),
            system=_SYS,
            budget_tokens=budget,
            n_shards=4,
            salt="t",
        ).collect()
    }


def test_untruncated_record_golden(spark):
    rows = [Row(doc_id=1, prompt="a b c", completion="x y")]
    out = _export(spark, rows, budget=10)
    r = out[1]
    assert r["n_prompt_tokens"] == 3 and r["n_completion_tokens"] == 2
    assert not r["truncated"]
    head = "<|system|>\nsys\n<|user|>\na b c\n<|assistant|>\n"
    assert r["loss_start_char"] == len(head) + 1
    assert r["record_md5"] == hashlib.md5((head + "x y").encode()).hexdigest()
    assert 0 <= r["shard"] < 4


def test_left_truncation_keeps_prompt_tail(spark):
    # budget 4, completion 2 tokens -> keep last 2 prompt tokens ("c d")
    rows = [Row(doc_id=2, prompt="a b c d", completion="x y")]
    r = _export(spark, rows, budget=4)[2]
    assert r["truncated"] and r["n_prompt_tokens"] == 2
    head = "<|system|>\nsys\n<|user|>\nc d\n<|assistant|>\n"
    assert r["record_md5"] == hashlib.md5((head + "x y").encode()).hexdigest()


def test_completion_exceeds_budget_prompt_empty(spark):
    rows = [Row(doc_id=3, prompt="a b", completion="u v w x y")]
    r = _export(spark, rows, budget=3)[3]
    assert r["n_prompt_tokens"] == 0 and r["truncated"]
    head = "<|system|>\nsys\n<|user|>\n\n<|assistant|>\n"
    assert r["loss_start_char"] == len(head) + 1
    assert r["record_md5"] == hashlib.md5((head + "u v w x y").encode()).hexdigest()


def test_export_plan_is_map_only(spark):
    import re

    df = sft_chat_export(
        spark.createDataFrame([Row(doc_id=1, prompt="a", completion="b")])
    )
    s = plan_text(df)
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) == 0  # no shuffle
    assert "Join" not in s
