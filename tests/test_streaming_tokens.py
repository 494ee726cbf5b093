"""Streaming token-shard maintenance (streaming/tokens.py) vs the
stored-manifest batch truth (operators/textstats.py) — the tokenizer
side of test_streaming_vectors.py."""

from __future__ import annotations

import pytest

import glob
import os
import shutil
import time as _time

from pyspark.sql import functions as F

from roblox_vector_search_datagen_spark.operators import textstats
from roblox_vector_search_datagen_spark.streaming import tokens as ST
from roblox_vector_search_datagen_spark.streaming.events import run_stream_to_memory


def test_stream_token_shard_upsert_matches_stored_manifest(spark, sf_dir):
    """AvailableNow drain over the static fixture == the stored
    manifest's above-HWM rows row-for-row (the manifest is itself
    oracle-certified via token_shards_stored / token_shards_upsert),
    and the per-shard rollup equals the batch audit's delta columns."""
    hwm = textstats.TOKEN_DOC_HWM
    q = run_stream_to_memory(
        ST.stream_token_shard_upsert(spark, sf_dir), "tok_upsert", output_mode="update"
    )
    q.awaitTermination(120)
    streamed = {
        (r.shard, r.doc_id, r.n_tokens)
        for r in spark.sql("SELECT * FROM tok_upsert").collect()
    }
    expected = {
        (r.shard, r.doc_id, r.n_tokens)
        for r in textstats.stored_token_manifest(spark, sf_dir)
        .filter(F.col("doc_id") >= hwm)
        .collect()
    }
    assert streamed == expected and len(expected) > 0

    audit = {
        r.shard: (r.n_new_docs, r.n_new_tokens)
        for r in textstats.token_shards_upsert(spark, sf_dir).collect()
        if r.n_new_docs > 0
    }
    rolled: dict[int, list[int]] = {}
    for shard, _doc, n in streamed:
        rolled.setdefault(shard, [0, 0])
        rolled[shard][0] += 1
        rolled[shard][1] += n
    assert {s: tuple(v) for s, v in rolled.items()} == audit


def _doc_feed(spark, tmp_path, batches, schema):
    """One parquet file per microbatch with increasing mtimes (the
    ordered-replay trick of test_streaming_vectors._embedding_feed)."""
    feed = tmp_path / "dfeed"
    feed.mkdir()
    t0 = _time.time() - 1000
    for i, rows in enumerate(batches):
        stage = tmp_path / f"dstage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        dst = feed / f"b{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
    return str(feed)


@pytest.mark.slow
def test_stream_token_shard_upsert_multibatch_drops_frozen_docs(
    spark, sf_dir, tmp_path
):
    """Multi-microbatch feed: documents already in the frozen manifest
    are dropped by the stream-static anti-join in whichever microbatch
    they arrive (the at-least-once history-replay contract), new
    documents come out exactly once with the frozen tokenizer's token
    mass, and a whitespace-only document encodes to nothing and
    appears in neither side — all matching the batch twin's contract."""
    hwm = textstats.TOKEN_DOC_HWM
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample_txt = d.filter(F.col("doc_id") == 1).collect()[0].text
    # a new doc mixing IN-VOCAB words (served from the stored segments
    # map) with an OOV word that exercises the char-fallback arm (the
    # stored merges folded over the char-split word on the fly)
    w0, w1 = sample_txt.lower().split()[:2]
    oov = "zq0xv7"  # no fixture word contains this
    small_txt = f"{w0} {w0} {w1} {oov}"
    b0 = [
        (hwm + 1000, sample_txt, "en", "web", len(sample_txt)),
        (1, sample_txt, "en", "web", len(sample_txt)),  # frozen replay
    ]
    b1 = [
        (hwm + 1001, small_txt, "en", "web", len(small_txt)),
        (hwm + 1002, "   ", "en", "web", 3),  # encodes to nothing
        (2, sample_txt, "en", "web", len(sample_txt)),  # frozen replay
    ]
    feed = _doc_feed(spark, tmp_path, [b0, b1], schema)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = run_stream_to_memory(
        ST.stream_token_shard_upsert(spark, sf_dir, raw=raw),
        "tok_upsert_mb",
        output_mode="update",
    )
    q.awaitTermination(120)
    out = {r.doc_id: r for r in spark.sql("SELECT * FROM tok_upsert_mb").collect()}
    assert set(out) == {hwm + 1000, hwm + 1001}

    # token mass parity with the frozen tokenizer: sum of each word's
    # stored segmentation size
    word_n = {
        r.w: r.n_sub
        for r in textstats.stored_bpe_segments(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_sub"))
        .collect()
    }
    expect_mass = sum(
        word_n.get(w, 0) for w in sample_txt.lower().split() if w != ""
    )
    assert out[hwm + 1000].n_tokens == expect_mass
    # OOV fallback parity: independent python replay of the frozen
    # merge list's greedy left-to-right pass over the char-split word
    assert oov not in word_n
    syms = list(oov)
    for _r, a, b, _t in textstats.stored_bpe_merges(spark, sf_dir):
        folded = []
        for x in syms:
            if folded and folded[-1] == a and x == b:
                folded[-1] = folded[-1] + x
            else:
                folded.append(x)
        syms = folded
    assert out[hwm + 1001].n_tokens == (
        sum(word_n[w] for w in [w0, w0, w1]) + len(syms)
    )

    # shard routing parity with the batch key
    from roblox_vector_search_datagen_spark.functions import hashing as H
    from roblox_vector_search_datagen_spark.operators.layout import (
        SHUFFLE_SEED,
        SHUFFLE_SHARDS,
    )

    for doc_id, r in out.items():
        expected_shard = (
            spark.range(1)
            .select(
                F.pmod(
                    F.expr(H.h32_expr_sql(f"'{SHUFFLE_SEED}:{doc_id}'")),
                    F.lit(SHUFFLE_SHARDS),
                ).cast("int")
            )
            .collect()[0][0]
        )
        assert r.shard == expected_shard
