"""Unit tests for transforms, multimodal plumbing, and SimHash."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from real_time_video_streaming_analytics_lakehouse_spark.operators.dedup import (
    simhash_candidates,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.multimodal import (
    attach_fake_media,
    decode_media_features,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.transforms import (
    clean_and_standardize,
)


def test_clean_and_standardize_golden(spark):
    df = spark.createDataFrame(
        [
            Row(name="  padded\t", country="us", ip="10.0.0.1"),
            Row(name="", country="DE", ip="999.1.1.1"),
            Row(name=" \t ", country="fr", ip=None),
        ]
    )
    out = clean_and_standardize(
        df, text_cols=["name"], country_col="country", ip_col="ip"
    ).collect()
    assert [(r["name"], r["country"], r["ip"]) for r in out] == [
        ("padded", "US", "10.0.0.1"),
        (None, "DE", None),  # empty → NULL; malformed IP → NULL
        (None, "FR", None),  # whitespace-only → NULL after trim
    ]


def test_multimodal_fake_decode_deterministic(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="hello"), Row(doc_id=1, text="world")]
    )
    decoded = decode_media_features(attach_fake_media(df)).collect()
    by_id = {r["doc_id"]: r for r in decoded}
    # md5('hello') = 5d41402abc4b2a76b9719d911017c592 → bytes 0x5d,0x41,0x40
    assert by_id[0]["width"] == 0x5D % 128 + 1
    assert by_id[0]["height"] == 0x41 % 128 + 1
    assert by_id[0]["n_frames"] == 0x40 % 120 + 1
    assert by_id[0]["payload_bytes"] == 16
    assert by_id[0]["media_format"] == "png"
    assert by_id[1]["media_format"] == "jpeg"


def test_multimodal_real_decode_is_marked_unimplemented(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="hello")])
    stream = decode_media_features(attach_fake_media(df), fake=False)
    with pytest.raises(Exception, match="NotImplementedError|real media decoding"):
        stream.collect()


def test_simhash_flags_near_duplicate_not_distinct(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    near = base.replace("kappa", "lambda")
    other = "one two three four five six seven eight nine ten " * 6
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=other)]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(df, max_hamming=16).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
