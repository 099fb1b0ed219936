"""Prediction assembly, filters, pruning, and multimodal plumbing tests."""

from bootleg_spark.operators.multimodal import (
    extract_media_features,
    media_metadata,
)
from bootleg_spark.operators.predictions import (
    filter_weak_labels,
    merge_predictions,
    prune_to_entities,
)


def test_merge_predictions_orders_by_position(spark):
    rows = [
        (1, 2, "b", "Q2", 0.5),
        (1, 0, "a", "Q1", 0.9),
        (2, 0, "c", "Q3", 0.7),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "mention_pos", "alias", "qid_pred", "prob"])
    out = {
        r["doc_id"]: r
        for r in merge_predictions(df, extra_arrays={"probs": "prob"}).collect()
    }
    assert out[1]["aliases"] == ["a", "b"]
    assert out[1]["qids"] == ["Q1", "Q2"]
    assert out[1]["probs"] == [0.9, 0.5]
    assert out[2]["aliases"] == ["c"]


def test_weak_label_and_threshold_filters(spark):
    df = spark.createDataFrame(
        [(1, True, 0.9), (2, False, 0.8), (3, True, 0.1)], ["id", "gold", "prob"]
    )
    assert {r["id"] for r in filter_weak_labels(df).collect()} == {1, 3}
    assert filter_weak_labels(df, use_weak_label=True).count() == 3


def test_prune_reindexes_contiguously(spark):
    ents = spark.createDataFrame(
        [("Q3", 3), ("Q4", 4), ("Q9", 9)], ["qid", "qnum"]
    )
    keep = spark.createDataFrame([("Q3",), ("Q9",)], ["qid"])
    out = {r["qid"]: r["new_eid"] for r in prune_to_entities(ents, keep).collect()}
    assert out == {"Q3": 2, "Q9": 3}  # contiguous from 2 (0/1 reserved NC/PAD)


def test_media_metadata_sniffs_kinds(spark):
    rows = [
        ("a", bytearray(b"<html><body>x</body></html>")),
        ("b", bytearray(b"\x89PNG\r\n" + b"\x00" * 8)),
        ("c", bytearray(b"\xff\xd8\xff\xe0rest")),
        ("d", bytearray(b"randombytes")),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    out = {r["id"]: (r["kind"], r["n_bytes"]) for r in media_metadata(df).collect()}
    assert out["a"][0] == "html" and out["a"][1] == 27
    assert out["b"][0] == "png"
    assert out["c"][0] == "jpeg"
    assert out["d"][0] == "unknown"


def test_media_features_batched_and_deterministic(spark):
    rows = [("a", bytearray(b"abcabc")), ("b", bytearray(b""))]
    df = spark.createDataFrame(rows, ["url", "html"])
    out = {r["id"]: r["feat"] for r in extract_media_features(df, dim=4).collect()}
    assert len(out["a"]) == 4
    assert abs(sum(out["a"]) - 1.0) < 1e-9
    assert out["b"] == [0.0, 0.0, 0.0, 0.0]
    # determinism across runs
    out2 = {r["id"]: r["feat"] for r in extract_media_features(df, dim=4).collect()}
    assert out == out2


def test_resize_media_custom_decoder(spark):
    """A real decoder slots in: 4x4 ramp image -> 2x2 nearest-neighbor
    picks pixels (0,0),(0,2),(2,0),(2,2)."""
    import numpy as np

    from bootleg_spark.operators.multimodal import resize_media

    img = np.arange(16, dtype=np.uint8).reshape(4, 4) * 17  # 0,17,...,255
    df = spark.createDataFrame([("a", bytearray(b"x"))], "url string, html binary")
    out = resize_media(df, out_h=2, out_w=2, decoder=lambda payload: img).first()
    assert [round(v, 6) for v in out["pixels"]] == [
        round(x / 255.0, 6) for x in (0, 34, 136, 170)
    ]


def test_sample_frames_short_stream(spark):
    """A payload shorter than one frame yields no rows; a 3-frame
    payload sampled at k=4 repeats evenly spaced frame indices."""
    from bootleg_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [("short", bytearray(b"tiny")), ("long", bytearray(b"A" * 256 + b"B" * 256 + b"C" * 256))],
        "url string, html binary",
    )
    rows = sample_frames(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert "short" not in by_id
    longs = sorted(by_id["long"], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in longs] == [0, 1, 2, 3]
    # frames 0..3 map to source frames floor(j*3/4) = 0,0,1,2
    assert longs[0]["frame_md5"] == longs[1]["frame_md5"]
    assert longs[2]["frame_md5"] != longs[1]["frame_md5"]
