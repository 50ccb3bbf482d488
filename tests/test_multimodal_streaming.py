"""Multimodal plumbing (schema/batch shapes real, decode stubbed) and the
AvailableNow incremental-streaming wrapper."""

import pytest

from pyspark.sql import functions as F

from py_image_toolkit_spark.operators.multimodal import (
    decode_features,
    frame_sample_plan,
    probe_media,
    resize_plan,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image/png", b"\x89PNG\r\n" + bytes(range(64)), (640, 480, None, None)),
        (2, "image/jpeg", b"\xff\xd8\xff\xe0" + bytes(64), (1920, 1080, None, None)),
        (3, "audio/wav", b"RIFF" + bytes(32), (None, None, None, 44100)),
        (4, "video/webm", b"\x1a\x45\xdf\xa3" + bytes(128), (1280, 720, 100, None)),
        (5, "unknown", b"\x00\x01", (None, None, None, None)),
        (6, "empty", b"", (None, None, None, None)),
    ]
    return spark.createDataFrame(
        [(i, k, p, m) for i, k, p, m in rows],
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int, height:int, n_frames:int, sample_rate:int>",
    )


def test_probe_media_magic_sniff(media):
    got = {r["media_id"]: r["probed_kind"] for r in probe_media(media).collect()}
    assert got[1] == "image/png" and got[2] == "image/jpeg"
    assert got[3] == "audio/wav" and got[4] == "video/webm"
    assert got[5] == "application/octet-stream"


def test_decode_features_fake_deterministic(media):
    from tests.test_plan_contracts import plan_of

    a = {r["media_id"]: r["features"] for r in decode_features(media).collect()}
    b = {r["media_id"]: r["features"] for r in decode_features(media).collect()}
    assert a == b                          # deterministic
    assert len(a[1]) == 8                  # batch shape: fixed dim
    empty = {r["media_id"]: r["status"] for r in decode_features(media).collect()}
    assert empty[6] == "empty payload"     # error containment, no task death
    plan = plan_of(decode_features(media))
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


def test_resize_plan_truncation(media):
    got = {
        r["media_id"]: (r["out_w"], r["out_h"])
        for r in resize_plan(media.filter("meta.width is not null"), 1280, 720).collect()
    }
    assert got[1] == (960, 720)            # 640×480 → fit 1280×720 (H1 verified math)
    assert got[2] == (1280, 720)
    assert got[4] == (1280, 720)


def test_frame_sample_plan(media):
    got = {r["media_id"]: r["frame_indices"] for r in frame_sample_plan(media).collect()}
    assert got[4] == [0, 12, 24, 36, 48, 60, 72, 84]  # 100 frames, stride 12
    assert got[1] == []


def test_available_now_streaming(spark, tmp_path):
    from py_image_toolkit_spark.config import ExtractConfig
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.sources.tables import SnapshotTable
    from py_image_toolkit_spark.streaming import run_available_now

    inp = str(tmp_path / "incoming")
    pages_df(spark, 20).write.parquet(inp)
    out = SnapshotTable(str(tmp_path / "out"))
    runs = SnapshotTable(str(tmp_path / "runs"))

    run_available_now(spark, inp, out, runs, str(tmp_path / "ckpt"),
                      ExtractConfig(), max_files_per_trigger=4)
    assert out.read(spark).count() == 40  # 20 urls × 2 rules, exactly once

    # drain again with new files landing: only the new urls are processed
    pages_df(spark, 30).filter(F.xxhash64("url") % 3 == 0).write.mode("append").parquet(inp)
    run_available_now(spark, inp, out, runs, str(tmp_path / "ckpt"),
                      ExtractConfig(), max_files_per_trigger=4)
    dupes = out.read(spark).groupBy("url", "rule").count().filter("count > 1").count()
    assert dupes == 0


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): each distinct text
    is emitted exactly once even when its duplicates arrive in LATER
    micro-batches — per-batch dropDuplicates cannot do this."""
    import os

    from py_image_toolkit_spark.streaming.stateful import streaming_exact_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: docs 1-3 (3 distinct texts, one in-batch dup)
    # coalesce(1): one FILE per batch dir — with maxFilesPerTrigger=1 each
    # file IS a micro-batch, so multi-file writes would split a batch's rows
    # nondeterministically across triggers (first-seen winner would then be
    # trigger-order-dependent, which is correct behavior but untestable)
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    # batch 2: doc 4 duplicates batch-1 text; doc 5 is new
    spark.createDataFrame(
        [(4, "beta text"), (5, "gamma text")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = []

    def sink(batch_df, batch_id):
        out.extend(batch_df.collect())

    (
        streaming_exact_dedup(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {r["text"]: (r["doc_id"], r["n_dropped"]) for r in out}
    assert set(got) == {"alpha text", "beta text", "gamma text"}
    assert got["alpha text"][0] == 1  # lowest doc_id wins within the batch
    # each text emitted exactly once across ALL batches
    assert len(out) == 3


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the dedup kernel."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms


def test_dedup_group_winner_spans_chunks():
    """A key's first-batch rows can arrive as MULTIPLE Arrow chunks; the
    emitted winner must be the minimum doc_id across all of them, not the
    first non-empty chunk's minimum (round-2 advice)."""
    import pandas as pd

    from py_image_toolkit_spark.streaming.stateful import _make_dedup_group

    fn = _make_dedup_group(None)
    chunks = iter(
        [
            pd.DataFrame({"doc_id": [7, 9], "text": ["t", "t"]}),
            pd.DataFrame({"doc_id": [2, 8], "text": ["t", "t"]}),  # true min
            pd.DataFrame({"doc_id": [5], "text": ["t"]}),
        ]
    )
    state = _FakeState()
    out = list(fn(("h",), chunks, state))
    assert len(out) == 1
    assert int(out[0]["doc_id"][0]) == 2
    assert int(out[0]["n_dropped"][0]) == 4
    assert state.get == (5,)


def test_dedup_group_ttl_evicts_and_rearms():
    """TTL mode: timed-out keys drop their state (bounded store on a long
    drain); the next occurrence re-emits per the retention contract, and
    every live update re-arms the timeout."""
    import pandas as pd

    from py_image_toolkit_spark.streaming.stateful import _make_dedup_group

    fn = _make_dedup_group(60_000)
    # live update arms the timeout
    state = _FakeState()
    out = list(fn(("h",), iter([pd.DataFrame({"doc_id": [1], "text": ["t"]})]), state))
    assert len(out) == 1 and state.timeout_set_ms == 60_000
    # timeout callback: state removed, nothing emitted
    state = _FakeState(value=(3,), timed_out=True)
    out = list(fn(("h",), iter([]), state))
    assert out == [] and state.removed
    # post-eviction duplicate re-emits as first-seen
    state = _FakeState()
    out = list(fn(("h",), iter([pd.DataFrame({"doc_id": [9], "text": ["t"]})]), state))
    assert len(out) == 1 and int(out[0]["doc_id"][0]) == 9


def test_streaming_dedup_ttl_wiring(spark, tmp_path):
    """state_ttl_minutes wires ProcessingTimeTimeout through a real stream.
    With processing-time timeouts the engine keeps scheduling micro-batches
    to service future timeout callbacks, so the query never self-terminates
    (even under availableNow) — poll for the output then stop() explicitly,
    exactly as the operator's docstring prescribes for TTL mode."""
    import os
    import time

    from py_image_toolkit_spark.streaming.stateful import streaming_exact_dedup

    src = str(tmp_path / "src_ttl")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
    )
    out = []
    q = (
        streaming_exact_dedup(stream, state_ttl_minutes=60)
        .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ttl"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        while len(out) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert {r["text"] for r in out} == {"a", "b"}
    assert len(out) == 2


def test_resize_plan_mode_dispatch(media):
    """Reference resize.py:106-120 mode dispatch on the metadata planner."""
    fixed = {r["media_id"]: (r["out_w"], r["out_h"])
             for r in resize_plan(media, 320, 240, mode="fixed").collect()}
    assert fixed[1] == (320, 240) and fixed[2] == (320, 240)
    none = {r["media_id"]: (r["out_w"], r["out_h"])
            for r in resize_plan(media, 320, 240, mode="none").collect()}
    assert none[1] == (640, 480) and none[4] == (1280, 720)
    aspect = {r["media_id"]: (r["out_w"], r["out_h"])
              for r in resize_plan(media, 320, 240).collect()}
    assert aspect[1] == (320, 240)       # 4:3 → exact fit
    assert aspect[2] == (320, 180)       # 16:9 fit inside 320x240
