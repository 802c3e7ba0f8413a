"""Multimodal plumbing + structured-streaming extraction."""

from __future__ import annotations

import pandas as pd
import pytest

from barks_ocr_spark.datagen import docs as dg
from barks_ocr_spark.kernels import spans as sk
from barks_ocr_spark.operators import media
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from barks_ocr_spark.streaming import incremental


def _media_df(spark):
    rows = [
        ("d1", "img1.png", media.encode_fake_image(640, 480, 3, seed=1)),
        ("d2", "img2.png", media.encode_fake_image(100, 50, 1, seed=2)),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "media_ref", "blob"])
    )


def test_image_metadata(spark):
    out = {r["media_ref"]: r for r in media.image_metadata(_media_df(spark)).collect()}
    assert out["img1.png"]["width"] == 640
    assert out["img1.png"]["height"] == 480
    assert out["img2.png"]["channels"] == 1
    assert out["img1.png"]["n_bytes"] > 9


def test_image_features_deterministic(spark):
    a = media.image_features(_media_df(spark)).collect()
    b = media.image_features(_media_df(spark)).collect()
    fa = {r["media_ref"]: r["features"] for r in a}
    fb = {r["media_ref"]: r["features"] for r in b}
    assert fa == fb
    assert len(fa["img1.png"]) == 8
    assert abs(sum(fa["img1.png"]) - 1.0) < 1e-5


def test_frame_sampling(spark):
    out = media.sample_frames(_media_df(spark), every_n=3).collect()
    assert all(r["frame_idx"] % 3 == 0 for r in out)
    assert len(out) > 0


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        media._decode_image(b"\x89PNG....")


def _fake_pil(monkeypatch, open_fn):
    import sys
    import types

    pil = types.ModuleType("PIL")
    pil_image = types.ModuleType("PIL.Image")
    pil_image.open = open_fn
    pil.Image = pil_image
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil_image)


def test_real_decode_dispatches_to_pil(monkeypatch):
    """With an importable PIL, non-fake blobs route to Image.open — the
    same wheel decodes real blobs on a cluster that has the libs. The
    decode source is surfaced so image_metadata's format column reports
    the real codec (VERDICT r3)."""

    class _Img:
        size = (7, 5)

        def convert(self, mode):
            assert mode == "RGB"  # real decodes normalize byte order
            return self

        def tobytes(self):
            return b"xyz"

    _fake_pil(monkeypatch, lambda fp: _Img())
    assert media._decode_image(b"\x89PNG....") == (7, 5, 3, b"xyz", "pil")
    # the fake codec still wins for fake blobs
    blob = media.encode_fake_image(3, 2, 1, seed=4)
    w, h, c, _, source = media._decode_image(blob)
    assert (w, h, c, source) == (3, 2, 1, "fake")


def test_pil_decode_failure_falls_through_to_cv2(monkeypatch):
    """ADVICE r3: an importable PIL that CANNOT decode the blob
    (UnidentifiedImageError is an OSError) must not mask cv2; and the
    cv2 path converts BGR→RGB so both libs return identical bytes."""
    import sys
    import types

    import numpy as np

    def _raise(fp):
        raise OSError("cannot identify image file")

    _fake_pil(monkeypatch, _raise)

    calls = {}
    cv2 = types.ModuleType("cv2")
    cv2.IMREAD_COLOR = 1
    cv2.COLOR_BGR2RGB = 4

    def _imdecode(buf, flags):
        return np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)

    def _cvt(arr, code):
        calls["cvt"] = code
        return arr[:, :, ::-1]

    cv2.imdecode = _imdecode
    cv2.cvtColor = _cvt
    monkeypatch.setitem(sys.modules, "cv2", cv2)

    w, h, c, payload, source = media._decode_image(b"\x89PNG....")
    assert (w, h, c, source) == (7, 5, 3, "cv2")
    assert calls["cvt"] == cv2.COLOR_BGR2RGB
    want = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)[:, :, ::-1]
    assert payload == want.tobytes()


def test_image_metadata_reports_decode_source(spark):
    out = media.image_metadata(_media_df(spark)).collect()
    assert {r["format"] for r in out} == {"fake"}


def test_streaming_extraction_matches_batch(spark, tmp_path):
    docs_pdf = dg.gen_documents(80, seed=17)
    flat = sk.flatten(docs_pdf)
    rep = sk.repeating_headings_from_flat(flat)
    golden = sk.nest(sk.extract_flat(flat, rep), docs_pdf["doc_id"])

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SPANS_SCHEMA).repartition(
        4
    ).write.parquet(in_dir)

    stream = incremental.stream_extraction(spark, in_dir, rep, max_files_per_trigger=2)
    assert stream.isStreaming
    # streaming runs the batch job's Arrow pass 2, not a pandas copy
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    incremental.run_stream_to_parquet(stream, out_dir, ckpt)

    got = {r["doc_id"]: r["spans"] for r in spark.read.parquet(out_dir).collect()}
    assert len(got) == 80
    for _, row in golden.iterrows():
        g = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got[row.doc_id]]
        e = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row.spans]
        assert g == e

    # exactly-once: re-running the stream with the same checkpoint adds nothing
    stream2 = incremental.stream_extraction(spark, in_dir, rep)
    incremental.run_stream_to_parquet(stream2, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 80


def test_streaming_event_counts(spark, tmp_path):
    in_dir = str(tmp_path / "events")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "ts": pd.to_datetime(
                    ["2024-01-01 10:05", "2024-01-01 10:55", "2024-01-01 11:05"]
                ),
                "user_id": [1, 1, 2],
                "event_type": ["click", "click", "view"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        )
    ).write.parquet(in_dir)
    agg = incremental.stream_event_counts(spark, in_dir, window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("evcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from evcounts").collect()
    }
    assert rows[("2024-01-01 10:00:00", "click")] == 2
    assert rows[("2024-01-01 11:00:00", "view")] == 1


def test_stateful_stream_dedup(spark, tmp_path):
    """applyInPandasWithState: first-occurrence dedup across micro-batches."""
    import pandas as pd
    from pyspark.sql import functions as F

    from barks_ocr_spark.streaming import stateful

    in_dir = str(tmp_path / "docs")
    # 6 docs, 3 distinct fingerprints, written as several files so the
    # stream sees multiple micro-batches
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "fp": ["a", "b", "a", "c", "b", "a"],
        }
    )
    spark.createDataFrame(rows).repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = stateful.stream_first_per_fingerprint(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedupstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedupstream").collect()
    fps = [r["fp"] for r in got]
    assert sorted(fps) == ["a", "b", "c"]  # exactly one row per fingerprint
    assert all(r["is_first"] for r in got)


def test_stream_sessionize_state_carries_across_batches(spark, tmp_path):
    """Sessions split/closed correctly when the SAME user's events span
    two source files processed as separate micro-batches: the open
    session in state must absorb batch-2 events inside the gap and only
    close on a true >30-min gap."""
    from barks_ocr_spark.streaming import stateful

    in_dir = tmp_path / "ev"
    in_dir.mkdir()

    def _write(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "us", "event_id"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(in_dir / name)
        )

    m = 60_000_000  # one minute in µs
    # batch 1: u1 events at t=0,10min (one open session)
    _write("b1", [(1, 0, 100), (1, 10 * m, 101)])
    # batch 2: u1 at 20min (same session), then 120min (closes it),
    # then 125min (same new session — stays open); u2 single event
    _write("b2", [(1, 20 * m, 102), (1, 120 * m, 103), (1, 125 * m, 104), (2, 0, 200)])

    stream = (
        spark.readStream.schema("user_id long, us long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "b*"))
    )
    out = stateful.stream_sessionize(stream)
    (
        out.writeStream.format("memory")
        .queryName("sess_split_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["first_event"], r["last_event"]
        )
        for r in spark.table("sess_split_test").collect()
    }
    # only u1's first session closed: 3 events (100..102) across batches
    assert got == {(1, 1): (3, 100, 102)}


def test_hygiene_projections_compose_with_streaming(spark, tmp_path):
    # the hygiene tier's stateless projections (PII scrub, lang-id,
    # repetition kernel) must run UNCHANGED on a readStream — the same
    # DataFrame expressions, a streaming source, no code fork
    from barks_ocr_spark.operators import textstats

    in_dir = str(tmp_path / "docs")
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                # long enough that the bigram-repetition ceiling (top
                # frac > 0.2 needs < 5 distinct bigrams) doesn't fire
                "please mail me at who@example.com sometime later today thanks",
                "the and of to in a is it plain english text",
                "x x x x x x x x",
            ],
        }
    )
    spark.createDataFrame(rows).repartition(2).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    def gated_scrub(df):
        # the batch hygiene composition (gate → scrub) verbatim on a
        # streaming source: gopher_filter's JVM signals + repetition
        # kernel and the PII regex chain are all stateless projections
        return textstats.pii_redact(
            textstats.gopher_filter(
                df, min_words=5, min_mean_word_len=1.0, passthrough=("text",)
            ).filter("keep"),
        )

    for qname, op in (
        ("piistream", textstats.pii_redact),
        ("repstream", textstats.repetition_scores),
        ("gatestream", lambda df: textstats.gopher_filter(
            df, min_words=5, min_mean_word_len=1.0
        )),
        ("cleanstream", gated_scrub),
    ):
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ("ckpt_" + qname)))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    pii = {r["doc_id"]: r for r in spark.sql("select * from piistream").collect()}
    rep = {r["doc_id"]: r for r in spark.sql("select * from repstream").collect()}
    assert pii[1]["n_emails"] == 1 and "[EMAIL]" in pii[1]["text_redacted"]
    assert pii[2]["n_emails"] == 0
    assert rep[3]["top_unigram_frac"] == 1.0
    gate = {r["doc_id"]: r for r in spark.sql("select * from gatestream").collect()}
    # doc 3 is pure repetition → repeated_bigrams fires on the stream
    # exactly as in batch; doc 2 is plain english and passes
    assert gate[2]["keep"] is True
    assert gate[3]["keep"] is False and "repeated" in gate[3]["failed"]
    clean = {r["doc_id"]: r for r in spark.sql("select * from cleanstream").collect()}
    assert 3 not in clean  # gated out BEFORE the scrub, stream-side
    assert "[EMAIL]" in clean[1]["text_redacted"]
