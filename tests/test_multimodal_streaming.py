"""Multimodal plumbing + streaming ingestion tests."""

from __future__ import annotations

import hashlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from wotan_spark.spark.multimodal import (dedup_media_exact, extract_features,
                                          frame_sample, resize_media,
                                          synth_media)


def test_media_features_roundtrip(spark):
    media = synth_media(spark, 20)
    feats = extract_features(media).collect()
    assert len(feats) == 20
    by_id = {r.media_id: r for r in feats}
    raw = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, r in by_id.items():
        assert r.sha1 == hashlib.sha1(raw[mid]).hexdigest()
        assert r.n_bytes == len(raw[mid])
        np.testing.assert_allclose(sum(r.features), 1.0, rtol=1e-9)


def test_frame_sample_decimates(spark):
    media = synth_media(spark, 10).filter("modality = 'audio'")
    sampled = frame_sample(media, every=4)
    orig = {r.media_id: len(bytes(r.payload)) for r in media.collect()}
    for r in sampled.collect():
        expect = (orig[r.media_id] + 3) // 4
        assert len(bytes(r.payload)) == expect
        assert r.n_frames == expect


def test_resize_media_images_only(spark):
    media = synth_media(spark, 10)
    out = {r.media_id: r for r in resize_media(media, 8, 8).collect()}
    orig = {r.media_id: r for r in media.collect()}
    for mid, r in out.items():
        if r.modality == "image":
            assert (r.width, r.height) == (8, 8)
            assert len(bytes(r.payload)) == 64
            # nearest-neighbor: every output byte exists in the source image
            src = np.frombuffer(bytes(orig[mid].payload), dtype=np.uint8)
            dst = np.frombuffer(bytes(r.payload), dtype=np.uint8)
            assert np.isin(dst, src).all()
            # corner pixel is exact under the floor-index gather
            assert dst[0] == src[0]
        else:  # audio passes through untouched
            assert bytes(r.payload) == bytes(orig[mid].payload)


def test_unknown_codec_raises(spark):
    from wotan_spark.spark.multimodal import _decode_payload
    with pytest.raises(NotImplementedError):
        _decode_payload("mp3", b"ID3\x04")
    # jpeg graduated from this test's example to a real built-in
    # (round 5e): a garbage payload now fails in the DECODER, loudly
    with pytest.raises(ValueError, match="JPEG"):
        _decode_payload("jpeg", b"\xff\xd8")


def test_registered_decoder_runs_end_to_end(spark):
    """ADVICE/verdict r03 item 5: a user-supplied codec registered via
    register_decoder flows through extract_features and dedup_media_exact
    on executors, without editing engine code.  The snapshot semantics
    mean registration must precede plan construction."""
    import numpy as np
    from wotan_spark.spark.multimodal import (register_decoder,
                                              registered_codecs,
                                              unregister_decoder)

    # nested def: cloudpickle ships it BY VALUE inside the closure snapshot
    # (a decoder in an importable module ships by reference — either works;
    # a reference into a module absent on executors would not, as with any
    # UDF)
    def _decode_fake_qoi(payload: bytes):
        if bytes(payload[:4]) != b"QOI!":
            raise ValueError("bad magic")
        return np.frombuffer(payload[4:], dtype=np.uint8)

    raw = synth_media(spark, 8).filter("modality = 'image'")
    qoi = raw.select(
        "media_id", "modality", F.lit("qoi").alias("codec"),
        "width", "height", "sample_rate", "n_frames",
        F.concat(F.lit(b"QOI!"), F.col("payload")).alias("payload"))
    register_decoder("qoi", _decode_fake_qoi)
    try:
        assert "qoi" in registered_codecs()
        feats = {r.media_id: r for r in extract_features(qoi).collect()}
        want = {r.media_id: r for r in extract_features(raw).collect()}
        assert feats.keys() == want.keys() and feats
        for mid, r in feats.items():
            # decoded content identical -> identical feature histograms;
            # sha1/n_bytes differ (they hash the encoded payload)
            assert r.features == want[mid].features
            assert r.n_bytes == want[mid].n_bytes + 4
        dupes = qoi.union(qoi.limit(2))
        out = dedup_media_exact(dupes).collect()
        assert len(out) == 2 and all(r.dup_count == 2 for r in out)
    finally:
        unregister_decoder("qoi")
    assert "qoi" not in registered_codecs()
    with pytest.raises(ValueError):
        unregister_decoder("raw")
    with pytest.raises(ValueError):
        register_decoder("raw", _decode_fake_qoi)   # can't be replaced
    with pytest.raises(TypeError):
        register_decoder("bad", 42)
    # a plan built BEFORE registration must not see a later decoder: the
    # closure snapshot is the shipping mechanism
    stale = extract_features(qoi)
    with pytest.raises(Exception, match="no decoder registered"):
        stale.collect()


def test_media_dedup_exact(spark):
    media = synth_media(spark, 12)
    dupes = media.union(media.limit(3))  # inject exact duplicates
    out = dedup_media_exact(dupes).collect()
    assert len(out) == 3
    assert all(r.dup_count == 2 for r in out)


def test_streaming_ingestion_incremental(spark, tmp_path):
    from wotan_spark.spark.lakehouse import SnapshotTable
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.streaming import run_ingestion
    from wotan_spark.spark.synth import synth_sequences

    landing = str(tmp_path / "landing")
    table_root = str(tmp_path / "tier10")
    ckpt = str(tmp_path / "ckpt")

    seq_a = synth_sequences(spark, 6, median_len=150, max_len=400)
    seq_a.write.mode("overwrite").parquet(landing)
    run_ingestion(spark, landing, table_root, ckpt, method="mean",
                  window_length=17)
    t = SnapshotTable(table_root)
    n1 = t.read(spark).count()
    assert n1 > 0

    # late batch lands -> second drain only processes the new files
    seq_b = synth_sequences(spark, 12, median_len=150, max_len=400) \
        .filter("doc_id >= 'doc_00000006'")
    seq_b.write.mode("append").parquet(landing)
    run_ingestion(spark, landing, table_root, ckpt, method="mean",
                  window_length=17)
    merged = t.read(spark)
    n2 = merged.count()
    assert n2 > n1
    assert merged.select("doc_id").distinct().count() == 12

    # equivalence with a one-shot batch run over the same 12 docs
    batch = detrend_rollup_fused(
        spark.read.parquet(landing), "mean", window_length=17)
    assert batch.count() == n2
    diff = (batch.select("doc_id", "bucket", "y_sum").exceptAll(
        merged.select("doc_id", "bucket", "y_sum"))).count()
    assert diff == 0


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked event-time rollup: a row later than
    (max event time - watermark) is dropped; a late-but-inside-watermark
    row still lands in its window."""
    import pandas as pd
    from wotan_spark.spark.streaming import streaming_windowed_rollup

    landing = tmp_path / "tspoints"
    landing.mkdir()
    t0 = pd.Timestamp("2026-01-01 00:30:00")
    h = pd.Timedelta("1 hour")

    def write(name, ts, ys):
        import time
        pdf = pd.DataFrame({"doc_id": ["a"] * len(ts), "ts": ts, "y": ys})
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark-readable
        pdf.to_parquet(landing / name)
        time.sleep(0.05)    # distinct mod-times -> deterministic batch order

    # batch 1: rows in hours 0 and 1
    write("f1.parquet", [t0, t0 + h, t0 + h + pd.Timedelta("10 min")],
          [1.0, 2.0, 3.0])
    # batch 2: hour 6 — after this batch the watermark is hour 4
    write("f2.parquet", [t0 + 6 * h], [10.0])
    # batch 3: hour 9 — runs WITH watermark hour 4, so hours 0/1 finalize,
    # emit, and their state is evicted; afterwards the watermark is hour 7
    write("f3.parquet", [t0 + 9 * h], [0.5])
    # batch 4: a late hour-0 row (state evicted + older than watermark ->
    # guaranteed drop) and a late hour-8 row (inside watermark -> kept)
    write("f4.parquet", [t0, t0 + 8 * h], [100.0, 8.0])
    # batch 5: advance to hour 13 so hours <= 9 all finalize
    write("f5.parquet", [t0 + 13 * h], [0.25])

    streaming_windowed_rollup(spark, str(landing), str(tmp_path / "ck"),
                              query_name="wm_rollup", bucket="1 hour",
                              watermark="2 hours")
    rows = {r.bucket_start.hour: r for r in
            spark.sql("select * from wm_rollup").collect()}
    assert rows[0].n == 1 and rows[0].y_sum == 1.0   # late hour-0 row DROPPED
    assert rows[1].n == 2 and rows[1].y_sum == 5.0
    assert rows[6].n == 1 and rows[6].y_sum == 10.0
    assert rows[8].n == 1 and rows[8].y_sum == 8.0   # inside-watermark KEPT
    assert rows[9].n == 1 and rows[9].y_sum == 0.5


def test_streaming_session_windows_merge_across_batches(spark, tmp_path):
    """session_window under a watermark: an in-gap event arriving in a
    later micro-batch extends the same session; a beyond-gap event opens
    a new one; sessions finalize once the watermark passes their end."""
    import pandas as pd
    from wotan_spark.spark.streaming import streaming_session_rollup

    landing = tmp_path / "sesspoints"
    landing.mkdir()
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    mn = pd.Timedelta("1 minute")

    def write(name, ts, ys):
        import time
        pdf = pd.DataFrame({"doc_id": ["a"] * len(ts), "ts": ts, "y": ys})
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(landing / name)
        time.sleep(0.05)

    # batch 1: two events 10 min apart (one session so far)
    write("f1.parquet", [t0, t0 + 10 * mn], [1.0, 2.0])
    # batch 2: an in-gap event 20 min later extends the SAME session,
    # plus a beyond-gap event that opens a second session
    write("f2.parquet", [t0 + 30 * mn, t0 + 120 * mn], [3.0, 10.0])
    # batch 3: advance event time far enough that both sessions finalize
    write("f3.parquet", [t0 + 600 * mn], [0.5])

    streaming_session_rollup(spark, str(landing), str(tmp_path / "ck"),
                             query_name="sess_rollup", gap="30 minutes",
                             watermark="1 hour")
    rows = sorted(spark.sql("select * from sess_rollup").collect(),
                  key=lambda r: r.s_start)
    assert len(rows) >= 2
    first, second = rows[0], rows[1]
    # merged session spans t0 .. t0+30min+gap with all three events
    assert first.n == 3 and first.y_sum == 6.0
    assert first.s_start == t0.to_pydatetime()
    assert first.s_end == (t0 + 60 * mn).to_pydatetime()  # last + 30min gap
    assert second.n == 1 and second.y_sum == 10.0


def test_streaming_stateful_running_stats(spark, tmp_path):
    """applyInPandasWithState: per-series state survives micro-batch
    boundaries — a gap-free segment split across two files is counted
    once, and a cross-file gap opens exactly one new segment."""
    import pandas as pd
    from wotan_spark.spark.streaming import (POINTS_SCHEMA,
                                             streaming_running_stats)

    landing = tmp_path / "points"
    landing.mkdir()
    # file 1: doc_a t=0..4 (one segment), doc_b t=0..2
    pd.DataFrame({"doc_id": ["a"] * 5 + ["b"] * 3,
                  "t": [0, 1, 2, 3, 4, 0, 1, 2],
                  "y": [1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 11.0, 12.0]}) \
        .to_parquet(landing / "f1.parquet")
    # file 2: doc_a continues contiguously (t=5..6: same segment), then a
    # gap > tolerance (t=100: new segment); doc_b contiguous
    pd.DataFrame({"doc_id": ["a", "a", "a", "b"],
                  "t": [5, 6, 100, 3],
                  "y": [6.0, 7.0, 8.0, 13.0]}) \
        .to_parquet(landing / "f2.parquet")

    streaming_running_stats(spark, str(landing), str(tmp_path / "ckpt"),
                            query_name="running_stats", break_tolerance=10,
                            max_files_per_trigger=1)
    # memory sink in update mode appends one row per key per batch — the
    # final state is the last row per doc_id
    rows = spark.sql("""
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n DESC) AS rn
            FROM running_stats) WHERE rn = 1""").collect()
    by_id = {r.doc_id: r for r in rows}
    a, b = by_id["a"], by_id["b"]
    assert (a.n, a.last_t, a.n_segments) == (8, 100, 2)
    assert a.y_sum == 36.0 and (a.y_min, a.y_max) == (1.0, 8.0)
    assert (b.n, b.last_t, b.n_segments) == (4, 3, 1)
    assert b.y_sum == 46.0


def test_streaming_running_stats_multichunk_batch(spark, tmp_path):
    """A group's micro-batch arrives as MULTIPLE Arrow chunks once it has
    more rows than arrow.maxRecordsPerBatch, with no global t-order across
    chunks.  The stateful fn must sort the whole batch once: chunk-local
    sorting would see spurious forward jumps (e.g. [0,1,15,16] inside one
    chunk of this interleaved order) and overcount segments."""
    import pandas as pd
    from wotan_spark.spark.streaming import streaming_running_stats

    landing = tmp_path / "points"
    landing.mkdir()
    # t = 0..19 contiguous overall, written interleaved so every 4-row
    # chunk contains a forward jump > break_tolerance
    order = [0, 15, 1, 16, 2, 17, 3, 18, 4, 19,
             5, 6, 7, 8, 9, 10, 11, 12, 13, 14]
    pd.DataFrame({"doc_id": ["a"] * len(order),
                  "t": order,
                  "y": [float(t) for t in order]}) \
        .to_parquet(landing / "f1.parquet")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        streaming_running_stats(spark, str(landing), str(tmp_path / "ckpt"),
                                query_name="running_stats_mc",
                                break_tolerance=10, max_files_per_trigger=1)
    finally:
        spark.conf.set(key, prev)
    row = spark.sql("SELECT * FROM running_stats_mc").collect()[-1]
    assert (row.n, row.last_t, row.n_segments) == (20, 19, 1)
    assert row.y_sum == float(sum(order))


def test_streaming_running_stats_v2_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (state-v2, RocksDB store) twin: same
    cross-batch per-series state semantics as the applyInPandasWithState
    operator — a contiguous segment split across files is counted once, a
    cross-file gap opens exactly one new segment."""
    import pytest
    try:  # the TWS state protocol needs protobuf (absent in this sandbox)
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithStateInPandas needs the protobuf package")
    import pandas as pd
    from wotan_spark.spark.streaming import streaming_running_stats_v2

    landing = tmp_path / "points"
    landing.mkdir()
    pd.DataFrame({"doc_id": ["a"] * 5 + ["b"] * 3,
                  "t": [0, 1, 2, 3, 4, 0, 1, 2],
                  "y": [1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 11.0, 12.0]}) \
        .to_parquet(landing / "f1.parquet")
    pd.DataFrame({"doc_id": ["a", "a", "a", "b"],
                  "t": [5, 6, 100, 3],
                  "y": [6.0, 7.0, 8.0, 13.0]}) \
        .to_parquet(landing / "f2.parquet")

    streaming_running_stats_v2(spark, str(landing), str(tmp_path / "ckpt"),
                               query_name="running_stats_v2",
                               break_tolerance=10, max_files_per_trigger=1)
    rows = spark.sql("""
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n DESC) AS rn
            FROM running_stats_v2) WHERE rn = 1""").collect()
    by_id = {r.doc_id: r for r in rows}
    a, b = by_id["a"], by_id["b"]
    assert (a.n, a.last_t, a.n_segments) == (8, 100, 2)
    assert a.y_sum == 36.0 and (a.y_min, a.y_max) == (1.0, 8.0)
    assert (b.n, b.last_t, b.n_segments) == (4, 3, 1)


def test_streaming_enrichment_tracks_latest_tier_snapshot(spark, tmp_path):
    """Each enrichment micro-batch must read the tier table's CURRENT
    snapshot: after the tier advances between drains, new points are
    enriched with the fresh bucket mean while already-enriched rows are
    immutable, and every output snapshot records which tier snapshot it
    read."""
    import pyspark.sql.functions as F
    from wotan_spark.spark.lakehouse import SnapshotTable
    from wotan_spark.spark.streaming import run_enrichment

    landing = str(tmp_path / "points")
    tier_root = str(tmp_path / "tier10")
    out_root = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")

    tier = SnapshotTable(tier_root)
    sid1 = tier.overwrite(spark.createDataFrame(
        [("d1", 0, 10.0)], "doc_id string, bucket long, y_mean double"))

    # batch 1: t=15 -> bucket 0 completed at t=10, mean 10.0
    spark.createDataFrame([("d1", 15, 1.0)], "doc_id string, t long, y double") \
        .write.mode("overwrite").parquet(landing)
    run_enrichment(spark, landing, tier_root, out_root, ckpt,
                   bucket_width=10, tolerance_buckets=3)
    out = SnapshotTable(out_root)
    got1 = {(r.doc_id, r.t): r.y_mean_asof for r in out.read(spark).collect()}
    assert got1 == {("d1", 15): 10.0}

    # tier advances (bucket 1 committed), a new point lands
    sid2 = tier.merge_buckets(spark, spark.createDataFrame(
        [("d1", 1, 20.0)], "doc_id string, bucket long, y_mean double"),
        keys=["doc_id", "bucket"])
    spark.createDataFrame([("d1", 25, 2.0)], "doc_id string, t long, y double") \
        .write.mode("append").parquet(landing)
    run_enrichment(spark, landing, tier_root, out_root, ckpt,
                   bucket_width=10, tolerance_buckets=3)
    rows = out.read(spark).collect()
    got2 = {(r.doc_id, r.t): r.y_mean_asof for r in rows}
    # new point sees the fresh bucket-1 mean; the old row is unchanged
    assert got2 == {("d1", 15): 10.0, ("d1", 25): 20.0}
    # snapshot stamps record which tier snapshot each batch read
    sids = [m["meta"].get("tier_snapshot") for m in out.snapshots()]
    assert sids == [sid1, sid2]

    # at-least-once replay (ADVICE r03): a crash between the merge and the
    # streaming checkpoint commit replays the batch on restart — simulate
    # with a wiped checkpoint (batch ids restart at 0, availableNow re-reads
    # every landing file).  The (doc_id, t) key-merge must keep the row set
    # identical: no duplicates.
    import shutil
    shutil.rmtree(ckpt)
    run_enrichment(spark, landing, tier_root, out_root, ckpt,
                   bucket_width=10, tolerance_buckets=3)
    replay = {(r.doc_id, r.t): r.y_mean_asof for r in out.read(spark).collect()}
    assert replay == got2, "replayed batch duplicated enrichment rows"
    assert out.read(spark).count() == 2

    # checkpoint rebuild + NEW data (round-4 review): after another wipe a
    # fresh file lands, so availableNow batch 0 = old+new files under a
    # REUSED batch id.  A batch-id guard would skip the whole batch and
    # silently lose the new point; the key-merge must enrich it while the
    # old rows stay unduplicated.
    shutil.rmtree(ckpt)
    spark.createDataFrame([("d1", 35, 3.0)], "doc_id string, t long, y double") \
        .write.mode("append").parquet(landing)
    run_enrichment(spark, landing, tier_root, out_root, ckpt,
                   bucket_width=10, tolerance_buckets=3)
    got3 = {(r.doc_id, r.t): r.y_mean_asof for r in out.read(spark).collect()}
    assert got3 == {("d1", 15): 10.0, ("d1", 25): 20.0, ("d1", 35): 20.0}
    assert out.read(spark).count() == 3


def test_streaming_pipeline_ingestion_maintains_all_tiers(spark, tmp_path):
    """run_pipeline_ingestion drains landing files through the full
    incremental path: stats tiers AND sketch tiers advance per drain, and
    a replayed batch (at-least-once foreachBatch) neither duplicates the
    raw append nor perturbs the merged state."""
    from wotan_spark.spark.distinct import distinct_counts, tier_distinct
    from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.streaming import (_pipeline_sink,
                                             run_pipeline_ingestion)
    from wotan_spark.spark.synth import synth_sequences

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(method="mean", window_length=17,
                         sketch_distinct=True)
    p = Pipeline(spark, str(tmp_path / "pipe"), cfg)

    seq_a = synth_sequences(spark, 6, median_len=150, max_len=400)
    seq_a.write.mode("overwrite").parquet(landing)
    run_pipeline_ingestion(spark, landing, p, ckpt)
    assert p.tables["tier10"].read(spark).count() > 0
    assert p.tables["distinct10"].read(spark).count() > 0

    # second drain picks up only the late files
    seq_b = synth_sequences(spark, 12, median_len=150, max_len=400) \
        .filter("doc_id >= 'doc_00000006'")
    seq_b.write.mode("append").parquet(landing)
    run_pipeline_ingestion(spark, landing, p, ckpt)

    all_seq = spark.read.parquet(landing)
    assert (p.tables["sequences"].read(spark).count()
            == all_seq.count())                       # no duplicate appends
    batch = detrend_rollup_fused(all_seq, "mean", window_length=17)
    merged = p.tables["tier10"].read(spark)
    assert batch.count() == merged.count()
    assert (batch.select("doc_id", "bucket", "y_sum")
            .exceptAll(merged.select("doc_id", "bucket", "y_sum"))
            .count()) == 0
    want_d = {(r.doc_id, r.bucket): r.n_distinct
              for r in distinct_counts(tier_distinct(all_seq, 10)).collect()}
    got_d = {(r.doc_id, r.bucket): r.n_distinct
             for r in distinct_counts(
                 p.tables["distinct10"].read(spark)
                 .select("doc_id", "bucket", "sk")).collect()}
    assert got_d == want_d

    # simulate a foreachBatch replay of an already-committed batch id:
    # the guard must take the merge-only path and change nothing
    n_seq_files = len(p.tables["sequences"].data_files())
    rid = [m["meta"]["run_id"] for m in p.tables["sequences"].snapshots()
           if str(m.get("meta", {}).get("run_id", "")).startswith("stream-")][-1]
    _pipeline_sink(p, seq_b, rid)
    assert len(p.tables["sequences"].data_files()) == n_seq_files
    merged2 = p.tables["tier10"].read(spark)
    assert merged2.count() == batch.count()
    assert (batch.select("doc_id", "bucket", "y_sum")
            .exceptAll(merged2.select("doc_id", "bucket", "y_sum"))
            .count()) == 0


def test_frame_sample_and_resize_validate_params(spark):
    """every=0 crashed inside executors ('slice step cannot be zero'),
    every=-1 silently time-REVERSED clips with a corrupted sample_rate;
    a 0/negative resize target silently emitted empty payloads with
    width/height metadata of 0.  All must fail at build time."""
    media = synth_media(spark, 2)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="every"):
            frame_sample(media, every=bad)
    for w, h in ((0, 8), (8, 0), (-1, 8)):
        with pytest.raises(ValueError, match="target size"):
            resize_media(media, out_w=w, out_h=h)
