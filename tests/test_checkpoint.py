"""Resume-from-checkpoint: crash mid-job, restart, identical output."""

from __future__ import annotations

import json
import threading

import pandas as pd
import pyspark.sql.functions as F
import pytest

from gfwspark import checkpoint, features, tables


def _transform(df):
    return features.featurize(df, window_size=4)


def test_resume_after_crash_identical_output(spark, tmp_path):
    df = tables.synthesize_image_caption(spark, n_entities=16, rows_per_entity=8)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")

    # uninterrupted reference run
    checkpoint.run_resumable(df, _transform, out_a, n_buckets=4)

    # crashed run: fails after bucket 1, restart completes the rest
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_resumable(df, _transform, out_b, n_buckets=4, fail_after_bucket=1)
    summary = checkpoint.run_resumable(df, _transform, out_b, n_buckets=4)
    assert summary["skipped"] == [0, 1]
    assert summary["completed"] == [2, 3]

    cols = ["image_id", "ts", "phash_hamming", "ham_w_avg", "session_id"]
    a = (
        checkpoint.read_result(spark, out_a).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    b = (
        checkpoint.read_result(spark, out_b).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_manifests_carry_lineage(spark, tmp_path):
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "m")
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    manifests = sorted((tmp_path / "m" / "_manifests").glob("bucket_*.json"))
    assert len(manifests) == 2
    m = json.loads(manifests[0].read_text())
    for key in ("input_fingerprint", "rows", "min_ts", "max_ts", "wall_s", "engine_version"):
        assert key in m


def test_changed_input_invalidates_checkpoints(spark, tmp_path):
    df1 = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    df2 = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=7)
    out = str(tmp_path / "inv")
    checkpoint.run_resumable(df1, _transform, out, n_buckets=2)
    summary = checkpoint.run_resumable(df2, _transform, out, n_buckets=2)
    assert summary["skipped"] == []  # fingerprint changed → full recompute


def test_snapshot_log_append_only(spark, tmp_path):
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "snap")
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    s1 = checkpoint.read_snapshot(out)
    assert s1["snapshot_id"] == 1
    assert s1["total_rows"] == sum(b["rows"] for b in s1["buckets"])
    assert len(s1["buckets"]) == 2

    # second commit (same input → buckets skipped, snapshot still appended)
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    s2 = checkpoint.read_snapshot(out)
    assert s2["snapshot_id"] == 2
    assert checkpoint.read_snapshot(out, 1)["snapshot_id"] == 1


def test_bucket_count_change_invalidates_and_isolates(spark, tmp_path):
    """Rerunning with a different n_buckets recomputes everything (the
    bucket layout is part of the fingerprint) and writes to FRESH
    fp-versioned dirs, so both the new read and a PINNED old snapshot
    stay exactly right — nothing is overwritten in place."""
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "relayout")
    checkpoint.run_resumable(df, _transform, out, n_buckets=4)
    rows_4 = checkpoint.read_result(spark, out).count()
    paths_4 = {b["output"] for b in checkpoint.read_snapshot(out, 1)["buckets"]}

    summary = checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    assert summary["skipped"] == []  # layout changed → no stale skips
    snap = checkpoint.read_snapshot(out)
    assert len(snap["buckets"]) == 2
    # the two layouts live in disjoint content-versioned dirs
    paths_2 = {b["output"] for b in snap["buckets"]}
    assert paths_4.isdisjoint(paths_2)
    # latest read: no duplication/mixing
    assert checkpoint.read_result(spark, out).count() == rows_4
    # pinned read of the OLD snapshot is still byte-consistent
    assert checkpoint.read_result(spark, out, snapshot_id=1).count() == rows_4


def test_snapshot_errors_are_actionable(spark, tmp_path):
    """Missing snapshots.json and unknown snapshot_id raise ValueError
    with the path / known-ids in the message (ADVICE r2), not raw
    StopIteration / FileNotFoundError."""
    import pytest

    from gfwspark import checkpoint as ckpt

    with pytest.raises(ValueError, match="no committed snapshot"):
        ckpt.read_snapshot(str(tmp_path / "never_written"))


def _sorted_result(spark, out):
    cols = ["image_id", "ts", "phash_hamming", "ham_w_avg", "session_id"]
    return (
        checkpoint.read_result(spark, out).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )


class _TransformError(Exception):
    pass


@pytest.mark.parametrize("stage,k", [("plan", 2), ("execute", 1)])
def test_failed_bucket_commits_earlier_buckets_and_resumes(spark, tmp_path, stage, k):
    """Bucket k fails while the pipeline has its neighbour in flight:
    either its transform raises on the calling thread ("plan") or its
    write fails on the worker ("execute").  The original error
    surfaces, exactly the buckets before k are committed, no worker
    thread outlives the call, and a resume matches an uninterrupted run."""
    df = tables.synthesize_image_caption(spark, n_entities=16, rows_per_entity=8)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    checkpoint.run_resumable(df, _transform, out_a, n_buckets=4)

    calls = []

    def failing(bucket_df):
        b = len(calls)
        calls.append(b)
        if b == k and stage == "plan":
            raise _TransformError(f"transform failed for bucket {b}")
        part = _transform(bucket_df)
        if b == k:
            part = part.where(F.raise_error(F.lit(f"write failed for bucket {b}")).isNull())
        return part

    err = _TransformError if stage == "plan" else Exception
    with pytest.raises(err, match=f"failed for bucket {k}"):
        checkpoint.run_resumable(df, failing, out_b, n_buckets=4)
    assert not [t for t in threading.enumerate() if t.name.startswith("run_resumable")]
    manifests = (tmp_path / "b" / "_manifests").glob("bucket_*.json")
    assert {json.loads(m.read_text())["bucket"] for m in manifests} == set(range(k))

    summary = checkpoint.run_resumable(df, _transform, out_b, n_buckets=4)
    assert summary["skipped"] == list(range(k))
    assert summary["completed"] == list(range(k, 4))
    pd.testing.assert_frame_equal(_sorted_result(spark, out_a), _sorted_result(spark, out_b))


def test_bucket_jobs_stay_in_callers_job_group(spark, tmp_path):
    """Jobs launched on the pipeline's worker threads belong to the
    caller's job group (so cancelJobGroup covers them) and carry the
    bucket label as their description."""
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("run_resumable-test", "caller")
    try:
        checkpoint.run_resumable(df, _transform, str(tmp_path / "g"), n_buckets=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    store = sc._jsc.sc().statusStore()
    labels = set()
    for j in tracker.getJobIdsForGroup("run_resumable-test"):
        d = store.job(j).description()
        labels.add(d.get() if d.isDefined() else None)
    assert {"run_resumable bucket 0/2", "run_resumable bucket 1/2"} <= labels


def test_fingerprint_sum_cannot_overflow(spark):
    """The crc32 sum passes 2^63 at about 4.3e9 rows, where a long sum
    raises ARITHMETIC_OVERFLOW under ANSI mode.  A sum that fits in a
    long keeps its old digits, so existing manifests still resume."""
    h = spark.range(3).select(checkpoint._exact_sum(F.lit(2**62)).alias("h")).first()["h"]
    assert h == 3 * 2**62

    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    long_sum = df.select(
        F.sum(F.crc32(F.concat_ws("|", "image_id", F.col("ts").cast("string"))))
    ).first()[0]
    assert f",h={long_sum}," in checkpoint.input_fingerprint(df, "image_id", "ts", 2)


def test_failed_commit_keeps_previous_snapshot_log(spark, tmp_path, monkeypatch):
    """A commit that dies while writing the snapshot log leaves the
    previous log readable and no temp file behind."""
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "atomic")
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    rows = checkpoint.read_result(spark, out).count()

    def crash(fd):
        raise OSError("disk full")

    monkeypatch.setattr(checkpoint.os, "fsync", crash)
    with pytest.raises(OSError, match="disk full"):
        checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    monkeypatch.undo()

    assert checkpoint.read_snapshot(out)["snapshot_id"] == 1
    assert checkpoint.read_result(spark, out).count() == rows
    assert not list((tmp_path / "atomic" / "_manifests").glob(".*.tmp"))
