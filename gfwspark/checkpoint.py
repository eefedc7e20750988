"""Resumable runs: per-partition checkpoints with lineage manifests.

North-rule requirement: "resumable from per-partition checkpoints with
lineage manifests and per-partition metrics written alongside Iceberg
snapshots".  The reference's operational analog is CloudML resume-from-
checkpoint (README.md:84-89); there is no in-repo equivalent, so this
layer is engine-native:

- The job's input is bucketed into `n_buckets` deterministic entity
  buckets (crc32 of the entity key — stable across runs and cluster
  sizes, unlike spark_partition_id).
- Each completed bucket writes content-versioned
  `fp=<fingerprint-md5>/part=<i>` parquet plus a manifest JSON
  `_manifests/bucket_<fingerprint-md5>_<i>.json` carrying lineage (input
  fingerprint, bucket id, row count, min/max ts, wall time, engine
  version).  Versioned paths mean re-runs never overwrite a committed
  snapshot's files (Iceberg's immutable-file contract).
- ``run_resumable`` skips buckets whose manifest matches the current
  input fingerprint — a restart recomputes only missing buckets and the
  final table is bit-identical (determinism tests guarantee per-bucket
  outputs don't depend on which run produced them).
- Buckets run as a two-deep pipeline: the calling thread builds bucket
  b+1's plan while a worker thread writes bucket b, so the executors
  are not idle while the driver plans.  Manifests are still committed
  on the calling thread in bucket order, and a bucket counts as done
  only once its manifest exists: files a crash left without a manifest
  are overwritten on resume.  Manifests and the snapshot log are
  replaced atomically (temp file + ``os.replace``), so a crash mid-write
  never truncates them.

On Iceberg (prod) the same manifests ride along as snapshot summary
properties; on the local filesystem they are plain JSON next to the
parquet output.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections import deque
from concurrent.futures import Future, ThreadPoolExecutor
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.util import inheritable_thread_target

import gfwspark


def bucket_of(entity_col: str, n_buckets: int):
    """Deterministic bucket id for an entity key (crc32 mod n).

    NULL keys map to a real bucket via a sentinel string (crc32(NULL)
    is NULL, which would otherwise crash partition bookkeeping and
    silently drop the null partition on dynamic overwrite)."""
    key = F.coalesce(F.col(entity_col).cast("string"), F.lit("\x00__null__"))
    return (F.crc32(key) % n_buckets).cast("int")


# Bucket-layout version: bump whenever bucket_of's key->bucket mapping
# changes (v2: NULL keys map to a sentinel bucket instead of a NULL
# bucket).  Baked into every fingerprint so manifests written under an
# older mapping can never be resumed as "ok" — a resumed job would
# otherwise silently skip buckets whose membership moved.
_LAYOUT_VERSION = 2


def input_fingerprint(df: DataFrame, entity: str, ts: str, n_buckets: int = 0) -> str:
    """Cheap order-insensitive fingerprint of the input: row count +
    xor-ish sum of row hashes, PLUS the bucket layout — changing
    n_buckets or the bucket mapping itself must invalidate old
    manifests (a bucket id means nothing across layouts)."""
    agg = df.select(
        F.count(F.lit(1)).alias("n"),
        _exact_sum(F.crc32(F.concat_ws("|", F.col(entity), F.col(ts).cast("string")))).alias("h"),
    ).first()
    return f"n={agg['n']},h={agg['h']},b={n_buckets},v={_LAYOUT_VERSION}"


def _exact_sum(col: Column) -> Column:
    """Sum of a long column that cannot overflow.  A long sum raises
    ARITHMETIC_OVERFLOW under ANSI mode once it passes 2^63 (about
    4.3e9 crc32 values); decimal(38,0) holds 10^38.  A sum that fits in
    a long prints the same digits, so existing fingerprints still match."""
    return F.sum(col.cast("decimal(38,0)"))


def _manifest_dir(output_path: str) -> Path:
    return Path(output_path) / "_manifests"


def _fp_tag(fingerprint: str) -> str:
    """Content-version tag baked into bucket paths + manifest names: a
    re-run with different input or bucket layout writes to FRESH dirs
    instead of overwriting, so a pinned snapshot_id keeps reading
    exactly the files it committed (the Iceberg immutable-file
    contract; old versions are pruned by retention, not overwritten).
    Full md5 digest — a truncated tag's collision would silently
    overwrite a committed snapshot's files."""
    import hashlib

    return hashlib.md5(fingerprint.encode()).hexdigest()


def _replace_text(path: Path, text: str) -> None:
    """Write ``path`` so that a reader sees the old or the new content,
    never a truncated file: write a temp file in the same directory,
    make it durable, then rename it over ``path``."""
    fd, tmp = tempfile.mkstemp(dir=path.parent, prefix=f".{path.name}.", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        Path(tmp).unlink(missing_ok=True)
        raise


def completed_buckets(output_path: str, fingerprint: str) -> set[int]:
    done = set()
    mdir = _manifest_dir(output_path)
    if not mdir.exists():
        return done
    # match only the CURRENT naming scheme: a legacy bucket_<i>.json
    # from an older layout could carry the same fingerprint but its
    # files live at unversioned paths _commit_snapshot no longer reads
    # -> skipping from it would make the commit step crash.
    for p in mdir.glob(f"bucket_{_fp_tag(fingerprint)}_*.json"):
        try:
            m = json.loads(p.read_text())
        except json.JSONDecodeError:
            continue
        if m.get("input_fingerprint") == fingerprint and m.get("status") == "ok":
            done.add(int(m["bucket"]))
    return done


# Buckets in flight at once: the calling thread plans the next bucket
# while this one executes.  Deeper buys no more overlap (planning is
# serial on the calling thread) and would hold more buckets in memory.
_PIPELINE_DEPTH = 2


def run_resumable(
    df: DataFrame,
    transform,
    output_path: str,
    entity: str = "image_id",
    ts: str = "ts",
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
) -> dict:
    """Apply `transform(bucket_df) -> DataFrame` per entity bucket,
    writing each bucket + manifest; resume skips completed buckets.

    A bucket is the unit of redo after a crash, exactly like the
    reference re-runs only missing vessel files (run_inference.py:44-48
    skips by path).  Buckets run as a two-deep pipeline:

    - ``transform`` is called on the calling thread, one bucket at a
      time in bucket order, so it need not be thread-safe;
    - the bucket's parquet write and the re-read of its stats run on a
      worker thread (at most ``_PIPELINE_DEPTH`` buckets in flight), so
      the next bucket is planned while this one executes.  Its Spark
      jobs keep the caller's job group and tags, and are described as
      ``run_resumable bucket <b>/<n_buckets>``;
    - manifests are committed on the calling thread in bucket order as
      results arrive.  A manifest's ``wall_s`` runs from the start of
      the bucket's transform to its commit, so it includes time that
      overlapped the neighbouring bucket.

    If a bucket's transform or write fails, the buckets before it that
    succeeded are still committed, the error is raised, and no worker
    thread is left running.  `fail_after_bucket` injects a crash right after
    that bucket's manifest is committed (tests): every bucket up to it
    is committed, and the next bucket may already be written but has
    no manifest, so a resume recomputes it.  Returns a summary dict
    {completed, skipped, total}.
    """
    fp = input_fingerprint(df, entity, ts, n_buckets)
    done = completed_buckets(output_path, fp)
    mdir = _manifest_dir(output_path)
    mdir.mkdir(parents=True, exist_ok=True)
    spark = df.sparkSession

    bucketed = df.withColumn("_bucket", bucket_of(entity, n_buckets))
    skipped, completed = sorted(done), []

    def start(pool: ThreadPoolExecutor, b: int) -> tuple[int, float, str, Future]:
        t0 = time.time()
        part = transform(bucketed.filter(F.col("_bucket") == b).drop("_bucket"))
        out_dir = f"{output_path}/fp={_fp_tag(fp)}/part={b}"
        # wrapped here, after transform returns: the worker inherits the
        # caller's job group as it is now, so cancelJobGroup covers it
        write = inheritable_thread_target(spark)(_write_bucket)
        label = f"run_resumable bucket {b}/{n_buckets}"
        return b, t0, out_dir, pool.submit(write, part, out_dir, ts, label)

    def commit(b: int, t0: float, out_dir: str, fut: Future) -> None:
        stats = fut.result()
        manifest = {
            "bucket": b,
            "status": "ok",
            "input_fingerprint": fp,
            "rows": stats["rows"],
            "min_ts": str(stats["min_ts"]),
            "max_ts": str(stats["max_ts"]),
            "wall_s": round(time.time() - t0, 3),
            "engine_version": gfwspark.__version__,
            "output": out_dir,
        }
        _replace_text(mdir / f"bucket_{_fp_tag(fp)}_{b}.json", json.dumps(manifest, indent=1))
        completed.append(b)
        if fail_after_bucket is not None and b >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {b}")

    # leaving the with-block joins the workers, on success and on error;
    # a bucket still in flight behind an error is never committed, and
    # its own result is not read (the error already being raised wins)
    with ThreadPoolExecutor(_PIPELINE_DEPTH, thread_name_prefix="run_resumable") as pool:
        in_flight: deque = deque()
        for b in range(n_buckets):
            if b in done:
                continue
            if len(in_flight) == _PIPELINE_DEPTH:
                commit(*in_flight.popleft())
            try:
                in_flight.append(start(pool, b))
            except BaseException as err:
                # the buckets in flight precede b: commit them as a
                # sequential run would have, then surface b's error
                try:
                    while in_flight:
                        commit(*in_flight.popleft())
                except Exception as drain_err:
                    err.add_note(f"an earlier bucket was not committed: {drain_err!r}")
                raise
        while in_flight:
            commit(*in_flight.popleft())

    _commit_snapshot(output_path, fp, n_buckets)
    return {"completed": completed, "skipped": skipped, "total": n_buckets}


def _write_bucket(part: DataFrame, out_dir: str, ts: str, label: str):
    """Worker-thread half of a bucket: write it, then take its lineage
    stats from the parquet just WRITTEN (one cheap re-read of this
    bucket's files), not from re-executing the transform — the manifest
    always describes the bytes on disk, even for a nondeterministic
    transform, and the job runs 1x."""
    spark = part.sparkSession
    # the description only: setJobGroup here would detach the bucket's
    # jobs from the caller's group
    spark.sparkContext.setLocalProperty("spark.job.description", label)
    part.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).agg(
        F.count(F.lit(1)).alias("rows"),
        F.min(ts).alias("min_ts"),
        F.max(ts).alias("max_ts"),
    ).first()


def _commit_snapshot(output_path: str, fingerprint: str, n_buckets: int) -> None:
    """Table-level snapshot (the Iceberg-snapshot stand-in): an
    append-only log of commits, each listing every bucket manifest it
    covers with rows + lineage.  A reader that pins a snapshot id sees
    a consistent set of bucket files."""
    mdir = _manifest_dir(output_path)
    buckets = []
    for b in range(n_buckets):
        p = mdir / f"bucket_{_fp_tag(fingerprint)}_{b}.json"
        m = json.loads(p.read_text())
        buckets.append({"bucket": b, "rows": m["rows"], "output": m["output"],
                        "wall_s": m["wall_s"]})
    log_path = mdir / "snapshots.json"
    log = json.loads(log_path.read_text()) if log_path.exists() else []
    log.append(
        {
            "snapshot_id": len(log) + 1,
            "input_fingerprint": fingerprint,
            "engine_version": gfwspark.__version__,
            "total_rows": sum(b["rows"] for b in buckets),
            "buckets": buckets,
        }
    )
    _replace_text(log_path, json.dumps(log, indent=1))


def read_snapshot(output_path: str, snapshot_id: int | None = None) -> dict:
    snap_file = _manifest_dir(output_path) / "snapshots.json"
    try:
        log = json.loads(snap_file.read_text())
    except FileNotFoundError:
        raise ValueError(
            f"no committed snapshot at {output_path!r} — the run never "
            "reached commit_snapshot (partially-completed run?)"
        ) from None
    if snapshot_id is None:
        return log[-1]
    snap = next((s for s in log if s["snapshot_id"] == snapshot_id), None)
    if snap is None:
        known = [s["snapshot_id"] for s in log]
        raise ValueError(
            f"snapshot_id {snapshot_id} not found at {output_path!r}; "
            f"committed snapshots: {known}"
        )
    return snap


def read_result(spark, output_path: str, snapshot_id: int | None = None) -> DataFrame:
    """Read exactly the bucket dirs the (latest or pinned) snapshot
    covers — a leftover part=* dir from a previous bucket layout is
    never mixed in (snapshot isolation, the Iceberg read contract)."""
    snap = read_snapshot(output_path, snapshot_id)
    return spark.read.parquet(*[b["output"] for b in snap["buckets"]])
