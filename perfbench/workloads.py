"""The workloads, each driving the engine the way a ``jobs/``
entrypoint does.

A workload exposes the same steps to the harness:

- ``prepare``: make (or reuse) its seeded inputs; outside every metric;
- ``register``: read the input parquet and run the first action on it;
- ``write`` / ``read``: one timed write operation and one timed read of
  what it wrote;
- ``check``: compare the output with a DuckDB rendering;
- ``trace_op``: one write and read with spans around its layers;
- ``layer_metrics``: isolation probes after the traced operation.  It
  returns the per-layer metrics it measured directly and, for those
  that come from the event log, ``name -> (spans, counter, divisor)``.
"""

from __future__ import annotations

import contextlib
import shutil
import statistics
import time
from pathlib import Path

import pyspark.sql.functions as F

import inputs
import oracles
from tracing import Tracer, exchanges


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: Path, pattern: str = "**/*.parquet") -> tuple[int, int]:
    files = list(Path(path).glob(pattern))
    return sum(p.stat().st_size for p in files), len(files)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def best_of(n: int, fn) -> float:
    return min(timed(fn) for _ in range(n))


def traced_op(wl, spark, tracer: Tracer, i: int) -> None:
    """One write and one read under the spans the harness sums."""
    with tracer.span("op.write"):
        wl.write(spark, i, tracer)
    with tracer.span("op.read"):
        wl.read(spark, i)
    wl.retire(i)


class Workload:
    name = ""
    #: input size the cache key and the throughput refer to
    size = 0
    #: unsampled operations at the start of a run; each workload's count
    #: is where its operation time stops falling as the JIT warms
    warmup_ops = 1
    #: sampled operations per run, at least
    min_samples = 2

    def __init__(self, work: Path):
        self.work = work
        self.key: dict = {}
        self.dir: Path | None = None

    def register(self, spark) -> None:
        raise NotImplementedError

    def write(self, spark, i: int, tracer: Tracer | None = None) -> int:
        """One write operation; returns the input rows it consumed.
        ``tracer`` is set in the traced operation."""
        raise NotImplementedError

    def read(self, spark, i: int) -> None:
        raise NotImplementedError

    def _out(self, i: int) -> Path:
        return self.work / f"{self.name}_out" / f"op{i}"

    def retire(self, i: int) -> None:
        """Untimed bookkeeping after op i: record it, drop op i-1's output."""
        self.last = i
        shutil.rmtree(self._out(i - 1), ignore_errors=True)

    def stored(self) -> tuple[int, int]:
        """(bytes on disk, rows) of the latest output."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# featurize_job — jobs/featurize_job.py
# --------------------------------------------------------------------------


class FeaturizeJob(Workload):
    name = "featurize_job"
    size = 100_000
    warmup_ops = 3
    # the op time still falls a little after the warm-up; a fixed count
    # keeps the samples at the same ops when the host is slower
    min_samples = 3
    buckets = 2
    window_size = 8
    session_gap_s = 3600

    def prepare(self, cache: Path, seed: int) -> None:
        self.dir, self.key = inputs.cached(
            cache, self.name, seed, self.size,
            lambda d, rng: inputs.make_images(d, rng, self.size),
        )
        self.snapshot_rows: list[int] = []
        self.blocks = None
        self.blocks_input = (cache, seed)

    def register(self, spark) -> None:
        self.images = spark.read.parquet(str(self.dir / "images.parquet"))
        self.ann = spark.read.parquet(str(self.dir / "annotations.parquet"))
        self.images.createOrReplaceTempView("images")
        self.ann.createOrReplaceTempView("annotations")
        self.rows = self.images.count()

    def _transform(self, bucket_df):
        from gfwspark import features

        bucket_ann = self.ann.join(
            bucket_df.select("image_id").distinct(), "image_id", "left_semi"
        )
        return features.featurize(
            bucket_df, bucket_ann, window_size=self.window_size,
            session_gap_s=self.session_gap_s, asof_strategy="union",
        )

    def write(self, spark, i: int, tracer: Tracer | None = None) -> int:
        from gfwspark import checkpoint

        checkpoint.run_resumable(
            self.images, self._transform, str(self._out(i)), n_buckets=self.buckets
        )
        return self.rows

    def read(self, spark, i: int) -> None:
        from gfwspark import checkpoint

        noop(checkpoint.read_result(spark, str(self._out(i))))

    def retire(self, i: int) -> None:
        from gfwspark import checkpoint

        self.snapshot = checkpoint.read_snapshot(str(self._out(i)))
        self.snapshot_rows.append(self.snapshot["total_rows"])
        super().retire(i)

    def _files(self) -> list[Path]:
        return [
            p for b in self.snapshot["buckets"] for p in Path(b["output"]).glob("*.parquet")
        ]

    def stored(self) -> tuple[int, int]:
        return sum(p.stat().st_size for p in self._files()), self.snapshot["total_rows"]

    def check(self) -> list[str]:
        errors = [
            f"snapshot total_rows {n} != input rows {self.rows}"
            for n in self.snapshot_rows if n != self.rows
        ]
        if self.blocks is not None:
            errors += self.blocks.check()
        return errors + oracles.check_featurize(
            self.dir / "images.parquet", self.dir / "annotations.parquet",
            self._files(), self.window_size, self.session_gap_s,
        )

    def trace_op(self, spark, tracer: Tracer, i: int) -> None:
        layers = ["checkpoint.run_resumable", "checkpoint.read_result",
                  "features.featurize", "asof.asof_join",
                  "features.with_lag_features", "sessionize.with_session_id"]
        with tracer.wrapped(layers):
            traced_op(self, spark, tracer, i)

    def layer_metrics(self, spark, tracer: Tracer) -> tuple[dict, dict]:
        from gfwspark import asof, features, sessionize

        walls = [b["wall_s"] for b in self.snapshot["buckets"]]
        run = tracer.named("checkpoint.run_resumable")[0]
        images, ann = self.images, self.ann
        probes = {
            "asof.asof_join.exec_s": lambda: noop(
                asof.asof_join(images.select("image_id", "ts"), ann, strategy="union")
            ),
            "features.with_derived_features.exec_s": lambda: noop(
                features.with_derived_features(images)
            ),
            "sessionize.with_session_id.exec_s": lambda: noop(
                sessionize.with_session_id(images)
            ),
        }
        metrics = {k: best_of(2, f) for k, f in probes.items()}
        self.blocks = BlocksLayer(*self.blocks_input, self.work)
        metrics.update(self.blocks.probe(spark, tracer))
        metrics.update({
            "checkpoint.run_resumable.wall_s": run.wall_s,
            "checkpoint.bucket_wall_s_p50": statistics.median(walls),
            "checkpoint.bucket_wall_s_max": max(walls),
            "featurize.exchanges": exchanges(features.featurize(images, ann)),
        })
        from_log = {
            "checkpoint.jobs_per_bucket": ([run], "jobs", self.buckets),
            "featurize.shuffle_bytes_per_row": ([run], "shuffle_write_bytes", self.rows),
        }
        return metrics, from_log


# --------------------------------------------------------------------------
# corpus_prep — jobs/corpus_prep_job.py over the registered llm_corpus_prep
# --------------------------------------------------------------------------

CORPUS_LAYERS = [
    "corpus.prepare_corpus",
    "text.with_quality_score",
    "text.with_repetition_stats",
    "dedup.shingles",
    "dedup.minhash_signatures",
    "dedup.lsh_candidates",
    "dedup.jaccard_verify",
    "text.ngram_decontaminate",
    "sources.temporal_split_embargo",
    "sources.pack_token_budget_batches",
]


class CorpusPrep(Workload):
    name = "corpus_prep"
    size = 2_500

    def prepare(self, cache: Path, seed: int) -> None:
        self.dir, self.key = inputs.cached(
            cache, self.name, seed, self.size,
            lambda d, rng: inputs.make_documents(d, rng, self.size),
        )

    def register(self, spark) -> None:
        docs = spark.read.parquet(str(self.dir / "documents.parquet"))
        docs.createOrReplaceTempView("documents")
        self.rows = docs.count()

    def write(self, spark, i: int, tracer: Tracer | None = None) -> int:
        from gfwspark import queries

        out = queries.all_queries()["llm_corpus_prep"](spark, str(self.dir))
        # the partitioned write on its own span when traced
        with tracer.span("corpus.write") if tracer else contextlib.nullcontext():
            out.write.mode("overwrite").partitionBy("split").parquet(str(self._out(i)))
        return self.rows

    def read(self, spark, i: int) -> None:
        back = spark.read.parquet(str(self._out(i)))
        back.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        back.select("split", "batch_id").distinct().count()

    def stored(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        files = list(self._out(self.last).glob("*/*.parquet"))
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
        return sum(p.stat().st_size for p in files), rows

    def check(self) -> list[str]:
        from gfwspark import queries

        return oracles.check_corpus(
            self.dir / "documents.parquet", self._out(self.last),
            queries.all_oracles()["llm_corpus_prep"],
        )

    def trace_op(self, spark, tracer: Tracer, i: int) -> None:
        self.captured = {}
        with tracer.wrapped(CORPUS_LAYERS, on_return=self.captured.__setitem__):
            traced_op(self, spark, tracer, i)

    def layer_metrics(self, spark, tracer: Tracer) -> tuple[dict, dict]:
        pairs = self.captured["dedup.jaccard_verify"].count()
        cand = self.captured["dedup.lsh_candidates"].count()
        metrics = {
            "corpus.write.exec_s": tracer.named("corpus.write")[0].wall_s,
            "dedup.verify_yield": pairs / cand,
        }
        from_log = {}
        for layer in CORPUS_LAYERS:
            spans = tracer.named(layer)
            metrics[f"{layer}.construct_s"] = sum(s.wall_s for s in spans)
            from_log[f"{layer}.jobs"] = (spans, "jobs", 1)
        return metrics, from_log


# --------------------------------------------------------------------------
# The at-rest window layout (jobs/blocks_maintain_job.py), probed in the
# traced featurize_job run: build, one warm append, one traced append
# and one traced W=12800 window read.
# --------------------------------------------------------------------------


class BlocksLayer:
    shift = 767
    buckets = 16
    window = 12_800
    size = 160_000
    batch_rows = 20_000

    def __init__(self, cache: Path, seed: int, work: Path):
        self.dir, self.key = inputs.cached(
            cache, "blocks_layer", seed, self.size,
            lambda d, rng: inputs.make_block_rows(d, rng, self.size, 2, self.batch_rows),
        )
        self.table = work / "blocks_table"
        self.ingested = [self.dir / "base.parquet"]

    def _append(self, spark, b: int) -> dict:
        from gfwspark import windows

        path = self.dir / f"batch_{b:03d}.parquet"
        out = windows.merge_append_into_blocks_table(
            spark, spark.read.parquet(str(path)), str(self.table), "v", self.shift,
            n_buckets=self.buckets, on_late="error",
        )
        self.ingested.append(path)
        return out

    def _windows(self, spark):
        from gfwspark import sources, windows

        return windows.windows_from_stride_blocks(
            sources.read_table(spark, str(self.table)), self.window, self.shift
        )

    def probe(self, spark, tracer: Tracer) -> dict:
        from gfwspark import sources, windows

        base = spark.read.parquet(str(self.dir / "base.parquet"))
        sources.upsert_partitioned(
            spark, windows.stride_blocks(base, "v", self.shift), str(self.table),
            keys=["image_id", "block_id"], n_buckets=self.buckets, collect_stats=False,
            extra_meta={"shift": self.shift, "feature_cols": ["v"]},
        )
        self._append(spark, 0)
        noop(self._windows(spark))
        layers = ["windows.merge_append_into_blocks_table",
                  "windows.append_stride_blocks", "sources.upsert_partitioned"]
        with tracer.wrapped(layers):
            touched = self._append(spark, 1)["touched_buckets"]
            with tracer.span("windows.windows_from_stride_blocks.exec") as r:
                noop(self._windows(spark))
        written = sum(dir_bytes(self.table / f"_bucket={b}")[0] for b in touched)
        wall = {
            name: tracer.named(name)[0].wall_s
            for name in layers
        }
        return {
            "windows.merge_append_into_blocks_table.wall_s":
                wall["windows.merge_append_into_blocks_table"],
            "windows.append_stride_blocks.construct_s": wall["windows.append_stride_blocks"],
            "sources.upsert_partitioned.wall_s": wall["sources.upsert_partitioned"],
            "sources.touched_buckets": len(touched),
            "sources.bytes_written_per_appended_row": written / self.batch_rows,
            "sources.table_files": dir_bytes(self.table)[1],
            "windows.windows_from_stride_blocks.exec_s": r.wall_s,
            "windows.read_exchanges": exchanges(self._windows(spark)),
        }

    def check(self) -> list[str]:
        return oracles.check_blocks(self.ingested, self.table, self.shift)


WORKLOADS = {w.name: w for w in (FeaturizeJob, CorpusPrep)}
