"""The benchmark workloads: inputs, warm-up, and one closed-loop job each.

A job runs the program from its input parquet to fully materialized
cluster assignments, through public entry points only:

- ``dupdense_web``: ``operators.dedup.dedup_pages`` (default config) on a
  duplicate-dense corpus — the per-pair layers (stars, candidates, verify
  tiers, components) take most of the wall time.
- ``stream_incremental``: the duplicate-dense corpus cut into seeded
  arrival batches, fed one at a time through
  ``streaming.dedup_stream.incremental_dedup_batch(assign=True)`` into
  fresh state, then one ``streaming.compaction.compact_state``.

The traced variant of each job records one span per public call (see
``instrument``); the untraced variant is what the end-to-end metrics time.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.trace import Stopwatch, Tracer


@dataclass
class Ctx:
    """Per-process state a workload runs against."""

    spark: object
    work: str  # this run's private scratch dir (deleted at exit)
    seed: int
    cores: int
    tracer: Tracer
    _n: itertools.count = field(default_factory=itertools.count)

    def fresh(self, name: str) -> str:
        return os.path.join(self.work, f"{name}-{next(self._n)}")


@dataclass
class JobResult:
    """Times are steal-adjusted seconds (see trace.Stopwatch)."""

    wall_s: float
    units_s: list[float]  # per closed-loop unit: the job, or each stream batch
    assign: object  # pandas (id, cluster_id)
    trace: int | None = None
    counts: dict = field(default_factory=dict)
    raw_wall_s: float = 0.0
    steal: float = 0.0  # share of the machine's CPU time stolen during the job
    cpu_s: float = 0.0  # CPU seconds of the Spark JVM and Python workers


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files below `root`."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def parquet_rows(path: str) -> int:
    """Row count of a parquet dir (recursive) from file footers only."""
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(d, f)).num_rows
    return n


def read_parquet_pandas(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns).to_pandas()


def write_parts(pages, path: str, n_parts: int) -> None:
    """Write the pandas `pages` as `n_parts` parquet files under `path`,
    rows dealt round-robin (Spark reads one partition per file);
    timestamps in microseconds, as Spark writes them."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_parts):
        table = pa.Table.from_pandas(pages.iloc[i::n_parts], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us", allow_truncated_timestamps=True)


# ---------------------------------------------------------------- tracing


def _input_bytes(df) -> int:
    from urllib.parse import urlparse

    return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())


class _Hooks:
    """Span wrappers around the public layer calls a plan makes. Installed
    on the calling module's namespace for one traced job, then restored.
    A wrapper whose call returns a lazy frame materializes it inside its
    span through the trace checkpointer, so the span holds the layer's
    work; counts are taken after the span closes, in `bench.count` spans
    of their own, so no layer's figures include the benchmark's work."""

    def __init__(self, ctx: Ctx, trace_ck):
        self.ctx, self.ck, self.t = ctx, trace_ck, ctx.tracer
        self._k = itertools.count()
        self.band_tables = []  # lazy band tables built since the last count

    def _write(self, df, layer):
        name = f"{layer}_{next(self._k)}"
        out = self.ck.write(df, name)
        return out, self.ck.path(name)

    def prepare(self, fn):
        def prepare_pages(*a, **kw):
            with self.t.span("prepare") as attrs:
                out = fn(*a, **kw)
            attrs["bytes"] = _input_bytes(out)
            return out
        return prepare_pages

    def bands(self, fn):
        """The band table stays lazy, as the program built it: whichever
        step consumes it computes it. It is counted afterwards by
        `count_bands`."""
        def strategy_band_table(*a, **kw):
            out = fn(*a, **kw)
            self.band_tables.append(out)
            return out
        return strategy_band_table

    def count_bands(self) -> None:
        """Rows, and rows in buckets above their cap, of the band tables
        built since the last call: recomputed in a `bench.count` span once
        the candidates layer's span has closed."""
        from pyspark.sql import functions as F

        with self.t.span("bench.count") as attrs:
            rows = capped = 0
            for bands in self.band_tables:
                sizes = bands.groupBy("band_id", "band_hash", "cap").agg(F.count(F.lit(1)).alias("n"))
                r = sizes.agg(
                    F.sum("n").alias("rows"),
                    F.sum(F.when(F.col("n") > F.col("cap"), F.col("n")).otherwise(0)).alias("capped"),
                ).first()
                rows += int(r["rows"] or 0)
                capped += int(r["capped"] or 0)
            attrs.update(band_rows=rows, capped_band_rows=capped)
        self.band_tables.clear()

    def lazy(self, fn, layer):
        def wrapped(*a, **kw):
            with self.t.span(layer) as attrs:
                out, path = self._write(fn(*a, **kw), layer)
            attrs["rows"] = parquet_rows(path)
            if layer == "candidates":
                self.count_bands()
            return out
        return wrapped

    def verify(self, fn):
        def verify_pairs(pairs, *a, **kw):
            with self.t.span("verify") as attrs:
                out, _ = self._write(fn(pairs, *a, **kw), "verify")
            # one verdict row per input pair
            with self.t.span("bench.count"):
                attrs["status"] = {
                    r["status"]: int(r["count"]) for r in out.groupBy("status").count().collect()
                }
            return out
        return verify_pairs

    def components(self, fn):
        from fuzzycat_spark.plans.checkpoint import StageCheckpointer

        def connected_components(edges, *a, **kw):
            ck = kw.get("checkpointer")
            if ck is None:
                ck = kw["checkpointer"] = StageCheckpointer(
                    edges.sparkSession, self.ctx.fresh("cc"), lineage=False
                )
            with self.t.span("components") as attrs:
                out = fn(edges, *a, **kw)
            with open(os.path.join(ck.base_dir, "_manifest.json")) as f:
                manifest = json.load(f)
            attrs["edges_in"] = parquet_rows(manifest["cc_edges_0"]["path"]) // 2
            attrs["rounds"] = sum(1 for k in manifest if k.startswith("cc_iter_"))
            with self.t.span("bench.count"):
                attrs["clusters"] = out.select("cluster_id").distinct().count()
            return out
        return connected_components


@contextlib.contextmanager
def instrument(ctx: Ctx, trace_ck, targets: list[tuple[object, str, str]]):
    """Install span wrappers: `targets` lists (module, attribute, kind)."""
    hooks = _Hooks(ctx, trace_ck)
    saved = []
    try:
        for mod, attr, kind in targets:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            if kind in ("stars", "candidates"):
                wrapped = hooks.lazy(fn, kind)
            else:
                wrapped = getattr(hooks, kind)(fn)
            setattr(mod, attr, wrapped)
        yield hooks
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def _dedup_targets():
    from fuzzycat_spark.operators import dedup

    return [
        (dedup, "prepare_pages", "prepare"),
        (dedup, "star_edges", "stars"),
        (dedup, "strategy_band_table", "bands"),
        (dedup, "verify_pairs", "verify"),
        (dedup, "connected_components", "components"),
    ]


def _stream_targets():
    from fuzzycat_spark.operators import components
    from fuzzycat_spark.streaming import dedup_stream

    return [
        (dedup_stream, "prepare_pages", "prepare"),
        (dedup_stream, "strategy_band_table", "bands"),
        (dedup_stream, "lsh_candidate_pairs", "candidates"),
        (dedup_stream, "verify_pairs", "verify"),
        (components, "connected_components", "components"),
    ]


def _traced_stages(ctx: Ctx, ck, hooks: _Hooks):
    """A `dedup_stages` stage callback materializing the same stages
    `dedup_pages` does, through the caller-owned checkpointer `ck`: one
    span per stage; the candidates stage is also the candidates layer
    (band generation and pair expansion run as one plan there)."""
    from fuzzycat_spark.operators.dedup import HARD_STAGES

    t = ctx.tracer

    def stage(name, build):
        with t.span(f"pipeline.stage.{name}"):
            layer = t.span("candidates") if name == "candidates" else contextlib.nullcontext({})
            with layer as attrs:
                out = build()
                if name in HARD_STAGES:
                    out = ck.write(out, name)
        if name == "candidates":
            attrs["rows"] = parquet_rows(ck.path(name))
            hooks.count_bands()
        return out
    return stage


# -------------------------------------------------------------- workloads


def warm_dedup(ctx: Ctx, paths: list[str], cfg) -> None:
    """An untimed, unchecked `dedup_pages` job on the pages below `paths`."""
    from fuzzycat_spark.operators.dedup import dedup_pages

    _, assign = dedup_pages(ctx.spark.read.parquet(*paths), cfg)
    assign.write.parquet(ctx.fresh("warm-assignments"))


class Workload:
    name: str
    why: str
    # corpus sizes: (measured, small sample for the smoke runs)
    sizes: tuple[dict, dict]

    def config(self):
        from fuzzycat_spark.operators.dedup import DedupConfig

        return DedupConfig()

    def generate(self, seed: int, size: dict):
        """(pages, labels) pandas frames of the duplicate-dense corpus."""
        return corpus.dupdense(seed, **size)

    def write_input(self, ctx: Ctx, root: str, small: bool) -> int:
        """Generate and materialize the corpus under `root`: pages to
        `root/pages` (parquet, one file per core), golden labels beside
        them in `root/labels.parquet`. Returns the page count."""
        pages, labels = self.generate(ctx.seed, self.sizes[1 if small else 0])
        shutil.rmtree(root, ignore_errors=True)
        self.write_pages(ctx, pages, os.path.join(root, "pages"))
        labels.to_parquet(os.path.join(root, "labels.parquet"), index=False)
        return len(pages)

    def write_pages(self, ctx: Ctx, pages, path: str) -> None:
        write_parts(pages, path, ctx.cores)

    def labels(self, root: str):
        return read_parquet_pandas(os.path.join(root, "labels.parquet"), ["url", "true_cluster"])

    def warm(self, ctx: Ctx, root: str) -> None:
        """Warm up on the measured input at `root`, untimed and unchecked:
        start the Python UDF workers and compile the generated code of
        the plans a job runs."""
        raise NotImplementedError

    def job(self, ctx: Ctx, root: str, traced: bool) -> JobResult:
        raise NotImplementedError


class DupdenseWeb(Workload):
    name = "dupdense_web"
    why = ("dup-dense batch dedup: stars, candidates, verify tiers and components take ~85% "
           "of a traced job's wall time, so blocking, verify and CC gains show here")
    sizes = ({"n_families": 750, "n_spam": 450}, {"n_families": 30, "n_spam": 30})

    def warm(self, ctx, root):
        """Two full `dedup_pages` jobs. The JIT keeps speeding jobs up for
        several jobs (~11.5, 10, 9 s for jobs 2-4 on a 4-vCPU VM); a job
        measured after two warm-up jobs sits where the curve has flattened."""
        for _ in range(2):
            warm_dedup(ctx, [os.path.join(root, "pages")], self.config())

    def job(self, ctx, root, traced):
        from fuzzycat_spark.operators.dedup import dedup_pages, dedup_stages
        from fuzzycat_spark.plans.checkpoint import StageCheckpointer

        spark, cfg = ctx.spark, self.config()
        pages = spark.read.parquet(os.path.join(root, "pages"))
        out_path = ctx.fresh("assignments")
        if not traced:
            clock = Stopwatch()
            _, assign = dedup_pages(pages, cfg)
            assign.write.parquet(out_path)
            raw, wall, steal = clock.read()
            return JobResult(wall, [wall], read_parquet_pandas(out_path, ["id", "cluster_id"]),
                             raw_wall_s=raw, steal=steal)
        ck = StageCheckpointer(spark, ctx.fresh("ck"))
        trace_ck = StageCheckpointer(spark, ctx.fresh("trace-ck"), lineage=False)
        trace = ctx.tracer.new_trace()
        clock = Stopwatch()
        with ctx.tracer.span("job"), instrument(ctx, trace_ck, _dedup_targets()) as hooks:
            out = dedup_stages(pages, cfg, _traced_stages(ctx, ck, hooks), cc_checkpointer=ck)
            with ctx.tracer.span("sink"):
                out["assignments"].write.parquet(out_path)
        raw, wall, steal = clock.read()
        ck_bytes, ck_files = dir_stats(ck.base_dir)
        return JobResult(wall, [wall], read_parquet_pandas(out_path, ["id", "cluster_id"]), trace,
                         {"checkpoint.bytes": ck_bytes, "checkpoint.files": ck_files},
                         raw_wall_s=raw, steal=steal)


class StreamIncremental(Workload):
    name = "stream_incremental"
    why = ("dup-dense corpus in 2 seeded arrival batches plus compaction: the only path that "
           "writes and re-reads grow-only state; the epoch that re-reads state costs ~15-30% "
           "more than the first")
    sizes = ({"n_families": 160, "n_spam": 330}, {"n_families": 20, "n_spam": 40})
    n_batches = 2

    def write_pages(self, ctx, pages, path):
        """One parquet dir per arrival batch: `path/arrival=<b>`."""
        arrival = corpus.arrival_batches(ctx.seed, len(pages), self.n_batches)
        for b in range(self.n_batches):
            mask = [a == b for a in arrival]
            write_parts(pages[mask], os.path.join(path, f"arrival={b}"), ctx.cores)

    def warm(self, ctx, root):
        """One `dedup_pages` job on the whole corpus: starts the workers
        and compiles the operators the stream shares with the batch path
        (prepare, bands, candidate pairs, verify tiers, components). The
        stream's own plans (state reads and writes, assignment updates,
        compaction) still compile in the measured stream, as in a freshly
        started stream: a warm-up stream would add ~30 s to every run."""
        warm_dedup(ctx, [os.path.join(root, "pages", f"arrival={b}") for b in range(self.n_batches)],
                   self.config())

    def job(self, ctx, root, traced):
        from fuzzycat_spark.streaming.assignments import read_assignments
        from fuzzycat_spark.streaming.compaction import compact_state
        from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch
        from fuzzycat_spark.plans.checkpoint import StageCheckpointer

        spark, cfg, t = ctx.spark, self.config(), ctx.tracer
        state = ctx.fresh("state")
        index, pairs = os.path.join(state, "index"), os.path.join(state, "pairs")
        batches = [os.path.join(root, "pages", f"arrival={b}") for b in range(self.n_batches)]
        units = []
        trace = t.new_trace() if traced else None
        span = t.span if traced else (lambda *a, **k: contextlib.nullcontext({}))
        targets = _stream_targets() if traced else []
        trace_ck = StageCheckpointer(spark, ctx.fresh("trace-ck"), lineage=False) if traced else None
        counts = {}
        clock = Stopwatch()
        with span("job"), instrument(ctx, trace_ck, targets):
            for epoch, path in enumerate(batches):
                batch_clock = Stopwatch()
                with span("stream.batch", epoch=epoch) as attrs:
                    incremental_dedup_batch(spark.read.parquet(path), index, pairs, cfg, assign=True)
                units.append(batch_clock.adjusted())
                if traced:
                    # the state this batch re-read is the one the previous batch left
                    attrs["state_bytes"], attrs["state_files"] = dir_stats(state)
            if traced:
                counts["stream.state_bytes"], counts["stream.state_files"] = dir_stats(state)
                counts["stream.pairs_appended"] = parquet_rows(pairs)
            with span("compact"):
                compact_state(spark, index, pairs)
            if traced:
                counts["compact.files_removed"] = counts["stream.state_files"] - dir_stats(state)[1]
        raw, wall, steal = clock.read()
        assign = read_assignments(spark, index).toPandas()
        return JobResult(wall, units, assign, trace, counts, raw_wall_s=raw, steal=steal)


WORKLOADS = {w.name: w for w in (DupdenseWeb(), StreamIncremental())}
