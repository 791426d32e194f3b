"""The benchmark's three workloads: ``gold_mix``, ``llm_corpus``, ``ingest``.

Each is a closed loop with one client. ``setup`` builds the seeded
inputs and everything a run needs before timing starts; ``measure``
runs operations until ``seconds`` have passed, timing each one and
checking each output. With a tracer, the same calls run inside spans
and ``layers`` turns the span tree into the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from refitd_etl_spark.operators.sensor import EMBED_DIM
from refitd_etl_spark.pipeline import run_pipeline
from refitd_etl_spark.plans import ALL_QUERIES

from . import gen, oracle
from .counting import CountingEmbedder, CountingSensor
from .tracing import Tracer, query_phases_s, subtree_stage_metrics

INPUT_REPS = 3  # input generation repeats in set-up; set-up reports the median
# Timed passes (query mixes) or batches (ingest) per run, at the least.
# The floor, not --seconds, ends a run on a 4-core host, so the sample
# count does not depend on the host's speed: the JVM keeps getting faster
# for several passes, and a run that made one more pass would read faster.
MIN_ROUNDS = 2

PLAN_MODULES = ("relational", "textops", "dedup", "similarity", "temporal",
                "curation", "domain", "llmprep", "mediaops")

GOLD_SF = 0.02
GOLD_MIX = (
    # the bench=True headline set
    "customer_revenue_topk", "category_summary", "pricing_summary", "doc_text_stats",
    "ngram_jaccard_pairs", "minhash_lsh_pairs", "embedding_topk", "hourly_event_rollup",
    # one query per remaining family, a code-store serving query and a streaming gate
    "dq_expectations",  # curation
    "api_product_projection",  # domain
    "doc_chunking",  # llmprep
    "media_inventory",  # mediaops
    "pq_codes_serving",  # similarity: code-store serving
    "streaming_dim_enrichment",  # temporal: streaming gate
)

# 1000 base documents and 400 base vectors, three copies each (the base
# plus two perturbed replicas): 3000 documents, 1200 vectors, so every
# base row heads a near-duplicate cluster of three.
LLM_CORPUS = gen.CorpusSpec(base_docs=1000, base_vecs=400, replicas=3, token_share=0.05,
                            component_share=0.25, component_sigma=0.05)
LLM_MIX = ("minhash_lsh_pairs", "dedup_clusters", "semantic_dedup_clusters",
           "ivf_kmeans_topk", "ivf_pq_codes_serving")

# ingest: a pre-seeded store, then batches of new + already-tracked products
SEED_PRODUCTS = 400
BATCH_NEW = 750
BATCH_TRACKED = 250  # 25% of each batch's valid rows are already in the store
BATCHES = 3  # timed batches, cycled; a small untimed one warms up first
# run_pipeline's metadata JSON sink re-evaluates the tagged frame after the
# tracking MERGE has swapped out the files its anti-join reads, so any batch
# with new products against an existing tracking store raises
# FAILED_READ_FILE. Timed batches run without it; the seed-store build (no
# tracking store yet) writes it, and selftest.py pins the failure.
TIMED_METADATA_JSON = False


def module_of(name: str) -> str:
    return ALL_QUERIES[name].raw.__module__.rsplit(".", 1)[-1]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


@dataclass
class Ctx:
    seed: int
    seconds: float
    work_dir: str  # per-run scratch inside the checkout
    spark: object = None  # set once the session is up
    tracer: Tracer | None = None


@dataclass
class Outcome:
    samples: list[float] = field(default_factory=list)  # seconds per operation
    items: int = 0  # queries answered / products landed
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    setup: dict = field(default_factory=dict)  # inputs_s (median), warmup_s
    report: dict = field(default_factory=dict)  # name → (value, unit, n)
    spans: list = field(default_factory=list)  # per-operation spans (traced run)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg[:400])

    @property
    def busy_s(self) -> float:
        return sum(self.samples)


def _timed_inputs(ctx: Ctx, make, write) -> tuple[str, object, list[float]]:
    """Generate and write the inputs INPUT_REPS times; keep the first copy."""
    times, kept, kept_dir = [], None, None
    for rep in range(INPUT_REPS):
        d = os.path.join(ctx.work_dir, f"inputs{rep}")
        t0 = time.perf_counter()
        obj = make()
        write(obj, d)
        times.append(time.perf_counter() - t0)
        if rep == 0:
            kept, kept_dir = obj, d
        else:
            shutil.rmtree(d)
    return kept_dir, kept, times


def _collect_garbage(spark, jvm: bool = True) -> None:
    """Full GC in the driver's Python (and JVM) heap before timed work,
    so that collections owed by earlier work (which depend on the seed's
    allocation pattern) do not land inside it."""
    gc.collect()
    if jvm:
        spark.sparkContext._jvm.System.gc()


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class QueryMix:
    """A fixed sequence of registered queries, each called through
    ``Query.fn`` and collected; passes repeat until ``seconds`` elapse
    and at least ``MIN_ROUNDS`` passes are done."""

    def __init__(self, queries: tuple[str, ...], tables: tuple[str, ...], make):
        self.queries, self.tables, self.make = queries, tables, make

    def inputs(self, ctx: Ctx, out: Outcome) -> None:
        """Seeded inputs (before the session starts), then the oracle
        digests in a separate process that runs while Spark starts and
        the warm-up pass runs."""
        self.data_dir, tables, times = _timed_inputs(
            ctx, lambda: self.make(ctx.seed), gen.write_tables)
        out.setup["inputs_s"] = statistics.median(times)
        out.report["corpus_rows"] = (sum(tables[t].num_rows for t in self.tables), "rows", 1)
        out.report["corpus_bytes"] = (sum(os.path.getsize(os.path.join(self.data_dir, f))
                                          for f in os.listdir(self.data_dir)), "bytes", 1)
        self.oracle_out = os.path.join(ctx.work_dir, "oracle.json")
        self.oracle_t0 = time.perf_counter()
        self.oracle_proc = subprocess.Popen(
            [sys.executable, "-m", "graftbench.oracle", self.data_dir, self.oracle_out,
             ",".join(self.tables), ",".join(self.queries)],
            stdout=subprocess.DEVNULL, preexec_fn=lambda: os.nice(10))

    def setup(self, ctx: Ctx, out: Outcome) -> None:
        # one untimed pass: JIT, codegen and each query's one-time artifacts
        # (the PQ code stores) are in place before timing starts
        t0 = time.perf_counter()
        for name in self.queries:
            ALL_QUERIES[name].fn(ctx.spark, self.data_dir).collect()
        out.setup["warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if self.oracle_proc.wait() != 0:
            raise RuntimeError(f"oracle process exited with {self.oracle_proc.returncode}")
        with open(self.oracle_out) as f:
            self.expected = json.load(f)
        out.report["oracle_s"] = (time.perf_counter() - self.oracle_t0, "s", 1)
        out.report["oracle_wait_s"] = (time.perf_counter() - t0, "s", 1)

    def close(self) -> None:
        if self.oracle_proc.poll() is None:
            self.oracle_proc.kill()
            self.oracle_proc.wait()

    def measure(self, ctx: Ctx, out: Outcome) -> None:
        self.cache_peak = 0
        self.per_query: dict[str, list[float]] = defaultdict(list)
        start = time.perf_counter()
        passes = 0
        while passes < MIN_ROUNDS or time.perf_counter() - start < ctx.seconds:
            # JVM collection once a pass: one before every query spread p50
            # wider across seeds (IQR 21% of the median) than none (9%)
            _collect_garbage(ctx.spark)
            n0 = len(out.samples)
            for name in self.queries:
                _collect_garbage(ctx.spark, jvm=False)
                self._call(ctx, name, out)
            passes += 1
            out.report[f"pass{passes}_s"] = (sum(out.samples[n0:]), "s", len(out.samples) - n0)
        out.report["passes"] = (passes, "count", 1)
        for name, times in self.per_query.items():
            out.report[f"query.{name}.median_s"] = (statistics.median(times), "s", len(times))
        mem = ctx.spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        out.report["cached_peak_bytes"] = (self.cache_peak, "bytes", len(out.samples))
        out.report["storage_memory_bytes"] = (
            sum(int(mem.apply(k)._1()) for k in _scala_keys(mem)), "bytes", 1)

    def summary(self, out: Outcome) -> tuple[float, float, float]:
        """p50, p90 and queries per second of a typical pass, in which
        each query takes its median time over the timed passes."""
        typical = [statistics.median(times) for times in self.per_query.values()]
        return percentile(typical, 50), percentile(typical, 90), len(typical) / sum(typical)

    def _call(self, ctx: Ctx, name: str, out: Outcome) -> None:
        q, tr, spark = ALL_QUERIES[name], ctx.tracer, ctx.spark
        out.attempted += 1
        try:
            if tr is None:
                t0 = time.perf_counter()
                df = q.fn(spark, self.data_dir)
                rows = df.collect()
                dt = time.perf_counter() - t0
            else:
                with tr.span(f"query.{name}", module=module_of(name)) as span:
                    with tr.span("query.build"):
                        df = q.fn(spark, self.data_dir)
                    rows = df.collect()
                dt = span.seconds
                out.spans.append(span)
        except Exception as e:  # an operation that raises counts as failed
            out.fail(f"{name}: {type(e).__name__}: {e}")
            return
        out.samples.append(dt)
        self.per_query[name].append(dt)
        out.items += 1
        if tr is None:
            self._check(spark, name, df, rows, out)
        else:
            with tr.span("bench.check"):
                span.attrs["compile_s"] = query_phases_s(df)
                self._check(spark, name, df, rows, out)

    def _check(self, spark, name, df, rows, out: Outcome) -> None:
        err = oracle.check(name, df, rows, self.expected[name])
        if err:
            out.fail(err)
        self.cache_peak = max(self.cache_peak, _cached_bytes(spark))

    def layers(self, stages: dict, out: Outcome) -> dict[str, float]:
        """plans.* metrics: means per query call (module keys: per call
        of a query in that module)."""
        per_mod: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        calls = []
        for span in out.spans:
            mod = span.attrs["module"]
            build = sum(c.seconds for c in span.children if c.name == "query.build")
            collect = sum(c.seconds for c in span.children if c.name == "df.collect")
            per_mod[mod]["build_s"].append(build)
            per_mod[mod]["execute_s"].append(collect)
            per_mod[mod]["compile_s"].append(span.attrs.get("compile_s", 0.0))
            per_mod[mod]["jobs"].append(sum(len(s.jobs) for s in span.walk()))
            calls.append(subtree_stage_metrics(span, stages))
        m = {f"plans.{mod}.{key}": statistics.fmean(vals)
             for mod, keys in per_mod.items() for key, vals in keys.items()}
        if calls:
            for key in ("shuffle_write_bytes", "spill_bytes", "task_cpu_s"):
                m[f"plans.{key}"] = statistics.fmean(c[key] for c in calls)
        return m


def _scala_keys(scala_map) -> list:
    it = scala_map.keysIterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys


def _store_files(store: str) -> tuple[int, int]:
    """Data files and their bytes under the products, tracking and
    metadata stores (Spark's hidden checksum and marker files excluded)."""
    n = size = 0
    for sub in ("products", "tracking", "metadata"):
        for dirpath, _, files in os.walk(os.path.join(store, sub)):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Ingest:
    """``run_pipeline`` batches against a store pre-seeded in set-up.

    Each batch starts from a fresh copy of the seeded store, so every
    batch does the same amount of work: the anti-join against
    ``SEED_PRODUCTS`` tracked ids, tagging and embedding of
    ``BATCH_NEW`` new products, and the MERGE overlay of both stores.
    """

    def inputs(self, ctx: Ctx, out: Outcome) -> None:
        seed_ids = [f"{i:08d}" for i in range(1, SEED_PRODUCTS + 1)]
        next_id = int(max(seed_ids)) + 1

        def make():
            import numpy as np

            rng = np.random.default_rng([ctx.seed, 4])
            batches = [gen.bronze_rows(ctx.seed, 1, SEED_PRODUCTS, [])]
            for i in range(BATCHES):
                tracked = sorted(rng.choice(seed_ids, BATCH_TRACKED, replace=False).tolist())
                batches.append(gen.bronze_rows(ctx.seed, next_id + i * BATCH_NEW, BATCH_NEW,
                                               tracked))
            # the warm-up batch: same plan shapes, a tenth of the rows
            batches.append(gen.bronze_rows(ctx.seed, next_id + BATCHES * BATCH_NEW,
                                           BATCH_NEW // 10, batches[1].tracked_ids[:10]))
            return batches

        def write(batches, d):
            os.makedirs(d)
            for i, b in enumerate(batches):
                gen.pq.write_table(gen.bronze_table(b), os.path.join(d, f"batch{i}.parquet"))

        data_dir, self.batches, times = _timed_inputs(ctx, make, write)
        out.setup["inputs_s"] = statistics.median(times)
        self.paths = [os.path.join(data_dir, f"batch{i}.parquet") for i in range(BATCHES + 2)]

    def setup(self, ctx: Ctx, out: Outcome) -> None:
        """Build the seed store with ``run_pipeline`` (metadata JSON sink
        included: there is no tracking store yet); it is also the warm-up."""
        spark = ctx.spark
        self.sensor = CountingSensor(spark.sparkContext)
        self.embedder = CountingEmbedder(spark.sparkContext)
        self.seed_store = os.path.join(ctx.work_dir, "store_seed")
        self.store = os.path.join(ctx.work_dir, "store")

        t0 = time.perf_counter()
        seeded = run_pipeline(spark, spark.read.parquet(self.paths[0]), self.seed_store,
                              sensor=self.sensor, embedder=self.embedder)
        self.seed_count = seeded.products.count()
        if self.seed_count != SEED_PRODUCTS:
            raise RuntimeError(f"seed store holds {self.seed_count} products, "
                               f"expected {SEED_PRODUCTS}")
        # sensor rows per variant group when the metadata JSON sink runs too
        out.report["seed_sensor_calls_per_product"] = (
            self.sensor.rows.value / self.batches[0].groups, "ratio", 1)
        out.report["seed_store_s"] = (time.perf_counter() - t0, "s", 1)
        # one untimed batch warms the anti-join and the MERGE onto a store
        warm = Outcome()
        self._batch(ctx, BATCHES + 1, warm, timed=False)
        if warm.failed:
            raise RuntimeError(f"warm-up batch failed: {warm.failures}")
        out.setup["warmup_s"] = time.perf_counter() - t0

    def close(self) -> None:
        pass

    def measure(self, ctx: Ctx, out: Outcome) -> None:
        self.totals = defaultdict(float)
        start = time.perf_counter()
        i = 0
        while i < MIN_ROUNDS or time.perf_counter() - start < ctx.seconds:
            self._batch(ctx, 1 + i % BATCHES, out, timed=True)
            i += 1
        t = self.totals
        out.report["batches"] = (i, "count", 1)
        if t["new"]:
            out.report["sensor_calls_per_product"] = (t["sensor_rows"] / t["groups"], "ratio", i)
            out.report["embed_calls_per_product"] = (t["embed_rows"] / t["new"], "ratio", i)
            out.report["store_bytes_per_product"] = (t["store_bytes"] / t["stored"], "bytes", i)

    def summary(self, out: Outcome) -> tuple[float, float, float]:
        """Batch p50, p90 and new products landed per second of
        ``run_pipeline``."""
        return (percentile(out.samples, 50), percentile(out.samples, 90),
                out.items / out.busy_s)

    def _batch(self, ctx: Ctx, k: int, out: Outcome, timed: bool) -> None:
        spark, tr, batch = ctx.spark, ctx.tracer if timed else None, self.batches[k]
        with _maybe_span(tr, "bench.reset"):
            shutil.rmtree(self.store, ignore_errors=True)
            shutil.copytree(self.seed_store, self.store)
            bronze = spark.read.parquet(self.paths[k])
            _collect_garbage(spark)
        s_rows, s_sec = self.sensor.rows.value, self.sensor.seconds.value
        e_rows, e_sec = self.embedder.rows.value, self.embedder.seconds.value
        out.attempted += 1
        try:
            if tr is None:
                t0 = time.perf_counter()
                res = run_pipeline(spark, bronze, self.store, sensor=self.sensor,
                                   embedder=self.embedder, write_metadata_json=TIMED_METADATA_JSON)
                dt = time.perf_counter() - t0
            else:
                with tr.span("pipeline.run_pipeline") as span:
                    res = run_pipeline(spark, bronze, self.store, sensor=self.sensor,
                                       embedder=self.embedder,
                                       write_metadata_json=TIMED_METADATA_JSON)
                dt = span.seconds
        except Exception as e:
            out.fail(f"batch{k}: {type(e).__name__}: {e}")
            return
        sensor_rows = self.sensor.rows.value - s_rows
        embed_rows = self.embedder.rows.value - e_rows
        with _maybe_span(tr, "bench.check"):
            errors = self._check(res, batch)
            files, nbytes = _store_files(self.store)
        if errors:
            out.fail(f"batch{k}: " + "; ".join(errors))
        if not timed:
            return
        out.samples.append(dt)
        out.items += res.n_new
        t = self.totals
        t["sensor_rows"] += sensor_rows
        t["groups"] += batch.groups
        t["embed_rows"] += embed_rows
        t["new"] += res.n_new
        t["store_bytes"] += nbytes
        t["stored"] += self.seed_count + res.n_new
        if tr is not None:
            span.attrs.update(
                sensor_rows=sensor_rows, sensor_python_s=self.sensor.seconds.value - s_sec,
                embed_rows=embed_rows, embed_python_s=self.embedder.seconds.value - e_sec,
                files_written=files, bytes_written=nbytes)
            out.spans.append(span)

    def _check(self, res, batch: gen.BronzeBatch) -> list[str]:
        errors = []
        expect_stored = self.seed_count + len(batch.new_ids)
        if res.n_candidates != batch.valid:
            errors.append(f"{res.n_candidates} valid rows, expected {batch.valid}")
        if res.n_new != len(batch.new_ids):
            errors.append(f"{res.n_new} new products, expected {len(batch.new_ids)}")
        n_products, n_tracking = res.products.count(), res.tracking.count()
        if not n_products == n_tracking == expect_stored:
            errors.append(f"products={n_products} tracking={n_tracking}, "
                          f"expected {expect_stored} each")
        bad = res.products.filter(
            F.col("curation_status").isNull() | F.col("embedding").isNull()
            | (F.size("embedding") != EMBED_DIM)).count()
        if bad:
            errors.append(f"{bad} stored rows without curation_status or a "
                          f"{EMBED_DIM}-dim embedding")
        return errors

    def layers(self, stages: dict, out: Outcome) -> dict[str, float]:
        per: dict[str, list[float]] = defaultdict(list)
        for span in out.spans:
            def child_s(name, span=span):
                return sum(c.seconds for c in span.children if c.name == name)

            per["operators.transform.s"].append(child_s("operators.transform"))
            per["pipeline.count_s"].append(child_s("df.count"))
            per["operators.tag_policy.build_s"].append(child_s("operators.tag_policy"))
            per["sources.sinks.upsert_s"].append(child_s("sources.sinks.upsert"))
            per["sources.sinks.json_s"].append(child_s("sources.sinks.json"))
            per["pipeline.self_s"].append(span.self_s)
            a = span.attrs
            per["operators.sensor.rows"].append(a["sensor_rows"])
            per["operators.sensor.python_s"].append(a["sensor_python_s"])
            per["operators.embedder.rows"].append(a["embed_rows"])
            per["operators.embedder.python_s"].append(a["embed_python_s"])
            per["sources.sinks.files_written"].append(a["files_written"])
            per["sources.sinks.bytes_written"].append(a["bytes_written"])
        return {k: statistics.fmean(v) for k, v in per.items()}


def _maybe_span(tr: Tracer | None, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


INGEST_LAYERS = (
    "operators.transform.s", "pipeline.count_s", "operators.sensor.rows",
    "operators.sensor.python_s", "operators.embedder.rows", "operators.embedder.python_s",
    "operators.tag_policy.build_s", "sources.sinks.upsert_s", "sources.sinks.json_s",
    "sources.sinks.files_written", "sources.sinks.bytes_written", "pipeline.self_s",
)


INGEST_RATIOS = ("sensor_calls_per_product", "embed_calls_per_product",
                 "store_bytes_per_product")
PLAN_LAYERS = tuple(f"plans.{m}.{k}" for m in PLAN_MODULES
                    for k in ("build_s", "jobs", "compile_s", "execute_s")) + (
    "plans.shuffle_write_bytes", "plans.spill_bytes", "plans.task_cpu_s")


def make(name: str):
    if name == "gold_mix":
        return QueryMix(GOLD_MIX, gen.TABLES, lambda seed: gen.star_tables(seed, GOLD_SF))
    if name == "llm_corpus":
        return QueryMix(LLM_MIX, ("documents", "embeddings"),
                        lambda seed: gen.replicate_corpus(seed, LLM_CORPUS))
    if name == "ingest":
        return Ingest()
    raise KeyError(name)


WORKLOADS = ("gold_mix", "llm_corpus", "ingest")
