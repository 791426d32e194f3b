"""In-memory span tracer for the traced benchmark run.

A span times one call from the driver side and sets a unique Spark job
group for its duration, so the jobs it fires can be counted through
``StatusTracker`` and their task metrics joined from the JSON event
log. Spans nest; a span's self time is its wall time minus its
children's, so the self times of a tree add up to the root's wall time.

``install`` wraps, from outside the package, the calls the benchmark
attributes time to: ``DataFrame.collect`` / ``count`` /
``localCheckpoint`` and the stage functions ``run_pipeline`` imports.
Nothing is wrapped in an untraced run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute) → span name, for the stage functions run_pipeline calls
PIPELINE_STAGES = (
    ("refitd_etl_spark.pipeline", "transform_products", "operators.transform"),
    ("refitd_etl_spark.pipeline", "tag_representatives", "operators.sensor"),
    ("refitd_etl_spark.pipeline", "apply_tag_policy", "operators.tag_policy"),
    ("refitd_etl_spark.pipeline", "merge_composition", "operators.merge_composition"),
    ("refitd_etl_spark.pipeline", "embedding_text", "operators.embedding_text"),
    ("refitd_etl_spark.pipeline", "with_embeddings", "operators.embedder"),
    ("refitd_etl_spark.sources.sinks", "upsert_parquet", "sources.sinks.upsert"),
    ("refitd_etl_spark.sources.sinks", "write_partitioned_json", "sources.sinks.json"),
)
DATAFRAME_ACTIONS = ("collect", "count", "localCheckpoint")


@dataclass
class Span:
    name: str
    group: str
    seconds: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    children: list[Span] = field(default_factory=list)

    @property
    def self_s(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)

    def walk(self) -> Iterator[Span]:
        yield self
        for c in self.children:
            yield from c.walk()

    def to_json(self, stages: dict[str, dict]) -> dict:
        out = {"name": self.name, "group": self.group, "seconds": self.seconds,
               "self_s": self.self_s, "jobs": self.jobs}
        if self.group in stages:
            out["stage_metrics"] = stages[self.group]
        if self.attrs:
            out["attrs"] = self.attrs
        if self.children:
            out["children"] = [c.to_json(stages) for c in self.children]
        return out


class Tracer:
    """Span stack bound to one SparkContext. ``hook_s`` accumulates the
    time spent in the tracer's own bookkeeping."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[Span] = []
        self.roots: list[Span] = []
        self.hook_s = 0.0
        self._seq = 0

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        h0 = time.perf_counter()
        self._seq += 1
        node = Span(name, f"graftbench-{os.getpid()}-{self._seq}", attrs=dict(attrs))
        parent = self.stack[-1] if self.stack else None
        (parent.children if parent else self.roots).append(node)
        self.stack.append(node)
        self.sc.setJobGroup(node.group, name)
        t0 = time.perf_counter()
        self.hook_s += t0 - h0
        try:
            yield node
        finally:
            t1 = time.perf_counter()
            node.seconds = t1 - t0
            self.stack.pop()
            node.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(node.group))
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.hook_s += time.perf_counter() - t1


def _wrap(tracer: Tracer, name: str, fn: Callable) -> Callable:
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    traced.__name__ = getattr(fn, "__name__", name)
    traced.__doc__ = fn.__doc__
    return traced


def install(tracer: Tracer, df_class: type) -> Callable[[], None]:
    """Wrap the DataFrame actions and pipeline stage functions in spans;
    returns the function that restores the originals."""
    import importlib

    saved: list[tuple[object, str, object]] = []
    for meth in DATAFRAME_ACTIONS:
        orig = getattr(df_class, meth)
        saved.append((df_class, meth, orig))
        setattr(df_class, meth, _wrap(tracer, f"df.{meth}", orig))
    for module, attr, name in PIPELINE_STAGES:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, _wrap(tracer, name, orig))

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


def query_phases_s(df) -> float:
    """Catalyst time of ``df``'s QueryExecution: the analysis,
    optimization and planning phases recorded by its tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


STAGE_KEYS = ("tasks", "task_cpu_s", "task_run_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "input_bytes", "output_bytes")


def stage_metrics_by_group(event_dir: str) -> dict[str, dict]:
    """Task metrics from the JSON event log, summed per job group."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STAGE_KEYS, 0))
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = out[stage_group.get(ev.get("Stage ID")) or "(none)"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["tasks"] += 1
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(out)


def subtree_stage_metrics(span: Span, stages: dict[str, dict]) -> dict:
    total = dict.fromkeys(STAGE_KEYS, 0)
    for s in span.walk():
        for k, v in stages.get(s.group, {}).items():
            total[k] += v
    return total


def self_times(root: Span) -> dict[str, float]:
    """Self seconds summed per span name over the tree."""
    out: dict[str, float] = defaultdict(float)
    for s in root.walk():
        out[s.name] += s.self_s
    return dict(out)
