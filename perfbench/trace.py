"""Layer tracing from outside the program.

A traced operation wraps each layer call in a span (name, start, end,
parent, run id) kept in memory, and tags the Spark jobs it starts with a
job group. Spark evaluates lazily, so a layer that returns a DataFrame
would otherwise run its work inside whichever later call consumes it:
the wrapper persists and counts the result under the layer's own group.
That materialization splits the fused plan of an untraced call, and the
difference shows up as tracing overhead.

Per-layer job, task, shuffle and spill counts come from the Spark event
log, keyed by job group; self times come from the spans.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrame

# Every layer the benchmark reports, in pipeline order.
LAYERS = [
    "pipeline.run_pipeline",
    "textstats.char_features",
    "scorers.all_scorer_features",
    "scrub.scrub",
    "normalize.ecdf",
    "ml.fit_scaled_pca_with_init",
    "ml.pca_project",
    "ml.kmeans_fit",
    "ml.kmeans_assign",
    "label.keep_dim_plan",
    "storage.spread_scan",
    "dedup.minhash_lsh_pairs",
    "dedup.embedding_neardup_pairs",
    "similarity.cosine_topk",
]
MEASURES = [("s", "s"), ("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
# Counters a workload attaches to a layer span (name -> unit).
EXTRA = {
    "pipeline.run_pipeline.ckpt_mb": "MB",
    "pipeline.run_pipeline.ckpt_bytes_ratio": "ratio",
    "ml.kmeans_fit.iterations": "count",
    "dedup.minhash_lsh_pairs.candidate_pairs": "count",
    "dedup.embedding_neardup_pairs.pairs_compared": "count",
    "dedup.embedding_neardup_pairs.pairs_kept": "count",
    "dedup.embedding_neardup_pairs.keep_ratio": "ratio",
}
TOTALS = {
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
}

# Layers called inside run_pipeline: (module, attribute the pipeline looks
# up at call time, layer name). scrub is imported into the pipeline module.
PIPELINE_PATCHES = [
    ("webdq.textstats", "char_features", "textstats.char_features"),
    ("webdq.scorers", "all_scorer_features", "scorers.all_scorer_features"),
    ("webdq.pipeline", "scrub", "scrub.scrub"),
    ("webdq.normalize", "ecdf", "normalize.ecdf"),
    ("webdq.ml", "fit_scaled_pca_with_init", "ml.fit_scaled_pca_with_init"),
    ("webdq.ml", "pca_project", "ml.pca_project"),
    ("webdq.ml", "kmeans_fit", "ml.kmeans_fit"),
    ("webdq.ml", "kmeans_assign", "ml.kmeans_assign"),
    ("webdq.label", "keep_dim_plan", "label.keep_dim_plan"),
]


def metric_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in MEASURES}
    return {**units, **EXTRA, **TOTALS}


class NoTrace:
    """Tracing off: layer calls go straight through."""

    def call(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def count(self, name, value):
        pass

    @contextlib.contextmanager
    def run(self, run_id):
        yield


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[dict] = []
        self._persisted: list[DataFrame] = []
        self._run = None

    def _set_group(self, group):
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _group(self, name, suffix=""):
        return f"pb:{self._run}:{name}{suffix}"

    @contextlib.contextmanager
    def _span(self, name):
        parent = self._stack[-1]["name"] if self._stack else None
        span = {"name": name, "run": self._run, "parent": parent, "start": time.perf_counter()}
        self._stack.append(span)
        self._set_group(self._group(name))
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._group(self._stack[-1]["name"]) if self._stack else None)
            self.spans.append(span)

    def call(self, name, fn, *args, **kwargs):
        """Run one layer call inside its span. A call made from inside
        another layer (kmeans_fit calls kmeans_assign per Lloyd step)
        belongs to the caller and is not split out. run_pipeline's result
        is not materialized: its labels are already on disk."""
        if self._stack and self._stack[-1]["name"] not in ("op", "pipeline.run_pipeline"):
            return fn(*args, **kwargs)
        with self._span(name):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame) and name != "pipeline.run_pipeline":
                self._set_group(self._group(name, ":materialize"))
                out = out.persist()
                out.count()
                self._persisted.append(out)
        if name == "ml.kmeans_fit":
            self.count("ml.kmeans_fit.iterations", out.iterations)
        return out

    def count(self, name, value):
        self.counters[name].append(float(value))

    @contextlib.contextmanager
    def run(self, run_id):
        """One traced operation: root span "op" plus the pipeline's
        internal layer calls swapped for traced ones."""
        self._run = run_id
        saved = []
        for mod_name, attr, layer in PIPELINE_PATCHES:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, lambda *a, _fn=fn, _layer=layer, **kw: self.call(_layer, _fn, *a, **kw))
        try:
            with self._span("op"):
                yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()

    def self_times(self) -> dict[tuple, float]:
        """(run, name) -> span duration minus the time its children cover."""
        out: dict[tuple, float] = defaultdict(float)
        for sp in self.spans:
            out[(sp["run"], sp["name"])] += sp["end"] - sp["start"]
            if sp["parent"] is not None:
                out[(sp["run"], sp["parent"])] -= sp["end"] - sp["start"]
        return out


def event_log_counts(path: str) -> dict[str, dict[str, float]]:
    """Job group -> jobs, tasks, failed tasks, shuffle bytes written and
    bytes spilled to disk, from a Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    out[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                c = out[group]
                c["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    c["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                c["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return out


def layer_metrics(tracer: Tracer, groups: dict, traced: list[float], untraced: list[float]) -> dict[str, float]:
    """Per-operation means over the traced runs. ``.jobs`` counts the jobs
    the layer call itself started (its driver-synchronous jobs); tasks,
    shuffle and spill also include the benchmark's materialization."""
    runs = sorted({sp["run"] for sp in tracer.spans})
    n = max(1, len(runs))
    selft = tracer.self_times()
    m = {name: 0.0 for name in metric_units()}
    for run in runs:
        for layer in LAYERS:
            m[f"{layer}.s"] += selft.get((run, layer), 0.0) / n
            call = groups.get(f"pb:{run}:{layer}", {})
            mat = groups.get(f"pb:{run}:{layer}:materialize", {})
            m[f"{layer}.jobs"] += call.get("jobs", 0) / n
            for key, src, scale in (("tasks", "tasks", 1), ("failed_tasks", "failed_tasks", 1),
                                    ("shuffle_write_mb", "shuffle_write_bytes", 1e-6),
                                    ("spill_mb", "spill_bytes", 1e-6)):
                m[f"{layer}.{key}"] += (call.get(src, 0) + mat.get(src, 0)) * scale / n
        m["trace.uncovered_s"] += selft.get((run, "op"), 0.0) / n
    for name, values in tracer.counters.items():
        m[name] = sum(values) / len(values)
    m["trace.traced_wall_s"] = statistics.median(traced) if traced else 0.0
    m["trace.untraced_wall_s"] = statistics.median(untraced) if untraced else 0.0
    m["trace.overhead_s"] = m["trace.traced_wall_s"] - m["trace.untraced_wall_s"]
    return m


def write_report(path: str, workload: str, seed: int, m: dict[str, float], env: dict, n_traced: int) -> None:
    wall = m["trace.traced_wall_s"] or float("nan")  # nan when every traced operation raised
    lines = [
        f"# Traced run: workload {workload}, seed {seed}",
        "",
        f"Host: nproc {env['nproc']}, load average {env['load_before']} before, {env['load_after']} after, "
        f"CPU steal {env['steal']} during the run.",
        f"Traced operations: {n_traced}. Values are means per operation.",
        "",
        "Each layer's output is persisted and counted inside its span, so the",
        "traced plan is split at every layer boundary, unlike the fused plan of",
        "an untraced call. Self time = span time minus the time of child spans.",
        "",
        "| layer | self s | share of traced wall | jobs | tasks | failed | shuffle MB | spill MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    covered = 0.0
    for layer in LAYERS:
        s = m[f"{layer}.s"]
        if s == 0.0 and m[f"{layer}.tasks"] == 0.0:
            continue
        covered += s
        lines.append(
            f"| {layer} | {s:.3f} | {s / wall:.1%} | {m[f'{layer}.jobs']:.1f} | {m[f'{layer}.tasks']:.0f} "
            f"| {m[f'{layer}.failed_tasks']:.0f} | {m[f'{layer}.shuffle_write_mb']:.2f} | {m[f'{layer}.spill_mb']:.2f} |"
        )
    untraced = m["trace.untraced_wall_s"] or float("nan")
    lines += [
        "",
        f"Traced wall (median per operation): {wall:.3f} s. Layer self times sum to {covered:.3f} s "
        f"({covered / wall:.1%} of the traced wall); the uncovered remainder, time in the",
        f"operation outside any layer, is {m['trace.uncovered_s']:.3f} s ({m['trace.uncovered_s'] / wall:.1%}).",
        f"Tracing overhead: traced wall {wall:.3f} s minus untraced wall {untraced:.3f} s = "
        f"{m['trace.overhead_s']:.3f} s ({m['trace.overhead_s'] / untraced:.1%} of the untraced wall).",
        "Both walls come from the same session, which has the event log on.",
        "",
        "Counters (per operation):",
    ]
    lines += [f"- {k}: {m[k]:.4g}" for k in EXTRA if m[k]]
    if m["ml.kmeans_fit.iterations"]:
        lines.append("- Lloyd converges in few iterations on this generator, so a change to the Lloyd step alone "
                     "moves little.")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
