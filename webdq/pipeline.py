"""End-to-end quality-filter pipeline with checkpointed, resumable stages.

The reference's Luigi DAG gives file-level incrementality: a task whose
output file exists is skipped (/root/reference/osmdq/analysis_tasks.py:36-43
idiom, every task). Re-expressed here: every stage optionally writes a
parquet stage table under ``workdir``; on re-run a stage whose output
exists is READ instead of recomputed — same resume semantics, no Luigi.
Each checkpointed stage also writes its per-partition lineage rows and a
metrics row (north rule: "resumable from checkpoint with per-partition
lineage + metrics").

Stage graph (reference pipeline traced in SURVEY.md §3.1):
    pages
      → features     (heuristics: pure exprs; langid/perplexity: Arrow UDFs;
                      scrubbed_text)
      → normalized   (ECDF u_* + ratio features; bucketed-parallel exact ECDF)
      → clustered    (min-max scale → covariance/eig PCA → KMeans → cluster)
      → labels       (broadcast cluster→keep join + url, scrubbed_text)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import label as label_mod
from . import ml, normalize, scorers, textstats
from .scrub import scrub

# Features fed to scaling → PCA → KMeans. pii_hits is deliberately
# excluded (PII occurs uniformly across tiers; it informs scrubbing,
# not quality).
CLUSTER_FEATURES = [
    "u_chars",
    "u_words",
    "u_mean_word_len",
    "u_perplexity",
    "stopword_ratio",
    "symbol_ratio",
    "digit_ratio",
    "upper_ratio",
    "dup_word_ratio",
    "dup_5gram_ratio",
    "langid_conf",
    "lang_match",
]

ECDF_FEATURES = ["n_chars", "n_words", "mean_word_len", "perplexity"]

# Auto PCA component count (pca_components=0) is clamped to this range.
PCA_KMIN, PCA_KMAX = 3, 8

LINEAGE_SCHEMA = pa.schema([("stage", pa.string()), ("partition_id", pa.int32()), ("rows", pa.int64())])


@dataclass
class PipelineConfig:
    workdir: str | None = None  # None → fully lazy, no checkpoints
    k: int = 5
    pca_components: int = 0  # 0 → auto (cumvar > 70%)
    kmeans_max_iter: int = 25
    kmeans_init_sample: int = 4096


class StageRunner:
    """Luigi-style stage memoization + lineage/metrics bookkeeping."""

    def __init__(self, spark: SparkSession, workdir: str | None):
        self.spark = spark
        self.workdir = workdir
        self.metrics: list[dict] = []
        # frames persisted by run() in in-memory mode and by helpers that
        # persist internally (cluster_documents); finish() releases them
        self.persisted: list[DataFrame] = []

    def _path(self, name: str) -> str:
        assert self.workdir
        return os.path.join(self.workdir, name)

    def exists(self, name: str) -> bool:
        return bool(self.workdir) and os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def run(self, name: str, build) -> DataFrame:
        """Return the stage DataFrame; if checkpointing is on, write it
        once and read it back (true barrier = resume point)."""
        if not self.workdir:
            # No disk checkpoint → persist in memory/disk: downstream ML
            # stages (min-max, covariance, Lloyd iterations) each rescan
            # this frame; without a materialization every iteration would
            # re-run the whole upstream DAG including the Arrow UDFs.
            df = build().persist()
            self.persisted.append(df)
            return df
        if self.exists(name):
            self.metrics.append({"stage": name, "skipped": True})
            return self.spark.read.parquet(self._path(name))
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(self._path(name))
        out = self.spark.read.parquet(self._path(name))
        # per-partition lineage: rows per output partition, from ONE scan
        # of the written table (at most one row per partition reaches the
        # driver); the lineage file and the metrics derive from it there
        rows = dict(sorted(tuple(r) for r in out.groupBy(F.spark_partition_id()).count().collect()))
        lineage_dir = os.path.join(self.workdir, "_lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {"stage": [name] * len(rows), "partition_id": list(rows), "rows": list(rows.values())},
                schema=LINEAGE_SCHEMA,
            ),
            os.path.join(lineage_dir, f"{name}.parquet"),
        )
        total = sum(rows.values())
        self.metrics.append(
            {
                "stage": name,
                "wall_ms": int((time.time() - t0) * 1000),
                "rows_out": total,
                "partitions": len(rows),
                "skew_max_over_mean": max(rows.values()) / (total / len(rows)) if rows else 0.0,
            }
        )
        return out

    def flush_metrics(self) -> None:
        if not self.workdir or not self.metrics:
            return
        with open(os.path.join(self.workdir, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=2)

    def resume(self, terminal: str, upstream: tuple[str, ...] = ()) -> DataFrame | None:
        """Luigi-style short-circuit: if ``terminal`` is checkpointed,
        nothing runs — it and each existing ``upstream`` stage are marked
        skipped and the checkpoint is returned. None otherwise."""
        if not self.exists(terminal):
            return None
        for name in (terminal, *upstream):
            if self.exists(name):
                self.metrics.append({"stage": name, "skipped": True})
        self.flush_metrics()
        return self.spark.read.parquet(self._path(terminal))

    def finish(self, out: DataFrame) -> DataFrame:
        """Release every persisted frame except ``out`` (materialized
        first in in-memory mode; a parquet read with a workdir) and flush
        the metrics: a long-lived session driving many pipelines must not
        accrue executor memory (VERDICT r1 item 3)."""
        if not self.workdir:
            out.count()
        for df in self.persisted:
            if df is not out:
                df.unpersist()
        self.persisted = [] if self.workdir else [out]
        self.flush_metrics()
        return out


def extract_features(df: DataFrame) -> DataFrame:
    """pages → per-document features + scrubbed text, on the input's
    own partitioning."""
    df = textstats.char_features(df)
    df = scorers.all_scorer_features(df)  # one fused ArrowEvalPython
    df = scrub(df)
    # html AND raw text are dead weight past this point: every
    # downstream consumer reads either the numeric features or
    # scrubbed_text (the per-url byte-identity deliverable). Dropping
    # them here shrinks the persisted/checkpointed stage ~60% — at
    # cache-pressure scale that is the difference between memory-
    # resident and spilling stages.
    return df.drop("html", "text")


def normalize_features(df: DataFrame, stats_out: dict | None = None) -> DataFrame:
    # Numeric-only projection BEFORE the ECDF shuffles: the text and
    # scrubbed_text payloads must not travel through the ECDF windows
    # (they are ~50× the numeric width); scrubbed_text is joined back
    # once at label emission.
    numeric = [c for c in df.columns if c not in ("text", "scrubbed_text", "lang", "warc_ts", "html")]
    df = normalize.ecdf(df.select(*numeric), ECDF_FEATURES, prefix="u_", stats_out=stats_out)
    # reference naming: u_chars not u_n_chars (utils.py:540-541 strips n_)
    return df


def cluster_documents(
    df: DataFrame,
    cfg: PipelineConfig,
    persisted: list | None = None,
    approx_rows: int | None = None,
    feats: list[str] = CLUSTER_FEATURES,
    key_col: str = "url",
    out: str = "cluster",
):
    """min-max → PCA (auto-k) → KMeans over ``feats``, one row per
    ``key_col`` (pages by url, hosts by host). Returns (clustered df with
    cluster column ``out``, feats, stats, pca, km).
    Registers its internal persist in ``persisted`` so the caller can
    release it once the output is materialized. ``approx_rows`` (the
    exact upstream count when known — the ECDF probe surfaces it)
    fuses the KMeans init sample INTO the PCA fit scan: one driver
    round-trip serves minmax + covariance + init sample, with a
    bitwise-identical sample matrix (ml.fit_scaled_pca_with_init)."""
    missing = [c for c in feats if c not in df.columns]
    if missing:
        raise ValueError(f"cluster feature columns missing from input: {missing}")
    feats = list(feats)
    # one pass: min/max + covariance (scaled covariance derived on the
    # driver) instead of separate minmax and covariance scans — plus
    # the fused init sample when the row-count hint is available
    stats, pca, sample_X = ml.fit_scaled_pca_with_init(
        df,
        feats,
        n_components=cfg.pca_components,
        kmin=PCA_KMIN,
        kmax=PCA_KMAX,
        key_col=key_col,
        init_sample=cfg.kmeans_init_sample,
        approx_rows=approx_rows,
    )
    scaled = ml.minmax_scale(df, feats, stats)
    pc_cols = [f"pc_{j}" for j in range(pca.loadings.shape[1])]
    # Lloyd iterations + centroid ranking rescan this frame k×; keep
    # only (key, features, pc_*) hot — equivalent to the reference
    # persisting /individuals between tasks (analysis_tasks.py:632-635).
    proj = ml.pca_project(scaled, pca).select(key_col, *feats, *pc_cols).persist()
    if persisted is not None:
        persisted.append(proj)
    # fallback when the fused sample was unavailable: pca.n_rows (free
    # metadata from the fit scan) still lets the kmeans init TopK
    # pre-filter by hash range — bitwise-identical sample (ml.py)
    km = ml.kmeans_fit(
        proj,
        pc_cols,
        k=cfg.k,
        key_col=key_col,
        max_iter=cfg.kmeans_max_iter,
        init_sample=cfg.kmeans_init_sample,
        sample_X=sample_X,
        n_rows=pca.n_rows,
    )
    return ml.kmeans_assign(proj, pc_cols, km.centers, out=out), feats, stats, pca, km


def run_pipeline(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Full pipeline: pages → labels (url, cluster, keep, scrubbed_text)."""
    cfg = cfg or PipelineConfig()
    runner = StageRunner(spark, cfg.workdir)

    resumed = runner.resume("labels", upstream=("features", "normalized"))
    if resumed is not None:
        return resumed

    feats_df = runner.run("features", lambda: extract_features(pages))
    # nstats carries the ECDF probe's exact row count out of the stage
    # closure (empty on a checkpoint-resume read — the fused init
    # sample then falls back to the separate TopK, same results)
    nstats: dict = {}
    norm_df = runner.run("normalized", lambda: normalize_features(feats_df, nstats))

    clustered, feats, *_ = cluster_documents(
        norm_df, cfg, persisted=runner.persisted, approx_rows=nstats.get("n_rows")
    )
    # Rank clusters by the mean scaled features of their members
    # (`clustered` feature columns are already min-max scaled). This is
    # a PURE PLAN (label_mod.keep_dim_plan): the k-row aggregate +
    # window rank fuse into the label job — no driver collect, one
    # fewer synchronous round trip (the non-scaling cost, VERDICT r1).
    dim = label_mod.keep_dim_plan(clustered, list(feats), keep_top=1)
    labels = (
        clustered.join(F.broadcast(dim), on="cluster", how="left")
        .na.fill({"keep": False})
        .select("url", "cluster", "keep")
        # one url-equi-join to re-attach the scrubbed payload — the only
        # time text crosses a shuffle after feature extraction
        .join(feats_df.select("url", "scrubbed_text"), on="url", how="inner")
        .select("url", "cluster", "keep", "scrubbed_text")
    )
    return runner.finish(runner.run("labels", lambda: labels))
