"""Incremental crawl refresh: admit a NEW batch against the committed
artifact state — the between-crawls composition the persisted layer
exists for. A real pipeline never re-curates the corpus per crawl; it
holds the corpus as artifacts (profile snapshot, dedup band index) and
pushes each incoming batch through three gates:

1. DRIFT quarantine (corpus_stats.drift_check): a source whose
   length profile moved >= drift_gate_bp against the committed snapshot
   is quarantined WHOLESALE — a template change upstream means the
   extractor needs re-validation before any of that source's docs enter
   training. Brand-new sources pass (no baseline to drift from); their
   profile starts at commit.
2. INDEX dedup (dedup_index.check_batch): docs colliding with the
   committed band index are prior-crawl duplicates; the corpus itself
   is never touched, only its bucket summaries.
3. The standing DOC-QUALITY funnel (curate.curation_flags — quality >
   classifier > batch-local exact dup > chunk dup > contamination >
   sampling), unchanged.

Verdict priority: drift_quarantine > index_dup > the funnel's own
first-wins order. `commit_refresh` then folds the ADMITTED docs into
both artifacts (band append + profile append, each idempotent by
batch_tag with the uniform swap/crash contracts), so re-checking the
same batch afterwards reports its docs as index duplicates — the
exactly-once admission loop.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import artifact
from .corpus_stats import append_stats, drift_check
from .curate import curation_flags
from .dedup_index import append_batch, check_batch

DRIFT_GATE_BP = 2000   # quarantine a known source at >= 20% TVD


def refresh_verdicts(spark: SparkSession, stats_dir: str, index_dir: str,
                     batch: DataFrame,
                     drift_gate_bp: int = DRIFT_GATE_BP,
                     sample_rates: dict[str, float] | None = None
                     ) -> DataFrame:
    """(doc_id, source, drop_reason, admit) for every batch doc;
    drop_reason NULL = admitted. The drift side is per-SOURCE (a tiny
    broadcast of quarantined source names); the dedup side is the keyed
    band join; the funnel is the standing one-plan gate — the batch is
    scanned, the corpus never."""
    # NULL doc_id rows would slip through every gate unevaluated (the
    # funnel filters them, the keyed joins never match NULL) and report
    # admit=True for docs the appends can never fold in — drop them at
    # the door, same convention as operators._docs
    batch = batch.where(F.col("doc_id").isNotNull())
    quarantined = (drift_check(spark, stats_dir, batch)
                   .where((F.col("status") == "both")
                          & (F.col("drift_bp") >= drift_gate_bp))
                   .select("source", F.lit(1).alias("_q")))
    dups = (check_batch(spark, index_dir, batch)
            .where(F.col("is_dup") == 1)
            .select("doc_id", F.lit(1).alias("_d")))
    flags = curation_flags(batch, sample_rates=sample_rates).select(
        "doc_id", F.col("drop_reason").alias("_funnel_reason"))
    verdict = F.when(F.col("_q").isNotNull(), F.lit("drift_quarantine")) \
        .when(F.col("_d").isNotNull(), F.lit("index_dup")) \
        .otherwise(F.col("_funnel_reason"))
    return (batch.select("doc_id", "source")
            .join(F.broadcast(quarantined), "source", "left")
            .join(dups, "doc_id", "left")
            .join(flags, "doc_id", "left")
            .select("doc_id", "source", verdict.alias("drop_reason"))
            .withColumn("admit", F.col("drop_reason").isNull())
            .orderBy("doc_id"))


def commit_refresh(spark: SparkSession, stats_dir: str, index_dir: str,
                   batch: DataFrame, batch_tag: str,
                   drift_gate_bp: int = DRIFT_GATE_BP,
                   sample_rates: dict[str, float] | None = None,
                   ledger_dir: str | None = None) -> dict:
    """Admit the batch and fold the ADMITTED docs into both artifacts.

    Crash safety: the verdicts are committed to a WRITE-AHEAD ledger
    (atomic dir rename, keyed by batch_tag) BEFORE either artifact
    append runs, and every later step — including a retry after any
    crash — reads the ledger instead of re-deciding. Without it, a
    crash between the two appends would re-run the verdict pass against
    the already-updated band index, flag every previously-admitted doc
    as index_dup, and fold an EMPTY frame into the profile while
    burning the batch_tag — the admitted docs would be missing from the
    drift baseline forever. The ledger also plays localCheckpoint's
    role: the lazy verdict plan reads the very parquet files the
    appends' atomic swaps replace. Each append is itself idempotent by
    batch_tag, so replaying both is safe."""
    if ledger_dir is None:
        ledger_dir = os.path.join(stats_dir, "_refresh_ledger")
    ledger = os.path.join(ledger_dir, batch_tag)
    if not os.path.exists(ledger):
        fresh = refresh_verdicts(spark, stats_dir, index_dir, batch,
                                 drift_gate_bp=drift_gate_bp,
                                 sample_rates=sample_rates)
        # `<tag>.tmp`, published by one rename: the ledger exists fully
        # or not at all
        fresh.write.parquet(artifact.rewrite_dir(ledger, kind=""))
        artifact.swap_in(ledger, kind="")
    verdicts = spark.read.parquet(ledger)
    admitted_ids = verdicts.where(F.col("admit")).select("doc_id")
    admitted = batch.join(admitted_ids, "doc_id")
    counts = {r.drop_reason or "admitted": r.n for r in
              verdicts.groupBy("drop_reason")
              .agg(F.count("*").alias("n")).collect()}
    idx_manifest = append_batch(spark, index_dir, admitted,
                                batch_tag=batch_tag)
    stats_manifest = append_stats(spark, stats_dir, admitted,
                                  batch_tag=batch_tag)
    return {
        "batch_tag": batch_tag,
        "verdicts": counts,
        "n_admitted": int(counts.get("admitted", 0)),
        "index_docs": idx_manifest.get("n_docs"),
        "profile_docs": stats_manifest.get("n_docs"),
    }
