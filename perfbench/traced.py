"""The traced run: the workload's job once untraced, then the same job
one public call at a time, each stage materialized on its own
(``localCheckpoint`` or a write, never ``persist``), plus single-core
kernel rates of the scoring UDF's four layers.

Layers a workload's job does not call are probed on a bucket slice of the
same corpus, so every workload reports every per-layer metric; those
probe spans are left out of ``trace.overhead_frac`` and the ``spark.*``
sums.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

# single-core kernel rates: one batch of the workload's text, median of
# KERNEL_REPEATS timings
KERNEL_BATCH_DOCS = 500
KERNEL_REPEATS = 3


def filter_wave(tr, wh, run_id: str, pages_table: str, clean_table: str,
                bucket_subset: list[int] | None, in_job: bool) -> dict:
    """``run_filter``'s calls one at a time: scan, resume anti-join,
    scoring, clean write, bucket metrics, metrics/alerts commit."""
    import ledger
    from pyspark.sql import functions as F

    from data_quality_autohealer_spark.operators.decision import REASON_CODES
    from data_quality_autohealer_spark.plans import pipeline
    from data_quality_autohealer_spark.warehouse import METRICS_SCHEMA

    pages = wh.read_pages(pages_table)
    if bucket_subset is not None:
        pages = pages.where(F.col("bucket").isin(bucket_subset))
    cols = ["url", "warc_ts", "text", "lang", "bucket"]
    scanned = tr.span("warehouse.scan", lambda: pages.select(*cols)
                      .localCheckpoint(eager=True), in_job)
    todo = tr.span("warehouse.resume", lambda: wh.resume_filter(
        scanned, run_id).localCheckpoint(eager=True), in_job)
    scored = tr.span("scoring.score_pages", lambda: pipeline.score_pages(
        todo).drop("confidences").localCheckpoint(eager=True), in_job)
    n_scored = scored.count()
    lang_out = (F.when((F.col("lang") == "und")
                       & (F.col("lang_pred") != "und"), F.col("lang_pred"))
                .otherwise(F.col("lang")))
    kept = scored.where(F.col("keep")).select(
        "url", "warc_ts", lang_out.alias("lang"), "bucket",
        F.col("scrubbed_text").alias("text"),
        F.array_join("reasons", ",").alias("reasons_csv"))
    bytes0, files0 = ledger.tree_bytes(wh.root)
    tr.span("warehouse.write", lambda: wh.write_clean(
        kept, clean_table, run_id=run_id), in_job)
    rows = tr.span("pipeline.metrics", lambda: pipeline.bucket_metrics(
        scored, run_id).collect(), in_job)

    def commit() -> None:
        metrics_df = wh.spark.createDataFrame(rows, METRICS_SCHEMA)
        wh.append_metrics(metrics_df)
        alerts = pipeline.quality_alerts(metrics_df)
        if alerts.count():
            wh.append_alerts(alerts)

    tr.span("warehouse.commit", commit, in_job)
    bytes1, files1 = ledger.tree_bytes(wh.root)
    # run_filter scores without the C4 line rules, so c4.page never fires
    hits = {c: 0 for c in REASON_CODES if c != "c4.page"}
    for r in rows:
        for code in hits:
            hits[code] += int((r["rule_hits"] or {}).get(code) or 0)
    stages = ["warehouse.scan", "warehouse.resume", "scoring.score_pages",
              "warehouse.write", "pipeline.metrics", "warehouse.commit"]
    out = {
        "scoring.score_pages_s": tr.seconds("scoring.score_pages"),
        "_scored_docs": n_scored,
        "scoring.docs_kept": sum(int(r["docs_kept"]) for r in rows),
        **{f"scoring.rule_hits.{c}": n for c, n in hits.items()},
        "warehouse.scan_s": tr.seconds("warehouse.scan"),
        "warehouse.resume_s": tr.seconds("warehouse.resume"),
        "warehouse.write_s": tr.seconds("warehouse.write"),
        "warehouse.commit_s": tr.seconds("warehouse.commit"),
        "warehouse.bytes_written": bytes1 - bytes0,
        "warehouse.files_written": files1 - files0,
        "pipeline.metrics_s": tr.seconds("pipeline.metrics"),
        "_wave_s": sum(tr.seconds(s) for s in stages),
    }
    return out


def dedup_chain(tr, wh, pages_table: str, out_table: str,
                bucket_subset: list[int] | None, in_job: bool) -> dict:
    """The neardup chain's calls one at a time: exact_dedup, MinHash,
    LSH candidates, Jaccard verify, connected components, output write."""
    import corpus
    from pyspark.sql import functions as F

    from data_quality_autohealer_spark.operators import dedup

    pages = wh.read_pages(pages_table)
    if bucket_subset is not None:
        pages = pages.where(F.col("bucket").isin(bucket_subset))
    n_in = pages.count()
    exact = tr.span("dedup.exact", lambda: dedup.exact_dedup(
        pages, text_col="text", id_col="url").localCheckpoint(eager=True),
        in_job)
    n_exact = exact.count()
    # the candidate stage computes its own signatures: time them alone as
    # a sub-span (outside the job sum) and report the candidate stage's
    # self time
    tr.span("dedup.minhash", lambda: dedup.with_minhash_batched(
        exact.select("url", "text"), "text").localCheckpoint(eager=True),
        in_job=False)
    cand = tr.span("dedup.candidates", lambda: dedup.minhash_lsh_pairs(
        exact, "text", "url", max_bucket_size=corpus.MAX_BUCKET_SIZE)
        .localCheckpoint(eager=True), in_job)
    n_cand = cand.count()
    ver = tr.span("dedup.verify", lambda: dedup.jaccard_verify_pairs(
        exact, cand, "text", "url").localCheckpoint(eager=True), in_job)
    n_ver = ver.count()
    stats: dict = {}
    comp = tr.span("dedup.components", lambda: dedup.connected_components(
        ver, stats=stats).localCheckpoint(eager=True), in_job)
    drop = comp.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias("url"))
    tr.span("dedup.write", lambda: wh.write_pages(
        exact.join(drop, "url", "left_anti").drop("bucket"), out_table),
        in_job)
    n_out = wh.read_pages(out_table).count()
    minhash_s = tr.seconds("dedup.minhash")
    return {
        "dedup.exact_s": tr.seconds("dedup.exact"),
        "dedup.exact_removed": n_in - n_exact,
        "dedup.minhash_s": minhash_s,
        "dedup.candidates_s": tr.seconds("dedup.candidates") - minhash_s,
        "dedup.candidates": n_cand,
        "dedup.verify_s": tr.seconds("dedup.verify"),
        "dedup.verified": n_ver,
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "dedup.components_s": tr.seconds("dedup.components"),
        "dedup.cc_local": int(bool(stats.get("local"))),
        "dedup.cc_rounds": int(stats.get("rounds", 0)),
        "dedup.write_s": tr.seconds("dedup.write"),
        "dedup.docs_removed": n_in - n_out,
    }


def kernel_rates(texts: pd.Series) -> dict:
    """Single-core docs/s of the scoring UDF's layers on one batch of the
    workload's own text."""
    from data_quality_autohealer_spark.functions import langid, perplexity
    from data_quality_autohealer_spark.functions.scrub import scrub_series
    from data_quality_autohealer_spark.functions.text_heuristics import (
        DEFAULT_THRESHOLDS,
    )
    from data_quality_autohealer_spark.operators import scoring

    text = texts.iloc[:KERNEL_BATCH_DOCS].reset_index(drop=True)
    kernels = {
        "signals": lambda t: scoring.heuristic_signal_batch(
            t, DEFAULT_THRESHOLDS.stopwords),
        "langid": lambda t: langid.get_model().predict_series(t),
        "perplexity": lambda t: perplexity.get_model()
        .log_perplexity_series(t),
        "scrub": scrub_series,
        "score_batch": scoring.score_batch,
    }
    scoring.score_batch(text.iloc[:8])  # load the models outside timing
    out = {}
    for name, fn in kernels.items():
        times = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            fn(text)
            times.append(time.perf_counter() - t0)
        out[f"functions.{name}.docs_per_s"] = len(text) / statistics.median(
            times)
    return out


def run(wl, cores: int, sampler) -> tuple[dict, list[dict], list[str], dict]:
    """Returns (per-layer metrics, call records, check failures, record
    additions)."""
    import ledger

    tr = ledger.Tracer(wl.spark, cores)
    sampler.reset()
    t0 = time.perf_counter()
    summary = wl.call(0)
    untraced_s = time.perf_counter() - t0
    calls = [{"s": untraced_s, "peak_rss": sampler.peak_bytes(),
              "error": None, "traced": False}]
    fails = wl.check(0, summary)
    calls[0]["check"] = fails
    t0 = time.perf_counter()
    layers = wl.trace(tr)
    calls.append({"s": time.perf_counter() - t0, "error": None,
                  "traced": True})
    rates = kernel_rates(wl.pdf["text"])
    scored_rate = layers.pop("_scored_docs") / layers["scoring.score_pages_s"]
    wave_s = layers.pop("_wave_s")
    metrics = {
        **rates, **layers,
        "pipeline.wave_s": wave_s,
        "scoring.udf_efficiency":
            scored_rate / (cores * rates["functions.score_batch.docs_per_s"]),
        **tr.job_counters(),
        "trace.overhead_frac": tr.job_seconds() / untraced_s - 1.0,
    }
    return (metrics, calls, fails,
            {"spans": tr.spans, "dropped_metrics": tr.dropped})
