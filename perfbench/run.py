"""Repository benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload filter_bulk --seed 1 --seconds 10 --trace 0

One driver process runs ``local[nproc]`` Spark and issues one job at a
time. Set-up (interpreter and session start, corpus generation, the
warehouse write of the input table, one untimed warm-up job on a separate
corpus) is reported as ``setup_s``. Then the job runs back to back, one
call per 10 s of ``--seconds``, each call on fresh output tables; the last
call's output is checked outside the timed window. With ``--trace 1`` the
run instead times one untraced job call, then the same job again one
layer at a time (see README.md), and prints the per-layer metrics.

The last line of stdout is the result object; the line before it is the
host record. Work files live under ``.bench_work/`` in the checkout and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload sizes (docs); README.md records how they were chosen
FILTER_DOCS = 8_000
FILTER_WARMUP_DOCS = 1_000
DEDUP_BASE_DOCS = 1_500
# the timed window: one call per SECONDS_PER_CALL of --seconds; a call
# takes 8-18 s on the reference host
SECONDS_PER_CALL = 10
# traced probes of layers a job does not call run on these buckets only
FILTER_PROBE_BUCKETS = list(range(8))
DEDUP_PROBE_BUCKETS = list(range(4))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, cores: int):
    """The product's session factory, with every scratch path of the JVM
    and the Python workers inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the small JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    # the product's default driver heap, whatever the caller's environment
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from data_quality_autohealer_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        import subprocess

        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _pages_df(spark, pdf):
    from data_quality_autohealer_spark import synth

    return spark.createDataFrame(pdf, synth.PAGES_SCHEMA_DDL)


# -- workloads -------------------------------------------------------------------


class Stopwatch:
    """Named set-up phases, kept for the host record."""

    def __init__(self):
        self.parts: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.parts[name] = now - self._t
        self._t = now


class Workload:
    """Set-up shared by the workloads: generate the corpus, write it as the
    input table, and run the job once, untimed, on a separate warm-up
    corpus in its own warehouse."""

    name = ""

    def __init__(self, spark, work: str, seed: int, sw: Stopwatch):
        from data_quality_autohealer_spark.warehouse import Warehouse

        self.spark = spark
        self.pdf, warm_pdf = self.corpora(seed)
        self.n_docs = len(self.pdf)
        self.text_bytes = int(self.pdf["text"].str.encode("utf-8")
                              .str.len().sum())
        sw.lap("generate")
        self.wh = Warehouse(spark, os.path.join(work, "wh"))
        self.wh.write_pages(_pages_df(spark, self.pdf), "pages")
        sw.lap("write_input")
        warm = Warehouse(spark, os.path.join(work, "wh_warm"))
        warm.write_pages(_pages_df(spark, warm_pdf), "pages")
        self.job(warm, "warm")
        sw.lap("warmup")

    def call(self, i: int) -> dict:
        return self.job(self.wh, str(i))


class FilterBulk(Workload):
    """``run_filter`` over the FIXTURES corpus: one run_id, one commit."""

    name = "filter_bulk"

    def corpora(self, seed: int):
        import corpus

        return (corpus.filter_pages(seed, FILTER_DOCS),
                corpus.filter_pages(seed, FILTER_WARMUP_DOCS, warmup=True))

    @staticmethod
    def job(wh, tag: str) -> dict:
        from data_quality_autohealer_spark.plans import pipeline

        return pipeline.run_filter(wh, f"run_{tag}", "pages", f"clean_{tag}")

    def check(self, i: int, summary: dict) -> list[str]:
        import checks
        from pyspark.sql import functions as F

        subset = list(checks.ORACLE_BUCKETS)
        clean_df = self.wh.read_clean(f"clean_{i}")
        clean = (clean_df.where(F.col("bucket").isin(subset))
                 .select("url", "text", "reasons_csv", "bucket").toPandas())
        bucket_of = (self.wh.read_pages("pages")
                     .where(F.col("bucket").isin(subset))
                     .select("url", "bucket").toPandas()
                     .set_index("url")["bucket"])
        metrics = (self.wh.read_metrics()
                   .where((F.col("run_id") == f"run_{i}")
                          & F.col("bucket").isin(subset))
                   .select("bucket", "docs_in", "docs_kept", "rule_hits")
                   .toPandas())
        metrics["rule_hits"] = metrics["rule_hits"].map(
            lambda m: dict(m) if m is not None else {})
        oracle = checks.oracle_labels(
            self.pdf[self.pdf["url"].isin(bucket_of.index)])
        return checks.check_filter(self.n_docs, summary, clean_df.count(),
                                   oracle, bucket_of, clean, metrics)

    def trace(self, tr) -> dict:
        import traced

        wave = traced.filter_wave(tr, self.wh, "run_trace", "pages",
                                  "clean_trace", None, in_job=True)
        chain = traced.dedup_chain(tr, self.wh, "pages", "deduped_trace",
                                   DEDUP_PROBE_BUCKETS, in_job=False)
        return {**wave, **chain}


class DedupNeardup(Workload):
    """The ``run_dedup --mode neardup`` chain over a corpus with injected
    exact copies, near-dup clusters and one over-cap template cluster."""

    name = "dedup_neardup"

    def corpora(self, seed: int):
        import corpus

        pdf, self.truth = corpus.dedup_pages(seed, DEDUP_BASE_DOCS)
        return pdf, corpus.dedup_pages(seed, DEDUP_BASE_DOCS, tag="w")[0]

    @staticmethod
    def job(wh, tag: str) -> dict:
        """exact_dedup (materialized, as the CLI does) -> neardup_dedup ->
        write_pages, with the CLI's defaults but ``--max-bucket-size``."""
        import corpus

        from data_quality_autohealer_spark.operators import dedup

        pages = wh.read_pages("pages")
        exact = dedup.exact_dedup(pages, text_col="text",
                                  id_col="url").persist()
        try:
            n_exact = exact.count()
            deduped = dedup.neardup_dedup(
                exact, text_col="text", id_col="url",
                max_bucket_size=corpus.MAX_BUCKET_SIZE)
            wh.write_pages(deduped.drop("bucket"), table=f"deduped_{tag}")
        finally:
            exact.unpersist()
        return {"docs_exact": n_exact}

    def check(self, i: int, summary: dict) -> list[str]:
        import checks
        import corpus

        out = (self.wh.read_pages(f"deduped_{i}").select("url", "text")
               .toPandas())
        expected = checks.expected_dedup_output(
            self.pdf[["url", "text"]], corpus.MAX_BUCKET_SIZE)
        fails = checks.check_dedup(self.pdf, self.truth, expected, out)
        n_exact = len(checks.exact_dedup_oracle(self.pdf))
        if summary["docs_exact"] != n_exact:
            fails.append(f"exact_dedup kept {summary['docs_exact']} docs, "
                         f"oracle {n_exact}")
        return fails

    def trace(self, tr) -> dict:
        import traced

        chain = traced.dedup_chain(tr, self.wh, "pages", "deduped_trace",
                                   None, in_job=True)
        wave = traced.filter_wave(tr, self.wh, "run_trace", "pages",
                                  "clean_trace", FILTER_PROBE_BUCKETS,
                                  in_job=False)
        return {**wave, **chain}


WORKLOADS = {w.name: w for w in (FilterBulk, DedupNeardup)}


# -- measurement -------------------------------------------------------------------


def measure(wl, seconds: float, sampler) -> tuple[list[dict], list[str]]:
    """One back-to-back job call per ``SECONDS_PER_CALL`` of ``seconds``
    (at least one). The count does not depend on how fast the calls run,
    so a slower host does not change what is measured. Returns per-call
    records and the output-check failures of the last successful call."""
    import ledger

    calls: list[dict] = []
    last = None
    for i in range(max(1, int(seconds // SECONDS_PER_CALL))):
        before, _ = ledger.tree_bytes(wl.wh.root)
        sampler.reset()
        t0 = time.perf_counter()
        try:
            summary, err = wl.call(i), None
        except Exception as e:  # noqa: BLE001 - a failed call is counted
            summary, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        peak = sampler.peak_bytes()
        after, _ = ledger.tree_bytes(wl.wh.root)
        calls.append({"s": dt, "peak_rss": peak, "bytes": after - before,
                      "error": err})
        if err is None:
            last = (i, summary)
    if last is None:
        return calls, ["every timed call failed"]
    fails = wl.check(*last)
    calls[last[0]]["check"] = fails
    return calls, fails


def end_to_end(wl, setup_s: float, calls: list[dict]) -> dict:
    ok = [c for c in calls if c["error"] is None and not c.get("check")]
    wall = statistics.median(c["s"] for c in calls)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "peak_rss_mb": max(c["peak_rss"] for c in calls) / 2**20,
        "write_amp": statistics.median(c["bytes"] for c in calls)
        / wl.text_bytes,
        "ops_ok_frac": len(ok) / len(calls),
    }


def with_units(values: dict, declared: list[dict]) -> dict:
    """Attach the units declared in BENCHMARK.json; the metric names must
    be exactly the declared ones."""
    names = {m["name"] for m in declared}
    if set(values) != names:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing "
            f"{sorted(names - set(values))}, extra "
            f"{sorted(set(values) - names)}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import data_quality_autohealer_spark as pkg
        import oracle.rules  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the program is not in this checkout "
              f"({pkg.__file__})", file=sys.stderr)
        return 2
    import ledger

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = _cores()
    record = ledger.host_record(ROOT, args.seed, cores)
    record["workload"] = args.workload
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        sw = Stopwatch()
        spark = start_spark(work, cores)
        sw.lap("session")
        wl = WORKLOADS[args.workload](spark, work, args.seed, sw)
        setup_s = ledger.process_age_s()
        record["setup_s"] = setup_s
        record["setup_parts"] = sw.parts
        record["docs"] = wl.n_docs
        with ledger.RssSampler() as sampler:
            if args.trace:
                import traced

                values, calls, fails, extra = traced.run(wl, cores, sampler)
                record.update(extra)
                metrics = with_units(values, spec["per_layer"])
            else:
                calls, fails = measure(wl, args.seconds, sampler)
                metrics = with_units(end_to_end(wl, setup_s, calls),
                                     spec["end_to_end"])
        record["calls"] = calls
        record["load_end"] = ledger.load_average()
        result = {
            "correct": not fails,
            "attempted": len(calls),
            "failed": sum(1 for c in calls
                          if c["error"] is not None or c.get("check")),
            "metrics": metrics,
        }
        if fails:
            print("perfbench: output check failed: " + "; ".join(fails),
                  file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
