"""The benchmark's output checks pass on a known-good output and fail when
one row of it is corrupted; the staged DuckDB twin equals the library's.

    python3 -m pytest perfbench/test_checks.py -q
"""

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import corpus  # noqa: E402

# -- filter ------------------------------------------------------------------------


@pytest.fixture(scope="module")
def filter_case():
    """A filter output built from the oracle itself, so it is correct."""
    pages = corpus.filter_pages(seed=7, n=400)
    bucket_of = pd.Series(
        [checks.ORACLE_BUCKETS[i % len(checks.ORACLE_BUCKETS)]
         for i in range(len(pages))], index=pages["url"].to_numpy())
    oracle = checks.oracle_labels(pages)
    kept = oracle[oracle["keep"]]
    clean = pd.DataFrame({
        "url": kept.index, "text": kept["scrubbed_text"].to_numpy(),
        "reasons_csv": kept["reasons_csv"].to_numpy(),
        "bucket": bucket_of.loc[kept.index].to_numpy()})
    rows = []
    for b in checks.ORACLE_BUCKETS:
        urls = bucket_of.index[bucket_of == b]
        hits: dict[str, int] = {}
        for csv in oracle.loc[urls, "reasons_csv"]:
            for code in filter(None, csv.split(",")):
                hits[code] = hits.get(code, 0) + 1
        rows.append({"bucket": b, "docs_in": len(urls),
                     "docs_kept": int(oracle.loc[urls, "keep"].sum()),
                     "rule_hits": hits})
    summary = {"docs_in": len(pages), "docs_kept": len(clean)}
    return pages, oracle, bucket_of, clean, pd.DataFrame(rows), summary


def _run_filter_check(case, clean=None, metrics=None, summary=None):
    pages, oracle, bucket_of, clean0, metrics0, summary0 = case
    clean = clean0 if clean is None else clean
    return checks.check_filter(
        len(pages), summary0 if summary is None else summary, len(clean),
        oracle, bucket_of, clean, metrics0 if metrics is None else metrics)


def test_filter_check_passes_on_correct_output(filter_case):
    assert _run_filter_check(filter_case) == []


def _drop_row(c, o):
    return c.drop(c.index[0])


def _duplicate_row(c, o):
    return pd.concat([c, c.iloc[[0]]], ignore_index=True)


def _alter_text(c, o):
    c = c.copy()
    c.loc[c.index[0], "text"] += " x"
    return c


def _alter_url(c, o):
    c = c.copy()
    c.loc[c.index[0], "url"] += "x"
    return c


def _alter_reasons(c, o):
    c = c.copy()
    c.loc[c.index[0], "reasons_csv"] = "perplexity"
    return c


def _swap_in_dropped(c, o):
    """Replace one kept row by a dropped doc with its scrubbed text."""
    dropped = o[~o["keep"]]
    c = c.copy()
    c.loc[c.index[0], ["url", "text", "reasons_csv"]] = [
        dropped.index[0], dropped["scrubbed_text"].iloc[0],
        dropped["reasons_csv"].iloc[0]]
    return c


@pytest.mark.parametrize("corrupt", [
    _drop_row, _duplicate_row, _alter_text, _alter_url, _alter_reasons,
    _swap_in_dropped])
def test_filter_check_fails_on_one_corrupted_clean_row(filter_case, corrupt):
    _, oracle, _, clean, _, _ = filter_case
    assert _run_filter_check(filter_case, clean=corrupt(clean, oracle))


@pytest.mark.parametrize("column", ["docs_in", "docs_kept"])
def test_filter_check_fails_on_one_corrupted_metrics_row(filter_case, column):
    metrics = filter_case[4].copy()
    metrics.loc[0, column] += 1
    assert _run_filter_check(filter_case, metrics=metrics)


def test_filter_check_fails_on_wrong_rule_hits(filter_case):
    metrics = filter_case[4].copy()
    metrics.at[0, "rule_hits"] = {k: v + 5 for k, v in
                                  metrics.at[0, "rule_hits"].items()}
    assert _run_filter_check(filter_case, metrics=metrics)


def test_filter_check_fails_on_wrong_summary(filter_case):
    summary = dict(filter_case[5], docs_in=filter_case[5]["docs_in"] - 1)
    assert _run_filter_check(filter_case, summary=summary)


# -- dedup -------------------------------------------------------------------------

SMALL = dict(template_docs=12, words=(12, 30), template_words=20)


@pytest.fixture(scope="module")
def dedup_case():
    pages, truth = corpus.dedup_pages(5, 40, **SMALL)
    expected = checks.expected_dedup_output(pages[["url", "text"]])
    return pages, truth, expected


def test_dedup_check_passes_on_correct_output(dedup_case):
    pages, truth, expected = dedup_case
    assert checks.check_dedup(pages, truth, expected, expected) == []


def _removed_doc(pages, expected):
    return pages[~pages["url"].isin(expected["url"])].iloc[[0]]


@pytest.mark.parametrize("corrupt", [
    lambda o, p: o.drop(o.index[0]),
    lambda o, p: pd.concat([o, o.iloc[[0]]], ignore_index=True),
    lambda o, p: o.assign(text=[t + " x" if i == 0 else t
                                for i, t in enumerate(o["text"])]),
    lambda o, p: pd.concat([o, _removed_doc(p, o)[["url", "text"]]],
                           ignore_index=True),
    lambda o, p: o.assign(url=[u + "x" if i == 0 else u
                               for i, u in enumerate(o["url"])]),
], ids=["drop", "duplicate", "text", "add_removed", "url"])
def test_dedup_check_fails_on_one_corrupted_row(dedup_case, corrupt):
    pages, truth, expected = dedup_case
    out = corrupt(expected[["url", "text"]].reset_index(drop=True), pages)
    assert checks.check_dedup(pages, truth, expected, out)


def test_dedup_check_flags_a_removed_lone_doc(dedup_case):
    pages, truth, expected = dedup_case
    lone = set(truth.loc[truth["group"] == "", "url"])
    out = expected[expected["url"] != sorted(lone)[0]]
    fails = checks.check_dedup(pages, truth, out, out)
    assert any("outside every injected cluster" in f for f in fails)


@pytest.mark.parametrize("cap", [8, 1000])
def test_staged_twin_equals_library_twin(cap):
    """The staged DuckDB chain equals dedup.duckdb_neardup_groups_sql, with
    the template cluster above (cap 8) and below (cap 1000) the cap."""
    import duckdb

    from data_quality_autohealer_spark.operators import dedup

    pages, _ = corpus.dedup_pages(3, 30, **SMALL)
    docs = checks.exact_dedup_oracle(pages)[["url", "text"]]
    con = duckdb.connect()
    con.register("documents", docs)
    lib = con.execute(dedup.duckdb_neardup_groups_sql(
        "documents", "text", "url", max_bucket_size=cap)).fetchall()
    con.close()
    assert checks.neardup_oracle(docs, max_bucket_size=cap) == {
        u: rep for u, rep, _ in lib}


def test_bucket_cap_changes_the_template_cluster():
    pages, truth = corpus.dedup_pages(3, 30, **SMALL)
    docs = checks.exact_dedup_oracle(pages)[["url", "text"]]
    template = set(truth.loc[truth["group"] == "t", "url"])
    capped = checks.neardup_oracle(docs, max_bucket_size=8)
    free = checks.neardup_oracle(docs, max_bucket_size=1000)
    assert len(template & set(capped)) < len(template & set(free))


def test_generators_are_seeded():
    a, ta = corpus.dedup_pages(11, 50, **SMALL)
    b, tb = corpus.dedup_pages(11, 50, **SMALL)
    c, _ = corpus.dedup_pages(12, 50, **SMALL)
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(ta, tb)
    assert not a["text"].equals(c["text"])
    assert (ta["group"] == "t").sum() == SMALL["template_docs"]
    w, _ = corpus.dedup_pages(11, 50, tag="w", **SMALL)
    assert not set(w["text"]) & set(a["text"])
    f1, f2 = corpus.filter_pages(4, 50), corpus.filter_pages(4, 50)
    pd.testing.assert_frame_equal(f1, f2)
    assert not f1["url"].isin(corpus.filter_pages(5, 50)["url"]).any()


@pytest.mark.parametrize("text,seconds", [
    ("total (min, med, max (stageId: taskId))\n11.8 s (2.9 s, 3.0 s, "
     "3.0 s (stage 0.0: task 1))", 11.8),
    ("total (min, med, max (stageId: taskId))\n941 ms (200 ms, 230 ms, "
     "260 ms (stage 3.0: task 9))", 0.941),
    ("total (min, med, max (stageId: taskId))\n1.5 m (20.0 s, 22.5 s, "
     "25.0 s (stage 1.0: task 2))", 90.0),
])
def test_parse_spark_timing_metric(text, seconds):
    import ledger

    assert ledger.parse_duration_s(text) == pytest.approx(seconds)


def test_job_counters_refuse_a_partial_python_run_sum():
    import ledger

    tr = ledger.Tracer.__new__(ledger.Tracer)
    span = dict(s=1.0, in_job=True, jobs=1, tasks=4, shuffle_write_mb=0.0,
                spill_mb=0.0)
    tr.spans = [dict(span, name="a", python_run_s=1.5),
                dict(span, name="b", python_run_s=None)]
    tr.dropped = ["b: python_run_s 9.00 > 4 cores x wall 1.00"]
    with pytest.raises(RuntimeError, match="cores x wall"):
        tr.job_counters()
    tr.spans = tr.spans[:1]
    assert tr.job_counters()["spark.python_run_s"] == 1.5
