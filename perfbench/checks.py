"""Output checks for the benchmark workloads.

Each check takes plain pandas frames collected from the warehouse after
the timed calls and returns a list of failure messages (empty = correct),
so ``test_checks.py`` can corrupt one row of a known-good output and show
that some check fails.
"""

from __future__ import annotations

import pandas as pd

# buckets whose documents are re-labelled by the pandas oracle after a
# filter run (about 1/16 of the corpus at 64 buckets)
ORACLE_BUCKETS = (0, 1, 2, 3)
# the gates of tests/test_pipeline_parity.py
MIN_KEEP_F1 = 0.99
MAX_REASON_MISMATCH = 0.01


def oracle_labels(pages: pd.DataFrame) -> pd.DataFrame:
    """``oracle/rules.py::reference_labels`` for the given pages, indexed
    by url (columns keep, reasons_csv, scrubbed_text)."""
    from oracle.rules import reference_labels

    out = reference_labels(pages[["url", "text", "lang"]].reset_index(
        drop=True))
    return out.set_index("url")[["keep", "reasons_csv", "scrubbed_text"]]


def check_filter(n_generated: int, summary: dict, clean_count: int,
                 oracle: pd.DataFrame, bucket_of: pd.Series,
                 clean: pd.DataFrame, metrics: pd.DataFrame) -> list[str]:
    """Checks one ``run_filter`` output.

    ``oracle``: :func:`oracle_labels` of the docs in ``ORACLE_BUCKETS``;
    ``bucket_of``: url -> bucket for those docs (from the pages table);
    ``clean``: the clean-table rows of those buckets (url, text,
    reasons_csv, bucket); ``metrics``: the run's metrics rows of those
    buckets (bucket, docs_in, docs_kept, rule_hits).
    """
    fails = []
    if summary["docs_in"] != n_generated:
        fails.append(f"docs_in {summary['docs_in']} != generated "
                     f"{n_generated}")
    if clean_count != summary["docs_kept"]:
        fails.append(f"clean rows {clean_count} != docs_kept "
                     f"{summary['docs_kept']}")
    if clean["url"].duplicated().any():
        fails.append("duplicate urls in the clean table")
    unknown = ~clean["url"].isin(oracle.index)
    if unknown.any():
        fails.append(f"{int(unknown.sum())} clean urls not in the input")
    m = metrics.set_index("bucket")
    gen_per_bucket = bucket_of.value_counts()
    clean_per_bucket = clean["bucket"].value_counts()
    for b in ORACLE_BUCKETS:
        if b not in m.index:
            fails.append(f"bucket {b}: no metrics row")
            continue
        if int(m.at[b, "docs_in"]) != int(gen_per_bucket.get(b, 0)):
            fails.append(f"bucket {b}: docs_in {m.at[b, 'docs_in']} != "
                         f"generated {gen_per_bucket.get(b, 0)}")
        if int(m.at[b, "docs_kept"]) != int(clean_per_bucket.get(b, 0)):
            fails.append(f"bucket {b}: docs_kept {m.at[b, 'docs_kept']} != "
                         f"clean rows {clean_per_bucket.get(b, 0)}")
    known = clean[~unknown]
    # keep/drop agreement with the oracle (F1 gate)
    spark_keep = oracle.index.isin(known["url"])
    o_keep = oracle["keep"].to_numpy(dtype=bool)
    tp = int((spark_keep & o_keep).sum())
    fp = int((spark_keep & ~o_keep).sum())
    fn = int((~spark_keep & o_keep).sum())
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    if f1 < MIN_KEEP_F1:
        fails.append(f"keep F1 {f1:.4f} < {MIN_KEEP_F1}")
    # scrubbed text is byte-identical for every written row
    want = oracle.loc[known["url"], "scrubbed_text"].to_numpy()
    bad_text = int((known["text"].to_numpy() != want).sum())
    if bad_text:
        fails.append(f"{bad_text} clean rows differ from the oracle's "
                     f"scrubbed text")
    # reason codes: a written row fired none (keep <=> no reason), and the
    # per-bucket counters of the dropped docs agree with the oracle
    fired = int((clean["reasons_csv"] != "").sum())
    if fired:
        fails.append(f"{fired} clean rows carry reason codes")
    hit_diff = 0
    for b in ORACLE_BUCKETS:
        if b not in m.index:
            continue
        urls = bucket_of.index[bucket_of == b]
        want_hits: dict[str, int] = {}
        for csv in oracle.loc[urls, "reasons_csv"]:
            for code in filter(None, csv.split(",")):
                want_hits[code] = want_hits.get(code, 0) + 1
        got = dict(m.at[b, "rule_hits"] or {})
        for code in set(want_hits) | set(got):
            hit_diff += abs(int(got.get(code) or 0) - want_hits.get(code, 0))
    frac = hit_diff / max(len(oracle), 1)
    if frac > MAX_REASON_MISMATCH:
        fails.append(f"reason-code mismatch {frac:.4f} > "
                     f"{MAX_REASON_MISMATCH}")
    return fails


def exact_dedup_oracle(pages: pd.DataFrame) -> pd.DataFrame:
    """Keep the minimal url per distinct text (pandas)."""
    return (pages.sort_values("url", kind="stable")
            .drop_duplicates("text", keep="first")
            .reset_index(drop=True))


def neardup_oracle(docs: pd.DataFrame, k: int = 8, rows_per_band: int = 2,
                   shingle_n: int = 3, jaccard_n: int = 3,
                   threshold: float = 0.5,
                   max_bucket_size: int | None = None) -> dict[str, str]:
    """DuckDB twin of ``neardup_groups``: url -> representative url for
    every doc in a near-dup cluster.

    Built from the same expression builders as
    ``dedup.duckdb_neardup_groups_sql`` (shingles, md5-prefix hashes,
    affine MinHash, md5 band keys, bucket cap, hashed-shingle Jaccard), but
    each stage is a table, so the word list is split once per document;
    the library text inlines the split into every list lambda and is
    quadratic in document length (minutes at a few hundred documents).
    ``test_checks.py`` pins the two to the same output. Components are
    resolved by a union-find here, the representative being the min url.
    """
    import duckdb

    from data_quality_autohealer_spark.operators import dedup as d

    cap = d.DEFAULT_MAX_BUCKET if max_bucket_size is None else max_bucket_size
    n_bands = k // rows_per_band
    con = duckdb.connect()
    try:
        con.register("documents", docs[["url", "text"]])
        con.execute("create temp table w as select url, "
                    f"{d._words('text', 'duck')} as _w from documents")
        con.execute(
            "create temp table hg as select url, "
            f"{d._hashed_ngrams('text', shingle_n, 'duck', words_col='_w')}"
            " as _hg, "
            f"{d._hashed_ngrams('text', jaccard_n, 'duck', words_col='_w')}"
            " as ngrams from w")
        sigs = ", ".join(d.minhash_sig_exprs("text", k, shingle_n, "duck",
                                             hashed_col="_hg"))
        con.execute(f"create temp table sig as select url, {sigs} from hg")
        bands = ", ".join(d.band_exprs(k, rows_per_band, "duck"))
        con.execute(f"create temp table banded as select url, {bands} "
                    "from sig")
        stacked = " union all ".join(
            f"select url, '{b}:' || band_{b} as bucket from banded"
            for b in range(n_bands))
        jac = ("round(len(list_intersect(a.ngrams, b.ngrams))::double"
               " / (len(a.ngrams) + len(b.ngrams)"
               " - len(list_intersect(a.ngrams, b.ngrams))), 6)")
        pairs = con.execute(f"""
            with stacked as ({stacked}),
            capped as (
                select * from (
                    select url, bucket,
                           count(*) over (partition by bucket) as bsz
                    from stacked
                ) where bsz <= {cap}
            ),
            cand as (
                select distinct a.url as id_a, b.url as id_b
                from capped a join capped b
                  on a.bucket = b.bucket and a.url < b.url
            )
            select c.id_a, c.id_b
            from cand c
            join hg a on a.url = c.id_a
            join hg b on b.url = c.id_b
            where {jac} >= {threshold}""").fetchall()
    finally:
        con.close()
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def expected_dedup_output(pages: pd.DataFrame,
                          max_bucket_size: int | None = None) -> pd.DataFrame:
    """The rows ``exact_dedup`` then ``neardup_dedup`` must keep."""
    exact = exact_dedup_oracle(pages)
    rep = neardup_oracle(exact, max_bucket_size=max_bucket_size)
    keep = [rep.get(u, u) == u for u in exact["url"]]
    return exact[keep].reset_index(drop=True)


def check_dedup(pages: pd.DataFrame, truth: pd.DataFrame,
                expected: pd.DataFrame, out: pd.DataFrame) -> list[str]:
    """Checks one dedup output (url, text) against the DuckDB twin's
    expected rows and the generator's ground truth."""
    fails = []
    if out["url"].duplicated().any():
        fails.append("duplicate urls in the dedup output")
    got, want = set(out["url"]), set(expected["url"])
    if got != want:
        fails.append(f"dedup output differs from the DuckDB twin: "
                     f"{len(got - want)} extra, {len(want - got)} missing")
    text_of = pages.set_index("url")["text"]
    known = out[out["url"].isin(text_of.index)]
    bad_text = int((known["text"].to_numpy()
                    != text_of.loc[known["url"]].to_numpy()).sum())
    if bad_text:
        fails.append(f"{bad_text} output rows differ from their input text")
    lone = set(truth.loc[truth["group"] == "", "url"])
    removed = lone - got
    if removed:
        fails.append(f"{len(removed)} docs outside every injected cluster "
                     f"were removed")
    return fails
