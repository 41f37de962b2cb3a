"""Output checks against the repository's pure-Python oracles.

Each check returns a list of problems; an empty list means the outputs
are correct. The benchmark counts an operation with problems as failed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.frontier import oracle
from ai4orgwebscraper_spark.functions.urls import canonicalize_py, host_py

# fetch_log fields the oracles produce for every fetched row
REF_FIELDS = (
    "seq", "round", "url_hash", "url", "host", "status", "error", "title",
    "fetched_at_ms", "attempts", "fetcher",
)
BFS_FIELDS = REF_FIELDS + ("depth",)


def _spans(rows) -> dict[str, list[tuple]]:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def _diff_logs(got: list, want: list[dict], fields: tuple) -> list[str]:
    if len(got) != len(want):
        return [f"fetch_log has {len(got)} rows, oracle {len(want)}"]
    for g, w in zip(got, want):
        for f in fields:
            if g[f] != w[f]:
                return [f"fetch_log seq {w['seq']} field {f}: {g[f]!r} != oracle {w[f]!r}"]
    return []


def check_reference(
    fetch_log: DataFrame, documents: DataFrame, raw: list[str], prefix: int, span_docs: int
) -> list[str]:
    """seq is exactly 0..n-1 over the valid seeds, and the rows of the
    first ``prefix`` raw seeds equal ``oracle.reference_crawl``; the
    spans of the first ``span_docs`` of those documents match too."""
    n_valid = sum(1 for c in map(canonicalize_py, raw) if c and host_py(c))
    agg = fetch_log.agg(
        F.count("*").alias("n"),
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
        F.countDistinct("seq").alias("distinct"),
    ).collect()[0]
    if (agg["n"], agg["lo"], agg["hi"], agg["distinct"]) != (n_valid, 0, n_valid - 1, n_valid):
        return [f"seq is not 0..{n_valid - 1}: {agg.asDict()}"]
    want = oracle.reference_crawl(raw[:prefix])
    k = len(want.fetch_log)
    got = fetch_log.filter(F.col("seq") < k).orderBy("seq").collect()
    problems = _diff_logs(got, want.fetch_log, REF_FIELDS)
    keys = list(want.spans)[:span_docs]
    docs = documents.join(
        documents.sparkSession.createDataFrame([(x,) for x in keys], "doc_id string"), "doc_id"
    ).collect()
    if _spans(docs) != {x: want.spans[x] for x in keys}:
        problems.append("document spans differ from the oracle")
    return problems


def check_bfs(
    fetch_log: DataFrame, seen: DataFrame, documents: DataFrame, raw: list[str], **crawl_kwargs
) -> list[str]:
    """Fetch order, seen set with multiplicities and document spans
    equal ``oracle.bfs_crawl`` under the same hosts and limits."""
    want = oracle.bfs_crawl(raw, **crawl_kwargs)
    problems = _diff_logs(fetch_log.orderBy("seq").collect(), want.fetch_log, BFS_FIELDS)
    got_seen = {r["url"]: r["multiplicity"] for r in seen.collect()}
    if got_seen != want.seen:
        problems.append(f"seen set differs: {len(got_seen)} urls vs oracle {len(want.seen)}")
    if _spans(documents.collect()) != want.spans:
        problems.append("document spans differ from the oracle")
    return problems


def check_stream(fetched_urls: set[str], raw_waves: list[list[str]], **crawl_kwargs) -> list[str]:
    """The stream's cumulative fetched set equals one batch BFS over
    the concatenated waves (the documented equivalence under ample
    budgets)."""
    want = {r["url"] for r in oracle.bfs_crawl(sum(raw_waves, []), **crawl_kwargs).fetch_log}
    if fetched_urls != want:
        return [f"stream fetched {len(fetched_urls)} urls, batch BFS {len(want)}"]
    return []


def check_status_breakdown(breakdown: list, fetch_log: DataFrame) -> list[str]:
    """status_breakdown's (host, status) counts add up to the checked
    fetch log's."""
    want = {
        (r["host"], r["status"]): r["count"]
        for r in fetch_log.groupBy("host", "status").count().collect()
    }
    got = {(r["host"], r["status"]): r["n"] for r in breakdown}
    return [] if got == want else ["status_breakdown disagrees with the fetch log"]
