"""Analytics over the crawl engine's own outputs (SURVEY.md §7.1 step 8
— the reference's page-analytics panel, app.py:436-573, re-expressed
over the documents/fetch-log tables instead of one in-memory page).

All plain DataFrame aggregations over the interleaved spans payload:
word-frequency top-k (A1, app.py:125-155), media/alt coverage (A5,
app.py:556-557), link-domain top-10 (A3, app.py:195-207),
internal/external split (A4, app.py:503-527), status breakdown (A6 +
error-row accounting, web_scraper.py:51-54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.functions import urls as U
from ai4orgwebscraper_spark.operators.text import STOPWORDS


def text_of_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, text): text spans joined in document order — the
    reference's paragraph join (web_scraper.py:39-41)."""
    by_offset = F.transform(
        F.array_sort(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
                lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t")),
            )
        ),
        lambda x: x["t"],
    )
    return documents.select("doc_id", F.array_join(by_offset, "\n").alias("text"))


def word_topk(documents: DataFrame, k: int = 30) -> DataFrame:
    """A1: tokenize -> stopword/length filter -> top-k (Counter
    .most_common(30) as a distributed hash agg, app.py:148-149)."""
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != "")
    return (
        text_of_spans(documents)
        .select(F.explode(toks).alias("word"))
        .filter((F.length("word") > 2) & ~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(k)
    )


def media_alt_coverage(documents: DataFrame) -> DataFrame:
    """A5: images with vs without alt text (app.py:556-557), over the
    media_ref spans."""
    media = documents.select(
        F.explode(F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media_ref"))).alias("m")
    )
    has_alt = F.trim(F.coalesce(F.col("m.text"), F.lit(""))) != ""
    return media.agg(
        F.count("*").alias("n_media"),
        F.count(F.when(has_alt, 1)).alias("with_alt"),
        F.count(F.when(~has_alt, 1)).alias("without_alt"),
    )


def link_domain_topk(fetch_log: DataFrame, outlinks: DataFrame, k: int = 10) -> DataFrame:
    """A3: top-k target domains over resolved outlinks
    (app.py:195-207). ``outlinks`` = (url_hash, href, ...) rows —
    CrawlOutputs.outlinks as returned; its own host column is ignored
    in favour of the fetch_log's."""
    # dedup the log side: refetched duplicate URLs (reference semantics,
    # SURVEY.md C4) must not multiply outlink rows through the join
    pages = fetch_log.select("url_hash", "host").dropDuplicates(["url_hash"])
    resolved = outlinks.select("url_hash", "href").join(pages, "url_hash").select(
        U.host_col(
            U.canonicalize_col(U.resolve_outlink_col(F.col("host"), F.col("href")))
        ).alias("domain")
    )
    return (
        resolved.filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "domain")
        .limit(k)
    )


def internal_external_split(fetch_log: DataFrame, outlinks: DataFrame) -> DataFrame:
    """A4: per source host, internal vs external outlink tally
    (app.py:503-527) — conditional aggregation. ``outlinks`` as in
    link_domain_topk."""
    pages = fetch_log.select("url_hash", "host").dropDuplicates(["url_hash"])
    resolved = outlinks.select("url_hash", "href").join(pages, "url_hash").select(
        "host",
        U.host_col(
            U.canonicalize_col(U.resolve_outlink_col(F.col("host"), F.col("href")))
        ).alias("domain"),
    )
    return (
        resolved.groupBy("host")
        .agg(
            F.count(F.when(F.col("domain") == F.col("host"), 1)).alias("internal"),
            F.count(F.when(F.col("domain") != F.col("host"), 1)).alias("external"),
        )
        .orderBy("host")
    )


def status_breakdown(fetch_log: DataFrame) -> DataFrame:
    """A6 + error-row accounting: fetch outcomes by host and status."""
    return (
        fetch_log.groupBy("host", "status")
        .agg(F.count("*").alias("n"), F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_errors"))
        .orderBy("host", "status")
    )


def spans_dedup(documents: DataFrame) -> DataFrame:
    """Interleave-preserving cross-document span dedup over the
    flagship payload (doc_id, spans array<struct<kind,text,media_ref,
    offset>>): every TEXT span keeps only its globally-first
    occurrence — min (doc_id, offset) per exact text, the boilerplate
    rule of q_dedup_segments lifted to span granularity — while
    media_ref spans are never dropped (they have no cross-page
    boilerplate semantics; their identity is the asset, not the alt
    text). Survivors are re-offset densely (0..n-1) in original
    document order, so the output is again a valid interleaved
    sequence. Pure-Python twin: spans_dedup_py (tested against the
    normative crawl oracle's spans in tests/test_crawl_analytics.py).

    Scale shape (same family as q_dedup_segments, dedup.py:573-583):
    one corpus-scale explode, one groupBy span_hash (map-side combined
    min) for the keeper table, one shuffle join back on span_hash —
    groupBy+join rather than a row_number window because a boilerplate
    span duplicated 10^6 times is a HOT key and AQE skew-join can
    split the join's straggler partition while a window's hot
    partition cannot be split — then one groupBy doc_id bounded by
    document size to reassemble. Keys are md5(text) in BOTH engines,
    so even a hash collision (merging two distinct texts' groups)
    cannot diverge the twin."""
    ex = documents.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    keepers = (
        ex.filter(F.col("kind") == "text")
        .groupBy(F.md5(F.coalesce("text", F.lit(""))).alias("span_hash"))
        .agg(F.min(F.struct("doc_id", "offset")).alias("keep"))
    )
    kept = (
        ex.withColumn(
            "span_hash",
            F.when(F.col("kind") == "text", F.md5(F.coalesce("text", F.lit("")))),
        )
        .join(keepers, "span_hash", "left")
        .filter(
            (F.col("kind") != "text")
            | (
                (F.col("keep.doc_id") == F.col("doc_id"))
                & (F.col("keep.offset") == F.col("offset"))
            )
        )
        .drop("span_hash", "keep")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("ss")
        )
        .select(
            "doc_id",
            F.transform(
                F.col("ss"),
                lambda x, i: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def spans_dedup_py(spans_by_doc: dict[str, list[tuple]]) -> dict[str, list[tuple]]:
    """Normative twin of spans_dedup over the oracle's spans dict
    {doc_id: [(kind, text, media_ref, offset), ...]}. Iterating docs
    in sorted doc_id order and spans in offset order IS the
    min-(doc_id, offset) keeper rule. Docs whose every span is dropped
    disappear (the engine's groupBy reassembly emits no row)."""
    import hashlib

    seen: set[str] = set()
    out: dict[str, list[tuple]] = {}
    for doc_id in sorted(spans_by_doc):
        cleaned: list[tuple] = []
        for kind, text, media_ref, _off in sorted(
            spans_by_doc[doc_id], key=lambda s: s[3]
        ):
            if kind == "text":
                h = hashlib.md5((text or "").encode()).hexdigest()
                if h in seen:
                    continue
                seen.add(h)
            cleaned.append((kind, text, media_ref, len(cleaned)))
        if cleaned:
            out[doc_id] = cleaned
    return out
