"""Crawl-output analytics vs oracle-derived expectations (A1/A3-A6)."""

from __future__ import annotations

from collections import Counter

import pytest

from ai4orgwebscraper_spark.frontier.engine import CrawlEngine
from ai4orgwebscraper_spark.functions.urls import canonicalize_py, host_py, resolve_outlink_py
from ai4orgwebscraper_spark.operators import crawl_analytics as CA
from ai4orgwebscraper_spark.operators.text import STOPWORDS
from ai4orgwebscraper_spark.frontier.oracle import reference_crawl
from ai4orgwebscraper_spark.sources.corpus import page_for, seed_urls


@pytest.fixture(scope="module")
def crawl(spark):
    seeds = seed_urls(80)
    engine = CrawlEngine(spark, reference_mode=True)
    out = engine.run(engine.seeds_from_list(seeds))
    oracle = reference_crawl(seeds)
    return out, oracle


def test_word_topk_matches_oracle_counter(crawl):
    out, oracle = crawl
    import re

    counter = Counter()
    for spans in oracle.spans.values():
        text = "\n".join(t for (k, t, _m, _o) in spans if k == "text")
        for w in re.split(r"[^a-z0-9]+", text.lower()):
            if len(w) > 2 and w and w not in STOPWORDS:
                counter[w] += 1
    want = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = [(r["word"], r["n"]) for r in CA.word_topk(out.documents).collect()]
    assert got == want


def test_media_alt_coverage(crawl):
    out, oracle = crawl
    media = [s for spans in oracle.spans.values() for s in spans if s[0] == "media_ref"]
    row = CA.media_alt_coverage(out.documents).collect()[0]
    assert row["n_media"] == len(media)
    assert row["with_alt"] == sum(1 for s in media if (s[1] or "").strip())
    assert row["with_alt"] + row["without_alt"] == row["n_media"]


def _oracle_outlinks(oracle):
    out = []
    seen_hashes = set()
    for rec in oracle.fetch_log:
        if rec["status"] != 200 or rec["url_hash"] in seen_hashes:
            continue
        seen_hashes.add(rec["url_hash"])
        page = page_for(rec["url"])
        for href in page.outlinks:
            out.append((rec["url_hash"], rec["host"], href))
    return out


def test_link_domains_and_split(spark, crawl):
    out, oracle = crawl
    triples = _oracle_outlinks(oracle)
    outlinks = spark.createDataFrame(
        [(uh, href) for (uh, _h, href) in triples], "url_hash string, href string"
    )
    # expected domain counts from the oracle side
    domains = Counter(
        host_py(canonicalize_py(resolve_outlink_py(h, href))) for (_uh, h, href) in triples
    )
    want_top = sorted(domains.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got_top = [(r["domain"], r["n"]) for r in CA.link_domain_topk(out.fetch_log, outlinks).collect()]
    assert got_top == want_top

    split = {
        r["host"]: (r["internal"], r["external"])
        for r in CA.internal_external_split(out.fetch_log, outlinks).collect()
    }
    for host, (internal, external) in split.items():
        w_int = sum(
            1 for (_uh, h, href) in triples
            if h == host and host_py(canonicalize_py(resolve_outlink_py(h, href))) == host
        )
        assert internal == w_int
        assert internal + external == sum(1 for (_uh, h, _href) in triples if h == host)


def test_link_analytics_take_engine_outlinks_as_returned(crawl):
    """CrawlOutputs.outlinks carries its own host column; both link
    analytics must accept it unprojected and agree with the
    (url_hash, href) projection."""
    out, _oracle = crawl
    slim = out.outlinks.select("url_hash", "href")
    for fn in (CA.link_domain_topk, CA.internal_external_split):
        assert fn(out.fetch_log, out.outlinks).collect() == fn(out.fetch_log, slim).collect()


def test_engine_outlinks_table_matches_oracle(crawl):
    """CrawlOutputs.outlinks (the engine's own link-graph table, new in
    r03 so the A3/A4 analytics are driver-visible) must equal the
    oracle-derived (url_hash, host, href) triples exactly."""
    out, oracle = crawl
    got = sorted(
        (r["url_hash"], r["host"], r["href"]) for r in out.outlinks.collect()
    )
    want = sorted(_oracle_outlinks(oracle))
    assert got == want


def test_status_breakdown(crawl):
    out, oracle = crawl
    got = {(r["host"], r["status"]): (r["n"], r["n_errors"]) for r in CA.status_breakdown(out.fetch_log).collect()}
    want = Counter((r["host"], r["status"]) for r in oracle.fetch_log)
    assert {k: v[0] for k, v in got.items()} == dict(want)
    for (host, status), (n, n_err) in got.items():
        assert n_err == (n if status != 200 else 0)


def test_spans_dedup_matches_twin_and_preserves_interleave(crawl):
    """spans_dedup == spans_dedup_py over the normative oracle's spans
    (exact per-doc sequences), drops at least one cross-doc duplicate
    on the phrase-pool corpus, keeps every media_ref, and re-offsets
    densely."""
    out, oracle = crawl
    want = CA.spans_dedup_py(oracle.spans)
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in CA.spans_dedup(out.documents).collect()
    }
    assert got == want
    n_before = sum(len(v) for v in oracle.spans.values())
    n_after = sum(len(v) for v in want.values())
    assert n_after < n_before  # the phrase pool guarantees cross-doc dups
    media_before = sum(
        1 for v in oracle.spans.values() for s in v if s[0] == "media_ref"
    )
    media_after = sum(1 for v in want.values() for s in v if s[0] == "media_ref")
    assert media_after == media_before  # media spans never dropped
    for v in got.values():
        assert [s[3] for s in v] == list(range(len(v)))  # dense offsets
    # every surviving text appears exactly once corpus-wide
    texts = [s[1] for v in got.values() for s in v if s[0] == "text"]
    assert len(texts) == len(set(texts))
