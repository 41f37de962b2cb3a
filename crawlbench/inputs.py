"""Seeded benchmark inputs, built as Spark column expressions.

Every seed list is a pure function of (``--seed``, op index, size): row
``id`` of ``spark.range(n)`` is turned into a messy raw URL with hash
math only, so the engine's input is built without a driver-side list
(the checks collect what the oracles need). The mix follows the
repository's synthetic corpus:

- ~40% of rows on the hot host ``host0.example.com`` (the other 60%
  spread over host0..host19, as ``corpus.host_for_index`` does);
- http://, https://, schemeless and whitespace-padded forms;
- every 13th slug a unicode article title (percent-encoding path);
- every 17th row a duplicate of the row before it;
- every 29th row blank (whitespace only), which canonicalization drops;
- every 11th hot-host row under ``/private/`` (the hot host's robots
  ``Disallow``);
- host7 / host13 are the auth hosts of ``default_hosts()`` (host13 has
  no session token, so the BFS workload fetches it as 401 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.sources.corpus import (
    _UNICODE_TITLES,
    N_HOSTS,
    SKEW_HOST,
    default_hosts,
)


def seed_frame(spark: SparkSession, tag: str, n: int) -> DataFrame:
    """(seed_rank, url) rows in seed_rank order; ``tag`` carries the
    run seed and op index, so equal tags give equal lists."""
    idx = F.col("id")
    # every 17th row repeats the previous row's raw URL
    src = F.when((idx > 0) & (idx % 17 == 0), idx - 1).otherwise(idx)

    def h(salt: str):
        return F.xxhash64(F.lit(f"{tag}|{salt}"), src)

    pick = F.pmod(h("host"), F.lit(100))
    host = F.when(pick < 40, F.lit(SKEW_HOST)).otherwise(
        F.concat(F.lit("host"), F.pmod(pick, F.lit(N_HOSTS)).cast("string"), F.lit(".example.com"))
    )
    titles = F.array(*[F.lit(t) for t in _UNICODE_TITLES])
    slug = F.when(
        src % 13 == 5,
        F.element_at(titles, (F.pmod(h("uslug"), F.lit(len(_UNICODE_TITLES))) + 1).cast("int")),
    ).otherwise(F.substring(F.md5(F.concat(F.lit(f"{tag}|slug|"), src.cast("string"))), 1, 10))
    section = F.when((host == F.lit(SKEW_HOST)) & (src % 11 == 3), F.lit("/private/")).otherwise(
        F.lit("/p/")
    )
    bare = F.concat(host, section, slug)
    form = F.pmod(h("form"), F.lit(4))
    url = (
        F.when(src % 29 == 7, F.lit("   "))
        .when(form == 0, F.concat(F.lit("http://"), bare))
        .when(form == 1, F.concat(F.lit("https://"), bare))
        .when(form == 2, bare)
        .otherwise(F.concat(F.lit("  https://"), bare, F.lit("  ")))
    )
    return spark.range(n).select(idx.alias("seed_rank"), url.alias("url"))


def raw_seeds(seeds: DataFrame) -> list[str]:
    """The raw URLs in seed_rank order, for the pure-Python oracles
    (seed_frame rows come out of spark.range already in that order)."""
    return [r["url"] for r in seeds.select("url").collect()]


def polite_hosts(scale: float) -> list[dict]:
    """``default_hosts()`` with every rate multiplied and the hot host's
    crawl delay divided by ``scale``: robots, crawl-delay spacing and
    host13's 401s stay; a power-of-two scale keeps the budgets exact."""
    out = []
    for h in default_hosts():
        h = dict(h, rate_limit_rps=h["rate_limit_rps"] * scale)
        if h["crawl_delay_s"]:
            h["crawl_delay_s"] = h["crawl_delay_s"] / scale
        out.append(h)
    return out


def wide_hosts() -> list[dict]:
    """Ample budgets for all 20 hosts (no deferral, no crawl delay):
    the regime in which a stream-fed BFS equals one batch BFS."""
    return [dict(h, rate_limit_rps=1e6, crawl_delay_s=None) for h in default_hosts()]
