"""Canonicalization parity + property tests (SURVEY.md §5.2)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.functions import urls as U

CASES = [
    "http://example.com/a",
    "https://example.com/a",
    "example.com/a",
    "  http://pad.example.com/x  ",
    "   ",
    "",
    "HOST.example.com/UPPER/path",
    "https://host0.example.com/p/abc?q=1#frag",
    # whitespace variants beyond ' ' (ADVICE r01: trim vs strip parity)
    "\thttp://tabbed.example.com/x",
    "\r\nhttps://crlf.example.com/y\t ",
    # percent-encoding (SURVEY P3/F10, reference MakeURLs.py quote())
    "https://wiki.example.com/wiki/Café",
    "https://wiki.example.com/wiki/Les_Misérables",
    "wiki.example.com/中文/标题",
    "https://wiki.example.com/space in path",
    "https://wiki.example.com/emoji/\U0001F600",  # astral plane
    "https://wiki.example.com/already%20encoded",  # idempotence
    "http://ported.example.com:8080/p",
]


def test_spark_matches_python_twin(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "url string")
    got = [
        r["canon"]
        for r in df.select(U.canonicalize_col(F.col("url")).alias("canon")).collect()
    ]
    want = [U.canonicalize_py(c) for c in CASES]
    assert got == want


def test_hash_and_host_match_python_twin(spark):
    urls = [U.canonicalize_py(c) for c in CASES if U.canonicalize_py(c)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        U.url_hash_col(F.col("url")).alias("h"), U.host_col(F.col("url")).alias("host")
    ).collect()
    assert [r["h"] for r in rows] == [U.url_hash_py(u) for u in urls]
    assert [r["host"] for r in rows] == [U.host_py(u) for u in urls]

    # the frontier intake helper over RAW input: it keeps a row exactly
    # when the twins give a canonical URL with a host; %-encoded
    # authorities (escaped or unicode hosts) have none
    raw = CASES + ["https://h%41.com/x", "bücher.example.com/x"]
    df = spark.createDataFrame(list(enumerate(raw)), "rank long, url string")
    got = [
        tuple(r)
        for r in U.intake_urls(df, F.col("url"), "rank").orderBy("rank").collect()
    ]
    want = [
        (U.url_hash_py(c), c, U.host_py(c), i)
        for i, c in enumerate(map(U.canonicalize_py, raw))
        if c and U.host_py(c)
    ]
    assert got == want
    assert len(raw) - len(want) == 4  # two blanks, two hostless authorities


@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=60))
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(raw):
    once = U.canonicalize_py(raw)
    if once is not None:
        assert U.canonicalize_py(once) == once
        assert once.startswith("https://")


@given(st.text(max_size=40))  # full unicode, incl. astral plane
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent_unicode(raw):
    once = U.canonicalize_py(raw)
    if once is not None:
        assert U.canonicalize_py(once) == once
        assert once.isascii()  # percent-encoding leaves pure ASCII
        assert " " not in once


def test_resolve_outlink():
    assert U.resolve_outlink_py("h.com", "/p/x") == "https://h.com/p/x"
    assert U.resolve_outlink_py("h.com", "p/x") == "https://h.com/p/x"
    assert U.resolve_outlink_py("h.com", "http://o.com/y") == "https://o.com/y"
    assert U.resolve_outlink_py("h.com", "https://o.com/y") == "https://o.com/y"


def test_resolve_outlink_spark_matches(spark):
    pairs = [("h.com", "/p/x"), ("h.com", "p/x"), ("h.com", "http://o.com/y")]
    df = spark.createDataFrame(pairs, "host string, href string")
    got = [
        r["u"]
        for r in df.select(
            U.resolve_outlink_col(F.col("host"), F.col("href")).alias("u")
        ).collect()
    ]
    assert got == [U.resolve_outlink_py(h, x) for h, x in pairs]


def test_host_parity_fuzz_including_malformed(spark):
    """r03 fuzz regression: host_col (try_parse_url, java.net.URI
    semantics) and host_py must agree on EVERY canonical URL —
    including malformed ones (stray %, URI-excluded chars, symbol
    hosts, bad ports, double '#', trailing-dot hosts). Before this,
    parse_url THREW on malformed URLs (one bad outlink would kill a
    fetch stage) and the twin accepted 416/6000 URLs the JVM rejects."""
    import random
    import string

    random.seed(42)
    chars = (
        string.ascii_letters + string.digits
        + ' .:/?#[]@!$&()*+,;=%-_~' + '"<>^\\`{|}' + "üñßé漢字"
    )
    urls = []
    for _ in range(2000):
        n = random.randint(1, 40)
        s = "".join(random.choice(chars) for _ in range(n))
        prefix = random.choice(
            ["http://", "https://", "", "  http://", "HTTP://", "www.", "https://h_x.com/"]
        )
        urls.append(prefix + s)
    urls += [  # probed JVM edge cases, pinned
        "https://4.", "https://6ne.", "https://www.6R.", "https://1.2.3.4.",
        "https://a#b#c", "https://a?x#y#z", "https://www.", "https://a.com.",
        "https://1.2.3.4/x", "https://12.34", "https://a.6r", "https://6r.a",
        "https://256.1.1.1", "https://a:x9", "https://u@v@a.com",
        "https://a.com?x[y]", "https://a.com/p[q]", "https://a_b.com/x",
        "https://-a.com/x", "https://h.com/p%p", "https://h%41.com/x",
    ]
    urls += [  # IPv6 server authorities (ADVICE r04 carve-out), pinned
        "https://[::1]/a", "https://[::1]:8080/a", "https://[2001:db8::1]/x",
        "https://[abc]/x", "https://[1.2.3.4]/x", "https://[v1.future]/x",
        "https://[fe80::1%25eth0]/x", "https://[fe80::1%eth0]/x",
        "https://u@[::1]/x", "https://[::1", "https://a[b.com/x",
        "https://[::ffff:1.2.3.4]/x", "https://[0:0:0:0:0:0:0:1]/x",
        "https://[]/x", "https://[:::1]/x", "https://[1::2::3]/x",
        "https://[12345::1]/x", "https://[::1]x/x", "https://[::1]:abc/x",
        "https://[::FFFF]/x", "https://[1:2:3:4:5:6:7:8]/x",
        "https://[1:2:3:4:5:6:7]/x", "https://[1:2:3:4:5:6:7:8:9]/x",
        "https://[::ffff:300.1.2.3]/x", "https://[2001:db8::1]:0/x",
        "https://[2001:db8::1]:/x", "https://u:p@[2001:db8::1]:443/x",
        "https://[::0001]/x", "https://[::]/x", "https://[1.2.3.4::]/x",
        "https://[::1.2.3.4]/x", "https://[1:2:3:4:5:6:1.2.3.4]/x",
        "https://x[::1]/x", "https://[::1]@a.com/x", "https://[[::1]]/x",
        "https://[fe80::1%]/x", "https://[fe80::1%%]/x",
        "https://[fe80::1%e-th0]/x", "https://[fe80::1%e.0]/x",
        "https://[fe80::1%e_0]/x", "https://[%eth0]/x",
        "https://[::1%eth0:80]/x", 'https://[fe80::1%e"h]/x',
        "https://[fe80::1%e|h]/x", "https://[fe80::1%eth0%]/x",
        "https://u\"x@[::1]/p", "https://[::1]/p%p", "https://[::1]/a#b#c",
    ]
    # random bracket-authority fuzz: IPv6-ish alphabet inside brackets
    v6chars = "0123456789abcdefABCDEF:.%_"
    for _ in range(600):
        n = random.randint(1, 24)
        inner = "".join(random.choice(v6chars) for _ in range(n))
        port = random.choice(["", ":80", ":", ":x", "x"])
        urls.append(f"https://[{inner}]{port}/p")
    canons = [
        r["canon"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select(U.canonicalize_col(F.col("url")).alias("canon"))
        .collect()
        if r["canon"]
    ]
    rows = (
        spark.createDataFrame([(c,) for c in canons], "url string")
        .select("url", U.host_col(F.col("url")).alias("h"))
        .collect()
    )
    bad = [
        (r["url"], r["h"], U.host_py(r["url"]))
        for r in rows
        if (U.host_py(r["url"]) or None) != (r["h"] or None)
    ]
    assert not bad, bad[:10]


def test_trap_guard_parity_fuzz(spark):
    """is_trap_col == is_trap_py over deep/looping/benign paths,
    including the exact boundary cases (16 segments kept, 17 dropped;
    3 repeats kept, 4 dropped)."""
    from pyspark.sql import functions as F

    from ai4orgwebscraper_spark.functions.urls import is_trap_col, is_trap_py

    paths = [
        "",
        "/",
        "/a",
        "/a/b/c",
        "/" + "/".join(f"d{i}" for i in range(16)),  # boundary: kept
        "/" + "/".join(f"d{i}" for i in range(17)),  # too deep
        "/a/b/a/c/a",  # 3x 'a': kept
        "/a/b/a/c/a/a",  # 4x 'a': loop
        "/x//y///x",  # empty segments ignored
        "/cal/2024/01/cal/2024/02/cal/2024/03/cal",  # 4x 'cal'
        "/p/abc123",
        "/wiki/A/wiki/B/wiki/C/wiki/D",  # 4x 'wiki'
    ]
    # deterministic pseudo-random paths (no RNG — seeded arithmetic)
    segs = ["a", "b", "c", "dir", "page", "x1"]
    for seed in range(60):
        n = (seed * 7) % 22
        paths.append("/" + "/".join(segs[(seed * 13 + i * 5) % len(segs)] for i in range(n)))
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = {
        r["path"]: r["trap"]
        for r in df.select("path", is_trap_col(F.col("path")).alias("trap")).collect()
    }
    for p in paths:
        assert got[p] == is_trap_py(p), p
