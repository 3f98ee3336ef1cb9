"""Equivalence pin for the canonicalize fast path.

canonicalize() dispatches plain absolute URLs through a string-slice
fast path (one gate regex and one `substring_index` instead of the
general regex pipeline). These tests prove the dispatch is invisible:
for every URL — gated or not, adversarial or random — the two-tier
canonicalize returns exactly what the general regex pipeline returns.
"""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from swspark.urlnorm import _SIMPLE_URL_RE, _canonicalize_general, canonicalize

ADVERSARIAL = [
    # plain fast-path shapes
    "https://h0.example.test/p/123",
    "http://example.com",
    "HTTPS://UPPER.Example.COM/Path/Query?x=1&y=2",
    "ftp://files.example.org/a/b/c.txt",
    "https://h.test?x=1",            # query with no path
    "https://h.test/",
    "https://x.y/p?q=define.php?term=X",
    "a://b/c",
    "scheme+x-y.z://host/p",
    # general-path shapes (ports, userinfo, fragments, dots, malformed)
    "https://example.com:443/x",
    "http://example.com:80/x",
    "http://example.com:8080/x",
    "https://user:pw@example.com/x",
    "https://user@example.com:444/x",
    "https://example.com./x",
    "https://example.com.",
    "https://example.com/x#frag",
    "https://example.com#frag",
    "https://example.com/x#a#b",
    "  https://spaced.example.com/x  ",
    "https://h.test/p#",
    "mailto:someone@example.com",
    "no-scheme-at-all",
    "://missing.scheme/x",
    "https:///empty-host",
    "https://",
    "",
    "https://h.test/x\n",
    "https://h.test\n",
    "https://h:1:2@weird/x",
    "http://[::1]:8080/x",
    "http://[::1]/x",
    "1http://digit.scheme/x",
    "https://h.test/a b c",
    "https://h.test/%20%3f?#f",
    "https://h.test:0/x",
    "https://h.test:/x",
    "https://h.test:x/x",
    "HTTP://EX.COM:80/x",
    "hTtPs://Ex.Com:443/x",
    # untrimmed input (trim strips spaces only)
    " https://lead.example.com/x",
    "https://trail.example.com/x ",
    "https://trail.example.com ",
    "https://trail.example.com. ",
    "\thttps://tab.example.com/x",
    # line terminators: `$` in the general regexes also matches before
    # a final one, so a host ending "." + terminator loses its dot there
    "https://h.test/x\ny",
    "https://h.test\n/x",
    "https://h.\n",
    "https://h.\r",
    "https://h.\r\n",
    "https://h.\r/x",
    "https://h.test\r\n",
    "https://h.\u2028",
    "https://h.\u2029/x",
    "https://h.\u0085",
    "https://h.test/x\r\n",
    # ports, userinfo, IPv6, trailing dots, query with no path
    "https://h.test:8443",
    "HTTPS://U:P@H.TEST:443?q=1",
    "http://[2001:DB8::1]:80/x?y",
    "http://[2001:db8::1]",
    "https://h.test.?q",
    "https://h.test..",
    "https://h.test?",
    "https://h.test/?",
    "https://h.test??x=1/y",
    # non-ASCII hosts; lowercasing "İ" changes the character count
    "https://İX.test/p",
    "https://İX.test",
    "https://XİX.TEST/ÇA?İ=1",
    "https://ΣΑΣ.test/Σ",
    "https://straße.de/straße",
    "https://ǅ.test/x",
]


def _random_urls(n: int, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + ":/?#@.%&=+-_~ \n\rİΣ"
    out = []
    for _ in range(n):
        if rng.random() < 0.5:
            # url-shaped
            scheme = rng.choice(["http", "https", "ftp", "HTTP", "a+b-c."])
            host = "".join(
                rng.choice(string.ascii_letters + string.digits + ".-@:\rİ")
                for _ in range(rng.randint(0, 12))
            )
            path = "".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 16))
            )
            out.append(f"{scheme}://{host}/{path}" if rng.random() < 0.7
                       else f"{scheme}://{host}{path}")
        else:
            out.append("".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 24))
            ))
    return out


def _assert_equivalent(spark, urls: list[str]) -> None:
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = df.select(
        "url",
        canonicalize(F.col("url")).alias("two_tier"),
        _canonicalize_general(F.trim(F.col("url"))).alias("reference"),
    ).collect()
    diffs = [
        (r.url, r.two_tier, r.reference)
        for r in got
        if r.two_tier != r.reference
    ]
    assert not diffs, f"fast path diverges on {len(diffs)} urls: {diffs[:5]}"


def test_canonicalize_fastpath_adversarial(spark):
    _assert_equivalent(spark, ADVERSARIAL)


def test_canonicalize_fastpath_random_fuzz(spark):
    _assert_equivalent(spark, _random_urls(3000))


def test_fastpath_admits_plain_urls(spark):
    """The gate admits what it is for; a gate that rejects every row
    would pass the equivalence tests vacuously."""
    gated = ["https://h0.example.test/p/123", "http://example.com",
             "https://İX.test/p", "https://h.test/x\ny"]
    ungated = ["https://h.\r", "https://h.test:80/x", "https://h.test/#f",
               "https://u@h.test/", "https://h.test.", "https://h.test\n",
               "https://h.test?x=1"]
    df = spark.createDataFrame([(x,) for x in gated + ungated], ["url"])
    got = {r.url: r.g for r in
           df.select("url", F.col("url").rlike(_SIMPLE_URL_RE).alias("g")).collect()}
    assert [got[x] for x in gated] == [True] * len(gated)
    assert [got[x] for x in ungated] == [False] * len(ungated)
