"""URL canonicalization and host/path extraction — all built-in
column expressions (JVM codegen; no Python in the hot path).

The reference never normalizes URLs (it can fetch the same URL twice —
no seen-set exists anywhere in crates/sws-crawler/). Canonicalization
here exists purely for the engine-introduced URL-seen set and host
scheduling keys (SURVEY.md §2 Part B), so it is deliberately
conservative: lowercase scheme+host, strip fragment and default port,
ensure a non-empty path. Query strings are preserved byte-for-byte
(`define.php?term=X` identity matters — examples/urbandict.lua:7).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default public-suffix set for fixture hosts plus the common real TLDs.
# At production scale this would be the full PSL applied via a broadcast
# trie in a pandas UDF; for scheduling-key purposes a when-chain over a
# small literal set stays inside whole-stage codegen.
DEFAULT_SUFFIXES: tuple[str, ...] = (
    "example.test",
    "co.uk",
    "com.au",
    "github.io",
    "test",
    "com",
    "org",
    "net",
    "io",
    "gov",
    "edu",
)

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*):"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATHQ_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_host(url: Column) -> Column:
    """Lowercased host: authority minus userinfo and port."""
    auth = F.regexp_extract(url, _AUTH_RE, 1)
    no_user = F.regexp_replace(auth, r"^[^@]*@", "")
    no_port = F.regexp_replace(no_user, r":\d+$", "")
    return F.lower(F.regexp_replace(no_port, r"\.$", ""))


def url_path_query(url: Column) -> Column:
    pq = F.regexp_extract(url, _PATHQ_RE, 1)
    return F.when(pq == "", F.lit("/")).otherwise(pq)


# Gate for the canonicalize fast path: scheme://host[/path], where the
# host has no userinfo/port/fragment chars, no "\n" and no trailing
# dot, and the path (if any) starts with "/" and carries no fragment.
# For such URLs every regex step of the general path is the identity
# or a cut at the third "/", so a gated row costs this regex, one
# `substring_index` (scheme://host) and one slice of the rest, where
# the general path runs ~8 regexes. The general `$` also matches
# before a final line terminator, so a host ending in "." + "\r" (or
# U+0085/2028/2029) loses its dot there: the lookbehind keeps such
# hosts out (non-ASCII chars in the repeated host class would slow
# every row's match several-fold), and `\z` is the true end of the
# string. Everything else (ports, userinfo, fragments, IPv6, relative
# refs, missing schemes) takes the unchanged general expression below.
_SIMPLE_URL_RE = (
    r"^[A-Za-z][A-Za-z0-9+.\-]*://"
    r"[^/?#@:\n]*[^/?#@:.\n](?<!\.[\r\u0085\u2028\u2029])(/[^#]*)?\z"
)


def canonicalize(url: Column) -> Column:
    """Canonical URL for dedup/scheduling identity.

    lower(scheme) :// lower(host-without-default-port) path[?query],
    fragment dropped, empty path -> "/". Non-http(s) ports are kept.

    Two-tier implementation (same output, pytest-pinned equivalence):
    the gate regex sends plain absolute URLs to a one-slice fast path,
    lower(scheme://host) followed by the unchanged rest; the general
    regex pipeline handles the others. The fast path is exact for
    gated rows: no '#' anywhere means the fragment strip is the
    identity, the host charclass forbids '@'/':'/trailing '.', so the
    userinfo/port/dot strips are identities, and the third '/' splits
    host from path exactly where the authority regex stops.
    """
    u = F.trim(url)
    # scheme://host: a scheme holds no "/", so the third "/" is where
    # the path starts
    pre = F.substring_index(u, "/", 3)
    # the rest is sliced once, at the character length of the
    # unlowered prefix (lowercasing can change the count: "İ" -> "i̇");
    # ``pre`` is a byte prefix of ``u``, so equal byte lengths mean no
    # path
    rest = F.when(F.octet_length(u) == F.octet_length(pre), F.lit("/")).otherwise(
        F.substring(u, F.length(pre) + 1, F.lit(1 << 30))
    )
    fast = F.concat(F.lower(pre), rest)
    return F.when(u.rlike(_SIMPLE_URL_RE), fast).otherwise(_canonicalize_general(u))


def _canonicalize_general(u: Column) -> Column:
    """The general regex pipeline; expects an already-trimmed input."""
    ug = F.regexp_replace(u, r"#.*$", "")  # fragment never reaches a server
    scheme = url_scheme(ug)
    auth = F.regexp_extract(ug, _AUTH_RE, 1)
    no_user = F.regexp_replace(auth, r"^[^@]*@", "")
    host = F.lower(F.regexp_replace(F.regexp_replace(no_user, r":\d+$", ""), r"\.$", ""))
    port = F.regexp_extract(no_user, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == "80"))
        & ~((scheme == F.lit("https")) & (port == "443"))
    )
    hostport = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    return F.concat(scheme, F.lit("://"), hostport, url_path_query(ug))


def registered_domain(
    host: Column, suffixes: tuple[str, ...] = DEFAULT_SUFFIXES
) -> Column:
    """url_host_registered_domain: the politeness/scheduling key
    (BASELINE.json north_rule bucketing key).

    Longest-match against the suffix set: if the last k labels form a
    known public suffix, the registered domain is the last k+1 labels.
    """
    by_len = sorted(set(suffixes), key=lambda s: -s.count("."))
    expr = host  # fallback: host itself (single-label or unknown TLD)
    # Build the when-chain from shortest suffix outward so the longest
    # suffix ends up as the outermost (first-checked) branch.
    for sfx in reversed(by_len):
        k = sfx.count(".") + 1
        matches = F.substring_index(host, ".", -k) == F.lit(sfx)
        deeper = F.length(host) > F.length(F.substring_index(host, ".", -k))
        expr = F.when(matches & deeper, F.substring_index(host, ".", -(k + 1))).otherwise(
            expr
        )
    return expr
