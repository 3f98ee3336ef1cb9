"""Deterministic synthetic fixture corpus (FIXTURES.md).

Generates the pages / sitemaps / robots / seeds tables plus golden
outputs, fully offline, seed=42. The HTML and its expected
full-document ``inner_text`` are assembled **in parallel from the same
pieces**, so the golden ``text`` column is independent of the
extraction engine under test (no circularity in the byte-identity
check).

Two scripted sites mirror the reference examples
(examples/urbandict.lua, examples/fandom_mmh7.lua), retargeted at
fixture hosts; eight news hosts provide bulk pages for scheduler and
scale tests.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import pandas as pd

SEED = 42
DICT_HOST = "dict.example.test"
WIKI_HOST = "wiki.example.test"
NEWS_HOSTS = [f"news{i}.example.test" for i in range(8)]
ALL_HOSTS = [DICT_HOST, WIKI_HOST] + NEWS_HOSTS

SM_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"

_MONTHS = [
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
]

FACTIONS = ["Academy", "Dungeon", "Fortress", "Haven", "Necropolis",
            "Stronghold", "Sylvan"]
_SYLL = ["ka", "zor", "mel", "ta", "rin", "vox", "lu", "gra", "nim", "pod",
         "ser", "wok", "yal", "fen", "dus", "qui", "bex", "hom", "jat", "cel"]


def _stable_hash(s: str) -> int:
    """Deterministic 64-bit hash (generation-side only; Spark-side
    identity uses F.xxhash64)."""
    return int.from_bytes(hashlib.sha1(s.encode()).digest()[:8], "big")


def _warc_ts(url: str) -> datetime:
    return datetime(2026, 1, 1) + timedelta(days=_stable_hash(url) % 90)


def _lang(url: str) -> str:
    return "fr" if _stable_hash("lang:" + url) % 10 == 0 else "en"


class _Doc:
    """Parallel HTML + expected-inner_text assembler."""

    def __init__(self) -> None:
        self.h: list[str] = []
        self.t: list[str] = []

    def raw(self, html: str, text: str = "") -> None:
        self.h.append(html)
        if text:
            self.t.append(text)

    def text(self, s: str) -> None:
        """A text node whose source equals its decoded value (no
        entities, no markup chars)."""
        self.h.append(s)
        self.t.append(s)

    @property
    def html(self) -> str:
        return "".join(self.h)

    @property
    def text_out(self) -> str:
        return "".join(self.t)


@dataclass
class Corpus:
    pages: pd.DataFrame
    sitemaps: pd.DataFrame
    robots: pd.DataFrame
    seeds: pd.DataFrame
    golden_urbandict: pd.DataFrame
    golden_fandom: pd.DataFrame
    golden_fandom_urls: pd.DataFrame
    # urls listed in sitemaps but absent from pages (simulated 404s)
    missing_urls: list[str] = field(default_factory=list)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4)))


def _date_parts(rng: random.Random) -> tuple[str, str]:
    y, mo, d = rng.randint(2019, 2026), rng.randint(1, 12), rng.randint(1, 28)
    return f"{_MONTHS[mo - 1]} {d}, {y}", f"{y:04d}-{mo:02d}-{d:02d}"


def make_dict_page(word: str, rng: random.Random):
    """Definition page shaped like the urbandict.lua target.

    Returns (html, expected_text, golden_records). raw() carries pure
    markup only; every inter-tag whitespace char goes through text()
    so the expected inner_text is whitespace-exact.
    """
    d = _Doc()
    d.raw("<!DOCTYPE html><html><head><title>")
    d.text(f"{word} - dict")
    d.raw("</title></head><body>")
    d.raw("<!-- fixture: dict definition page -->")
    d.text("\n")
    d.raw('<section id="content">')
    d.text("\n")
    goldens = []
    n_defs = rng.randint(1, 5)
    for i in range(1, n_defs + 1):
        tag = "h1" if i % 2 == 1 else "h2"
        word_disp = word if i == 1 else f"{word}-{i}"
        author = _word(rng)
        date_disp, date_iso = _date_parts(rng)
        meaning_plain = f"Sense {i} of {word} & more\nacross lines"
        meaning_html = f"Sense {i} of {word} &amp; more\nacross lines"
        example_plain = f"I said '{word_disp}'\ntwice on {date_disp}"
        example_html = f"I said &#x27;{word_disp}&#x27;\ntwice on {date_disp}"

        d.raw('<div class="definition">')
        d.text("\n")
        d.raw(f'<{tag}><a class="word" href="/define.php?term={word}">')
        d.text(word_disp)
        d.raw(f"</a></{tag}>")
        d.text("\n")
        d.raw('<div class="meaning">')
        d.raw(meaning_html, meaning_plain)
        d.raw("</div>")
        d.text("\n")
        d.raw('<div class="example">')
        d.raw(example_html, example_plain)
        d.raw("</div>")
        d.text("\n")
        d.raw('<div class="contributor">')
        d.text("by ")
        d.raw(f'<a href="/user/{author}">')
        d.text(author)
        d.raw("</a>")
        d.text(" " + date_disp)
        d.raw("</div>")
        d.text("\n")
        d.raw("</div>")
        d.text("\n")
        goldens.append(
            {
                "word": word_disp,
                "def_index": str(i),
                "date": date_iso,
                "meaning": meaning_plain.replace("\n", " "),
                "example": example_plain.replace("\n", " "),
            }
        )
    d.raw("</section></body></html>")
    return d.html, d.text_out, goldens


_PI_DATA = [
    ("Faction", None),
    ("Tier/level", None),
    ("Upgraded", "img"),
    ("Size", "opt"),
    ("Attack type", "opt"),
    ("Range", "opt"),
    ("Dwelling", "opt"),
    ("Cost per unit", "opt"),
    ("Growth", "opt"),
]
_SMART = ["Attack", "Defense", "Hit Points", "Damage", "Initiative"]
_SMART_OPT = ["Speed", "Morale", "Destiny"]


def make_creature_page(faction: str, creature: str, rng: random.Random):
    """Infobox page shaped like the fandom_mmh7.lua creature target."""
    d = _Doc()
    d.raw("<!DOCTYPE html><html><head><title>")
    d.text(f"{creature} | wiki")
    d.raw("</title></head><body>")
    d.raw('<nav id="articleCategories"><ul><li><span>')
    d.raw('<a href="/wiki/Category:Creatures">')
    d.text(f"Heroes VII {faction} creatures")
    d.raw('</a></span></li><li><span><a href="/wiki/Category:All">')
    d.text("All pages")
    d.raw("</a></span></li></ul></nav>")
    d.text("\n")
    d.raw('<aside class="portable-infobox"><h2 class="pi-item pi-title">')
    d.text(creature)
    d.raw("</h2>")
    d.text("\n")
    d.raw('<section class="pi-group">')
    d.text("\n")

    row: dict[str, str] = {}
    upgraded = rng.random() < 0.5
    for label, kind in _PI_DATA:
        if kind == "opt" and rng.random() < 0.3:
            continue  # omitted -> "N/A" in the record
        if label == "Faction":
            value = faction
        elif label == "Tier/level":
            value = str(rng.randint(1, 7))
        elif label == "Upgraded":
            value = "true" if upgraded else "false"
        elif label in ("Cost per unit", "Growth"):
            value = str(rng.randint(1, 9999))
        else:
            value = _word(rng).capitalize()
        d.raw('<div class="pi-data"><h3 class="pi-data-label">')
        d.text(label)
        d.raw('</h3><div class="pi-data-value">')
        if label == "Upgraded":
            # value text is decorative; the spec checks img[alt=Yes]
            if upgraded:
                d.raw('<img alt="Yes" src="/i/yes.png">')
            else:
                d.raw('<img alt="No" src="/i/no.png">')
            d.text("Upgrade info")
        else:
            # leading/trailing whitespace exercises the Lua trim gsub
            d.text(" " + value + " ")
        d.raw("</div></div>")
        d.text("\n")
        row[label] = value

    # smart group (pi-smart-group-head/-body)
    d.raw('<section class="pi-item pi-smart-group">')
    d.raw('<section class="pi-smart-group-head">')
    smart = list(_SMART) + [s for s in _SMART_OPT if rng.random() < 0.7]
    for label in smart:
        d.raw("<h3>")
        d.text(label)
        d.raw("</h3>")
    d.raw("</section>")
    d.raw('<section class="pi-smart-group-body">')
    for label in smart:
        value = str(rng.randint(1, 80))
        d.raw('<div class="pi-smart-data-value">')
        d.text(" " + value + " ")
        d.raw("</div>")
        row[label] = value
    d.raw("</section></section>")
    d.text("\n")

    d.raw("</section></aside></body></html>")

    golden = {
        "faction": row["Faction"],
        "creature": creature,
        "tier": row["Tier/level"],
        "upgraded": row.get("Upgraded", "N/A"),
        "size": row.get("Size", "N/A"),
        "attack_type": row.get("Attack type", "N/A"),
        "range": row.get("Range", "N/A"),
        "dwelling": row.get("Dwelling", "N/A"),
        "cost_per_unit": row.get("Cost per unit", "N/A"),
        "growth": row.get("Growth", "N/A"),
        "attack": row["Attack"],
        "defense": row["Defense"],
        "hit_points": row["Hit Points"],
        "damage": row["Damage"],
        "initiative": row["Initiative"],
        "speed": row.get("Speed", "N/A"),
        "morale": row.get("Morale", "N/A"),
        "destiny": row.get("Destiny", "N/A"),
    }
    return d.html, d.text_out, golden


def make_faction_page(faction: str, creatures: list[str]):
    """Faction page: tabber tables whose td's *last* anchor is the
    creature link (exercises :last-of-type, fandom_mmh7.lua:24)."""
    d = _Doc()
    d.raw("<!DOCTYPE html><html><head><title>")
    d.text(f"{faction} | wiki")
    d.raw("</title></head><body>")
    d.raw('<nav id="articleCategories"><ul><li><span>')
    d.raw('<a href="/wiki/Category:Factions">')
    d.text("Heroes VII factions")
    d.raw("</a></span></li></ul></nav>")
    d.text("\n")
    d.raw('<div class="tabber"><table><tbody>')
    hrefs = []
    for i, c in enumerate(creatures):
        href = f"/wiki/{c}_(H7)"
        hrefs.append(href)
        if i % 2 == 0:
            d.raw("<tr>")
        d.raw('<td><a href="' + href + '"><img src="/i/' + c + '.png"></a>')
        d.raw('<a href="' + href + '">')
        d.text(c)
        d.raw("</a></td>")
        if i % 2 == 1:
            d.raw("</tr>")
    if len(creatures) % 2 == 1:
        d.raw("</tr>")
    d.raw("</tbody></table></div></body></html>")
    return d.html, d.text_out, hrefs


def make_news_page(host: str, idx: int, rng: random.Random):
    d = _Doc()
    d.raw("<!DOCTYPE html><html><head><title>")
    d.text(f"Article {idx} - {host}")
    d.raw("</title></head><body><article><h1>")
    d.text(f"Headline {idx}: {_word(rng).capitalize()} {_word(rng)}")
    d.raw("</h1>")
    d.text("\n")
    for p in range(rng.randint(2, 6)):
        d.raw("<p>")
        d.text(
            " ".join(_word(rng) for _ in range(rng.randint(8, 25))) + "."
        )
        d.raw("</p>")
        d.text("\n")
    d.raw("</article></body></html>")
    return d.html, d.text_out


def _urlset_xml(urls: list[str]) -> bytes:
    locs = "\n".join(f"  <url><loc>{u}</loc></url>" for u in urls)
    return (
        f'<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<urlset xmlns="{SM_NS}">\n{locs}\n</urlset>\n'
    ).encode()


def _index_xml(sitemap_urls: list[str]) -> bytes:
    locs = "\n".join(
        f"  <sitemap><loc>{u}</loc></sitemap>" for u in sitemap_urls
    )
    return (
        f'<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<sitemapindex xmlns="{SM_NS}">\n{locs}\n</sitemapindex>\n'
    ).encode()


def generate_corpus(scale: str = "tiny", seed: int = SEED) -> Corpus:
    """scale: 'tiny' (~200 pages) or 'small' (~20k pages)."""
    rng = random.Random(seed)
    n_words = {"tiny": 40, "small": 4000}[scale]
    n_news = {"tiny": 12, "small": 1800}[scale]

    pages_rows = []
    golden_ud = []
    golden_fd = []
    golden_fd_urls = []
    missing: list[str] = []

    def add_page(url: str, html: str, text: str) -> None:
        pages_rows.append(
            {
                "url": url,
                "warc_ts": _warc_ts(url),
                "html": html.encode(),
                "text": text,
                "lang": _lang(url),
            }
        )

    # --- dict site ---------------------------------------------------
    words = []
    seen_w = set()
    while len(words) < n_words:
        w = _word(rng)
        if w not in seen_w:
            seen_w.add(w)
            words.append(w)
    dict_urls = []
    for w in words:
        url = f"https://{DICT_HOST}/define.php?term={w}"
        html, text, gs = make_dict_page(w, rng)
        add_page(url, html, text)
        dict_urls.append(url)
        for g in gs:
            golden_ud.append({"url": url, **g})
    # non-term pages (accept-filter rejects ~10%)
    extra_dict = []
    for name in ["about", "stats", "random", "trending"]:
        url = f"https://{DICT_HOST}/{name}.php"
        html, text = make_news_page(DICT_HOST, 9000 + len(extra_dict), rng)
        add_page(url, html, text)
        extra_dict.append(url)

    # --- wiki site ---------------------------------------------------
    wiki_base = f"https://{WIKI_HOST}"
    faction_urls = []
    for f_i, faction in enumerate(FACTIONS):
        n_cre = 4 if scale == "tiny" else 8
        creatures = []
        for c_i in range(n_cre):
            c = (_word(rng) + "_" + _word(rng)).title()
            creatures.append(c)
        fp_url = f"{wiki_base}/wiki/{faction}_(H7)"
        html, text, hrefs = make_faction_page(faction, creatures)
        add_page(fp_url, html, text)
        faction_urls.append(fp_url)
        for c, href in zip(creatures, hrefs):
            c_url = wiki_base + href
            golden_fd_urls.append({"url": fp_url, "discovered_url": c_url})
            chtml, ctext, g = make_creature_page(faction, c, rng)
            add_page(c_url, chtml, ctext)
            golden_fd.append({"url": c_url, **g})

    # --- news sites ----------------------------------------------------
    news_urls: dict[str, list[str]] = {}
    for host in NEWS_HOSTS:
        urls = []
        for i in range(n_news):
            url = f"https://{host}/articles/{i:06d}"
            html, text = make_news_page(host, i, rng)
            add_page(url, html, text)
            urls.append(url)
        news_urls[host] = urls

    # --- sitemaps -------------------------------------------------------
    sm_rows = []
    # dict: gzipped index -> 4 child urlsets over term+extra urls,
    # with 5% cross-urlset duplicates and 2% missing (404) urls.
    all_dict = dict_urls + extra_dict
    child_urls = [f"https://{DICT_HOST}/sitemap-{i}.xml" for i in range(4)]
    chunks: list[list[str]] = [[] for _ in range(4)]
    for i, u in enumerate(all_dict):
        chunks[i % 4].append(u)
    n_dup = max(1, len(all_dict) // 20)
    for i in range(n_dup):  # duplicates across urlsets (seen-set food)
        u = rng.choice(all_dict)
        tgt = rng.randrange(4)
        chunks[tgt].append(u)
    n_404 = max(1, len(all_dict) // 50)
    for i in range(n_404):
        u = f"https://{DICT_HOST}/define.php?term=gone{i}"
        missing.append(u)
        chunks[rng.randrange(4)].append(u)
    idx_url = f"https://{DICT_HOST}/sitemap-index.xml.gz"
    sm_rows.append(
        {"sitemap_url": idx_url, "kind": "INDEX",
         "body": gzip.compress(_index_xml(child_urls))}
    )
    for cu, chunk in zip(child_urls, chunks):
        sm_rows.append({"sitemap_url": cu, "kind": "URLSET",
                        "body": _urlset_xml(chunk)})
    # news: one urlset per host (multi-host scheduling food)
    for host in NEWS_HOSTS:
        sm_rows.append(
            {"sitemap_url": f"https://{host}/sitemap.xml", "kind": "URLSET",
             "body": _urlset_xml(news_urls[host])}
        )

    # --- robots ---------------------------------------------------------
    rb_rows = []
    delays = [0.5, 1.0, 2.0]
    for i, host in enumerate(ALL_HOSTS):
        delay = delays[i % 3]
        disallows = ["/private/", "/tmp/"][: 1 + i % 2]
        body = "\n".join(
            ["User-agent: SWSbot", f"Crawl-delay: {delay}"]
            + [f"Disallow: {d}" for d in disallows]
            + [f"Sitemap: https://{host}/sitemap.xml"
               if host != DICT_HOST
               else f"Sitemap: {idx_url}"]
            + ["", "User-agent: *", "Disallow: /admin/"]
        )
        rb_rows.append({"host": host, "body": body, "crawl_delay": delay})

    # --- seeds ------------------------------------------------------------
    seed_rows = [
        {"seed": idx_url, "seed_kind": "SITEMAPS", "scenario": "dict_sitemap"},
    ]
    for u in faction_urls:
        seed_rows.append({"seed": u, "seed_kind": "PAGES", "scenario": "wiki_pages"})
    seed_rows.append(
        {"seed": f"https://{NEWS_HOSTS[0]}/robots.txt", "seed_kind": "ROBOTS_TXT",
         "scenario": "robots_seed"}
    )
    for host in NEWS_HOSTS:
        seed_rows.append(
            {"seed": f"https://{host}/sitemap.xml", "seed_kind": "SITEMAPS",
             "scenario": "news_sitemaps"}
        )

    return Corpus(
        pages=pd.DataFrame(pages_rows),
        sitemaps=pd.DataFrame(sm_rows),
        robots=pd.DataFrame(rb_rows),
        seeds=pd.DataFrame(seed_rows),
        golden_urbandict=pd.DataFrame(golden_ud),
        golden_fandom=pd.DataFrame(golden_fd),
        golden_fandom_urls=pd.DataFrame(golden_fd_urls),
        missing_urls=missing,
    )


def write_corpus(corpus: Corpus, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in ("pages", "sitemaps", "robots", "seeds",
                 "golden_urbandict", "golden_fandom", "golden_fandom_urls"):
        df = getattr(corpus, name).copy()
        for col in df.columns:
            if str(df[col].dtype).startswith("datetime64[ns"):
                # Spark can't scan nano-precision parquet timestamps
                df[col] = df[col].astype("datetime64[us]")
        path = os.path.join(out_dir, f"{name}.parquet")
        # either layout below replaces whatever an earlier write left
        if os.path.isfile(path):
            os.remove(path)
        elif os.path.isdir(path):
            shutil.rmtree(path)
        if name == "pages" and len(df) > 1024:
            # Write the pages table as a DIRECTORY of ~32 part files:
            # pandas' single-file parquet has one row group, which
            # Spark cannot split — the whole extraction bench ran as
            # ONE scan task on one core (guide §6). One file per core
            # gives a 32-wide scan under the default split sizing (no
            # openCostInBytes tuning, so small single-file inputs
            # elsewhere don't shatter into empty tasks). Readers are
            # unchanged: both Spark and pandas/pyarrow read a parquet
            # directory transparently.
            os.makedirs(path)
            n_parts = 32
            step = (len(df) + n_parts - 1) // n_parts
            for p in range(n_parts):
                chunk = df.iloc[p * step:(p + 1) * step]
                if len(chunk):
                    chunk.to_parquet(
                        os.path.join(path, f"part-{p:05d}.parquet")
                    )
        else:
            df.to_parquet(path)


def ensure_corpus(out_dir: str, scale: str = "tiny", seed: int = SEED) -> str:
    """Generate-once helper for tests/benchmarks."""
    # v3: layout marker — multi-file pages table (see write_corpus);
    # regenerate corpora written under the old single-file layout
    marker = os.path.join(out_dir, f".done-{scale}-{seed}-v3")
    if not os.path.exists(marker):
        write_corpus(generate_corpus(scale, seed), out_dir)
        with open(marker, "w") as fh:
            fh.write("ok")
    return out_dir
