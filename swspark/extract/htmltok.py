"""Fast HTML tokenizer — event-identical to stdlib ``html.parser``
with ``convert_charrefs=True`` fed one whole document.

Profiling (BENCH.md) put ~60% of selector-spec extraction inside
``HTMLParser.goahead``/``parse_starttag`` — the 100 TB cost center.
This scanner replicates the stdlib's OBSERVABLE event stream (the
contract every golden/fuzz test pins) while skipping its overhead:

- no ``locatestarttagend_tolerant`` re-scan of each tag (the stdlib
  scans every start tag twice); a single whole-tag regex covers the
  common case and the stdlib's own ``tagfind``/``attrfind`` regexes
  cover the rest, so attribute semantics match by construction;
- no per-chunk ``updatepos`` line accounting, no feed buffering;
- events land in a flat list consumed by a tight loop, not dynamic
  ``handle_*`` dispatch per token.

Any construct whose stdlib behavior is not replicated bit-for-bit
(marked sections ``<![``, malformed start tags the tolerant regexes
reject) returns ``None`` and the caller re-parses the WHOLE document
with stdlib ``html.parser`` — byte-identity is never at risk, the
rare weird document just pays the old price.

Event encoding (tuples): ("d", text) data, ("s", tag, attrs) start,
("x", tag, attrs) self-closing start, ("e", tag) end, ("c", text)
comment, ("!", decl) doctype/decl, ("?", text) processing instr.
"""

from __future__ import annotations

import re
from html import unescape

# the stdlib's own tolerant regexes (html/parser.py) — reusing them
# makes the fallback attribute parse semantics-identical by definition
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_COMMENTCLOSE = re.compile(r"--\s*>")
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")

# fast path: one match per simple start tag (clean names, clean attrs,
# no stray '/' separators). Anything it rejects falls to the stdlib
# regex loop above.
_SIMPLE_TAG = re.compile(
    r"([a-zA-Z][a-zA-Z0-9:_.-]*)"
    r"((?:\s+[^\s/>=][^\s/=>]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^>\s\"'`=]+))?)*)"
    r"\s*(/?)>"
)
_SIMPLE_ATTR = re.compile(
    r"\s+([^\s/>=][^\s/=>]*)"
    r"(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^>\s\"'`=]+)))?"
)

_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}


def tokenize(html: str):  # noqa: C901 - one hot loop, kept flat on purpose
    """Event list for ``html``, or None when the caller must fall back
    to stdlib ``html.parser`` for bit-identical handling."""
    events: list = []
    ap = events.append
    find = html.find
    startswith = html.startswith
    i, n = 0, len(html)
    while i < n:
        j = find("<", i)
        if j < 0:
            ap(("d", unescape(html[i:])))
            break
        if i < j:
            ap(("d", unescape(html[i:j])))
        i = j
        c = html[i + 1] if i + 1 < n else ""
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            # ---- start tag --------------------------------------------
            selfclose = False
            m = _SIMPLE_TAG.match(html, i + 1)
            if m is not None:
                tag = m.group(1).lower()
                rawattrs = m.group(2)
                attrs: list = []
                if rawattrs:
                    for am in _SIMPLE_ATTR.finditer(rawattrs):
                        v = am.group(2)
                        if v is None:
                            v = am.group(3)
                        if v is None:
                            v = am.group(4)
                        if v:
                            v = unescape(v)
                        attrs.append((am.group(1).lower(), v))
                selfclose = bool(m.group(3))  # '/>' — XHTML-style
                i = m.end()
            else:
                # stdlib-regex fallback for this tag
                tm = _TAGFIND.match(html, i + 1)
                if tm is None:  # cannot happen: c is a letter
                    return None
                tag = tm.group(1).lower()
                attrs = []
                k = tm.end()
                while k < n:
                    am = _ATTRFIND.match(html, k)
                    if am is None:
                        break
                    aname, rest, aval = am.group(1, 2, 3)
                    if not rest:
                        aval = None
                    elif aval[:1] == "'" == aval[-1:] or aval[:1] == '"' == aval[-1:]:
                        aval = aval[1:-1]
                    if aval:
                        aval = unescape(aval)
                    attrs.append((aname.lower(), aval))
                    k = am.end()
                if startswith(">", k):
                    i = k + 1
                elif startswith("/>", k):
                    selfclose = True
                    i = k + 2
                elif k >= n:
                    # incomplete at EOF: stdlib emits the tail as data
                    i = _eof_flush(html, i, ap)
                    continue
                else:
                    return None  # bogus tag end: stdlib-specific recovery
            if selfclose:
                ap(("x", tag, attrs))
                continue
            ap(("s", tag, attrs))
            if tag in ("script", "style"):
                # CDATA content mode: raw text until the exact
                # </script|style> close pattern; unterminated
                # content is DROPPED at EOF (stdlib behavior)
                em = _CDATA_CLOSE[tag].search(html, i)
                if em is None:
                    break
                if em.start() > i:
                    ap(("d", html[i:em.start()]))
                ap(("e", tag))
                i = em.end()
        elif c == "/":
            # ---- end tag ----------------------------------------------
            gt = find(">", i + 1)
            if gt < 0:
                i = _eof_flush(html, i, ap)
                continue
            em = _ENDTAGFIND.match(html, i)
            if em is not None:
                ap(("e", em.group(1).lower()))
                i = em.end()
            elif startswith("</>", i):
                i += 3
            else:
                nm = _TAGFIND.match(html, i + 2)
                if nm is not None:
                    gt2 = find(">", nm.end())
                    if gt2 < 0:  # pathological; stdlib returns gtpos+1=0
                        return None
                    ap(("e", nm.group(1).lower()))
                    i = gt2 + 1
                else:
                    # bogus comment: </ + junk → comment up to '>'
                    ap(("c", html[i + 2:gt]))
                    i = gt + 1
        elif c == "!":
            if startswith("<!--", i):
                cm = _COMMENTCLOSE.search(html, i + 4)
                if cm is None:
                    i = _eof_flush(html, i, ap)
                    continue
                ap(("c", html[i + 4:cm.start()]))
                i = cm.end()
            elif startswith("<![", i):
                return None  # marked section: stdlib _markupbase path
            elif html[i:i + 9].lower() == "<!doctype":
                gt = find(">", i + 9)
                if gt < 0:
                    i = _eof_flush(html, i, ap)
                    continue
                ap(("!", html[i + 2:gt]))
                i = gt + 1
            else:
                gt = find(">", i + 2)  # bogus comment
                if gt < 0:
                    i = _eof_flush(html, i, ap)
                    continue
                ap(("c", html[i + 2:gt]))
                i = gt + 1
        elif c == "?":
            gt = find(">", i + 2)
            if gt < 0:
                i = _eof_flush(html, i, ap)
                continue
            ap(("?", html[i + 2:gt]))
            i = gt + 1
        elif i + 1 < n:
            ap(("d", "<"))
            i += 1
        else:
            ap(("d", "<"))  # lone '<' at EOF: final flush emits it
            break
    return events


def _eof_flush(html: str, i: int, ap) -> int:
    """stdlib goahead(end=1) recovery for a construct with no
    terminator: data up to (and including) the next '>', else up to
    the next '<', else one char — unescaped like any data."""
    k = html.find(">", i + 1)
    if k < 0:
        k = html.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    ap(("d", unescape(html[i:k])))
    return k
