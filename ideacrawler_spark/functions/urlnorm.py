"""URL canonicalization with exact reference parity.

The reference normalizes every extracted link with
``purell.NormalizeURL(u, purell.FlagsSafe)`` (/root/reference/job.go:826-832)
where ``u`` came from ``requestURL.Parse(val)`` (job.go:821). That pipeline
is (vendor/.../purell/purell.go:152-184, vendor/.../urlesc/urlesc.go):

1. Go ``url.Parse``: decodes path/fragment/userinfo (REJECTING malformed
   %-escapes and bad ports — the reference then skips the link), keeps
   RawQuery verbatim, detects opaque (``scheme:rest``) forms.
2. ``NormalizeURL`` with FlagsSafe applies ONLY lowercaseScheme,
   lowercaseHost and removeDefaultPort as mutations (purell.go:94-96: the
   escape flags "have no action, since it is done automatically by parsing
   the string as an URL"). Notably the width-fold/NFC/IDNA host encoding
   lives in ``NormalizeURLString`` (purell.go:152-170) which the reference
   never calls — hosts are ONLY lowercased, never IDNA-encoded.
3. ``urlesc.Escape`` renders: path re-encoded per RFC 3986 encodePath
   (uppercase hex), RawQuery emitted VERBATIM (so query escapes are never
   normalized), fragment re-encoded per encodeFragment, ``?`` dropped when
   RawQuery is empty, ``scheme:opaque`` for opaque URLs, and ``//`` written
   whenever a scheme is present (even with an empty host).

With UnsafeNormalizeURL the reference adds FlagRemoveFragment |
FlagRemoveDirectoryIndex and clears RawQuery entirely (job.go:826-831).

Reference resolution of an href against the page URL is Go's
``requestURL.Parse(val)`` (job.go:821) — RFC 3986; Python's ``urljoin``
implements the same algorithm (dot-segment removal happens at resolution
time, NOT at normalization time — FlagsSafe does not remove dot segments).

``canonicalize`` returns ``None`` where Go ``url.Parse`` would error
(malformed escape, invalid port, control characters) — callers skip the
link, matching job.go:822-824.

Spark integration: ``canonicalize_udf`` is an Arrow-batched pandas UDF
(no row-at-a-time Python UDF registration); within a batch, values are
processed with a vectorized fast path for already-canonical URLs and a
per-value slow path for the rest.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit

import pandas as pd

_HEX = frozenset("0123456789abcdefABCDEF")
_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
# urlesc shouldEscape allowed bytes per mode (urlesc.go:28-71):
# encodePath allows unreserved + sub-delims + ":@/[]" (escapes only ?, #
# among reserved, everything else non-reserved).
_ALLOWED_PATH = frozenset((_ALNUM + "-._~" + "!$&'()*+,;=" + ":@/[]").encode())
# encodeFragment escapes only '#' among reserved.
_ALLOWED_FRAGMENT = frozenset((_ALNUM + "-._~" + "!$&'()*+,;=" + ":@/[]?").encode())
# encodeUserPassword escapes ':','/','?','#','[',']','@' among reserved;
# uiReplacer additionally keeps !'()* literal (urlesc.go:117-129).
_ALLOWED_USERINFO = frozenset((_ALNUM + "-._~" + "!$&'()*+,;=").encode())
_DEFAULT_PORTS = {"http": "80", "https": "443"}
# purell FlagRemoveDirectoryIndex (purell.go:87, rxDirIndex) — applied to
# the DECODED u.Path before urlesc re-encodes.
_RX_DIR_INDEX = re.compile(r"(^|/)((?:default|index)\.\w{1,4})$")


def _decode_component(s: str) -> bytes | None:
    """Go url.Parse unescape: %XX → byte, other chars → UTF-8 bytes.
    Returns None on a malformed escape (Go: 'invalid URL escape')."""
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%":
            if i + 2 >= n or s[i + 1] not in _HEX or s[i + 2] not in _HEX:
                return None
            out.append(int(s[i + 1 : i + 3], 16))
            i += 3
        else:
            out.extend(c.encode("utf-8"))
            i += 1
    return bytes(out)


def _encode_bytes(bs: bytes, allowed: frozenset) -> str:
    """urlesc escape(): allowed bytes literal, the rest %XX uppercase."""
    return "".join(chr(b) if b in allowed else "%%%02X" % b for b in bs)


def _reencode(component: str, allowed: frozenset) -> str | None:
    """Decode-then-re-encode one component (what Go parse + urlesc.Escape
    net out to). None on malformed escapes."""
    bs = _decode_component(component)
    if bs is None:
        return None
    return _encode_bytes(bs, allowed)


def _split_netloc(netloc: str):
    """(userinfo|None, host, port|None) — Go parseAuthority shapes.
    port is the raw string after the last ':' outside brackets ('' allowed:
    Go keeps 'h:' since FlagRemoveEmptyPortSeparator is not in FlagsSafe)."""
    userinfo = None
    hostport = netloc
    if "@" in netloc:
        userinfo, hostport = netloc.rsplit("@", 1)
    if hostport.startswith("["):
        # IPv6 literal: [..]:port
        end = hostport.find("]")
        if end < 0:
            return userinfo, hostport, None  # malformed; Go errors upstream
        host = hostport[: end + 1]
        rest = hostport[end + 1 :]
        port = rest[1:] if rest.startswith(":") else None
        return userinfo, host, port
    if ":" in hostport:
        host, _, port = hostport.rpartition(":")
        return userinfo, host, port
    return userinfo, hostport, None


def _norm_userinfo(userinfo: str) -> str | None:
    """Go User.String() via urlesc: decode then re-encode each of
    user[:password] with encodeUserPassword + uiReplacer relaxations."""
    if ":" in userinfo:
        user, _, pw = userinfo.partition(":")
        u = _reencode(user, _ALLOWED_USERINFO)
        p = _reencode(pw, _ALLOWED_USERINFO)
        if u is None or p is None:
            return None
        return u + ":" + p
    return _reencode(userinfo, _ALLOWED_USERINFO)


# Targeted fast path for the common "simple absolute URL" shape:
# scheme://host[:port][/path][?], where the netloc has no userinfo, no
# IPv6 bracket, no %-escape and no empty port, the path contains only
# bytes the urlesc encodePath mode keeps literal (plus WELL-FORMED %XX
# escapes), there is no query content (at most one bare trailing '?',
# which FlagRemoveEmptyQuerySeparator drops) and no fragment. For a match
# the full pipeline reduces to: lowercase scheme+host, drop the default
# port, re-encode the path only when it contains escapes. Anything else
# falls through to the general path below — same outputs, checked by
# tests/test_properties.py::test_canonicalize_fast_abs_equals_general,
# which runs matching URLs through both paths.
_RX_FAST_ABS = re.compile(
    r"^([A-Za-z][A-Za-z0-9+\-.]*)://"
    r"([A-Za-z0-9.\-]+)"
    r"(?::([0-9]+))?"
    r"((?:/(?:[A-Za-z0-9\-._~!$&'()*+,;=:@/\[\]]|%[0-9A-Fa-f]{2})*)?)"
    r"(\?)?\Z"  # \Z, not $: '$' matches BEFORE a trailing newline, which
    # would sneak a control character past the Go-parity rejection
)


def canonicalize(url: str, unsafe: bool = False) -> str | None:
    """Reference-parity canonical form of an absolute URL.

    ``unsafe=True`` adds FlagRemoveFragment + FlagRemoveDirectoryIndex and
    strips the query entirely (job.go:826-831). Returns None where Go
    url.Parse would reject the URL (the reference skips such links).
    """
    if url is None:
        return None
    if not unsafe:
        m = _RX_FAST_ABS.match(url)
        if m is not None:
            scheme = m.group(1).lower()
            host = m.group(2).lower()
            port = m.group(3)
            path = m.group(4)
            if "%" in path:
                path = _reencode(path, _ALLOWED_PATH)
                if path is None:  # unreachable: the regex pins %XX form
                    return None
            out = scheme + "://" + host
            if port is not None and _DEFAULT_PORTS.get(scheme) != port:
                out += ":" + port
            return out + path
    if any(ord(c) < 0x20 or ord(c) == 0x7F for c in url):
        return None  # Go: "net/url: invalid control character in URL"
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()

    # Opaque form (Go url.Parse: scheme present, rest has no leading '/'):
    # urlesc renders scheme:opaque?query#fragment with Opaque VERBATIM.
    rest = url[len(parts.scheme) + 1 :] if parts.scheme else url
    if scheme and not rest.startswith("/"):
        opaque = rest.split("#", 1)[0].split("?", 1)[0]
        out = scheme + ":" + opaque
        if not unsafe and parts.query:
            out += "?" + parts.query
        if not unsafe:
            frag = _reencode(parts.fragment, _ALLOWED_FRAGMENT)
            if frag is None:
                return None
            if frag:
                out += "#" + frag
        return out

    userinfo, host, port = _split_netloc(parts.netloc)
    if port:  # Go validOptionalPort: digits only
        if not port.isdigit():
            return None
    if userinfo is not None:
        userinfo = _norm_userinfo(userinfo)
        if userinfo is None:
            return None
    # Go parse decodes %XX in host (encodeHost); then purell lowercases
    # the whole Host — but NO width folding / NFC / IDNA (NormalizeURL
    # path, not NormalizeURLString — see module docstring).
    host_dec = _decode_component(host)
    if host_dec is None:
        return None
    try:
        host = host_dec.decode("utf-8")
    except UnicodeDecodeError:
        host = host_dec.decode("latin-1")
    host = host.lower()
    # removeDefaultPort (purell.go:211-221): drop :80/:443 per scheme
    if port is not None:
        if port and _DEFAULT_PORTS.get(scheme) == port:
            port = None
    netloc = (userinfo + "@" if userinfo is not None else "") + host + (
        ":" + port if port is not None else ""
    )

    path = _reencode(parts.path, _ALLOWED_PATH)
    if path is None:
        return None
    fragment = _reencode(parts.fragment, _ALLOWED_FRAGMENT)
    if fragment is None:
        return None
    query = parts.query  # RawQuery verbatim (urlesc.go:170-173)
    if unsafe:
        fragment = ""
        query = ""  # u.RawQuery = "" (job.go:830)
        path = _RX_DIR_INDEX.sub(r"\1", path)

    # urlesc.Escape assembly (urlesc.go:147-177): '//' whenever scheme or
    # host or userinfo is present; '/' inserted before a rootless path
    # only when the host is non-empty.
    out = scheme + ":" if scheme else ""
    if scheme or netloc:
        out += "//" + netloc
    if path and not path.startswith("/") and host:
        out += "/"
    out += path
    if query:
        out += "?" + query
    # FlagRemoveEmptyQuerySeparator: a bare trailing '?' is dropped.
    if fragment:
        out += "#" + fragment
    # An empty '#' is dropped too (urlesc omits empty fragments).
    return out


_RX_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+\-.]*:")


def go_rejects_ref(ref: str) -> bool:
    """Go url.Parse rejects a schemeless reference whose first path segment
    contains a colon ("first path segment in URL cannot contain colon") —
    urljoin happily resolves those, so gate them out for parity."""
    if not ref or ref.startswith("/") or _RX_SCHEME.match(ref):
        return False
    seg = ref.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0]
    return ":" in seg


def resolve_and_canonicalize(base_url: str, href: str, unsafe: bool = False) -> str | None:
    """RFC 3986 reference resolution (Go requestURL.Parse ≡ urljoin),
    then canonicalization. Returns None for unresolvable/invalid hrefs
    (the reference logs and skips them, job.go:822-824)."""
    if href is not None and go_rejects_ref(href):
        return None
    try:
        absolute = urljoin(base_url, href)
    except ValueError:
        return None
    return canonicalize(absolute, unsafe=unsafe)


def host_of(url: str) -> str:
    """u.Hostname() (worker.go:100-106): strips port/brackets; lowercase
    here because every caller reads it AFTER purell lowercased the host."""
    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


# --------------------------------------------------------------------------
# Vectorized pandas paths (Arrow-batched; used from mapInPandas/pandas UDFs)
# --------------------------------------------------------------------------

# Fast-path detector: scheme+host already lowercase ASCII, no %-escapes, no
# default port, no trailing '?', no fragment, no userinfo, no uppercase.
# The authority is ONLY host characters and the path (if any) must start
# with '/' — an '@' may appear in the path but never before the first
# slash, so a match proves the URL has no userinfo to re-encode (the
# r5 shape allowed '@' directly after the host, where it silently
# flipped the host into an unnormalized userinfo).
_RX_ALREADY_CANONICAL = re.compile(
    r"^https?://[a-z0-9.-]+(?:/[a-z0-9\-._~!$&'()*+,;=@/]*)?\Z"
)
# the same pattern for RE2 (pyarrow): RE2 spells end-of-text '\z' and has
# no '\Z'; everything else in the pattern is shared syntax
_RX_ALREADY_CANONICAL_RE2 = _RX_ALREADY_CANONICAL.pattern.replace(
    "\\Z", "\\z")


def canonicalize_series(urls: pd.Series, unsafe: bool = False) -> pd.Series:
    """Vectorized canonicalization of a string Series.

    Already-canonical URLs (the common case for a well-behaved frontier)
    are detected with ONE pyarrow RE2 pass over the whole batch (the
    character class excludes '%', '?' and uppercase, so a match IS a proof
    of canonical form) and pass through untouched; only dirty URLs take
    the per-value path, which itself fast-paths simple absolute URLs
    (``_RX_FAST_ABS``). The Python-level loop therefore only ever runs
    over the dirty minority — this is the hot path of the whole engine."""
    if unsafe:
        out = [
            canonicalize(u, unsafe=True) if isinstance(u, str) else None
            for u in urls
        ]
        return pd.Series(out, index=urls.index, dtype=object)
    try:
        import numpy as np
        import pyarrow as pa  # noqa: F401 — ships with pyspark
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(urls)
        mask = np.asarray(
            pc.match_substring_regex(arr, _RX_ALREADY_CANONICAL_RE2)
            .fill_null(False)
        )
    except Exception:  # noqa: BLE001 — any arrow hiccup → pure-Python path
        fast = _RX_ALREADY_CANONICAL.match
        out = [
            u if (isinstance(u, str) and fast(u) is not None)
            else (canonicalize(u) if isinstance(u, str) else None)
            for u in urls
        ]
        return pd.Series(out, index=urls.index, dtype=object)
    vals = urls.to_numpy(dtype=object, copy=True)
    for i in np.nonzero(~mask)[0]:
        v = vals[i]
        vals[i] = canonicalize(v) if isinstance(v, str) else None
    return pd.Series(vals, index=urls.index, dtype=object)


def canonicalize_udf(unsafe: bool = False):
    """Build the pandas UDF (string → string). Import of pyspark is local so
    the pure-Python functions above stay usable without a Spark runtime."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _canon(urls: pd.Series) -> pd.Series:
        return canonicalize_series(urls, unsafe=unsafe)

    return _canon


def host_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _host(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: host_of(u) if u is not None else None)

    return _host


def host_raw(url: str) -> str:
    """Go url.Hostname() on an UN-normalized URL: strips port/userinfo but
    preserves case. Used for the SEED side of the cross-domain compare
    (worker.go:100-106: domainname = url.Parse(SeedUrl).Hostname(), raw
    case). The CHILD side reads u.Hostname() AFTER purell lowercased
    u.Host (job.go:826,842) — use the lowercase host for children."""
    from urllib.parse import urlsplit as _us

    try:
        netloc = _us(url).netloc
    except ValueError:
        return ""
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    if netloc.startswith("["):
        return netloc[1:].split("]", 1)[0]
    return netloc.split(":", 1)[0]


RESOLVED_SCHEMA = "struct<url_norm:string,host_raw:string,host:string>"


# Rooted reference whose characters are all in the already-canonical set
# and which contains no dot segments: resolving it against a canonical
# base is pure string assembly (RFC 3986 5.3: scheme+authority from the
# base, path = the reference verbatim — dot-segment removal is a no-op).
# the (?!/) keeps protocol-relative '//authority' references (RFC 3986
# 4.2 network-path) out of the rooted-path fast lane
_RX_ROOTED_SIMPLE = re.compile(r"^/(?!/)[a-z0-9\-._~!$&'()*+,;=@/]*\Z")
_RX_DOTSEG = re.compile(r"/\.\.?(?:/|$)")


def resolve_canon_udf(unsafe: bool = False):
    """pandas UDF (base_url, href) → struct(url_norm, host_raw, host).

    One Arrow batch pass per partition performing Go requestURL.Parse
    (RFC 3986 urljoin) + purell normalization + both hostname flavors.
    Rows where Go url.Parse would error come back all-None (skipped).

    Marked non-deterministic: a filter on the output struct (the standard
    ``url_norm IS NOT NULL`` gate every caller applies) is otherwise
    pushed below the projection by Catalyst, which duplicates the
    ArrowEvalPython node — every surviving row paid for the resolve
    TWICE (two `_resolve` nodes in the anchor_corpus/round plans).

    Batch fast paths (the general path is unchanged; equivalence on
    inputs the lanes accept is checked by
    tests/test_properties.py::test_resolve_fast_lanes_equal_general):
    - an href that is itself an already-canonical absolute URL resolves
      to itself (RFC 3986 5.2.2 with a defined scheme);
    - a dot-segment-free rooted href against an already-canonical base is
      scheme://authority + href."""
    from pyspark.sql.functions import pandas_udf

    fast_abs = _RX_ALREADY_CANONICAL.match
    rooted = _RX_ROOTED_SIMPLE.match
    dotseg = _RX_DOTSEG.search

    @pandas_udf(RESOLVED_SCHEMA)
    def _resolve(base: pd.Series, href: pd.Series) -> pd.DataFrame:
        norms, raws, hosts = [], [], []
        memo_b = None       # bases repeat (one page, many links)
        memo_prefix = None  # (scheme://netloc, host) when base is canonical
        for b, h in zip(base, href):
            # unsafe mode also strips directory-index path tails, which
            # the canonical-shape proofs below do not cover; an href with
            # ';' goes through urljoin's urlparse ;params quirk (a bare
            # trailing ';' is dropped) that plain assembly would miss
            if not unsafe and isinstance(b, str) and isinstance(h, str) \
                    and ";" not in h:
                if fast_abs(h) is not None:
                    # absolute, already-canonical: resolution = identity
                    netloc = h.split("/", 3)[2]
                    host = netloc.rsplit("@", 1)[-1]
                    norms.append(h)
                    raws.append(host)
                    hosts.append(host)
                    continue
                if rooted(h) is not None and dotseg(h) is None:
                    if b != memo_b:
                        memo_b = b
                        if fast_abs(b) is not None:
                            parts = b.split("/", 3)
                            memo_prefix = (
                                "/".join(parts[:3]),
                                parts[2].rsplit("@", 1)[-1],
                            )
                        else:
                            memo_prefix = None
                    if memo_prefix is not None:
                        prefix, host = memo_prefix
                        norms.append(prefix + h)
                        raws.append(host)
                        hosts.append(host)
                        continue
            try:
                if h is not None and go_rejects_ref(h):
                    raise ValueError("colon in first path segment")
                absolute = urljoin(b, h)
                nurl = canonicalize(absolute, unsafe=unsafe)
            except (ValueError, AttributeError):
                nurl = None
            if nurl is None:
                norms.append(None)
                raws.append(None)
                hosts.append(None)
                continue
            norms.append(nurl)
            raws.append(host_raw(absolute))
            try:
                hosts.append((urlsplit(nurl).hostname or "").lower())
            except ValueError:
                hosts.append("")
        return pd.DataFrame({"url_norm": norms, "host_raw": raws, "host": hosts})

    return _resolve.asNondeterministic()
