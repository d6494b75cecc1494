"""Property-based tests (hypothesis) for the URL canonicalizer — the
engine's most semantics-critical scalar function (F2).

Key invariant: IDEMPOTENCE. The seen-set and the pages-table join key both
assume canonicalize(canonicalize(u)) == canonicalize(u); a non-idempotent
case would make a crawled URL re-enqueueable forever.
"""

import contextlib
import re
import string
from unittest import mock

import pandas as pd
from hypothesis import assume, given, settings, strategies as st

from ideacrawler_spark.functions import urlnorm
from ideacrawler_spark.functions.urlnorm import canonicalize, host_of
from ideacrawler_spark.functions.robots import allowed, compile_rules

_host_label = st.text(
    alphabet=string.ascii_letters + string.digits + "-", min_size=1, max_size=8
).filter(lambda s: not s.startswith("-") and not s.endswith("-"))
_path_seg = st.text(
    alphabet=string.ascii_letters + string.digits + "-._~%:@!$&'()*+,;= #?",
    max_size=10,
)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "Https"]))
    host = ".".join(draw(st.lists(_host_label, min_size=1, max_size=3)))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    nseg = draw(st.integers(0, 3))
    path = "".join("/" + draw(_path_seg) for _ in range(nseg))
    return f"{scheme}://{host}{port}{path}"


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonicalize_idempotent(u):
    once = canonicalize(u)
    assert canonicalize(once) == once


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonicalize_unsafe_idempotent(u):
    once = canonicalize(u, unsafe=True)
    assert canonicalize(once, unsafe=True) == once


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonicalize_preserves_host_identity(u):
    # the canonical host equals the lowercased parsed host (ASCII inputs);
    # None means Go url.Parse would reject the URL (e.g. a stray '%') and
    # the reference skips it — no host identity to preserve there.
    c = canonicalize(u)
    if c is not None:
        assert host_of(c) == host_of(u).lower()


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.tuples(st.text(alphabet="/ab*$", min_size=1, max_size=6), st.booleans()),
    max_size=5,
), st.text(alphabet="/ab", max_size=8))
def test_robots_never_crashes_and_empty_allows(rules, path):
    compiled = compile_rules(rules)
    assert isinstance(allowed(compiled, path), bool)
    assert allowed(compile_rules([]), path) is True  # no rules ⇒ allow


# ---- fast lanes ≡ general path ---------------------------------------------
# Each fast lane of urlnorm is disabled by swapping its regex for one that
# never matches; the general path must then give byte-identical output on
# inputs the lane accepts.

@contextlib.contextmanager
def _general_path():
    never = re.compile(r"(?!)")
    with mock.patch.object(urlnorm, "_RX_FAST_ABS", never), \
            mock.patch.object(urlnorm, "_RX_ALREADY_CANONICAL", never), \
            mock.patch.object(urlnorm, "_RX_ALREADY_CANONICAL_RE2", r"\z."), \
            mock.patch.object(urlnorm, "_RX_ROOTED_SIMPLE", never):
        yield


_FAST_PATH_CHARS = string.ascii_letters + string.digits + "-._~!$&'()*+,;=:@/[]"
_escape = st.builds(lambda a, b: "%" + a + b, *[st.sampled_from("0123456789abcdefABCDEF")] * 2)


@st.composite
def fast_abs_urls(draw):
    """URLs of the ``_RX_FAST_ABS`` shape: scheme://host[:port][/path][?]."""
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "Https", "ftp",
                                   "git+ssh", "a.b-c"]))
    host = draw(st.text(alphabet=string.ascii_letters + string.digits + ".-",
                        min_size=1, max_size=12))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080", ":0", ":0080"]))
    path = ""
    if draw(st.booleans()):
        path = "/" + "".join(draw(st.lists(
            st.one_of(st.text(alphabet=_FAST_PATH_CHARS, min_size=1, max_size=4),
                      _escape), max_size=6)))
    return f"{scheme}://{host}{port}{path}" + draw(st.sampled_from(["", "?"]))


_CANON_CHARS = string.ascii_lowercase + string.digits + "-._~!$&'()*+,;=@/"


@st.composite
def canonical_urls(draw):
    """URLs of the ``_RX_ALREADY_CANONICAL`` shape."""
    host = draw(st.text(alphabet=string.ascii_lowercase + string.digits + ".-",
                        min_size=1, max_size=12))
    path = ""
    if draw(st.booleans()):
        path = "/" + draw(st.text(alphabet=_CANON_CHARS, max_size=16))
    return draw(st.sampled_from(["http", "https"])) + "://" + host + path


_rooted_refs = st.builds(
    lambda p: "/" + p,
    st.text(alphabet=_CANON_CHARS, max_size=16).filter(lambda p: not p.startswith("/")))


@settings(max_examples=400, deadline=None)
@given(fast_abs_urls())
def test_canonicalize_fast_abs_equals_general(u):
    assert urlnorm._RX_FAST_ABS.match(u) is not None
    fast = canonicalize(u)
    with _general_path():
        assert canonicalize(u) == fast


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(canonical_urls(), fast_abs_urls()), min_size=1, max_size=20))
def test_canonicalize_series_fast_equals_general(us):
    fast = urlnorm.canonicalize_series(pd.Series(us, dtype=object)).tolist()
    with _general_path():
        assert urlnorm.canonicalize_series(pd.Series(us, dtype=object)).tolist() == fast
        assert [canonicalize(u) for u in us] == fast


@settings(max_examples=300, deadline=None)
@given(canonical_urls(), st.one_of(canonical_urls(), _rooted_refs))
def test_resolve_fast_lanes_equal_general(spark, base, href):
    fast_abs = urlnorm._RX_ALREADY_CANONICAL.match
    assume(fast_abs(href) is not None or urlnorm._RX_ROOTED_SIMPLE.match(href))
    b, h = pd.Series([base]), pd.Series([href])
    fast = urlnorm.resolve_canon_udf().func(b, h)
    with _general_path():
        general = urlnorm.resolve_canon_udf().func(b, h)
    pd.testing.assert_frame_equal(fast, general)

