"""URL kernels: canonicalization, host extraction, fingerprints.

Reference parity targets (behavioural, re-derived — not copied):
- YouTube canonicalization kernel: reference
  ``server/ingest/youtube.py:18-89`` (``normalize_youtube_url``) —
  8-domain allowlist, 11-char video-id extraction from watch/shorts/
  embed/live/youtu.be paths with regex fallback, canonical
  ``https://www.youtube.com/watch?v=<id>`` output.
- Scheme fixups: reference ``server/ingest/youtube.py:115-132``
  (``//x`` → ``https://x``, bare youtube hosts → ``https://`` prefix).
- Job fingerprint: reference ``server/services/jobs.py:166-182`` —
  ``sha256(f"{type}:{json.dumps(payload, sort_keys=True,
  separators=(',',':'), ensure_ascii=False)}")``. Byte-exact parity is
  required (SURVEY.md §7 "fingerprint byte-parity"), so the JSON
  serialization runs in the same CPython runtime in the kernel.

The *generic* canonicalizer implements the north rule's crawl
normalization (lowercase host, strip fragment + tracking params,
percent-decode normalization). The reference has no generic kernel —
these semantics are frozen by tests/test_urls.py.

Everything is vectorized: pandas Series in → pandas Series out, one
Python call per Arrow batch, never per row.
"""

from __future__ import annotations

import hashlib
import json
import re
import zlib
from urllib.parse import parse_qsl, quote, urlencode, urlparse, urlunparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "canonicalize_url",
    "extract_host",
    "host_hash_col",
    "normalize_youtube_url",
    "url_fingerprint",
    "url_kind",
    "url_kind_col",
    "image_id_from_url",
    "image_id_col",
]

# --- generic canonicalizer (north rule) -------------------------------

# Tracking params stripped during canonicalization. Frozen semantics —
# see tests/test_urls.py.
_TRACKING_PARAMS = frozenset(
    {
        "fbclid",
        "gclid",
        "msclkid",
        "mc_cid",
        "mc_eid",
        "igshid",
        "ref_src",
        "spm",
        "yclid",
    }
)
_TRACKING_PREFIXES = ("utm_",)

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

# RFC 3986 unreserved characters: percent-encodings of these are decoded.
_UNRESERVED = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"


def _decode_unreserved(segment: str) -> str:
    """Percent-decode only unreserved characters; uppercase surviving
    escapes; re-encode anything that must stay encoded."""
    out = []
    i, n = 0, len(segment)
    while i < n:
        ch = segment[i]
        if ch == "%" and i + 2 < n + 1 and i + 3 <= n:
            hexpair = segment[i + 1 : i + 3]
            if len(hexpair) == 2 and all(c in "0123456789abcdefABCDEF" for c in hexpair):
                decoded = chr(int(hexpair, 16))
                if decoded in _UNRESERVED:
                    out.append(decoded)
                else:
                    out.append("%" + hexpair.upper())
                i += 3
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def canonicalize_url(url: str | None) -> str | None:
    """North-rule generic URL canonicalizer.

    - scheme + host lowercased; ``//x`` treated as ``https://x``
    - default port stripped; trailing host dot stripped
    - fragment stripped
    - tracking query params (utm_*, fbclid, gclid, ...) dropped;
      remaining params kept in original order (order can be semantic)
    - percent-decoding of unreserved characters, uppercased escapes
    - empty path → ``/``
    - duplicate slashes in path collapsed
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    if url.startswith("//"):
        url = "https:" + url
    try:
        p = urlparse(url)
    except ValueError:
        return None
    scheme = (p.scheme or "http").lower()
    host = p.netloc.lower()
    if "@" in host:  # strip userinfo — never part of crawl identity
        host = host.rsplit("@", 1)[1]
    if ":" in host:
        h, _, port = host.rpartition(":")
        if port == _DEFAULT_PORTS.get(scheme):
            host = h
    host = host.rstrip(".")
    if not host and scheme != "file":
        return None
    path = _decode_unreserved(p.path) or "/"
    path = re.sub(r"/{2,}", "/", path)
    query = ""
    if p.query:
        kept = [
            (k, v)
            for k, v in parse_qsl(p.query, keep_blank_values=True)
            if k.lower() not in _TRACKING_PARAMS
            and not k.lower().startswith(_TRACKING_PREFIXES)
        ]
        query = urlencode(kept, quote_via=quote)
    return urlunparse((scheme, host, path, p.params, query, ""))


# --- YouTube kernel (reference-parity) ---------------------------------

_YT_DOMAINS = frozenset(
    {
        "youtube.com",
        "www.youtube.com",
        "m.youtube.com",
        "music.youtube.com",
        "youtu.be",
        "www.youtu.be",
        "youtube-nocookie.com",
        "www.youtube-nocookie.com",
    }
)
_YT_ID_RE = re.compile(
    r"(?:youtube(?:-nocookie)?\.com/(?:watch\?v=|embed/|shorts/)|youtu\.be/)([A-Za-z0-9_-]{11})"
)
_YT_ID_FULL = re.compile(r"[A-Za-z0-9_-]{11}")


def normalize_youtube_url(url: str | None) -> str | None:
    """Canonical watch URL for a YouTube link (parity with reference
    ``server/ingest/youtube.py:18-89``)."""
    if not url:
        return None
    try:
        p = urlparse(url)
    except ValueError:
        return None
    host = p.netloc.split(":", 1)[0].lower()
    if host not in _YT_DOMAINS:
        return None
    path = p.path or ""
    vid: str | None = None
    if host.endswith("youtu.be"):
        slug = path.lstrip("/")
        vid = slug.split("/", 1)[0] if slug else None
    elif path == "/watch":
        q = dict(parse_qsl(p.query, keep_blank_values=True))
        vid = q.get("v") or None
    elif "/shorts/" in path:
        slug = path.partition("/shorts/")[2]
        vid = slug.split("/", 1)[0] if slug else None
    elif "/embed/" in path:
        slug = path.partition("/embed/")[2]
        vid = slug.split("/", 1)[0] if slug else None
    elif path.startswith("/live/"):
        vid = path.split("/", 2)[2] if path.count("/") >= 2 else None
    if not vid:
        m = _YT_ID_RE.search(url)
        vid = m.group(1) if m else None
    if not vid:
        return None
    vid = vid.strip()
    if not _YT_ID_FULL.fullmatch(vid):
        return None
    return f"https://www.youtube.com/watch?v={vid}"


def fixup_scheme(url: str | None, base_url: str | None = None) -> str | None:
    """Scheme fixups for scraped candidates (reference
    ``server/ingest/youtube.py:115-132``)."""
    if not url:
        return None
    u = url.strip()
    if not u:
        return None
    low = u.lower()
    if u.startswith("//"):
        return "https:" + u
    bare_hosts = (
        "youtu.be/",
        "www.youtu.be/",
        "youtube.com/",
        "www.youtube.com/",
        "m.youtube.com/",
        "music.youtube.com/",
        "youtube-nocookie.com/",
        "www.youtube-nocookie.com/",
    )
    if any(low.startswith(pref) for pref in bare_hosts):
        return "https://" + u
    if base_url and "://" not in u:
        from urllib.parse import urljoin

        return urljoin(base_url, u)
    return u


# --- host + fingerprint -------------------------------------------------


def extract_host(url: str | None) -> str | None:
    if not url:
        return None
    try:
        p = urlparse(url if "://" in url or url.startswith("//") else "//" + url)
    except ValueError:
        return None
    host = p.netloc.lower()
    if "@" in host:
        host = host.rsplit("@", 1)[1]
    host = host.split(":", 1)[0].rstrip(".")
    return host or None


def url_fingerprint(job_type: str, payload: dict | None = None) -> str:
    """Byte-exact parity with reference job fingerprints
    (``server/services/jobs.py:166-182``)."""
    serialized = json.dumps(
        payload or {}, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )
    return hashlib.sha256(f"{(job_type or '').strip()}:{serialized}".encode()).hexdigest()


# --- pandas UDF wrapper --------------------------------------------------

# Fixpoint fast path for the canonicalizer: the pattern accepts ONLY
# strings s for which canonicalize_url(s) == s, so matching rows pass
# through untouched via one vectorized C-regex scan instead of the
# per-row urlparse pipeline (~300µs/URL → ~0.2µs/URL for the matched
# majority of an already-canonical crawl frontier). Membership ⇒
# fixpoint because the pattern forbids every rewrite the canonicalizer
# can make: lowercase http(s) scheme and lowercase dotted host (no
# case fold), no '@' (no userinfo strip), no ':' in authority (no
# default-port strip), host segments end alphanumeric (no trailing-dot
# strip), '/'-rooted path present (no empty→'/' rewrite), path
# segments non-empty (no '//' collapse), no '%' (no percent-decode),
# no ';' '?' '#' (no params/query/fragment handling). Property-tested
# in tests/test_kernels.py (fast-path membership ⇒ canonicalize is
# identity; UDF ≡ per-row map on mixed corpora).
_FAST_CANON_RE = re.compile(
    r"https?://[a-z0-9-]+(?:\.[a-z0-9-]+)*"
    r"(?:(?:/[A-Za-z0-9._~!$&'()*+,=:@-]+)+/?|/)\Z"
)


def _canonicalize_series(urls: pd.Series) -> pd.Series:
    mask = urls.str.fullmatch(_FAST_CANON_RE, na=False)
    if mask.all():
        return urls
    out = urls.copy()
    slow = ~mask
    out[slow] = urls[slow].map(canonicalize_url, na_action="ignore")
    return out


def host_hash_col(host: Column, num_buckets: int | None = None) -> Column:
    """Deterministic, engine-independent host hash (crc32 of utf-8).

    Used for frontier partitioning; crc32 (not Spark's ``hash``) so the
    sequential oracle can reproduce the exact same bucket assignment.
    """
    col = F.crc32(F.encode(F.coalesce(host, F.lit("")), "utf-8"))
    if num_buckets:
        col = F.pmod(col, F.lit(num_buckets)).cast("int")
    return col


def host_hash_py(host: str | None, num_buckets: int | None = None) -> int:
    """Python mirror of :func:`host_hash_col` for the oracle."""
    h = zlib.crc32((host or "").encode("utf-8"))
    return h % num_buckets if num_buckets else h


# --- URL classification kernels (engine ↔ oracle shared) -----------------
#
# The crawl engine and the sequential oracle MUST classify URLs and
# derive image ids identically, or parity silently depends on fixture
# shapes (a feed URL with a query string, an image URL with a trailing
# slash). The Python functions below are the single source of truth
# (used by the oracle); the Column versions are their JVM-side twins,
# frozen equal by tests/test_kernels.py::test_url_kind_kernel_parity.


def url_kind(url_canon: str | None) -> str:
    """'feed' iff the URL *path* ends with feed.xml (query/fragment
    excluded — ``urlparse().path`` semantics), else 'image'."""
    return "feed" if urlparse(url_canon or "").path.endswith("feed.xml") else "image"


def image_id_from_url(url_canon: str | None) -> str:
    """Last path segment with trailing slashes stripped —
    ``urlparse(url).path.rstrip('/').rsplit('/', 1)[-1]``."""
    return urlparse(url_canon or "").path.rstrip("/").rsplit("/", 1)[-1]


def _path_col(url: Column) -> Column:
    # parse_url is JVM-side (no Python); empty-path URLs yield NULL →
    # coalesce to '' to match urlparse's '' path.
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))


def url_kind_col(url: Column) -> Column:
    """Column twin of :func:`url_kind`."""
    return F.when(_path_col(url).endswith("feed.xml"), F.lit("feed")).otherwise(F.lit("image"))


def image_id_col(url: Column) -> Column:
    """Column twin of :func:`image_id_from_url`."""
    stripped = F.regexp_replace(_path_col(url), "/+$", "")
    return F.element_at(F.split(stripped, "/"), -1)
