"""Seed-list source + RSS feed fetch/parse as vectorized stages.

Reference parity:
- S1 seed scan (``server/ingest/feeds.py:17-24``): strip, drop blanks
  and ``#`` comments, **preserve file order** — order is semantic (the
  crawl ordering starts here), so the loader assigns ``seq_key`` from
  the line number.
- S2 feed fetch+parse (``server/ingest/feeds.py:217-228``): one fetch
  per feed URL; malformed feeds are dropped (bozo analog) and surfaced
  on an error side-channel, never crash the batch.
- Entry projection (``server/ingest/feeds.py:138-214``): guid
  (id-else-guid), link, enclosure URL by type, description
  (summary-else-content), pubDate → UTC, itunes:duration → seconds.
  The identity key is guid-else-link (reference :154-159).

The parser is stdlib ``xml.etree`` inside ``mapInPandas`` (one Python
call per Arrow batch of feed documents; no feedparser in the
container). Entry rows come out exploded with ``entry_pos`` preserved.
"""

from __future__ import annotations

import email.utils
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["load_seeds", "seeds_from_lines", "parse_feed_entries", "fetch_and_parse_feeds", "ENTRY_SCHEMA"]

ENTRY_SCHEMA = (
    "feed_url string, entry_pos int, guid string, link string, title string, "
    "description string, published_at timestamp, duration_sec long, "
    "enclosure_url string, enclosure_type string, parse_error string"
)


def load_seeds(spark: SparkSession, path: str) -> DataFrame:
    """Seed list in file order → (url, seq_key)."""
    return seeds_from_lines(spark.read.text(path))


def seeds_from_lines(lines: DataFrame) -> DataFrame:
    """Text-source lines (``value``) → (url, seq_key): trim, drop blank
    and ``#`` lines, number the rest in line order. The numbering
    follows the read order, which is the file order because a seed
    file is a single text split read in order; a stream micro-batch
    that reads one file keeps that order too. Only the order of
    ``seq_key`` is used downstream, so the JVM's
    ``monotonically_increasing_id`` (split index, then row within the
    split) numbers the lines: no job counts the splits and no Python
    worker runs."""
    urls = lines.select(F.trim(F.col("value")).alias("url"))
    return urls.where((F.col("url") != "") & ~F.col("url").startswith("#")).select(
        "url", F.monotonically_increasing_id().alias("seq_key")
    )


def _to_xml_bytes(xml_text) -> bytes:
    """Normalize parser input to bytes, the way feedparser consumes
    documents (reference drops any bozo feed, server/ingest/feeds.py:
    221-228 — so OUR accept/reject boundary must track feedparser's,
    and feedparser's is defined over bytes):

    - bytes in → unchanged (ET then honors the XML encoding
      declaration and any BOM, exactly like feedparser).
    - str in → strip a leading BOM char, then re-encode using the
      DECLARED charset when one is present (a str carrying
      ``encoding="iso-8859-1"`` would otherwise make ``ET.fromstring``
      raise ``ValueError`` — NOT ParseError — and crash the executor
      task instead of marking the row bozo).
    """
    import re as _re

    if isinstance(xml_text, bytes):
        return xml_text
    s = xml_text.lstrip("\ufeff")
    m = _re.match(r"\s*<\?xml[^>]*encoding=[\"']([A-Za-z0-9._-]+)[\"']", s)
    if m:
        try:
            return s.encode(m.group(1), errors="replace")
        except LookupError:  # unknown codec name → let the parser bozo it
            pass
    return s.encode("utf-8")


def _parse_one_feed(feed_url: str, xml_text) -> list[dict]:
    """Project one RSS document into entry rows (reference semantics,
    re-derived — see module docstring). Accepts str or bytes; see
    :func:`_to_xml_bytes` for the feedparser-tracking input handling.
    """
    try:
        root = ET.fromstring(_to_xml_bytes(xml_text))
    except (ET.ParseError, ValueError, LookupError) as exc:
        # ParseError: not-well-formed (feedparser bozo → ref drops too)
        # ValueError/LookupError: encoding-declaration edge cases that
        # must mark the row bozo, never fail the executor task
        return [
            {
                "feed_url": feed_url, "entry_pos": -1, "guid": None, "link": None,
                "title": None, "description": None, "published_at": None,
                "duration_sec": None, "enclosure_url": None, "enclosure_type": None,
                "parse_error": f"bozo: {exc}",
            }
        ]
    ns = {"itunes": "http://www.itunes.com/dtds/podcast-1.0.dtd"}
    rows: list[dict] = []
    for pos, item in enumerate(root.iter("item")):
        get = lambda tag: (item.findtext(tag) or "").strip() or None  # noqa: E731
        guid = get("id") or get("guid")
        pub = None
        raw_date = get("pubDate")
        if raw_date:
            try:
                pub = email.utils.parsedate_to_datetime(raw_date)
            except (TypeError, ValueError):
                pub = None
        dur_raw = item.findtext("itunes:duration", namespaces=ns)
        dur = _parse_duration(dur_raw)
        enc = item.find("enclosure")
        enc_url = enc.get("url") if enc is not None else None
        enc_type = enc.get("type") if enc is not None else None
        rows.append(
            {
                "feed_url": feed_url,
                "entry_pos": pos,
                "guid": guid,
                "link": get("link"),
                "title": get("title"),
                "description": get("description"),
                "published_at": pub,
                "duration_sec": dur,
                "enclosure_url": enc_url,
                "enclosure_type": enc_type,
                "parse_error": None,
            }
        )
    return rows


def _parse_duration(value: str | None) -> int | None:
    """HH:MM:SS / MM:SS / SS → seconds (reference server/ingest/feeds.py:27-54)."""
    if not value:
        return None
    value = value.strip()
    if value.isdigit():
        return int(value)
    parts = value.split(":")
    try:
        nums = [int(p) for p in parts]
    except ValueError:
        return None
    if len(nums) == 3:
        return nums[0] * 3600 + nums[1] * 60 + nums[2]
    if len(nums) == 2:
        return nums[0] * 60 + nums[1]
    if len(nums) == 1:
        return nums[0]
    return None


def spotify_id_col(link: "F.Column") -> "F.Column":
    """F6 — spotify id projection (reference server/ingest/feeds.py:145-150):
    for a link containing open.spotify.com, take the last path segment."""
    is_spotify = link.contains("open.spotify.com")
    last_seg = F.regexp_extract(link, r"/([^/?#]+)(?:[?#].*)?$", 1)
    return F.when(is_spotify, last_seg).otherwise(F.lit(None))


def parse_feed_entries(feeds: DataFrame, url_col: str = "url", xml_col: str = "xml") -> DataFrame:
    """(url, xml) → exploded entry rows. Vectorized per Arrow batch."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for url, xml_text in zip(pdf[url_col], pdf[xml_col]):
                if xml_text is None:
                    out.append(_parse_one_feed(url, "<broken")[0])
                else:
                    out.extend(_parse_one_feed(url, xml_text))
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {name: pd.Series(dtype="object") for name in
                 [f.split()[0] for f in ENTRY_SCHEMA.split(", ")]}
            )

    return feeds.mapInPandas(parse, schema=ENTRY_SCHEMA)


def fetch_and_parse_feeds(feed_batch: DataFrame, fixtures_root: str, url_col: str = "url") -> DataFrame:
    """Fetch (via the local transport) + parse in one vectorized stage.
    On a real cluster the fetch inside the UDF is an HTTP GET with the
    politeness schedule already applied upstream."""
    from podcast_plow_spark.sources.fixtures import transport_path

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for url in pdf[url_col]:
                path = transport_path(fixtures_root, url)
                if path is None:
                    out.append(_parse_one_feed(url, "<broken")[0] | {"parse_error": "fetch: not found"})
                    continue
                # bytes, not text: the XML encoding declaration / BOM
                # then governs decoding (feedparser-equivalent — a
                # latin-1 or UTF-16 feed parses instead of failing the
                # utf-8 text read before the parser ever sees it)
                with open(path, "rb") as fh:
                    out.extend(_parse_one_feed(url, fh.read()))
            yield pd.DataFrame(out) if out else pd.DataFrame()

    return feed_batch.mapInPandas(fetch, schema=ENTRY_SCHEMA)
