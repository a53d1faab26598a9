"""Coordinate extraction + crawl dedupe over `pages` (SURVEY.md ops 14, 23).

extract_coords parses the SPEC-PINNED geo-token grammar (FIXTURES.md §2):

    geo:(-?\\d{1,2}\\.\\d{6}),(-?\\d{1,3}\\.\\d{6})

entirely with native Column functions (regexp_extract + try_cast — no UDF,
whole-stage codegen). `text` is carried through UNTOUCHED: the per-url
byte-identical-text invariant (BASELINE.json input_hint) means no transform
here may re-encode, trim, or rebuild the text column.

Spark 4 note: ANSI mode makes `.cast` throw on a failed regexp match, so all
casts here are `try_cast` (non-matching rows yield null lat/lon, preserved by
extract_coords and filtered only by consumers that need coordinates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiledspark.topk import top_k

GEO_RX = r"geo:(-?\d{1,2}\.\d{6}),(-?\d{1,3}\.\d{6})"


def extract_coords(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> doc_points: adds lat/lon doubles (null when no geo token).

    Reference semantics analogue: tiled-db assigns each OSM node its lat/lon
    from the PBF stream; here the document's coordinates are embedded in its
    extracted text (north_star: "geocodes/embeds each document's extracted
    coordinates").

    ONE regex pass per row: the matched token is parsed with cheap string
    ops (3 separate regexp evals measured ~3x the scan cost at 4M rows —
    java.util.regex dominates this stage's CPU).

    Tried and REVERTED (round 6 A/B): replacing the
    full-text regex scan with locate("geo:") + an anchored 32-char-window
    validation (full-regex fallback for decoy prefixes). Exact parity held
    (tests/test_tiles.py::test_extract_coords_decoy_parity pins the
    grammar on adversarial decoys either way) but the "fast" path measured
    0.90x — SLOWER — at 4M rows: java.util.regex compiles a leading
    literal like "geo:" into a Boyer–Moore prefix scan, so regexp_extract
    already skips non-matching text at indexOf speed and the extra
    locate/substring/branch work is pure overhead. Don't retry.
    """
    token = F.regexp_extract(F.col(text_col), GEO_RX, 0)
    parts = F.split(F.substring(token, 5, 64), ",")
    has = token != F.lit("")
    return pages.withColumn("_geo_parts", F.when(has, parts)).withColumn(
        "lat", F.element_at("_geo_parts", 1).try_cast("double")
    ).withColumn(
        "lon", F.element_at("_geo_parts", 2).try_cast("double")
    ).drop("_geo_parts")


def dedupe_latest_by_url(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (op 23). Deterministic when pages hold
    one row per (url, warc_ts), as the synth corpus does: warc_ts then
    orders each url's rows totally. Two crawls of one url at the same
    warc_ts would leave the kept row to partitioning."""
    return top_k(pages, 1, "url", [F.desc("warc_ts")])
