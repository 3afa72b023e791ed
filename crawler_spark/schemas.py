"""All engine StructTypes in one place (SURVEY.md §1, FIXTURES.md).

The reference ships its schema as data (Field triples,
otodom/commons/entry.go:12-27); we declare real Spark StructTypes and
keep ``schema_name``/``schema_version`` as partition columns for
evolution (SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint — the image+caption payload table.
WEB_IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

SEEDS = T.StructType(
    [
        T.StructField("seed_id", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("domain", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("schema_version", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

# The synthetic "web": what a fetch of a URL returns (closed world).
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("last_page", T.IntegerType(), False),
        T.StructField("listing_ids", T.ArrayType(T.LongType()), False),
        T.StructField("listing_prices", T.ArrayType(T.StringType()), False),
        T.StructField("listing_links", T.ArrayType(T.StringType()), False),
        # selector-text analogues for the flat/office extraction variants
        T.StructField("listing_rooms", T.ArrayType(T.StringType()), False),
        T.StructField("listing_areas", T.ArrayType(T.StringType()), False),
        T.StructField("listing_totals", T.ArrayType(T.StringType()), False),
        T.StructField("fail_attempts", T.IntegerType(), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefix", T.StringType(), True),
        T.StructField("crawl_delay_ms", T.IntegerType(), False),
    ]
)

# The work queue (reference []Page, otodom/commons/page.go:4-7).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("round_added", T.IntegerType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("seed_id", T.IntegerType(), False),
        T.StructField("domain", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("schema_version", T.StringType(), False),
    ]
)

URL_SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("first_round", T.IntegerType(), False),
    ]
)

# Dispatch log: the crawl ordering evidence (north_rule).
DISPATCH_LOG = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

# Result rows: one per extracted listing (reference Entry, 7 string cols,
# otodom/flat_crawler/handler.go:17-25) + the image payload columns.
RESULTS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("schema_version", T.StringType(), False),
        T.StructField("domain", T.StringType(), False),
        T.StructField("page_url_hash", T.LongType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        # P1/P2 dual projection: price is the full price for the flat
        # variant and the per-m² price for the office variant (the same
        # extractor over different selectors in the reference —
        # flat_crawler/handler.go:99 vs office_crawler/handler.go:97);
        # rooms is flat-only, total_price is office-only (NULL otherwise).
        T.StructField("price_digits", T.StringType(), True),
        T.StructField("area_digits", T.StringType(), True),
        T.StructField("rooms_digits", T.StringType(), True),
        T.StructField("total_price_digits", T.StringType(), True),
        T.StructField("link", T.StringType(), True),
        # verify_rows gate (engine cfg.verify_policy, input_hint invariant)
        T.StructField("psnr_db", T.DoubleType(), True),
        T.StructField("phash_ok", T.BooleanType(), True),
    ]
)

# Schema-metadata table (reference Postgres `schemas` sink: one row per
# SchemaKey, first-writer-wins via ON CONFLICT DO NOTHING —
# database/handler.go:54-67, commons/Entry.go:37; in-run last-writer-wins
# map orchestrator/handler.go:114).  ``schema_json`` carries the Field
# {name, description, type} triples the reference ships as data
# (otodom/commons/entry.go:12-27).
SCHEMA_META = T.StructType(
    [
        T.StructField("schema_group", T.StringType(), False),  # = domain
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("schema_version", T.StringType(), False),
        T.StructField("schema_json", T.StringType(), False),
        T.StructField("created", T.TimestampType(), False),
    ]
)

# Field triples per extraction variant (flat_crawler/handler.go:57-70 /
# office_crawler/handler.go:56-69): the payload schema shipped as data.
SCHEMA_FIELDS = {
    "flat": [
        {"name": "title", "type": "text"},
        {"name": "name", "type": "text"},
        {"name": "region", "type": "text"},
        {"name": "rooms", "type": "number"},
        {"name": "price", "type": "number"},
        {"name": "area", "type": "number"},
        {"name": "link", "type": "URL"},
    ],
    "office": [
        {"name": "title", "type": "text"},
        {"name": "name", "type": "text"},
        {"name": "region", "type": "text"},
        {"name": "price", "type": "number"},  # per-m²
        {"name": "total_price", "type": "number"},
        {"name": "area", "type": "number"},
        {"name": "link", "type": "URL"},
    ],
}


# Metrics/lineage rows (reference Result, commons/result.go:6-11 + R3).
CRAWL_METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("status", T.BooleanType(), False),
        T.StructField("domain", T.StringType(), True),
        T.StructField("ingestion_time", T.TimestampType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("n_dispatched", T.LongType(), False),
        T.StructField("n_fetched", T.LongType(), False),
        T.StructField("n_failed", T.LongType(), False),
        T.StructField("n_dead", T.LongType(), False),
        T.StructField("n_results", T.LongType(), False),
        T.StructField("n_expanded", T.LongType(), False),
        T.StructField("n_deduped", T.LongType(), False),
        T.StructField("n_blocked_robots", T.LongType(), False),
        T.StructField("n_deferred_politeness", T.LongType(), False),
    ]
)
