"""The schema of every checkpoint table the crawl engine writes (SURVEY §1.2-1.3).

The reference's schemas are fixed-by-convention dict/Excel-header rows
(reference: scrapers/lien_index_scraper.py:162-176, dashboard/models.py:4-32);
here every table is declared up front, in the column order the engine
writes it. The checkpoint store reads with these schemas instead of
inferring one from the parquet footers (sources/checkpoint.py), and the
driver-built tables (host_state, metrics) are written from Arrow with them.
tests/test_schemas.py checks that each table the engine writes reads back
with exactly these field names and types.

Parquet reads make every field nullable, so only names and types are
checked on read; the nullability flags here document the invariants.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- interleaved text+media span sequence (BASELINE.json input_hint) -------
# kind in {"text", "media"}; text spans have media_ref="", media spans text="".
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# --- crawl order key: reproduces the reference's FIFO discovery order ------
# (seed_id, page, row/link ordinal) per SURVEY W1/O1
# (reference: scrapers/realestate_index_scraper.py:484,428 — doc_index/entity
#  ordinals; scrapers/lien_index_scraper.py:441-443,471 — page loop + concat order)
CRAWL_ORDER = T.StructType(
    [
        T.StructField("seed_id", T.LongType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("link_order", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("parent_url_id", T.LongType(), True),
        T.StructField("seed_id", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("discovered_epoch", T.IntegerType(), False),
    ]
)

# --- frontier (the URL work-list; reference keeps it as a CSV-persisted
#     pandas DataFrame with a per-row status column,
#     scrapers/lien_index_scraper.py:392,542-543) ---------------------------
FRONTIER = T.StructType(
    [
        T.StructField("url_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("crawl_order", CRAWL_ORDER, False),
        T.StructField("status", T.StringType(), False),  # "" | "done"
        T.StructField("lineage", LINEAGE, False),
    ]
)

# fetched + parsed detail page -> one record row (reference record dict,
# scrapers/lien_index_scraper.py:600-753)
RECORDS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("url_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("county", T.StringType(), True),
        T.StructField("instrument", T.StringType(), True),
        T.StructField("date_filed", T.StringType(), True),
        T.StructField("book", T.StringType(), True),
        T.StructField("page_no", T.StringType(), True),
        T.StructField("debtors", T.StringType(), True),
        T.StructField("claimants", T.StringType(), True),
        T.StructField("amount", T.StringType(), True),
        T.StructField("amount_value", T.DoubleType(), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("pdf_document_url", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("cancelled", T.BooleanType(), False),
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("crawl_order", CRAWL_ORDER, False),
    ]
)

# admitted urls per epoch (seen_exact) and revoked urls per epoch (revoked)
SEEN = T.StructType(
    [
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("url_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

# seen-set state: per host_bucket, a stack of immutable SEGMENT rows (LSM);
# each row is one sorted run. seg = the run's id within its bucket (newer =
# higher); the row supersedes segments in [lo, seg) (lo == seg for a pure
# append). A bucket's live seen set is the union of its un-superseded rows
# (operators/dedup.py). With the segment store (the default backend) a row
# names the content-addressed payload file holding the run's filters and
# packed keys (operators/segstore.py) ...
SEEN_STATE = T.StructType(
    [
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("lo", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("file", T.StringType(), False),
    ]
)
# ... and with the inline backend the payload rides in the row itself
SEEN_STATE_INLINE = T.StructType(
    [
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("lo", T.IntegerType(), False),
        T.StructField("bloom", T.BinaryType(), False),
        T.StructField("cuckoo", T.BinaryType(), False),
        T.StructField("ids", T.BinaryType(), False),
        T.StructField("hs", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

# per-host token bucket after the epoch (politeness.compute_budgets)
HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("tokens", T.DoubleType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

# engine-wide counts (host_bucket -1) and admitted-per-bucket, per epoch
METRICS = T.StructType(
    [
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.LongType(), False),
    ]
)

# every checkpoint table with one layout; seen_state's layout depends on
# the engine's state backend, so its readers pass the schema themselves
CHECKPOINT = {
    "frontier": FRONTIER,
    "host_state": HOST_STATE,
    "seen_exact": SEEN,
    "records": RECORDS,
    "documents": DOCUMENTS,
    "metrics": METRICS,
    "revoked": SEEN,
}
