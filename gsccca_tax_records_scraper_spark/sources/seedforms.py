"""Seed-form schema + real-estate entity frontier (SURVEY S1, §2 scan family).

The reference seeds a crawl from a search FORM, not a bare id:
  lien search fills (party_type, instrument_type, county, include_counties,
  search_name, from_date, to_date, max_rows, table_type)
  (lien_index_scraper.py:331-354); the real-estate pipeline then iterates
  the result page's rdoEntityName radios one entity at a time and collects
  each entity's final.asp document links into a frontier frame with columns
  (url, status, search_name, entity_index, doc_index), de-duped per entity
  with an ordered dict (realestate_index_scraper.py:422-490).

Engine equivalents:
  FORM_SCHEMA / seed_id_of_form   the structured seed; seed_id is a
                                  deterministic 60-bit hash of the form
                                  fields so the whole pipeline stays
                                  wall-clock-free and resumable
  expand_forms                    forms -> one row per seed with the form
                                  fields carried alongside seed_id
  realestate_entity_frontier      forms -> the reference's RE frontier frame,
                                  generated distributively (mapInPandas over
                                  forms; entity pages fetched/parsed inside
                                  the Arrow batch, links extracted with the
                                  same vectorized href machinery as the lien
                                  path) with keep-first-per-entity dedup
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .. import sitegen
from ..functions import urltools
from ..session import local_frame

FORM_FIELDS = [
    "party_type",
    "instrument_type",
    "county",
    "include_counties",
    "search_name",
    "from_date",
    "to_date",
    "max_rows",
    "table_type",
]
FORM_SCHEMA = (
    "party_type string, instrument_type string, county string,"
    " include_counties boolean, search_name string, from_date string,"
    " to_date string, max_rows string, table_type string"
)
_FRONTIER_SCHEMA = (
    "url string, status string, search_name string, entity_index int, doc_index int"
)


def normalize_form(form: dict) -> dict:
    """Missing fields default like the reference's form_data.get(...) calls
    (max_rows '100', table_type '1', lien_index_scraper.py:352-354)."""
    out = {k: form.get(k, "") for k in FORM_FIELDS}
    out["max_rows"] = form.get("max_rows", "100") or "100"
    out["table_type"] = form.get("table_type", "1") or "1"
    out["include_counties"] = bool(form.get("include_counties", False))
    return out


def seed_id_of_form(form: dict) -> int:
    """Deterministic 60-bit seed id of the normalized form fields."""
    f = normalize_form(form)
    return sitegen.h64("seedform", *[f[k] for k in FORM_FIELDS])


def expand_forms(spark: SparkSession, forms: list[dict]) -> DataFrame:
    """One row per form: seed_id + the structured fields (S1)."""
    rows = []
    for form in forms:
        f = normalize_form(form)
        rows.append((seed_id_of_form(form), *[f[k] for k in FORM_FIELDS]))
    return local_frame(spark, rows, f"seed_id long, {FORM_SCHEMA}")


def realestate_entity_frontier(spark: SparkSession, forms: list[dict]) -> DataFrame:
    """The reference's RE frontier frame (url, status, search_name,
    entity_index, doc_index): per form, iterate the entity radios, extract
    each entity page's final.asp links in document order, de-dupe per entity
    keep-first (realestate_index_scraper.py:427,474-484). Runs as one
    mapInPandas over the (tiny) forms frame — each form's entity expansion
    is independent, so the stage parallelizes across forms with no shuffle."""
    forms_df = expand_forms(spark, forms).select("search_name").distinct()

    def expand(it):
        for pdf in it:
            out = []
            for name in pdf["search_name"]:
                for entity_idx in range(1, sitegen.n_re_entities(name) + 1):
                    html = sitegen.re_entity_html(name, entity_idx)
                    urls, seen = [], set()
                    for raw in urltools.extract_raw_hrefs(html):
                        u = urltools.canonicalize(sitegen.RE_BASE, raw)
                        if u not in seen:  # ordered-dict dedup (:476)
                            seen.add(u)
                            urls.append(u)
                    out.extend(
                        (u, "", name, entity_idx, j + 1) for j, u in enumerate(urls)
                    )
            yield pd.DataFrame(
                out, columns=["url", "status", "search_name", "entity_index", "doc_index"]
            )

    # at most one task per core: one wave of Python tasks
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, len(forms)))
    return forms_df.repartition(n_parts).mapInPandas(expand, _FRONTIER_SCHEMA)
