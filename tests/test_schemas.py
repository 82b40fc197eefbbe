"""Every checkpoint table the engine writes reads back, with the schema
inferred from its parquet footers, as exactly the field names and types
declared in `schemas` — the store reads with those declarations instead
of inferring, so a drift would otherwise surface as silent nulls."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from gsccca_tax_records_scraper_spark import schemas
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine


def _shape(dt: T.DataType):
    """Names and types, nullability dropped (parquet reads are nullable)."""
    if isinstance(dt, T.StructType):
        return [(f.name, _shape(f.dataType)) for f in dt.fields]
    if isinstance(dt, T.ArrayType):
        return ("array", _shape(dt.elementType))
    return dt.simpleString()


def _inferred(spark, store, table: str, epoch: int):
    return spark.read.parquet(store.table_path(table, epoch)).schema


@pytest.mark.parametrize("backend", ["store", "inline"])
def test_written_tables_match_declared_schemas(spark, tmp_path, backend):
    eng = CrawlEngine(spark, tmp_path / "wd", epoch_seconds=60.0, state_backend=backend)
    eng.bootstrap([1, 2])
    m = eng.step()
    assert m["granted"] > 0
    url = eng.records().first()["url"]
    rev = eng.revoke([url])
    st = eng.store
    written = {
        "frontier": m["epoch"],
        "host_state": m["epoch"],
        "seen_exact": m["epoch"],
        "records": m["epoch"],
        "documents": m["epoch"],
        "metrics": m["epoch"],
        "revoked": rev["epoch"],
    }
    for table, epoch in written.items():
        assert _shape(_inferred(spark, st, table, epoch)) == _shape(
            schemas.CHECKPOINT[table]
        ), table
    state = schemas.SEEN_STATE if backend == "store" else schemas.SEEN_STATE_INLINE
    for epoch in (0, m["epoch"], rev["epoch"]):
        assert _shape(_inferred(spark, st, "seen_state", epoch)) == _shape(state), epoch
    # the known-schema reads return the same columns the inference does
    assert _shape(st.read_snapshot(spark, "frontier", m["epoch"]).schema) == _shape(
        _inferred(spark, st, "frontier", m["epoch"])
    )
