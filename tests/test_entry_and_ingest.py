import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from govgis_nov2023_slim_spatial_server_spark.fixtures.layers import (
    make_layer_rows,
    make_layers_df,
)
from govgis_nov2023_slim_spatial_server_spark.plans.builder import SearchRequest, build_search_plan
from govgis_nov2023_slim_spatial_server_spark.schemas import DRIVER_TABLES, load_table
from govgis_nov2023_slim_spatial_server_spark.sources.ingest import (
    derive_geometry,
    ingest_layers,
    load_layers,
    write_layers,
)


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_all_driver_tables_load(spark, sf_dir):
    for name in DRIVER_TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0
    # events ts must arrive as a usable timestamp
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")


def test_ingest_roundtrip(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "layers")
    raw = make_layers_df(spark, n=50, seed=7).drop("bbox").withColumnRenamed("geom_wkb", "geometry")
    raw.write.parquet(src)
    ingested = ingest_layers(spark, src)
    # dedup must collapse the injected duplicate (id, metadata_text) pairs
    assert ingested.count() == ingested.select("id", "metadata_text").distinct().count()
    assert "bbox" in ingested.columns and "geom_rings" in ingested.columns
    write_layers(ingested, dst)
    back = load_layers(spark, dst)
    assert back.count() == ingested.count()
    nn = back.where(F.col("geom_wkb").isNotNull()).select("bbox.xmin", "geom_rings").first()
    assert nn["xmin"] is not None and nn["geom_rings"]
    # the derived rings equal the fixture's, which come from the same helper
    want = {r[0]: r[9] for r in make_layer_rows(n=50, seed=7)}
    for r in back.select("id", "geom_rings").collect():
        got = [g.asDict(recursive=True) for g in r["geom_rings"]] if r["geom_rings"] else None
        assert got == want[r["id"]]


def test_derive_geometry_idempotent(spark, tmp_path):
    df = make_layers_df(spark, n=10)
    assert derive_geometry(df) is df  # bbox and geom_rings present → no-op
    # each column is derived when missing, the other left as it is
    for drop in (["bbox"], ["geom_rings"], ["bbox", "geom_rings"]):
        out = derive_geometry(df.drop(*drop))
        assert out.columns == [c for c in df.columns if c not in drop] + drop
        assert sorted(out.select(*drop).collect()) == sorted(df.select(*drop).collect())
    # a store written before geom_rings existed still answers a point query
    old = str(tmp_path / "old_store")
    df.drop("geom_rings").write.parquet(old)
    back = load_layers(spark, old)
    assert derive_geometry(back) is back
    row = df.where("bbox is not null").first()
    lon = (row["bbox"]["xmin"] + row["bbox"]["xmax"]) / 2
    lat = (row["bbox"]["ymin"] + row["bbox"]["ymax"]) / 2
    req = SearchRequest(query_vec=list(row["embeddings"]), point=(lon, lat), limit=10)
    assert row["id"] in [r["id"] for r in build_search_plan(back, req).collect()]


def test_register_temp_views_file_uri_and_partial_db(spark, sf_dir, tmp_path):
    """register_temp_views must work for a file:-URI sf_dir (the
    os.path.exists shortcut is local-path-only — r6 ADVICE: an hdfs://
    or s3:// dir would otherwise silently register nothing) and must
    drop stale views for tables absent from a partial directory."""
    from govgis_nov2023_slim_spatial_server_spark.schemas import register_temp_views

    # full registration through a file: URI
    register_temp_views(spark, "file://" + sf_dir)
    assert spark.table("orders").count() > 0
    assert spark.table("documents").count() > 0

    # partial local dir: present table re-registered, absent ones dropped
    import shutil

    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    register_temp_views(spark, str(tmp_path))
    assert spark.table("orders").count() > 0
    assert not spark.catalog.tableExists("documents")

    # partial dir through a file: URI: absent tables must ALSO end up
    # dropped (via the AnalysisException path, not the exists probe)
    register_temp_views(spark, "file://" + sf_dir)  # re-register all
    register_temp_views(spark, "file://" + str(tmp_path))
    assert spark.table("orders").count() > 0
    assert not spark.catalog.tableExists("documents")
