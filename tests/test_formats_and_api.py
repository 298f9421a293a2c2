import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.api.mcp import gis_layer_search, markdownify_all_strings
from govgis_nov2023_slim_spatial_server_spark.api.models import Point, SemanticSearchRequest
from govgis_nov2023_slim_spatial_server_spark.api.search import SearchService
from govgis_nov2023_slim_spatial_server_spark.fixtures.embedder import FakeEmbedder
from govgis_nov2023_slim_spatial_server_spark.fixtures.layers import make_layers_df
from govgis_nov2023_slim_spatial_server_spark.schemas import load_table
from govgis_nov2023_slim_spatial_server_spark.sources.formats import (
    read_csv,
    read_json,
    read_orc,
    write_csv,
    write_orc,
    write_json,
    write_bucketed_table,
    write_partitioned_parquet,
)


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    path = str(tmp_path / "docs_csv")
    write_csv(docs, path)
    back = read_csv(spark, path, schema="doc_id bigint, lang string, source string")
    assert back.count() == docs.count()
    assert back.schema == docs.schema
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_json_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    path = str(tmp_path / "docs_json")
    write_json(docs, path)
    back = read_json(spark, path, schema="doc_id bigint, text string, lang string")
    assert back.count() == docs.count()
    assert {r["doc_id"] for r in back.collect()} == {r["doc_id"] for r in docs.collect()}


def test_orc_roundtrip_nested_and_binary(spark, sf_dir, tmp_path):
    """ORC must round-trip the engine's hard columns: float arrays
    (embeddings) and predicate-pushdown-able scalars."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "emb_orc")
    write_orc(emb, path)
    back = read_orc(spark, path)
    assert back.schema == emb.schema
    assert back.count() == emb.count()
    # array payload intact, element-exact
    a = emb.select("vec_id", F.element_at("embedding", 1).alias("e1"))
    b = back.select("vec_id", F.element_at("embedding", 1).alias("e1"))
    assert a.exceptAll(b).count() == 0
    # filters push into the ORC scan
    plan = (
        back.where(F.col("label") == 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)]" in plan


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_part")
    write_partitioned_parquet(docs, path, ["lang"])
    back = spark.read.parquet(path)
    one = back.where(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the lang filter becomes a PartitionFilter, and the
    # scan only touches the en directory
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert one.count() == docs.where(F.col("lang") == "en").count()


def test_mcp_markdownify_tree():
    tree = {"a": "<b>x</b>", "b": [{"c": "<i>y</i>"}, "plain"], "d": 3}
    out = markdownify_all_strings(tree)
    assert out == {"a": "**x**", "b": [{"c": "*y*"}, "plain"], "d": 3}


def test_mcp_tool_search(spark):
    svc = SearchService(make_layers_df(spark, n=60), FakeEmbedder(dim=64, seed=42))
    resp = gis_layer_search(svc, SemanticSearchRequest(request_string="flood zone", limit=3))
    assert resp.error is None
    assert len(resp.layers) == 3
    assert all("<p>" not in (l.description or "") for l in resp.layers)


def test_non_native_epsg_point_error_shape():
    """The CRS seam (PARITY.md O21): without pyproj, an input_point in any
    CRS pair other than 4326<->3857 must fail request validation with the
    clean "unsupported CRS pair" error — not a crash deeper in the plan.
    With pyproj installed the same request follows the reference's
    reprojection path instead (skipped: nothing to assert about error
    shape there)."""
    try:
        import pyproj  # noqa: F401

        pytest.skip("pyproj installed: non-native EPSG reprojects fine")
    except ImportError:
        pass
    # EPSG:26915 (NAD83 / UTM zone 15N) — a state-plane-style CRS the
    # reference's pyproj path would accept
    with pytest.raises(Exception) as exc_info:
        SemanticSearchRequest(
            request_string="soil survey",
            input_point=Point(longitude=500000.0, latitude=4649776.0, epsg=26915),
        )
    assert "unsupported CRS pair 26915->4326" in str(exc_info.value)


def test_fastapi_gated(spark):
    from govgis_nov2023_slim_spatial_server_spark.api.app import create_app

    svc = SearchService(make_layers_df(spark, n=5), FakeEmbedder(dim=64, seed=42))
    try:
        import fastapi  # noqa: F401

        app = create_app(svc)
        assert app is not None
    except ImportError:
        with pytest.raises(ImportError):
            create_app(svc)


def test_jdbc_writer_config_reaches_jdbc_path(spark):
    """O5 parity sink (reference load_data.py COPY → df.write.jdbc). No
    live database: asserting that save() on the configured writer fails
    INSIDE Spark's JDBC connection path (driver resolution) proves the
    options plumb through."""
    import pytest

    from govgis_nov2023_slim_spatial_server_spark.sources.formats import (
        jdbc_writer,
        write_jdbc,
    )

    df = spark.range(3).withColumnRenamed("id", "k")
    w = jdbc_writer(df, "jdbc:postgresql://nohost:5432/db", "layers",
                    batchsize=500, num_partitions=2)
    with pytest.raises(Exception) as ei:
        w.save()
    msg = str(ei.value)
    assert ("driver" in msg.lower()) or ("jdbc" in msg.lower())
    with pytest.raises(Exception):
        write_jdbc(df, "jdbc:postgresql://nohost:5432/db", "layers")


def test_upsert_partitioned_parquet_keep_latest(spark, tmp_path):
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.sources.formats import (
        upsert_partitioned_parquet,
    )

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a", 10, "p0"), (2, "b", 10, "p0"), (3, "c", 10, "p1")],
        ["k", "v", "ver", "part"],
    )
    upsert_partitioned_parquet(spark, base, path, ["k"], "part", "ver")
    # update k=2 (newer), stale update k=3 (older loses), insert k=4;
    # partition p2 is new, p0 rewritten, p1 untouched by key 3's stale row
    upd = spark.createDataFrame(
        [(2, "b2", 20, "p0"), (3, "stale", 5, "p1"), (4, "d", 10, "p2")],
        ["k", "v", "ver", "part"],
    )
    upsert_partitioned_parquet(spark, upd, path, ["k"], "part", "ver")
    got = {
        r["k"]: (r["v"], r["ver"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {1: ("a", 10), 2: ("b2", 20), 3: ("c", 10), 4: ("d", 10)}
    # idempotent re-run: same update twice → same store (update wins tie)
    upsert_partitioned_parquet(spark, upd, path, ["k"], "part", "ver")
    again = {
        r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_bucketed_table_join_avoids_shuffle(spark, sf_dir):
    """Bucketing both join sides on the key removes the Exchange under the
    join — the co-located-join contract write_bucketed_table exists for."""
    import shutil

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a fresh in-memory catalog doesn't know about files a previous
        # session left in the warehouse — clear the location too
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed_table(o, "b_orders", ["o_custkey"], num_buckets=8)
    write_bucketed_table(
        c.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", ["o_custkey"], num_buckets=8
    )
    joined = (
        spark.table("b_orders")
        .join(spark.table("b_customer").hint("merge"), "o_custkey")
        .select("o_orderkey", "c_name")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # both sides pre-bucketed → no shuffle
    assert joined.count() > 0
