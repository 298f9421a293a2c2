import gc

import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.api.models import Point, SemanticSearchRequest
from govgis_nov2023_slim_spatial_server_spark.api.search import SearchService
from govgis_nov2023_slim_spatial_server_spark.fixtures.embedder import FakeEmbedder
from govgis_nov2023_slim_spatial_server_spark.fixtures.layers import make_layer_rows, make_layers_df
from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
    lonlat_to_mercator,
    point_in_polygon_wkb,
)
from govgis_nov2023_slim_spatial_server_spark.functions.vector import cosine_distance
from govgis_nov2023_slim_spatial_server_spark.plans.builder import SearchRequest, build_search_plan
from govgis_nov2023_slim_spatial_server_spark.schemas import LAYERS_SCHEMA, TEXT_FIELDS
from govgis_nov2023_slim_spatial_server_spark.sources.ingest import load_layers, write_layers


@pytest.fixture(scope="module")
def layers(spark):
    return make_layers_df(spark, n=120, seed=42).cache()


@pytest.fixture(scope="module")
def embedder():
    return FakeEmbedder(dim=64, seed=42)


def test_flagship_plan_shape(spark, layers, embedder):
    req = SearchRequest(query_vec=embedder.embed_query("parcel"), limit=5)
    out = build_search_plan(layers, req)
    rows = out.collect()
    assert len(rows) == 5
    assert out.columns == [*TEXT_FIELDS, "dist"]
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_type_filter_case_insensitive(spark, layers, embedder):
    req = SearchRequest(
        query_vec=embedder.embed_query("x"), type_filter=["FEATURE LAYER"], limit=10
    )
    rows = build_search_plan(layers, req).collect()
    assert rows and all(r["type"].lower() == "feature layer" for r in rows)


def test_offset_pagination_consistent(spark, layers, embedder):
    qv = embedder.embed_query("pagination probe")
    first10 = build_search_plan(layers, SearchRequest(query_vec=qv, limit=10)).collect()
    page2 = build_search_plan(layers, SearchRequest(query_vec=qv, limit=5, skip=5)).collect()
    assert [r["id"] for r in page2] == [r["id"] for r in first10[5:]]


def test_limit_validation():
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], limit=11)
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], limit=0)
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], skip=-1)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """The layers fixture as a written store, read back as a request sees it."""
    path = str(tmp_path_factory.mktemp("layers") / "store")
    write_layers(make_layers_df(spark, n=120, seed=42), path)
    return load_layers(spark, path)


def _expected_ids(rows, qv, type_filter, point, skip, limit):
    """Brute force over the fixture rows: the same sequential double fold
    for the distance, the numpy ray cast for the point."""
    seen, scored = set(), []
    for r in rows:
        rid, typ, vec, geom, bbox = r[0], r[2], r[6], r[7], r[8]
        if rid in seen:
            continue
        seen.add(rid)
        if type_filter and (typ or "").lower() not in [t.lower() for t in type_filter]:
            continue
        if point is not None and not (
            bbox is not None
            and bbox[0] <= point[0] <= bbox[2]
            and bbox[1] <= point[1] <= bbox[3]
            and point_in_polygon_wkb(geom, *point)
        ):
            continue
        acc = 0.0
        for x, y in zip(vec, qv):
            acc += float(x) * float(y)
        scored.append((1.0 - acc, rid))
    return [rid for _, rid in sorted(scored)[skip : skip + limit]]


@pytest.mark.parametrize("skip", [0, 5])
@pytest.mark.parametrize("type_filter", [None, ["feature layer", "TABLE"]])
@pytest.mark.parametrize("with_point", [False, True])
def test_search_plan_jvm_only(spark, store, embedder, with_point, type_filter, skip):
    """A search request is one JVM-only stage: no Python evaluation, no
    Exchange, no Window — one TakeOrderedAndProject (with ``offset=`` when
    paging) over a filtered scan — and the bbox prune is still pushed into
    the Parquet scan. The answer equals a brute force."""
    rows = make_layer_rows(n=120, seed=42)
    hit = next(r for r in rows if r[8] is not None and (
        type_filter is None or r[2].lower() in ("feature layer", "table")))
    point = ((hit[8][0] + hit[8][2]) / 2, (hit[8][1] + hit[8][3]) / 2) if with_point else None
    qv = embedder.embed_query("soil survey")
    req = SearchRequest(query_vec=qv, type_filter=type_filter, point=point, skip=skip, limit=5)
    out = build_search_plan(store, req)
    width = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")  # full PushedFilters
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", width)
    for node in ("EvalPython", "Exchange", "Window"):
        assert node not in plan, plan
    assert plan.count("TakeOrderedAndProject") == 1
    assert ("offset=5" in plan) == (skip == 5), plan
    if with_point:
        pushed = plan[plan.index("PushedFilters: ["):]
        pushed = pushed[: pushed.index("]")]
        for f in ("LessThanOrEqual(bbox.xmin", "GreaterThanOrEqual(bbox.xmax",
                  "LessThanOrEqual(bbox.ymin", "GreaterThanOrEqual(bbox.ymax"):
            assert f in pushed, pushed
    want = _expected_ids(rows, qv, type_filter, point, skip, 5)
    assert [r["id"] for r in out.collect()] == want
    if with_point and not skip:
        assert hit[0] in want


def test_plan_build_calls_independent_of_dim(spark, store):
    """Building a request's plan makes the same number of Py4J calls at
    embedding width 64 and 1024: the query vector is one literal."""
    from py4j.clientserver import ClientServerConnection

    def calls(dim):
        qv = FakeEmbedder(dim=dim, seed=1).embed_query("roads")
        req = SearchRequest(query_vec=qv, type_filter=["Table"], point=(-100.0, 35.0), skip=5)
        n = 0
        original = ClientServerConnection.send_command

        def counted(self, command):
            nonlocal n
            n += not command.startswith("m\n")  # not a garbage-collector release
            return original(self, command)

        gc.collect()
        ClientServerConnection.send_command = counted
        try:
            build_search_plan(store, req)
        finally:
            ClientServerConnection.send_command = original
        return n

    calls(64)  # first build resolves JVM classes once
    at64, at1024 = calls(64), calls(1024)
    assert 0 < at64 == at1024 == calls(64)
    # one statement: a chain of DataFrame steps needed ~250-300 calls
    assert at64 <= 20, at64


HOSTILE_TYPES = ["x') OR (1=1", "a\\'b\" \\\\ \\n'", "{layers}"]


@pytest.mark.parametrize("hostile", HOSTILE_TYPES)
def test_type_filter_strings_are_bound_not_spliced(spark, embedder, hostile):
    """Type strings reach the statement as bound parameters: a string
    that would close a quote, escape, or name a format field in the SQL
    text filters exactly like a Python filter over the same rows."""
    rows, seen = [], set()
    for i, r in enumerate(make_layer_rows(n=60, seed=42)):
        if r[0] in seen:
            continue
        seen.add(r[0])
        rows.append((r[0], r[1], HOSTILE_TYPES[i % 3] if i % 2 else r[2], *r[3:]))
    df = spark.createDataFrame(rows, LAYERS_SCHEMA)
    qv = embedder.embed_query("hostile")
    for type_filter in ([hostile], [hostile.upper(), "table"], ["map service"]):
        req = SearchRequest(query_vec=qv, type_filter=type_filter, limit=10)
        got = [r["id"] for r in build_search_plan(df, req).collect()]
        assert got == _expected_ids(rows, qv, type_filter, None, 0, 10)
        assert got, type_filter


def test_include_dist_equals_cosine_distance(spark, store, embedder):
    """The statement's distance is the Column form's, bit for bit."""
    qv = embedder.embed_query("broadband utility")
    req = SearchRequest(query_vec=qv, type_filter=["Table", "Raster Layer"], limit=10)
    got = {r["id"]: r["dist"] for r in build_search_plan(store, req).collect()}
    want = {
        r["id"]: r["d"]
        for r in store.where(F.col("id").isin(list(got)))
        .select("id", cosine_distance("embeddings", qv, normalized=True).alias("d"))
        .collect()
    }
    assert len(got) == 10 and got == want


def test_mercator_point_equals_4326(spark, layers, embedder):
    svc = SearchService(layers, embedder)
    r1 = svc.search(
        SemanticSearchRequest(
            request_string="water", input_point=Point(longitude=-100.0, latitude=35.0)
        )
    )
    x, y = lonlat_to_mercator(-100.0, 35.0)
    r2 = svc.search(
        SemanticSearchRequest(
            request_string="water", input_point=Point(longitude=x, latitude=y, epsg=3857)
        )
    )
    assert r1.error is None and r2.error is None
    assert [l.id for l in r1.layers or []] == [l.id for l in r2.layers or []]


def test_spatial_filter_correct(spark, layers, embedder):
    row = layers.where("bbox is not null").select("id", "bbox").first()
    lon = (row["bbox"]["xmin"] + row["bbox"]["xmax"]) / 2
    lat = (row["bbox"]["ymin"] + row["bbox"]["ymax"]) / 2
    req = SearchRequest(query_vec=embedder.embed_query("x"), point=(lon, lat), limit=10)
    ids = [r["id"] for r in build_search_plan(layers, req).collect()]
    assert row["id"] in ids
    # every hit's bbox must actually contain the point
    hit_rows = layers.where(layers.id.isin(ids)).select("bbox").collect()
    for h in hit_rows:
        assert h["bbox"]["xmin"] <= lon <= h["bbox"]["xmax"]
        assert h["bbox"]["ymin"] <= lat <= h["bbox"]["ymax"]


def test_search_service_error_in_band(spark, embedder):
    """Execution errors surface in-band (reference backend/app.py:49-53)."""
    bad = make_layers_df(spark, n=5).drop("embeddings")
    svc = SearchService(bad, embedder)
    resp = svc.search(SemanticSearchRequest(request_string="x"))
    assert resp.error is not None and resp.layers is None


def test_search_service_markdownify(spark, layers, embedder):
    svc = SearchService(layers, embedder)
    resp = svc.search(SemanticSearchRequest(request_string="soil", limit=10), markdownify=True)
    assert resp.error is None
    assert all("<p>" not in (l.description or "") for l in resp.layers)
