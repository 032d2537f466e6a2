"""The workload pipelines, written only against the engine's public
entry points.

``register`` reads the generated parquet inputs (lazy). ``outputs`` builds
one pass's output DataFrames; a pass materializes each of them with a
JVM-side digest, so the timed region holds the whole job and no driver
collection. The traced run passes the same pipeline a ``step`` that runs
each layer as its own labelled job over the previous layer's persisted
output, so a layer's span is its self time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from vtcomposite_spark.operators.cells import encode_cells, tile_pixels
from vtcomposite_spark.operators.composite import (composite_encode_tiles, composite_points,
                                                   encode_tiles)
from vtcomposite_spark.operators.joins import knn_join, pip_join
from vtcomposite_spark.operators.localize import localize
from vtcomposite_spark.sources.ingest import features_from_tiles_df
from vtcomposite_spark.sources.pages import extract_geotags, extract_text

from . import gen

TILE_COLS = ["z", "x", "y", "tile"]


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, XOR of per-row xxhash64): order-independent, computed
    in the JVM, and it forces every listed column to be produced."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# --------------------------------------------------------------- inputs

def register(spark, wl: str, paths: dict) -> dict:
    return {k: spark.read.parquet(v) for k, v in paths.items()}


# --------------------------------------------------------------- passes

def _page_points(geo: DataFrame) -> DataFrame:
    return geo.filter(F.col("lat").isNotNull()).select("url", "lat", "lon")


def _page_features(pts: DataFrame, names: DataFrame) -> DataFrame:
    """Geotagged pages as z8 point features, one MVT point each, carrying
    the page's place names as properties."""
    src = tile_pixels(encode_cells(pts.join(names, "url"), gen.PAGES_SRC_Z),
                      gen.PAGES_SRC_Z)
    return src.select(
        F.lit(0).alias("tile_idx"), F.lit(gen.PAGES_SRC_Z).alias("src_z"),
        F.col("tile_x").alias("src_x"), F.col("tile_y").alias("src_y"),
        F.lit("pages").alias("layer"), F.lit(2).alias("layer_version"),
        F.lit(gen.EXTENT).alias("extent"),
        F.pmod(F.xxhash64("url"), F.lit(1 << 30)).cast("int").alias("feature_idx"),
        F.lit(None).cast("long").alias("feature_id"),
        F.lit(1).cast("byte").alias("geom_type"),
        F.array(F.col("px")).alias("xs"), F.array(F.col("py")).alias("ys"),
        F.array(F.lit(0)).alias("part_offsets"),
        F.array(F.lit(0).cast("byte")).alias("ring_types"),
        "properties")


def _pip(pts, polys):
    return pip_join(pts, polys, zoom=gen.PAGES_PIP_ZOOM, point_cols=["url"])


def _knn(pts, sites):
    return knn_join(pts, sites, k=gen.PAGES_KNN_K, point_id_col="url",
                    zoom=gen.PAGES_KNN_ZOOM).select("url", "site_id", "knn_rank")


def _localize(df):
    return localize(df, languages=gen.LOC_LANGUAGES, worldviews=gen.LOC_WORLDVIEWS)


# output name -> columns its digest covers
OUTPUT_COLS = {
    "tiles_overzoom_poly": {"tiles": TILE_COLS},
    "pages_geo": {"geo": ["url", "lat", "lon", "cell"],
                  "text": ["url", "text", "extracted"],
                  "pip": ["url", "poly_id"],
                  "knn": ["url", "site_id", "knn_rank"],
                  "tiles": TILE_COLS},
}


def plain(layer: str, build) -> DataFrame:
    """The untraced ``step``: the layer's DataFrame, as built."""
    return build()


def _cached(df: DataFrame) -> DataFrame:
    return df if df.is_cached else df.persist(StorageLevel.MEMORY_AND_DISK)


def outputs(wl: str, inp: dict, step=plain) -> tuple[dict, list]:
    """One pass's output DataFrames, plus the frames it persisted (to
    unpersist when the pass ends). Every call into a layer goes through
    ``step(layer, build)``, which returns the DataFrame ``build()`` makes;
    the traced run passes a step that also materializes it in its own
    labelled job."""
    if wl == "tiles_overzoom_poly":
        feats = step("ingest.decode", lambda: features_from_tiles_df(inp["tiles"]))
        # composite and encode are one fused plan with one Python seam
        tiles = step("composite+encode",
                     lambda: composite_encode_tiles(feats, inp["targets"]))
        return {"tiles": tiles}, []
    pages = step("scan.pages", lambda: inp["pages"])
    tagged = step("pages.geotag", lambda: extract_geotags(pages, keep=["url"]))
    # the geotagged frame feeds four outputs, so it is cached
    geo = _cached(step("cells.encode", lambda: encode_cells(tagged, gen.PAGES_CELL_Z)))
    text = step("pages.extract_text", lambda: extract_text(pages, keep=["url", "text"]))
    pts = _page_points(geo)
    pip = step("joins.pip", lambda: _pip(pts, inp["polys"]))
    knn = step("joins.knn", lambda: _knn(pts, inp["sites"]))
    comp = step("composite", lambda: composite_points(
        _page_features(pts, inp["names"]), inp["targets"]))
    loc = step("localize", lambda: _localize(comp))
    tiles = step("encode", lambda: encode_tiles(loc))
    return {"geo": geo, "text": text, "pip": pip, "knn": knn, "tiles": tiles}, [geo]


def run_pass(wl: str, inp: dict) -> dict:
    """One untraced pass: build the outputs and digest each of them."""
    outs, cached = outputs(wl, inp)
    try:
        return {name: digest(df, OUTPUT_COLS[wl][name]) for name, df in outs.items()}
    finally:
        for df in cached:
            df.unpersist()
