"""Pins the driver-visible registry surface.

`__spark_entry__.queries()` / `oracle_sql()` are the contract the driver
checks: it reads the names in order and compares the first 50 against
their DuckDB twins, so a renamed, reordered or re-worded entry changes
what gets checked. These tests fail on any such change.
"""

import hashlib

import __spark_entry__ as E

# (name, md5 of its oracle SQL or None for rows-only), in registry order
SURFACE = [
    ("geo_tile_assign", "94476bc4a65cfc8f11deafc56c02b269"),
    ("geo_xyz_tiles", "2c9e708eebefd7499d23f0935e11afe4"),
    ("raster_band_stats", "bf174f15385148554fe8c7c8cdc95e02"),
    ("raster_grid_algebra", "ddcc8b23ed61f5fbbbf016bbbb603ca3"),
    ("raster_grid_algebra_masks", "936a8057d0f8f61132e748abb6a4bf3c"),
    ("raster_mosaic", "68b98f3763a5cc2b4c714d8f5cce4f2d"),
    ("raster_reproject_nearest", "54860e5a945613dfadeefe4e5653efda"),
    ("raster_window_read", "b795e151e8159236fdce0ff6bf95f9cd"),
    ("text_dedup_exact", "80a98388a4292cb793989fbfbcd6a9d0"),
    ("text_ngram_jaccard", "ca836bd0874c5a0c2ff5a2caf443f08c"),
    ("ann_cosine_topk", "969cfc7ec92daa5a61f79ea5670db7ec"),
    ("events_sessionize", "659e69e9ef303dbdeb7e842c5f0d9e08"),
    ("events_topk", "30dc73992a7386a4d21afe4c989afadd"),
    ("tpch_q1", "b7bb72f94c35e272d61baffd5aec02fa"),
    ("join_orders_nation", "74a4d26d2f93045fc6cb776aed2b174f"),
    ("text_minhash_lsh", "dc7175ffba3d0c1151a69b98aee1ed79"),
    ("text_simhash_pairs", "0561e1d767256b9b8aa564daffc51be6"),
    ("ann_lsh_topk", "5d80d8f0b1c2a327126199ad8c14ab49"),
    ("embedding_near_dup", "475e1fc339d414d8ea333d80bcd56569"),
    ("media_features", "f1d3ca426b735b401706503db2d79388"),
    ("pages_pipeline", "59323d308879b7248c07d33f42dcf3d7"),
    ("reflectance", "d5029f2fb8973b82ae0f24f15fb42c77"),
    ("catalog_overlap", "a874e9c6e810ae0094ce91cd623b57aa"),
    ("raster_resample_methods", "7902cd981fd8832340d741d8de19bc68"),
    ("raster_rasterize", "94ea746c68b355c5a2be56da02608825"),
    ("raster_griddata_nearest", "5995da69b918bc3f2cf5e38b22411ac5"),
    ("raster_stack_reduce", "ff991d4da127f1e8c14669adf6dca16d"),
    ("pages_latest_capture", "0a15c728580c0c5ad58f3188f6b63d20"),
    ("raster_connected_components", "ab4c30bbc0250433df3a163c49c70e30"),
    ("raster_gaussian_blur", "2196fbb529fe0ca4223e458e52db37e6"),
    ("skew_salted_agg", "e9faebe031b5e3f06e27623b3ec49e15"),
    ("raster_polygonize", "33be4678aba703022b8b6371176ee80d"),
    ("geo_transform_crs", "492b4d7d5e4685e42d1dee3e5db89d7b"),
    ("raster_read_rpcs", "4b1ed5e3a7c50076a7084ea3719c6618"),
    ("raster_valid_footprint", "16de9c1d6d489f1363c9fbbda4d80205"),
    ("geo_knn_join", "90ca236db34b2b4ac4486e2393081684"),
    ("text_dedup_clusters", "d3c710f4f5a72abb0d8f2a17b8b57b63"),
    ("geo_transform_crs_families", "22c6c0f8bace172cc184fbf725501c1f"),
    ("text_stats", "fe2aa300e9010200f9d52e45bb29648a"),
    ("raster_downsample_pyramid", "5d665b6b09712eae828d1210715dd626"),
    ("geo_solarday_utm", "69e5349bd3ac47457ab0ecb7bacfb287"),
    ("skew_salted_join", "17e3d4e4708fbfaf6f24305b07985318"),
    ("raster_geotiff_roundtrip", "fa46d7fcf5b1624734f85b87f7b734d6"),
    ("geo_windows_algebra", "67d27a8a5ed00990cccea88e2b9dec01"),
    ("pages_url_warc", "fcb04c6db7c76e9be39acac1fe9b917f"),
    ("raster_reproject_cross_crs", "e4a2bd129cfe83c56142de8c5a3be499"),
    ("geo_knn", "e8e7effcbeed9a4110d22952469d233d"),
    ("geo_cell_stats", "cd8151fbd6ac2667f38e10a22e422c35"),
    ("geo_pip_rows", "e0754d237d4d80566ef582ff7056eecc"),
    ("raster_srf", "50fcf0e26412200fce6ddf7b960318e7"),
    ("catalog_set_cover", None),
    ("catalog_query_pipeline", None),
    ("raster_griddata_linear", None),
    ("raster_griddata_cubic", None),
    ("ann_ivf_topk", None),
    ("ann_pq_topk", None),
    ("ann_ivfpq_topk", None),
    ("raster_griddata_exact", "ae09e6798cee5a831459cd9f13af1f85"),
    ("ann_pq_adc_exact", "6ef78a9638423620222d7d4295afb3df"),
    ("embedding_semantic_dedup", "4b63bdb7ba99e2e766bca0a228b18c05"),
    ("text_embed_semantic_dedup", "ce69a4fa65d980146e17c0c9c0f01791"),
    ("text_cleaning", "3c73000e913e2daca25639b200d9d286"),
    ("corpus_stats", "48e427b5f4261a1657999076bd0b2961"),
]

# the driver compares only this many leading entries against DuckDB
DRIVER_PREFIX = 50


def test_query_names_and_order():
    assert list(E.queries()) == [name for name, _ in SURFACE]


def test_oracle_sql_fingerprints():
    got = {
        name: hashlib.md5(sql.encode()).hexdigest()
        for name, sql in E.oracle_sql().items()
    }
    want = {name: md5 for name, md5 in SURFACE if md5 is not None}
    assert len(want) == 56
    assert got == want


def test_driver_prefix_all_oracle_checked():
    sql = E.oracle_sql()
    prefix = list(E.queries())[:DRIVER_PREFIX]
    assert [n for n in prefix if n not in sql] == []
