"""Pins the driver registry's oracles and order.

Every oracle SQL text the registry keeps is pinned by its sha256 (``None``
for a rows-only entry), and ``REGISTRY``'s insertion order is pinned name
by name. Identical SQL text means an identical oracle, so a rewrite of
benchqueries.py that keeps this file green keeps every DuckDB oracle the
driver and ``bench/driver_sim.py`` compare against, and keeps the driver's
first-50 window in the same order.

``python -m tests.test_registry_sql_pin`` prints the digests of the current
tree, for review after a deliberate oracle change.
"""

from __future__ import annotations

import hashlib

from gdalcubes_cpp_spark.benchqueries import DEFS, REGISTRY

SQL_SHA256 = {
    "stjoin_rows":
        "3e969e7d9e19ba9116ad5363e22425c6c1e5fbee600ca7914e58214e5a1cdf01",
    "stjoin_s2":
        "3e969e7d9e19ba9116ad5363e22425c6c1e5fbee600ca7914e58214e5a1cdf01",
    "stjoin_hex":
        "3e969e7d9e19ba9116ad5363e22425c6c1e5fbee600ca7914e58214e5a1cdf01",
    "cube_mean":
        "42fdb7908271abab335393e6b00f8585bbb432cf0ad2c20bda86f4398ddd06a7",
    "cube_first":
        "0be67234b0ebefd9eb48959409b5319f11610a64b240643884140058338b36e3",
    "cube_median":
        "ca6b981d950dc1e9963d2a6746864b15a3c131ff5bccede5ef9f1102d9809e0f",
    "cube_count_images":
        "a7fb11230b943aa258f862326dc51f06190b1a8b01aa3d4a9e8617116d57dc6d",
    "reduce_space":
        "5ce388954932a5153220e0111ddfac64c14f241b4711e01227871f62d88b27e6",
    "aggregate_time":
        "285f00c98eb85eb83c80c1bdd14c8b477f7a28fbcbb9964085a7aa2fa7a65893",
    "aggregate_space":
        "dbf480b88317d545c1a2436ff5da2c7f10b83eebbe92cd4fbc91c5f6553be194",
    "window_time_mean":
        "94919d12d6a5e22d6b6eb503008de5b8d9b50c48be54fa22ecfedef28b35c035",
    "fill_time_linear":
        "3d3e3f9aa4abb6cf169996b4b8c523dc414947f872351023489cacd94e53caa3",
    "apply_filter_pixel":
        "bc6cb339147017884ce69ac9ce32133e97a1ace2f3dc9dba407c9ab55be1441d",
    "join_bands":
        "0cb2de287e18a688db38edd89e55ce1833362c13aef66b530972e6dc14e624b7",
    "slice_crop":
        "b1553825ee1d50841d924e819821e2cc1b743f2fecc39f397324dcb29baf41a5",
    "query_points":
        "e29e1364a1460d48dbb1bd9a124027b183dea3608cddbfdcf7f1b77905199870",
    "extract_geom":
        "e07ea2d9cf5d3c24e20f267fcf4942aed0a1f614111b42daca59e1b792c173ee",
    "extract_geom_wkt": None,
    "extract_geom_geojson": None,
    "extract_geom_shp": None,
    "zonal_statistics":
        "1815a4f642b25ae50439cd60ab752b9ab945c52b23141bb78763a06ffb4175b8",
    "cube_utm_mean":
        "d12ef51058d5080d245a034ea01888f5005e511a4716455d1551a97f4ce22c78",
    "cube_mask_file":
        "b70451af10814425a41fe53449fe3b90f8b8185ef19ca843278506d287ffb93d",
    "cube_polar_mean":
        "6f9d2de43bc9ba39bcda1024354bee0f8f15d025e300f30887ee48739885974d",
    "cube_sinu_mean":
        "09024d7abc9ae9b38421196ddf11051005792bdb6aed4330b8a862bd19988d9e",
    "cube_lcc_mean":
        "c035b21c06d4ec1a250a90b71a2703b466611cd1c7d73444d9de63b0d5e220c9",
    "cube_osgb_mean":
        "de2c3fa0061b1d7a85e0a244a945f0f3751a10676e55402ff2eacae3e71f25d3",
    "cube_swiss_mean":
        "d9c2b5e4bfe413c13d2d97a7fab2334c8a34eb7487daff4bf9cc6b5ee495f866",
    "cube_hom_mean":
        "01c4aeeef2844d8518aeb26f05bddb8752148cc9ac759a4caeebf4834d7c9397",
    "cube_cea_mean":
        "dea34c26b9f3847759a51946621f94a89e61aeb5e8c60102f5537e1f24e0f1dd",
    "cube_aeqd_mean":
        "fa23c6bb2d2740a44e5154f1e8291770e69ef2adbb0ae269eebb1ab88787035d",
    "cube_eqc_mean":
        "dca502e01e97e363c55b82a337e9a6585381e7e03e04f5dfaecc6cb8e546b3b4",
    "cube_laea_mean":
        "afa584a06c07958ea9cca968deaafdb011e55fc588f4a9a93c997dc3473e1479",
    "cube_aea_mean":
        "510080078fdae9165764c899f793c6f7f3739b40824de29e4d55cce9bb111e3f",
    "cube_average_decode": None,
    "cube_real_decode": None,
    "cube_last":
        "cc85f7be2d58b36460c277b1209069b3a9d19ba690b17c5ae36683eeaccac2f6",
    "cube_min_max":
        "a50960fbca7565fbcd790b093a5ae067a279ad7793eeaddaa7073b4078bb8a18",
    "cube_count_values":
        "48a9d0eda9377452ebcbe96fb2dca0320f5974cadfbda17c0afe8ebcac790e3f",
    "select_time_labeled":
        "8cd1cd375b632c7849299b04911be94597e10f9f8dca8102b5db57e1f8d666bc",
    "window_time_kernel":
        "0e717f40fc392bfeb5050ac571e6538ff0a83d095dfb7c022d4c2c8a5d4ec444",
    "fill_time_locf":
        "de21b175d28c1854cb1237887df997c5f6352df5598db698f8c5105276e8d950",
    "query_timeseries":
        "a4821ee187a27904080b06bf9f8537f2a6644f08d9034c1f390d3c23354ebebf",
    "filter_geom_rect":
        "880e07cd2c45363cbaa5aed7c659b2fc8753d835427b4bcf2fa54d27cc8c3bda",
    "fill_space_knn":
        "7b2d65e15461792bedd2587816cecf50b37d6c1b76badd271cd4b4938a7454f8",
    "zonal_topk":
        "0a6b11f4db6355d7a0d60d91ed00be6bd22fdefc32db3f516f8a4af5ada09be3",
    "zonal_suite":
        "8beba4b942f4cfc712565ea0c8f8db943b564d0646d4838b85b003437777eec9",
    "cube_mask_value":
        "37cfc5131f7e1f6d3e127d54c6251d2996c7d69a8bb3cdb3f8e387c953670e5c",
    "cube_mask_range":
        "3a42af3abea6f25017cd382b4f970381744cdb05f4d56d0d0c89a745bcad2f48",
    "packed_roundtrip":
        "bff53b41e1fef92219d92696f8ebfa62d161dc94d3bb4332974121734fdb8339",
    "cube_write_reread":
        "2c425ec8effde27ad331a1cc9a344164d92a938825511d0d09e0e091a793127f",
    "simple_cube_decode": None,
    "cube_jp2_decode": None,
    "cube_jpegbase_decode": None,
    "apply_time_udf_cumsum":
        "2c576cb3b28ec5d9edbfc667e6bd181e4dafb821d73cd973db540d91317b319e",
    "reduce_time_udf_range":
        "8b2c5d3c6348fb138a15ac5b14d3a03461eead0ec2710dcc9557e290893ebbfb",
    "apply_pixel_udf_poly":
        "8df6ba1b51ce8d363486e4415d697f51152285bc30649c649191526909d62ee3",
    "reduce_space_udf_spread":
        "2e12dd3e02f2ef287e12f24676c703a1db5fcce129bed7bc83c55d9a502f34f6",
    "format_ingest":
        "e736bb73708717cef89f95324ad30c91c3b44379c578ff1fb47bdadc2f142051",
    "hdf4_modis_pixels":
        "195dedd8ec5b7e56d8e806973ac628c1585913f69b8a85a1e38c5d8b9b61a4d2",
    "cube_mask_band_decode": None,
    "netcdf_roundtrip":
        "cdb409bad89293e0f68ae633a00da5609ed7baf625e8ada1a847ec1a927bc19b",
    "geotiff_roundtrip":
        "662da366b509e7428ff708404125e1a0e02d0902f27cda68abbb6cfd5c6820c3",
    "image_stats_phash": None,
    "stjoin_suite":
        "77492343108c660cabce77585055b85d896114d5dc308b6c4c0293752fb583ad",
    "cube_mean_median":
        "84955d12c14d955944adcef589b71344fbd13ec4ac99e18ca8c3f659011eff33",
    "cube_first_last":
        "eb8aa57ba7a9bfdac5de30cfaa8c960d33e76cc1c15daec4b36d8f16a20337af",
    "cube_counts":
        "db001ba047a6fd7c4414fabc9415a34323a326f554267fa3ea9b44ca4bbfde4f",
    "cube_mask_value_range":
        "1a1435e4e36e3c4512437d5d0d5fd53615a99c46d1f257fbad88bf1dc1a4b481",
    "aggregate_time_space":
        "be10a9ec4fc534445bd27128a0a7eb51bc07478688044dc198f5046ecf1675b6",
    "fill_time_suite":
        "a3e2bf8853095b6b7744198b983ce5165d37d8496f971994c315a5b4684f9dc2",
    "query_points_timeseries":
        "7e32b7facd069aedd215902779d0f31ca7f639be3b556c9b3456e2083d223b24",
    "s2_cells":
        "9f9db8a83a729cbfc3eb1a10d0bf5cc2cf65a6624d88dc4fc158f2bd603d80b9",
    "s2_knn":
        "de102909c38cdd70aa840c6eefb5cbc12d58d66979f123f2d08466fa5608ea51",
    "hex_cells_img":
        "f3ad3ed446fa09ef662367368e3bf3524a1c3d16efa5a2c3c050960664bfaf6b",
    "s2_suite":
        "22e57054a5dce7dc589671aed8808c7ad7a33ccb276fd22f81c35e88ee3b1fd4",
    "cube_srs_suite":
        "d7923a1654675afd318c8f43aa169c88761c15de9a9dacdc780e67c4c11a3f11",
    "cube_decode_suite": None,
    "window_time_suite":
        "469e0518de4b4cc5410925a6595dff0dc7c7a71ae8874271d6bbc76b9158ee37",
    "reduce_time_full":
        "2b813061cc4f5fbd141b3831e3e32fdda5ff7265de0713677e15f44a11272ac8",
}

REGISTRY_ORDER = [
    "stjoin_suite", "cube_mean_median", "cube_first_last", "cube_min_max",
    "cube_counts", "cube_mask_value_range", "cube_mask_file",
    "cube_srs_suite", "reduce_time_full", "reduce_space",
    "aggregate_time_space", "window_time_suite", "fill_time_suite",
    "apply_filter_pixel", "join_bands", "slice_crop", "select_time_labeled",
    "fill_space_knn", "apply_time_udf_cumsum", "reduce_time_udf_range",
    "apply_pixel_udf_poly", "reduce_space_udf_spread",
    "query_points_timeseries", "extract_geom", "zonal_suite",
    "filter_geom_rect", "format_ingest", "hdf4_modis_pixels",
    "netcdf_roundtrip", "geotiff_roundtrip", "packed_roundtrip",
    "cube_write_reread", "s2_suite", "cube_decode_suite", "image_stats_phash",
]


def _digest(sql: str | None) -> str | None:
    return None if sql is None else hashlib.sha256(sql.encode("utf-8")).hexdigest()


def test_oracle_sql_pinned():
    missing = sorted(n for n in SQL_SHA256 if n not in DEFS)
    assert not missing, f"pinned queries gone from DEFS: {missing}"
    changed = sorted(n for n, h in SQL_SHA256.items() if _digest(DEFS[n][1]) != h)
    assert not changed, f"oracle SQL text changed: {changed}"


def test_registry_order_pinned():
    assert list(REGISTRY) == REGISTRY_ORDER


def test_registry_serves_the_pinned_oracles():
    for name in REGISTRY_ORDER:
        assert REGISTRY[name] is DEFS[name], name


if __name__ == "__main__":
    for name, (_fn, sql) in DEFS.items():
        print(f"{name}: {_digest(sql)}")
