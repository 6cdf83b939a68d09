"""Driver-window invariants (r2 VERDICT #1): the round driver evaluates only
the FIRST 50 REGISTRY insertions, so every oracled query and every
judge-required rows-only query must sit inside that window, oracled first."""

from gdalcubes_cpp_spark.benchqueries import DEFS, REGISTRY, SUITE_MEMBERS

# every operator family that must have a driver row this round
REQUIRED_IN_WINDOW = [
    # r2 VERDICT #1 named entries
    "apply_time_udf_cumsum", "reduce_time_udf_range", "apply_pixel_udf_poly",
    "reduce_space_udf_spread", "format_ingest", "netcdf_roundtrip",
    "image_stats_phash",
    # folded suites covering the rest of SURVEY §2
    "stjoin_suite", "cube_mean_median", "cube_first_last", "cube_min_max",
    "cube_counts", "cube_mask_value_range", "cube_srs_suite",
    "reduce_time_full", "reduce_space", "aggregate_time_space",
    "window_time_suite", "fill_time_suite", "apply_filter_pixel",
    "join_bands", "slice_crop", "select_time_labeled", "fill_space_knn",
    "query_points_timeseries", "extract_geom", "zonal_suite",
    "filter_geom_rect", "packed_roundtrip", "cube_write_reread",
    # r4: the test_sampledata MODIS HDF4 end-to-end scenario
    "hdf4_modis_pixels",
    # r4: real S2 cell index + exact bucketed kNN (oracled suite)
    "s2_suite",
    "cube_decode_suite",
]


def test_window_size():
    assert len(REGISTRY) <= 50


def test_oracled_before_rows_only():
    names = list(REGISTRY)
    kinds = [bool(REGISTRY[n][1]) for n in names]
    # once the first rows-only entry appears, no oracled entry may follow
    seen_rows_only = False
    for has_sql in kinds:
        if not has_sql:
            seen_rows_only = True
        else:
            assert not seen_rows_only, "oracled entry registered after rows-only"


def test_required_entries_in_window():
    window = list(REGISTRY)[:50]
    missing = [n for n in REQUIRED_IN_WINDOW if n not in window]
    assert not missing, f"required driver entries outside the window: {missing}"


def test_every_def_reachable():
    """Every DEFS entry is in the window or, through the suites' own record
    of what they run (SUITE_MEMBERS), a member of a suite that is: no
    silently dropped operator."""
    unknown = sorted(f"{s}:{m}" for s, ms in SUITE_MEMBERS.items()
                     for m in (s, *ms) if m not in DEFS)
    assert not unknown, f"suite record names unknown defs: {unknown}"
    reachable = set(REGISTRY).union(*(SUITE_MEMBERS.get(s, ()) for s in REGISTRY))
    orphans = [n for n in DEFS if n not in reachable]
    assert not orphans, f"unregistered, unfolded defs: {orphans}"
