"""Image-collection and cell-index operators — lazy exports, so `from
gdalcubes_cpp_spark.functions import s2_knn_join` imports only the submodule
that defines the name."""

_EXPORTS = {
    # image collections
    "image_stats": ".image", "thumbnails": ".image",
    "create_overviews": ".image", "push_down_overviews": ".image",
    "translate_collection": ".image", "write_png_collection": ".image",
    "exif_metadata": ".image", "normalize_orientation": ".image",
    # spatial cell indexes
    "s2_cell_id": ".s2", "s2_parent": ".s2", "s2_knn_join": ".s2",
    "range_partition_by_cell": ".s2",
    "hex_cells": ".hexgrid", "hex_kring_join": ".hexgrid",
    "polyfill": ".hexgrid", "compact": ".hexgrid", "uncompact": ".hexgrid",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(name)
    import importlib

    return getattr(importlib.import_module(mod, __name__), name)
