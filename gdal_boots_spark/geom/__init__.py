"""Pure-NumPy geometry core (no Spark imports).

Everything Spark-facing wraps these batch kernels in pandas UDFs.
Reference semantics: gdal_boots/geometry.py and gdal_boots/gdal.py.
"""

from .packed import (  # noqa: F401
    GTYPE_NAMES,
    GTYPE_IDS,
    PackedGeometry,
    from_geojson,
    to_geojson,
    bounds as geom_bounds,
)
from .affine import (  # noqa: F401
    apply_transform,
    invert_transform,
    pixel_of,
    snap_bbox_to_grid,
    transform_from_bounds,
    bounds_from_transform,
)
from .crs import transform_coords  # noqa: F401
from .pip import points_in_polygon, points_in_packed  # noqa: F401
from .cells import (  # noqa: F401
    cell_id,
    cell_decode,
    cell_bounds,
    cover_bbox,
    CELL_RES_BITS,
)
