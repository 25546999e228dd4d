from .geometry_fns import (  # noqa: F401
    GEOMETRY_TYPE,
    cell_id_sql,
    geojson_decode_udf,
    geojson_encode_udf,
    geom_bounds_udf,
    point_xy_sql,
    transform_geom_udf,
    point_xy_udf,
)
