from .geometry_fns import (  # noqa: F401
    GEOMETRY_TYPE,
    cell_id_sql,
    decode_geojson,
    geojson_decode_udf,
    geojson_encode_udf,
    point_xy_sql,
    transform_geom_udf,
)
