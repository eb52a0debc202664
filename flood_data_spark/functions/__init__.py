from flood_data_spark.functions.keys import (
    round_keys,
    grid_index,
    with_grid_index,
    snap_to_grid,
)
from flood_data_spark.functions.temporal import normalize_forecast_times
from flood_data_spark.functions.geometry import (
    add_geometry,
    bbox_filter,
    point_in_polygon,
)

__all__ = [
    "round_keys", "grid_index", "with_grid_index", "snap_to_grid",
    "normalize_forecast_times",
    "add_geometry", "bbox_filter", "point_in_polygon",
]
