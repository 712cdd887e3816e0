from radohydro_spark.operators.spatial import (
    basin_bounds,
    buffered_clip_window,
    create_cell_grid,
    grid_fragments,
    spatial_intersect,
)
from radohydro_spark.operators.weights import apply_nan_policy, basin_weights
from radohydro_spark.operators.aggregate import (
    pivot_wide,
    resample,
    weighted_basin_timeseries,
)

__all__ = [
    "basin_bounds",
    "buffered_clip_window",
    "create_cell_grid",
    "grid_fragments",
    "spatial_intersect",
    "apply_nan_policy",
    "basin_weights",
    "pivot_wide",
    "resample",
    "weighted_basin_timeseries",
]
