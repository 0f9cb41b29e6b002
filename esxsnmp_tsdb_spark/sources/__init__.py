from esxsnmp_tsdb_spark.sources.catalog import (
    OBS_COLUMNS,
    ROUTE_BUCKETED_CONF,
    TABLES,
    flat_obs,
    load_events_range,
    load_obs,
    load_range,
    load_table,
    obs_range,
    register_views,
)

__all__ = [
    "OBS_COLUMNS",
    "ROUTE_BUCKETED_CONF",
    "TABLES",
    "flat_obs",
    "load_events_range",
    "load_obs",
    "load_range",
    "load_table",
    "obs_range",
    "register_views",
]
