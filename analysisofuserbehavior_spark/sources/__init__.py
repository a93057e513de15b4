from .loaders import (
    CATALOG_PREFIX,
    TABLES,
    epoch_us,
    load_table,
    load_tables,
    local_frame,
    ntz_lit,
    register_views,
    save_tables_to_catalog,
)

__all__ = [
    "CATALOG_PREFIX",
    "TABLES",
    "epoch_us",
    "load_table",
    "load_tables",
    "local_frame",
    "ntz_lit",
    "register_views",
    "save_tables_to_catalog",
]
