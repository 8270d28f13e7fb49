from .io import (  # noqa: F401
    TABLES,
    load_all,
    load_csv,
    load_stacked,
    load_struct,
    load_table,
    register_tables,
    save_dataset,
    save_struct,
    sds_info,
    with_rowid,
)
