from .parquet_arrow import (
    arrow_scan,
    arrow_scan_files,
    column_values,
    pack_files,
    pack_tasks,
    plan_scan_tasks,
    run_each,
    scan_meta,
    select_row_groups,
    supports,
)

__all__ = [
    "arrow_scan",
    "arrow_scan_files",
    "column_values",
    "pack_files",
    "pack_tasks",
    "plan_scan_tasks",
    "run_each",
    "scan_meta",
    "select_row_groups",
    "supports",
]
