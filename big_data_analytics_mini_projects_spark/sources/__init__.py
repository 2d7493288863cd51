from .tables import TABLE_NAMES, load_table  # noqa: F401
from .readers import scan_csv, scan_mem, scan_coo, scan_text_json  # noqa: F401
