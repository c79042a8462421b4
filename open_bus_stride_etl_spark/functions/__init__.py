from .geo import haversine_meters  # noqa: F401
from .timeutil import (  # noqa: F401
    ISRAEL_TZ,
    to_israel_local,
    israel_iso_string,
    parse_window,
)
from .hashing import md5_long, md5_long_sql, row_hash, row_hash_sql  # noqa: F401
