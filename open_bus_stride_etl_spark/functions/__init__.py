from .geo import haversine_meters  # noqa: F401
from .timeutil import (  # noqa: F401
    ISRAEL_TZ,
    to_israel_local,
    israel_iso_string,
    parse_window,
)
from .hashing import row_md5, hex_to_long  # noqa: F401
