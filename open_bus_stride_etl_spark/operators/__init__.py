from .first_last import first_last_by, ride_durations  # noqa: F401
from .banded_join import banded_priority_join  # noqa: F401
from .argmin_join import nearest_by_distance  # noqa: F401
from .enrich import enrich_update  # noqa: F401
from .ledger import missing_dates  # noqa: F401
