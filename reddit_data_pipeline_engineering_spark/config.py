"""Engine constants mirroring the reference's configuration surface.

Reference: ``utils/constants.py:146-166`` (lookbacks, page sizes, the
required-parameter set) and ``lambda_functions/openaq_fetcher/handler.py:124``
(the 7-pollutant list). Fixing the pollutant set makes the pivot schema
static — required for Structured Streaming and removes the extra
distinct-values scan a dynamic ``pivot()`` performs (SURVEY.md §4).
"""

from __future__ import annotations

# The fixed pollutant/parameter domain (reference handler.py:124,
# constants.py:150). Long-format rows carry one of these in `parameter`;
# the marts wide table has one double column per entry.
POLLUTANTS: tuple[str, ...] = ("pm25", "pm10", "no2", "so2", "o3", "co", "bc")

# Active-sensor lookback (reference constants.py:149: 7 days).
ACTIVE_LOOKBACK_DAYS = 7

# API paging defaults (reference constants.py:153-154): the ``openaq``
# source's page size and per-sensor measurement limit when its options
# leave them unset.
LOCATIONS_PAGE_SIZE = 100
MEASUREMENTS_LIMIT = 1000

# Null-fill defaults applied post-enrichment
# (reference process_openaq_raw.py:195-198).
FILL_DEFAULTS = {
    "city_name": "Unknown",
    "country_code": "VN",
    "latitude": 0.0,
    "longitude": 0.0,
}

# Static location_id -> city overrides for null locality
# (reference extract_api.py:355-372, LOCATION_CITY_MAP). The engine applies
# this as a broadcast map-literal coalesce, not a Python-side dict lookup.
LOCATION_CITY_MAP = {
    3276359: "Ho Chi Minh City",
    2161296: "Hanoi",
    225719: "Hanoi",
    2161290: "Hanoi",
}

# Event-domain analog used with the driver's synthetic testdata
# (TESTDATA.md): `events` is the long-format fact stream
# (user_id ≅ location_id, event_type ≅ parameter, ts ≅ datetime,
# value ≅ value) and `customer`/`nation` form the location dimension.
EVENT_TYPES: tuple[str, ...] = ("click", "error", "purchase", "signup", "view")
