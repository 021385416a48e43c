from .documents import (  # noqa: F401
    GEOCODE_LAT_SQL,
    GEOCODE_LON_SQL,
    URL_SQL,
    load_documents,
    region_fixtures,
)
