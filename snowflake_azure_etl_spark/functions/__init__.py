from .scalar import (
    dec,
    dsum,
    safe_div,
    coalesce_unknown,
    date_key,
    store_name,
)
from .dates import date_attributes

__all__ = [
    "dec", "dsum", "safe_div", "coalesce_unknown",
    "date_key", "store_name", "date_attributes",
]
