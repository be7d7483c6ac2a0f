from .tables import TABLES, load_table, register_views

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
]
