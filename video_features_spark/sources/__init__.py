from .tables import TABLES  # noqa: F401
