from .lake import load_table, TESTDATA_TABLES  # noqa: F401
