"""Sources: schema-enforced parquet reader, REST ingestion, incremental
bronze reads, watermark store.

Covers S1, S2, S4, S5 and S9 from SURVEY.md §2.1.
"""

from .readers import load_table, read_parquet  # noqa: F401
