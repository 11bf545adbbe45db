"""Sources: schema-enforced readers, REST ingestion, watermark store.

Covers S1-S5 and S9-S10 from SURVEY.md §2.1.
"""

from .readers import (  # noqa: F401
    load_table,
    load_tables,
    read_csv,
    read_parquet,
    read_text_docs,
)
