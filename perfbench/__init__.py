"""End-to-end and per-layer benchmark of the ETL engine; see README.md."""
