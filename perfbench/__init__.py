"""Job-level benchmark for the redaction and extraction jobs (see README.md)."""
