"""Product-path benchmark for ``run_extract_job`` (see perfbench/README.md)."""
