"""The ingest, query and maintain workloads."""
