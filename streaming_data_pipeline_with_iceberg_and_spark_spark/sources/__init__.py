"""Sources and sinks: NDJSON readers (batch + stream), the snapshot table
layer (versioned parquet tables with Iceberg-style commits) and bucketed
session-catalog writes."""
