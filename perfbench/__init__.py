"""End-to-end benchmark of the kinesis2sse_spark serving path (see README.md)."""
