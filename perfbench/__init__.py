"""Standalone benchmark for cassandra_analytics_spark; see README.md."""
