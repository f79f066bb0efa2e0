"""Streaming benchmark of pg2kinesis_spark; entry point: run.py."""
