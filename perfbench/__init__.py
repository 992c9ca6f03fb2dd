"""Layered benchmark for proteus_engine_spark (see README.md)."""
