"""Layered benchmark harness for the engine (see perfbench/README.md)."""
