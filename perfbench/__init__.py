"""Survey-scale benchmark for geograypher_spark (see perfbench/README.md)."""
