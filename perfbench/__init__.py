"""KG-construction benchmark: see perfbench/README.md."""
