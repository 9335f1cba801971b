"""Code-search benchmark: see perfbench/README.md."""
