"""The repository benchmark: four workloads over the program's public
layers, run by ``python3 perfbench/run.py`` (see README.md)."""
