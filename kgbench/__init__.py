"""KG-construction benchmark: workloads, layer tracing and the run driver
(``python3 kgbench/run.py --help``)."""
