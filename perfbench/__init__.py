"""Repository benchmark: three seeded workloads over the engine's serving,
ingest and pipeline paths, with an optional traced run that attributes
time and work to the engine's layers. Entry point: ``perfbench/run.py``."""
